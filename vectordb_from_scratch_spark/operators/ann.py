"""Approximate nearest neighbor — the Spark-native replacement for the
reference's HNSW graph (SURVEY.md §2.3).

HNSW's insert/beam-search (reference src/hnsw/graph.rs:143-414) is
inherently sequential pointer-chasing; the distributed equivalent is a
BATCH-BUILT bucketed index + bucket-probe re-rank:

  1. deterministic signed-random-projection (SRP) LSH: L hash tables,
     each `nbits` sign-bits of projections onto ±1 vectors derived from
     md5 (seeded, engine-portable → DuckDB oracle can reproduce bucket
     assignment EXACTLY, something MLlib's RNG cannot);
  2. candidates = rows sharing any table's bucket with the probe
     (equi-join on the bucket key — hash-partition prunable, the
     distributed analog of HNSW's beam candidate set);
  3. exact re-rank of candidates only, per-query top-k.

Recall is tuned by (nbits, L) — the ef/numHashTables analog
(reference ef_search src/hnsw/graph.rs:41, H9). The recall harness in
tests/ mirrors the reference's FlatIndex-as-oracle thresholds
(tests/recall_test.rs:67-80: ≥0.90/0.90/0.85).

An MLlib BucketedRandomProjectionLSH path is also provided
(BASELINE.json: "MLlib for batch index build") for Euclidean
approx-similarity joins; its random planes make it rows-only for the
oracle, but the pytest recall harness covers it.

Scale: index build is one narrow pass (fit/transform); search shuffles
only (bucket_key) — candidates stay co-partitioned; no cross join exists
anywhere in the plan.
"""

from __future__ import annotations

import hashlib

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from ..functions import vectormath as vm
from .knn import knn as exact_knn  # noqa: F401  (exact fallback / oracle)

__all__ = [
    "srp_planes",
    "srp_bucket_cols",
    "srp_index",
    "ann_knn_srp",
    "ann_knn_srp_indexed",
    "ann_filtered_overfetch",
    "build_mllib_lsh",
    "ann_join_mllib",
    "build_ivf",
    "build_ivf_det",
    "ivf_det_index",
    "assign_ivf_det",
    "assign_ivf_kernel",
    "spread_vectors",
    "md5_seeds",
    "nearest_centroid",
    "fold_tree_mean",
    "lloyd_round",
    "det_lloyd",
    "ann_knn_ivf",
    "ivf_sq8_index",
    "ann_knn_ivf_sq8",
]


def _hamming_masks(nbits: int, radius: int) -> list[int]:
    """All XOR masks of Hamming weight ≤ radius over nbits bits, in
    (weight, value) order — mask 0 (the exact bucket) first."""
    from itertools import combinations

    masks = [0]
    for r in range(1, radius + 1):
        for bits in combinations(range(nbits), r):
            masks.append(sum(1 << b for b in bits))
    return masks


def srp_planes(dim: int, nbits: int, table: int, seed: int = 42) -> list[list[float]]:
    """Deterministic ±1 projection planes. Component j of plane t is the
    sign bit of md5(f"{seed}:{table}:{t}:{j}") — reproducible in any
    engine and in plain Python (no RNG state, no Spark dependency)."""
    planes = []
    for t in range(nbits):
        row = []
        for j in range(dim):
            h = hashlib.md5(f"{seed}:{table}:{t}:{j}".encode()).hexdigest()
            row.append(1.0 if int(h[0], 16) % 2 == 0 else -1.0)
        planes.append(row)
    return planes


def _srp_bucket(vec: Column | str, planes: list[list[float]]) -> Column:
    """Bucket key: integer whose bit t = sign(dot(vec, plane_t)) > 0.
    Built-in fold per plane — codegen'd, no UDF."""
    v = vm.as_double(vec)
    bucket = F.lit(0).cast("long")
    for t, plane in enumerate(planes):
        lit_plane = F.array(*[F.lit(x) for x in plane])
        dot = F.aggregate(
            F.zip_with(v, lit_plane, lambda x, y: x * y), F.lit(0.0), lambda a, x: a + x
        )
        bucket = bucket + F.when(dot > 0, F.lit(1 << t).cast("long")).otherwise(F.lit(0).cast("long"))
    return bucket


def srp_bucket_cols(vec: Column | str, dim: int, nbits: int = 8, n_tables: int = 2,
                    seed: int = 42) -> list[Column]:
    """One bucket-key Column per hash table."""
    return [
        _srp_bucket(vec, srp_planes(dim, nbits, table=l, seed=seed)).alias(f"bucket_{l}")
        for l in range(n_tables)
    ]


def ann_knn_srp(
    vectors: DataFrame,
    queries: DataFrame,
    k: int = 10,
    metric: str = "euclidean",
    *,
    dim: int,
    nbits: int = 8,
    n_tables: int = 2,
    seed: int = 42,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    query_id_col: str = "query_id",
    query_vec_col: str = "query_embedding",
    multiprobe: bool | int = False,
    predicate: Column | None = None,
) -> DataFrame:
    """SRP-LSH approximate k-NN: per-table bucket joins → distinct
    candidates → exact re-rank → per-query top-k.

    ``predicate`` composes a metadata filter (filters.compile_filter or
    any boolean Column over `vectors`' columns) with the index probe —
    the reference's search_with_filter over any Index
    (src/storage.rs:249-290 via src/index.rs:20). Because SRP bucket
    assignment is per-row, pre-filtering the vector side is value-
    identical to filtering candidates post-probe, and strictly better
    as a plan: the predicate pushes into the parquet scan and top-k
    fills from qualifying rows only (no reference-style starvation —
    use ann_filtered_overfetch for bug-for-bug parity).

    May return fewer than k rows for probes in sparse buckets — the same
    recall/latency trade the reference makes with ef (H9); raise nbits↓ /
    n_tables↑ for recall, or set `multiprobe` to ALSO probe every bucket
    within a Hamming radius of the query's bucket (the classic
    multiprobe-LSH move): True or 1 = flip each sign bit once
    (×(nbits+1) candidate volume per table), 2 = also every bit pair
    (+C(nbits,2)), with zero extra index cost — the closest analog of
    HNSW's ef beam widening (reference src/hnsw/graph.rs:417-424). Only
    the probe side fans out; the vector table and its index are
    untouched.
    """
    from pyspark.sql import Window

    from ..sources.tables import spread
    from .vecblock import choose_strategy

    # Single-scan explode form: each row emits one (table_idx, bucket_key)
    # per hash table and the probe join keys on BOTH — so the vector table
    # is scanned (and its buckets computed) exactly once regardless of
    # n_tables, instead of once per table as a union of joins would.
    all_planes = [srp_planes(dim, nbits, table=l, seed=seed) for l in range(n_tables)]

    def kernel_buckets(df, id_name, vcol, out_vec):
        """vecblock bucket assignment: one BLAS matmul against the stacked
        plane matrix replaces n_tables×nbits interpreted dot-folds per row
        (measured 75s → ~8s at 1M rows). Sign flips vs the fold are
        possible only when a projection is within float error of exactly
        0 — which is why the oracle-checked scale keeps the expression
        path. A NULL or ragged row is decoded as zeros, so every sign test
        fails and it lands in bucket 0 — as the fold's NULL dot does."""
        import numpy as np
        import pyarrow as pa

        from .vecblock import map_blocks

        P = np.array([p for planes in all_planes for p in planes], dtype=np.float64)
        weights = 1 << np.arange(nbits, dtype=np.int64)

        def buckets(blocks):
            for batch, V, _ in blocks:
                n = batch.num_rows
                signs = ((V @ P.T) > 0).reshape(n, n_tables, nbits)
                rows = np.tile(np.arange(n), n_tables)  # table-major
                yield pa.RecordBatch.from_arrays(
                    [batch.column(id_name).take(rows), batch.column(vcol).take(rows),
                     pa.array(np.repeat(np.arange(n_tables, dtype=np.int64), n)),
                     pa.array((signs * weights).sum(axis=2).T.ravel())],
                    names=[id_name, out_vec, "tbl", "bucket"],
                )

        id_t = df.schema[id_name].dataType.simpleString()
        return map_blocks(df, vcol, dim, buckets,
                          f"{id_name} {id_t}, {out_vec} array<double>, tbl long, bucket long")

    def tagged_buckets(df, vcol, out_vec):
        buckets = srp_bucket_cols(vcol, dim, nbits, n_tables, seed)
        tags = F.array(
            *[
                F.struct(F.lit(l).alias("tbl"), b.alias("bucket"))
                for l, b in enumerate(buckets)
            ]
        )
        return df.select(
            *df.columns, vm.as_double(vcol).alias(out_vec), F.explode(tags).alias("__t")
        ).select(*df.columns, out_vec, F.col("__t.tbl").alias("tbl"), F.col("__t.bucket").alias("bucket"))

    if predicate is not None:
        vectors = vectors.filter(predicate)
    v_in = spread(vectors).select(F.col(id_col).alias("id"), vm.as_double(vec_col).alias("__v"))
    q_in = queries.select(
        F.col(query_id_col).alias("query_id"), vm.as_double(query_vec_col).alias("__q")
    )
    # metadata-only estimate (no job) — see vecblock.estimated_rows
    if choose_strategy("auto", vectors, "kernel", "expr", srp=True) == "kernel":
        # probe side uses the SAME kernel so sign decisions can't disagree
        # between the two join sides; id dtypes derived from the inputs
        # (the store facade uses string ids — hardcoding long broke it)
        v = kernel_buckets(v_in, "id", "__v", "__vvec")
        q = kernel_buckets(q_in, "query_id", "__q", "__qvec")
    else:
        v = tagged_buckets(v_in, "__v", "__vvec").select("id", "__vvec", "tbl", "bucket")
        q = tagged_buckets(q_in, "__q", "__qvec").select("query_id", "__qvec", "tbl", "bucket")
    radius = int(multiprobe) if not isinstance(multiprobe, bool) else (1 if multiprobe else 0)
    if radius:
        # fan the PROBE side out to every bucket within Hamming radius
        # `radius` of the query's bucket (flip ≤radius sign bits) — the
        # classic multiprobe-LSH beam widening. Probe fanout is
        # sum(C(nbits, r) for r ≤ radius); the vector side is untouched.
        variants = F.array(
            *[
                F.col("bucket").bitwiseXOR(F.lit(m).cast("long"))
                for m in _hamming_masks(nbits, radius)
            ]
        )
        q = q.select(
            "query_id", "__qvec", "tbl", F.explode(variants).alias("bucket")
        )

    # Distance is computed BEFORE the dedup so the only thing that crosses
    # the dedup shuffle is (query_id, id, distance) — never the embedding
    # arrays. Duplicate candidates from different tables carry identical
    # distances, so dedup-after-distance is value-equivalent.
    dist = vm.distance(metric, "__qvec", "__vvec")
    cands = v.join(F.broadcast(q), on=["tbl", "bucket"]).select(
        "query_id", "id", dist.alias("distance")
    )
    narrow = cands.dropDuplicates(["query_id", "id"])
    w = Window.partitionBy("query_id").orderBy(
        # nulls LAST: zero-vector cosine distance is NULL and must not
        # outrank real neighbors (Spark default is nulls-first on asc)
        F.col("distance").asc_nulls_last(), F.col("id").asc()
    )
    return (
        narrow.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select("query_id", "id", "distance", "rank")
    )


def srp_index(
    vectors: DataFrame,
    *,
    dim: int,
    nbits: int = 8,
    n_tables: int = 2,
    seed: int = 42,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """The SRP index as a materializable TABLE: one (id, vec, tbl, bucket)
    row per vector per hash table. Write it partitioned/bucketed by
    (tbl, bucket) and probes prune to their buckets — the persisted form
    of the index ann_knn_srp builds inline, and the state that
    streaming/ann_stream.py maintains incrementally (the distributed
    analog of the reference's HnswIndex::add, src/hnsw/graph.rs:245-342).

    Expression-path bucket assignment (exact, oracle-reproducible);
    cost is one narrow pass over `vectors`."""
    tags = F.array(
        *[
            F.struct(F.lit(l).alias("tbl"), b.alias("bucket"))
            for l, b in enumerate(srp_bucket_cols(vec_col, dim, nbits, n_tables, seed))
        ]
    )
    return vectors.select(
        F.col(id_col).alias("id"),
        vm.as_double(vec_col).alias("vec"),
        F.explode(tags).alias("__t"),
    ).select("id", "vec", F.col("__t.tbl").alias("tbl"), F.col("__t.bucket").alias("bucket"))


def _qualifying_ids(
    predicate: Column | None, attrs: DataFrame | None, attrs_id_col: str
) -> DataFrame | None:
    """The ids a filtered search may return: ``attrs`` rows passing
    ``predicate``, as one ``id`` column; None for an unfiltered search.
    Every pre-filtered search (SRP, IVF-SQ8, the three PQ searches)
    semi-joins its candidates against this frame. Passing only one of
    ``predicate`` / ``attrs`` raises rather than searching unfiltered."""
    if (predicate is None) != (attrs is None):
        raise ValueError("filtered search needs BOTH predicate and attrs")
    if predicate is None:
        return None
    return attrs.filter(predicate).select(F.col(attrs_id_col).alias("id"))


def _shortlist_finish(
    cands: DataFrame, k: int, rerank: int = 0, raw: DataFrame | None = None,
    q: DataFrame | None = None,
) -> DataFrame:
    """The quantized searches' one tail over (query_id, id, adist)
    candidates → (query_id, id, distance, rank). Without ``rerank`` (or
    ``raw``): each query's top k by (adist asc, id asc), adist as the
    distance. With both: the rerank-deep shortlist broadcasts into one
    join against ``raw`` (id, vec) and exact euclidean distance ranks the
    final k. The query vector for the re-rank is the ``__qvec`` the
    candidates carry, or — for a kernel's narrow output — the probes
    ``q`` (query_id, __qvec) joined back by query_id."""
    from pyspark.sql import Window

    w = Window.partitionBy("query_id").orderBy(F.col("adist").asc(), F.col("id").asc())
    if not rerank or raw is None:
        return (
            cands.withColumn("rank", F.row_number().over(w))
            .filter(F.col("rank") <= k)
            .select("query_id", "id", F.col("adist").alias("distance"), "rank")
        )
    shortlist = cands.withColumn("__sr", F.row_number().over(w)).filter(
        F.col("__sr") <= rerank
    )
    if q is None:
        shortlist = shortlist.select("query_id", "__qvec", "id")
    else:
        shortlist = shortlist.select("query_id", "id").join(F.broadcast(q), "query_id")
    exact = raw.join(F.broadcast(shortlist), on="id").select(
        "query_id", "id", vm.euclidean_distance("__qvec", "vec").alias("distance")
    )
    w2 = Window.partitionBy("query_id").orderBy(
        F.col("distance").asc_nulls_last(), F.col("id").asc()
    )
    return (
        exact.withColumn("rank", F.row_number().over(w2))
        .filter(F.col("rank") <= k)
        .select("query_id", "id", "distance", "rank")
    )


def ann_knn_srp_indexed(
    index: DataFrame,
    queries: DataFrame,
    k: int = 10,
    metric: str = "euclidean",
    *,
    dim: int,
    nbits: int = 8,
    n_tables: int = 2,
    seed: int = 42,
    query_id_col: str = "query_id",
    query_vec_col: str = "query_embedding",
    multiprobe: bool | int = False,
    predicate: Column | None = None,
    attrs: DataFrame | None = None,
    attrs_id_col: str = "vec_id",
) -> DataFrame:
    """SRP k-NN over a PREBUILT index table (srp_index schema:
    id, vec, tbl, bucket). Identical semantics to ann_knn_srp — the
    (nbits, n_tables, seed) config must match the one the index was
    built with — but the vector table is never rescanned or re-hashed:
    only the broadcast probe side computes buckets at query time.

    Filtered search (reference search_with_filter composed over any
    Index, src/storage.rs:249-290 / src/index.rs:20): pass ``predicate``
    (a boolean Column over ``attrs``) plus ``attrs`` — the metadata
    side-table keyed by ``attrs_id_col``. Candidates from the bucket
    probe are pruned by a semi-join against the qualifying id set
    BEFORE the exact re-rank, so top-k fills from qualifying rows only
    (no starvation; the reference-exact over-fetch twin is
    ann_filtered_overfetch). The predicate pushes into the attrs scan;
    the semi-join's qualifying side is filter-pruned, the candidate
    side is already bucket-pruned."""
    from pyspark.sql import Window

    qualifying = _qualifying_ids(predicate, attrs, attrs_id_col)
    q = queries.select(
        F.col(query_id_col).alias("query_id"), vm.as_double(query_vec_col).alias("__q")
    )
    qtags = F.array(
        *[
            F.struct(F.lit(l).alias("tbl"), b.alias("bucket"))
            for l, b in enumerate(srp_bucket_cols("__q", dim, nbits, n_tables, seed))
        ]
    )
    q = q.select("query_id", "__q", F.explode(qtags).alias("__t")).select(
        "query_id", "__q", F.col("__t.tbl").alias("tbl"), F.col("__t.bucket").alias("bucket")
    )
    radius = int(multiprobe) if not isinstance(multiprobe, bool) else (1 if multiprobe else 0)
    if radius:
        variants = F.array(
            *[
                F.col("bucket").bitwiseXOR(F.lit(m).cast("long"))
                for m in _hamming_masks(nbits, radius)
            ]
        )
        q = q.select("query_id", "__q", "tbl", F.explode(variants).alias("bucket"))

    dist = vm.distance(metric, "__q", "vec")
    cands = index.join(F.broadcast(q), on=["tbl", "bucket"]).select(
        "query_id", "id", dist.alias("distance")
    )
    if qualifying is not None:
        cands = cands.join(qualifying, "id", "left_semi")
    narrow = cands.dropDuplicates(["query_id", "id"])
    w = Window.partitionBy("query_id").orderBy(
        # nulls LAST: zero-vector cosine distance is NULL and must not
        # outrank real neighbors (Spark default is nulls-first on asc)
        F.col("distance").asc_nulls_last(), F.col("id").asc()
    )
    return (
        narrow.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select("query_id", "id", "distance", "rank")
    )


def ann_filtered_overfetch(
    ann_results: DataFrame,
    attrs: DataFrame,
    predicate: Column,
    k: int = 10,
    *,
    attrs_id_col: str = "vec_id",
) -> DataFrame:
    """REFERENCE-EXACT filtered ANN (src/storage.rs:249-290 composed over
    an approximate Index via src/index.rs:20): take an UNFILTERED ANN
    result computed at k' = overfetch·k (any of ann_knn_srp /
    ann_knn_srp_indexed / ann_knn_ivf output — query_id, id, distance,
    rank), post-filter by the metadata predicate, keep the first k per
    query in original rank order. Faithfully reproduces the reference's
    under-fill: a selective filter can return fewer than k rows even
    when k qualifying rows sit in the probed buckets. Use the
    `predicate=` pre-filter form of the ANN functions unless bug-for-bug
    parity with the reference API is required (same divergence note as
    knn.knn_filtered_overfetch, the exact-path twin)."""
    from pyspark.sql import Window

    refiltered = ann_results.join(
        _qualifying_ids(predicate, attrs, attrs_id_col), "id", "left_semi"
    )
    w = Window.partitionBy("query_id").orderBy(F.col("rank").asc())
    return (
        refiltered.withColumn("rank2", F.row_number().over(w))
        .filter(F.col("rank2") <= k)
        .select("query_id", "id", "distance", F.col("rank2").alias("rank"))
    )


def build_ivf(
    vectors: DataFrame,
    n_lists: int = 16,
    *,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    seed: int = 42,
    max_iter: int = 10,
):
    """IVF (inverted-file) index batch build: MLlib KMeans partitions the
    space into `n_lists` Voronoi cells; every vector is assigned to its
    nearest centroid's list. The HNSW-build analog where the "graph" is a
    coarse quantizer (SURVEY §2.3 H4 → "MLlib for batch index build").

    Returns (centers: list[list[float]], assigned: DataFrame with list_id).
    At scale the assigned table is written partitioned/bucketed BY list_id,
    so a probe reads only n_probe partitions — partition pruning is the
    distributed beam search.
    """
    from pyspark.ml.clustering import KMeans
    from pyspark.ml.functions import array_to_vector

    feat = vectors.select(
        F.col(id_col), F.col(vec_col), array_to_vector(vm.as_double(vec_col)).alias("features")
    )
    km = KMeans(k=n_lists, seed=seed, maxIter=max_iter, featuresCol="features",
                predictionCol="list_id")
    model = km.fit(feat)
    assigned = model.transform(feat).select(id_col, vec_col, "list_id")
    centers = [c.tolist() for c in model.clusterCenters()]
    return centers, assigned


def assign_ivf_det(vectors: DataFrame, centroids: DataFrame) -> DataFrame:
    """Assign every vector to its nearest centroid (euclidean, tie-break
    on list_id asc). `vectors` is (id, vec); `centroids` is (list_id,
    cvec) — tiny (n_lists rows), collapsed to ONE array row and
    broadcast, so the assignment is a zero-shuffle per-row expression
    (nearest_centroid with no partitioning key).

    Distances use the same left-fold euclidean as exact k-NN, so the
    assignment an external engine computes with the same fold is
    bit-identical (the property the DuckDB oracle relies on). The
    argmin is a lexicographic array_min over (distance, list_id)
    structs — exactly the (distance asc, list_id asc) winner the
    oracle's row_number picks, without materializing rows × n_lists
    pairs through an Exchange + per-id window sort (the pre-r11 shape:
    at 100M rows × 640 lists that window shuffled 64B vector-carrying
    rows; this is one narrow map over the vectors — guide §2.4).

    Parallelism contract: a pure narrow map — it inherits its input's
    partitioning and does NOT spread(). Callers pass a frame from
    spread_vectors (the shallow source, spread once); spreading here
    would probe the partition count of an arbitrarily deep plan at
    DataFrame-build time and stack a RoundRobin exchange per call."""
    return nearest_centroid(vectors, centroids)


def assign_ivf_kernel(
    vectors: DataFrame, centroids: DataFrame, *, passthrough: tuple[str, ...] = ()
) -> DataFrame:
    """Arrow-batched BLAS twin of assign_ivf_det — the index-BUILD scale
    path. The fold plan evaluates n_lists interpreted euclidean folds per
    row (one lambda step per dimension per centroid) inside its broadcast
    array_min: exact and oracle-twinned, but at 100M rows × 640 lists that
    is 4·10¹² interpreted steps. This kernel broadcasts the (n_lists × dim)
    centroid matrix in the task closure and turns the assignment into one
    argmin(−2·X·Cᵀ + ‖c‖²) GEMM per Arrow batch: no join, no shuffle, one
    narrow pass over the vectors.

    Tie-break matches the fold's (distance asc, list_id asc): np.argmin
    returns the FIRST minimum and centroid rows are ordered list_id asc.
    float64 GEMM can flip an assignment vs the fold only on last-ulp
    boundary ties, so the oracle-twinned registry builds keep the fold;
    production builds and the SCALE.md 100M cells use this. `centroids`
    is collected eagerly (n_lists rows — tiny, but it IS an action).

    ``passthrough``: extra `vectors` columns copied to the output
    unchanged (saves the id-join when the caller needs them alongside
    list_id)."""
    import numpy as np
    import pandas as pd

    rows = sorted(
        centroids.select("list_id", "cvec").collect(), key=lambda r: r["list_id"]
    )
    list_ids = np.asarray([r["list_id"] for r in rows], dtype=np.int32)
    C = np.asarray([list(r["cvec"]) for r in rows], dtype=np.float64)
    c2 = (C * C).sum(axis=1)
    Cn2T = -2.0 * C.T  # (dim, n_lists), staged once per task

    extra = list(passthrough)
    v = vectors.select(
        F.col("id").cast("long").alias("id"), vm.as_double("vec").alias("vec"), *extra
    )

    def run(batches):
        for pdf in batches:
            if pdf.empty:
                continue
            X = np.stack(pdf["vec"].to_numpy()).astype(np.float64, copy=False)
            idx = np.argmin(X @ Cn2T + c2[None, :], axis=1)
            out = {"id": pdf["id"].to_numpy(), "vec": pdf["vec"].values,
                   "list_id": list_ids[idx]}
            for c in extra:
                out[c] = pdf[c].values
            yield pd.DataFrame(out)

    extra_schema = "".join(
        f", {c} {vectors.schema[c].dataType.simpleString()}" for c in extra
    )
    return v.mapInPandas(
        run, schema=f"id long, vec array<double>, list_id int{extra_schema}"
    )


# Deterministic Lloyd's k-means: the one implementation behind the IVF
# coarse quantizer (build_ivf_det, group ("list_id",)) and the PQ
# codebooks (pq.pq_codebook, group ("sub", "code")). A `group` names the
# centroid key: its LAST column is the label a point is assigned to, the
# columns before it (none for IVF, `sub` for PQ) partition the centroids
# into independent k-means problems trained in one job chain. Points are
# (*keys, id long, vec array<double>); centroids are (*group, cvec).


def spread_vectors(
    vectors: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    *,
    fanout: int = 1,
) -> DataFrame:
    """The shallow source of every deterministic build: spread the scan
    ONCE (tables.spread, sized for `fanout` work rows per input row — PQ
    iterates over m subvectors per vector) and project to (id long, vec
    array<double>). Every Lloyd round and the final assignment are narrow
    maps re-derived from this frame, so they inherit its partitioning with
    no per-round planning probe or exchange. No-op at real scale."""
    from ..sources.tables import footer_rows, spread

    rows = footer_rows(vectors)
    return spread(vectors, rows=None if rows is None else rows * fanout).select(
        F.col(id_col).cast("long").alias("id"), vm.as_double(vec_col).alias("vec")
    )


def md5_seeds(points: DataFrame, n: int, label: str) -> DataFrame:
    """Lloyd init: the first `n` (id, vec) rows ordered by md5(id), as
    (label int 0..n-1, cvec) — a cheap engine-portable pseudo-random draw
    (the reference seeds its RNG in the same spirit, src/hnsw/graph.rs:70).
    orderBy().limit(n) compiles to TakeOrderedAndProject (per-partition
    partial top-n, driver merges n-row sets), so no full-table sort or
    single-partition window exists; the only window runs over the n
    picked rows."""
    from pyspark.sql import Window

    order = (F.md5(F.col("id").cast("string")).asc(), F.col("id").asc())
    return points.orderBy(*order).limit(n).select(
        (F.row_number().over(Window.orderBy(*order)) - 1).cast("int").alias(label),
        F.col("vec").alias("cvec"),
    )


def nearest_centroid(
    points: DataFrame, centroids: DataFrame, group: tuple[str, ...] = ("list_id",)
) -> DataFrame:
    """Label every point with its nearest centroid among those sharing
    its keys: euclidean, tie-break label asc. The centroids collapse to
    one array row per key (one row in all for IVF) and broadcast; the
    argmin is a lexicographic array_min over (distance, label) structs
    evaluated per row — the (distance asc, label asc) winner the oracle's
    row_number picks, with zero exchange of the point table. Returns
    (*keys, id, vec, label); a point with no centroids gets no row."""
    *keys, label = group
    arr = F.broadcast(
        centroids.groupBy(*keys).agg(F.collect_list(F.struct(label, "cvec")).alias("__cents"))
    )
    best = F.array_min(
        F.transform(
            F.col("__cents"),
            lambda c: F.struct(
                vm.euclidean_distance(F.col("vec"), c["cvec"]).alias("d"),
                c[label].alias(label),
            ),
        )
    )
    joined = points.join(arr, on=keys) if keys else points.crossJoin(arr)
    return (
        joined.select(*keys, "id", "vec", best[label].alias(label))
        # the keyless global collect_list always emits one row, an empty
        # array against no centroids: drop its NULL argmin
        .filter(F.col(label).isNotNull())
    )


def fold_tree_mean(assigned: DataFrame, group: tuple[str, ...], block: int) -> DataFrame:
    """Per-group mean vector (*group, cvec) of (*group, id, vec) rows with
    a FIXED two-level reduction tree keyed on id ranges: within an
    id-block of `block` ids, vectors fold in id order; block partial sums
    fold in block order. The summation tree is a function of the DATA
    (ids), not of Spark's partitioning, so the double-precision result is
    identical on any cluster layout — and in any engine that folds the
    same tree (the DuckDB oracle does).

    Plain F.sum would shuffle less state but its accumulation order
    follows the partitioning, making the low bits of the mean
    run-dependent; decimal accumulation is order-independent but
    double→decimal casts themselves disagree across engines (Spark casts
    via the shortest decimal repr, DuckDB via the exact binary value).
    The per-group collect_list is bounded by `block`, so executor memory
    stays flat at any table size.

    Whole vectors fold element-wise (zip_with) rather than posexploding
    to rows×dim: per dimension the SAME additions run in the SAME
    id-then-block order, while the shuffle moves `rows` records instead
    of rows×dim exploded tuples and runs one hash aggregation instead of
    dim of them."""

    def vsum(lst: str, field: str):
        # fold a SORTED list of (key, vector) structs into the element-wise
        # sum, starting from a zero vector shaped like the first entry; the
        # list is materialized ONCE in a prior agg so the init/fold don't
        # re-evaluate the collect
        col = F.array_sort(F.col(lst))
        zero = F.transform(F.element_at(F.col(lst), 1)[field], lambda _: F.lit(0.0))
        return F.aggregate(
            col, zero, lambda acc, s: F.zip_with(acc, s[field], lambda a, x: a + x)
        )

    l1 = (
        assigned.select(*group, "id", F.expr(f"id div {block}").alias("blk"), "vec")
        .groupBy(*group, "blk")
        .agg(
            F.collect_list(F.struct("id", "vec")).alias("__lst"),
            F.count("*").alias("n1"),
        )
        .select(*group, "blk", vsum("__lst", "vec").alias("s1"), "n1")
    )
    l2 = (
        l1.groupBy(*group)
        .agg(
            F.collect_list(F.struct("blk", "s1")).alias("__lst"),
            F.sum("n1").alias("n"),
        )
        .select(*group, vsum("__lst", "s1").alias("s"), "n")
    )
    return l2.select(*group, F.transform("s", lambda sv: sv / F.col("n")).alias("cvec"))


def lloyd_round(
    points: DataFrame,
    centroids: DataFrame,
    block: int,
    group: tuple[str, ...] = ("list_id",),
    assign=None,
) -> DataFrame:
    """One Lloyd round: assign (nearest_centroid, or `assign(points,
    centroids)` — e.g. assign_ivf_kernel), then fold_tree_mean. Empty
    clusters keep their previous centroid (left-join + coalesce), the
    same convention MLlib KMeans uses."""
    assigned = (
        nearest_centroid(points, centroids, group)
        if assign is None else assign(points, centroids)
    )
    new = fold_tree_mean(assigned, group, block)
    return (
        centroids.alias("p")
        .join(new.alias("n"), list(group), "left")
        .select(*group, F.coalesce(F.col("n.cvec"), F.col("p.cvec")).alias("cvec"))
    )


def det_lloyd(
    points: DataFrame,
    centroids: DataFrame,
    iters: int,
    block: int,
    group: tuple[str, ...] = ("list_id",),
    assign=None,
) -> DataFrame:
    """`iters` lloyd_rounds from the initial `centroids`. Each round
    references the incoming centroids TWICE (the assign and the
    empty-cluster fallback join), so an unmaterialized loop nests the
    previous round's whole subtree 2× per iteration — 2^iters copies of
    the seed selection in the final plan, each re-planned and re-executed
    wherever exchange reuse misses. The centroid table is tiny: an eager
    localCheckpoint per round linearizes the build into `iters` small
    sequential jobs (the shape MLlib's own Lloyd runs) and keeps every
    consumer's plan shallow. Values unchanged — a checkpoint is a pure
    materialization barrier."""
    from .cache import checkpoint

    for _ in range(iters):
        centroids = checkpoint(lloyd_round(points, centroids, block, group, assign))
    return centroids


def build_ivf_det(
    vectors: DataFrame,
    n_lists: int = 8,
    iters: int = 2,
    *,
    block: int = 4096,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    train_mod: int = 1,
    assign_strategy: str = "fold",
) -> DataFrame:
    """Deterministic IVF coarse quantizer: det_lloyd from md5_seeds
    over spread_vectors(vectors), yielding centroids that are
    BIT-IDENTICAL across runs, partitionings, and engines — the
    oracle-twinnable correctness spec for the IVF index that build_ivf
    (MLlib KMeans, RNG-seeded) can only match rows-only.

    Returns the centroids DataFrame (list_id int, cvec array<double>).
    Iteration materializes nothing driver-side (no collect); each round
    is a broadcast-assign plus one bounded-group aggregation, the same
    shuffle shape MLlib KMeans runs internally. ivf_det_index also
    returns the assignment of every vector.

    ``train_mod``: Lloyd iterations train on the deterministic 1/train_mod
    subset ``pmod(xxhash64(id), train_mod) == 0`` (the whole table at the
    default 1). Centroid quality needs a representative sample, not every
    row — the same economics as pq_codebook's 1%-sample training (FAISS's
    production pattern), and the fix for the measured build wall-time at
    scale (SCALE.md round-5: 2 full-data Lloyd iters at 10M rows cost
    1316 s where the probe they serve costs 56 s; the full-corpus
    assignment pass that actually builds the index is unavoidable and
    unaffected). Deterministic and engine-portable, so a sampled build
    is still exactly reproducible — but the sampled centroids differ
    from full-data centroids, so the oracle-twinned registry queries
    keep train_mod=1 as the spec.

    ``assign_strategy``: "fold" (default) runs the Lloyd assignments
    through assign_ivf_det's bit-exact expression plan — the oracle
    spec. "kernel" routes them through assign_ivf_kernel (BLAS argmin,
    one narrow pass): the scale path for big training sets, at the cost
    of eager per-iteration centroid collection (n_lists rows/round) and
    last-ulp tie divergence from the fold — not oracle-twinnable. Any
    other value raises ValueError."""
    if assign_strategy not in ("fold", "kernel"):
        raise ValueError(
            f"assign_strategy must be 'fold' or 'kernel', got {assign_strategy!r}"
        )
    v = spread_vectors(vectors, id_col, vec_col)
    train = (
        v if train_mod <= 1
        else v.filter(F.pmod(F.xxhash64(F.col("id")), F.lit(train_mod)) == 0)
    )
    if train_mod > 1:
        # the sampled subset must still seed n_lists distinct centroids —
        # a too-aggressive train_mod would otherwise silently return
        # fewer lists and shift every downstream list_id (advisor r5).
        # The probe is cheap: limit(n_lists).count() is a partial scan
        # bounded at n_lists rows per partition.
        if train.limit(n_lists).count() < n_lists:
            train = v  # fall back to full-data training rather than mis-build
    assign = assign_ivf_kernel if assign_strategy == "kernel" else None
    return det_lloyd(train, md5_seeds(train, n_lists, "list_id"), iters, block,
                     assign=assign)


def ivf_det_index(
    vectors: DataFrame,
    n_lists: int = 8,
    iters: int = 2,
    *,
    block: int = 4096,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> tuple[DataFrame, DataFrame]:
    """The deterministic IVF index in one call: (centroids, assigned) —
    build_ivf_det's centroids (list_id, cvec), returned checkpointed, and
    the lazy assign_ivf_det of every vector, (id long, vec array<double>,
    list_id int). Both derive from ONE spread_vectors frame, so the
    assignment inherits the build's source partitioning. Callers that
    reuse `assigned` across consumers persist or checkpoint it
    themselves."""
    v = spread_vectors(vectors, id_col, vec_col)
    cent = det_lloyd(v, md5_seeds(v, n_lists, "list_id"), iters, block)
    return cent, assign_ivf_det(v, cent)


def _route_queries(
    q: DataFrame, centers_df: DataFrame, n_probe: int, *, keep_center: bool = False
) -> DataFrame:
    """Route each query row (query_id, __qvec) to its `n_probe` nearest
    centroids: centers collapse to ONE broadcast array row; per query the
    routing is array_sort over (cdist, list_id) structs + slice + explode
    — a narrow expression, no Exchange and no window sort (the pre-r11
    shape shuffled queries × n_lists rows into a per-query row_number).
    Lexicographic struct sort == the old (cdist asc, list_id asc)
    tie-break; euclidean uses the same left-fold, so the probed list set
    is bit-identical (verified exceptAll-empty at sf0.01/sf0.1).
    Returns (query_id, __qvec, list_id) — plus `center` with
    ``keep_center`` (the residual-PQ path needs the probed centroid to
    form r_q = q − c; the center field sits THIRD in the sort struct, so
    it is only ever compared on a (d, list_id) tie, which list_id
    uniqueness rules out)."""
    cent_arr = centers_df.groupBy().agg(
        F.collect_list(F.struct("list_id", "center")).alias("__cents")
    )
    ranked = F.array_sort(
        F.transform(
            F.col("__cents"),
            lambda c: F.struct(
                vm.euclidean_distance(F.col("__qvec"), c["center"]).alias("d"),
                c["list_id"].alias("list_id"),
                *([c["center"].alias("center")] if keep_center else []),
            ),
        )
    )
    if not keep_center:
        return q.crossJoin(F.broadcast(cent_arr)).select(
            "query_id",
            "__qvec",
            F.explode(F.slice(ranked, 1, n_probe)["list_id"]).alias("list_id"),
        )
    return (
        q.crossJoin(F.broadcast(cent_arr))
        .select(
            "query_id",
            "__qvec",
            F.explode(F.slice(ranked, 1, n_probe)).alias("__probe"),
        )
        .select(
            "query_id",
            "__qvec",
            F.col("__probe.list_id").alias("list_id"),
            F.col("__probe.center").alias("center"),
        )
    )


def ann_knn_ivf(
    assigned: DataFrame,
    centers: list[list[float]] | DataFrame,
    queries: DataFrame,
    k: int = 10,
    n_probe: int = 4,
    metric: str = "euclidean",
    *,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    query_id_col: str = "query_id",
    query_vec_col: str = "query_embedding",
    predicate: Column | None = None,
    attrs: DataFrame | None = None,
    attrs_id_col: str = "vec_id",
) -> DataFrame:
    """IVF probe: route each query to its `n_probe` nearest centroids, scan
    only those lists, exact re-rank. Recall/latency knob = n_probe (the
    ef_search analog, SURVEY §2.3 H9).

    Filtered search (reference search_with_filter over any Index,
    src/storage.rs:249-290): pass ``predicate`` over ``attrs`` (metadata
    side-table keyed ``attrs_id_col``) to prune candidates AFTER the
    list probe but BEFORE the exact re-rank — top-k fills from
    qualifying rows within the probed lists only (pre-filter semantics,
    no starvation; rows in unprobed lists are missed exactly as in
    unfiltered ANN). If ``attrs`` is None but ``predicate`` is given,
    the predicate is applied directly to `assigned` (which must then
    carry the referenced columns) so it pushes into the list scan.

    `centers` is either the Python list build_ivf returns or the
    (list_id, cvec) DataFrame build_ivf_det returns — the latter keeps
    the whole probe driver-free (no collect anywhere in the chain).

    Plan shape: queries ⨯ centers (ONE broadcast array row) → per-query
    routing as a narrow sort-slice-explode expression (no Exchange, no
    window: array_sort over (cdist, list_id) structs picks exactly the
    (cdist asc, list_id asc) top-n_probe the old row_number did —
    guide §2.4) → equi-join on list_id (hash-prunable) → distance →
    top-k.
    """
    from pyspark.sql import Window

    spark = assigned.sparkSession
    if isinstance(centers, DataFrame):
        centers_df = centers.select("list_id", F.col("cvec").alias("center"))
    else:
        centers_df = spark.createDataFrame(
            [(i, [float(x) for x in c]) for i, c in enumerate(centers)],
            "list_id int, center array<double>",
        )
    q = queries.select(
        F.col(query_id_col).alias("query_id"), F.col(query_vec_col).alias("__qvec")
    )
    routed = _route_queries(q, centers_df, n_probe)
    if predicate is not None and attrs is None:
        assigned = assigned.filter(predicate)
    cands = assigned.join(F.broadcast(routed), on="list_id").select(
        "query_id",
        F.col(id_col).alias("id"),
        vm.distance(metric, "__qvec", vec_col).alias("distance"),
    )
    if predicate is not None and attrs is not None:
        qualifying = attrs.filter(predicate).select(F.col(attrs_id_col).alias("id"))
        cands = cands.join(qualifying, "id", "left_semi")
    w = Window.partitionBy("query_id").orderBy(
        # nulls LAST: zero-vector cosine distance is NULL and must not
        # outrank real neighbors (Spark default is nulls-first on asc)
        F.col("distance").asc_nulls_last(), F.col("id").asc()
    )
    return (
        cands.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select("query_id", "id", "distance", "rank")
    )


def ivf_sq8_index(
    assigned: DataFrame,
    *,
    id_col: str = "id",
    vec_col: str = "vec",
) -> DataFrame:
    """The QUANTIZED serve-path index: IVF assignment × SQ8 codes — the
    compression ladder (functions/vectormath.py SQ8) composed with the
    coarse quantizer instead of standing alone. Each row keeps
    (id, list_id, codes array<int>, vmin, scale): int8-range codes
    dictionary/bit-pack to ~1 byte/dim in parquet, a 4× scan-size cut on
    the probed lists — the 100-TB storage economics the ladder exists
    for. Encode is a per-row narrow projection (no shuffle); write the
    result partitioned by list_id and probes read n_probe partitions of
    CODES instead of raw vectors.

    Not in the reference (it stores raw f32, src/vector.rs); the
    composition target is FAISS-style IVF-SQ (public design), expressed
    as pure DataFrame ops."""
    v = vm.as_double(vec_col)
    staged = assigned.select(
        F.col(id_col).alias("id"),
        "list_id",
        v.alias("__v"),
        F.array_min(v).alias("vmin"),
        vm.sq8_scale(v).alias("scale"),
    )
    return staged.select(
        "id",
        "list_id",
        vm.sq8_encode("__v", F.col("vmin"), F.col("scale")).alias("codes"),
        "vmin",
        "scale",
    )


def ann_knn_ivf_sq8(
    index: DataFrame,
    centers: DataFrame,
    queries: DataFrame,
    k: int = 10,
    n_probe: int = 4,
    rerank: int = 0,
    raw: DataFrame | None = None,
    *,
    query_id_col: str = "query_id",
    query_vec_col: str = "query_embedding",
    predicate: Column | None = None,
    attrs: DataFrame | None = None,
    attrs_id_col: str = "vec_id",
) -> DataFrame:
    """IVF-SQ8 search: route each query to its n_probe nearest centroids,
    scan ONLY those lists over the int8 codes with asymmetric distance
    (raw query vs decoded codes — decode pipelines inside the scan
    stage, never materialized), then optionally exact-re-rank the
    ``rerank``-deep shortlist against the raw vectors.

    ``predicate`` over ``attrs`` composes the metadata filter with the
    quantized path exactly as on the raw IVF/SRP paths: qualifying-id
    semi-join prunes code candidates BEFORE the shortlist window, so
    both the shortlist and the final top-k fill from qualifying rows
    only (filter × index × quantization — the full serve composition).

    rerank=0 (or raw=None) returns the code-only result ranked by
    asymmetric distance. With rerank ≥ k and ``raw`` (id, vec), the
    shortlist (n_queries × rerank rows — tiny) broadcasts into one join
    against the raw table and exact euclidean re-ranks it: the classic
    two-stage quantized serving design. Every step is deterministic
    (floor(x+0.5) encode), so the whole pipeline is value-exact
    oracle-twinnable."""
    qualifying = _qualifying_ids(predicate, attrs, attrs_id_col)
    q = queries.select(
        F.col(query_id_col).alias("query_id"),
        vm.as_double(query_vec_col).alias("__qvec"),
    )
    routed = _route_queries(
        q, centers.select("list_id", F.col("cvec").alias("center")), n_probe
    )
    decoded = vm.sq8_decode("codes", F.col("vmin"), F.col("scale"))
    cands = index.join(F.broadcast(routed), on="list_id").select(
        "query_id",
        "__qvec",
        "id",
        vm.euclidean_distance("__qvec", decoded).alias("adist"),
    )
    if qualifying is not None:
        cands = cands.join(qualifying, "id", "left_semi")
    return _shortlist_finish(cands, k, rerank, raw)


def build_mllib_lsh(
    vectors: DataFrame,
    *,
    bucket_length: float = 2.0,
    num_hash_tables: int = 3,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    seed: int = 42,
):
    """Batch ANN index build via MLlib BucketedRandomProjectionLSH —
    the distributed analog of HNSW bulk construction (reference
    src/hnsw/mod.rs:34-42, which is sequential despite its rayon claim).
    Returns (model, transformed_df with ml 'features' + 'hashes')."""
    from pyspark.ml.feature import BucketedRandomProjectionLSH
    from pyspark.ml.functions import array_to_vector

    feat = vectors.select(
        F.col(id_col), F.col(vec_col), array_to_vector(vm.as_double(vec_col)).alias("features")
    )
    lsh = BucketedRandomProjectionLSH(
        inputCol="features", outputCol="hashes",
        bucketLength=bucket_length, numHashTables=num_hash_tables, seed=seed,
    )
    model = lsh.fit(feat)
    return model, model.transform(feat)


def ann_join_mllib(
    model,
    indexed: DataFrame,
    queries: DataFrame,
    threshold: float,
    *,
    query_id_col: str = "query_id",
    query_vec_col: str = "query_embedding",
) -> DataFrame:
    """approxSimilarityJoin batch search (reference search_batch analog,
    src/storage.rs:302-310): all pairs within euclidean `threshold`."""
    from pyspark.ml.functions import array_to_vector

    q = queries.select(
        F.col(query_id_col), array_to_vector(vm.as_double(query_vec_col)).alias("features")
    )
    joined = model.approxSimilarityJoin(q, indexed, threshold, distCol="distance")
    return joined.select(
        F.col(f"datasetA.{query_id_col}").alias("query_id"),
        F.col("datasetB.vec_id").alias("id"),
        F.col("distance"),
    )
