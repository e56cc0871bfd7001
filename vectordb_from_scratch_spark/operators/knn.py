"""Exact k-nearest-neighbor search — the reference's flagship query.

Re-expresses FlatIndex::search (reference src/flat_index.rs:52-65: distance
to every row → sort asc → truncate k) and VectorStore::search/search_batch
(src/storage.rs:217-245, 302-310) as a distributed DataFrame plan:

    broadcast(queries) ⨯ vectors  →  distance column (JVM codegen)
      →  project (query_id, id, distance)   [drop embeddings pre-shuffle]
      →  per-query top-k

Physical-plan reasoning for 100 TB:
- The probe set is small; ``F.broadcast`` forces BroadcastNestedLoopJoin,
  so the big vector table is scanned once, in place, with NO shuffle of
  the big side and no replication across executors beyond the probes.
- Distance math is built-in higher-order functions → whole-stage codegen.
- Before any shuffle we project down to three narrow columns (~24 B/row);
  the embedding arrays never move.
- Per-query top-k has two strategies, chosen by vecblock.choose_strategy:
    * "window": fold-expression distance + row_number over (query_id) —
      bitwise-exact vs the DuckDB oracle, one shuffle of the narrow rows.
    * "numpy": the vecblock kernel — BLAS distances per Arrow batch and a
      per-partition partial top-k, so the shuffle input shrinks from n×q
      rows to p×q×k. At 1000 executors × 100 TB this is the plan that
      holds. NULL/ragged semantics match the fold (vecblock docstring).
- Ties broken by (distance, id) ascending for deterministic output
  (reference heaps tie-break on id too: src/hnsw/neighbor_queue.rs:36-43).

Filtered search (reference src/storage.rs:249-290) PRE-filters here —
predicate pushdown into the parquet scan — instead of the reference's
"over-fetch 3k then post-filter" which can return fewer than k rows under
selective filters (src/storage.rs:268-287). Strictly better semantics;
divergence documented.
"""

from __future__ import annotations

import numpy as np
import pyarrow as pa
from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F
from pyspark.sql.types import DoubleType, IntegerType, StructField, StructType

from ..functions import vectormath as vm
from .vecblock import choose_strategy, collect_probes, map_blocks, pairwise, topk_scan
from ..sources.tables import spread

__all__ = ["knn", "knn_filtered", "knn_filtered_overfetch", "self_knn",
           "knn_hamming", "radius_search", "maxsim_search", "mmr_diversify",
           "ranking_metrics"]


def knn(
    vectors: DataFrame,
    queries: DataFrame,
    k: int = 10,
    metric: str = "euclidean",
    *,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    query_id_col: str = "query_id",
    query_vec_col: str = "query_embedding",
    exclude_self: bool = False,
    strategy: str = "auto",
) -> DataFrame:
    """Batch exact k-NN: per probe, the k nearest vectors.

    Returns (query_id, id, distance, rank) with rank 1..k ascending by
    (distance, id). `k=10` default mirrors the reference HTTP API
    (src/server/routes.rs:240).

    strategy:
      "window" — fold-expression distance + WindowGroupLimit top-k.
                 Bitwise-identical to the DuckDB oracle; interpreted
                 per-pair math (HOF lambdas aren't codegen'd).
      "numpy"  — the vecblock BLAS kernel with per-partition top-k;
                 ~100× the throughput, float64 results may differ from
                 the fold in the last ulp (rank flips only on exact ties).
      "auto"   — numpy above vecblock.AUTO_NUMPY_THRESHOLD rows, else
                 window: the oracle-checked scale stays exact, big tables
                 go fast.
    """
    # Pre-cast to array<double> in the PROJECTIONS, not the distance
    # expression: the cast then runs once per input row instead of once
    # per (probe × vector) pair — at n probes that's an n× saving on the
    # big side. Catalyst removes the now-redundant cast inside distance().
    # spread(): a small single-file scan arrives as 1-3 partitions, which
    # would serialize the O(n_probes × n) distance stage onto 3 cores.
    q = queries.select(
        F.col(query_id_col).alias("query_id"),
        vm.as_double(query_vec_col).alias("__qvec"),
    )
    v = spread(vectors).select(
        F.col(id_col).alias("id"),
        vm.as_double(vec_col).alias("__vvec"),
    )
    if choose_strategy(strategy, vectors) == "numpy":
        # self rows are excluded post-kernel; keep a k+1 margin
        narrow = topk_scan(v, q, metric, k + 1 if exclude_self else k, vec_col="__vvec")
        if exclude_self:
            narrow = narrow.filter(F.col("id") != F.col("query_id"))
    else:
        joined = v.crossJoin(F.broadcast(q))
        if exclude_self:
            joined = joined.filter(F.col("id") != F.col("query_id"))
        dist = vm.distance(metric, "__qvec", "__vvec")
        narrow = joined.select("query_id", "id", dist.alias("distance"))
    # asc_nulls_last: NULL distances (zero-vector cosine) rank LAST —
    # matches DuckDB's default and sane semantics (Spark defaults to
    # nulls-first on asc, which would rank undefined distances top-1).
    w = Window.partitionBy("query_id").orderBy(
        F.col("distance").asc_nulls_last(), F.col("id").asc()
    )
    return (
        narrow.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select("query_id", "id", "distance", "rank")
    )


def knn_filtered(
    vectors: DataFrame,
    queries: DataFrame,
    predicate: Column,
    k: int = 10,
    metric: str = "euclidean",
    **kwargs,
) -> DataFrame:
    """Filtered k-NN (reference search_with_filter, src/storage.rs:249-290).

    Pre-filters the vector table so the predicate pushes into the scan;
    always returns exactly min(k, n_matching) rows per query — unlike the
    reference's 3k-over-fetch post-filter, which can starve (divergence).
    """
    return knn(vectors.filter(predicate), queries, k=k, metric=metric, **kwargs)


def knn_filtered_overfetch(
    vectors: DataFrame,
    queries: DataFrame,
    predicate: Column,
    k: int = 10,
    overfetch: int = 3,
    metric: str = "euclidean",
    *,
    id_col: str = "vec_id",
    **kwargs,
) -> DataFrame:
    """REFERENCE-EXACT filtered search (src/storage.rs:249-290): fetch the
    min(overfetch·k, n) nearest rows WITHOUT the filter, post-filter, keep
    the first k. Faithfully reproduces the reference's under-fill: a
    selective filter can return fewer than k rows even when k matches
    exist. Use knn_filtered (pre-filter) unless bug-for-bug parity with
    the reference API is required.
    """
    pre = knn(vectors, queries, k=overfetch * k, metric=metric, id_col=id_col, **kwargs)
    attrs = vectors.withColumnRenamed(id_col, "id")
    refiltered = pre.join(attrs.filter(predicate).select("id"), "id", "left_semi")
    w = Window.partitionBy("query_id").orderBy(F.col("rank").asc())
    return (
        refiltered.withColumn("rank2", F.row_number().over(w))
        .filter(F.col("rank2") <= k)
        .select("query_id", "id", "distance", F.col("rank2").alias("rank"))
    )


def radius_search(
    vectors: DataFrame,
    queries: DataFrame,
    radius: float,
    metric: str = "euclidean",
    limit: int | None = None,
    *,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    query_id_col: str = "query_id",
    query_vec_col: str = "query_embedding",
    strategy: str = "auto",
) -> DataFrame:
    """Range (radius) search: every vector within ``radius`` of each probe,
    ordered by (distance, id), optionally capped at ``limit`` rows per
    query. The range twin of top-k search — the other half of the classic
    vector-query API (absent from the reference, whose Index trait only
    exposes k-NN, src/index.rs:18-20; every mainstream vector store ships
    both).

    Scale: strictly CHEAPER than top-k at the same selectivity. The
    radius predicate is applied map-side, right after the distance
    projection and before any exchange — only rows inside the ball ever
    shuffle (top-k must move p×q×k survivor rows through a reduce even
    when nothing matches). The rank window then runs over matches only.
    Returns (query_id, id, distance, rank).

    strategy mirrors knn(): "window" = fold-expression distances
    (bitwise-exact vs the DuckDB oracle), "numpy" = the vecblock BLAS
    kernel with the same map-side ball filter, ~20× the throughput
    (31 s → 1.7 s for 100 probes × 1M rows; last-ulp distance drift
    possible at the ball boundary), "auto" = numpy above
    vecblock.AUTO_NUMPY_THRESHOLD rows.
    """
    q = queries.select(
        F.col(query_id_col).alias("query_id"),
        vm.as_double(query_vec_col).alias("__qvec"),
    )
    v = spread(vectors).select(
        F.col(id_col).alias("id"), vm.as_double(vec_col).alias("__vvec")
    )
    if choose_strategy(strategy, vectors) == "numpy":
        keys, Q, qvalid = collect_probes(q)
        qids = keys.column(0).combine_chunks()

        def ball(blocks):
            for batch, V, valid in blocks:
                D, null = pairwise(metric, V, Q, valid, qvalid)
                r, c = np.nonzero(~null & (D <= radius))  # NaN never matches
                if len(r):
                    yield pa.RecordBatch.from_arrays(
                        [qids.take(c), batch.column("id").take(r), pa.array(D[r, c])],
                        names=["query_id", "id", "distance"],
                    )

        qid_t = q.schema["query_id"].dataType.simpleString()
        id_t = v.schema["id"].dataType.simpleString()
        narrow = map_blocks(v, "__vvec", Q.shape[1], ball,
                            f"query_id {qid_t}, id {id_t}, distance double")
    else:
        dist = vm.distance(metric, "__qvec", "__vvec")
        narrow = (
            v.crossJoin(F.broadcast(q))
            .select("query_id", "id", dist.alias("distance"))
            # NULL distances (zero-vector cosine) are "undefined", never a
            # match — filter keeps only defined distances inside the ball
            .filter(F.col("distance") <= F.lit(float(radius)))
        )
    w = Window.partitionBy("query_id").orderBy(
        F.col("distance").asc(), F.col("id").asc()
    )
    ranked = narrow.withColumn("rank", F.row_number().over(w))
    if limit is not None:
        ranked = ranked.filter(F.col("rank") <= limit)
    return ranked.select("query_id", "id", "distance", "rank")


def maxsim_search(
    doc_vecs: DataFrame,
    query_vecs: DataFrame,
    k: int = 10,
    *,
    id_col: str = "doc_id",
    vec_col: str = "v",
    query_id_col: str = "query_id",
    query_idx_col: str = "qidx",
    query_vec_col: str = "qv",
    strategy: str = "auto",
) -> DataFrame:
    """Multi-vector late-interaction search (ColBERT's MaxSim operator —
    Khattab & Zaharia, SIGIR 2020, public): documents and queries are BAGS
    of vectors (one per token/chunk); a document's score for a query is

        score(q, d) = Σ_{i ∈ q}  max_{j ∈ d}  cos_sim(q_i, d_j)

    — each query vector independently picks its best-matching document
    vector, and the per-query-vector maxima add up. Finer-grained than
    single-vector search (a long doc can match different query aspects
    with different chunks); the reference's one-vector-per-id model
    (src/storage.rs:86-95) cannot express it.

    Plan: broadcast the query bag (probes are small) across the doc-vector
    scan → cosine sim per (doc vec, query vec) pair map-side → two hash
    aggregations, max over doc vectors then sum over query vectors. Both
    aggs partial-aggregate map-side (unlike a window), so the exchange
    carries at most |distinct (id, query_id, qidx)| rows per task — the
    doc vectors themselves never shuffle. Determinism: max is
    order-independent; the sum folds decimal(28,12)-cast maxima, so it is
    partitioning-independent and value-exact oracle-twinnable.

    Returns (query_id, id, score, rank) — top-k docs per query by
    (score desc, id asc).
    """
    v = spread(doc_vecs).select(
        F.col(id_col).alias("id"), vm.as_double(vec_col).alias("__vvec")
    )
    q = query_vecs.select(
        F.col(query_id_col).alias("query_id"),
        F.col(query_idx_col).alias("__qidx"),
        vm.as_double(query_vec_col).alias("__qvec"),
    )
    if choose_strategy(strategy, doc_vecs) == "numpy":
        # the vecblock kernel reduces each batch to PARTIAL maxima per
        # (query vector, doc) — a map-side combine for max (associative,
        # order-independent, so lossless) that shrinks the kernel's output
        # to |docs in batch| × |query vectors| rows
        keys, Q, qvalid = collect_probes(q)
        qids, qidxs = (c.combine_chunks() for c in keys.columns)
        nq = len(Q)

        def max_per_doc(blocks):
            for batch, V, valid in blocks:
                D, null = pairwise("cosine", V, Q, valid, qvalid)
                S = np.where(null, -np.inf, 1.0 - D)  # the fold's 1 - cos_dist
                ids = batch.column("id")
                _, first, inv = np.unique(ids.to_numpy(zero_copy_only=False),
                                          return_index=True, return_inverse=True)
                order = np.argsort(inv, kind="stable")
                M = np.maximum.reduceat(S[order], np.r_[0, np.flatnonzero(np.diff(inv[order])) + 1])
                qi = np.tile(np.arange(nq), len(first))
                yield pa.RecordBatch.from_arrays(
                    [qids.take(qi), qidxs.take(qi), ids.take(np.repeat(first, nq)),
                     pa.array(M.ravel(), mask=np.isneginf(M.ravel()))],  # all-NULL → NULL
                    names=["query_id", "__qidx", "id", "__m"],
                )

        qid_t, qidx_t = (f.dataType.simpleString() for f in q.schema.fields[:2])
        id_t = v.schema["id"].dataType.simpleString()
        partials = map_blocks(v, "__vvec", Q.shape[1], max_per_doc,
                              f"query_id {qid_t}, __qidx {qidx_t}, id {id_t}, __m double")
        per_qvec = partials.groupBy("query_id", "id", "__qidx").agg(
            F.max("__m").alias("__m")
        )
    else:
        sim = F.lit(1.0) - vm.cosine_distance("__qvec", "__vvec")
        per_qvec = (
            v.crossJoin(F.broadcast(q))
            .select("query_id", "__qidx", "id", sim.alias("__sim"))
            .groupBy("query_id", "id", "__qidx")
            .agg(F.max("__sim").alias("__m"))
        )
    scored = per_qvec.groupBy("query_id", "id").agg(
        F.sum(F.col("__m").cast("decimal(28,12)")).cast("double").alias("score")
    )
    w = Window.partitionBy("query_id").orderBy(
        F.col("score").desc_nulls_last(), F.col("id").asc()
    )
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select("query_id", "id", "score", "rank")
    )


def knn_hamming(
    vectors: DataFrame,
    queries: DataFrame,
    k: int = 10,
    *,
    id_col: str = "vec_id",
    word_cols: tuple = ("w0", "w1"),
    query_id_col: str = "query_id",
    query_word_cols: tuple = ("qw0", "qw1"),
    rerank: int | None = None,
    raw: DataFrame | None = None,
    raw_id_col: str = "id",
    raw_vec_col: str = "vec",
    query_vec_col: str = "query_embedding",
    strategy: str = "auto",
) -> DataFrame:
    """Binary-quantized (sign-bit) k-NN: Hamming distance over packed
    words — the 32× storage tier of the compression ladder (SQ8 4×,
    PQ 16×). Vectors/queries carry their codes in `word_cols` /
    `query_word_cols` (long columns from vm.bq_encode_words).

    Without `rerank`: returns (query_id, id, hamming, rank), rank 1..k
    ascending by (hamming, id) — deterministic, oracle-reproducible.
    With `rerank` = R and `raw` (id, vec): Hamming top-R candidates are
    re-ranked by exact euclidean distance against the raw vectors and
    the result is (query_id, id, distance, rank) 1..k by (distance, id)
    — the standard serve shape where only R × n_queries full-precision
    rows are ever touched.

    strategy mirrors knn(): "window" = vm.hamming_words expression fold
    (bitwise-exact vs the DuckDB oracle) + WindowGroupLimit; "numpy" =
    the vecblock XOR/popcount kernel with per-partition top-k (integer
    math — kernel and fold agree EXACTLY, unlike the float kernels);
    "auto" flips on vecblock.AUTO_NUMPY_THRESHOLD. At 100 TB the kernel
    path scans the packed words once, in place — 16 B/row for 64 dims —
    and shuffles only p × q × k candidate rows. A NULL word makes the
    row's (or probe's) Hamming distance NULL, ranked last."""
    fetch = rerank if rerank is not None else k
    q = queries.select(
        F.col(query_id_col).alias("query_id"),
        *[F.col(c).alias(f"__qw{i}") for i, c in enumerate(query_word_cols)],
    )
    if choose_strategy(strategy, vectors) == "numpy":
        narrow = topk_scan(
            spread(vectors).select(
                F.col(id_col).alias("id"),
                F.array(*[F.col(c) for c in word_cols]).alias("__words"),
            ),
            q.select("query_id", F.array(*q.columns[1:]).alias("__qwords")),
            "hamming", fetch, vec_col="__words", dist="hamming", dist_type="long",
            d=len(word_cols), dtype=np.int64,
        )
    else:
        ham = vm.hamming_words(
            [F.col(f"__qw{i}") for i in range(len(query_word_cols))],
            [F.col(c) for c in word_cols],
        )
        narrow = (
            spread(vectors)
            .select(F.col(id_col).alias("id"), *word_cols)
            .crossJoin(F.broadcast(q))
            .select("query_id", "id", ham.cast("long").alias("hamming"))
        )
    wham = Window.partitionBy("query_id").orderBy(
        F.col("hamming").asc_nulls_last(), F.col("id").asc()
    )
    cands = (
        narrow.withColumn("rank", F.row_number().over(wham))
        .filter(F.col("rank") <= fetch)
    )
    if rerank is None:
        return cands.select("query_id", "id", "hamming", "rank")
    if raw is None:
        raise ValueError("rerank requires raw=(id, vec) full-precision table")
    qv = F.broadcast(queries.select(
        F.col(query_id_col).alias("query_id"),
        vm.as_double(query_vec_col).alias("__qvec"),
    ))
    rv = raw.select(
        F.col(raw_id_col).alias("id"), vm.as_double(raw_vec_col).alias("__vvec")
    )
    dist = vm.distance("euclidean", "__qvec", "__vvec")
    wfin = Window.partitionBy("query_id").orderBy(
        F.col("distance").asc_nulls_last(), F.col("id").asc()
    )
    return (
        # candidates are bounded at R × n_queries rows — BROADCAST them
        # so the big raw table streams map-side instead of shuffling
        # (measured at 10M: the plain join exchanged 3.7 GiB of raw
        # vectors; the broadcast build exchanges only the candidates)
        F.broadcast(cands.select("query_id", "id"))
        .join(rv, "id")
        .join(qv, "query_id")
        .select("query_id", "id", dist.alias("distance"))
        .withColumn("rank", F.row_number().over(wfin))
        .filter(F.col("rank") <= k)
        .select("query_id", "id", "distance", "rank")
    )


def self_knn(
    vectors: DataFrame,
    n_probes: int,
    k: int = 10,
    metric: str = "euclidean",
    *,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    **kwargs,
) -> DataFrame:
    """k-NN using the first ``n_probes`` rows (by id) of the table itself as
    the probe set — the reference's own test pattern (self-query must return
    itself at distance 0, tests/integration_test.rs:29-47)."""
    probes = (
        vectors.orderBy(F.col(id_col).asc())
        .limit(n_probes)
        .select(F.col(id_col).alias("query_id"), F.col(vec_col).alias("query_embedding"))
    )
    return knn(vectors, probes, k=k, metric=metric, id_col=id_col, vec_col=vec_col, **kwargs)


def _spark_max(v, s):
    """Spark's ``max`` of two doubles: NULL ignored, NaN above every number."""
    if s is None or v is None:
        return v if s is None else s
    return s if s != s or (v == v and s > v) else v


def _score_desc_id_asc(row):
    """Sort key of a (score, id) row in Spark's ``score DESC, id ASC``:
    NaN first, NULL score last, -0.0 == 0.0, NULL id first."""
    score, i = row
    return ((2, 0.0) if score is None else (0, 0.0) if score != score else (1, -score),
            (0,) if i is None else (1, i))


def _mmr_greedy(k: int, lam: float):
    """The cogroup kernel of `mmr_diversify`: one query's k greedy picks
    from its shortlist (id, rel) and pair sims (id_a, id_b, sim). It keeps
    the semantics of the joins of the Spark plan it replaced: a NULL id or
    query_id matches nothing, and from step 2 on a candidate with no pair
    row against the picks sits the round out."""
    oneminus = 1.0 - lam

    def greedy(key, cands: pa.Table, pairs: pa.Table) -> pa.Table:
        qid = key[0].as_py()
        ids = cands.column("id").to_pylist()
        lrel = [None if r is None else lam * r for r in cands.column("rel").to_pylist()]
        by_b: dict = {}
        for a, b, s in zip(*(pairs.column(c).to_pylist() for c in ("id_a", "id_b", "sim"))):
            if a is not None and b is not None:
                by_b.setdefault(b, []).append((a, s))
        picks, msim = [], {}  # msim: id -> max sim to the picks (a key = has a pair row)
        rows = list(zip(lrel, ids))
        while rows and len(picks) < k and (qid is not None or not picks):
            score, pick = min(rows, key=_score_desc_id_asc)
            picks.append((pick, score))
            for a, s in by_b.get(pick, ()):
                msim[a] = _spark_max(msim[a], s) if a in msim else s
            chosen = {i for i, _ in picks}
            rows = [(None if r is None or msim[i] is None else r - oneminus * msim[i], i)
                    for r, i in zip(lrel, ids) if i in msim and i not in chosen]
        return pa.table({
            "query_id": pa.array([qid] * len(picks), cands.schema.field("query_id").type),
            "id": pa.array([i for i, _ in picks], cands.schema.field("id").type),
            "mmr_rank": pa.array(range(1, len(picks) + 1), pa.int32()),
            "score": pa.array([s for _, s in picks], pa.float64()),
        })

    return greedy


def mmr_diversify(
    cands: DataFrame,
    pair_sims: DataFrame,
    k: int = 5,
    lam: float = 0.5,
) -> DataFrame:
    """Maximal Marginal Relevance re-ranking (Carbonell & Goldstein,
    SIGIR 1998 — public): greedily pick, k times, the candidate that
    maximizes  lam·rel(c) − (1−lam)·max_{s∈selected} sim(c, s)  — high
    relevance AND low redundancy against what's already picked. The
    standard diversity tail of a RAG retrieval stack; absent from the
    reference (its search returns the raw top-k, src/storage.rs:217-245).

    `cands` is (query_id, id, rel) — the retrieval shortlist with its
    relevance score; `pair_sims` is (query_id, id_a, id_b, sim) for every
    ORDERED candidate pair (both directions) of a query. rel and sim come
    from Spark; one cogroup by query_id hands each query's rows to
    `_mmr_greedy`, which makes the k picks with the IEEE double
    operations Spark's expressions perform (step 1 scores lam·rel; ties
    on score DESC, id ASC), so the re-rank stays value-exact against the
    unrolled SQL twin (plans/registry.py knn_mmr_diversify).

    Scale: one shuffle of each input by query_id and no job while the
    plan is built; the shortlist per query is small by construction
    (k' ≲ 100 from any search path), so a cogroup's state is bounded and
    queries shard freely.

    Returns (query_id, id, mmr_rank 1..k, score)."""
    q = "query_id"
    schema = StructType([
        StructField(q, cands.schema[q].dataType),
        StructField("id", cands.schema["id"].dataType),
        StructField("mmr_rank", IntegerType()),
        StructField("score", DoubleType()),
    ])
    return (
        cands.select(q, "id", F.col("rel").cast("double")).groupBy(q)
        .cogroup(pair_sims.select(q, "id_a", "id_b", F.col("sim").cast("double")).groupBy(q))
        .applyInArrow(_mmr_greedy(k, lam), schema)
    )


def ranking_metrics(
    approx: DataFrame,
    exact: DataFrame,
    k: int = 10,
    idcg: float | None = None,
) -> DataFrame:
    """Offline retrieval evaluation: MRR and nDCG@k of a ranking against
    exact ground truth (Järvelin & Kekäläinen, "Cumulated gain-based
    evaluation of IR techniques", TOIS 2002 — public; the metric every
    search-quality pipeline reports next to recall). Binary relevance:
    a result is relevant iff it appears in the exact top-k.

    `approx` and `exact` are (query_id, id, rank) tables from any search
    path — rankings are rankings, so this composes with exact/SRP/IVF/
    PQ/hybrid outputs unchanged. Returns one row per query:
    (query_id, rr, ndcg_at_k, n_relevant).

    Determinism: relevance is a join; DCG folds contributions in rank
    order (sorted collect_list → left fold); discounts use ln(rank+1)/
    ln(2) explicitly — the same ln both engines' oracles already rely
    on — and the IDCG normalizer is a Python-computed literal embedded
    identically on both sides, so the metric is value-exact
    oracle-twinnable. One narrow join + one bounded aggregation —
    queries shard freely at any scale."""
    import math

    if idcg is None:
        idcg = sum(1.0 / (math.log(i + 1) / math.log(2.0)) for i in range(1, k + 1))
    rel_tbl = exact.filter(F.col("rank") <= k).select(
        "query_id", "id", F.lit(1.0).alias("__rel")
    )
    j = (
        approx.filter(F.col("rank") <= k)
        .join(rel_tbl, ["query_id", "id"], "left")
        .select(
            "query_id", "rank", F.coalesce("__rel", F.lit(0.0)).alias("rel")
        )
    )
    ln2 = F.log(F.lit(2.0))
    per = j.select(
        "query_id", "rank", "rel",
        (F.col("rel") / (F.log((F.col("rank") + 1).cast("double")) / ln2)).alias("c"),
    )
    dcg = F.aggregate(
        F.transform(
            F.array_sort(F.collect_list(F.struct("rank", "c"))), lambda s: s["c"]
        ),
        F.lit(0.0),
        lambda a, x: a + x,
    )
    first_rel = F.min(F.when(F.col("rel") > 0, F.col("rank")))
    return per.groupBy("query_id").agg(
        F.round(
            F.coalesce(F.lit(1.0) / first_rel.cast("double"), F.lit(0.0)), 6
        ).alias("rr"),
        F.round(dcg / F.lit(idcg), 6).alias(f"ndcg_at_{k}"),
        F.sum("rel").cast("long").alias("n_relevant"),
    )
