"""Product quantization (PQ): the top rung of the compression ladder.

SQ8 (functions/vectormath.py) compresses 4×, MRL prefixes 2–4×, sign-bit
BQ 32× — PQ closes the ladder with the design FAISS made standard for
billion-scale serving (Jégou, Douze, Schmid, "Product Quantization for
Nearest Neighbor Search", TPAMI 2011; public): split each d-dim vector
into `m` subspaces of d/m dims, learn a small per-subspace codebook of
`ks` centroids, and store each vector as m one-byte codes. At m=8,
ks≤256 over 64-dim float32, that is 8 bytes/vector vs 256 — a 32×
storage cut *with* graceful recall (unlike BQ's fixed sign bits, the
codebooks adapt to the data distribution).

Search is ADC (asymmetric distance computation): the raw query is
compared against the codebooks ONCE into an m×ks lookup table, and every
candidate's approximate distance is m table lookups + adds — no decode
of the database side, ever. The LUT (m·ks doubles per query) broadcasts;
candidates stream through one scan stage; the optional exact re-rank
touches only the shortlist.

The three searches — flat (pq_adc_topk), IVF-routed (ann_knn_ivf_pq)
and residual IVF-routed (ann_knn_ivf_pq_residual) — differ only in which
code rows they scan and which LUT each row meets. They share one LUT
build (_adc_lut), one in-plan ADC fold (_adc_fold), one mapInArrow ADC
kernel (_adc_kernel) and one shortlist/re-rank finish
(ann._shortlist_finish), and take one strategy vocabulary: "expr" (the
fold), "kernel" or "auto" (vecblock.choose_strategy).

Everything is deterministic and engine-portable, the repo's oracle
contract: the codebook trains on the same deterministic Lloyd as
ann.build_ivf_det (ann.det_lloyd: md5(id)-ordered seeds, the fixed
two-level id-block reduction tree whose sums are independent of Spark's
partitioning, assignment ties broken on code asc), and the ADC sum folds
sub-ascending. The DuckDB twin in plans/registry.py
reproduces every value bit-for-bit.

Not in the reference (it stores raw f32 and searches flat or via HNSW,
src/vector.rs / src/hnsw/graph.rs); the parity target is the public
FAISS IVF-PQ/ADC design re-expressed as pure DataFrame ops.

Scale notes (the reason this rung exists): at 100 TB of raw vectors the
PQ code table is ~3 TB; an IVF-routed probe over codes reads n_probe/
n_lists of THAT, and the broadcast LUT keeps the scan stage shuffle-free
until the final per-query top-k. Codebook training runs on a sample in
production (the det path is the correctness spec, as with build_ivf_det).
"""

from __future__ import annotations

from collections.abc import Iterator

import numpy as np
import pyarrow as pa
import pyarrow.compute as pc
from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from ..functions import vectormath as vm
from .ann import (
    _qualifying_ids, _route_queries, _shortlist_finish, det_lloyd, md5_seeds,
    spread_vectors,
)
from .vecblock import (
    Block, _first_k, _within_kth, choose_strategy, collect_probes, map_blocks,
)

__all__ = [
    "pq_codebook", "pq_encode", "pq_encode_kernel", "pq_adc_topk", "subvectors",
    "ivf_pq_index", "ann_knn_ivf_pq",
    "ivf_residuals", "ivf_pq_residual_index", "ann_knn_ivf_pq_residual",
]


def subvectors(vectors: DataFrame, m: int, d_sub: int,
               *, id_col: str = "id", vec_col: str = "vec") -> DataFrame:
    """Explode (id, vec) into (id, sub, svec): m contiguous d_sub-dim
    slices per vector. A narrow projection — no shuffle; the explode
    multiplies rows ×m but each carries only d_sub values."""
    slices = F.array(*[
        F.slice(vm.as_double(vec_col), i * d_sub + 1, d_sub) for i in range(m)
    ])
    return vectors.select(
        F.col(id_col).cast("long").alias("id"),
        F.posexplode(slices).alias("sub", "svec"),
    )


def pq_codebook(
    vectors: DataFrame,
    m: int = 8,
    ks: int = 16,
    dim: int = 64,
    iters: int = 1,
    *,
    block: int = 4096,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Deterministic PQ codebook: (sub int, code int, cvec array<double>),
    m·ks rows. Init takes the first `ks` vectors ordered by md5(id) and
    slices them — codebook cell (sub, c) starts as seed c's sub-th slice
    — then runs `iters` ann.det_lloyd rounds per subspace, group (sub,
    code): all subspaces train in ONE job chain, sub is just a key. No
    collect anywhere; the result is a tiny DataFrame callers broadcast."""
    if dim % m != 0:
        raise ValueError(f"dim {dim} not divisible by m {m}")
    d_sub = dim // m
    # spread sized for the ×m subvector explode the Lloyd rounds iterate
    # over: subvectors() is narrow, so sv inherits this partitioning
    v = spread_vectors(vectors, id_col, vec_col, fanout=m)
    cb = subvectors(md5_seeds(v, ks, "code"), m, d_sub, id_col="code", vec_col="cvec").select(
        "sub", F.col("id").cast("int").alias("code"), F.col("svec").alias("cvec")
    )
    sv = subvectors(v, m, d_sub).select("sub", "id", F.col("svec").alias("vec"))
    return det_lloyd(sv, cb, iters, block, group=("sub", "code"))


def pq_encode(
    vectors: DataFrame,
    codebook: DataFrame,
    m: int,
    d_sub: int,
    *,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    passthrough: tuple[str, ...] = (),
) -> DataFrame:
    """Encode every vector as its m nearest-subspace-centroid codes:
    (id long, codes array<int>), codes ordered sub-ascending. This is
    the stored index — ~m bytes/vector in parquet (int codes ≤ ks
    dictionary-encode to ~1 byte) vs 4·dim raw.

    ONE narrow map over the vectors: the whole codebook collapses to a
    single broadcast row of per-subspace (code, cvec) arrays and every
    subspace's argmin evaluates as a per-row array_min expression —
    same left-fold distances, same (d asc, code asc) tie-break, so the
    codes are bit-identical to the pre-r11 explode → argmin →
    groupBy(id) collect shape, with its TWO exchanges of rows×m /
    rows×1 records removed outright (guide §2.4; verified
    exceptAll-empty at sf0.01). ``passthrough`` copies extra `vectors`
    columns to the output unchanged (saves the id-join when the caller
    needs them alongside codes — same contract as pq_encode_kernel).

    NOTE on parallelism: this is a pure narrow map — it inherits its
    input's partitioning. Callers encoding a small single-file scan
    should spread the SHALLOW input themselves (ann.spread_vectors, as
    the IVF and PQ builders do); probing partition counts here would
    force a full physical planning pass over arbitrarily deep input
    plans at DataFrame-build time (measured: tens of driver seconds on
    the ivf_pq chain — guide §7.3 'planning is driver-side work')."""
    cb_nested = (
        codebook.groupBy("sub")
        .agg(F.collect_list(F.struct("code", "cvec")).alias("cbs"))
        .groupBy()
        .agg(
            F.transform(
                F.array_sort(F.collect_list(F.struct("sub", "cbs"))),
                lambda s: s["cbs"],
            ).alias("__cbm")
        )
    )
    vd = vm.as_double(vec_col)
    # index-lambda transform, NOT an m-way unrolled F.array: unrolling
    # builds an m·ks-fold expression tree that Catalyst/codegen choke on
    # (measured: 100 s of plan-side stall on the ivf_pq chain); this
    # form is one fold lambda evaluated m×ks times per row — same
    # arithmetic, constant-size tree
    codes = F.transform(
        F.col("__cbm"),
        lambda cbs, i: F.array_min(
            F.transform(
                cbs,
                lambda c: F.struct(
                    vm.euclidean_distance(
                        F.slice(vd, i * F.lit(d_sub) + 1, F.lit(d_sub)), c["cvec"]
                    ).alias("d"),
                    c["code"].alias("c"),
                ),
            )
        )["c"],
    )
    return vectors.crossJoin(F.broadcast(cb_nested)).select(
        F.col(id_col).cast("long").alias("id"),
        codes.alias("codes"),
        *[F.col(c) for c in passthrough],
    )


def pq_encode_kernel(
    vectors: DataFrame,
    codebook: DataFrame,
    m: int,
    d_sub: int,
    *,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    centroids: DataFrame | None = None,
    passthrough: tuple[str, ...] = (),
) -> DataFrame:
    """Arrow-batched BLAS twin of pq_encode — the index-BUILD scale path.
    The fold plan is one narrow map that evaluates m·ks interpreted
    euclidean folds per row (one lambda step per subspace dimension per
    code): exact and oracle-twinned, but at 100M rows × m=16 × ks=256 ×
    d_sub=4 that is 1.6·10¹² interpreted steps. This kernel collects the codebook
    (m·ks rows — tiny) into the task closure and encodes each Arrow batch
    with m batched argmin GEMMs over the (ks × d_sub) sub-codebooks: the
    same narrow pass, with the distances in BLAS.

    Tie-break matches the fold's (distance asc, code asc): np.argmin
    returns the first minimum and codes are ordered ascending. Same
    last-ulp caveat as ann.assign_ivf_kernel — the oracle-twinned
    registry builds keep the fold.

    ``centroids``: optional (list_id, cvec) coarse centroids. When given,
    the input must carry a `list_id` column and the kernel encodes the
    RESIDUAL vec − centroid[list_id] (the fused ivf_residuals ∘
    pq_encode pass — the residual subtraction costs one gather instead
    of a join). ``passthrough`` columns copy through unchanged."""
    import numpy as np
    import pandas as pd

    cb_rows = codebook.select("sub", "code", "cvec").collect()
    cb = np.zeros((m, max(r["code"] for r in cb_rows) + 1, d_sub), dtype=np.float64)
    for r in cb_rows:
        cb[r["sub"], r["code"], :] = list(r["cvec"])
    cb2 = (cb * cb).sum(axis=2)  # (m, ks)
    cent_mat = None
    if centroids is not None:
        crows = sorted(centroids.select("list_id", "cvec").collect(),
                       key=lambda r: r["list_id"])
        # list_ids are dense 0..n-1 by construction (build_ivf_det row
        # numbers); index the matrix directly by list_id
        cent_mat = np.asarray([list(r["cvec"]) for r in crows], dtype=np.float64)

    extra = list(passthrough)
    need = [F.col(id_col).cast("long").alias("id"), vm.as_double(vec_col).alias("vec")]
    if cent_mat is not None:
        need.append(F.col("list_id").cast("int").alias("list_id"))
        if "list_id" in extra:
            extra.remove("list_id")
    v = vectors.select(*need, *extra)
    emit_list = cent_mat is not None

    def run(batches):
        for pdf in batches:
            if pdf.empty:
                continue
            X = np.stack(pdf["vec"].to_numpy()).astype(np.float64, copy=False)
            if cent_mat is not None:
                X = X - cent_mat[pdf["list_id"].to_numpy()]
            S = X.reshape(len(X), m, d_sub)
            codes = np.empty((len(X), m), dtype=np.int32)
            for s in range(m):
                codes[:, s] = np.argmin(
                    S[:, s, :] @ (-2.0 * cb[s].T) + cb2[s][None, :], axis=1
                )
            out = {"id": pdf["id"].to_numpy(), "codes": list(codes)}
            if cent_mat is not None:
                out["list_id"] = pdf["list_id"].to_numpy()
            for c in extra:
                out[c] = pdf[c].values
            yield pd.DataFrame(out)

    extra_schema = "".join(
        f", {c} {vectors.schema[c].dataType.simpleString()}" for c in extra
    )
    lid = ", list_id int" if emit_list else ""
    return v.mapInPandas(run, schema=f"id long, codes array<int>{lid}{extra_schema}")


def _adc_lut(rows: DataFrame, codebook: DataFrame, d_sub: int,
             keys: tuple[str, ...]) -> DataFrame:
    """One m×ks lookup table per ``keys`` group of ``rows``: the squared
    distance from each d_sub-dim slice of the row's ``__lq`` vector to
    every codebook cell of that subspace, flattened sub-major (index
    sub·ks + code) into ``__lut``. ``__qvec`` rides along for the exact
    re-rank. rows ⨯ codebook — both tiny."""
    lq = F.slice(F.col("__lq"), F.col("sub") * d_sub + 1, F.lit(d_sub))
    return (
        rows.crossJoin(F.broadcast(codebook))
        .select(
            *keys, "__qvec", "sub", "code",
            vm.squared_euclidean(lq, F.col("cvec")).alias("d2"),
        )
        .groupBy(*keys)
        .agg(
            F.first("__qvec").alias("__qvec"),
            F.transform(
                F.array_sort(F.collect_list(F.struct("sub", "code", "d2"))),
                lambda s: s["d2"],
            ).alias("__lut"),
        )
    )


def _adc_fold(ks: int) -> Column:
    """A row's ADC distance against its ``__lut``: sqrt of the m table
    lookups, folded sub-ascending from 0.0 — the summation order the
    DuckDB twin reproduces bit for bit (the oracle spec)."""
    return F.sqrt(
        F.aggregate(
            F.transform(
                F.col("codes"),
                lambda c, i: F.element_at(F.col("__lut"), (i * ks + c + 1).cast("int")),
            ),
            F.lit(0.0),
            lambda a, x: a + x,
        )
    )


# Candidates one flat-search gather scores at once: bounds the (rows, m)
# index and value temporaries when many queries meet one Arrow batch.
_ADC_ROWS = 1 << 18


def _adc_kernel(src: DataFrame, luts: DataFrame, ks: int,
                emit_top: int) -> DataFrame | None:
    """The ADC scan as one vecblock kernel, or None when there is no LUT
    (no queries, or no routed list) to score against.

    ``luts`` is collected once into a (G, m, ks) slab. Flat search passes
    (query_id, __lut): every ``src`` row (id, codes) is scored against
    every LUT. Routed search passes (query_id, __lists, __lut): each
    ``src`` row (query_id, list_id, id, codes) is scored against the LUT
    its (query_id, list_id) pair was routed with, found by a binary search
    over the sorted composite keys query_id·mult + list_id (integral ids).

    Per Arrow batch the codes decode to an (n, m) matrix, each candidate's
    distance is one gather of its LUT row plus a row sum, and each query's
    first ``emit_top`` under (adist, id) leave the executor — lossless for
    the final window. The sum may differ from the fold in the last ulp."""
    keys, L, lvalid = collect_probes(luts)
    if not len(L):
        return None
    if L.shape[1] % ks:
        raise ValueError(
            f"LUT length {L.shape[1]} is not a multiple of ks={ks}: the "
            "codebook trained fewer than ks codes per subspace (training "
            "sample smaller than ks?) — the expression path would mis-index "
            "the same LUT silently; fix the codebook or pass the actual ks"
        )
    lut = L.reshape(len(L), -1, ks)
    m = lut.shape[1]
    subs = np.arange(m)[None, :]
    qkeys = keys.column("query_id").combine_chunks()
    # each LUT row's query as a dense group number: _first_k's grouping
    qgroup = pc.dictionary_encode(qkeys).indices.to_numpy(zero_copy_only=False)
    routed = "__lists" in keys.column_names
    if routed:
        lists = keys.column("__lists").combine_chunks()
        lids = lists.flatten().to_numpy(zero_copy_only=False).astype(np.int64)
        if not len(lids):
            return None
        mult = int(lids.max()) + 1
        slab_row = pc.list_parent_indices(lists).to_numpy()
        pair = qkeys.to_numpy(zero_copy_only=False).astype(np.int64)[slab_row] * mult + lids
        order = np.argsort(pair)
        pair, slab_row = pair[order], slab_row[order]

    def candidates(batch: pa.RecordBatch, n: int):
        """(LUT row, scan row) of every candidate in ``batch``."""
        if not routed:  # row-major: candidate i·w + j is row i × LUT q0 + j
            step = max(1, _ADC_ROWS // n)
            for q0 in range(0, len(lut), step):
                qs = np.arange(q0, min(q0 + step, len(lut)))
                yield np.tile(qs, n), np.repeat(np.arange(n), len(qs))
            return
        comp = (
            batch.column("query_id").to_numpy(zero_copy_only=False).astype(np.int64) * mult
            + batch.column("list_id").to_numpy(zero_copy_only=False).astype(np.int64)
        )
        # fail loudly on a key miss: a pair absent from the collected
        # routing (or an int64 overflow of the composite key for
        # hash-derived query ids) would otherwise gather a neighboring
        # LUT row and mis-score silently; the clamp keeps the compare
        # itself in bounds at the array end
        at = np.minimum(np.searchsorted(pair, comp), len(pair) - 1)
        if not np.array_equal(pair[at], comp):
            missing = comp[pair[at] != comp]
            raise ValueError(
                "ADC kernel: (query_id, list_id) pair(s) absent from the "
                f"routed key set (first composite key: {int(missing[0])}) — "
                "routing out of sync with the candidate scan, or "
                "composite-key overflow for very large query ids"
            )
        yield slab_row[at], np.arange(n)

    def reduce(blocks: Iterator[Block]) -> Iterator[pa.RecordBatch]:
        for batch, C, valid in blocks:
            ids = batch.column("id")
            idn = ids.to_numpy(zero_copy_only=False)
            for g, rows in candidates(batch, len(C)):
                # a (candidates, m) gather summed per row: a (queries,
                # rows, m) gather summed over its last axis rounds
                # differently in the last ulp once m ≥ 8
                d2 = lut[g[:, None], subs, C[rows]].sum(axis=1)
                null = ~(valid[rows] & lvalid[g])
                if not routed:  # cut each query to its emit_top-th before the sort
                    r, c = _within_kth(np.where(null, np.nan, d2).reshape(len(C), -1), emit_top)
                    sel = r * (len(g) // len(C)) + c
                    g, rows, d2, null = g[sel], rows[sel], d2[sel], null[sel]
                keep = _first_k(qgroup[g], d2, null, idn[rows], emit_top)
                yield pa.RecordBatch.from_arrays(
                    [qkeys.take(g[keep]), ids.take(rows[keep]),
                     pa.array(np.sqrt(d2[keep]), mask=null[keep])],
                    names=["query_id", "id", "adist"],
                )

    schema = (f"query_id {luts.schema['query_id'].dataType.simpleString()}, "
              f"id {src.schema['id'].dataType.simpleString()}, adist double")
    return map_blocks(src, "codes", m, reduce, schema, np.int64)


def _adc_search(kernel: bool, src: DataFrame, luts: DataFrame, scan: DataFrame,
                q: DataFrame, ks: int, k: int, rerank: int,
                raw: DataFrame | None) -> DataFrame:
    """The PQ searches' shared tail. ``kernel``: score ``src`` with
    _adc_kernel against ``luts``; its narrow (query_id, id, adist) output
    joins the probes ``q`` back for the re-rank. Otherwise — or when there
    is no LUT to score against — fold ``scan`` (the candidates joined to
    their LUT row) in the plan, carrying ``__qvec``. Both end in
    ann._shortlist_finish."""
    emit_top = rerank if rerank and raw is not None else k
    cands = _adc_kernel(src, luts, ks, emit_top) if kernel else None
    if cands is None:
        cands = scan.select("query_id", "__qvec", "id", _adc_fold(ks).alias("adist"))
        q = None
    return _shortlist_finish(cands, k, rerank, raw, q)


def pq_adc_topk(
    codes: DataFrame,
    codebook: DataFrame,
    queries: DataFrame,
    k: int = 10,
    ks: int = 16,
    d_sub: int = 8,
    rerank: int = 0,
    raw: DataFrame | None = None,
    *,
    query_id_col: str = "query_id",
    query_vec_col: str = "query_embedding",
    predicate: Column | None = None,
    attrs: DataFrame | None = None,
    attrs_id_col: str = "vec_id",
    strategy: str = "auto",
) -> DataFrame:
    """Flat ADC search over PQ codes: build each query's m×ks lookup table
    of squared subspace distances ONCE (queries ⨯ codebook — both tiny)
    and score every code row as sqrt(Σ_sub lut[sub·ks + codes[sub]]) —
    m lookups and adds per row, zero decode.

    ``predicate`` over ``attrs`` composes the metadata filter exactly as
    on the SQ8/IVF/SRP paths: a qualifying-id semi-join prunes the code
    rows before scoring (pre-filter semantics — no starvation). With
    ``rerank`` ≥ k and ``raw`` (id, vec), the rerank-deep shortlist
    broadcasts into one join against the raw vectors for an exact
    euclidean final ranking — the standard two-stage PQ serving design.

    strategy (the same three values on all three PQ searches): "expr" =
    the in-plan sub-ascending element_at fold, bitwise-exact vs the
    DuckDB oracle (the sf0.01 correctness spec); "kernel" = the
    mapInArrow ADC kernel (_adc_kernel), whose adist may differ from the
    fold in the last ulp — pair it with rerank for exact final distances;
    "auto" = kernel at or above vecblock.AUTO_NUMPY_THRESHOLD code rows,
    matching every other kernel flip.

    Returns (query_id, id, distance, rank); `distance` is the ADC
    approximation unless re-ranked."""
    qualifying = _qualifying_ids(predicate, attrs, attrs_id_col)
    q = queries.select(
        F.col(query_id_col).alias("query_id"),
        vm.as_double(query_vec_col).alias("__qvec"),
    )
    lut = _adc_lut(q.withColumn("__lq", F.col("__qvec")), codebook, d_sub, ("query_id",))
    kernel = choose_strategy(strategy, codes, "kernel", "expr") == "kernel"
    if qualifying is not None:
        codes = codes.join(qualifying, "id", "left_semi")
    return _adc_search(
        kernel, codes.select("id", "codes"), lut.select("query_id", "__lut"),
        codes.crossJoin(F.broadcast(lut)), q, ks, k, rerank, raw,
    )


def ivf_pq_index(
    assigned: DataFrame,
    codebook: DataFrame,
    m: int,
    d_sub: int,
    *,
    id_col: str = "id",
    vec_col: str = "vec",
    encode: str = "fold",
) -> DataFrame:
    """IVF × PQ — the full FAISS-style coarse-then-fine layout: each row
    keeps (id, list_id, codes). Written partitioned by list_id, a probe
    reads n_probe partitions of ~m-byte codes — the two compression
    levers (read fewer rows × read fewer bytes per row) multiplied.
    Non-residual variant: codes quantize the RAW vector, not the
    residual vs the coarse centroid (residual PQ needs a per-(query,
    list) LUT; the shared-LUT form keeps ADC one broadcast — the
    accuracy gap is re-ranked away downstream).

    ``encode``: "fold" (default) = the oracle-exact expression encode;
    "kernel" = pq_encode_kernel's one-pass BLAS encode carrying list_id
    through (no id-join) — the scale path for 100M+ builds."""
    if encode == "kernel":
        return pq_encode_kernel(
            assigned, codebook, m, d_sub,
            id_col=id_col, vec_col=vec_col, passthrough=("list_id",),
        ).select("id", "codes", F.col("list_id").cast("int").alias("list_id"))
    # list_id rides through the narrow encode — the pre-r11 shape paid a
    # join of the encoded table back against (id, list_id) for it
    return pq_encode(
        assigned, codebook, m, d_sub,
        id_col=id_col, vec_col=vec_col, passthrough=("list_id",),
    )


def ann_knn_ivf_pq(
    index: DataFrame,
    centers: DataFrame,
    codebook: DataFrame,
    queries: DataFrame,
    k: int = 10,
    n_probe: int = 4,
    ks: int = 16,
    d_sub: int = 8,
    rerank: int = 0,
    raw: DataFrame | None = None,
    *,
    query_id_col: str = "query_id",
    query_vec_col: str = "query_embedding",
    predicate: Column | None = None,
    attrs: DataFrame | None = None,
    attrs_id_col: str = "vec_id",
    strategy: str = "auto",
) -> DataFrame:
    """IVF-PQ search: route each query to its n_probe nearest coarse
    centroids (ann.ann_knn_ivf's routing shape), scan ONLY those lists'
    PQ codes with ADC (one LUT per query, m lookups/row), then optionally
    exact-re-rank the shortlist against raw vectors. The distances and
    candidate sets are bit-deterministic, so the whole compose is
    value-exact oracle-twinnable (plans/registry.py ann_ivf_pq_knn).

    strategy: "auto", "kernel" or "expr", as on pq_adc_topk, with "auto"
    judged on the index rows. The kernel's one collect carries the
    routing and the LUTs together, one row per query — not one LUT per
    probed list.

    ``predicate`` over ``attrs`` composes the metadata filter exactly as
    on the SQ8/IVF/SRP paths (reference search_with_filter over any
    Index, src/storage.rs:249-290): a qualifying-id semi-join prunes
    code rows BEFORE the shortlist window, so shortlist and top-k fill
    from qualifying rows only — filter × coarse index × PQ, the full
    serve composition."""
    qualifying = _qualifying_ids(predicate, attrs, attrs_id_col)
    q = queries.select(
        F.col(query_id_col).alias("query_id"),
        vm.as_double(query_vec_col).alias("__qvec"),
    )
    routed = _route_queries(
        q, centers.select("list_id", F.col("cvec").alias("center")), n_probe
    ).select("query_id", "list_id")
    lut = _adc_lut(q.withColumn("__lq", F.col("__qvec")), codebook, d_sub, ("query_id",))
    kernel = choose_strategy(strategy, index, "kernel", "expr") == "kernel"
    if qualifying is not None:
        index = index.join(qualifying, "id", "left_semi")
    src = index.join(F.broadcast(routed), on="list_id")
    luts = (
        routed.groupBy("query_id")
        .agg(F.collect_list("list_id").alias("__lists"))
        .join(lut.select("query_id", "__lut"), "query_id")
    )
    return _adc_search(
        kernel, src.select("query_id", "list_id", "id", "codes"), luts,
        src.join(F.broadcast(lut), on="query_id"), q, ks, k, rerank, raw,
    )


def ivf_residuals(
    assigned: DataFrame,
    centroids: DataFrame,
    *,
    id_col: str = "id",
    vec_col: str = "vec",
) -> DataFrame:
    """Residual vectors r = v − centroid(list(v)): (id, list_id, rvec).
    A broadcast join + elementwise subtract — narrow, no shuffle. The
    residual distribution is centered near zero with far less variance
    than the raw vectors, which is why residual-PQ codebooks quantize
    tighter than raw-PQ codebooks at the same (m, ks)."""
    return assigned.join(
        F.broadcast(centroids.select("list_id", "cvec")), "list_id"
    ).select(
        F.col(id_col).alias("id"),
        "list_id",
        vm.vec_sub(vec_col, "cvec").alias("rvec"),
    )


def ivf_pq_residual_index(
    assigned: DataFrame,
    centroids: DataFrame,
    codebook: DataFrame,
    m: int,
    d_sub: int,
    *,
    id_col: str = "id",
    vec_col: str = "vec",
    encode: str = "fold",
) -> DataFrame:
    """TRUE FAISS IVF-PQ layout (Jégou et al. TPAMI 2011, §IV): codes
    quantize the RESIDUAL vs the assigned coarse centroid, not the raw
    vector — ivf_pq_index's documented accuracy gap closed. `codebook`
    must be trained on ivf_residuals (pq_codebook over rvec). Same
    (id, codes, list_id) schema as the non-residual index; only the
    meaning of the codes differs.

    ``encode``: "fold" (default) = oracle-exact expression encode over
    the joined residuals; "kernel" = pq_encode_kernel's FUSED
    residual-subtract + encode pass (centroid gather in the closure —
    no join, no shuffle) — the 100M+ build path."""
    if encode == "kernel":
        return pq_encode_kernel(
            assigned, codebook, m, d_sub,
            id_col=id_col, vec_col=vec_col, centroids=centroids,
        ).select("id", "codes", "list_id")
    res = ivf_residuals(assigned, centroids, id_col=id_col, vec_col=vec_col)
    codes = pq_encode(res, codebook, m, d_sub, id_col="id", vec_col="rvec")
    return codes.join(res.select("id", "list_id"), "id")


def ann_knn_ivf_pq_residual(
    index: DataFrame,
    centers: DataFrame,
    codebook: DataFrame,
    queries: DataFrame,
    k: int = 10,
    n_probe: int = 4,
    ks: int = 16,
    d_sub: int = 8,
    rerank: int = 0,
    raw: DataFrame | None = None,
    *,
    query_id_col: str = "query_id",
    query_vec_col: str = "query_embedding",
    predicate: Column | None = None,
    attrs: DataFrame | None = None,
    attrs_id_col: str = "vec_id",
    strategy: str = "auto",
) -> DataFrame:
    """Residual IVF-PQ search: the LUT is PER (query, probed list) —
    each probed list's residual query r_q = q − c_list gets its own
    m×ks table of squared subspace distances, so the ADC distance
    approximates ‖q − (c_list + recon(codes))‖ exactly as FAISS's
    IVFPQ does. LUT volume is n_queries × n_probe × m × ks doubles —
    still a broadcast (a few MB for realistic probe widths); candidates
    join it on (query_id, list_id), everything else matches
    ann_knn_ivf_pq (shortlist window, optional exact re-rank, optional
    metadata-filter semi-join). Deterministic end-to-end — value-exact
    oracle-twinnable (plans/registry.py ann_ivf_pq_res_knn).

    strategy: "auto", "kernel" or "expr", as on pq_adc_topk, with "auto"
    judged on the index rows. The kernel collects one LUT per (query,
    probed list) pair."""
    qualifying = _qualifying_ids(predicate, attrs, attrs_id_col)
    q = queries.select(
        F.col(query_id_col).alias("query_id"),
        vm.as_double(query_vec_col).alias("__qvec"),
    )
    routed = _route_queries(
        q, centers.select("list_id", F.col("cvec").alias("center")), n_probe,
        keep_center=True,
    )
    lut = _adc_lut(
        routed.select(
            "query_id", "list_id", "__qvec",
            vm.vec_sub("__qvec", "center").alias("__lq"),
        ),
        codebook, d_sub, ("query_id", "list_id"),
    )
    kernel = choose_strategy(strategy, index, "kernel", "expr") == "kernel"
    if qualifying is not None:
        index = index.join(qualifying, "id", "left_semi")
    src = index.join(F.broadcast(routed.select("query_id", "list_id")), on="list_id")
    # one lut row per (query, probed list): joining on list_id alone
    # yields exactly the candidates of that query's probed lists
    return _adc_search(
        kernel, src.select("query_id", "list_id", "id", "codes"),
        lut.select("query_id", F.array("list_id").alias("__lists"), "__lut"),
        index.join(F.broadcast(lut), on="list_id"), q, ks, k, rerank, raw,
    )
