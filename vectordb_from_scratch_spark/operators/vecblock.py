"""One vector-block kernel path and one strategy decision for the
vector operators: exact top-k (knn), radius, MaxSim, Hamming top-k and
SRP bucket assignment.

Every kernel is the same skeleton:

    one driver-side probe collect  →  (nq, d) matrix Q
    mapInArrow over the vector scan, per Arrow batch:
        decode_block  →  (n, d) matrix V + validity mask   (no per-row decode)
        the operator's scorer/reducer (pairwise + partial top-k,
        ball filter, MaxSim max per id, SRP sign buckets)

and every ``strategy="auto"`` site — these operators and the PQ ADC
serve kernels — resolves through ``choose_strategy``, the one place that
compares ``estimated_rows`` against a threshold.

NULL and ragged semantics (the fold expressions' semantics, which the
kernels reproduce): a vector row that is NULL, holds a NULL element, or
whose length differs from the probes' dimension ``d`` is not a vector —
every distance to it is NULL, and a NULL probe scores NULL against every
row. Cosine against a zero vector is NULL too. NULL distances rank last
in top-k (ties broken by id), never fall inside a radius, and are
skipped by MaxSim's max; a doc whose every vector is NULL scores NULL.
NaN elements propagate as NaN (NULL under cosine, whose norm test
fails), which Spark orders after every number and before NULL. SRP gives
a non-vector row bucket 0 in every table (each sign test of a NULL dot
product is false). The kernels emit NULL explicitly: mapInArrow, unlike
mapInPandas, does not turn NaN into NULL. ``d`` is the length of the first non-NULL probe
(the fixed word count for Hamming, the plane dimension for SRP); a probe
of another length scores NULL everywhere on the kernel path.

Ties: partial top-k keeps each query's first k rows under
(NULL last, distance, id) — the final window's order — so the per-batch
and per-partition cuts are lossless. This skeleton is also the one place
a global k-th-distance bound could later prune whole partitions.
"""

from __future__ import annotations

from collections.abc import Callable, Iterator

import numpy as np
import pyarrow as pa
import pyarrow.compute as pc
from pyspark.sql import DataFrame

from ..sources.tables import footer_rows

__all__ = [
    "AUTO_NUMPY_THRESHOLD",
    "SRP_KERNEL_THRESHOLD",
    "estimated_rows",
    "choose_strategy",
    "decode_block",
    "collect_probes",
    "pairwise",
    "map_blocks",
    "topk_scan",
]

# Above this many vector rows, strategy="auto" switches from the fold
# expression path (bitwise-exact vs the DuckDB oracle, but interpreted —
# Spark does not codegen higher-order lambdas, ~tens of µs per pair) to
# the kernel (BLAS matmul, float64 results that can differ from the fold
# in the last ulp). Re-swept r10 (tools/kernel_crossover_bench.py): the
# kernel wins at EVERY measured decade (2k: 0.67 vs 0.95 s; 30k: 0.60 vs
# 1.62; 100k: 0.63 vs 4.0; 300k: 0.91 vs 12.5; flat-ADC numpy 13× at
# 1M). The floor is not a performance crossover: it only keeps tables at
# or below the oracle-checked scales (sf0.1 = 2,000 rows, exact-counted
# from parquet footers) on the bitwise-exact path, at a measured cost of
# ≤0.3 s.
AUTO_NUMPY_THRESHOLD = 5_000

# SRP bucket assignment flips lower than the kNN kernels because the
# failure modes differ: the kNN distance kernel differs from the fold in
# the last ulp on essentially EVERY pair (summation order), while SRP
# only consumes the SIGN of each projection — kernel and fold disagree
# only when a projection lands within float-reordering error (~1e-13
# relative) of exactly 0, a measure-zero boundary that real embeddings
# don't hit (asserted in tests/test_ann_recall.py). Re-swept r10: the
# kernel wins at every measured size down to 500 rows (0.83 vs 2.17 s;
# 200k: 3.65 vs 4.73; ~1× at 1M where the scan dominates), so 1,000 only
# keeps the oracle-checked scale (sf0.01 = 500 rows) on the
# DuckDB-twinned bitwise path.
SRP_KERNEL_THRESHOLD = 1_000

# Divisor turning Catalyst's sizeInBytes into a row estimate. Measured
# parquet footprints for 64-dim float embedding rows in this repo run
# ~107-390 B/row depending on column mix and encoder; 64 deliberately
# OVER-estimates rows so "auto" flips to the fast kernel early rather
# than late (a late flip costs 57x — SCALE.md; an early one only trades
# last-ulp exactness the oracle scale never reaches).
EST_ROW_BYTES = 64

# Catalyst reports defaultSizeInBytes (a Long.MaxValue-scale sentinel)
# for sources with no real statistics — LogicalRDD, in-memory stores.
# Anything this large is "unknown", not "huge".
_STATS_UNKNOWN = 1 << 60


def estimated_rows(df: DataFrame) -> int:
    """Metadata-only row estimate for strategy selection.

    Three tiers, all jobless (a df.count() here would be a
    driver-blocking scan of the full vector table before every search):
      1. Catalyst's optimized-plan rowCount, when CBO stats exist.
      2. EXACT parquet footer counts for small local file scans
         (tables.footer_rows) — exactness is what lets the thresholds
         sit close to the oracle-checked scales.
      3. sizeInBytes // EST_ROW_BYTES, a deliberate over-estimate so
         big tables flip to the fast kernel early rather than late.

    Returns 0 (→ the exact expression path) when the plan has no real
    statistics (in-memory/RDD-backed sources report a Long.MaxValue-scale
    default): small facade stores stay on the bitwise-exact path, and
    tables big enough for the kernel to matter come from files."""
    stats = df._jdf.queryExecution().optimizedPlan().stats()
    rc = stats.rowCount()
    if rc.isDefined():
        return int(str(rc.get()))
    size = int(stats.sizeInBytes())
    if size >= _STATS_UNKNOWN:
        return 0
    exact = footer_rows(df)
    if exact is not None:
        return exact
    return size // EST_ROW_BYTES


def choose_strategy(
    strategy: str,
    df: DataFrame,
    kernel: str = "numpy",
    fold: str = "window",
    *,
    srp: bool = False,
) -> str:
    """Resolve ``strategy``: "auto" becomes ``kernel`` when ``df`` has at
    least the threshold's rows (SRP_KERNEL_THRESHOLD with ``srp``, else
    AUTO_NUMPY_THRESHOLD), else ``fold``; an explicit strategy must be
    ``kernel`` or ``fold``."""
    if strategy == "auto":
        threshold = SRP_KERNEL_THRESHOLD if srp else AUTO_NUMPY_THRESHOLD
        return kernel if estimated_rows(df) >= threshold else fold
    if strategy not in (kernel, fold):
        raise ValueError(f"strategy must be auto|{kernel}|{fold}, got {strategy!r}")
    return strategy


def decode_block(col: pa.ListArray, d: int,
                 dtype=np.float64) -> tuple[np.ndarray, np.ndarray]:
    """A list column as an (n, d) matrix plus a validity mask, decoded
    from the flattened values and the row lengths — no per-row Python.
    NULL rows, rows with a NULL element and rows whose length is not
    ``d`` are invalid and left as zeros."""
    n = len(col)
    lens = pc.fill_null(pc.list_value_length(col), -1).to_numpy()
    valid = lens == d
    flat = col.flatten()
    if flat.null_count:
        holes = pc.is_null(flat).to_numpy(zero_copy_only=False)
        valid[pc.list_parent_indices(col).to_numpy()[holes]] = False
        flat = pc.fill_null(flat, 0)
    vals = flat.to_numpy(zero_copy_only=False).astype(dtype, copy=False)
    if valid.all():
        return vals.reshape(n, d), valid
    sizes = np.maximum(lens, 0)
    starts = np.cumsum(sizes) - sizes
    rows = np.flatnonzero(valid)
    M = np.zeros((n, d), dtype)
    M[rows] = vals[starts[rows, None] + np.arange(d)]
    return M, valid


def collect_probes(probes: DataFrame, d: int | None = None, dtype=np.float64
                   ) -> tuple[pa.Table, np.ndarray, np.ndarray]:
    """One driver-side collect of the probe rows (key columns first, the
    vector column last) → (keys, Q, valid). ``d`` defaults to the length
    of the first non-NULL probe vector; zero probes give a (0, d) Q."""
    t = probes.toArrow()
    vec = t.column(t.num_columns - 1).combine_chunks()
    if d is None:
        lens = pc.drop_null(pc.list_value_length(vec))
        d = lens[0].as_py() if len(lens) else 0
    Q, valid = decode_block(vec, d, dtype)
    return t.drop_columns([t.column_names[-1]]), Q, valid


# popcount of every uint16 value (numpy < 2 has no bitwise_count)
_POP16 = np.array([bin(x).count("1") for x in range(1 << 16)], dtype=np.uint8)


def pairwise(metric: str, V: np.ndarray, Q: np.ndarray,
             vvalid: np.ndarray, qvalid: np.ndarray) -> tuple[np.ndarray, np.ndarray]:
    """(n, nq) distances between every row of V and every probe of Q,
    plus the (n, nq) NULL mask (an invalid row or probe; cosine against a
    zero vector). "hamming" takes packed sign-bit words (int64 viewed as
    uint64) and returns integer bit counts."""
    null = ~(vvalid[:, None] & qvalid[None, :])
    if metric == "hamming":
        X = V.view(np.uint64)[:, None, :] ^ Q.view(np.uint64)[None, :, :]
        return _POP16[X.view(np.uint16)].sum(axis=-1, dtype=np.int64), null
    G = V @ Q.T
    if metric == "euclidean":
        vn2, qn2 = (V * V).sum(axis=1), (Q * Q).sum(axis=1)
        return np.sqrt(np.maximum(vn2[:, None] + qn2[None, :] - 2.0 * G, 0.0)), null
    if metric == "cosine":
        vn, qn = np.sqrt((V * V).sum(axis=1)), np.sqrt((Q * Q).sum(axis=1))
        with np.errstate(divide="ignore", invalid="ignore"):
            D = 1.0 - np.clip(G / (vn[:, None] * qn[None, :]), -1.0, 1.0)
        return D, null | ~((vn > 0)[:, None] & (qn > 0)[None, :])
    if metric == "dot":
        return -G, null
    raise ValueError(f"unknown metric {metric!r}")


Block = tuple[pa.RecordBatch, np.ndarray, np.ndarray]


def map_blocks(v: DataFrame, vec_col: str, d: int,
               reducer: Callable[[Iterator[Block]], Iterator[pa.RecordBatch]],
               schema: str, dtype=np.float64) -> DataFrame:
    """mapInArrow over ``v``: each non-empty Arrow batch is decoded once
    into (batch, V, valid) and the operator's ``reducer`` turns the
    partition's stream of blocks into output batches."""

    def run(batches: Iterator[pa.RecordBatch]) -> Iterator[pa.RecordBatch]:
        yield from reducer(
            (b, *decode_block(b.column(vec_col), d, dtype))
            for b in batches if b.num_rows
        )

    return v.mapInArrow(run, schema)


def _first_k(qi: np.ndarray, dist: np.ndarray, null: np.ndarray,
             ids: np.ndarray, k: int) -> np.ndarray:
    """Positions of each query's first k candidates under
    (NULL last, distance, id); NaN sorts after numbers, as in Spark."""
    order = np.lexsort((ids, np.where(null, 0, dist), null, qi))
    qs = qi[order]
    starts = np.flatnonzero(np.r_[True, qs[1:] != qs[:-1]])
    pos = np.arange(len(qs)) - np.repeat(starts, np.diff(np.r_[starts, len(qs)]))
    return order[pos < k]


def _within_kth(key: np.ndarray, k: int) -> tuple[np.ndarray, np.ndarray]:
    """(row, column) positions of the entries of ``key`` (n, nq) at or
    under their column's k-th smallest: a lossless cut before each
    query's first k. NaN stands for NULL and ranks last; a column with
    fewer than k numbers keeps every entry."""
    if len(key) <= k:
        return np.nonzero(np.ones(key.shape, bool))
    kth = np.partition(key, k - 1, axis=0)[k - 1]
    return np.nonzero((key <= kth) | np.isnan(kth))


def topk_scan(v: DataFrame, probes: DataFrame, metric: str, k: int, *,
              vec_col: str, dist: str = "distance", dist_type: str = "double",
              d: int | None = None, dtype=np.float64) -> DataFrame:
    """Per-partition partial top-k of ``v`` (id, vec_col) against
    ``probes`` (query_id, vector): ≤ n_queries × k rows per partition
    reach the caller's final window."""
    keys, Q, qvalid = collect_probes(probes, d, dtype)
    qkeys = keys.column(0).combine_chunks()

    def reduce(blocks: Iterator[Block]) -> Iterator[pa.RecordBatch]:
        cand = []
        for batch, V, valid in blocks:
            D, null = pairwise(metric, V, Q, valid, qvalid)
            r, c = _within_kth(np.where(null, np.nan, D), k)
            cand.append((c, batch.column("id").take(r), D[r, c], null[r, c]))
        if not cand:
            return
        qi, ids, dd, nn = (np.concatenate([x[0] for x in cand]),
                           pa.concat_arrays([x[1] for x in cand]),
                           np.concatenate([x[2] for x in cand]),
                           np.concatenate([x[3] for x in cand]))
        keep = _first_k(qi, dd, nn, ids.to_numpy(zero_copy_only=False), k)
        yield pa.RecordBatch.from_arrays(
            [qkeys.take(qi[keep]), ids.take(keep),
             pa.array(dd[keep], mask=nn[keep])],  # int64 or float64, as D
            names=["query_id", "id", dist],
        )

    schema = (f"query_id {probes.schema[0].dataType.simpleString()}, "
              f"id {v.schema['id'].dataType.simpleString()}, {dist} {dist_type}")
    return map_blocks(v, vec_col, Q.shape[1], reduce, schema, dtype)
