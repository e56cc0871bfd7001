"""Streaming SRP-index maintenance — the dynamic-index behavior the
batch build lacks (SURVEY.md §2.3 H4; reference HnswIndex::add,
src/hnsw/graph.rs:245-342, mutates the graph per insert).

Spark-first shape: each micro-batch hashes ONLY its own rows into
(tbl, bucket) assignments — cost ∝ batch size, never ∝ index size —
and APPENDS them to the index directory together with a monotone `seq`
and tombstone markers for deletes. Nothing existing is rewritten on the
hot path; writer and readers never contend.

Read-side resolution (read_srp_index) is last-writer-wins per id:
keep the bucket rows of the max-seq entry unless it is a tombstone.
compact_srp_index rewrites the directory to just the survivors — the
P3/WAL-truncate analog — so resolution cost doesn't grow forever.

At 100 TB the append target is a Delta/Iceberg table partitioned by
(tbl, bucket) with MERGE-based compaction; plain parquet appends keep
this container-friendly while the plan shapes are identical.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from ..operators.ann import srp_index
from ..operators.crud import latest_per_id
from ..sources.persistence import append_state, overwrite_via_rename, read_state

__all__ = [
    "srp_index_stream_foreach_batch",
    "read_srp_index",
    "compact_srp_index",
    "ivf_index_stream_foreach_batch",
    "read_ivf_index",
    "ivf_drift",
    "ivf_should_rebuild",
    "ivf_pq_index_stream_foreach_batch",
    "read_ivf_pq_index",
    "pq_distortion",
]

# op codes in the log stream / index dir
_INSERT, _DELETE = "insert", "delete"


def srp_index_stream_foreach_batch(
    log_stream: DataFrame,
    index_dir: str,
    checkpoint_dir: str,
    *,
    dim: int,
    nbits: int = 8,
    n_tables: int = 2,
    seed: int = 42,
    id_col: str = "id",
    vec_col: str = "embedding",
):
    """Fold a streaming insert/delete log into an SRP index directory.

    `log_stream` schema: (seq long, op string, id long, embedding
    array<float/double>) — the same WAL shape log_stream.py folds into
    row state. Inserts are bucketed via the exact expression path
    (bit-identical to the batch srp_index / ann_knn_srp assignment, so
    stream-built and batch-built indexes are interchangeable); deletes
    append a tombstone row per id with tbl = -1 (no real table uses -1,
    so tombstones never collide with a probe's bucket join).

    Returns the writeStream builder (caller picks trigger/start).
    Delivery is AT-LEAST-ONCE: a batch retried after a failure between
    the parquet append and the checkpoint commit appends its rows again.
    The retries are byte-identical, so read_srp_index dedupes them away
    and the resolved index is still exactly-once; at cluster scale the
    append target would be a transactional table (Delta/Iceberg) and
    the dedupe unnecessary.
    """

    def fold(batch: DataFrame, batch_id: int) -> None:
        # Within-batch last-writer-wins FIRST: two inserts of one id in
        # the same micro-batch would otherwise cross-join below (bucket
        # rows of every version x every seq) and the stale version would
        # survive read-time resolution forever.
        latest = latest_per_id(batch, id_col=id_col)
        inserts = latest.filter(F.col("op") == _INSERT)
        deletes = latest.filter(F.col("op") == _DELETE)
        indexed = srp_index(
            inserts, dim=dim, nbits=nbits, n_tables=n_tables, seed=seed,
            id_col=id_col, vec_col=vec_col,
        ).join(inserts.select(F.col(id_col).alias("id"), "seq"), "id").select(
            "id", "vec", "tbl", "bucket", "seq", F.lit(_INSERT).alias("op")
        )
        tombs = deletes.select(
            F.col(id_col).alias("id"),
            F.lit(None).cast("array<double>").alias("vec"),
            F.lit(-1).cast("long").alias("tbl"),
            F.lit(-1).cast("long").alias("bucket"),
            "seq",
            F.lit(_DELETE).alias("op"),
        )
        append_state(indexed.unionByName(tombs), index_dir)

    return (
        log_stream.writeStream.foreachBatch(fold)
        .option("checkpointLocation", checkpoint_dir)
    )


def _read_live(
    spark: SparkSession, index_dir: str, keys: list[str], cols: list[str]
) -> DataFrame:
    """Resolve an append-only index dir to its live rows: per id, the
    max-seq entry wins; tombstones drop the id. The final dropDuplicates
    on (id, *keys) also erases byte-identical rows left by at-least-once
    batch retries, so the resolved index is exactly-once even though the
    appends aren't. The dir itself resolves through persistence's
    recovery ladder (a crashed compaction leaves no target)."""
    raw = read_state(spark, index_dir)
    if raw is None:
        raise FileNotFoundError(f"no index at {index_dir}")
    return (
        raw.withColumn("__mx", F.max("seq").over(Window.partitionBy("id")))
        .filter((F.col("seq") == F.col("__mx")) & (F.col("op") == _INSERT))
        .dropDuplicates(["id", *keys])
        .select("id", *cols)
    )


def read_srp_index(spark: SparkSession, index_dir: str) -> DataFrame:
    """The live SRP index table (id, vec, tbl, bucket). The shuffles carry
    only (id, seq, tbl, bucket) — the vec column rides along but is
    never compared."""
    return _read_live(spark, index_dir, ["tbl", "bucket"], ["vec", "tbl", "bucket"])


def ivf_index_stream_foreach_batch(
    log_stream: DataFrame,
    index_dir: str,
    checkpoint_dir: str,
    centroids: DataFrame,
    *,
    id_col: str = "id",
    vec_col: str = "embedding",
):
    """Incremental IVF maintenance (VERDICT r3 #4): fold a streaming
    insert/delete log into an IVF index directory against FIXED
    centroids — the standard cheap path: each micro-batch assigns only
    its OWN rows to the nearest existing centroid (cost ∝ batch size ×
    n_lists, the broadcast-assign of operators/ann.assign_ivf_det),
    appends them with a monotone seq, and tombstones deletes
    (list_id = -1). Nothing existing is rewritten on the hot path —
    the same append-only WAL shape as the SRP twin above, and the
    distributed analog of the reference's incremental HnswIndex::add
    (src/hnsw/graph.rs:245-342).

    The assignment is the exact expression path, so a stream-built index
    is row-for-row interchangeable with batch `assign_ivf_det` over the
    same centroids (asserted in tests/test_streaming_ann.py). Centroids
    DRIFT as data accrues; measure it with ivf_drift / ivf_should_rebuild
    and schedule an offline rebuild (build_ivf / build_ivf_det) when the
    threshold trips — the recall-maintenance contract.

    `log_stream` schema: (seq long, op string, id long, embedding
    array<float/double>). Delivery is at-least-once with byte-identical
    retries; read_ivf_index dedupes them (same contract as the SRP twin).
    """
    from ..operators.ann import assign_ivf_det

    cent = centroids.select("list_id", "cvec")

    def fold(batch: DataFrame, batch_id: int) -> None:
        latest = latest_per_id(batch, id_col=id_col)
        inserts = latest.filter(F.col("op") == _INSERT)
        deletes = latest.filter(F.col("op") == _DELETE)
        v = inserts.select(
            F.col(id_col).alias("id"),
            F.col(vec_col).cast("array<double>").alias("vec"),
            "seq",
        )
        assigned = assign_ivf_det(v.select("id", "vec"), cent).join(
            v.select("id", "seq"), "id"
        ).select("id", "vec", "list_id", "seq", F.lit(_INSERT).alias("op"))
        tombs = deletes.select(
            F.col(id_col).alias("id"),
            F.lit(None).cast("array<double>").alias("vec"),
            F.lit(-1).cast("int").alias("list_id"),
            "seq",
            F.lit(_DELETE).alias("op"),
        )
        append_state(assigned.unionByName(tombs), index_dir)

    return (
        log_stream.writeStream.foreachBatch(fold)
        .option("checkpointLocation", checkpoint_dir)
    )


def read_ivf_index(spark: SparkSession, index_dir: str) -> DataFrame:
    """The live IVF assigned table (id, vec, list_id)."""
    return _read_live(spark, index_dir, ["list_id"], ["vec", "list_id"])


def ivf_drift(assigned: DataFrame, centroids: DataFrame) -> DataFrame:
    """Per-list drift of the LIVE data away from the fixed centroids the
    stream assigns against: (list_id, n, displacement) where
    displacement = ‖mean(live vectors in list) − centroid‖₂. One
    aggregation over the assigned table (per-dim partial means — no
    vector ever collected), then a broadcast join against the tiny
    centroid set. This is the rebuild trigger's input, not a serving
    query — run it on the maintenance cadence."""
    means = (
        assigned.select("list_id", F.posexplode("vec").alias("pos", "val"))
        .groupBy("list_id", "pos")
        .agg(F.avg("val").alias("m"), F.count("*").alias("n"))
        .groupBy("list_id")
        .agg(
            F.transform(
                F.array_sort(F.collect_list(F.struct("pos", "m"))), lambda s: s["m"]
            ).alias("mean_vec"),
            F.first("n").alias("n"),
        )
    )
    from ..functions import vectormath as vm

    return means.join(F.broadcast(centroids.select("list_id", "cvec")), "list_id").select(
        "list_id",
        "n",
        vm.euclidean_distance("mean_vec", "cvec").alias("displacement"),
    )


def ivf_should_rebuild(
    assigned: DataFrame, centroids: DataFrame, threshold: float
) -> bool:
    """True when the row-weighted mean displacement exceeds `threshold` —
    the cue to re-run build_ivf/build_ivf_det offline and swap the
    centroid set (recall decays as data drifts off the Voronoi seeds).
    Driver-side cost: one n_lists-row aggregate."""
    row = (
        ivf_drift(assigned, centroids)
        .agg(
            (F.sum(F.col("displacement") * F.col("n")) / F.sum("n")).alias("d")
        )
        .first()
    )
    return bool(row.d is not None and row.d > threshold)


def ivf_pq_index_stream_foreach_batch(
    log_stream: DataFrame,
    index_dir: str,
    checkpoint_dir: str,
    centroids: DataFrame,
    codebook: DataFrame,
    *,
    m: int,
    d_sub: int,
    id_col: str = "id",
    vec_col: str = "embedding",
):
    """Incremental maintenance for the QUANTIZED serve index: each
    micro-batch assigns its own rows to the nearest FIXED coarse
    centroid AND encodes them against the FROZEN PQ codebook (both
    broadcast; cost ∝ batch size × (n_lists + m·ks)), then appends
    (id, list_id, codes) with a monotone seq; deletes append tombstones
    (list_id = -1). The stream-built index is row-for-row
    interchangeable with batch pq.ivf_pq_index over the same centroids
    and codebook (asserted in tests/test_streaming_ann.py) — the
    quantized twin of ivf_index_stream_foreach_batch, same append-only
    WAL shape, same at-least-once/byte-identical-retry contract.

    Both the centroids and the codebook drift as data accrues: track
    routing drift with ivf_drift/ivf_should_rebuild and quantization
    drift with pq_distortion (mean reconstruction error vs the at-build
    baseline), and rebuild offline when either trips."""
    from ..operators.ann import assign_ivf_det
    from ..operators.pq import pq_encode

    cent = centroids.select("list_id", "cvec")

    def fold(batch: DataFrame, batch_id: int) -> None:
        latest = latest_per_id(batch, id_col=id_col)
        inserts = latest.filter(F.col("op") == _INSERT)
        deletes = latest.filter(F.col("op") == _DELETE)
        v = inserts.select(
            F.col(id_col).alias("id"),
            F.col(vec_col).cast("array<double>").alias("vec"),
            "seq",
        )
        assigned = assign_ivf_det(v.select("id", "vec"), cent)
        codes = pq_encode(assigned, codebook, m, d_sub, id_col="id", vec_col="vec")
        idx = (
            codes.join(assigned.select("id", "list_id"), "id")
            .join(v.select("id", "seq"), "id")
            .select("id", "codes", "list_id", "seq", F.lit(_INSERT).alias("op"))
        )
        tombs = deletes.select(
            F.col(id_col).alias("id"),
            F.lit(None).cast("array<int>").alias("codes"),
            F.lit(-1).cast("int").alias("list_id"),
            "seq",
            F.lit(_DELETE).alias("op"),
        )
        append_state(idx.unionByName(tombs), index_dir)

    return (
        log_stream.writeStream.foreachBatch(fold)
        .option("checkpointLocation", checkpoint_dir)
    )


def read_ivf_pq_index(spark: SparkSession, index_dir: str) -> DataFrame:
    """The live IVF-PQ code table (id, codes, list_id); codes are
    deterministic, so at-least-once retries ARE byte-identical."""
    return _read_live(spark, index_dir, ["list_id"], ["codes", "list_id"])


def pq_distortion(
    vectors: DataFrame,
    codebook: DataFrame,
    m: int,
    d_sub: int,
    *,
    id_col: str = "id",
    vec_col: str = "vec",
) -> DataFrame:
    """Codebook-drift signal: mean squared reconstruction error of
    `vectors` under the frozen codebook — one row (n, mse). Encode-and-
    reconstruct never materializes: the per-subspace argmin distance IS
    the subspace reconstruction error, so the metric is one broadcast
    join + two aggregations. Compare against the at-build baseline on
    the maintenance cadence; a rising ratio means the data distribution
    has left the codebook and recall is decaying — the PQ analog of
    ivf_should_rebuild's displacement trigger."""
    from ..functions import vectormath as vm
    from ..operators.ann import nearest_centroid
    from ..operators.pq import subvectors

    sv = subvectors(vectors, m, d_sub, id_col=id_col, vec_col=vec_col)
    assigned = nearest_centroid(
        sv.withColumnRenamed("svec", "vec"), codebook, ("sub", "code")
    )
    per_sub = assigned.join(F.broadcast(codebook), ["sub", "code"]).select(
        "id", vm.squared_euclidean("vec", "cvec").alias("e2")
    )
    per_id = per_sub.groupBy("id").agg(F.sum("e2").alias("se"))
    return per_id.agg(
        F.count(F.lit(1)).alias("n"), F.avg("se").alias("mse")
    )


def compact_srp_index(spark: SparkSession, index_dir: str) -> None:
    """Rewrite the index dir to only the live rows (WAL-truncate / P3
    analog): temp-write + rename so the rewrite never reads its own
    half-deleted output; seq reset to 0 so future appends keep
    winning."""
    live = read_srp_index(spark, index_dir).select(
        "id", "vec", "tbl", "bucket",
        F.lit(0).cast("long").alias("seq"), F.lit(_INSERT).alias("op"),
    )
    overwrite_via_rename(live, index_dir)
