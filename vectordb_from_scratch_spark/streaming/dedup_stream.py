"""Streaming exact deduplication: drop documents whose normalized text
was already seen in any earlier micro-batch — the ingest-path twin of
`operators/dedup.exact_dedup` (the reference has no streaming surface;
its WAL is the nearest analog, SURVEY.md §2.6).

Semantics: FIRST occurrence wins, where "first" is (batch order, then
doc_id within a batch) — deterministic for a deterministic source, and
identical to batch `exact_dedup`'s min-id representative when ids arrive
in id order (asserted in tests/test_streaming_dedup.py).

Exactly-once output: both writes are per-batch DYNAMIC PARTITION
OVERWRITES keyed by batch_id (the foreachBatch idempotence pattern from
the Structured Streaming guide). A replayed batch — after a crash
between the two writes, or a retried trigger — recomputes the same
novel set (its own state partition is excluded from the probe) and
overwrites its own partitions instead of appending, so the
first-occurrence-wins invariant survives failure/replay.

Scale: the seen-state stores only (fingerprint, keep_id) — 16-byte md5
plus an id per DISTINCT document ever seen, never text — and is written
partitioned by (batch_id, pfx) where pfx = first 2 hex chars of the
digest (256 buckets). Each micro-batch collects its ≤256 distinct
prefixes (a bounded driver list, independent of batch size) and probes
ONLY those state partitions: the anti-join's state scan carries
partition filters, so per-batch probe cost tracks the batch's bucket
fan-out, not total history (asserted on the plan in
tests/test_streaming_dedup.py; flat-vs-history timing cell in
tools/stress_bench.py). Survivors land in the output sink; only novel
fingerprints land in the state, so both grow by exactly the novel rows
per batch.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from ..functions import text as X
from ..sources.persistence import lease_holder

__all__ = ["dedup_stream_foreach_batch", "read_deduped", "state_probe"]

# hex chars of the md5 digest used as the state bucket key: 2 → 256
# buckets, enough that a batch touches a bounded partition set while
# each partition stays large enough for parquet efficiency at scale
_PFX_LEN = 2


def _dir_exists(spark: SparkSession, path: str) -> bool:
    """Hadoop-FS existence probe — no exception classing: a corrupt or
    transiently unreadable EXISTING state must fail the batch (and be
    retried off the checkpoint), never be mistaken for 'first batch'."""
    jpath = spark._jvm.org.apache.hadoop.fs.Path(path)
    fs = jpath.getFileSystem(spark.sparkContext._jsc.hadoopConfiguration())
    return bool(fs.exists(jpath))


def _list_batch_ids(spark: SparkSession, path: str) -> list[int]:
    """The batch_id partition values physically present under `path` —
    a compaction's snapshot: only these are folded and only these are
    deleted, so a partition a batch lands mid-fold survives."""
    if not _dir_exists(spark, path):
        return []
    jpath = spark._jvm.org.apache.hadoop.fs.Path(path)
    fs = jpath.getFileSystem(spark.sparkContext._jsc.hadoopConfiguration())
    return sorted(
        int(name.split("=", 1)[1])
        for name in (st.getPath().getName() for st in fs.listStatus(jpath))
        if name.startswith("batch_id=")
    )


def _fail_while_compacting(lease: str, stream_name: str, compactor: str) -> None:
    """Fail a micro-batch loudly while the compaction lease `lease` is
    held (sources/persistence.py: leases)."""
    holder = lease_holder(lease)
    if holder is not None:
        raise RuntimeError(
            f"compaction in progress ({lease} held by {holder!r}) — the "
            f"{stream_name} must not write state while {compactor} runs; "
            "retry after it finishes (a lease a crashed compaction left is "
            f"cleared by {compactor}(force_takeover=True))"
        )


def state_probe(
    spark: SparkSession, state_dir: str, prefixes: list[str], exclude_batch: int
) -> DataFrame:
    """The pruned state scan: only the given digest-prefix buckets, and
    never the replaying batch's own (possibly partially written) rows.
    Both predicates are partition filters — the scan reads
    |prefixes| × |prior batches| leaf directories, not the history."""
    seen = spark.read.parquet(state_dir)
    return seen.filter(
        F.col("pfx").isin(prefixes) & (F.col("batch_id") != F.lit(exclude_batch))
    )


def dedup_stream_foreach_batch(
    spark: SparkSession,
    docs_stream: DataFrame,
    out_dir: str,
    state_dir: str,
    checkpoint_dir: str,
    text_col: str = "text",
    id_col: str = "doc_id",
):
    """Wire a document stream into (deduped output, fingerprint state).

    Returns the unstarted writeStream (availableNow trigger) so callers
    control .start()/.awaitTermination(), mirroring
    fold_stream_foreach_batch.
    """

    def merge(batch: DataFrame, batch_id: int) -> None:
        s = batch.sparkSession
        fp = batch.withColumn("__fp", X.fingerprint(text_col))
        # in-batch winner: min id per fingerprint (ties impossible — ids
        # are unique per doc), matching exact_dedup's representative rule
        w = Window.partitionBy("__fp").orderBy(F.col(id_col).asc())
        firsts = (
            fp.withColumn("__rn", F.row_number().over(w))
            .filter(F.col("__rn") == 1)
            .drop("__rn")
            .withColumn("__pfx", F.substring("__fp", 1, _PFX_LEN))
        )
        firsts.persist()
        try:
            # bounded driver list (≤ 16^_PFX_LEN values): the literal IN
            # below is what lets the state scan prune partitions at plan
            # time instead of scanning all history
            prefixes = [r[0] for r in firsts.select("__pfx").distinct().collect()]
            if not prefixes:
                return
            if _dir_exists(s, state_dir):
                probe = state_probe(s, state_dir, prefixes, exclude_batch=batch_id)
                novel = firsts.join(
                    probe.select(F.col("fp").alias("__fp")), "__fp", "left_anti"
                )
            else:
                novel = firsts
            novel.persist()
            try:
                # dynamic partition overwrite keyed by batch_id on BOTH
                # sinks → replaying this batch replaces its own output
                # instead of appending a duplicate copy (idempotent)
                (
                    novel.drop("__fp", "__pfx")
                    .withColumn("batch_id", F.lit(batch_id))
                    .write.mode("overwrite")
                    .option("partitionOverwriteMode", "dynamic")
                    .partitionBy("batch_id")
                    .parquet(out_dir)
                )
                (
                    novel.select(
                        F.col("__fp").alias("fp"),
                        F.col(id_col).alias("keep_id"),
                        F.lit(batch_id).alias("batch_id"),
                        F.col("__pfx").alias("pfx"),
                    )
                    # co-locate each bucket before the partitioned write:
                    # without this every upstream task writes its own file
                    # into every (batch_id, pfx) dir — a small-files blowup
                    # (tasks × buckets files/batch) that dominates probe
                    # cost as history accrues. One digest-only shuffle of
                    # the batch buys one file per bucket per batch.
                    .repartition(F.col("pfx"))
                    .write.mode("overwrite")
                    .option("partitionOverwriteMode", "dynamic")
                    .partitionBy("batch_id", "pfx")
                    .parquet(state_dir)
                )
            finally:
                novel.unpersist()
        finally:
            firsts.unpersist()

    return (
        docs_stream.writeStream.foreachBatch(merge)
        .option("checkpointLocation", checkpoint_dir)
        .trigger(availableNow=True)
    )


def read_deduped(
    spark: SparkSession, out_dir: str, schema: str = "doc_id long, text string"
) -> DataFrame:
    """The deduped corpus accumulated so far (empty-safe). ``schema``
    must name the stream's (id_col, text_col, ...) columns — it shapes
    the empty result before any batch has landed AND projects away the
    batch_id partition column afterwards."""
    empty = spark.createDataFrame([], schema)
    if not _dir_exists(spark, out_dir):
        return empty
    return spark.read.parquet(out_dir).select(*empty.columns)
