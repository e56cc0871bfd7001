"""Structured Streaming slices — the streaming analog of the reference's
WAL (SURVEY.md §2.4): an ordered, replayable insert/delete log, folded
into current state incrementally, plus a watermarked windowed aggregation
over the events stream.

The reference's durability story (WAL append + fsync + checkpoint every
1000 entries + crash replay, src/persistence/engine.rs:107-204) maps to
Structured Streaming's own checkpoint/WAL: exactly-once foreachBatch
sinks, offsets tracked in the checkpoint dir. Nothing to hand-roll.

At scale: the fold below merges each micro-batch into a parquet state
table via last-writer-wins — at 100 TB the state table would be a Delta/
Iceberg MERGE or a partitioned compaction job (P3/P6 analog); plain
parquet overwrite keeps this container-friendly while the plan shape
(fold = window + anti-join) is identical.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..operators.crud import latest_per_id
from ..sources.persistence import overwrite_via_rename, read_state

__all__ = ["fold_stream_foreach_batch", "windowed_event_counts"]


def fold_stream_foreach_batch(
    spark: SparkSession,
    log_stream: DataFrame,
    state_dir: str,
    checkpoint_dir: str,
):
    """Fold a streaming insert/delete log into a parquet state table.

    Each micro-batch folds internally (last-writer-wins by seq), then
    merges with existing state: batch rows replace same-id state rows
    (upsert), tombstones drop them — the incremental form of WAL replay
    (reference engine.rs:57-61).
    """

    def merge(batch: DataFrame, batch_id: int) -> None:
        latest = latest_per_id(batch)  # last entry per id: insert OR tombstone
        state = read_state(batch.sparkSession, state_dir)
        inserts = latest.filter(F.col("op") == "insert").drop("op")
        if state is not None:
            survivors = state.join(latest.select("id"), "id", "left_anti")
            new_state = survivors.unionByName(inserts)
        else:
            new_state = inserts
        # the plan reads state_dir: swap, never overwrite in place
        overwrite_via_rename(new_state, state_dir)

    return (
        log_stream.writeStream.foreachBatch(merge)
        .option("checkpointLocation", checkpoint_dir)
        .trigger(availableNow=True)
    )


def windowed_event_counts(events_stream: DataFrame, watermark: str = "1 hour"):
    """Watermarked tumbling-window aggregation over the events stream —
    the streaming twin of plans/relational.events_hourly. Late rows beyond
    the watermark are dropped; state is bounded."""
    return (
        events_stream.withWatermark("ts", watermark)
        .groupBy(F.window("ts", "1 hour").alias("w"), "event_type")
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.sum(F.col("value").cast("decimal(18,2)")).cast("double").alias("sum_value"),
        )
        .select(
            F.date_format("w.start", "yyyy-MM-dd HH:mm:ss").alias("hour"),
            "event_type",
            "n_events",
            "sum_value",
        )
    )
