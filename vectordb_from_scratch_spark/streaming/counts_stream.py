"""Streaming running counts + heavy hitters: maintain per-key counts
across micro-batches and serve the current top-k at any moment — the
ingest-path twin of operators/metrics.heavy_hitters (the reference has
no streaming surface; SURVEY.md §2.6).

Design: each micro-batch writes ONLY its own per-key partial counts,
as a dynamic partition overwrite keyed by batch_id — the same
exactly-once foreachBatch pattern as dedup_stream, but with NO state
read in the merge at all: a replayed batch recomputes the same partial
and overwrites its own partition, so the merge is idempotent by
construction and batches never contend. Reading the total is a
sum-partial aggregate over the partials — Spark's map-side combine
shape flipped into storage.

Scale: per-batch state grows by |distinct keys in batch| rows, never
raw row count; the read-side merge is one hash aggregate over
(keys × batches) partial rows. When history accrues, compact_counts
folds the partials into a baseline the same way the store's log
compaction folds its log (sources/persistence.py) — after compaction
the read scans |distinct keys| + |keys since compaction| rows.

State layout:
- `<state>/data/batch_id=<b>/`: batch b's partial counts (key, cnt);
- `<state>/baseline/`: the folded totals, one generation swapped by
  `persistence.write_state`, its manifest holding {gen, max_folded} —
  the highest batch id it folds;
- `<state>/compaction_intent`: the compaction lease.
The swap, the recovery ladder, the lease and the layout check are
persistence's (module docstring there). On top of them:
- the stale filter: readers count only the partials above max_folded,
  so a partition folded but not yet deleted never counts twice;
- the batch-id snapshot: a compaction folds and deletes only the
  partitions present when it starts, so a partial landed by a batch
  that slipped past the lease check survives both;
- the replay skip: a replayed batch with id ≤ max_folded (partial
  written, checkpoint commit lost, compaction ran before the replay)
  skips its write — its counts already live in the baseline.
A compaction that crashes before its swap commits leaves the old
baseline and every partial (exact); between the swap's renames the
ladder serves the complete new generation, whose max_folded hides the
partials it folds; after the swap the stale filter covers them until
the next compaction (`force_takeover=True`, the crashed one's lease
being stale) deletes them without folding them again.
(Re-ingesting a compacted state from a FRESH checkpoint remains out of
scope, as for every stream here: batch numbering restarts and no sink
bookkeeping can realign it — reset the state.)
"""

from __future__ import annotations

import os
import shutil
import uuid

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from ..sources.persistence import (
    check_layout,
    release_lease,
    state_manifest,
    take_lease,
    write_state,
)
from .dedup_stream import _fail_while_compacting, _list_batch_ids

__all__ = [
    "counts_stream_foreach_batch",
    "read_counts",
    "read_top_hitters",
    "compact_counts",
]

_LAYOUT = ("data", "baseline", "compaction_intent")


def _baseline(state_dir: str, *, recover: bool = False) -> tuple[str | None, int, int]:
    """(live baseline generation, gen, max_folded) after the layout
    check; (None, 0, -1) = never compacted. Batch ids are monotone within
    a checkpoint, so the folded set is {0..max_folded} ∩ {ids that ever
    existed}."""
    check_layout(state_dir, _LAYOUT)
    path, manifest = state_manifest(state_dir + "/baseline", recover=recover)
    if path is None:
        return None, 0, -1
    return path, manifest["gen"], manifest["max_folded"]


def counts_stream_foreach_batch(
    spark: SparkSession,
    stream: DataFrame,
    state_dir: str,
    checkpoint_dir: str,
    key_col: str = "event_type",
):
    """Wire a stream into a running per-key count state. Returns the
    unstarted writeStream (availableNow trigger), same contract as
    dedup_stream_foreach_batch."""
    data_dir = state_dir + "/data"
    lease = state_dir + "/compaction_intent"

    def _check_fence() -> None:
        _fail_while_compacting(lease, "counts stream", "compact_counts")

    def merge(batch: DataFrame, batch_id: int) -> None:
        _check_fence()
        if batch_id <= _baseline(state_dir)[2]:
            # crash-dangling replay AFTER compaction: this batch's partial
            # was folded into the baseline (and its partition deleted) —
            # re-writing it would double-count exactly once
            return
        partial = (
            batch.groupBy(F.col(key_col).alias("key"))
            .agg(F.count(F.lit(1)).alias("cnt"))
            .withColumn("batch_id", F.lit(batch_id))
            # one small file per batch: partials are key-cardinality rows
            .coalesce(1)
        )
        # re-check the lease immediately before the write: a compaction
        # that began mid-batch must not race the partial landing below
        _check_fence()
        (
            partial.write.mode("overwrite")
            .option("partitionOverwriteMode", "dynamic")
            .partitionBy("batch_id")
            .parquet(data_dir)
        )

    return (
        stream.writeStream.foreachBatch(merge)
        .option("checkpointLocation", checkpoint_dir)
        .trigger(availableNow=True)
    )


def _totals(spark: SparkSession, state_dir: str, batch_filter, baseline: str | None):
    """(key, cnt) summed over the partials `batch_filter` keeps and the
    baseline generation; None when there is neither."""
    data_dir = state_dir + "/data"
    parts = []
    if _list_batch_ids(spark, data_dir):
        parts.append(
            spark.read.parquet(data_dir).filter(batch_filter).select("key", "cnt")
        )
    if baseline is not None:
        parts.append(spark.read.parquet(baseline).select("key", "cnt"))
    if not parts:
        return None
    df = parts[0]
    for extra in parts[1:]:
        df = df.unionByName(extra)
    return df.groupBy("key").agg(F.sum("cnt").alias("cnt"))


def read_counts(
    spark: SparkSession, state_dir: str, key_type: str = "string"
) -> DataFrame:
    """Current total count per key (empty-safe): the live baseline plus
    every batch partial ABOVE its max_folded — the stale filter keeps
    totals exact inside every compaction crash window (module
    docstring). ``key_type`` shapes the empty result before any batch."""
    baseline, _, max_folded = _baseline(state_dir)
    df = _totals(spark, state_dir, F.col("batch_id") > max_folded, baseline)
    if df is None:
        return spark.createDataFrame([], f"key {key_type}, cnt long")
    return df


def read_top_hitters(
    spark: SparkSession, state_dir: str, k: int = 10, key_type: str = "string"
) -> DataFrame:
    """Top-k keys by running count, (cnt desc, key asc) determinism —
    the serving read of the streaming heavy-hitter pipeline."""
    w = Window.orderBy(F.col("cnt").desc(), F.col("key").asc())
    return (
        read_counts(spark, state_dir, key_type=key_type)
        .withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
    )


def compact_counts(
    spark: SparkSession, state_dir: str, *, force_takeover: bool = False
) -> dict:
    """Fold the SNAPSHOTTED batch partials + current baseline into the
    next baseline generation and drop exactly the folded partitions (and
    any stale ones a crashed compaction left). Run while the stream is
    stopped; the compaction lease enforces it (a concurrent micro-batch
    OR a second compaction fails loudly; a lease a crashed compaction
    left is seized with ``force_takeover=True`` after verifying no
    compactor is alive). Crash windows: module docstring.

    Returns {'folded': [batch ids folded this run], 'gen': committed
    generation, 'baseline_keys': n} — n from the written footers, 0 when
    nothing was folded."""
    data_dir = state_dir + "/data"
    lease = state_dir + "/compaction_intent"
    check_layout(state_dir, _LAYOUT)
    # lease FIRST — every partial read below is covered by it
    take_lease(lease, {"compactor": uuid.uuid4().hex}, force=force_takeover)
    baseline, gen, prev_max = _baseline(state_dir, recover=True)
    present = _list_batch_ids(spark, data_dir)
    # STALE = folded by a compaction that crashed before its delete:
    # already in the baseline, so only the delete is left to finish
    stale = [b for b in present if b <= prev_max]
    snapshot = [b for b in present if b > prev_max]
    info = {"folded": snapshot, "gen": gen, "baseline_keys": 0}
    if snapshot:
        totals = _totals(
            spark, state_dir, F.col("batch_id").isin(snapshot), baseline
        ).coalesce(1)
        manifest = write_state(
            totals, state_dir + "/baseline",
            {"gen": gen + 1, "max_folded": max(snapshot)},
        )
        info.update(gen=gen + 1, baseline_keys=manifest["rows"])
    for b in snapshot + stale:
        shutil.rmtree(os.path.join(data_dir, f"batch_id={b}"), ignore_errors=True)
    release_lease(lease)
    return info
