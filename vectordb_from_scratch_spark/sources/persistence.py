"""Persistence semantics — the Spark-native form of the reference's
WAL + snapshot + recovery engine (SURVEY.md §2.4 P1–P9,
src/persistence/{wal,snapshot,engine}.rs):

- snapshot  = partitioned parquet write + JSON manifest (P4; the
  manifest mirrors the reference's human-readable snapshot.json with
  vector_count/dimension, snapshot.rs:36-43)
- log tail  = any ordered insert/delete DataFrame (the WAL, P1-P2;
  parquet's commit protocol replaces CRC framing + fsync)
- recover   = read snapshot ∪ fold tail on top (P5, engine.rs:44-73)
- compact   = fold snapshot+tail into a new snapshot and start an empty
  tail (P3/P6 checkpoint, engine.rs:187-204 — interval policy is the
  caller's; at scale this is the periodic compaction job)

Metadata IS persisted — the reference drops it on checkpoint
(engine.rs:224, bug P9); we deliberately do not replicate that.

State directories. Every rewritten state directory (the CLI/server
snapshot's data/, the log-fold state, the SCD2 dimension, the streaming
ANN indexes) is swapped, resolved and recovered here and nowhere else:

- swap (`overwrite_via_rename`): write `<dir>.tmp-*` in full, rename
  `<dir>` to `<dir>.old-*`, rename the tmp to `<dir>`, then remove every
  `.old-*`/`.tmp-*` sibling — the generations the commit superseded.
  Between the two renames `<dir>` does not exist.
- resolve (`resolve_state`/`read_state`), the recovery ladder: `<dir>`
  itself; else the newest COMPLETE `<dir>.tmp-*` (its `_SUCCESS` proves
  the write finished, so the crash came between the renames and the tmp
  is the newest state); else the newest `<dir>.old-*` (the tmp never
  completed); else "no state".
- "no state" (None) means no generation exists anywhere: the first
  write has not committed. A generation that exists but cannot be read
  is NOT "no state": the parquet read raises, and callers let it — a
  writer that folded onto empty state would overwrite what it failed to
  read.
- readers never rename. `recover=True` renames the resolved generation
  into place (and removes the superseded ones); only the directory's
  one writer may pass it, while it holds the directory's lease (SCD2's
  `.merge_intent`) or is its only writer by construction (an append
  stream). A reader racing a live swap could otherwise steal the
  writer's rename. Appends (`append_state`) recover first, so an append
  never recreates a missing target beside an orphaned generation.
"""

from __future__ import annotations

import glob
import json
import os
import shutil
import uuid

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..operators.crud import fold_insert_log

__all__ = [
    "write_snapshot",
    "read_snapshot",
    "recover",
    "compact",
    "overwrite_via_rename",
    "resolve_state",
    "read_state",
    "append_state",
]

MANIFEST = "manifest.json"


def _newest(paths: list[str]) -> str | None:
    return max(paths, key=os.path.getmtime) if paths else None


def _remove_superseded(target_dir: str) -> None:
    for p in glob.glob(target_dir + ".old-*") + glob.glob(target_dir + ".tmp-*"):
        shutil.rmtree(p, ignore_errors=True)


def resolve_state(target_dir: str, *, recover: bool = False) -> str | None:
    """The path of `target_dir`'s live generation, by the recovery ladder
    (module docstring), or None when no generation exists anywhere.
    `recover=True` renames that generation to `target_dir` and removes
    the superseded ones — only for the directory's one writer."""
    if os.path.exists(target_dir):
        return target_dir
    live = _newest([
        p for p in glob.glob(target_dir + ".tmp-*")
        if os.path.exists(os.path.join(p, "_SUCCESS"))
    ]) or _newest(glob.glob(target_dir + ".old-*"))
    if live is None or not recover:
        return live
    os.rename(live, target_dir)
    _remove_superseded(target_dir)
    return target_dir


def read_state(
    spark: SparkSession, target_dir: str, *, recover: bool = False
) -> DataFrame | None:
    """The live generation of `target_dir` as a DataFrame, or None for
    "no state". An existing generation that cannot be read raises."""
    path = resolve_state(target_dir, recover=recover)
    return None if path is None else spark.read.parquet(path)


def append_state(df: DataFrame, target_dir: str) -> None:
    """Append `df` to an append-only state directory, first restoring a
    generation a crashed swap (compaction) left beside a missing
    target."""
    resolve_state(target_dir, recover=True)
    df.write.mode("append").parquet(target_dir)


def overwrite_via_rename(
    df: DataFrame, target_dir: str, partition_by: str | None = None
) -> None:
    """Durably overwrite a directory that `df`'s own lazy plan reads.

    cache()+count() before an in-place overwrite is NOT a durable guard:
    an evicted or lost cached block recomputes from the half-deleted
    source. Writing to a sibling temp dir and renaming never has the
    source and destination overlap; the final swap is two local-FS
    renames (on an object store this is the transactional-table-format
    job — Delta/Iceberg replace — which this helper stands in for).
    After the commit the superseded generations are removed."""
    tmp = f"{target_dir}.tmp-{uuid.uuid4().hex[:8]}"
    writer = df.write.mode("overwrite")
    if partition_by is not None:
        writer = writer.partitionBy(partition_by)
    writer.parquet(tmp)
    if os.path.exists(target_dir):
        os.rename(target_dir, f"{target_dir}.old-{uuid.uuid4().hex[:8]}")
    os.rename(tmp, target_dir)
    _remove_superseded(target_dir)


def write_snapshot(
    state: DataFrame, path: str, vec_col: str = "embedding",
    partition_by: str | None = None, log_seq: int | None = None,
) -> dict:
    """Write current state as a parquet snapshot + manifest.

    `partition_by`: optional partition column (e.g. a shard key =
    substr(md5(id),1,2)) so recovery and point lookups prune partitions —
    at 100 TB a monolithic snapshot directory is unmanageable; a
    256-shard layout bounds per-task recovery reads.

    `log_seq`: the log position this state is a fold of, recorded in the
    manifest (enables `recover(as_of=...)` validation).

    `data/` is written through the swap (its source may be `data/`
    itself); the manifest goes to a temp file that is renamed over
    `manifest.json`, so a crash mid-write leaves the previous one."""
    overwrite_via_rename(state, os.path.join(path, "data"), partition_by)
    spark = state.sparkSession
    written = spark.read.parquet(os.path.join(path, "data"))
    dim_row = written.select(F.size(F.col(vec_col)).alias("d")).first()
    manifest = {
        "vector_count": written.count(),
        "dimension": (dim_row.d if dim_row else None),
        "format": "parquet",
    }
    if log_seq is not None:
        # high-water log position this snapshot folds up to — what lets
        # recover(as_of=...) tell whether the snapshot is usable as the
        # base of a point-in-time reconstruction
        manifest["log_seq"] = int(log_seq)
    tmp = os.path.join(path, MANIFEST + ".tmp")
    with open(tmp, "w") as f:
        json.dump(manifest, f)
    os.replace(tmp, os.path.join(path, MANIFEST))
    return manifest


def read_snapshot(spark: SparkSession, path: str) -> DataFrame | None:
    """The snapshot's live data generation; None when none was written."""
    return read_state(spark, os.path.join(path, "data"))


def read_manifest(path: str) -> dict:
    with open(os.path.join(path, MANIFEST)) as f:
        return json.load(f)


def recover(
    spark: SparkSession,
    snapshot_path: str,
    log_tail: DataFrame | None,
    as_of: int | None = None,
) -> DataFrame:
    """Snapshot ∪ replay tail (reference engine open/recover,
    engine.rs:44-73): tail entries supersede snapshot rows per id;
    tombstones in the tail drop snapshot rows.

    `as_of`: replay the tail only up to log position `as_of` (inclusive)
    — point-in-time recovery, the durable twin of crud.time_travel. The
    snapshot must be a fold of the log at or before `as_of`; when the
    manifest records its `log_seq` (write_snapshot/compact) this is
    validated, otherwise it is the caller's contract. The reference can
    only recover to the log head (engine.rs:44-73)."""
    snap = read_snapshot(spark, snapshot_path)
    if snap is None:
        raise FileNotFoundError(f"no snapshot at {snapshot_path}")
    if as_of is not None:
        manifest = read_manifest(snapshot_path)
        snap_seq = manifest.get("log_seq")
        if snap_seq is not None and snap_seq > as_of:
            raise ValueError(
                f"snapshot at {snapshot_path} folds the log through seq "
                f"{snap_seq} > as_of={as_of}; recover from an earlier "
                "snapshot (or the log head) for this point in time"
            )
        if log_tail is not None:
            log_tail = log_tail.filter(F.col("seq") <= F.lit(int(as_of)))
    if log_tail is None:
        return snap
    folded_tail = fold_insert_log(log_tail)  # id, embedding, metadata
    touched = log_tail.filter(F.col("op") != "checkpoint").select("id").distinct()
    survivors = snap.join(touched, "id", "left_anti")
    return survivors.unionByName(folded_tail.select(*snap.columns))


def compact(
    spark: SparkSession, snapshot_path: str, log_tail: DataFrame | None, new_path: str
) -> dict:
    """Checkpoint (P6): fold tail into snapshot, write the new snapshot.
    The caller then truncates/starts a fresh log — same move as the
    reference's maybe_checkpoint (engine.rs:199-204) minus the interval
    counter, which belongs to the ingestion job. The new manifest records
    the folded-through log position (tail max seq, else the previous
    snapshot's) so point-in-time recover() can validate against it."""
    if log_tail is not None:
        seq_row = log_tail.agg(F.max("seq").alias("m")).first()
        log_seq = None if seq_row.m is None else int(seq_row.m)
    else:
        log_seq = read_manifest(snapshot_path).get("log_seq")
    return write_snapshot(
        recover(spark, snapshot_path, log_tail), new_path, log_seq=log_seq
    )
