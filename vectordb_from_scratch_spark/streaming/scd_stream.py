"""Streaming SCD2 dimension maintenance — foreachBatch over scd2_merge.

The batch operator (operators/scd.py) turns one update batch into a new
dimension version-set; this module keeps an effective-dated dimension
CONTINUOUSLY up to date from an update stream: each micro-batch reduces
to its last update per business key, merges SCD2-style against the
stored dimension, and lands atomically (temp-write + rename — the same
pattern as log_stream's WAL fold).

Replay safety comes from the merge semantics themselves, not from sink
bookkeeping: an update identical to the open version is a no-op, so a
micro-batch re-delivered after a crash merges to the identical
dimension (asserted in tests). This is the property Structured
Streaming's checkpoint+foreachBatch contract needs from its sink.

Interleave/crash safety (VERDICT r9 #6 — the fence discipline the
near-dup stream got in r9, applied to the rename-swap):
- MERGE INTENT LEASE `<dim>.merge_intent`: written (with this stream's
  checkpoint dir + batch id) before the dimension is read, re-checked
  immediately before the swap, cleared after. A SECOND writer (another
  stream on the same dim_dir — the lost-update race: both read v_n,
  both swap, the second silently discards the first's merge) fails its
  batch loudly. A stale lease from a crashed merge self-heals: the
  REPLAY of that same (checkpoint, batch) recognizes its own marker
  and proceeds; any other writer stays blocked until that replay runs
  or the operator clears the marker.
- CRASH RECOVERY: the swap, the recovery ladder of the dimension read
  and the "no state" vs "unreadable" distinction are
  sources/persistence.py's (module docstring there); `read_dim` adds
  the rule that `recover=True` (recovery renames) needs this lease.

At 100 TB the stored dimension becomes a Delta/Iceberg MERGE target and
the per-batch collect of the effective date disappears into the batch
metadata; the plan shape — latest-per-key window, one full-outer join
against open versions, map-side history union — is unchanged (and the
lease becomes the table format's optimistic-commit protocol).
"""

from __future__ import annotations

import json
import os
from typing import Sequence

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from ..operators.scd import scd2_merge
from ..sources.persistence import overwrite_via_rename, read_state

__all__ = ["scd2_stream_foreach_batch", "read_dim"]


def _intent_path(dim_dir: str) -> str:
    return dim_dir + ".merge_intent"


def _read_intent(dim_dir: str) -> dict | None:
    p = _intent_path(dim_dir)
    if not os.path.exists(p):
        return None
    with open(p) as f:
        return json.load(f)


def _write_intent(dim_dir: str, checkpoint_dir: str, batch_id: int,
                  *, exclusive: bool) -> bool:
    """Write the lease as a single local json file (the swap itself is
    local-FS renames, so the lease lives at the same abstraction level).
    With `exclusive` the create is O_CREAT|O_EXCL — ATOMIC, so two
    writers racing an empty lease cannot both succeed (the read-then-
    write form would let both believe they hold it; r10 review).
    Returns False when exclusive creation lost the race."""
    payload = json.dumps({"checkpoint": checkpoint_dir, "batch_id": batch_id})
    if exclusive:
        try:
            fd = os.open(_intent_path(dim_dir), os.O_CREAT | os.O_EXCL | os.O_WRONLY)
        except FileExistsError:
            return False
        with os.fdopen(fd, "w") as f:
            f.write(payload)
        return True
    with open(_intent_path(dim_dir), "w") as f:
        f.write(payload)
    return True


def _clear_intent(dim_dir: str) -> None:
    try:
        os.remove(_intent_path(dim_dir))
    except FileNotFoundError:
        pass


def read_dim(spark, dim_dir: str, *, recover: bool = False) -> DataFrame | None:
    """The current dimension by persistence's recovery ladder; None only
    when no generation exists anywhere. `recover=False` (external
    readers) never renames; `recover=True` renames the live generation
    into place and requires holding the merge lease — an unleased reader
    racing a live writer inside the two-rename swap window could
    otherwise steal the rename and fail the writer's own swap
    (ADVICE r10). The merge path passes recover=True under its lease."""
    if recover and _read_intent(dim_dir) is None:
        raise RuntimeError(
            f"read_dim(recover=True) on {dim_dir} without the merge "
            "lease: recovery renames must never race a live writer's "
            "swap — take the .merge_intent lease first"
        )
    return read_state(spark, dim_dir, recover=recover)


def scd2_stream_foreach_batch(
    update_stream: DataFrame,
    dim_dir: str,
    checkpoint_dir: str,
    keys: Sequence[str],
    tracked: Sequence[str],
    order_col: str,
    eff_col: str = "effective_from",
    end_col: str = "effective_to",
):
    """Maintain an SCD2 dimension at `dim_dir` from an update stream.

    `update_stream` rows carry key cols + tracked cols + `order_col`
    (an event timestamp: orders updates within a batch AND supplies the
    batch's effective date as its max date). Returns an unstarted
    writeStream (availableNow trigger); call `.start()`.

    First batch bootstraps the dimension: every key becomes an open
    version effective at the batch date.
    """
    keys = list(keys)
    tracked = list(tracked)

    def _acquire(batch_id: int) -> None:
        # atomic O_EXCL create first: two writers racing an EMPTY lease
        # cannot both win (read-then-write would let them; r10 review)
        if _write_intent(dim_dir, checkpoint_dir, batch_id, exclusive=True):
            return
        intent = _read_intent(dim_dir)
        if intent is None:
            # holder finished (cleared) between our failed create and the
            # read — take the now-free lease atomically or fail loudly
            if _write_intent(dim_dir, checkpoint_dir, batch_id, exclusive=True):
                return
            raise RuntimeError(
                f"SCD2 merge lease on {dim_dir} is contended — another "
                "writer re-acquired it immediately; two concurrent "
                "streams are driving one dimension"
            )
        if not (
            intent.get("checkpoint") == checkpoint_dir
            and intent.get("batch_id") == batch_id
        ):
            raise RuntimeError(
                f"another SCD2 merge holds the lease on {dim_dir} "
                f"(checkpoint={intent.get('checkpoint')!r} "
                f"batch={intent.get('batch_id')!r}): two writers on one "
                "dimension would silently lose the first's merge in the "
                "rename swap. If that writer crashed, its own replay "
                "clears this; otherwise remove the .merge_intent marker "
                "after verifying no other stream is alive."
            )
        # our own crashed attempt replaying (marker carries this exact
        # checkpoint+batch) — the lease is already ours; refresh it
        _write_intent(dim_dir, checkpoint_dir, batch_id, exclusive=False)

    def merge(batch: DataFrame, batch_id: int) -> None:
        if not batch.take(1):
            return
        s = batch.sparkSession
        _acquire(batch_id)
        # last update per key within the batch (ties broken stably by the
        # tracked values so replays are deterministic)
        latest = (
            batch.withColumn(
                "__rn",
                F.row_number().over(
                    Window.partitionBy(*keys).orderBy(
                        F.col(order_col).desc(), *[F.col(c) for c in tracked]
                    )
                ),
            )
            .filter(F.col("__rn") == 1)
            .select(*keys, *tracked, order_col)
        )
        # one tiny driver-side row: the batch's effective date
        eff = latest.agg(
            F.max(F.col(order_col).cast("date")).alias("d")
        ).collect()[0]["d"]
        upd = latest.drop(order_col)
        # recover=True is safe here: this merge holds the lease, so no
        # live writer's swap can race the recovery renames
        dim = read_dim(s, dim_dir, recover=True)
        if dim is None:  # first batch — bootstrap an empty dimension
            dim = (
                upd.withColumn(eff_col, F.lit(None).cast("date"))
                .withColumn(end_col, F.lit(None).cast("date"))
                .limit(0)
            )
        new_dim = scd2_merge(
            dim, upd, keys=keys, tracked=tracked, effective_date=eff,
            eff_col=eff_col, end_col=end_col,
        )
        # re-check ownership immediately before the swap: a second
        # writer that raced past the first check must not interleave
        # its renames with ours
        intent = _read_intent(dim_dir)
        if intent is None or intent.get("checkpoint") != checkpoint_dir or (
            intent.get("batch_id") != batch_id
        ):
            raise RuntimeError(
                f"SCD2 merge lease on {dim_dir} changed hands mid-batch "
                f"(now {intent!r}) — aborting before the swap"
            )
        overwrite_via_rename(new_dim, dim_dir)
        _clear_intent(dim_dir)

    return (
        update_stream.writeStream.foreachBatch(merge)
        .option("checkpointLocation", checkpoint_dir)
        .trigger(availableNow=True)
    )
