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

Interleave/crash safety: each merge holds the lease `<dim>.merge_intent`
(sources/persistence.py: leases) from before the dimension is read to
after the swap, with this stream's {checkpoint, batch_id} as its owner,
and re-checks it immediately before the swap. A SECOND writer on the
same dim_dir (the lost-update race: both read v_n, both swap, the
second silently discards the first's merge) fails its batch loudly. A
lease a crashed merge left self-heals: the REPLAY of that same
(checkpoint, batch) is its owner and re-enters it; any other writer
stays blocked until that replay runs or the operator removes the
marker. The swap, the recovery ladder of the dimension read and the
"no state" vs "unreadable" distinction are persistence's too;
`read_dim` adds the rule that `recover=True` (recovery renames) needs
the lease.

At 100 TB the stored dimension becomes a Delta/Iceberg MERGE target and
the per-batch collect of the effective date disappears into the batch
metadata; the plan shape — latest-per-key window, one full-outer join
against open versions, map-side history union — is unchanged (and the
lease becomes the table format's optimistic-commit protocol).
"""

from __future__ import annotations

from typing import Sequence

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from ..operators.scd import scd2_merge
from ..sources.persistence import (
    lease_holder,
    overwrite_via_rename,
    read_state,
    release_lease,
    take_lease,
)

__all__ = ["scd2_stream_foreach_batch", "read_dim"]


def _lease(dim_dir: str) -> str:
    return dim_dir + ".merge_intent"


def read_dim(spark, dim_dir: str, *, recover: bool = False) -> DataFrame | None:
    """The current dimension by persistence's recovery ladder; None only
    when no generation exists anywhere. `recover=False` (external
    readers) never renames; `recover=True` renames the live generation
    into place and requires holding the merge lease — an unleased reader
    racing a live writer inside the two-rename swap window could
    otherwise steal the rename and fail the writer's own swap
    (ADVICE r10). The merge path passes recover=True under its lease."""
    if recover and lease_holder(_lease(dim_dir)) is None:
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

    def merge(batch: DataFrame, batch_id: int) -> None:
        if not batch.take(1):
            return
        s = batch.sparkSession
        owner = {"checkpoint": checkpoint_dir, "batch_id": batch_id}
        take_lease(_lease(dim_dir), owner)
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
        holder = lease_holder(_lease(dim_dir))
        if holder != owner:
            raise RuntimeError(
                f"SCD2 merge lease on {dim_dir} changed hands mid-batch "
                f"(now {holder!r}) — aborting before the swap"
            )
        overwrite_via_rename(new_dim, dim_dir)
        release_lease(_lease(dim_dir))

    return (
        update_stream.writeStream.foreachBatch(merge)
        .option("checkpointLocation", checkpoint_dir)
        .trigger(availableNow=True)
    )
