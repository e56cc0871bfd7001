"""Scale cell for the streaming near-dup ingest screen: per-batch wall
time as history accrues. The state probes are (batch_id, hex-prefix)
partition-pruned and the verify joins the survivors sink for CANDIDATE
ids only, so per-batch cost should track the batch — not total history.

Runs K batches of B docs each through neardup_stream_foreach_batch (one
availableNow trigger per batch so timings are per-batch, same harness
shape as the dedup_stream history cell). Each batch: ~60% fresh
family-vocabulary docs, ~20% exact dups of an EARLIER batch's docs,
~20% near-dups (appended tail) of an earlier batch's docs — so the
screen always has real cross-history work to do.

Usage: python tools/neardup_stream_bench.py [batches=10] [batch_rows=50000]
           [compact_every=0] [n_buckets=64]
compact_every=M > 0 folds the delta state into the bucketed base tables
(compact_neardup_state) after every M batches — the warehouse-scale
layout; compaction wall time is reported separately from per-batch time.
Prints one JSON line with per-batch seconds + survivor counts.
"""

from __future__ import annotations

import json
import os
import shutil
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

WORK = "/tmp/neardup_stream_bench"


def main() -> int:
    k = int(sys.argv[1]) if len(sys.argv) > 1 else 10
    b = int(sys.argv[2]) if len(sys.argv) > 2 else 50_000
    compact_every = int(sys.argv[3]) if len(sys.argv) > 3 else 0
    n_buckets = int(sys.argv[4]) if len(sys.argv) > 4 else 64

    from pyspark.sql import functions as F

    from vectordb_from_scratch_spark.session import build_session
    from vectordb_from_scratch_spark.streaming.neardup_stream import (
        compact_neardup_state,
        neardup_stream_foreach_batch,
        read_survivors,
    )

    shutil.rmtree(WORK, ignore_errors=True)
    src = f"{WORK}/src"
    out, state, ckpt = f"{WORK}/out", f"{WORK}/state", f"{WORK}/ckpt"

    spark = build_session(
        app_name="neardup_stream_bench",
        shuffle_partitions=32,
        launch={"spark.ui.enabled": "false", "spark.driver.memory": "48g"},
    )
    spark.sparkContext.setLogLevel("ERROR")

    def fam_text(c):
        f = c.cast("string")
        return F.concat_ws(
            " ",
            F.concat(F.lit("alpha"), f), F.concat(F.lit("beta"), f),
            F.concat(F.lit("gamma"), f), F.concat(F.lit("delta"), f),
            F.concat(F.lit("epsilon"), f), F.concat(F.lit("zeta"), f),
            F.concat(F.lit("eta"), f), F.concat(F.lit("theta"), f),
        )

    def batch_df(i: int):
        base = spark.range(b).select(
            (F.lit(i) * b + F.col("id")).alias("doc_id"), F.col("id").alias("k")
        )
        # 60% fresh (new family ids), 20% exact dup of batch i-1's fresh,
        # 20% near dup of batch i-1's fresh; batch 0 is all fresh.
        # Dup rows target k - k%5, which is a k%5==0 row — fresh in
        # EVERY batch — so the cross-history screen always has a real
        # prior occurrence to find.
        fresh_fam = F.lit(i) * b + F.col("k")
        prev_fam = F.lit(max(i - 1, 0)) * b + (F.col("k") - F.col("k") % 5)
        return base.select(
            "doc_id",
            F.when((F.col("k") % 5 < 3) | F.lit(i == 0), fam_text(fresh_fam))
            .when(F.col("k") % 5 == 3, fam_text(prev_fam))
            .otherwise(F.concat(fam_text(prev_fam), F.lit(" appended tail words")))
            .alias("text"),
        )

    timings = []
    compact_secs = []
    for i in range(k):
        batch_df(i).coalesce(1).write.mode("append").parquet(src)
        stream = spark.readStream.schema("doc_id long, text string").parquet(src)
        t0 = time.monotonic()
        q = neardup_stream_foreach_batch(
            spark, stream, out, state, ckpt, threshold=0.4
        ).start()
        q.awaitTermination(600)
        timings.append(round(time.monotonic() - t0, 2))
        if compact_every and (i + 1) % compact_every == 0 and i < k - 1:
            t1 = time.monotonic()
            info = compact_neardup_state(spark, state, n_buckets=n_buckets)
            compact_secs.append(round(time.monotonic() - t1, 2))
            print(json.dumps({"compacted_after_batch": i, **info}))

    n_surv = read_survivors(spark, out).count()
    print(json.dumps({
        "cell": "neardup_stream_history",
        "batches": k,
        "batch_rows": b,
        "compact_every": compact_every,
        "n_buckets": n_buckets if compact_every else None,
        "per_batch_sec": timings,
        "compact_sec": compact_secs,
        "first_vs_last": round(timings[-1] / timings[1], 2) if k > 2 else None,
        "n_survivors": n_surv,
    }))
    shutil.rmtree(WORK, ignore_errors=True)
    spark.stop()
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
