"""Time-travel scale cells: multi-version fold vs k separate prefix folds.

What's actually being measured (the claim in crud.time_travel's
docstring): for k requested versions the SHUFFLE volume is the same
either way — every (version, visible-row) pair crosses the exchange
once whether versions fold together or separately — but the one-pass
plan scans the parquet log ONCE and runs ONE job, while the naive loop
pays k full scans + k job overheads. The cell also measures the as_of
prefix pushdown: an early point-in-time read should only scan/shuffle
the prefix (seq <= as_of reaches the parquet scan as a pushed filter).

Usage: python tools/timetravel_scale_bench.py [n_rows] [runs]
Writes the synthetic WAL to /tmp/timetravel_log_<n>.parquet
(reused across runs), validates one-pass ≡ per-version folds exactly at
1M rows, then times the cells. One JSON line per cell + a summary line.
"""

from __future__ import annotations

import json
import os
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))


def make_log(spark, path: str, n: int) -> None:
    """Deterministic synthetic WAL: n entries over n//5 distinct ids
    (~5 touches/id), ~10% tombstones, seq = entry index."""
    from pyspark.sql import functions as F

    if os.path.isdir(path):
        return
    n_ids = max(n // 5, 1)
    log = spark.range(n).select(
        F.col("id").alias("seq"),
        F.pmod(F.xxhash64(F.col("id")), F.lit(n_ids)).alias("log_id"),
        F.when(F.pmod(F.xxhash64(F.col("id") + 1), F.lit(10)) == 0, "delete")
        .otherwise("insert")
        .alias("op"),
        F.pmod(F.col("id"), F.lit(1000)).cast("int").alias("label"),
    ).withColumnRenamed("log_id", "id_")
    log = log.select(
        "seq", "op", F.col("id_").alias("id"), "label"
    )
    log.write.mode("overwrite").parquet(path)


def main() -> int:
    n = int(sys.argv[1]) if len(sys.argv) > 1 else 50_000_000
    runs = int(sys.argv[2]) if len(sys.argv) > 2 else 2

    from pyspark.sql import functions as F

    import execmetrics as xm
    from vectordb_from_scratch_spark.operators import crud
    from vectordb_from_scratch_spark.session import build_session

    cpus = os.environ.get("SPARK_GRAFT_CPUS", "32")
    spark = build_session(
        app_name="timetravel_scale",
        launch={
            **xm.UI_LAUNCH,
            "spark.driver.memory": os.environ.get("SPARK_GRAFT_DRIVER_MEM", "90g"),
        },
    )
    spark.sparkContext.setLogLevel("ERROR")

    def sink(df):
        df.write.format("noop").mode("overwrite").save()

    results = {}

    def cell(name, fn):
        results[name], exec_ = xm.timed_with_metrics(fn, runs)
        print(json.dumps(
            {"cell": name, "sec": results[name], "exec": exec_}
        ), flush=True)

    # -- exactness gate at 1M: one-pass must equal per-version folds -----
    vpath = "/tmp/timetravel_log_1000000.parquet"
    make_log(spark, vpath, 1_000_000)
    vlog = spark.read.parquet(vpath)
    v_asofs = [250_000, 500_000, 750_000, 999_999]
    onepass = crud.time_travel(vlog, v_asofs)
    bad = 0
    for t in v_asofs:
        sep = crud.fold_insert_log(vlog.filter(F.col("seq") <= t))
        got = onepass.filter(F.col("as_of") == t).drop("as_of")
        bad += got.exceptAll(sep).count() + sep.exceptAll(got).count()
    assert bad == 0, f"{bad} row mismatches between one-pass and per-version folds"
    print(json.dumps({"cell": "validate_1M_mismatches", "n": bad}), flush=True)

    # -- timed cells at n ------------------------------------------------
    path = f"/tmp/timetravel_log_{n}.parquet"
    make_log(spark, path, n)
    log = spark.read.parquet(path)
    n_real = log.count()  # warms page cache too
    asofs = [n // 4, n // 2, (3 * n) // 4, n - 1]

    cell(f"time_travel_4v_onepass_{n}",
         lambda: sink(crud.time_travel(log, asofs)))

    def per_version(ts):
        for t in ts:
            sink(crud.fold_insert_log(log.filter(F.col("seq") <= t)))

    cell(f"fold_4v_separate_{n}", lambda: per_version(asofs))

    # k=8: separate folds pay k scans+shuffles (linear in k); the
    # aggregate adds only another max_by column per version
    asofs8 = [(i + 1) * n // 8 - 1 for i in range(8)]
    cell(f"time_travel_8v_onepass_{n}",
         lambda: sink(crud.time_travel(log, asofs8)))
    cell(f"fold_8v_separate_{n}", lambda: per_version(asofs8))

    # point-in-time read of an EARLY position: the seq predicate must
    # prune at the parquet scan, so cost tracks the prefix, not the log
    early = n // 100
    cell(f"fold_asof_early_1pct_{n}",
         lambda: sink(crud.fold_insert_log(log.filter(F.col("seq") <= early))))
    cell(f"fold_head_full_{n}",
         lambda: sink(crud.fold_insert_log(log)))

    print(json.dumps({"metric": "timetravel_scale", "n_rows": n_real,
                      "cpus": int(cpus), "runs": runs, "cells": results}))
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
