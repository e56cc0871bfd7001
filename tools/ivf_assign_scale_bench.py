"""IVF assignment decade cells (VERDICT r11 #5): prove the r11
window→array_min assignment rewrite on ground-truth BYTES, not wall
clock. The pre-r11 shape materialized rows × n_lists vector-carrying
pairs through an Exchange + per-id window sort; the r11+ shape
(ann.assign_ivf_det) is a zero-shuffle narrow map over a broadcast
centroid array. Wall clock on this box swings multi-×; shuffle bytes
moved by a deterministic plan over deterministic data are exactly
reproducible (execmetrics), so the cells are adjudicated on bytes.

Cells (rows × n_lists over 64-dim deterministic vectors):
  1M×64    — window AND array_min legs, exceptAll-pinned identical
  100k×640 — window AND array_min legs (the lists dimension), pinned
  10M×64   — both legs, pin skipped (covered at the smaller decades)

Honest finding the first run surfaced: on Spark 4 the window leg's
rn=1 filter plans a WindowGroupLimit (map-side partial top-1), so the
exchange carries one vector-bearing row per (id, map partition) — not
the naive rows × n_lists blowup the r11 verdict extrapolated. The
rewrite's measured win is still 2× wall and 100×+ shuffle bytes (and
it removes the Exchange+Sort entirely, which WindowGroupLimit cannot).

Usage: python tools/ivf_assign_scale_bench.py [only_substr]
Tables are written once to /tmp/ivf_assign_bench/ and reused.
Prints one JSON line per cell and a final harness sentinel.
"""

from __future__ import annotations

import json
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))
sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

BASE = "/tmp/ivf_assign_bench"
DIM = 64


def main() -> int:
    only = sys.argv[1] if len(sys.argv) > 1 else None

    from pyspark.sql import Window
    from pyspark.sql import functions as F

    import bench
    import execmetrics as xm
    from vectordb_from_scratch_spark.functions import vectormath as vm
    from vectordb_from_scratch_spark.operators import ann, cache
    from vectordb_from_scratch_spark.session import build_session

    cpus = os.environ.get("SPARK_GRAFT_CPUS", "32")
    spark = build_session(
        app_name="ivf_assign_scale_bench",
        launch={
            **xm.UI_LAUNCH,
            "spark.driver.memory": os.environ.get("SPARK_GRAFT_DRIVER_MEM", "90g"),
        },
    )
    spark.sparkContext.setLogLevel("ERROR")

    def synth_path(n: int) -> str:
        """Deterministic 64-dim vectors: element j of row i is
        pmod(xxhash64(i*DIM+j), 1000)/1000 — engine-independent, no RNG,
        so a re-run regenerates byte-identical tables."""
        path = f"{BASE}/emb_{n}.parquet"
        if not os.path.isdir(path):
            os.makedirs(BASE, exist_ok=True)
            vec = F.transform(
                F.sequence(F.lit(1), F.lit(DIM)),
                lambda j: F.pmod(
                    F.xxhash64(F.col("id") * DIM + j.cast("long")), F.lit(1000)
                ).cast("double")
                / F.lit(1000.0),
            )
            (
                spark.range(n)
                .repartition(int(cpus))
                .select(F.col("id"), vec.alias("vec"))
                .write.mode("overwrite")
                .parquet(path)
            )
        return path

    def centroids_of(v, n_lists: int):
        w = Window.orderBy(F.col("id").asc())  # over n_lists rows only
        seeds = v.orderBy(F.col("id").asc()).limit(n_lists)
        return cache.checkpoint(
            seeds.select(
                (F.row_number().over(w) - 1).cast("int").alias("list_id"),
                F.col("vec").alias("cvec"),
            )
        )

    def leg_window(v, cents):
        """The pre-r11 shape: rows × n_lists vector-carrying pairs
        through Exchange + per-id window sort."""
        pairs = v.crossJoin(F.broadcast(cents)).select(
            "id", "vec", "list_id",
            vm.euclidean_distance(F.col("vec"), F.col("cvec")).alias("d"),
        )
        w = Window.partitionBy("id").orderBy(F.col("d").asc(), F.col("list_id").asc())
        return (
            pairs.withColumn("rn", F.row_number().over(w))
            .filter(F.col("rn") == 1)
            .select("id", "vec", "list_id")
        )

    def leg_arraymin(v, cents):
        return ann.assign_ivf_det(v, cents)

    def run_cell(name: str, n: int, n_lists: int, legs: tuple[str, ...],
                 pin: bool = True):
        if only and only not in name:
            return
        v = spark.read.parquet(synth_path(n)).select("id", "vec")
        out: dict = {"cell": name, "rows": n, "n_lists": n_lists, "legs": {}}
        if pin and set(legs) == {"window", "arraymin"}:
            # centroids re-derived per use: the between-leg cache sweep
            # (needed so legs don't share state) drops checkpoint blocks
            cents = centroids_of(v, n_lists)
            a = leg_window(v, cents).select("id", "list_id")
            b = leg_arraymin(v, cents).select("id", "list_id")
            same = a.exceptAll(b).isEmpty() and b.exceptAll(a).isEmpty()
            out["identical"] = bool(same)
            bench.release(spark)
        for leg in legs:
            fn = leg_window if leg == "window" else leg_arraymin
            cents = centroids_of(v, n_lists)
            before = xm.snapshot(spark)
            t0 = time.perf_counter()
            fn(v, cents).write.format("noop").mode("overwrite").save()
            el = time.perf_counter() - t0
            d = xm.delta(before, xm.snapshot(spark))
            out["legs"][leg] = {"sec": round(el, 1), **xm.fmt(d)}
            bench.release(spark)
        print(json.dumps(out), flush=True)

    try:
        run_cell("assign_1m_l64", 1_000_000, 64, ("window", "arraymin"))
        run_cell("assign_100k_l640", 100_000, 640, ("window", "arraymin"))
        run_cell("assign_10m_l64", 10_000_000, 64, ("window", "arraymin"),
                 pin=False)
        print(json.dumps({"harness": "complete"}), flush=True)
    except Exception as exc:  # noqa: BLE001
        print(json.dumps({"harness": "FAILED", "err": repr(exc)}), flush=True)
        raise
    finally:
        spark.stop()
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
