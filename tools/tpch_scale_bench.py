"""TPC-H shape family one decade up (VERDICT r5 #9): generate an
sf1-scale table set (6M lineitem) by replicating the sf0.1 tables 10×
with rep-consistent key shifts, then time every `rel_tpch_*` registry
shape against it.

Key shifts preserve join structure: for replica r, every key in a
domain moves by r × (max_key + 1), and every FK referencing that domain
moves by the SAME stride — so each replica is an intact copy of the
sf0.1 join graph and per-key group sizes (order line counts, customer
order counts) are unchanged. nation/region stay fixed (FKs into them
are left untouched), so dimension selectivities are preserved too.
Results therefore scale ~10× in rows, and per-query time should scale
~linearly for scan-bound shapes — a super-linear jump flags a plan that
would not survive the next decade.

Usage: python tools/tpch_scale_bench.py [runs=2] [only_substr]
Writes tables to /tmp/tpch_sf1/{name}.parquet (reused if present) and
prints one JSON line per query plus a final summary line.
"""

from __future__ import annotations

import json
import os
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

SRC = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
# TPCH_BENCH_DIR overrides the timed table set: point it at the sf0.1
# source dir to record the SAME harness (noop sink, min-of-N, exec
# bytes) one decade down for the linearity cells in SCALE.md
DST = os.environ.get("TPCH_BENCH_DIR", "/tmp/tpch_sf1")
COPIES = 10

# key domain → (owning table, its key col); FK cols listed per table
KEYED = {
    "customer": ["c_custkey"],
    "orders": ["o_orderkey", "o_custkey"],
    "lineitem": ["l_orderkey", "l_partkey", "l_suppkey"],
    "part": ["p_partkey"],
    "supplier": ["s_suppkey"],
}
DOMAIN_OF = {
    "c_custkey": "custkey", "o_custkey": "custkey",
    "o_orderkey": "orderkey", "l_orderkey": "orderkey",
    "l_partkey": "partkey", "p_partkey": "partkey",
    "l_suppkey": "suppkey", "s_suppkey": "suppkey",
}


def main() -> int:
    runs = int(sys.argv[1]) if len(sys.argv) > 1 else 2
    only = sys.argv[2] if len(sys.argv) > 2 else None

    from pyspark.sql import functions as F

    import bench
    import execmetrics as xm
    from vectordb_from_scratch_spark.session import build_session

    def mk_session():
        s = build_session(
            app_name="tpch_scale_bench",
            launch={
                **xm.UI_LAUNCH,
                "spark.driver.memory": os.environ.get("SPARK_GRAFT_DRIVER_MEM", "90g"),
            },
        )
        s.sparkContext.setLogLevel("ERROR")
        return s

    spark = mk_session()

    from vectordb_from_scratch_spark.sources import load_table

    generated = not os.path.isdir(DST)
    if not os.path.isdir(DST):
        os.makedirs(DST, exist_ok=True)
        # stride per key domain = max over BOTH tables carrying it + 1
        strides: dict[str, int] = {}
        for t, cols in KEYED.items():
            df = load_table(spark, SRC, t)
            for c in cols:
                dom = DOMAIN_OF[c]
                m = df.agg(F.max(c)).collect()[0][0]
                strides[dom] = max(strides.get(dom, 0), int(m) + 1)
        reps = spark.range(COPIES).select(F.col("id").alias("__rep"))
        for t in KEYED:
            df = load_table(spark, SRC, t)
            out = reps.crossJoin(df)
            for c in KEYED[t]:
                out = out.withColumn(
                    c, F.col(c) + F.col("__rep") * F.lit(strides[DOMAIN_OF[c]])
                )
            (
                out.drop("__rep")
                .repartition(32)
                .write.mode("overwrite")
                .parquet(f"{DST}/{t}.parquet")
            )
        for t in ("nation", "region", "events", "documents", "embeddings"):
            src = f"{SRC}/{t}.parquet"
            if os.path.exists(src):
                spark.read.parquet(src).write.mode("overwrite").parquet(
                    f"{DST}/{t}.parquet"
                )
        print(json.dumps({"generated": DST, "strides": strides}), flush=True)

    if generated:
        # the 10× crossJoin replication churns the JVM badly enough to
        # contaminate the timed phase (first full run measured q21 at
        # 55 s vs 2.6 s clean-session) — restart the session so timings
        # never share a JVM with generation
        spark.stop()
        spark = mk_session()

    from vectordb_from_scratch_spark.plans.registry import QUERIES

    bench.warm(spark, DST)

    # the full 22-query family: rel_tpch_q*_shape plus the five queries
    # registered under capability names (q1=pricing_summary,
    # q3=top_revenue_orders, q5=region_revenue, q6=rel_sql_tpch_q6,
    # q17=small_quantity_revenue)
    extra = [
        "rel_pricing_summary",
        "rel_top_revenue_orders",
        "rel_region_revenue",
        "rel_sql_tpch_q6",
        "rel_small_quantity_revenue",
    ]
    names = sorted(n for n in QUERIES if n.startswith("rel_tpch_")) + [
        n for n in extra if n in QUERIES
    ]
    if only:  # comma-separated substrings, any-match
        subs = only.split(",")
        names = [n for n in names if any(sub in n for sub in subs)]

    timings: dict[str, float | str] = {}
    execs: dict[str, dict] = {}
    for name in names:
        try:
            timings[name], execs[name] = xm.timed_with_metrics(
                lambda: bench.run_once(spark, name, DST), runs
            )
        except Exception as exc:  # noqa: BLE001 — isolate per query
            timings[name] = f"ERR:{type(exc).__name__}"
        print(json.dumps({"query": name, "sec": timings[name],
                          "exec": execs.get(name)}), flush=True)

    numeric = [v for v in timings.values() if isinstance(v, float)]
    print(
        json.dumps(
            {
                "metric": "tpch_sf1_total_sec",
                "value": round(sum(numeric), 3),
                "queries": timings,
                "n_ok": len(numeric),
            }
        )
    )
    spark.stop()
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
