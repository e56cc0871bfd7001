"""Batch workloads: registry queries run into the `noop` sink.

Each query is one operation: `QUERIES[q].spark(spark, dir)` builds the
DataFrame (the registry and operators, including their eager checkpoint
and collect jobs), and the `noop` write plans and executes it. Set-up
runs every query once untimed; then whole passes over the queries run
until the measuring time is spent. `makespan_s` is the sum over queries
of each query's median wall time across the passes.

Correctness: each execution's output row count, taken with a Spark
`Observation` on the executed DataFrame, must equal the expected count.
That count is structural where the query's shape fixes it (probes x k,
one row per input row), and otherwise the row count of the query's
DuckDB twin (`QUERIES[q].oracle`) over the same generated files.

The traced run traces every other query execution. A traced execution
is split into build, plan (`executedPlan()`) and execute spans, with
job, stage, task, byte and kernel counters for each phase.
"""

from __future__ import annotations

import random
import sys
import time
import traceback

from pyspark.sql import Observation
from pyspark.sql import functions as F

import inputs
from metrics import median
from tracing import SparkProbe
from vectordb_from_scratch_spark.operators import cache
from vectordb_from_scratch_spark.plans.registry import QUERIES

# Each query reads one generated table set: "sf01" (the base tables) or
# "x10" (the 10x corpus). Expected output rows are an int computed from
# that set's input properties, or None for "the DuckDB twin's row count".
WORKLOADS = {
    "batch_mixed": {
        # build-bound: iterative and eager driver-side jobs over sf0.1
        "knn_mmr_diversify": ("sf01", lambda p: 5 * 5),  # 5 probes x k=5
        "pipeline_decontaminate_bloom": ("sf01", None),
        # execution-bound: the numpy kNN kernel over the 10x corpus, above
        # knn.AUTO_NUMPY_THRESHOLD (5,000 rows)
        "knn_batch100": ("x10", lambda p: 100 * 10),  # 100 probes x k=10
    },
}
TABLE_SETS = {"sf01": 1, "x10": 10}  # copies of the base tables


def _oracle_count(data_dir: str, q: str) -> int:
    """Row count of the query's DuckDB twin over the same files."""
    import duckdb

    con = duckdb.connect()
    try:
        con.execute("SET threads=2")
        for t in ("embeddings", "documents"):
            con.sql(f"CREATE VIEW {t} AS SELECT * FROM '{data_dir}/{t}.parquet'")
        return len(con.sql(QUERIES[q].oracle).fetchall())
    finally:
        con.close()


class Runner:
    def __init__(self, spark, dirs: dict, tracer=None) -> None:
        self.spark, self.dirs, self.tracer = spark, dirs, tracer
        self.probe = SparkProbe(spark) if tracer is not None else None

    @staticmethod
    def _observed(df):
        obs = Observation()
        return df.observe(obs, F.count(F.lit(1)).alias("rows")), obs

    def _release(self) -> None:
        # as bench.py: drop tracked caches and checkpoint blocks so each
        # run measures the full plan and storage does not accumulate
        cache.release_caches()
        cache.sweep_persistent_rdds(self.spark, all_rdds=True)

    def run(self, q: str, traced: bool, op: str) -> dict:
        """One operation. Returns wall seconds, observed rows, and (when
        traced) the per-phase layer values."""
        build = QUERIES[q].spark
        data_dir = self.dirs[q]
        try:
            if traced:
                return self._run_traced(q, build, data_dir, op)
            t0 = time.perf_counter()
            df, obs = self._observed(build(self.spark, data_dir))
            df.write.format("noop").mode("overwrite").save()
            wall = time.perf_counter() - t0
            return {"wall": wall, "rows": obs.get["rows"]}
        except Exception as exc:  # noqa: BLE001 — a failed operation is counted, not fatal
            traceback.print_exc(file=sys.stderr)
            return {"wall": None, "rows": None, "error": f"{type(exc).__name__}: {exc}"[:500]}
        finally:
            self._release()

    def _run_traced(self, q: str, build, data_dir: str, op: str) -> dict:
        """One operation split into build, plan and execute spans. REST
        reads happen between the spans, so the spans (and the JVM CPU
        summed over them) leave them out."""
        tr, pr, sc = self.tracer, self.probe, self.spark.sparkContext
        lay: dict = {}
        jvm_cpu = 0.0
        with tr.span("batch.query", op=op, query=q) as root:
            tr.op, tr.op_root = op, root["id"]
            job0, mark = pr.last_job_id(), pr.sql_mark()
            sc.setJobGroup(f"{op}:build", f"perfbench {op} build")
            cpu0, py0 = pr.jvm_cpu_s(), time.process_time()
            with tr.span("plans.build") as s:
                df, obs = self._observed(build(self.spark, data_dir))
            lay["plans.build_py_cpu_s"] = time.process_time() - py0
            jvm_cpu += pr.jvm_cpu_s() - cpu0
            lay["plans.build_s"] = s["end"] - s["start"]
            lay["plans.build_jobs"] = pr.job_counts(job0)["jobs"]
            sc.setJobGroup(f"{op}:plan", f"perfbench {op} plan")
            cpu0 = pr.jvm_cpu_s()
            with tr.span("catalyst.plan") as s:
                df._jdf.queryExecution().executedPlan()
            jvm_cpu += pr.jvm_cpu_s() - cpu0
            lay["catalyst.plan_s"] = s["end"] - s["start"]
            job2, bytes0 = pr.last_job_id(), pr.bytes_snapshot()
            sc.setJobGroup(f"{op}:exec", f"perfbench {op} exec")
            cpu0 = pr.jvm_cpu_s()
            with tr.span("spark_exec.exec") as s:
                df.write.format("noop").mode("overwrite").save()
            jvm_cpu += pr.jvm_cpu_s() - cpu0
            lay["spark_exec.exec_s"] = s["end"] - s["start"]
            lay["spark_exec.jvm_cpu_s"] = jvm_cpu
            lay.update({f"spark_exec.{k}": v for k, v in pr.job_counts(job2).items()})
            lay.update(pr.bytes_delta(bytes0))
            lay.update(pr.kernel_metrics(mark))
            sc.setLocalProperty("spark.jobGroup.id", None)
            sc.setLocalProperty("spark.job.description", None)
            tr.op = tr.op_root = None
        wall = lay["plans.build_s"] + lay["catalyst.plan_s"] + lay["spark_exec.exec_s"]
        return {"wall": wall, "rows": obs.get["rows"], "layers": lay}


def run(spark, workload: str, run_dir: str, seed: int, seconds: float, tracer,
        t_start: float) -> dict:
    """Set up, warm, measure and check one batch workload; `t_start` is
    when the benchmark process started."""
    queries = WORKLOADS[workload]
    t = time.perf_counter()
    sets = sorted({ts for ts, _ in queries.values()})
    set_dirs = {ts: f"{run_dir}/{ts}" for ts in sets}
    props = {ts: inputs.tables(set_dirs[ts], seed, copies=TABLE_SETS[ts]) for ts in sets}
    gen_s = time.perf_counter() - t
    names = list(queries)
    random.Random(seed).shuffle(names)
    dirs = {q: set_dirs[queries[q][0]] for q in names}
    runner = Runner(spark, dirs, tracer)

    t = time.perf_counter()
    warm = {q: runner.run(q, False, f"{q}#warm") for q in names}
    warm_s = time.perf_counter() - t
    setup_s = time.perf_counter() - t_start

    # timed passes. A traced run traces every other query and flips the
    # pattern each pass, so each query runs traced and untraced, and half
    # of the queries run traced first: the overhead estimate then does
    # not carry the warm-up trend from one pass to the next.
    results: list[tuple[int, bool, str, dict]] = []
    t_loop = time.perf_counter()
    deadline = t_loop + seconds
    n_pass = 0
    while n_pass < 2 or time.perf_counter() < deadline:
        for i, q in enumerate(names):
            traced = tracer is not None and (n_pass + i) % 2 == 0
            results.append((n_pass, traced, q, runner.run(q, traced, f"{q}#p{n_pass}")))
        n_pass += 1
    loop_s = time.perf_counter() - t_loop

    # correctness: observed rows vs the expected count for these inputs
    expected = {q: f(props[ts]) if f else _oracle_count(dirs[q], q)
                for q, (ts, f) in queries.items()}
    bad = []
    for n, traced, q, r in [(-1, False, q, r) for q, r in warm.items()] + results:
        if r["rows"] != expected[q]:
            bad.append({"pass": n, "query": q, "rows": r["rows"], "expected": expected[q],
                        "error": r.get("error")})
    failed = sum(1 for b in bad if b["pass"] >= 0)

    def makespan(traced: bool) -> float:
        per_q = [[r["wall"] for _, t_, q_, r in results if q_ == q and t_ == traced and r["wall"]]
                 for q in names]
        return sum(median(x) for x in per_q)

    ok = [r for *_, r in results if r["wall"] is not None]
    untraced_ms = makespan(False)
    e2e = {
        "setup_s": setup_s,
        "makespan_s": untraced_ms,
        "ops_per_s": len(ok) / loop_s,
    }
    per_query = {
        q: {"median_s": median([r["wall"] for _, t_, q_, r in results
                                if q_ == q and not t_ and r["wall"]]),
            "walls_s": [r["wall"] for _, t_, q_, r in results if q_ == q and not t_],
            "warm_s": warm[q]["wall"], "expected_rows": expected[q],
            "tables": queries[q][0]}
        for q in names
    }
    layers = {"setup.gen_s": gen_s, "setup.warm_s": warm_s}
    if tracer is not None:
        traced_layers = {q: [r["layers"] for _, t_, q_, r in results if q_ == q and t_ and "layers" in r]
                         for q in names}
        keys = sorted({k for rows in traced_layers.values() for row in rows for k in row})
        for q in names:
            per_query[q]["layers"] = {k: median([row[k] for row in traced_layers[q]]) for k in keys}
            per_query[q]["layers_by_pass"] = traced_layers[q]
        for k in keys:
            layers[k] = sum(per_query[q]["layers"][k] for q in names)
        layers["trace.overhead_makespan_s"] = makespan(True) - untraced_ms
    report = {
        "inputs": props,
        "queries": names,
        "passes": n_pass,
        "timed_loop_s": loop_s,
        "per_query": per_query,
        "e2e": dict(e2e, error_rate=failed / max(1, len(results))),
        "check_failures": bad,
    }
    return {"correct": not bad, "attempted": len(results), "failed": failed,
            "e2e": e2e, "layers": layers, "report": report}
