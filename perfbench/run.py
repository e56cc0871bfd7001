"""Layered benchmark for vectordb_from_scratch_spark.

    python3 perfbench/run.py --workload batch_mixed --seed 1 --seconds 10 --trace 0

Run from the root of a checkout. The workload's inputs are generated from
the seed; the package is imported from the checkout and timed through its
public entry points. The last line of stdout is one JSON object:
``{"correct", "attempted", "failed", "metrics"}``. With ``--trace 0`` the
metrics are the end-to-end ones, with ``--trace 1`` the per-layer ones,
and a sidecar with every span goes to ``.perfbench_work/``.

Workloads: ``batch_mixed`` (registry queries from
``plans.registry.QUERIES``) and ``serve_mixed`` (the HTTP server over a
persisted store). See perfbench/README.md.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import sys
import time

T_START = time.perf_counter()

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
WORK = os.path.join(ROOT, ".perfbench_work")
WORKLOADS = ("batch_mixed", "serve_mixed")

# Launch settings (not package code): the heap is sized for a 15 GB,
# 4-core box shared with other jobs. build_session leaves the heap at
# Spark's 1 GB default, under which dedup_neardup on a 10x corpus fails
# to broadcast its build side.
DRIVER_MEMORY = "4g"


def _launch_settings(trace: bool, work: str) -> None:
    """Set the JVM launch arguments and the core count before pyspark is
    imported. The status UI (and its REST API) is on only when tracing."""
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    confs = {
        "spark.driver.host": "127.0.0.1",
        "spark.driver.bindAddress": "127.0.0.1",
        "spark.ui.showConsoleProgress": "false",
        "spark.ui.enabled": "true" if trace else "false",
    }
    if trace:
        confs.update({
            "spark.ui.retainedJobs": "1000000",
            "spark.ui.retainedStages": "1000000",
            "spark.ui.retainedTasks": "1000000",
            "spark.sql.ui.retainedExecutions": "1000000",
        })
    args = [f"--driver-memory {DRIVER_MEMORY}",
            f"--driver-java-options -Djava.io.tmpdir={tmp}"]
    args += [f"--conf {k}={v}" for k, v in confs.items()]
    os.environ["PYSPARK_SUBMIT_ARGS"] = " ".join(args) + " pyspark-shell"
    os.environ["SPARK_GRAFT_CPUS"] = str(len(os.sched_getaffinity(0)))
    # the environment variable, not spark.local.dir, because an inherited
    # SPARK_LOCAL_DIRS would override the conf
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(work, "spark-local")
    os.environ["TMPDIR"] = tmp


def effective_conf(spark) -> dict:
    keys = (
        "spark.master", "spark.driver.memory", "spark.sql.shuffle.partitions",
        "spark.sql.adaptive.enabled", "spark.sql.adaptive.skewJoin.enabled",
        "spark.sql.execution.arrow.pyspark.enabled",
        "spark.sql.files.maxPartitionBytes", "spark.ui.enabled",
    )
    conf = {k: spark.conf.get(k, None) for k in keys}
    conf["spark.version"] = spark.version
    conf["SPARK_LOCAL_DIRS"] = os.environ.get("SPARK_LOCAL_DIRS")
    return conf


def stop_spark(spark) -> None:
    """Stop the session and wait for the JVM (and with it the Python
    workers it forked) to exit."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    spark.stop()
    if gateway is None:
        return
    proc = getattr(gateway, "proc", None)
    gateway.shutdown()
    if proc is not None:
        if proc.stdin is not None:
            proc.stdin.close()  # the JVM exits when its stdin closes
        try:
            proc.wait(timeout=30)
        except Exception:  # noqa: BLE001 — TimeoutExpired: force it
            proc.kill()
            proc.wait(timeout=30)
    SparkContext._gateway = None
    SparkContext._jvm = None


def main(argv: list[str] | None = None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)

    if not os.path.isfile(os.path.join(ROOT, "vectordb_from_scratch_spark", "__init__.py")):
        print(f"error: no vectordb_from_scratch_spark package under {ROOT}; "
              "run from the root of a full checkout", file=sys.stderr)
        return 2

    trace = bool(args.trace)
    run_dir = os.path.join(WORK, f"run-{args.workload}-{args.seed}-{os.getpid()}")
    _launch_settings(trace, run_dir)
    sys.path.insert(0, ROOT)
    sys.path.insert(0, HERE)

    from vectordb_from_scratch_spark.session import build_session

    from tracing import Tracer

    tracer = Tracer(T_START) if trace else None
    spark = build_session(app_name=f"perfbench_{args.workload}")
    spark.sparkContext.setLogLevel("ERROR")
    session_s = time.perf_counter() - T_START
    try:
        if args.workload == "serve_mixed":
            import serve

            out = serve.run(spark, run_dir, args.seed, args.seconds, tracer, T_START)
        else:
            import batch

            out = batch.run(spark, args.workload, run_dir, args.seed, args.seconds, tracer,
                            T_START)
        out["layers"]["setup.session_s"] = session_s
        out["report"]["conf"] = effective_conf(spark)
    finally:
        stop_spark(spark)
        shutil.rmtree(run_dir, ignore_errors=True)

    report = dict(workload=args.workload, seed=args.seed, seconds=args.seconds,
                  trace=args.trace, **out["report"])
    if tracer is not None:
        path = os.path.join(WORK, f"trace-{args.workload}-seed{args.seed}.json")
        tracer.write(path, report=report, layers=out["layers"])
        report["sidecar"] = os.path.relpath(path, ROOT)
    print(json.dumps({"report": report}, default=str))

    from metrics import e2e_metrics, layer_metrics

    metrics = layer_metrics(out["layers"]) if trace else e2e_metrics(out["e2e"])
    print(json.dumps({
        "correct": out["correct"],
        "attempted": out["attempted"],
        "failed": out["failed"],
        "metrics": metrics,
    }))
    return 0


if __name__ == "__main__":
    sys.exit(main())
