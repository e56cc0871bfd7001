"""Ad-hoc per-query timer for optimization work: times the named
registry queries with bench.py's own session and timer (noop sink,
between-run cache sweeps, min-of-N), without running the whole
headline set.

Usage: python tools/qtime.py [--sf DIR] [--cpus N] [--reps N] q1 q2 ...
Prints one JSON line: {"queries": {name: min_sec}, "samples": {...}}.
"""

from __future__ import annotations

import argparse
import json
import os
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

import bench  # noqa: E402
from vectordb_from_scratch_spark.session import build_session  # noqa: E402


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("--sf", default=os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1"))
    ap.add_argument("--cpus", default=os.environ.get("SPARK_GRAFT_CPUS", "32"))
    ap.add_argument("--reps", type=int, default=3)
    ap.add_argument("queries", nargs="+")
    args = ap.parse_args()

    spark = build_session(
        app_name="qtime",
        master=f"local[{args.cpus}]",
        shuffle_partitions=int(args.cpus),
        launch=bench.LAUNCH,
    )
    spark.sparkContext.setLogLevel("ERROR")
    bench.warm(spark, args.sf)

    samples: dict[str, list[float]] = {}
    mins: dict[str, float] = {}
    for name in args.queries:
        runs = [bench.run_once(spark, name, args.sf) for _ in range(args.reps)]
        samples[name] = [round(t, 3) for t in runs]
        mins[name] = round(min(runs), 3)
        print(f"{name}: min {mins[name]} s  {samples[name]}", file=sys.stderr)
    print(json.dumps({"queries": mins, "samples": samples, "sf": args.sf, "cpus": args.cpus}))
    spark.stop()


if __name__ == "__main__":
    main()
