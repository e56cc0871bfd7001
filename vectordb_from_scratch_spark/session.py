"""Session factory with the engine's recommended configuration.

The reference configuration for running the engine standalone, with the
knobs that matter at each scale annotated. Nothing here is required for
correctness — every operator works on a vanilla session.

Users: the CLI and server (`cli._session`), `perfbench/run.py`,
`bench.py` and every tool under `tools/`. Each passes its app name,
master and shuffle partitions, plus its launch settings (driver memory,
status UI, UI retention) in `launch`. Two sessions stay deliberately
plain, like the session the oracle gate runs `__spark_entry__` on:
`tests/conftest.py` and `tools/check_oracle.py`. Arrow changes what
`toPandas` returns (arrays become ndarrays, struct Rows become dicts),
and the oracle compare must see the values the gate sees.
"""

from __future__ import annotations

import os
from collections.abc import Mapping

from pyspark.sql import SparkSession

__all__ = ["build_session"]


def build_session(
    app_name: str = "vectordb_from_scratch_spark",
    master: str | None = None,
    shuffle_partitions: int | None = None,
    launch: Mapping[str, str] | None = None,
) -> SparkSession:
    cpus = os.environ.get("SPARK_GRAFT_CPUS", "32")
    master = master or f"local[{cpus}]"
    # local mode: shuffle partitions ≈ cores (not the 200 default — empty
    # partitions cost scheduling). On a real cluster: ≈ 2-3× total cores,
    # or leave to AQE coalescing with a high initial value.
    shuffle_partitions = shuffle_partitions or int(cpus)
    return (
        SparkSession.builder.master(master)
        .appName(app_name)
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        # AQE: runtime coalescing, skew-join splitting, join-strategy
        # switching — the safety net for every plan in this package.
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        # Arrow for every pandas-API boundary (mapInPandas stages).
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.session.timeZone", "UTC")
        # testdata `events.ts` has shipped as TIMESTAMP(NANOS) in some
        # generations; set the read flag at build time so sources/tables.py
        # never has to mutate a live session (it falls back to a footer-
        # probed set only on foreign sessions hitting that layout).
        .config("spark.sql.legacy.parquet.nanosAsLong", "true")
        # ~128 MB scan splits: the parquet-side parallelism knob. At 100 TB
        # this yields ~800k input splits — fine; never raise it to "reduce
        # task count", that starves executors.
        .config("spark.sql.files.maxPartitionBytes", "134217728")
        # the caller's launch settings: driver memory, status UI on/off
        # and its retention — never a conf that changes a plan
        .config(map=dict(launch or {}))
        .getOrCreate()
    )
