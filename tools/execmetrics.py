"""Deterministic per-cell execution metrics for the scale benches
(VERDICT r9 #1): shuffle read/write bytes, memory+disk spill, task
counts, and input/output bytes, captured from Spark's status REST API
as a BEFORE/AFTER snapshot delta around each measured cell.

Why: r9's containment A/B proved wall clock cannot adjudicate plan
questions at the spill decade on a shared box — identical configs
swung 274→354 s and winners flipped with run order. Bytes moved by a
deterministic plan over deterministic data are exactly reproducible,
so "which plan shuffles/spills less" has a stable answer even when
"which plan is faster this run" does not. This is the engine-side
analog of the reference's latency counters (src/metrics.rs:25-72),
pointed at the PLANNER instead of the request path.

Mechanics: the driver-local UI status store exposes cumulative
per-stage executor metrics at /api/v1/applications/{app}/stages. A
snapshot sums them over all non-active stages; a cell's cost is the
difference of two snapshots. The benches that use this pass UI_LAUNCH
to build_session, and leave spark.appStatusStore.diskStoreDir unset
(the in-memory store is fine).
"""

from __future__ import annotations

import json
import urllib.request

# UI on for the status REST endpoint; retention sized so no stage of a
# measured cell is evicted before the AFTER snapshot (eviction would
# deflate the cumulative sum — stages are ~KB). Task retention stays
# tiny: stage-level sums are aggregated independently of per-task rows.
UI_LAUNCH = {
    "spark.ui.enabled": "true",
    "spark.ui.retainedStages": "100000",
    "spark.ui.retainedJobs": "100000",
    "spark.ui.retainedTasks": "100",
}

# REST field → short key. Executor-side metrics only (driver collects
# are visible as tiny outputBytes, which is fine — we compare deltas).
_FIELDS = {
    "shuffle_read_bytes": "shuffleReadBytes",
    "shuffle_write_bytes": "shuffleWriteBytes",
    "memory_spill_bytes": "memoryBytesSpilled",
    "disk_spill_bytes": "diskBytesSpilled",
    "input_bytes": "inputBytes",
    "output_bytes": "outputBytes",
    "tasks": "numCompleteTasks",
}


def _stage_rows(spark) -> list[dict]:
    base = spark.sparkContext.uiWebUrl
    if not base:
        raise RuntimeError(
            "execmetrics needs the Spark UI status endpoint: start the "
            "session with build_session(launch=execmetrics.UI_LAUNCH)"
        )
    app_id = spark.sparkContext.applicationId
    url = f"{base}/api/v1/applications/{app_id}/stages"
    with urllib.request.urlopen(url, timeout=60) as r:
        return json.load(r)


def snapshot(spark) -> dict[str, int]:
    """Cumulative executor metrics over every COMPLETED/FAILED stage so
    far (active stages excluded — snapshot between actions, when the
    cell's work is quiesced)."""
    tot = dict.fromkeys(_FIELDS, 0)
    for st in _stage_rows(spark):
        if st.get("status") == "ACTIVE":
            continue
        for key, field in _FIELDS.items():
            tot[key] += int(st.get(field, 0) or 0)
    return tot


def delta(before: dict[str, int], after: dict[str, int]) -> dict[str, int]:
    return {k: after[k] - before[k] for k in _FIELDS}


def measure(spark, fn):
    """Run fn() once and return (result, metrics-delta dict). The delta
    is deterministic for a deterministic plan — use it (not wall clock)
    to adjudicate plan A/Bs."""
    before = snapshot(spark)
    result = fn()
    return result, delta(before, snapshot(spark))


def timed_with_metrics(fn, runs: int) -> tuple[float, dict]:
    """Best-of-`runs` wall seconds + the exec-metrics delta of the
    FIRST run (a deterministic plan moves identical bytes every run, so
    one capture suffices; wall clock keeps min-of-N). The shared `_time`
    body of every scale-bench tool — one place to fix, four tools served
    (r10 review)."""
    import time

    from pyspark.sql import SparkSession

    spark = SparkSession.getActiveSession()
    before = snapshot(spark)
    t0 = time.monotonic()
    fn()
    best = time.monotonic() - t0
    metrics = fmt(delta(before, snapshot(spark)))
    for _ in range(runs - 1):
        t0 = time.monotonic()
        fn()
        best = min(best, time.monotonic() - t0)
    return round(best, 3), metrics


def fmt(d: dict[str, int]) -> dict:
    """JSON-friendly: bytes fields also rendered as MiB for SCALE.md."""
    out = dict(d)
    for k, v in d.items():
        if k.endswith("_bytes"):
            out[k.replace("_bytes", "_mib")] = round(v / (1024 * 1024), 1)
    return out
