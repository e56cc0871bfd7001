"""Spans and Spark-side counters for the traced run.

Spans are recorded by the benchmark's own code around its calls into the
package (no span is opened inside the package). Each span has a name,
start and end (seconds since the benchmark process started), the id of
the span that caused it, and the id of the operation it belongs to.
They stay in memory and are written to a sidecar when the run ends.

Counters come from the Spark status REST API, which exists only when the
UI is enabled (the traced run enables it), and from /proc for the CPU
time of the driver JVM.
"""

from __future__ import annotations

import itertools
import json
import os
import re
import sys
import threading
import time
import urllib.request
from contextlib import contextmanager

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


class Tracer:
    def __init__(self, t0: float) -> None:
        self.t0 = t0
        self.spans: list[dict] = []
        self._ids = itertools.count(1)
        self._lock = threading.Lock()
        self._local = threading.local()
        self.op: str | None = None  # the operation in flight (one client)
        self.op_root: int | None = None  # its root span, parent of cross-thread spans

    @contextmanager
    def span(self, name: str, op: str | None = None, **attrs):
        stack = getattr(self._local, "stack", None)
        if stack is None:
            stack = self._local.stack = []
        rec = {
            "id": next(self._ids),
            "name": name,
            "op": op if op is not None else self.op,
            "parent": stack[-1]["id"] if stack else self.op_root,
            "start": time.perf_counter() - self.t0,
            **attrs,
        }
        stack.append(rec)
        try:
            yield rec
        finally:
            rec["end"] = time.perf_counter() - self.t0
            stack.pop()
            with self._lock:
                self.spans.append(rec)

    def write(self, path: str, **extra) -> None:
        os.makedirs(os.path.dirname(path), exist_ok=True)
        with open(path, "w") as f:
            json.dump({**extra, "spans": sorted(self.spans, key=lambda s: s["start"])},
                      f, indent=1, default=str)


_UNIT = {"ms": 1e-3, "s": 1.0, "m": 60.0, "h": 3600.0,
         "B": 1, "KiB": 2**10, "MiB": 2**20, "GiB": 2**30, "TiB": 2**40}
_VALUE = re.compile(r"([0-9][0-9,]*(?:\.[0-9]+)?)\s*(ms|s|m|h|B|KiB|MiB|GiB|TiB)\b")

# Spark SQL metrics of the Python/Arrow exec nodes (mapInArrow, mapInPandas
# and the Python UDF nodes), as the SQL REST API names them.
KERNEL_METRICS = {
    "time to run Python workers": "operators.kernel_python_s",
    "time to start Python workers": "operators.kernel_python_boot_s",
    "data sent to Python workers": "operators.kernel_bytes_to_python",
    "data returned from Python workers": "operators.kernel_bytes_from_python",
}


def parse_metric(text: str) -> float:
    """The total of a formatted SQL metric: '1.2 s', '3.4 MiB', or
    'total (min, med, max (stageId: taskId))\\n1.2 s (...)'."""
    m = _VALUE.search(text.rsplit("\n", 1)[-1])
    return float(m.group(1).replace(",", "")) * _UNIT[m.group(2)] if m else 0.0


class SparkProbe:
    """Reads the status REST API and the JVM's CPU time."""

    def __init__(self, spark) -> None:
        self.spark = spark
        sc = spark.sparkContext
        if not sc.uiWebUrl:
            raise RuntimeError("tracing needs spark.ui.enabled=true")
        self.base = f"{sc.uiWebUrl}/api/v1/applications/{sc.applicationId}"
        self._sql_seen = 0
        self._jvm_pid = sc._gateway.proc.pid
        self._tick = os.sysconf("SC_CLK_TCK")
        sys.path.insert(0, os.path.join(ROOT, "tools"))
        import execmetrics

        self.execmetrics = execmetrics

    def _get(self, path: str):
        with urllib.request.urlopen(self.base + path, timeout=60) as r:
            return json.load(r)

    def last_job_id(self) -> int:
        jobs = self._get("/jobs")
        return max((j["jobId"] for j in jobs), default=-1)

    def jobs_after(self, job_id: int) -> list[dict]:
        """Jobs submitted after `job_id` (one operation runs at a time, so
        these are the operation's jobs, including those its threads ran)."""
        return [j for j in self._get("/jobs") if j["jobId"] > job_id]

    def job_counts(self, job_id: int) -> dict:
        jobs = self.jobs_after(job_id)
        return {
            "jobs": len(jobs),
            "stages": sum(j.get("numCompletedStages", 0) for j in jobs),
            "tasks": sum(j.get("numCompletedTasks", 0) for j in jobs),
        }

    def bytes_snapshot(self) -> dict:
        return self.execmetrics.snapshot(self.spark)

    def bytes_delta(self, before: dict) -> dict:
        d = self.execmetrics.delta(before, self.bytes_snapshot())
        return {
            "spark_exec.shuffle_read_bytes": d["shuffle_read_bytes"],
            "spark_exec.shuffle_write_bytes": d["shuffle_write_bytes"],
            "spark_exec.spill_bytes": d["disk_spill_bytes"],
            "spark_exec.input_bytes": d["input_bytes"],
        }

    def sql_mark(self) -> int:
        """Count the SQL executions listed so far; pass the result to
        `kernel_metrics` to sum over the ones that came after."""
        while True:
            page = self._get(f"/sql?details=false&offset={self._sql_seen}&length=1000")
            self._sql_seen += len(page)
            if len(page) < 1000:
                return self._sql_seen

    def kernel_metrics(self, mark: int) -> dict:
        out = dict.fromkeys(KERNEL_METRICS.values(), 0.0)
        page = self._get(f"/sql?details=true&planDescription=false&offset={mark}&length=100000")
        self._sql_seen = max(self._sql_seen, mark + len(page))
        for ex in page:
            for node in ex.get("nodes", []):
                for m in node.get("metrics", []):
                    key = KERNEL_METRICS.get(m.get("name"))
                    if key:
                        out[key] += parse_metric(m.get("value", ""))
        return out

    def jvm_cpu_s(self) -> float:
        with open(f"/proc/{self._jvm_pid}/stat") as f:
            fields = f.read().rsplit(")", 1)[1].split()
        return (int(fields[11]) + int(fields[12])) / self._tick
