"""Exact counts must repeat: Spark jobs per build and execute phase of
each batch query, and Spark jobs per request type of the server, across
every traced pass of two traced runs with the same seed.

Runs the benchmark itself (about four minutes on 4 cores):

    python3 -m pytest perfbench/tests -q
"""

from __future__ import annotations

import json
import os
import subprocess
import sys

import pytest

ROOT = os.path.dirname(os.path.dirname(os.path.dirname(os.path.abspath(__file__))))
SEED = 7

# Counts known not to repeat, with the cause.
EXCEPTIONS: dict[tuple[str, str], str] = {
    ("knn_mmr_diversify", "plans.build_jobs"): (
        "34 or 37 on the same inputs in one process. The varying jobs are "
        "AQE query stages, each submitted as its own job: in the last greedy "
        "round AQE sometimes materialises three more stages and the final "
        "localCheckpoint job then has 5 stages instead of 2, depending on "
        "the order in which its concurrently submitted stages finish."
    ),
    ("get", "server.jobs_per_request"): (
        "VectorStore.get and get_metadata each call DataFrame.first(), i.e. "
        "take(1): one job over the first partition, and a second job over "
        "more partitions when the id is not there. A get costs 2 or 4 jobs "
        "depending on which part file holds the id."
    ),
}


def _traced_run(workload: str) -> dict:
    out = subprocess.run(
        [sys.executable, "perfbench/run.py", "--workload", workload, "--seed", str(SEED),
         "--seconds", "60", "--trace", "1"],
        cwd=ROOT, capture_output=True, text=True, timeout=600,
    )
    assert out.returncode == 0, out.stderr[-3000:]
    result = json.loads(out.stdout.strip().splitlines()[-1])
    assert result["correct"], out.stdout[-3000:]
    report = json.loads(out.stdout.strip().splitlines()[-2])["report"]
    with open(os.path.join(ROOT, report["sidecar"])) as f:
        return json.load(f)


def _assert_repeats(values: dict) -> None:
    varying = {key: vals for key, vals in values.items() if len(set(vals)) > 1}
    unexplained = {k: v for k, v in varying.items() if k not in EXCEPTIONS}
    assert not unexplained, f"counts that did not repeat: {unexplained}"


@pytest.mark.parametrize("workload", ["batch_mixed"])
def test_batch_job_counts_repeat(workload):
    values: dict = {}
    for _ in range(2):
        per_query = _traced_run(workload)["report"]["per_query"]
        for q, rec in per_query.items():
            assert len(rec["layers_by_pass"]) >= 2
            for row in rec["layers_by_pass"]:
                for key in ("plans.build_jobs", "spark_exec.jobs"):
                    values.setdefault((q, key), []).append(row[key])
    _assert_repeats(values)


def test_server_job_counts_repeat():
    values: dict = {}
    for _ in range(2):
        for kind, jobs in _traced_run("serve_mixed")["report"]["jobs_by_kind"].items():
            assert jobs
            values.setdefault((kind, "server.jobs_per_request"), []).extend(jobs)
    _assert_repeats(values)
