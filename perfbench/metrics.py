"""Metric names and units come from BENCHMARK.json, the single list the
benchmark is judged on; this module shapes measured values into it."""

from __future__ import annotations

import json
import math
import os
import statistics

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def spec() -> dict:
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        return json.load(f)


def e2e_metrics(values: dict) -> dict:
    """Every end-to-end metric; each workload measures all of them."""
    return {m["name"]: {"value": values[m["name"]], "unit": m["unit"]}
            for m in spec()["end_to_end"]}


def layer_metrics(values: dict) -> dict:
    """Every per-layer metric. A layer the workload does not go through
    reads 0 (no jobs, no bytes, no time spent there)."""
    unknown = set(values) - {m["name"] for m in spec()["per_layer"]}
    if unknown:
        raise KeyError(f"per-layer values not listed in BENCHMARK.json: {sorted(unknown)}")
    return {m["name"]: {"value": values.get(m["name"], 0), "unit": m["unit"]}
            for m in spec()["per_layer"]}


def median(xs) -> float:
    return statistics.median(xs) if xs else 0.0


def percentile(xs, p: float) -> float:
    """Nearest-rank percentile (p in 0..100) of a non-empty sample."""
    s = sorted(xs)
    return s[max(1, math.ceil(p / 100 * len(s))) - 1]
