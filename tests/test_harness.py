"""The benchmark harness and the tools: bench.py's shared timer runs a
query and releases everything it left behind, every tool compiles, and
every harness builds its session through session.build_session. Plus
the one payload skeleton: every multimodal stage and every in-plan
payload synthesis runs on multimodal.map_payloads."""

from __future__ import annotations

import glob
import os
import py_compile

from conftest import SF_SMOKE

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
HARNESS = [os.path.join(ROOT, "bench.py")] + sorted(
    glob.glob(os.path.join(ROOT, "tools", "*.py"))
)


def test_run_once_times_and_releases(spark):
    import bench
    from vectordb_from_scratch_spark.operators import cache

    sec = bench.run_once(spark, "knn_euclidean", SF_SMOKE)
    assert isinstance(sec, float) and sec > 0
    assert cache._CACHE_HANDLES == []


def test_harness_files_compile(tmp_path):
    for path in HARNESS:
        py_compile.compile(
            path, cfile=str(tmp_path / (os.path.basename(path) + "c")), doraise=True
        )


def test_only_check_oracle_builds_its_own_session():
    # check_oracle stands in for the oracle gate and keeps its plain
    # session; everything else goes through build_session
    builders = [
        os.path.relpath(path, ROOT)
        for path in HARNESS
        if "SparkSession.builder" in open(path).read()
    ]
    assert builders == ["tools/check_oracle.py"]


def test_one_payload_skeleton():
    pkg = os.path.join(ROOT, "vectordb_from_scratch_spark")
    multimodal = open(os.path.join(pkg, "operators", "multimodal.py")).read()
    registry = open(os.path.join(pkg, "plans", "registry.py")).read()
    assert multimodal.count("mapInPandas(") == 1
    assert "def synth(batches" not in registry
