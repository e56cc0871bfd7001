from __future__ import annotations

import contextlib
import os
import sys
import uuid

import pytest

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

SF_SMOKE = "/root/testdata/sf0.001"
SF_CORRECT = "/root/testdata/sf0.01"


def count_jobs(spark, fn):
    """fn's result and the number of Spark jobs it ran (a fresh job group
    per call: the status tracker keeps a group's old job ids)."""
    sc = spark.sparkContext
    group = f"count-jobs-{uuid.uuid4().hex}"
    sc.setJobGroup(group, group)
    try:
        out = fn()
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    return out, len(sc.statusTracker().getJobIdsForGroup(group))


@pytest.fixture(scope="session")
def spark():
    from pyspark.sql import SparkSession

    import tempfile

    s = (
        SparkSession.builder.master("local[4]")
        .appName("vectordb_from_scratch_spark_tests")
        .config("spark.sql.warehouse.dir", tempfile.mkdtemp(prefix="spark_wh_"))
        .config("spark.sql.shuffle.partitions", "8")
        .config("spark.ui.enabled", "false")
        .config("spark.driver.memory", "8g")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.adaptive.enabled", "true")
        .getOrCreate()
    )
    s.sparkContext.setLogLevel("ERROR")
    yield s


@pytest.fixture(scope="session")
def spark_global(spark):
    """Alias usable inside hypothesis @given tests (plain arg, no funcarg
    re-entry per example)."""
    return spark


@pytest.fixture(scope="session")
def embeddings(spark):
    from vectordb_from_scratch_spark.sources import load_table

    return load_table(spark, SF_SMOKE, "embeddings")


@pytest.fixture(scope="session")
def documents(spark):
    from vectordb_from_scratch_spark.sources import load_table

    return load_table(spark, SF_SMOKE, "documents")


@pytest.fixture
def rename_crash(monkeypatch):
    """Inject a crash between a state swap's two renames: inside
    `with rename_crash():` the first os.rename runs and every later one
    raises OSError."""
    real = os.rename

    @contextlib.contextmanager
    def armed():
        calls = []

        def rename(src, dst, *args, **kwargs):
            calls.append(src)
            if len(calls) > 1:
                raise OSError(f"injected crash before renaming {src}")
            real(src, dst, *args, **kwargs)

        monkeypatch.setattr(os, "rename", rename)
        try:
            yield
        finally:
            monkeypatch.setattr(os, "rename", real)

    return armed
