"""API-parity tests for the VectorStore facade (reference storage.rs
surface) and persistence semantics (snapshot/recover/compact, P4-P6)."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from vectordb_from_scratch_spark.operators import crud
from vectordb_from_scratch_spark.operators.store import (
    DimensionMismatch,
    VectorNotFound,
    VectorStore,
)
from vectordb_from_scratch_spark.sources import persistence as P

from conftest import count_jobs


@pytest.fixture()
def store(spark):
    s = VectorStore.empty(spark)
    return s.insert_batch(
        [
            ("sunset", [1.0, 0.0, 0.0], {"color": "red", "category": "nature"}),
            ("ocean", [0.0, 1.0, 0.0], {"color": "blue", "category": "nature"}),
            ("fire-truck", [0.9, 0.1, 0.0], {"color": "red", "category": "vehicle"}),
        ]
    )


def test_insert_get_len(store):
    assert len(store) == 3
    assert store.get("sunset") == [1.0, 0.0, 0.0]
    assert store.get_metadata("ocean") == {"color": "blue", "category": "nature"}
    assert store.get("nope") is None
    assert sorted(store.list_ids()) == ["fire-truck", "ocean", "sunset"]


def test_upsert_replaces(store):
    s2 = store.insert("sunset", [0.5, 0.5, 0.0], {"color": "orange"})
    assert len(s2) == 3
    assert s2.get("sunset") == [0.5, 0.5, 0.0]
    assert s2.get_metadata("sunset") == {"color": "orange"}


def test_delete_and_not_found(store):
    s2 = store.delete("ocean")
    assert len(s2) == 2 and s2.get("ocean") is None
    with pytest.raises(VectorNotFound):
        s2.delete("ocean")


def test_dimension_enforced(store):
    with pytest.raises(DimensionMismatch):
        store.insert("bad", [1.0, 2.0])
    with pytest.raises(DimensionMismatch):
        store.search([1.0, 2.0], k=1)


def test_search_self_top1(store):
    res = store.search([1.0, 0.0, 0.0], k=2)
    assert res[0][0] == "sunset" and abs(res[0][1]) < 1e-12
    assert res[1][0] == "fire-truck"


def test_search_batch_per_query_k(store):
    res = store.search_batch([([1.0, 0.0, 0.0], 1), ([0.0, 1.0, 0.0], 3)])
    assert [r[0] for r in res[0]] == ["sunset"]
    assert len(res[1]) == 3 and res[1][0][0] == "ocean"

    # k=0 and a negative k give [], a k above the store size every row;
    # ties (ocean/sunset at sqrt(0.5)) order by id
    queries = [([0.0, 0.0, 1.0], 0), ([0.5, 0.5, 0.0], 10), ([0.2, 0.9, 0.1], -1)]
    res = store.search_batch(queries)
    assert [[i for i, _ in r] for r in res] == [[], ["fire-truck", "ocean", "sunset"], []]
    assert [d for _, d in res[1]] == pytest.approx([0.32 ** 0.5, 0.5 ** 0.5, 0.5 ** 0.5])

    # approximate modes may return fewer than k rows; each query keeps
    # its own rows, in rank order, cut at its own k
    queries = [([1.0, 0.0, 0.0], 1), ([0.0, 1.0, 0.0], 3), ([0.0, 0.0, 1.0], 0),
               ([0.5, 0.5, 0.0], 10)]
    srp = store.with_ann(nbits=4, n_tables=1, seed=7, multiprobe=0)
    assert [[i for i, _ in r] for r in srp.search_batch(queries)] == [
        ["sunset"], ["ocean"], [], []]
    ivf = store.with_ivf_sq8(n_lists=2, n_probe=1, rerank=30)
    assert [[i for i, _ in r] for r in ivf.search_batch(queries)] == [
        ["sunset"], ["ocean"], [], ["fire-truck", "sunset"]]


def test_persisted_search_job_count(spark, tmp_path):
    """A search on a persisted store runs the kNN plan and nothing else:
    per-query k and the order are finished on the driver, and the probe
    is a local relation (no Python task to read it back)."""
    import numpy as np

    from vectordb_from_scratch_spark.cli import _load

    rng = np.random.default_rng(3)
    vecs = rng.standard_normal((2000, 64))
    items = [(f"v{i}", v.tolist(), {"label": str(i % 10)}) for i, v in enumerate(vecs)]
    P.write_snapshot(VectorStore.empty(spark).insert_batch(items).df, str(tmp_path))
    store = _load(spark, str(tmp_path), "euclidean")
    q = rng.standard_normal(64)
    d = np.sqrt(((vecs - q) ** 2).sum(axis=1))
    order = np.argsort(d, kind="stable")
    want = [f"v{i}" for i in order[:10]]
    want_f = [f"v{i}" for i in order[order % 10 == 3][:10]]
    spec = {"eq": {"field": "label", "value": "3"}}
    for _ in range(2):
        res, n = count_jobs(spark, lambda: store.search(q.tolist(), 10))
        assert [i for i, _ in res] == want and n <= 4, n
        res, n = count_jobs(spark, lambda: store.search_with_filter(q.tolist(), 10, spec))
        assert [i for i, _ in res] == want_f and n <= 4, n


def test_persisted_get_is_one_job(spark, tmp_path):
    """A get answers vector and metadata from one collect(): one job, on
    the snapshot and on the log tail alike."""
    from vectordb_from_scratch_spark.server import AppState

    items = [(f"v{i}", [float(i), 1.0], {"n": str(i)}) for i in range(50)]
    P.write_snapshot(VectorStore.empty(spark).insert_batch(items).df, str(tmp_path))
    state = AppState(VectorStore.empty(spark), data_dir=str(tmp_path))
    state.publish(state.store.upsert_entries([("t", [7.0, 7.0], {"n": "t"})]))
    assert count_jobs(spark, lambda: state.store.lookup("v7")) == (([7.0, 1.0], {"n": "7"}), 1)
    assert count_jobs(spark, lambda: state.store.lookup("t")) == (([7.0, 7.0], {"n": "t"}), 1)
    assert count_jobs(spark, lambda: state.store.lookup("absent")) == (None, 1)


def test_persisted_insert_runs_no_job(spark, tmp_path):
    """A persisted insert or delete is one log entry: no Spark job for
    the write or for the rebuilt served frame, and the served plan stays
    one snapshot scan plus one local relation however many writes came
    before."""
    from vectordb_from_scratch_spark.server import AppState

    items = [(f"v{i}", [float(i), 1.0], {}) for i in range(20)]
    P.write_snapshot(VectorStore.empty(spark).insert_batch(items).df, str(tmp_path))
    state = AppState(VectorStore.empty(spark), data_dir=str(tmp_path))
    for i in range(5):
        entries = state.store.upsert_entries([(f"n{i}", [0.5, float(i)])])
        assert count_jobs(spark, lambda: state.publish(entries))[1] == 0
    state.publish(state.store.delete_entries("v3"))
    leaves = state.store.df._jdf.queryExecution().optimizedPlan().collectLeaves()
    assert leaves.size() == 2
    assert len(state.store) == 24 and state.store.get("n4") == [0.5, 4.0]


def test_delete_answers_tail_ids_without_a_job(spark, tmp_path, capsys):
    """A delete checks the id against the driver-held log tail first: a
    live tail id is deleted and a tombstoned one is not found, with no
    Spark job; only an id the tail does not hold scans the snapshot (one
    job). Over HTTP (the handler thread's jobs are ungrouped) and via
    the CLI."""
    import json
    import threading
    import urllib.error
    import urllib.request

    from vectordb_from_scratch_spark.cli import run as cli_run
    from vectordb_from_scratch_spark.server import AppState, make_server

    items = [(f"v{i}", [float(i), 1.0], {}) for i in range(10)]
    P.write_snapshot(VectorStore.empty(spark).insert_batch(items).df, str(tmp_path))
    state = AppState(VectorStore.empty(spark), data_dir=str(tmp_path))
    state.publish(state.store.upsert_entries([("t1", [1.0, 7.0]), ("t2", [2.0, 7.0])]))
    httpd = make_server(state)
    threading.Thread(target=httpd.serve_forever, daemon=True).start()
    tracker = spark.sparkContext.statusTracker()

    def delete(vid):
        """(HTTP status, ungrouped Spark jobs run) of DELETE /vectors/vid."""
        before = set(tracker.getJobIdsForGroup(None))
        r = urllib.request.Request(
            f"http://127.0.0.1:{httpd.server_address[1]}/vectors/{vid}", method="DELETE")
        try:
            with urllib.request.urlopen(r) as resp:
                status = resp.status
                json.loads(resp.read())
        except urllib.error.HTTPError as e:
            status = e.code
        return status, len(set(tracker.getJobIdsForGroup(None)) - before)

    try:
        assert delete("t1") == (200, 0)     # live in the tail
        assert delete("t1") == (404, 0)     # tombstoned in the tail
        assert delete("v4") == (200, 1)     # snapshot only
        assert delete("zz") == (404, 1)     # nowhere
    finally:
        httpd.shutdown()
        httpd.server_close()

    d = str(tmp_path)
    assert count_jobs(spark, lambda: cli_run(["--data-dir", d, "delete", "t2"], spark)) == (0, 0)
    assert count_jobs(spark, lambda: cli_run(["--data-dir", d, "delete", "t2"], spark)) == (1, 0)
    assert count_jobs(spark, lambda: cli_run(["--data-dir", d, "delete", "v5"], spark)) == (0, 1)
    assert "not found" in capsys.readouterr().err
    assert sorted(P.open_log(spark, d).frame().toPandas()["id"]) == [
        f"v{i}" for i in (0, 1, 2, 3, 6, 7, 8, 9)]


def test_write_snapshot_runs_only_the_write_jobs(spark, tmp_path):
    """vector_count comes from the written footers and dimension from
    the caller: a snapshot launches the jobs of its parquet write and no
    read-back job."""
    state = spark.createDataFrame(
        [(f"v{i}", [float(i), 2.0], {}) for i in range(30)],
        "id string, embedding array<double>, metadata map<string,string>",
    ).localCheckpoint()
    _, n_write = count_jobs(spark, lambda: state.write.parquet(str(tmp_path / "plain")))
    for dim in (2, None):
        path = str(tmp_path / f"snap{dim}")
        manifest, n = count_jobs(spark, lambda: P.write_snapshot(state, path, dimension=dim))
        assert manifest == {"vector_count": 30, "dimension": 2, "format": "parquet"}
        assert n == n_write


def test_driver_tail_fold_equals_fold_insert_log(spark, tmp_path):
    """Differential: the log rows folded on the driver (what a store
    serves) equal crud.fold_insert_log over the same rows, deletes and
    multi-row entries included."""
    import random

    rng = random.Random(5)
    log = P.open_log(spark, str(tmp_path))
    for _ in range(40):
        ids = rng.sample([f"v{i}" for i in range(6)], rng.choice([1, 1, 3]))
        log = P.append(log, [
            ("delete", vid, None, None) if rng.random() < 0.3
            else ("insert", vid, [rng.random(), rng.random()], {"n": str(rng.randrange(3))})
            for vid in ids
        ])
    rows = P.read_log(str(tmp_path))
    assert [r[0] for r in rows] == sorted(r[0] for r in rows) and rows[-1][0] == 40
    driver = {i: v for i, v in P.fold_log(rows).items() if v is not None}
    folded = crud.fold_insert_log(spark.createDataFrame(
        rows, "seq long, op string, id string, embedding array<double>, "
        "metadata map<string,string>"))
    assert {r.id: (r.embedding, r.metadata) for r in folded.collect()} == driver
    assert {r.id: (r.embedding, r.metadata) for r in log.frame().collect()} == driver


def test_search_with_filter(store):
    res = store.search_with_filter(
        [1.0, 0.0, 0.0], k=5, filter_spec={"eq": {"field": "category", "value": "vehicle"}}
    )
    assert [r[0] for r in res] == ["fire-truck"]  # exactly the matching rows


# -- persistence ------------------------------------------------------------


def test_snapshot_recover_compact(spark, tmp_path):
    state = spark.createDataFrame(
        [
            ("a", [1.0, 2.0], {"v": "1"}),
            ("b", [3.0, 4.0], {"v": "1"}),
        ],
        "id string, embedding array<double>, metadata map<string,string>",
    )
    snap1 = str(tmp_path / "snap1")
    manifest = P.write_snapshot(state, snap1)
    assert manifest == {"vector_count": 2, "dimension": 2, "format": "parquet"}
    assert P.read_manifest(snap1)["vector_count"] == 2

    tail = spark.createDataFrame(
        [
            (10, "insert", "a", [9.0, 9.0], {"v": "2"}),   # supersedes snapshot row
            (11, "delete", "b", None, None),               # tombstone drops snapshot row
            (12, "insert", "c", [5.0, 6.0], {"v": "1"}),   # new row
        ],
        crud.LOG_SCHEMA,
    )
    recovered = {r.id: r for r in P.recover(spark, snap1, tail.withColumn(
        "embedding", F.col("embedding").cast("array<double>")
    )).collect()}
    assert set(recovered) == {"a", "c"}
    assert recovered["a"].embedding == [9.0, 9.0]
    assert recovered["a"].metadata == {"v": "2"}  # metadata survives (not ref bug P9)

    snap2 = str(tmp_path / "snap2")
    m2 = P.compact(spark, snap1, tail.withColumn(
        "embedding", F.col("embedding").cast("array<double>")
    ), snap2)
    assert m2["vector_count"] == 2
    after = {r.id for r in P.read_snapshot(spark, snap2).collect()}
    assert after == {"a", "c"}


def test_recover_as_of_point_in_time(spark, tmp_path):
    """Point-in-time recovery: replay the tail only through `as_of`, and
    refuse a snapshot that already folds past the requested point."""
    state = spark.createDataFrame(
        [("a", [1.0, 2.0], {"v": "1"}), ("b", [3.0, 4.0], {"v": "1"})],
        "id string, embedding array<double>, metadata map<string,string>",
    )
    snap1 = str(tmp_path / "pit_snap1")
    m = P.write_snapshot(state, snap1, log_seq=9)
    assert m["log_seq"] == 9

    tail = spark.createDataFrame(
        [
            (10, "insert", "a", [9.0, 9.0], {"v": "2"}),
            (11, "delete", "b", None, None),
            (12, "insert", "c", [5.0, 6.0], {"v": "1"}),
        ],
        crud.LOG_SCHEMA,
    ).withColumn("embedding", F.col("embedding").cast("array<double>"))

    # as_of=10: a's upsert applied, b's delete and c's insert not yet
    at10 = {r.id: r for r in P.recover(spark, snap1, tail, as_of=10).collect()}
    assert set(at10) == {"a", "b"}
    assert at10["a"].embedding == [9.0, 9.0]
    # as_of=11: b now tombstoned
    assert {r.id for r in P.recover(spark, snap1, tail, as_of=11).collect()} == {"a"}
    # as_of at the head == plain recover
    head = {r.id for r in P.recover(spark, snap1, tail).collect()}
    assert {r.id for r in P.recover(spark, snap1, tail, as_of=12).collect()} == head

    # compact records the folded-through position; recovering BEFORE it fails loudly
    snap2 = str(tmp_path / "pit_snap2")
    m2 = P.compact(spark, snap1, tail, snap2)
    assert m2["log_seq"] == 12
    with pytest.raises(ValueError, match="folds the log through"):
        P.recover(spark, snap2, None, as_of=10)
