"""HTTP API parity tests — the reference's route tests
(src/server/routes.rs:434+ mod tests) re-run against our stdlib server:
all nine endpoints, status codes, JSON shapes, filter wire format,
metadata omission, 404/400 paths, and metrics counter/percentile
semantics (src/metrics.rs)."""

from __future__ import annotations

import json
import threading
import urllib.error
import urllib.request

import pytest

from vectordb_from_scratch_spark.operators.store import VectorStore
from vectordb_from_scratch_spark.server import (
    AppState,
    MetricsCollector,
    make_server,
    wire_filter_to_spec,
)


@pytest.fixture()
def base_url(spark):
    state = AppState(VectorStore.empty(spark, metric="euclidean"))
    httpd = make_server(state)
    t = threading.Thread(target=httpd.serve_forever, daemon=True)
    t.start()
    yield f"http://127.0.0.1:{httpd.server_address[1]}"
    httpd.shutdown()
    httpd.server_close()


def req(base: str, method: str, path: str, body=None):
    """Returns (status, parsed-json)."""
    data = json.dumps(body).encode() if body is not None else None
    r = urllib.request.Request(base + path, data=data, method=method,
                              headers={"Content-Type": "application/json"})
    try:
        with urllib.request.urlopen(r) as resp:
            return resp.status, json.loads(resp.read() or b"null")
    except urllib.error.HTTPError as e:
        return e.code, json.loads(e.read() or b"null")


def test_full_crud_and_search_roundtrip(base_url):
    # empty store health (routes.rs health handler: status + vector_count)
    s, body = req(base_url, "GET", "/health")
    assert (s, body) == (200, {"status": "ok", "vector_count": 0})

    # insert -> 201 {"id","status":"inserted"}
    s, body = req(base_url, "POST", "/vectors",
                  {"id": "a", "vector": [0.0, 0.0], "metadata": {"color": "red"}})
    assert (s, body) == (201, {"id": "a", "status": "inserted"})
    s, _ = req(base_url, "POST", "/vectors", {"id": "b", "vector": [3.0, 4.0]})
    assert s == 201

    # batch insert -> 201 {"inserted": n}
    s, body = req(base_url, "POST", "/vectors/batch", {"vectors": [
        {"id": "c", "vector": [1.0, 0.0], "metadata": {"color": "blue"}},
        {"id": "d", "vector": [0.0, 1.0]},
    ]})
    assert (s, body) == (201, {"inserted": 2})

    # list ids
    s, ids = req(base_url, "GET", "/vectors")
    assert s == 200 and sorted(ids) == ["a", "b", "c", "d"]

    # point lookup: metadata present
    s, body = req(base_url, "GET", "/vectors/a")
    assert s == 200
    assert body == {"id": "a", "dimension": 2, "vector": [0.0, 0.0],
                    "metadata": {"color": "red"}}
    # metadata empty -> key omitted (serde skip_serializing_if, routes.rs:73)
    s, body = req(base_url, "GET", "/vectors/b")
    assert s == 200 and "metadata" not in body

    # search from origin: a(0) < c(1) = d(1) < b(5); tie on distance -> id
    s, res = req(base_url, "POST", "/search", {"vector": [0.0, 0.0], "k": 3})
    assert s == 200
    assert [r["id"] for r in res] == ["a", "c", "d"]
    assert [round(r["distance"], 6) for r in res] == [0.0, 1.0, 1.0]

    # default k=10 (routes.rs:240)
    s, res = req(base_url, "POST", "/search", {"vector": [0.0, 0.0]})
    assert s == 200 and len(res) == 4

    # filtered search, reference wire format (internally tagged op enum)
    s, res = req(base_url, "POST", "/search", {
        "vector": [0.0, 0.0], "k": 10,
        "filter": {"op": "eq", "field": "color", "value": "blue"}})
    assert s == 200 and [r["id"] for r in res] == ["c"]
    # ne passes rows where the field is ABSENT (src/storage.rs:65)
    s, res = req(base_url, "POST", "/search", {
        "vector": [0.0, 0.0], "k": 10,
        "filter": {"op": "ne", "field": "color", "value": "red"}})
    assert s == 200 and sorted(r["id"] for r in res) == ["b", "c", "d"]

    # batch search with per-query k + shared filter
    s, res = req(base_url, "POST", "/search/batch", {
        "queries": [{"vector": [0.0, 0.0], "k": 1}, {"vector": [3.0, 4.0], "k": 2}]})
    assert s == 200
    assert [r["id"] for r in res[0]] == ["a"]
    assert [r["id"] for r in res[1]] == ["b", "d"]  # b=0, d=sqrt(18), c=sqrt(20)
    s, res = req(base_url, "POST", "/search/batch", {
        "queries": [{"vector": [0.0, 0.0]}],
        "filter": {"op": "exists", "field": "color"}})
    assert s == 200 and sorted(r["id"] for r in res[0]) == ["a", "c"]

    # delete -> then 404 on get and on re-delete
    s, body = req(base_url, "DELETE", "/vectors/a")
    assert (s, body) == (200, {"id": "a", "status": "deleted"})
    s, body = req(base_url, "GET", "/vectors/a")
    assert s == 404 and "error" in body
    s, body = req(base_url, "DELETE", "/vectors/a")
    assert s == 404 and "error" in body

    s, body = req(base_url, "GET", "/health")
    assert body["vector_count"] == 3

    # metrics: counters reflect the traffic above; latencies recorded per
    # search request (batch = one sample, routes.rs:342-370)
    s, m = req(base_url, "GET", "/metrics")
    assert s == 200
    assert m["total_inserts"] == 4  # 2 single + 2 batch
    assert m["total_deletes"] == 1
    assert m["total_queries"] == 6  # 4 /search + 2 /search/batch
    assert m["avg_query_latency_us"] > 0
    assert 0 < m["p50_query_latency_us"] <= m["p95_query_latency_us"] <= m["p99_query_latency_us"]


def test_error_paths(base_url):
    # dimension mismatch on second insert -> 400 (error.rs DimensionMismatch)
    req(base_url, "POST", "/vectors", {"id": "a", "vector": [1.0, 2.0]})
    s, body = req(base_url, "POST", "/vectors", {"id": "x", "vector": [1.0, 2.0, 3.0]})
    assert s == 400 and "error" in body
    # query dimension mismatch -> 400
    s, body = req(base_url, "POST", "/search", {"vector": [1.0], "k": 1})
    assert s == 400 and "error" in body
    # malformed body -> 400
    r = urllib.request.Request(base_url + "/search", data=b"{not json",
                              method="POST")
    with pytest.raises(urllib.error.HTTPError) as ei:
        urllib.request.urlopen(r)
    assert ei.value.code == 400
    # missing required field -> 400
    s, body = req(base_url, "POST", "/vectors", {"vector": [1.0, 2.0]})
    assert s == 400 and "error" in body
    # unknown routes -> 404
    assert req(base_url, "GET", "/nope")[0] == 404
    assert req(base_url, "POST", "/vectors/a")[0] == 404


def test_empty_store_search(base_url):
    s, res = req(base_url, "POST", "/search", {"vector": [1.0, 2.0], "k": 5})
    assert (s, res) == (200, [])


def test_review_edge_cases(base_url):
    # empty batch insert on a fresh (dimensionless) store -> 201 inserted=0
    s, body = req(base_url, "POST", "/vectors/batch", {"vectors": []})
    assert (s, body) == (201, {"inserted": 0})
    # duplicate ids within one batch: last write wins (reference HashMap loop)
    s, _ = req(base_url, "POST", "/vectors/batch", {"vectors": [
        {"id": "x", "vector": [1.0, 1.0]},
        {"id": "x", "vector": [9.0, 9.0]},
    ]})
    assert s == 201
    s, body = req(base_url, "GET", "/health")
    assert body["vector_count"] == 1
    s, body = req(base_url, "GET", "/vectors/x")
    assert body["vector"] == [9.0, 9.0]
    # percent-encoded ids round-trip through GET and DELETE
    s, _ = req(base_url, "POST", "/vectors", {"id": "my id/2", "vector": [0.0, 0.0]})
    assert s == 201
    s, body = req(base_url, "GET", "/vectors/my%20id%2F2")
    assert s == 200 and body["id"] == "my id/2"
    s, body = req(base_url, "DELETE", "/vectors/my%20id%2F2")
    assert (s, body) == (200, {"id": "my id/2", "status": "deleted"})
    # explicit k=0 is honored (not bumped to the default 10)
    s, res = req(base_url, "POST", "/search", {"vector": [0.0, 0.0], "k": 0})
    assert (s, res) == (200, [])
    # empty batch search -> 200 []
    s, res = req(base_url, "POST", "/search/batch", {"queries": []})
    assert (s, res) == (200, [])


def test_persisted_store_survives_writes(spark, tmp_path):
    """A data_dir-backed server must keep serving after a write: the
    published store is re-loaded from the NEW snapshot (the old plan's
    part files are deleted by the rename-overwrite)."""
    from vectordb_from_scratch_spark.cli import _load

    # pre-existing snapshot -> the loaded store's lineage scans data_dir
    seed = VectorStore.empty(spark).insert("seed", [1.0, 2.0])
    from vectordb_from_scratch_spark.cli import _save

    _save(seed, str(tmp_path))
    state = AppState(_load(spark, str(tmp_path), "euclidean"), data_dir=str(tmp_path))
    httpd = make_server(state)
    t = threading.Thread(target=httpd.serve_forever, daemon=True)
    t.start()
    base = f"http://127.0.0.1:{httpd.server_address[1]}"
    try:
        s, _ = req(base, "POST", "/vectors", {"id": "n1", "vector": [3.0, 4.0]})
        assert s == 201
        # this evaluates the published store's plan — stale lineage would 500
        s, body = req(base, "GET", "/health")
        assert (s, body) == (200, {"status": "ok", "vector_count": 2})
        s, res = req(base, "POST", "/search", {"vector": [3.0, 4.0], "k": 1})
        assert s == 200 and res[0]["id"] == "n1"
        s, _ = req(base, "DELETE", "/vectors/seed")
        assert s == 200
        s, body = req(base, "GET", "/health")
        assert body["vector_count"] == 1
    finally:
        httpd.shutdown()
        httpd.server_close()


@pytest.mark.parametrize("mode", ["srp", "ivf_sq8"])
def test_persisted_publish_keeps_index_mode(spark, tmp_path, mode):
    """A data_dir-backed publish re-loads the store from the snapshot;
    the served store must keep its ANN mode, not fall back to exact."""
    store = VectorStore.empty(spark).insert_batch(
        [(f"v{i}", [float(i), float(i)], {}) for i in range(1, 9)]
    )
    if mode == "srp":
        store = store.with_ann(nbits=2, n_tables=1)
    else:
        store = store.with_ivf_sq8(n_lists=2, n_probe=2, rerank=10)
    state = AppState(store, data_dir=str(tmp_path))
    state.publish(state.store.insert("v9", [9.0, 9.0]))
    assert state.store.ann_params == store.ann_params
    assert len(state.store.list_ids()) == 9


def test_in_memory_publish_keeps_one_leaf(spark):
    """Without a data_dir, publish materializes the new snapshot: the
    served plan stays one relation however many writes came before
    (upsert's lazy plan stacks an anti-join and a union per write)."""
    state = AppState(VectorStore.empty(spark))
    for i in range(6):
        state.publish(state.store.insert(f"v{i}", [float(i), 1.0]))
    plan = state.store.df._jdf.queryExecution().optimizedPlan()
    assert plan.collectLeaves().size() == 1
    assert sorted(state.store.list_ids()) == [f"v{i}" for i in range(6)]
    assert state.store.get("v4") == [4.0, 1.0]


def test_in_memory_store_strategy_stays_fold(spark):
    """An in-memory store reads 0 estimated rows, so knn's auto strategy
    stays on the exact fold at any size, before and after publish."""
    from vectordb_from_scratch_spark.operators.vecblock import choose_strategy

    items = [(f"v{i}", [float(i % 7), float(i % 11)], {}) for i in range(6000)]
    store = VectorStore.empty(spark).insert_batch(items)
    assert choose_strategy("auto", store.df) == "window"
    state = AppState(store)
    state.publish(store)
    assert choose_strategy("auto", state.store.df) == "window"
    state.publish(state.store.insert("extra", [0.5, 0.5]))
    assert choose_strategy("auto", state.store.df) == "window"


def test_wire_filter_to_spec_nested():
    wire = {"op": "and", "filters": [
        {"op": "eq", "field": "lang", "value": "en"},
        {"op": "or", "filters": [
            {"op": "exists", "field": "source"},
            {"op": "ne", "field": "split", "value": "test"},
        ]},
    ]}
    assert wire_filter_to_spec(wire) == {"and": [
        {"eq": {"field": "lang", "value": "en"}},
        {"or": [
            {"exists": {"field": "source"}},
            {"ne": {"field": "split", "value": "test"}},
        ]},
    ]}
    with pytest.raises(ValueError):
        wire_filter_to_spec({"op": "like", "field": "x", "value": "y"})
    with pytest.raises(ValueError):
        wire_filter_to_spec(["not", "a", "dict"])


def test_metrics_collector_reference_semantics():
    """Nearest-rank percentile exactly as src/metrics.rs:62-72."""
    m = MetricsCollector()
    assert m.snapshot()["p50_query_latency_us"] == 0.0
    for us in [100, 200, 300, 400, 500]:
        m.record_query(us / 1e6)
    snap = m.snapshot()
    assert snap["total_queries"] == 5
    assert snap["avg_query_latency_us"] == pytest.approx(300.0)
    # n=5: idx(p) = round(p/100*4) -> p50 idx2=300, p95 idx4=500, p99 idx4=500
    assert snap["p50_query_latency_us"] == pytest.approx(300.0)
    assert snap["p95_query_latency_us"] == pytest.approx(500.0)
    assert snap["p99_query_latency_us"] == pytest.approx(500.0)
    # n=2: p50 -> round(0.5*1)=1 -> upper value (Rust round half-away-from-zero)
    m2 = MetricsCollector()
    m2.record_query(100 / 1e6)
    m2.record_query(200 / 1e6)
    assert m2.snapshot()["p50_query_latency_us"] == pytest.approx(200.0)


def test_persistence_roundtrip(spark, tmp_path):
    """Writes through the server persist a reloadable snapshot
    (data_dir wired like the CLI; reference serve --data-dir)."""
    from vectordb_from_scratch_spark.cli import _load

    state = AppState(VectorStore.empty(spark), data_dir=str(tmp_path))
    httpd = make_server(state)
    t = threading.Thread(target=httpd.serve_forever, daemon=True)
    t.start()
    base = f"http://127.0.0.1:{httpd.server_address[1]}"
    try:
        req(base, "POST", "/vectors/batch", {"vectors": [
            {"id": "a", "vector": [1.0, 2.0], "metadata": {"k": "v"}},
            {"id": "b", "vector": [3.0, 4.0]},
        ]})
        req(base, "DELETE", "/vectors/b")
    finally:
        httpd.shutdown()
        httpd.server_close()
    reloaded = _load(spark, str(tmp_path), "euclidean")
    assert sorted(reloaded.list_ids()) == ["a"]
    assert reloaded.get_metadata("a") == {"k": "v"}


# -- ANN serving mode (reference server runs over HnswIndex, mod.rs:39) ----


def test_store_ann_mode_search(spark):
    from vectordb_from_scratch_spark.operators.store import VectorStore

    store = VectorStore.empty(spark)
    # one tight cluster + one far cluster: same SRP bucket within each
    items = [(f"a{i}", [1.0 + i * 0.01, 1.0, 1.0, 1.0], {"grp": "a"}) for i in range(5)]
    items += [(f"b{i}", [-1.0 - i * 0.01, -1.0, -1.0, -1.0], {"grp": "b"}) for i in range(5)]
    store = store.insert_batch(items).with_ann(nbits=2, n_tables=2, multiprobe=1)
    res = store.search([1.0, 1.0, 1.0, 1.0], k=3)
    assert res, "ann search returned nothing"
    assert res[0][0] == "a0" and abs(res[0][1]) < 1e-9  # self-ish match first
    assert all(i.startswith("a") for i, _ in res)        # near cluster only


def test_store_ann_mode_filtered_search(spark):
    from vectordb_from_scratch_spark.operators.store import VectorStore

    store = VectorStore.empty(spark)
    items = [(f"a{i}", [1.0 + i * 0.01, 1.0, 1.0, 1.0],
              {"grp": "even" if i % 2 == 0 else "odd"}) for i in range(6)]
    store = store.insert_batch(items).with_ann(nbits=2, n_tables=2, multiprobe=1)
    res = store.search_with_filter(
        [1.0, 1.0, 1.0, 1.0], 3, {"eq": {"field": "grp", "value": "even"}}
    )
    assert res and [i for i, _ in res] == ["a0", "a2", "a4"]


def test_serve_index_srp_over_http(spark, tmp_path):
    import json
    import threading
    import urllib.request

    from vectordb_from_scratch_spark.operators.store import VectorStore
    from vectordb_from_scratch_spark.server import AppState, make_server

    store = VectorStore.empty(spark).insert_batch(
        [(f"v{i}", [float(i), float(i)], {}) for i in range(1, 9)]
    ).with_ann(nbits=2, n_tables=1, multiprobe=1)
    httpd = make_server(AppState(store))
    port = httpd.server_address[1]
    t = threading.Thread(target=httpd.serve_forever, daemon=True)
    t.start()
    try:
        body = json.dumps({"vector": [3.0, 3.0], "k": 2}).encode()
        req = urllib.request.Request(
            f"http://127.0.0.1:{port}/search", data=body,
            headers={"Content-Type": "application/json"},
        )
        with urllib.request.urlopen(req) as resp:
            out = json.loads(resp.read())
        assert out and out[0]["id"] == "v3" and out[0]["distance"] == 0.0
    finally:
        httpd.shutdown()
        httpd.server_close()


def test_store_ivf_sq8_mode_exhaustive_equals_exact(spark):
    """n_probe = n_lists + full-depth rerank makes the quantized path an
    exact search with extra steps — results must match the flat scan
    rank for rank."""
    from vectordb_from_scratch_spark.operators.store import VectorStore

    store = VectorStore.empty(spark)
    items = [(f"a{i}", [1.0 + i * 0.01, 1.0, 1.0, 1.0], {"grp": "a"}) for i in range(5)]
    items += [(f"b{i}", [-1.0 - i * 0.01, -1.0, -1.0, -1.0], {"grp": "b"}) for i in range(5)]
    store = store.insert_batch(items)
    exact = store.search([1.0, 1.0, 1.0, 1.0], k=4)
    q = store.with_ivf_sq8(n_lists=2, n_probe=2, rerank=10)
    res = q.search([1.0, 1.0, 1.0, 1.0], k=4)
    assert [i for i, _ in res] == [i for i, _ in exact]
    for (_, d1), (_, d2) in zip(res, exact):
        assert abs(d1 - d2) < 1e-9


def test_store_ivf_sq8_filtered_and_guards(spark):
    from vectordb_from_scratch_spark.operators.store import VectorStore

    store = VectorStore.empty(spark)
    items = [(f"a{i}", [1.0 + i * 0.01, 1.0, 1.0, 1.0],
              {"grp": "even" if i % 2 == 0 else "odd"}) for i in range(6)]
    store = store.insert_batch(items).with_ivf_sq8(n_lists=4, n_probe=4, rerank=10)
    res = store.search_with_filter(
        [1.0, 1.0, 1.0, 1.0], 3, {"eq": {"field": "grp", "value": "even"}}
    )
    assert res and [i for i, _ in res] == ["a0", "a2", "a4"]
    # metric guard
    import pytest as _pytest

    with _pytest.raises(ValueError):
        VectorStore.empty(spark, metric="cosine").with_ivf_sq8()


def test_serve_index_ivf_sq8_over_http(spark, tmp_path):
    import json
    import threading
    import urllib.request

    from vectordb_from_scratch_spark.operators.store import VectorStore
    from vectordb_from_scratch_spark.server import AppState, make_server

    store = VectorStore.empty(spark).insert_batch(
        [(f"v{i}", [float(i), float(i)], {}) for i in range(1, 9)]
    ).with_ivf_sq8(n_lists=2, n_probe=2, rerank=10)
    httpd = make_server(AppState(store))
    port = httpd.server_address[1]
    t = threading.Thread(target=httpd.serve_forever, daemon=True)
    t.start()
    try:
        body = json.dumps({"vector": [3.0, 3.0], "k": 2}).encode()
        req = urllib.request.Request(
            f"http://127.0.0.1:{port}/search", data=body,
            headers={"Content-Type": "application/json"},
        )
        with urllib.request.urlopen(req) as resp:
            out = json.loads(resp.read())
        assert out and out[0]["id"] == "v3" and out[0]["distance"] == 0.0
    finally:
        httpd.shutdown()
        httpd.server_close()
