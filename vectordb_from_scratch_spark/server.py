"""HTTP serving layer — parity with the reference's axum server
(SURVEY.md §2.5 S1/S2/S3: routes `src/server/routes.rs:102-120`,
state `src/server/mod.rs:13-16`, metrics `src/metrics.rs:25-72`).

Nine endpoints, same paths / JSON shapes / status codes:

    POST   /vectors          insert one        -> 201 {"id","status":"inserted"}
    GET    /vectors          list ids          -> 200 ["a","b",...]
    GET    /vectors/{id}     point lookup      -> 200 {"id","dimension","vector"[,"metadata"]}
    DELETE /vectors/{id}     delete            -> 200 {"id","status":"deleted"}
    POST   /vectors/batch    batch insert      -> 201 {"inserted": n}
    POST   /search           k-NN (k?=10, filter?)        -> 200 [{"id","distance"}]
    POST   /search/batch     batch k-NN (per-query k)     -> 200 [[{"id","distance"}]]
    GET    /health           -> 200 {"status":"ok","vector_count": n}
    GET    /metrics          -> 200 counters + avg/p50/p95/p99 query latency (µs)

Architecture (Spark-first, NOT a translation):

- The reference holds `Arc<RwLock<VectorStore>>` and mutates in place
  (S2). Our ``VectorStore`` is an immutable snapshot over a DataFrame,
  so the concurrency model collapses to **atomic snapshot swap**: reads
  grab the current store reference (no lock, never block), writes
  serialize on one mutex and publish a new snapshot. That is the
  DataFrame-native answer to RwLock — readers see a consistent
  point-in-time store for the whole request, exactly what the
  reference's read-guard gives them.
- Handlers delegate to the same set-oriented operators the batch engine
  uses (`operators/crud.py`, `operators/knn.py`, `operators/filters.py`)
  — the server adds routing and JSON, no second query path. On a real
  cluster this process is a driver app: Spark distributes each search.
  `knn`'s auto strategy (`vecblock.choose_strategy`) decides from the
  store's row estimate: in-memory stores estimate 0 rows and persisted
  stores under `vecblock.AUTO_NUMPY_THRESHOLD` (5,000) rows both take
  the exact expression fold; only larger persisted stores run the
  numpy kernel.
- `/metrics` mirrors the reference's driver-side ``MetricsCollector``
  (nearest-rank percentile over recorded query latencies,
  `src/metrics.rs:62-72`); the distributed analog over a latency table
  is `operators/metrics.latency_report`.

Wire-format note: the reference's `MetadataFilter` serde enum is
internally tagged — ``{"op": "eq", "field": f, "value": v}``,
``{"op": "and", "filters": [...]}`` (`src/storage.rs:45-57`). The
engine-internal spec (`operators/filters.py`) is single-key dicts;
`wire_filter_to_spec` converts.

Scale posture: this server exists for API parity and interactive use —
BASELINE.json's north star is the batch/pipeline engine, not low-latency
ANN serving. A production serving tier would precompute an IVF/SRP index
with `operators/ann.py`, publish it as parquet, and serve probes from a
fleet of stateless readers; see SCALE.md "Index amortization".
"""

from __future__ import annotations

import json
import threading
from dataclasses import dataclass, field, replace
from http.server import BaseHTTPRequestHandler, ThreadingHTTPServer
from time import monotonic
from urllib.parse import unquote
from typing import Any, Optional

from pyspark.sql import SparkSession

from .operators.store import DimensionMismatch, VectorNotFound, VectorStore

__all__ = ["MetricsCollector", "AppState", "make_server", "serve", "wire_filter_to_spec"]


class MetricsCollector:
    """Driver-side counters + query-latency percentiles, matching the
    reference's semantics exactly (src/metrics.rs:25-72): latencies in
    µs, percentile = nearest-rank ``round(p/100 * (n-1))`` over the
    ascending sort, 0.0 on empty."""

    def __init__(self) -> None:
        self._lock = threading.Lock()
        self._query_latencies_us: list[float] = []
        self.total_queries = 0
        self.total_inserts = 0
        self.total_deletes = 0

    def record_query(self, seconds: float) -> None:
        with self._lock:
            self.total_queries += 1
            self._query_latencies_us.append(seconds * 1e6)

    def record_insert(self, n: int = 1) -> None:
        with self._lock:
            self.total_inserts += n

    def record_delete(self, n: int = 1) -> None:
        with self._lock:
            self.total_deletes += n

    def _percentile(self, p: float) -> float:
        lat = sorted(self._query_latencies_us)
        if not lat:
            return 0.0
        # reference: index = round((p/100) * (n-1)), clamped
        # (src/metrics.rs:69-71; Rust f64::round = half-away-from-zero)
        idx = int((p / 100.0) * (len(lat) - 1) + 0.5)
        return lat[min(idx, len(lat) - 1)]

    def snapshot(self) -> dict:
        """The GET /metrics response body (src/server/routes.rs:85-93)."""
        with self._lock:
            lat = self._query_latencies_us
            return {
                "total_queries": self.total_queries,
                "total_inserts": self.total_inserts,
                "total_deletes": self.total_deletes,
                "avg_query_latency_us": (sum(lat) / len(lat)) if lat else 0.0,
                "p50_query_latency_us": self._percentile(50.0),
                "p95_query_latency_us": self._percentile(95.0),
                "p99_query_latency_us": self._percentile(99.0),
            }


def wire_filter_to_spec(obj: Any) -> dict:
    """Convert the reference's internally-tagged filter JSON
    (``{"op": "eq", "field": ..., "value": ...}``, src/storage.rs:45-57)
    to the engine-internal single-key spec consumed by
    `operators.filters.compile_filter`."""
    if not isinstance(obj, dict) or "op" not in obj:
        raise ValueError(f"filter must be an object with an 'op' tag, got {obj!r}")
    op = obj["op"]
    if op in ("eq", "ne"):
        return {op: {"field": obj["field"], "value": obj["value"]}}
    if op == "exists":
        return {op: {"field": obj["field"]}}
    if op in ("and", "or"):
        return {op: [wire_filter_to_spec(f) for f in obj["filters"]]}
    raise ValueError(f"unknown filter op {op!r}")


@dataclass
class AppState:
    """The reference's ``AppState{RwLock<VectorStore>, RwLock<Metrics>}``
    (src/server/mod.rs:13-16) as snapshot-swap: `store` is replaced,
    never mutated, under `write_lock`; readers take the current
    reference without locking."""

    store: VectorStore
    metrics: MetricsCollector = field(default_factory=MetricsCollector)
    write_lock: threading.Lock = field(default_factory=threading.Lock)
    data_dir: Optional[str] = None  # if set, writes persist a snapshot here

    def publish(self, new_store: VectorStore) -> None:
        if self.data_dir is None:
            # materialize, like the re-read below: serving upsert's lazy
            # plan would stack one more anti-join and union per write
            self.store = replace(new_store, df=new_store.df.localCheckpoint())
            return
        from .cli import _load, _save

        try:
            _save(new_store, self.data_dir)
        finally:
            # serve what the directory now resolves to, after a failed
            # save too: the lazy plans of new_store and of the served
            # store scan part files the swap moved or deleted — serving
            # either would throw FileNotFoundException. The snapshot
            # holds rows only, so the index mode carries over here.
            self.store = replace(
                _load(new_store.spark, self.data_dir, new_store.metric),
                ann_params=new_store.ann_params,
            )


class _Handler(BaseHTTPRequestHandler):
    """Routing table mirror of create_router (src/server/routes.rs:102-120)."""

    state: AppState  # set on the server class by make_server
    server_version = "vectordb_from_scratch_spark"

    # -- plumbing -----------------------------------------------------------

    def log_message(self, fmt: str, *args: Any) -> None:  # quiet by default
        pass

    def _json(self, status: int, body: Any) -> None:
        payload = json.dumps(body).encode()
        self.send_response(status)
        self.send_header("Content-Type", "application/json")
        self.send_header("Content-Length", str(len(payload)))
        self.end_headers()
        self.wfile.write(payload)

    def _err(self, status: int, msg: str) -> None:
        self._json(status, {"error": msg})

    def _body(self) -> Any:
        n = int(self.headers.get("Content-Length") or 0)
        raw = self.rfile.read(n) if n else b""
        return json.loads(raw or b"null")

    def _dispatch(self, method: str) -> None:
        path = self.path.split("?", 1)[0].rstrip("/") or "/"
        parts = [p for p in path.split("/") if p]
        try:
            handler = self._route(method, parts)
            if handler is None:
                return self._err(404, f"no route for {method} {path}")
            handler()
        except VectorNotFound as exc:
            self._err(404, f"Vector not found: {exc.args[0]}")
        except DimensionMismatch as exc:
            self._err(400, str(exc))
        # VectorNotFound/DimensionMismatch subclass KeyError/ValueError —
        # they must be caught above this generic bad-request arm
        except (json.JSONDecodeError, KeyError, TypeError, ValueError) as exc:
            self._err(400, f"Invalid request: {exc}")
        except BrokenPipeError:
            pass
        except Exception as exc:  # 500 — the Lock-poisoned analog
            self._err(500, str(exc))

    def _route(self, method: str, parts: list[str]):
        if parts == ["vectors"]:
            return {"POST": self._insert, "GET": self._list}.get(method)
        if parts == ["vectors", "batch"] and method == "POST":
            return self._batch_insert
        if len(parts) == 2 and parts[0] == "vectors":
            vid = unquote(parts[1])  # axum's Path extractor percent-decodes
            if method == "GET":
                return lambda: self._get(vid)
            if method == "DELETE":
                return lambda: self._delete(vid)
            return None
        if parts == ["search"] and method == "POST":
            return self._search
        if parts == ["search", "batch"] and method == "POST":
            return self._batch_search
        if parts == ["health"] and method == "GET":
            return self._health
        if parts == ["metrics"] and method == "GET":
            return self._metrics
        return None

    def do_GET(self) -> None:  # noqa: N802
        self._dispatch("GET")

    def do_POST(self) -> None:  # noqa: N802
        self._dispatch("POST")

    def do_DELETE(self) -> None:  # noqa: N802
        self._dispatch("DELETE")

    # -- handlers (src/server/routes.rs:134-431) ----------------------------

    def _insert(self) -> None:
        req = self._body()
        with self.state.write_lock:
            self.state.publish(
                self.state.store.insert(req["id"], req["vector"], req.get("metadata"))
            )
        self.state.metrics.record_insert()
        self._json(201, {"id": req["id"], "status": "inserted"})

    def _batch_insert(self) -> None:
        req = self._body()
        items = [(v["id"], v["vector"], v.get("metadata") or {}) for v in req["vectors"]]
        with self.state.write_lock:
            self.state.publish(self.state.store.insert_batch(items))
        self.state.metrics.record_insert(len(items))
        self._json(201, {"inserted": len(items)})

    def _get(self, vid: str) -> None:
        store = self.state.store
        vec = store.get(vid)
        if vec is None:
            return self._err(404, f"Vector not found: {vid}")
        out = {"id": vid, "dimension": len(vec), "vector": vec}
        meta = store.get_metadata(vid)
        if meta:  # serde skip_serializing_if = "HashMap::is_empty"
            out["metadata"] = meta
        self._json(200, out)

    def _delete(self, vid: str) -> None:
        with self.state.write_lock:
            self.state.publish(self.state.store.delete(vid))
        self.state.metrics.record_delete()
        self._json(200, {"id": vid, "status": "deleted"})

    def _list(self) -> None:
        self._json(200, self.state.store.list_ids())

    def _search(self) -> None:
        req = self._body()
        # serde fills the default only for a MISSING/null k — an explicit 0
        # must be honored (returns []), not silently bumped to 10
        k = req["k"] if req.get("k") is not None else 10
        store = self.state.store
        t0 = monotonic()
        if req.get("filter") is not None:
            spec = wire_filter_to_spec(req["filter"])
            results = store.search_with_filter(req["vector"], k, spec)
        else:
            results = store.search(req["vector"], k)
        self.state.metrics.record_query(monotonic() - t0)
        self._json(200, [{"id": i, "distance": d} for i, d in results])

    def _batch_search(self) -> None:
        req = self._body()
        queries = [
            (q["vector"], q["k"] if q.get("k") is not None else 10)
            for q in req["queries"]
        ]
        store = self.state.store
        t0 = monotonic()
        if req.get("filter") is not None:
            spec = wire_filter_to_spec(req["filter"])
            all_results = store.search_batch_with_filter(queries, spec)
        else:
            all_results = store.search_batch(queries)
        # one latency sample per batch, like the reference (routes.rs:342-370)
        self.state.metrics.record_query(monotonic() - t0)
        self._json(
            200,
            [[{"id": i, "distance": d} for i, d in res] for res in all_results],
        )

    def _health(self) -> None:
        self._json(200, {"status": "ok", "vector_count": len(self.state.store)})

    def _metrics(self) -> None:
        self._json(200, self.state.metrics.snapshot())


def make_server(
    state: AppState, host: str = "127.0.0.1", port: int = 0
) -> ThreadingHTTPServer:
    """Build (but don't start) the HTTP server; port 0 = ephemeral."""

    class _BoundHandler(_Handler):
        pass

    _BoundHandler.state = state
    return ThreadingHTTPServer((host, port), _BoundHandler)


def serve(
    spark: SparkSession,
    data_dir: Optional[str] = None,
    host: str = "127.0.0.1",
    port: int = 8080,
    metric: str = "euclidean",
    index: str = "exact",
) -> None:
    """Blocking serve loop — the CLI `serve` command (reference
    src/main.rs serve dispatch). Loads a snapshot from `data_dir` when
    given (and persists writes back), else starts empty.

    ``index="srp"`` serves searches through the SRP-LSH approximate
    index (bucket probe → exact re-rank) — parity with the reference's
    production server, which serves over HnswIndex
    (src/server/mod.rs:39), not the flat scan; ``index="ivf_sq8"``
    serves through the QUANTIZED coarse index (KMeans routing over int8
    codes + exact re-rank — the FAISS IVF-SQ design); "exact" keeps
    FlatIndex behavior. Filtered search composes with every path."""
    if data_dir is not None:
        from .cli import _load

        store = _load(spark, data_dir, metric)
    else:
        store = VectorStore.empty(spark, metric=metric)
    if index == "srp":
        store = store.with_ann()
    elif index == "ivf_sq8":
        store = store.with_ivf_sq8()
    elif index != "exact":
        raise ValueError(
            f"unknown index mode {index!r}; expected exact|srp|ivf_sq8"
        )
    httpd = make_server(AppState(store, data_dir=data_dir), host, port)
    print(f"serving on http://{host}:{httpd.server_address[1]}")
    try:
        httpd.serve_forever()
    finally:
        httpd.server_close()
