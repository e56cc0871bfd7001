"""serve_mixed: the HTTP server over a persisted store, one client.

Set-up writes a store snapshot of the 2,000 base vectors (ids `v<i>`,
`label` metadata) to a data directory, loads it with `cli._load` and
serves it with `make_server(AppState(store, data_dir=d))`, which is what
`serve --data-dir` builds. One closed-loop client then sends blocks of
20 requests, each block a seeded shuffle of 12 unfiltered searches
(k=10), 3 searches with an `eq` filter on `label`, 3 gets and 2 inserts
(every insert publishes a new snapshot). Set-up first sends one such
block untimed.

`makespan_s` is the time one block takes at the median latency of each
request type; `ops_per_s` is completed requests per second of the timed
loop. Every search is checked against a numpy brute-force top-k over
the vectors the benchmark put in the store (same ids, distances within
1e-6), every get against the vector the benchmark inserted or wrote.

The traced run wraps the store and publish calls (`VectorStore.search`,
`search_with_filter`, `get`, `get_metadata`, `insert`, `cli._save`,
`cli._load`) in spans, from this file, on every other request of each
type.
"""

from __future__ import annotations

import http.client
import json
import os
import random
import threading
import time
from contextlib import contextmanager, nullcontext

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

import inputs
from metrics import median, percentile
from tracing import SparkProbe
from vectordb_from_scratch_spark import cli
from vectordb_from_scratch_spark.operators.store import VectorStore
from vectordb_from_scratch_spark.server import AppState, make_server

BLOCK = {"search": 12, "filtered": 3, "get": 3, "insert": 2}
K = 10


def _block(order: random.Random) -> list[str]:
    kinds = [k for k, n in BLOCK.items() for _ in range(n)]
    order.shuffle(kinds)
    return kinds


class Model:
    """What the store must hold: the benchmark's own copy of every row."""

    def __init__(self, vecs: np.ndarray, labels: np.ndarray) -> None:
        self.ids = [f"v{i}" for i in range(len(vecs))]
        self.vecs = list(vecs)
        self.labels = [str(int(x)) for x in labels]
        self.index = {i: n for n, i in enumerate(self.ids)}
        self.inserted: list[str] = []

    def add(self, id_: str, vec: np.ndarray, label: str) -> None:
        self.index[id_] = len(self.ids)
        self.ids.append(id_)
        self.vecs.append(vec)
        self.labels.append(label)
        self.inserted.append(id_)

    def topk(self, q: np.ndarray, label: str | None) -> list[tuple[str, float]]:
        rows = np.arange(len(self.ids))
        if label is not None:
            rows = rows[np.array(self.labels) == label]
        d = np.sqrt(((np.stack(self.vecs)[rows] - q) ** 2).sum(axis=1))
        order = sorted(range(len(rows)), key=lambda j: (d[j], self.ids[rows[j]]))[:K]
        return [(self.ids[rows[j]], float(d[j])) for j in order]


def write_store(data_dir: str, model: Model) -> None:
    """The snapshot layout `cli._save` writes: data/ parquet + manifest."""
    os.makedirs(os.path.join(data_dir, "data"))
    vecs = np.stack(model.vecs)
    pq.write_table(pa.table({
        "id": model.ids,
        "embedding": pa.FixedSizeListArray.from_arrays(
            pa.array(vecs.ravel()), vecs.shape[1]).cast(pa.list_(pa.float64())),
        "metadata": pa.array([[("label", lb)] for lb in model.labels],
                             pa.map_(pa.string(), pa.string())),
    }), os.path.join(data_dir, "data", "part-00000.parquet"))
    with open(os.path.join(data_dir, "manifest.json"), "w") as f:
        json.dump({"vector_count": len(model.ids), "dimension": vecs.shape[1],
                   "format": "parquet"}, f)


class Client:
    def __init__(self, port: int, model: Model, rng: np.random.Generator, tracing=None):
        self.port, self.model, self.rng, self.tracing = port, model, rng, tracing
        self.n_insert = 0

    def _http(self, method: str, path: str, body=None) -> tuple[int, object]:
        conn = http.client.HTTPConnection("127.0.0.1", self.port, timeout=120)
        try:
            conn.request(method, path, body=None if body is None else json.dumps(body),
                         headers={"Content-Type": "application/json"})
            r = conn.getresponse()
            return r.status, json.loads(r.read() or b"null")
        finally:
            conn.close()

    def _payload(self, kind: str):
        m, rng = self.model, self.rng
        if kind in ("search", "filtered"):
            q = inputs.unit_vectors(rng, 1)[0]
            body = {"vector": q.tolist(), "k": K}
            label = None
            if kind == "filtered":
                label = str(int(rng.integers(0, 10)))
                body["filter"] = {"op": "eq", "field": "label", "value": label}
            return ("POST", "/search", body), (q, label)
        if kind == "get":
            if m.inserted and rng.random() < 0.5:
                vid = m.inserted[int(rng.integers(0, len(m.inserted)))]
            else:
                vid = m.ids[int(rng.integers(0, len(m.ids)))]
            return ("GET", f"/vectors/{vid}", None), vid
        self.n_insert += 1
        vid = f"ins{self.n_insert}"
        vec = inputs.unit_vectors(rng, 1)[0]
        label = str(int(rng.integers(0, 10)))
        return ("POST", "/vectors", {"id": vid, "vector": vec.tolist(),
                                     "metadata": {"label": label}}), (vid, vec, label)

    def _check(self, kind: str, status: int, body, arg) -> str | None:
        m = self.model
        if kind in ("search", "filtered"):
            want = m.topk(*arg)
            got = [(r["id"], r["distance"]) for r in body] if status == 200 else None
            if got is None or [i for i, _ in got] != [i for i, _ in want] or any(
                    abs(a - b) > 1e-6 for (_, a), (_, b) in zip(got, want)):
                return f"{kind}: status {status}, got {got}, want {want}"
        elif kind == "get":
            want = m.vecs[m.index[arg]]
            if status != 200 or body.get("id") != arg or not np.array_equal(
                    np.asarray(body.get("vector"), dtype=float), want):
                return f"get {arg}: status {status}, vector differs"
        else:
            vid, vec, label = arg
            if status != 201:
                return f"insert {vid}: status {status} {body}"
            m.add(vid, vec, label)
        return None

    def request(self, kind: str, traced: bool = False) -> dict:
        req, arg = self._payload(kind)
        tr = self.tracing
        with tr.request(kind) if traced else nullcontext() as op:
            t0 = time.perf_counter()
            try:
                status, body = self._http(*req)
                error = None
            except (OSError, http.client.HTTPException, ValueError) as exc:
                status, body, error = None, None, f"{type(exc).__name__}: {exc}"
            lat = time.perf_counter() - t0
        error = error or self._check(kind, status, body, arg)
        out = {"kind": kind, "lat": lat, "error": error, "traced": traced}
        if traced:
            out.update(tr.finish(op, lat))
        return out


class Tracing:
    """Spans around the package's store and publish calls, installed from
    here by replacing the class and module attributes with wrappers."""

    def __init__(self, tracer, spark, data_dir: str) -> None:
        self.tracer, self.data_dir = tracer, data_dir
        self.probe = SparkProbe(spark)
        self.active = False
        self._restore: list = []

    def install(self) -> None:
        targets = [(VectorStore, n, f"operators.store.{n}") for n in
                   ("search", "search_with_filter", "get", "get_metadata", "insert")]
        targets += [(cli, "_save", "cli.save"), (cli, "_load", "cli.load")]
        for owner, attr, span_name in targets:
            orig = getattr(owner, attr)
            self._restore.append((owner, attr, orig))
            setattr(owner, attr, self._wrap(orig, span_name))

    def uninstall(self) -> None:
        for owner, attr, orig in reversed(self._restore):
            setattr(owner, attr, orig)

    def _wrap(self, fn, span_name: str):
        tracing = self

        def wrapper(*args, **kwargs):
            if not tracing.active:
                return fn(*args, **kwargs)
            with tracing.tracer.span(span_name) as s:
                out = fn(*args, **kwargs)
            if span_name == "cli.save":
                s["bytes_written"] = _dir_bytes(tracing.data_dir)
            return out

        return wrapper

    @contextmanager
    def request(self, kind: str):
        tr = self.tracer
        job0 = self.probe.last_job_id()
        self.active = True
        with tr.span("client.request", op=f"{kind}#{len(tr.spans)}", kind=kind) as root:
            tr.op, tr.op_root = root["op"], root["id"]
            try:
                yield {"root": root, "job0": job0}
            finally:
                self.active = False
                tr.op = tr.op_root = None

    def finish(self, op: dict, lat: float) -> dict:
        kids = [s for s in self.tracer.spans if s["parent"] == op["root"]["id"]]
        inside = {}
        for s in kids:
            inside[s["name"]] = inside.get(s["name"], 0.0) + (s["end"] - s["start"])
        save = [s for s in kids if s["name"] == "cli.save"]
        return {"inside_s": inside, "self_s": lat - sum(inside.values()),
                "jobs": len(self.probe.jobs_after(op["job0"])),
                "bytes_written": save[0]["bytes_written"] if save else None}


def _dir_bytes(path: str) -> int:
    return sum(os.path.getsize(os.path.join(d, f))
               for d, _, files in os.walk(path) for f in files)


def _serve_layers(results: list[dict], dim: int) -> dict:
    tr = [r for r in results if r["traced"] and not r["error"]]

    def med(kinds, key):
        return median([key(r) for r in tr if r["kind"] in kinds])

    def inside(*names):
        return lambda r: sum(r["inside_s"].get(n, 0.0) for n in names) * 1e3

    row_bytes = 8 * dim + len("ins0") + len("label") + 1
    untr = [r for r in results if not r["traced"] and not r["error"]]
    rate = lambda rs: len(rs) / sum(r["lat"] for r in rs) if rs else 0.0  # noqa: E731
    layers = {
        f"server.http_self_ms.{k}": med((k,), lambda r: r["self_s"] * 1e3) for k in BLOCK
    }
    layers.update({
        "operators.store.search_ms": med(("search", "filtered"), inside(
            "operators.store.search", "operators.store.search_with_filter")),
        "operators.store.get_ms": med(("get",), inside(
            "operators.store.get", "operators.store.get_metadata")),
        "operators.store.upsert_ms": med(("insert",), inside("operators.store.insert")),
        "cli.save_ms": med(("insert",), inside("cli.save")),
        "cli.load_ms": med(("insert",), inside("cli.load")),
        "sources.persistence.write_amp": med(("insert",), lambda r: r["bytes_written"] / row_bytes),
        "server.jobs_per_search": med(("search",), lambda r: r["jobs"]),
        "server.jobs_per_get": med(("get",), lambda r: r["jobs"]),
        "server.jobs_per_insert": med(("insert",), lambda r: r["jobs"]),
        "trace.overhead_req_per_s": rate(tr) - rate(untr),
    })
    return layers


def run(spark, run_dir: str, seed: int, seconds: float, tracer, t_start: float) -> dict:
    t = time.perf_counter()
    rng = np.random.default_rng(seed)
    model = Model(inputs.unit_vectors(rng, inputs.N_EMB), rng.integers(0, 10, inputs.N_EMB))
    data_dir = os.path.join(run_dir, "store")
    write_store(data_dir, model)
    gen_s = time.perf_counter() - t

    store = cli._load(spark, data_dir, "euclidean")
    httpd = make_server(AppState(store, data_dir=data_dir))
    thread = threading.Thread(target=httpd.serve_forever, name="perfbench-serve")
    thread.start()
    tracing = None
    try:
        if tracer is not None:
            tracing = Tracing(tracer, spark, data_dir)
            tracing.install()
        client = Client(httpd.server_address[1], model, rng, tracing)

        # warm-up: one untimed block. Search latency falls steeply over
        # the first 20 requests after the server starts (the first search
        # takes about 5 s) and slowly after that; a fixed count keeps set-up
        # time independent of where a stopping rule would fire. Measured
        # over ten runs, timing requests 20-39 spread no more across runs
        # than timing requests 30-49.
        order = random.Random(seed)
        t = time.perf_counter()
        warm = [client.request(k) for k in _block(order)]
        warm_s = time.perf_counter() - t
        setup_s = time.perf_counter() - t_start

        # timed: whole blocks until the time is spent; when tracing, every
        # other request of each type is traced
        results: list[dict] = []
        seen = dict.fromkeys(BLOCK, 0)
        t_loop = time.perf_counter()
        while not results or time.perf_counter() - t_loop < seconds:
            for k in _block(order):
                seen[k] += 1
                results.append(client.request(k, traced=tracer is not None and seen[k] % 2 == 0))
        loop_s = time.perf_counter() - t_loop
    finally:
        if tracing is not None:
            tracing.uninstall()
        httpd.shutdown()
        httpd.server_close()
        thread.join(timeout=60)

    ok = [r for r in results if not r["error"]]
    lat = {k: [r["lat"] for r in ok if r["kind"] == k and not r["traced"]] for k in BLOCK}
    e2e = {
        "setup_s": setup_s,
        "makespan_s": sum(n * median(lat[k]) for k, n in BLOCK.items()),
        "ops_per_s": len(ok) / loop_s,
    }
    failed = len(results) - len(ok)
    named = {f"{k}_p50_ms": median(v) * 1e3 for k, v in lat.items()}
    named["filtered_search_p50_ms"] = named.pop("filtered_p50_ms")
    named["search_p50_ms"] = named.pop("search_p50_ms")
    named["search_p90_ms"] = percentile(lat["search"], 90) * 1e3 if lat["search"] else 0.0
    named.update(req_per_s=e2e["ops_per_s"], error_rate=failed / len(results),
                 samples={k: len(v) for k, v in lat.items()})
    layers = {"setup.gen_s": gen_s, "setup.warm_s": warm_s}
    bad = [r for r in warm + results if r["error"]]
    report = {
        "inputs": {"rows": inputs.N_EMB, "dimension": inputs.DIM, "labels": 10,
                   "mix": BLOCK, "write_share": BLOCK["insert"] / sum(BLOCK.values()),
                   "clients": 1, "warm_requests": len(warm)},
        "warm_search_p50_ms": [
            median([r["lat"] for r in warm[i:i + 10] if r["kind"] == "search"]) * 1e3
            for i in range(0, len(warm), 10)],
        "timed_loop_s": loop_s,
        "e2e": dict(e2e, **named),
        "sequence_ms": [(r["kind"], round(r["lat"] * 1e3, 1)) for r in warm + results],
        "check_failures": [{"kind": r["kind"], "error": r["error"]} for r in bad][:20],
    }
    if tracer is not None:
        layers.update(_serve_layers(results, inputs.DIM))
        report["jobs_by_kind"] = {k: [r["jobs"] for r in results if r["traced"] and r["kind"] == k]
                                  for k in BLOCK}
    return {"correct": not bad, "attempted": len(results), "failed": failed,
            "e2e": e2e, "layers": layers, "report": report}
