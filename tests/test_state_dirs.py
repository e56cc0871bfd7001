"""Rename-swapped state directories (sources/persistence.py): every
caller must survive a crash between the swap's two renames — resolve
the newest generation instead of folding onto "no state" — and must
fail, not overwrite, when the state exists but cannot be read."""

from __future__ import annotations

import glob
import http.client
import json
import os
import threading
from contextlib import nullcontext

import pytest

from vectordb_from_scratch_spark import cli
from vectordb_from_scratch_spark.operators import crud
from vectordb_from_scratch_spark.operators.store import VectorStore
from vectordb_from_scratch_spark.sources import persistence as P


def _siblings(target: str) -> list[str]:
    return glob.glob(target + ".old-*") + glob.glob(target + ".tmp-*")


def _cli(spark, capsys, data_dir: str, *args: str) -> str:
    assert cli.run(["--data-dir", data_dir, *args], spark=spark) == 0
    return capsys.readouterr().out.strip()


def _insert_abc(spark, capsys, data_dir: str) -> None:
    for vid, vec in (("a", "1,0"), ("b", "0,1"), ("c", "1,1")):
        _cli(spark, capsys, data_dir, "insert", vid, vec)


def test_cli_insert_recovers_a_crashed_swap(spark, tmp_path, capsys, rename_crash, monkeypatch):
    monkeypatch.setattr(P, "COMPACT_EVERY", 2)  # every second insert compacts
    d = str(tmp_path)
    data = os.path.join(d, "data")
    _insert_abc(spark, capsys, d)  # a, b compact; c is in the log
    # the state a crash between the two renames leaves, made by hand
    os.rename(data, data + ".old-0badc0de")
    _cli(spark, capsys, d, "insert", "d", "2,2")  # compacts over it
    assert _cli(spark, capsys, d, "count") == "4"
    assert sorted(os.listdir(d)) == ["data", "log"]
    _cli(spark, capsys, d, "insert", "e", "3,3")
    # the same crash, injected into the compaction of the next insert:
    # its log entry has committed, so the insert succeeds, and the
    # crashed swap's tmp is complete, so it is the newest generation
    with rename_crash():
        _cli(spark, capsys, d, "insert", "f", "4,4")
    assert not os.path.exists(data) and _siblings(data)
    assert _cli(spark, capsys, d, "count") == "6"
    _cli(spark, capsys, d, "insert", "g", "5,5")
    _cli(spark, capsys, d, "insert", "h", "6,6")  # compacts over it
    assert _cli(spark, capsys, d, "list").split() == list("abcdefgh")
    assert sorted(os.listdir(d)) == ["data", "log"]


def test_cli_insert_on_unreadable_store_fails_and_writes_nothing(
    spark, tmp_path, capsys, monkeypatch
):
    monkeypatch.setattr(P, "COMPACT_EVERY", 3)  # a, b, c fold into data/
    d = str(tmp_path)
    _insert_abc(spark, capsys, d)
    for part in glob.glob(os.path.join(d, "data", "part-*")):
        with open(part, "wb") as f:
            f.write(b"not parquet")

    def tree() -> dict:
        out = {}
        for root, _, files in os.walk(d):
            for name in files:
                with open(os.path.join(root, name), "rb") as f:
                    out[os.path.join(root, name)] = f.read()
        return out

    before = tree()
    try:
        rc = cli.run(["--data-dir", d, "insert", "d", "2,2"], spark=spark)
    except Exception:  # noqa: BLE001 — an exception is a failed insert too
        rc = None
    assert rc != 0
    assert tree() == before


def test_log_fold_recovers_a_crashed_swap(spark, tmp_path, rename_crash):
    from vectordb_from_scratch_spark.streaming import fold_stream_foreach_batch

    src, state, ckpt = (str(tmp_path / n) for n in ("src", "state", "ckpt"))

    def add(rows):
        spark.createDataFrame(rows, crud.LOG_SCHEMA).coalesce(1).write.mode(
            "append").parquet(src)

    def fold():
        stream = spark.readStream.schema(crud.LOG_SCHEMA).option(
            "maxFilesPerTrigger", 1).parquet(src)
        fold_stream_foreach_batch(spark, stream, state, ckpt).start().awaitTermination(120)

    add([(i, "insert", v, [float(i)], {}) for i, v in enumerate("abc")])
    fold()
    add([(3, "insert", "d", [3.0], {})])
    with rename_crash(), pytest.raises(Exception, match="injected crash"):
        fold()
    fold()  # the checkpoint replays the failed batch
    assert sorted(r.id for r in spark.read.parquet(state).collect()) == list("abcd")
    assert _siblings(state) == []


def test_srp_append_after_crashed_compaction(spark, tmp_path, rename_crash):
    from vectordb_from_scratch_spark.streaming import (
        compact_srp_index,
        read_srp_index,
        srp_index_stream_foreach_batch,
    )

    schema = "seq long, op string, id long, embedding array<double>"
    src, index, ckpt = (str(tmp_path / n) for n in ("src", "index", "ckpt"))

    def add(ids):
        rows = [(i, "insert", i, [float(i), 1.0, -float(i), 0.5]) for i in ids]
        spark.createDataFrame(rows, schema).coalesce(1).write.mode("append").parquet(src)
        stream = spark.readStream.schema(schema).parquet(src)
        srp_index_stream_foreach_batch(
            stream, index, ckpt, dim=4, nbits=4, n_tables=2, seed=7
        ).trigger(availableNow=True).start().awaitTermination(120)

    add(range(5))
    with rename_crash(), pytest.raises(OSError, match="injected crash"):
        compact_srp_index(spark, index)
    add([5])
    assert sorted({r.id for r in read_srp_index(spark, index).collect()}) == list(range(6))
    assert _siblings(index) == []


def test_server_publish_recovers_a_crashed_save(spark, tmp_path, rename_crash, monkeypatch):
    from vectordb_from_scratch_spark.server import AppState

    monkeypatch.setattr(P, "COMPACT_EVERY", 2)
    d = str(tmp_path)
    state = AppState(VectorStore.empty(spark), data_dir=d)
    state.publish([("insert", "seed", [1.0, 2.0], {})])
    state.publish([("insert", "n1", [3.0, 4.0], {})])  # compacts
    with rename_crash():
        state.publish([("insert", "n2", [5.0, 6.0], {})])
        state.publish([("insert", "n3", [7.0, 8.0], {})])  # compaction crashes
    # the write stands, and the served store is what the directory resolves to
    assert sorted(state.store.list_ids()) == ["n1", "n2", "n3", "seed"]
    state.publish([("insert", "n4", [9.0, 1.0], {})])
    state.publish([("insert", "n5", [2.0, 3.0], {})])
    assert sorted(cli._load(spark, d, "euclidean").list_ids()) == [
        "n1", "n2", "n3", "n4", "n5", "seed"]
    assert sorted(os.listdir(d)) == ["data", "log"]


def _ids(spark, d: str) -> list[str]:
    return sorted(cli._load(spark, d, "euclidean").list_ids())


def test_torn_last_log_entry_is_skipped(spark, tmp_path):
    d = str(tmp_path)
    log = P.open_log(spark, d)
    for vid in "abc":
        log = P.append(log, [("insert", vid, [1.0, 2.0], {})])
    entries = sorted(glob.glob(os.path.join(d, "log", "*.parquet")))
    with open(entries[-1], "r+b") as f:  # the torn write a power loss leaves
        f.truncate(os.path.getsize(entries[-1]) // 2)
    reopened = P.open_log(spark, d)
    assert (reopened.seq, sorted(reopened.tail)) == (2, ["a", "b"])
    # the next write takes the torn entry's seq and replaces it
    P.append(reopened, [("insert", "d", [3.0, 4.0], {})])
    assert _ids(spark, d) == ["a", "b", "d"]
    # an unreadable entry before readable ones is damage, not a torn write
    with open(entries[0], "wb") as f:
        f.write(b"not parquet")
    with pytest.raises(Exception):
        P.open_log(spark, d)


def test_crash_between_compaction_and_truncation_replays_nothing_twice(
    spark, tmp_path, monkeypatch
):
    monkeypatch.setattr(P, "COMPACT_EVERY", 4)
    d = str(tmp_path)
    real_remove = os.remove
    removed: list[str] = []

    def crash_after_one(path):
        if removed:
            raise OSError(f"injected crash before removing {path}")
        removed.append(path)
        real_remove(path)

    log = P.open_log(spark, d)
    log = P.append(log, [("insert", "a", [1.0, 1.0], {})])
    log = P.append(log, [("insert", "b", [2.0, 2.0], {})])
    log = P.append(log, [("delete", "a", None, None)])
    monkeypatch.setattr(os, "remove", crash_after_one)
    log = P.append(log, [("insert", "c", [3.0, 3.0], {})])  # compacts, then crashes
    monkeypatch.setattr(os, "remove", real_remove)
    assert P.read_manifest(d)["log_seq"] == 4
    assert len(glob.glob(os.path.join(d, "log", "*.parquet"))) == 3
    # the entries left at or below log_seq are already in data/: none replays
    reopened = P.open_log(spark, d)
    assert (reopened.seq, reopened.entries, reopened.tail) == (4, 0, {})
    assert _ids(spark, d) == ["b", "c"]
    # the next compaction removes them
    for vid in "defg":
        reopened = P.append(reopened, [("insert", vid, [4.0, 4.0], {})])
    assert os.listdir(os.path.join(d, "log")) == []
    assert _ids(spark, d) == list("bcdefg")


def test_crashed_snapshot_swap_keeps_log_seq_with_its_data(spark, tmp_path, rename_crash):
    def state(ids):
        return spark.createDataFrame(
            [(i, [1.0, 2.0], {}) for i in ids],
            "id string, embedding array<double>, metadata map<string,string>",
        )

    path = str(tmp_path)
    P.write_snapshot(state("a"), path, log_seq=3)
    with rename_crash(), pytest.raises(OSError, match="injected crash"):
        P.write_snapshot(state("ab"), path, log_seq=4)
    # data/ is gone; the live generation is the crashed write's tmp, and
    # the manifest read is the one that committed with it
    assert not os.path.exists(os.path.join(path, "data"))
    assert sorted(r.id for r in P.read_snapshot(spark, path).collect()) == ["a", "b"]
    assert P.read_manifest(path)["log_seq"] == 4
    assert P.read_manifest(path)["vector_count"] == 2


def test_restarted_server_serves_every_acknowledged_insert(
    spark, tmp_path, rename_crash, monkeypatch
):
    from vectordb_from_scratch_spark.server import AppState, make_server

    monkeypatch.setattr(P, "COMPACT_EVERY", 3, raising=False)
    d = str(tmp_path)

    def call(port, method, path, body=None):
        conn = http.client.HTTPConnection("127.0.0.1", port, timeout=120)
        try:
            conn.request(method, path, body=None if body is None else json.dumps(body),
                         headers={"Content-Type": "application/json"})
            r = conn.getresponse()
            return r.status, json.loads(r.read() or b"null")
        finally:
            conn.close()

    def serving(fn):
        httpd = make_server(AppState(VectorStore.empty(spark), data_dir=d))
        t = threading.Thread(target=httpd.serve_forever, daemon=True)
        t.start()
        try:
            return fn(httpd.server_address[1])
        finally:
            httpd.shutdown()
            httpd.server_close()

    def writes(port):
        acked = []
        for i in range(7):
            # the sixth insert's compaction crashes between the swap's renames
            with rename_crash() if i == 5 else nullcontext():
                status, _ = call(port, "POST", "/vectors",
                                 {"id": f"v{i}", "vector": [float(i), 1.0]})
            if status == 201:
                acked.append(f"v{i}")
        assert call(port, "POST", "/vectors", {"id": "bad", "vector": [1.0]})[0] == 400
        return acked

    acked = serving(writes)
    assert acked == [f"v{i}" for i in range(7)]
    got = serving(lambda port: [call(port, "GET", f"/vectors/{v}") for v in acked])
    assert [(s, b["vector"]) for s, b in got] == [(200, [float(i), 1.0]) for i in range(7)]


def test_manifest_write_is_atomic(spark, tmp_path, monkeypatch):
    state = spark.createDataFrame(
        [("a", [1.0, 2.0], {})],
        "id string, embedding array<double>, metadata map<string,string>",
    )
    path = str(tmp_path)
    first = P.write_snapshot(state, path, log_seq=3)

    def torn_dump(obj, f, *args, **kwargs):
        f.write('{"vector_co')
        raise OSError("injected crash mid-write")

    monkeypatch.setattr(P.json, "dump", torn_dump)
    with pytest.raises(OSError, match="mid-write"):
        P.write_snapshot(state, path, log_seq=4)
    monkeypatch.undo()
    assert P.read_manifest(path) == first


def test_resolve_state_ladder(tmp_path):
    target = str(tmp_path / "state")
    assert P.resolve_state(target) is None
    os.makedirs(target + ".tmp-00000001")  # incomplete: no _SUCCESS
    assert P.resolve_state(target) is None
    os.makedirs(target + ".old-00000002")
    assert P.resolve_state(target) == target + ".old-00000002"
    os.makedirs(target + ".tmp-00000003")
    open(os.path.join(target + ".tmp-00000003", "_SUCCESS"), "w").close()
    assert P.resolve_state(target) == target + ".tmp-00000003"
    assert len(_siblings(target)) == 3  # readers never rename
    assert P.resolve_state(target, recover=True) == target
    assert os.path.exists(os.path.join(target, "_SUCCESS"))
    assert _siblings(target) == []
