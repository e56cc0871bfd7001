"""Rename-swapped state directories (sources/persistence.py): every
caller must survive a crash between the swap's two renames — resolve
the newest generation instead of folding onto "no state" — and must
fail, not overwrite, when the state exists but cannot be read."""

from __future__ import annotations

import glob
import os

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


def test_cli_insert_recovers_a_crashed_swap(spark, tmp_path, capsys, rename_crash):
    d = str(tmp_path)
    data = os.path.join(d, "data")
    _insert_abc(spark, capsys, d)
    # the state a crash between the two renames leaves, made by hand
    os.rename(data, data + ".old-0badc0de")
    _cli(spark, capsys, d, "insert", "d", "2,2")
    assert _cli(spark, capsys, d, "count") == "4"
    assert sorted(os.listdir(d)) == ["data", "manifest.json"]
    # the same crash, injected: the crashed write's tmp is complete, so
    # it is the newest generation
    with rename_crash(), pytest.raises(OSError, match="injected crash"):
        cli.run(["--data-dir", d, "insert", "e", "3,3"], spark=spark)
    assert _cli(spark, capsys, d, "count") == "5"
    _cli(spark, capsys, d, "insert", "f", "4,4")
    assert _cli(spark, capsys, d, "list").split() == list("abcdef")
    assert sorted(os.listdir(d)) == ["data", "manifest.json"]


def test_cli_insert_on_unreadable_store_fails_and_writes_nothing(spark, tmp_path, capsys):
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


def test_server_publish_recovers_a_crashed_save(spark, tmp_path, rename_crash):
    from vectordb_from_scratch_spark.server import AppState

    d = str(tmp_path)
    cli._save(VectorStore.empty(spark).insert("seed", [1.0, 2.0]), d)
    state = AppState(cli._load(spark, d, "euclidean"), data_dir=d)
    state.publish(state.store.insert("n1", [3.0, 4.0]))
    with rename_crash(), pytest.raises(OSError, match="injected crash"):
        state.publish(state.store.insert("n2", [5.0, 6.0]))
    # the served store is what the directory resolves to
    assert sorted(state.store.list_ids()) == ["n1", "n2", "seed"]
    state.publish(state.store.insert("n3", [7.0, 8.0]))
    assert sorted(cli._load(spark, d, "euclidean").list_ids()) == ["n1", "n2", "n3", "seed"]
    assert sorted(os.listdir(d)) == ["data", "manifest.json"]


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
