"""Streaming near-dup ingest screen: exact AND near duplicates must be
dropped across micro-batches and within a batch, and the accumulated
survivor set must match the batch-side incremental screen run
sequentially over the same batches (stream ≡ batch)."""

from __future__ import annotations

import pytest

from pyspark.sql import functions as F

from vectordb_from_scratch_spark.streaming.neardup_stream import (
    neardup_stream_foreach_batch,
    read_survivors,
)


def _run(spark, src, tmp_path, tag, threshold=0.4):
    out = str(tmp_path / f"out_{tag}")
    state = str(tmp_path / f"state_{tag}")
    ckpt = str(tmp_path / f"ckpt_{tag}")
    stream = spark.readStream.schema(
        "doc_id long, text string"
    ).option("maxFilesPerTrigger", 1).parquet(src)
    q = neardup_stream_foreach_batch(
        spark, stream, out, state, ckpt, threshold=threshold
    ).start()
    q.awaitTermination(180)
    return read_survivors(spark, out)


BASE = "alpha7 beta7 gamma7 delta7 epsilon7 zeta7 eta7 theta7"
OTHER = "november kilo lima mike oscar papa quebec romeo"


def test_in_batch_exact_near_and_fresh(spark, tmp_path):
    rows = [
        (0, BASE),
        (1, BASE),                          # exact dup of 0
        (2, BASE + " appended tail words"), # near dup of 0
        (3, OTHER),                         # fresh
    ]
    src = str(tmp_path / "src_one")
    spark.createDataFrame(rows, "doc_id long, text string").coalesce(1).write.parquet(src)
    got = {r.doc_id for r in _run(spark, src, tmp_path, "one").collect()}
    assert got == {0, 3}


def test_cross_batch_near_duplicates_dropped(spark, tmp_path):
    """A near-dup arriving in a LATER batch must hit the band state and
    be dropped; fresh later docs survive; the screen stays idempotent
    in its own batch (replay-safe partition overwrites are exercised by
    availableNow restarts elsewhere)."""
    src = str(tmp_path / "src_multi")
    b1 = spark.createDataFrame(
        [(10, BASE), (11, OTHER)], "doc_id long, text string"
    )
    b2 = spark.createDataFrame(
        [
            (20, BASE + " appended tail words"),  # near dup of 10
            (21, BASE),                           # exact dup of 10
            (22, "sierra tango uniform victor whiskey xray yankee zulu"),
        ],
        "doc_id long, text string",
    )
    b1.coalesce(1).write.parquet(src)
    b2.coalesce(1).write.mode("append").parquet(src)
    got = {r.doc_id for r in _run(spark, src, tmp_path, "multi").collect()}
    # file-source batch order is not guaranteed; whichever of the
    # BASE-family files lands first, exactly ONE family member survives
    assert len(got & {10, 20, 21}) == 1
    assert {11, 22} <= got
    assert len(got) == 3


def test_stream_equals_sequential_batch_screen(spark, tmp_path):
    """stream ≡ batch: the survivor set must equal running the batch
    incremental screen sequentially (batch 1's survivors become the
    corpus for batch 2)."""
    from vectordb_from_scratch_spark.operators.dedup import (
        incremental_delivery_report,
    )

    b1_rows = [(0, BASE), (1, OTHER)]
    b2_rows = [
        (10, BASE + " appended tail words"),
        (11, "papa golf hotel india juliett kilo lima mike"),
        (12, OTHER),
    ]
    src = str(tmp_path / "src_seq")
    b1 = spark.createDataFrame(b1_rows, "doc_id long, text string")
    b2 = spark.createDataFrame(b2_rows, "doc_id long, text string")
    b1.coalesce(1).write.parquet(src)
    b2.coalesce(1).write.mode("append").parquet(src)

    got = {r.doc_id for r in _run(spark, src, tmp_path, "seq").collect()}

    # batch reference, order 1→2 (ids chosen so either file order gives
    # the same family representatives up to the family member that wins)
    rep = incremental_delivery_report(b1, b2, threshold=0.4)
    fresh2 = {r.delivery_id for r in rep.collect() if r.verdict == "fresh"}
    expect = {0, 1} | fresh2
    alt = None
    if got != expect:  # file source delivered batch 2 first
        rep = incremental_delivery_report(b2, b1, threshold=0.4)
        fresh1 = {r.delivery_id for r in rep.collect() if r.verdict == "fresh"}
        # within batch 2 itself no near/exact pairs exist
        alt = {10, 11, 12} | fresh1
    assert got == expect or got == alt


def test_empty_microbatch_is_noop_not_crash(spark, tmp_path):
    """An empty micro-batch must early-return cleanly (ADVICE r7: the
    finally block once hit UnboundLocalError on this path, crashing the
    stream) and the next real batch must proceed normally."""
    src = str(tmp_path / "src_empty")
    out = str(tmp_path / "out_empty")
    state = str(tmp_path / "state_empty")
    ckpt = str(tmp_path / "ckpt_empty")

    def run_once():
        stream = spark.readStream.schema("doc_id long, text string").parquet(src)
        q = neardup_stream_foreach_batch(
            spark, stream, out, state, ckpt, threshold=0.4
        ).start()
        q.awaitTermination(180)
        assert q.exception() is None

    spark.createDataFrame([], "doc_id long, text string").coalesce(1).write.parquet(src)
    run_once()
    assert read_survivors(spark, out).count() == 0

    spark.createDataFrame(
        [(0, BASE), (1, BASE)], "doc_id long, text string"
    ).coalesce(1).write.mode("append").parquet(src)
    run_once()
    assert {r.doc_id for r in read_survivors(spark, out).collect()} == {0}


def test_compacted_state_screens_like_delta_state(spark, tmp_path):
    """compact_neardup_state folds the per-batch delta partitions into
    bucketed base tables between stream runs; cross-batch exact AND near
    dups must still be dropped when the prior occurrence lives only in
    the compacted base (stream ≡ batch preserved across compactions)."""
    from vectordb_from_scratch_spark.streaming.neardup_stream import (
        compact_neardup_state,
    )

    src = str(tmp_path / "src_compact")
    out = str(tmp_path / "out_compact")
    state = str(tmp_path / "state_compact")
    ckpt = str(tmp_path / "ckpt_compact")

    def run_once():
        stream = spark.readStream.schema("doc_id long, text string").parquet(src)
        q = neardup_stream_foreach_batch(
            spark, stream, out, state, ckpt, threshold=0.4
        ).start()
        q.awaitTermination(180)

    spark.createDataFrame(
        [(0, BASE), (1, OTHER)], "doc_id long, text string"
    ).coalesce(1).write.parquet(src)
    run_once()

    info = compact_neardup_state(spark, state, n_buckets=8)
    assert info["gen"] == 1 and info["n_buckets"] == 8
    assert info["fps_rows"] == 2                 # both batch-1 docs survived
    assert info["bands_rows"] == 8               # 2 docs × 4 bands
    import os

    assert not os.path.exists(state + "/fps")    # delta folded away
    assert os.path.exists(state + "/fps_base")

    spark.createDataFrame(
        [(20, BASE + " appended tail words"),    # near dup of 0 — base only
         (21, BASE),                             # exact dup of 0 — base only
         (22, "sierra tango uniform victor whiskey xray yankee zulu")],
        "doc_id long, text string",
    ).coalesce(1).write.mode("append").parquet(src)
    run_once()
    got = {r.doc_id for r in read_survivors(spark, out).collect()}
    assert got == {0, 1, 22}

    # second compaction folds (gen-1 base ∪ batch-2 delta) into gen 2;
    # idempotent rerun keeps the same row counts
    info2 = compact_neardup_state(spark, state, n_buckets=8)
    assert info2["gen"] == 2 and info2["fps_rows"] == 3
    info3 = compact_neardup_state(spark, state, n_buckets=8)
    assert info3["fps_rows"] == info2["fps_rows"]
    assert info3["bands_rows"] == info2["bands_rows"]

    spark.createDataFrame(
        [(30, "sierra tango uniform victor whiskey xray yankee zulu"),  # exact of 22
         (31, BASE + " appended tail words")],                          # near of 0
        "doc_id long, text string",
    ).coalesce(1).write.mode("append").parquet(src)
    run_once()
    got = {r.doc_id for r in read_survivors(spark, out).collect()}
    assert got == {0, 1, 22}


def test_replay_is_idempotent(spark, tmp_path):
    """Re-running the stream from a FRESH checkpoint over the same source
    must overwrite, not duplicate: batch_id-keyed dynamic partition
    overwrites make a full replay converge to the same survivor set."""
    src = str(tmp_path / "src_replay")
    spark.createDataFrame(
        [(0, BASE), (1, OTHER), (2, BASE + " appended tail words")],
        "doc_id long, text string",
    ).coalesce(1).write.parquet(src)

    out = str(tmp_path / "out_replay")
    state = str(tmp_path / "state_replay")

    def run(ck):
        stream = spark.readStream.schema(
            "doc_id long, text string"
        ).option("maxFilesPerTrigger", 1).parquet(src)
        q = neardup_stream_foreach_batch(
            spark, stream, out, state, str(tmp_path / ck), threshold=0.4
        ).start()
        q.awaitTermination(180)

    run("ck1")
    first = sorted(r.doc_id for r in read_survivors(spark, out).collect())
    run("ck2")  # fresh checkpoint => every batch replays
    second = sorted(r.doc_id for r in read_survivors(spark, out).collect())
    assert first == second == [0, 1]


THIRD = "quartz marble granite basalt slate obsidian pumice shale"


def test_compaction_fence_blocks_interleaved_batch(spark, tmp_path):
    """VERDICT r8 #6: a micro-batch arriving while compaction holds the
    intent lease must FAIL (fail-stop), not write deltas the fold could
    lose — and must succeed, with nothing lost, once the lease clears."""
    from vectordb_from_scratch_spark.streaming.neardup_stream import (
        compact_neardup_state,
    )

    src = str(tmp_path / "src_fence")
    out = str(tmp_path / "out_fence")
    state = str(tmp_path / "state_fence")
    ckpt = str(tmp_path / "ckpt_fence")

    def run_once():
        stream = spark.readStream.schema("doc_id long, text string").parquet(src)
        q = neardup_stream_foreach_batch(
            spark, stream, out, state, ckpt, threshold=0.4
        ).start()
        q.awaitTermination(180)

    spark.createDataFrame(
        [(0, BASE), (1, OTHER)], "doc_id long, text string"
    ).coalesce(1).write.parquet(src)
    run_once()

    # simulate an in-flight compaction: plant the intent lease by hand
    spark.createDataFrame([(0,)], "intent_ts long").coalesce(1).write.mode(
        "overwrite"
    ).json(state + "/compaction_intent")
    spark.createDataFrame(
        [(10, THIRD)], "doc_id long, text string"
    ).coalesce(1).write.mode("append").parquet(src)
    from pyspark.errors.exceptions.captured import StreamingQueryException

    import pytest as _pytest

    with _pytest.raises(StreamingQueryException, match="compaction in progress"):
        run_once()

    # the lease is exclusive now (VERDICT r10 #1): a second compactor
    # must NOT proceed over the planted marker — explicit takeover only
    with _pytest.raises(Exception, match="lease.*already held"):
        compact_neardup_state(spark, state, n_buckets=8)
    compact_neardup_state(spark, state, n_buckets=8, force_takeover=True)
    import os

    assert not os.path.exists(state + "/compaction_intent")
    run_once()  # checkpoint replays the fenced batch
    got = {r.doc_id for r in read_survivors(spark, out).collect()}
    assert got == {0, 1, 10}


def test_compaction_snapshot_spares_interleaved_delta(spark, tmp_path, monkeypatch):
    """VERDICT r8 #6, the no-lost-deltas half: a delta partition that
    lands AFTER the compaction fold's snapshot (simulated by shrinking
    the snapshot) must survive the delete, keep screening dups while it
    sits in the delta, and be folded by the next compaction."""
    import os

    from vectordb_from_scratch_spark.streaming import neardup_stream as ns

    src = str(tmp_path / "src_snap")
    out = str(tmp_path / "out_snap")
    state = str(tmp_path / "state_snap")
    ckpt = str(tmp_path / "ckpt_snap")

    def run_once():
        stream = spark.readStream.schema(
            "doc_id long, text string"
        ).option("maxFilesPerTrigger", 1).parquet(src)
        q = ns.neardup_stream_foreach_batch(
            spark, stream, out, state, ckpt, threshold=0.4
        ).start()
        q.awaitTermination(180)

    spark.createDataFrame(
        [(0, BASE), (1, OTHER)], "doc_id long, text string"
    ).coalesce(1).write.parquet(src)
    spark.createDataFrame(
        [(10, THIRD)], "doc_id long, text string"
    ).coalesce(1).write.mode("append").parquet(src)
    run_once()  # two micro-batches -> two delta batch_id partitions
    assert {r.doc_id for r in read_survivors(spark, out).collect()} == {0, 1, 10}

    real = ns._list_batch_ids
    straggler = {}

    def shrunk(s, d):
        ids = real(s, d)
        straggler[d] = ids[-1:]
        return ids[:-1]  # the newest delta "landed after the snapshot"

    monkeypatch.setattr(ns, "_list_batch_ids", shrunk)
    info1 = ns.compact_neardup_state(spark, state, n_buckets=8)
    monkeypatch.setattr(ns, "_list_batch_ids", real)

    # the straggler partition survived the delete, on BOTH delta dirs
    for d in (state + "/fps", state + "/bands"):
        for bid in straggler[d]:
            assert os.path.exists(f"{d}/batch_id={bid}"), "delta lost!"
    # base + surviving delta together hold every fingerprint
    n_delta = spark.read.parquet(state + "/fps").count()
    assert info1["fps_rows"] + n_delta == 3
    assert n_delta > 0

    # dups of docs whose state sits base-side AND straggler-side are both
    # still dropped — no fingerprint went missing
    spark.createDataFrame(
        [(20, BASE), (21, THIRD), (22, "umber sienna ochre viridian cobalt azure cerulean teal")],
        "doc_id long, text string",
    ).coalesce(1).write.mode("append").parquet(src)
    run_once()
    got = {r.doc_id for r in read_survivors(spark, out).collect()}
    assert got == {0, 1, 10, 22}

    # the next full-snapshot compaction folds the straggler in
    info2 = ns.compact_neardup_state(spark, state, n_buckets=8)
    assert info2["fps_rows"] == 4
    assert not os.path.exists(state + "/fps")


def test_future_format_state_fails_loudly(spark, tmp_path):
    """A marker with a DIFFERENT version than this code expects must
    fail the stream, not probe state it cannot interpret."""
    src = str(tmp_path / "src_fut")
    state = str(tmp_path / "state_fut")
    spark.createDataFrame(
        [(0, BASE)], "doc_id long, text string"
    ).coalesce(1).write.parquet(src)
    spark.createDataFrame([(99,)], "pfx_format int").coalesce(1).write.json(
        state + "/format"
    )
    stream = spark.readStream.schema("doc_id long, text string").parquet(src)
    q = neardup_stream_foreach_batch(
        spark, stream, str(tmp_path / "out_fut"), state,
        str(tmp_path / "ck_fut"), threshold=0.4,
    ).start()
    with pytest.raises(Exception, match="does not name"):
        q.awaitTermination(180)


def test_crash_between_base_swaps_keeps_screening(spark, tmp_path, rename_crash):
    """A compaction that crashes between the fps_base swap's two renames
    (its new generation complete in the tmp, bands_base still the old
    one, the two at different n_buckets): the stream is fenced by the
    stale lease; with the lease gone, a document whose only prior
    occurrence is in the base is still dropped and the folded deltas are
    not lost; the forced re-run recovers the swap and it is dropped
    again."""
    import os

    from vectordb_from_scratch_spark.streaming.neardup_stream import (
        compact_neardup_state,
    )

    src = str(tmp_path / "src_crash")
    out = str(tmp_path / "out_crash")
    state = str(tmp_path / "state_crash")
    ckpt = str(tmp_path / "ckpt_crash")

    def run_once():
        stream = spark.readStream.schema("doc_id long, text string").parquet(src)
        q = neardup_stream_foreach_batch(
            spark, stream, out, state, ckpt, threshold=0.4
        ).start()
        q.awaitTermination(180)

    spark.createDataFrame(
        [(0, BASE), (1, OTHER)], "doc_id long, text string"
    ).coalesce(1).write.parquet(src)
    run_once()
    compact_neardup_state(spark, state, n_buckets=8)  # gen 1: base only
    spark.createDataFrame(
        [(10, THIRD)], "doc_id long, text string"
    ).coalesce(1).write.mode("append").parquet(src)
    run_once()  # THIRD's state lives in the delta
    with rename_crash(), pytest.raises(OSError, match="injected crash"):
        compact_neardup_state(spark, state, n_buckets=4)
    assert not os.path.exists(state + "/fps_base")
    assert os.path.exists(state + "/fps")  # the folded delta is kept
    # a dup batch is fenced by the crashed compaction's lease
    spark.createDataFrame(
        [(20, BASE + " appended tail words"), (21, BASE), (22, THIRD)],
        "doc_id long, text string",
    ).coalesce(1).write.mode("append").parquet(src)
    with pytest.raises(Exception, match="compaction in progress"):
        run_once()
    # once the lease is forced away the window's probes still see every
    # seen row: the near dup, the exact dup (base only) and the delta dup
    os.remove(state + "/compaction_intent")
    run_once()
    assert {r.doc_id for r in read_survivors(spark, out).collect()} == {0, 1, 10}
    info = compact_neardup_state(spark, state, n_buckets=4, force_takeover=True)
    assert (info["gen"], info["fps_rows"], info["bands_rows"]) == (3, 3, 12)
    assert sorted(os.listdir(state)) == ["bands_base", "fps_base"]
    spark.createDataFrame(
        [(30, BASE), (31, THIRD), (32, BASE + " appended tail words")],
        "doc_id long, text string",
    ).coalesce(1).write.mode("append").parquet(src)
    run_once()
    assert {r.doc_id for r in read_survivors(spark, out).collect()} == {0, 1, 10}
