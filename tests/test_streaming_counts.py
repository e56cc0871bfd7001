"""Streaming running counts (streaming/counts_stream.py): stream totals
must equal the batch groupBy, top-k serving read must match batch heavy
hitters, and compaction must preserve totals while shrinking state."""

from __future__ import annotations

import glob

from pyspark.sql import functions as F

from vectordb_from_scratch_spark.streaming import (
    compact_counts,
    counts_stream_foreach_batch,
    read_counts,
    read_top_hitters,
)


def _run(spark, src, tmp_path, tag):
    state = str(tmp_path / f"state_{tag}")
    ckpt = str(tmp_path / f"ckpt_{tag}")
    stream = spark.readStream.schema(
        "event_id long, event_type string"
    ).option("maxFilesPerTrigger", 1).parquet(src)
    q = counts_stream_foreach_batch(spark, stream, state, ckpt).start()
    assert q.awaitTermination(120)
    return state


def _mkdata(spark, tmp_path):
    src = str(tmp_path / "src")
    b1 = spark.createDataFrame(
        [(i, "view") for i in range(6)] + [(10, "click"), (11, "click")],
        "event_id long, event_type string",
    )
    b2 = spark.createDataFrame(
        [(20, "view"), (21, "purchase"), (22, "click"), (23, "view")],
        "event_id long, event_type string",
    )
    b1.coalesce(1).write.parquet(src)
    b2.coalesce(1).write.mode("append").parquet(src)
    both = b1.unionByName(b2)
    return src, both


def test_stream_counts_match_batch(spark, tmp_path):
    src, both = _mkdata(spark, tmp_path)
    state = _run(spark, src, tmp_path, "match")
    got = {r.key: r.cnt for r in read_counts(spark, state).collect()}
    want = {
        r.event_type: r.cnt
        for r in both.groupBy("event_type").agg(F.count(F.lit(1)).alias("cnt")).collect()
    }
    assert got == want == {"view": 8, "click": 3, "purchase": 1}


def test_top_hitters_ordering_and_k(spark, tmp_path):
    src, _ = _mkdata(spark, tmp_path)
    state = _run(spark, src, tmp_path, "topk")
    top = read_top_hitters(spark, state, k=2).collect()
    assert [(r.key, r.cnt, r.rank) for r in top] == [("view", 8, 1), ("click", 3, 2)]


def test_compaction_preserves_totals_and_shrinks_state(spark, tmp_path):
    src, _ = _mkdata(spark, tmp_path)
    state = _run(spark, src, tmp_path, "compact")
    before = {r.key: r.cnt for r in read_counts(spark, state).collect()}
    n_parts_before = len(glob.glob(state + "/data/batch_id=*"))
    assert n_parts_before >= 2  # one partial per micro-batch
    info = compact_counts(spark, state)
    assert len(info["folded"]) == n_parts_before
    assert info["gen"] == 1
    after = {r.key: r.cnt for r in read_counts(spark, state).collect()}
    assert after == before
    # every folded partition deleted; the baseline lives in its own
    # swapped generation dir, outside data/, its manifest inside it
    assert glob.glob(state + "/data/batch_id=*") == []
    assert glob.glob(state + "/baseline*") == [state + "/baseline"]
    assert glob.glob(state + "/baseline/_manifest.json") != []
    # idempotent re-run: nothing new to fold, totals unchanged
    info2 = compact_counts(spark, state)
    assert info2["folded"] == [] and info2["gen"] == 1
    assert {r.key: r.cnt for r in read_counts(spark, state).collect()} == before


def test_counts_compaction_fence_blocks_interleaved_batch(spark, tmp_path):
    """A micro-batch arriving while the compaction intent lease is held
    must FAIL loudly (never write a partial the fold could lose), and
    the stream recovers cleanly once the lease clears — mirroring
    test_streaming_neardup's fence tests (VERDICT r9 #6)."""
    import pytest

    src, _ = _mkdata(spark, tmp_path)
    state = str(tmp_path / "state_fence")
    ckpt = str(tmp_path / "ckpt_fence")

    def run():
        stream = spark.readStream.schema(
            "event_id long, event_type string"
        ).option("maxFilesPerTrigger", 1).parquet(src)
        q = counts_stream_foreach_batch(spark, stream, state, ckpt).start()
        assert q.awaitTermination(120)

    # plant a (stale) intent lease, as if a compaction were mid-fold
    spark.createDataFrame([(1,)], "intent_ts long").coalesce(1).write.mode(
        "overwrite"
    ).json(state + "/compaction_intent")
    stream = spark.readStream.schema(
        "event_id long, event_type string"
    ).option("maxFilesPerTrigger", 1).parquet(src)
    q = counts_stream_foreach_batch(spark, stream, state, ckpt).start()
    with pytest.raises(Exception, match="compaction in progress"):
        q.awaitTermination(120)
    # clearing the lease (what a re-run compaction does last) unblocks;
    # the stream replays off its checkpoint and lands every partial
    import shutil

    shutil.rmtree(state + "/compaction_intent")
    run()
    got = {r.key: r.cnt for r in read_counts(spark, state).collect()}
    assert got == {"view": 8, "click": 3, "purchase": 1}


def test_counts_snapshot_spares_interleaved_partial(spark, tmp_path):
    """A partial landed AFTER the compaction snapshot (a batch that
    slipped past the intent check) must survive the fold's delete and
    keep counting — the batch-id snapshot discipline."""
    import pyspark.sql.functions as SF

    src, _ = _mkdata(spark, tmp_path)
    state = _run(spark, src, tmp_path, "snapshot")
    before = {r.key: r.cnt for r in read_counts(spark, state).collect()}
    # simulate the interleaved batch: land a partial for batch 99 by
    # hand between snapshot and delete — equivalently, after compaction
    # ran its snapshot this partial was not in it
    compact_counts(spark, state)
    spark.createDataFrame([("view", 5)], "key string, cnt long").withColumn(
        "batch_id", SF.lit(99)
    ).coalesce(1).write.mode("overwrite").option(
        "partitionOverwriteMode", "dynamic"
    ).partitionBy("batch_id").parquet(state + "/data")
    got = {r.key: r.cnt for r in read_counts(spark, state).collect()}
    assert got["view"] == before["view"] + 5
    # the NEXT compaction folds it in and preserves the total
    info = compact_counts(spark, state)
    assert info["folded"] == [99]
    got2 = {r.key: r.cnt for r in read_counts(spark, state).collect()}
    assert got2["view"] == before["view"] + 5


def test_folded_batch_replay_does_not_double_count(spark, tmp_path):
    """The crash-dangling window: a batch's partial was written, its
    checkpoint commit was lost, compaction folded the partial into the
    baseline — the REPLAY of that batch must skip its write (the counts
    are already in the baseline), never double-count."""
    import shutil

    src, _ = _mkdata(spark, tmp_path)
    state = _run(spark, src, tmp_path, "replaymanifest")
    before = {r.key: r.cnt for r in read_counts(spark, state).collect()}
    compact_counts(spark, state)  # folds batches 0 and 1 into baseline
    # lose the checkpoint → the stream replays EVERY batch with its
    # original ids; all are in the folded manifest, so every write skips
    shutil.rmtree(str(tmp_path / "ckpt_replaymanifest"))
    stream = spark.readStream.schema(
        "event_id long, event_type string"
    ).option("maxFilesPerTrigger", 1).parquet(src)
    q = counts_stream_foreach_batch(
        spark, stream, state, str(tmp_path / "ckpt_replaymanifest")
    ).start()
    assert q.awaitTermination(120)
    after = {r.key: r.cnt for r in read_counts(spark, state).collect()}
    assert after == before  # no double counting


def test_old_layout_state_fails_loudly(spark, tmp_path):
    """A pre-fence state (partials at the state root) must raise, not
    read as empty — silent zeroing of every count is the failure mode
    the layout guard exists for."""
    import pyspark.sql.functions as SF
    import pytest

    state = str(tmp_path / "state_oldlayout")
    spark.createDataFrame([("view", 3)], "key string, cnt long").withColumn(
        "batch_id", SF.lit(0)
    ).coalesce(1).write.partitionBy("batch_id").parquet(state)
    with pytest.raises(Exception, match="does not name"):
        read_counts(spark, state).collect()
    with pytest.raises(Exception, match="does not name"):
        compact_counts(spark, state)


def test_empty_state_reads_empty(spark, tmp_path):
    empty = read_counts(spark, str(tmp_path / "nope"))
    assert empty.count() == 0 and empty.columns == ["key", "cnt"]


def test_funnel_order_matters(spark):
    """A user whose 'click' precedes their first 'view' must not count
    at the click stage — ordered semantics, not mere set membership."""
    from vectordb_from_scratch_spark.plans import relational as rel

    rows = [
        # user 1: view -> click -> purchase (full funnel)
        (1, 1, "view", "2026-01-01 10:00:00"),
        (2, 1, "click", "2026-01-01 10:05:00"),
        (3, 1, "purchase", "2026-01-01 10:10:00"),
        # user 2: click BEFORE view — stage 2 not reached in order
        (4, 2, "click", "2026-01-01 09:00:00"),
        (5, 2, "view", "2026-01-01 09:30:00"),
        # user 3: view only
        (6, 3, "view", "2026-01-01 08:00:00"),
    ]
    ev = spark.createDataFrame(
        rows, "event_id long, user_id long, event_type string, ts_s string"
    ).select("event_id", "user_id", "event_type", F.col("ts_s").cast("timestamp").alias("ts"))
    got = {r.stage: (r.n_users, r.conversion_from_first)
           for r in rel.events_funnel(ev).collect()}
    assert got["view"] == (3, 1.0)
    assert got["click"][0] == 1      # only user 1 clicked after viewing
    assert got["purchase"][0] == 1
    assert abs(got["click"][1] - round(1 / 3, 6)) < 1e-9


def test_quality_model_scores_bounded_and_ordered(spark):
    from vectordb_from_scratch_spark.operators import textops

    rows = [
        (1, "the quick brown fox jumps over the lazy dog and it was a fine day "
            "for all of them to be out in the sun with friends", "en"),
        (2, "1 2 3 4 5 6 7 8 9 0 !!! ;;; ???", "en"),
        (3, "", "en"),
    ]
    docs = spark.createDataFrame(rows, "doc_id long, text string, lang string")
    got = {r.doc_id: r for r in textops.quality_model_scores(docs).collect()}
    assert all(0.0 < r.p_keep < 1.0 for r in got.values())
    # prose beats both junk docs; neither junk doc clears the threshold
    # (empty text carries no penalty evidence, so it scores sigmoid(bias)
    # — above the digit/punct-penalized noise doc, below any real prose)
    assert got[1].p_keep > max(got[2].p_keep, got[3].p_keep)
    assert got[1].keep and not got[2].keep and not got[3].keep


def test_corpus_prep_stream_matches_batch(spark, tmp_path):
    """Streamed quality-gate + dedup == batch filter + exact_dedup."""
    from vectordb_from_scratch_spark.operators import dedup, textops
    from vectordb_from_scratch_spark.streaming import (
        corpus_prep_stream_foreach_batch,
        read_deduped,
    )

    prose = (
        "the quick brown fox jumps over the lazy dog and it was a fine "
        "day for all of them to be out in the sun with friends on the "
        "green hill by the river where they had been before"
    )
    rows = [
        (0, prose),
        (1, "1 2 3 4 !!! ;;; 777"),            # fails the quality gate
        (2, prose.upper()),                     # normalized dup of 0
        (3, prose + " and then some more words here to say"),
    ]
    docs = spark.createDataFrame(rows, "doc_id long, text string")
    src = str(tmp_path / "cp_src")
    docs.coalesce(1).write.parquet(src)

    out = str(tmp_path / "cp_out")
    stream = spark.readStream.schema("doc_id long, text string").option(
        "maxFilesPerTrigger", 1
    ).parquet(src)
    q = corpus_prep_stream_foreach_batch(
        spark, stream, out, str(tmp_path / "cp_state"), str(tmp_path / "cp_ckpt")
    ).start()
    assert q.awaitTermination(120)

    got = {r.doc_id for r in read_deduped(spark, out).collect()}
    batch_gated = docs.filter(textops.quality_p_keep("text") >= 0.5)
    want = {r.keep_id for r in dedup.exact_dedup(batch_gated).collect()}
    assert got == want == {0, 3}


def test_funnel_stream_matches_batch(spark, tmp_path):
    """Streamed stateful funnel == batch events_funnel counts, with users
    whose chains SPAN micro-batches (state carries stage progress)."""
    from vectordb_from_scratch_spark.plans import relational as rel
    from vectordb_from_scratch_spark.streaming import funnel_stream

    rows = [
        # user 1 completes the funnel across the batch boundary
        (1, 1, "view", "2026-01-01 10:00:00"),
        (2, 1, "click", "2026-01-01 10:05:00"),
        (3, 1, "purchase", "2026-01-02 10:10:00"),
        # user 2 clicks before viewing, then views — stuck at stage 1
        (4, 2, "click", "2026-01-01 09:00:00"),
        (5, 2, "view", "2026-01-01 09:30:00"),
        # user 3 views in batch 1, clicks in batch 2
        (6, 3, "view", "2026-01-01 08:00:00"),
        (7, 3, "click", "2026-01-02 08:30:00"),
        # noise event type is ignored
        (8, 1, "error", "2026-01-01 10:01:00"),
    ]
    ev = spark.createDataFrame(
        rows, "event_id long, user_id long, event_type string, ts_s string"
    ).select(
        "event_id", "user_id", "event_type",
        F.col("ts_s").cast("timestamp").alias("ts"),
    )
    src = str(tmp_path / "fs_src")
    # batch 1 = day 1 events, batch 2 = day 2 — per-user ts order holds
    ev.filter(F.col("ts") < "2026-01-02").coalesce(1).write.parquet(src)
    ev.filter(F.col("ts") >= "2026-01-02").coalesce(1).write.mode("append").parquet(src)

    stream = spark.readStream.schema(ev.schema).option("maxFilesPerTrigger", 1).parquet(src)
    out = str(tmp_path / "fs_out")
    q = (
        funnel_stream(stream)
        .writeStream.format("parquet")
        .option("path", out)
        .option("checkpointLocation", str(tmp_path / "fs_ckpt"))
        .trigger(availableNow=True)
        .start()
    )
    assert q.awaitTermination(120)

    got = (
        spark.read.parquet(out)
        .groupBy("stage_idx")
        .agg(F.countDistinct("user_id").alias("n_users"))
        .collect()
    )
    got_counts = {r.stage_idx: r.n_users for r in got}
    want = {r.stage_idx: r.n_users for r in rel.events_funnel(ev).collect()
            if r.n_users > 0}
    assert got_counts == want == {1: 3, 2: 2, 3: 1}
    # advancement rows carry the exact stage timestamps
    u1 = {r.stage_idx: str(r.ts) for r in spark.read.parquet(out)
          .filter(F.col("user_id") == 1).collect()}
    assert u1 == {1: "2026-01-01 10:00:00", 2: "2026-01-01 10:05:00",
                  3: "2026-01-02 10:10:00"}


def test_crash_between_baseline_and_commit_never_double_counts(spark, tmp_path):
    """THE r10 crash window (ADVICE r10, medium): a compaction that
    crashed after writing its folded baseline but BEFORE the manifest
    commit. In the r10 layout the half-committed baseline lived at
    data/batch_id=-1 — already containing the snapshot batches whose
    partitions (ids > recorded max_folded) were still on disk, so
    read_counts double-counted during the window and the re-run
    re-folded them permanently. In the swapped layout an incomplete
    baseline.tmp-* (no _SUCCESS) is invisible to the recovery ladder:
    reads stay exact and the re-run rebuilds gen 2 from the same
    still-on-disk inputs."""
    import os

    import pyspark.sql.functions as SF

    src, _ = _mkdata(spark, tmp_path)
    state = _run(spark, src, tmp_path, "crashcommit")
    compact_counts(spark, state)  # gen 1
    # new traffic after the first compaction
    spark.createDataFrame(
        [("view", 4), ("scroll", 2)], "key string, cnt long"
    ).withColumn("batch_id", SF.lit(5)).coalesce(1).write.mode(
        "overwrite"
    ).option("partitionOverwriteMode", "dynamic").partitionBy(
        "batch_id"
    ).parquet(state + "/data")
    want = {r.key: r.cnt for r in read_counts(spark, state).collect()}
    assert want["view"] == 8 + 4 and want["scroll"] == 2
    # simulate the crashed second compaction: its folded baseline tmp
    # holds baseline g1 + batch 5, but the write never completed
    tmp = state + "/baseline.tmp-0badc0de"
    read_counts(spark, state).coalesce(1).write.parquet(tmp)
    os.remove(tmp + "/_SUCCESS")
    # the orphan changes nothing for readers — no double count
    assert {r.key: r.cnt for r in read_counts(spark, state).collect()} == want
    # the re-run folds the SAME inputs (all still on disk), overwrites
    # the orphan, commits gen 2 — totals exact, batch 5 folded once
    info = compact_counts(spark, state)
    assert info["folded"] == [5] and info["gen"] == 2
    assert {r.key: r.cnt for r in read_counts(spark, state).collect()} == want


def test_second_concurrent_compactor_fails_loudly(spark, tmp_path):
    """The lease is an ATOMIC exclusive create (VERDICT r10 #1): while
    one compaction holds it, a second compact_counts must raise — the
    r10 overwrite-form lease let both believe they held it. Takeover of
    a stale lease (crashed holder) is explicit via force_takeover."""
    import pytest

    from vectordb_from_scratch_spark.sources.persistence import take_lease

    src, _ = _mkdata(spark, tmp_path)
    state = _run(spark, src, tmp_path, "twocompact")
    before = {r.key: r.cnt for r in read_counts(spark, state).collect()}
    lease = state + "/compaction_intent"
    take_lease(lease, {"compactor": "A"})  # compactor A holds the lease
    with pytest.raises(Exception, match="lease.*already held"):
        compact_counts(spark, state)  # compactor B must not proceed
    with pytest.raises(Exception, match="lease.*already held"):
        take_lease(lease, {"compactor": "B"})  # nor re-take it blindly
    # operator-verified recovery: seize the stale lease and fold
    info = compact_counts(spark, state, force_takeover=True)
    assert len(info["folded"]) == 2
    assert {r.key: r.cnt for r in read_counts(spark, state).collect()} == before


def test_r10_baseline_format_fails_loudly(spark, tmp_path):
    """A pre-r11 state (baseline stored as the data/batch_id=-1
    partition + Spark-JSON manifest) must raise with migration
    directions, never be read as if the baseline were a batch partial
    (double-count) or absent (zero-count)."""
    import pyspark.sql.functions as SF
    import pytest

    state = str(tmp_path / "state_r10fmt")
    spark.createDataFrame([("view", 7)], "key string, cnt long").withColumn(
        "batch_id", SF.lit(-1)
    ).coalesce(1).write.partitionBy("batch_id").parquet(state + "/data")
    spark.createDataFrame([(1,)], "max_folded long").coalesce(1).write.json(
        state + "/compaction"
    )
    with pytest.raises(Exception, match="does not name"):
        read_counts(spark, state).collect()
    with pytest.raises(Exception, match="does not name"):
        compact_counts(spark, state)


def test_crash_between_manifest_and_delete_never_double_counts(spark, tmp_path):
    """The compaction crash window the max-folded manifest guards
    (r10 review finding): manifest written, folded partition NOT yet
    deleted. read_counts must exclude the stale partition immediately,
    and the NEXT compaction must finish the delete WITHOUT folding it
    into the baseline a second time."""
    import glob as g

    import pyspark.sql.functions as SF

    src, _ = _mkdata(spark, tmp_path)
    state = _run(spark, src, tmp_path, "crashwin")
    before = {r.key: r.cnt for r in read_counts(spark, state).collect()}
    compact_counts(spark, state)
    # simulate the crash: RESURRECT a folded partition (its counts are
    # already in the baseline) while the manifest says max_folded >= 1
    spark.createDataFrame([("view", 6), ("click", 2)], "key string, cnt long").withColumn(
        "batch_id", SF.lit(0)
    ).coalesce(1).write.mode("overwrite").option(
        "partitionOverwriteMode", "dynamic"
    ).partitionBy("batch_id").parquet(state + "/data")
    # served totals stay exact DURING the window
    assert {r.key: r.cnt for r in read_counts(spark, state).collect()} == before
    # the next fold deletes the stale partition without re-folding it
    info = compact_counts(spark, state)
    assert info["folded"] == []  # nothing new to fold
    assert g.glob(state + "/data/batch_id=0") == []
    assert {r.key: r.cnt for r in read_counts(spark, state).collect()} == before


def test_crash_inside_baseline_swap_never_double_counts(spark, tmp_path, rename_crash):
    """A compaction that crashes between its baseline swap's two renames:
    read_counts stays exact while the baseline is missing (the ladder
    serves the complete new generation, whose max_folded hides the
    partials it folds), the stream is fenced by the stale lease, and the
    forced re-run recovers the swap and folds nothing a second time."""
    import os

    import pyspark.sql.functions as SF
    import pytest

    src, _ = _mkdata(spark, tmp_path)
    state = _run(spark, src, tmp_path, "crashswap")
    compact_counts(spark, state)  # gen 1
    spark.createDataFrame(
        [("view", 4), ("scroll", 2)], "key string, cnt long"
    ).withColumn("batch_id", SF.lit(5)).coalesce(1).write.mode(
        "overwrite"
    ).option("partitionOverwriteMode", "dynamic").partitionBy(
        "batch_id"
    ).parquet(state + "/data")
    want = {r.key: r.cnt for r in read_counts(spark, state).collect()}
    with rename_crash(), pytest.raises(OSError, match="injected crash"):
        compact_counts(spark, state)
    assert not os.path.exists(state + "/baseline")
    assert os.path.exists(state + "/data/batch_id=5")  # not yet deleted
    assert {r.key: r.cnt for r in read_counts(spark, state).collect()} == want
    # the crashed compaction's lease fences the stream
    spark.createDataFrame(
        [(40, "view")], "event_id long, event_type string"
    ).coalesce(1).write.mode("append").parquet(src)
    stream = spark.readStream.schema(
        "event_id long, event_type string"
    ).option("maxFilesPerTrigger", 1).parquet(src)
    q = counts_stream_foreach_batch(
        spark, stream, state, str(tmp_path / "ckpt_crashswap")
    ).start()
    with pytest.raises(Exception, match="compaction in progress"):
        q.awaitTermination(120)
    info = compact_counts(spark, state, force_takeover=True)
    assert info == {"folded": [], "gen": 2, "baseline_keys": 0}
    assert sorted(os.listdir(state)) == ["baseline", "data"]
    assert {r.key: r.cnt for r in read_counts(spark, state).collect()} == want
