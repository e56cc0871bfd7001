"""Streaming NEAR-duplicate ingest screen: drop documents that are exact
OR near duplicates (word-shingle Jaccard ≥ threshold) of anything seen
in an earlier micro-batch or earlier in their own batch — the streaming
twin of `operators/dedup.incremental_delivery_report`, extending
`dedup_stream.py`'s exact-only screen to the banded-LSH near-dup layer.

Drop rule (deterministic, documented): a document is dropped when its
fingerprint matches prior state or an earlier id in its batch (exact),
or when its verified Jaccard reaches the threshold against an
earlier-seen document, where "earlier-seen" means: within its own
batch, any earlier id (kept OR dropped — both are banded in `bb`);
across batches, prior SURVIVORS only (the fp/band state and the
survivors sink store survivors, so a doc whose only near-neighbor was
itself near-dropped in an earlier batch survives). This matches the
batch twin `incremental_delivery_report` (stream ≡ batch asserted in
test_streaming_neardup) and avoids per-doc sequential dependence
inside a batch (a transitive keep-set would serialize the batch) while
staying a pure function of (batch order, id order).

State layout (the 100-TB shape, same bucketing discipline as
dedup_stream):
- `<state>/fps`: (fp, keep_id, batch_id, pfx) — 16-byte digests,
  partitioned by (batch_id, pfx = first 2 hex chars) so the exact probe
  prunes to the batch's ≤256 buckets.
- `<state>/bands`: (corpus_id, band_idx, band_key, batch_id, pfx) —
  the banded-LSH index rows, same prefix pruning on band_key.
- shingles are NOT stored: the verify step re-derives them for
  CANDIDATE ids only, by joining candidates back to the survivors sink
  (`out_dir`) on id — the state stays digest-sized and the text-sized
  work is bounded by candidates, not history.

Compacted base (the warehouse-scale form, `compact_neardup_state`):
the per-batch delta partitions above accumulate H×256 directories over
H batches — file listing and per-partition open overhead, not data,
dominated the measured r7 probe growth. A maintenance compaction
(run while the stream is stopped) folds all delta partitions into the
base tables `<state>/fps_base` / `<state>/bands_base`, hash-bucketed
into a FIXED number of `bkt = pmod(xxhash64(key), n_buckets)`
partitions (key = fp / band_key), one sorted file per bucket. Per-batch
probes then read (base pruned to the batch's bkt set) ∪
(post-compaction delta pruned by pfx) — a fixed file count regardless
of history depth. Each base is one generation swapped by
`persistence.write_state` with {gen, n_buckets} in its manifest, and
each probe takes its bucket set from its own table's n_buckets; the
swap, the recovery ladder, the compaction lease
(`<state>/compaction_intent`) and the layout check are persistence's
(module docstring there). The folded deltas are deleted only after both
swaps commit, so every crash window leaves probes that see every seen
row, possibly twice — overlap is harmless, the probes feed anti-joins
and distinct'd candidate sets.

Exactly-once: all three sinks (survivors, fps, bands) are dynamic
partition overwrites keyed by batch_id; a replayed batch excludes its
own state partitions from the probes (the base tables keep batch_id
for the same exclusion) and overwrites its own output. A replayed
batch whose rows were already compacted re-writes them as delta;
the next compaction's distinct() folds the duplicates.
"""

from __future__ import annotations

import os
import shutil
import uuid

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from ..functions import text as X
from ..operators.dedup import _banded_keys, _cap_buckets, _jaccard_verify_kernel
from ..sources.persistence import (
    check_layout,
    release_lease,
    state_manifest,
    take_lease,
    write_state,
)
from .dedup_stream import _dir_exists, _fail_while_compacting, _list_batch_ids

__all__ = [
    "compact_neardup_state",
    "neardup_stream_foreach_batch",
    "read_survivors",
]

_PFX_LEN = 2

_LAYOUT = ("fps", "bands", "fps_base", "bands_base", "compaction_intent")


def _pfx(col: str):
    """Partition-prefix value: 'x' + the first _PFX_LEN hex chars. The
    letter guard is load-bearing: pfx is a PARTITION column, and Spark's
    partition-value type inference is per-directory-listing — a delta
    whose surviving partitions happen to all look numeric ('42', '07')
    would flip pfx to BIGINT and the next probe's isin('3c') would die
    on the cast (surfaced by the r9 snapshot-fence test; latent before —
    any single-batch delta with all-numeric prefixes could hit it)."""
    return F.concat(F.lit("x"), F.substring(col, 1, _PFX_LEN))


def _base(state_dir: str, table: str, *, recover: bool = False):
    """(live generation, n_buckets, gen) of the compacted base `table`
    ("fps" or "bands"); (None, None, 0) before its first compaction."""
    path, manifest = state_manifest(f"{state_dir}/{table}_base", recover=recover)
    if path is None:
        return None, None, 0
    return path, manifest["n_buckets"], manifest["gen"]


def compact_neardup_state(
    spark: SparkSession, state_dir: str, n_buckets: int = 64,
    *, force_takeover: bool = False,
) -> dict:
    """Fold the per-batch (batch_id, pfx) delta partitions into fixed
    hash-bucketed base tables — the maintenance job that keeps per-batch
    probe cost flat as history deepens (module docstring: layout and
    crash windows). Run while the stream is STOPPED; the compaction
    lease enforces it (VERDICT r8 #6): a micro-batch checks it at batch
    start and again immediately before its state writes and fails
    loudly while it is held (the stream retries off its checkpoint), and
    a second compaction fails loudly too. A lease a crashed compaction
    left is seized with `force_takeover=True` after verifying no
    compactor is alive.

    The fold reads only the batch_id partitions physically present when
    it starts and deletes ONLY those, so a delta written by a batch that
    slipped past the lease check survives and is folded by the next
    compaction. The one residual window is a REPLAYED batch overwriting
    a snapshot partition between its own lease check and write
    completion — closable only with a distributed lock; the check
    directly before the writes makes it practically unhittable.

    Returns {'gen', 'n_buckets', 'fps_rows', 'bands_rows'} of the new
    base (row counts from the written footers). Re-running is idempotent
    (distinct fold); changing n_buckets re-buckets the whole base on the
    next run."""
    if n_buckets <= 0:
        raise ValueError("n_buckets must be positive")
    lease = state_dir + "/compaction_intent"
    check_layout(state_dir, _LAYOUT)
    # lease FIRST — every delta row read below is covered by it
    take_lease(lease, {"compactor": uuid.uuid4().hex}, force=force_takeover)
    tables = (("fps", "fp"), ("bands", "band_key"))
    bases = [_base(state_dir, table, recover=True) for table, _ in tables]
    gen = max(g for _, _, g in bases) + 1
    snapshots = [_list_batch_ids(spark, f"{state_dir}/{t}") for t, _ in tables]
    rows = {}
    for (table, key), (base, _, _), snapshot in zip(tables, bases, snapshots):
        parts = []
        if snapshot:
            parts.append(
                spark.read.parquet(f"{state_dir}/{table}")
                .filter(F.col("batch_id").isin(snapshot))
                .drop("pfx")
            )
        if base is not None:
            parts.append(spark.read.parquet(base).drop("bkt"))
        if not parts:
            continue
        df = parts[0]
        for extra in parts[1:]:
            df = df.unionByName(extra)
        folded = (
            df.distinct()  # replayed-batch delta rows may repeat base rows
            .withColumn(
                "bkt", F.pmod(F.xxhash64(F.col(key)), F.lit(n_buckets))
            )
            # one sorted file per bucket: repartition ON the bucket column
            # then sort within, so parquet row-group min/max stats on the
            # key survive for any future key-range pruning
            .repartition(n_buckets, F.col("bkt"))
            .sortWithinPartitions("bkt", key)
        )
        rows[table] = write_state(
            folded, f"{state_dir}/{table}_base",
            {"gen": gen, "n_buckets": n_buckets}, partition_by="bkt",
        )["rows"]
    # delete the folded inputs LAST, per snapshotted batch_id partition:
    # partitions a batch added after the snapshot were not folded
    for (table, _), snapshot in zip(tables, snapshots):
        delta = f"{state_dir}/{table}"
        for bid in snapshot:
            shutil.rmtree(f"{delta}/batch_id={bid}", ignore_errors=True)
        # a delta dir with no partitions left would fail schema inference
        # on the next read: drop its files, then the dir only if empty
        if os.path.isdir(delta) and not any(
            e.startswith("batch_id=") for e in os.listdir(delta)
        ):
            for e in os.listdir(delta):
                if os.path.isfile(os.path.join(delta, e)):
                    os.remove(os.path.join(delta, e))
            try:
                os.rmdir(delta)
            except OSError:  # a batch landed meanwhile; keep it
                pass
    release_lease(lease)
    return {
        "gen": gen if rows else gen - 1,
        "n_buckets": n_buckets,
        "fps_rows": rows.get("fps", 0),
        "bands_rows": rows.get("bands", 0),
    }


def _shingles(df: DataFrame, out_id: str, sh_name: str, shingle_n: int,
              text_col: str, id_col: str) -> DataFrame:
    return df.select(
        F.col(id_col).alias(out_id),
        F.array_distinct(X.word_shingles(text_col, n=shingle_n)).alias(sh_name),
    )


def neardup_stream_foreach_batch(
    spark: SparkSession,
    docs_stream: DataFrame,
    out_dir: str,
    state_dir: str,
    checkpoint_dir: str,
    threshold: float = 0.5,
    num_hashes: int = 8,
    bands: int = 4,
    shingle_n: int = 3,
    text_col: str = "text",
    id_col: str = "doc_id",
    max_bucket_size: int | None = None,
):
    """Wire a document stream into (surviving docs, fp state, band state).
    Returns the unstarted writeStream (availableNow trigger), mirroring
    dedup_stream_foreach_batch.

    `max_bucket_size` caps LSH buckets on BOTH candidate sources (the
    prefix-pruned state probe and the in-batch self-join) — the same
    adversarial-boilerplate escape hatch as lsh_candidate_pairs. Without
    it, one boilerplate-heavy micro-batch against a mega-bucket makes
    the candidate broadcast bucket-sized; with it, dropped-bucket
    members still hit the exact screen."""
    fps_dir = state_dir + "/fps"
    bands_dir = state_dir + "/bands"
    lease = state_dir + "/compaction_intent"

    def _check_fence() -> None:
        # the compaction lease (VERDICT r8 #6): fail the micro-batch
        # loudly rather than write deltas a concurrent fold could lose
        _fail_while_compacting(lease, "near-dup stream", "compact_neardup_state")

    def merge(batch: DataFrame, batch_id: int) -> None:
        s = batch.sparkSession
        _check_fence()
        check_layout(state_dir, _LAYOUT)
        fps_base, fps_nb, _ = _base(state_dir, "fps")
        bands_base, bands_nb, _ = _base(state_dir, "bands")
        # bound BEFORE the try: the finally references all three, and an
        # empty batch (early return) or a failure before their persist
        # (the prefix collect, _dir_exists, the exact-probe build) must
        # hit the finally with None, not UnboundLocalError (ADVICE r7)
        exact_survivors = bb = survivors = None
        fp = batch.withColumn("__fp", X.fingerprint(text_col))
        w = Window.partitionBy("__fp").orderBy(F.col(id_col).asc())
        firsts = (
            fp.withColumn("__rn", F.row_number().over(w))
            .filter(F.col("__rn") == 1)
            .drop("__rn")
            .withColumn("__pfx", _pfx("__fp"))
        )
        firsts.persist()
        try:
            pre_cols = [F.col("__pfx")]
            if fps_nb:
                pre_cols.append(
                    F.pmod(F.xxhash64("__fp"), F.lit(fps_nb)).alias("__bkt")
                )
            pre = firsts.select(*pre_cols).distinct().collect()
            prefixes = sorted({r["__pfx"] for r in pre})
            fp_bkts = sorted({r["__bkt"] for r in pre}) if fps_nb else []
            if not prefixes:
                return
            # -- exact screen vs prior state: post-compaction delta
            #    (prefix-pruned) ∪ compacted base (bucket-pruned) -------
            probe_parts = []
            if _dir_exists(s, fps_dir):
                probe_parts.append(
                    s.read.parquet(fps_dir)
                    .filter(
                        F.col("pfx").isin(prefixes)
                        & (F.col("batch_id") != F.lit(batch_id))
                    )
                    .select("fp")
                )
            if fps_base is not None:
                probe_parts.append(
                    s.read.parquet(fps_base)
                    .filter(
                        F.col("bkt").isin(fp_bkts)
                        & (F.col("batch_id") != F.lit(batch_id))
                    )
                    .select("fp")
                )
            if probe_parts:
                probe = probe_parts[0]
                for extra in probe_parts[1:]:
                    probe = probe.union(extra)
                exact_survivors = firsts.join(
                    probe.select(F.col("fp").alias("__fp")), "__fp", "left_anti"
                )
            else:
                exact_survivors = firsts
            # every persist below is covered by the finally at the end
            # of this try: a batch that fails mid-way (collect, candidate
            # build, verify kernel) must not leak cached partitions
            # across its retries
            exact_survivors.persist()

            # -- near screen: candidates from (batch bands) ⋈ (state
            #    bands ∪ earlier-id batch bands), verify on candidates --
            bb = _banded_keys(
                exact_survivors.select(id_col, text_col),
                num_hashes=num_hashes, bands=bands, shingle_n=shingle_n,
                text_col=text_col, id_col=id_col,
            ).persist()
            bkey_cols = [_pfx("band_key").alias("p")]
            if bands_nb:
                bkey_cols.append(
                    F.pmod(F.xxhash64("band_key"), F.lit(bands_nb)).alias("__bkt")
                )
            bkeys = bb.select(*bkey_cols).distinct().collect()
            band_pfxs = sorted({r["p"] for r in bkeys})
            band_bkts = sorted({r["__bkt"] for r in bkeys}) if bands_nb else []
            state_parts = []
            if _dir_exists(s, bands_dir) and band_pfxs:
                state_parts.append(
                    s.read.parquet(bands_dir)
                    .filter(
                        F.col("pfx").isin(band_pfxs)
                        & (F.col("batch_id") != F.lit(batch_id))
                    )
                    .select("corpus_id", "band_idx", "band_key")
                )
            if bands_base is not None and band_bkts:
                state_parts.append(
                    s.read.parquet(bands_base)
                    .filter(
                        F.col("bkt").isin(band_bkts)
                        & (F.col("batch_id") != F.lit(batch_id))
                    )
                    .select("corpus_id", "band_idx", "band_key")
                )
            cand_parts = []
            if state_parts:
                state_bands = state_parts[0]
                for extra in state_parts[1:]:
                    state_bands = state_bands.union(extra)
                if max_bucket_size is not None:
                    # cap on the PRUNED probe union (bounded by the
                    # batch's prefix/bucket fan-out, never full history)
                    state_bands = _cap_buckets(state_bands, max_bucket_size)
                cand_parts.append(
                    F.broadcast(bb.withColumnRenamed(id_col, "new_id"))
                    .join(state_bands, ["band_idx", "band_key"])
                    .select("new_id", F.col("corpus_id").alias("seen_id"))
                )
            # earlier-id collisions within the batch (seen = lower id)
            bb_pairs = (
                _cap_buckets(bb, max_bucket_size)
                if max_bucket_size is not None
                else bb
            )
            l, r = bb_pairs.alias("l"), bb_pairs.alias("r")
            cand_parts.append(
                l.join(
                    r,
                    (F.col("l.band_idx") == F.col("r.band_idx"))
                    & (F.col("l.band_key") == F.col("r.band_key"))
                    & (F.col(f"l.{id_col}") > F.col(f"r.{id_col}")),
                ).select(
                    F.col(f"l.{id_col}").alias("new_id"),
                    F.col(f"r.{id_col}").alias("seen_id"),
                )
            )
            cands = cand_parts[0]
            for extra in cand_parts[1:]:
                cands = cands.union(extra)
            cands = cands.distinct()

            # verify: shingles for candidate ids only — new side from the
            # batch, seen side from the survivors sink ∪ the batch itself.
            # The candidate-id semi-join comes BEFORE the shingle
            # projection: a projection ahead of the join would compute
            # shingles for every historical survivor each batch (measured
            # as steady per-batch growth), where post-filter the per-batch
            # tokenize/shingle work is candidate-bound. The history scan
            # itself (reading the text column) remains O(survivors) per
            # batch — at warehouse scale the survivors sink is bucketed by
            # id so this join prunes to candidate buckets.
            new_sh = _shingles(
                exact_survivors, "new_id", "sh_a", shingle_n, text_col, id_col
            )
            seen_texts = exact_survivors.select(id_col, text_col)
            if _dir_exists(s, out_dir):
                prior = (
                    s.read.parquet(out_dir)
                    .filter(F.col("batch_id") != F.lit(batch_id))
                    .select(id_col, text_col)
                )
                seen_texts = prior.union(seen_texts)
            cand_ids = cands.select(F.col("seen_id").alias(id_col)).distinct()
            seen_sh = _shingles(
                seen_texts.join(F.broadcast(cand_ids), id_col, "left_semi"),
                "seen_id", "sh_b", shingle_n, text_col, id_col,
            )
            verified = (
                F.broadcast(cands.join(new_sh, "new_id"))
                .join(seen_sh, "seen_id")
                .select(
                    F.col("new_id").alias("id_a"),
                    F.col("seen_id").alias("id_b"),
                    "sh_a", "sh_b",
                )
                .mapInPandas(
                    _jaccard_verify_kernel(threshold),
                    schema="id_a long, id_b long, jaccard double",
                )
            )
            near_dropped = verified.select(F.col("id_a").alias(id_col)).distinct()
            survivors = exact_survivors.join(near_dropped, id_col, "left_anti")
            survivors.persist()
            # re-check the lease immediately before the state writes: a
            # compaction that began mid-batch must not race the delta
            # appends below (the batch fails here and replays instead)
            _check_fence()
            (
                survivors.drop("__fp", "__pfx")
                .withColumn("batch_id", F.lit(batch_id))
                .write.mode("overwrite")
                .option("partitionOverwriteMode", "dynamic")
                .partitionBy("batch_id")
                .parquet(out_dir)
            )
            (
                survivors.select(
                    F.col("__fp").alias("fp"),
                    F.col(id_col).alias("keep_id"),
                    F.lit(batch_id).alias("batch_id"),
                    F.col("__pfx").alias("pfx"),
                )
                .repartition(F.col("pfx"))
                .write.mode("overwrite")
                .option("partitionOverwriteMode", "dynamic")
                .partitionBy("batch_id", "pfx")
                .parquet(fps_dir)
            )
            (
                bb.join(survivors.select(id_col), id_col)
                .select(
                    F.col(id_col).alias("corpus_id"),
                    "band_idx",
                    "band_key",
                    F.lit(batch_id).alias("batch_id"),
                    _pfx("band_key").alias("pfx"),
                )
                .repartition(F.col("pfx"))
                .write.mode("overwrite")
                .option("partitionOverwriteMode", "dynamic")
                .partitionBy("batch_id", "pfx")
                .parquet(bands_dir)
            )
        finally:
            firsts.unpersist()
            for handle in (exact_survivors, bb, survivors):
                if handle is not None:
                    handle.unpersist()

    return (
        docs_stream.writeStream.foreachBatch(merge)
        .option("checkpointLocation", checkpoint_dir)
        .trigger(availableNow=True)
    )


def read_survivors(
    spark: SparkSession, out_dir: str, schema: str = "doc_id long, text string"
) -> DataFrame:
    """Documents that survived the exact+near screen so far (empty-safe)."""
    empty = spark.createDataFrame([], schema)
    if not _dir_exists(spark, out_dir):
        return empty
    return spark.read.parquet(out_dir).select(*empty.columns)
