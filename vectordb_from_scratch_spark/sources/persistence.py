"""Persistence semantics — the Spark-native form of the reference's
WAL + snapshot + recovery engine (SURVEY.md §2.4 P1–P9,
src/persistence/{wal,snapshot,engine}.rs).

A store directory (the CLI's `--data-dir`, the server's `data_dir`):

    <dir>/data/              the snapshot: parquet part files, swapped as
                             one generation (below), with
    <dir>/data/_manifest.json  vector_count, dimension and log_seq — the
                             last log entry the snapshot folds. Spark's
                             reader skips `_`-files, and the manifest
                             commits with the data in the same rename.
    <dir>/log/<seq>.parquet  one file per write, `seq` monotonic: rows
                             (seq, op, id, embedding, metadata), op
                             "insert" or "delete" (P1-P2).

- write (`append`, P7 engine.rs:107-160): the entry is written with
  pyarrow to a hidden temp file, fsync'd, renamed to `log/<seq>.parquet`
  and the directory fsync'd. No Spark job. The write is durable — and
  acknowledged — exactly when that rename has committed.
- open (`open_log`, P5 engine.rs:44-73): the snapshot scan plus the
  entries with seq > its log_seq, folded last-writer-wins on the driver
  (`fold_log`, the twin of crud.fold_insert_log). The served frame is the
  scan without the tail's ids, unioned with the live tail rows as one
  local relation, so it never grows with the number of writes. An
  unreadable LAST entry is a torn write and is skipped, as the reference
  stops at the first bad CRC (wal.rs:66-110); the next write replaces
  it. An unreadable entry with readable ones after it raises.
- compaction (P6 engine.rs:187-204): at COMPACT_EVERY entries past the
  snapshot, `write_snapshot` folds them into a new generation, then the
  folded log files are deleted in seq order. A crash between the two
  leaves files at or below the new log_seq; open skips them, so no entry
  is replayed twice. Compaction only rewrites what the log already
  holds: when it fails the write still stands and the next one retries.
- legacy layout: `data/` beside a root `manifest.json` and no `log/`
  (written by earlier versions) opens as a snapshot with log_seq 0.

`recover` and `compact` are the same semantics over a DataFrame log (a
streaming or batch insert log), for callers that fold on the cluster.

Metadata IS persisted — the reference drops it on checkpoint
(engine.rs:224, bug P9); we deliberately do not replicate that.

State directories. Every rewritten state directory (the store's data/,
the log-fold state, the SCD2 dimension, the streaming ANN indexes, the
counts baseline and the near-dup bases) is swapped, resolved and
recovered here and nowhere else:

- swap (`overwrite_via_rename`): write `<dir>.tmp-*` in full, rename
  `<dir>` to `<dir>.old-*`, rename the tmp to `<dir>`, then remove every
  `.old-*`/`.tmp-*` sibling — the generations the commit superseded.
  Between the two renames `<dir>` does not exist. When the caller adds
  to the generation (`finish`, e.g. a `_manifest.json`), `_SUCCESS` is
  written last, after it: a tmp with `_SUCCESS` holds everything.
- manifest (`write_state`, `state_manifest`): a generation may carry a
  `_manifest.json` — the store's log_seq, the counts baseline's
  {gen, max_folded}, a near-dup base's {gen, n_buckets} — committed in
  the same swap as its data, with its row count from the parquet
  footers (no read-back job).
- resolve (`resolve_state`/`read_state`), the recovery ladder: `<dir>`
  itself; else the newest COMPLETE `<dir>.tmp-*` (its `_SUCCESS` proves
  the write finished, so the crash came between the renames and the tmp
  is the newest state); else the newest `<dir>.old-*` (the tmp never
  completed); else "no state".
- "no state" (None) means no generation exists anywhere: the first
  write has not committed. A generation that exists but cannot be read
  is NOT "no state": the parquet read raises, and callers let it — a
  writer that folded onto empty state would overwrite what it failed to
  read.
- readers never rename. `recover=True` renames the resolved generation
  into place (and removes the superseded ones); only the directory's
  one writer may pass it, while it holds the directory's lease (below)
  or is its only writer by construction (an append stream). A reader
  racing a live swap could otherwise steal the writer's rename. Appends
  (`append_state`) recover first, so an append never recreates a
  missing target beside an orphaned generation.

Leases (`take_lease`, `lease_holder`, `release_lease`). A writer that
must exclude every other writer of a state — a compactor of the counts
or near-dup state (`<state>/compaction_intent`), an SCD2 merge
(`<dim>.merge_intent`) — holds a marker file created with
O_CREAT|O_EXCL and holding its owner as JSON. Exactly one of racing
takers creates it; a taker whose owner equals the recorded one re-enters
(an SCD2 replay of the same checkpoint and batch). A compactor passes a
fresh owner per call, so a lease a crashed compaction left yields only
to `force`, which removes the marker (file or directory) first. A marker
that is not readable JSON is held by an unknown owner. A stream checks
`lease_holder` before it writes and fails its batch while a lease is
held.

Layouts (`check_layout`): a state directory names its top-level
entries; one that is not a named entry or its `.tmp-*`/`.old-*`
sibling (state in another layout, e.g. an earlier version's) raises
instead of being read as absent.
"""

from __future__ import annotations

import glob
import json
import logging
import os
import re
import shutil
import uuid
from dataclasses import dataclass, field, replace

import pyarrow as pa
import pyarrow.parquet as pq
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..operators.crud import fold_insert_log
from ..operators.store import STORE_SCHEMA, _local_df
from .tables import parquet_rows

__all__ = [
    "StoreLog",
    "open_log",
    "append",
    "read_log",
    "fold_log",
    "write_snapshot",
    "read_snapshot",
    "read_manifest",
    "recover",
    "compact",
    "overwrite_via_rename",
    "resolve_state",
    "read_state",
    "append_state",
    "write_state",
    "state_manifest",
    "check_layout",
    "take_lease",
    "lease_holder",
    "release_lease",
]

MANIFEST = "manifest.json"  # the legacy root manifest
DATA_MANIFEST = "_manifest.json"
# the Hadoop committer flag for the writer's own _SUCCESS marker
_MARK_SUCCESS = "mapreduce.fileoutputcommitter.marksuccessfuljobs"
LOG = "log"
# log entries past the snapshot at which a write folds them into a new
# snapshot: the reference's checkpoint_interval (engine.rs:22-29)
COMPACT_EVERY = 1000
_LOG_SCHEMA = pa.schema([
    ("seq", pa.int64()),
    ("op", pa.string()),
    ("id", pa.string()),
    ("embedding", pa.list_(pa.float64())),
    ("metadata", pa.map_(pa.string(), pa.string())),
])

_logger = logging.getLogger(__name__)


def _newest(paths: list[str]) -> str | None:
    return max(paths, key=os.path.getmtime) if paths else None


def _remove_superseded(target_dir: str) -> None:
    for p in glob.glob(target_dir + ".old-*") + glob.glob(target_dir + ".tmp-*"):
        shutil.rmtree(p, ignore_errors=True)


def _fsync(path: str) -> None:
    fd = os.open(path, os.O_RDONLY)
    try:
        os.fsync(fd)
    finally:
        os.close(fd)


def resolve_state(target_dir: str, *, recover: bool = False) -> str | None:
    """The path of `target_dir`'s live generation, by the recovery ladder
    (module docstring), or None when no generation exists anywhere.
    `recover=True` renames that generation to `target_dir` and removes
    the superseded ones — only for the directory's one writer."""
    if os.path.exists(target_dir):
        return target_dir
    live = _newest([
        p for p in glob.glob(target_dir + ".tmp-*")
        if os.path.exists(os.path.join(p, "_SUCCESS"))
    ]) or _newest(glob.glob(target_dir + ".old-*"))
    if live is None or not recover:
        return live
    os.rename(live, target_dir)
    _remove_superseded(target_dir)
    return target_dir


def read_state(
    spark: SparkSession, target_dir: str, *, recover: bool = False
) -> DataFrame | None:
    """The live generation of `target_dir` as a DataFrame, or None for
    "no state". An existing generation that cannot be read raises."""
    path = resolve_state(target_dir, recover=recover)
    return None if path is None else spark.read.parquet(path)


def append_state(df: DataFrame, target_dir: str) -> None:
    """Append `df` to an append-only state directory, first restoring a
    generation a crashed swap (compaction) left beside a missing
    target."""
    resolve_state(target_dir, recover=True)
    df.write.mode("append").parquet(target_dir)


def overwrite_via_rename(
    df: DataFrame, target_dir: str, partition_by: str | None = None,
    finish=None,
) -> None:
    """Durably overwrite a directory that `df`'s own lazy plan reads.

    cache()+count() before an in-place overwrite is NOT a durable guard:
    an evicted or lost cached block recomputes from the half-deleted
    source. Writing to a sibling temp dir and renaming never has the
    source and destination overlap; the final swap is two local-FS
    renames (on an object store this is the transactional-table-format
    job — Delta/Iceberg replace — which this helper stands in for).
    After the commit the superseded generations are removed.

    `finish(tmp)` runs after the write and before the swap, so what it
    adds to the generation commits with the data; when it raises, the
    tmp is removed and nothing is swapped. Spark then writes no
    `_SUCCESS`; it is written (fsync'd) after `finish`: the recovery
    ladder serves a tmp with `_SUCCESS`, so a crash inside `finish` must
    not leave one."""
    tmp = f"{target_dir}.tmp-{uuid.uuid4().hex[:8]}"
    writer = df.write.mode("overwrite")
    if partition_by is not None:
        writer = writer.partitionBy(partition_by)
    if finish is not None:
        writer = writer.option(_MARK_SUCCESS, "false")
    writer.parquet(tmp)
    if finish is not None:
        success = os.path.join(tmp, "_SUCCESS")
        try:
            finish(tmp)
            open(success, "w").close()
            _fsync(success)
            _fsync(tmp)
        except BaseException:
            shutil.rmtree(tmp, ignore_errors=True)
            raise
    if os.path.exists(target_dir):
        os.rename(target_dir, f"{target_dir}.old-{uuid.uuid4().hex[:8]}")
    os.rename(tmp, target_dir)
    _remove_superseded(target_dir)


def _part_files(root: str) -> list[str]:
    return sorted(
        os.path.join(d, f) for d, _, files in os.walk(root) for f in files
        if f.endswith(".parquet") and not f.startswith(("_", "."))
    )


def _first_len(files: list[str], vec_col: str) -> int | None:
    """Length of the first row's `vec_col` in `files` (pyarrow, no job)."""
    for f in files:
        for batch in pq.ParquetFile(f).iter_batches(batch_size=1, columns=[vec_col]):
            if batch.num_rows:
                v = batch.column(0)[0].as_py()
                return None if v is None else len(v)
    return None


def _commit_manifest(tmp: str, manifest: dict) -> None:
    """`manifest` as the generation `tmp`'s _manifest.json (written
    whole, then renamed), and every file of `tmp` fsync'd (the directory
    is fsync'd with the `_SUCCESS` that follows)."""
    target = os.path.join(tmp, DATA_MANIFEST)
    with open(target + ".tmp", "w") as f:
        json.dump(manifest, f)
    os.replace(target + ".tmp", target)
    for p in _part_files(tmp) + [target]:
        _fsync(p)


def write_state(
    df: DataFrame, target_dir: str, manifest: dict,
    partition_by: str | None = None,
) -> dict:
    """Swap `df` in as `target_dir`'s next generation with `manifest`,
    plus `rows` (the written row count, from the parquet footers),
    committed inside it (module docstring). The only Spark jobs are the
    write's. Returns the committed manifest."""
    manifest = dict(manifest)

    def finish(tmp: str) -> None:
        manifest["rows"] = parquet_rows(_part_files(tmp))
        _commit_manifest(tmp, manifest)

    overwrite_via_rename(df, target_dir, partition_by, finish)
    return manifest


def state_manifest(target_dir: str, *, recover: bool = False) -> tuple[str | None, dict]:
    """The live generation of `target_dir` (`resolve_state`) and the
    manifest committed inside it; (None, {}) when no generation exists,
    {} when the generation has no manifest."""
    path = resolve_state(target_dir, recover=recover)
    f = None if path is None else os.path.join(path, DATA_MANIFEST)
    if f is None or not os.path.exists(f):
        return path, {}
    with open(f) as fh:
        return path, json.load(fh)


def write_snapshot(
    state: DataFrame, path: str, vec_col: str = "embedding",
    partition_by: str | None = None, log_seq: int | None = None,
    dimension: int | None = None,
) -> dict:
    """Write current state as a parquet snapshot: the `data/` generation
    with its manifest inside (module docstring).

    `partition_by`: optional partition column (e.g. a shard key =
    substr(md5(id),1,2)) so recovery and point lookups prune partitions —
    at 100 TB a monolithic snapshot directory is unmanageable; a
    256-shard layout bounds per-task recovery reads.

    `log_seq`: the log position this state is a fold of, recorded in the
    manifest (enables `recover(as_of=...)` validation and the store's
    replay). `dimension`: the vectors' length when the caller knows it,
    else read from the first written row.

    The only Spark jobs are the write's: `vector_count` comes from the
    written files' parquet footers. The files are fsync'd before the swap
    and the swap before this returns, so the caller may drop what the
    snapshot folds."""
    manifest = {"format": "parquet"}

    def finish(tmp: str) -> None:
        files = _part_files(tmp)
        manifest["vector_count"] = parquet_rows(files)
        manifest["dimension"] = (
            dimension if dimension is not None else _first_len(files, vec_col)
        )
        if log_seq is not None:
            # high-water log position this snapshot folds up to
            manifest["log_seq"] = int(log_seq)
        _commit_manifest(tmp, manifest)

    overwrite_via_rename(state, os.path.join(path, "data"), partition_by, finish)
    if os.path.exists(os.path.join(path, MANIFEST)):
        os.remove(os.path.join(path, MANIFEST))
    _fsync(path)
    return manifest


def read_snapshot(spark: SparkSession, path: str) -> DataFrame | None:
    """The snapshot's live data generation; None when none was written."""
    return read_state(spark, os.path.join(path, "data"))


def read_manifest(path: str) -> dict:
    """The manifest of the snapshot's live data generation, else a
    legacy root manifest.json, else {} (nothing written yet)."""
    _, manifest = state_manifest(os.path.join(path, "data"))
    if manifest or not os.path.exists(os.path.join(path, MANIFEST)):
        return manifest
    with open(os.path.join(path, MANIFEST)) as fh:
        return json.load(fh)


# -- layouts and leases ----------------------------------------------------


def check_layout(state_dir: str, names: tuple[str, ...]) -> None:
    """Raise when `state_dir` holds a top-level entry that is neither one
    of `names` nor a `<name>.tmp-*`/`<name>.old-*` generation of one."""
    if not os.path.isdir(state_dir):
        return
    alts = "|".join(map(re.escape, names))
    named = re.compile(rf"(?:{alts})(?:\.(?:tmp|old)-.*)?")
    for entry in sorted(os.listdir(state_dir)):
        if not named.fullmatch(entry):
            raise RuntimeError(
                f"state at {state_dir} holds {entry!r}, which its layout "
                f"({', '.join(names)}) does not name: it was written in "
                "another layout, and reading on could miss or double-count "
                "it — move it away or reset the state"
            )


_UNKNOWN = "unknown"


def lease_holder(path: str):
    """The owner recorded in the lease marker `path`; None when there is
    no marker. A marker that is not readable JSON (a directory, a torn
    file) is held by an unknown owner, "unknown"."""
    try:
        with open(path) as f:
            owner = json.load(f)
    except FileNotFoundError:
        return None
    except (OSError, ValueError):
        return _UNKNOWN
    return _UNKNOWN if owner is None else owner


def _remove(path: str) -> None:
    if os.path.isdir(path):
        shutil.rmtree(path, ignore_errors=True)
    elif os.path.lexists(path):
        os.remove(path)


def take_lease(path: str, owner, *, force: bool = False) -> None:
    """Take the lease whose marker is `path` for `owner` (JSON, compared
    by equality): by exclusive create, or by re-entry when the marker
    already records `owner`. Raises while another owner holds it;
    `force` removes the marker first — only once no holder is alive."""
    if force:
        _remove(path)
    os.makedirs(os.path.dirname(path) or ".", exist_ok=True)
    while True:
        try:
            fd = os.open(path, os.O_CREAT | os.O_EXCL | os.O_WRONLY)
        except FileExistsError:
            holder = lease_holder(path)
            if holder is None:  # released since the create failed
                continue
            if holder == owner:
                return
            raise RuntimeError(
                f"lease {path} is already held: {holder!r} holds the lease. "
                "Another writer is running, or one that crashed left it: "
                "verify that no holder is alive, then take it over (a "
                "compaction's force_takeover=True) or remove the marker"
            ) from None
        with os.fdopen(fd, "w") as f:
            json.dump(owner, f)
            f.flush()
            os.fsync(f.fileno())
        return


def release_lease(path: str) -> None:
    """Remove the lease marker `path`; absent is fine."""
    _remove(path)


# -- the log ---------------------------------------------------------------


def _log_files(path: str) -> list[tuple[int, str]]:
    """(seq, file) of the committed log entries, in seq order."""
    d = os.path.join(path, LOG)
    if not os.path.isdir(d):
        return []
    return sorted(
        (int(f.split(".")[0]), os.path.join(d, f))
        for f in os.listdir(d) if f.endswith(".parquet") and not f.startswith(".")
    )


def _write_entry(path: str, seq: int, rows: list[tuple]) -> None:
    """`rows` (op, id, embedding, metadata) as log entry `seq`: written,
    fsync'd, renamed into log/ and the directory fsync'd."""
    d = os.path.join(path, LOG)
    if not os.path.isdir(d):
        os.makedirs(d)
        _fsync(path)
    table = pa.Table.from_pylist(
        [dict(zip(_LOG_SCHEMA.names, (seq, *r))) for r in rows], schema=_LOG_SCHEMA
    )
    tmp = os.path.join(d, f".tmp-{seq:020d}.parquet")
    with open(tmp, "wb") as f:
        pq.write_table(table, f)
        f.flush()
        os.fsync(f.fileno())
    # replace, not rename: a torn entry that open skipped holds this seq
    os.replace(tmp, os.path.join(d, f"{seq:020d}.parquet"))
    _fsync(d)


def read_log(path: str, after: int = 0) -> list[tuple]:
    """(seq, op, id, embedding, metadata) rows of the log entries with
    seq > `after`, in seq order. An unreadable last entry is a torn write
    and is skipped; an unreadable entry before a readable one raises."""
    files = [(s, f) for s, f in _log_files(path) if s > after]
    rows: list[tuple] = []
    for n, (_, f) in enumerate(files):
        try:
            table = pq.read_table(f)
        except (pa.ArrowException, OSError):
            if n == len(files) - 1:
                break
            raise
        rows += [
            (r["seq"], r["op"], r["id"], r["embedding"],
             None if r["metadata"] is None else dict(r["metadata"]))
            for r in table.to_pylist()
        ]
    return rows


def fold_log(rows: list[tuple]) -> dict:
    """Log rows (seq, op, id, embedding, metadata) folded last-writer-wins
    per id: id -> (embedding, metadata), or None when the last entry is a
    delete — the driver-side twin of crud.fold_insert_log that keeps its
    tombstones, since they mask snapshot rows."""
    tail: dict = {}
    for _, op, id_, emb, meta in sorted(rows, key=lambda r: r[0]):
        tail[id_] = (emb, meta) if op == "insert" else None
    return tail


@dataclass(frozen=True)
class StoreLog:
    """An open store directory (module docstring): the scan of its
    snapshot, the last committed seq, and the log rows past the snapshot
    folded per id (`fold_log`)."""

    spark: SparkSession
    path: str
    snapshot: DataFrame | None
    dimension: int | None
    seq: int = 0  # the last committed entry, or the snapshot's log_seq
    entries: int = 0  # log rows past the snapshot
    tail: dict = field(default_factory=dict)

    def frame(self) -> DataFrame:
        """The store's rows (id, embedding, metadata): the snapshot scan
        without the tail's ids, unioned with the live tail rows as one
        local relation. Built without a Spark job; its row estimate is
        the snapshot's footer count.

        The tail is one partition: a local relation splits into one per
        row up to defaultParallelism, and those near-empty partitions
        would count toward the split target of `tables.spread`, leaving
        the snapshot scan unspread — and a search's job count varying
        with the tail's size."""
        base = (
            self.snapshot if self.snapshot is not None
            else self.spark.createDataFrame([], STORE_SCHEMA)
        )
        if not self.tail:
            return base
        live = [(i, *v) for i, v in self.tail.items() if v is not None]
        return base.filter(~F.col("id").isin(list(self.tail))).unionByName(
            _local_df(self.spark, live, STORE_SCHEMA).coalesce(1)
        )


def open_log(spark: SparkSession, path: str) -> StoreLog:
    """Open the store directory at `path` — the snapshot plus a replay of
    the log entries past its log_seq — without a Spark job. A directory
    with nothing in it opens empty."""
    data = resolve_state(os.path.join(path, "data"))
    manifest = read_manifest(path)
    snap_seq = int(manifest.get("log_seq", 0))
    rows = read_log(path, after=snap_seq)
    tail = fold_log(rows)
    files = [] if data is None else _part_files(data)
    for f in files:  # an unreadable generation raises here, at open
        pq.read_metadata(f)
    dim = manifest.get("dimension")
    if dim is None:
        dim = _first_len(files, "embedding")
    if dim is None:
        dim = next((len(v[0]) for v in tail.values() if v is not None), None)
    return StoreLog(
        spark, path,
        None if data is None else spark.read.schema(STORE_SCHEMA).parquet(data),
        dim, max([snap_seq] + [r[0] for r in rows]), len(rows), tail,
    )


def append(log: StoreLog, rows: list[tuple]) -> StoreLog:
    """Make `rows` — (op, id, embedding, metadata), op "insert" or
    "delete" — durable as the next log entry and return the store with
    them applied. At COMPACT_EVERY entries past the snapshot the log is
    then folded into a new snapshot and the folded entries deleted; a
    failed compaction is logged, not raised — the entry is committed, the
    directory still opens to it, and the next write retries."""
    if not rows:
        return log
    seq = log.seq + 1
    _write_entry(log.path, seq, rows)
    dim = log.dimension
    if dim is None:
        dim = next((len(r[2]) for r in rows if r[0] == "insert"), None)
    log = replace(
        log, dimension=dim, seq=seq, entries=log.entries + len(rows),
        tail={**log.tail, **fold_log([(seq, *r) for r in rows])},
    )
    if log.entries < COMPACT_EVERY:
        return log
    try:
        write_snapshot(log.frame(), log.path, log_seq=seq, dimension=dim)
        # in seq order, so a crash leaves a suffix of the folded entries
        for s, f in _log_files(log.path):
            if s <= seq:
                os.remove(f)
        for f in glob.glob(os.path.join(log.path, LOG, ".tmp-*")):
            os.remove(f)
    except Exception:  # noqa: BLE001 — the write itself has committed
        _logger.warning("compacting %s failed; the next write retries",
                        log.path, exc_info=True)
    return open_log(log.spark, log.path)


def recover(
    spark: SparkSession,
    snapshot_path: str,
    log_tail: DataFrame | None,
    as_of: int | None = None,
) -> DataFrame:
    """Snapshot ∪ replay tail (reference engine open/recover,
    engine.rs:44-73): tail entries supersede snapshot rows per id;
    tombstones in the tail drop snapshot rows.

    `as_of`: replay the tail only up to log position `as_of` (inclusive)
    — point-in-time recovery, the durable twin of crud.time_travel. The
    snapshot must be a fold of the log at or before `as_of`; when the
    manifest records its `log_seq` (write_snapshot/compact) this is
    validated, otherwise it is the caller's contract. The reference can
    only recover to the log head (engine.rs:44-73)."""
    snap = read_snapshot(spark, snapshot_path)
    if snap is None:
        raise FileNotFoundError(f"no snapshot at {snapshot_path}")
    if as_of is not None:
        manifest = read_manifest(snapshot_path)
        snap_seq = manifest.get("log_seq")
        if snap_seq is not None and snap_seq > as_of:
            raise ValueError(
                f"snapshot at {snapshot_path} folds the log through seq "
                f"{snap_seq} > as_of={as_of}; recover from an earlier "
                "snapshot (or the log head) for this point in time"
            )
        if log_tail is not None:
            log_tail = log_tail.filter(F.col("seq") <= F.lit(int(as_of)))
    if log_tail is None:
        return snap
    folded_tail = fold_insert_log(log_tail)  # id, embedding, metadata
    touched = log_tail.filter(F.col("op") != "checkpoint").select("id").distinct()
    survivors = snap.join(touched, "id", "left_anti")
    return survivors.unionByName(folded_tail.select(*snap.columns))


def compact(
    spark: SparkSession, snapshot_path: str, log_tail: DataFrame | None, new_path: str
) -> dict:
    """Checkpoint (P6): fold tail into snapshot, write the new snapshot.
    The caller then truncates/starts a fresh log — same move as the
    reference's maybe_checkpoint (engine.rs:199-204) minus the interval
    counter, which belongs to the ingestion job. The new manifest records
    the folded-through log position (tail max seq, else the previous
    snapshot's) so point-in-time recover() can validate against it."""
    if log_tail is not None:
        seq_row = log_tail.agg(F.max("seq").alias("m")).first()
        log_seq = None if seq_row.m is None else int(seq_row.m)
    else:
        log_seq = read_manifest(snapshot_path).get("log_seq")
    return write_snapshot(
        recover(spark, snapshot_path, log_tail), new_path, log_seq=log_seq
    )
