"""Session-scoped cache registry for persisted pipeline intermediates.

Spark plans are trees: a DataFrame consumed by two downstream branches
re-derives from the raw scan in each, so multi-level pipelines (dedup
shingle tables, corpus-prep stages, rollup cascades) persist their hot
intermediate and register the handle here. `release_caches()` between
queries reclaims executor storage — long-lived sessions would otherwise
accumulate cached blocks until eviction.
"""

from __future__ import annotations

from pyspark.sql import DataFrame

__all__ = [
    "track",
    "checkpoint",
    "release_caches",
    "sweep_persistent_rdds",
]

_CACHE_HANDLES: list[DataFrame] = []
# JVM RDD ids of blocks created by this library's localCheckpoint calls —
# the scoped sweep target. A set of ints, not handles: checkpoint blocks
# are RDD cache blocks that DataFrame.unpersist() cannot reach.
_CHECKPOINT_RDD_IDS: set[int] = set()


def track(df: DataFrame) -> DataFrame:
    df = df.persist()
    _CACHE_HANDLES.append(df)
    return df


def _persistent_ids(spark) -> set[int]:
    return set(spark.sparkContext._jsc.getPersistentRDDs().keys())


def checkpoint(df: DataFrame, eager: bool = True) -> DataFrame:
    """localCheckpoint + record the resulting persistent-RDD id(s) so the
    scoped sweep can reclaim them later. Every library call site routes
    through here (not raw ``.localCheckpoint()``): checkpoint blocks are
    RDD cache blocks that ``DataFrame.unpersist()`` cannot reach, and
    long sessions that run many checkpoint-using queries (graph
    iteration, CC, BPE) otherwise accumulate block-manager pressure
    — the round-4 bench recorded 2-5× timing spikes from exactly this
    leak.

    Id capture is a before/after diff of the session's persistent-RDD
    map (the checkpointed RDD registers there immediately, eager or
    lazy). The diff can over-capture if another thread persists an RDD
    in the same instant — acceptable for a hygiene registry; sweeping a
    cached DataFrame only forces recompute, never breaks correctness.
    """
    spark = df.sparkSession
    before = _persistent_ids(spark)
    out = df.localCheckpoint(eager)
    _CHECKPOINT_RDD_IDS.update(_persistent_ids(spark) - before)
    _CACHE_HANDLES.append(out)
    return out


def release_caches() -> None:
    """Unpersist every tracked cache in this session. Safe to call
    between queries; the next call simply re-caches. Does NOT reclaim
    localCheckpoint blocks — pair with `sweep_persistent_rdds` in
    between-query hygiene (bench.py does)."""
    while _CACHE_HANDLES:
        _CACHE_HANDLES.pop().unpersist()


def sweep_persistent_rdds(spark=None, *, all_rdds: bool = False) -> int:
    """Unpersist the checkpoint blocks this library created (the ids
    recorded by `checkpoint`), reclaiming what release_caches cannot.
    Returns the number of RDDs swept.

    Scoped by default (advisor r5): a global sweep would also evict
    caches a co-resident user created in the same session. Pass
    ``all_rdds=True`` for the global backstop — e.g. a dedicated bench
    session where every persistent RDD belongs to the harness.

    Safe between queries: DataFrame caches evicted this way recompute on
    next use (InMemoryRelation tolerates missing partitions), and a
    checkpoint handle is never reused across queries. Do NOT call while
    a query that checkpointed is still mid-flight."""
    if spark is None:
        from pyspark.sql import SparkSession

        spark = SparkSession.getActiveSession()
        if spark is None:
            return 0
    jmap = spark.sparkContext._jsc.getPersistentRDDs()
    targets = list(jmap) if all_rdds else [i for i in list(jmap) if i in _CHECKPOINT_RDD_IDS]
    n = 0
    for rdd_id in targets:
        try:
            jmap[rdd_id].unpersist(False)
            n += 1
        except Exception:  # noqa: BLE001 — a racing removal is fine
            pass
        _CHECKPOINT_RDD_IDS.discard(rdd_id)
    if all_rdds:
        _CHECKPOINT_RDD_IDS.clear()
    return n
