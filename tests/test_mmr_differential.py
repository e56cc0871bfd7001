"""knn.mmr_diversify (one cogrouped Arrow kernel) against the unrolled
Spark loop it replaced, kept here as the reference: k rounds of an
argmax window, an anti-join and a max-sim aggregate, each round's pick
checkpointed. Rows and dtypes must be equal, doubles exactly — including
ties, NULL and NaN scores, missing pair rows and NULL keys."""

from __future__ import annotations

import math
import random

import pytest
from pyspark.sql import Window
from pyspark.sql import functions as F

from conftest import SF_CORRECT, count_jobs
from vectordb_from_scratch_spark.operators import cache, knn
from vectordb_from_scratch_spark.plans.registry import QUERIES

CANDS = "query_id long, id long, rel double"
PAIRS = "query_id long, id_a long, id_b long, sim double"


def reference_mmr(cands, pair_sims, k=5, lam=0.5):
    q, oneminus = "query_id", 1.0 - lam
    selected = None
    for step in range(1, k + 1):
        if selected is None:
            scored = cands.select(q, "id", (F.lit(lam) * F.col("rel")).alias("score"))
        else:
            maxsim = (
                pair_sims.join(
                    selected.select(q, F.col("id").alias("id_b")), [q, "id_b"]
                )
                .groupBy(q, F.col("id_a").alias("id"))
                .agg(F.max("sim").alias("__msim"))
            )
            scored = (
                cands.join(selected.select(q, "id"), [q, "id"], "left_anti")
                .join(maxsim, [q, "id"])
                .select(
                    q, "id",
                    (F.lit(lam) * F.col("rel") - F.lit(oneminus) * F.col("__msim"))
                    .alias("score"),
                )
            )
        w = Window.partitionBy(q).orderBy(F.col("score").desc(), F.col("id").asc())
        pick = (
            scored.withColumn("__rn", F.row_number().over(w))
            .filter(F.col("__rn") == 1)
            .select(q, "id", F.lit(step).alias("mmr_rank"), "score")
            .transform(cache.checkpoint)
        )
        selected = pick if selected is None else selected.unionByName(pick)
    return selected


def _rows(df):
    """Rows sorted by (query_id, mmr_rank), NaN made comparable."""
    def norm(v):
        return "NaN" if isinstance(v, float) and math.isnan(v) else v

    rows = [tuple(norm(v) for v in r) for r in df.collect()]
    return sorted(rows, key=lambda r: (r[0] is not None, r[0] or 0, r[2]))


def _assert_same(spark, cand_rows, pair_rows, k=5, lam=0.5):
    cands = spark.createDataFrame(cand_rows, CANDS)
    pairs = spark.createDataFrame(pair_rows, PAIRS)
    got, n_build = count_jobs(spark, lambda: knn.mmr_diversify(cands, pairs, k=k, lam=lam))
    assert n_build == 0
    want = reference_mmr(cands, pairs, k=k, lam=lam)
    assert got.dtypes == want.dtypes
    got_rows, want_rows = _rows(got), _rows(want)
    assert got_rows == want_rows
    return got_rows


def _all_pairs(cand_rows, sim):
    """Both directions of every candidate pair of each query; `sim(a, b)`
    gives the sim, or the string "skip" for no row."""
    out = []
    for qa, a, _ in cand_rows:
        for qb, b, _ in cand_rows:
            if qa == qb and a != b and (s := sim(a, b)) != "skip":
                out.append((qa, a, b, s))
    return out


def test_exact_score_ties_pick_the_lower_id(spark):
    cands = [(0, 5, 0.8), (0, 3, 0.8), (0, 9, 0.8), (0, 1, 0.2)]
    rows = _assert_same(spark, cands, _all_pairs(cands, lambda a, b: 0.25))
    assert [r[1] for r in rows] == [3, 5, 9, 1]


def test_null_rel_null_sim_and_nan_sim(spark):
    cands = [(0, 1, 0.9), (0, 2, None), (0, 3, 0.7), (0, 4, 0.6), (0, 5, 0.5)]
    sims = {frozenset((1, 3)): None, frozenset((1, 4)): float("nan")}
    rows = _assert_same(spark, cands, _all_pairs(cands, lambda a, b: sims.get(frozenset((a, b)), 0.1)))
    # NaN max sim scores NaN, which ranks first; a NULL score ranks last
    assert rows[1][1] == 4 and rows[1][3] == "NaN"
    assert rows[-1][3] is None


def test_candidate_without_pair_rows_sits_out(spark):
    cands = [(0, 1, 0.9), (0, 2, 0.8), (0, 3, 0.7), (0, 4, 0.1)]
    # 2 has no row against 1; 3 has none against anything
    rows = _assert_same(
        spark, cands,
        _all_pairs(cands, lambda a, b: "skip" if 3 in (a, b) or {a, b} == {1, 2} else 0.2),
    )
    assert [r[1] for r in rows] == [1, 4, 2]


def test_short_shortlist_and_one_candidate_query(spark):
    cands = [(0, 1, 0.9), (0, 2, 0.4), (1, 7, 0.3)]
    rows = _assert_same(spark, cands, _all_pairs(cands, lambda a, b: 0.5), k=5)
    assert [(r[0], r[2]) for r in rows] == [(0, 1), (0, 2), (1, 1)]


def test_null_id_and_null_query_id(spark):
    cands = [(0, None, 0.9), (0, 2, 0.9), (0, 3, 0.5),
             (1, 4, 0.9), (1, None, 0.9), (None, 5, 0.9), (None, 6, 0.2)]
    pairs = _all_pairs(cands, lambda a, b: 0.3) + [
        (0, None, 2, 0.0), (0, 2, None, 0.0), (None, 6, 5, 0.0),
    ]
    rows = _assert_same(spark, cands, pairs)
    # a NULL id wins the step-1 tie and then matches no pair row; a NULL
    # query_id gets its step-1 pick only
    assert [(r[0], r[1]) for r in rows] == [(None, 5), (0, None), (1, None)]


@pytest.mark.parametrize("k, lam", [(1, 0.5), (4, 0.3)])
def test_k_and_lambda(spark, k, lam):
    cands = [(q, i, 1.0 / (i + 1 + q)) for q in range(3) for i in range(6)]
    _assert_same(spark, cands, _all_pairs(cands, lambda a, b: ((a * 7 + b * 7) % 5) / 5.0),
                 k=k, lam=lam)


def test_mixed_values_many_queries(spark):
    rng = random.Random(11)
    rels = [0.1, 0.5, 0.5, -0.0, 0.0, None, float("nan"), 0.30000000000000004]
    sims = [0.1, 0.3, 0.3, -0.0, 0.0, None, float("nan"), "skip", "skip"]
    cands = [(q, i, rng.choice(rels)) for q in range(8) for i in range(rng.randint(1, 9))]
    _assert_same(spark, cands, _all_pairs(cands, lambda a, b: rng.choice(sims)), k=6, lam=0.3)


def test_registry_output_sf001(spark, monkeypatch):
    q = QUERIES["knn_mmr_diversify"]
    got = q.spark(spark, SF_CORRECT)
    got_rows = _rows(got)
    monkeypatch.setattr(knn, "mmr_diversify", reference_mmr)
    want = q.spark(spark, SF_CORRECT)
    assert got.dtypes == want.dtypes
    assert got_rows == _rows(want)
    assert len(got_rows) == 25
    cache.release_caches()


def test_registry_job_count_repeats(spark):
    """Build plus collect of knn_mmr_diversify at sf0.01 runs the same,
    small number of Spark jobs every time (the unrolled loop ran 35 or 38,
    depending on which AQE stages its last checkpoint materialised)."""
    q = QUERIES["knn_mmr_diversify"]
    counts = []
    for _ in range(2):
        rows, n = count_jobs(spark, lambda: q.spark(spark, SF_CORRECT).collect())
        assert len(rows) == 25
        counts.append(n)
        cache.release_caches()
        cache.sweep_persistent_rdds(spark)
    assert counts[0] == counts[1] <= 10, counts
