"""k-NN operator tests — mirrors the reference's integration/self-search
pattern (tests/integration_test.rs:5-47: self-query top-1 is itself at
distance 0 for all three metrics) plus batch/filtered semantics."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from vectordb_from_scratch_spark.operators import knn


@pytest.mark.parametrize("metric", ["euclidean", "cosine", "dot"])
def test_self_search_top1(embeddings, metric):
    res = knn.self_knn(embeddings, n_probes=3, k=5, metric=metric)
    top1 = {r.query_id: r for r in res.filter(F.col("rank") == 1).collect()}
    assert set(top1) == {0, 1, 2}
    if metric != "dot":  # dot distance of self isn't 0, but self must rank where exact
        for qid, r in top1.items():
            assert r.id == qid
            assert abs(r.distance) < 1e-9


def test_k_truncation_and_ordering(embeddings):
    res = knn.self_knn(embeddings, n_probes=2, k=7).collect()
    by_q = {}
    for r in res:
        by_q.setdefault(r.query_id, []).append(r)
    for rows in by_q.values():
        assert len(rows) == 7
        ds = [r.distance for r in sorted(rows, key=lambda r: r.rank)]
        assert ds == sorted(ds)


def test_matches_bruteforce_python(embeddings):
    """FlatIndex-as-oracle (reference recall_test.rs:32-35): compare against
    a driver-side exact computation on a small slice."""
    import math

    data = {r.vec_id: [float(x) for x in r.embedding] for r in embeddings.limit(60).collect()}
    sub = embeddings.filter(F.col("vec_id") < 60)
    probes = sub.filter(F.col("vec_id") == 5).select(
        F.col("vec_id").alias("query_id"), F.col("embedding").alias("query_embedding")
    )
    got = [r.id for r in knn.knn(sub, probes, k=5).orderBy("rank").collect()]
    q = data[5]
    expect = sorted(
        data, key=lambda i: (math.sqrt(sum((a - b) ** 2 for a, b in zip(data[i], q))), i)
    )[:5]
    assert got == expect


def test_filtered_knn_prefilter_exact_k(embeddings):
    probes = embeddings.filter(F.col("vec_id") == 0).select(
        F.col("vec_id").alias("query_id"), F.col("embedding").alias("query_embedding")
    )
    res = knn.knn_filtered(embeddings, probes, predicate=F.col("label") == 2, k=5)
    rows = res.collect()
    assert len(rows) == 5  # exactly k — no over-fetch starvation (divergence from ref)
    labels = {
        r.label
        for r in embeddings.filter(F.col("vec_id").isin([x.id for x in rows])).collect()
    }
    assert labels == {2}


def test_numpy_strategy_equivalent(embeddings):
    """The BLAS kernel path must return the same (query_id, id, rank) sets
    as the exact fold path; distances agree to ~1e-7 (matmul-trick
    cancellation — why strategy='auto' keeps the fold for oracle runs)."""
    probes = embeddings.filter(F.col("vec_id") < 5).select(
        F.col("vec_id").alias("query_id"), F.col("embedding").alias("query_embedding")
    )
    for metric in ("euclidean", "cosine", "dot"):
        a = knn.knn(embeddings, probes, k=8, metric=metric, strategy="window").collect()
        b = knn.knn(embeddings, probes, k=8, metric=metric, strategy="numpy").collect()
        assert sorted((r.query_id, r.id, r.rank) for r in a) == sorted(
            (r.query_id, r.id, r.rank) for r in b
        ), metric
        da = {(r.query_id, r.id): r.distance for r in a}
        db = {(r.query_id, r.id): r.distance for r in b}
        assert max(abs(da[key] - db[key]) for key in da) < 1e-6, metric


def test_numpy_kernel_handles_string_ids(spark):
    # the VectorStore facade uses string ids (reference parity); the BLAS
    # kernel must serve them with the output schema derived from inputs
    # (r2 regression: schema was hardcoded "id long")
    vecs = spark.createDataFrame(
        [("a", [1.0, 0.0]), ("b", [0.0, 1.0]), ("c", [0.9, 0.1])],
        "vec_id string, embedding array<double>",
    )
    probes = spark.createDataFrame(
        [("q1", [1.0, 0.0])], "query_id string, query_embedding array<double>"
    )
    res_np = knn.knn(vecs, probes, k=2, strategy="numpy").collect()
    res_w = knn.knn(vecs, probes, k=2, strategy="window").collect()
    got_np = [(r.query_id, r.id, round(r.distance, 9), r.rank) for r in res_np]
    got_w = [(r.query_id, r.id, round(r.distance, 9), r.rank) for r in res_w]
    assert got_np == got_w == [("q1", "a", 0.0, 1), ("q1", "c", round(res_w[1].distance, 9), 2)]


def test_ranking_metrics_hand_computed(spark):
    """Perfect ranking → rr=1, ndcg=1; one relevant at rank 3 → rr=1/3
    and ndcg = discount(3)/idcg; nothing relevant → zeros."""
    import math

    from vectordb_from_scratch_spark.operators.knn import ranking_metrics

    k = 3
    idcg = sum(1.0 / (math.log(i + 1) / math.log(2.0)) for i in range(1, k + 1))
    exact = spark.createDataFrame(
        [(q, i, r) for q in (0, 1, 2) for r, i in enumerate(
            {0: [10, 11, 12], 1: [20, 21, 22], 2: [30, 31, 32]}[q], start=1)],
        "query_id long, id long, rank int",
    )
    approx = spark.createDataFrame(
        # q0: perfect; q1: only relevant doc 20 at rank 3; q2: all misses
        [(0, 10, 1), (0, 11, 2), (0, 12, 3),
         (1, 90, 1), (1, 91, 2), (1, 20, 3),
         (2, 95, 1), (2, 96, 2), (2, 97, 3)],
        "query_id long, id long, rank int",
    )
    res = {r.query_id: r for r in ranking_metrics(approx, exact, k=k).collect()}
    assert res[0].rr == 1.0 and res[0].ndcg_at_3 == 1.0 and res[0].n_relevant == 3
    assert res[1].rr == round(1 / 3, 6)
    want = (1.0 / (math.log(4) / math.log(2.0))) / idcg
    assert res[1].ndcg_at_3 == round(want, 6)
    assert res[2].rr == 0.0 and res[2].ndcg_at_3 == 0.0 and res[2].n_relevant == 0


# ---------------------------------------------------------------------------
# radius_search
# ---------------------------------------------------------------------------

def test_radius_self_match_and_containment(embeddings):
    probes = embeddings.filter(F.col("vec_id") < 3).select(
        F.col("vec_id").alias("query_id"),
        F.col("embedding").alias("query_embedding"),
    )
    small = knn.radius_search(embeddings, probes, radius=0.5)
    rows = small.collect()
    # every probe finds itself at distance 0, rank 1
    top1 = {r.query_id: r for r in rows if r.rank == 1}
    assert set(top1) == {0, 1, 2}
    for qid, r in top1.items():
        assert r.id == qid and abs(r.distance) < 1e-9
    # monotone containment: a bigger ball is a superset
    big = knn.radius_search(embeddings, probes, radius=1.3)
    small_set = {(r.query_id, r.id) for r in rows}
    big_set = {(r.query_id, r.id) for r in big.collect()}
    assert small_set <= big_set
    # all results inside the ball
    assert all(r.distance <= 1.3 + 1e-12 for r in big.collect())


def test_radius_limit_caps_and_ranks_contiguously(embeddings):
    probes = embeddings.filter(F.col("vec_id") < 2).select(
        F.col("vec_id").alias("query_id"),
        F.col("embedding").alias("query_embedding"),
    )
    res = knn.radius_search(embeddings, probes, radius=2.0, limit=5).collect()
    by_q = {}
    for r in res:
        by_q.setdefault(r.query_id, []).append(r)
    for rows in by_q.values():
        assert len(rows) == 5  # radius 2.0 matches far more; the cap binds
        assert sorted(r.rank for r in rows) == [1, 2, 3, 4, 5]
        ds = [r.distance for r in sorted(rows, key=lambda x: x.rank)]
        assert ds == sorted(ds)


def test_radius_matches_knn_prefix(embeddings):
    """Within the ball, radius ordering == knn ordering (same tie-break)."""
    probes = embeddings.filter(F.col("vec_id") < 2).select(
        F.col("vec_id").alias("query_id"),
        F.col("embedding").alias("query_embedding"),
    )
    rad = knn.radius_search(embeddings, probes, radius=1.3, limit=10)
    top = knn.knn(embeddings, probes, k=10)
    rad_rows = {(r.query_id, r.rank): r.id for r in rad.collect()}
    top_rows = {(r.query_id, r.rank): r.id for r in top.collect()}
    for key, rid in rad_rows.items():
        assert top_rows[key] == rid


# ---------------------------------------------------------------------------
# maxsim_search (multi-vector late interaction)
# ---------------------------------------------------------------------------

def _maxsim_fixture(spark):
    # two docs × two vectors each; query = doc 1's exact bag
    doc_vecs = spark.createDataFrame(
        [
            (1, [1.0, 0.0, 0.0]),
            (1, [0.0, 1.0, 0.0]),
            (2, [0.0, 0.0, 1.0]),
            (2, [0.7, 0.7, 0.0]),
        ],
        "doc_id long, v array<float>",
    )
    query_vecs = spark.createDataFrame(
        [(100, 0, [1.0, 0.0, 0.0]), (100, 1, [0.0, 1.0, 0.0])],
        "query_id long, qidx int, qv array<float>",
    )
    return doc_vecs, query_vecs


def test_maxsim_identical_bag_scores_max(spark):
    doc_vecs, query_vecs = _maxsim_fixture(spark)
    res = knn.maxsim_search(doc_vecs, query_vecs, k=5).collect()
    by_rank = {r.rank: r for r in res}
    # doc 1 holds both query vectors exactly: score = 1 + 1 = 2 (the max
    # possible for a 2-vector query); doc 2's best per query vector is
    # cos([1,0,0],[.7,.7,0]) = cos([0,1,0],[.7,.7,0]) = 1/sqrt(2) each
    assert by_rank[1].id == 1 and abs(by_rank[1].score - 2.0) < 1e-9
    assert by_rank[2].id == 2 and abs(by_rank[2].score - 2 ** 0.5) < 1e-6


def test_maxsim_score_bounded_by_query_bag(spark):
    doc_vecs, query_vecs = _maxsim_fixture(spark)
    res = knn.maxsim_search(doc_vecs, query_vecs, k=5).collect()
    assert all(r.score <= 2.0 + 1e-9 for r in res)  # ≤ n query vectors
    assert [r.rank for r in sorted(res, key=lambda x: x.rank)] == [1, 2]


def test_radius_numpy_strategy_equivalent(embeddings):
    probes = embeddings.filter(F.col("vec_id") < 3).select(
        F.col("vec_id").alias("query_id"),
        F.col("embedding").alias("query_embedding"),
    )
    w = knn.radius_search(embeddings, probes, radius=1.3, strategy="window")
    n = knn.radius_search(embeddings, probes, radius=1.3, strategy="numpy")
    wr = {(r.query_id, r.id): r.distance for r in w.collect()}
    nr = {(r.query_id, r.id): r.distance for r in n.collect()}
    assert set(wr) == set(nr)  # same ball membership
    # kernel uses the ||v||²+||q||²−2v·q expansion: cancellation at
    # near-zero distances costs sqrt(1e-15) ≈ 3e-8 absolute — fine for a
    # ball predicate, hence the 1e-6 tolerance (not 1e-9)
    assert all(abs(wr[k] - nr[k]) < 1e-6 for k in wr)


def test_maxsim_numpy_strategy_equivalent(spark):
    doc_vecs, query_vecs = _maxsim_fixture(spark)
    w = knn.maxsim_search(doc_vecs, query_vecs, k=5, strategy="window").collect()
    n = knn.maxsim_search(doc_vecs, query_vecs, k=5, strategy="numpy").collect()
    wr = {(r.query_id, r.id): (r.score, r.rank) for r in w}
    nr = {(r.query_id, r.id): (r.score, r.rank) for r in n}
    assert set(wr) == set(nr)
    for key in wr:
        assert wr[key][1] == nr[key][1]                 # same ranking
        assert abs(wr[key][0] - nr[key][0]) < 1e-9      # same scores


def _bq_fixture(embeddings):
    from vectordb_from_scratch_spark.functions import vectormath as vm

    words = vm.bq_encode_words("embedding")
    staged = embeddings.select(
        "vec_id", vm.as_double("embedding").alias("v"),
        words[0].alias("w0"), words[1].alias("w1"),
    )
    probes = staged.filter(F.col("vec_id") < 5).select(
        F.col("vec_id").alias("query_id"),
        F.col("v").alias("query_embedding"),
        F.col("w0").alias("qw0"), F.col("w1").alias("qw1"),
    )
    return staged, probes


def test_knn_hamming_kernel_equals_fold_exactly(embeddings):
    # integer math: the numpy XOR/popcount kernel must agree with the
    # vm.hamming_words expression fold EXACTLY — ids, hammings, ranks
    staged, probes = _bq_fixture(embeddings)
    w = knn.knn_hamming(staged, probes, k=8, strategy="window").collect()
    n = knn.knn_hamming(staged, probes, k=8, strategy="numpy").collect()
    wr = sorted((r.query_id, r.rank, r.id, r.hamming) for r in w)
    nr = sorted((r.query_id, r.rank, r.id, r.hamming) for r in n)
    assert wr == nr and len(wr) == 5 * 8


def test_knn_hamming_rerank_strategies_and_self_match(embeddings):
    staged, probes = _bq_fixture(embeddings)
    raw = staged.select(F.col("vec_id").alias("id"), F.col("v").alias("vec"))
    w = knn.knn_hamming(
        staged, probes, k=6, rerank=30, raw=raw, strategy="window"
    ).collect()
    n = knn.knn_hamming(
        staged, probes, k=6, rerank=30, raw=raw, strategy="numpy"
    ).collect()
    wr = sorted((r.query_id, r.rank, r.id) for r in w)
    nr = sorted((r.query_id, r.rank, r.id) for r in n)
    assert wr == nr
    # a probe's own code is Hamming-0, so rank 1 after exact re-rank is
    # the self row at distance 0 (reference self-query invariant)
    for r in w:
        if r.rank == 1:
            assert r.id == r.query_id and r.distance == 0.0


def test_knn_hamming_rerank_requires_raw(embeddings):
    staged, probes = _bq_fixture(embeddings)
    with pytest.raises(ValueError, match="raw"):
        knn.knn_hamming(staged, probes, k=3, rerank=10)
