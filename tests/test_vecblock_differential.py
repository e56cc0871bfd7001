"""Kernel-vs-fold differential harness for the five vector kernels.

Each kernel (knn top-k, radius, MaxSim, Hamming top-k, SRP buckets) must
answer exactly like its fold-expression path on the inputs the oracle
never reaches: a zero vector, a NULL embedding, a NULL element, a ragged
row, a NULL probe and exact-distance ties. Same ids, same ranks, NULL
where the fold has NULL (never NaN), distances within 1e-6.
"""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from vectordb_from_scratch_spark.operators import ann, knn, vecblock

# Small integers keep both paths exact, so ties stay ties on the kernel.
VECS = [
    (0, [1.0, 0.0, 0.0, 0.0]),
    (1, [0.0, 1.0, 0.0, 0.0]),
    (2, [1.0, 0.0, 0.0, 0.0]),    # exact tie with 0
    (3, [0.0, 0.0, 0.0, 0.0]),    # zero vector: cosine is NULL
    (4, None),                    # NULL embedding
    (5, [1.0, None, 0.0, 0.0]),   # NULL element
    (6, [1.0, 1.0, 0.0]),         # ragged
    (7, [2.0, 0.0, 0.0, 1.0]),
    (8, [0.0, 2.0, 1.0, 0.0]),
    (9, [1.0, 1.0, 1.0, 1.0]),
    (10, [-1.0, 0.0, 0.0, 0.0]),
    (11, [0.0, -1.0, 0.0, 0.0]),  # ties with 1 for probe 0
]
PROBES = [
    (100, [1.0, 0.0, 0.0, 0.0]),
    (101, [0.0, 0.0, 1.0, 0.0]),
    (102, [0.0, 0.0, 0.0, 0.0]),  # zero probe
    (103, None),                  # NULL probe
]


@pytest.fixture(scope="module")
def tables(spark, tmp_path_factory):
    d = tmp_path_factory.mktemp("vecblock")
    spark.createDataFrame(VECS, "vec_id long, embedding array<float>") \
        .coalesce(1).write.parquet(str(d / "vecs"))
    vecs = spark.read.parquet(str(d / "vecs"))
    probes = spark.createDataFrame(PROBES, "query_id long, query_embedding array<float>")
    return vecs, probes


def _same(a, b, value):
    """Equal (query_id, rank, id) rows; `value` NULL on both or within 1e-6."""
    ra = sorted((r.query_id, r.rank, r.id, r[value]) for r in a)
    rb = sorted((r.query_id, r.rank, r.id, r[value]) for r in b)
    assert [x[:3] for x in ra] == [x[:3] for x in rb]
    for x, y in zip(ra, rb):
        assert (x[3] is None) == (y[3] is None), (x, y)
        if x[3] is not None:
            assert abs(x[3] - y[3]) < 1e-6, (x, y)


@pytest.mark.parametrize("metric", ["euclidean", "cosine", "dot"])
@pytest.mark.parametrize("k", [3, 12])
def test_knn_kernel_equals_fold(tables, metric, k):
    vecs, probes = tables
    w = knn.knn(vecs, probes, k=k, metric=metric, strategy="window").collect()
    n = knn.knn(vecs, probes, k=k, metric=metric, strategy="numpy").collect()
    _same(w, n, "distance")
    assert len(w) == 4 * k
    # every non-vector row is ranked last with a NULL distance
    nulls = {r.id for r in w if r.query_id == 100 and r.distance is None}
    if k == 12:
        assert {4, 5, 6} <= nulls
        assert (3 in nulls) == (metric == "cosine")


@pytest.mark.parametrize("metric", ["euclidean", "cosine"])
def test_radius_kernel_equals_fold(tables, metric):
    vecs, probes = tables
    radius = 1.5 if metric == "euclidean" else 0.6
    w = knn.radius_search(vecs, probes, radius, metric=metric, strategy="window").collect()
    n = knn.radius_search(vecs, probes, radius, metric=metric, strategy="numpy").collect()
    _same(w, n, "distance")
    assert w and not {4, 5, 6} & {r.id for r in w}


def test_maxsim_kernel_equals_fold(spark):
    docs = spark.createDataFrame(
        [
            (1, [1.0, 0.0, 0.0, 0.0]), (1, [0.0, 1.0, 0.0, 0.0]),
            (2, [0.0, 0.0, 0.0, 0.0]), (2, [0.0, 0.0, 1.0, 0.0]),  # zero + vector
            (3, None),                                             # only NULL
            (4, [1.0, None, 0.0, 0.0]), (4, [1.0, 1.0, 0.0]),      # only non-vectors
            (5, [1.0, 0.0, 0.0, 0.0]), (5, [0.0, 1.0, 0.0, 0.0]),  # ties doc 1
            (6, [1.0, 1.0, 1.0, 1.0]),
        ],
        "doc_id long, v array<float>",
    )
    queries = spark.createDataFrame(
        [(0, 0, [1.0, 0.0, 0.0, 0.0]), (0, 1, [0.0, 0.0, 1.0, 0.0]),
         (1, 0, [0.0, 0.0, 0.0, 0.0]), (1, 1, [0.0, 1.0, 0.0, 0.0])],
        "query_id long, qidx int, qv array<float>",
    )
    w = knn.maxsim_search(docs, queries, k=6, strategy="window").collect()
    n = knn.maxsim_search(docs, queries, k=6, strategy="numpy").collect()
    _same(w, n, "score")
    assert {r.id for r in w if r.score is None} == {3, 4}


def test_hamming_kernel_equals_fold(spark):
    words = spark.createDataFrame(
        [(0, 5, 0), (1, 5, 0), (2, -1, 7), (3, None, 1), (4, 0, 0), (5, 3, None),
         (6, -8, 12)],
        "vec_id long, w0 long, w1 long",
    )
    probes = spark.createDataFrame(
        [(100, 5, 1), (101, -1, 0), (102, None, 0)],
        "query_id long, qw0 long, qw1 long",
    )
    for k in (2, 7):
        w = knn.knn_hamming(words, probes, k=k, strategy="window").collect()
        n = knn.knn_hamming(words, probes, k=k, strategy="numpy").collect()
        _same(w, n, "hamming")
        assert len(w) == 3 * k
    # NULL words rank last, ties on (hamming, id)
    last = sorted((r.rank, r.id, r.hamming) for r in w if r.query_id == 100)
    assert [x[1] for x in last[-2:]] == [3, 5] and last[-1][2] is None


def test_srp_kernel_equals_fold(tables, monkeypatch):
    vecs, probes = tables

    def run(threshold):
        monkeypatch.setattr(vecblock, "SRP_KERNEL_THRESHOLD", threshold)
        return ann.ann_knn_srp(vecs, probes, k=12, dim=4, nbits=2, n_tables=2).collect()

    _same(run(10**12), run(1), "distance")


def test_kernel_emits_null_not_nan(tables):
    """mapInArrow keeps NaN as NaN; the kernel must emit NULL itself."""
    vecs, probes = tables
    out = knn.knn(vecs, probes.filter(F.col("query_id") == 102), k=12,
                  metric="cosine", strategy="numpy")
    assert out.filter(F.isnan("distance")).count() == 0
    assert out.filter(F.col("distance").isNull()).count() == 12
