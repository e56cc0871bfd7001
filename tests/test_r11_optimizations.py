"""Round-11 optimization equivalence pins: every restructured operator
must produce BIT-IDENTICAL rows to the shape it replaced (the oracle
gate re-proves values vs DuckDB; these pin the internal twin-ness so a
future refactor can't silently diverge one path).

Covers (OPTIMIZATION_r11.md):
  1. dedup._pair_cosine_kernel  ≡ the Column-expression cosine verify
  2. ann.assign_ivf_det          ≡ the pre-r11 window row_number argmin
  3. ann._route_queries          ≡ the pre-r11 window routing (both modes)
  4. pq.pq_encode                ≡ the pre-r11 explode → argmin → collect
"""

from __future__ import annotations

import pytest
from pyspark.sql import Window
from pyspark.sql import functions as F

from vectordb_from_scratch_spark.functions import vectormath as vm
from vectordb_from_scratch_spark.operators import ann, dedup, pq


def _assert_same(a, b):
    assert a.exceptAll(b).count() == 0
    assert b.exceptAll(a).count() == 0
    assert a.count() == b.count()


def test_pair_cosine_kernel_equals_expression(embeddings):
    kern = dedup.embedding_neardup_pairs(
        embeddings, threshold=0.2, dim=64, nbits=4, strategy="kernel"
    )
    expr = dedup.embedding_neardup_pairs(
        embeddings, threshold=0.2, dim=64, nbits=4, strategy="expr"
    )
    _assert_same(kern, expr)
    assert kern.count() > 0  # non-vacuous: pairs survive the threshold


def test_pair_cosine_kernel_unrounded_threshold(embeddings):
    """semantic_dedup's unrounded compare path: kernel sims must equal the
    expression fold bit-for-bit (joined compare, not just set-equal)."""
    v = embeddings.select(
        F.col("vec_id").cast("long").alias("id"),
        vm.as_double("embedding").alias("vec"),
    )
    l, r = v.alias("l"), v.alias("r")
    joined = l.join(r, F.col("l.id") + 1 == F.col("r.id")).select(
        F.col("l.id").alias("id_a"), F.col("r.id").alias("id_b"),
        F.col("l.vec").alias("vec_a"), F.col("r.vec").alias("vec_b"),
    )
    kern = joined.mapInArrow(
        dedup._pair_cosine_kernel(-2.0),  # keep every pair
        schema="id_a long, id_b long, cos_sim double",
    )
    expr = joined.select(
        "id_a", "id_b",
        vm.cosine_similarity("vec_a", "vec_b").alias("cos_sim"),
    )
    _assert_same(kern, expr)


def _window_assign(vectors, centroids):
    """The pre-r11 assignment shape, kept as the equivalence reference."""
    w = Window.partitionBy("id").orderBy(F.col("__d").asc(), F.col("list_id").asc())
    return (
        vectors.crossJoin(F.broadcast(centroids))
        .withColumn("__d", vm.euclidean_distance("vec", "cvec"))
        .withColumn("__rn", F.row_number().over(w))
        .filter(F.col("__rn") == 1)
        .select("id", "vec", "list_id")
    )


@pytest.fixture(scope="module")
def ivf_parts(embeddings):
    cent = ann.build_ivf_det(embeddings, n_lists=4, iters=1)
    v = embeddings.select(
        F.col("vec_id").cast("long").alias("id"),
        vm.as_double("embedding").alias("vec"),
    )
    return v, cent


def test_assign_expression_equals_window(ivf_parts):
    v, cent = ivf_parts
    _assert_same(
        ann.assign_ivf_det(v, cent).select("id", "list_id"),
        _window_assign(v, cent).select("id", "list_id"),
    )


def test_assign_empty_centroids_yields_empty(ivf_parts, spark):
    v, cent = ivf_parts
    empty = cent.filter(F.lit(False))
    assert ann.assign_ivf_det(v, empty).count() == 0


def test_route_queries_equals_window_routing(ivf_parts, embeddings):
    v, cent = ivf_parts
    q = embeddings.filter(F.col("vec_id") < 5).select(
        F.col("vec_id").alias("query_id"),
        vm.as_double("embedding").alias("__qvec"),
    )
    centers_df = cent.select("list_id", F.col("cvec").alias("center"))
    new = ann._route_queries(q, centers_df, 2).select("query_id", "list_id")
    w = Window.partitionBy("query_id").orderBy(
        F.col("cdist").asc(), F.col("list_id").asc()
    )
    old = (
        q.crossJoin(F.broadcast(centers_df))
        .select(
            "query_id", "list_id",
            vm.euclidean_distance("__qvec", "center").alias("cdist"),
        )
        .withColumn("__r", F.row_number().over(w))
        .filter(F.col("__r") <= 2)
        .select("query_id", "list_id")
    )
    _assert_same(new, old)
    withc = ann._route_queries(q, centers_df, 2, keep_center=True)
    assert set(withc.columns) == {"query_id", "__qvec", "list_id", "center"}
    _assert_same(withc.select("query_id", "list_id"), old)


def test_pq_encode_equals_explode_groupby(ivf_parts, embeddings):
    m, d_sub = 8, 8
    cb = pq.pq_codebook(embeddings, m=m, ks=8, dim=64, iters=1)
    new = pq.pq_encode(embeddings, cb, m, d_sub)
    sv = pq.subvectors(
        embeddings.select("vec_id", "embedding"), m, d_sub,
        id_col="vec_id", vec_col="embedding",
    )
    old = (
        ann.nearest_centroid(sv.withColumnRenamed("svec", "vec"), cb, ("sub", "code"))
        .groupBy("id")
        .agg(
            F.transform(
                F.array_sort(F.collect_list(F.struct("sub", "code"))),
                lambda s: s["code"],
            ).alias("codes")
        )
    )
    _assert_same(new, old)


def test_pq_encode_passthrough_matches_join(ivf_parts, embeddings):
    v, cent = ivf_parts
    m, d_sub = 8, 8
    cb = pq.pq_codebook(embeddings, m=m, ks=8, dim=64, iters=1)
    assigned = ann.assign_ivf_det(v, cent)
    via_passthrough = pq.ivf_pq_index(assigned, cb, m, d_sub, id_col="id", vec_col="vec")
    codes = pq.pq_encode(assigned, cb, m, d_sub, id_col="id", vec_col="vec")
    via_join = codes.join(assigned.select(F.col("id"), "list_id"), on="id")
    _assert_same(
        via_passthrough.select("id", "codes", "list_id"),
        via_join.select("id", "codes", "list_id"),
    )
