"""Round-12 optimization equivalence pins: every restructured operator
must produce BIT-IDENTICAL rows to the shape it replaced (the oracle
gate re-proves values vs DuckDB; these pin the internal twin-ness so a
future refactor can't silently diverge one path).

Covers (OPTIMIZATION_r12.md):
  1. hybrid.lexical_topk  ≡ the pre-r12 corpus-semijoin + norm-join-back
     shape (probe-side tokenization and the window norm are per-document
     quantities, so the restructure must be value-exact, not just
     rank-exact)
  2. ann.build_ivf_det / pq.pq_codebook per-round checkpoints ≡ the
     unmaterialized loop (a localCheckpoint is a pure materialization
     barrier — centroid values must be bitwise unchanged)
"""

from __future__ import annotations

from pyspark.sql import Window
from pyspark.sql import functions as F

from vectordb_from_scratch_spark.functions import text as X
from vectordb_from_scratch_spark.operators import ann, pq
from vectordb_from_scratch_spark.operators.hybrid import lexical_topk
from vectordb_from_scratch_spark.sources.tables import spread


def _assert_same(a, b):
    assert a.exceptAll(b).count() == 0
    assert b.exceptAll(a).count() == 0
    assert a.count() == b.count()


def _lexical_topk_r11(documents, probe_pred, depth=20,
                      text_col="text", id_col="doc_id"):
    """The pre-r12 shape, kept verbatim as the executable spec: corpus
    inv tree re-derived under the probe semi-join, norms aggregated and
    joined back on both sides."""
    toks = spread(documents).select(
        F.col(id_col), F.explode(X.tokens(text_col)).alias("term")
    )
    tf = toks.groupBy(id_col, "term").agg(F.count(F.lit(1)).alias("tf"))
    df_tbl = tf.groupBy("term").agg(F.count(F.lit(1)).alias("df"))
    nd = documents.agg(F.count(F.lit(1)).alias("__n"))
    idf = F.log(
        (F.col("__n") + F.lit(1)).cast("double")
        / (F.col("df") + F.lit(1)).cast("double")
    )
    inv = (
        tf.join(F.broadcast(df_tbl), "term")
        .crossJoin(F.broadcast(nd))
        .select("term", F.col(id_col), (F.col("tf") * idf).alias("w"))
    )
    norms = inv.groupBy(id_col).agg(
        F.sqrt(
            F.sum((F.col("w") * F.col("w")).cast("decimal(18,12)")).cast("double")
        ).alias("nrm")
    )
    probe_inv = inv.join(
        documents.filter(probe_pred).select(id_col), id_col, "left_semi"
    ).select(F.col(id_col).alias("query_id"), "term", F.col("w").alias("qw"))
    dots = (
        probe_inv.join(inv, "term")
        .groupBy("query_id", F.col(id_col).alias("id"))
        .agg(
            F.sum((F.col("qw") * F.col("w")).cast("decimal(18,12)"))
            .cast("double")
            .alias("dot")
        )
    )
    nq = norms.select(F.col(id_col).alias("query_id"), F.col("nrm").alias("qnrm"))
    ndoc = norms.select(F.col(id_col).alias("id"), F.col("nrm").alias("dnrm"))
    sim = (
        dots.join(F.broadcast(nq), "query_id")
        .join(ndoc, "id")
        .select(
            "query_id", "id",
            (F.col("dot") / (F.col("qnrm") * F.col("dnrm"))).alias("sim"),
        )
    )
    w = Window.partitionBy("query_id").orderBy(F.col("sim").desc(), F.col("id").asc())
    return (
        sim.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= depth)
        .select("query_id", "id", "sim", "rank")
    )


def test_lexical_topk_equals_r11_shape(documents):
    new = lexical_topk(documents, F.col("doc_id") < 5, depth=20)
    old = _lexical_topk_r11(documents, F.col("doc_id") < 5, depth=20)
    _assert_same(new, old)


def test_lexical_topk_probe_with_no_tokens_absent(documents, spark):
    # a probe doc whose text tokenizes to nothing must emit no ranking
    # rows in BOTH shapes (the old semi-join dropped it because it had
    # no inv rows; the new probe-side tokenization must too)
    import pyspark.sql.types as T

    schema = T.StructType([
        T.StructField("doc_id", T.LongType()),
        T.StructField("text", T.StringType()),
    ])
    docs = spark.createDataFrame(
        [(0, "   "), (1, "alpha beta gamma"), (2, "beta gamma delta"),
         (3, "alpha delta epsilon"), (4, None)],
        schema,
    )
    new = lexical_topk(docs, F.col("doc_id") < 5, depth=3)
    old = _lexical_topk_r11(docs, F.col("doc_id") < 5, depth=3)
    _assert_same(new, old)
    assert new.filter(F.col("query_id").isin(0, 4)).count() == 0


def test_build_ivf_det_checkpointed_loop_bitwise(embeddings):
    # the per-round checkpoint must not move a single bit: rebuild the
    # unmaterialized loop inline and compare exact centroid vectors
    from vectordb_from_scratch_spark.functions import vectormath as vm

    n_lists, iters, block = 4, 2, 64
    cent = ann.build_ivf_det(embeddings, n_lists=n_lists, iters=iters, block=block)

    v = spread(embeddings).select(
        F.col("vec_id").cast("long").alias("id"),
        vm.as_double("embedding").alias("vec"),
    )
    seed_key = F.md5(F.col("id").cast("string"))
    seeds = v.orderBy(seed_key.asc(), F.col("id").asc()).limit(n_lists)
    w = Window.orderBy(seed_key.asc(), F.col("id").asc())
    ref = seeds.select(
        (F.row_number().over(w) - 1).cast("int").alias("list_id"),
        F.col("vec").alias("cvec"),
    )
    for _ in range(iters):
        ref = ann.lloyd_round(v, ref, block)
    _assert_same(cent, ref)


def test_pq_codebook_checkpointed_loop_bitwise(embeddings):
    m, ks, dim, iters, block = 8, 8, 64, 2, 64
    d_sub = dim // m
    cb = pq.pq_codebook(embeddings, m=m, ks=ks, dim=dim, iters=iters, block=block)

    from vectordb_from_scratch_spark.functions import vectormath as vm

    v = spread(embeddings).select(
        F.col("vec_id").cast("long").alias("id"),
        vm.as_double("embedding").alias("vec"),
    )
    seed_key = F.md5(F.col("id").cast("string"))
    seeds = v.orderBy(seed_key.asc(), F.col("id").asc()).limit(ks)
    w = Window.orderBy(seed_key.asc(), F.col("id").asc())
    coded = seeds.select(
        (F.row_number().over(w) - 1).cast("int").alias("code"), "vec"
    )
    ref = pq.subvectors(coded, m, d_sub, id_col="code", vec_col="vec").select(
        "sub", F.col("id").cast("int").alias("code"), F.col("svec").alias("cvec")
    )
    sv = pq.subvectors(v, m, d_sub).select("sub", "id", F.col("svec").alias("vec"))
    for _ in range(iters):
        ref = ann.lloyd_round(sv, ref, block, ("sub", "code"))
    _assert_same(cb, ref)


def test_builders_return_a_checkpointed_leaf(embeddings):
    # the registry consumes both builders without an outer checkpoint:
    # at iters >= 1 each already returns an eager localCheckpoint, whose
    # logical plan is one LogicalRDD leaf with no build lineage under it
    cent = ann.build_ivf_det(embeddings, n_lists=4, iters=1, block=64)
    cb = pq.pq_codebook(embeddings, m=8, ks=8, dim=64, iters=1, block=64)
    for df in (cent, cb):
        plan = df._jdf.queryExecution().logical()
        assert plan.nodeName() == "LogicalRDD"
        assert plan.children().isEmpty()


def test_ivf_pq_build_threads_stay_in_the_callers_job_group(spark):
    # ann_ivf_pq_knn runs its two Lloyd chains on pool threads; every job
    # they launch must carry the caller's job group, or job-group counts
    # of the query (bench descriptions, per-query build jobs) miss them
    import uuid

    from vectordb_from_scratch_spark.plans.registry import QUERIES

    sc = spark.sparkContext
    tracker = sc.statusTracker()
    ungrouped = set(tracker.getJobIdsForGroup(None))
    group = f"ivf-pq-{uuid.uuid4().hex}"
    sc.setJobGroup(group, group)
    try:
        QUERIES["ann_ivf_pq_knn"].spark(spark, "/root/testdata/sf0.001").collect()
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    assert tracker.getJobIdsForGroup(group)
    assert set(tracker.getJobIdsForGroup(None)) - ungrouped == set()
