"""Physical-plan quality assertions — the 100 TB contract.

Correct results on 60k rows don't prove the plan survives 1000
executors; these tests pin the plan properties that do: broadcasts on
the small side, filter/column pushdown into the parquet scan, map-side
top-k pruning, partial aggregation, and no naked cartesian products in
the dedup paths.
"""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from vectordb_from_scratch_spark.operators import dedup, knn, vecblock
from vectordb_from_scratch_spark.plans import relational as rel
from vectordb_from_scratch_spark.sources import load_table


def _plan(df) -> str:
    return df._jdf.queryExecution().executedPlan().toString()


def _optimized(df) -> str:
    return df._jdf.queryExecution().optimizedPlan().toString()


def test_knn_broadcasts_probes_not_vectors(embeddings):
    probes = embeddings.limit(3).select(
        F.col("vec_id").alias("query_id"), F.col("embedding").alias("query_embedding")
    )
    plan = _plan(knn.knn(embeddings, probes, k=5))
    assert "BroadcastNestedLoopJoin" in plan        # probes broadcast, big side streams
    assert "BroadcastExchange" in plan


def test_knn_prunes_topk_before_shuffle(embeddings):
    probes = embeddings.limit(3).select(
        F.col("vec_id").alias("query_id"), F.col("embedding").alias("query_embedding")
    )
    plan = _plan(knn.knn(embeddings, probes, k=5))
    # Spark's WindowGroupLimit(Partial) keeps ≤k rows per (partition, query)
    # BEFORE the exchange — the map-side combine for top-k.
    assert "WindowGroupLimit" in plan
    partial_idx = plan.find("row_number(), 5, Partial")
    exchange_idx = plan.find("Exchange hashpartitioning(query_id")
    assert partial_idx != -1 and exchange_idx != -1


def test_knn_shuffles_narrow_rows_only(embeddings):
    probes = embeddings.limit(3).select(
        F.col("vec_id").alias("query_id"), F.col("embedding").alias("query_embedding")
    )
    plan = _plan(knn.knn(embeddings, probes, k=5))
    # the embedding arrays must be projected away before the exchange
    exchange = plan[plan.find("Exchange hashpartitioning(query_id"):]
    assert "__vvec" not in exchange.split("\n")[0]


def test_filter_pushdown_reaches_parquet(spark):
    emb = load_table(spark, "/root/testdata/sf0.001", "embeddings")
    df = emb.filter(F.col("label") == 3).select("vec_id")
    plan = _plan(df)
    assert "PushedFilters: [IsNotNull(label), EqualTo(label,3)]" in plan
    assert "ReadSchema: struct<vec_id:bigint,label:int>" in plan  # column pruning


def test_filtered_knn_pushes_predicate_to_scan(embeddings):
    probes = embeddings.limit(2).select(
        F.col("vec_id").alias("query_id"), F.col("embedding").alias("query_embedding")
    )
    res = knn.knn_filtered(embeddings, probes, predicate=F.col("label") == 1, k=3)
    assert "EqualTo(label,1)" in _plan(res)   # pre-filter reached the file scan


def test_relational_joins_broadcast_small_dims(spark):
    tables = {
        n: load_table(spark, "/root/testdata/sf0.001", n)
        for n in ("region", "nation", "customer", "supplier", "orders", "lineitem")
    }
    plan = _plan(
        rel.region_revenue(
            tables["region"], tables["nation"], tables["customer"],
            tables["supplier"], tables["orders"], tables["lineitem"],
        )
    )
    assert plan.count("BroadcastHashJoin") >= 2   # nation & region never shuffle the fact


def test_aggregation_is_partial(spark):
    li = load_table(spark, "/root/testdata/sf0.001", "lineitem")
    plan = _plan(rel.pricing_summary(li))
    # map-side partial aggregation before the exchange
    assert "partial_sum" in plan or "Partial" in plan
    assert "Exchange hashpartitioning(l_returnflag" in plan


def test_dedup_has_no_cartesian_product(documents):
    for df in (
        dedup.lsh_candidate_pairs(documents),
        dedup.neardup_pairs(documents, threshold=0.1),
        dedup.ngram_jaccard_pairs(documents, threshold=0.15),
        dedup.embedding_neardup_pairs(
            documents.select(F.col("doc_id").alias("vec_id"),
                             F.array(F.lit(1.0), F.lit(2.0)).alias("embedding")),
            threshold=0.9, dim=2, nbits=2,
        ),
    ):
        plan = _plan(df)
        assert "CartesianProduct" not in plan
        assert "BroadcastNestedLoopJoin" not in plan  # all pair-joins are equi-joins


def test_exact_dedup_shuffles_digest_not_text(documents):
    plan = _plan(dedup.exact_dedup(documents))
    exchange_line = [l for l in plan.splitlines() if "Exchange hashpartitioning" in l]
    assert exchange_line and "fingerprint" in exchange_line[0]
    assert "text" not in exchange_line[0]  # raw text never crosses the wire


def test_global_sort_uses_range_partitioning(spark):
    """A full ORDER BY must range-partition (sampled boundaries), not
    funnel through one task; ORDER BY + LIMIT must become TakeOrdered."""
    li = load_table(spark, "/root/testdata/sf0.001", "lineitem")
    sort_plan = _plan(li.orderBy("l_extendedprice"))
    assert "rangepartitioning" in sort_plan
    topk_plan = _plan(li.orderBy("l_extendedprice").limit(5))
    assert "TakeOrderedAndProject" in topk_plan
    assert "rangepartitioning" not in topk_plan  # no global sort for top-k


def test_vocabulary_topk_is_partial_not_global_window(documents):
    """vocabulary()'s global top-k must be TakeOrderedAndProject over the
    term counts — a bare row_number window would sort the entire vocab
    (hundreds of millions of terms at 100 TB) through one partition."""
    from vectordb_from_scratch_spark.operators import textops

    plan = _plan(textops.vocabulary(documents, top=10))
    assert "TakeOrderedAndProject" in plan


def test_knn_auto_strategy_launches_no_job(embeddings, monkeypatch):
    # strategy="auto" must pick its path from Catalyst plan statistics,
    # not a df.count() pre-scan (VERDICT r1): at 100 TB that count is a
    # driver-blocking full-table job before every search.
    from pyspark.sql import DataFrame

    def _boom(self):
        raise AssertionError("strategy='auto' launched a count() job")

    monkeypatch.setattr(DataFrame, "count", _boom)
    probes = embeddings.limit(2).select(
        F.col("vec_id").alias("query_id"), F.col("embedding").alias("query_embedding")
    )
    res = knn.knn(embeddings, probes, k=3, strategy="auto")
    assert len(res.take(6)) == 6  # executes end-to-end, still no count()


def test_estimated_rows_metadata_only(embeddings):
    est = vecblock.estimated_rows(embeddings)
    actual = embeddings.count()
    # file-size / 64B deliberately over-estimates rows (repo parquet runs
    # ~107-390 B/row) so the kernel kicks in early, but stays within the
    # order of magnitude the 5,000-row strategy threshold cares about
    assert actual <= est <= actual * 8


def test_estimated_rows_unknown_stats_returns_zero(spark):
    # in-memory sources report a Long.MaxValue-scale default sizeInBytes;
    # that must read as "unknown" (exact path), not "huge" (kernel path) —
    # the facade store's small in-memory tables need the bitwise-exact fold
    df = spark.createDataFrame([(1, [1.0, 2.0])], "vec_id long, embedding array<double>")
    assert vecblock.estimated_rows(df.filter(F.col("vec_id") >= 0)) == 0


def test_tpch_q2_shape_plan(spark):
    t = lambda n: load_table(spark, "/root/testdata/sf0.001", n)  # noqa: E731
    df = rel.min_cost_supplier(
        t("part"), t("supplier"), t("nation"), t("region"), t("lineitem")
    )
    plan = _plan(df)
    assert "BroadcastHashJoin" in plan        # nation/region onto supplier
    assert "CartesianProduct" not in plan
    assert plan.count("HashAggregate") >= 2   # partial+final (partkey,suppkey) agg
    assert len(df.take(1)) >= 0


def test_tpch_q7_shape_plan(spark):
    t = lambda n: load_table(spark, "/root/testdata/sf0.001", n)  # noqa: E731
    df = rel.bilateral_trade_volume(
        t("supplier"), t("customer"), t("nation"), t("orders"), t("lineitem")
    )
    plan = _plan(df)
    # the two nation roles are explicit broadcasts at ANY scale; the
    # SF-scaling dims (supplier/customer) carry no hint
    assert plan.count("BroadcastExchange") >= 2
    assert "CartesianProduct" not in plan
    assert len(df.take(1)) >= 0


def test_corpus_mix_prunes_columns_and_stays_narrow(spark):
    from vectordb_from_scratch_spark.operators import sampling

    docs = load_table(spark, "/root/testdata/sf0.001", "documents")
    out = sampling.stratified_sample(
        docs, {"en": 0.5, "de": 0.125}, strata_col="lang"
    ).select("doc_id", "lang")
    plan = _plan(out)
    # column pruning: the text column never leaves the scan
    scan = plan[plan.find("FileScan"):]
    assert "ReadSchema" in scan and "text" not in scan.split("ReadSchema")[1].split("\n")[0]
    # pure filter: no exchange, no aggregation — survives any scan width
    assert "Exchange" not in plan


def test_sq8_roundtrip_is_single_narrow_stage(embeddings):
    from vectordb_from_scratch_spark.functions import vectormath as vm

    v = vm.as_double("embedding")
    staged = embeddings.select(
        "vec_id", v.alias("v"), F.array_min(v).alias("vmin"), vm.sq8_scale(v).alias("scale")
    )
    coded = staged.withColumn("codes", vm.sq8_encode("v", F.col("vmin"), F.col("scale")))
    plan = _plan(coded)
    assert "Exchange" not in plan  # per-row encode pipelines inside the scan


def test_connected_components_shuffles_labels_not_documents(spark, documents):
    pairs = spark.createDataFrame(
        [(1, 2), (2, 3), (10, 11)], "id_a long, id_b long"
    )
    out = dedup.connected_components(pairs, documents.limit(50))
    # converged result only carries (id, comp); no text/document columns
    assert out.columns == ["doc_id", "component"]


def test_decontamination_broadcasts_eval_side(documents):
    """The eval split is benchmark-sized; its gram digests must broadcast
    so the (100 TB) train side is a map-side hash join, never a shuffle
    of the corpus."""
    plan = _plan(dedup.decontamination_report(documents, n=4, eval_mod=50))
    assert "BroadcastExchange" in plan
    assert "CartesianProduct" not in plan


def test_repetition_metrics_single_explode_agg(documents):
    """dup fractions are per-row expressions; only the top-token share may
    shuffle — one explode-agg plus a doc_id join, nothing quadratic."""
    from vectordb_from_scratch_spark.operators import textops

    plan = _plan(textops.repetition_metrics(documents))
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan
    # generator (explode) appears exactly once — the token fan-out for
    # the top-token count; bigram/trigram fractions stay per-row
    assert plan.count("Generate explode") == 1


def test_pii_scrub_is_narrow_and_shuffle_free(documents):
    """Redaction is chained per-row regexp_replace — no exchange at all."""
    from vectordb_from_scratch_spark.operators import textops

    plan = _plan(textops.pii_scrub(documents))
    assert "Exchange" not in plan


def test_tfidf_cosine_pairs_counts_corpus_in_plan(documents, monkeypatch):
    """Corpus size must come from a 1-row broadcast inside the plan — a
    driver-side count() job per call was the round-2 defect (an extra
    full-table scan at 100 TB)."""
    from vectordb_from_scratch_spark.operators import textops

    called = {}

    def boom(self):
        called["count"] = True
        raise AssertionError("tfidf_cosine_pairs must not launch a count() job")

    from pyspark.sql import DataFrame

    monkeypatch.setattr(DataFrame, "count", boom)
    df = textops.tfidf_cosine_pairs(documents.limit(50), threshold=0.5)
    assert df.columns == ["id_a", "id_b", "cos_sim"]
    assert "count" not in called


def test_corpus_prep_v2_caches_decontaminated_corpus(spark):
    """The composed pipeline persists the post-decontamination corpus so
    its three consumers (repetition metrics, dedup, final projection)
    probe the cache instead of re-scanning the raw table and re-running
    decontamination per branch."""
    from vectordb_from_scratch_spark.operators import dedup as dd
    from vectordb_from_scratch_spark.plans.registry import QUERIES

    try:
        df = QUERIES["pipeline_corpus_prep_v2"].spark(spark, "/root/testdata/sf0.001")
        plan = _plan(df)
        assert plan.count("InMemoryTableScan") >= 3
        assert "CartesianProduct" not in plan
    finally:
        dd.release_caches()


def test_runtime_bloom_filter_prunes_selective_join(spark):
    """A selective dim-side filter injects a runtime Bloom filter
    (might_contain) into the fact-side scan — shuffle-join row pruning
    before the exchange. Size thresholds gate it by design: the
    application side must be scan-heavy (default 10 GB), which is
    exactly the 100-TB shape; locally we zero the threshold to pin the
    mechanism."""
    for k, v in (
        ("spark.sql.optimizer.runtime.bloomFilter.enabled", "true"),
        ("spark.sql.optimizer.runtime.bloomFilter.applicationSideScanSizeThreshold", "0"),
        ("spark.sql.autoBroadcastJoinThreshold", "-1"),
    ):
        spark.conf.set(k, v)
    try:
        o = load_table(spark, "/root/testdata/sf0.001", "orders").filter(
            F.col("o_orderpriority") == "1-URGENT"
        )
        l = load_table(spark, "/root/testdata/sf0.001", "lineitem")
        j = l.join(o, l.l_orderkey == o.o_orderkey)
        opt = _optimized(j)
        assert "might_contain" in opt  # Bloom filter reached the fact side
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "10485760")
        spark.conf.unset(
            "spark.sql.optimizer.runtime.bloomFilter.applicationSideScanSizeThreshold"
        )


def test_url_domains_single_exchange(documents):
    """URL audit = narrow regex scan + ONE hash aggregate: any extra
    exchange means the extract/explode stage started shuffling text."""
    from vectordb_from_scratch_spark.operators.textops import url_domains

    plan = _plan(url_domains(documents))
    import re as _re

    n_shuffles = len(_re.findall(r"Exchange hashpartitioning", plan))
    assert n_shuffles <= 2  # partial agg + countDistinct expand stage
    assert "CartesianProduct" not in plan
    assert "HashAggregate" in plan  # map-side partials present


def test_paragraph_dedup_shuffles_fingerprint_not_free_text(documents):
    """The first-occurrence window must key on the 32-byte md5, never the
    paragraph text, and the whole plan needs exactly two hash exchanges
    (fingerprint window + doc regroup)."""
    from vectordb_from_scratch_spark.operators.dedup import paragraph_dedup

    plan = _plan(paragraph_dedup(documents))
    import re as _re

    keys = _re.findall(r"Exchange hashpartitioning\(([a-zA-Z_#0-9]+)", plan)
    assert len(keys) == 2, keys
    assert any(k.startswith("fp") for k in keys)
    assert any(k.startswith("doc_id") for k in keys)
    assert "CartesianProduct" not in plan


def test_incremental_report_broadcasts_delivery_side(documents):
    """Every corpus-side join must be probed by a BROADCAST of the
    delivery-derived table — a sort-merge join here means the corpus
    shuffles per delivery (the 29.6s-vs-1.6s lesson, SCALE.md r7)."""
    from vectordb_from_scratch_spark.operators.dedup import (
        incremental_delivery_report,
    )

    delivery = documents.limit(50).select(
        (F.col("doc_id") + 1_000_000).alias("doc_id"), "text"
    )
    plan = _plan(incremental_delivery_report(documents, delivery))
    assert "CartesianProduct" not in plan
    assert plan.count("BroadcastHashJoin") >= 3  # fp, bands, shingle joins


def test_containment_pairs_plan_properties(documents):
    """The containment join must shuffle digests (never shingle text or
    full arrays) through the inverted-index stages, contain no cartesian
    product, and prune candidates with the window's partial group-limit
    before the per-doc rank exchange."""
    plan = _plan(dedup.containment_pairs(documents, threshold=0.7))
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan
    # the docfreq aggregation is partial (map-side combine on the digest)
    assert "partial_count" in plan


def test_collocations_pmi_totals_broadcast(documents):
    """The two 1-row totals must reach the scored rows via broadcast —
    a shuffled join here would repartition the vocabulary per total."""
    from vectordb_from_scratch_spark.operators.textops import collocations_pmi

    plan = _plan(collocations_pmi(documents, min_count=2, top=10))
    assert plan.count("BroadcastExchange") >= 2
    assert "CartesianProduct" not in plan
    # top-k is a heap (TakeOrderedAndProject), never a global sort
    assert "TakeOrderedAndProject" in plan
