"""Degenerate-input behavior: core operators over empty/singleton frames
must return empty/sane results with the right schema — not throw. The
100-TB relevance: partition-level emptiness is routine (selective
filters, fresh streams), so every operator runs on empty slices
constantly."""

from __future__ import annotations

from pyspark.sql import functions as F

EMB_SCHEMA = "vec_id long, embedding array<float>, label int"
DOC_SCHEMA = "doc_id long, text string, lang string"


def _empty_emb(spark):
    return spark.createDataFrame([], EMB_SCHEMA)


def _empty_docs(spark):
    return spark.createDataFrame([], DOC_SCHEMA)


def _one_emb(spark):
    return spark.createDataFrame([(7, [1.0, 0.0], 1)], EMB_SCHEMA)


def test_knn_empty_vectors_returns_empty(spark):
    from vectordb_from_scratch_spark.operators import knn

    probes = spark.createDataFrame(
        [(0, [1.0, 0.0])], "query_id long, query_embedding array<float>"
    )
    out = knn.knn(_empty_emb(spark), probes, k=5, strategy="window")
    assert out.count() == 0
    assert out.columns == ["query_id", "id", "distance", "rank"]


def test_knn_empty_probes_returns_empty(spark):
    from vectordb_from_scratch_spark.operators import knn

    probes = spark.createDataFrame(
        [], "query_id long, query_embedding array<float>"
    )
    assert knn.knn(_one_emb(spark), probes, k=5, strategy="window").count() == 0


def test_radius_and_maxsim_empty(spark):
    from vectordb_from_scratch_spark.operators import knn

    probes = spark.createDataFrame(
        [(0, [1.0, 0.0])], "query_id long, query_embedding array<float>"
    )
    assert knn.radius_search(_empty_emb(spark), probes, radius=9.0,
                             strategy="window").count() == 0
    qv = spark.createDataFrame([], "query_id long, qidx int, qv array<float>")
    dv = spark.createDataFrame([], "doc_id long, v array<float>")
    assert knn.maxsim_search(dv, qv, k=3, strategy="window").count() == 0


def test_radius_and_maxsim_empty_probes_numpy_strategy(spark):
    """Zero probes with the kernel selected: the probe collect yields a
    (0, d) matrix and every kernel must return empty with the right
    schema, as the window path does."""
    from vectordb_from_scratch_spark.operators import knn

    no_probes = spark.createDataFrame(
        [], "query_id long, query_embedding array<float>"
    )
    out = knn.radius_search(_one_emb(spark), no_probes, radius=9.0, strategy="numpy")
    assert out.count() == 0
    assert out.columns == ["query_id", "id", "distance", "rank"]

    top = knn.knn(_one_emb(spark), no_probes, k=5, strategy="numpy")
    assert top.count() == 0
    assert top.columns == ["query_id", "id", "distance", "rank"]

    words = spark.createDataFrame([(7, 1, 2)], "vec_id long, w0 long, w1 long")
    no_word_probes = spark.createDataFrame([], "query_id long, qw0 long, qw1 long")
    ham = knn.knn_hamming(words, no_word_probes, k=5, strategy="numpy")
    assert ham.count() == 0
    assert ham.columns == ["query_id", "id", "hamming", "rank"]

    qv = spark.createDataFrame([], "query_id long, qidx int, qv array<float>")
    dv = spark.createDataFrame([(1, [1.0, 0.0])], "doc_id long, v array<float>")
    ms = knn.maxsim_search(dv, qv, k=3, strategy="numpy")
    assert ms.count() == 0
    assert ms.columns == ["query_id", "id", "score", "rank"]


def test_singleton_knn_self_only(spark):
    from vectordb_from_scratch_spark.operators import knn

    one = _one_emb(spark)
    probes = one.select(F.col("vec_id").alias("query_id"),
                        F.col("embedding").alias("query_embedding"))
    rows = knn.knn(one, probes, k=5, strategy="window").collect()
    assert len(rows) == 1 and rows[0].rank == 1 and abs(rows[0].distance) < 1e-12


def test_dedup_empty_corpus(spark):
    from vectordb_from_scratch_spark.operators import dedup

    docs = _empty_docs(spark)
    assert dedup.exact_dedup(docs).count() == 0
    assert dedup.lsh_candidate_pairs(docs).count() == 0
    assert dedup.simhash_fingerprints(docs).count() == 0
    assert dedup.containment_pairs(docs, threshold=0.7).count() == 0
    assert dedup.fragment_report(docs).count() == 0


def test_textops_empty_corpus(spark):
    from vectordb_from_scratch_spark.operators import textops

    docs = _empty_docs(spark)
    assert textops.quality_scores(docs).count() == 0
    assert textops.quality_model_scores(docs).count() == 0
    assert textops.bigram_logprob(docs).count() == 0
    assert textops.ppl_buckets(docs).count() == 0
    assert textops.pack_sequences(docs).count() == 0
    assert textops.char_entropy(docs).count() == 0
    assert textops.collocations_pmi(docs, min_count=1).count() == 0


def test_graph_empty_edges(spark):
    from vectordb_from_scratch_spark.operators import graph

    edges = spark.createDataFrame([], "src long, dst long")
    assert graph.triangle_count(edges).count() == 0
    assert graph.pagerank(edges, iters=2).count() == 0
    assert graph.label_propagation(edges, iters=2).count() == 0


def test_funnel_empty_events(spark):
    from vectordb_from_scratch_spark.plans import relational as rel

    ev = spark.createDataFrame(
        [], "event_id long, ts timestamp, user_id long, event_type string, value double"
    )
    rows = rel.events_funnel(ev).collect()
    # stages still enumerate; zero users, conversion undefined (NULL)
    assert [r.n_users for r in rows] == [0, 0, 0]


def test_fold_insert_log_empty(spark):
    from vectordb_from_scratch_spark.operators import crud

    log = spark.createDataFrame(
        [], "seq long, op string, id long, label int"
    )
    assert crud.fold_insert_log(log).count() == 0


def test_hard_negatives_no_probes(spark):
    from vectordb_from_scratch_spark.operators import sampling

    emb = _one_emb(spark).filter(F.col("vec_id") < 0)  # empty
    docs = _empty_docs(spark)
    assert sampling.hard_negatives(emb, docs, n_probes=5, k=3).count() == 0
