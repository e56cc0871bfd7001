"""Kernel index-build paths ≡ the fold-exact oracle paths.

assign_ivf_kernel / pq_encode_kernel are the BLAS build kernels the
100M-row SCALE.md cells run (the fold plans materialize rows×n_lists or
rows×m×ks pairs — correct at oracle scale, quadratic garbage at 100M).
These tests pin the kernels to the fold results on real table data:
identical assignments, identical codes, identical index rows. Exact
equality (not allclose) is the right bar here — float64 GEMM and the
fold can only disagree on last-ulp *ties*, which the test vectors don't
contain; a real divergence is a bug, not noise.
"""

from __future__ import annotations

from pyspark.sql import functions as F

from vectordb_from_scratch_spark.operators import ann, pq


def _rows(df, *cols):
    return sorted(tuple(r[c] for c in cols) for r in df.collect())


def _prep(embeddings):
    return embeddings.select(
        F.col("vec_id").alias("id"),
        F.col("embedding").cast("array<double>").alias("vec"),
    )


def test_assign_kernel_matches_fold(embeddings):
    v = _prep(embeddings)
    cent = ann.build_ivf_det(embeddings, n_lists=8, iters=1)
    fold = _rows(ann.assign_ivf_det(v, cent), "id", "list_id")
    kern = _rows(ann.assign_ivf_kernel(v, cent), "id", "list_id")
    assert kern == fold


def test_assign_kernel_passthrough_columns(embeddings):
    v = _prep(embeddings).withColumn("tag", F.col("id") % 7)
    cent = ann.build_ivf_det(embeddings, n_lists=4, iters=1)
    out = ann.assign_ivf_kernel(v, cent, passthrough=("tag",))
    assert set(out.columns) == {"id", "vec", "list_id", "tag"}
    got = _rows(out, "id", "tag")
    assert got == _rows(v, "id", "tag")


def test_build_kernel_strategy_matches_fold(embeddings):
    fold = {r["list_id"]: tuple(r["cvec"])
            for r in ann.build_ivf_det(embeddings, n_lists=6, iters=2).collect()}
    kern = {r["list_id"]: tuple(r["cvec"])
            for r in ann.build_ivf_det(
                embeddings, n_lists=6, iters=2, assign_strategy="kernel"
            ).collect()}
    # identical assignments ⇒ ann.fold_tree_mean's fixed tree gives
    # bit-identical doubles — the equality is exact, not approximate
    assert kern == fold


def test_pq_encode_kernel_matches_fold(embeddings):
    m, d_sub = 8, 8
    cb = pq.pq_codebook(embeddings, m=m, ks=16, dim=64, iters=1)
    fold = {r["id"]: list(r["codes"])
            for r in pq.pq_encode(embeddings, cb, m, d_sub).collect()}
    kern = {r["id"]: list(r["codes"])
            for r in pq.pq_encode_kernel(embeddings, cb, m, d_sub).collect()}
    assert kern == fold


def test_ivf_pq_index_kernel_matches_fold(embeddings):
    m, d_sub = 8, 8
    v = _prep(embeddings)
    cent = ann.build_ivf_det(embeddings, n_lists=8, iters=1)
    assigned = ann.assign_ivf_det(v, cent)
    cb = pq.pq_codebook(embeddings, m=m, ks=16, dim=64, iters=1)
    fold = _rows(
        pq.ivf_pq_index(assigned, cb, m, d_sub, id_col="id", vec_col="vec")
        .select("id", "list_id", F.col("codes").cast("string").alias("c")),
        "id", "list_id", "c",
    )
    kern = _rows(
        pq.ivf_pq_index(assigned, cb, m, d_sub, id_col="id", vec_col="vec",
                        encode="kernel")
        .select("id", "list_id", F.col("codes").cast("string").alias("c")),
        "id", "list_id", "c",
    )
    assert kern == fold


def test_ivf_pq_residual_index_kernel_matches_fold(embeddings):
    m, d_sub = 8, 8
    v = _prep(embeddings)
    cent = ann.build_ivf_det(embeddings, n_lists=8, iters=1)
    assigned = ann.assign_ivf_det(v, cent)
    cb = pq.pq_codebook(
        pq.ivf_residuals(assigned, cent).select(
            F.col("id").alias("vec_id"), F.col("rvec").alias("embedding")
        ),
        m=m, ks=16, dim=64, iters=1,
    )
    fold = _rows(
        pq.ivf_pq_residual_index(assigned, cent, cb, m, d_sub,
                                 id_col="id", vec_col="vec")
        .select("id", "list_id", F.col("codes").cast("string").alias("c")),
        "id", "list_id", "c",
    )
    kern = _rows(
        pq.ivf_pq_residual_index(assigned, cent, cb, m, d_sub,
                                 id_col="id", vec_col="vec", encode="kernel")
        .select("id", "list_id", F.col("codes").cast("string").alias("c")),
        "id", "list_id", "c",
    )
    assert kern == fold


def _residual_setup(embeddings, m=8, d_sub=8):
    v = _prep(embeddings)
    cent = ann.build_ivf_det(embeddings, n_lists=8, iters=1)
    assigned = ann.assign_ivf_det(v, cent)
    cb = pq.pq_codebook(
        pq.ivf_residuals(assigned, cent).select(
            F.col("id").alias("vec_id"), F.col("rvec").alias("embedding")
        ),
        m=m, ks=16, dim=64, iters=1,
    )
    idx = pq.ivf_pq_residual_index(assigned, cent, cb, m, d_sub,
                                   id_col="id", vec_col="vec")
    probes = v.limit(5).select(
        F.col("id").alias("query_id"), F.col("vec").alias("query_embedding")
    )
    return v, cent, cb, idx, probes


def test_residual_adc_serve_kernel_matches_expr_reranked(embeddings):
    """The mapInArrow ADC serve kernel (VERDICT r8 #3) ≡ the expression
    fold, pinned through the exact re-rank: identical (query, id,
    distance, rank) rows. With rerank ≥ k the final distances are exact
    euclidean on both paths, so equality is exact, not approximate."""
    m, d_sub = 8, 8
    v, cent, cb, idx, probes = _residual_setup(embeddings, m, d_sub)
    kw = dict(k=5, n_probe=3, ks=16, d_sub=d_sub, rerank=20,
              raw=v.select("id", "vec"))
    expr = _rows(
        pq.ann_knn_ivf_pq_residual(idx, cent, cb, probes,
                                   strategy="expr", **kw),
        "query_id", "id", "distance", "rank",
    )
    kern = _rows(
        pq.ann_knn_ivf_pq_residual(idx, cent, cb, probes,
                                   strategy="kernel", **kw),
        "query_id", "id", "distance", "rank",
    )
    assert kern == expr


def test_residual_adc_serve_kernel_matches_expr_adist(embeddings):
    """Without re-rank the serve distance is the ADC sum itself: the
    kernel's numpy row-sum may drift from the fold in the last ulp, so
    the pin is id-set equality + distance agreement to 1e-9 (the test
    vectors carry no sub-ulp adist ties)."""
    m, d_sub = 8, 8
    v, cent, cb, idx, probes = _residual_setup(embeddings, m, d_sub)
    kw = dict(k=5, n_probe=3, ks=16, d_sub=d_sub)
    expr = {
        (r["query_id"], r["id"]): r["distance"]
        for r in pq.ann_knn_ivf_pq_residual(
            idx, cent, cb, probes, strategy="expr", **kw
        ).collect()
    }
    kern = {
        (r["query_id"], r["id"]): r["distance"]
        for r in pq.ann_knn_ivf_pq_residual(
            idx, cent, cb, probes, strategy="kernel", **kw
        ).collect()
    }
    assert set(kern) == set(expr)
    for key, d in kern.items():
        assert abs(d - expr[key]) < 1e-9


def test_kernel_plans_have_no_join_or_window(embeddings):
    """The kernels' whole point: one narrow mapInPandas pass — no
    broadcast product, no window sort, no shuffle in the physical plan."""
    v = _prep(embeddings)
    cent = ann.build_ivf_det(embeddings, n_lists=4, iters=1)
    plan = (
        ann.assign_ivf_kernel(v, cent)
        ._jdf.queryExecution().executedPlan().toString()
    )
    for op in ("Join", "Window", "Exchange"):
        assert op not in plan, f"{op} in kernel assign plan:\n{plan}"
