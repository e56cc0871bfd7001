"""Product quantization (operators/pq.py): codebook determinism, code
validity, the ADC identity (subspace-distance sums reassemble the full
euclidean to the RECONSTRUCTED vector), filter composition, exact
re-rank, and the IVF-PQ compose. The value-exact registry twins
(ann_pq_adc_knn / knn_pq_recall / ann_ivf_pq_knn) check engine parity;
these tests check the algebra."""

from __future__ import annotations

import math

import pytest
from pyspark.sql import functions as F

from vectordb_from_scratch_spark.functions import vectormath as vm
from vectordb_from_scratch_spark.operators import ann, knn, pq
from vectordb_from_scratch_spark.sources import load_table

from conftest import SF_SMOKE

M, KS, DIM, D_SUB = 8, 8, 64, 8


@pytest.fixture(scope="module")
def emb(spark):
    e = load_table(spark, SF_SMOKE, "embeddings")
    e.persist().count()
    yield e
    # unpersist at module teardown: a leaked cache of the RAW table turns
    # every later test's parquet scan into an InMemoryTableScan, silently
    # breaking pushdown assertions in plan tests that run after this
    # module (order-dependent red — the r8 "fix the leak" rule)
    e.unpersist()


@pytest.fixture(scope="module")
def cb(spark, emb):
    c = pq.pq_codebook(emb, m=M, ks=KS, dim=DIM, iters=1)
    c.persist().count()
    yield c
    c.unpersist()


@pytest.fixture(scope="module")
def codes(spark, emb, cb):
    c = pq.pq_encode(emb, cb, M, D_SUB)
    c.persist().count()
    yield c
    c.unpersist()


@pytest.fixture(scope="module")
def probes(emb):
    return emb.filter(F.col("vec_id") < 5).select(
        F.col("vec_id").alias("query_id"),
        F.col("embedding").alias("query_embedding"),
    )


def test_codebook_shape_and_determinism(emb, cb):
    rows = cb.collect()
    assert len(rows) == M * KS
    assert {(r.sub, r.code) for r in rows} == {
        (s, c) for s in range(M) for c in range(KS)
    }
    assert all(len(r.cvec) == D_SUB for r in rows)
    again = {
        (r.sub, r.code): r.cvec
        for r in pq.pq_codebook(emb, m=M, ks=KS, dim=DIM, iters=1).collect()
    }
    for r in rows:
        assert again[(r.sub, r.code)] == r.cvec  # bit-identical rebuild


def test_codes_valid_and_complete(emb, codes):
    rows = codes.collect()
    assert len(rows) == emb.count()
    for r in rows:
        assert len(r.codes) == M
        assert all(0 <= c < KS for c in r.codes)


def test_adc_distance_is_reconstruction_distance(emb, cb, codes, probes):
    """ADC(q, codes) must equal ‖q − reconstruct(codes)‖: the per-subspace
    d² sums over disjoint dims ARE the full squared distance."""
    res = pq.pq_adc_topk(codes, cb, probes, k=3, ks=KS, d_sub=D_SUB)
    cbm = {(r.sub, r.code): r.cvec for r in cb.collect()}
    code_map = {r.id: r.codes for r in codes.collect()}
    qm = {r.query_id: [float(x) for x in r.query_embedding] for r in probes.collect()}
    for r in res.collect():
        recon = [x for s in range(M) for x in cbm[(s, code_map[r.id][s])]]
        q = qm[r.query_id]
        expect = math.sqrt(sum((a - b) ** 2 for a, b in zip(q, recon)))
        assert r.distance == pytest.approx(expect, rel=1e-9)


def test_adc_topk_ranks_and_ties(codes, cb, probes):
    res = pq.pq_adc_topk(codes, cb, probes, k=5, ks=KS, d_sub=D_SUB).collect()
    per_q = {}
    for r in res:
        per_q.setdefault(r.query_id, []).append(r)
    for q, rows in per_q.items():
        rows.sort(key=lambda r: r.rank)
        assert [r.rank for r in rows] == list(range(1, len(rows) + 1))
        keys = [(r.distance, r.id) for r in rows]
        assert keys == sorted(keys)


def test_filtered_adc_prefilter_semantics(emb, cb, codes, probes):
    res = pq.pq_adc_topk(
        codes, cb, probes, k=5, ks=KS, d_sub=D_SUB,
        predicate=F.col("label") == 1, attrs=emb,
    )
    good = {r.vec_id for r in emb.filter(F.col("label") == 1).collect()}
    rows = res.collect()
    assert rows and all(r.id in good for r in rows)
    # pre-filter fills k from qualifying rows (no starvation) when enough exist
    n_queries = 5
    if len(good) >= 5:
        assert len(rows) == n_queries * 5


def test_rerank_returns_exact_distances(emb, cb, codes, probes):
    raw = emb.select(
        F.col("vec_id").cast("long").alias("id"), vm.as_double("embedding").alias("vec")
    )
    n = emb.count()
    full = pq.pq_adc_topk(
        codes, cb, probes, k=10, ks=KS, d_sub=D_SUB, rerank=n, raw=raw
    )
    exact = knn.knn(emb, probes, k=10, metric="euclidean", strategy="window")
    got = {(r.query_id, r.id): r.distance for r in full.collect()}
    want = {(r.query_id, r.id): r.distance for r in exact.collect()}
    # rerank over the FULL table is exact k-NN, rank for rank
    assert got.keys() == want.keys()
    for k_ in got:
        assert got[k_] == pytest.approx(want[k_], rel=1e-9)


def test_ivf_pq_subset_of_probed_lists(emb, cb, probes):
    cent = ann.build_ivf_det(emb, n_lists=4, iters=1)
    cent.persist().count()
    v = emb.select(
        F.col("vec_id").cast("long").alias("id"),
        F.col("embedding").cast("array<double>").alias("vec"),
    )
    assigned = ann.assign_ivf_det(v, cent)
    assigned.persist().count()
    idx = pq.ivf_pq_index(assigned, cb, M, D_SUB, id_col="id", vec_col="vec")
    res = pq.ann_knn_ivf_pq(
        idx, cent, cb, probes, k=5, n_probe=2, ks=KS, d_sub=D_SUB,
        rerank=20, raw=assigned.select("id", "vec"),
    )
    lists = {r.id: r.list_id for r in assigned.join(
        idx.select("id"), "id", "left_semi").select("id", "list_id").collect()}
    # every result id lives in one of its query's 2 probed lists
    routed = {}
    centers = cent.collect()
    for p in probes.collect():
        q = [float(x) for x in p.query_embedding]
        ds = sorted(
            (math.sqrt(sum((a - b) ** 2 for a, b in zip(q, c.cvec))), c.list_id)
            for c in centers
        )
        routed[p.query_id] = {lid for _, lid in ds[:2]}
    rows = res.collect()
    assert rows
    for r in rows:
        assert lists[r.id] in routed[r.query_id]
    cent.unpersist()
    assigned.unpersist()


def test_ivf_pq_filtered_compose(emb, cb, probes):
    """filter × coarse routing × PQ: every result id satisfies the
    predicate, and with a full-coverage probe + full rerank the filtered
    result equals exact filtered k-NN."""
    cent = ann.build_ivf_det(emb, n_lists=2, iters=1)
    cent.persist().count()
    v = emb.select(
        F.col("vec_id").cast("long").alias("id"),
        F.col("embedding").cast("array<double>").alias("vec"),
    )
    assigned = ann.assign_ivf_det(v, cent)
    assigned.persist().count()
    idx = pq.ivf_pq_index(assigned, cb, M, D_SUB, id_col="id", vec_col="vec")
    n = emb.count()
    res = pq.ann_knn_ivf_pq(
        idx, cent, cb, probes, k=5, n_probe=2, ks=KS, d_sub=D_SUB,
        rerank=n, raw=assigned.select("id", "vec"),
        predicate=F.col("label") == 1, attrs=emb,
    )
    exact = knn.knn_filtered(
        emb, probes, F.col("label") == 1, k=5, metric="euclidean",
    )
    got = [(r.query_id, r.id, round(r.distance, 9)) for r in
           res.orderBy("query_id", "rank").collect()]
    want = [(r.query_id, r.id, round(r.distance, 9)) for r in
            exact.orderBy("query_id", "rank").collect()]
    assert got and got == want
    cent.unpersist()
    assigned.unpersist()


def test_ivf_pq_residual_identity_and_rerank(emb, probes):
    """Residual ADC distance must equal ‖q − (centroid + recon)‖ for its
    query's probed lists, and the full rerank recovers exact k-NN."""
    cent = ann.build_ivf_det(emb, n_lists=2, iters=1)
    cent.persist().count()
    v = emb.select(
        F.col("vec_id").cast("long").alias("id"),
        F.col("embedding").cast("array<double>").alias("vec"),
    )
    assigned = ann.assign_ivf_det(v, cent)
    assigned.persist().count()
    res = pq.ivf_residuals(assigned, cent)
    cb = pq.pq_codebook(res, m=M, ks=KS, dim=DIM, iters=1, id_col="id", vec_col="rvec")
    cb.persist().count()
    idx = pq.ivf_pq_residual_index(assigned, cent, cb, M, D_SUB, id_col="id", vec_col="vec")
    out = pq.ann_knn_ivf_pq_residual(
        idx, cent, cb, probes, k=3, n_probe=2, ks=KS, d_sub=D_SUB
    )
    cbm = {(r.sub, r.code): r.cvec for r in cb.collect()}
    centm = {r.list_id: r.cvec for r in cent.collect()}
    code_map = {r.id: (r.list_id, r.codes) for r in idx.collect()}
    qm = {r.query_id: [float(x) for x in r.query_embedding] for r in probes.collect()}
    for r in out.collect():
        lid, codes_ = code_map[r.id]
        recon = [x for s in range(M) for x in cbm[(s, codes_[s])]]
        approx = [c + rr for c, rr in zip(centm[lid], recon)]
        q = qm[r.query_id]
        expect = math.sqrt(sum((a - b) ** 2 for a, b in zip(q, approx)))
        assert r.distance == pytest.approx(expect, rel=1e-9)
    n = emb.count()
    full = pq.ann_knn_ivf_pq_residual(
        idx, cent, cb, probes, k=5, n_probe=2, ks=KS, d_sub=D_SUB,
        rerank=n, raw=assigned.select("id", "vec"),
    )
    exact = knn.knn(emb, probes, k=5, metric="euclidean", strategy="window")
    got = [(r.query_id, r.id) for r in full.orderBy("query_id", "rank").collect()]
    want = [(r.query_id, r.id) for r in exact.orderBy("query_id", "rank").collect()]
    assert got == want  # n_probe = n_lists → full coverage → exact after rerank
    cent.unpersist(); assigned.unpersist(); cb.unpersist()


def test_adc_kernel_matches_expr_flat(emb, cb, codes, probes):
    """The ADC kernel and the in-plan fold agree: identical
    (query_id, id) top-k with rerank (exact distances both ways), and
    near-identical adist without (last-ulp summation drift allowed)."""
    raw = emb.select(F.col("vec_id").alias("id"),
                     vm.as_double("embedding").alias("vec"))
    kw = dict(k=5, ks=KS, d_sub=D_SUB, rerank=15, raw=raw)
    a = pq.pq_adc_topk(codes, cb, probes, strategy="expr", **kw).collect()
    b = pq.pq_adc_topk(codes, cb, probes, strategy="kernel", **kw).collect()
    key = lambda r: (r["query_id"], r["rank"])  # noqa: E731
    assert sorted((r["query_id"], r["rank"], r["id"]) for r in a) == sorted(
        (r["query_id"], r["rank"], r["id"]) for r in b
    )
    da = {key(r): r["distance"] for r in a}
    db = {key(r): r["distance"] for r in b}
    assert all(abs(da[x] - db[x]) < 1e-12 for x in da)

    na = pq.pq_adc_topk(codes, cb, probes, k=5, ks=KS, d_sub=D_SUB,
                        strategy="expr").collect()
    nb = pq.pq_adc_topk(codes, cb, probes, k=5, ks=KS, d_sub=D_SUB,
                        strategy="kernel").collect()
    assert {(r["query_id"], r["id"]) for r in na} == {
        (r["query_id"], r["id"]) for r in nb
    }
    dna = {(r["query_id"], r["id"]): r["distance"] for r in na}
    for r in nb:
        assert abs(dna[(r["query_id"], r["id"])] - r["distance"]) < 1e-9


def test_ivf_pq_kernel_matches_expr(emb, cb, probes):
    """Routed ADC: the kernel (one LUT per query, a pair → query slab row
    map) ≡ the expression fold, pinned through the exact re-rank —
    identical (query_id, id, distance, rank) rows."""
    v = emb.select(F.col("vec_id").cast("long").alias("id"),
                   vm.as_double("embedding").alias("vec"))
    cent = ann.build_ivf_det(emb, n_lists=4, iters=1)
    assigned = ann.assign_ivf_det(v, cent)
    idx = pq.ivf_pq_index(assigned, cb, M, D_SUB, id_col="id", vec_col="vec")
    kw = dict(k=5, n_probe=2, ks=KS, d_sub=D_SUB, rerank=15,
              raw=assigned.select("id", "vec"))
    a = pq.ann_knn_ivf_pq(idx, cent, cb, probes, strategy="expr", **kw).collect()
    b = pq.ann_knn_ivf_pq(idx, cent, cb, probes, strategy="kernel", **kw).collect()
    rows = lambda res: sorted(  # noqa: E731
        (r["query_id"], r["id"], r["distance"], r["rank"]) for r in res
    )
    assert a and rows(a) == rows(b)


def test_adc_kernel_filtered_prefilter_semantics(emb, cb, codes, probes):
    """predicate+attrs on the kernel path prunes BEFORE the shortlist,
    same as the expr path (no starvation)."""
    pred = F.col("vec_id") % 2 == 0
    kw = dict(k=5, ks=KS, d_sub=D_SUB, predicate=pred, attrs=emb)
    a = pq.pq_adc_topk(codes, cb, probes, strategy="expr", **kw).collect()
    b = pq.pq_adc_topk(codes, cb, probes, strategy="kernel", **kw).collect()
    assert all(r["id"] % 2 == 0 for r in b) and len(b) == len(a) == 25
    assert {(r["query_id"], r["id"]) for r in a} == {
        (r["query_id"], r["id"]) for r in b
    }


@pytest.fixture(scope="module")
def ivf_pq(emb, cb):
    """(centroids, assigned vectors, IVF-PQ index, residual IVF-PQ index)
    over 4 lists."""
    v = emb.select(F.col("vec_id").cast("long").alias("id"),
                   vm.as_double("embedding").alias("vec"))
    cent = ann.build_ivf_det(emb, n_lists=4, iters=1)
    assigned = ann.assign_ivf_det(v, cent)
    assigned.persist().count()
    idx = pq.ivf_pq_index(assigned, cb, M, D_SUB, id_col="id", vec_col="vec")
    ridx = pq.ivf_pq_residual_index(assigned, cent, cb, M, D_SUB,
                                    id_col="id", vec_col="vec")
    yield cent, assigned, idx, ridx
    assigned.unpersist()


def _search(name, ivf_pq, codes, cb, probes, centers=None, **kw):
    cent, _, idx, ridx = ivf_pq
    kw = dict(k=5, ks=KS, d_sub=D_SUB, **kw)
    if name == "flat":
        return pq.pq_adc_topk(codes, cb, probes, **kw)
    search = pq.ann_knn_ivf_pq if name == "ivf" else pq.ann_knn_ivf_pq_residual
    return search(idx if name == "ivf" else ridx,
                  cent if centers is None else centers, cb, probes,
                  n_probe=2, **kw)


@pytest.mark.parametrize("name", ["flat", "ivf", "residual"])
def test_adc_strategy_vocabulary(name, ivf_pq, codes, cb, probes):
    """All three PQ searches take auto|kernel|expr and nothing else."""
    got = {
        s: {(r["query_id"], r["id"]) for r in
            _search(name, ivf_pq, codes, cb, probes, strategy=s).collect()}
        for s in ("kernel", "expr")
    }
    assert got["kernel"] and got["kernel"] == got["expr"]
    for s in ("numpy", "arrow"):
        with pytest.raises(ValueError, match="strategy must be auto"):
            _search(name, ivf_pq, codes, cb, probes, strategy=s)


@pytest.mark.parametrize("name,empty", [
    ("flat", "probes"), ("ivf", "probes"), ("ivf", "centers"),
    ("residual", "probes"), ("residual", "centers"),
])
def test_adc_kernel_empty_routing_demotes_to_expr(name, empty, ivf_pq, codes, cb, probes):
    """strategy='kernel' with no LUT to score against — empty probes, or
    empty routing (no centers) — returns the (empty) expr result instead
    of failing on an empty slab or composite-key set."""
    out = _search(
        name, ivf_pq, codes, cb,
        probes.limit(0) if empty == "probes" else probes,
        centers=ivf_pq[0].limit(0) if empty == "centers" else None,
        strategy="kernel",
    )
    assert out.count() == 0


def test_attrs_without_predicate_raises(emb, ivf_pq, codes, cb, probes):
    """A filtered search needs both predicate and attrs: attrs alone
    raises instead of searching unfiltered (as the SRP path always did)."""
    cent, assigned = ivf_pq[:2]
    with pytest.raises(ValueError, match="BOTH predicate and attrs"):
        pq.pq_adc_topk(codes, cb, probes, k=5, ks=KS, d_sub=D_SUB, attrs=emb)
    with pytest.raises(ValueError, match="BOTH predicate and attrs"):
        ann.ann_knn_ivf_sq8(ann.ivf_sq8_index(assigned), cent, probes, k=5,
                            n_probe=2, attrs=emb)


def test_adc_kernel_key_miss_fails_loudly(spark):
    """A candidate whose (query_id, list_id) composite key is ABSENT
    from the routed key set must raise, not gather a neighboring LUT
    row and mis-score silently."""
    from pyspark.errors import PythonException

    m_, ks_ = 2, 4
    # LUTs routed for pairs (q=0, l=1) and (q=1, l=2): mult 3, keys [1, 5]
    luts = spark.createDataFrame(
        [(0, [1], [float(x) for x in range(m_ * ks_)]),
         (1, [2], [float(x) for x in range(m_ * ks_)])],
        "query_id long, __lists array<int>, __lut array<double>",
    )

    def scan(qid, lid):
        src = spark.createDataFrame(
            [(qid, lid, 100, [0] * m_)],
            "query_id long, list_id int, id long, codes array<int>",
        )
        return pq._adc_kernel(src, luts, ks_, 5).collect()

    # routed pair → scores fine
    assert [(r.query_id, r.id, r.adist) for r in scan(1, 2)] == [(1, 100, 2.0)]
    # unrouted pair (q=0, l=2 → key 2, between the two routed keys)
    with pytest.raises(PythonException, match="absent from"):
        scan(0, 2)
    # key beyond the last routed key (boundary clamp, not IndexError)
    with pytest.raises(PythonException, match="absent from"):
        scan(5, 2)
