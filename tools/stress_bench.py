"""Scale-stress bench: kernel-vs-expression crossover at 100k rows.

The oracle-checked sf0.01/sf0.1 scales run the exact expression paths;
the 100-TB design claims rest on the Arrow/numpy kernels taking over at
scale. This tool MEASURES that takeover on the 100k-row stress tables
(/tmp/big_embeddings, /tmp/big_docs — driver-generated copies; falls
back to sf0.1 if absent) and prints one JSON line per comparison.
Results are recorded in SCALE.md.

Usage: python tools/stress_bench.py [runs_per_cell] [only]
  `only` = comma-separated substrings; cells (and their setup blocks)
  not matching any are skipped — lets new cells run without re-paying
  the whole suite.
"""

from __future__ import annotations

import json
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

BIG_EMB = "/tmp/big_embeddings"
BIG_DOCS = "/tmp/big_docs"
N_PROBES = 100
K = 10


def main() -> int:
    runs = int(sys.argv[1]) if len(sys.argv) > 1 else 2
    only = sys.argv[2].split(",") if len(sys.argv) > 2 else None

    def want(name: str) -> bool:
        return only is None or any(s in name for s in only)

    from pyspark.sql import functions as F

    import execmetrics as xm
    from vectordb_from_scratch_spark.operators import ann, dedup, knn, vecblock
    from vectordb_from_scratch_spark.session import build_session

    cpus = os.environ.get("SPARK_GRAFT_CPUS", "32")
    spark = build_session(
        app_name="stress_bench",
        launch={
            **xm.UI_LAUNCH,
            "spark.driver.memory": os.environ.get("SPARK_GRAFT_DRIVER_MEM", "90g"),
        },
    )
    spark.sparkContext.setLogLevel("ERROR")

    emb_path = BIG_EMB if os.path.isdir(BIG_EMB) else "/root/testdata/sf0.1/embeddings.parquet"
    docs_path = BIG_DOCS if os.path.isdir(BIG_DOCS) else "/root/testdata/sf0.1/documents.parquet"
    emb = spark.read.parquet(emb_path)
    docs = spark.read.parquet(docs_path)
    n_emb, n_docs = emb.count(), docs.count()  # also warms the page cache
    probes = emb.filter(F.col("vec_id") < N_PROBES).select(
        F.col("vec_id").alias("query_id"), F.col("embedding").alias("query_embedding")
    )

    def sink(df):
        df.write.format("noop").mode("overwrite").save()

    results = {}

    def cell(name, fn):
        if not want(name):
            return
        m = None
        try:
            results[name], m = xm.timed_with_metrics(fn, runs)
        except Exception as e:  # record the failure, keep later cells alive
            results[name] = f"ERR:{type(e).__name__}"
        print(json.dumps(
            {"cell": name, "sec": results[name], "exec": m}
        ), flush=True)

    saved = vecblock.SRP_KERNEL_THRESHOLD
    try:
        # exact knn: interpreted fold+window vs BLAS kernel
        cell("knn_window_100x%d" % n_emb,
             lambda: sink(knn.knn(emb, probes, k=K, strategy="window")))
        cell("knn_numpy_100x%d" % n_emb,
             lambda: sink(knn.knn(emb, probes, k=K, strategy="numpy")))

        # SRP ANN: expression bucketing vs matmul kernel (auto threshold
        # flipped to force each path)
        vecblock.SRP_KERNEL_THRESHOLD = n_emb + 1
        cell("ann_srp_expr_100x%d" % n_emb,
             lambda: sink(ann.ann_knn_srp(emb, probes, k=K, dim=64, nbits=8, n_tables=2)))
        vecblock.SRP_KERNEL_THRESHOLD = 1
        cell("ann_srp_kernel_100x%d" % n_emb,
             lambda: sink(ann.ann_knn_srp(emb, probes, k=K, dim=64, nbits=8, n_tables=2)))
    finally:
        vecblock.SRP_KERNEL_THRESHOLD = saved

    # radius search: same scan as exact knn, but the ball predicate is
    # applied map-side BEFORE any exchange — only in-ball rows shuffle.
    # radius 1.25 ≈ the ~1-5% ball of the synthetic 64-dim distribution
    cell("radius_100x%d" % n_emb,
         lambda: sink(knn.radius_search(emb, probes, radius=1.25, limit=K)))

    # multi-vector MaxSim: 10-vector doc bags (doc = id div 10) scored by
    # the first 5 docs' bags — n_emb doc-vectors × 50 query vectors of
    # map-side sims into two partial-aggregating reductions; doc vectors
    # never shuffle
    mv = emb.select((F.col("vec_id") / 10).cast("long").alias("doc_id"),
                    F.col("embedding").alias("v"))
    mq = mv.filter(F.col("doc_id") < 5).select(
        F.col("doc_id").alias("query_id"),
        F.monotonically_increasing_id().alias("qidx"),
        F.col("v").alias("qv"),
    )
    cell("maxsim_5x10q_x%d" % n_emb,
         lambda: sink(knn.maxsim_search(mv, mq, k=K)))

    # minhash: JVM expression path vs Arrow hashlib kernel (bit-identical)
    cell("minhash_expr_%d" % n_docs,
         lambda: sink(dedup.minhash_signatures(docs, strategy="expr")))
    cell("minhash_kernel_%d" % n_docs,
         lambda: sink(dedup.minhash_signatures(docs, strategy="kernel")))

    # full near-dup pipeline (sigs → banded LSH buckets → candidate pairs
    # → exact shingle-Jaccard verify) at corpus size; the stress copies
    # are exact-duplicate families, so every replica collides into the
    # same buckets — the adversarial candidate-density case
    def neardup_full():
        try:
            sink(dedup.neardup_pairs(docs, threshold=0.7))
        finally:
            dedup.release_caches()

    cell("neardup_full_%d" % n_docs, neardup_full)

    # duplicate clustering: LSH pairs -> connected components at corpus size
    # (rounds = graph diameter; each round shuffles only (id,label) pairs).
    # Setup (pair generation + checkpoint) is itself minutes at 1M docs —
    # guard it so `only` runs of other groups don't pay it.
    if want("cc_%ddocs" % n_docs):
        pairs = dedup.lsh_candidate_pairs(docs, num_hashes=8, bands=4)
        pairs = pairs.localCheckpoint()  # isolate CC cost from pair generation
        n_pairs = pairs.count()
        cell("cc_%dpairs_%ddocs" % (n_pairs, n_docs),
             lambda: sink(dedup.connected_components(pairs, docs)))

    # deterministic IVF: one-off build cost, then probe vs the exact scan
    # above (the payoff claim: a persisted index turns every search into
    # an n_probe-list scan instead of a full pass)
    import tempfile

    if want("ivf"):
        cent = ann.build_ivf_det(emb, n_lists=16, iters=2)
        cell("ivf_det_build_%d" % n_emb, lambda: sink(cent))
        idx = tempfile.mkdtemp(prefix="ivfdet_")
        v = emb.select(F.col("vec_id").cast("long").alias("id"),
                       F.col("embedding").cast("array<double>").alias("vec"))
        ann.assign_ivf_det(v, cent).write.mode("overwrite").parquet(idx + "/assigned")
        cent.write.mode("overwrite").parquet(idx + "/cent")
        assigned_p = spark.read.parquet(idx + "/assigned")
        cent_p = spark.read.parquet(idx + "/cent")
        cell("ivf_det_probe_100x%d" % n_emb,
             lambda: sink(ann.ann_knn_ivf(assigned_p, cent_p, probes, k=K,
                                          n_probe=4, id_col="id", vec_col="vec")))

        # IVF-SQ8: the quantized serve path — probe the int8 codes, exact
        # re-rank a 3k shortlist on raw vectors; plus the measured (not
        # asserted) on-disk ratio of codes vs the float32 source parquet
        ann.ivf_sq8_index(assigned_p).write.mode("overwrite").parquet(idx + "/sq8")
        sq8_p = spark.read.parquet(idx + "/sq8")
        cell("ivf_sq8_probe_100x%d" % n_emb,
             lambda: sink(ann.ann_knn_ivf_sq8(sq8_p, cent_p, probes, k=K, n_probe=4,
                                              rerank=3 * K,
                                              raw=assigned_p.select("id", "vec"))))

        def _du(path: str) -> int:
            return sum(
                os.path.getsize(os.path.join(r, f))
                for r, _, fs in os.walk(path) for f in fs
            )

        results["ivf_sq8_index_bytes"] = _du(idx + "/sq8")
        results["embeddings_f32_bytes"] = _du(emb_path) if os.path.isdir(emb_path) else os.path.getsize(emb_path)

        # PQ: codebook on a deterministic 5% sample (the production
        # pattern — FAISS trains PQ codebooks on a sample too), encode
        # the FULL table to 16 one-byte codes/row, then flat-ADC and
        # IVF-PQ probes; plus the measured codes-vs-float32 disk ratio
        if want("pq"):
            from vectordb_from_scratch_spark.operators import pq as pqm

            m_, ks_, d_sub_ = 16, 32, 4
            sample = emb.filter(F.col("vec_id") % 20 == 0)
            cb = pqm.pq_codebook(sample, m=m_, ks=ks_, dim=64, iters=1)
            cell("pq_codebook_build_%dsample" % (n_emb // 20), lambda: sink(cb))
            pq_dir = tempfile.mkdtemp(prefix="pq_")
            cb.write.mode("overwrite").parquet(pq_dir + "/cb")
            cb_p = spark.read.parquet(pq_dir + "/cb")
            t0 = time.monotonic()
            pqm.pq_encode(emb, cb_p, m_, d_sub_).write.mode("overwrite").parquet(
                pq_dir + "/codes"
            )
            results["pq_encode_write_%d" % n_emb] = round(time.monotonic() - t0, 3)
            print(json.dumps({"cell": "pq_encode_write_%d" % n_emb,
                              "sec": results["pq_encode_write_%d" % n_emb]}), flush=True)
            codes_p = spark.read.parquet(pq_dir + "/codes")
            cell("pq_adc_probe_100x%d" % n_emb,
                 lambda: sink(pqm.pq_adc_topk(codes_p, cb_p, probes, k=K,
                                              ks=ks_, d_sub=d_sub_)))
            pqm.ivf_pq_index(assigned_p, cb_p, m_, d_sub_,
                             id_col="id", vec_col="vec").write.mode(
                "overwrite").parquet(pq_dir + "/ivfpq")
            ivfpq_p = spark.read.parquet(pq_dir + "/ivfpq")
            cell("ivf_pq_probe_100x%d" % n_emb,
                 lambda: sink(pqm.ann_knn_ivf_pq(
                     ivfpq_p, cent_p, cb_p, probes, k=K, n_probe=4,
                     ks=ks_, d_sub=d_sub_, rerank=3 * K,
                     raw=assigned_p.select("id", "vec"))))
            results["pq_codes_bytes"] = _du(pq_dir + "/codes")

    # PageRank at graph scale: a 10M-edge synthetic graph (deterministic
    # multiplicative wiring, ~1M nodes) through 3 unrolled fixed-tree
    # iterations — evidence the per-iteration join+tree-aggregate shape
    # holds an order of magnitude above the relational oracle graph
    if want("pagerank"):
        from vectordb_from_scratch_spark.operators import graph as G

        n_nodes, n_edges = 1_000_000, 10_000_000
        ge = spark.range(n_edges).select(
            (F.col("id") % n_nodes).alias("src"),
            ((F.col("id") * 31 + 7) % n_nodes).alias("dst"),
        )
        cell("pagerank_%dedges" % n_edges,
             lambda: sink(G.pagerank(ge, iters=3)))

        # triangle counting on a graph with real triangle density: a
        # 1000×1000 grid with right/down/diagonal edges (every cell closes
        # two triangles — ~2M triangles over ~3M edges, deterministic)
        side = 1000
        cells_df = spark.range(side * side).select(
            (F.col("id") % side).alias("x"), (F.col("id") / side).cast("long").alias("y")
        )
        node = (F.col("y") * side + F.col("x")).alias("src")
        inner = cells_df.filter((F.col("x") < side - 1) & (F.col("y") < side - 1))
        tri_edges = (
            inner.select(node, (F.col("y") * side + F.col("x") + 1).alias("dst"))
            .union(inner.select(node, ((F.col("y") + 1) * side + F.col("x")).alias("dst")))
            .union(inner.select(node, ((F.col("y") + 1) * side + F.col("x") + 1).alias("dst")))
            .union(inner.select(
                (F.col("y") * side + F.col("x") + 1).alias("src"),
                ((F.col("y") + 1) * side + F.col("x") + 1).alias("dst"),
            ))
        )
        cell("triangles_%dedges" % (4 * (side - 1) * (side - 1)),
             lambda: sink(G.triangle_count(tri_edges)))

    # streaming exact-dedup throughput: the whole corpus through the
    # digest-state ingest path in multi-file micro-batches (8 files per
    # trigger) — state stays (fp, keep_id)-sized; measures end-to-end
    # stream wall time, not one batch
    import shutil
    import tempfile as _tf

    from vectordb_from_scratch_spark.streaming import dedup_stream_foreach_batch

    def _run_stream(out, state, ckpt) -> None:
        stream = (
            spark.readStream.schema(docs.schema)
            .option("maxFilesPerTrigger", 8)
            .parquet(docs_path)
        )
        q = dedup_stream_foreach_batch(spark, stream, out, state, ckpt).start()
        if not q.awaitTermination(590):  # timed out — stop before teardown
            q.stop()
            raise TimeoutError("stream did not finish in 590s")

    def stream_dedup_once() -> None:
        base = _tf.mkdtemp(prefix="sdedup_")
        try:
            _run_stream(base + "/out", base + "/state", base + "/ckpt")
        finally:
            shutil.rmtree(base, ignore_errors=True)

    cell("stream_dedup_%ddocs" % n_docs, stream_dedup_once)

    # probe-cost-vs-history: the r3 `weak` cell's fix under measurement.
    # Pre-seed the digest state at 1× and 4× history (disjoint from the
    # corpus digests) and stream the SAME corpus over each; with the
    # (batch_id, pfx)-partitioned state the anti-join probe prunes to the
    # batch's buckets, so the two timings should sit within noise of each
    # other rather than scaling with history size.
    def seeded_state_run(mult: int):
        hist_n = 200_000 * mult
        base = _tf.mkdtemp(prefix="sdedup_hist%dx_" % mult)
        hist = (
            spark.range(hist_n)
            .select(
                F.md5((F.col("id") + 10_000_000).cast("string")).alias("fp"),
                (F.col("id") + 10_000_000).alias("keep_id"),
                # negative ids: must never collide with the stream's own
                # batch ids (0..N), whose partitions it dynamic-overwrites
                (F.col("id") % 8 - 100).cast("int").alias("batch_id"),
            )
            .withColumn("pfx", F.substring("fp", 1, 2))
        )
        (
            hist.repartition(F.col("pfx"))  # 1 file per (batch_id, pfx) dir
            .write.mode("overwrite")
            .option("partitionOverwriteMode", "dynamic")
            .partitionBy("batch_id", "pfx")
            .parquet(base + "/state")
        )
        run_i = [0]

        def go() -> None:
            run_i[0] += 1
            _run_stream(
                base + "/out%d" % run_i[0], base + "/state",
                base + "/ckpt%d" % run_i[0],
            )

        return base, go

    for mult in (1, 4):
        if not want("stream_dedup_probe"):
            break
        base, go = seeded_state_run(mult)
        try:
            cell("stream_dedup_probe_hist%dx_%ddocs" % (mult, n_docs), go)
        finally:
            shutil.rmtree(base, ignore_errors=True)

    # adversarial LSH skew: a 2k-member boilerplate mega-bucket inside
    # 100k docs. Uncapped pays the B^2 pair blowup; capped must suppress
    # it while keeping every under-cap candidate (recall asserted in
    # tests/test_dedup_text.py; this cell measures the cost asymmetry).
    if want("lsh_skew"):
        n_skew, mega = 100_000, 2_000
        skew_docs = spark.range(n_skew).select(
            F.col("id").alias("doc_id"),
            F.when(
                F.col("id") < mega,
                F.lit("common license header text repeated verbatim across the corpus"),
            ).otherwise(
                F.concat_ws(
                    " ",
                    *[
                        F.concat(F.lit(f"w{j}u"), F.col("id").cast("string"))
                        for j in range(10)
                    ],
                )
            ).alias("text"),
        ).localCheckpoint()
        cell("lsh_skew_uncapped_%d" % n_skew,
             lambda: sink(dedup.lsh_candidate_pairs(skew_docs, num_hashes=8, bands=4)))
        cell("lsh_skew_capped_%d" % n_skew,
             lambda: sink(dedup.lsh_candidate_pairs(skew_docs, num_hashes=8, bands=4,
                                                    max_bucket_size=100)))

    # adversarial join skew: 10M-row fact table where ONE key owns 50% of
    # the rows, joined to a 2M-row dimension (too big to broadcast). This
    # is salted_join's regime per its own docstring: AQE's skew split
    # disabled (the streaming-join analog, where AQE is unavailable) —
    # the hot key serializes one task unless salting spreads it. Cells:
    # plain-no-AQE vs salted-no-AQE (the claim) and plain-with-AQE (the
    # honest baseline showing what runtime skew-split buys when it IS
    # available). Row-count equality of salted vs plain is asserted, not
    # assumed.
    if want("join_skew"):
        from vectordb_from_scratch_spark.operators import skew as skew_ops

        # 90% of 30M fact rows on ONE key, ~130-byte payload rows →
        # ~3.5 GB through a single sort-merge task unsalted (spill-grade
        # skew; narrow-row variants measured only ~1.25× because a 27M-row
        # merge against one probe row is cheap — the pain scales with the
        # bytes the hot task must sort). Dim 1M rows (~45 MB — beyond
        # broadcast range).
        n_fact, n_dim, hot, salt_n = 30_000_000, 1_000_000, 0, 16
        wide = F.md5(F.col("id").cast("string"))
        fact = spark.range(n_fact).select(
            F.when(F.col("id") % 10 < 9, F.lit(hot))
            .otherwise((F.col("id") * 2654435761) % n_dim)
            .alias("k"),
            F.concat(wide, wide, wide, wide).alias("payload"),
        ).localCheckpoint()
        dim = spark.range(n_dim).select(
            F.col("id").alias("k"),
            F.md5(F.col("id").cast("string")).alias("attr"),
        ).localCheckpoint()

        def _with_conf(pairs, fn):
            old = {k: spark.conf.get(k) for k in pairs}
            try:
                for k, v in pairs.items():
                    spark.conf.set(k, v)
                return fn()
            finally:
                for k, v in old.items():
                    spark.conf.set(k, v)

        no_aqe_skew = {
            "spark.sql.adaptive.skewJoin.enabled": "false",
            "spark.sql.autoBroadcastJoinThreshold": "-1",
        }
        cell("join_skew_plain_noaqe_%d" % n_fact,
             lambda: _with_conf(no_aqe_skew,
                                lambda: sink(fact.join(dim, "k"))))
        cell("join_skew_salted_noaqe_%d" % n_fact,
             lambda: _with_conf(no_aqe_skew,
                                lambda: sink(skew_ops.salted_join(
                                    fact, dim, "k", salt=salt_n,
                                    discriminator="payload"))))
        cell("join_skew_plain_aqe_%d" % n_fact,
             lambda: _with_conf(
                 {"spark.sql.autoBroadcastJoinThreshold": "-1"},
                 lambda: sink(fact.join(dim, "k"))))
        n_plain = fact.join(dim, "k").count()
        n_salted = skew_ops.salted_join(fact, dim, "k", salt=salt_n,
                                        discriminator="payload").count()
        assert n_plain == n_salted, (n_plain, n_salted)
        results["join_skew_rows"] = n_plain

    # ANN serving one decade up: the 1M-row IVF/SQ8/PQ trio at 10M rows
    # (the frontier cell VERDICT r4 asked for). Same (n_lists=16,
    # n_probe=4) config as the 1M cells so the decade scales apples-to-
    # apples, plus a (n_lists=64, n_probe=8) variant showing the knob
    # that restores per-probe row counts as the table grows.
    if want("ivf10m"):
        import tempfile as _tmp10

        from vectordb_from_scratch_spark.operators import pq as pqm10

        big10_path = "/tmp/big_embeddings_10m"
        if not os.path.isdir(big10_path):
            (
                spark.range(10)
                .select(F.col("id").alias("__rep"))
                .crossJoin(emb)
                .select(
                    (F.col("vec_id") + F.col("__rep") * n_emb).alias("vec_id"),
                    "embedding",
                    *[c for c in emb.columns if c not in ("vec_id", "embedding")],
                )
                .repartition(64)
                .write.mode("overwrite")
                .parquet(big10_path)
            )
        emb10 = spark.read.parquet(big10_path)
        n10 = emb10.count()
        # IVF10M_DIR reuses a previously built layout (resume after a
        # crash, or recall cells over the exact layout r5 timed);
        # IVF10M_TRAIN_MOD=100 trains centroids on the deterministic 1%
        # sample (the production config measured 8.3× cheaper in r5 —
        # build cost only, assignment/probing exactness is unaffected);
        # IVF10M_PROBES=0 skips the probe-latency cells (already recorded
        # in r5) so a recall-only session doesn't re-pay them.
        idx10 = os.environ.get("IVF10M_DIR") or _tmp10.mkdtemp(prefix="ivf10m_")
        tm10 = int(os.environ.get("IVF10M_TRAIN_MOD", "1"))
        probes_on = os.environ.get("IVF10M_PROBES", "1") != "0"
        v10 = emb10.select(F.col("vec_id").cast("long").alias("id"),
                           F.col("embedding").cast("array<double>").alias("vec"))
        for n_lists, n_probe in ((16, 4), (64, 8)):
            tag = "L%dP%d" % (n_lists, n_probe)
            if not os.path.isdir(idx10 + "/assigned_" + tag):
                t0 = time.monotonic()
                cent10 = ann.build_ivf_det(emb10, n_lists=n_lists, iters=2,
                                           train_mod=tm10)
                ann.assign_ivf_det(v10, cent10).write.mode("overwrite").parquet(
                    idx10 + "/assigned_" + tag)
                cent10.write.mode("overwrite").parquet(idx10 + "/cent_" + tag)
                results["ivf10m_build_%s" % tag] = round(time.monotonic() - t0, 3)
                print(json.dumps({"cell": "ivf10m_build_%s" % tag,
                                  "sec": results["ivf10m_build_%s" % tag]}),
                      flush=True)
            a10 = spark.read.parquet(idx10 + "/assigned_" + tag)
            c10 = spark.read.parquet(idx10 + "/cent_" + tag)
            if probes_on:
                cell("ivf10m_raw_probe_100x%d_%s" % (n10, tag),
                     lambda a10=a10, c10=c10, n_probe=n_probe: sink(
                         ann.ann_knn_ivf(a10, c10, probes, k=K, n_probe=n_probe,
                                         id_col="id", vec_col="vec")))
            if not os.path.isdir(idx10 + "/sq8_" + tag):
                ann.ivf_sq8_index(a10).write.mode("overwrite").parquet(
                    idx10 + "/sq8_" + tag)
            s10 = spark.read.parquet(idx10 + "/sq8_" + tag)
            if probes_on:
                cell("ivf10m_sq8_probe_100x%d_%s" % (n10, tag),
                     lambda s10=s10, c10=c10, a10=a10, n_probe=n_probe: sink(
                         ann.ann_knn_ivf_sq8(s10, c10, probes, k=K,
                                             n_probe=n_probe, rerank=3 * K,
                                             raw=a10.select("id", "vec"))))
        # IVF-PQ at 10M on the L16P4 layout: codebook from a 1% sample,
        # one-pass encode of all 10M rows (timed), then the probe
        m10, ks10, dsub10 = 16, 32, 4
        if not os.path.isdir(idx10 + "/cb"):
            cb10 = pqm10.pq_codebook(emb10.filter(F.col("vec_id") % 100 == 0),
                                     m=m10, ks=ks10, dim=64, iters=1)
            cb10.write.mode("overwrite").parquet(idx10 + "/cb")
        cb10_p = spark.read.parquet(idx10 + "/cb")
        a10 = spark.read.parquet(idx10 + "/assigned_L16P4")
        c10 = spark.read.parquet(idx10 + "/cent_L16P4")
        if not os.path.isdir(idx10 + "/ivfpq"):
            t0 = time.monotonic()
            pqm10.ivf_pq_index(a10, cb10_p, m10, dsub10, id_col="id",
                               vec_col="vec").write.mode("overwrite").parquet(
                idx10 + "/ivfpq")
            results["ivf10m_pq_encode_write"] = round(time.monotonic() - t0, 3)
            print(json.dumps({"cell": "ivf10m_pq_encode_write",
                              "sec": results["ivf10m_pq_encode_write"]}), flush=True)
        ivfpq10 = spark.read.parquet(idx10 + "/ivfpq")
        if probes_on:
            cell("ivf10m_pq_probe_100x%d_L16P4" % n10,
                 lambda: sink(pqm10.ann_knn_ivf_pq(
                     ivfpq10, c10, cb10_p, probes, k=K, n_probe=4,
                     ks=ks10, d_sub=dsub10, rerank=3 * K,
                     raw=a10.select("id", "vec"))))

    # pointer-jumping CC one decade up: 10M nodes in 10-member chain
    # families (9M edges, diameter 10) — rounds stay O(log d), shuffle
    # stays bounded by the label table
    if want("cc_chain"):
        n_cc, fam = 10_000_000, 10
        chain = (
            spark.range(n_cc - 1)
            .filter((F.col("id") % fam) != fam - 1)
            .select(F.col("id").alias("id_a"), (F.col("id") + 1).alias("id_b"))
            .localCheckpoint()
        )
        nodes = spark.range(n_cc).select(F.col("id").alias("doc_id")).localCheckpoint()
        cell("cc_chain_%dnodes" % n_cc,
             lambda: sink(dedup.connected_components(chain, nodes)))

    # Recall at the 10M decade (VERDICT r5 #6): the round-5 cells measured
    # latency/bytes at 10M but not recall — these cells prove the
    # reference recall floors (>=0.90 full-dim, >=0.85 quantized;
    # tests/recall_test.rs:67-80) hold where the latency was measured.
    # Ground truth = exact brute-force top-k via the numpy kernel.
    if want("recall10m"):
        import glob as _glob

        big10_path = "/tmp/big_embeddings_10m"
        emb10 = spark.read.parquet(big10_path)
        n10 = emb10.count()
        layout = None
        for d in sorted(_glob.glob("/tmp/ivf10m_*")):
            if os.path.isdir(os.path.join(d, "assigned_L64P8")) and os.path.isdir(
                os.path.join(d, "ivfpq")
            ):
                layout = d
        assert layout, "run the ivf10m cells first to build the 10M layouts"
        from vectordb_from_scratch_spark.operators import pq as pqm10

        gt = (
            knn.knn(emb10, probes, k=K, strategy="numpy")
            .select("query_id", "id")
            .localCheckpoint()
        )
        n_gt = gt.count()  # 100 probes × K

        def recall_at_k(df) -> float:
            hits = df.select("query_id", "id").join(gt, ["query_id", "id"]).count()
            return round(hits / n_gt, 4)

        def rcell(name, df):
            if not want(name):
                return
            results[name] = recall_at_k(df)
            print(json.dumps({"cell": name, "recall_at_%d" % K: results[name]}),
                  flush=True)

        a64 = spark.read.parquet(layout + "/assigned_L64P8")
        c64 = spark.read.parquet(layout + "/cent_L64P8")
        for n_probe in (2, 4, 8, 16):
            rcell("recall10m_raw_L64_P%d" % n_probe,
                  ann.ann_knn_ivf(a64, c64, probes, k=K, n_probe=n_probe,
                                  id_col="id", vec_col="vec"))
        a16 = spark.read.parquet(layout + "/assigned_L16P4")
        c16 = spark.read.parquet(layout + "/cent_L16P4")
        rcell("recall10m_raw_L16_P4",
              ann.ann_knn_ivf(a16, c16, probes, k=K, n_probe=4,
                              id_col="id", vec_col="vec"))
        s64 = spark.read.parquet(layout + "/sq8_L64P8")
        rcell("recall10m_sq8_L64_P8_rerank%d" % (3 * K),
              ann.ann_knn_ivf_sq8(s64, c64, probes, k=K, n_probe=8,
                                  rerank=3 * K, raw=a64.select("id", "vec")))
        cb10 = spark.read.parquet(layout + "/cb")
        ivfpq10 = spark.read.parquet(layout + "/ivfpq")
        for rerank in (K, 3 * K, 10 * K):
            rcell("recall10m_ivfpq_L16_P4_rerank%d" % rerank,
                  pqm10.ann_knn_ivf_pq(ivfpq10, c16, cb10, probes, k=K,
                                       n_probe=4, ks=32, d_sub=4,
                                       rerank=rerank,
                                       raw=a16.select("id", "vec")))

    # Recall at 10M with DISTINCT vectors: the replicated stress table
    # degenerates recall (a probe's true top-k are its identical
    # replicas, which route to one list — every config scores 1.0 by
    # construction; see the recall10m cells). These cells synthesize 10M
    # deterministic UNIFORM vectors — no cluster structure, the hardest
    # geometry for IVF (true neighbors scatter across list boundaries)
    # — and sweep n_probe / re-rank depth against brute-force ground
    # truth. Layouts resume from RECALL10MU_DIR across crashed runs.
    if want("recall10mu"):
        from vectordb_from_scratch_spark.operators import pq as pqm10u

        udir = os.environ.get("RECALL10MU_DIR", "/tmp/recall10mu")
        n_u, dim_u, lists_u = 10_000_000, 64, 64
        vec_expr = F.transform(
            F.sequence(F.lit(0), F.lit(dim_u - 1)),
            lambda j: (
                F.pmod(F.xxhash64(F.col("id") * dim_u + j, F.lit(9817)),
                       F.lit(1_000_003)) / 1_000_003.0 - 0.5
            ).cast("float"),
        )
        if not os.path.isdir(udir + "/base"):
            (
                spark.range(n_u)
                .select(F.col("id").alias("vec_id"), vec_expr.alias("embedding"))
                .repartition(64)
                .write.mode("overwrite").parquet(udir + "/base")
            )
        ub = spark.read.parquet(udir + "/base")
        uv = ub.select(F.col("vec_id").alias("id"),
                       F.col("embedding").cast("array<double>").alias("vec"))
        if not os.path.isdir(udir + "/assigned"):
            t0 = time.monotonic()
            ucent = ann.build_ivf_det(ub, n_lists=lists_u, iters=2,
                                      train_mod=100)
            ann.assign_ivf_det(uv, ucent).write.mode("overwrite").parquet(
                udir + "/assigned")
            ucent.write.mode("overwrite").parquet(udir + "/cent")
            print(json.dumps({"cell": "recall10mu_build",
                              "sec": round(time.monotonic() - t0, 3)}),
                  flush=True)
        ua = spark.read.parquet(udir + "/assigned")
        uc = spark.read.parquet(udir + "/cent")
        if not os.path.isdir(udir + "/sq8"):
            ann.ivf_sq8_index(ua).write.mode("overwrite").parquet(udir + "/sq8")
        us = spark.read.parquet(udir + "/sq8")
        mu, ksu, dsu = 16, 32, 4
        if not os.path.isdir(udir + "/cb"):
            pqm10u.pq_codebook(ub.filter(F.col("vec_id") % 100 == 0),
                               m=mu, ks=ksu, dim=dim_u, iters=1
                               ).write.mode("overwrite").parquet(udir + "/cb")
        ucb = spark.read.parquet(udir + "/cb")
        if not os.path.isdir(udir + "/ivfpq"):
            pqm10u.ivf_pq_index(ua, ucb, mu, dsu, id_col="id", vec_col="vec"
                                ).write.mode("overwrite").parquet(udir + "/ivfpq")
        upq = spark.read.parquet(udir + "/ivfpq")
        uprobes = ub.filter(F.col("vec_id") < N_PROBES).select(
            F.col("vec_id").alias("query_id"),
            F.col("embedding").alias("query_embedding"))
        ugt = (
            knn.knn(ub, uprobes, k=K, strategy="numpy")
            .select("query_id", "id").localCheckpoint()
        )
        n_ugt = ugt.count()

        def urecall(df) -> float:
            hits = df.select("query_id", "id").join(ugt, ["query_id", "id"]).count()
            return round(hits / n_ugt, 4)

        def ucell(name, df):
            results[name] = urecall(df)
            print(json.dumps({"cell": name, "recall_at_%d" % K: results[name]}),
                  flush=True)

        for n_probe in (2, 4, 8, 16):
            ucell("recall10mu_raw_L64_P%d" % n_probe,
                  ann.ann_knn_ivf(ua, uc, uprobes, k=K, n_probe=n_probe,
                                  id_col="id", vec_col="vec"))
        ucell("recall10mu_sq8_L64_P8_rerank%d" % (3 * K),
              ann.ann_knn_ivf_sq8(us, uc, uprobes, k=K, n_probe=8,
                                  rerank=3 * K, raw=ua.select("id", "vec")))
        for rerank in (K, 3 * K, 10 * K):
            ucell("recall10mu_ivfpq_L64_P8_rerank%d" % rerank,
                  pqm10u.ann_knn_ivf_pq(upq, uc, ucb, uprobes, k=K,
                                        n_probe=8, ks=ksu, d_sub=dsu,
                                        rerank=rerank,
                                        raw=ua.select("id", "vec")))

    # Compression-ladder serve cells at 10M (VERDICT r10 #8 stretch):
    # MRL prefix truncation (2×/4× fewer multiply-adds) and binary
    # quantization (32× storage, integer XOR/popcount kernel) get the
    # same decade-scale serve evidence SQ8/PQ/ADC got in r8-r9. Reuses
    # recall10mu's deterministic 10M uniform base (the hardest geometry:
    # no cluster structure) — resumable via RECALL10MU_DIR; ground truth
    # and the packed-word table persist beside it. Timed serve cells use
    # the noop sink; recall@10 vs brute-force GT is recorded untimed.
    if want("compress10m"):
        from vectordb_from_scratch_spark.functions import vectormath as vm

        udir = os.environ.get("RECALL10MU_DIR", "/tmp/recall10mu")
        # RECALL10MU_N: scale-down knob for smoke-testing the cell wiring
        # before paying the 10M build (mirrors RECALL100M_N)
        n_u = int(os.environ.get("RECALL10MU_N", "10000000"))
        dim_u = 64
        vec_expr = F.transform(
            F.sequence(F.lit(0), F.lit(dim_u - 1)),
            lambda j: (
                F.pmod(F.xxhash64(F.col("id") * dim_u + j, F.lit(9817)),
                       F.lit(1_000_003)) / 1_000_003.0 - 0.5
            ).cast("float"),
        )
        if not os.path.isdir(udir + "/base"):
            t0 = time.monotonic()
            (
                spark.range(n_u)
                .select(F.col("id").alias("vec_id"), vec_expr.alias("embedding"))
                .repartition(64)
                .write.mode("overwrite").parquet(udir + "/base")
            )
            print(json.dumps({"cell": "compress10m_base_build",
                              "sec": round(time.monotonic() - t0, 3)}),
                  flush=True)
        ub = spark.read.parquet(udir + "/base")
        uprobes = ub.filter(F.col("vec_id") < N_PROBES).select(
            F.col("vec_id").alias("query_id"),
            F.col("embedding").alias("query_embedding"))
        if not os.path.isdir(udir + "/gt"):
            t0 = time.monotonic()
            knn.knn(ub, uprobes, k=K, strategy="numpy").select(
                "query_id", "id"
            ).write.mode("overwrite").parquet(udir + "/gt")
            print(json.dumps({"cell": "compress10m_groundtruth_build",
                              "sec": round(time.monotonic() - t0, 3)}),
                  flush=True)
        gt = spark.read.parquet(udir + "/gt").localCheckpoint()
        n_gt = gt.count()
        if not os.path.isdir(udir + "/bqwords"):
            # the 32× tier's one-off encode: 10M rows → 2 packed longs
            words = vm.bq_encode_words("embedding", dim=dim_u)
            t0 = time.monotonic()
            ub.select("vec_id", words[0].alias("w0"), words[1].alias("w1")
                      ).repartition(32).write.mode("overwrite").parquet(
                udir + "/bqwords")
            print(json.dumps({"cell": "compress10m_bq_encode_write",
                              "sec": round(time.monotonic() - t0, 3)}),
                  flush=True)
        uw = spark.read.parquet(udir + "/bqwords")
        pw = vm.bq_encode_words("query_embedding", dim=dim_u)
        wprobes = uprobes.select(
            "query_id", "query_embedding",
            pw[0].alias("qw0"), pw[1].alias("qw1"))
        uraw = ub.select(F.col("vec_id").alias("id"),
                         F.col("embedding").alias("vec"))

        def c_recall(df) -> float:
            hits = df.select("query_id", "id").join(gt, ["query_id", "id"]).count()
            return round(hits / n_gt, 4)

        serves = {
            "compress10m_bq_direct_k%d" % K: lambda: knn.knn_hamming(
                uw, wprobes, k=K, strategy="numpy"),
            "compress10m_bq_rerank%d" % (3 * K): lambda: knn.knn_hamming(
                uw, wprobes, k=K, rerank=3 * K, raw=uraw, strategy="numpy"),
        }
        for m in (16, 32):
            tdb = ub.select(
                "vec_id", vm.vec_truncate(vm.as_double("embedding"), m
                                          ).alias("embedding"))
            tpr = uprobes.select(
                "query_id", vm.vec_truncate(
                    vm.as_double("query_embedding"), m).alias("query_embedding"))
            serves["compress10m_mrl%d_k%d" % (m, K)] = (
                lambda tdb=tdb, tpr=tpr: knn.knn(tdb, tpr, k=K,
                                                 strategy="numpy"))
        for name, mk in serves.items():
            if not want(name):
                continue
            cell(name, lambda mk=mk: sink(mk()))
            rec = c_recall(mk())
            print(json.dumps({"cell": name + "_recall",
                              "recall_at_%d" % K: rec}), flush=True)

    # ANN serving TWO decades up (VERDICT r7 #5): 100M DISTINCT vectors,
    # clustered geometry — 10k deterministic cluster centers + per-id
    # noise, the realistic middle between the uniform floor (recall10mu)
    # and the replicated ceiling (recall10m). n_lists grows ∝ n
    # (64@10M → 640@100M) so per-probe scanned rows stay constant
    # (n_probe/n_lists × n = 1.25M at P8 in both decades) — the
    # linearity claim measured, not asserted. Storage: ONE assigned
    # table (float32 vecs, partitioned by list_id, ~26 GB; cast to
    # double in-plan at read) — no separate base copy, the disk budget
    # at 100M. Resumable via RECALL100M_DIR.
    if want("recall100m"):
        from vectordb_from_scratch_spark.operators import pq as pqm100

        cdir = os.environ.get("RECALL100M_DIR", "/tmp/recall100m")
        # RECALL100M_N/_LISTS: scale-down knobs for smoke-testing the cell
        # wiring before paying the 100M run (values land in cell names)
        n_c = int(os.environ.get("RECALL100M_N", "100000000"))
        lists_c = int(os.environ.get("RECALL100M_LISTS", "640"))
        # ~100-member clusters, CONSTANT as n grows: cluster size is a
        # property of the corpus (near-dup families, template variants),
        # not of scale. The earlier n//10_000 draw grew clusters to 10k
        # members at 100M, where every true 10-NN sits at sub-noise
        # distance inside a 10k-way ADC tie and ANY code-based recall
        # degenerates to rerank/cluster_size — a generator artifact, not
        # an engine property.
        dim_c, n_clusters = 64, max(100, n_c // 100)
        center = lambda cc, j: (  # noqa: E731
            F.pmod(F.xxhash64(cc * dim_c + j, F.lit(4099)), F.lit(1_000_003))
            / 1_000_003.0 - 0.5
        )
        noise = lambda ii, j: (  # noqa: E731
            F.pmod(F.xxhash64(ii * dim_c + j, F.lit(7177)), F.lit(1_000_003))
            / 1_000_003.0 - 0.5
        )
        cvec_expr = F.transform(
            F.sequence(F.lit(0), F.lit(dim_c - 1)),
            lambda j: (
                center(F.col("id") % n_clusters, j) + noise(F.col("id"), j) * 0.08
            ).cast("float"),
        )
        if not os.path.isdir(cdir + "/assigned"):
            t0 = time.monotonic()
            cb_src = spark.range(n_c).select(
                F.col("id").alias("vec_id"), cvec_expr.alias("embedding")
            )
            # kernel build paths throughout: the fold plans are the
            # oracle spec at sf scale, but at 100M×640 the assign fold
            # alone is 64B window rows (tools would wait days and fill
            # the disk with shuffle) — assign_ivf_kernel/pq_encode_kernel
            # are the measured-equal BLAS twins (test_kernel_build.py)
            ccent = ann.build_ivf_det(
                cb_src, n_lists=lists_c, iters=2, train_mod=1000,
                assign_strategy="kernel",
            )
            ccent.write.mode("overwrite").parquet(cdir + "/cent")
            ccent_p = spark.read.parquet(cdir + "/cent")
            cv = cb_src.select(
                F.col("vec_id").alias("id"),
                F.col("embedding").cast("array<double>").alias("vec"),
            )
            (
                ann.assign_ivf_kernel(cv, ccent_p)
                .withColumn("vec", F.col("vec").cast("array<float>"))
                # hash-cluster on list_id before the partitioned write:
                # 640 files (one per list) instead of tasks×lists small
                # files; the float32 cast rides BEFORE the shuffle so it
                # moves ~27GB, not 51GB
                .repartition(F.col("list_id"))
                .write.mode("overwrite")
                .partitionBy("list_id")
                .parquet(cdir + "/assigned")
            )
            print(json.dumps({"cell": "recall100m_build_assign_write",
                              "sec": round(time.monotonic() - t0, 3)}), flush=True)
        ca_raw = spark.read.parquet(cdir + "/assigned")
        ca = ca_raw.withColumn("vec", F.col("vec").cast("array<double>"))
        cc = spark.read.parquet(cdir + "/cent")
        cprobes = ca_raw.filter(F.col("id") < N_PROBES).select(
            F.col("id").alias("query_id"),
            F.col("vec").cast("array<double>").alias("query_embedding"),
        ).localCheckpoint()
        if not os.path.isdir(cdir + "/gt"):
            t0 = time.monotonic()
            knn.knn(
                ca_raw.select(F.col("id").alias("vec_id"),
                              F.col("vec").alias("embedding")),
                cprobes, k=K, strategy="numpy",
            ).select("query_id", "id").write.mode("overwrite").parquet(cdir + "/gt")
            print(json.dumps({"cell": "recall100m_groundtruth",
                              "sec": round(time.monotonic() - t0, 3)}), flush=True)
        cgt = spark.read.parquet(cdir + "/gt").localCheckpoint()
        n_cgt = cgt.count()

        def crecall(df) -> float:
            hits = df.select("query_id", "id").join(cgt, ["query_id", "id"]).count()
            return round(hits / n_cgt, 4)

        def ccell(name, mk):
            # one timed serve (latency: min over `runs`) + one recall pass
            if not want(name):
                return
            results[name + "_sec"], exec_ = xm.timed_with_metrics(
                lambda: sink(mk()), runs
            )
            results[name + "_recall"] = crecall(mk())
            print(json.dumps({
                "cell": name, "sec": results[name + "_sec"],
                "exec": exec_,
                "recall_at_%d" % K: results[name + "_recall"],
                "per_probe_sec": round(results[name + "_sec"] / N_PROBES, 4),
            }), flush=True)

        for n_probe in (2, 4, 8):
            ccell("recall100m_raw_L%d_P%d" % (lists_c, n_probe),
                  lambda n_probe=n_probe: ann.ann_knn_ivf(
                      ca, cc, cprobes, k=K, n_probe=n_probe,
                      id_col="id", vec_col="vec"))
        # ks=256 (the FAISS default): the 200k smoke at ks=32 showed
        # quantization cells coarser than the 0.08-scale within-cluster
        # noise that separates true neighbors — codes tied across
        # cluster-mates and rerank recall degenerated to rerank/cluster_n.
        # 256 cells per 4-dim subspace put the cell size under the noise.
        mc, ksc, dsc = 16, 256, 4
        # the non-residual block pays a full-corpus encode; gate its
        # setup on its own cells (plus RECALL100M_NONRES=0 as the CLI
        # escape hatch — `only` substrings match against cell names, so
        # a filter can't exclude one block while passing the outer gate)
        # so runs of the residual layout (the layout of record) skip the
        # ~15-min build they don't use
        if want("recall100m_ivfpq_L") and os.environ.get(
                "RECALL100M_NONRES", "1") == "1":
            if not os.path.isdir(cdir + "/cb"):
                pqm100.pq_codebook(
                    ca.filter(F.col("id") % 1000 == 0).select(
                        F.col("id").alias("vec_id"), F.col("vec").alias("embedding")),
                    m=mc, ks=ksc, dim=dim_c, iters=1,
                ).write.mode("overwrite").parquet(cdir + "/cb")
            ccb = spark.read.parquet(cdir + "/cb")
            if not os.path.isdir(cdir + "/ivfpq"):
                t0 = time.monotonic()
                pqm100.ivf_pq_index(
                    ca, ccb, mc, dsc, id_col="id", vec_col="vec", encode="kernel"
                ).write.mode("overwrite").partitionBy("list_id").parquet(cdir + "/ivfpq")
                print(json.dumps({"cell": "recall100m_pq_encode_write",
                                  "sec": round(time.monotonic() - t0, 3)}), flush=True)
            cpq = spark.read.parquet(cdir + "/ivfpq")
            for rerank in (K, 10 * K, 100 * K):
                ccell("recall100m_ivfpq_L%d_P8_rerank%d" % (lists_c, rerank),
                      lambda rerank=rerank: pqm100.ann_knn_ivf_pq(
                          cpq, cc, ccb, cprobes, k=K, n_probe=8,
                          ks=ksc, d_sub=dsc, rerank=rerank,
                          raw=ca.select("id", "vec")))
        # RESIDUAL IVF-PQ (the true FAISS layout): on clustered geometry
        # the non-residual codes collapse — every member of a cluster
        # quantizes to its center's codes, ADC ties, and rerank recall ≈
        # rerank / cluster_size (measured 0.19 @ rerank=100 in the 200k
        # wiring smoke). Residual codes quantize the ±noise AROUND the
        # coarse centroid, restoring within-list discrimination.
        if want("recall100m_ivfpq_res"):
            if not os.path.isdir(cdir + "/cb_res"):
                pqm100.pq_codebook(
                    pqm100.ivf_residuals(
                        ca.filter(F.col("id") % 1000 == 0), cc,
                        id_col="id", vec_col="vec",
                    ).select(F.col("id").alias("vec_id"),
                             F.col("rvec").alias("embedding")),
                    m=mc, ks=ksc, dim=dim_c, iters=1,
                ).write.mode("overwrite").parquet(cdir + "/cb_res")
            ccb_res = spark.read.parquet(cdir + "/cb_res")
            if not os.path.isdir(cdir + "/ivfpq_res"):
                t0 = time.monotonic()
                pqm100.ivf_pq_residual_index(
                    ca, cc, ccb_res, mc, dsc, id_col="id", vec_col="vec",
                    encode="kernel",
                ).write.mode("overwrite").partitionBy("list_id").parquet(
                    cdir + "/ivfpq_res")
                print(json.dumps({"cell": "recall100m_pq_res_encode_write",
                                  "sec": round(time.monotonic() - t0, 3)}), flush=True)
            cpq_res = spark.read.parquet(cdir + "/ivfpq_res")
            for rerank in (K, 10 * K, 100 * K):
                ccell("recall100m_ivfpq_res_L%d_P8_rerank%d" % (lists_c, rerank),
                      lambda rerank=rerank: pqm100.ann_knn_ivf_pq_residual(
                          cpq_res, cc, ccb_res, cprobes, k=K, n_probe=8,
                          ks=ksc, d_sub=dsc, rerank=rerank,
                          raw=ca.select("id", "vec")))
            # same-session expr twin at the rerank-of-record (r8's 2.47
            # s/probe cell) — auto resolves to the Arrow kernel above the
            # size threshold, so the pair is the serve-kernel A/B
            # (VERDICT r8 #3) under identical box conditions
            ccell("recall100m_ivfpq_res_L%d_P8_rerank%d_expr"
                  % (lists_c, 10 * K),
                  lambda: pqm100.ann_knn_ivf_pq_residual(
                      cpq_res, cc, ccb_res, cprobes, k=K, n_probe=8,
                      ks=ksc, d_sub=dsc, rerank=10 * K,
                      raw=ca.select("id", "vec"), strategy="expr"))

    # Distributed exact ranking at 100M rows (VERDICT r5 #8): the r5
    # scale fix measured directly at a decade past its biggest indirect
    # measurement. score = (id * 2654435761) mod N is a modular
    # permutation (gcd = 1), so the TRUE global rank is analytically
    # score + 1 — exactness asserted over ALL 100M rows, no reference
    # window needed. The single-partition window variant is the shape it
    # replaces.
    if any(want(t) for t in ("rank10m", "rank100m", "rank1b")):
        import threading

        from pyspark.sql import Window as _W

        from vectordb_from_scratch_spark.operators import rank as rank_ops

        def capped_window_run(perm, cap_sec=540):
            """The single-partition window at 100M may simply not finish —
            cap it so a DNF is recorded as an ERR cell instead of hanging
            the whole suite past any outer timeout."""
            sc = spark.sparkContext
            sc.setJobGroup("rankwin", "single-partition window",
                           interruptOnCancel=True)
            t = threading.Timer(cap_sec, lambda: sc.cancelJobGroup("rankwin"))
            t.start()
            try:
                sink(perm.select("id", F.row_number().over(
                    _W.orderBy(F.col("score").asc())).alias("r")))
            finally:
                t.cancel()
                sc.setLocalProperty("spark.jobGroup.id", None)

        # 1B (round 8): gcd(2654435761, 10^9) = 1 still (odd, ≡1 mod 5),
        # so the analytic-rank assertion holds at the third decade; the
        # single-partition window is expected to DNF at its 540 s cap —
        # recording the DNF IS the measurement.
        for n_rank, tagm in (
            (10_000_000, "rank10m"),
            (100_000_000, "rank100m"),
            (1_000_000_000, "rank1b"),
        ):
            if not want(tagm):
                continue
            big = n_rank > 100_000_000
            perm = spark.range(n_rank).select(
                "id", F.pmod(F.col("id") * F.lit(2654435761),
                             F.lit(n_rank)).alias("score"))
            if not big:
                # isolate generation from the ranking cost
                perm = perm.localCheckpoint()
            if big:
                # 1B disk budget (round 8, learned the hard way — the
                # two-pass 10M/100M protocol ran this box out of disk at
                # 1B: checkpoint ~25 GB + two retained ranking shuffles
                # ~35 GB each > the ~80 GB free): ONE pass that both
                # materializes every rank and folds the analytic
                # comparison into the same job; generation stays in-plan
                # (cheap expressions), and the single-partition window
                # DNF is already established at 100M (129.8 s and 5×;
                # its 1B sort spill alone would re-exhaust the disk).
                def one_pass(perm=perm):
                    bad = (
                        rank_ops.with_global_rank(
                            perm, [F.col("score").asc()], "r",
                            num_partitions=256)
                        .filter(F.col("r") != F.col("score") + 1)
                        .count()
                    )
                    assert bad == 0, f"{bad} rank mismatches at {tagm}"
                    results[tagm + "_exact_mismatches"] = bad
                cell(tagm + "_distributed_with_exactness", one_pass)
                # (ADVICE r8) the mismatch key only exists when one_pass's
                # assert succeeded; if cell() recorded an ERR, say FAILED
                # explicitly instead of emitting {"n": null} that reads as
                # a missing-but-ok measurement.
                mk = tagm + "_exact_mismatches"
                if mk in results:
                    print(json.dumps({"cell": mk, "n": results[mk]}),
                          flush=True)
                else:
                    print(json.dumps({
                        "cell": mk,
                        "status": "FAILED",
                        "err": results.get(tagm + "_distributed_with_exactness"),
                    }), flush=True)
                continue
            cell(tagm + "_distributed",
                 lambda perm=perm: sink(rank_ops.with_global_rank(
                     perm, [F.col("score").asc()], "r", num_partitions=64)))
            # score = (id * 2654435761) mod n is a modular permutation
            # (gcd = 1 with 10^7/10^8/10^9), so the TRUE rank is score+1 —
            # exactness asserted over every row, no reference window needed
            bad = (
                rank_ops.with_global_rank(perm, [F.col("score").asc()], "r",
                                          num_partitions=64)
                .filter(F.col("r") != F.col("score") + 1)
                .count()
            )
            assert bad == 0, f"{bad} rank mismatches vs the analytic permutation"
            results[tagm + "_exact_mismatches"] = bad
            print(json.dumps({"cell": tagm + "_exact_mismatches", "n": bad}),
                  flush=True)
            cell(tagm + "_single_window",
                 lambda perm=perm: capped_window_run(perm))

    print(json.dumps({"metric": "stress_crossover", "n_emb": n_emb, "n_docs": n_docs,
                      "cpus": int(cpus), "runs": runs, "cells": results}))
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
