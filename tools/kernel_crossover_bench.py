"""Kernel-vs-expression crossover sweep (VERDICT r9 #2).

The auto-strategy thresholds — vecblock.AUTO_NUMPY_THRESHOLD (5,000),
vecblock.SRP_KERNEL_THRESHOLD (1k), and the PQ ADC auto crossover
(ties to AUTO_NUMPY_THRESHOLD) — predate the r9 ListArray.flatten discovery that
erased the Arrow kernels' export cost. This tool re-measures each
kernel/expr pair on IN-PLAN synthetic embeddings across row decades and
prints one JSON line per (pair, size, strategy) with wall seconds AND
the deterministic exec-bytes metrics (tools/execmetrics.py), so the
crossover is re-set on same-session evidence instead of r5 folklore.

Synthetic vectors are pure JVM expressions (xxhash64-derived floats) —
no files, no Python in the data path — so the measured delta is the
scoring strategy, not I/O.

Usage: python tools/kernel_crossover_bench.py [runs=2] [only]
  only = comma-separated substrings of pair names (knn, srp, adc, ivfpq)
Results recorded in SCALE.md round 10.
"""

from __future__ import annotations

import json
import os
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))


N_PROBES = 100
K = 10


def _driver_memory() -> str:
    """Driver heap: two fifths of physical memory, 2g to 48g — the
    1M-row cells collect large blocks, but a heap sized past the box
    pushes it into swap or the OOM killer."""
    gib = os.sysconf("SC_PAGE_SIZE") * os.sysconf("SC_PHYS_PAGES") // 2**30
    return f"{max(2, min(48, gib * 2 // 5))}g"


def main() -> int:
    runs = int(sys.argv[1]) if len(sys.argv) > 1 else 2
    only = sys.argv[2].split(",") if len(sys.argv) > 2 else None

    def want(name: str) -> bool:
        return only is None or any(s in name for s in only)

    from pyspark.sql import functions as F

    import execmetrics as xm
    from vectordb_from_scratch_spark.operators import ann, knn, vecblock
    from vectordb_from_scratch_spark.operators import pq as pqm
    from vectordb_from_scratch_spark.session import build_session

    spark = build_session(
        app_name="kernel_crossover_bench",
        shuffle_partitions=32,
        launch={**xm.UI_LAUNCH, "spark.driver.memory": _driver_memory()},
    )
    spark.sparkContext.setLogLevel("ERROR")

    def synth_emb(n: int):
        # deterministic 64-dim float vectors, fully JVM-side
        return spark.range(n).select(
            F.col("id").alias("vec_id"),
            F.transform(
                F.sequence(F.lit(0), F.lit(63)),
                lambda j: (
                    F.pmod(F.xxhash64(F.col("id") * 64 + j), F.lit(1000))
                    / F.lit(1000.0)
                ).cast("float"),
            ).alias("embedding"),
        )

    def sink(df):
        df.write.format("noop").mode("overwrite").save()

    def emit(pair, n, strategy, sec, exec_):
        print(json.dumps({
            "pair": pair, "n_rows": n, "strategy": strategy,
            "sec": sec, "exec": exec_,
        }), flush=True)

    def probes_of(emb):
        return emb.filter(F.col("vec_id") < N_PROBES).select(
            F.col("vec_id").alias("query_id"),
            F.col("embedding").alias("query_embedding"),
        )

    # ---- exact knn: window (expr fold) vs numpy (BLAS kernel) --------
    if want("knn"):
        for n in (2_000, 10_000, 30_000, 100_000, 300_000, 1_000_000):
            emb = synth_emb(n)
            emb.persist().count()  # pin the input; measure the scorer
            p = probes_of(emb)
            for strat in ("window", "numpy"):
                if strat == "window" and n > 300_000:
                    continue  # interpreted fold: minutes/leg, verdict clear
                sec, exec_ = xm.timed_with_metrics(
                    lambda s=strat: sink(knn.knn(emb, p, k=K, strategy=s)),
                    runs,
                )
                emit("knn_exact", n, strat, sec, exec_)
            emb.unpersist()

    # ---- SRP bucket assignment: expr bit-build vs matmul kernel ------
    if want("srp"):
        saved = vecblock.SRP_KERNEL_THRESHOLD
        try:
            for n in (500, 2_000, 10_000, 50_000, 200_000, 1_000_000):
                emb = synth_emb(n)
                emb.persist().count()
                p = probes_of(emb)
                for strat, thresh in (("expr", n + 1), ("kernel", 1)):
                    vecblock.SRP_KERNEL_THRESHOLD = thresh
                    sec, exec_ = xm.timed_with_metrics(
                        lambda: sink(ann.ann_knn_srp(
                            emb, p, k=K, dim=64, nbits=8, n_tables=2
                        )),
                        runs,
                    )
                    emit("srp_knn", n, strat, sec, exec_)
                emb.unpersist()
        finally:
            vecblock.SRP_KERNEL_THRESHOLD = saved

    # ---- flat ADC: expr LUT fold vs the mapInArrow ADC kernel ---------
    if want("adc") or want("ivfpq"):
        m_, ks_, d_sub_ = 16, 32, 4
    if want("adc"):
        for n in (10_000, 100_000, 1_000_000):
            emb = synth_emb(n)
            sample = emb.filter(F.col("vec_id") % 20 == 0)
            cb = pqm.pq_codebook(sample, m=m_, ks=ks_, dim=64, iters=1)
            cb.persist().count()
            codes = pqm.pq_encode(emb, cb, m_, d_sub_)
            codes.persist().count()
            p = probes_of(emb)
            for strat in ("expr", "kernel"):
                sec, exec_ = xm.timed_with_metrics(
                    lambda s=strat: sink(pqm.pq_adc_topk(
                        codes, cb, p, k=K, ks=ks_, d_sub=d_sub_, strategy=s
                    )),
                    runs,
                )
                emit("pq_adc_flat", n, strat, sec, exec_)
            codes.unpersist()
            cb.unpersist()

    # ---- routed IVF-PQ serve: expr vs the ADC kernel ------------------
    # at the SERVE CONFIG OF RECORD (m16/ks256, L64/P8 — the r9 100M
    # layout): a first pass at toy ks=32/L16 had expr WINNING both
    # decades (9.1 vs 9.8 s at 1M) while r9's ks=256 A/B had the kernel
    # 2.8× ahead — the routed crossover is CONFIG-dependent (LUT width
    # drives the expr element_at cost), so the threshold must be judged
    # at the config the serve path actually ships with.
    if want("ivfpq"):
        ks_big = 256
        for n in (100_000, 1_000_000):
            emb = synth_emb(n)
            cent, assigned = ann.ivf_det_index(emb, n_lists=64, iters=1)
            assigned.persist().count()
            sample = emb.filter(F.col("vec_id") % 20 == 0)
            cb = pqm.pq_codebook(sample, m=m_, ks=ks_big, dim=64, iters=1)
            cb.persist().count()
            idx = pqm.ivf_pq_index(assigned, cb, m_, d_sub_,
                                   id_col="id", vec_col="vec")
            idx.persist().count()
            p = probes_of(emb)
            for strat in ("expr", "kernel"):
                sec, exec_ = xm.timed_with_metrics(
                    lambda s=strat: sink(pqm.ann_knn_ivf_pq(
                        idx, cent, cb, p, k=K, n_probe=8,
                        ks=ks_big, d_sub=d_sub_, strategy=s,
                    )),
                    runs,
                )
                emit("ivf_pq_routed_ks256", n, strat, sec, exec_)
            for h in (idx, cb, assigned):
                h.unpersist()

    spark.stop()
    return 0


if __name__ == "__main__":
    try:
        rc = main()
    except BaseException as e:  # noqa: BLE001
        print(json.dumps({
            "harness": "FAILED", "err": f"{type(e).__name__}: {e}",
        }), flush=True)
        raise
    print(json.dumps({"harness": "complete"}), flush=True)
    raise SystemExit(rc)
