"""Scale cells for the round-7 pipeline operators: paragraph-level dedup
and URL/domain extraction.

Synthesizes an N-doc corpus IN-PLAN (spark.range → expressions; no data
files): every doc is [unique head] + [boilerplate footer, `n_variants`
distinct strings corpus-wide] + [unique tail], and — the adversarial
skew shape — one UNIVERSAL footer shared by every document, so the
hottest paragraph-fingerprint group has N members and the
first-occurrence window ranks it in a single task. That is precisely
the "most-repeated boilerplate string" ceiling named in
paragraph_dedup's docstring; this tool measures it instead of assuming
it.

Exactness is asserted analytically: sum(n_kept) must equal
2*N (unique head+tail) + n_variants (one keeper per footer variant)
+ 1 (one keeper for the universal footer).

Usage: python tools/pipeline_scale_bench.py [N=1000000] [runs=2] [only]
  `only` = comma-separated cell-name substrings (paragraph, url,
  incremental); unmatched cells are skipped — lets one cell scale a
  decade further without re-paying the others.
Prints one JSON line per cell; results recorded in SCALE.md round 7.
"""

from __future__ import annotations

import json
import os
import sys
import time

import execmetrics as xm

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))


def main() -> int:
    n = int(sys.argv[1]) if len(sys.argv) > 1 else 1_000_000
    runs = int(sys.argv[2]) if len(sys.argv) > 2 else 2
    only = sys.argv[3].split(",") if len(sys.argv) > 3 else None
    n_variants = 1000

    def want(name: str) -> bool:
        return only is None or any(sub in name for sub in only)

    from pyspark.sql import functions as F

    from vectordb_from_scratch_spark.operators.dedup import paragraph_dedup
    from vectordb_from_scratch_spark.operators.textops import url_domains
    from vectordb_from_scratch_spark.session import build_session

    spark = build_session(
        app_name="pipeline_scale_bench",
        shuffle_partitions=64,
        launch={**xm.UI_LAUNCH, "spark.driver.memory": "48g"},
    )
    spark.sparkContext.setLogLevel("ERROR")

    sid = F.col("id").cast("string")
    docs = spark.range(n).select(
        F.col("id").alias("doc_id"),
        F.concat(
            F.lit("unique head paragraph of document "), sid,
            F.lit(" with some body words to carry realistic width"),
            F.lit("\n\n"),
            F.lit("subscribe to our newsletter variant "),
            (F.col("id") % n_variants).cast("string"),
            F.lit("\n\n"),
            F.lit("all rights reserved universal footer shared everywhere"),
            F.lit("\n\n"),
            F.lit("unique tail paragraph of document "), sid,
        ).alias("text"),
    )

    # -- cell 1: paragraph dedup over N docs / 4N paragraphs ------------
    # `paragraph` = the default window plan; `hybrid` = hot_threshold
    # routing (r8) on the SAME corpus — the A/B VERDICT r7 #4 asked for.
    for cell_name, cell_key, kwargs in (
        ("paragraph_dedup", "paragraph", {}),
        ("paragraph_dedup_hybrid", "hybrid", {"hot_threshold": 100_000}),
    ):
        if not want(cell_key):
            continue
        out = paragraph_dedup(docs, **kwargs)
        t, exec_ = xm.timed_with_metrics(
            lambda: out.agg(F.sum("n_kept")).collect(), runs
        )
        kept = out.agg(F.sum("n_kept")).collect()[0][0]
        expected = 2 * n + n_variants + 1
        print(json.dumps({
            "cell": cell_name,
            "n_docs": n,
            "n_paras": 4 * n,
            "hot_group_members": n,
            **kwargs,
            "sec": t,
            "exec": exec_,
            "sum_n_kept": int(kept),
            "expected": expected,
            "exact": bool(kept == expected),
        }))

    # -- cell 2: URL extraction + domain aggregate over N docs ----------
    if want("url"):
        url_docs = spark.range(n).select(
            F.col("id").alias("doc_id"),
            F.concat(
                F.lit("body words before the link see https://www.site"),
                (F.col("id") % 50_000).cast("string"),
                F.lit(".example.org/doc/"), sid,
                F.lit(" and a mirror http://cdn.site"),
                (F.col("id") % 50_000).cast("string"),
                F.lit(".example.org/asset trailing words"),
            ).alias("text"),
        )
        dom = url_domains(url_docs)
        t2, exec_ = xm.timed_with_metrics(
            lambda: dom.agg(F.sum("n_urls"), F.count(F.lit(1))).collect(), runs
        )
        row = dom.agg(F.sum("n_urls").alias("u"), F.count(F.lit(1)).alias("d")).collect()[0]
        print(json.dumps({
            "cell": "url_domains",
            "n_docs": n,
            "n_urls": int(row["u"]),
            "n_domains": int(row["d"]),
            "sec": t2,
            "exec": exec_,
            "exact": bool(row["u"] == 2 * n and row["d"] == 2 * min(n, 50_000)),
        }))

    if want("containment"):
        containment_cell(n=n, runs=runs)

    if want("exactdedup"):
        exact_dedup_cell(n=n, runs=runs)

    if want("decontam"):
        decontam_cell(n=n, runs=runs)

    if want("decontam_adversarial"):
        decontam_adversarial_cell(n=n, runs=runs)

    if want("decontambloom"):
        decontam_bloom_cell(n=n, runs=runs)

    if want("corpusprep"):
        corpus_prep_cell(n=n, runs=runs)

    if want("novelty"):
        novelty_cell(n=n, runs=runs)

    if want("media"):
        media_cell(n=n, runs=runs)

    if want("video"):
        media_video_cell(n=n, runs=runs)

    if want("jpegprog"):
        media_jpeg_progressive_cell(n=n, runs=runs)

    if want("pnginterlaced"):
        media_png_interlaced_cell(n=n, runs=runs)

    if want("png16"):
        media_png16_cell(n=n, runs=runs)

    if want("rawdib"):
        media_rawdib_cell(n=n, runs=runs)

    if want("wav24"):
        media_wav24_cell(n=n, runs=runs)

    if want("wavadpcm"):
        media_wav_adpcm_cell(n=n, runs=runs)

    if want("audionorm"):
        audio_normalize_cell(n=n, runs=runs)

    if want("imgdedup"):
        image_neardup_cell(n=n, runs=runs)

    if want("hhsketch"):
        heavy_hitters_cell(n=n, runs=runs)

    if want("entropy"):
        entropy_cell(n=n, runs=runs)

    if want("pmi"):
        pmi_cell(n=n, runs=runs)

    if want("incremental"):
        incremental_cells(n_corpus=n, n_delivery=max(1000, n // 100), runs=runs)

    if want("persisted"):
        persisted_cell(n_corpus=n, n_delivery=max(1000, n // 100), runs=runs)

    spark.stop()
    return 0


def _family_tables(spark, n_corpus: int, n_delivery: int):
    """Shared corpus/delivery generators for the incremental cells:
    10-member exact-dup families with family-specific vocabulary, and a
    delivery of 1/3 exact copies, 1/3 appended-tail near-dups, 1/3
    fresh (see incremental_cells docstring for why the vocabulary must
    be family-disjoint)."""
    from pyspark.sql import functions as F

    n_fam = n_corpus // 10

    def fam_text(fam_col):
        f = fam_col.cast("string")
        return F.concat_ws(
            " ",
            F.concat(F.lit("alpha"), f), F.concat(F.lit("beta"), f),
            F.concat(F.lit("gamma"), f), F.concat(F.lit("delta"), f),
            F.concat(F.lit("epsilon"), f), F.concat(F.lit("zeta"), f),
            F.concat(F.lit("eta"), f), F.concat(F.lit("theta"), f),
        )

    corpus = spark.range(n_corpus).select(
        F.col("id").alias("doc_id"),
        fam_text(F.col("id") % n_fam).alias("text"),
    )
    delivery = spark.range(n_delivery).select(
        (F.col("id") + 10 * n_corpus).alias("doc_id"),
        F.when(F.col("id") % 3 == 0, fam_text(F.col("id") % n_fam))
        .when(
            F.col("id") % 3 == 1,
            F.concat(fam_text(F.col("id") % n_fam), F.lit(" appended tail words")),
        )
        .otherwise(
            F.concat(
                F.lit("entirely fresh delivery payload item "),
                F.col("id").cast("string"),
                F.lit(" carrying novel vocabulary tokens"),
            )
        )
        .alias("text"),
    )
    return corpus, delivery


def exact_dedup_cell(n: int, runs: int) -> None:
    """Doc-level exact dedup decade series (round 8: the 1B-row cell).
    N docs in K = N/10 ten-member families of identical normalized text
    (case/whitespace variants within a family, so the normalizer does
    real work). ONE digest shuffle with map-side partial aggregation —
    the raw text never leaves the row; only (md5 hex, id) pairs move.
    Analytic exactness: exactly K groups, every n_dups = 10,
    sum(n_dups) = N, keep_id = min id of each family (asserted via
    sum(keep_id) = sum over families of the family's first id)."""
    from pyspark.sql import SparkSession
    from pyspark.sql import functions as F

    from vectordb_from_scratch_spark.operators.dedup import exact_dedup

    spark = SparkSession.getActiveSession()
    assert n % 10 == 0, "exact-dedup cell needs N divisible by 10"
    k = n // 10
    fam = (F.col("id") % k).cast("string")
    body = F.concat(
        F.lit("family document text payload "), fam,
        F.lit(" carrying shared words alpha beta gamma delta "), fam,
    )
    # ids 0..k-1 get canonical case; later members add case + whitespace
    # noise the normalizer must fold before hashing
    docs = spark.range(n).select(
        F.col("id").alias("doc_id"),
        F.when(F.col("id") < k, body)
        .when((F.col("id") % 3) == 0, F.upper(body))
        .otherwise(F.concat(F.lit("  "), body, F.lit("   "))).alias("text"),
    )
    out = exact_dedup(docs)
    t, exec_ = xm.timed_with_metrics(lambda: out.agg(F.count(F.lit(1))).collect(), runs)
    row = out.agg(
        F.count(F.lit(1)).alias("groups"),
        F.sum("n_dups").alias("total"),
        F.min("n_dups").alias("dmin"),
        F.max("n_dups").alias("dmax"),
        F.sum("keep_id").alias("keep_sum"),
    ).collect()[0]
    # family f's ids are {f, f+k, ..., f+9k} → min is f; sum of mins = k(k-1)/2
    print(json.dumps({
        "cell": "exact_dedup",
        "n_docs": n,
        "n_families": k,
        "sec": t,
        "exec": exec_,
        "groups": int(row["groups"]),
        "exact": bool(
            row["groups"] == k
            and row["total"] == n
            and row["dmin"] == 10
            and row["dmax"] == 10
            and row["keep_sum"] == k * (k - 1) // 2
        ),
    }))


def novelty_cell(n: int, runs: int) -> None:
    """novelty_stats decade cell, on the exact-dedup family corpus shape
    (N docs, N/10 ten-member families; 13-token family text = 10 distinct
    4-grams: 5 family-keyed + 5 corpus-universal). Closed-form ownership:
    doc 0 owns all 10 of its grams (incl. the universal five), docs
    1..k-1 own their 5 family grams, later family members own nothing —
    asserted as the exact histogram {10: 1, 5: k-1, 0: n-k}."""
    from pyspark.sql import SparkSession
    from pyspark.sql import functions as F

    from vectordb_from_scratch_spark.operators.dedup import novelty_stats

    spark = SparkSession.getActiveSession()
    assert n % 10 == 0
    k = n // 10
    fam = (F.col("id") % k).cast("string")
    docs = spark.range(n).select(
        F.col("id").alias("doc_id"),
        F.concat(
            F.lit("family document text payload "), fam,
            F.lit(" carrying shared words alpha beta gamma delta "), fam,
        ).alias("text"),
    )
    out = novelty_stats(docs, n=4)
    # time the n_novel histogram, not a bare count — a count-only sink
    # lets Catalyst prune the novelty columns out of the rollup
    t, exec_ = xm.timed_with_metrics(
        lambda: out.groupBy("n_novel").agg(F.count(F.lit(1))).collect(), runs
    )
    hist = {
        int(r["n_novel"]): int(r["c"])
        for r in out.groupBy("n_novel").agg(F.count(F.lit(1)).alias("c")).collect()
    }
    print(json.dumps({
        "cell": "ngram_novelty",
        "n_docs": n,
        "n_gram_rows": 10 * n,
        "sec": t,
        "exec": exec_,
        "exact": bool(hist == {10: 1, 5: k - 1, 0: n - k}),
    }))


def decontam_cell(n: int, runs: int) -> None:
    """decontamination_report decade cell — the "no corpus shuffle at all"
    claim measured: the eval side's distinct 4-gram digests broadcast and
    the N-doc train side is one map-side hash-join scan. Corpus: every
    doc carries 5 doc-unique tokens (its 4-grams collide with nothing);
    docs with id%10==0 append one 4-token phrase KEYED BY BLOCK
    (g = id//970), so each planted gram is shared by ~97 train docs and
    exactly ONE eval doc (id = 970g is always id%97==0). Contaminated
    train set is exactly {i : i%10==0, i%97!=0}, n_shared_grams = 1,
    n_eval_docs = 1 — all asserted.

    Corpus-design lesson (found the hard way at 100M): the first attempt
    used one UNIVERSAL phrase, making a single gram hot on both sides —
    the per-eval-doc attribution join fans out df_eval(g) × df_train(g)
    rows per gram, and 103k eval docs × 10M train docs built a ~10^12-row
    join. The hazard is documented on the operator; real benchmarks are
    the small-df shape this cell now models."""
    from pyspark.sql import SparkSession
    from pyspark.sql import functions as F

    from vectordb_from_scratch_spark.operators.dedup import decontamination_report

    spark = SparkSession.getActiveSession()
    sid = F.col("id").cast("string")
    uniq = F.concat_ws(
        " ", *[F.concat(F.lit(f"w{j}tok"), sid) for j in range(5)]
    )
    blk = (F.col("id") / 970).cast("long").cast("string")
    docs = spark.range(n).select(
        F.col("id").alias("doc_id"),
        F.when(
            F.col("id") % 10 == 0,
            F.concat(uniq, F.lit(" common contaminated phrase b"), blk),
        ).otherwise(uniq).alias("text"),
    )
    out = decontamination_report(docs, n=4, eval_mod=97)
    t, exec_ = xm.timed_with_metrics(lambda: out.agg(F.count(F.lit(1))).collect(), runs)
    row = out.agg(
        F.count(F.lit(1)).alias("rows"),
        F.min("n_shared_grams").alias("gmin"),
        F.max("n_shared_grams").alias("gmax"),
        F.min("n_eval_docs").alias("emin"),
        F.max("n_eval_docs").alias("emax"),
    ).collect()[0]
    expected_rows = sum(1 for i in range(0, n, 10) if i % 97 != 0)
    expected_eval = 1  # each block's phrase lives in exactly one eval doc
    print(json.dumps({
        "cell": "decontaminate",
        "n_train_docs": n - (n + 96) // 97,
        "n_eval_docs": (n + 96) // 97,
        "sec": t,
        "exec": exec_,
        "contaminated": int(row["rows"]),
        "exact": bool(
            row["rows"] == expected_rows
            and row["gmin"] == row["gmax"] == 1
            and row["emin"] == row["emax"] == expected_eval
        ),
    }))


def decontam_bloom_cell(n: int, runs: int) -> None:
    """Bloom-screened flag-only decontamination on the SAME corpus as
    decontam_cell, vs the unscreened flag-only baseline (r11). The
    screen's claim is that the corpus-side verify join input shrinks to
    bloom survivors while answers stay identical — both asserted: the
    contaminated set is the decontam_cell closed form, and the two legs
    are compared on bytes (the r9 rule)."""
    from pyspark.sql import SparkSession
    from pyspark.sql import functions as F

    from vectordb_from_scratch_spark.operators.dedup import (
        decontamination_report,
        decontamination_report_bloom,
    )

    spark = SparkSession.getActiveSession()
    sid = F.col("id").cast("string")
    uniq = F.concat_ws(
        " ", *[F.concat(F.lit(f"w{j}tok"), sid) for j in range(5)]
    )
    blk = (F.col("id") / 970).cast("long").cast("string")
    docs = spark.range(n).select(
        F.col("id").alias("doc_id"),
        F.when(
            F.col("id") % 10 == 0,
            F.concat(uniq, F.lit(" common contaminated phrase b"), blk),
        ).otherwise(uniq).alias("text"),
    )
    expected_rows = sum(1 for i in range(0, n, 10) if i % 97 != 0)
    for leg, mk in (
        ("decontaminate_bloom", lambda: decontamination_report_bloom(
            docs, n=4, eval_mod=97)),
        ("decontaminate_flagonly_base", lambda: decontamination_report(
            docs, n=4, eval_mod=97, attribution=False)),
    ):
        out = mk()
        t, exec_ = xm.timed_with_metrics(
            lambda o=out: o.agg(F.count(F.lit(1))).collect(), runs
        )
        row = out.agg(
            F.count(F.lit(1)).alias("rows"),
            F.min("n_shared_grams").alias("gmin"),
            F.max("n_shared_grams").alias("gmax"),
        ).collect()[0]
        print(json.dumps({
            "cell": leg,
            "n_docs": n,
            "sec": t,
            "exec": exec_,
            "contaminated": int(row["rows"]),
            "exact": bool(
                row["rows"] == expected_rows
                and row["gmin"] == row["gmax"] == 1
            ),
        }), flush=True)


def corpus_prep_cell(n: int, runs: int) -> None:
    """COMPOSED pipeline at scale (VERDICT r9 #7): guarded flag-only
    decontamination → Gopher repetition filter → exact-dedup keeper —
    the pipeline_corpus_prep_v2 shape with the guards ON, per-STAGE
    timing + exec bytes, and a closed-form survivor count. Every 100M
    cell before this measured a single operator; composition multiplies
    the retained-persist hazard the r9 novelty cell surfaced, so each
    stage materializes through one persisted intermediate (the
    single-session form of per-stage storage materialization at 100 TB).

    Corpus (the decontam_adversarial shape + a repetition channel):
      text(i) = uniq5(i) [+ block phrase if i%10==0] + universal phrase
                [+ 3 repeats of w0tok{i} if i%7==3]
    Closed form:
      - eval slice: i%97==0 (never in train)
      - decontam (max_eval_df=2, attribution=False): universal grams are
        eval-hot (df=|eval|) and CAPPED AWAY; block grams hit exactly 1
        eval doc each → every {i%10==0, i%97!=0} train doc drops; the
        i%7==3 repeat tail adds only id-unique grams (eval df 0)
      - repetition: clean docs have 10 distinct single-count tokens
        (top_token_share 0.1 ≤ 0.12 → keep); i%7==3 docs carry w0tok ×4
        of 13 tokens (0.3077 > 0.12 → drop); dup_token_frac 3/13 ≤ 0.65
        never trips alone
      - exact dedup: uniq5 is id-keyed, every text distinct → no drops
      survivors = #{i < n : i%97≠0, i%10≠0, i%7≠3}, counted over the
      lcm(97,10,7)=6790 residue cycle.
    """
    from pyspark.sql import SparkSession
    from pyspark.sql import functions as F

    from vectordb_from_scratch_spark.operators import textops
    from vectordb_from_scratch_spark.operators.dedup import (
        _track,
        decontamination_report,
        exact_dedup,
        release_caches,
    )

    spark = SparkSession.getActiveSession()
    sid = F.col("id").cast("string")
    uniq = F.concat_ws(
        " ", *[F.concat(F.lit(f"w{j}tok"), sid) for j in range(5)]
    )
    blk = (F.col("id") / 970).cast("long").cast("string")
    universal = F.lit(" universal planted boilerplate phrase here")
    rep_tail = F.concat(
        F.lit(" "),
        F.concat_ws(
            " ", *[F.concat(F.lit("w0tok"), sid) for _ in range(3)]
        ),
    )
    docs = spark.range(n).select(
        F.col("id").alias("doc_id"),
        F.concat(
            F.when(
                F.col("id") % 10 == 0,
                F.concat(uniq, F.lit(" common contaminated phrase b"), blk),
            ).otherwise(uniq),
            universal,
            F.when(F.col("id") % 7 == 3, rep_tail).otherwise(F.lit("")),
        ).alias("text"),
    )
    # closed-form survivor count over one residue cycle
    cycle = 6790  # lcm(97, 10, 7)
    per_cycle = sum(
        1 for i in range(cycle) if i % 97 and i % 10 and i % 7 != 3
    )
    expected = per_cycle * (n // cycle) + sum(
        1 for i in range(n - n % cycle, n) if i % 97 and i % 10 and i % 7 != 3
    )

    stages = {}
    # stage timings use ONE run regardless of `runs`: each stage
    # materializes a _track()-persisted intermediate, so a second run
    # would time the cache recount, and min-of-runs would report THAT
    # instead of the stage cost (r10 review)

    # stage 1: guarded flag-only decontamination → persisted train corpus
    flags = decontamination_report(
        docs, n=4, eval_mod=97, max_eval_df=2, attribution=False
    ).select("doc_id")
    train = _track(
        docs.filter(F.col("doc_id") % 97 != 0).join(flags, "doc_id", "left_anti")
    )
    stages["decontaminate_sec"], stages["decontaminate_exec"] = xm.timed_with_metrics(
        lambda: train.count(), 1
    )
    n_train = train.count()

    # stage 2: repetition filter over the persisted train corpus
    keep_rep = _track(
        textops.repetition_metrics(train)
        .filter(
            (F.col("top_token_share") <= 0.12)
            & (F.col("dup_token_frac") <= 0.65)
        )
        .select("doc_id")
    )
    stages["repetition_sec"], stages["repetition_exec"] = xm.timed_with_metrics(
        lambda: keep_rep.count(), 1
    )
    n_rep = keep_rep.count()

    # stage 3: exact-dedup keeper set + final intersection
    keep_dup = exact_dedup(train).select(F.col("keep_id").alias("doc_id"))
    final = keep_rep.join(keep_dup, "doc_id")
    stages["dedup_final_sec"], stages["dedup_final_exec"] = xm.timed_with_metrics(
        lambda: final.count(), 1
    )
    survivors = final.count()

    print(json.dumps({
        "cell": "corpus_prep_composed",
        "n_docs": n,
        "n_train_post_decontam": int(n_train),
        "n_post_repetition": int(n_rep),
        "survivors": int(survivors),
        "expected": expected,
        "exact": bool(survivors == expected),
        **stages,
    }), flush=True)
    release_caches()


def decontam_adversarial_cell(n: int, runs: int) -> None:
    """The EXACT corpus shape that built the ~10^12-row attribution join
    in the r8 100M cell — a universal phrase planted on EVERY doc, so its
    pure 4-grams are hot on both sides — now run WITH the hot-gram guard
    (VERDICT r8 #1): max_eval_df=2 drops the universal grams before the
    broadcast join; genuine block-keyed contamination (eval df = 1, the
    decontam_cell corpus) rides along and must survive the cap exactly.

    Closed form: contaminated train docs = {i : i%10==0, i%97!=0}, each
    sharing exactly 4 grams with exactly 1 eval doc (the block phrase
    plus the 3 block→universal boundary grams — boundary grams carry the
    block token, so they are block-keyed, not universal); pure universal
    grams number exactly 2 and the cap report must account for both at
    df = |eval slice|. The flag-only mode (attribution=False, no fan-out
    at ANY df) is timed on the same corpus with the same expected flags.
    """
    from pyspark.sql import SparkSession
    from pyspark.sql import functions as F

    from vectordb_from_scratch_spark.operators.dedup import (
        decontamination_cap_report,
        decontamination_report,
    )

    spark = SparkSession.getActiveSession()
    sid = F.col("id").cast("string")
    uniq = F.concat_ws(
        " ", *[F.concat(F.lit(f"w{j}tok"), sid) for j in range(5)]
    )
    blk = (F.col("id") / 970).cast("long").cast("string")
    universal = F.lit(" universal planted boilerplate phrase here")
    docs = spark.range(n).select(
        F.col("id").alias("doc_id"),
        F.concat(
            F.when(
                F.col("id") % 10 == 0,
                F.concat(uniq, F.lit(" common contaminated phrase b"), blk),
            ).otherwise(uniq),
            universal,
        ).alias("text"),
    )
    n_eval = (n + 96) // 97
    rep = decontamination_cap_report(
        docs, n=4, eval_mod=97, max_eval_df=2
    )
    cap_exact = (
        rep["grams_dropped"] == 2
        and rep["eval_rows_dropped"] == 2 * n_eval
        and rep["max_eval_df_seen"] == n_eval
    )
    print(json.dumps({"cell": "decontam_adversarial_cap_report",
                      **rep, "exact": bool(cap_exact)}), flush=True)
    expected_rows = sum(1 for i in range(0, n, 10) if i % 97 != 0)
    for mode, kw in (("attr", {}), ("flagonly", {"attribution": False})):
        out = decontamination_report(
            docs, n=4, eval_mod=97, max_eval_df=2, **kw
        )
        t, exec_ = xm.timed_with_metrics(
            lambda out=out: out.agg(F.count(F.lit(1))).collect(), runs
        )
        aggs = [
            F.count(F.lit(1)).alias("rows"),
            F.min("n_shared_grams").alias("gmin"),
            F.max("n_shared_grams").alias("gmax"),
        ]
        if mode == "attr":
            aggs += [F.min("n_eval_docs").alias("emin"),
                     F.max("n_eval_docs").alias("emax")]
        row = out.agg(*aggs).collect()[0]
        exact = (
            row["rows"] == expected_rows
            and row["gmin"] == row["gmax"] == 4
            and (mode != "attr" or row["emin"] == row["emax"] == 1)
        )
        print(json.dumps({
            "cell": f"decontam_adversarial_{mode}",
            "n_train_docs": n - n_eval,
            "n_eval_docs": n_eval,
            "sec": t,
            "exec": exec_,
            "contaminated": int(row["rows"]),
            "exact": bool(exact),
        }), flush=True)


def media_cell(n: int, runs: int) -> None:
    """Multimodal decade cell (r9): N spec-valid BMP payloads synthesized
    in-plan (numpy raster per doc, this repo's own encoder), pushed
    through the format-DISPATCHING resize stage (magic sniff → real BMP
    decode → nearest-neighbor resize to 4×3 → per-channel integer
    stats). Exactness is the closed form of the grand pixel sum: source
    sizes cycle with period 24 in doc id and values with period 256
    (gcd(13, 256) = 1), so the per-doc channel sums repeat with period
    lcm(24, 256) = 1536 — the expected total is one 1536-step Python
    loop plus a multiply, asserted against the measured Σ px_sum.
    Arrow-batched narrow map end-to-end: no shuffle anywhere in the
    stats plan; throughput is the decode+resize kernel itself."""
    from pyspark.sql import SparkSession
    from pyspark.sql import functions as F

    from vectordb_from_scratch_spark.operators.multimodal import (
        encode_bmp,
        media_resize_stats,
        resize_nearest,
    )

    spark = SparkSession.getActiveSession()
    out_w, out_h = 4, 3

    def synth(batches):
        import numpy as np
        import pandas as pd

        for pdf in batches:
            payloads = []
            for doc_id in pdf["id"]:
                i = int(doc_id)
                w, h = 3 + i % 8, 2 + (i * 5) % 6
                yy, xx, cc = np.ogrid[0:h, 0:w, 0:3]
                arr = ((i * 13 + yy * 7 + xx * 3 + cc * 101) % 256).astype(
                    np.uint8
                )
                payloads.append(encode_bmp(arr.tobytes(), w, h))
            yield pd.DataFrame({"doc_id": pdf["id"], "payload": payloads})

    payloads = spark.range(n).mapInPandas(
        synth, schema="doc_id long, payload binary"
    )
    out = media_resize_stats(payloads, out_w=out_w, out_h=out_h)
    t, exec_ = xm.timed_with_metrics(lambda: out.agg(F.sum("px_sum")).collect(), runs)
    row = out.agg(
        F.sum("px_sum").alias("s"), F.count(F.lit(1)).alias("rows")
    ).collect()[0]

    # closed-form expected grand sum via the period-1536 residue loop,
    # computed through the SAME resize mapping (floor) the operator uses
    import numpy as np

    period = 1536
    per_residue = []
    for i in range(period):
        w, h = 3 + i % 8, 2 + (i * 5) % 6
        yy, xx, cc = np.ogrid[0:h, 0:w, 0:3]
        arr = ((i * 13 + yy * 7 + xx * 3 + cc * 101) % 256).astype(np.uint8)
        res = resize_nearest(arr.tobytes(), w, h, 3, out_w, out_h)
        per_residue.append(int(np.frombuffer(res, np.uint8).astype(np.int64).sum()))
    expected = (n // period) * sum(per_residue) + sum(per_residue[: n % period])
    print(json.dumps({
        "cell": "media_resize_bmp",
        "n_payloads": n,
        "out_grid": f"{out_w}x{out_h}",
        "sec": t,
        "exec": exec_,
        "sum_px": int(row["s"]),
        "rows": int(row["rows"]),
        "exact": bool(row["s"] == expected and row["rows"] == 3 * n),
    }), flush=True)


def media_video_cell(n: int, runs: int) -> None:
    """Video through the mixed-media normalize stage at scale (VERDICT
    r9 #4): N spec-valid AVI-MJPEG payloads (2-4 grayscale flat-8×8-
    block baseline-JPEG frames each — the bit-exact JPEG profile the
    registry oracle pins) synthesized in-plan, pushed through
    media_resize_stats' video branch (RIFF/'AVI ' sniff → per-frame full
    JPEG decode → nearest resize to 4×3 → stats POOLED across frames).
    Exactness: frame values depend on (i mod 256, i mod 2, i mod 3), so
    per-doc pooled sums repeat with period 768; the expected grand sum
    replays the same floor-mapping resize analytically (the JPEG round
    trip is exact by construction and pinned by the registry oracle, so
    using raw values here is not circular for the container/codec
    plumbing this cell times). Narrow Arrow map, no shuffle: the cost IS
    the per-frame entropy decode, the heaviest Python kernel in the
    media family."""
    from pyspark.sql import SparkSession
    from pyspark.sql import functions as F

    from vectordb_from_scratch_spark.operators.multimodal import (
        encode_avi_mjpeg,
        encode_jpeg_gray,
        media_resize_stats,
        resize_nearest,
    )

    spark = SparkSession.getActiveSession()
    out_w, out_h = 4, 3

    def synth(batches):
        import pandas as pd

        for pdf in batches:
            payloads = []
            for doc_id in pdf["id"]:
                i = int(doc_id)
                nf = 2 + i % 3
                w = h = 8 * (1 + i % 2)
                frames = []
                for f in range(nf):
                    px = bytes(
                        (i * 23 + f * 41 + (y // 8) * 13 + (x // 8) * 17) % 256
                        for y in range(h) for x in range(w)
                    )
                    frames.append(encode_jpeg_gray(px, w, h))
                payloads.append(encode_avi_mjpeg(frames, w, h))
            yield pd.DataFrame({"doc_id": pdf["id"], "payload": payloads})

    payloads = spark.range(n).mapInPandas(
        synth, schema="doc_id long, payload binary"
    )
    out = media_resize_stats(payloads, out_w=out_w, out_h=out_h)
    t, exec_ = xm.timed_with_metrics(lambda: out.agg(F.sum("px_sum")).collect(), runs)
    row = out.agg(
        F.sum("px_sum").alias("s"),
        F.count(F.lit(1)).alias("rows"),
        F.sum("n_pixels").alias("npx"),
    ).collect()[0]

    import numpy as np

    period = 768  # lcm(256, 2, 3)
    per_residue, per_frames = [], []
    for i in range(period):
        nf = 2 + i % 3
        w = h = 8 * (1 + i % 2)
        tot = 0
        for f in range(nf):
            yy, xx = np.ogrid[0:h, 0:w]
            arr = ((i * 23 + f * 41 + (yy // 8) * 13 + (xx // 8) * 17) % 256
                   ).astype(np.uint8)
            res = resize_nearest(arr.tobytes(), w, h, 1, out_w, out_h)
            tot += int(np.frombuffer(res, np.uint8).astype(np.int64).sum())
        per_residue.append(tot)
        per_frames.append(nf)
    expected = (n // period) * sum(per_residue) + sum(per_residue[: n % period])
    exp_npx = out_w * out_h * (
        (n // period) * sum(per_frames) + sum(per_frames[: n % period])
    )
    print(json.dumps({
        "cell": "media_resize_video",
        "n_payloads": n,
        "out_grid": f"{out_w}x{out_h}",
        "sec": t,
        "exec": exec_,
        "sum_px": int(row["s"]),
        "rows": int(row["rows"]),
        "exact": bool(
            row["s"] == expected and row["rows"] == n and row["npx"] == exp_npx
        ),
    }), flush=True)


def media_jpeg_progressive_cell(n: int, runs: int) -> None:
    """Progressive-JPEG decade cell (VERDICT r10 #3): N spec-valid SOF2
    payloads (libjpeg default scan script — DC first/refine + AC
    first/refine all execute) synthesized in-plan from flat 8x8 blocks
    and decoded through jpeg_pixel_stats' SOF2 delegation. Flat blocks
    quantize exactly (DC quant 8), so the expected grand pixel sum is a
    period-768 analytic replay (block values depend on i mod 256, block
    grid on i mod 3). Narrow Arrow map, no shuffle: the cost IS the
    multi-scan entropy accumulator, the heaviest per-payload kernel in
    the media family."""
    import numpy as np
    from pyspark.sql import SparkSession
    from pyspark.sql import functions as F

    from vectordb_from_scratch_spark.operators.multimodal import (
        encode_jpeg_progressive,
        jpeg_pixel_stats,
    )

    spark = SparkSession.getActiveSession()

    def synth(batches):
        import pandas as pd

        for pdf in batches:
            payloads = []
            for doc_id in pdf["id"]:
                i = int(doc_id)
                bw, bh = 1 + i % 3, 1 + (i * 2) % 3
                w, h = 8 * bw, 8 * bh
                px = bytes(
                    (i * 41 + (y // 8) * 19 + (x // 8) * 29) % 256
                    for y in range(h) for x in range(w)
                )
                payloads.append(encode_jpeg_progressive(px, w, h))
            yield pd.DataFrame({"doc_id": pdf["id"], "payload": payloads})

    payloads = spark.range(n).mapInPandas(
        synth, schema="doc_id long, payload binary"
    )
    out = jpeg_pixel_stats(payloads)
    t, exec_ = xm.timed_with_metrics(lambda: out.agg(F.sum("px_sum")).collect(), runs)
    row = out.agg(
        F.sum("px_sum").alias("s"), F.count(F.lit(1)).alias("rows"),
        F.sum("n_pixels").alias("npx"),
    ).collect()[0]

    period = 768  # lcm(256, 3)
    per_residue, per_npx = [], []
    for i in range(period):
        bw, bh = 1 + i % 3, 1 + (i * 2) % 3
        rr, cc = np.ogrid[0:bh, 0:bw]
        blocks = (i * 41 + rr * 19 + cc * 29) % 256
        per_residue.append(64 * int(blocks.sum()))
        per_npx.append(64 * bw * bh)
    expected = (n // period) * sum(per_residue) + sum(per_residue[: n % period])
    exp_npx = (n // period) * sum(per_npx) + sum(per_npx[: n % period])
    print(json.dumps({
        "cell": "media_jpeg_progressive",
        "n_payloads": n,
        "sec": t,
        "exec": exec_,
        "sum_px": int(row["s"]),
        "rows": int(row["rows"]),
        "exact": bool(
            row["s"] == expected and row["rows"] == n and row["npx"] == exp_npx
        ),
    }), flush=True)


def media_png_interlaced_cell(n: int, runs: int) -> None:
    """Adam7 interlaced PNG decade cell (VERDICT r10 #3): N spec-valid
    interlaced PNGs (seven-pass layout, scanline filters cycling through
    all five types within each pass) decoded through png_pixel_stats.
    PNG is lossless, so the expected grand sum is a period-256 analytic
    replay (all geometry/value params are functions of i mod 256).
    Narrow Arrow map, no shuffle."""
    import numpy as np
    from pyspark.sql import SparkSession
    from pyspark.sql import functions as F

    from vectordb_from_scratch_spark.operators.multimodal import (
        encode_png,
        png_pixel_stats,
    )

    spark = SparkSession.getActiveSession()

    def synth(batches):
        import pandas as pd

        for pdf in batches:
            payloads = []
            for doc_id in pdf["id"]:
                i = int(doc_id)
                w, h, ch = 4 + i % 8, 4 + (i * 3) % 8, [1, 3, 2, 4][i % 4]
                px = bytes(
                    (i * 43 + r * 11 + c * 17 + k * 89) % 256
                    for r in range(h) for c in range(w) for k in range(ch)
                )
                payloads.append(encode_png(px, w, h, ch, interlace=True))
            yield pd.DataFrame({"doc_id": pdf["id"], "payload": payloads})

    payloads = spark.range(n).mapInPandas(
        synth, schema="doc_id long, payload binary"
    )
    out = png_pixel_stats(payloads)
    t, exec_ = xm.timed_with_metrics(lambda: out.agg(F.sum("px_sum")).collect(), runs)
    row = out.agg(
        F.sum("px_sum").alias("s"), F.count(F.lit(1)).alias("rows")
    ).collect()[0]

    period = 256
    per_residue, per_rows = [], []
    for i in range(period):
        w, h, ch = 4 + i % 8, 4 + (i * 3) % 8, [1, 3, 2, 4][i % 4]
        rr, cc, kk = np.ogrid[0:h, 0:w, 0:ch]
        per_residue.append(int(((i * 43 + rr * 11 + cc * 17 + kk * 89) % 256).sum()))
        per_rows.append(ch)
    expected = (n // period) * sum(per_residue) + sum(per_residue[: n % period])
    exp_rows = (n // period) * sum(per_rows) + sum(per_rows[: n % period])
    print(json.dumps({
        "cell": "media_png_interlaced",
        "n_payloads": n,
        "sec": t,
        "exec": exec_,
        "sum_px": int(row["s"]),
        "rows": int(row["rows"]),
        "exact": bool(row["s"] == expected and row["rows"] == exp_rows),
    }), flush=True)


def media_png16_cell(n: int, runs: int) -> None:
    """16-bit PNG decade cell (VERDICT r10 #3): N spec-valid 16-bit
    big-endian PNGs spanning the full sample range, decoded through
    png_pixel_stats with the deterministic high-byte (v >> 8) reduction.
    Expected grand sum is a period-256 analytic replay of
    ((i%256)*257 + r*1031 + c*2053 + k*4099) % 65536 >> 8."""
    import numpy as np
    from pyspark.sql import SparkSession
    from pyspark.sql import functions as F

    from vectordb_from_scratch_spark.operators.multimodal import (
        encode_png,
        png_pixel_stats,
    )

    spark = SparkSession.getActiveSession()

    def synth(batches):
        import numpy as np
        import pandas as pd

        for pdf in batches:
            payloads = []
            for doc_id in pdf["id"]:
                i = int(doc_id)
                w, h, ch = 4 + i % 8, 4 + (i * 3) % 8, [1, 3, 2, 4][i % 4]
                rr, cc, kk = np.ogrid[0:h, 0:w, 0:ch]
                v16 = ((i % 256) * 257 + rr * 1031 + cc * 2053 + kk * 4099) % 65536
                payloads.append(encode_png(
                    v16.astype(">u2").tobytes(), w, h, ch, bit_depth=16
                ))
            yield pd.DataFrame({"doc_id": pdf["id"], "payload": payloads})

    payloads = spark.range(n).mapInPandas(
        synth, schema="doc_id long, payload binary"
    )
    out = png_pixel_stats(payloads)
    t, exec_ = xm.timed_with_metrics(lambda: out.agg(F.sum("px_sum")).collect(), runs)
    row = out.agg(
        F.sum("px_sum").alias("s"), F.count(F.lit(1)).alias("rows")
    ).collect()[0]

    period = 256
    per_residue, per_rows = [], []
    for i in range(period):
        w, h, ch = 4 + i % 8, 4 + (i * 3) % 8, [1, 3, 2, 4][i % 4]
        rr, cc, kk = np.ogrid[0:h, 0:w, 0:ch]
        v16 = ((i % 256) * 257 + rr * 1031 + cc * 2053 + kk * 4099) % 65536
        per_residue.append(int((v16 >> 8).sum()))
        per_rows.append(ch)
    expected = (n // period) * sum(per_residue) + sum(per_residue[: n % period])
    exp_rows = (n // period) * sum(per_rows) + sum(per_rows[: n % period])
    print(json.dumps({
        "cell": "media_png_16bit",
        "n_payloads": n,
        "sec": t,
        "exec": exec_,
        "sum_px": int(row["s"]),
        "rows": int(row["rows"]),
        "exact": bool(row["s"] == expected and row["rows"] == exp_rows),
    }), flush=True)


def media_rawdib_cell(n: int, runs: int) -> None:
    """Raw-DIB (BI_RGB) AVI decade cell (VERDICT r10 #3): N spec-valid
    uncompressed AVIs (24-bit bottom-up BGR '00db' frames with 4-byte row
    padding) decoded through avi_frame_stats' strf-routed raw branch.
    Raw DIB is a pure layout transform — lossless — so the expected
    grand sum is a period-256 analytic replay with arbitrary per-pixel
    patterns (no flat-block lever needed)."""
    import numpy as np
    from pyspark.sql import SparkSession
    from pyspark.sql import functions as F

    from vectordb_from_scratch_spark.operators.multimodal import (
        avi_frame_stats,
        encode_avi_rawdib,
    )

    spark = SparkSession.getActiveSession()

    def synth(batches):
        import numpy as np
        import pandas as pd

        for pdf in batches:
            payloads = []
            for doc_id in pdf["id"]:
                i = int(doc_id)
                w, h, nf = 3 + i % 4, 2 + (i * 7) % 4, 1 + i % 2
                frames = []
                for f in range(nf):
                    yy, xx, kk = np.ogrid[0:h, 0:w, 0:3]
                    arr = (i * 29 + f * 37 + yy * 11 + xx * 5 + kk * 71) % 256
                    frames.append(arr.astype(np.uint8).tobytes())
                payloads.append(encode_avi_rawdib(frames, w, h))
            yield pd.DataFrame({"doc_id": pdf["id"], "payload": payloads})

    payloads = spark.range(n).mapInPandas(
        synth, schema="doc_id long, payload binary"
    )
    out = avi_frame_stats(payloads)
    t, exec_ = xm.timed_with_metrics(lambda: out.agg(F.sum("px_sum")).collect(), runs)
    row = out.agg(
        F.sum("px_sum").alias("s"), F.count(F.lit(1)).alias("rows"),
        F.sum(F.lit(1)).alias("_"),
    ).collect()[0]

    period = 256
    per_residue, per_rows, per_frames = [], [], []
    for i in range(period):
        w, h, nf = 3 + i % 4, 2 + (i * 7) % 4, 1 + i % 2
        tot = 0
        for f in range(nf):
            yy, xx, kk = np.ogrid[0:h, 0:w, 0:3]
            tot += int(((i * 29 + f * 37 + yy * 11 + xx * 5 + kk * 71) % 256).sum())
        per_residue.append(tot)
        per_rows.append(nf * 3)  # one row per (frame, channel)
        per_frames.append(nf)
    expected = (n // period) * sum(per_residue) + sum(per_residue[: n % period])
    exp_rows = (n // period) * sum(per_rows) + sum(per_rows[: n % period])
    n_frames = (n // period) * sum(per_frames) + sum(per_frames[: n % period])
    print(json.dumps({
        "cell": "media_video_rawdib",
        "n_payloads": n,
        "n_frames": n_frames,
        "sec": t,
        "exec": exec_,
        "sum_px": int(row["s"]),
        "rows": int(row["rows"]),
        "exact": bool(row["s"] == expected and row["rows"] == exp_rows),
    }), flush=True)


def media_wav24_cell(n: int, runs: int) -> None:
    """24-bit PCM WAV decade cell (r11 codec): N payloads spanning the
    full ±2^23 range decoded through wav_audio_stats. Lossless 3-byte
    sign extension → period-256 analytic replay of the sample pattern."""
    import numpy as np
    from pyspark.sql import SparkSession
    from pyspark.sql import functions as F

    from vectordb_from_scratch_spark.operators.multimodal import (
        encode_wav,
        wav_audio_stats,
    )

    spark = SparkSession.getActiveSession()

    def synth(batches):
        import pandas as pd

        for pdf in batches:
            payloads = []
            for doc_id in pdf["id"]:
                i = int(doc_id)
                nch, nframes = 1 + i % 2, 40 + i % 16
                samples = [
                    (((i % 256) * 8191 + f * 524287 + ch * 131071) % 16777216)
                    - 8388608
                    for f in range(nframes) for ch in range(nch)
                ]
                payloads.append(encode_wav(samples, 16000, nch, bits=24))
            yield pd.DataFrame({"doc_id": pdf["id"], "payload": payloads})

    payloads = spark.range(n).mapInPandas(
        synth, schema="doc_id long, payload binary"
    )
    out = wav_audio_stats(payloads)
    # grand totals in DECIMAL(38,0): per-channel sq_sum is ~4e15 for
    # 24-bit audio, so a long grand sum overflows past ~2k payloads —
    # decimal keeps the exactness assert integer-exact at every decade
    sq_dec = F.sum(F.col("sq_sum").cast("decimal(38,0)"))
    amp_dec = F.sum(F.col("amp_sum").cast("decimal(38,0)"))
    t, exec_ = xm.timed_with_metrics(lambda: out.agg(sq_dec).collect(), runs)
    row = out.agg(
        amp_dec.alias("s"), sq_dec.alias("sq"),
        F.count(F.lit(1)).alias("rows"),
    ).collect()[0]

    period = 256
    per_sum, per_sq, per_rows = [], [], []
    for i in range(period):
        nch, nframes = 1 + i % 2, 40 + i % 16
        ff, cc = np.ogrid[0:nframes, 0:nch]
        v = ((((i % 256) * 8191 + ff * 524287 + cc * 131071) % 16777216)
             - 8388608).astype(np.int64)
        per_sum.append(int(v.sum()))
        per_sq.append(int((v * v).sum()))
        per_rows.append(nch)
    exp_s = (n // period) * sum(per_sum) + sum(per_sum[: n % period])
    exp_sq = (n // period) * sum(per_sq) + sum(per_sq[: n % period])
    exp_rows = (n // period) * sum(per_rows) + sum(per_rows[: n % period])
    print(json.dumps({
        "cell": "media_wav24",
        "n_payloads": n,
        "sec": t,
        "exec": exec_,
        "rows": int(row["rows"]),
        "exact": bool(
            int(row["s"]) == exp_s and int(row["sq"]) == exp_sq
            and row["rows"] == exp_rows
        ),
    }), flush=True)


def media_wav_adpcm_cell(n: int, runs: int) -> None:
    """IMA-ADPCM WAV decade cell (r11 codec): N compressed payloads
    (deterministic nibble streams, mono+stereo) decoded through the
    vectorized numpy state machine in wav_audio_stats. The expected
    totals come from a period-256 replay through an INDEPENDENT scalar
    spec decoder (the same twin the unit tests pin), so at-scale
    aggregation exactness is asserted against a second implementation,
    not the decoder under test."""
    from pyspark.sql import SparkSession
    from pyspark.sql import functions as F

    from vectordb_from_scratch_spark.operators.multimodal import (
        _IMA_INDEX_TABLE,
        _IMA_STEP_TABLE,
        encode_wav_ima_adpcm,
        wav_audio_stats,
    )

    spark = SparkSession.getActiveSession()

    def params(i: int):
        nch = 1 + i % 2
        nnib = 8 * (3 + i % 4)
        preds = [(((i % 256) * 131 + ch * 59) % 65536) - 32768
                 for ch in range(nch)]
        idxs = [((i % 256) * 7 + ch * 13) % 89 for ch in range(nch)]
        nibs = [[(i * 13 + ch * 5 + p * 11) % 16 for p in range(nnib)]
                for ch in range(nch)]
        return nch, preds, idxs, nibs

    def synth(batches):
        import pandas as pd

        for pdf in batches:
            payloads = []
            for doc_id in pdf["id"]:
                nch, preds, idxs, nibs = params(int(doc_id))
                payloads.append(encode_wav_ima_adpcm(
                    [{"pred": preds, "idx": idxs, "nibbles": nibs}], 8000, nch
                ))
            yield pd.DataFrame({"doc_id": pdf["id"], "payload": payloads})

    payloads = spark.range(n).mapInPandas(
        synth, schema="doc_id long, payload binary"
    )
    out = wav_audio_stats(payloads)
    # grand totals in DECIMAL(38,0): per-channel sq_sum is ~4e15 for
    # 24-bit audio, so a long grand sum overflows past ~2k payloads —
    # decimal keeps the exactness assert integer-exact at every decade
    sq_dec = F.sum(F.col("sq_sum").cast("decimal(38,0)"))
    amp_dec = F.sum(F.col("amp_sum").cast("decimal(38,0)"))
    t, exec_ = xm.timed_with_metrics(lambda: out.agg(sq_dec).collect(), runs)
    row = out.agg(
        amp_dec.alias("s"), sq_dec.alias("sq"),
        F.count(F.lit(1)).alias("rows"),
    ).collect()[0]

    def ref_decode(pred, idx, nibs):
        out_s = [pred]
        for nb in nibs:
            step = _IMA_STEP_TABLE[idx]
            diff = (step >> 3)
            if nb & 1:
                diff += step >> 2
            if nb & 2:
                diff += step >> 1
            if nb & 4:
                diff += step
            pred = pred - diff if nb & 8 else pred + diff
            pred = max(-32768, min(32767, pred))
            idx = max(0, min(88, idx + _IMA_INDEX_TABLE[nb & 7]))
            out_s.append(pred)
        return out_s

    period = 256  # every parameter above is a function of i mod 256
    per_sum, per_sq, per_rows = [], [], []
    for i in range(period):
        nch, preds, idxs, nibs = params(i)
        tot = sq = 0
        for ch in range(nch):
            for v in ref_decode(preds[ch], idxs[ch], nibs[ch]):
                tot += v
                sq += v * v
        per_sum.append(tot)
        per_sq.append(sq)
        per_rows.append(nch)
    exp_s = (n // period) * sum(per_sum) + sum(per_sum[: n % period])
    exp_sq = (n // period) * sum(per_sq) + sum(per_sq[: n % period])
    exp_rows = (n // period) * sum(per_rows) + sum(per_rows[: n % period])
    print(json.dumps({
        "cell": "media_wav_adpcm",
        "n_payloads": n,
        "sec": t,
        "exec": exec_,
        "rows": int(row["rows"]),
        "exact": bool(
            int(row["s"]) == exp_s and int(row["sq"]) == exp_sq
            and row["rows"] == exp_rows
        ),
    }), flush=True)


def audio_normalize_cell(n: int, runs: int) -> None:
    """Audio-normalize decade cell (r11): N mixed-codec WAV payloads
    (cycling 16-bit PCM, G.711 mu-law, 24-bit PCM, A-law; mono+stereo;
    three rates) through wav_resample_stats — header codec dispatch →
    real decode → integer mono downmix → nearest resample to 16 kHz →
    stats. Expected totals are a period-768 (lcm(256,3)) numpy replay
    of the same deterministic definitions; grand sums in DECIMAL(38,0)
    (24-bit sq_sums overflow a long grand sum). Narrow Arrow map, no
    shuffle: the measured cost is decode + resample itself."""
    import numpy as np
    from pyspark.sql import SparkSession
    from pyspark.sql import functions as F

    from vectordb_from_scratch_spark.operators.multimodal import (
        _G711_ALAW_TABLE,
        _G711_ULAW_TABLE,
        encode_wav,
        encode_wav_g711,
        wav_resample_stats,
    )

    spark = SparkSession.getActiveSession()

    def synth(batches):
        import pandas as pd

        for pdf in batches:
            payloads = []
            for doc_id in pdf["id"]:
                i = int(doc_id)
                nch, nframes = 1 + i % 2, 40 + i % 16
                rate = [8000, 16000, 44100][i % 3]
                fam = i % 4
                if fam == 0:
                    payloads.append(encode_wav(
                        [(((i % 256) * 131 + f * 17 + ch * 59) % 65536)
                         - 32768
                         for f in range(nframes) for ch in range(nch)],
                        rate, nch, bits=16))
                elif fam == 2:
                    payloads.append(encode_wav(
                        [(((i % 256) * 65003 + f * 8191 + ch * 59)
                          % 16777216) - 8388608
                         for f in range(nframes) for ch in range(nch)],
                        rate, nch, bits=24))
                else:
                    payloads.append(encode_wav_g711(
                        [(i * 7 + f * 13 + ch * 29) % 256
                         for f in range(nframes) for ch in range(nch)],
                        rate, nch, law="ulaw" if fam == 1 else "alaw"))
            yield pd.DataFrame({"doc_id": pdf["id"], "payload": payloads})

    payloads = spark.range(n).mapInPandas(
        synth, schema="doc_id long, payload binary"
    )
    out = wav_resample_stats(payloads, target_rate=16000)
    sq_dec = F.sum(F.col("sq_sum").cast("decimal(38,0)"))
    amp_dec = F.sum(F.col("amp_sum").cast("decimal(38,0)"))
    t, exec_ = xm.timed_with_metrics(lambda: out.agg(sq_dec).collect(), runs)
    row = out.agg(
        amp_dec.alias("s"), sq_dec.alias("sq"),
        F.count(F.lit(1)).alias("rows"), F.sum("n_out").alias("nout"),
    ).collect()[0]

    ulaw = np.asarray(_G711_ULAW_TABLE, dtype=np.int64)
    alaw = np.asarray(_G711_ALAW_TABLE, dtype=np.int64)
    period = 768  # lcm(256, 3): rate cycles mod 3, everything else mod 256
    per_sum, per_sq, per_nout = [], [], []
    for i in range(period):
        nch, nframes = 1 + i % 2, 40 + i % 16
        rate = [8000, 16000, 44100][i % 3]
        fam = i % 4
        ff, cc = np.ogrid[0:nframes, 0:nch]
        if fam == 0:
            v = (((i % 256) * 131 + ff * 17 + cc * 59) % 65536) - 32768
        elif fam == 2:
            v = (((i % 256) * 65003 + ff * 8191 + cc * 59)
                 % 16777216) - 8388608
        elif fam == 1:
            v = ulaw[(i * 7 + ff * 13 + cc * 29) % 256]
        else:
            v = alaw[(i * 7 + ff * 13 + cc * 29) % 256]
        mono = np.floor_divide(v.astype(np.int64).sum(axis=1), nch)
        m = max(1, (nframes * 16000) // rate)
        out_v = mono[(np.arange(m) * nframes) // m]
        per_sum.append(int(out_v.sum()))
        per_sq.append(int((out_v * out_v).sum()))
        per_nout.append(m)
    exp_s = (n // period) * sum(per_sum) + sum(per_sum[: n % period])
    exp_sq = (n // period) * sum(per_sq) + sum(per_sq[: n % period])
    exp_nout = (n // period) * sum(per_nout) + sum(per_nout[: n % period])
    print(json.dumps({
        "cell": "media_audio_normalize",
        "n_payloads": n,
        "sec": t,
        "exec": exec_,
        "rows": int(row["rows"]),
        "exact": bool(
            int(row["s"]) == exp_s and int(row["sq"]) == exp_sq
            and row["rows"] == n and row["nout"] == exp_nout
        ),
    }), flush=True)


def image_neardup_cell(n: int, runs: int) -> None:
    """Image near-dup decade cells (r11), two legs over N BMPs in
    4-variant families (each variant perturbs exactly the one source
    pixel the (0,8) dHash grid cell samples, so intra-family hash
    distance is ≤ 1 bit — every intra-family pair is within radius 3 BY
    CONSTRUCTION and the 4-chunk pigeonhole guarantees detection):

    * `diverse` — per-(family, pixel) multiplicative-mix values give
      near-unique hashes (a heterogeneous photo-like corpus). Linear
      gradient patterns do NOT work here: the family offset cancels in
      the neighbor comparisons, so a first cut with r·rm + c·cm
      gradients collided 21M pairs at 100k images — structured
      synthetic pixels are adversarial for gradient hashes by
      construction. Asserts #(intra-family pairs) ==
      Σ C(family_size, 2) exactly; cross-family collisions are
      reported (deterministic, no closed form).
    * `selfsim_capped` — every family shares ONE gradient structure
      (logo/template corpora look like this), which concentrated chunk
      buckets into a measured ~1M-pair quadratic blowup at 10k images
      uncapped. This leg runs with max_bucket so the valve's cost and
      recall trade are on record; pair counts are reported, not
      asserted (capped recall is the documented trade)."""
    from pyspark.sql import SparkSession
    from pyspark.sql import functions as F

    from vectordb_from_scratch_spark.operators.multimodal import (
        encode_bmp,
        image_neardup_pairs,
    )

    spark = SparkSession.getActiveSession()

    def mk_synth(diverse: bool):
        def synth(batches):
            import numpy as np
            import pandas as pd

            for pdf in batches:
                payloads = []
                for doc_id in pdf["id"]:
                    i = int(doc_id)
                    fam, v = i // 4, i % 4
                    w, h = 12 + fam % 7, 10 + (fam * 3) % 5
                    rr, cc = np.ogrid[0:h, 0:w]
                    if diverse:
                        mix = (
                            (fam ^ (rr * 73856093) ^ (cc * 19349663))
                            * 2654435761
                        ) % (1 << 32)
                        p = (mix >> 8) % 250
                    else:
                        p = (fam * 37 + rr * 11 + cc * 17) % 250
                    p = np.broadcast_to(p, (h, w)).copy()
                    pc = (8 * w) // 9
                    p[0, pc] = min(249, int(p[0, pc]) + 50 * v)
                    px = np.stack([p, p + 3, p + 6], axis=2).astype(np.uint8)
                    payloads.append(encode_bmp(px.tobytes(), w, h))
                yield pd.DataFrame({"doc_id": pdf["id"], "payload": payloads})

        return synth

    full, rem = divmod(n, 4)
    expected_intra = full * 6 + rem * (rem - 1) // 2
    for leg, diverse, cap in (
        ("image_neardup_diverse", True, None),
        ("image_neardup_selfsim_capped", False, 200),
    ):
        payloads = spark.range(n).mapInPandas(
            mk_synth(diverse), schema="doc_id long, payload binary"
        )
        pairs = image_neardup_pairs(payloads, max_hamming=3, max_bucket=cap)
        t, exec_ = xm.timed_with_metrics(
            lambda p=pairs: p.groupBy().count().collect(), runs
        )
        row = pairs.agg(
            F.count(F.lit(1)).alias("total"),
            F.sum(
                ((F.col("id_a") / 4).cast("long")
                 == (F.col("id_b") / 4).cast("long")).cast("long")
            ).alias("intra"),
        ).collect()[0]
        intra = int(row["intra"] or 0)
        out = {
            "cell": leg,
            "n_images": n,
            "max_bucket": cap,
            "sec": t,
            "exec": exec_,
            "pairs_total": int(row["total"]),
            "pairs_intra_family": intra,
            "pairs_cross_family": int(row["total"]) - intra,
        }
        if cap is None:
            out["exact"] = bool(intra == expected_intra)
        print(json.dumps(out), flush=True)


def heavy_hitters_cell(n: int, runs: int) -> None:
    """Misra-Gries heavy hitters at the corpus shape it exists for
    (r11): 10% of N rows spread over 50 hot items, 90% NEAR-UNIQUE tail
    — the typo/id/url dictionary explosion that makes exact vocabulary
    counting shuffle one row per distinct term. Two legs on the SAME
    corpus, adjudicated on bytes (the r9 rule):

    * sketch (capacity 4096): shuffle is p x capacity counter rows —
      INDEPENDENT of the ~0.9N distinct terms. Guarantee asserted
      exactly: every hot item present, with closed-form true count in
      [est, est + err_bound].
    * exact groupBy count(*) >= N/1000: the baseline that must move
      the whole tail through the exchange.
    """
    from pyspark.sql import SparkSession
    from pyspark.sql import functions as F

    from vectordb_from_scratch_spark.operators.sketches import heavy_hitters

    spark = SparkSession.getActiveSession()
    assert n % 500 == 0, "closed form needs 500 | n"
    items = spark.range(n).select(
        F.when(
            F.col("id") % 10 == 0,
            F.concat(F.lit("hot"), ((F.col("id") / 10).cast("long") % 50)
                     .cast("string")),
        ).otherwise(
            F.concat(F.lit("tail"), F.col("id").cast("string"))
        ).alias("item")
    )
    true_hot = n // 500  # occurrences of each of the 50 hot items

    hh = heavy_hitters(items, "item", capacity=4096, min_est=true_hot // 2)
    t, exec_ = xm.timed_with_metrics(lambda: hh.groupBy().count().collect(), runs)
    rows = {r["item"]: (int(r["est_count"]), int(r["err_bound"]))
            for r in hh.collect()}
    hot_ok = all(
        f"hot{i}" in rows
        and rows[f"hot{i}"][0] <= true_hot <= sum(rows[f"hot{i}"])
        for i in range(50)
    )
    sketch_exec = exec_
    print(json.dumps({
        "cell": "heavy_hitters_sketch",
        "n_rows": n,
        "n_distinct": 50 + (n - n // 10),
        "capacity": 4096,
        "sec": t,
        "exec": sketch_exec,
        "err_bound": rows[next(iter(rows))][1] if rows else None,
        "n_reported": len(rows),
        "exact": bool(hot_ok),
    }), flush=True)

    exact = (
        items.groupBy("item").agg(F.count(F.lit(1)).alias("c"))
        .filter(F.col("c") >= n // 1000)
    )
    t2, exec_ = xm.timed_with_metrics(lambda: exact.groupBy().count().collect(), runs)
    print(json.dumps({
        "cell": "heavy_hitters_exact_baseline",
        "n_rows": n,
        "sec": t2,
        "exec": exec_,
    }), flush=True)


def entropy_cell(n: int, runs: int) -> None:
    """char_entropy decade cell: N docs cycling through 16 fixed template
    strings (family = id % 16), so every output value is computable by
    running the SAME fold math in driver Python — min/max/count of each
    stat must match the 16 expected tuples exactly. Measures the Arrow
    kernel's narrow-scan throughput (no shuffle in the plan)."""
    import math
    from collections import Counter

    from pyspark.sql import SparkSession
    from pyspark.sql import functions as F

    from vectordb_from_scratch_spark.operators.textops import char_entropy

    spark = SparkSession.getActiveSession()
    templates = [
        f"template {'x' * (1 + k % 5)} body words number {k} "
        f"{'padding' * (k % 3)} tail segment {k * 17}"
        for k in range(16)
    ]

    def expect(text):
        cnt = Counter(text)
        m = len(text)
        ent = -sum((k / m) * math.log(k / m) for _, k in sorted(cnt.items())) + 0.0
        return round(ent, 6)

    exp_ents = sorted(expect(t) for t in templates)
    docs = spark.range(n).select(
        F.col("id").alias("doc_id"),
        F.element_at(
            F.array(*[F.lit(t) for t in templates]),
            (F.col("id") % 16 + 1).cast("int"),
        ).alias("text"),
    )
    out = char_entropy(docs)
    t, exec_ = xm.timed_with_metrics(lambda: out.agg(F.count(F.lit(1))).collect(), runs)
    got = (
        out.groupBy("entropy").agg(F.count(F.lit(1)).alias("c"))
        .orderBy("entropy").collect()
    )
    got_ents = sorted(r["entropy"] for r in got)
    total = sum(r["c"] for r in got)
    print(json.dumps({
        "cell": "char_entropy",
        "n_docs": n,
        "sec": t,
        "exec": exec_,
        "distinct_entropies": len(got),
        "exact": bool(
            total == n
            and len(got_ents) == len(set(exp_ents))
            and all(abs(a - b) < 1e-12 for a, b in zip(got_ents, sorted(set(exp_ents))))
        ),
    }))


def pmi_cell(n: int, runs: int) -> None:
    """collocations_pmi decade cell: N docs of a fixed 6-token template, so
    unigram/bigram counts are N·(per-template counts) and every PMI value
    has a closed form the cell asserts. Measures the two vocabulary-sized
    aggregations + broadcast-totals join at corpus scale."""
    import math

    from pyspark.sql import SparkSession
    from pyspark.sql import functions as F

    from vectordb_from_scratch_spark.operators.textops import collocations_pmi

    spark = SparkSession.getActiveSession()
    # per doc: tokens [a, b, a, b, c, d] → 6 tokens, 5 bigrams:
    # (a,b)x2, (b,a)x1, (b,c)x1, (c,d)x1
    docs = spark.range(n).select(
        F.col("id").alias("doc_id"), F.lit("a b a b c d").alias("text")
    )
    out = collocations_pmi(docs, min_count=5, top=10)
    t, exec_ = xm.timed_with_metrics(lambda: out.agg(F.count(F.lit(1))).collect(), runs)
    rows = {(r["w1"], r["w2"]): r for r in out.collect()}
    nu, nb = 6.0 * n, 5.0 * n

    def pmi(cab, ca, cb):
        return round(math.log((cab / nb) / ((ca / nu) * (cb / nu))), 6)

    want = {
        ("a", "b"): pmi(2 * n, 2 * n, 2 * n),
        ("b", "a"): pmi(1 * n, 2 * n, 2 * n),
        ("b", "c"): pmi(1 * n, 2 * n, 1 * n),
        ("c", "d"): pmi(1 * n, 1 * n, 1 * n),
    }
    print(json.dumps({
        "cell": "collocations_pmi",
        "n_docs": n,
        "n_tokens": 6 * n,
        "sec": t,
        "exec": exec_,
        "exact": bool(
            set(rows) == set(want)
            and all(rows[k]["pmi"] == want[k] for k in want)
        ),
    }))


def containment_cell(n: int, runs: int) -> None:
    """Round-8 cell for containment_pairs (prefix-filtered set-containment
    join): N/2 'short' docs, each quoted VERBATIM inside its 'long' twin
    (short text + 20-unique-token tail), and — the adversarial df-skew
    shape — a universal 7-token boilerplate footer in EVERY doc, so the
    hottest shingles have df = N. The rarest-first prefix ordering must
    route every probe through the df≤2 doc-unique shingles and never
    touch the universal ones; a naive (unordered) prefix would enumerate
    ~N²/prefix² candidate pairs through the universal buckets.

    Analytic exactness at threshold 0.9: the ONLY qualifying ordered
    pairs are (short_i → long_i) at containment exactly 1.0 —
    cross-doc sharing is the 5 universal shingles out of ≥13 (0.38),
    and long→short is 13/33 (0.39). Expect exactly N/2 rows, min =
    max = 1.0."""
    from pyspark.sql import SparkSession
    from pyspark.sql import functions as F

    from vectordb_from_scratch_spark.operators.dedup import (
        containment_pairs,
        release_caches,
    )

    spark = SparkSession.getActiveSession()
    assert n % 2 == 0, "containment cell needs an even N"
    half = n // 2
    sid = F.col("id").cast("string")
    uniq = F.concat_ws(
        " ",
        *[F.concat(F.lit(w), sid) for w in
          ("alpha", "beta", "gamma", "delta", "epsilon", "zeta", "eta", "theta")],
    )
    universal = F.lit("subscribe to our universal newsletter footer today")
    tail = F.concat_ws(
        " ", *[F.concat(F.lit(f"tail{j}_"), sid) for j in range(20)]
    )
    short = F.concat_ws(" ", uniq, universal)
    docs = spark.range(half).select(
        F.col("id").alias("doc_id"), short.alias("text")
    ).unionAll(
        spark.range(half).select(
            (F.col("id") + half).alias("doc_id"),
            F.concat_ws(" ", short, tail).alias("text"),
        )
    )
    # drop earlier cells' persisted tables: Spark's cache manager matches
    # by logical subtree, so a cached build could stand in for this one
    release_caches()
    out = containment_pairs(docs, threshold=0.9)
    t, exec_ = xm.timed_with_metrics(lambda: out.agg(F.count(F.lit(1))).collect(), runs)
    row = out.agg(
        F.count(F.lit(1)).alias("pairs"),
        F.min("containment").alias("cmin"),
        F.max("containment").alias("cmax"),
    ).collect()[0]
    print(json.dumps({
        "cell": "containment_pairs_agg",
        "n_docs": n,
        "universal_footer_df": n,
        "sec": t,
        "exec": exec_,
        "pairs": int(row["pairs"]),
        "expected_pairs": half,
        "exact": bool(
            row["pairs"] == half and row["cmin"] == 1.0 and row["cmax"] == 1.0
        ),
    }), flush=True)


def persisted_cell(n_corpus: int, n_delivery: int, runs: int) -> None:
    """The VERDICT-r8 decade cell: serve the warm incremental screen from
    a DISK-persisted index (save/load_corpus_dedup_index) — no session
    cache, the layout a standing 100-TB corpus actually keeps. Reports
    save (once-per-corpus, includes the documented cache-spill build),
    and the warm screen served purely from parquet. Exactness: the
    exact-verdict count is analytic (every id%3==0 delivery doc copies a
    corpus family verbatim); near vs fresh splits on banding recall,
    reported not asserted."""
    import shutil

    from pyspark.sql import SparkSession
    from pyspark.sql import functions as F

    from vectordb_from_scratch_spark.operators.dedup import (
        incremental_delivery_report,
        load_corpus_dedup_index,
        release_caches,
        save_corpus_dedup_index,
    )

    spark = SparkSession.getActiveSession()
    corpus, delivery = _family_tables(spark, n_corpus, n_delivery)
    path = "/tmp/dedup_idx_persisted_bench"
    shutil.rmtree(path, ignore_errors=True)

    t0 = time.monotonic()
    save_corpus_dedup_index(corpus, path)
    save_sec = round(time.monotonic() - t0, 3)
    release_caches()  # nothing of the build may serve the warm screen

    idx = load_corpus_dedup_index(spark, path)

    def counts():
        out = incremental_delivery_report(
            None, delivery, threshold=0.4, corpus_index=idx
        )
        got = {
            r["verdict"]: r["n"]
            for r in out.groupBy("verdict").agg(F.count(F.lit(1)).alias("n")).collect()
        }
        release_caches()  # the report _tracks delivery-sized tables per call
        return got

    warm_counts = counts()
    warm, exec_ = xm.timed_with_metrics(counts, runs)
    du = sum(
        os.path.getsize(os.path.join(dp, f))
        for dp, _, fs in os.walk(path) for f in fs
    )
    n_exact_expected = len([i for i in range(n_delivery) if i % 3 == 0])
    print(json.dumps({
        "cell": "dedup_incremental_persisted",
        "n_corpus": n_corpus, "n_delivery": n_delivery,
        "index_save_sec": save_sec,
        "index_bytes_on_disk": du,
        "warm_sec": warm,
        "warm_exec": exec_,
        "counts": warm_counts,
        "exact_verdicts_analytic": bool(
            warm_counts.get("exact", 0) == n_exact_expected
        ),
        "total_consistent": bool(sum(warm_counts.values()) == n_delivery),
    }))
    shutil.rmtree(path, ignore_errors=True)


def incremental_cells(n_corpus: int, n_delivery: int, runs: int) -> None:
    """Delivery-vs-corpus dedup screen: cold (corpus tables derived in
    the same job) vs warm (index prebuilt via build_corpus_dedup_index
    and persisted — the standing-corpus shape). The corpus is 10-member
    exact-dup families with family-specific vocabulary (so LSH buckets
    are family-sized, never corpus-sized); the delivery is 1/3 exact
    copies, 1/3 appended-tail near-dups, 1/3 fresh."""
    from pyspark.sql import SparkSession
    from pyspark.sql import functions as F

    from vectordb_from_scratch_spark.operators.dedup import (
        build_corpus_dedup_index,
        incremental_delivery_report,
        release_caches,
    )

    spark = SparkSession.getActiveSession()
    n_fam = n_corpus // 10

    def fam_text(fam_col):
        # every word carries the family id: families share NO shingles, so
        # LSH buckets are family-sized (an earlier template-similar corpus
        # shared 'body content segment' across families and produced 14M
        # cross-family candidates — the verify stage, correctly bounded by
        # candidates, became the whole cost; see SCALE.md note)
        f = fam_col.cast("string")
        return F.concat_ws(
            " ",
            F.concat(F.lit("alpha"), f), F.concat(F.lit("beta"), f),
            F.concat(F.lit("gamma"), f), F.concat(F.lit("delta"), f),
            F.concat(F.lit("epsilon"), f), F.concat(F.lit("zeta"), f),
            F.concat(F.lit("eta"), f), F.concat(F.lit("theta"), f),
        )

    corpus = spark.range(n_corpus).select(
        F.col("id").alias("doc_id"),
        fam_text(F.col("id") % n_fam).alias("text"),
    )
    delivery = spark.range(n_delivery).select(
        (F.col("id") + 10 * n_corpus).alias("doc_id"),
        F.when(F.col("id") % 3 == 0, fam_text(F.col("id")))
        .when(
            F.col("id") % 3 == 1,
            F.concat(fam_text(F.col("id")), F.lit(" appended tail words")),
        )
        .otherwise(
            F.concat(
                F.lit("entirely fresh delivery payload item "),
                F.col("id").cast("string"),
                F.lit(" carrying novel vocabulary tokens"),
            )
        )
        .alias("text"),
    )

    def counts(idx):
        out = incremental_delivery_report(
            corpus, delivery, threshold=0.4, corpus_index=idx
        )
        return {
            r["verdict"]: r["n"]
            for r in out.groupBy("verdict")
            .agg(F.count(F.lit(1)).alias("n"))
            .collect()
        }

    t0 = time.monotonic()
    cold_counts = counts(None)
    cold = round(time.monotonic() - t0, 3)

    t0 = time.monotonic()
    idx = build_corpus_dedup_index(corpus)
    for k in ("fingerprints", "bands", "shingles"):
        idx[k].count()  # materialize: the once-per-corpus cost
    build = round(time.monotonic() - t0, 3)

    warm, exec_ = xm.timed_with_metrics(lambda: counts(idx), runs)
    warm_counts = counts(idx)
    print(json.dumps({
        "cell": "dedup_incremental",
        "n_corpus": n_corpus, "n_delivery": n_delivery,
        "cold_sec": cold, "index_build_sec": build, "warm_sec": warm,
        "warm_exec": exec_,
        "counts": warm_counts,
        "consistent": bool(cold_counts == warm_counts),
    }))
    release_caches()


if __name__ == "__main__":
    # Sentinel protocol (VERDICT r8 #2): the r8 novelty 100M run died at
    # 94% disk but its exit code was read THROUGH `| tail`, which masked
    # the failure as 0. Exit codes piped through anything are unreliable;
    # the harness now emits an explicit final JSON line on BOTH paths, so
    # any log missing {"harness": "complete"} is a dead run, whatever the
    # pipeline claimed. (Invokers should also prefer `> file` + reading
    # the file over piping stdout.)
    try:
        rc = main()
    except BaseException as e:  # noqa: BLE001 — include KeyboardInterrupt/SystemExit
        print(json.dumps({
            "harness": "FAILED",
            "err": f"{type(e).__name__}: {e}",
        }), flush=True)
        raise
    print(json.dumps({"harness": "complete"}), flush=True)
    raise SystemExit(rc)
