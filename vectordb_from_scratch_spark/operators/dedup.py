"""Deduplication operators over the `documents` table — exact, MinHash+LSH,
and n-gram-Jaccard near-dup. Core LLM-training-pipeline operators
(BASELINE.json north star); absent from the reference (its only dedup is
upsert-by-id, src/storage.rs:156-161 — see operators/crud.py).

Scale design (the part that must survive 100 TB):
- exact dedup: md5 fingerprint → ONE hash-shuffle on the 32-byte digest
  (never on the raw text); min(doc_id) representative keeps output
  deterministic. Map-side partial aggregation halves the shuffle.
- MinHash+LSH near-dup: per-row signatures (narrow, codegen'd) →
  band-hash explode (rows × n_bands, each ~50 B) → self-join per band
  bucket → candidate pairs → exact Jaccard verify on ONLY the candidates.
  The quadratic blowup is confined inside a bucket; no all-pairs join
  ever happens. Skewed buckets (boilerplate docs) are the known hazard —
  AQE skew-join handles moderate skew; a bucket-size cap is the escape
  hatch for adversarial corpora.
- Jaccard verify joins the (persisted) distinct-shingle table to ONLY the
  candidate pairs, then scores them in an Arrow-batched set kernel with
  Spark-exact HALF_UP rounding — shingle arrays travel once, for
  candidates only, never for the full corpus cross product.
- hash-family operators (minhash/simhash/winnowing/jaccard) default to
  Arrow-batched hashlib/set kernels: BIT-IDENTICAL to their Column-
  expression forms (strategy="expr", the oracle's executable spec) and
  10-30× faster — Spark interprets higher-order lambdas per element.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..functions import text as X
from . import cache
from ..sources.tables import spread

__all__ = [
    "exact_dedup",
    "minhash_signatures",
    "lsh_candidate_pairs",
    "neardup_pairs",
    "ngram_jaccard_pairs",
    "simhash_fingerprints",
    "simhash_neardup_pairs",
    "embedding_neardup_pairs",
    "semantic_dedup",
    "connected_components",
    "shared_ngram_stats",
    "novelty_stats",
    "containment_pairs",
    "fragment_report",
    "substring_overlap_pairs",
    "paragraph_dedup",
    "incremental_delivery_report",
    "build_corpus_dedup_index",
    "decontamination_report",
    "decontamination_report_bloom",
    "decontamination_cap_report",
    "release_caches",
]

# Persisted intermediates (banded index, shingle table) register in the
# shared session cache registry (operators/cache.py) so one
# release_caches() reclaims every module's handles.
from .cache import release_caches  # noqa: F401  (re-exported in __all__)
from .cache import track as _track


def exact_dedup(documents: DataFrame, text_col: str = "text", id_col: str = "doc_id") -> DataFrame:
    """Exact duplicate groups: md5(normalized text) → (fingerprint,
    keep_id = min id, n_dups). Join back on keep_id to materialize the
    deduped corpus; here we return the group table (the interesting part)."""
    return (
        documents.select(F.col(id_col), X.fingerprint(text_col).alias("fingerprint"))
        .groupBy("fingerprint")
        .agg(
            F.min(id_col).alias("keep_id"),
            F.count(F.lit(1)).alias("n_dups"),
        )
    )


def _minhash_kernel(num_hashes: int, shingle_n: int, text_col: str, id_col: str):
    """Arrow-batched hashlib MinHash — VALUE-IDENTICAL to the expression
    path (md5 is md5; no float divergence like the knn numpy kernel), and
    ~15× faster measured at 100k docs (37s → 2.5s): interpreted HOF
    lambdas pay per-call overhead the C md5 loop doesn't."""
    import hashlib
    import re

    import pandas as pd

    ws = re.compile(r"\s+", re.ASCII)  # JVM \s is ASCII-only; match the expression path on U+00A0 etc.
    prefixes = [f"{h}:" for h in range(num_hashes)]

    def sig(text: str):
        toks = [t for t in ws.split(text.lower()) if t]
        if len(toks) < shingle_n:
            return [None] * num_hashes
        sh = [" ".join(toks[i:i + shingle_n]) for i in range(len(toks) - shingle_n + 1)]
        return [
            min(hashlib.md5((pre + s).encode()).hexdigest() for s in sh)
            for pre in prefixes
        ]

    def run(batches):
        for pdf in batches:
            yield pd.DataFrame({id_col: pdf[id_col], "sig": pdf[text_col].map(sig)})

    return run


def minhash_signatures(
    documents: DataFrame,
    num_hashes: int = 8,
    shingle_n: int = 3,
    text_col: str = "text",
    id_col: str = "doc_id",
    strategy: str = "kernel",
) -> DataFrame:
    """(id, sig array<string>) — md5-family MinHash over word shingles.
    Engine-portable (see functions/text.py) so the oracle reproduces it.

    strategy="kernel" (default): Arrow-batched hashlib implementation —
    bit-identical output, ~15× the expression path's throughput.
    strategy="expr": pure Column-expression form (the oracle's semantics
    spelled out JVM-side); kept as the executable spec and for
    environments where the Python worker path is undesirable.
    """
    if strategy == "kernel":
        return spread(documents).select(F.col(id_col), F.col(text_col)).mapInPandas(
            _minhash_kernel(num_hashes, shingle_n, text_col, id_col),
            schema=f"{id_col} long, sig array<string>",
        )
    # Stage the shingle array as a named column before fanning out into 8
    # min-hash folds: each F.transform re-evaluates its array argument, so
    # unstaged this would rebuild the shingles (and re-tokenize) per hash.
    # CollapseProject keeps the stage because "__sh" is expensive and
    # referenced num_hashes times.
    staged = spread(documents).select(
        F.col(id_col), X.word_shingles(text_col, n=shingle_n).alias("__sh")
    )
    return staged.select(
        F.col(id_col),
        X.minhash_sig(F.col("__sh"), num_hashes=num_hashes).alias("sig"),
    )


def _banded_keys(
    documents: DataFrame,
    num_hashes: int,
    bands: int,
    shingle_n: int,
    text_col: str,
    id_col: str,
) -> DataFrame:
    """(id, band_idx, band_key) — the banded-LSH index rows for a corpus:
    MinHash signature sliced into `bands` sub-signatures, each md5'd into
    a ~40-byte join key. Shared by the self-join candidate generator
    (lsh_candidate_pairs) and the delivery-vs-corpus incremental path
    (incremental_delivery_report); docs with fewer than shingle_n words
    carry no complete signature and emit no rows."""
    if num_hashes % bands != 0:
        raise ValueError("num_hashes must divide evenly into bands")
    rows_per_band = num_hashes // bands
    sigs = minhash_signatures(
        documents, num_hashes=num_hashes, shingle_n=shingle_n, text_col=text_col, id_col=id_col
    ).filter(F.size(F.filter(F.col("sig"), lambda x: x.isNotNull())) == F.lit(num_hashes))

    band_structs = F.array(
        *[
            F.struct(
                F.lit(b).alias("band_idx"),
                F.md5(
                    F.concat_ws(
                        "|", *[F.col("sig")[b * rows_per_band + r] for r in range(rows_per_band)]
                    )
                ).alias("band_key"),
            )
            for b in range(bands)
        ]
    )
    return sigs.select(F.col(id_col), F.explode(band_structs).alias("band")).select(
        F.col(id_col), F.col("band.band_idx").alias("band_idx"), F.col("band.band_key").alias("band_key")
    )


def _cap_buckets(banded: DataFrame, max_bucket_size: int) -> DataFrame:
    """Drop LSH buckets larger than max_bucket_size — the adversarial-
    corpus escape hatch (a B-member bucket yields B² pairs / B candidates
    per probe). Shared by the self-join, delivery, and streaming paths.
    No silent caps: _cap_report / lsh_cap_report quantify what a cap
    drops (a CollectMetrics Observation on the sized window was tried
    and rejected — under persisted parents or self-joined consumers the
    observed node reports an EMPTY metrics row, measured on Spark 4.1)."""
    from pyspark.sql import Window

    wb = Window.partitionBy("band_idx", "band_key")
    return (
        banded.withColumn("__bsz", F.count(F.lit(1)).over(wb))
        .filter(F.col("__bsz") <= max_bucket_size)
        .drop("__bsz")
    )


def _cap_report(banded: DataFrame, max_bucket_size: int) -> dict:
    """Exact accounting of the recall surface a bucket cap trades away,
    from a (id, band_idx, band_key) table: one dimension-keyed aggregate
    (bucket counts), eager, returning
      rows_dropped:    band rows removed
      buckets_dropped: distinct (band_idx, band_key) buckets removed
      pairs_dropped:   candidate pairs the self-join would have emitted
                       from those buckets (sum of C(B,2))."""
    over = (
        banded.groupBy("band_idx", "band_key")
        .agg(F.count(F.lit(1)).alias("b"))
        .filter(F.col("b") > max_bucket_size)
    )
    row = over.agg(
        F.coalesce(F.sum("b"), F.lit(0)).alias("rows_dropped"),
        F.count(F.lit(1)).alias("buckets_dropped"),
        F.coalesce(F.sum(F.col("b") * (F.col("b") - 1) / 2), F.lit(0.0)).alias(
            "pairs_dropped"
        ),
    ).first()
    return {
        "rows_dropped": int(row["rows_dropped"]),
        "buckets_dropped": int(row["buckets_dropped"]),
        "pairs_dropped": int(row["pairs_dropped"]),
    }


def lsh_cap_report(
    documents: DataFrame,
    num_hashes: int = 8,
    bands: int = 4,
    shingle_n: int = 3,
    text_col: str = "text",
    id_col: str = "doc_id",
    max_bucket_size: int = 0,
) -> dict:
    """What a `max_bucket_size` cap drops for this corpus + LSH config —
    the observability twin of lsh_candidate_pairs' cap (no silent caps,
    VERDICT r7 #6). Builds the SAME tracked banded-key plan as
    lsh_candidate_pairs, so a session that already ran the capped
    generator answers this from the session cache (one dimension-keyed
    aggregate over cached digests, no minhash recompute)."""
    if max_bucket_size <= 0:
        raise ValueError("max_bucket_size must be positive")
    banded = _track(
        _banded_keys(
            documents, num_hashes=num_hashes, bands=bands, shingle_n=shingle_n,
            text_col=text_col, id_col=id_col,
        )
    )
    return _cap_report(banded, max_bucket_size)


def lsh_candidate_pairs(
    documents: DataFrame,
    num_hashes: int = 8,
    bands: int = 4,
    shingle_n: int = 3,
    text_col: str = "text",
    id_col: str = "doc_id",
    max_bucket_size: int | None = None,
) -> DataFrame:
    """Banded-LSH candidate pairs (a < b). num_hashes/bands rows per band;
    a pair collides if ANY band's sub-signature matches exactly.

    Plan: sigs → explode to (id, band_idx, band_key=md5(join(slice))) →
    self-join on (band_idx, band_key) → distinct pairs. The join keys are
    ~40-byte strings; the self-join is per-bucket, never all-pairs.

    `max_bucket_size` is the adversarial-corpus escape hatch: a bucket of
    B members yields B² pairs, and boilerplate-heavy corpora (headers,
    license stubs) produce mega-buckets that would dominate the join.
    Capping drops those buckets entirely (their members are better found
    by exact dedup anyway); off by default so results stay oracle-exact.
    `lsh_cap_report` (same corpus + config) quantifies exactly what a
    cap value drops — the cap is never silent when the caller asks.
    """
    banded = _banded_keys(
        documents, num_hashes=num_hashes, bands=bands, shingle_n=shingle_n,
        text_col=text_col, id_col=id_col,
    )
    # The banded signature table IS the batch-built index (H4 analog): cache
    # it so the self-join's two sides don't each recompute the full
    # tokenize→shingle→minhash pipeline (Spark reuses no exchange across
    # self-join sides here). At scale this table is persisted to storage,
    # bucketed by band_key; MEMORY_AND_DISK is the local-session stand-in.
    banded = _track(banded)
    if max_bucket_size is not None:
        banded = _cap_buckets(banded, max_bucket_size)
    left = banded.alias("l")
    right = banded.alias("r")
    return (
        left.join(
            right,
            (F.col("l.band_idx") == F.col("r.band_idx"))
            & (F.col("l.band_key") == F.col("r.band_key"))
            & (F.col(f"l.{id_col}") < F.col(f"r.{id_col}")),
        )
        .select(F.col(f"l.{id_col}").alias("id_a"), F.col(f"r.{id_col}").alias("id_b"))
        .distinct()
    )


def _simhash_kernel(bits: int, text_col: str, id_col: str):
    """Arrow-batched hashlib SimHash — bit-identical to the expression path
    (same md5-word token hashes, same vote/pack rules, same signed-long
    packing for 64-bit), ~15-20× its throughput."""
    import hashlib
    import re

    import pandas as pd

    ws = re.compile(r"\s+", re.ASCII)  # JVM \s is ASCII-only; match the expression path on U+00A0 etc.
    n_words = 1 if bits == 16 else 4

    def fp(text: str):
        toks = [t for t in ws.split(text.lower()) if t]
        if not toks:
            return None
        digests = [hashlib.md5(t.encode()).hexdigest() for t in toks]
        pieces = []
        for w in range(n_words):
            hs = [int(d[4 * w:4 * w + 4], 16) for d in digests]
            s = 0
            for b in range(16):
                votes = sum(1 if (h >> b) & 1 else -1 for h in hs)
                if votes > 0:
                    s |= 1 << b
            pieces.append(s)
        packed = 0
        for w, s in enumerate(pieces):
            packed |= s << (16 * w)
        if bits == 64 and packed >= 1 << 63:  # match Spark's signed-long pattern
            packed -= 1 << 64
        return packed

    def run(batches):
        for pdf in batches:
            out = pd.DataFrame({id_col: pdf[id_col], "simhash": pdf[text_col].map(fp)})
            yield out[out["simhash"].notna()].astype({"simhash": "int64"})

    return run


def simhash_fingerprints(
    documents: DataFrame, text_col: str = "text", id_col: str = "doc_id",
    bits: int = 16,
    strategy: str = "kernel",
) -> DataFrame:
    """(id, simhash) SimHash fingerprints at 16 or 64 bits. Near-dups land
    at small Hamming distance; equal fingerprints are candidate duplicates
    that a groupBy(simhash) surfaces with one narrow shuffle.

    bits=16 is the oracle-checked form; bits=64 is the corpus-scale form
    (16 bits saturate past ~50k docs — see simhash_neardup_pairs): four
    independent 16-bit simhashes over words 0-3 of each token's md5,
    packed into one long. Staged projections keep md5 at once-per-token.

    strategy="kernel" (default): hashlib batch kernel, bit-identical and
    ~15-20× faster (measured 21.6s → ~1.5s at 100k docs for 16-bit);
    strategy="expr" keeps the Column-expression spec (the oracle's form).
    """
    if bits not in (16, 64):
        raise ValueError("bits must be 16 or 64")
    if strategy == "kernel":
        dtype = "int" if bits == 16 else "long"
        out = spread(documents).select(F.col(id_col), F.col(text_col)).mapInPandas(
            _simhash_kernel(bits, text_col, id_col),
            schema=f"{id_col} long, simhash long",
        )
        return out.select(F.col(id_col), F.col("simhash").cast(dtype).alias("simhash"))
    if bits == 16:
        # explicit 1-arg lambda: token_hash16 has a (tok, word=0) signature,
        # and a 2-parameter callable in F.transform binds (element, INDEX)
        staged = spread(documents).select(
            F.col(id_col),
            F.transform(X.tokens(text_col), lambda t: X.token_hash16(t)).alias("__th"),
        )
        # empty-token docs carry no signal (and the oracle's list_reduce
        # can't fold an empty list) — drop them on both sides
        return staged.filter(F.size("__th") > 0).select(
            F.col(id_col), X.simhash16(F.col("__th")).alias("simhash")
        )
    mds = spread(documents).select(
        F.col(id_col), F.transform(X.tokens(text_col), F.md5).alias("__md5s")
    ).filter(F.size("__md5s") > 0)
    def word_extractor(w: int):
        # 1-arg closure (2-arg transform lambdas bind (element, index))
        return lambda m: X.hash16_from_md5(m, w)

    pieces = mds.select(
        F.col(id_col),
        *[F.transform(F.col("__md5s"), word_extractor(w)).alias(f"__h{w}") for w in range(4)],
    )
    sim = pieces.select(
        F.col(id_col),
        *[X.simhash16(F.col(f"__h{w}")).alias(f"__s{w}") for w in range(4)],
    )
    # shiftleft, not multiply: the top piece lands in the sign bit, which
    # ANSI multiply treats as overflow; as a BIT PATTERN (xor/bit_count/
    # chunk masks) a negative long fingerprint is perfectly fine.
    packed = F.lit(0).cast("long")
    for w in range(4):
        packed = packed.bitwiseOR(F.shiftleft(F.col(f"__s{w}").cast("long"), 16 * w))
    return sim.select(F.col(id_col), packed.alias("simhash"))


def simhash_neardup_pairs(
    documents: DataFrame,
    max_hamming: int = 2,
    text_col: str = "text",
    id_col: str = "doc_id",
    bits: int = 16,
) -> DataFrame:
    """SimHash near-dup pairs: Hamming(simhash_a, simhash_b) ≤ max_hamming,
    found by PIGEONHOLE blocking — split the 16 bits into (max_hamming+1)
    chunks; any pair within the Hamming radius must agree exactly on at
    least one chunk, so candidates come from equi-joins on (chunk_idx,
    chunk_value) and only candidates pay the popcount verify. No all-pairs
    join; the blocking is exact (no recall loss), unlike banded MinHash.

    SCALE BOUNDARY (measured): 16 bits hold ~65k distinct fingerprints, so
    beyond ~50k docs birthday collisions make equal-fingerprint clusters —
    and pair counts — quadratic (100k replicated docs → 2×10⁸ pairs). At
    corpus scale, widen to 64 bits by computing four independent 16-bit
    simhashes over per-token md5 words (the four pieces ARE natural
    pigeonhole chunks for Hamming ≤ 3): pass bits=64. The oracle-checked
    registry entry stays 16-bit (the 64-fold SQL is what the t2 gate can
    afford); the 64-bit path is equivalence-tested against brute force.
    """
    n_chunks = max_hamming + 1
    bits_per = bits // n_chunks
    fp = simhash_fingerprints(documents, text_col=text_col, id_col=id_col, bits=bits)

    chunks = F.array(
        *[
            F.struct(
                F.lit(c).alias("chunk_idx"),
                F.shiftright(F.col("simhash"), c * bits_per)
                .bitwiseAND(F.lit((1 << bits_per) - 1).cast("long"))
                .alias("chunk_val"),
            )
            for c in range(n_chunks)
        ]
    )
    blocked = fp.select(id_col, "simhash", F.explode(chunks).alias("c")).select(
        F.col(id_col), F.col("simhash"), F.col("c.chunk_idx").alias("chunk_idx"),
        F.col("c.chunk_val").alias("chunk_val"),
    )
    l, r = blocked.alias("l"), blocked.alias("r")
    cands = (
        l.join(
            r,
            (F.col("l.chunk_idx") == F.col("r.chunk_idx"))
            & (F.col("l.chunk_val") == F.col("r.chunk_val"))
            & (F.col(f"l.{id_col}") < F.col(f"r.{id_col}")),
        )
        .select(
            F.col(f"l.{id_col}").alias("id_a"),
            F.col(f"r.{id_col}").alias("id_b"),
            F.col("l.simhash").alias("sh_a"),
            F.col("r.simhash").alias("sh_b"),
        )
        .distinct()
    )
    hamming = F.bit_count(F.col("sh_a").bitwiseXOR(F.col("sh_b")))
    return cands.select("id_a", "id_b", hamming.cast("int").alias("hamming")).filter(
        F.col("hamming") <= max_hamming
    )


def _pair_cosine_kernel(threshold: float, round_to: int | None = None):
    """Arrow-batched cosine over candidate pairs — the BIT-IDENTICAL twin
    of the vm.cosine_similarity expression (the oracle's executable
    spec), at vectorized-numpy speed. Exactness argument: the expression
    is a LEFT-FOLD over dimensions (acc = acc + x·y per element, per
    functions/vectormath._fold_sum); the kernel accumulates column-by-
    column over the batch (acc_vec = acc_vec + A[:,j]·B[:,j]) — per pair
    that is the same IEEE double multiply-add sequence in the same
    order, so dot and both norms are bit-equal; sqrt/divide/min/max are
    single correctly-rounded IEEE ops in both engines. Verified
    exceptAll-empty against the expression on every SRP-bucket pair at
    sf0.1 (126,234 pairs), rounded and unrounded.

    Why it exists (guide §4.2): Spark evaluates higher-order-function
    lambdas INTERPRETED, per element — three 64-dim folds per pair cost
    ~70 µs; the measured sf0.1 pair scan was 9.8 s of single-task
    expression time vs 0.8 s through this kernel, and the gap widens
    linearly with pair count at scale.

    `round_to` reproduces Spark's F.round (HALF_UP on the double's
    shortest decimal repr — same device as _jaccard_verify_kernel, which
    documents why builtin round()/Decimal(val) are both wrong). Rounding
    runs only on pairs already ≥ threshold − 10^-round_to (a value below
    that can never round up to the threshold), so the per-value Decimal
    cost is paid for survivors only."""
    import numpy as np
    import pyarrow as pa
    from decimal import ROUND_HALF_UP, Decimal

    q = Decimal(1).scaleb(-round_to) if round_to is not None else None
    cut = threshold if round_to is None else threshold - 10.0 ** (-round_to)

    import pyarrow.compute as pc

    def scan(batches):
        for batch in batches:
            if batch.num_rows == 0:
                continue
            va, vb = batch.column("vec_a"), batch.column("vec_b")
            # NULL vectors: the expression twin yields NULL similarity,
            # which never reaches the threshold — drop the pair up front
            # so the flatten-reshape below stays aligned (ADVICE r11: a
            # NULL list would silently shift every later row's values)
            if va.null_count or vb.null_count:
                batch = batch.filter(
                    pc.and_kleene(pc.is_valid(va), pc.is_valid(vb))
                )
                if batch.num_rows == 0:
                    continue
                va, vb = batch.column("vec_a"), batch.column("vec_b")
            n = batch.num_rows
            # ragged lengths would mis-reshape the whole batch into
            # wrong similarities — a data bug this must fail loudly on,
            # not silently mis-score (ADVICE r11)
            la = pc.min_max(pc.list_value_length(va))
            lb = pc.min_max(pc.list_value_length(vb))
            if (
                la["min"] != la["max"]
                or lb["min"] != lb["max"]
                or la["min"] != lb["min"]
            ):
                raise ValueError(
                    "pair-cosine kernel: ragged/mismatched vector lengths "
                    f"in batch (vec_a {la['min']}..{la['max']}, "
                    f"vec_b {lb['min']}..{lb['max']})"
                )
            ida, idb = batch.column("id_a"), batch.column("id_b")
            A = va.flatten().to_numpy(zero_copy_only=False)
            B = vb.flatten().to_numpy(zero_copy_only=False)
            dim = A.size // n
            A = A.reshape(n, dim)
            B = B.reshape(n, dim)
            dot = np.zeros(n)
            na2 = np.zeros(n)
            nb2 = np.zeros(n)
            for j in range(dim):
                a, b = A[:, j], B[:, j]
                dot = dot + a * b
                na2 = na2 + a * a
                nb2 = nb2 + b * b
            na, nb = np.sqrt(na2), np.sqrt(nb2)
            ok = (na > 0) & (nb > 0)  # zero vector → NULL in the expression → never ≥ threshold
            denom = na * nb
            with np.errstate(divide="ignore", invalid="ignore"):
                sim = dot / denom
            sim = np.minimum(np.maximum(sim, -1.0), 1.0)
            idx = np.flatnonzero(ok & (sim >= cut))
            s = sim[idx]
            if round_to is not None:
                s = np.array(
                    [float(Decimal(repr(x)).quantize(q, rounding=ROUND_HALF_UP)) for x in s],
                    dtype=np.float64,
                )
                keep2 = s >= threshold
                idx, s = idx[keep2], s[keep2]
            take = pa.array(idx)
            yield pa.RecordBatch.from_arrays(
                [ida.take(take), idb.take(take), pa.array(s, type=pa.float64())],
                names=["id_a", "id_b", "cos_sim"],
            )

    return scan


def embedding_neardup_pairs(
    embeddings: DataFrame,
    threshold: float = 0.3,
    *,
    dim: int,
    nbits: int = 4,
    seed: int = 42,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    strategy: str = "kernel",
) -> DataFrame:
    """Embedding-cosine near-duplicate pairs: SRP-bucket blocking (vectors
    with identical sign-projection buckets) → exact cosine similarity ≥
    threshold. Returns (id_a, id_b, cos_sim).

    Blocking note: same-bucket is a NECESSARY-ish condition for high
    cosine (SRP collision probability rises with similarity), so the
    bucket equi-join prunes the quadratic pair space to per-bucket
    blocks — the same shape as the text LSH path, one shuffle on the
    bucket key, never an all-pairs cross join.

    ``strategy``: "kernel" (default) verifies candidates through the
    Arrow pair-cosine kernel — bit-identical to the expression (see
    _pair_cosine_kernel) and ~12× faster on the measured sf0.1 pair
    scan; "expr" keeps the interpreted Column fold (the oracle spec
    shape, retained for the equivalence tests)."""
    from ..functions import vectormath as vm
    from .ann import srp_bucket_cols

    v = embeddings.select(
        F.col(id_col).alias("id"),
        vm.as_double(vec_col).alias("vec"),
        *srp_bucket_cols(vec_col, dim, nbits, n_tables=1, seed=seed),
    )
    l, r = v.alias("l"), v.alias("r")
    joined = l.join(
        r,
        (F.col("l.bucket_0") == F.col("r.bucket_0")) & (F.col("l.id") < F.col("r.id")),
    )
    if strategy == "expr":
        pairs = joined.select(
            F.col("l.id").alias("id_a"),
            F.col("r.id").alias("id_b"),
            F.round(vm.cosine_similarity(F.col("l.vec"), F.col("r.vec")), 6).alias("cos_sim"),
        )
        return pairs.filter(F.col("cos_sim") >= F.lit(threshold))
    if strategy != "kernel":
        raise ValueError(f"strategy must be kernel|expr, got {strategy!r}")
    id_t = embeddings.schema[id_col].dataType.simpleString()
    return joined.select(
        F.col("l.id").alias("id_a"),
        F.col("r.id").alias("id_b"),
        F.col("l.vec").alias("vec_a"),
        F.col("r.vec").alias("vec_b"),
    ).mapInArrow(
        _pair_cosine_kernel(threshold, round_to=6),
        schema=f"id_a {id_t}, id_b {id_t}, cos_sim double",
    )


def semantic_dedup(
    embeddings: DataFrame,
    centroids: DataFrame,
    min_sim: float = 0.35,
    *,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """SemDeDup-style semantic deduplication (Abbas et al., "SemDeDup:
    Data-efficient learning at web-scale through semantic deduplication",
    2023 — public): cluster the embedding space with a coarse k-means
    quantizer, compare pairs ONLY within a cluster, and keep one
    representative per group of semantic near-duplicates. The cluster
    blocking is what makes it tractable — the quadratic pair space
    shrinks to Σ|cluster|², and clusters shard across executors.

    This implementation uses the deterministic IVF centroids
    (ann.build_ivf_det) as the coarse quantizer — the same clustering the
    ANN index uses, so an ingest pipeline shares one build — and closes
    near-dup groups transitively: within-cluster pairs with cosine
    similarity ≥ `min_sim` form a graph, connected components assign
    every vector a component (min reachable id), and the component
    representative (id == component) is the kept row. Transitive closure
    is the standard dedup-pipeline semantics (same tail as
    dedup_components on the text side); the paper's keep-rule (drop all
    but one per ε-ball) differs only on chains that straddle ε.

    Returns (id, component, cluster_size, is_kept) for EVERY input row —
    filter is_kept for the deduped corpus. Deterministic end-to-end, so
    the whole operator is value-exact oracle-twinnable.

    On the synthetic near-uniform test embeddings, cosine similarity
    concentrates ≈0.2; `min_sim`≈0.35 marks the top ~1% most-similar
    pairs. Real text embeddings cluster tightly — production thresholds
    are 0.9+ per the paper."""
    from pyspark.sql import Window

    from ..functions import vectormath as vm
    from .ann import assign_ivf_det

    # spread the shallow source once — assign_ivf_det no longer spreads
    # internally (VERDICT r11 #2); the persisted assignment keeps this
    # partitioning for every consumer
    v = spread(embeddings).select(
        F.col(id_col).cast("long").alias("id"),
        F.col(vec_col).cast("array<double>").alias("vec"),
    )
    # the assignment feeds BOTH sides of the pair self-join, the node
    # list, and the singleton join-back — persist it (session cache
    # registry) so it computes once. (A localCheckpoint was tried for
    # the cleaner plan PRINT but measured ~16 s slower at sf0.1 — the
    # eager checkpoint is a full extra materialization job; the persist
    # reprints the build subtree under each consumer textually while
    # executing it once, covered by the audit budget.)
    assigned = _track(assign_ivf_det(v, centroids))
    a, b = assigned.alias("a"), assigned.alias("b")
    # within-cluster cosine verify runs through the Arrow pair kernel —
    # bit-identical to the vm.cosine_similarity fold (see
    # _pair_cosine_kernel; unrounded threshold compare here), ~12×
    # cheaper than the interpreted per-pair expression at sf0.1 and
    # linearly more so at scale (guide §4.2)
    pairs = (
        a.join(
            b,
            (F.col("a.list_id") == F.col("b.list_id"))
            & (F.col("a.id") < F.col("b.id")),
        )
        .select(
            F.col("a.id").alias("id_a"),
            F.col("b.id").alias("id_b"),
            F.col("a.vec").alias("vec_a"),
            F.col("b.vec").alias("vec_b"),
        )
        .mapInArrow(
            _pair_cosine_kernel(min_sim),
            schema="id_a long, id_b long, cos_sim double",
        )
        .select("id_a", "id_b")
    )
    # run the CC loop ONLY over nodes that appear in a pair: in a real
    # corpus near-dups are the small minority, so every pointer-jumping
    # round shuffles the pair-graph nodes, not the whole corpus;
    # singletons rejoin as their own component in one narrow step
    paired = (
        pairs.select(F.col("id_a").alias("id"))
        .union(pairs.select(F.col("id_b").alias("id")))
        .distinct()
    )
    comp = connected_components(pairs, paired, node_col="id")
    all_comp = (
        assigned.select("id")
        .join(comp, "id", "left")
        .select("id", F.coalesce("component", F.col("id")).alias("component"))
    )
    w = Window.partitionBy("component")
    return all_comp.select(
        "id",
        "component",
        F.count(F.lit(1)).over(w).alias("cluster_size"),
        (F.col("id") == F.col("component")).alias("is_kept"),
    )


def _jaccard(a, b) -> F.Column:
    inter = F.size(F.array_intersect(a, b)).cast("double")
    union = F.size(F.array_union(a, b)).cast("double")
    return F.when(union > 0, inter / union).otherwise(F.lit(0.0))


def _jaccard_verify_kernel(threshold: float):
    """Arrow-batched set-Jaccard over candidate pairs — bit-identical to
    the array_intersect expression path (integer set sizes → the same
    double division → same round-6 value) at a fraction of the cost:
    array_intersect inside interpreted expressions is O(n·m) per pair,
    Python set intersection is hashed.

    Rounding matches Spark's F.round EXACTLY via decimal HALF_UP on the
    double's SHORTEST decimal repr (Decimal(repr(val)) ≡ Java
    BigDecimal.valueOf(double) ≡ Double.toString semantics, which is what
    Spark's round and DuckDB's round operate on). Two wrong alternatives,
    both verified to diverge: Python's builtin round() is half-EVEN
    (1/128 = 0.0078125 → .007812, Spark gives .007813), and
    Decimal(val) expands the double's exact binary value (3/640 stores
    as 0.00468749999…96 → .004687, Spark gives .004688)."""
    from decimal import ROUND_HALF_UP, Decimal

    import pandas as pd

    q6 = Decimal("0.000001")

    def run(batches):
        for pdf in batches:
            ja = []
            for sa, sb in zip(pdf["sh_a"], pdf["sh_b"]):
                A, B = set(sa), set(sb)
                union = len(A | B)
                if union:
                    val = len(A & B) / union
                    ja.append(float(Decimal(repr(val)).quantize(q6, rounding=ROUND_HALF_UP)))
                else:
                    ja.append(0.0)
            out = pd.DataFrame(
                {"id_a": pdf["id_a"], "id_b": pdf["id_b"], "jaccard": ja}
            )
            yield out[out["jaccard"] >= threshold]

    return run


def neardup_pairs(
    documents: DataFrame,
    threshold: float = 0.7,
    num_hashes: int = 8,
    bands: int = 4,
    shingle_n: int = 3,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """MinHash-LSH near-duplicates: LSH candidates → exact word-shingle
    Jaccard ≥ threshold. Returns (id_a, id_b, jaccard)."""
    cands = lsh_candidate_pairs(
        documents, num_hashes=num_hashes, bands=bands, shingle_n=shingle_n,
        text_col=text_col, id_col=id_col,
    )
    # persist: the verify joins this table twice (id_a and id_b sides); without
    # it each side re-runs tokenize→shingle→distinct over the full corpus
    sh = _track(
        spread(documents).select(
            F.col(id_col),
            F.array_distinct(X.word_shingles(text_col, n=shingle_n)).alias("sh"),
        )
    )
    paired = (
        cands.join(sh.withColumnRenamed(id_col, "id_a").withColumnRenamed("sh", "sh_a"), "id_a")
        .join(sh.withColumnRenamed(id_col, "id_b").withColumnRenamed("sh", "sh_b"), "id_b")
    )
    return paired.select("id_a", "id_b", "sh_a", "sh_b").mapInPandas(
        _jaccard_verify_kernel(threshold), schema="id_a long, id_b long, jaccard double"
    )


def ngram_jaccard_pairs(
    documents: DataFrame,
    threshold: float = 0.8,
    ngram: int = 5,
    text_col: str = "text",
    id_col: str = "doc_id",
    prefilter: DataFrame | None = None,
    block_grams: int = 5,
) -> DataFrame:
    """Character-n-gram Jaccard similarity over candidate pairs.

    `prefilter` is a (id_a, id_b) candidate DataFrame (e.g. from LSH or a
    blocking key); without it we block on each doc's `block_grams`
    smallest md5(gram) digests: two docs become candidates iff they share
    at least one min-digest. This is 1-row MinHash banding in gram space
    — deterministic, engine-portable (the oracle reproduces it), and
    sub-quadratic (an all-pairs cross join is never acceptable at scale).
    Miss probability decays like (1-J)^block_grams and is UNIFORM over
    edit positions — unlike the r1 (length-bucket, first-char) key, which
    deterministically missed every pair differing in its first character
    (VERDICT r1 'What's wrong' #3).
    """
    grams = _track(
        spread(documents).select(
            F.col(id_col),
            F.array_distinct(X.char_ngrams(text_col, n=ngram)).alias("g"),
        )
    )
    if prefilter is None:
        keys = grams.select(
            F.col(id_col),
            F.explode(
                F.slice(F.array_sort(F.transform("g", lambda x: F.md5(x))), 1, block_grams)
            ).alias("bk"),
        )
        l, r = keys.alias("l"), keys.alias("r")
        prefilter = (
            l.join(
                r,
                (F.col("l.bk") == F.col("r.bk"))
                & (F.col(f"l.{id_col}") < F.col(f"r.{id_col}")),
            )
            .select(F.col(f"l.{id_col}").alias("id_a"), F.col(f"r.{id_col}").alias("id_b"))
            .distinct()
        )
    paired = (
        prefilter.join(grams.withColumnRenamed(id_col, "id_a").withColumnRenamed("g", "g_a"), "id_a")
        .join(grams.withColumnRenamed(id_col, "id_b").withColumnRenamed("g", "g_b"), "id_b")
        .select("id_a", "id_b", F.col("g_a").alias("sh_a"), F.col("g_b").alias("sh_b"))
    )
    return paired.mapInPandas(
        _jaccard_verify_kernel(threshold), schema="id_a long, id_b long, jaccard double"
    )


def connected_components(
    pairs: DataFrame,
    nodes: DataFrame,
    id_a: str = "id_a",
    id_b: str = "id_b",
    node_col: str = "doc_id",
    max_iters: int = 25,
    driver_threshold: int = 1_000_000,
) -> DataFrame:
    """Duplicate-cluster assignment: connected components over a candidate-
    pair graph (LSH / SimHash / n-gram pairs), the step that turns pairwise
    near-dup hits into "keep one representative per cluster" — the standard
    tail of every training-data dedup pipeline. Absent from the reference
    (whose only dedup is upsert-by-id); pure pipeline north-star operator.

    Returns one row per node in `nodes`: (node_col, component) where
    component = min node id reachable through the pair graph (singletons
    map to themselves). Deterministic — no RNG, no partition dependence.

    Algorithm: min-label propagation with pointer jumping. labels start
    as own id; each round every node takes (1) the min of its label and
    its neighbors' labels, then (2) its new label's OWN label — the
    pointer-jump/path-halving step of Shiloach-Vishkin-style parallel CC
    (same shortcutting as large-star in Kiveris et al., "Connected
    Components in MapReduce and Beyond", SoCC'14). Step 1 alone needs
    O(diameter) rounds; the jump doubles the label's reach each round,
    so convergence is O(log diameter) — an adversarial million-node
    chain converges in ~20 rounds instead of a million. Stops when a
    round changes nothing; still deterministic (both steps are pure
    mins, comp(x) ≤ x is invariant, so the fixpoint is min-reachable-id
    exactly as before).

    Scale: the edge list is localCheckpoint'd once (computed a single
    time, lineage truncated), labels are checkpointed per round so the
    plan never grows, and each round shuffles only (id, label) pairs —
    16 bytes a row, independent of document size — through one edge
    join, one aggregation, and one narrow label self-join for the jump.
    A graph that still exhausts `max_iters` raises rather than silently
    returning a half-merged clustering.

    Strategy selection (the broadcast-join analog for graphs): a pair
    graph at or under `driver_threshold` edges is collected and closed
    with driver-side union-find (microseconds; attaching the larger
    root under the smaller makes every root the component MIN, so the
    result is IDENTICAL to the distributed fixpoint), then broadcast
    back as a tiny mapping. Above the threshold — or with
    driver_threshold=0 — the pointer-jumping loop runs. The pair list
    is localCheckpoint'd once either way, so the size probe and the
    edge expansion never recompute upstream LSH/similarity work. At
    sf0.1 the semantic-dedup graph is ~1.2k edges and the loop's ~18
    rounds were pure fixed job overhead (~9 s for microseconds of actual
    union-find); the 132M-pair stress graph stays on the distributed
    path.
    """
    half = pairs.select(
        F.col(id_a).alias("src"), F.col(id_b).alias("dst")
    ).transform(cache.checkpoint)
    if driver_threshold and half.count() <= driver_threshold:
        parent: dict = {}

        def find(x):
            root = x
            while parent.get(root, root) != root:
                root = parent[root]
            while parent.get(x, x) != x:
                parent[x], x = root, parent[x]
            return root

        touched = set()
        for r in half.collect():
            touched.add(r.src)
            touched.add(r.dst)
            a, b = find(r.src), find(r.dst)
            if a != b:
                if a < b:
                    parent[b] = a
                else:
                    parent[a] = b
        spark = pairs.sparkSession
        mapping = [(int(x), int(find(x))) for x in touched]
        mdf = spark.createDataFrame(
            mapping or [], f"{node_col} long, component long"
        )
        base = nodes.select(F.col(node_col)).distinct()
        return base.join(F.broadcast(mdf), node_col, "left").select(
            node_col,
            F.coalesce("component", F.col(node_col)).alias("component"),
        )
    edges = half.union(
        half.select(F.col("dst").alias("src"), F.col("src").alias("dst"))
    ).transform(cache.checkpoint)
    labels = (
        nodes.select(F.col(node_col).alias("id")).distinct()
        .withColumn("comp", F.col("id"))
        .transform(cache.checkpoint)
    )
    for _ in range(max_iters):
        neighbor_min = (
            edges.join(labels.select(F.col("id").alias("src"), "comp"), "src")
            .groupBy(F.col("dst").alias("id"))
            .agg(F.min("comp").alias("nmin"))
        )
        stepped = labels.join(neighbor_min, "id", "left").select(
            "id",
            F.col("comp").alias("comp0"),
            F.least("comp", F.coalesce("nmin", "comp")).alias("comp1"),
        )
        # pointer jump: follow the new label to ITS current label. Every
        # comp value is a node id (mins of initial ids), so the self-join
        # always matches; comp(x) ≤ x keeps the step monotone.
        jump = labels.select(F.col("id").alias("comp1"), F.col("comp").alias("jcomp"))
        new_comp = F.least("comp1", F.coalesce("jcomp", "comp1"))
        updated = (
            stepped.join(jump, "comp1", "left")
            .select(
                "id",
                new_comp.alias("comp"),
                (new_comp < F.col("comp0")).alias("changed"),
            )
            .transform(cache.checkpoint)
        )
        labels = updated.select("id", "comp")
        if updated.filter("changed").isEmpty():
            return labels.withColumnRenamed("id", node_col).withColumnRenamed(
                "comp", "component"
            )
    raise RuntimeError(
        f"connected_components did not converge in {max_iters} rounds "
        "(graph diameter exceeds max_iters — raise max_iters)"
    )


def _distinct_gram_hashes(
    documents: DataFrame, n: int, text_col: str, id_col: str
) -> DataFrame:
    """(id, md5(gram)) for each DISTINCT word n-gram per document — the
    dedup within the row (array_distinct) happens before the explode, so
    the shuffle never carries within-doc repeats, and only the 32-byte
    digest ever leaves the row (never the gram text). spread: the
    shingle + per-gram md5 work is compute-heavy and NARROW — keep a
    small single-split scan off one core (no-op at real scale; r11)."""
    documents = spread(documents)
    return documents.select(
        F.col(id_col),
        F.explode(F.array_distinct(X.word_shingles(text_col, n))).alias("__gram"),
    ).select(F.col(id_col), F.md5("__gram").alias("gram_hash"))


def shared_ngram_stats(
    documents: DataFrame, n: int = 4, text_col: str = "text", id_col: str = "doc_id"
) -> DataFrame:
    """Inter-document repetition report (RefinedWeb/C4-style substring
    dedup signal): for each document, how many of its distinct word
    n-grams also appear in at least one OTHER document, and what fraction
    of its distinct grams that is. The per-doc `shared_frac` is the usual
    "drop or trim documents dominated by cross-corpus boilerplate" knob.

    Scale: grams are distinct-ed inside the row, then only their md5
    digests shuffle — once to count document frequency per digest (partial
    agg), once to join the counts back (same key, so AQE reuses the
    exchange). Per-doc rollup is a doc_id-keyed partial agg. No pair of
    documents is ever joined — cost is linear in corpus gram count, never
    quadratic. Docs with fewer than n tokens surface with n_grams = 0.
    """
    grams = _distinct_gram_hashes(documents, n, text_col, id_col)
    # grams are distinct per doc, so count(*) per digest == document frequency
    docfreq = grams.groupBy("gram_hash").agg(F.count(F.lit(1)).alias("n_docs"))
    per_doc = (
        grams.join(docfreq, "gram_hash")
        .groupBy(id_col)
        .agg(
            F.count(F.lit(1)).alias("n_grams"),
            F.count(F.when(F.col("n_docs") > 1, F.lit(1))).alias("n_shared"),
        )
    )
    return (
        documents.select(F.col(id_col))
        .join(per_doc, id_col, "left")
        .select(
            F.col(id_col),
            F.coalesce("n_grams", F.lit(0).cast("long")).alias("n_grams"),
            F.coalesce("n_shared", F.lit(0).cast("long")).alias("n_shared"),
            F.round(
                F.when(
                    F.col("n_grams") > 0,
                    F.col("n_shared").cast("double") / F.col("n_grams").cast("double"),
                ).otherwise(F.lit(0.0)),
                6,
            ).alias("shared_frac"),
        )
    )


def novelty_stats(
    documents: DataFrame,
    n: int = 4,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """Per-document n-gram NOVELTY: how many of a doc's distinct word
    n-grams appear here FIRST (no doc with a smaller id contains them) —
    the order-sensitive complement of shared_ngram_stats' symmetric
    overlap. Σ n_novel over the corpus counts each distinct gram exactly
    once, so novelty is the per-doc share of the corpus's deduplicated
    gram mass — the "what does this doc actually add" curation signal
    (the deduplicated-token accounting of Lee et al., ACL 2022, turned
    into a per-doc score for ordering/pruning ingestion).

    Returns (id, n_grams, n_novel, novelty_frac) for every input doc;
    docs with no n-gram surface n_grams = 0, novelty_frac = 0.0.

    Scale (r9 restructure, VERDICT r8 #2): the r8 shape joined the FULL
    gram table back to its own min-agg — two retained gram-sized
    shuffles plus the agg map output, which ran the 100M-doc cell out of
    disk at 94%. The join is unnecessary on both counts:
      - n_novel(d) = |{g : first(g) = d}| is a COUNT over the
        (gram, first_doc) table grouped by first_doc — doc-sized output,
        no join back to grams;
      - n_grams(d) = |distinct shingles of d| is row-local
        (size(array_distinct(...))) — no shuffle at all.
    So exactly ONE gram-sized shuffle remains (the min-agg, map-side
    combine), followed by a gram→doc-sized count (partial agg emits at
    most one row per doc per partition) and a doc-sized left join. The
    shingle pass runs twice (once for sizes, once for the explode) —
    recompute is CPU over the corpus scan, traded deliberately against
    persisting a gram-sized table to the disk that was the bottleneck.
    Only 32-byte digests move; never quadratic.
    """
    # spread: shingling is compute-heavy narrow work (no-op at scale; r11)
    base = spread(documents).select(
        F.col(id_col),
        F.array_distinct(X.word_shingles(text_col, n)).alias("__s"),
    )
    # narrow, shuffle-free: every doc appears here, zero-gram docs included.
    # NULL text → NULL shingle array → F.size returns NULL (Spark 3+
    # semantics); coalesce to 0 so the documented "docs with no n-gram
    # surface n_grams = 0" contract holds (the r8 shape got this for free
    # from its left join back to documents; ADVICE r9)
    sizes = base.select(
        F.col(id_col),
        F.coalesce(F.size("__s"), F.lit(0)).alias("n_grams"),
    )
    grams = base.select(
        F.col(id_col), F.explode("__s").alias("__gram")
    ).select(F.col(id_col), F.md5("__gram").alias("gram_hash"))
    first = grams.groupBy("gram_hash").agg(F.min(id_col).alias("__first"))
    novel = first.groupBy("__first").agg(F.count(F.lit(1)).alias("n_novel"))
    # left-join NULL means "owns no first-occurrence gram", i.e. 0 —
    # coalesce BEFORE the division (a doc can have grams but zero novel)
    nn = F.coalesce("n_novel", F.lit(0).cast("long"))
    return (
        sizes.join(
            novel.withColumnRenamed("__first", id_col), id_col, "left"
        )
        .select(
            F.col(id_col),
            F.col("n_grams").cast("long").alias("n_grams"),
            nn.alias("n_novel"),
            F.round(
                F.when(
                    F.col("n_grams") > 0,
                    nn.cast("double") / F.col("n_grams").cast("double"),
                ).otherwise(F.lit(0.0)),
                6,
            ).alias("novelty_frac"),
        )
    )


def containment_pairs(
    documents: DataFrame,
    threshold: float = 0.5,
    shingle_words: int = 3,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """Asymmetric set-containment join: (id_a, id_b, containment) for every
    ordered pair with containment = |S(a) ∩ S(b)| / |S(a)| ≥ threshold,
    a ≠ b, where S(x) is x's distinct word-shingle set. Containment is the
    quote/boilerplate/subset detector symmetric Jaccard structurally
    misses: a short doc quoted verbatim inside a long one has Jaccard
    ≈ |short|/|long| (arbitrarily small) but containment 1.0 — the
    standard screen for "this training doc is a fragment of that one".
    Not in the reference (no text surface, SURVEY §2.6).

    Algorithm — prefix-filtered set-similarity join (the containment form
    of AllPairs / PPJoin, Bayardo et al. WWW'07; Chaudhuri et al.
    ICDE'06): order each doc's shingles globally by (document frequency,
    shingle) — rarest first — and probe with only its first
    floor((1-threshold)·|S(a)|)+1 shingles. LOSSLESS: if all p =
    floor((1-t)|a|)+1 prefix shingles miss S(b), then |a ∩ b| ≤ |a| - p
    < t·|a|, so the pair can't reach the threshold. The oracle is
    therefore the brute-force all-pairs join — a value-exact match proves
    the filter drops nothing.

    Scale: the inverted-index side carries (shingle_digest, id) — 40-byte
    rows, one per distinct doc-shingle. The probe side is prefix-sized:
    at t = 0.5 half of each doc's shingles, at t = 0.9 a tenth. Candidate
    fan-out per probe shingle equals its document frequency, and the
    rarest-first ordering makes prefix shingles the LOW-df ones by
    construction — the frequency-ordered prefix is the published fix for
    the stopword-shingle blowup a random prefix would hit. Verification
    joins shingle ARRAYS for candidate pairs only (array_intersect,
    JVM-side); no all-pairs join exists anywhere in the plan. Docs with
    zero shingles (< shingle_words tokens) can't be scored and are
    excluded on both sides, matching the oracle.
    """
    pairs, _sizes = _containment_core(
        documents, threshold, shingle_words, text_col, id_col
    )
    return pairs


def _containment_core(
    documents: DataFrame,
    threshold: float,
    shingle_words: int,
    text_col: str,
    id_col: str,
) -> tuple:
    """Shared body of containment_pairs/fragment_report: returns
    (pairs, sizes) where sizes = (id, __n distinct-shingle count) comes
    from the SAME persisted shingle table the join probes — so
    fragment_report never re-runs tokenize + shingling over the corpus
    (the single most expensive stage at scale) just to learn sizes.
    (ADVICE r8)

    Each doc's rarest-first probe prefix is a per-doc
    array_sort(collect_list(struct(df, g))) + slice: a hash aggregate
    instead of the r8 sort-based rank window, and the prefix length
    comes from size() of the collected array, so no per-doc size join.
    SCALE.md r10's byte-level A/B against the window shape: both exact,
    shuffle bytes within 2 %, and the aggregate reads 13 % less input
    and runs 9 % fewer tasks."""
    if not 0.0 < threshold <= 1.0:
        raise ValueError("threshold must be in (0, 1]")

    sh = _track(
        spread(documents)
        .select(
            F.col(id_col),
            F.array_distinct(X.word_shingles(text_col, shingle_words)).alias("s"),
        )
        .filter(F.size("s") > 0)
    )
    # (id, digest) — only 32-byte digests shuffle, never shingle text
    ex = sh.select(
        F.col(id_col), F.explode(F.transform("s", lambda x: F.md5(x))).alias("g")
    )
    docfreq = ex.groupBy("g").agg(F.count(F.lit(1)).alias("df"))
    # prefix length must satisfy p > (1-t)·n for the losslessness proof.
    # floor((1-t)·n)+1 is the tight value in exact arithmetic, but the
    # DOUBLE product can round BELOW the true value when (1-t)·n is
    # integral (t=0.8, n=10 → 1.9999…96 → floor 1), silently breaking the
    # proof exactly at the threshold boundary. +2 instead of +1 absorbs
    # the one-ulp floor risk (float absolute error << 1 for any real n)
    # at the cost of one extra probe shingle per doc — still lossless,
    # never lossy.
    # Each doc's (df, g) structs collect into one array (doc-sized —
    # bounded by the doc's distinct shingles); lexicographic array_sort
    # is the rarest-first (df, g) order, sliced to the prefix length.
    plen = (
        F.floor((F.lit(1.0) - F.lit(threshold)) * F.size("sg")) + F.lit(2)
    ).cast("int")
    probe = (
        ex.join(docfreq, "g")
        .groupBy(id_col)
        .agg(F.array_sort(F.collect_list(F.struct("df", "g"))).alias("sg"))
        .select(
            F.col(id_col).alias("id_a"),
            F.explode(F.slice("sg", 1, plen)).alias("__p"),
        )
        .select("id_a", F.col("__p.g").alias("g"))
    )
    cands = (
        probe.join(ex.select(F.col(id_col).alias("id_b"), "g"), "g")
        .filter(F.col("id_a") != F.col("id_b"))
        .select("id_a", "id_b")
        .distinct()
    )
    # length filter (also lossless, PPJoin's second prune): containment
    # ≥ t needs |a ∩ b| ≥ t·|a|, and |a ∩ b| ≤ |b| — so a candidate with
    # |S(b)|/|S(a)| < t can't pass. Expressed as the SAME double
    # division-vs-threshold comparison the verifier uses (nb/na ≥ t):
    # double division is monotone in the numerator, so nb ≥ inter ⇒
    # nb/na ≥ inter/na, and any pair the verifier would pass survives
    # the prune BY CONSTRUCTION — unlike `nb ≥ t·na`, whose product can
    # round above the exact value and drop a boundary pair (t=0.8,
    # na=10, nb=8: t·na → 8.000…02 > 8).
    sizes = sh.select(F.col(id_col), F.size("s").alias("__n"))
    cands = (
        cands.join(sizes.select(F.col(id_col).alias("id_a"), F.col("__n").alias("__na")), "id_a")
        .join(sizes.select(F.col(id_col).alias("id_b"), F.col("__n").alias("__nb")), "id_b")
        .filter(
            F.col("__nb").cast("double") / F.col("__na").cast("double")
            >= F.lit(threshold)
        )
        .select("id_a", "id_b")
    )
    scored = (
        cands.join(
            sh.select(F.col(id_col).alias("id_a"), F.col("s").alias("s_a")), "id_a"
        )
        .join(sh.select(F.col(id_col).alias("id_b"), F.col("s").alias("s_b")), "id_b")
        .select(
            "id_a",
            "id_b",
            (
                F.size(F.array_intersect("s_a", "s_b")).cast("double")
                / F.size("s_a").cast("double")
            ).alias("__c"),
        )
    )
    pairs = scored.filter(F.col("__c") >= F.lit(threshold)).select(
        "id_a", "id_b", F.round("__c", 6).alias("containment")
    )
    return pairs, sizes


def fragment_report(
    documents: DataFrame,
    threshold: float = 0.9,
    shingle_words: int = 3,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """Fragment screen — the cleanup containment_pairs exists for: a doc
    is a FRAGMENT when some strictly-larger doc contains ≥ threshold of
    its shingle set (a quote, an excerpt, a chopped crawl of the same
    page); training pipelines drop the fragment and keep the superset.
    Ties (equal shingle-set sizes, e.g. exact near-copies) break on id —
    the smaller id survives — so the verdict is deterministic and never
    drops BOTH sides of a mutual-containment pair... unless a strictly
    larger container exists, in which case dropping is correct.

    Returns one row per input doc: (id, n_containers, is_fragment) where
    n_containers counts docs b with containment(a→b) ≥ threshold and
    (|S(b)|, -b) > (|S(a)|, -a) lexicographically. Docs with no shingles
    surface with n_containers = 0 (they can't be scored, same contract
    as containment_pairs).

    Scale: containment_pairs' prefix-filtered join bounds the pair set;
    this adds one size join and an id-keyed count — nothing quadratic.
    """
    # sizes comes from containment's own persisted shingle table — no
    # second tokenize/shingle pass over the corpus (ADVICE r8). Docs with
    # zero shingles are absent from it, but that's invisible here: pairs
    # only ever reference docs that HAVE shingles, and the final left
    # join restores zero-shingle docs with n_containers = 0.
    pairs, sizes = _containment_core(
        documents, threshold, shingle_words, text_col, id_col
    )
    qualifying = (
        pairs.join(
            sizes.select(F.col(id_col).alias("id_a"), F.col("__n").alias("__na")),
            "id_a",
        )
        .join(
            sizes.select(F.col(id_col).alias("id_b"), F.col("__n").alias("__nb")),
            "id_b",
        )
        .filter(
            (F.col("__nb") > F.col("__na"))
            | ((F.col("__nb") == F.col("__na")) & (F.col("id_b") < F.col("id_a")))
        )
    )
    counts = qualifying.groupBy("id_a").agg(
        F.count(F.lit(1)).alias("n_containers")
    )
    return (
        documents.select(F.col(id_col))
        .join(counts.withColumnRenamed("id_a", id_col), id_col, "left")
        .select(
            F.col(id_col),
            F.coalesce("n_containers", F.lit(0).cast("long")).alias("n_containers"),
            (F.coalesce("n_containers", F.lit(0)) > 0).alias("is_fragment"),
        )
    )


def decontamination_report(
    documents: DataFrame,
    n: int = 3,
    eval_mod: int = 50,
    *,
    max_eval_df: int | None = None,
    attribution: bool = True,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """Benchmark decontamination: flag training documents that share any
    word n-gram with the held-out eval split (the public recipe from GPT-3
    appendix C / The Pile: n-gram collision against benchmark text). The
    eval split here is the deterministic `id % eval_mod == 0` slice so the
    oracle can reproduce it; a real pipeline passes the benchmark corpus.

    Returns one row per CONTAMINATED train doc: (id, n_shared_grams,
    n_eval_docs) — distinct colliding grams and distinct eval docs hit.

    Scale: the eval side is benchmark-sized (thousands of docs, not TB) —
    its distinct gram digests BROADCAST, so the 100-TB train side is a
    single map-side hash-join scan: no shuffle of the corpus at all. The
    rollup aggregates only the hit rows, keyed by doc id.

    Hot-gram hazard → GUARD (measured r8, guarded r9): because the join
    keeps (eval_id, gram) rows for the exact n_eval_docs attribution, a
    gram hot on BOTH sides fans out df_eval(g) × df_train(g) rows — one
    gram shared by 103k eval docs and 10M train docs built a ~10^12-row
    join in the 100M-doc scale cell before its corpus was fixed. Two
    guards, composable (VERDICT r8 #1):

    - `max_eval_df`: drop grams whose EVAL-side document frequency
      exceeds the cap before the join (boilerplate inside the benchmark
      is the only way a gram gets eval-hot; real benchmark n-grams are
      df≈1). Bounds the attribution fan-out at max_eval_df × df_train
      per gram. No silent caps: `decontamination_cap_report` quantifies
      exactly what a cap drops (grams + eval rows), same contract as
      `_cap_report` for LSH buckets.
    - `attribution=False`: flag-only mode — joins against the DISTINCT
      gram set (no eval_id), so each train (id, gram) row matches at
      most once and NO fan-out exists at any df. Output is then
      (id, n_shared_grams) without the n_eval_docs column. This is the
      right default shape for the 100-TB screen; attribution is the
      forensic follow-up on the flagged subset.
    """
    ev = documents.filter((F.col(id_col) % eval_mod) == 0)
    tr = documents.filter((F.col(id_col) % eval_mod) != 0)
    ev_grams = _distinct_gram_hashes(ev, n, text_col, id_col).select(
        F.col(id_col).alias("eval_id"), "gram_hash"
    )
    if max_eval_df is not None:
        # eval-side df: benchmark-sized agg (the same table that
        # broadcasts), so the guard costs one small-side aggregation.
        keep = (
            ev_grams.groupBy("gram_hash")
            .agg(F.count(F.lit(1)).alias("__df"))
            .filter(F.col("__df") <= max_eval_df)
            .select("gram_hash")
        )
        ev_grams = ev_grams.join(keep, "gram_hash")
    tr_grams = _distinct_gram_hashes(tr, n, text_col, id_col)
    if not attribution:
        # distinct gram set only: each (train id, gram) row joins at most
        # one broadcast row, so rows never multiply — count(*) is exact.
        flags = tr_grams.join(
            F.broadcast(ev_grams.select("gram_hash").distinct()), "gram_hash"
        )
        return flags.groupBy(id_col).agg(
            F.count(F.lit(1)).alias("n_shared_grams")
        )
    hits = tr_grams.join(F.broadcast(ev_grams), "gram_hash")
    return hits.groupBy(id_col).agg(
        F.countDistinct("gram_hash").alias("n_shared_grams"),
        F.countDistinct("eval_id").alias("n_eval_docs"),
    )


def decontamination_cap_report(
    documents: DataFrame,
    n: int = 3,
    eval_mod: int = 50,
    max_eval_df: int = 1,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> dict:
    """Exact accounting of what `decontamination_report(max_eval_df=...)`
    drops — the no-silent-caps companion (same contract as `_cap_report`
    for LSH bucket caps): one eval-side aggregate (benchmark-sized, the
    same table the join broadcasts), eager, returning
      grams_dropped:     distinct eval grams over the cap
      eval_rows_dropped: (eval_id, gram) attribution rows removed
      max_eval_df_seen:  the hottest eval gram's document frequency
                         (0 when the eval slice is empty) — the
                         observability hook for tuning the cap."""
    ev = documents.filter((F.col(id_col) % eval_mod) == 0)
    df_tbl = (
        _distinct_gram_hashes(ev, n, text_col, id_col)
        .groupBy("gram_hash")
        .agg(F.count(F.lit(1)).alias("df"))
    )
    row = df_tbl.agg(
        F.coalesce(
            F.sum(F.when(F.col("df") > max_eval_df, 1).otherwise(0)), F.lit(0)
        ).alias("grams_dropped"),
        F.coalesce(
            F.sum(F.when(F.col("df") > max_eval_df, F.col("df")).otherwise(0)),
            F.lit(0),
        ).alias("eval_rows_dropped"),
        F.coalesce(F.max("df"), F.lit(0)).alias("max_eval_df_seen"),
    ).first()
    return {
        "grams_dropped": int(row["grams_dropped"]),
        "eval_rows_dropped": int(row["eval_rows_dropped"]),
        "max_eval_df_seen": int(row["max_eval_df_seen"]),
    }


def decontamination_report_bloom(
    documents: DataFrame,
    n: int = 3,
    eval_mod: int = 50,
    *,
    m_bits: int = 1 << 18,
    k_hashes: int = 5,
    max_eval_df: int | None = None,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """Flag-only decontamination behind an in-plan BLOOM pre-screen —
    the scale path for when the eval gram set outgrows a comfortable
    broadcast. Output is IDENTICAL to
    ``decontamination_report(attribution=False)`` (same guards, same
    columns): the Bloom filter only thins the verify join's input;
    survivors are still verified against the true distinct eval gram
    set, so false positives cost work, never wrong answers.

    Mechanics, all public textbook Bloom: the eval grams' k_hashes bit
    positions are computed IN SPARK (xxhash64(gram_hash, seed) mod
    m_bits — the screen later recomputes the identical expressions, so
    there is no cross-language hash-parity risk), collected as distinct
    ints (≤ k·|eval grams|, benchmark-sized), folded into an m_bits
    bitmap on the driver, and embedded in the plan as an
    m_bits/64-element long-array LITERAL. The train-side screen is then
    pure whole-stage-codegen integer math — element_at + variable
    shiftright + mask per hash — with NO join, NO shuffle, and NO
    broadcast of gram strings: the corpus scan carries a 32 KiB bitmap
    (default 2^18 bits) instead of the full gram digest table, and only
    bloom-surviving grams reach the exact verify join. At the default
    sizing a benchmark of ~36k distinct grams sees k=5, m/n≈7 → ~5%
    false-positive rate: the verify join's input shrinks ~20× for
    uncontaminated corpora (the common case at 100 TB)."""
    ev = documents.filter((F.col(id_col) % eval_mod) == 0)
    tr = documents.filter((F.col(id_col) % eval_mod) != 0)
    ev_grams = _distinct_gram_hashes(ev, n, text_col, id_col)
    if max_eval_df is not None:
        keep = (
            ev_grams.groupBy("gram_hash")
            .agg(F.count(F.lit(1)).alias("__df"))
            .filter(F.col("__df") <= max_eval_df)
            .select("gram_hash")
        )
        ev_gram_set = keep
    else:
        ev_gram_set = ev_grams.select("gram_hash").distinct()
    # benchmark-sized (the broadcast-comfort premise of this whole path):
    # materialize ONCE — the positions collect below and the exact verify
    # broadcast otherwise each re-derive the eval tokenize+shingle+md5
    # subtree (r12; the duplicated-subtree rule of §2.4)
    ev_gram_set = cache.checkpoint(ev_gram_set)

    def positions(col: str, i: int):
        return F.pmod(F.xxhash64(F.col(col), F.lit(i)), F.lit(m_bits)).cast("long")

    pos_rows = (
        ev_gram_set.select(
            F.explode(
                F.array(*[positions("gram_hash", i) for i in range(k_hashes)])
            ).alias("__pos")
        )
        .distinct()
        .collect()
    )
    words = [0] * ((m_bits + 63) // 64)
    for r in pos_rows:
        p = int(r["__pos"])
        words[p // 64] |= 1 << (p % 64)
    # two's-complement into signed longs for the literal array. Built
    # through ONE parser call: element-wise F.lit/F.array marshals 4096
    # values through py4j one JVM roundtrip each — measured 2-26 s of
    # pure DRIVER time per DataFrame build vs 6 ms for the parsed string
    # (r12; the same driver-side planning cost class as VERDICT r11 #2).
    bitmap = F.expr(
        "array(" + ",".join(f"{w}L" for w in (
            w - (1 << 64) if w >= (1 << 63) else w for w in words
        )) + ")"
    )

    tr_grams = _distinct_gram_hashes(tr, n, text_col, id_col)
    screened = tr_grams.withColumn("__bm", bitmap)
    for i in range(k_hashes):
        screened = screened.withColumn(f"__p{i}", positions("gram_hash", i))
    cond = " AND ".join(
        f"((element_at(__bm, CAST(__p{i} / 64 AS INT) + 1)"
        f" >> CAST(__p{i} % 64 AS INT)) & 1) = 1"
        for i in range(k_hashes)
    )
    cand = screened.filter(F.expr(cond)).select(id_col, "gram_hash")
    # exact verify: only bloom survivors reach the join
    flags = cand.join(F.broadcast(ev_gram_set), "gram_hash")
    return flags.groupBy(id_col).agg(F.count(F.lit(1)).alias("n_shared_grams"))


def substring_overlap_pairs(
    documents: DataFrame,
    k: int = 8,
    min_tokens: int = 12,
    *,
    max_df: int | None = None,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """ExactSubstr-style overlap detection (Lee et al., "Deduplicating
    Training Data Makes Language Models Better", ACL 2022 — public): for
    every document pair, the length in tokens of their LONGEST common
    token substring (of length ≥ k), exactly.

    The reference paper builds a suffix array; the Spark-first shape is
    seed-and-extend, fully relational:
      1. k-token shingles with their positions (one explode; grams
         travel as md5 digests, never text);
      2. equal-gram matches across documents (one self-join on the
         digest) — each match is a dot (i, j) in the pair's alignment
         matrix;
      3. maximal diagonal runs: dots on the same diagonal (j - i) with
         consecutive i form a run — the classic gaps-and-islands
         rewrite (island = i - row_number), two windows partitioned by
         (pair, diagonal), both high-cardinality;
      4. a run of c consecutive matching k-grams = a common substring
         of c + k - 1 tokens; report each pair's max and its total
         match-dot count.

    `max_df` drops grams appearing in more than max_df documents before
    the self-join — the same frequent-shingle cap LSH banding uses: the
    join's cost is Σ_g df(g)², so boilerplate grams dominate without it.
    Pairs whose only overlaps ride on dropped grams are missed; that is
    the documented recall trade the cap buys. At 100 TB set it always
    (the default None is exact, for oracle parity).

    Output: (doc_a, doc_b, longest_overlap_tokens, n_gram_matches),
    doc_a < doc_b, filtered to longest_overlap_tokens ≥ min_tokens.
    """
    from pyspark.sql import Window

    w = X.tokens(text_col)
    grams = documents.select(
        F.col(id_col).alias("doc"),
        F.posexplode(X.shingles_from_tokens(w, k)).alias("pos0", "gram"),
    ).select("doc", (F.col("pos0") + 1).alias("pos"), F.md5("gram").alias("gh"))
    if max_df is not None:
        keep = (
            grams.groupBy("gh")
            .agg(F.countDistinct("doc").alias("__df"))
            .filter(F.col("__df") <= max_df)
            .select("gh")
        )
        grams = grams.join(keep, "gh")
    # persisted: the self-join consumes grams on BOTH sides, and Spark
    # plans are trees — unpersisted, the posexplode + per-gram md5 runs
    # twice over the corpus. Digest-sized rows (doc, pos, 32-byte hex).
    grams = _track(grams)
    a = grams.alias("a")
    b = grams.alias("b")
    dots = (
        a.join(b, "gh")
        .filter(F.col("a.doc") < F.col("b.doc"))
        .select(
            F.col("a.doc").alias("doc_a"),
            F.col("b.doc").alias("doc_b"),
            F.col("a.pos").alias("i"),
            (F.col("b.pos") - F.col("a.pos")).alias("diag"),
        )
    )
    w1 = Window.partitionBy("doc_a", "doc_b", "diag").orderBy(F.col("i").asc())
    runs = (
        dots.withColumn("island", F.col("i") - F.row_number().over(w1))
        .groupBy("doc_a", "doc_b", "diag", "island")
        .agg(F.count(F.lit(1)).alias("run"))
    )
    return (
        runs.groupBy("doc_a", "doc_b")
        .agg(
            (F.max("run") + F.lit(k - 1)).alias("longest_overlap_tokens"),
            F.sum("run").alias("n_gram_matches"),
        )
        .filter(F.col("longest_overlap_tokens") >= min_tokens)
    )


def paragraph_dedup(
    documents: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    sep: str = "\n\n",
    hot_threshold: int | None = None,
) -> DataFrame:
    """Paragraph-level exact dedup (the Dolma / C4 boilerplate-removal
    pass, public pattern): split each document on `sep`, drop every
    paragraph whose trimmed text already appeared earlier in the corpus
    (first occurrence ordered by (id, position) wins — deterministic),
    and reassemble what is left in original order.

    Returns one row per document: (id, n_paras, n_kept, clean_text) —
    n_kept = 0 and clean_text = '' when every paragraph was boilerplate
    someone else already said.

    Scale design: two shuffles, both on PARAGRAPH rows (bounded by the
    corpus token count, never quadratic) — one exchange on the paragraph
    fingerprint for the first-occurrence window, one on the doc id for
    reassembly. The fingerprint is md5(trim(para)) so the window key is
    a fixed 32-byte column, not the paragraph text: a mega-paragraph
    shuffles 32 bytes + its own row, and the window inside a fingerprint
    partition only ranks actual duplicates. At 100 TB the natural-key
    skew ceiling is the most-repeated boilerplate string; its group is
    |dups| rows of (id, pos) pairs — millions at worst, one task's work.
    """
    # `sep` is a LITERAL separator, not a regex: F.split takes a Java
    # regex, so quote it (\Q..\E, with embedded \E split apart) —
    # otherwise sep="|||" would alternation-split on the empty string
    # and explode every character into its own paragraph.
    sep_re = "\\Q" + sep.replace("\\E", "\\E\\\\E\\Q") + "\\E"
    paras = documents.select(
        F.col(id_col),
        F.posexplode(F.split(F.col(text_col), sep_re)).alias("pos", "para"),
    ).withColumn("fp", F.md5(F.trim(F.col("para"))))
    # First occurrence = row_number()==1 over (id, pos) within each
    # fingerprint. A/B'd at 100M docs / 400M paragraphs against the
    # "obvious" skew fix (group-by min(struct(id,pos)) + join back):
    # the window WINS, 638 s vs 916 s, even with one 100M-member group
    # sorting in a single task — because real paragraph tables are
    # mostly UNIQUE, so the aggregate's keeper table is ~|paragraphs|
    # rows and the join back doubles the shuffled volume, costing more
    # than the hot partition's sort (SCALE.md r7). The min-agg form is
    # the right rewrite only for a corpus whose duplicates dominate.
    #
    # `hot_threshold` is the hybrid between those two measured points
    # (r8): find MEGA-fingerprints (count > threshold), compute their
    # first occurrence in a tiny broadcastable table (where the losing
    # full min-agg rewrite shuffled a keeper row per distinct
    # paragraph), and take hot rows' keep flags from that broadcast
    # while salting them across the window's partitions (their window
    # rank is ignored) — no task ever sorts a mega-group; everything
    # else keeps the measured-winning window plan.
    #
    # A/B VERDICT (r8, same universal-footer corpus as r7): the hybrid
    # LOSES at both decades — 28.4 s vs 16.2 s at 10M, 804.7 s vs
    # 414.4 s at 100M — because the keeper min-agg is a second full
    # tokenize/explode pass over the corpus plus a broadcast join onto
    # every paragraph row, while the window's one hot task (100M rows)
    # overlaps the other 63 partitions' work instead of blocking it.
    # hot_threshold therefore stays None by default and exists as a
    # ROBUSTNESS knob, not a speed knob: the window path has a hard
    # single-task ceiling (one task must sort the hottest group — at
    # ~1B+ members its sort spill outgrows a task's disk/memory), and
    # the hybrid removes that ceiling at a measured ~1.9× cost.
    #
    # Hot DETECTION samples 1-in-`mod` DOCUMENTS deterministically
    # (xxhash64 of the doc id — the filter lands BEFORE the split/md5
    # scan, so the detection pass reads and tokenizes only 1/mod of the
    # corpus) rather than counting every fingerprint: a full pre-agg
    # over mostly-unique fps shuffles ~|paras| digest rows (measured
    # 1.6× overhead at 10M — the A/B where the first exact hybrid
    # LOST), while a mega-group at threshold T appears ≥ ~T/mod times
    # in the sample. mod scales so a just-hot group is expected ≥40
    # sampled rows (detection is ~sure); a borderline miss just stays
    # on the window path and a borderline false-hot routes through the
    # broadcast keeper — both EXACT either way, because keepers are
    # always min-aggregated over the group's FULL row set. None
    # (default) skips detection entirely — right for non-adversarial
    # corpora.
    from pyspark.sql import Window

    if hot_threshold is not None:
        mod = max(1, min(256, hot_threshold // 40))
        sampled = (
            documents.filter(
                F.pmod(F.xxhash64(F.col(id_col)), F.lit(mod)) == 0
            )
            .select(F.explode(F.split(F.col(text_col), sep_re)).alias("para"))
            .select(F.md5(F.trim(F.col("para"))).alias("fp"))
        )
        hot_fps = F.broadcast(
            sampled.groupBy("fp")
            .agg(F.count(F.lit(1)).alias("__sn"))
            .filter(F.col("__sn") > hot_threshold / mod)
            .select("fp")
        )
        hot = F.broadcast(
            paras.join(hot_fps, "fp", "left_semi")
            .groupBy("fp")
            .agg(F.min(F.struct(F.col(id_col), F.col("pos"))).alias("__k"))
        )
        flagged = paras.join(hot, "fp", "left")
        n_salt = int(
            documents.sparkSession.conf.get("spark.sql.shuffle.partitions")
        )
        salt = F.when(
            F.col("__k").isNotNull(), F.pmod(F.col("pos"), F.lit(n_salt))
        ).otherwise(F.lit(0))
        w = Window.partitionBy(F.col("fp"), salt).orderBy(
            F.col(id_col), F.col("pos")
        )
        ranked = flagged.withColumn(
            "keep",
            F.when(
                F.col("__k").isNotNull(),
                (F.col(id_col) == F.col("__k")[id_col])
                & (F.col("pos") == F.col("__k")["pos"]),
            ).otherwise(F.row_number().over(w) == 1),
        ).drop("__k")
    else:
        w = Window.partitionBy("fp").orderBy(F.col(id_col), F.col("pos"))
        ranked = paras.withColumn("keep", F.row_number().over(w) == 1)
    return ranked.groupBy(id_col).agg(
        F.count(F.lit(1)).alias("n_paras"),
        F.sum(F.col("keep").cast("long")).alias("n_kept"),
        F.array_join(
            F.transform(
                F.array_sort(
                    F.collect_list(
                        F.when(F.col("keep"), F.struct("pos", "para"))
                    )
                ),
                lambda x: x["para"],
            ),
            sep,
        ).alias("clean_text"),
    )


def build_corpus_dedup_index(
    corpus: DataFrame,
    num_hashes: int = 8,
    bands: int = 4,
    shingle_n: int = 3,
    text_col: str = "text",
    id_col: str = "doc_id",
    max_bucket_size: int | None = None,
    with_cap_report: bool = False,
) -> dict:
    """The standing corpus's dedup index, built ONCE and reused across
    deliveries: {'fingerprints': (corpus_id, fp), 'bands': (corpus_id,
    band_idx, band_key), 'shingles': (corpus_id, sh)}. Persist these
    three tables (parquet bucketed by fp / band_key at scale; session
    cache here) and every subsequent incremental_delivery_report is
    delivery-bound — the 100-TB corpus is never re-scanned per delivery.
    The streaming maintenance analog (append new survivors' rows per
    micro-batch) is streaming/dedup_stream.py's digest state."""
    fps = corpus.select(
        F.col(id_col).alias("corpus_id"), X.fingerprint(text_col).alias("fp")
    )
    bnd = _banded_keys(
        corpus, num_hashes=num_hashes, bands=bands, shingle_n=shingle_n,
        text_col=text_col, id_col=id_col,
    ).withColumnRenamed(id_col, "corpus_id")
    cap_report = None
    if max_bucket_size is not None:
        # same adversarial-corpus escape hatch as lsh_candidate_pairs, paid
        # ONCE at build: a boilerplate mega-bucket would otherwise make
        # every delivery's candidate set (and its broadcast) bucket-sized.
        # Members of dropped buckets are better caught by the exact screen.
        if with_cap_report:
            # no-silent-caps: report the recall surface the cap trades
            # away — eager + exact (one dimension-sized aggregate at
            # build time), see _cap_report. Track the uncapped band
            # digests first so the report job and the index
            # materialization share one minhash pass.
            bnd = _track(bnd)
            cap_report = _cap_report(bnd, max_bucket_size)
        bnd = _cap_buckets(bnd, max_bucket_size)
    sh = spread(corpus).select(
        F.col(id_col).alias("corpus_id"),
        F.array_distinct(X.word_shingles(text_col, n=shingle_n)).alias("sh_b"),
    )
    return {
        "fingerprints": _track(fps),
        "bands": _track(bnd),
        "shingles": _track(sh),
        "params": (num_hashes, bands, shingle_n, max_bucket_size),
        "cap_report": cap_report,
    }


def save_corpus_dedup_index(
    corpus: DataFrame,
    path: str,
    num_hashes: int = 8,
    bands: int = 4,
    shingle_n: int = 3,
    text_col: str = "text",
    id_col: str = "doc_id",
    max_bucket_size: int | None = None,
    n_files: int | None = None,
) -> dict:
    """The DURABLE form of build_corpus_dedup_index: write the corpus's
    fingerprint/band/shingle tables to parquet under `path` (plus a
    params manifest), so the warm incremental screen outlives the
    session and never re-derives the corpus — at 100M+ docs the session
    cache spills anyway (200.7 s build at 10M, SCALE.md r7), while
    parquet serves column-pruned scans with real size stats.

    Layout: `{path}/fingerprints` clustered+sorted by fp,
    `{path}/bands` by band_key, `{path}/shingles` by corpus_id, each in
    `n_files` files (default: session shuffle partitions) so the probe
    file count is fixed; `{path}/manifest` records the LSH params that
    load_corpus_dedup_index re-checks against the report's.

    Returns the manifest dict (params + n_files)."""
    spark = corpus.sparkSession
    if n_files is None:
        n_files = int(spark.conf.get("spark.sql.shuffle.partitions"))
    built = build_corpus_dedup_index(
        corpus, num_hashes=num_hashes, bands=bands, shingle_n=shingle_n,
        text_col=text_col, id_col=id_col, max_bucket_size=max_bucket_size,
    )
    for sub, key in (
        ("fingerprints", "fp"), ("bands", "band_key"), ("shingles", "corpus_id")
    ):
        (
            built[sub]
            # cluster and sort by the probe key: fixed file count, and
            # parquet row-group min/max stats on the key stay usable
            .repartition(n_files, F.col(key))
            .sortWithinPartitions(key)
            .write.mode("overwrite")
            .parquet(f"{path}/{sub}")
        )
    manifest = {
        "num_hashes": num_hashes,
        "bands": bands,
        "shingle_n": shingle_n,
        "max_bucket_size": max_bucket_size,
        "n_files": n_files,
    }
    # -1 sentinel for "no cap": Spark's JSON writer omits null fields,
    # which would drop the column from the read-back schema entirely
    spark.createDataFrame(
        [(num_hashes, bands, shingle_n,
          -1 if max_bucket_size is None else max_bucket_size, n_files)],
        "num_hashes int, bands int, shingle_n int, max_bucket_size int, n_files int",
    ).coalesce(1).write.mode("overwrite").json(f"{path}/manifest")
    # the build's session caches served the three writes; drop them so a
    # long-lived session doesn't pin corpus-sized tables it now has on disk
    for sub in ("fingerprints", "bands", "shingles"):
        built[sub].unpersist()
    return manifest


def load_corpus_dedup_index(spark, path: str) -> dict:
    """Open a save_corpus_dedup_index directory as a corpus_index dict for
    incremental_delivery_report — lazy parquet scans (NOT session-cached:
    the disk layout IS the serving form; Catalyst sees real file sizes,
    and the delivery side is explicitly broadcast by the report)."""
    row = spark.read.json(f"{path}/manifest").first()
    mbs = int(row["max_bucket_size"])
    return {
        "fingerprints": spark.read.parquet(f"{path}/fingerprints"),
        "bands": spark.read.parquet(f"{path}/bands"),
        "shingles": spark.read.parquet(f"{path}/shingles"),
        "params": (
            int(row["num_hashes"]), int(row["bands"]), int(row["shingle_n"]),
            mbs if mbs >= 0 else None,
        ),
        "cap_report": None,
    }


def incremental_delivery_report(
    corpus: DataFrame,
    delivery: DataFrame,
    threshold: float = 0.5,
    num_hashes: int = 8,
    bands: int = 4,
    shingle_n: int = 3,
    text_col: str = "text",
    id_col: str = "doc_id",
    corpus_index: dict | None = None,
    broadcast_delivery: bool = True,
    max_bucket_size: int | None = None,
) -> DataFrame:
    """Classify a NEW delivery against the EXISTING corpus — the
    continuous-ingest dedup shape: at 100 TB you never re-dedup the
    standing corpus; each delivery is screened against it and only
    survivors append.

    Per delivery doc: verdict 'exact' (normalized-text fingerprint
    already in the corpus; match_id = the corpus family's min id),
    'near' (word-shingle Jaccard ≥ threshold against a banded-LSH
    candidate; best match = max jaccard, ties to min corpus id), else
    'fresh'. Returns (delivery id, verdict, match_id, jaccard) with
    match_id/jaccard NULL where not applicable; jaccard carries the
    round-6 HALF_UP value the verify kernel emits (oracle-exact).

    Scale design: NO corpus×corpus work anywhere — the exact screen is
    one fingerprint join (delivery side is delivery-sized; Catalyst
    broadcasts it), and near-dup candidates come from joining the
    DELIVERY's banded keys against the CORPUS's banded keys, i.e. the
    same persisted index a standing corpus maintains incrementally
    (streaming/dedup_stream.py holds the digest analog). Verification
    touches candidate pairs only, and exact-matched delivery docs are
    anti-joined out before banding so the LSH stage never re-processes
    them.

    Pass `corpus_index` (from build_corpus_dedup_index) to reuse the
    standing corpus's persisted fingerprint/band/shingle tables across
    deliveries — the per-delivery cost then scales with the DELIVERY,
    not the corpus (measured in SCALE.md round 7).

    The candidate broadcast assumes candidates stay delivery-bounded,
    which holds when corpus LSH buckets are bounded. A boilerplate-heavy
    corpus can break that (a B-member bucket contributes B candidates
    per colliding delivery doc — 14.2M candidates measured from one
    template-similar corpus, SCALE.md r7): cap it with
    `max_bucket_size` (same knob and trade as lsh_candidate_pairs —
    members of dropped buckets are better caught by the exact screen),
    or set broadcast_delivery=False to let the planner shuffle instead.
    """
    if corpus_index is not None:
        want = (num_hashes, bands, shingle_n, max_bucket_size)
        if corpus_index["params"] != want:
            raise ValueError(
                "corpus_index was built with different (num_hashes, bands, "
                f"shingle_n, max_bucket_size) {corpus_index['params']} than "
                f"requested {want}"
            )
        fpc = corpus_index["fingerprints"]
    else:
        fpc = corpus.select(
            F.col(id_col).alias("corpus_id"), X.fingerprint(text_col).alias("fp")
        )
    fpd = delivery.select(
        F.col(id_col).alias("delivery_id"), X.fingerprint(text_col).alias("fp")
    )
    # A delivery is delivery-sized by definition — broadcast its derived
    # tables explicitly. Catalyst cannot infer this on its own: the
    # minhash signatures come through mapInPandas, whose output stats are
    # unknown, so the planner would shuffle the CORPUS side of every join
    # instead (measured 29.6 s -> 1.6 s warm at 1M corpus / 10k delivery,
    # SCALE.md round 7). Set broadcast_delivery=False for bulk
    # corpus-vs-corpus reconciliations.
    bcast = F.broadcast if broadcast_delivery else (lambda df: df)
    # exact and (below) near feed THREE union branches each (their own
    # output, the anti-join driving `remaining`/`fresh`): persist both —
    # they are delivery-sized — so the union does not re-run the corpus
    # joins per branch (measured 11.3 s -> warm delivery-bound at 1M).
    exact = _track(
        bcast(fpd).join(fpc, "fp")
        .groupBy("delivery_id")
        .agg(F.min("corpus_id").alias("match_id"))
    )

    remaining = delivery.join(
        exact.select(F.col("delivery_id").alias(id_col)), id_col, "left_anti"
    )
    bd = _banded_keys(
        remaining, num_hashes=num_hashes, bands=bands, shingle_n=shingle_n,
        text_col=text_col, id_col=id_col,
    ).withColumnRenamed(id_col, "delivery_id")
    if corpus_index is not None:
        bc = corpus_index["bands"]
        shc = corpus_index["shingles"]
    else:
        bc = _banded_keys(
            corpus, num_hashes=num_hashes, bands=bands, shingle_n=shingle_n,
            text_col=text_col, id_col=id_col,
        ).withColumnRenamed(id_col, "corpus_id")
        if max_bucket_size is not None:
            # cap observability lives at the index build (pass
            # with_cap_report to build_corpus_dedup_index): the capped
            # bands here end up under `near`'s persisted plan, where an
            # Observation reports empty (see _cap_buckets docstring)
            bc = _cap_buckets(bc, max_bucket_size)
        shc = spread(corpus).select(
            F.col(id_col).alias("corpus_id"),
            F.array_distinct(X.word_shingles(text_col, n=shingle_n)).alias("sh_b"),
        )
    cands = bcast(bd).join(bc, ["band_idx", "band_key"]).select(
        "delivery_id", "corpus_id"
    ).distinct()

    shd = spread(remaining).select(
        F.col(id_col).alias("delivery_id"),
        F.array_distinct(X.word_shingles(text_col, n=shingle_n)).alias("sh_a"),
    )
    paired = bcast(cands).join(bcast(shd), "delivery_id").join(shc, "corpus_id")
    verified = paired.select(
        F.col("delivery_id").alias("id_a"), F.col("corpus_id").alias("id_b"),
        "sh_a", "sh_b",
    ).mapInPandas(
        _jaccard_verify_kernel(threshold),
        schema="id_a long, id_b long, jaccard double",
    )
    from pyspark.sql import Window

    w = Window.partitionBy("id_a").orderBy(F.desc("jaccard"), F.asc("id_b"))
    near = _track(
        verified.withColumn("__rn", F.row_number().over(w))
        .filter(F.col("__rn") == 1)
        .select(
            F.col("id_a").alias("delivery_id"),
            F.col("id_b").alias("match_id"),
            "jaccard",
        )
    )

    null_l = F.lit(None).cast("long")
    null_d = F.lit(None).cast("double")
    out_exact = exact.select(
        "delivery_id", F.lit("exact").alias("verdict"), "match_id",
        null_d.alias("jaccard"),
    )
    out_near = near.select(
        "delivery_id", F.lit("near").alias("verdict"), "match_id", "jaccard"
    )
    matched = exact.select("delivery_id").union(near.select("delivery_id"))
    out_fresh = (
        delivery.select(F.col(id_col).alias("delivery_id"))
        .join(matched, "delivery_id", "left_anti")
        .select(
            "delivery_id", F.lit("fresh").alias("verdict"),
            null_l.alias("match_id"), null_d.alias("jaccard"),
        )
    )
    return out_exact.union(out_near).union(out_fresh)
