"""Seeded input generators. The same seed gives the same bytes.

The base tables follow the sf0.1 layout of the package's testdata:
`embeddings` (2,000 unit vectors of dimension 64, `label` 0-9) and
`documents` (5,000 texts of 8-100 words over a 31-word vocabulary, with
`lang`, `source` and `n_chars`). The 10x corpus repeats them ten times:
copies 1-9 of each vector get Gaussian jitter and are renormalised, and
copies 1-9 of each text get random word substitutions.
"""

from __future__ import annotations

import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

DIM = 64
N_EMB = 2_000
N_DOC = 5_000
COPIES = 10
JITTER = 0.01  # std of the per-coordinate noise on vector copies
SUBST = 0.05  # share of words replaced in text copies
WORDS = np.array(
    "spark window merge table column vector stream value data small join "
    "filter big group hash customer sort order slow line part fast row the "
    "agg key query a scan batch".split()
)
LANGS = np.array(["en", "zh", "es", "fr", "de"])


def unit_vectors(rng: np.random.Generator, n: int) -> np.ndarray:
    x = rng.standard_normal((n, DIM))
    return x / np.linalg.norm(x, axis=1, keepdims=True)


def _word_docs(rng: np.random.Generator, n: int) -> tuple[np.ndarray, np.ndarray]:
    """n documents as (flat word-index array, per-document offsets)."""
    lengths = rng.integers(8, 101, n)
    offsets = np.concatenate([[0], np.cumsum(lengths)])
    return rng.integers(0, len(WORDS), offsets[-1]), offsets


def _texts(words: np.ndarray, offsets: np.ndarray) -> list[str]:
    toks = WORDS[words].tolist()
    return [" ".join(toks[a:b]) for a, b in zip(offsets[:-1], offsets[1:])]


def _write_embeddings(path: str, vecs: np.ndarray, labels: np.ndarray) -> None:
    pq.write_table(pa.table({
        "vec_id": pa.array(np.arange(len(vecs)), pa.int64()),
        "embedding": pa.FixedSizeListArray.from_arrays(
            pa.array(vecs.astype(np.float32).ravel()), DIM).cast(pa.list_(pa.float32())),
        "label": pa.array(labels, pa.int32()),
    }), path)


def _write_documents(path: str, texts: list[str], rng: np.random.Generator) -> None:
    n = len(texts)
    pq.write_table(pa.table({
        "doc_id": pa.array(np.arange(n), pa.int64()),
        "text": texts,
        "lang": LANGS[rng.integers(0, len(LANGS), n)],
        "source": [f"src{i % 20}" for i in range(n)],
        "n_chars": pa.array([len(t) for t in texts], pa.int64()),
    }), path)


def _shingles(toks: list[str], n: int = 3) -> set:
    return {tuple(toks[i:i + n]) for i in range(len(toks) - n + 1)}


def tables(out_dir: str, seed: int, copies: int = 1) -> dict:
    """Write embeddings.parquet and documents.parquet (base tables, or
    `copies` times them) and return their input properties."""
    os.makedirs(out_dir, exist_ok=True)
    rng = np.random.default_rng(seed)
    vecs = unit_vectors(rng, N_EMB)
    labels = rng.integers(0, 10, N_EMB)
    words, offsets = _word_docs(rng, N_DOC)
    all_vecs, all_words = [vecs], [words]
    for _ in range(1, copies):
        v = vecs + rng.standard_normal(vecs.shape) * JITTER
        all_vecs.append(v / np.linalg.norm(v, axis=1, keepdims=True))
        w = words.copy()
        hit = rng.random(len(w)) < SUBST
        w[hit] = rng.integers(0, len(WORDS), int(hit.sum()))
        all_words.append(w)
    vecs = np.concatenate(all_vecs)
    _write_embeddings(os.path.join(out_dir, "embeddings.parquet"), vecs, np.tile(labels, copies))
    lens = np.diff(offsets)
    texts = _texts(np.concatenate(all_words),
                   np.concatenate([[0], np.cumsum(np.tile(lens, copies))]))
    _write_documents(os.path.join(out_dir, "documents.parquet"), texts, rng)
    props = {"embeddings_rows": len(vecs), "dimension": DIM, "documents_rows": len(texts),
             "copies": copies}
    if copies > 1:
        # share of text copies whose word 3-shingle Jaccard with the
        # original reaches dedup_neardup's threshold (0.1), on a sample
        base = texts[:N_DOC]
        idx = rng.choice(np.arange(N_DOC, len(texts)), 500, replace=False)
        jac = []
        for i in idx:
            a, b = _shingles(base[i % N_DOC].split()), _shingles(texts[i].split())
            jac.append(len(a & b) / max(1, len(a | b)))
        props.update(vector_jitter=JITTER, word_substitution=SUBST,
                     text_copy_jaccard_mean=float(np.mean(jac)),
                     text_copy_dup_share_at_0_1=float(np.mean(np.array(jac) >= 0.1)))
    return props
