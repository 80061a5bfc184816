"""Seeded inputs for the benchmark workloads.

Every input is a pure function of the run's ``--seed``: the code corpus
and its edits come from ``engine.corpus`` (JVM-side, byte-identical for
one seed); the per-cycle draws and the ``documents``/``embeddings``
tables from NumPy generators.  The engine only ever receives these
outputs.
"""

from __future__ import annotations

import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

# Languages, sources and common words of the ``documents`` table follow
# the repository's sf0.1 test data (the search queries filter on
# ``source`` and rank on these terms).  Half of the words come from a
# Zipf-distributed identifier vocabulary instead, so unrelated documents
# do not share almost every token, which would make every pair a
# near-duplicate candidate.
COMMON = (
    "spark window merge table column vector stream value data small join "
    "filter big group hash customer sort order slow line part fast row the "
    "agg key query a scan batch"
).split()
LANGS = ["en", "zh", "es", "fr", "de"]
LANG_P = [0.41, 0.15, 0.15, 0.15, 0.14]
N_IDENTS = 4_000
IDENT_ZIPF = 1.1
N_SOURCES = 20
DUP_FRACTION = 0.05  # near-duplicates: an earlier text plus " dup"

EMBED_DIM = 64  # fixed by the engine's cosine queries
# Pairwise cosine of unrelated vectors stays below this, and planted
# near-duplicates sit above 0.9, so no pair lies near the queries' 0.42
# threshold, where the LSH candidate step is probabilistic.
UNRELATED_COS_MAX = 0.38
NEAR_DUP_FRACTION = 0.02


def rng_for(seed: int, stream: str) -> np.random.Generator:
    """Independent generator per named input stream of one seed."""
    return np.random.default_rng([seed, sum(map(ord, stream)) * 7919 + len(stream)])


def write_documents(path: str, n_docs: int, seed: int) -> None:
    rng = rng_for(seed, "documents")
    w = 1.0 / np.arange(1, N_IDENTS + 1) ** IDENT_ZIPF
    vocab = np.array(COMMON + [f"id{k}" for k in range(N_IDENTS)])
    p = np.concatenate([np.full(len(COMMON), 0.5 / len(COMMON)), 0.5 * w / w.sum()])
    texts: list[str] = []
    for i in range(n_docs):
        if i > 10 and rng.random() < DUP_FRACTION:
            texts.append(texts[int(rng.integers(0, i))] + " dup")
        else:
            n = int(rng.integers(10, 101))
            texts.append(" ".join(vocab[rng.choice(len(vocab), size=n, p=p)]))
    langs = rng.choice(LANGS, size=n_docs, p=LANG_P)
    table = pa.table(
        {
            "doc_id": pa.array(np.arange(n_docs, dtype=np.int64)),
            "text": pa.array(texts),
            "lang": pa.array(langs.tolist()),
            "source": pa.array([f"src{i % N_SOURCES}" for i in range(n_docs)]),
            "n_chars": pa.array([len(t) for t in texts], pa.int64()),
        }
    )
    pq.write_table(table, path)


def embedding_matrix(n_vecs: int, seed: int) -> np.ndarray:
    """Unit vectors: unrelated ones by rejection sampling below
    ``UNRELATED_COS_MAX``, plus planted near-duplicates (cos > 0.9)."""
    rng = rng_for(seed, "embeddings")
    n_dup = int(n_vecs * NEAR_DUP_FRACTION)
    n_base = n_vecs - n_dup
    out = np.zeros((n_vecs, EMBED_DIM), dtype=np.float64)

    def units(m: np.ndarray) -> np.ndarray:
        return m / np.linalg.norm(m, axis=-1, keepdims=True)

    def first_fit(cands: np.ndarray, upto: int, skip: int = -1) -> np.ndarray | None:
        cos = cands @ out[:upto].T
        if skip >= 0:
            cos[:, skip] = 0.0
        ok = np.flatnonzero(cos.max(axis=1, initial=0.0) < UNRELATED_COS_MAX)
        return cands[ok[0]] if len(ok) else None

    for i in range(n_base):
        v = None
        while v is None:
            v = first_fit(units(rng.standard_normal((32, EMBED_DIM))), i)
        out[i] = v
    # each planted row copies a distinct source, so only its source is near
    sources = rng.choice(n_base, size=n_dup, replace=False)
    for i, src in zip(range(n_base, n_vecs), sources):
        v = None
        while v is None:
            noise = 0.3 * units(rng.standard_normal((8, EMBED_DIM)))
            v = first_fit(units(out[src] + noise), i, skip=int(src))
        out[i] = v
    # interleave the planted rows so ids carry no structure
    return out[rng.permutation(n_vecs)].astype(np.float32)


def write_embeddings(path: str, n_vecs: int, seed: int) -> None:
    vecs = embedding_matrix(n_vecs, seed)
    rng = rng_for(seed, "labels")
    table = pa.table(
        {
            "vec_id": pa.array(np.arange(n_vecs, dtype=np.int64)),
            "embedding": pa.array(list(vecs), pa.list_(pa.float32())),
            "label": pa.array(rng.integers(0, 10, n_vecs).astype(np.int32)),
        }
    )
    pq.write_table(table, path)


def write_search_tables(sf_dir: str, n_docs: int, n_vecs: int, seed: int) -> None:
    """``documents`` and ``embeddings`` parquet in the test-data layout,
    so ``engine.queries.QUERIES[name](spark, sf_dir)`` reads them."""
    os.makedirs(sf_dir, exist_ok=True)
    write_documents(os.path.join(sf_dir, "documents.parquet"), n_docs, seed)
    write_embeddings(os.path.join(sf_dir, "embeddings.parquet"), n_vecs, seed)

