"""Seeded input generators. The same seed always writes the same files;
the engine under test only ever sees these files."""

from __future__ import annotations

import os
import random

import numpy as np

GENE_COUNT = 200
BASE_VOCAB = 5000
# Planted duplicates in an ingest snapshot: shares of verbatim copies
# and of near-copies (3 tokens substituted).
EXACT_FRAC = 0.05
NEAR_FRAC = 0.05
# Embedding sets: cluster centres, and the share of vectors that are
# near-duplicates of another vector.
CLUSTERS = 32
NEAR_VEC_FRAC = 0.10


def gene_terms() -> tuple[list[str], list[float]]:
    """The reference corpus's skewed ``gene_*_gene`` distribution."""
    genes = [f"gene_g{i}_gene" for i in range(GENE_COUNT)]
    weights = [2.0 ** (-i / 25.0) for i in range(GENE_COUNT)]
    return genes, weights


def _gene_doc(rng: random.Random, vocab: list[str], genes: list[str],
              weights: list[float]) -> list[str]:
    toks = rng.choices(vocab, k=rng.randint(80, 220))
    toks += rng.choices(genes, weights, k=rng.randint(3, 15))
    rng.shuffle(toks)
    return toks


def _write_corpus(path: str, docs: list[list[str]]) -> int:
    """Reference format: one doc per line, ``<id> <tokens...>``; ids are
    zero-padded so string order equals numeric order. Returns the
    number of body tokens."""
    with open(path, "w") as fh:
        for d, toks in enumerate(docs):
            fh.write(f"d{d:06d} {' '.join(toks)}\n")
    return sum(len(t) for t in docs)


def gene_corpus(path: str, n_docs: int, seed: int) -> int:
    """The reference-format gene corpus (bench.py's ``_gene_corpus``
    recipe: 80-220 tokens from a 5000-word vocabulary plus 3-15 skewed
    gene terms per document). Returns the token count."""
    rng = random.Random(seed)
    vocab = [f"word{i}" for i in range(BASE_VOCAB)]
    genes, weights = gene_terms()
    return _write_corpus(
        path, [_gene_doc(rng, vocab, genes, weights) for _ in range(n_docs)])


def ingest_snapshot(path: str, n_docs: int, seed: int) -> int:
    """A gene corpus with planted duplicates: ``EXACT_FRAC`` of the
    documents are verbatim copies of another document and ``NEAR_FRAC``
    are copies with 3 tokens substituted. Document order (hence id) is
    shuffled, so a copy can precede its original. Returns the token
    count."""
    rng = random.Random(seed)
    vocab = [f"word{i}" for i in range(BASE_VOCAB)]
    genes, weights = gene_terms()
    n_exact = int(n_docs * EXACT_FRAC)
    n_near = int(n_docs * NEAR_FRAC)
    n_base = n_docs - n_exact - n_near
    docs = [_gene_doc(rng, vocab, genes, weights) for _ in range(n_base)]
    for _ in range(n_exact):
        docs.append(list(docs[rng.randrange(n_base)]))
    for _ in range(n_near):
        toks = list(docs[rng.randrange(n_base)])
        for pos in rng.sample(range(len(toks)), 3):
            word = toks[pos]
            while word == toks[pos]:
                word = rng.choice(vocab)
            toks[pos] = word
        docs.append(toks)
    rng.shuffle(docs)
    return _write_corpus(path, docs)


def embeddings(stage_dir: str, n: int, dim: int, seed: int) -> None:
    """``<stage_dir>/embeddings.parquet``: (vec_id bigint,
    embedding array<float>). Vectors scatter around ``CLUSTERS`` random
    centres (typical in-cluster cosine ~0.8); ``NEAR_VEC_FRAC`` of them
    are near-duplicates of another vector (cosine > 0.99)."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    rng = np.random.default_rng(seed)
    centres = rng.normal(size=(CLUSTERS, dim))
    n_near = int(n * NEAR_VEC_FRAC)
    n_base = n - n_near
    base = (centres[rng.integers(0, CLUSTERS, n_base)]
            + 0.5 * rng.normal(size=(n_base, dim)))
    near = (base[rng.integers(0, n_base, n_near)]
            + 0.02 * rng.normal(size=(n_near, dim)))
    vecs = np.concatenate([base, near]).astype(np.float32)
    vecs = vecs[rng.permutation(n)]
    flat = pa.array(vecs.ravel(), type=pa.float32())
    table = pa.table({
        "vec_id": pa.array(np.arange(n, dtype=np.int64)),
        "embedding": pa.ListArray.from_arrays(
            pa.array(np.arange(0, n * dim + 1, dim, dtype=np.int32)), flat),
    })
    os.makedirs(stage_dir, exist_ok=True)
    pq.write_table(table, os.path.join(stage_dir, "embeddings.parquet"))


def read_corpus(path: str) -> list[tuple[str, list[str]]]:
    """Parse a reference-format corpus the way the reference does:
    first whitespace token is the id, the rest are terms."""
    out = []
    with open(path) as fh:
        for line in fh:
            parts = line.split()
            if parts:
                out.append((parts[0], parts[1:]))
    return out


def read_embeddings(stage_dir: str) -> tuple[np.ndarray, np.ndarray]:
    import pyarrow.parquet as pq

    t = pq.read_table(os.path.join(stage_dir, "embeddings.parquet"))
    ids = t.column("vec_id").to_numpy()
    col = t.column("embedding").combine_chunks()
    vecs = col.values.to_numpy().reshape(len(ids), -1)
    return ids, vecs.astype(np.float64)
