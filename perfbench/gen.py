"""Deterministic benchmark inputs, driven only by ``--seed``.

Three inputs, all written as files the engine reads through its public
entry points:

- ``embeddings.parquet``: the engine's ``embeddings`` schema
  (``vec_id bigint, embedding array<float>, label int``), 64 genes per
  cell, cells drawn around ``n_clusters`` planted centroids and scaled to
  unit length.  The single cell and graph operators treat it as the
  cell x gene matrix.
- ``documents.parquet``: the engine's ``documents`` schema over a small
  vocabulary, with a stated share of near-duplicates (an earlier document
  with one word appended).
- ``counts.parquet``: a sparse cell x gene count matrix (mostly zeros,
  small integer counts stored as float32) in the wide ``(vec_id,
  embedding)`` form the store writers take.

Same seed, same sizes -> byte-identical inputs.
"""

from __future__ import annotations

import hashlib
import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

N_GENES = 64  # the engine's embeddings width (operators.ml.EMBED_DIM)

#: Input sizes.  ``sf0.01`` mirrors the shapes of the engine's sf0.01 test
#: data (500 cells x 64 genes in 10 clusters, 500 documents); ``tiny`` is
#: the self-test size.
SIZES = {
    "sf0.01": dict(n_cells=500, n_clusters=10, n_docs=500, count_cells=500, count_genes=64),
    "tiny": dict(n_cells=60, n_clusters=3, n_docs=40, count_cells=64, count_genes=24),
}

#: Share of documents that are a near-copy of an earlier one: the sf0.01
#: corpus has 25 such documents in 500.
NEAR_DUP_SHARE = 0.05
COUNT_DENSITY = 0.08  # share of nonzero cells in the count matrix
#: Cluster centroid and within-cluster spreads before each cell is scaled
#: to unit length; the sf0.01 embeddings measure 0.018 and 0.124.
CENTROID_SD, NOISE_SD = 0.02, 0.12

#: A 30-word vocabulary and 10-99 words per document, as in the sf0.01
#: corpus: unrelated documents share many char-5-grams, so besides the
#: planted near-copies LSH pairs documents at Jaccard 0.15-0.3 and the
#: connected-components loop runs over one large component.
_VOCAB = (
    "a the big small fast slow key row column table value data query join scan filter "
    "agg group sort merge hash window batch stream vector order line part spark customer"
).split()
_LANGS = ("en", "de", "es", "fr", "zh")
_LANG_SHARE = (0.44, 0.14, 0.14, 0.14, 0.14)  # sf0.01: 218 of 500 documents are "en"


def _embeddings(rng: np.random.Generator, n_cells: int, n_clusters: int) -> dict:
    centroids = rng.normal(0.0, CENTROID_SD, size=(n_clusters, N_GENES))
    label = rng.integers(0, n_clusters, size=n_cells)
    x = centroids[label] + rng.normal(0.0, NOISE_SD, size=(n_cells, N_GENES))
    x = (x / np.linalg.norm(x, axis=1, keepdims=True)).astype(np.float32)
    return {"x": x, "label": label.astype(np.int32)}


def _documents(rng: np.random.Generator, n_docs: int) -> list[str]:
    """Random documents; ``NEAR_DUP_SHARE`` of them, at random positions
    after the first, repeat an earlier document with one word appended."""
    n_dup = int(round(n_docs * NEAR_DUP_SHARE))
    dups = set((1 + rng.choice(n_docs - 1, size=n_dup, replace=False)).tolist())
    texts: list[str] = []
    for i in range(n_docs):
        if i in dups:
            texts.append(texts[int(rng.integers(0, i))] + " dup")
        else:
            n_words = int(rng.integers(10, 100))
            texts.append(" ".join(_VOCAB[k] for k in rng.integers(0, len(_VOCAB), size=n_words)))
    return texts


def _counts(rng: np.random.Generator, n_cells: int, n_genes: int) -> np.ndarray:
    mask = rng.random((n_cells, n_genes)) < COUNT_DENSITY
    vals = rng.poisson(3.0, size=(n_cells, n_genes)) + 1
    return np.where(mask, vals, 0).astype(np.float32)


def _wide_table(x: np.ndarray, **extra) -> pa.Table:
    n, d = x.shape
    emb = pa.FixedSizeListArray.from_arrays(pa.array(x.reshape(-1), pa.float32()), d)
    cols = {"vec_id": pa.array(np.arange(n, dtype=np.int64)), "embedding": emb.cast(pa.list_(pa.float32()))}
    cols.update({k: pa.array(v) for k, v in extra.items()})
    return pa.table(cols)


def matrix_digest(x: np.ndarray) -> str:
    """sha256 of a matrix's dense float32 bytes — what every store read must reproduce."""
    return hashlib.sha256(np.ascontiguousarray(x, dtype=np.float32).tobytes()).hexdigest()


def generate(out_dir: str, seed: int, size: str) -> tuple[dict, dict]:
    """Write the inputs for ``size`` under ``out_dir``; return their
    description and the dense matrices the store reads must reproduce."""
    p = SIZES[size]
    rng = np.random.default_rng([seed, 20260])
    os.makedirs(out_dir, exist_ok=True)

    emb = _embeddings(rng, p["n_cells"], p["n_clusters"])
    pq.write_table(_wide_table(emb["x"], label=emb["label"]), os.path.join(out_dir, "embeddings.parquet"))

    texts = _documents(rng, p["n_docs"])
    docs = pa.table(
        {
            "doc_id": pa.array(np.arange(len(texts), dtype=np.int64)),
            "text": pa.array(texts),
            "lang": pa.array(rng.choice(_LANGS, size=len(texts), p=_LANG_SHARE).tolist()),
            "source": pa.array([f"src{i % 20}" for i in range(len(texts))]),
            "n_chars": pa.array([len(t) for t in texts], pa.int64()),
        }
    )
    pq.write_table(docs, os.path.join(out_dir, "documents.parquet"))

    counts = _counts(rng, p["count_cells"], p["count_genes"])
    pq.write_table(_wide_table(counts), os.path.join(out_dir, "counts.parquet"))
    desc = {
        "size": size,
        "seed": seed,
        "embeddings": {"cells": p["n_cells"], "genes": N_GENES, "clusters": p["n_clusters"]},
        "documents": {"docs": len(texts), "near_dup_share": sum(t.endswith(" dup") for t in texts) / len(texts)},
        "counts": {"cells": int(counts.shape[0]), "genes": int(counts.shape[1]),
                   "nnz": int(np.count_nonzero(counts)), "dense_f32_bytes": int(counts.nbytes)},
    }
    return desc, {"embeddings": emb["x"], "counts": counts}
