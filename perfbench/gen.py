"""Seeded reference-shape inputs and their NumPy ground truth.

The corpus is a mixture of ``N_CLUSTERS`` Gaussian clusters in ``DIM``
dimensions (the reference index shape: 128 clusters of 384-dim float32
vectors). Cluster sizes follow a Zipf-like law, so the number of rows a
probe touches varies per query; the noise level puts IVF recall at
n_probe = 20 clearly below 1. Everything is a pure function of the seed.
"""

from __future__ import annotations

import os
from dataclasses import dataclass

import numpy as np

DIM = 384
N_CLUSTERS = 128
ZIPF_EXPONENT = 0.8
NOISE = 2.0
EPSILON = 1e-8  # the engine's cosine denominator guard


@dataclass
class Mixture:
    vectors: np.ndarray  # (n, DIM) float32 corpus rows; row i has vec_id i
    labels: np.ndarray  # (n,) int32 generating cluster of each row
    queries: np.ndarray  # (m, DIM) float32 fresh draws, not corpus rows


def mixture(seed: int, n_rows: int, n_queries: int) -> Mixture:
    rng = np.random.default_rng(seed)
    centres = rng.standard_normal((N_CLUSTERS, DIM))
    weights = rng.permutation(1.0 / np.arange(1, N_CLUSTERS + 1) ** ZIPF_EXPONENT)
    weights /= weights.sum()

    def draw(n: int) -> tuple[np.ndarray, np.ndarray]:
        labels = rng.choice(N_CLUSTERS, size=n, p=weights)
        noise = NOISE * rng.standard_normal((n, DIM))
        return (centres[labels] + noise).astype(np.float32), labels.astype(np.int32)

    vectors, labels = draw(n_rows)
    queries, _ = draw(n_queries)
    return Mixture(vectors, labels, queries)


def label_means(vectors: np.ndarray, labels: np.ndarray) -> np.ndarray:
    """(N_CLUSTERS, DIM) float64 mean of each cluster's rows; a cluster
    without rows gets the zero vector."""
    sums = np.zeros((N_CLUSTERS, DIM))
    np.add.at(sums, labels, vectors.astype(np.float64))
    counts = np.bincount(labels, minlength=N_CLUSTERS)
    return sums / np.maximum(counts, 1)[:, None]


def write_shards(vectors: np.ndarray, out_dir: str, n_shards: int) -> list[str]:
    """Headerless row-major float32 ``.bin`` shards (the reference's file
    format). Contiguous row ranges in sorted-name order, so the reader's
    global ids (sorted path order, then file order) equal row numbers."""
    os.makedirs(out_dir, exist_ok=True)
    paths = []
    bounds = np.linspace(0, len(vectors), n_shards + 1).astype(int)
    for i, (lo, hi) in enumerate(zip(bounds[:-1], bounds[1:])):
        path = os.path.join(out_dir, f"shard_{i:03d}.bin")
        vectors[lo:hi].astype("<f4").tofile(path)
        paths.append(path)
    return paths


def cosine(vectors: np.ndarray, query: np.ndarray) -> np.ndarray:
    """float64 cosine of every row against one query, with the engine's
    ``+1e-8`` guard: dot / (|v|·|q| + 1e-8)."""
    v = vectors.astype(np.float64)
    q = np.asarray(query, dtype=np.float64)
    return (v @ q) / (np.linalg.norm(v, axis=1) * np.linalg.norm(q) + EPSILON)


def exact_topk(vectors: np.ndarray, queries: np.ndarray, k: int) -> np.ndarray:
    """(m, k) vec_ids of the exact top-k per query, ordered by
    (score desc, vec_id desc)."""
    v = vectors.astype(np.float64)
    q = np.asarray(queries, dtype=np.float64)
    scores = (q @ v.T) / (np.linalg.norm(q, axis=1)[:, None] * np.linalg.norm(v, axis=1)[None, :] + EPSILON)
    ids = np.arange(len(v))
    # lexsort: last key is primary — score desc, then vec_id desc
    return np.stack([np.lexsort((-ids, -s))[:k] for s in scores]).astype(np.int64)
