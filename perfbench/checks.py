"""Answer checks against NumPy float64 ground truth.

A check returns a list of problems; an empty list means the answer is
correct. The benchmark counts an operation with any problem as failed
and keeps running.
"""

from __future__ import annotations

import numpy as np

from gen import cosine

SCORE_TOL = 1e-6


def check_topk(
    rows: list[tuple[int, float]],
    vectors: np.ndarray,
    query: np.ndarray,
    k: int,
    ordered: bool = True,
) -> list[str]:
    """``rows`` is one query's answer as (vec_id, score) pairs.

    Every score must be within ``SCORE_TOL`` of the float64 cosine, the
    answer must hold exactly ``k`` distinct ids, and when the API defines
    an order the rows must come back by (score desc, vec_id desc)."""
    problems = []
    if len(rows) != k:
        problems.append(f"expected {k} rows, got {len(rows)}")
    ids = [vid for vid, _ in rows]
    if len(set(ids)) != len(ids):
        problems.append("duplicate vec_id in answer")
    if any(not 0 <= vid < len(vectors) for vid in ids):
        return problems + ["vec_id outside the corpus"]
    if rows:
        truth = cosine(vectors[ids], query)
        err = np.abs(np.asarray([s for _, s in rows], dtype=np.float64) - truth)
        if not np.all(err <= SCORE_TOL):
            problems.append(f"score off by {err.max():.3g}")
    if ordered:
        keys = [(-s, -vid) for vid, s in rows]
        if keys != sorted(keys):
            problems.append("rows not ordered by (score desc, vec_id desc)")
    return problems


def recall(found_ids, exact_ids) -> float:
    return len(set(int(i) for i in found_ids) & set(int(i) for i in exact_ids)) / len(exact_ids)
