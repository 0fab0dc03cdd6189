"""Output checks. Each returns an error message, or None when the output
is correct; none of them runs inside a timed span."""

from __future__ import annotations

import numpy as np

TOL = 1e-9


def cosine_distances(base: np.ndarray, queries: np.ndarray) -> np.ndarray:
    """float64 cosine distances, queries x base rows."""
    b = base.astype(np.float64)
    q = queries.astype(np.float64)
    bn = np.linalg.norm(b, axis=1)
    qn = np.linalg.norm(q, axis=1)
    return 1.0 - (q @ b.T) / np.outer(qn, bn)


def exact_topk(dist_row: np.ndarray, ids: np.ndarray, k: int) -> tuple[np.ndarray, np.ndarray]:
    """Brute-force top-k (distance, then id) of one query's distance row."""
    kth = np.partition(dist_row, k - 1)[k - 1]
    cand = np.flatnonzero(dist_row <= kth)
    order = cand[np.lexsort((ids[cand], dist_row[cand]))][:k]
    return ids[order], dist_row[order]


def check_exact(got_ids, got_dist, want_ids, want_dist) -> str | None:
    """Exact top-k must be the brute-force top-k: same distances rank by
    rank within TOL, and the same ids except where distances tie."""
    if len(got_ids) != len(want_ids):
        return f"exact: {len(got_ids)} rows, want {len(want_ids)}"
    if np.max(np.abs(np.asarray(got_dist) - want_dist)) > TOL:
        return "exact: distances differ from the float64 brute force"
    for g, w, d in zip(got_ids, want_ids, want_dist):
        if g != w and np.sum(np.abs(want_dist - d) <= TOL) < 2:
            return f"exact: id {g} where brute force has {w}"
    return None


def check_ann(got_ids, got_dist, k: int, dist_of) -> str | None:
    """An ANN answer has k rows, non-decreasing distances, and ids that
    exist, each with its true distance. ``dist_of(id)`` is the float64
    distance of a stored id, or None when the id does not exist."""
    if len(got_ids) != k:
        return f"ann: {len(got_ids)} rows, want {k}"
    if len(set(got_ids)) != k:
        return "ann: duplicate ids"
    if any(b < a - TOL for a, b in zip(got_dist, got_dist[1:])):
        return "ann: distances not sorted"
    for i, d in zip(got_ids, got_dist):
        true = dist_of(i)
        if true is None:
            return f"ann: id {i} not in the table"
        if abs(true - d) > TOL:
            return f"ann: id {i} distance {d} != {true}"
    return None


def recall(got_ids, want_ids) -> float:
    return len(set(got_ids) & set(want_ids)) / len(want_ids)
