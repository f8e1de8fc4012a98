"""Oracles computed outside the engine, from the generated inputs."""

from __future__ import annotations

import numpy as np


def exact_topk(X: np.ndarray, ids: list[str], mask: np.ndarray, q, k: int) -> list[str]:
    """Exact cosine top-``k`` ids over the rows in ``mask``, ties broken
    by id, as the engine's rerank orders them."""
    rows = np.flatnonzero(mask)
    V = X[rows].astype(np.float64)
    qv = np.asarray(q, dtype=np.float64)
    score = (V @ qv) / (np.linalg.norm(V, axis=1) * np.linalg.norm(qv))
    order = sorted(range(rows.size), key=lambda i: (-score[i], ids[rows[i]]))
    return [ids[rows[i]] for i in order[:k]]


def recall(got: list[str], want: list[str]) -> float:
    return len(set(got) & set(want)) / len(want) if want else 1.0


def probe_order(C: np.ndarray, q) -> np.ndarray:
    """IVF cells by squared-L2 distance of their centroid to ``q``,
    nearest first, ties by cell number."""
    qv = np.asarray(q, dtype=np.float64)
    return np.argsort(((np.asarray(C, dtype=np.float64) - qv) ** 2).sum(axis=1), kind="stable")


def pick_topic(C: np.ndarray, cell: np.ndarray, topic: np.ndarray, q, k: int, nprobe: int):
    """A topic whose filter makes a ``q`` query double its probe once:
    none of its indexed rows lie in the ``nprobe`` nearest cells, at
    least ``k`` lie in the ``2 * nprobe`` nearest. ``cell[i]`` is row
    ``i``'s IVF cell, -1 when it is not indexed. Of the candidates, the
    one whose nearest row sits closest to the middle of that band is
    taken, so a small change in the probe order leaves it valid. None
    when no topic qualifies."""
    rank = np.empty(len(C), dtype=np.int64)
    rank[probe_order(C, q)] = np.arange(len(C))
    indexed = cell >= 0
    row_rank = np.where(indexed, rank[np.where(indexed, cell, 0)], len(C))
    best = None
    for t in np.unique(topic[indexed]):
        r = row_rank[topic == t]
        first, filled = int(r.min()), int((r < 2 * nprobe).sum())
        if first >= nprobe and filled >= k:
            key = (abs(2 * first - 3 * nprobe), int(t))
            best = min(best, key) if best else key
    return None if best is None else best[1]
