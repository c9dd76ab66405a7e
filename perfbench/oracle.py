"""Correctness oracles: exact answers in numpy float64, ties broken by id.

Spark sums a distance element by element while numpy sums pairwise, so the
two may disagree in the last bits. Every check below therefore compares
distances within ``RTOL`` and lets ids whose distances tie within that
tolerance trade places, exactly as the repo's DuckDB oracles order by
``(dist, id)``.
"""

from __future__ import annotations

import numpy as np

RTOL = 1e-9


def _tol(x: float) -> float:
    return RTOL * max(1.0, abs(x))


def exact_topk(d2: np.ndarray, ids: np.ndarray, k: int) -> list[list[int]]:
    """Per probe, the k ids with the smallest (dist, id)."""
    out = []
    for row in d2:
        order = np.lexsort((ids, row))[:k]
        out.append(ids[order].tolist())
    return out


def check_knn(d2_row: np.ndarray, ids: np.ndarray, got: list[tuple[int, float]], k: int) -> bool:
    """`got` is one probe's (neighbor_id, dist) list in rank order."""
    n = min(k, len(ids))
    if len(got) != n or len({g[0] for g in got}) != n:
        return False
    pos = {int(i): j for j, i in enumerate(ids)}
    kth = float(np.sort(d2_row)[n - 1])
    prev = None
    for nid, dist in got:
        j = pos.get(int(nid))
        if j is None or abs(d2_row[j] - dist) > _tol(dist) or d2_row[j] > kth + _tol(kth):
            return False
        if prev is not None and (dist < prev[1] - _tol(dist) or (dist == prev[1] and nid < prev[0])):
            return False
        prev = (nid, dist)
    got_ids = {int(g[0]) for g in got}
    must = ids[d2_row < kth - _tol(kth)]
    return all(int(i) in got_ids for i in must)


def check_range(d2_row: np.ndarray, ids: np.ndarray, got: list[tuple[int, float]], r2: float) -> bool:
    """`got` is one probe's (neighbor_id, dist) set; dist is squared L2."""
    pos = {int(i): j for j, i in enumerate(ids)}
    seen = set()
    for nid, dist in got:
        j = pos.get(int(nid))
        if j is None or nid in seen or abs(d2_row[j] - dist) > _tol(dist) or dist > r2 + _tol(r2):
            return False
        seen.add(nid)
    must = ids[d2_row <= r2 - _tol(r2)]
    return all(int(i) in seen for i in must)


def check_approx(d2_row: np.ndarray, ids: np.ndarray, got: list[tuple[int, float]], k: int) -> bool:
    """An approximate answer is valid when every returned id exists, its
    distance is right, there are at most k of them, and they are ranked."""
    pos = {int(i): j for j, i in enumerate(ids)}
    if len(got) > k or len({g[0] for g in got}) != len(got):
        return False
    prev = None
    for nid, dist in got:
        j = pos.get(int(nid))
        if j is None or abs(d2_row[j] - dist) > _tol(dist):
            return False
        if prev is not None and dist < prev - _tol(dist):
            return False
        prev = dist
    return True


def recall(exact: list[int], got: list[int]) -> float:
    return len(set(exact) & set(got)) / max(1, len(exact))


def normalized_rows(df) -> list[str]:
    """The ``/verify`` row normalisation: sort columns by name, repr each
    row (so NaN == NaN), sort the rows."""
    cols = sorted(df.columns)
    return sorted(repr(t) for t in df[cols].itertuples(index=False))
