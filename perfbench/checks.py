"""Answer checks: a ranked top-k against its twin, and tombstone leaks."""

from __future__ import annotations

from typing import Iterable, List, Sequence, Tuple

Hit = Tuple[int, float]  # (doc_id, score), in rank order

TOL = 1e-9  # relative score tolerance: the two tiers sum floats in different orders


def _close(a: float, b: float) -> bool:
    return abs(a - b) <= TOL * max(1.0, abs(a), abs(b))


def same_topk(got: Sequence[Hit], want: Sequence[Hit]) -> bool:
    """True when ``got`` ranks the same docs with the same scores as ``want``.

    Rank by rank the scores must agree. Docs may differ in position only
    inside a run of tied scores (both tiers break exact ties by doc_id,
    but a float sum in another order can turn a tie into a near-tie)."""
    if len(got) != len(want):
        return False
    if not all(_close(g[1], w[1]) for g, w in zip(got, want)):
        return False
    i = 0
    while i < len(want):
        j = i + 1
        while j < len(want) and _close(want[j][1], want[i][1]):
            j += 1
        if sorted(d for d, _ in got[i:j]) != sorted(d for d, _ in want[i:j]):
            return False
        i = j
    return True


def leaked(hits: Iterable[int], tombstoned: set) -> List[int]:
    """Doc ids in ``hits`` that were deleted."""
    return [d for d in hits if d in tombstoned]


def rows_by_query(rows, n_queries: int) -> List[List[Hit]]:
    """Collected (query_id, doc_id, score, rank) rows -> per-query hit lists."""
    out: List[List[tuple]] = [[] for _ in range(n_queries)]
    for r in rows:
        out[r["query_id"]].append((r["rank"], int(r["doc_id"]), float(r["score"])))
    return [[(d, s) for _, d, s in sorted(h)] for h in out]
