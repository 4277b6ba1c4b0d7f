"""Correctness checks made apart from the program under test.

Each check recomputes its expectation in plain Python (or from the
program's own from-scratch batch operator, for the incremental indexes)
and raises ``CheckFailed`` on a mismatch. None compares against a
stored copy of earlier output.
"""

from __future__ import annotations


class CheckFailed(AssertionError):
    pass


def require(cond: bool, msg: str) -> None:
    if not cond:
        raise CheckFailed(msg)


def union_find_partition(pairs) -> set[frozenset]:
    """Connected components (of size >= 2) over undirected ``pairs``."""
    parent: dict = {}

    def find(x):
        parent.setdefault(x, x)
        while parent[x] != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        return x

    for a, b in pairs:
        ra, rb = find(a), find(b)
        if ra != rb:
            parent[max(ra, rb)] = min(ra, rb)
    groups: dict = {}
    for x in parent:
        groups.setdefault(find(x), set()).add(x)
    return {frozenset(g) for g in groups.values() if len(g) > 1}


def mapping_partition(rows) -> set[frozenset]:
    """Partition of ``(node, canonical_id)`` rows by canonical id."""
    groups: dict = {}
    for node, canon in rows:
        groups.setdefault(canon, set()).add(node)
    return {frozenset(g) for g in groups.values()}


def word_shingles(text: str, k: int) -> frozenset:
    words = text.split()
    return frozenset(
        " ".join(words[i:i + k]) for i in range(max(len(words) - k + 1, 1))
    )


def exact_jaccard_pairs(docs: dict, k: int, threshold: float) -> set:
    """Every pair of documents whose exact k-word-shingle Jaccard is at
    least ``threshold``, as ``(min id, max id)``. Candidates come from
    an inverted shingle index, so only pairs sharing a shingle are
    compared."""
    sh = {d: word_shingles(t, k) for d, t in docs.items()}
    index: dict = {}
    for d, s in sh.items():
        for g in s:
            index.setdefault(g, []).append(d)
    cands = set()
    for ids in index.values():
        if 1 < len(ids) <= 200:
            ids = sorted(ids)
            for i, a in enumerate(ids):
                for b in ids[i + 1:]:
                    cands.add((a, b))
    out = set()
    for a, b in cands:
        inter = len(sh[a] & sh[b])
        if inter / (len(sh[a]) + len(sh[b]) - inter) >= threshold:
            out.add((a, b))
    return out


def rows_equal(name: str, got, want) -> None:
    """Multiset equality of two row lists (order-insensitive)."""
    from collections import Counter

    g, w = Counter(map(tuple, got)), Counter(map(tuple, want))
    if g != w:
        extra = list((g - w).elements())[:3]
        missing = list((w - g).elements())[:3]
        raise CheckFailed(
            f"{name}: {sum((g - w).values())} unexpected rows (e.g. {extra}),"
            f" {sum((w - g).values())} missing rows (e.g. {missing})"
        )


def exact_topk_recall(ids, vectors, found: dict, query_ids, k: int) -> float:
    """Share of each query's exact top-``k`` cosine neighbours (itself
    left out, ties to the lower id) that ``found[query] -> set of ids``
    holds, pooled over ``query_ids``."""
    import numpy as np

    ids = np.asarray(ids)
    v = np.asarray(vectors, dtype=np.float64)
    v = v / np.linalg.norm(v, axis=1, keepdims=True)
    row = {int(i): r for r, i in enumerate(ids)}
    hits = 0
    for q in query_ids:
        sims = v @ v[row[q]]
        sims[row[q]] = -np.inf
        order = np.lexsort((ids, -sims))[:k]
        hits += len({int(i) for i in ids[order]} & found.get(q, set()))
    return hits / (k * len(query_ids))
