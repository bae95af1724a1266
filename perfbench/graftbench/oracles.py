"""Independent reference answers, in plain Python and NumPy.

Each oracle is written from the operation's documented semantics, not from
the package's code, and runs on the benchmark's own copy of the inputs.
"""

from __future__ import annotations

from collections import deque

import numpy as np

# --- graph_requests: the reference's BFS and DFS -------------------------------


def _adjacency(edges: list[tuple[int, int]]) -> dict[int, list[int]]:
    adj: dict[int, list[int]] = {}
    for u, v in edges:
        adj.setdefault(u, []).append(v)
    for vs in adj.values():
        vs.sort()
    return adj


def bfs_levels(edges: list[tuple[int, int]], start: int) -> set[tuple[int, int]]:
    """(vertex, level) for every vertex reachable from ``start``; level is
    the unweighted shortest distance."""
    adj = _adjacency(edges)
    level = {start: 0}
    queue = deque([start])
    while queue:
        u = queue.popleft()
        for v in adj.get(u, ()):
            if v not in level:
                level[v] = level[u] + 1
                queue.append(v)
    return set(level.items())


def dfs_leaves(edges: list[tuple[int, int]], start: int) -> set[int]:
    """Leaves of the DFS tree from ``start`` when neighbours are taken in
    ascending order: visited vertices that descended into no child."""
    adj = _adjacency(edges)
    visited = {start}
    leaves = set()

    def visit(u: int) -> None:
        children = 0
        for v in adj.get(u, ()):
            if v not in visited:
                visited.add(v)
                children += 1
                visit(v)
        if children == 0:
            leaves.add(u)

    visit(start)
    return leaves


# --- graph_analytics -----------------------------------------------------------


def bfs_levels_np(n: int, src: np.ndarray, dst: np.ndarray, start: int) -> np.ndarray:
    """Level of every vertex from ``start`` (-1 where unreachable)."""
    order = np.argsort(src, kind="stable")
    s, d = src[order], dst[order]
    ptr = np.searchsorted(s, np.arange(n + 1))
    level = np.full(n, -1, np.int64)
    level[start] = 0
    frontier = np.array([start])
    depth = 0
    while frontier.size:
        depth += 1
        nxt = np.unique(np.concatenate([d[ptr[u]:ptr[u + 1]] for u in frontier]))
        nxt = nxt[level[nxt] < 0]
        level[nxt] = depth
        frontier = nxt
    return level


def min_label_components(n: int, src: np.ndarray, dst: np.ndarray) -> np.ndarray:
    """Weakly connected components; each vertex labelled by the smallest
    vertex id in its component (union-find)."""
    parent = list(range(n))

    def find(x: int) -> int:
        while parent[x] != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        return x

    for u, v in zip(src.tolist(), dst.tolist()):
        ru, rv = find(u), find(v)
        if ru != rv:
            if ru < rv:
                parent[rv] = ru
            else:
                parent[ru] = rv
    return np.array([find(x) for x in range(n)], np.int64)


def pagerank(n: int, src: np.ndarray, dst: np.ndarray, iterations: int, damping: float = 0.85) -> np.ndarray:
    """Power iteration from the uniform vector; the rank of dangling
    vertices (no out-edges) is spread uniformly over all vertices."""
    out_deg = np.bincount(src, minlength=n).astype(np.float64)
    dangling = out_deg == 0
    rank = np.full(n, 1.0 / n)
    for _ in range(iterations):
        received = np.bincount(dst, weights=rank[src] / out_deg[src], minlength=n)
        rank = (1.0 - damping) / n + damping * (received + rank[dangling].sum() / n)
    return rank


# --- corpus_pipeline -----------------------------------------------------------

JACCARD_T = 0.5


def shingles(text: str, n: int = 3) -> frozenset[str]:
    """Distinct word n-grams of whitespace-normalised text."""
    w = text.split()
    return frozenset(" ".join(w[i:i + n]) for i in range(len(w) - n + 1))


def jaccard(a: frozenset, b: frozenset) -> float:
    return len(a & b) / len(a | b) if a or b else 0.0


def near_duplicate_pairs(doc_ids, texts: list[str]) -> dict[tuple[int, int], float]:
    """Every pair (a < b) with word-3-gram Jaccard >= 0.5, found exactly
    through a shingle inverted index (no sampling, no hashing)."""
    sh = {int(d): shingles(t) for d, t in zip(doc_ids, texts)}
    index: dict[str, list[int]] = {}
    for d, s in sh.items():
        for g in s:
            index.setdefault(g, []).append(d)
    candidates = set()
    for ds in index.values():
        if 1 < len(ds) <= 64:
            ds = sorted(ds)
            candidates.update((a, b) for i, a in enumerate(ds) for b in ds[i + 1:])
        elif len(ds) > 64:
            raise ValueError("shingle shared by >64 documents: vocabulary too small")
    out = {}
    for a, b in candidates:
        j = jaccard(sh[a], sh[b])
        if j >= JACCARD_T:
            out[(a, b)] = j
    return out


def planted_pairs(groups: list[list[int]], pairs: dict[tuple[int, int], float]) -> set[tuple[int, int]]:
    """Pairs inside a planted group that are true near-duplicates."""
    return {
        (a, b) for g in groups for i, a in enumerate(g) for b in g[i + 1:] if (a, b) in pairs
    }


def cosine_rows(vecs: np.ndarray, query_ids: np.ndarray, neighbor_ids: np.ndarray) -> np.ndarray:
    q, c = vecs[query_ids], vecs[neighbor_ids]
    return (q * c).sum(1) / (np.linalg.norm(q, axis=1) * np.linalg.norm(c, axis=1))


def exact_topk(vecs: np.ndarray, query_ids: np.ndarray, k: int) -> dict[int, list[int]]:
    """Brute-force top-``k`` neighbours by cosine (self excluded; ties by id)."""
    unit = vecs / np.linalg.norm(vecs, axis=1, keepdims=True)
    out = {}
    for q in query_ids.tolist():
        cos = unit @ unit[q]
        cos[q] = -np.inf
        order = np.lexsort((np.arange(len(cos)), -cos))
        out[q] = order[:k].tolist()
    return out
