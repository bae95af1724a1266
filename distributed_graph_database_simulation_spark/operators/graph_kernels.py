"""Per-graph analytics kernels (applyInPandas) for the reference's regime.

The reference's graphs are tiny (n <= 100 per ``secondary_server.c:91``),
so iterative analytics on them are latency-bound, not data-bound: a
superstep loop pays ~0.1-0.3 s of local scheduler floor per Spark job, and
the PageRank loop runs 5-7 jobs per iteration. These kernels run the WHOLE
algorithm inside one Arrow batch per graph — one shuffle total, parallel
across graphs — which is also the right 100 TB plan for a corpus of many
small graphs (the superstep loops in ``graph_analytics`` remain the plan
for single huge graphs, and stay registry-covered via the ``*_scale``
entries).

Numerics: the PageRank kernel applies the identical per-iteration formula
as :func:`graph_analytics.pagerank`; both are compared at micro (1e-6)
resolution by the oracle, far above double accumulation-order noise.
Connected components is exact integer math (min reachable id) — kernel and
superstep agree bit-for-bit; equality of both pairs is pinned in tests.
"""

from __future__ import annotations

import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from .graph_traversal import DEFAULT_KERNEL_MAX_NODES

PR_OUT_SCHEMA = "graph_id INT, vertex INT, rank DOUBLE"
CC_OUT_SCHEMA = "graph_id INT, vertex INT, component INT"


def _grouped_with_n(graphs: DataFrame, edges: DataFrame) -> DataFrame:
    """Edges joined with the graph's declared n, plus one seed row per graph
    (src=NULL) so edgeless graphs still form a pandas group."""
    dims = graphs.select("graph_id", "n")
    seeds = dims.select(
        "graph_id", "n",
        F.lit(None).cast("int").alias("src"),
        F.lit(None).cast("int").alias("dst"),
    )
    return (
        edges.join(F.broadcast(dims), "graph_id")
        .select("graph_id", "n", "src", "dst")
        .unionByName(seeds)
    )


def pagerank_kernel(
    graphs: DataFrame,
    edges: DataFrame,
    iterations: int = 10,
    damping: float = 0.85,
    max_nodes: int = DEFAULT_KERNEL_MAX_NODES,
) -> DataFrame:
    """Whole-graph power iteration per pandas group; same per-iteration
    update as the superstep loop (dangling mass redistributed uniformly)."""

    def kernel(pdf: pd.DataFrame) -> pd.DataFrame:
        import numpy as np

        graph_id = int(pdf["graph_id"].iloc[0])
        n = int(pdf["n"].iloc[0])
        if n > max_nodes:
            raise ValueError(f"graph {graph_id} has n={n}, over kernel cap {max_nodes}")
        e = pdf[pdf["src"].notna()]
        src = e["src"].to_numpy(dtype=np.int64)
        dst = e["dst"].to_numpy(dtype=np.int64)
        out_deg = np.bincount(src, minlength=n).astype(np.float64)
        dangling = out_deg == 0
        ranks = np.full(n, 1.0 / n, dtype=np.float64)
        for _ in range(iterations):
            received = np.zeros(n, dtype=np.float64)
            if len(src):
                np.add.at(received, dst, ranks[src] / out_deg[src])
            dangling_mass = ranks[dangling].sum()
            ranks = (1.0 - damping) / n + damping * (received + dangling_mass / n)
        return pd.DataFrame(
            {"graph_id": graph_id, "vertex": np.arange(n), "rank": ranks}
        )

    return _grouped_with_n(graphs, edges).groupBy("graph_id").applyInPandas(
        kernel, PR_OUT_SCHEMA
    )


def connected_components_kernel(
    graphs: DataFrame,
    edges: DataFrame,
    max_nodes: int = DEFAULT_KERNEL_MAX_NODES,
) -> DataFrame:
    """Union-find per pandas group over the undirected closure; component =
    min vertex id, matching the superstep min-label fixed point exactly."""

    def kernel(pdf: pd.DataFrame) -> pd.DataFrame:
        graph_id = int(pdf["graph_id"].iloc[0])
        n = int(pdf["n"].iloc[0])
        if n > max_nodes:
            raise ValueError(f"graph {graph_id} has n={n}, over kernel cap {max_nodes}")
        parent = list(range(n))

        def find(x: int) -> int:
            while parent[x] != x:
                parent[x] = parent[parent[x]]
                x = parent[x]
            return x

        e = pdf[pdf["src"].notna()]
        for s, d in zip(e["src"].astype(int), e["dst"].astype(int)):
            rs, rd = find(s), find(d)
            if rs != rd:
                parent[max(rs, rd)] = min(rs, rd)
        comp = [find(v) for v in range(n)]
        return pd.DataFrame({"graph_id": graph_id, "vertex": range(n), "component": comp})

    return _grouped_with_n(graphs, edges).groupBy("graph_id").applyInPandas(
        kernel, CC_OUT_SCHEMA
    )


SCC_OUT_SCHEMA = "graph_id INT, vertex INT, scc_id INT"


def scc_kernel(
    graphs: DataFrame,
    edges: DataFrame,
    max_nodes: int = DEFAULT_KERNEL_MAX_NODES,
) -> DataFrame:
    """Strongly connected components per pandas group — iterative Tarjan
    (explicit stack, no recursion limit), scc_id = min member id.

    The two-regimes complement to
    :func:`~.graph_analytics.strongly_connected_components`: the superstep
    FW-BW scheme pays O(cycle length) color supersteps on long cycles, so
    a corpus of MANY bounded-size graphs (the reference's n<=100 regime)
    runs Tarjan whole-graph inside one Arrow batch per graph instead —
    one shuffle total, parallel across graphs, immune to cycle length.
    """

    def kernel(pdf: pd.DataFrame) -> pd.DataFrame:
        graph_id = int(pdf["graph_id"].iloc[0])
        n = int(pdf["n"].iloc[0])
        if n > max_nodes:
            raise ValueError(f"graph {graph_id} has n={n}, over kernel cap {max_nodes}")
        adj: dict[int, list[int]] = {}
        e = pdf[pdf["src"].notna()]
        for s, d in zip(e["src"].astype(int), e["dst"].astype(int)):
            if s != d:
                adj.setdefault(s, []).append(d)
        index: dict[int, int] = {}
        low: dict[int, int] = {}
        on_stack: set[int] = set()
        stack: list[int] = []
        label = list(range(n))
        counter = 0
        for root in range(n):
            if root in index:
                continue
            work: list[tuple[int, int]] = [(root, 0)]
            while work:
                v, pi = work[-1]
                if pi == 0:
                    index[v] = low[v] = counter
                    counter += 1
                    stack.append(v)
                    on_stack.add(v)
                advanced = False
                nbrs = adj.get(v, [])
                for i in range(pi, len(nbrs)):
                    w = nbrs[i]
                    if w not in index:
                        work[-1] = (v, i + 1)
                        work.append((w, 0))
                        advanced = True
                        break
                    if w in on_stack:
                        low[v] = min(low[v], index[w])
                if not advanced:
                    work.pop()
                    if work:
                        u = work[-1][0]
                        low[u] = min(low[u], low[v])
                    if low[v] == index[v]:
                        comp = []
                        while True:
                            w = stack.pop()
                            on_stack.discard(w)
                            comp.append(w)
                            if w == v:
                                break
                        m = min(comp)
                        for w in comp:
                            label[w] = m
        return pd.DataFrame(
            {"graph_id": graph_id, "vertex": range(n), "scc_id": label}
        )

    return _grouped_with_n(graphs, edges).groupBy("graph_id").applyInPandas(
        kernel, SCC_OUT_SCHEMA
    )


BCC_OUT_SCHEMA = (
    "graph_id INT, kind STRING, vertex INT, src INT, dst INT"
)


def articulation_kernel(
    graphs: DataFrame,
    edges: DataFrame,
    max_nodes: int = DEFAULT_KERNEL_MAX_NODES,
) -> DataFrame:
    """Articulation points and bridges per pandas group — Hopcroft-Tarjan
    lowpoint DFS (explicit stack), on the undirected simple view of each
    graph.

    Cut vertices/edges have no shuffle-native distributed formulation (the
    lowpoint recurrence is inherently DFS-ordered), so this is a
    kernel-regime-only operator by design, matching the reference's
    n<=100 bound (`secondary_server.c:91`) — it parallelizes ACROSS
    graphs, the same decomposition argument as `dfs_leaves`. Returns long
    rows: kind='articulation' with ``vertex`` set, kind='bridge' with
    canonical (src < dst) endpoints set.
    """

    def kernel(pdf: pd.DataFrame) -> pd.DataFrame:
        graph_id = int(pdf["graph_id"].iloc[0])
        n = int(pdf["n"].iloc[0])
        if n > max_nodes:
            raise ValueError(f"graph {graph_id} has n={n}, over kernel cap {max_nodes}")
        adj: dict[int, set[int]] = {v: set() for v in range(n)}
        e = pdf[pdf["src"].notna()]
        for s, d in zip(e["src"].astype(int), e["dst"].astype(int)):
            if s != d:
                adj[s].add(d)
                adj[d].add(s)
        order = {v: sorted(adj[v]) for v in range(n)}
        disc: dict[int, int] = {}
        low: dict[int, int] = {}
        parent: dict[int, int] = {}
        arts: set[int] = set()
        bridges: list[tuple[int, int]] = []
        counter = 0
        for root in range(n):
            if root in disc:
                continue
            root_children = 0
            work: list[tuple[int, int]] = [(root, 0)]
            while work:
                v, pi = work[-1]
                if pi == 0:
                    disc[v] = low[v] = counter
                    counter += 1
                advanced = False
                nbrs = order[v]
                for i in range(pi, len(nbrs)):
                    w = nbrs[i]
                    if w not in disc:
                        parent[w] = v
                        if v == root:
                            root_children += 1
                        work[-1] = (v, i + 1)
                        work.append((w, 0))
                        advanced = True
                        break
                    if w != parent.get(v):
                        low[v] = min(low[v], disc[w])
                if not advanced:
                    work.pop()
                    if work:
                        u = work[-1][0]
                        low[u] = min(low[u], low[v])
                        if low[v] >= disc[u] and u != root:
                            arts.add(u)
                        if low[v] > disc[u]:
                            bridges.append((min(u, v), max(u, v)))
            if root_children >= 2:
                arts.add(root)
        rows = [
            {"graph_id": graph_id, "kind": "articulation", "vertex": v,
             "src": None, "dst": None}
            for v in sorted(arts)
        ] + [
            {"graph_id": graph_id, "kind": "bridge", "vertex": None,
             "src": s, "dst": d}
            for s, d in sorted(bridges)
        ]
        if not rows:
            rows = []
        return pd.DataFrame(
            rows, columns=["graph_id", "kind", "vertex", "src", "dst"]
        )

    return _grouped_with_n(graphs, edges).groupBy("graph_id").applyInPandas(
        kernel, BCC_OUT_SCHEMA
    )


ECC_OUT_SCHEMA = "graph_id INT, vertex INT, eccentricity INT"


def eccentricity_kernel(
    graphs: DataFrame,
    edges: DataFrame,
    max_nodes: int = DEFAULT_KERNEL_MAX_NODES,
) -> DataFrame:
    """Exact per-vertex eccentricity (undirected view) per pandas group:
    BFS from every vertex inside one Arrow batch — O(n·(n+m)) per graph,
    the right plan at the reference's n<=100 bound where all-pairs fits
    trivially in a task. Radius/diameter are one tiny agg over the result
    (min/max of eccentricity); unreachable pairs make a vertex's
    eccentricity -1 (disconnected graph marker) — callers filter or split
    by component first for per-component metrics. Complements the
    distributed `diameter_double_sweep` lower bound (single huge graphs)
    and the HyperBall effective diameter (approximate, all scales).
    """
    from collections import deque

    def kernel(pdf: pd.DataFrame) -> pd.DataFrame:
        graph_id = int(pdf["graph_id"].iloc[0])
        n = int(pdf["n"].iloc[0])
        if n > max_nodes:
            raise ValueError(f"graph {graph_id} has n={n}, over kernel cap {max_nodes}")
        adj: dict[int, set[int]] = {v: set() for v in range(n)}
        e = pdf[pdf["src"].notna()]
        for s, d in zip(e["src"].astype(int), e["dst"].astype(int)):
            if s != d:
                adj[s].add(d)
                adj[d].add(s)
        ecc = []
        for start in range(n):
            dist = {start: 0}
            q = deque([start])
            far = 0
            while q:
                v = q.popleft()
                for w in adj[v]:
                    if w not in dist:
                        dist[w] = dist[v] + 1
                        far = max(far, dist[w])
                        q.append(w)
            ecc.append(far if len(dist) == n else -1)
        return pd.DataFrame(
            {"graph_id": graph_id, "vertex": range(n), "eccentricity": ecc}
        )

    return _grouped_with_n(graphs, edges).groupBy("graph_id").applyInPandas(
        kernel, ECC_OUT_SCHEMA
    )
