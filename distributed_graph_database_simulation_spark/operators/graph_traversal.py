"""BFS and DFS with the reference's intended semantics, Spark-first.

Reference ops (SURVEY.md §2a rows 3-4):

- **BFS -> level order** (op=4, ``secondary_server.c:199-248``): level-
  synchronous BFS; level sets are deterministic, intra-level order is
  thread-race-dependent in the reference, so the contract here is the
  ``(vertex, level)`` set with level == shortest unweighted distance.
- **DFS -> leaf set** (op=3, ``secondary_server.c:117-176``): sequential DFS
  with **ascending neighbor order** (``for neighbor = 0..n-1``,
  ``secondary_server.c:157``); returns the set of DFS-tree leaves — visited
  nodes that expanded no unvisited child (``child_count`` flag,
  ``secondary_server.c:156-173``). Deterministic given the order contract.

Two physical strategies, chosen by the caller:

1. :func:`bfs_levels` — the scale path. A Pregel-style driver loop: each
   superstep is ``frontier ⋈ edges -> distinct -> anti-join visited``. The
   reference's per-level pthread barrier (``secondary_server.c:232-234``)
   *is* Spark's stage barrier at the superstep shuffle. All graphs in the
   input traverse simultaneously (the join key is ``(graph_id, vertex)``), so
   100 TB of many graphs is one bounded loop over diameter, not a loop over
   graphs. ``localCheckpoint`` truncates lineage (iterative-join blowup,
   SURVEY.md §7 risk b).
2. :func:`bfs_levels_small` / :func:`dfs_leaves` — per-graph
   ``applyInPandas`` kernels for the reference's regime (n <= 100): one
   pandas group per graph, sequential inside, parallel across graphs. DFS is
   inherently order-dependent and has **only** this form — do not parallelize
   it (SURVEY.md §7 risk a). A ``max_nodes`` guard refuses groups that would
   not fit a single task.
"""

from __future__ import annotations

from collections.abc import Iterable

import pandas as pd
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..session import barrier, barrier_observed

DEFAULT_KERNEL_MAX_NODES = 100_000

BFS_OUT_SCHEMA = "graph_id INT, vertex INT, level INT"
DFS_OUT_SCHEMA = "graph_id INT, vertex INT"


def _starts_df(spark: SparkSession, starts: DataFrame | Iterable[tuple[int, int]]) -> DataFrame:
    if isinstance(starts, DataFrame):
        return starts.select("graph_id", "vertex")
    return spark.createDataFrame(list(starts), "graph_id INT, vertex INT")


def bfs_levels(
    spark: SparkSession,
    edges: DataFrame,
    starts: DataFrame | Iterable[tuple[int, int]],
    max_levels: int = 10_000,
) -> DataFrame:
    """Distributed level-synchronous BFS over ``edges(graph_id, src, dst)``.

    ``starts``: (graph_id, vertex) pairs; one BFS per pair's graph (a graph
    appears at most once — multi-source BFS within one graph would merge
    frontiers). Returns (graph_id, vertex, level), level = shortest distance.
    """
    # The edge table is joined every superstep. Hash-partition it on the
    # join key ONCE and persist: the per-level join can then reuse that
    # distribution instead of re-shuffling the big side (5M-edge probe:
    # ~10% locally, where the growing visited anti-join dominates; on a
    # cluster the avoided exchange is the network-bound one).
    from pyspark.storagelevel import StorageLevel

    edges = edges.repartition("graph_id", "src").persist(StorageLevel.MEMORY_AND_DISK)
    frontier = _starts_df(spark, starts).withColumn("level", F.lit(0).cast("int"))
    visited = barrier(frontier, eager=True)
    frontier = visited
    for level in range(1, max_levels + 1):
        # Explicit aliases: after checkpointing, frontier columns carry the
        # edge table's attribute ids, so unaliased refs would be ambiguous.
        f, e = frontier.alias("f"), edges.alias("e")
        next_frontier = (
            f.join(e, on=(F.col("f.graph_id") == F.col("e.graph_id"))
                        & (F.col("f.vertex") == F.col("e.src")))
            .select(F.col("e.graph_id").alias("graph_id"), F.col("e.dst").alias("vertex"))
            .distinct()
            .join(visited, ["graph_id", "vertex"], "left_anti")
            .withColumn("level", F.lit(level).cast("int"))
        )
        # Materialize the (small) frontier once per superstep; reuse for the
        # emptiness check, the union, and the next join. The emptiness stat
        # rides the checkpoint action as an observation (r16, guide §1 —
        # the former lazy-checkpoint + count() idiom still paid the count
        # query's own jobs). Checkpoint = the reference's level barrier.
        next_frontier, m = barrier_observed(
            next_frontier, [F.count(F.lit(1)).alias("n")]
        )
        if int(m["n"]) == 0:
            break
        visited = visited.union(next_frontier)
        if level % 5 == 0:
            visited = barrier(visited, eager=True)
        frontier = next_frontier
    # Every frontier is eagerly checkpointed, so the result never re-reads
    # the edge table: release the cache instead of leaking one per call.
    edges.unpersist()
    return visited


def reachable(
    spark: SparkSession,
    edges: DataFrame,
    starts: DataFrame | Iterable[tuple[int, int]],
    max_levels: int = 10_000,
) -> DataFrame:
    """Transitive-closure membership: vertices reachable from each start."""
    return bfs_levels(spark, edges, starts, max_levels).select("graph_id", "vertex")


# ---------------------------------------------------------------------------
# Per-graph kernels (applyInPandas): the reference's n<=100 regime.
# ---------------------------------------------------------------------------

def _adjacency(pdf: pd.DataFrame) -> dict[int, list[int]]:
    """src -> neighbors in ASCENDING order (the reference's loop order,
    ``secondary_server.c:157``)."""
    adj: dict[int, list[int]] = {}
    for src, dst in zip(pdf["src"].to_numpy(), pdf["dst"].to_numpy()):
        adj.setdefault(int(src), []).append(int(dst))
    for v in adj.values():
        v.sort()
    return adj


def _check_kernel_size(graph_id: int, start: int, adj: dict[int, list[int]],
                       max_nodes: int) -> None:
    """Both kernels hold one whole graph in a single task: refuse a graph
    with more than ``max_nodes`` vertices instead of exhausting the worker."""
    n_vertices = len(set(adj) | {d for ds in adj.values() for d in ds} | {start})
    if n_vertices > max_nodes:
        raise ValueError(
            f"graph {graph_id} has {n_vertices} vertices, too large for the "
            f"kernel path: over the kernel cap {max_nodes}"
        )


def _grouped_with_start(
    edges: DataFrame, starts: DataFrame | Iterable[tuple[int, int]], spark: SparkSession
) -> DataFrame:
    """Edges + a per-graph seed row (src=start, dst=NULL) so graphs whose
    start vertex is isolated still form a pandas group."""
    starts_df = _starts_df(spark, starts)
    seeds = starts_df.select(
        "graph_id", F.col("vertex").alias("src"), F.lit(None).cast("int").alias("dst"),
        F.lit(True).alias("is_seed"),
    )
    tagged = (
        edges.join(starts_df.select("graph_id"), "graph_id", "left_semi")
        .select("graph_id", "src", "dst", F.lit(False).alias("is_seed"))
        .unionByName(seeds)
    )
    return tagged


def bfs_levels_small(
    spark: SparkSession,
    edges: DataFrame,
    starts: DataFrame | Iterable[tuple[int, int]],
    max_nodes: int = DEFAULT_KERNEL_MAX_NODES,
) -> DataFrame:
    """Faithful small-graph BFS: one sequential kernel per graph group."""

    def kernel(pdf: pd.DataFrame) -> pd.DataFrame:
        graph_id = int(pdf["graph_id"].iloc[0])
        seed_rows = pdf[pdf["is_seed"]]
        start = int(seed_rows["src"].iloc[0])
        adj = _adjacency(pdf[~pdf["is_seed"]])
        _check_kernel_size(graph_id, start, adj, max_nodes)
        level = {start: 0}
        frontier = [start]
        while frontier:
            nxt = []
            for u in frontier:
                for v in adj.get(u, ()):  # visited-on-enqueue (secondary_server.c:187-189)
                    if v not in level:
                        level[v] = level[u] + 1
                        nxt.append(v)
            frontier = nxt
        return pd.DataFrame(
            {"graph_id": graph_id, "vertex": list(level.keys()), "level": list(level.values())}
        )

    return _grouped_with_start(edges, starts, spark).groupBy("graph_id").applyInPandas(
        kernel, BFS_OUT_SCHEMA
    )


def dfs_leaves(
    spark: SparkSession,
    edges: DataFrame,
    starts: DataFrame | Iterable[tuple[int, int]],
    max_nodes: int = DEFAULT_KERNEL_MAX_NODES,
) -> DataFrame:
    """DFS-tree leaf set per (graph, start): sequential per-graph kernel.

    Semantics pinned to the reference: ascending neighbor order; a visited
    vertex is a leaf iff it expanded zero unvisited children
    (``secondary_server.c:156-173``). The reference's thread-per-child is
    joined immediately (``secondary_server.c:163-164``) so sequential DFS is
    the exact semantics, not an approximation.
    """

    def kernel(pdf: pd.DataFrame) -> pd.DataFrame:
        graph_id = int(pdf["graph_id"].iloc[0])
        start = int(pdf[pdf["is_seed"]]["src"].iloc[0])
        adj = _adjacency(pdf[~pdf["is_seed"]])
        _check_kernel_size(graph_id, start, adj, max_nodes)
        # Explicit-stack DFS (recursion on a deep path would overflow the C
        # stack and kill the worker, not raise): each frame keeps its
        # neighbor iterator so descend/backtrack order matches the recursive
        # reference semantics exactly — visited-on-descend, ascending
        # neighbor order, leaf iff zero children expanded.
        visited = {start}
        expanded = {start: 0}
        stack: list[tuple[int, object]] = [(start, iter(adj.get(start, ())))]
        while stack:
            u, it = stack[-1]
            descended = False
            for v in it:
                if v not in visited:
                    visited.add(v)
                    expanded[u] += 1
                    expanded[v] = 0
                    stack.append((v, iter(adj.get(v, ()))))
                    descended = True
                    break
            if not descended:
                stack.pop()
        leaves = [u for u, c in expanded.items() if c == 0]
        return pd.DataFrame({"graph_id": graph_id, "vertex": sorted(leaves)})

    return _grouped_with_start(edges, starts, spark).groupBy("graph_id").applyInPandas(
        kernel, DFS_OUT_SCHEMA
    )
