"""graph_requests: the reference's four operations as a closed loop, then
one analytics round.

Requests: one client sends a request, waits for the reply, checks it, and
sends the next, as the reference's interactive client does. Reads are BFS
level sets and DFS leaf sets on one small graph; writes replace or add one
graph. Reads and writes hit the same ``GraphStore``, and the graph a request
touches is drawn with Zipf weights, so a few graphs stay hot.

Batch phase: the analytics round of :mod:`.graph_analytics` (BFS, connected
components, PageRank) on a separate power-law graph.
"""

from __future__ import annotations

import os
import time
import traceback

from distributed_graph_database_simulation_spark import fixtures
from distributed_graph_database_simulation_spark.operators import graph_traversal as gt
from distributed_graph_database_simulation_spark.sources.graph_store import GraphStore

from . import inputs, oracles
from .graph_analytics import GraphAnalytics
from .harness import Op, dir_stats, fetch
from .spans import Tracer, descends_from, inclusive
from .stats import median_or

N_SEEDED = 4            # seeded graphs loaded next to the six fixtures
SEEDED_FIRST_ID = 100
ADDED_FIRST_ID = 1000
WARM_GRAPH = 7          # fixture the warm-up reads
EDGE_SCHEMA = "src INT, dst INT"
REPLY = {"add": "File added successfully", "modify": "File modified successfully"}


class GraphRequests:
    def __init__(self, spark, seed: int, work_dir: str):
        self.spark = spark
        self.store = GraphStore(spark, os.path.join(work_dir, "store"))
        # The benchmark's own copy of every graph: the oracles read it, and
        # each write updates it, so a stale read shows as a mismatch.
        self.graphs: dict[int, tuple[int, list[tuple[int, int]]]] = {
            gid: (n, [(s, d) for g, s, d in fixtures.EDGES if g == gid])
            for gid, n in fixtures.GRAPHS
        }
        self.graphs.update(inputs.initial_graphs(seed, N_SEEDED, SEEDED_FIRST_ID))
        # The fixtures are 2-7-vertex test graphs: ranked coldest, so that
        # most reads hit graphs of the reference's size.
        self.stream = inputs.RequestStream(
            seed, {g: n for g, (n, _) in self.graphs.items()}, ADDED_FIRST_ID,
            cold=frozenset(gid for gid, _ in fixtures.GRAPHS),
        )
        self.analytics = GraphAnalytics(spark, seed, work_dir)

    # -- set-up ---------------------------------------------------------------
    def setup(self, tracer: Tracer) -> float:
        """Load every graph through ``add_graph``, which also warms the
        write path (``modify_graph`` shares it), warm both read kinds once,
        then set up the analytics round. Returns the warm-up seconds."""
        for gid in sorted(self.graphs):
            n, edges = self.graphs[gid]
            op = self._serve(inputs.Request("add", gid, n=n, edges=edges), tracer)
            if not op.ok:
                raise RuntimeError(f"loading graph {gid} failed")
        t = time.perf_counter()
        with tracer.span("session.warmup"):
            warm = [inputs.Request("bfs", WARM_GRAPH, start=0),
                    inputs.Request("dfs", WARM_GRAPH, start=0)]
            if not all(self._serve(r, tracer).ok for r in warm):
                raise RuntimeError("warm-up request failed")
        return time.perf_counter() - t + self.analytics.setup(tracer)

    # -- measurement ---------------------------------------------------------
    def interactive(self, seconds: float, tracer: Tracer) -> list[Op]:
        ops = []
        deadline = time.perf_counter() + seconds
        while not ops or time.perf_counter() < deadline:
            ops.append(self._serve(self.stream.next(), tracer))
        return ops

    def batch(self, tracer: Tracer) -> list[Op]:
        return self.analytics.batch(tracer)

    def _serve(self, req: inputs.Request, tracer: Tracer) -> Op:
        read = req.kind in ("bfs", "dfs")
        reply = None
        t = time.perf_counter()
        try:
            with tracer.span("request", kind=req.kind, graph_id=req.graph_id):
                if read:
                    with tracer.span("sources.graph_store.edges"):
                        edges = self.store.edges(req.graph_id)
                    fn = gt.bfs_levels_small if req.kind == "bfs" else gt.dfs_leaves
                    with tracer.span(f"operators.graph_traversal.{fn.__name__}"):
                        reply = fetch(fn(self.spark, edges, [(req.graph_id, req.start)]))
                else:
                    payload = self.spark.createDataFrame(req.edges, EDGE_SCHEMA)
                    method = self.store.add_graph if req.kind == "add" else self.store.modify_graph
                    with tracer.span(f"sources.graph_store.{method.__name__}"):
                        reply = method(req.graph_id, req.n, payload)
            seconds = time.perf_counter() - t
        except Exception:
            traceback.print_exc()
            return Op(req.kind, read, time.perf_counter() - t, ok=False)
        return Op(req.kind, read, seconds, ok=self._check(req, reply))

    def _check(self, req: inputs.Request, reply) -> bool:
        if req.kind in REPLY:
            self.graphs[req.graph_id] = (req.n, req.edges)
            return reply == REPLY[req.kind]
        edges = self.graphs[req.graph_id][1]
        if set(reply["graph_id"].tolist()) - {req.graph_id}:
            return False
        if req.kind == "bfs":
            got = set(zip(reply["vertex"].tolist(), reply["level"].tolist()))
            return len(got) == len(reply) and got == oracles.bfs_levels(edges, req.start)
        got = reply["vertex"].tolist()
        return len(set(got)) == len(got) and set(got) == oracles.dfs_leaves(edges, req.start)

    # -- reporting -----------------------------------------------------------
    def detail(self, ops: list[Op]) -> dict:
        requests = [o for o in ops if not o.batch]
        reads = [o.seconds for o in requests if o.read]
        writes = [o.seconds for o in requests if not o.read]
        return {"read_p50_s": median_or(reads, None),
                "write_p50_s": median_or(writes, None),
                "reads": len(reads), "writes": len(writes),
                **self.analytics.detail(ops)}

    def layer_metrics(self, tracer: Tracer) -> dict:
        """Write figures include the set-up load; read figures leave out the
        cold warm-up reads."""
        spans = tracer.spans
        by_name: dict[str, list] = {}
        for s in spans:
            if s.name.startswith("sources.graph_store.") or not descends_from(spans, s, "session.warmup"):
                by_name.setdefault(s.name, []).append(s)

        def med(name):
            return median_or([s.duration for s in by_name.get(name, [])], 0.0)

        def per_call(calls, counter):
            return sum(inclusive(spans, s)[counter] for s in calls) / len(calls) if calls else 0.0

        writes = by_name.get("sources.graph_store.add_graph", []) + by_name.get(
            "sources.graph_store.modify_graph", [])
        reads = [s for s in by_name.get("request", []) if s.attrs["kind"] in ("bfs", "dfs")]
        files, size = dir_stats(self.store.edges_path)
        g_files, g_size = dir_stats(self.store.graphs_path)
        n_edges = sum(len(e) for _, e in self.graphs.values())
        return {
            "sources.graph_store.add_graph_s": med("sources.graph_store.add_graph"),
            "sources.graph_store.modify_graph_s": med("sources.graph_store.modify_graph"),
            "sources.graph_store.spark_jobs_per_write": per_call(writes, "jobs"),
            "sources.graph_store.files_per_graph": (files + g_files) / len(self.graphs),
            "sources.graph_store.bytes_per_edge": (size + g_size) / max(n_edges, 1),
            "operators.graph_traversal.bfs_levels_small_s": med("operators.graph_traversal.bfs_levels_small"),
            "operators.graph_traversal.dfs_leaves_s": med("operators.graph_traversal.dfs_leaves"),
            "operators.graph_traversal.spark_jobs_per_read": per_call(reads, "jobs"),
            "operators.graph_traversal.spark_tasks_per_read": per_call(reads, "tasks"),
            **self.analytics.layer_metrics(tracer),
        }
