"""The analytics round: BFS, connected components and PageRank on one
power-law graph, the superstep-on-dataflow workload of Pregelix (VLDB 2014).

Almost all the time goes to the superstep loops: a ``session.barrier``
checkpoint and a shuffle per superstep. ``GraphStore`` and the per-graph
pandas kernels are not touched. The ``graph_requests`` workload runs one
round as its batch phase.
"""

from __future__ import annotations

import hashlib
import os
import time
import traceback

import numpy as np

from distributed_graph_database_simulation_spark.operators import graph_analytics as ga
from distributed_graph_database_simulation_spark.operators import graph_traversal as gt

from . import inputs, oracles
from .harness import Op, fetch, frame_digest, nproc
from .spans import Tracer, descends_from
from .stats import median_or

SCALE = 9               # 512 R-MAT vertices
EDGE_FACTOR = 16        # ~8k edge draws, ~5.7k distinct edges
TAIL = 4                # planted path: BFS depth 4 (the R-MAT part's is <= 3)
PAGERANK_ITERATIONS = 10
WARM_PAGERANK_ITERATIONS = 2   # each iteration runs the same plan
START = 0
GRAPH_ID = 1
PAGERANK_TOL = 1e-9


class GraphAnalytics:
    def __init__(self, spark, seed: int, work_dir: str):
        self.spark = spark
        self.work_dir = work_dir
        self.n, self.src, self.dst = inputs.rmat_graph(seed, SCALE, EDGE_FACTOR, TAIL)
        self._expected = None
        self.digest = hashlib.sha256()    # over every batch-phase output

    def _calls(self, iterations: int):
        graphs, edges = self.graphs, self.edges
        return (
            ("operators.graph_traversal.bfs_levels",
             lambda: gt.bfs_levels(self.spark, edges, [(GRAPH_ID, START)])),
            ("operators.graph_analytics.connected_components",
             lambda: ga.connected_components(self.spark, graphs, edges)),
            ("operators.graph_analytics.pagerank",
             lambda: ga.pagerank(self.spark, graphs, edges, iterations=iterations)),
        )

    # -- set-up ---------------------------------------------------------------
    def setup(self, tracer: Tracer) -> float:
        """Load the graph, then run one untimed round on it, with a shorter
        PageRank, so the timed round runs warm. Returns the warm-up
        seconds."""
        with tracer.span("load"):
            path = os.path.join(self.work_dir, "edges")
            inputs.write_edges_parquet(path, GRAPH_ID, self.src, self.dst, files=nproc())
            self.edges = self.spark.read.schema("graph_id INT, src INT, dst INT").parquet(path)
            self.graphs = self.spark.createDataFrame([(GRAPH_ID, self.n)], "graph_id INT, n INT")
            if self.edges.count() != len(self.src):
                raise RuntimeError("edge table did not load completely")
        t = time.perf_counter()
        with tracer.span("session.warmup"):
            for name, call in self._calls(WARM_PAGERANK_ITERATIONS):
                with tracer.span(name):
                    fetch(call())
        return time.perf_counter() - t

    # -- measurement ---------------------------------------------------------
    def batch(self, tracer: Tracer) -> list[Op]:
        """One round: BFS, then connected components, then PageRank."""
        return [self._run(name, call, tracer) for name, call in self._calls(PAGERANK_ITERATIONS)]

    def _run(self, name: str, call, tracer: Tracer) -> Op:
        kind = name.rsplit(".", 1)[1]
        t = time.perf_counter()
        try:
            with tracer.span(name) as sp:
                out = fetch(call())
            seconds = time.perf_counter() - t
        except Exception:
            traceback.print_exc()
            return Op(kind, True, time.perf_counter() - t, ok=False, batch=True)
        if sp is not None and kind == "bfs_levels":
            sp.attrs["max_level"] = int(out["level"].max())
        self.digest.update(frame_digest(out))
        return Op(kind, True, seconds, ok=self._check(kind, out), batch=True)

    def _check(self, kind: str, out) -> bool:
        if self._expected is None:
            self._expected = {
                "bfs_levels": oracles.bfs_levels_np(self.n, self.src, self.dst, START),
                "connected_components": oracles.min_label_components(self.n, self.src, self.dst),
                "pagerank": oracles.pagerank(self.n, self.src, self.dst, PAGERANK_ITERATIONS),
            }
        want = self._expected[kind]
        if (out["graph_id"] != GRAPH_ID).any() or out["vertex"].duplicated().any():
            return False
        v = out["vertex"].to_numpy()
        if kind == "bfs_levels":
            reached = np.flatnonzero(want >= 0)
            return len(v) == len(reached) and bool((want[v] == out["level"].to_numpy()).all())
        if len(v) != self.n:
            return False
        if kind == "connected_components":
            return bool((want[v] == out["component"].to_numpy()).all())
        return bool((np.abs(want[v] - out["rank"].to_numpy()) <= PAGERANK_TOL).all())

    # -- reporting -----------------------------------------------------------
    def detail(self, ops: list[Op]) -> dict:
        def med(kind):
            return median_or([o.seconds for o in ops if o.kind == kind], None)

        return {"bfs_s": med("bfs_levels"), "cc_s": med("connected_components"),
                "pagerank_s": med("pagerank"), "analytics_vertices": self.n,
                "analytics_edges": len(self.src), "batch_output_sha256": self.digest.hexdigest()}

    def layer_metrics(self, tracer: Tracer) -> dict:
        measured = [s for s in tracer.spans if not descends_from(tracer.spans, s, "session.warmup")]

        def pick(name):
            return [s for s in measured if s.name == name]

        def med(spans, f):
            return median_or([f(s) for s in spans], 0.0)

        bfs = pick("operators.graph_traversal.bfs_levels")
        cc = pick("operators.graph_analytics.connected_components")
        pr = pick("operators.graph_analytics.pagerank")
        return {
            "operators.graph_traversal.bfs_levels_s": med(bfs, lambda s: s.duration),
            "operators.graph_traversal.bfs_levels.supersteps": med(bfs, lambda s: s.attrs["max_level"] + 1),
            "operators.graph_traversal.bfs_levels.s_per_superstep":
                med(bfs, lambda s: s.duration / (s.attrs["max_level"] + 1)),
            "operators.graph_traversal.bfs_levels.spark_stages": med(bfs, lambda s: s.stages),
            "operators.graph_analytics.connected_components_s": med(cc, lambda s: s.duration),
            "operators.graph_analytics.connected_components.spark_jobs": med(cc, lambda s: s.jobs),
            "operators.graph_analytics.connected_components.spark_stages": med(cc, lambda s: s.stages),
            "operators.graph_analytics.pagerank_s": med(pr, lambda s: s.duration),
            "operators.graph_analytics.pagerank.spark_stages": med(pr, lambda s: s.stages),
            "operators.graph_analytics.pagerank.single_task_stages": med(pr, lambda s: s.single_task_stages),
        }

