#!/usr/bin/env python3
"""Dump `.explain("formatted")` for named registry queries to files.

Evidence artifacts for the optimization rounds (plans/r{N}/<query>_{before,
after}.txt — the judge checks plan claims against these):

    python tools/dump_plans.py --out plans/r16 --suffix _before q1 q2 ...

Iterative/streaming entries have no single plan; for those pass a name the
tool knows a representative sub-plan for (see SPECIAL below), or skip them.
"""

from __future__ import annotations

import argparse
import os
import sys

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO)


def _formatted(df) -> str:
    jdf = df._jdf
    mode = df.sparkSession._jvm.org.apache.spark.sql.execution.ExplainMode.fromString(
        "formatted"
    )
    return jdf.queryExecution().explainString(mode)


def _minhash_sigs_plan(spark, sf_dir):
    """The signature kernel feeding dedup_minhash_lsh and 5 other consumers
    (the r16 vectorization target): sh -> _minhash_sigs."""
    from distributed_graph_database_simulation_spark.operators import dedup

    return dedup._minhash_sigs(dedup._shingled(dedup._docs(spark, sf_dir)))


def _cc_superstep_plan(spark, sf_dir):
    """One superstep of the g_connected_components_scale loop: the plan
    between two barriers (one min_label_step). The loop itself is
    driver-side."""
    from distributed_graph_database_simulation_spark.operators import (
        graph_analytics as GA,
    )
    from distributed_graph_database_simulation_spark import fixtures
    from distributed_graph_database_simulation_spark.sources.graph_text import (
        GRAPH_SCHEMA,
    )
    from pyspark.sql import functions as F

    edges = fixtures.scale_edges_df(spark, sf_dir).selectExpr(
        "CAST(1 AS INT) AS graph_id", "src", "dst"
    )
    graphs = spark.createDataFrame([(1, fixtures.SCALE_V)], GRAPH_SCHEMA)
    ue = GA.barrier(GA.undirected(edges), eager=True)
    labels = GA.barrier(
        GA.vertices(graphs).withColumn("component", F.col("vertex")), eager=True
    )
    return GA.min_label_step(labels, ue, ["graph_id", "vertex"], "component")


def _pagerank_superstep_plan(spark, sf_dir):
    """One superstep of the g_pagerank_scale loop: the plan between two
    barriers (one pagerank_step over the checkpointed vertex state and
    edge shares)."""
    from distributed_graph_database_simulation_spark.operators import (
        graph_analytics as GA,
    )
    from distributed_graph_database_simulation_spark.operators.graph_queries import (
        _scale_graph,
    )
    from pyspark.sql import functions as F

    graphs, edges = _scale_graph(spark, sf_dir)
    state, share = GA.pagerank_tables(GA.uniform_tele(graphs), edges, F.lit(1.0))
    return GA.pagerank_step(state, share, 0.85)


SPECIAL = {
    "minhash_sigs_kernel": _minhash_sigs_plan,
    "cc_superstep_block": _cc_superstep_plan,
    "pagerank_superstep_block": _pagerank_superstep_plan,
}


def main() -> int:
    ap = argparse.ArgumentParser()
    ap.add_argument("--sf", default=os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1"))
    ap.add_argument("--out", required=True)
    ap.add_argument("--suffix", default="")
    ap.add_argument("names", nargs="+")
    args = ap.parse_args()

    from distributed_graph_database_simulation_spark import registry
    from distributed_graph_database_simulation_spark.session import get_spark

    spark = get_spark("plan-dump", int(os.environ.get("SPARK_GRAFT_SHUFFLE", "8")))
    queries = registry.queries()
    os.makedirs(args.out, exist_ok=True)
    for name in args.names:
        fn = SPECIAL.get(name) or queries.get(name)
        if fn is None:
            print(f"# {name}: NOT FOUND, skipped", file=sys.stderr)
            continue
        plan = _formatted(fn(spark, args.sf))
        path = os.path.join(args.out, f"{name}{args.suffix}.txt")
        with open(path, "w") as f:
            f.write(plan)
        print(f"# wrote {path}", file=sys.stderr)
    spark.stop()
    return 0


if __name__ == "__main__":
    sys.exit(main())
