"""Graph I/O: text-format codec, matrix<->edges, GraphStore write/read."""

import os

import pytest

from distributed_graph_database_simulation_spark import fixtures
from distributed_graph_database_simulation_spark.sources import (
    GraphStore,
    matrix_to_edges,
    read_graph_text,
    write_graph_text,
    edges_to_matrix,
)

REF = "/root/reference"


def _ref_edges(graph_id):
    return {(s, d) for g, s, d in fixtures.EDGES if g == graph_id}


def test_read_reference_fixtures(spark):
    graphs, edges = read_graph_text(spark, [f"{REF}/G{k}.txt" for k in (1, 2, 3, 5, 6, 7)])
    got_n = {r["graph_id"]: r["n"] for r in graphs.collect()}
    assert got_n == dict(fixtures.GRAPHS)
    got_edges = {(r["graph_id"], r["src"], r["dst"]) for r in edges.collect()}
    assert got_edges == set(fixtures.EDGES)


def test_matrix_roundtrip(spark, tmp_path):
    matrix = [[0, 1, 0], [0, 0, 1], [1, 0, 0]]
    graphs, edges = matrix_to_edges(spark, 9, matrix)
    assert edges_to_matrix(edges, 3) == matrix
    out = tmp_path / "G9.txt"
    write_graph_text(edges, 3, str(out))
    graphs2, edges2 = read_graph_text(spark, str(out))
    assert graphs2.collect()[0]["n"] == 3
    assert {(r["src"], r["dst"]) for r in edges2.collect()} == {(0, 1), (1, 2), (2, 0)}


def test_graph_store_add_modify(spark, tmp_path):
    store = GraphStore(spark, str(tmp_path / "store"))
    _, e5 = matrix_to_edges(spark, 5, [[0, 1], [0, 0]])
    assert store.add_graph(5, 2, e5.select("src", "dst")) == "File added successfully"
    _, e6 = matrix_to_edges(spark, 6, [[0, 0], [1, 0]])
    store.add_graph(6, 2, e6.select("src", "dst"))
    assert {(r["src"], r["dst"]) for r in store.edges(5).collect()} == {(0, 1)}

    # modify == full overwrite of that graph only (primary_server.c:71-76)
    _, e5b = matrix_to_edges(spark, 5, [[1, 0], [0, 1]])
    assert store.modify_graph(5, 2, e5b.select("src", "dst")) == "File modified successfully"
    assert {(r["src"], r["dst"]) for r in store.edges(5).collect()} == {(0, 0), (1, 1)}
    # graph 6 untouched (dynamic partition overwrite)
    assert {(r["src"], r["dst"]) for r in store.edges(6).collect()} == {(1, 0)}


def test_reliable_checkpoint_switch_matches_local(spark, tmp_path):
    """SCALE.md promises the superstep barrier flips localCheckpoint ->
    reliable checkpoint with one conf; run a real loop of each family
    (min-label CC, PageRank, level-synchronous BFS) both ways and pin
    identical results plus actual checkpoint files under the directory
    set for that loop."""
    from distributed_graph_database_simulation_spark.operators.graph_analytics import (
        connected_components,
        pagerank,
    )
    from distributed_graph_database_simulation_spark.operators.graph_traversal import (
        bfs_levels,
    )
    from distributed_graph_database_simulation_spark.session import CHECKPOINT_DIR_CONF

    graphs = fixtures.fixture_graphs_df(spark)
    edges = fixtures.fixture_edges_df(spark)
    loops = {
        "cc": lambda: {
            (r.graph_id, r.vertex): r.component
            for r in connected_components(spark, graphs, edges).collect()
        },
        "pagerank": lambda: {
            (r.graph_id, r.vertex): r.rank
            for r in pagerank(spark, graphs, edges, iterations=4).collect()
        },
        "bfs": lambda: {
            (r.graph_id, r.vertex): r.level
            for r in bfs_levels(spark, edges, [(7, 0), (5, 0)]).collect()
        },
    }
    for name, run in loops.items():
        local = run()
        ckdir = str(tmp_path / f"reliable_ck_{name}")
        spark.conf.set(CHECKPOINT_DIR_CONF, ckdir)
        try:
            reliable = run()
        finally:
            spark.conf.unset(CHECKPOINT_DIR_CONF)
        assert local, name
        assert reliable == pytest.approx(local, rel=1e-12), name
        ck_files = [f for _, _, fs in os.walk(ckdir) for f in fs]
        assert ck_files, f"{name}: reliable mode must write checkpoint files under the conf dir"


# Three graphs in one input: 1 has a dangling sink (3) and a zero-weight
# edge, 2 has no edges, 3 has an isolated vertex (4). Rows: (graph, src,
# dst, weight).
_PR_GRAPHS = [(1, 4), (2, 3), (3, 5)]
_PR_EDGES = [
    (1, 0, 1, 2), (1, 1, 2, 1), (1, 2, 0, 3), (1, 0, 3, 1), (1, 2, 1, 0),
    (3, 0, 1, 1), (3, 1, 0, 4), (3, 1, 2, 2), (3, 2, 3, 5), (3, 3, 0, 1),
]
_PR_SOURCES = [(1, 0), (2, 1), (3, 1), (3, 3)]


def _pr_inputs(spark):
    graphs = spark.createDataFrame(_PR_GRAPHS, "graph_id INT, n INT")
    edges = spark.createDataFrame(_PR_EDGES, "graph_id INT, src INT, dst INT, weight INT")
    sources = spark.createDataFrame(_PR_SOURCES, "graph_id INT, vertex INT")
    return graphs, edges, sources


def test_pagerank_jobs_per_iteration(spark):
    """Each PageRank iteration is one barrier action over the folded vertex
    state, which adaptive execution runs as 7 Spark jobs (4 shuffle-map, 2
    broadcast, 1 result) when, as here, the planner cannot size the
    inputs. A loop that re-runs earlier iterations or re-joins its loop
    invariants needs more."""
    import uuid

    from distributed_graph_database_simulation_spark.operators.graph_analytics import (
        pagerank,
    )

    graphs, edges, _ = _pr_inputs(spark)
    sc = spark.sparkContext
    jobs = {}
    try:
        for iterations in (3, 6):
            group = f"pagerank-budget-{iterations}-{uuid.uuid4().hex}"
            sc.setJobGroup(group, group)
            pagerank(spark, graphs, edges, iterations=iterations).collect()
            jobs[iterations] = len(sc.statusTracker().getJobIdsForGroup(group))
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    assert (jobs[6] - jobs[3]) / 3 <= 7, jobs


def _np_pagerank(n, edges, tele, iterations, damping=0.85):
    """Dense power iteration: rank flows along each (src, dst, w) edge in
    proportion w / out-weight(src); vertices with no out-weight are
    dangling and their mass restarts along ``tele``."""
    import numpy as np

    src = np.array([s for s, _, _ in edges], dtype=int)
    dst = np.array([d for _, d, _ in edges], dtype=int)
    w = np.array([x for _, _, x in edges], dtype=float)
    out = np.zeros(n)
    np.add.at(out, src, w)
    dangling = out == 0
    rank = tele.copy()
    for _ in range(iterations):
        received = np.zeros(n)
        np.add.at(received, dst, rank[src] * w / out[src])
        rank = (1 - damping) * tele + damping * (received + rank[dangling].sum() * tele)
    return rank


@pytest.mark.parametrize("variant", ["pagerank", "pagerank_weighted", "personalized_pagerank"])
def test_pagerank_family_multi_graph_matches_numpy(spark, tmp_path, variant):
    """The three PageRank operators share one superstep loop; over several
    graphs at once each graph keeps its own teleport vector and dangling
    mass, and no persisted RDD outlives the call (run under reliable
    checkpoints, where the barriers persist nothing themselves)."""
    import numpy as np

    from distributed_graph_database_simulation_spark.operators import graph_analytics as GA
    from distributed_graph_database_simulation_spark.session import CHECKPOINT_DIR_CONF
    from test_cache_ownership import _drain_stray_checkpoints, _n_persisted

    graphs, edges, sources = _pr_inputs(spark)
    iterations = 7
    run = {
        "pagerank": lambda: GA.pagerank(spark, graphs, edges, iterations=iterations),
        "pagerank_weighted": lambda: GA.pagerank_weighted(
            spark, graphs, edges, iterations=iterations
        ),
        "personalized_pagerank": lambda: GA.personalized_pagerank(
            spark, graphs, edges, sources, iterations=iterations
        ),
    }[variant]
    spark.catalog.clearCache()
    _drain_stray_checkpoints(spark)
    spark.conf.set(CHECKPOINT_DIR_CONF, str(tmp_path / "ck"))
    try:
        got = {(r.graph_id, r.vertex): r.rank for r in run().collect()}
        assert _n_persisted(spark) == 0, f"{variant} leaked a persisted block"
    finally:
        spark.conf.unset(CHECKPOINT_DIR_CONF)

    want = {}
    for g, n in _PR_GRAPHS:
        if variant == "pagerank_weighted":
            es = [(s, d, w) for gg, s, d, w in _PR_EDGES if gg == g and w > 0]
        else:
            es = [(s, d, 1.0) for gg, s, d, _ in _PR_EDGES if gg == g]
        if variant == "personalized_pagerank":
            srcs = [v for gg, v in _PR_SOURCES if gg == g]
            tele = np.array([1.0 / len(srcs) if v in srcs else 0.0 for v in range(n)])
        else:
            tele = np.full(n, 1.0 / n)
        for v, r in enumerate(_np_pagerank(n, es, tele, iterations)):
            want[(g, v)] = r
    assert got.keys() == want.keys()
    for k, r in want.items():
        assert abs(got[k] - r) <= 1e-12, (variant, k, got[k], r)


def test_edge_diff_between_store_snapshots(spark, tmp_path):
    """AddGraph -> snapshot -> ModifyGraph; edge_diff reports exactly the
    replaced edges (the question the reference's truncate-and-rewrite
    cannot answer)."""
    from distributed_graph_database_simulation_spark.sources.graph_store import (
        GraphStore,
        edge_diff,
    )

    store = GraphStore(spark, str(tmp_path / "store"))
    e1 = spark.createDataFrame(
        [(4, 0, 1), (4, 1, 2), (4, 2, 0)], "graph_id INT, src INT, dst INT"
    )
    store.add_graph(4, 3, e1)
    before = store.edges(4).localCheckpoint()  # snapshot survives overwrite
    e2 = spark.createDataFrame(
        [(4, 0, 1), (4, 1, 0), (4, 2, 1)], "graph_id INT, src INT, dst INT"
    )
    store.modify_graph(4, 3, e2)
    diff = {
        (r.src, r.dst, r.change)
        for r in edge_diff(before, store.edges(4)).collect()
    }
    assert diff == {
        (1, 2, "removed"), (2, 0, "removed"),
        (1, 0, "added"), (2, 1, "added"),
    }
