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
