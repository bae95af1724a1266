"""GraphX-style analytics over edge-list DataFrames (north star:
"GraphX handles analytical queries but not OLTP traversals" — BASELINE.json).

All plain DataFrame ops + the same superstep machinery as BFS
(SURVEY.md §7 step 4). Vertex universe is ``0..n-1`` from the ``graphs``
dimension (isolated vertices exist; ``n`` is header-declared,
``secondary_server.c:91``), generated JVM-side with ``sequence`` + ``explode``.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..session import barrier, barrier_observed


def vertices(graphs: DataFrame) -> DataFrame:
    """(graph_id, vertex) for vertex in 0..n-1 — includes isolated vertices."""
    return graphs.select(
        "graph_id", F.explode(F.sequence(F.lit(0), F.col("n") - 1)).alias("vertex")
    )


def degrees(graphs: DataFrame, edges: DataFrame) -> DataFrame:
    """Per-vertex out/in degree, zero-filled over the full vertex universe.

    Degree is THE canonical one-shuffle graph aggregate: partial (map-side)
    counts combine before the exchange; the small degree tables then
    broadcast-join back onto the vertex universe.
    """
    out_deg = edges.groupBy("graph_id", F.col("src").alias("vertex")).agg(
        F.count("*").alias("out_degree")
    )
    in_deg = edges.groupBy("graph_id", F.col("dst").alias("vertex")).agg(
        F.count("*").alias("in_degree")
    )
    return (
        vertices(graphs)
        .join(out_deg, ["graph_id", "vertex"], "left")
        .join(in_deg, ["graph_id", "vertex"], "left")
        .select(
            "graph_id",
            "vertex",
            F.coalesce("out_degree", F.lit(0)).cast("bigint").alias("out_degree"),
            F.coalesce("in_degree", F.lit(0)).cast("bigint").alias("in_degree"),
        )
    )


def undirected(edges: DataFrame) -> DataFrame:
    """Symmetrize: edge set closed under reversal (distinct)."""
    return edges.select("graph_id", "src", "dst").union(
        edges.select("graph_id", F.col("dst").alias("src"), F.col("src").alias("dst"))
    ).distinct()


# One update step per barrier: batching K steps into one action was A/B'd
# at K in {1, 2, 4} (r16; g_connected_components_scale warm 1.5 / 1.5 /
# 2.3 s) and never won, because the per-round floor is paid per shuffle
# stage (AQE runs each exchange as its own query stage), not per driver
# action, and a batch adds up to K-1 no-op steps past the fixpoint.


def min_label_step(labels: DataFrame, edges: DataFrame, keys: list[str],
                   label_col: str) -> DataFrame:
    """One min-label superstep: label := min over self and in-neighbors.

    The pre-step label rides through the aggregate as ``_old`` (max over
    {old, NULL…} = the one old label), so the convergence count can be
    taken on the same shuffle. Columns: ``keys + [label_col, "_old"]``.
    """
    vcol = keys[-1]
    group = list(keys[:-1])
    lbl, e = labels.alias("lbl"), edges.alias("e")
    cond = F.col(f"lbl.{vcol}") == F.col("e.src")
    for g in group:
        cond = cond & (F.col(f"lbl.{g}") == F.col(f"e.{g}"))
    msgs = lbl.join(e, on=cond).select(
        *[F.col(f"e.{g}").alias(g) for g in group],
        F.col("e.dst").alias(vcol),
        F.col(f"lbl.{label_col}").alias(label_col),
    )
    old_t = dict(labels.dtypes)[label_col]
    return (
        labels.withColumn("_old", F.col(label_col))
        .unionByName(msgs.withColumn("_old", F.lit(None).cast(old_t)))
        .groupBy(*keys)
        .agg(F.min(label_col).alias(label_col), F.max("_old").alias("_old"))
    )


def min_label_loop(
    labels: DataFrame,
    edges: DataFrame,
    keys: list[str],
    label_col: str,
    max_iterations: int = 50,
) -> DataFrame:
    """Min-label propagation to the fixpoint, one :func:`min_label_step`
    per barrier.

    ``labels``: one row per vertex, columns ``keys + [label_col]`` (the last
    key is the vertex id; any preceding keys are grouping columns such as
    ``graph_id``). ``edges``: ``keys[:-1] + [src, dst]``, message direction
    src -> dst. Returns the converged labels (same schema as ``labels``).
    """
    for _ in range(max_iterations):
        # Convergence stat rides the checkpoint materialization as an
        # observation — one action per superstep instead of checkpoint +
        # count (r16, guide §1; see session.barrier_observed).
        cur, m = barrier_observed(
            min_label_step(labels, edges, keys, label_col),
            [F.count_if(F.col(label_col) < F.col("_old")).alias("n_changed")],
        )
        labels = cur.drop("_old")
        if int(m["n_changed"]) == 0:
            break
    return labels


def connected_components(
    spark: SparkSession,
    graphs: DataFrame,
    edges: DataFrame,
    max_iterations: int = 50,
) -> DataFrame:
    """Min-label propagation over the undirected closure (Pregel pattern,
    per Pregelix — PAPERS.md). Converges in O(diameter) supersteps; each
    superstep is one shuffle on (graph_id, vertex), run through the shared
    :func:`min_label_loop`.
    Returns (graph_id, vertex, component), component = min reachable id.
    """
    ue = barrier(undirected(edges), eager=True)
    labels = barrier(
        vertices(graphs).withColumn("component", F.col("vertex")), eager=True
    )
    return min_label_loop(
        labels, ue, ["graph_id", "vertex"], "component", max_iterations=max_iterations
    )


def label_propagation(
    spark: SparkSession,
    graphs: DataFrame,
    edges: DataFrame,
    iterations: int = 4,
) -> DataFrame:
    """Synchronous label-propagation communities (fixed iterations).

    Each superstep every vertex adopts the most frequent label among its
    undirected neighbors, ties broken by MIN label; isolated vertices keep
    their own. Initial label = vertex id. All-integer arithmetic and the
    min tie-break make the fixed-iteration result fully deterministic —
    unlike classic randomized LPA — so it carries an exact unrolled-CTE
    oracle. Two exchanges per superstep: the count aggregate on
    (graph_id, vertex, label), then the narrower (graph_id, vertex)
    re-shuffle for the top-1 window — where Spark's WindowGroupLimit
    prunes to one candidate row per vertex on the map side, so the second
    exchange carries O(V) rows, not O(V x labels).
    """
    from pyspark.sql.window import Window

    ue = barrier(undirected(edges), eager=True)
    base = barrier(vertices(graphs), eager=True)
    labels = base.withColumn("label", F.col("vertex"))
    for it in range(1, iterations + 1):
        lbl, e = labels.alias("lbl"), ue.alias("e")
        counts = (
            lbl.join(e, on=(F.col("lbl.graph_id") == F.col("e.graph_id"))
                         & (F.col("lbl.vertex") == F.col("e.src")))
            .groupBy(
                F.col("e.graph_id").alias("graph_id"),
                F.col("e.dst").alias("vertex"),
                F.col("lbl.label").alias("label"),
            )
            .agg(F.count("*").alias("cnt"))
        )
        w = Window.partitionBy("graph_id", "vertex").orderBy(
            F.col("cnt").desc(), F.col("label").asc()
        )
        best = (
            counts.withColumn("rn", F.row_number().over(w))
            .filter(F.col("rn") == 1)
            .select("graph_id", "vertex", F.col("label").alias("new_label"))
        )
        labels = (
            labels.join(best, ["graph_id", "vertex"], "left")
            .select(
                "graph_id",
                "vertex",
                F.coalesce("new_label", "label").alias("label"),
            )
        )
        if it % 2 == 0 or it == iterations:
            labels = barrier(labels, eager=True)
    return labels


def kcore(
    spark: SparkSession,
    graphs: DataFrame,
    edges: DataFrame,
    k: int,
    max_iterations: int = 1000,
) -> DataFrame:
    """k-core: vertices surviving iterated removal of degree-<k vertices
    (undirected closure; self-loops count once). Peeling is a fixed point —
    each round recomputes degrees among survivors and drops the underfull;
    convergence is at most |V| rounds, usually a handful. One count-shuffle
    per round over the shrinking survivor set; same one-job-per-superstep
    barrier/termination fold as the other loops. Returns (graph_id, vertex).
    """
    ue = barrier(undirected(edges), eager=True)
    survivors = barrier(vertices(graphs), eager=True)
    n_prev = survivors.count()
    for it in range(1, max_iterations + 1):
        deg = (
            ue.join(survivors.withColumnRenamed("vertex", "src"), ["graph_id", "src"], "left_semi")
            .join(survivors.withColumnRenamed("vertex", "dst"), ["graph_id", "dst"], "left_semi")
            .groupBy("graph_id", F.col("src").alias("vertex"))
            .agg(F.count("*").alias("deg"))
        )
        survivors, m = barrier_observed(
            deg.filter(F.col("deg") >= k).select("graph_id", "vertex"),
            [F.count(F.lit(1)).alias("n")],
        )
        n_now = int(m["n"])
        if n_now == n_prev:
            break
        n_prev = n_now
    return survivors


def triangle_count(edges: DataFrame) -> DataFrame:
    """Triangles per graph on the undirected simple graph (no self-loops).

    Classic two-join enumeration with the ``src < dst`` canonical orientation
    so each triangle is counted exactly once; at scale this is the standard
    shuffle-heavy pattern Catalyst handles with sort-merge joins on
    (graph_id, vertex) keys.
    """
    canon = (
        undirected(edges)
        .filter(F.col("src") < F.col("dst"))
        .select("graph_id", "src", "dst")
    )
    ab = canon.alias("ab")
    bc = canon.alias("bc")
    ac = canon.alias("ac")
    tri = (
        ab.join(bc, on=[F.col("ab.graph_id") == F.col("bc.graph_id"),
                        F.col("ab.dst") == F.col("bc.src")])
        .join(ac, on=[F.col("ab.graph_id") == F.col("ac.graph_id"),
                      F.col("ab.src") == F.col("ac.src"),
                      F.col("bc.dst") == F.col("ac.dst")])
        .groupBy(F.col("ab.graph_id").alias("graph_id"))
        .agg(F.count("*").alias("triangles"))
    )
    return tri


def triangle_count_per_vertex(edges: DataFrame) -> DataFrame:
    """Per-vertex triangle counts: (graph_id, vertex, triangles) for every
    vertex participating in at least one triangle.

    Same canonical ``src < dst`` two-join enumeration as
    :func:`triangle_count`, but each found triangle (a, b, c) credits ALL
    THREE corners — one narrow explode over the 3-row corner array (rows
    proportional to 3x the triangle count, never to pairs), then a hash
    aggregate with map-side combine per (graph_id, vertex). Unlike
    :func:`clustering_coefficient` this does NOT zero-fill over the vertex
    universe: the output is the triangle mass itself, so an empty result
    means a triangle-free graph and a driver hash match on it would be
    vacuous (the r09 g_triangles lesson).
    """
    canon = (
        undirected(edges)
        .filter(F.col("src") < F.col("dst"))
        .select("graph_id", "src", "dst")
    )
    ab, bc, ac = canon.alias("ab"), canon.alias("bc"), canon.alias("ac")
    corners = (
        ab.join(bc, on=[F.col("ab.graph_id") == F.col("bc.graph_id"),
                        F.col("ab.dst") == F.col("bc.src")])
        .join(ac, on=[F.col("ab.graph_id") == F.col("ac.graph_id"),
                      F.col("ab.src") == F.col("ac.src"),
                      F.col("bc.dst") == F.col("ac.dst")])
        .select(
            F.col("ab.graph_id").alias("graph_id"),
            F.explode(
                F.array(F.col("ab.src"), F.col("ab.dst"), F.col("bc.dst"))
            ).alias("vertex"),
        )
    )
    return corners.groupBy("graph_id", "vertex").agg(
        F.count("*").alias("triangles")
    )


def sssp(
    spark: SparkSession,
    edges: DataFrame,
    start: int,
    max_iterations: int = 100,
) -> DataFrame:
    """Single-source shortest paths over weighted ``edges(src, dst, weight)``
    — Bellman-Ford as supersteps (the weighted generalization of BFS; with
    unit weights it degenerates to exactly the BFS level loop).

    Each superstep relaxes every edge out of the improved frontier:
    ``dists ⋈ edges -> min per dst -> keep improvements``. Converges in
    O(longest shortest path) supersteps; monotone decreasing, so
    termination is when no distance improves. Returns (vertex, distance).
    """
    from pyspark.storagelevel import StorageLevel

    edges = edges.repartition("src").persist(StorageLevel.MEMORY_AND_DISK)
    dists = barrier(
        spark.createDataFrame([(start, 0)], "vertex INT, distance BIGINT"),
        eager=True,
    )
    frontier = dists
    for it in range(1, max_iterations + 1):
        f, e = frontier.alias("f"), edges.alias("e")
        candidates = (
            f.join(e, F.col("f.vertex") == F.col("e.src"))
            .select(
                F.col("e.dst").alias("vertex"),
                (F.col("f.distance") + F.col("e.weight")).alias("distance"),
            )
            .groupBy("vertex")
            .agg(F.min("distance").alias("distance"))
        )
        # USING-column joins, not explicit f.col conditions: the frontier's
        # checkpointed attributes appear on BOTH sides of these joins (dists
        # contains the same LogicalRDD), and Catalyst's constraint inference
        # crashes on the duplicated expr-ids with alias-based conditions
        # ("key not found: vertex#N" — found by the Dijkstra property test
        # on a 2-vertex graph). Using-joins deduplicate the key attribute at
        # analysis time, which sidesteps the collision entirely.
        improved = (
            candidates.join(
                dists.withColumnRenamed("distance", "old_distance"), "vertex", "left"
            )
            .filter(
                F.col("old_distance").isNull()
                | (F.col("distance") < F.col("old_distance"))
            )
            .select("vertex", "distance")
        )
        # Termination stat rides the checkpoint materialization as an
        # observation — one action per superstep (r16, guide §1; see
        # session.barrier_observed).
        improved, m = barrier_observed(improved, [F.count(F.lit(1)).alias("n")])
        if int(m["n"]) == 0:
            break
        dists = dists.join(improved, "vertex", "left_anti").unionByName(improved)
        if it % 5 == 0:
            dists = barrier(dists, eager=True)
        frontier = improved
    edges.unpersist()
    return dists


def pagerank_step(state: DataFrame, share: DataFrame, damping: float) -> DataFrame:
    """One PageRank superstep over the folded vertex state.

    ``state``: (graph_id, vertex, tele, dangling, rank) — the teleport
    distribution, the dangling flag and the current rank of every vertex;
    ``share``: (graph_id, src, dst, w), the fraction of src's rank that
    flows to dst. Each vertex's rank becomes ``(1 - d) * tele + d *
    (received + dangling_mass * tele)``: dangling mass (the rank held by
    vertices with no out-share) is re-injected along the teleport vector.

    Messages and the state's own rows meet in ONE ``groupBy(graph_id,
    vertex)`` that carries tele/dangling through (max over {value, NULL…});
    the per-graph dangling mass is a tiny aggregate joined back by
    graph_id. Returns the next state (same schema).
    """
    s, e = state.alias("s"), share.alias("e")
    msgs = s.join(
        e,
        on=(F.col("s.graph_id") == F.col("e.graph_id"))
        & (F.col("s.vertex") == F.col("e.src")),
    ).select(
        F.col("e.graph_id").alias("graph_id"),
        F.col("e.dst").alias("vertex"),
        F.lit(None).cast("double").alias("tele"),
        F.lit(None).cast("boolean").alias("dangling"),
        (F.col("s.rank") * F.col("e.w")).alias("received"),
    )
    mass = (
        state.where("dangling")
        .groupBy("graph_id")
        .agg(F.sum("rank").alias("dangling_mass"))
    )
    return (
        state.select(
            "graph_id", "vertex", "tele", "dangling",
            F.lit(None).cast("double").alias("received"),
        )
        .unionByName(msgs)
        .groupBy("graph_id", "vertex")
        .agg(
            F.max("tele").alias("tele"),
            F.max("dangling").alias("dangling"),
            F.sum("received").alias("received"),
        )
        # messages to a dst outside the vertex universe carry no state row
        .where(F.col("tele").isNotNull())
        .join(mass, "graph_id", "left")
        .select(
            "graph_id",
            "vertex",
            "tele",
            "dangling",
            (
                (1.0 - damping) * F.col("tele")
                + damping
                * (
                    F.coalesce("received", F.lit(0.0))
                    + F.coalesce("dangling_mass", F.lit(0.0)) * F.col("tele")
                )
            ).alias("rank"),
        )
    )


def uniform_tele(graphs: DataFrame) -> DataFrame:
    """(graph_id, vertex, tele = 1/n): PageRank's uniform teleport vector,
    over the same vertex universe as :func:`vertices`."""
    return graphs.select(
        "graph_id",
        F.explode(F.sequence(F.lit(0), F.col("n") - 1)).alias("vertex"),
        (F.lit(1.0) / F.col("n")).alias("tele"),
    )


def pagerank_tables(tele: DataFrame, edges: DataFrame, weight) -> tuple[DataFrame, DataFrame]:
    """The checkpointed inputs of :func:`pagerank_step`: the vertex state
    (ranks start at ``tele``) and the edge-share table.

    ``tele``: (graph_id, vertex, tele) over the whole vertex universe;
    ``weight``: per-edge Column over ``edges`` — a vertex sends ``weight /
    sum of its out-weights`` of its rank along each edge and is dangling
    when it has no out-edge.
    """
    out = edges.groupBy("graph_id", F.col("src").alias("vertex")).agg(
        F.sum(weight).alias("out_weight")
    )
    state = tele.join(out, ["graph_id", "vertex"], "left").select(
        "graph_id",
        "vertex",
        "tele",
        F.col("out_weight").isNull().alias("dangling"),
        F.col("tele").alias("rank"),
    )
    share = (
        edges.select("graph_id", "src", "dst", weight.alias("_w"))
        .join(out.withColumnRenamed("vertex", "src"), ["graph_id", "src"])
        .select("graph_id", "src", "dst", (F.col("_w") / F.col("out_weight")).alias("w"))
    )
    return barrier(state, eager=True), barrier(share, eager=True)


def _pagerank_loop(
    tele: DataFrame, edges: DataFrame, weight, iterations: int, damping: float
) -> DataFrame:
    """Power iteration shared by the three PageRank operators: the tables
    are built once, then every iteration is one :func:`pagerank_step`
    closed by a barrier. Returns (graph_id, vertex, rank)."""
    state, share = pagerank_tables(tele, edges, weight)
    for _ in range(iterations):
        state = barrier(pagerank_step(state, share, damping), eager=True)
    return state.select("graph_id", "vertex", "rank")


def pagerank(
    spark: SparkSession,
    graphs: DataFrame,
    edges: DataFrame,
    iterations: int = 10,
    damping: float = 0.85,
) -> DataFrame:
    """Fixed-iteration PageRank (power iteration, dangling mass to uniform).

    Returns (graph_id, vertex, rank). Deterministic given the iteration
    count; each superstep is one :func:`pagerank_step` closed by a barrier
    — the GraphX analytics workload re-expressed as DataFrame joins.
    Adaptive execution runs a superstep as 7 Spark jobs (4 shuffle-map, 2
    broadcast, 1 result), or 5 when the planner can size the edge shares
    (edges read from files) and broadcasts them without a shuffle
    (measured on a 4-vCPU host, ``local[4]`` and ``local[8]``).
    """
    return _pagerank_loop(uniform_tele(graphs), edges, F.lit(1.0), iterations, damping)


def multi_source_bfs(
    spark: SparkSession,
    edges: DataFrame,
    sources: DataFrame,
    max_levels: int = 10_000,
) -> DataFrame:
    """Landmark BFS: one level-synchronous BFS per (graph_id, source) pair,
    ALL sources advancing in the same superstep loop.

    :func:`~.graph_traversal.bfs_levels` permits one start per graph (two
    frontiers in one graph would merge); here ``source`` is part of the
    frontier key, so k landmarks explore one graph concurrently without
    interference — the building block for sampled centralities and
    landmark-distance sketches. Wall-clock is one loop over the max
    eccentricity of any (graph, source), not a loop over sources; state is
    k×|reached| rows keyed (graph_id, source, vertex).

    ``sources``: DataFrame (graph_id, source). Returns
    (graph_id, source, vertex, level).
    """
    from pyspark.storagelevel import StorageLevel

    edges = edges.repartition("graph_id", "src").persist(StorageLevel.MEMORY_AND_DISK)
    # Constraint propagation must be off for this loop: ``vertex`` starts as
    # an alias of ``source``, and the derived equality constraint survives
    # into the iterated union-of-checkpoints, where Spark's
    # LogicalRDD.rewriteStatsAndConstraints fails with "key not found:
    # source#N" on the periodic visited re-checkpoint (reproduced whenever
    # ``sources`` is a derived plan, e.g. the windowed pivot selection).
    # Inference off costs nothing here — every join in the loop is an
    # explicit equi-join with no filters to infer — and the conf is
    # restored on exit.
    conf_key = "spark.sql.constraintPropagation.enabled"
    prev = spark.conf.get(conf_key, "true")
    spark.conf.set(conf_key, "false")
    try:
        sources = barrier(sources.select("graph_id", "source"), eager=True)
        frontier = sources.select(
            "graph_id", "source", F.col("source").alias("vertex")
        ).withColumn("level", F.lit(0).cast("int"))
        visited = barrier(frontier, eager=True)
        frontier = visited
        for level in range(1, max_levels + 1):
            f, e = frontier.alias("f"), edges.alias("e")
            next_frontier = (
                f.join(e, on=(F.col("f.graph_id") == F.col("e.graph_id"))
                            & (F.col("f.vertex") == F.col("e.src")))
                .select(
                    F.col("e.graph_id").alias("graph_id"),
                    F.col("f.source").alias("source"),
                    F.col("e.dst").alias("vertex"),
                )
                .distinct()
                .join(visited, ["graph_id", "source", "vertex"], "left_anti")
                .withColumn("level", F.lit(level).cast("int"))
            )
            next_frontier, m = barrier_observed(
                next_frontier, [F.count(F.lit(1)).alias("n")]
            )
            if int(m["n"]) == 0:
                break
            visited = visited.union(next_frontier)
            if level % 5 == 0:
                visited = barrier(visited, eager=True)
            frontier = next_frontier
    finally:
        spark.conf.set(conf_key, prev)
    edges.unpersist()
    return visited


# Deterministic pivot selection: Knuth multiplicative scramble over the
# vertex universe (same public constant as the pipeline samplers).
_PIVOT_KNUTH = 2654435761
_PIVOT_MOD = 1_000_003


def harmonic_closeness_sampled(
    spark: SparkSession,
    graphs: DataFrame,
    edges: DataFrame,
    k_pivots: int = 8,
) -> DataFrame:
    """Sampled harmonic centrality (Eppstein–Wang style): for every vertex
    v, ``harmonic_micro = Σ_pivots round(1e6 / d(p, v))`` over the k
    deterministically-chosen pivots p that reach v in 1+ steps, plus
    ``n_pivots_reached``. The caller scales by n/k for the estimator;
    harmonic (reciprocal-distance) form is used because it is total over
    disconnected graphs — unreachable pivots simply contribute 0, no
    infinite-distance special case.

    Engine-exact by the micro-unit trick (each reciprocal rounded to
    integer micro-units independently, summed as BIGINT — order-independent
    like the PageRank and Adamic-Adar oracles). Pivots are the ``k`` vertices
    with the smallest Knuth-scrambled ids per graph — reproducible
    run-to-run, and a rank-k WindowGroupLimit prunes map-side so pivot
    selection never materializes a per-graph sort of the full universe.

    Scale: one multi-source BFS loop (diameter supersteps, k×|V| state) +
    one hash aggregate. k trades accuracy for cost explicitly.
    """
    from pyspark.sql import Window

    verts = vertices(graphs)
    w = Window.partitionBy("graph_id").orderBy(
        F.pmod(F.col("vertex") * _PIVOT_KNUTH, F.lit(_PIVOT_MOD)), F.col("vertex")
    )
    pivots = (
        verts.withColumn("rn", F.row_number().over(w))
        .where(F.col("rn") <= k_pivots)
        .select("graph_id", F.col("vertex").alias("source"))
    )
    dists = multi_source_bfs(spark, edges, pivots)
    reached = dists.where(F.col("level") > 0)
    scores = reached.groupBy("graph_id", "vertex").agg(
        F.sum(F.round(F.lit(1_000_000.0) / F.col("level")).cast("bigint")).alias(
            "harmonic_micro"
        ),
        F.count("*").cast("int").alias("n_pivots_reached"),
    )
    return (
        verts.join(scores, ["graph_id", "vertex"], "left")
        .select(
            "graph_id",
            "vertex",
            F.coalesce("harmonic_micro", F.lit(0)).cast("bigint").alias("harmonic_micro"),
            F.coalesce("n_pivots_reached", F.lit(0)).alias("n_pivots_reached"),
        )
    )


def clustering_coefficient(graphs: DataFrame, edges: DataFrame) -> DataFrame:
    """Local clustering coefficient per vertex on the undirected simple
    graph: closed wedges at v / possible wedges at v, in engine-exact
    integer micro-units (``coeff_micro = floor(1e6 * 2*tri_v /
    (deg_v*(deg_v-1)))``; vertices of degree < 2 score 0 by convention).

    Same canonical ``src < dst`` two-join enumeration as
    :func:`triangle_count`, but each found triangle (a, b, c) credits ALL
    THREE corners — one explode over the 3-row corner array, then a hash
    aggregate per vertex. Zero-filled over the full vertex universe. The
    undirected degree here counts distinct neighbors excluding self-loops
    (the simple-graph degree the wedge count needs — NOT the multigraph
    in+out degree :func:`degrees` reports).

    Scale posture: identical to triangle counting (the joins dominate; AQE
    skew-split applies on hub keys) plus one narrow explode proportional to
    the triangle count and one keyed aggregate.
    """
    canon = (
        undirected(edges)
        .filter(F.col("src") < F.col("dst"))
        .select("graph_id", "src", "dst")
    )
    ab, bc, ac = canon.alias("ab"), canon.alias("bc"), canon.alias("ac")
    corners = (
        ab.join(bc, on=[F.col("ab.graph_id") == F.col("bc.graph_id"),
                        F.col("ab.dst") == F.col("bc.src")])
        .join(ac, on=[F.col("ab.graph_id") == F.col("ac.graph_id"),
                      F.col("ab.src") == F.col("ac.src"),
                      F.col("bc.dst") == F.col("ac.dst")])
        .select(
            F.col("ab.graph_id").alias("graph_id"),
            F.explode(
                F.array(F.col("ab.src"), F.col("ab.dst"), F.col("bc.dst"))
            ).alias("vertex"),
        )
    )
    tri_v = corners.groupBy("graph_id", "vertex").agg(
        F.count("*").alias("tri")
    )
    simple_deg = (
        undirected(edges)
        .filter(F.col("src") != F.col("dst"))
        .groupBy("graph_id", F.col("src").alias("vertex"))
        .agg(F.count("*").alias("deg"))
    )
    possible = F.col("deg") * (F.col("deg") - 1)
    return (
        vertices(graphs)
        .join(simple_deg, ["graph_id", "vertex"], "left")
        .join(tri_v, ["graph_id", "vertex"], "left")
        .select(
            "graph_id",
            "vertex",
            F.coalesce("deg", F.lit(0)).cast("int").alias("degree"),
            F.coalesce("tri", F.lit(0)).cast("bigint").alias("triangles"),
            F.when(
                F.coalesce("deg", F.lit(0)) < 2, F.lit(0)
            )
            .otherwise(
                F.floor(
                    F.lit(1_000_000) * 2 * F.coalesce("tri", F.lit(0)) / possible
                )
            )
            .cast("bigint")
            .alias("coeff_micro"),
        )
    )


def diameter_double_sweep(
    spark: SparkSession, edges: DataFrame, start: int = 0
) -> DataFrame:
    """Double-sweep diameter LOWER bound per graph (the standard 2-BFS
    heuristic, exact on trees): BFS from ``start``, then one more BFS from
    each graph's farthest vertex (min vertex id among ties —
    deterministic); the second eccentricity is the bound.

    Both sweeps ride :func:`multi_source_bfs` — the second sweep's sources
    are a per-graph argmax aggregate of the first (tiny), so the whole
    estimate is two superstep loops regardless of graph count. Directed
    edges are used as-is; symmetrize first for the undirected bound.

    Returns (graph_id, diameter_lower_bound, far_vertex).
    """
    gids = edges.select("graph_id").distinct()
    first = multi_source_bfs(
        spark, edges, gids.select("graph_id", F.lit(start).alias("source"))
    )
    far = (
        first.groupBy("graph_id")
        .agg(
            F.max(
                F.struct(
                    F.col("level").alias("level"),
                    (-F.col("vertex")).alias("neg_vertex"),
                )
            ).alias("m")
        )
        .select("graph_id", (-F.col("m.neg_vertex")).cast("int").alias("source"))
    )
    second = multi_source_bfs(spark, edges, far)
    return (
        second.groupBy("graph_id")
        .agg(
            F.max("level").cast("int").alias("diameter_lower_bound"),
            F.min("source").alias("far_vertex"),  # one source per graph
        )
    )


def personalized_pagerank(
    spark: SparkSession,
    graphs: DataFrame,
    edges: DataFrame,
    sources: DataFrame,
    iterations: int = 10,
    damping: float = 0.85,
) -> DataFrame:
    """Personalized PageRank / random walk with restart: teleportation goes
    to the per-graph SOURCE SET (uniform over it) instead of all vertices —
    the standard relevance-to-a-seed measure (recommendation, local
    community scoring). Dangling mass also restarts at the sources, so each
    graph's ranks sum to exactly the walk's stationary mass (1.0).

    Same superstep loop as :func:`pagerank` with the source set as the
    teleport vector (5-7 Spark jobs per iteration); vertices
    unreachable from the source set converge to rank 0, which plain
    PageRank structurally cannot express.

    ``sources``: DataFrame (graph_id, vertex). Returns
    (graph_id, vertex, rank).
    """
    from pyspark.sql.window import Window

    src_w = (
        sources.select("graph_id", "vertex")
        .distinct()
        .withColumn(
            "tele",
            F.lit(1.0) / F.count("*").over(Window.partitionBy("graph_id")),
        )
    )
    tele = vertices(graphs).join(src_w, ["graph_id", "vertex"], "left").select(
        "graph_id", "vertex", F.coalesce("tele", F.lit(0.0)).alias("tele")
    )
    return _pagerank_loop(tele, edges, F.lit(1.0), iterations, damping)


def strongly_connected_components(
    spark: SparkSession,
    graphs: DataFrame,
    edges: DataFrame,
    max_rounds: int = 50,
) -> DataFrame:
    """Strongly connected components via Trim + Forward-Max-Coloring +
    backward sweep (the Orzan/FW-BW family — the standard distributed SCC
    scheme; Tarjan is inherently sequential and has no superstep form).

    Per outer round, on the remaining subgraph:

    1. **Trim** to a fixpoint: vertices with no in- or out-edges among the
       remaining set are singleton SCCs (removing them peels chains/DAG
       tails — without this, a path graph would cost one round per vertex);
    2. **Color**: propagate ``color(v) = max id that reaches v`` along
       forward edges to convergence (a directed max-label loop, same shape
       as :func:`connected_components`);
    3. **Sweep**: every color root r (``color(r) == r``) reaches all of its
       color class; the class members that reach r BACK form SCC(r). One
       :func:`multi_source_bfs` on the color-homogeneous REVERSED edges
       from all roots simultaneously finds them — per round, one backward
       BFS regardless of root count.

    Labels follow the CC convention (scc_id = min member id). Superstep
    counts: trim and color are O(diameter)-ish per round; outer rounds are
    bounded by the graph's SCC "nesting depth" after trimming (small in
    practice, ``max_rounds``-guarded). Returns (graph_id, vertex, scc_id).
    """
    from pyspark.storagelevel import StorageLevel

    edges = (
        edges.select("graph_id", "src", "dst")
        .where(F.col("src") != F.col("dst"))
        .distinct()
        .persist(StorageLevel.MEMORY_AND_DISK)
    )
    remaining = barrier(vertices(graphs), eager=True)
    labeled_parts: list[DataFrame] = []

    # Same constraint-propagation guard as multi_source_bfs: the color loop
    # seeds an alias-equality (color = vertex) over derived anti-join plans,
    # which trips Spark's LogicalRDD constraint rewrite on re-checkpoint.
    conf_key = "spark.sql.constraintPropagation.enabled"
    prev_conf = spark.conf.get(conf_key, "true")
    spark.conf.set(conf_key, "false")
    try:
        labeled_parts = _scc_rounds(spark, edges, remaining, max_rounds)
    finally:
        spark.conf.set(conf_key, prev_conf)
    edges.unpersist()
    if not labeled_parts:
        return spark.createDataFrame([], "graph_id INT, vertex INT, scc_id INT")
    out = labeled_parts[0]
    for part in labeled_parts[1:]:
        out = out.unionByName(part)
    return out


def _scc_rounds(spark, edges, remaining, max_rounds) -> list[DataFrame]:
    labeled_parts: list[DataFrame] = []
    for _ in range(max_rounds):
        if remaining.isEmpty():
            break
        e_r = (
            edges.join(remaining.withColumnRenamed("vertex", "src"), ["graph_id", "src"], "left_semi")
            .join(remaining.withColumnRenamed("vertex", "dst"), ["graph_id", "dst"], "left_semi")
        )
        e_r = barrier(e_r, eager=True)
        # --- 1. trim to fixpoint -------------------------------------------
        n_rem = remaining.count()
        while True:
            has_out = e_r.select("graph_id", F.col("src").alias("vertex")).distinct()
            has_in = e_r.select("graph_id", F.col("dst").alias("vertex")).distinct()
            core = remaining.join(has_out, ["graph_id", "vertex"], "left_semi").join(
                has_in, ["graph_id", "vertex"], "left_semi"
            )
            # n_core rides the checkpoint action (r16, guide §1); n_rem is
            # carried forward in the driver (remaining == last round's core).
            core, m = barrier_observed(core, [F.count(F.lit(1)).alias("n")])
            n_core = int(m["n"])
            if n_core == n_rem:
                break
            trimmed = remaining.join(core, ["graph_id", "vertex"], "left_anti").select(
                "graph_id", "vertex", F.col("vertex").alias("scc_id")
            )
            labeled_parts.append(barrier(trimmed, eager=True))
            remaining = core
            n_rem = n_core
            if n_core == 0:
                break
            e_r = barrier(
                e_r.join(remaining.withColumnRenamed("vertex", "src"), ["graph_id", "src"], "left_semi")
                .join(remaining.withColumnRenamed("vertex", "dst"), ["graph_id", "dst"], "left_semi"),
                eager=True,
            )
        if n_rem == 0:  # trim emptied the round (count carried from the loop)
            break
        # --- 2. forward max coloring ---------------------------------------
        colors = barrier(remaining.withColumn("color", F.col("vertex")), eager=True)
        while True:
            c, e = colors.alias("c"), e_r.alias("e")
            msgs = (
                c.join(e, on=(F.col("c.graph_id") == F.col("e.graph_id"))
                           & (F.col("c.vertex") == F.col("e.src")))
                .select(
                    F.col("e.graph_id").alias("graph_id"),
                    F.col("e.dst").alias("vertex"),
                    F.col("c.color").alias("color"),
                    F.lit(None).cast("int").alias("old_color"),
                )
            )
            new_colors = (
                colors.withColumn("old_color", F.col("color"))
                .unionByName(msgs)
                .groupBy("graph_id", "vertex")
                .agg(
                    F.max("color").alias("color"),
                    F.max("old_color").alias("old_color"),
                )
            )
            # Convergence stat rides the checkpoint action (r16, guide §1).
            new_colors, m = barrier_observed(
                new_colors,
                [F.count_if(F.col("color") > F.col("old_color")).alias("n")],
            )
            colors = new_colors.drop("old_color")
            if int(m["n"]) == 0:
                break
        colors = barrier(colors, eager=True)
        # --- 3. backward sweep from the roots ------------------------------
        roots = colors.where(F.col("color") == F.col("vertex")).select(
            "graph_id", F.col("vertex").alias("source")
        )
        csrc = colors.select("graph_id", F.col("vertex").alias("src"), F.col("color").alias("c_src"))
        cdst = colors.select("graph_id", F.col("vertex").alias("dst"), F.col("color").alias("c_dst"))
        same_color_rev = (
            e_r.join(csrc, ["graph_id", "src"])
            .join(cdst, ["graph_id", "dst"])
            .where(F.col("c_src") == F.col("c_dst"))
            .select("graph_id", F.col("dst").alias("src"), F.col("src").alias("dst"))
        )
        scc_members = multi_source_bfs(spark, same_color_rev, roots).select(
            "graph_id", F.col("source").alias("root"), "vertex"
        )
        scc_ids = scc_members.groupBy("graph_id", "root").agg(
            F.min("vertex").alias("scc_id")
        )
        found = barrier(
            scc_members.join(scc_ids, ["graph_id", "root"]).select(
                "graph_id", "vertex", "scc_id"
            ),
            eager=True,
        )
        labeled_parts.append(found)
        remaining = barrier(
            remaining.join(found, ["graph_id", "vertex"], "left_anti"),
            eager=True,
        )
    else:
        if not remaining.isEmpty():
            raise RuntimeError(
                f"SCC did not converge in {max_rounds} rounds; raise max_rounds"
            )
    return labeled_parts


def betweenness_sampled(
    spark: SparkSession,
    graphs: DataFrame,
    edges: DataFrame,
    k_pivots: int = 8,
    max_levels: int = 10_000,
) -> DataFrame:
    """Sampled betweenness centrality (Brandes' algorithm from k
    deterministic landmarks — the Brandes/Pich estimator): forward
    level-synchronous BFS carrying shortest-path COUNTS (sigma), then a
    backward dependency accumulation walked level-by-level.

    Both passes run for ALL landmarks simultaneously: the forward pass is
    the :func:`multi_source_bfs` loop with a sum-of-parent-sigmas
    aggregate, and each backward step joins only the two adjacent level
    slices across every (graph, source) at once, so the superstep count is
    O(max eccentricity) per pass regardless of k. Landmarks are the same
    Knuth-scramble pivots as :func:`harmonic_closeness_sampled`.

    Returns (graph_id, vertex, delta_sum, bc_estimate) where ``delta_sum``
    is the raw summed dependency over the landmarks (endpoints excluded,
    Brandes convention) and ``bc_estimate = delta_sum * n / k`` is the
    Brandes-Pich scaled estimate. Sigma/delta are doubles — sampled
    centrality is estimation territory (rows-only style), pinned against
    an independent Python Brandes reference in tests.
    """
    from pyspark.sql import Window
    from pyspark.storagelevel import StorageLevel

    edges = edges.select("graph_id", "src", "dst").where(
        F.col("src") != F.col("dst")
    ).distinct().repartition("graph_id", "src").persist(StorageLevel.MEMORY_AND_DISK)
    conf_key = "spark.sql.constraintPropagation.enabled"
    prev_conf = spark.conf.get(conf_key, "true")
    spark.conf.set(conf_key, "false")
    try:
        verts = vertices(graphs)
        w = Window.partitionBy("graph_id").orderBy(
            F.pmod(F.col("vertex") * _PIVOT_KNUTH, F.lit(_PIVOT_MOD)), F.col("vertex")
        )
        pivots = (
            verts.withColumn("rn", F.row_number().over(w))
            .where(F.col("rn") <= k_pivots)
            .select("graph_id", F.col("vertex").alias("source"))
        )
        # ---- forward pass: levels + path counts --------------------------
        frontier = barrier(
            pivots.select(
                "graph_id", "source", F.col("source").alias("vertex"),
                F.lit(0).cast("int").alias("level"),
                F.lit(1.0).alias("sigma"),
            ),
            eager=True,
        )
        visited = frontier
        levels = [frontier]
        for level in range(1, max_levels + 1):
            f, e = frontier.alias("f"), edges.alias("e")
            nxt = (
                f.join(e, on=(F.col("f.graph_id") == F.col("e.graph_id"))
                           & (F.col("f.vertex") == F.col("e.src")))
                .groupBy(
                    F.col("e.graph_id").alias("graph_id"),
                    F.col("f.source").alias("source"),
                    F.col("e.dst").alias("vertex"),
                )
                .agg(F.sum("f.sigma").alias("sigma"))
                .join(visited.select("graph_id", "source", "vertex"),
                      ["graph_id", "source", "vertex"], "left_anti")
                .withColumn("level", F.lit(level).cast("int"))
                .select("graph_id", "source", "vertex", "level", "sigma")
            )
            nxt, m = barrier_observed(nxt, [F.count(F.lit(1)).alias("n")])
            if int(m["n"]) == 0:
                break
            visited = visited.unionByName(nxt)
            levels.append(nxt)
            if level % 5 == 0:
                visited = barrier(visited, eager=True)
            frontier = nxt
        # ---- backward pass: dependency accumulation ----------------------
        lmax = len(levels) - 1
        deltas_by_level: dict[int, DataFrame] = {
            lmax: levels[lmax].select(
                "graph_id", "source", "vertex", "sigma", F.lit(0.0).alias("delta")
            )
        }
        for lvl in range(lmax - 1, -1, -1):
            down = deltas_by_level[lvl + 1].alias("wd")
            v_rows = levels[lvl].alias("v")
            e = edges.alias("e")
            contrib = (
                v_rows.join(e, on=(F.col("v.graph_id") == F.col("e.graph_id"))
                               & (F.col("v.vertex") == F.col("e.src")))
                .join(down, on=(F.col("e.graph_id") == F.col("wd.graph_id"))
                            & (F.col("v.source") == F.col("wd.source"))
                            & (F.col("e.dst") == F.col("wd.vertex")))
                .groupBy(
                    F.col("v.graph_id").alias("graph_id"),
                    F.col("v.source").alias("source"),
                    F.col("v.vertex").alias("vertex"),
                )
                .agg(
                    F.sum(
                        F.col("v.sigma") / F.col("wd.sigma")
                        * (F.lit(1.0) + F.col("wd.delta"))
                    ).alias("delta")
                )
            )
            lvl_delta = (
                levels[lvl]
                .join(contrib, ["graph_id", "source", "vertex"], "left")
                .select(
                    "graph_id", "source", "vertex", "sigma",
                    F.coalesce("delta", F.lit(0.0)).alias("delta"),
                )
            )
            deltas_by_level[lvl] = barrier(lvl_delta, eager=True)
        all_deltas = deltas_by_level[lmax]
        for lvl in range(lmax - 1, -1, -1):
            all_deltas = all_deltas.unionByName(deltas_by_level[lvl])
        if lmax > 100:
            # High-eccentricity regime: the union above is O(depth) wide —
            # one slice per BFS level — and feeding a several-hundred-child
            # Union into the final aggregate strains the planner/driver.
            # Collapse the lineage once before aggregating; the slices are
            # already individually checkpointed, so this is one bounded
            # materialization, not extra recompute.
            all_deltas = barrier(all_deltas, eager=True)
        n_by_graph = graphs.select("graph_id", F.col("n").cast("double").alias("nv"))
        out = (
            all_deltas.where(F.col("vertex") != F.col("source"))
            .groupBy("graph_id", "vertex")
            .agg(F.sum("delta").alias("delta_sum"))
        )
        result = (
            verts.join(out, ["graph_id", "vertex"], "left")
            .join(F.broadcast(n_by_graph), "graph_id")
            .select(
                "graph_id", "vertex",
                F.coalesce("delta_sum", F.lit(0.0)).alias("delta_sum"),
                (F.coalesce("delta_sum", F.lit(0.0)) * F.col("nv") / k_pivots).alias(
                    "bc_estimate"
                ),
            )
        )
        return result
    finally:
        spark.conf.set(conf_key, prev_conf)


def sssp_with_predecessors(
    spark: SparkSession,
    edges: DataFrame,
    start: int,
    max_iterations: int = 100,
) -> DataFrame:
    """:func:`sssp` carrying a shortest-path TREE: each settled vertex keeps
    a predecessor. Returns (vertex, distance, pred); pred is NULL at the
    start vertex.

    Predecessor determinism is SCHEDULE-INDEPENDENT: after the distance
    fixpoint, one post-pass picks ``pred(v) = min u over tight edges``
    (dist(u) + w(u, v) == dist(v)). The in-loop struct min alone would
    record whichever tight parent's superstep message arrived FIRST —
    a function of hop counts, not of the graph — which is neither
    engine-mirrorable nor stable under plan changes; the post-pass costs
    one extra keyed join over the edges and makes the tree a pure
    function of (graph, start).

    The tree is what actual route queries need — distances alone cannot
    answer "via where?".
    """
    from pyspark.storagelevel import StorageLevel

    edges = edges.repartition("src").persist(StorageLevel.MEMORY_AND_DISK)
    # The relaxation loop carries distances ONLY — predecessors come from
    # the post-pass below, so shipping a pred through every superstep's
    # shuffle would be dead weight.
    dists = barrier(
        spark.createDataFrame([(start, 0)], "vertex INT, distance BIGINT"),
        eager=True,
    )
    frontier = dists
    for it in range(1, max_iterations + 1):
        f, e = frontier.alias("f"), edges.alias("e")
        candidates = (
            f.join(e, F.col("f.vertex") == F.col("e.src"))
            .select(
                F.col("e.dst").alias("vertex"),
                (F.col("f.distance") + F.col("e.weight")).alias("distance"),
            )
            .groupBy("vertex")
            .agg(F.min("distance").alias("distance"))
        )
        improved = (
            candidates.join(
                dists.select("vertex", F.col("distance").alias("old_distance")),
                "vertex",
                "left",
            )
            .filter(
                F.col("old_distance").isNull()
                | (F.col("distance") < F.col("old_distance"))
            )
            .select("vertex", "distance")
        )
        # Termination stat rides the checkpoint action (r16, guide §1).
        improved, m = barrier_observed(improved, [F.count(F.lit(1)).alias("n")])
        if int(m["n"]) == 0:
            break
        dists = dists.join(improved, "vertex", "left_anti").unionByName(improved)
        if it % 5 == 0:
            dists = barrier(dists, eager=True)
        frontier = improved
    # Schedule-independent predecessors: min parent id over tight edges,
    # computed once after the distance fixpoint (an in-loop pred would
    # reflect message arrival order — a function of hop counts, not the
    # graph — and would ship dead weight through every superstep).
    d = dists.select("vertex", "distance")
    du = d.select(F.col("vertex").alias("src"), F.col("distance").alias("d_src"))
    dv = d.select(F.col("vertex").alias("dst"), F.col("distance").alias("d_dst"))
    tight = (
        edges.join(du, "src")
        .join(dv, "dst")
        .where(F.col("d_src") + F.col("weight") == F.col("d_dst"))
    )
    tree = tight.groupBy(F.col("dst").alias("vertex")).agg(
        F.min("src").cast("int").alias("pred")
    )
    out = (
        d.join(tree, "vertex", "left")
        .select(
            "vertex",
            "distance",
            F.when(F.col("vertex") == start, F.lit(None).cast("int"))
            .otherwise(F.col("pred"))
            .alias("pred"),
        )
    )
    edges.unpersist()
    return out


def reconstruct_path(preds: DataFrame, target: int, max_hops: int = 100_000) -> list[int]:
    """Walk the predecessor tree from ``target`` back to the source and
    return the forward path as vertex ids. Driver-side by nature — a
    single path is one row per hop; the tree itself stays distributed.
    Raises if ``target`` is unreachable (no row)."""
    path = [target]
    cur = target
    for _ in range(max_hops):
        row = preds.where(F.col("vertex") == cur).select("pred").first()
        if row is None:
            raise ValueError(f"vertex {target} is not reachable")
        if row["pred"] is None:
            return list(reversed(path))
        cur = int(row["pred"])
        path.append(cur)
    raise RuntimeError("predecessor walk exceeded max_hops (cycle in tree?)")


def pagerank_weighted(
    spark: SparkSession,
    graphs: DataFrame,
    edges: DataFrame,
    iterations: int = 10,
    damping: float = 0.85,
) -> DataFrame:
    """PageRank over WEIGHTED edges ``(graph_id, src, dst, weight)``: each
    vertex distributes its rank proportionally to outgoing edge weight
    (``w(u,v) / sum_out(u)``) instead of uniformly — the citation-strength
    / transition-probability form. Dangling vertices (no outgoing weight)
    redistribute uniformly, exactly like :func:`pagerank`.

    Same superstep loop as :func:`pagerank`; only the edge shares change.
    Weights must be non-negative; zero-weight edges contribute nothing but
    do not make their source dangling unless ALL its edges are zero
    (documented: sum_out(u) = 0 is treated as dangling).
    """
    return _pagerank_loop(
        uniform_tele(graphs),
        edges.where(F.col("weight") > 0),
        F.col("weight").cast("double"),
        iterations,
        damping,
    )


# ---------------------------------------------------------------------------
# HyperBall: approximate neighborhood function + effective diameter
# ---------------------------------------------------------------------------
# Boldi/Rosa/Vigna, "HyperANF: Approximating the Neighbourhood Function of
# Very Large Graphs on a Budget" (WWW 2011). Each vertex carries a
# HyperLogLog counter of the vertices in its out-ball; one superstep unions
# every vertex's counter into its in-neighbors' counters, so after t steps
# counter(v) estimates |{w : dist(v, w) <= t}|. The neighborhood function
# N(t) = sum_v |ball(v, t)| yields distance distribution, effective
# diameter, and centrality sketches without any all-pairs computation.
#
# Register-transposed layout: the per-vertex HLL is NOT an array column but
# SPARSE rows (graph_id, vertex, reg, rho) — only touched registers exist.
# The superstep merge is then a plain groupBy().max(): Spark has no native
# elementwise-array-max aggregate, and this layout gets map-side partial
# aggregation for free (registers crush to one row per (vertex, reg) before
# the exchange). State is bounded by m rows/vertex; shuffle volume per
# superstep is at most m*|E| narrow int rows combined map-side — the 100 TB
# formulation. Registers use a 60-bit md5-derived hash (engine-portable,
# same trick as dedup.simhash) so results are deterministic everywhere.

_HB_LOG2M_DEFAULT = 6  # m = 64 registers -> ~13% HLL std error, linear
                       # counting keeps small balls much tighter than that


def _hb_alpha(m: int) -> float:
    """Standard HLL bias-correction constant (Flajolet et al. 2007)."""
    if m <= 16:
        return 0.673
    if m <= 32:
        return 0.697
    if m <= 64:
        return 0.709
    return 0.7213 / (1.0 + 1.079 / m)


def _hb_init_state(graphs: DataFrame, log2m: int) -> DataFrame:
    """Ball(v, 0) = {v}: one register row per vertex.

    reg = low log2m bits of the 60-bit hash; rho = leading-zero count + 1
    of the remaining W bits (computed exactly via the length of the base-2
    string — no float log2, whose rounding at powers of two differs by
    libm). All JVM-side expression code.
    """
    m = 1 << log2m
    w_bits = 60 - log2m
    h = F.conv(F.substring(F.md5(F.col("vertex").cast("string")), 1, 15), 16, 10).cast(
        "bigint"
    )
    v = vertices(graphs).withColumn("h", h)
    # Exact bigint shift: h / m through float division would promote the
    # 60-bit hash to double (53-bit mantissa) and can be off by ±2 near
    # power-of-two boundaries, skewing the leading-zero count by one.
    w = F.shiftright(F.col("h"), log2m)
    rho = F.when(w == 0, F.lit(w_bits + 1)).otherwise(
        F.lit(w_bits + 1) - F.length(F.conv(w, 10, 2))
    )
    return v.select(
        "graph_id",
        "vertex",
        F.pmod("h", F.lit(m)).cast("int").alias("reg"),
        rho.cast("int").alias("rho"),
    )


def _hb_estimates(state: DataFrame, log2m: int) -> list:
    """One aggregation pass -> [(graph_id, nf_est, checksum)] rows.

    Per-vertex HLL estimate with the standard small-range (linear counting)
    correction — absent registers contribute 2^0 each and count as zeros —
    summed per graph. ``checksum`` = sum of all rho values + row count: rho
    values only ever increase and rows are only ever added, so an unchanged
    checksum proves NO register changed (the balls reached their transitive
    closure) without a new-vs-old join.
    """
    m = 1 << log2m
    alpha = _hb_alpha(m)
    per_vertex = state.groupBy("graph_id", "vertex").agg(
        F.sum(F.pow(F.lit(2.0), -F.col("rho"))).alias("z_nz"),
        F.count("*").alias("nz"),
        F.sum("rho").cast("bigint").alias("rho_sum"),
    )
    zeros = F.lit(m) - F.col("nz")
    e_raw = F.lit(alpha * m * m) / (F.col("z_nz") + zeros)
    est = F.when(
        (zeros > 0) & (e_raw <= F.lit(2.5 * m)), F.lit(float(m)) * F.log(F.lit(m) / zeros)
    ).otherwise(e_raw)
    return (
        per_vertex.select("graph_id", est.alias("est"), "rho_sum", "nz")
        .groupBy("graph_id")
        .agg(
            F.sum("est").alias("nf_est"),
            (F.sum("rho_sum") + F.sum("nz")).alias("checksum"),
        )
        .collect()
    )


def hyperball(
    spark: SparkSession,
    graphs: DataFrame,
    edges: DataFrame,
    log2m: int = _HB_LOG2M_DEFAULT,
    max_t: int = 10_000,
) -> DataFrame:
    """Approximate neighborhood function N(t) per graph via HyperBall.

    Returns a small DataFrame (graph_id int, t int, nf_est double):
    for each t until convergence, the estimated number of ordered vertex
    pairs (v, w) with dist(v, w) <= t following OUT-edges (t=0 rows are the
    HLL estimate of |V| — each ball is its own vertex). Convergence =
    the monotone register checksum stops changing, i.e. every ball reached
    its transitive closure; N(final t) estimates reachable-pair count.

    Delta propagation (the HyperANF "systolic" refinement): only register
    rows that CHANGED last superstep are re-sent along edges — a register
    already seen by a neighbor adds nothing under the idempotent max-merge,
    so omitting it is lossless and the dominant m*|E| propagation shuffle
    shrinks toward zero as balls close (early supersteps touch everything,
    late ones only the frontier of still-growing balls). Convergence is
    then simply "no register improved". One aggregation job per superstep
    emits the N(t) point. Deterministic: md5-derived registers, no RNG.
    """
    from pyspark.storagelevel import StorageLevel

    edges = (
        edges.select("graph_id", "src", "dst")
        .repartition("graph_id", "dst")
        .persist(StorageLevel.MEMORY_AND_DISK)
    )
    state = barrier(_hb_init_state(graphs, log2m), eager=True)
    rows = _hb_estimates(state, log2m)
    # reg_checksum rides along (exact BIGINT: sum of rho + register count —
    # a pure function of the register STATE, so a SQL oracle that rebuilds
    # ball membership exactly can certify the whole trajectory without
    # touching the float estimate; the r10 g_hyperball_scale entry).
    nf = [(int(r["graph_id"]), 0, float(r["nf_est"]), int(r["checksum"])) for r in rows]
    prev_checksums = {int(r["graph_id"]): int(r["checksum"]) for r in rows}
    delta = state
    for t in range(1, max_t + 1):
        d, e = delta.alias("d"), edges.alias("e")
        # changed counters at dst flow to src: ball_t(src) |= ball_{t-1}(dst)
        cand = (
            d.join(
                e,
                on=(F.col("d.graph_id") == F.col("e.graph_id"))
                & (F.col("d.vertex") == F.col("e.dst")),
            )
            .select(
                F.col("e.graph_id").alias("graph_id"),
                F.col("e.src").alias("vertex"),
                F.col("d.reg").alias("reg"),
                F.col("d.rho").alias("rho"),
            )
            .groupBy("graph_id", "vertex", "reg")
            .agg(F.max("rho").alias("rho"))
        )
        keys = ["graph_id", "vertex", "reg"]
        improved = (
            cand.alias("c")
            .join(state.alias("s"), on=keys, how="left")
            .where(F.col("s.rho").isNull() | (F.col("c.rho") > F.col("s.rho")))
            .select(*keys, F.col("c.rho").alias("rho"))
        )
        improved = barrier(improved, eager=False)
        state = state.join(improved, on=keys, how="left_anti").unionByName(improved)
        state = barrier(state, eager=(t % 5 == 0))
        # ONE job per superstep (r15 fusion): the estimates collect
        # materializes the new state — improved included, through its lazy
        # barrier — and its exact register checksum doubles as the
        # convergence test. rho values only ever increase and rows are only
        # ever added, so "every graph's checksum unchanged" holds iff NO
        # register improved — exactly the retired improved.count() == 0
        # (which cost a second job per superstep).
        rows = _hb_estimates(state, log2m)
        checksums = {int(r["graph_id"]): int(r["checksum"]) for r in rows}
        if checksums == prev_checksums:
            break  # no register grew: every ball closed at t-1 (no t row)
        prev_checksums = checksums
        nf.extend(
            (int(r["graph_id"]), t, float(r["nf_est"]), int(r["checksum"]))
            for r in rows
        )
        delta = improved
    edges.unpersist()
    return spark.createDataFrame(
        nf, "graph_id int, t int, nf_est double, reg_checksum bigint"
    )


def effective_diameter(nf: DataFrame, alpha: float = 0.9) -> DataFrame:
    """Effective diameter from a neighborhood function (graph_id, t, nf_est).

    The standard ANF/HyperANF definition with linear interpolation: the
    smallest (fractional) t at which N(t) reaches alpha * N(t_max). Window
    functions over the tiny nf frame — no driver loop, composes with
    :func:`hyperball` or an exact N(t) alike. Returns
    (graph_id, effective_diameter double).
    """
    from pyspark.sql import Window

    per_g = Window.partitionBy("graph_id")
    ordered = Window.partitionBy("graph_id").orderBy("t")
    target = F.lit(alpha) * F.max("nf_est").over(per_g)
    annotated = nf.select(
        "graph_id",
        "t",
        "nf_est",
        target.alias("target"),
        F.lag("nf_est").over(ordered).alias("prev_nf"),
    )
    # first row per graph with nf_est >= target; interpolate into (t-1, t]
    hit = (
        annotated.where(F.col("nf_est") >= F.col("target"))
        .groupBy("graph_id")
        .agg(F.min_by(F.struct("t", "nf_est", "prev_nf", "target"), "t").alias("s"))
        .select("graph_id", F.col("s.*"))
    )
    interp = F.when(
        (F.col("t") == 0) | F.col("prev_nf").isNull() | (F.col("prev_nf") >= F.col("target")),
        F.col("t").cast("double"),
    ).otherwise(
        F.col("t") - 1
        + (F.col("target") - F.col("prev_nf")) / (F.col("nf_est") - F.col("prev_nf"))
    )
    return hit.select("graph_id", interp.alias("effective_diameter"))


def _edge_support(canon: DataFrame) -> DataFrame:
    """Triangles-per-edge (support) over a canonical src<dst edge set.

    One triangle (a<b<c) enumeration — the same two-join shape as
    :func:`triangle_count` — then each found triangle credits all THREE of
    its edges via an explode of the three (src, dst) pairs + one
    partial-aggregated count. Edges in no triangle get support 0 via the
    left join. Two keyed shuffles total; hub skew rides AQE like the other
    wedge joins.
    """
    ab, bc, ac = canon.alias("ab"), canon.alias("bc"), canon.alias("ac")
    tri = (
        ab.join(bc, on=[F.col("ab.graph_id") == F.col("bc.graph_id"),
                        F.col("ab.dst") == F.col("bc.src")])
        .join(ac, on=[F.col("ab.graph_id") == F.col("ac.graph_id"),
                      F.col("ab.src") == F.col("ac.src"),
                      F.col("bc.dst") == F.col("ac.dst")])
        .select(
            F.col("ab.graph_id").alias("graph_id"),
            F.col("ab.src").alias("a"),
            F.col("ab.dst").alias("b"),
            F.col("bc.dst").alias("c"),
        )
    )
    edge_hits = tri.select(
        "graph_id",
        F.explode(
            F.array(
                F.struct(F.col("a").alias("src"), F.col("b").alias("dst")),
                F.struct(F.col("b").alias("src"), F.col("c").alias("dst")),
                F.struct(F.col("a").alias("src"), F.col("c").alias("dst")),
            )
        ).alias("e"),
    ).select("graph_id", F.col("e.src").alias("src"), F.col("e.dst").alias("dst"))
    support = edge_hits.groupBy("graph_id", "src", "dst").agg(
        F.count("*").alias("support")
    )
    return (
        canon.join(support, ["graph_id", "src", "dst"], "left")
        .select(
            "graph_id",
            "src",
            "dst",
            F.coalesce("support", F.lit(0)).cast("bigint").alias("support"),
        )
    )


def ktruss(
    spark: SparkSession,
    edges: DataFrame,
    k: int,
    max_iterations: int = 1_000,
) -> DataFrame:
    """The k-truss of each graph: the maximal subgraph in which every edge
    closes at least k-2 triangles *within the subgraph* (Cohen 2008 — the
    cohesive-subgraph middle ground between k-core and clique).

    Iterated peeling, the same fixpoint shape as :func:`kcore` one level
    up the lattice: recompute per-edge support on the surviving edge set,
    drop edges below k-2, repeat until stable. Each round is the
    triangle-enumeration pair of keyed joins + one count — no pairwise
    materialization beyond actual triangles — and removal cascades are
    handled by the fixpoint, not bookkeeping. Returns the surviving
    canonical edges with their final support:
    (graph_id, src, dst, support), src < dst.
    """
    if k < 2:
        raise ValueError(f"k must be >= 2, got {k}")
    from pyspark.storagelevel import StorageLevel

    canon = (
        undirected(edges)
        .filter(F.col("src") < F.col("dst"))
        .select("graph_id", "src", "dst")
    )
    canon = barrier(canon, eager=True)
    n_edges = canon.count()
    for it in range(1, max_iterations + 1):
        with_support = _edge_support(canon)
        kept = with_support.where(F.col("support") >= k - 2)
        # Fixpoint stat rides the checkpoint action (r16, guide §1).
        kept, m = barrier_observed(kept, [F.count(F.lit(1)).alias("n")])
        n_kept = int(m["n"])
        canon = kept.select("graph_id", "src", "dst")
        if n_kept == n_edges:
            return kept  # fixpoint: every surviving edge is supported
        n_edges = n_kept
        if n_kept == 0:
            return kept
    raise RuntimeError(f"ktruss did not converge in {max_iterations} iterations")


def _mis_priority(round_no: int):
    """Deterministic per-round vertex priority: 60-bit md5 hash of
    (graph_id, vertex, round). Engine-portable, no RNG — the same
    reproducibility contract as the walk/sampler hashes."""
    return F.conv(
        F.substring(
            F.md5(
                F.concat_ws(
                    "|",
                    F.col("graph_id").cast("string"),
                    F.col("vertex").cast("string"),
                    F.lit(str(round_no)),
                )
            ),
            1,
            15,
        ),
        16,
        10,
    ).cast("bigint")


def maximal_independent_set(
    spark: SparkSession,
    graphs: DataFrame,
    edges: DataFrame,
    max_rounds: int = 1_000,
) -> DataFrame:
    """Luby's maximal independent set with deterministic hash priorities.

    Per round, every still-active vertex draws a priority (md5 of vertex ×
    round, ties broken by vertex id, so the result is a pure function of
    the graph); local maxima over the active neighborhood join the MIS,
    then winners and their neighbors deactivate. O(log |V|) expected
    rounds (Luby 1986); each round is one neighbor-max aggregate + two
    keyed semi/anti joins — all on the (graph_id, vertex) key. Returns
    (graph_id, vertex, round) for MIS members (round = when selected).

    Self-loops would make their vertex ineligible by definition (it is its
    own neighbor); they are dropped first, matching the undirected-simple
    reading every other analytics operator uses.
    """
    from pyspark.storagelevel import StorageLevel

    ue = (
        undirected(edges)
        .where(F.col("src") != F.col("dst"))
        .persist(StorageLevel.MEMORY_AND_DISK)
    )
    # Active-set size rides each barrier action as an observation (r16,
    # guide §1 job count) — the loop-top count() jobs are gone.
    active, m = barrier_observed(vertices(graphs), [F.count(F.lit(1)).alias("n")])
    n_active = int(m["n"])
    chosen = None
    for rnd in range(1, max_rounds + 1):
        if n_active == 0:
            break
        pri = active.select(
            "graph_id", "vertex", _mis_priority(rnd).alias("p")
        )
        pri = barrier(pri, eager=False)
        p_a, p_b, e = pri.alias("pa"), pri.alias("pb"), ue.alias("e")
        # max (priority, vertex) over each vertex's ACTIVE neighbors; the
        # struct max gives the deterministic tie-break for free
        nbr_max = (
            e.join(
                p_b,
                on=(F.col("e.graph_id") == F.col("pb.graph_id"))
                & (F.col("e.dst") == F.col("pb.vertex")),
            )
            .select(
                F.col("e.graph_id").alias("graph_id"),
                F.col("e.src").alias("vertex"),
                F.struct(F.col("pb.p").alias("p"), F.col("pb.vertex").alias("v")).alias(
                    "nb"
                ),
            )
            .groupBy("graph_id", "vertex")
            .agg(F.max("nb").alias("nb_max"))
        )
        winners = (
            p_a.join(nbr_max, ["graph_id", "vertex"], "left")
            .where(
                F.col("nb_max").isNull()
                | (
                    F.struct(F.col("p").alias("p"), F.col("vertex").alias("v"))
                    > F.col("nb_max")
                )
            )
            .select("graph_id", "vertex", F.lit(rnd).cast("int").alias("round"))
        )
        winners = barrier(winners, eager=True)
        chosen = winners if chosen is None else chosen.unionByName(winners)
        # deactivate winners and every neighbor of a winner
        w_nbrs = (
            ue.alias("e")
            .join(
                winners.alias("w"),
                on=(F.col("e.graph_id") == F.col("w.graph_id"))
                & (F.col("e.src") == F.col("w.vertex")),
            )
            .select(
                F.col("e.graph_id").alias("graph_id"),
                F.col("e.dst").alias("vertex"),
            )
        )
        dead = winners.select("graph_id", "vertex").unionByName(w_nbrs)
        active = active.join(dead, ["graph_id", "vertex"], "left_anti")
        active, m = barrier_observed(active, [F.count(F.lit(1)).alias("n")])
        n_active = int(m["n"])
    ue.unpersist()
    if chosen is None:
        return spark.createDataFrame([], "graph_id int, vertex int, round int")
    return chosen


def _matching_priority(round_no: int):
    """Deterministic per-round EDGE priority: 60-bit md5 hash of
    (graph_id, src, dst, round) — the edge-world sibling of
    :func:`_mis_priority`, same engine-portable no-RNG contract."""
    return F.conv(
        F.substring(
            F.md5(
                F.concat_ws(
                    "|",
                    F.col("graph_id").cast("string"),
                    F.col("src").cast("string"),
                    F.col("dst").cast("string"),
                    F.lit(str(round_no)),
                )
            ),
            1,
            15,
        ),
        16,
        10,
    ).cast("bigint")


def maximal_matching(
    spark: SparkSession,
    graphs: DataFrame,
    edges: DataFrame,
    max_rounds: int = 1_000,
) -> DataFrame:
    """Distributed maximal matching by local-max edge selection (the
    Israeli–Itai / Luby-style edge race): per round every still-active
    edge draws a deterministic hash priority; an edge joins the matching
    iff it holds the maximum (priority, src, dst) among ALL active edges
    at BOTH of its endpoints, then every edge touching a matched vertex
    deactivates. The globally-max active edge always wins, so each round
    makes progress; expected O(log m) rounds.

    Maximality (no two matched edges share a vertex; every unmatched
    edge touches a matched vertex) is a structural invariant of the
    race. Per round: one incidence-max aggregate (partial-combined on the
    (graph_id, vertex) key) + two keyed joins back to the edge list +
    two anti-joins for deactivation — never an edge-pair product. Edges
    are canonicalized undirected (src < dst, self-loops dropped, the
    usual simple-graph reading).

    Returns (graph_id, src, dst, round) for matched edges.
    """
    from pyspark.storagelevel import StorageLevel

    # Active-set size rides each barrier action as an observation (r16,
    # guide §1 job count) — the loop-top count() jobs are gone.
    active, m = barrier_observed(
        undirected(edges)
        .where(F.col("src") < F.col("dst"))
        .select("graph_id", "src", "dst")
        .distinct(),
        [F.count(F.lit(1)).alias("n")],
    )
    n_active = int(m["n"])
    _ = graphs  # vertex universe not needed: isolated vertices never match
    chosen = None
    for rnd in range(1, max_rounds + 1):
        if n_active == 0:
            break
        pri = active.select(
            "graph_id",
            "src",
            "dst",
            F.struct(
                _matching_priority(rnd).alias("p"),
                F.col("src").alias("s"),
                F.col("dst").alias("d"),
            ).alias("pr"),
        )
        pri = barrier(pri, eager=False)
        incidence = pri.select(
            "graph_id", F.col("src").alias("vertex"), "pr"
        ).unionByName(pri.select("graph_id", F.col("dst").alias("vertex"), "pr"))
        vmax = incidence.groupBy("graph_id", "vertex").agg(F.max("pr").alias("vm"))
        winners = (
            pri.join(
                vmax.select(
                    "graph_id", F.col("vertex").alias("src"), F.col("vm").alias("vm_s")
                ),
                ["graph_id", "src"],
            )
            .join(
                vmax.select(
                    "graph_id", F.col("vertex").alias("dst"), F.col("vm").alias("vm_d")
                ),
                ["graph_id", "dst"],
            )
            .where((F.col("pr") == F.col("vm_s")) & (F.col("pr") == F.col("vm_d")))
            .select("graph_id", "src", "dst", F.lit(rnd).cast("int").alias("round"))
        )
        winners = barrier(winners, eager=True)
        chosen = winners if chosen is None else chosen.unionByName(winners)
        matched_v = (
            winners.select("graph_id", F.col("src").alias("vertex"))
            .unionByName(winners.select("graph_id", F.col("dst").alias("vertex")))
        )
        active = (
            active.join(
                matched_v.select("graph_id", F.col("vertex").alias("src")),
                ["graph_id", "src"],
                "left_anti",
            ).join(
                matched_v.select("graph_id", F.col("vertex").alias("dst")),
                ["graph_id", "dst"],
                "left_anti",
            )
        )
        active, m = barrier_observed(active, [F.count(F.lit(1)).alias("n")])
        n_active = int(m["n"])
    if chosen is None:
        return spark.createDataFrame([], "graph_id int, src int, dst int, round int")
    return chosen.select("graph_id", "src", "dst", "round")


def densest_subgraph(
    spark: SparkSession,
    graphs: DataFrame,
    edges: DataFrame,
    max_rounds: int = 60,
) -> DataFrame:
    """Densest-subgraph 2(1+ε)-approximation by iterative peeling (the
    Bahmani–Kumar–Vassilvitskii MapReduce scheme, ε = 0.1): each round
    removes every vertex whose degree in the REMAINING subgraph is at
    most 2(1+ε) times the subgraph's average density ρ = m/n, which
    provably peels a constant fraction per round (O(log n) rounds) while
    some surviving prefix has density ≥ ρ*/2(1+ε). The densest prefix
    over the whole trajectory is the answer.

    Fully deterministic — no RNG, and the peel predicate is the exact
    integer cross-multiplication ``deg · n · 10 <= 11 · m2`` (m2 = twice
    the undirected edge count, 2(1+ε) = 22/10), so both engines make
    bit-identical peel decisions; the best round is the argmax of m2/n
    (an IEEE double of two bounded ints — distinct fractions with n ≤
    ~1e6 differ by far more than one ulp), ties to the earliest round.

    Scale: per round one subgraph degree aggregate (partial-combined on
    the (graph_id, vertex) key) + keyed semi/anti joins; the only
    driver-side state is one (n, m2) row per graph per round — the same
    bounded-collect contract as the superstep convergence checks.

    Returns (graph_id, vertex, peel_round, in_densest) for every vertex:
    ``peel_round`` = the round the vertex was removed (a pure function
    of the graph), ``in_densest`` = membership in the best-density
    prefix S_t = {v : peel_round >= t}.
    """
    from pyspark.storagelevel import StorageLevel

    ue = (
        undirected(edges)
        .where(F.col("src") != F.col("dst"))
        .select("graph_id", "src", "dst")
        .distinct()
        .persist(StorageLevel.MEMORY_AND_DISK)
    )
    active = barrier(vertices(graphs), eager=True)
    peeled_parts = []
    stats: dict[int, list[tuple[int, int, int]]] = {}  # g -> [(t, n, m2)]
    for t in range(1, max_rounds + 1):
        act_e = (
            ue.join(
                active.select("graph_id", F.col("vertex").alias("src")),
                ["graph_id", "src"],
                "left_semi",
            ).join(
                active.select("graph_id", F.col("vertex").alias("dst")),
                ["graph_id", "dst"],
                "left_semi",
            )
        )
        g_n = active.groupBy("graph_id").agg(F.count("*").alias("nt"))
        g_m = act_e.groupBy("graph_id").agg(F.count("*").alias("m2"))
        g_stats = (
            g_n.join(g_m, "graph_id", "left")
            .select("graph_id", "nt", F.coalesce("m2", F.lit(0)).alias("m2"))
        )
        rows = g_stats.collect()  # bounded: one row per graph
        if not rows:
            break
        for r in rows:
            stats.setdefault(r["graph_id"], []).append((t, r["nt"], r["m2"]))
        deg = act_e.groupBy("graph_id", F.col("src").alias("vertex")).agg(
            F.count("*").alias("deg")
        )
        peel = (
            active.join(deg, ["graph_id", "vertex"], "left")
            .join(F.broadcast(g_stats), "graph_id")
            .where(
                F.coalesce("deg", F.lit(0)) * F.col("nt") * 10 <= 11 * F.col("m2")
            )
            .select("graph_id", "vertex", F.lit(t).cast("int").alias("peel_round"))
        )
        peel = barrier(peel, eager=True)
        peeled_parts.append(peel)
        active = barrier(
            active.join(peel, ["graph_id", "vertex"], "left_anti"),
            eager=True,
        )
    out = peeled_parts[0]
    for p in peeled_parts[1:]:
        out = out.unionByName(p)
    best = [
        (g, min((t for t, nt, m2 in hist
                 if m2 / nt == max(m2_ / nt_ for _, nt_, m2_ in hist))))
        for g, hist in stats.items()
    ]
    best_df = spark.createDataFrame(best, "graph_id int, best_t int")
    ue.unpersist()
    return (
        out.join(F.broadcast(best_df), "graph_id")
        .select(
            "graph_id",
            "vertex",
            "peel_round",
            (F.col("peel_round") >= F.col("best_t")).alias("in_densest"),
        )
    )


def temporal_reachability(
    spark: SparkSession,
    edges: DataFrame,
    sources: DataFrame,
    max_supersteps: int = 10_000,
) -> DataFrame:
    """Earliest-arrival reachability over a TEMPORAL graph: each edge
    (graph_id, src, dst, ts) is traversable only at its timestamp, and a
    path must have non-decreasing timestamps (you cannot ride an edge that
    departed before you arrived) — the standard time-respecting-path model
    for event graphs (interaction networks, message logs).

    Earliest arrival has optimal substructure (any prefix of a
    time-respecting path is one, and arriving EARLIER never closes off an
    edge), so a Bellman-Ford-style min fixpoint is exact: relax
    ``arr(dst) <- min(ts : edge(src, dst, ts), ts >= arr(src))`` until no
    arrival decreases. Each superstep is one keyed join + one
    partial-aggregated min on the (graph_id, source, vertex) key; the
    convergence test rides the same aggregate (previous arrival threaded
    through as max(old) — the connected-components trick), so it is one
    job per superstep. All sources advance simultaneously, landmark-BFS
    style.

    ``sources``: (graph_id, source, t0) — walks may only use edges with
    ts >= t0. Returns (graph_id, source, vertex, earliest) including the
    source itself at earliest = t0.
    """
    from pyspark.storagelevel import StorageLevel

    e = (
        edges.select("graph_id", "src", "dst", F.col("ts").cast("bigint").alias("ts"))
        .repartition("graph_id", "src")
        .persist(StorageLevel.MEMORY_AND_DISK)
    )
    arr = barrier(
        sources.select(
            "graph_id",
            "source",
            F.col("source").alias("vertex"),
            F.col("t0").cast("bigint").alias("earliest"),
        ),
        eager=True,
    )
    keys = ["graph_id", "source", "vertex"]
    for it in range(1, max_supersteps + 1):
        a, ee = arr.alias("a"), e.alias("e")
        msgs = (
            a.join(
                ee,
                on=(F.col("a.graph_id") == F.col("e.graph_id"))
                & (F.col("a.vertex") == F.col("e.src"))
                & (F.col("e.ts") >= F.col("a.earliest")),
            )
            .select(
                F.col("e.graph_id").alias("graph_id"),
                F.col("a.source").alias("source"),
                F.col("e.dst").alias("vertex"),
                F.col("e.ts").alias("earliest"),
                F.lit(None).cast("bigint").alias("old"),
            )
        )
        new_arr = (
            arr.withColumn("old", F.col("earliest"))
            .unionByName(msgs)
            .groupBy(*keys)
            .agg(F.min("earliest").alias("earliest"), F.max("old").alias("old"))
        )
        # Convergence stat rides the checkpoint action (r16, guide §1).
        new_arr, m = barrier_observed(
            new_arr,
            [
                F.count_if(
                    F.col("old").isNull() | (F.col("earliest") < F.col("old"))
                ).alias("n")
            ],
        )
        n_changed = int(m["n"])
        arr = new_arr.drop("old")
        if it % 3 == 0:
            arr = barrier(arr, eager=True)
        if n_changed == 0:
            break
    e.unpersist()
    return arr


def greedy_coloring(
    spark: SparkSession,
    graphs: DataFrame,
    edges: DataFrame,
    max_colors: int = 10_000,
) -> DataFrame:
    """Distributed greedy graph coloring by iterated MIS (Jones-Plassmann
    flavor): color c goes to a maximal independent set of the still-
    uncolored subgraph, repeat until everything is colored. Uses at most
    Δ+1 colors on bounded-degree graphs in practice; rounds = number of
    colors used, each round a Luby loop over a shrinking vertex set.
    Deterministic (inherits the md5-priority MIS). Returns
    (graph_id, vertex, color int) — a proper coloring: no edge joins two
    same-colored vertices.
    """
    from pyspark.storagelevel import StorageLevel

    # Same Spark quirk multi_source_bfs documents: iterated unions of
    # checkpoints under derived equality constraints can fail
    # LogicalRDD.rewriteStatsAndConstraints ("key not found: vertex#N").
    # Every join below is an explicit equi-join, so inference off is free.
    conf_key = "spark.sql.constraintPropagation.enabled"
    prev = spark.conf.get(conf_key, "true")
    spark.conf.set(conf_key, "false")
    ue = (
        undirected(edges)
        .where(F.col("src") != F.col("dst"))
        .persist(StorageLevel.MEMORY_AND_DISK)
    )
    try:
        remaining_v, m = barrier_observed(
            vertices(graphs), [F.count(F.lit(1)).alias("n")]
        )
        n_remaining = int(m["n"])
        colored = None
        for color in range(max_colors):
            if n_remaining == 0:
                break
            # induced subgraph on the still-uncolored vertex set
            sub_edges = (
                ue.alias("e")
                .join(
                    remaining_v.alias("va"),
                    on=(F.col("e.graph_id") == F.col("va.graph_id"))
                    & (F.col("e.src") == F.col("va.vertex")),
                    how="left_semi",
                )
                .alias("e2")
                .join(
                    remaining_v.alias("vb"),
                    on=(F.col("e2.graph_id") == F.col("vb.graph_id"))
                    & (F.col("e2.dst") == F.col("vb.vertex")),
                    how="left_semi",
                )
            )
            sub_edges = barrier(sub_edges, eager=True)
            mis = _mis_over_vertices(spark, remaining_v, sub_edges)
            batch = mis.select(
                "graph_id", "vertex", F.lit(color).cast("int").alias("color")
            )
            batch = barrier(batch, eager=True)
            colored = batch if colored is None else colored.unionByName(batch)
            remaining_v = remaining_v.join(
                batch.select("graph_id", "vertex"), ["graph_id", "vertex"], "left_anti"
            )
            remaining_v, m = barrier_observed(
                remaining_v, [F.count(F.lit(1)).alias("n")]
            )
            n_remaining = int(m["n"])
        else:
            raise RuntimeError(f"coloring exceeded {max_colors} colors")
    finally:
        spark.conf.set(conf_key, prev)
        ue.unpersist()
    if colored is None:  # empty vertex universe: no rows, stable schema
        return spark.createDataFrame([], "graph_id int, vertex int, color int")
    return colored


def _mis_over_vertices(spark, vertex_set: DataFrame, ue: DataFrame) -> DataFrame:
    """Luby MIS over an explicit vertex set + undirected edge set (the
    inner loop of :func:`greedy_coloring`; same algebra as
    :func:`maximal_independent_set` with the universe passed in).
    Returns (graph_id, vertex)."""
    active = vertex_set.select("graph_id", "vertex")
    # vertex_set is always freshly checkpointed by the caller with a known
    # count; still, the first round re-counts via the priority barrier below
    # rather than a standalone count (r16, guide §1 job count).
    n_active = None
    chosen = None
    rnd = 0
    while True:
        rnd += 1
        if n_active == 0:
            break
        if n_active is None and vertex_set.isEmpty():
            break
        pri = barrier(
            active.select("graph_id", "vertex", _mis_priority(rnd).alias("p")),
            eager=False,
        )
        p_b, e = pri.alias("pb"), ue.alias("e")
        nbr_max = (
            e.join(
                p_b,
                on=(F.col("e.graph_id") == F.col("pb.graph_id"))
                & (F.col("e.dst") == F.col("pb.vertex")),
            )
            .select(
                F.col("e.graph_id").alias("graph_id"),
                F.col("e.src").alias("vertex"),
                F.struct(F.col("pb.p").alias("p"), F.col("pb.vertex").alias("v")).alias("nb"),
            )
            .groupBy("graph_id", "vertex")
            .agg(F.max("nb").alias("nb_max"))
        )
        winners = (
            pri.alias("pa")
            .join(nbr_max, ["graph_id", "vertex"], "left")
            .where(
                F.col("nb_max").isNull()
                | (F.struct(F.col("p").alias("p"), F.col("vertex").alias("v")) > F.col("nb_max"))
            )
            .select("graph_id", "vertex")
        )
        winners = barrier(winners, eager=True)
        chosen = winners if chosen is None else chosen.unionByName(winners)
        w_nbrs = (
            ue.alias("e")
            .join(
                winners.alias("w"),
                on=(F.col("e.graph_id") == F.col("w.graph_id"))
                & (F.col("e.src") == F.col("w.vertex")),
            )
            .select(F.col("e.graph_id").alias("graph_id"), F.col("e.dst").alias("vertex"))
        )
        dead = winners.unionByName(w_nbrs)
        active, m = barrier_observed(
            active.join(dead, ["graph_id", "vertex"], "left_anti"),
            [F.count(F.lit(1)).alias("n")],
        )
        n_active = int(m["n"])
    if chosen is None:
        return spark.createDataFrame([], "graph_id int, vertex int")
    return chosen


_DOULION_MOD = 1_000_003
_DOULION_KNUTH = 2654435761


def triangle_count_sampled(edges: DataFrame, sample_ppm: int = 100_000) -> DataFrame:
    """Doulion (Tsourakakis et al., KDD 2009) sampled triangle counting:
    keep each canonical edge with probability p = sample_ppm / 1e6 via a
    deterministic Knuth-hash coin (no rand() — resumable, engine-stable),
    count triangles on the sparsified graph, scale by 1/p³. Unbiased, and
    the variance argument of the paper carries: cost drops by ~p² in the
    wedge joins, the accuracy knob is explicit. Returns
    (graph_id, triangles_est double) — compare :func:`triangle_count`
    for the exact path.
    """
    if not 0 < sample_ppm <= 1_000_000:
        raise ValueError(f"sample_ppm must be in (0, 1e6], got {sample_ppm}")
    canon = (
        undirected(edges)
        .filter(F.col("src") < F.col("dst"))
        .select("graph_id", "src", "dst")
    )
    # md5-derived 60-bit edge hash (portable: Spark F.md5 and DuckDB md5
    # agree, so an oracle can replay the sampled edge set exactly — the
    # same swap simhash made in r06; was xxhash64, Spark-only), reduced
    # before the Knuth multiply: (M-1) * K < 2^52, ANSI-safe.
    h = F.conv(
        F.substring(
            F.md5(F.concat_ws("|", F.col("graph_id"), F.col("src"), F.col("dst"))),
            1,
            15,
        ),
        16,
        10,
    ).cast("bigint")
    coin = F.pmod(
        F.pmod(h, F.lit(_DOULION_MOD)) * F.lit(_DOULION_KNUTH),
        F.lit(_DOULION_MOD),
    )
    p = sample_ppm / 1_000_000.0
    kept = canon.where(coin < F.lit(int(sample_ppm * _DOULION_MOD / 1_000_000)))
    ab, bc, ac = kept.alias("ab"), kept.alias("bc"), kept.alias("ac")
    tri = (
        ab.join(bc, on=[F.col("ab.graph_id") == F.col("bc.graph_id"),
                        F.col("ab.dst") == F.col("bc.src")])
        .join(ac, on=[F.col("ab.graph_id") == F.col("ac.graph_id"),
                      F.col("ab.src") == F.col("ac.src"),
                      F.col("bc.dst") == F.col("ac.dst")])
        .groupBy(F.col("ab.graph_id").alias("graph_id"))
        .agg((F.count("*") / F.lit(p ** 3)).alias("triangles_est"))
    )
    return tri


def _star_round(edges: DataFrame, large: bool) -> DataFrame:
    """One large-star or small-star operation (Kiveris et al., "Connected
    Components in MapReduce and Beyond", SoCC 2014) over a symmetric /
    max-min oriented edge list keyed (graph_id, u, v).

    large-star: per u, connect every neighbor v > u to m = min(N(u) ∪ {u}).
    small-star: per u (edges oriented max→min), connect every v ≤ u and u
    itself to m. Both are ONE keyed min-aggregate + ONE keyed join — no
    neighborhood materialization.
    """
    nbrs = edges.select("graph_id", "u", "v")
    m = nbrs.groupBy("graph_id", "u").agg(
        F.least(F.min("v"), F.first("u")).alias("m")
    )
    joined = nbrs.join(m, ["graph_id", "u"])
    if large:
        out = joined.where(F.col("v") > F.col("u")).select(
            "graph_id", F.col("v").alias("u"), F.col("m").alias("v")
        )
    else:
        out = (
            joined.select("graph_id", F.col("v").alias("u"), F.col("m").alias("v"))
            .unionByName(
                m.select("graph_id", "u", F.col("m").alias("v"))
            )
        )
    return out.where(F.col("u") != F.col("v")).distinct()


def connected_components_contraction(
    spark: SparkSession,
    graphs: DataFrame,
    edges: DataFrame,
    max_rounds: int = 100,
) -> DataFrame:
    """Connected components by alternating large-star / small-star
    contraction — O(log |V|) rounds REGARDLESS of diameter (vs the
    min-label superstep loop's O(diameter)): the 100 TB variant for
    high-diameter graphs (chains, meshes, road networks), where label
    propagation would pay one shuffle per hop. Same output contract as
    :func:`connected_components`: (graph_id, vertex, component), component
    = min reachable vertex id, full vertex universe including isolated
    vertices.

    Each round is two keyed min-aggregate + join pairs; convergence =
    the oriented edge multiset stopped changing (count + order-insensitive
    hash checksum, one tiny aggregate riding the materialization job).
    """

    def canon(e: DataFrame) -> DataFrame:
        # orient max -> min: u > v
        return e.select(
            "graph_id",
            F.greatest("src", "dst").alias("u"),
            F.least("src", "dst").alias("v"),
        ).where(F.col("u") != F.col("v")).distinct()

    cur = barrier(canon(edges), eager=True)

    def sig(e: DataFrame):
        r = e.agg(
            F.count("*").alias("c"),
            # XOR, not sum: order-insensitive AND overflow-free under ANSI
            F.bit_xor(F.xxhash64("graph_id", "u", "v")).alias("h"),
        ).first()
        return (r["c"], r["h"])

    prev = sig(cur)
    for rnd in range(1, max_rounds + 1):
        sym = cur.unionByName(
            cur.select("graph_id", F.col("v").alias("u"), F.col("u").alias("v"))
        )
        after_large = _star_round(sym, large=True)
        # small-star expects max->min orientation
        after_large = after_large.select(
            "graph_id",
            F.greatest("u", "v").alias("u"),
            F.least("u", "v").alias("v"),
        ).where(F.col("u") != F.col("v")).distinct()
        cur = _star_round(after_large, large=False)
        cur = cur.select(
            "graph_id",
            F.greatest("u", "v").alias("u"),
            F.least("u", "v").alias("v"),
        ).distinct()
        cur = barrier(cur, eager=(rnd % 2 == 0))
        s = sig(cur)
        if s == prev:
            break
        prev = s
    else:
        raise RuntimeError(f"contraction CC did not converge in {max_rounds} rounds")
    # star forest: u -> root v(=min). Components over the full universe.
    comp = cur.select("graph_id", F.col("u").alias("vertex"), F.col("v").alias("component"))
    return (
        vertices(graphs)
        .join(comp, ["graph_id", "vertex"], "left")
        .select(
            "graph_id",
            "vertex",
            F.coalesce("component", F.col("vertex")).alias("component"),
        )
    )


def _hb_vertex_estimates(state: DataFrame, log2m: int) -> DataFrame:
    """Per-vertex HLL ball-size estimates (the pre-aggregation half of
    :func:`_hb_estimates`): (graph_id, vertex, est double)."""
    m = 1 << log2m
    alpha = _hb_alpha(m)
    per_vertex = state.groupBy("graph_id", "vertex").agg(
        F.sum(F.pow(F.lit(2.0), -F.col("rho"))).alias("z_nz"),
        F.count("*").alias("nz"),
    )
    zeros = F.lit(m) - F.col("nz")
    e_raw = F.lit(alpha * m * m) / (F.col("z_nz") + zeros)
    est = F.when(
        (zeros > 0) & (e_raw <= F.lit(2.5 * m)),
        F.lit(float(m)) * F.log(F.lit(m) / zeros),
    ).otherwise(e_raw)
    return per_vertex.select("graph_id", "vertex", est.alias("est"))


def hyperball_harmonic(
    spark: SparkSession,
    graphs: DataFrame,
    edges: DataFrame,
    log2m: int = _HB_LOG2M_DEFAULT,
    max_t: int = 10_000,
) -> DataFrame:
    """Approximate harmonic centrality for EVERY vertex via HyperBall —
    the estimator HyperANF was built for (Boldi & Vigna, "In-Core
    Computation of Geometric Centralities with HyperBall", ICDMW 2013):
    H(v) = Σ_t (|ball(v,t)| − |ball(v,t−1)|) / t, accumulated from the
    per-superstep ball-size deltas, so ALL vertices get a centrality in
    O(diameter) supersteps — no pivot sampling (contrast
    :func:`harmonic_closeness_sampled`, which is exact but per-pivot).

    NOTE on direction: ball growth follows OUT-edges, so this estimates
    Σ_w 1/d(v, w) over vertices w REACHABLE FROM v; feed ``edges``
    reversed for the usual "incoming" harmonic centrality, or the
    undirected closure for undirected graphs.

    Same register algebra and delta propagation as :func:`hyperball`, plus
    one keyed join per superstep to fold the delta into the running
    accumulator. Returns (graph_id, vertex, harmonic_est double).
    """
    from pyspark.storagelevel import StorageLevel

    edges = (
        edges.select("graph_id", "src", "dst")
        .repartition("graph_id", "dst")
        .persist(StorageLevel.MEMORY_AND_DISK)
    )
    state = barrier(_hb_init_state(graphs, log2m), eager=True)
    prev_est = _hb_vertex_estimates(state, log2m)
    acc = barrier(
        prev_est.select(
            "graph_id", "vertex", F.lit(0.0).alias("h"), F.col("est").alias("prev")
        ),
        eager=True,
    )
    delta = state
    keys3 = ["graph_id", "vertex", "reg"]
    for t in range(1, max_t + 1):
        d, e = delta.alias("d"), edges.alias("e")
        cand = (
            d.join(
                e,
                on=(F.col("d.graph_id") == F.col("e.graph_id"))
                & (F.col("d.vertex") == F.col("e.dst")),
            )
            .select(
                F.col("e.graph_id").alias("graph_id"),
                F.col("e.src").alias("vertex"),
                F.col("d.reg").alias("reg"),
                F.col("d.rho").alias("rho"),
            )
            .groupBy(*keys3)
            .agg(F.max("rho").alias("rho"))
        )
        improved = (
            cand.alias("c")
            .join(state.alias("s"), on=keys3, how="left")
            .where(F.col("s.rho").isNull() | (F.col("c.rho") > F.col("s.rho")))
            .select(*keys3, F.col("c.rho").alias("rho"))
        )
        improved = barrier(improved, eager=False)
        if improved.count() == 0:
            break
        state = state.join(improved, on=keys3, how="left_anti").unionByName(improved)
        state = barrier(state, eager=(t % 5 == 0))
        est_t = _hb_vertex_estimates(state, log2m)
        acc = (
            acc.alias("a")
            .join(est_t.alias("n"), on=["graph_id", "vertex"], how="left")
            .select(
                "graph_id",
                "vertex",
                (
                    F.col("a.h")
                    + F.greatest(
                        F.coalesce(F.col("n.est"), F.col("a.prev")) - F.col("a.prev"),
                        F.lit(0.0),
                    )
                    / F.lit(float(t))
                ).alias("h"),
                F.coalesce(F.col("n.est"), F.col("a.prev")).alias("prev"),
            )
        )
        acc = barrier(acc, eager=(t % 5 == 0))
        delta = improved
    edges.unpersist()
    return acc.select("graph_id", "vertex", F.col("h").alias("harmonic_est"))


def landmark_distance_oracle(
    spark: SparkSession,
    edges: DataFrame,
    landmarks: DataFrame,
) -> tuple[DataFrame, DataFrame]:
    """Precompute the two distance tables a landmark (2-hop cover)
    distance oracle needs: ``fwd`` = d(landmark → vertex) via one
    multi-source BFS over the edges, ``bwd`` = d(vertex → landmark) via
    one multi-source BFS over the REVERSED edges. k landmarks cost two
    superstep loops total (not 2k), state k×|reached| each — the
    practical constant-time distance-estimate structure for repeated
    point-to-point queries on a frozen snapshot (Potamias et al., CIKM
    2009). Both tables: (graph_id, source, vertex, level).
    """
    fwd = multi_source_bfs(spark, edges, landmarks)
    rev = edges.select(
        "graph_id", F.col("dst").alias("src"), F.col("src").alias("dst")
    )
    bwd = multi_source_bfs(spark, rev, landmarks)
    return fwd, bwd


def estimate_distances(
    fwd: DataFrame, bwd: DataFrame, pairs: DataFrame
) -> DataFrame:
    """Upper-bound distance estimates for query ``pairs`` (graph_id, u, v)
    through the landmark tables: est = min over landmarks of
    d(u → l) + d(l → v) — always ≥ the true distance (it is a real path),
    exact whenever a shortest path passes a landmark. Two keyed joins +
    one min-aggregate; NULL when no landmark connects the pair. Returns
    (graph_id, u, v, dist_upper).
    """
    u_side = pairs.alias("p").join(
        bwd.alias("b"),
        on=(F.col("p.graph_id") == F.col("b.graph_id"))
        & (F.col("p.u") == F.col("b.vertex")),
    ).select(
        F.col("p.graph_id").alias("graph_id"),
        "u",
        "v",
        F.col("b.source").alias("l"),
        F.col("b.level").alias("d1"),
    )
    both = u_side.alias("s").join(
        fwd.alias("f"),
        on=(F.col("s.graph_id") == F.col("f.graph_id"))
        & (F.col("s.l") == F.col("f.source"))
        & (F.col("s.v") == F.col("f.vertex")),
    ).select(
        F.col("s.graph_id").alias("graph_id"),
        "u",
        "v",
        (F.col("s.d1") + F.col("f.level")).alias("d"),
    )
    return (
        pairs.join(
            both.groupBy("graph_id", "u", "v").agg(F.min("d").alias("dist_upper")),
            ["graph_id", "u", "v"],
            "left",
        )
    )


def core_numbers(
    spark: SparkSession,
    graphs: DataFrame,
    edges: DataFrame,
    max_rounds: int = 10_000,
) -> DataFrame:
    """Full core decomposition: every vertex's coreness (the largest k for
    which it survives in the k-core). Peels level by level — at level k,
    repeatedly remove vertices of current degree < k, recording their
    coreness as k-1; when the level stabilizes, advance k. Round count is
    bounded by degeneracy + total peel steps; every round is one
    degree-count shuffle over the SHRINKING survivor set (the standard
    distributed coreness schedule). Returns (graph_id, vertex, coreness)
    over the full vertex universe (isolated vertices: coreness 0).
    """
    ue = barrier(undirected(edges).where(F.col("src") != F.col("dst")), eager=True)
    survivors, m = barrier_observed(vertices(graphs), [F.count(F.lit(1)).alias("n")])
    n_survivors = int(m["n"])
    out = []
    k = 1
    for _ in range(max_rounds):
        if n_survivors == 0:
            break
        deg = (
            ue.join(
                survivors.withColumnRenamed("vertex", "src"),
                ["graph_id", "src"],
                "left_semi",
            )
            .join(
                survivors.withColumnRenamed("vertex", "dst"),
                ["graph_id", "dst"],
                "left_semi",
            )
            .groupBy("graph_id", F.col("src").alias("vertex"))
            .agg(F.count("*").alias("deg"))
        )
        # vertices absent from deg have degree 0 among survivors
        with_deg = survivors.join(deg, ["graph_id", "vertex"], "left").select(
            "graph_id", "vertex", F.coalesce("deg", F.lit(0)).alias("deg")
        )
        dropped = with_deg.where(F.col("deg") < k).select("graph_id", "vertex")
        dropped, m = barrier_observed(dropped, [F.count(F.lit(1)).alias("n")])
        n_dropped = int(m["n"])
        if n_dropped == 0:
            k += 1
            continue
        out.append(
            dropped.withColumn("coreness", F.lit(k - 1).cast("int"))
        )
        survivors, m = barrier_observed(
            survivors.join(dropped, ["graph_id", "vertex"], "left_anti"),
            [F.count(F.lit(1)).alias("n")],
        )
        n_survivors = int(m["n"])
    else:
        raise RuntimeError(f"core decomposition did not finish in {max_rounds} rounds")
    if not out:
        return spark.createDataFrame([], "graph_id int, vertex int, coreness int")
    res = out[0]
    for seg in out[1:]:
        res = res.unionByName(seg)
    return res


def modularity(edges: DataFrame, assignment: DataFrame) -> DataFrame:
    """Newman modularity Q of a vertex partition on the undirected simple
    closure: Q = Σ_c [ e_c / m − (d_c / 2m)² ] with e_c = intra-community
    edges, d_c = total community degree, m = |E|. The standard quality
    score for LPA / coloring / clustering outputs. Three keyed aggregates,
    no iteration. ``assignment``: (graph_id, vertex, community). Returns
    (graph_id, modularity double).
    """
    ue = undirected(edges).where(F.col("src") != F.col("dst"))
    canon = ue.where(F.col("src") < F.col("dst"))
    a_src = assignment.select(
        "graph_id", F.col("vertex").alias("src"), F.col("community").alias("c_src")
    )
    a_dst = assignment.select(
        "graph_id", F.col("vertex").alias("dst"), F.col("community").alias("c_dst")
    )
    labeled = canon.join(a_src, ["graph_id", "src"]).join(a_dst, ["graph_id", "dst"])
    m_tot = canon.groupBy("graph_id").agg(F.count("*").alias("m"))
    e_in = (
        labeled.where(F.col("c_src") == F.col("c_dst"))
        .groupBy("graph_id", F.col("c_src").alias("community"))
        .agg(F.count("*").alias("e_c"))
    )
    deg = (
        ue.groupBy("graph_id", F.col("src").alias("vertex"))
        .agg(F.count("*").alias("deg"))
        .join(
            assignment.select("graph_id", "vertex", "community"),
            ["graph_id", "vertex"],
        )
        .groupBy("graph_id", "community")
        .agg(F.sum("deg").alias("d_c"))
    )
    per_c = (
        deg.join(e_in, ["graph_id", "community"], "left")
        .join(m_tot, "graph_id")
        .select(
            "graph_id",
            (
                F.coalesce(F.col("e_c"), F.lit(0)) / F.col("m")
                - F.pow(F.col("d_c") / (2.0 * F.col("m")), 2)
            ).alias("q_c"),
        )
    )
    return per_c.groupBy("graph_id").agg(F.sum("q_c").alias("modularity"))


def graph_summary(graphs: DataFrame, edges: DataFrame) -> DataFrame:
    """Per-graph summary statistics in two keyed aggregates — the profile
    report a many-graph corpus is triaged by before any expensive
    analytics: directed edge count, undirected simple edge count,
    density (undirected, self-loops excluded), degree min/mean/max over
    the FULL vertex universe (isolated vertices count), isolated-vertex
    count, and self-loop count. Returns one row per graph.
    """
    ue = undirected(edges).where(F.col("src") != F.col("dst"))
    deg = (
        vertices(graphs)
        .join(
            ue.groupBy("graph_id", F.col("src").alias("vertex")).agg(
                F.count("*").alias("deg")
            ),
            ["graph_id", "vertex"],
            "left",
        )
        .select("graph_id", F.coalesce("deg", F.lit(0)).alias("deg"))
    )
    deg_stats = deg.groupBy("graph_id").agg(
        F.min("deg").cast("bigint").alias("min_degree"),
        F.avg("deg").alias("avg_degree"),
        F.max("deg").cast("bigint").alias("max_degree"),
        F.sum((F.col("deg") == 0).cast("int")).cast("bigint").alias("n_isolated"),
    )
    edge_stats = edges.groupBy("graph_id").agg(
        F.count("*").cast("bigint").alias("n_directed_edges"),
        F.sum((F.col("src") == F.col("dst")).cast("int"))
        .cast("bigint")
        .alias("n_self_loops"),
    )
    und_count = (
        ue.where(F.col("src") < F.col("dst"))
        .groupBy("graph_id")
        .agg(F.count("*").cast("bigint").alias("n_undirected_edges"))
    )
    return (
        graphs.select("graph_id", F.col("n").cast("bigint").alias("n_vertices"))
        .join(edge_stats, "graph_id", "left")
        .join(und_count, "graph_id", "left")
        .join(deg_stats, "graph_id", "left")
        .select(
            "graph_id",
            "n_vertices",
            F.coalesce("n_directed_edges", F.lit(0)).alias("n_directed_edges"),
            F.coalesce("n_undirected_edges", F.lit(0)).alias("n_undirected_edges"),
            F.coalesce("n_self_loops", F.lit(0)).alias("n_self_loops"),
            F.when(
                F.col("n_vertices") >= 2,
                F.coalesce("n_undirected_edges", F.lit(0))
                / (F.col("n_vertices") * (F.col("n_vertices") - 1) / 2.0),
            ).otherwise(F.lit(0.0)).alias("density"),
            F.coalesce("min_degree", F.lit(0)).alias("min_degree"),
            F.coalesce("avg_degree", F.lit(0.0)).alias("avg_degree"),
            F.coalesce("max_degree", F.lit(0)).alias("max_degree"),
            F.coalesce("n_isolated", F.col("n_vertices")).alias("n_isolated"),
        )
    )


def bipartite_project(
    edges: DataFrame,
    left_col: str,
    right_col: str,
    degree_cap: int | None,
    min_weight: int = 1,
) -> DataFrame:
    """Weighted one-mode projection of a bipartite graph: connect two
    ``right_col`` entities with weight = how many ``left_col`` entities
    they co-occur under — the construction behind co-purchase /
    co-citation / user-item similarity graphs (the graph-building step a
    training pipeline runs before any of the vertex analytics above).

    The quadratic hazard is hub LEFT entities: a left vertex of degree d
    emits d^2/2 pairs, so one 10^6-degree hub alone would emit 5*10^11
    rows. ``degree_cap`` bounds that by keeping only each left entity's
    ``degree_cap`` smallest right neighbors (deterministic rank — the
    standard truncated-projection compromise; the cap is a semantic knob,
    not a sample): pair volume is then <= |left| * cap^2, linear in the
    input. Plan: distinct -> one window rank partitioned by left ->
    self-equi-join on left (both sides already hash-partitioned by the
    join key from the window exchange) -> pair count. No broadcast of the
    big side, no driver collection; skew is bounded by the cap itself.

    ``degree_cap=None`` skips the truncation entirely (exact weights) —
    only safe when the left degree is structurally bounded (e.g. an
    order's line-item count); on open-ended incidence data always cap.

    Returns (``{right}_a``, ``{right}_b``, weight) with a < b and
    weight >= ``min_weight``.
    """
    from pyspark.sql.window import Window

    lr = edges.select(
        F.col(left_col).alias("_l"), F.col(right_col).alias("_r")
    ).distinct()
    if degree_cap is None:
        capped = lr
    else:
        w = Window.partitionBy("_l").orderBy(F.asc("_r"))
        capped = (
            lr.withColumn("_rn", F.row_number().over(w))
            .filter(F.col("_rn") <= degree_cap)
            .select("_l", "_r")
        )
    a, b = capped.alias("a"), capped.alias("b")
    return (
        a.join(b, (F.col("a._l") == F.col("b._l")) & (F.col("a._r") < F.col("b._r")))
        .groupBy(
            F.col("a._r").alias(f"{right_col}_a"),
            F.col("b._r").alias(f"{right_col}_b"),
        )
        .agg(F.count("*").cast("bigint").alias("weight"))
        .filter(F.col("weight") >= min_weight)
    )


def katz_centrality(
    spark: SparkSession,
    graphs: DataFrame,
    edges: DataFrame,
    iterations: int = 8,
    alpha: float = 0.05,
    beta: float = 1.0,
) -> DataFrame:
    """Fixed-iteration Katz centrality: x_{t+1}(v) = beta + alpha *
    sum over in-neighbors u of x_t(u), x_0 = beta — the attenuated
    all-walks centrality (counts walks of every length, damped alpha^len)
    that PageRank's degree normalization deliberately is not. Each
    iteration is one keyed join + map-side-combined sum, left-joined back
    onto the vertex universe (materialized once). An iteration reads the
    previous scores once (:func:`pagerank_step` reads its state three
    times), so chaining three iterations per barrier re-runs nothing: a
    barrier every iteration measured slower
    (g_katz_scale on sf0.01, 4-vCPU host, ``local[4]``: 45 vs 40 Spark
    jobs, 1.82 vs 1.74 s median). Returns (graph_id, vertex, score)."""
    from pyspark.storagelevel import StorageLevel

    edges = edges.persist(StorageLevel.MEMORY_AND_DISK)
    base = barrier(vertices(graphs), eager=True)
    x = barrier(
        base.select("graph_id", "vertex", F.lit(float(beta)).alias("score")),
        eager=True,
    )
    for it in range(1, iterations + 1):
        r, e = x.alias("r"), edges.alias("e")
        recv = (
            r.join(
                e,
                on=(F.col("r.graph_id") == F.col("e.graph_id"))
                & (F.col("r.vertex") == F.col("e.src")),
            )
            .select(
                F.col("e.graph_id").alias("graph_id"),
                F.col("e.dst").alias("vertex"),
                F.col("r.score").alias("score"),
            )
            .groupBy("graph_id", "vertex")
            .agg(F.sum("score").alias("received"))
        )
        x = base.join(recv, ["graph_id", "vertex"], "left").select(
            "graph_id",
            "vertex",
            (
                F.lit(float(beta))
                + F.lit(float(alpha)) * F.coalesce(F.col("received"), F.lit(0.0))
            ).alias("score"),
        )
        if it % 3 == 0 or it == iterations:
            x = barrier(x, eager=True)
    edges.unpersist()
    return x
