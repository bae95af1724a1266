"""Graph-derived training data: random-walk corpora and neighborhood
feature aggregation (the graph-to-ML bridge of the pipeline surface).

The reference's graphs are pure topology (`secondary_server.c:91-100`);
these operators consume the same edge-list model the rest of the engine
uses and produce the two artifacts large-scale embedding / GNN training
pipelines need from a graph: DeepWalk-style walk sequences (Perozzi et
al., KDD 2014) and per-vertex aggregated neighborhood features
(GraphSAGE-style mean/sum aggregation, Hamilton et al., NeurIPS 2017).

Scale design notes:

- **Walks never replicate neighbor lists.** The naive step — join the
  frontier to ALL out-edges and pick one — ships deg(v) candidate rows per
  walk visiting v, which a 10^6-degree hub turns into a shuffle bomb. Here
  neighbor choice is ``r = H mod outdeg(v)`` with a deterministic 60-bit
  md5-derived hash, followed by an equi-join against a precomputed
  (src, rank) -> dst table: exactly ONE matched row per walk per step,
  keyed joins only, O(walks) shuffle volume per superstep regardless of
  skew. The rank table costs one window over (graph_id, src) computed
  once and reused by every step.
- **Determinism.** The hash folds (graph_id, start, walk_no, step, seed),
  so corpora are reproducible across runs, engines, and partitionings —
  the same property the samplers in pipeline.py guarantee; modulo bias of
  a 60-bit hash over realistic degrees is < 2^-40.
- **Feature aggregation is plain keyed join + partial agg** — the shapes
  Catalyst already optimizes; k-hop composition re-uses the same shuffle
  key (graph_id, vertex) every hop.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F
from pyspark.sql.types import IntegerType, StructField, StructType

from ..session import barrier

_WALK_HASH_HEX = 15  # 60-bit hash: bigint-safe, engine-portable (md5)

# Walk loops checkpoint eagerly every 2 steps, so each lazily-checkpointed
# segment's plan is at most two chained step-joins deep: deeper plans
# multiply whole-stage codegen compile time on the first run (r15 A/B:
# cadence 8 doubled the cold wall vs cadence 2; barrier placement never
# changes results).
WALK_CHECKPOINT_EVERY = 2


def _walk_hash(step: int, seed: int):
    """Deterministic per-(walk, step) 60-bit hash column."""
    return F.conv(
        F.substring(
            F.md5(
                F.concat_ws(
                    "|",
                    F.col("graph_id").cast("string"),
                    F.col("start").cast("string"),
                    F.col("walk_no").cast("string"),
                    F.lit(str(step)),
                    F.lit(str(seed)),
                )
            ),
            1,
            _WALK_HASH_HEX,
        ),
        16,
        10,
    ).cast("bigint")


def random_walks(
    spark: SparkSession,
    graphs: DataFrame,
    edges: DataFrame,
    walks_per_vertex: int = 1,
    walk_length: int = 8,
    seed: int = 1,
) -> DataFrame:
    """DeepWalk-style uniform random walks from every vertex.

    Returns (graph_id, start, walk_no, step, vertex): ``walks_per_vertex``
    walks per start vertex, each up to ``walk_length`` steps, stopping
    early at sinks (no out-edges). step=0 rows are the starts themselves.
    Neighbor choice at step t is the ``H mod outdeg``-th out-neighbor in
    ascending-dst order — uniform per step, deterministic in
    (graph_id, start, walk_no, step, seed).
    """
    from pyspark.storagelevel import StorageLevel

    e = edges.select("graph_id", "src", "dst")
    ranked = (
        e.withColumn(
            "rank",
            F.row_number().over(
                Window.partitionBy("graph_id", "src").orderBy("dst")
            )
            - 1,
        )
        .persist(StorageLevel.MEMORY_AND_DISK)
    )
    deg = (
        e.groupBy("graph_id", "src")
        .agg(F.count("*").alias("outdeg"))
        .persist(StorageLevel.MEMORY_AND_DISK)
    )
    starts = graphs.select(
        "graph_id", F.explode(F.sequence(F.lit(0), F.col("n") - 1)).alias("start")
    ).select(
        "graph_id",
        "start",
        F.explode(
            F.sequence(F.lit(0), F.lit(walks_per_vertex - 1))
        ).alias("walk_no"),
    )
    frontier = barrier(
        starts.select(
            "graph_id",
            "start",
            "walk_no",
            F.lit(0).cast("int").alias("step"),
            F.col("start").alias("vertex"),
        ),
        eager=True,
    )
    segments = [frontier]
    for step in range(1, walk_length + 1):
        cur = (
            frontier.alias("f")
            .join(
                deg.alias("d"),
                on=(F.col("f.graph_id") == F.col("d.graph_id"))
                & (F.col("f.vertex") == F.col("d.src")),
            )
            .select(
                F.col("f.graph_id").alias("graph_id"),
                F.col("f.start").alias("start"),
                F.col("f.walk_no").alias("walk_no"),
                F.col("f.vertex").alias("at"),
                F.col("d.outdeg").alias("outdeg"),
            )
            .select(
                "graph_id",
                "start",
                "walk_no",
                "at",
                F.pmod(_walk_hash(step, seed), F.col("outdeg")).cast("int").alias("r"),
            )
        )
        frontier = (
            cur.alias("c")
            .join(
                ranked.alias("rk"),
                on=(F.col("c.graph_id") == F.col("rk.graph_id"))
                & (F.col("c.at") == F.col("rk.src"))
                & (F.col("c.r") == F.col("rk.rank")),
            )
            .select(
                F.col("c.graph_id").alias("graph_id"),
                F.col("c.start").alias("start"),
                F.col("c.walk_no").alias("walk_no"),
                F.lit(step).cast("int").alias("step"),
                F.col("rk.dst").alias("vertex"),
            )
        )
        eager = step % WALK_CHECKPOINT_EVERY == 0 or step == walk_length
        frontier = barrier(frontier, eager=eager)
        segments.append(frontier)
    out = segments[0]
    for seg in segments[1:]:
        out = out.unionByName(seg)
    ranked.unpersist()
    deg.unpersist()
    return out


# node2vec bias weights in half-units (exact integer arithmetic): p = 2 so
# returning to the previous vertex weighs 1/p = 0.5 -> 1 unit; a common
# neighbor (distance 1 from prev) weighs 1.0 -> 2 units; q = 0.5 so an
# outward step (distance 2) weighs 1/q = 2.0 -> 4 units (DFS-leaning walk,
# Grover & Leskovec 2016 defaults for exploratory embeddings).
NODE2VEC_RETURN_W = 1
NODE2VEC_COMMON_W = 2
NODE2VEC_EXPLORE_W = 4


def node2vec_transitions(edges: DataFrame) -> DataFrame:
    """Second-order transition table for node2vec walks.

    One row per (prev, cur, nxt) triple of the SIMPLE graph (multi-edges
    deduped first — second-order bias is defined on adjacency, and raw
    multi-edges would blow the table up quadratically in multiplicity).
    ``w`` is the integer bias weight (return / common-neighbor / explore),
    ``lo`` the exclusive running-sum offset over candidates in ascending
    ``nxt`` order, ``total`` the per-(prev, cur) weight sum — the
    alias-table layout a deterministic hash picks from in O(1) per step.

    Scale posture: the table is the standard node2vec preprocessing cost,
    O(sum_v indeg(v) * outdeg(v)). On power-law graphs cap hub degree or
    switch to rejection sampling before materializing; for the fixture and
    orders-derived scale graphs (<= 101 vertices) it is small. Built with
    two keyed self-joins plus one windowed pass — all JVM-side.
    """
    e = edges.select("graph_id", "src", "dst").distinct()
    tri = (
        e.alias("a")
        .join(
            e.alias("b"),
            on=(F.col("a.graph_id") == F.col("b.graph_id"))
            & (F.col("a.dst") == F.col("b.src")),
        )
        .select(
            F.col("a.graph_id").alias("graph_id"),
            F.col("a.src").alias("prev"),
            F.col("a.dst").alias("cur"),
            F.col("b.dst").alias("nxt"),
        )
    )
    common = e.select(
        "graph_id",
        F.col("src").alias("prev"),
        F.col("dst").alias("nxt"),
        F.lit(1).alias("is_common"),
    )
    tri = tri.join(common, ["graph_id", "prev", "nxt"], "left").withColumn(
        "w",
        F.when(F.col("nxt") == F.col("prev"), F.lit(NODE2VEC_RETURN_W))
        .when(F.col("is_common") == 1, F.lit(NODE2VEC_COMMON_W))
        .otherwise(F.lit(NODE2VEC_EXPLORE_W))
        .cast("bigint"),
    )
    state = Window.partitionBy("graph_id", "prev", "cur")
    run = state.orderBy("nxt").rowsBetween(Window.unboundedPreceding, Window.currentRow)
    return tri.select(
        "graph_id",
        "prev",
        "cur",
        "nxt",
        "w",
        (F.sum("w").over(run) - F.col("w")).alias("lo"),
        F.sum("w").over(state).alias("total"),
    )


def node2vec_walks(
    spark: SparkSession,
    graphs: DataFrame,
    edges: DataFrame,
    walks_per_vertex: int = 1,
    walk_length: int = 8,
    seed: int = 2,
) -> DataFrame:
    """node2vec biased second-order random walks from every vertex.

    Same output layout and determinism contract as :func:`random_walks`
    (graph_id, start, walk_no, step, vertex), but steps >= 2 are biased by
    the previous vertex: candidates are weighted return/common/explore
    (``NODE2VEC_*_W``) and the 60-bit md5 choice hash picks the candidate
    whose cumulative-weight interval contains ``H mod total``. Step 1 has
    no previous vertex and is uniform over the simple graph's neighbors,
    the standard node2vec convention. Walks stop early at sinks.

    The transition table is built ONCE (:func:`node2vec_transitions`) and
    persisted; each step is then a single keyed join against it — no
    per-step window, no Python in the loop. When the total walk count
    (known up front from ``graphs``: sum(n) * walks_per_vertex — a single
    aggregated row, the only collect here) is small, the frontier side is
    broadcast-hinted so each step streams the persisted table through a
    hash probe instead of re-sorting it under a merge join (the frontier
    hides behind a checkpoint RDD whose size Catalyst can't estimate, so
    it would plan SMJ forever otherwise). Past the threshold the hint is
    withheld and the step is the plain keyed shuffle join — the correct
    plan when walks outnumber transition rows.
    """
    from pyspark.storagelevel import StorageLevel

    total_walks = (graphs.agg(F.sum("n")).first()[0] or 0) * walks_per_vertex
    broadcast_frontier = total_walks <= 2_000_000
    e = edges.select("graph_id", "src", "dst").distinct()
    ranked = (
        e.withColumn(
            "rank",
            F.row_number().over(Window.partitionBy("graph_id", "src").orderBy("dst"))
            - 1,
        )
        .persist(StorageLevel.MEMORY_AND_DISK)
    )
    deg = (
        e.groupBy("graph_id", "src")
        .agg(F.count("*").alias("outdeg"))
        .persist(StorageLevel.MEMORY_AND_DISK)
    )
    trans = node2vec_transitions(edges).persist(StorageLevel.MEMORY_AND_DISK)
    starts = graphs.select(
        "graph_id", F.explode(F.sequence(F.lit(0), F.col("n") - 1)).alias("start")
    ).select(
        "graph_id",
        "start",
        F.explode(F.sequence(F.lit(0), F.lit(walks_per_vertex - 1))).alias("walk_no"),
    )
    # frontier carries (prev, vertex); prev is NULL only at step 0
    frontier = barrier(
        starts.select(
            "graph_id",
            "start",
            "walk_no",
            F.lit(0).cast("int").alias("step"),
            F.lit(None).cast("int").alias("prev"),
            F.col("start").alias("vertex"),
        ),
        eager=True,
    )
    segments = [frontier.drop("prev")]
    for step in range(1, walk_length + 1):
        cur = frontier.select(
            "graph_id",
            "start",
            "walk_no",
            "prev",
            F.col("vertex").alias("at"),
            _walk_hash(step, seed).alias("h"),
        )
        if broadcast_frontier:
            cur = F.broadcast(cur)
        if step == 1:
            stepped = (
                cur.alias("c")
                .join(
                    deg.alias("d"),
                    on=(F.col("c.graph_id") == F.col("d.graph_id"))
                    & (F.col("c.at") == F.col("d.src")),
                )
                .join(
                    ranked.alias("rk"),
                    on=(F.col("c.graph_id") == F.col("rk.graph_id"))
                    & (F.col("c.at") == F.col("rk.src"))
                    & (
                        F.pmod(F.col("c.h"), F.col("d.outdeg"))
                        == F.col("rk.rank")
                    ),
                )
                .select(
                    F.col("c.graph_id").alias("graph_id"),
                    F.col("c.start").alias("start"),
                    F.col("c.walk_no").alias("walk_no"),
                    F.col("c.at").alias("prev"),
                    F.col("rk.dst").alias("vertex"),
                )
            )
        else:
            r = F.pmod(F.col("c.h"), F.col("t.total"))
            stepped = (
                cur.alias("c")
                .join(
                    trans.alias("t"),
                    on=(F.col("c.graph_id") == F.col("t.graph_id"))
                    & (F.col("c.prev") == F.col("t.prev"))
                    & (F.col("c.at") == F.col("t.cur"))
                    & (F.col("t.lo") <= r)
                    & (r < F.col("t.lo") + F.col("t.w")),
                )
                .select(
                    F.col("c.graph_id").alias("graph_id"),
                    F.col("c.start").alias("start"),
                    F.col("c.walk_no").alias("walk_no"),
                    F.col("c.at").alias("prev"),
                    F.col("t.nxt").alias("vertex"),
                )
            )
        frontier = stepped.select(
            "graph_id",
            "start",
            "walk_no",
            F.lit(step).cast("int").alias("step"),
            "prev",
            "vertex",
        )
        eager = step % WALK_CHECKPOINT_EVERY == 0 or step == walk_length
        frontier = barrier(frontier, eager=eager)
        segments.append(frontier.drop("prev"))
    out = segments[0]
    for seg in segments[1:]:
        out = out.unionByName(seg)
    ranked.unpersist()
    deg.unpersist()
    trans.unpersist()
    return out


# SimRank decay C = 0.8 as the exact rational SIMRANK_C_NUM/SIMRANK_C_DEN:
# every update stays in BIGINT micro-units with half-up integer rounding,
# so iterations are bit-reproducible across engines and partitionings.
SIMRANK_C_NUM = 4
SIMRANK_C_DEN = 5
SIMRANK_MICRO = 1_000_000


def simrank(
    spark: SparkSession,
    graphs: DataFrame,
    edges: DataFrame,
    iterations: int = 3,
    in_cap: int = 10,
) -> DataFrame:
    """SimRank vertex similarity (Jeh & Widom 2002) in exact integer
    micro-units.

    s(a,a) = 1; s(a,b) = C / (|I(a)||I(b)|) * sum over in-neighbor pairs
    of the previous iteration's scores, with C = 0.8 kept as the rational
    4/5 and half-up integer rounding each iteration — both engines
    compute identical BIGINTs, no float drift. In-neighbor lists are the
    SIMPLE graph's, truncated to the first ``in_cap`` by ascending
    neighbor id: the deterministic form of the neighbor-sampling that
    published scalable SimRank uses (graphs whose in-degrees are below
    the cap — e.g. every fixture graph — get textbook-exact SimRank).

    State is the dense per-graph pair matrix (n^2 rows; SimRank's own
    memory model — use the capped/sampled variant and small n, or a
    single-source variant, beyond ~10^4 vertices). Each iteration is two
    keyed joins against the capped in-neighbor table, a partial-aggregated
    pair groupBy, and a universe left join — all JVM-side.

    Returns (graph_id, a, b, sim_micro) for a < b with sim_micro > 0.
    """
    from pyspark.storagelevel import StorageLevel

    ine = edges.select(
        "graph_id", F.col("dst").alias("v"), F.col("src").alias("nbr")
    ).distinct()
    inc = (
        ine.withColumn(
            "rk",
            F.row_number().over(Window.partitionBy("graph_id", "v").orderBy("nbr")),
        )
        .where(F.col("rk") <= in_cap)
        .drop("rk")
        .persist(StorageLevel.MEMORY_AND_DISK)
    )
    nd = inc.groupBy("graph_id", "v").agg(F.count("*").alias("d"))
    verts = graphs.select(
        "graph_id", F.explode(F.sequence(F.lit(0), F.col("n") - 1)).alias("v")
    )
    pairs = (
        verts.alias("x")
        .join(verts.alias("y"), on=F.col("x.graph_id") == F.col("y.graph_id"))
        .select(
            F.col("x.graph_id").alias("graph_id"),
            F.col("x.v").alias("a"),
            F.col("y.v").alias("b"),
        )
        .persist(StorageLevel.MEMORY_AND_DISK)
    )
    state = pairs.withColumn(
        "s",
        F.when(F.col("a") == F.col("b"), F.lit(SIMRANK_MICRO))
        .otherwise(F.lit(0))
        .cast("bigint"),
    )
    state = barrier(state, eager=True)
    num2 = 2 * SIMRANK_C_NUM  # 8: doubled numerator for half-up rounding
    den2 = 2 * SIMRANK_C_DEN  # 10
    for _ in range(iterations):
        ssum = (
            state.where(F.col("s") > 0)
            .alias("s")
            .join(
                inc.alias("ia"),
                on=(F.col("s.graph_id") == F.col("ia.graph_id"))
                & (F.col("s.a") == F.col("ia.nbr")),
            )
            .join(
                inc.alias("jb"),
                on=(F.col("s.graph_id") == F.col("jb.graph_id"))
                & (F.col("s.b") == F.col("jb.nbr")),
            )
            .groupBy(
                F.col("s.graph_id").alias("graph_id"),
                F.col("ia.v").alias("a"),
                F.col("jb.v").alias("b"),
            )
            .agg(F.sum("s.s").alias("ssum"))
        )
        upd = (
            ssum.join(
                nd.select(
                    "graph_id", F.col("v").alias("a"), F.col("d").alias("da")
                ),
                ["graph_id", "a"],
            )
            .join(
                nd.select(
                    "graph_id", F.col("v").alias("b"), F.col("d").alias("db")
                ),
                ["graph_id", "b"],
            )
            .select(
                "graph_id",
                "a",
                "b",
                F.expr(
                    f"({num2} * ssum + {SIMRANK_C_DEN} * da * db) "
                    f"div ({den2} * da * db)"
                ).alias("sp"),
            )
        )
        state = (
            pairs.join(upd, ["graph_id", "a", "b"], "left")
            .select(
                "graph_id",
                "a",
                "b",
                F.when(F.col("a") == F.col("b"), F.lit(SIMRANK_MICRO))
                .otherwise(F.coalesce("sp", F.lit(0)))
                .cast("bigint")
                .alias("s"),
            )
        )
        state = barrier(state, eager=True)
    out = state.where((F.col("a") < F.col("b")) & (F.col("s") > 0)).select(
        "graph_id", "a", "b", F.col("s").alias("sim_micro")
    )
    inc.unpersist()
    pairs.unpersist()
    return out


HITS_MICRO = 1_000_000


def hits(
    spark: SparkSession,
    graphs: DataFrame,
    edges: DataFrame,
    iterations: int = 3,
) -> DataFrame:
    """HITS hubs & authorities (Kleinberg 1999) in exact integer
    micro-units.

    Per iteration: authority(u) = sum of hub over in-edges, hub(v) = sum
    of authority over out-edges (simple graph), each renormalized so the
    per-graph MAX is one million — half-up integer division, so both
    engines produce identical BIGINTs (max-normalization replaces the
    usual L2 norm, whose sqrt would reintroduce float drift; rankings are
    unchanged). Iterations run on the full vertex universe; vertices with
    no in-(out-)edges carry authority (hub) 0.

    Each iteration is two keyed join+aggregate passes plus a tiny
    per-graph max join (|graphs| rows, broadcastable) — all JVM-side,
    shuffle keyed on the vertex, the PageRank cost shape; the per-graph
    max rides a window over the state (no separate aggregate job). One
    eager barrier per iteration truncates lineage, as PageRank does.

    Returns (graph_id, vertex, hub_micro, auth_micro).
    """
    from pyspark.storagelevel import StorageLevel

    e = edges.select("graph_id", "src", "dst").distinct().persist(
        StorageLevel.MEMORY_AND_DISK
    )
    verts = graphs.select(
        "graph_id", F.explode(F.sequence(F.lit(0), F.col("n") - 1)).alias("vertex")
    )
    state = verts.select(
        "graph_id",
        "vertex",
        F.lit(HITS_MICRO).cast("bigint").alias("hub"),
        F.lit(HITS_MICRO).cast("bigint").alias("auth"),
    )
    state = barrier(state, eager=True)

    def _normalize(raw: DataFrame, col: str) -> DataFrame:
        mx = F.max(col).over(Window.partitionBy("graph_id"))
        return raw.select(
            "graph_id",
            "vertex",
            F.col(col).alias("_raw"),
            mx.alias("_mx"),
        ).select(
            "graph_id",
            "vertex",
            F.when(
                F.col("_mx") > 0,
                F.expr(f"(2 * {HITS_MICRO} * _raw + _mx) div (2 * _mx)"),
            )
            .otherwise(F.lit(0))
            .cast("bigint")
            .alias(col),
        )

    for _ in range(iterations):
        auth_raw = (
            state.alias("s")
            .join(
                e.alias("e"),
                on=(F.col("s.graph_id") == F.col("e.graph_id"))
                & (F.col("s.vertex") == F.col("e.src")),
            )
            .groupBy(
                F.col("s.graph_id").alias("graph_id"),
                F.col("e.dst").alias("vertex"),
            )
            .agg(F.sum("s.hub").alias("auth"))
        )
        auth = _normalize(
            verts.join(auth_raw, ["graph_id", "vertex"], "left").select(
                "graph_id", "vertex", F.coalesce("auth", F.lit(0)).alias("auth")
            ),
            "auth",
        )
        hub_raw = (
            auth.alias("a")
            .join(
                e.alias("e"),
                on=(F.col("a.graph_id") == F.col("e.graph_id"))
                & (F.col("a.vertex") == F.col("e.dst")),
            )
            .groupBy(
                F.col("a.graph_id").alias("graph_id"),
                F.col("e.src").alias("vertex"),
            )
            .agg(F.sum("a.auth").alias("hub"))
        )
        hub = _normalize(
            verts.join(hub_raw, ["graph_id", "vertex"], "left").select(
                "graph_id", "vertex", F.coalesce("hub", F.lit(0)).alias("hub")
            ),
            "hub",
        )
        state = hub.join(auth, ["graph_id", "vertex"]).select(
            "graph_id", "vertex", "hub", "auth"
        )
        state = barrier(state, eager=True)
    out = state.select(
        "graph_id",
        "vertex",
        F.col("hub").alias("hub_micro"),
        F.col("auth").alias("auth_micro"),
    )
    e.unpersist()
    return out


def articulation_points(
    spark: SparkSession,
    graphs: DataFrame,
    edges: DataFrame,
    max_nodes: int = 100,
) -> DataFrame:
    """Articulation points (cut vertices) of each graph's undirected
    simple form — one iterative Tarjan lowlink pass per graph.

    A vertex is an articulation point iff removing it increases the
    number of weakly connected components. Directed input is symmetrized
    and self-loops dropped (weak-connectivity semantics, as the CC
    family). Per-graph sequential kernel in the reference's n <= 100
    regime (`secondary_server.c:117-248`'s own cap) — parallelism is
    ACROSS graphs, the dfs_leaves/WL posture; lowlink has no practical
    distributed form, and the brute-force n-removal alternative is the
    oracle's job, not the engine's. Explicit-stack DFS (no recursion —
    a deep path would overflow the worker's C stack).

    Returns (graph_id, vertex, is_articulation) for every vertex.
    """
    import pandas as pd

    und = (
        edges.select("graph_id", "src", "dst")
        .where(F.col("src") != F.col("dst"))
        .select(
            "graph_id",
            F.least("src", "dst").alias("a"),
            F.greatest("src", "dst").alias("b"),
        )
        .distinct()
    )
    # one marker row per vertex so empty/isolated-vertex graphs still form
    # a group and appear in the output universe
    markers = graphs.select(
        "graph_id",
        F.explode(F.sequence(F.lit(0), F.col("n") - 1)).alias("a"),
        F.lit(-1).alias("b"),
    )
    grouped = und.unionByName(markers)

    out_schema = StructType(
        [
            StructField("graph_id", IntegerType()),
            StructField("vertex", IntegerType()),
            StructField("is_articulation", IntegerType()),
        ]
    )

    def kernel(pdf: pd.DataFrame) -> pd.DataFrame:
        graph_id = int(pdf["graph_id"].iloc[0])
        verts = sorted(int(a) for a, b in zip(pdf["a"], pdf["b"]) if b == -1)
        adj: dict[int, list[int]] = {v: [] for v in verts}
        for a, b in zip(pdf["a"], pdf["b"]):
            if b == -1:
                continue
            adj[int(a)].append(int(b))
            adj[int(b)].append(int(a))
        if len(verts) > max_nodes:
            raise ValueError(
                f"graph {graph_id} has {len(verts)} vertices, over the "
                f"kernel cap {max_nodes}; articulation points are a "
                "per-graph kernel op (parallelism is across graphs)"
            )
        for v in adj:
            adj[v].sort()
        disc: dict[int, int] = {}
        low: dict[int, int] = {}
        art: set[int] = set()
        t = 0
        for root in verts:
            if root in disc:
                continue
            disc[root] = low[root] = t
            t += 1
            root_children = 0
            stack: list[tuple[int, int | None, object]] = [
                (root, None, iter(adj[root]))
            ]
            while stack:
                u, parent, it = stack[-1]
                advanced = False
                for v in it:
                    if v == parent:
                        continue
                    if v not in disc:
                        disc[v] = low[v] = t
                        t += 1
                        if u == root:
                            root_children += 1
                        stack.append((v, u, iter(adj[v])))
                        advanced = True
                        break
                    low[u] = min(low[u], disc[v])
                if not advanced:
                    stack.pop()
                    if stack:
                        p = stack[-1][0]
                        low[p] = min(low[p], low[u])
                        if p != root and low[u] >= disc[p]:
                            art.add(p)
            if root_children >= 2:
                art.add(root)
        return pd.DataFrame(
            {
                "graph_id": graph_id,
                "vertex": verts,
                "is_articulation": [1 if v in art else 0 for v in verts],
            }
        )

    return grouped.groupBy("graph_id").applyInPandas(kernel, out_schema)


def bridges(
    spark: SparkSession,
    graphs: DataFrame,
    edges: DataFrame,
    max_nodes: int = 100,
) -> DataFrame:
    """Bridge edges of each graph's undirected simple form — the edge
    sibling of :func:`articulation_points`, from the same iterative
    Tarjan pass (tree edge (u, v) is a bridge iff low(v) > disc(u)).

    Same semantics and posture as articulation points: weak connectivity,
    self-loops dropped, per-graph kernel in the n <= 100 regime with
    parallelism across graphs. Returns (graph_id, a, b, is_bridge) for
    every undirected edge, a < b.
    """
    import pandas as pd

    und = (
        edges.select("graph_id", "src", "dst")
        .where(F.col("src") != F.col("dst"))
        .select(
            "graph_id",
            F.least("src", "dst").alias("a"),
            F.greatest("src", "dst").alias("b"),
        )
        .distinct()
    )

    out_schema = StructType(
        [
            StructField("graph_id", IntegerType()),
            StructField("a", IntegerType()),
            StructField("b", IntegerType()),
            StructField("is_bridge", IntegerType()),
        ]
    )

    def kernel(pdf: pd.DataFrame) -> pd.DataFrame:
        graph_id = int(pdf["graph_id"].iloc[0])
        pairs = sorted((int(a), int(b)) for a, b in zip(pdf["a"], pdf["b"]))
        verts = sorted({v for p in pairs for v in p})
        if len(verts) > max_nodes:
            raise ValueError(
                f"graph {graph_id} has {len(verts)} vertices, over the "
                f"kernel cap {max_nodes}; bridges are a per-graph kernel op"
            )
        adj: dict[int, list[int]] = {v: [] for v in verts}
        for a, b in pairs:
            adj[a].append(b)
            adj[b].append(a)
        for v in adj:
            adj[v].sort()
        disc: dict[int, int] = {}
        low: dict[int, int] = {}
        bridge_set: set[tuple[int, int]] = set()
        t = 0
        for root in verts:
            if root in disc:
                continue
            disc[root] = low[root] = t
            t += 1
            stack: list[tuple[int, int | None, object]] = [
                (root, None, iter(adj[root]))
            ]
            while stack:
                u, parent, it = stack[-1]
                advanced = False
                for v in it:
                    if v == parent:
                        continue
                    if v not in disc:
                        disc[v] = low[v] = t
                        t += 1
                        stack.append((v, u, iter(adj[v])))
                        advanced = True
                        break
                    low[u] = min(low[u], disc[v])
                if not advanced:
                    stack.pop()
                    if stack:
                        p = stack[-1][0]
                        low[p] = min(low[p], low[u])
                        if low[u] > disc[p]:
                            bridge_set.add((min(p, u), max(p, u)))
            # root needs no special case for bridges
        return pd.DataFrame(
            {
                "graph_id": graph_id,
                "a": [a for a, _ in pairs],
                "b": [b for _, b in pairs],
                "is_bridge": [
                    1 if (a, b) in bridge_set else 0 for a, b in pairs
                ],
            }
        )

    return und.groupBy("graph_id").applyInPandas(kernel, out_schema)


def walks_as_sentences(walks: DataFrame) -> DataFrame:
    """Collapse step rows into ordered vertex sequences — the "sentence"
    layout embedding trainers consume. One shuffle on the walk key;
    ordering is by the carried step column (sort_array over structs — no
    window, no assumption about row order). Returns
    (graph_id, start, walk_no, walk array<int>).
    """
    return (
        walks.groupBy("graph_id", "start", "walk_no")
        .agg(
            F.transform(
                F.sort_array(F.collect_list(F.struct("step", "vertex"))),
                lambda s: s["vertex"],
            ).alias("walk")
        )
    )


def aggregate_neighbor_features(
    vertex_features: DataFrame,
    edges: DataFrame,
    feature_cols: list[str],
    hops: int = 1,
) -> DataFrame:
    """GraphSAGE-style neighborhood feature aggregation.

    For each vertex, the mean and sum of each feature over its out-
    neighbors' ``hops``-hop aggregates (hop h consumes hop h-1's means —
    iterated mean aggregation, the standard GNN feature-prep shape).

    Universe semantics: every vertex of ``vertex_features`` appears in the
    output of every hop. Sink vertices (no out-neighbors inside the
    feature universe) carry NULL means/sums and ``n_neighbors = 0`` —
    preserved rather than zero-filled so downstream imputation stays
    explicit. At hops >= 2 a NULL-mean neighbor still counts toward
    ``n_neighbors`` but is skipped by mean/sum (standard SQL aggregate
    NULL semantics). Edge sources absent from ``vertex_features`` are out
    of scope and emit nothing; edges to vertices outside the universe are
    ignored (their features are unknown).

    Returns (graph_id, vertex, <f>_mean, <f>_sum, n_neighbors) for the
    final hop. Every hop is ONE keyed shuffle (join on the neighbor key +
    partial-aggregated groupBy on the vertex key) plus a universe left
    join; feature columns stay JVM-side the whole way.
    """
    if hops < 1:
        raise ValueError(f"hops must be >= 1, got {hops}")
    feats = vertex_features.select(
        "graph_id", "vertex", *[F.col(c).cast("double").alias(c) for c in feature_cols]
    )
    universe = feats.select("graph_id", "vertex")
    e = edges.select("graph_id", "src", "dst")
    current = feats
    for _ in range(hops):
        joined = (
            e.alias("e")
            .join(
                current.alias("cf"),
                on=(F.col("e.graph_id") == F.col("cf.graph_id"))
                & (F.col("e.dst") == F.col("cf.vertex")),
            )
            .select(
                F.col("e.graph_id").alias("graph_id"),
                F.col("e.src").alias("vertex"),
                *[F.col(f"cf.{c}").alias(c) for c in feature_cols],
            )
        )
        aggs = []
        for c in feature_cols:
            aggs.append(F.avg(c).alias(f"{c}_mean"))
            aggs.append(F.sum(c).alias(f"{c}_sum"))
        aggs.append(F.count("*").cast("bigint").alias("n_neighbors"))
        hop_agg = joined.groupBy("graph_id", "vertex").agg(*aggs)
        # universe-preserving: sinks keep NULL aggregates, 0 neighbors
        hop_out = universe.join(hop_agg, ["graph_id", "vertex"], "left").select(
            "graph_id",
            "vertex",
            *[F.col(f"{c}_{s}") for c in feature_cols for s in ("mean", "sum")],
            F.coalesce("n_neighbors", F.lit(0)).cast("bigint").alias("n_neighbors"),
        )
        # next hop consumes this hop's means under the plain feature names
        current = hop_out.select(
            "graph_id",
            "vertex",
            *[F.col(f"{c}_mean").alias(c) for c in feature_cols],
        )
        last = hop_out
    return last


def wl_labels(
    spark: SparkSession,
    graphs: DataFrame,
    edges: DataFrame,
    iterations: int = 3,
) -> DataFrame:
    """Weisfeiler-Leman vertex relabeling: label_0 = undirected degree;
    label_{i+1} = md5(label_i | sorted multiset of neighbor labels). After
    k rounds two vertices share a label only if their k-hop neighborhood
    trees agree — the 1-WL colour refinement underlying graph-isomorphism
    screening and GNN expressiveness. md5 keeps labels engine-portable and
    deterministic.

    Each round is one keyed join + one partial-aggregated
    ``sort_array(collect_list)`` per vertex; the per-vertex list is
    degree-bounded, so this is a bounded-degree / many-small-graphs
    operator (the reference's n<=100 regime — a 10^6-degree hub would
    build a 10^6-element array; cap degrees upstream for power-law
    corpora). Returns (graph_id, vertex, label string).
    """
    from ..session import barrier

    from .graph_analytics import undirected, vertices

    ue = undirected(edges).where(F.col("src") != F.col("dst"))
    ue = barrier(ue, eager=True)
    deg = ue.groupBy("graph_id", F.col("src").alias("vertex")).agg(
        F.count("*").alias("deg")
    )
    labels = (
        vertices(graphs)
        .join(deg, ["graph_id", "vertex"], "left")
        .select(
            "graph_id",
            "vertex",
            F.coalesce(F.col("deg"), F.lit(0)).cast("string").alias("label"),
        )
    )
    labels = barrier(labels, eager=True)
    for _ in range(iterations):
        lb, e = labels.alias("lb"), ue.alias("e")
        nbr = (
            e.join(
                lb,
                on=(F.col("e.graph_id") == F.col("lb.graph_id"))
                & (F.col("e.dst") == F.col("lb.vertex")),
            )
            .select(
                F.col("e.graph_id").alias("graph_id"),
                F.col("e.src").alias("vertex"),
                F.col("lb.label").alias("nl"),
            )
            .groupBy("graph_id", "vertex")
            .agg(F.sort_array(F.collect_list("nl")).alias("nls"))
        )
        labels = (
            labels.join(nbr, ["graph_id", "vertex"], "left")
            .select(
                "graph_id",
                "vertex",
                F.md5(
                    F.concat_ws(
                        "|",
                        F.col("label"),
                        F.array_join(
                            F.coalesce("nls", F.array().cast("array<string>")), ","
                        ),
                    )
                ).alias("label"),
            )
        )
        labels = barrier(labels, eager=True)
    return labels


def wl_fingerprint(
    spark: SparkSession,
    graphs: DataFrame,
    edges: DataFrame,
    iterations: int = 3,
) -> DataFrame:
    """Graph-level WL fingerprint: md5 of the sorted multiset of final WL
    vertex labels plus the vertex count. Isomorphic graphs ALWAYS collide
    (the relabeling is isomorphism-invariant); non-isomorphic graphs
    collide only if 1-WL cannot distinguish them (rare outside regular-
    graph corner cases). groupBy graphs by this to near-dup / dedup a
    many-graph corpus — the graph sibling of the document fingerprints.
    Returns (graph_id, n, fingerprint string).
    """
    labels = wl_labels(spark, graphs, edges, iterations)
    return (
        labels.groupBy("graph_id")
        .agg(
            F.count("*").cast("int").alias("n"),
            F.md5(F.array_join(F.sort_array(F.collect_list("label")), ",")).alias(
                "fingerprint"
            ),
        )
    )


def graph_edge_jaccard(
    edges: DataFrame,
    min_jaccard: float = 0.5,
    max_edge_graphs: int = 1024,
) -> DataFrame:
    """Near-duplicate GRAPHS in a many-graph corpus by edge-set Jaccard —
    the structural complement to :func:`wl_fingerprint` (which catches
    exact isomorphism classes; this catches graphs that merely SHARE most
    edges, e.g. successive snapshots). Same candidate-generation shape as
    the n-gram document dedup: an inverted index keyed by canonical
    (src, dst) edge joins graphs that share an edge, one count per graph
    pair, then |A∩B| / (|A|+|B|−|A∩B|) filtered at ``min_jaccard`` —
    never an all-pairs product over graphs.

    ``max_edge_graphs`` drops "stop edges" present in more than that many
    graphs before pairing (the stop-word analogue): a universally-shared
    edge contributes quadratic pair fan-out and no discrimination. Exact
    for corpora below the cap; with drops, reported intersections are
    lower bounds (documented trade, same as prefix-filter dedup).
    Returns (graph_a, graph_b, n_common, n_a, n_b, jaccard) with
    graph_a < graph_b.
    """
    canon = edges.select(
        "graph_id",
        F.least("src", "dst").alias("u"),
        F.greatest("src", "dst").alias("v"),
    ).where(F.col("u") != F.col("v")).distinct()
    sizes = canon.groupBy("graph_id").agg(F.count("*").alias("n_edges"))
    edge_freq = canon.groupBy("u", "v").agg(F.count("*").alias("n_graphs"))
    indexed = canon.join(
        edge_freq.where(F.col("n_graphs") <= max_edge_graphs).select("u", "v"),
        ["u", "v"],
    )
    a, b = indexed.alias("a"), indexed.alias("b")
    common = (
        a.join(
            b,
            on=(F.col("a.u") == F.col("b.u"))
            & (F.col("a.v") == F.col("b.v"))
            & (F.col("a.graph_id") < F.col("b.graph_id")),
        )
        .groupBy(
            F.col("a.graph_id").alias("graph_a"),
            F.col("b.graph_id").alias("graph_b"),
        )
        .agg(F.count("*").alias("n_common"))
    )
    sa = sizes.select(F.col("graph_id").alias("graph_a"), F.col("n_edges").alias("n_a"))
    sb = sizes.select(F.col("graph_id").alias("graph_b"), F.col("n_edges").alias("n_b"))
    return (
        common.join(sa, "graph_a")
        .join(sb, "graph_b")
        .withColumn(
            "jaccard",
            F.col("n_common") / (F.col("n_a") + F.col("n_b") - F.col("n_common")),
        )
        .where(F.col("jaccard") >= min_jaccard)
        .select("graph_a", "graph_b", "n_common", "n_a", "n_b", "jaccard")
    )
