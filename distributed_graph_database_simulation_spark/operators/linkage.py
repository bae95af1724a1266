"""Record linkage / entity resolution: blocking-key candidate generation
plus edit-distance verification.

The shape the rest of the dedup suite doesn't cover (r14 verdict #8): the
near-dup operators compare token SETS (Jaccard over shingles); entity
resolution compares SEQUENCES — two records are the same entity when
their identifying string is within a small edit distance, which catches
typos, dropped characters, and truncations that leave token sets almost
disjoint (a deleted char shifts every downstream token).

Scale posture (100 TB): classic all-pairs linkage is O(n²) in
comparisons; this implementation is the standard blocking design —

1. every record emits its distinct q-grams (content-based, so an edit
   only invalidates the ≤ q grams overlapping it),
2. grams whose document frequency exceeds ``max_df`` are dropped
   (stop-gram cap — the hub-block guard: without it one ubiquitous gram
   makes a single O(n²) block; with it per-gram candidate volume is
   ≤ C(max_df, 2) and total work is candidate-proportional, the same
   bound discipline as the MinHash band join in dedup.py),
3. candidates are the distinct record pairs sharing a surviving gram
   (a hash-keyed self-join — never cartesian),
4. verification is exact ``levenshtein`` on the candidate pairs only —
   JVM-side (pyspark.sql.functions.levenshtein), no Python in the loop.

Determinism end to end (gram extraction, integer df cap, exact edit
distance) is what makes the exact DuckDB oracle possible: the oracle
replays the same blocking and the same verification, so the driver gate
certifies recall-by-construction, not a fuzzy score.

Reference scope note: the reference system (secondary_server.c:117-248)
has no linkage operator; this family belongs to the mandated
training-data-pipeline extension surface (SURVEY.md §2c).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..session import barrier
from ..sources.tables import load_table, spread_small_scan

LINK_Q = 4          # gram width: an edit invalidates <= q grams
LINK_MAX_DF = 100   # stop-gram cap (hub-block guard)
LINK_MAX_DIST = 1   # verification threshold
LINK_DIRTY_OFFSET = 10_000_000  # rec_id offset for the perturbed copies


def record_linkage_df(
    records: DataFrame,
    q: int = LINK_Q,
    max_df: int = LINK_MAX_DF,
    max_dist: int = LINK_MAX_DIST,
) -> DataFrame:
    """Linked pairs ``(rec_a, rec_b, edit_dist)`` over ``(rec_id, text)``
    records: pairs sharing at least one sub-``max_df`` q-gram whose exact
    Levenshtein distance is ≤ ``max_dist``. ``rec_a < rec_b``.

    Recall contract: a pair at edit distance d shares every gram not
    overlapping one of the d edit sites, so it is blocked together unless
    ALL of its ≤ (len - q + 1) grams are either edit-damaged or
    df-capped — the deliberate trade of blocking, replayed exactly by the
    oracle (both sides miss the same pairs; nothing is silently fuzzy).
    """
    base = records.where(F.length("text") >= q).select(
        F.col("rec_id").cast("bigint").alias("rec_id"), "text"
    )
    grams = base.select(
        "rec_id",
        "text",
        F.explode(
            F.expr(
                f"array_distinct(transform("
                f"sequence(1, length(text) - {q} + 1), "
                f"i -> substring(text, i, {q})))"
            )
        ).alias("gram"),
    )
    kept = (
        grams.groupBy("gram")
        .agg(F.count("*").alias("df"))
        .where(F.col("df") <= max_df)
        .select("gram")
    )
    blocked = grams.join(kept, "gram")
    a, b = blocked.alias("a"), blocked.alias("b")
    cand = (
        a.join(
            b,
            (F.col("a.gram") == F.col("b.gram"))
            & (F.col("a.rec_id") < F.col("b.rec_id")),
        )
        .select(
            F.col("a.rec_id").alias("rec_a"),
            F.col("b.rec_id").alias("rec_b"),
            F.col("a.text").alias("ta"),
            F.col("b.text").alias("tb"),
        )
        .distinct()
    )
    return (
        # Bounded levenshtein (3-arg form, Spark >= 3.5): the DP early-
        # terminates once the distance provably exceeds max_dist — O(k*len)
        # per pair instead of O(len^2), and with k=1 the verification stage
        # drops ~25x in cell work. Returns the EXACT distance when
        # <= max_dist (else -1), so emitted rows are bit-identical to the
        # unbounded form (r16, guide §1.2 per-task work).
        cand.withColumn(
            "edit_dist", F.levenshtein("ta", "tb", max_dist).cast("int")
        )
        .where(F.col("edit_dist") >= 0)
        .select("rec_a", "rec_b", "edit_dist")
    )


def _dirty_customers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The linkage corpus: every customer name plus a 'dirty' copy with
    one character deleted at position ``c_custkey % 8`` (inside the
    constant name prefix, so the record's DISTINCTIVE digit-tail grams
    survive the edit and blocking can find the pair — a tail edit would
    be the documented blocking miss)."""
    # spread: one-file scan -> one partition; the q-gram explode and the
    # dirty-copy substring projection would run single-task (guide §2.5).
    cust = spread_small_scan(load_table(spark, sf_dir, "customer"))
    clean = cust.select(
        F.col("c_custkey").cast("bigint").alias("rec_id"),
        F.col("c_name").alias("text"),
    )
    dirty = cust.select(
        (F.col("c_custkey") + F.lit(LINK_DIRTY_OFFSET)).cast("bigint").alias("rec_id"),
        F.expr(
            "concat(substring(c_name, 1, CAST(c_custkey % 8 AS INT)), "
            "substring(c_name, CAST(c_custkey % 8 AS INT) + 2, 1000))"
        ).alias("text"),
    )
    return clean.unionByName(dirty)


def link_customer_dirty(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Registry entry: link the customer table against a deterministic
    dirty copy of itself (one-char deletions). Expected links are the
    planted clean↔dirty pairs (edit distance exactly 1) plus any genuine
    distance-≤1 neighbors that share an uncapped gram — all replayed
    exactly by the oracle."""
    return record_linkage_df(_dirty_customers(spark, sf_dir))


LINK_CUSTOMER_DIRTY_SQL = f"""
WITH recs AS (
  SELECT CAST(c_custkey AS BIGINT) AS rec_id, c_name AS text FROM customer
  UNION ALL
  SELECT CAST(c_custkey + {LINK_DIRTY_OFFSET} AS BIGINT) AS rec_id,
         substr(c_name, 1, CAST(c_custkey % 8 AS INT))
           || substr(c_name, CAST(c_custkey % 8 AS INT) + 2) AS text
  FROM customer
),
grams AS (
  SELECT DISTINCT r.rec_id, r.text, substr(r.text, CAST(t.i AS INT), {LINK_Q}) AS gram
  FROM recs r, LATERAL UNNEST(range(1, length(r.text) - {LINK_Q} + 2)) AS t(i)
  WHERE length(r.text) >= {LINK_Q}
),
kept AS (
  SELECT gram FROM grams GROUP BY gram HAVING COUNT(*) <= {LINK_MAX_DF}
),
cand AS (
  SELECT DISTINCT a.rec_id AS rec_a, b.rec_id AS rec_b,
                  a.text AS ta, b.text AS tb
  FROM grams a
  JOIN kept k ON a.gram = k.gram
  JOIN grams b ON b.gram = a.gram AND a.rec_id < b.rec_id
)
SELECT rec_a, rec_b, CAST(levenshtein(ta, tb) AS INT) AS edit_dist
FROM cand
WHERE levenshtein(ta, tb) <= {LINK_MAX_DIST}
"""


def entity_clusters_df(spark: SparkSession, pairs: DataFrame) -> DataFrame:
    """Entity resolution's MERGE step: transitive closure of linked pairs.

    Linkage emits pairwise matches; an entity is the connected component
    of the match graph (A↔B and B↔C put all three in one entity even when
    A↔C misses the distance threshold). Min-label propagation — the same
    superstep pattern as ``dedup.dedup_clusters_df`` / the CC operators —
    over ONLY the records that appear in some pair, so loop state is
    match-proportional, not corpus-proportional, at any scale. The
    canonical record (``is_canonical``) is the min rec_id of its entity.
    """
    from .graph_analytics import min_label_loop

    edges = barrier(
        pairs.select(F.col("rec_a").alias("src"), F.col("rec_b").alias("dst"))
        .union(pairs.select(F.col("rec_b").alias("src"), F.col("rec_a").alias("dst")))
        .distinct(),
        eager=True,
    )
    labels = barrier(
        edges.select(F.col("src").alias("rec_id"))
        .distinct()
        .withColumn("entity_id", F.col("rec_id")),
        eager=True,
    )
    labels = min_label_loop(labels, edges, ["rec_id"], "entity_id", max_iterations=50)
    return labels.select(
        "rec_id",
        "entity_id",
        (F.col("rec_id") == F.col("entity_id")).alias("is_canonical"),
    )


def link_entity_clusters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Registry entry: entities over the clean↔dirty customer linkage —
    blocking + verify (:func:`link_customer_dirty`) composed with the
    transitive-closure merge, one oracle replaying both stages."""
    return entity_clusters_df(
        spark, record_linkage_df(_dirty_customers(spark, sf_dir))
    )


LINK_ENTITY_CLUSTERS_SQL = f"""
WITH RECURSIVE base_pairs AS MATERIALIZED (
{LINK_CUSTOMER_DIRTY_SQL.strip()}
),
edges AS MATERIALIZED (
  SELECT rec_a AS src, rec_b AS dst FROM base_pairs
  UNION
  SELECT rec_b, rec_a FROM base_pairs
),
walk(rec_id, lbl) AS (
  SELECT src, src FROM edges
  UNION
  SELECT e.dst, w.lbl FROM walk w JOIN edges e ON e.src = w.rec_id
)
SELECT rec_id, MIN(lbl) AS entity_id, rec_id = MIN(lbl) AS is_canonical
FROM walk GROUP BY rec_id
"""


# --- sorted-neighborhood method (SNM) ------------------------------------

SNM_WINDOW = 4      # neighborhood radius in rank positions
SNM_KEY_LEN = 6     # sort key = last SNM_KEY_LEN chars of the text


def _global_rank(records: DataFrame, key: F.Column) -> DataFrame:
    """Exact dense global rank by (key, rec_id) WITHOUT a single-partition
    window — the classic two-pass shape: range-repartition on the key,
    sort within partitions, count rows per partition, broadcast the
    running offsets, rank = offset + local row_number. Every step is
    distributed; the only driver-side data is one row per partition.
    """
    from pyspark.sql.window import Window as W
    from pyspark.storagelevel import StorageLevel

    keyed = records.withColumn("_snm_key", key)
    parted = keyed.repartitionByRange(F.col("_snm_key"), F.col("rec_id"))
    # Persist the range-partitioned input: the per-partition census below is
    # its own job, and WITHOUT the persist the final query re-runs the whole
    # scan -> range exchange (including the range partitioner's sampling
    # pass) a second time — shuffle files are not reused across actions
    # (r16, guide §1 job-count / §2.4). MEMORY_AND_DISK: spills, never
    # recomputes through the replaced exchange.
    with_pid = parted.withColumn("_pid", F.spark_partition_id()).persist(
        StorageLevel.MEMORY_AND_DISK
    )
    counts = with_pid.groupBy("_pid").count().collect()  # one row/partition
    offsets = {}
    acc = 0
    for row in sorted(counts, key=lambda r: r._pid):
        offsets[row._pid] = acc
        acc += row["count"]
    off_df = records.sparkSession.createDataFrame(
        [(p, o) for p, o in offsets.items()], "_pid int, _offset long"
    )
    local_w = W.partitionBy("_pid").orderBy("_snm_key", "rec_id")
    return (
        with_pid.withColumn("_local", F.row_number().over(local_w))
        .join(F.broadcast(off_df), "_pid")
        .withColumn("rank", (F.col("_offset") + F.col("_local")).cast("bigint"))
        .drop("_pid", "_local", "_offset", "_snm_key")
    )


def sorted_neighborhood_df(
    records: DataFrame,
    window: int = SNM_WINDOW,
    key_len: int = SNM_KEY_LEN,
    max_dist: int = LINK_MAX_DIST,
) -> DataFrame:
    """Sorted-neighborhood record linkage (Hernandez & Stolfo, SIGMOD
    1995): sort the corpus by a blocking key, compare each record only
    against its ``window`` rank-neighbors, verify with exact
    Levenshtein. The complementary blocking family to the q-gram blocks
    of :func:`record_linkage_df` — SNM catches pairs whose shared
    signal concentrates in the sort key even when frequent grams are
    capped away, at a guaranteed O(n * window) comparison budget.

    Candidate generation is bucket-keyed, never a rank cross-join: each
    record lands in bucket rank div window and ALSO bucket + 1, so any
    pair within ``window`` ranks shares a bucket; the bucket self-join
    then filters to the exact rank distance. Shuffle volume is 2 rows
    per record.
    """
    from pyspark.storagelevel import StorageLevel

    ranked = _global_rank(
        records.where(F.length("text") >= key_len),
        F.expr(f"right(text, {key_len})"),
    )
    # Persist the bucketed rows: BOTH sides of the neighborhood self-join
    # consume them, and the subtree above (range exchange + window + rank
    # join) would otherwise execute once per side (r16 — same shared-
    # subtree discipline as minhash_lsh_df's band table).
    buckets = ranked.select(
        "rec_id",
        "text",
        "rank",
        F.explode(
            F.array(
                (F.col("rank") / window).cast("long"),
                (F.col("rank") / window).cast("long") + 1,
            )
        ).alias("bucket"),
    ).persist(StorageLevel.MEMORY_AND_DISK)
    a, b = buckets.alias("a"), buckets.alias("b")
    cand = (
        a.join(
            b,
            (F.col("a.bucket") == F.col("b.bucket"))
            & (F.col("a.rank") < F.col("b.rank"))
            & (F.col("b.rank") - F.col("a.rank") <= window),
        )
        .select(
            F.least(F.col("a.rec_id"), F.col("b.rec_id")).alias("rec_a"),
            F.greatest(F.col("a.rec_id"), F.col("b.rec_id")).alias("rec_b"),
            F.col("a.text").alias("ta"),
            F.col("b.text").alias("tb"),
        )
        .distinct()
    )
    return (
        # Bounded levenshtein — same exactness argument as record_linkage_df.
        cand.withColumn(
            "edit_dist", F.levenshtein("ta", "tb", max_dist).cast("int")
        )
        .where(F.col("edit_dist") >= 0)
        .select("rec_a", "rec_b", "edit_dist")
    )


def link_sorted_neighborhood(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Registry entry: SNM over the clean↔dirty customer corpus. The sort
    key (last 6 chars) is the digit TAIL, which the planted prefix
    deletion leaves intact — clean and dirty copies sort adjacently and
    every planted pair falls inside the neighborhood."""
    return sorted_neighborhood_df(_dirty_customers(spark, sf_dir))


LINK_SORTED_NEIGHBORHOOD_SQL = f"""
WITH recs AS (
  SELECT CAST(c_custkey AS BIGINT) AS rec_id, c_name AS text FROM customer
  UNION ALL
  SELECT CAST(c_custkey + {LINK_DIRTY_OFFSET} AS BIGINT) AS rec_id,
         substr(c_name, 1, CAST(c_custkey % 8 AS INT))
           || substr(c_name, CAST(c_custkey % 8 AS INT) + 2) AS text
  FROM customer
),
ranked AS (
  SELECT rec_id, text,
         ROW_NUMBER() OVER (ORDER BY right(text, {SNM_KEY_LEN}), rec_id)
           AS rank
  FROM recs WHERE length(text) >= {SNM_KEY_LEN}
),
cand AS (
  SELECT DISTINCT
         LEAST(a.rec_id, b.rec_id) AS rec_a,
         GREATEST(a.rec_id, b.rec_id) AS rec_b,
         a.text AS ta, b.text AS tb
  FROM ranked a JOIN ranked b
    ON b.rank > a.rank AND b.rank - a.rank <= {SNM_WINDOW}
)
SELECT rec_a, rec_b, CAST(levenshtein(ta, tb) AS INT) AS edit_dist
FROM cand
WHERE levenshtein(ta, tb) <= {LINK_MAX_DIST}
"""


LINKAGE_QUERIES = {
    "link_customer_dirty": (link_customer_dirty, LINK_CUSTOMER_DIRTY_SQL),
    "link_entity_clusters": (link_entity_clusters, LINK_ENTITY_CLUSTERS_SQL),
    "link_sorted_neighborhood": (
        link_sorted_neighborhood,
        LINK_SORTED_NEIGHBORHOOD_SQL,
    ),
}
