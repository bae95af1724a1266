"""Cache-ownership policy pin (r07 verdict "what's wrong" #1).

Operators that persist() intermediates fall in two classes:

- **Iterative graph algorithms** own their caches: they materialize rounds
  internally and unpersist before returning (e.g.
  ``graph_analytics.py`` cc/sssp — persist + unpersist pairs).
- **Lazy-plan operators** (dedup pair-finders, text tf/top tables) persist
  blocks that the RETURNED plan still needs, so they cannot release them
  themselves; the HARNESS that materializes the plan is the owner that
  releases (``tools/check_oracles.py`` and ``bench.py`` both
  ``spark.catalog.clearCache()`` after each query, outside the timed
  region).

This test pins the policy end-to-end: materializing the persist-heaviest
dedup/text operators the way the harnesses do must leave ZERO persisted
blocks behind — a full registry sweep accumulates nothing.
"""

from distributed_graph_database_simulation_spark import registry

PERSISTING_QUERIES = [
    "dedup_ngram_jaccard",   # dedup.py shingle table persist
    "dedup_minhash_lsh",     # dedup.py signature pipeline persist
    "dedup_dup_spans",       # dedup.py positional k-gram persist
    "dedup_containment",     # dedup.py shingle persist (asymmetric)
    "text_tfidf",            # text_analysis.py tf table persist
    "text_pmi",              # text_analysis.py window/top persist
    # r13 double-execute-audit persists (lazy-plan class, harness-owned).
    # pipe_end_to_end / dedup_cluster_representatives are NOT pinned here:
    # they route through dedup_clusters_df, whose eager localCheckpoint
    # barriers register block-manager RDDs that survive clearCache by
    # design (the same unsatisfiability the reliable-checkpoint test below
    # documents for the graph loops).
    "pipe_select_quality",   # pipeline.py scored persist
    "pipe_interleave_pack",  # pipeline.py keyed projection persist
    "rel_sliding_distinct_users",  # relational.py (day,user) pairs persist
    "pipe_incremental_quality",    # pipeline.py digest-routed join persist
    "dedup_boilerplate_sentences",  # dedup.py sentence-table persist
    # r16 shared-subtree persists (lazy-plan class, harness-owned)
    "link_sorted_neighborhood",     # linkage.py range-partition + bucket persists
    "link_customer_dirty",          # (unchanged control: no persist, must stay 0)
]


def _n_persisted(spark) -> int:
    return spark.sparkContext._jsc.getPersistentRDDs().size()


def _drain_stray_checkpoints(spark, timeout: float = 15.0) -> None:
    """Release localCheckpoint RDDs left behind by EARLIER tests in the
    shared session: clearCache cannot remove them (they are block-manager
    RDDs, not catalog cache entries) — they are freed only when the py4j
    proxies are collected and the async ContextCleaner runs. Force the
    driver GC and wait for the persistent-RDD census to drain so the
    assertions below measure THIS test's operators, not session refuse
    (same hygiene bench.py applies between queries, r16)."""
    import gc
    import time

    deadline = time.time() + timeout
    gc.collect()
    while _n_persisted(spark) and time.time() < deadline:
        gc.collect()
        # The driver-side Python GC alone is not enough: the JVM keeps the
        # checkpoint RDDs in SparkContext.persistentRdds (weak VALUES), so
        # the ContextCleaner unpersists them only after a JVM GC clears the
        # weak refs. Ask for one explicitly while draining.
        spark.sparkContext._jvm.System.gc()
        time.sleep(0.2)


def test_harness_cache_release_leaves_no_persisted_blocks(spark, sf_dir):
    q = registry.queries()
    spark.catalog.clearCache()  # isolate from earlier tests in the session
    _drain_stray_checkpoints(spark)
    for name in PERSISTING_QUERIES:
        q[name](spark, sf_dir).count()
        spark.catalog.clearCache()
        assert _n_persisted(spark) == 0, (
            f"{name}: persisted blocks survive clearCache — an intermediate "
            f"was cached outside spark.catalog (e.g. raw RDD persist)"
        )


def test_iterative_graph_ops_release_their_own_caches(spark, sf_dir, tmp_path):
    """Graph algorithms persist edges internally and must unpersist before
    returning — WITHOUT any harness clearCache.

    Run under a reliable checkpoint dir (``spark.graft.checkpointDir``):
    in the default localCheckpoint mode the loop's eager barriers register
    persisted RDDs that back the RETURNED DataFrame's data, so a
    zero-persisted assertion is unsatisfiable by design (r08 verdict,
    "what's wrong" #1). Reliable ``checkpoint()`` writes the barrier data
    to the checkpoint dir instead of the block manager, so any persisted
    block that survives here is a genuine operator leak — and this
    exercises the ``session.barrier`` reliable path end-to-end.
    """
    from distributed_graph_database_simulation_spark.session import (
        CHECKPOINT_DIR_CONF,
    )

    q = registry.queries()
    spark.catalog.clearCache()
    _drain_stray_checkpoints(spark)
    spark.conf.set(CHECKPOINT_DIR_CONF, str(tmp_path / "ck"))
    try:
        for name in (
            "g_pagerank_scale",
            "g_pagerank_weighted_scale",
            "g_pagerank_personalized_scale",
            "g_cc_contraction_scale",
        ):
            q[name](spark, sf_dir).count()
            assert _n_persisted(spark) == 0, f"{name} leaked a persisted block"
    finally:
        spark.conf.unset(CHECKPOINT_DIR_CONF)
