"""SparkSession factory.

Local testing runs ``local[$SPARK_GRAFT_CPUS]`` (default 32 threads, one JVM);
the same settings are cluster-safe: AQE handles skew/coalesce at scale, Arrow
speeds every pandas-UDF boundary, UTC pins timestamp semantics to match the
DuckDB oracles (DuckDB timestamps are TZ-naive UTC).
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession


def get_spark(app_name: str = "distributed_graph_database_simulation_spark",
              shuffle_partitions: int | None = None) -> SparkSession:
    cpus = int(os.environ.get("SPARK_GRAFT_CPUS", "32"))
    if shuffle_partitions is None:
        shuffle_partitions = cpus
    builder = (
        SparkSession.builder.master(f"local[{cpus}]")
        .appName(app_name)
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        # events.parquet carries TIMESTAMP(NANOS); read as long, converted to
        # microsecond timestamps in sources.tables.load_table.
        .config("spark.sql.legacy.parquet.nanosAsLong", "true")
        .config("spark.driver.memory", os.environ.get("SPARK_GRAFT_DRIVER_MEM", "8g"))
        .config("spark.ui.enabled", "false")
        # Broadcast joins for dimension tables (region/nation/graphs) up to 64 MiB.
        .config("spark.sql.autoBroadcastJoinThreshold", str(64 * 1024 * 1024))
        # The 128-permutation MinHash aggregate is >100 fields wide; keep it
        # (and any similarly wide plan) inside whole-stage codegen instead of
        # silently dropping to interpreted mode (~25% on the signature stage).
        .config("spark.sql.codegen.maxFields", "256")
        # Bucketed-table demos (rel_bucketed_join) write through the catalog;
        # keep the warehouse out of the repo/cwd.
        .config("spark.sql.warehouse.dir", os.path.join(
            os.environ.get("TMPDIR", "/tmp"), "dgds_warehouse"))
    )
    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    return spark


# Conf key: when set to a directory (HDFS/S3/local path), superstep loops use
# RELIABLE checkpoints there instead of executor-local ones.
CHECKPOINT_DIR_CONF = "spark.graft.checkpointDir"


def barrier(df: DataFrame, eager: bool = True) -> DataFrame:
    """Lineage-truncation barrier for superstep loops (BFS/SSSP/CC/PageRank/
    k-core/LPA/dedup-clustering).

    Default is ``localCheckpoint`` — executor-local blocks, no distributed
    filesystem needed, the right call on local[N] and for short loops. On a
    real cluster a long-running loop must survive executor loss, so setting
    ``spark.graft.checkpointDir`` (HDFS/S3 path) flips every barrier to a
    reliable ``checkpoint()`` under that directory; results are identical,
    only the storage tier changes. The conf is read on every call (a
    sub-millisecond lookup next to the checkpoint itself), so a flip takes
    effect at the next barrier. The SparkContext checkpoint dir is set
    lazily on first use so merely importing the package never touches
    storage.
    """
    directory = df.sparkSession.conf.get(CHECKPOINT_DIR_CONF, None)
    if not directory:
        return df.localCheckpoint(eager=eager)
    sc = df.sparkSession.sparkContext
    # setCheckpointDir materializes a UUID subdir (scheme-prefixed), so the
    # round-trip value never equals the conf — remember what we set instead.
    if getattr(sc, "_graft_checkpoint_dir", None) != directory:
        sc.setCheckpointDir(directory)
        sc._graft_checkpoint_dir = directory
    return df.checkpoint(eager=eager)


def barrier_observed(df: DataFrame, metrics: list):
    """Eager :func:`barrier` that also evaluates aggregate ``metrics`` over
    the SAME materialization pass (r16, guide §1 job count).

    The superstep loops' termination tests used the lazy-checkpoint+count
    idiom: ``barrier(df, eager=False)`` followed by ``df.count()``. That
    still costs the count's own query on top of the checkpoint
    materialization — with AQE, two extra jobs per superstep (the count's
    partial-agg stage and its single-partition final). Riding the metrics
    on the checkpoint action as a ``CollectMetrics`` observation removes
    those jobs outright: one action per superstep computes the new state
    AND its convergence statistic. Observation values are exact (computed
    once per successfully committed task, the accumulator contract
    ``observe`` is documented under), and both barrier tiers —
    ``localCheckpoint`` and the reliable ``checkpoint`` under
    ``spark.graft.checkpointDir`` — run the observed plan as one action.

    ``metrics``: aliased aggregate Columns (e.g. ``F.count_if(...)
    .alias("n_changed")``). Returns ``(checkpointed df, metrics dict)``.
    """
    from pyspark.sql import Observation

    obs = Observation()
    out = barrier(df.observe(obs, *metrics), eager=True)
    return out, obs.get
