"""Streaming corpus ingestion with continuous near-dup detection.

The batch-side signature store (``dedup.write_signature_store`` /
``dedup_against_store``) made incremental dedup a two-step API; this module
closes the loop for a CONTINUOUS pipeline: a ``foreachBatch`` sink that, per
micro-batch of documents,

1. finds near-dup pairs touching the batch (vs the store AND within the
   batch) with the LSH + exact-verification pair-finder,
2. writes those pairs to a parquet results table, and
3. appends the batch's banding state (bands + shingles) to the store so the
   NEXT batch dedups against it —

without ever re-hashing the historical corpus (the store is read, not
recomputed; cost per batch is batch-size + candidate-proportional).

Idempotence under micro-batch replay: Structured Streaming re-runs a batch
after a failure with the SAME ``batch_id``, so every write here is
``partitionBy(batch_id)`` + dynamic partition overwrite — a replayed batch
overwrites exactly its own partitions (the standard idempotent-foreachBatch
pattern), never duplicating store rows or pair rows.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F


def _write_partition(df: DataFrame, batch_id: int, path: str) -> None:
    # Per-write dynamic overwrite (not a session conf set — that would
    # silently change overwrite semantics of unrelated partitioned writes
    # later in the shared session).
    (
        df.withColumn("batch_id", F.lit(int(batch_id)))
        .write.mode("overwrite")
        .option("partitionOverwriteMode", "dynamic")
        .partitionBy("batch_id")
        .parquet(path)
    )


# Bucket count for the dedup store's band/shingle tables. Env-overridable
# (SPARK_GRAFT_STORE_BUCKETS) because it is a scale dial: at 100 TB the
# same layout runs with thousands of buckets — the contract (one-sided
# exchange per micro-batch) is bucket-count-independent. Local default 32
# (r15 interleaved A/B at sf0.1: 8 vs 16 vs 32 indistinguishable within
# host noise, so the long-standing default stands).
DEDUP_STORE_BUCKETS = int(os.environ.get("SPARK_GRAFT_STORE_BUCKETS", "32"))


def _store_tag(store_path: str) -> str:
    import hashlib

    return hashlib.md5(os.path.abspath(store_path).encode()).hexdigest()[:10]


def _ensure_bucketed_tables(
    spark: SparkSession, specs: tuple[tuple[str, str, str, str], ...], n_buckets: int
) -> None:
    """Register (or recover) bucketed datasource tables over external
    parquet locations. ``specs``: (table_name, location, column_ddl,
    cluster_cols). Shared by the dedup and linkage ingest stores."""
    for name, loc, cols, cluster in specs:
        existed = os.path.isdir(loc)
        if not spark.catalog.tableExists(name):
            # CLUSTERED BY only — no SORTED BY: with one file per bucket
            # per batch partition, a multi-batch bucket is multi-file and
            # Spark re-sorts for SMJ regardless, so the write-side sort
            # would be pure cost.
            spark.sql(
                f"CREATE TABLE {name} ({cols}, batch_id INT) USING PARQUET "
                f"PARTITIONED BY (batch_id) "
                f"CLUSTERED BY ({cluster}) "
                f"INTO {n_buckets} BUCKETS "
                f"LOCATION '{loc}'"
            )
            if existed:  # fresh session over a pre-existing store
                spark.sql(f"MSCK REPAIR TABLE {name}")


def _ensure_store_tables(
    spark: SparkSession, store_path: str, n_buckets: int
) -> tuple[str, str]:
    """Register (or recover) the bucketed band/shingle store tables.

    The store is laid out as BUCKETED datasource tables (r14 verdict #4):
    bands clustered by the candidate-join key (band_id, band_hash) and
    shingles by doc_id, both partitioned by batch_id for idempotent
    replay. Bucketing is what stops the per-micro-batch candidate join
    from re-shuffling the ever-growing history side: the bucketed scan
    reports its hash partitioning to Catalyst, so EnsureRequirements
    shuffles ONLY the new batch (pinned in tests/test_plans.py). Data
    lives at ``{store_path}/bands`` / ``{store_path}/shingles`` as plain
    parquet — path readers (tests, compaction census) keep working; a
    fresh session re-registers the table on the existing files and
    recovers partitions.
    """
    tag = _store_tag(store_path)
    bands_tbl, sh_tbl = f"dgds_bands_{tag}", f"dgds_shingles_{tag}"
    specs = (
        (
            bands_tbl,
            f"{store_path}/bands",
            "doc_id BIGINT, band_id INT, band_hash BIGINT",
            "band_id, band_hash",
        ),
        (
            sh_tbl,
            f"{store_path}/shingles",
            "doc_id BIGINT, shingles ARRAY<STRING>",
            "doc_id",
        ),
    )
    _ensure_bucketed_tables(spark, specs, n_buckets)
    return bands_tbl, sh_tbl


# Serializes the session-conf dance of replay-path bucketed writes: the
# dynamic-overwrite mode is a SESSION conf read at write planning time
# (insertInto ignores the per-write writer option — verified on 4.1), so
# two concurrent replay writes must not interleave set/write/restore.
import threading

_REPLAY_WRITE_LOCK = threading.Lock()


def _insert_partition(
    df: DataFrame,
    batch_id: int,
    table: str,
    loc: str,
    bucket_cols: list[str],
    n_buckets: int,
) -> None:
    """Idempotent bucketed write: dynamic-overwrite exactly this batch's
    partition of a bucketed store table (insertInto is positional — the
    caller's column order must match the table, partition column last).

    The pre-repartition on the bucket key aligns writer tasks with bucket
    ids (repartition's HashPartitioning and the bucket-id function are the
    same pmod(murmur3) — each task holds exactly one bucket), so the write
    emits n_buckets files per batch instead of tasks x buckets.

    First write of a batch takes the plain-append path; only an actual
    REPLAY (the batch's partition directory already exists) pays the
    dynamic-overwrite staging machinery — same idempotence contract,
    no per-batch overwrite tax on the common path.
    """
    spark = df.sparkSession
    out = (
        df.repartition(n_buckets, *bucket_cols)
        .withColumn("batch_id", F.lit(int(batch_id)).cast("int"))
    )
    part_dir = f"{loc}/batch_id={int(batch_id)}"
    if not os.path.isdir(part_dir):
        out.write.mode("append").insertInto(table)
        return
    with _REPLAY_WRITE_LOCK:
        prev = spark.conf.get("spark.sql.sources.partitionOverwriteMode", "static")
        spark.conf.set("spark.sql.sources.partitionOverwriteMode", "dynamic")
        try:
            out.write.mode("overwrite").insertInto(table)
        finally:
            spark.conf.set("spark.sql.sources.partitionOverwriteMode", prev)


def _run_overlapped(*writes) -> None:
    """Run independent store writes concurrently (guide §2.6: actions are
    only sequential because the driver calls them sequentially). The two
    per-batch store inserts touch DIFFERENT tables and read already-
    persisted frames, so overlapping them back-fills the executor slots
    one write's task tail leaves idle and halves the per-batch write
    floor. Failures propagate (the batch fails like the sequential code)."""
    from concurrent.futures import ThreadPoolExecutor

    with ThreadPoolExecutor(max_workers=len(writes)) as pool:
        futures = [pool.submit(w) for w in writes]
        for f in futures:
            f.result()


def _has_other_batches(spark: SparkSession, loc: str, batch_id: int) -> bool:
    """True iff the store location holds any batch partition OTHER than this
    batch's own (scheme-aware — the keyed-store lesson: os.path checks are
    driver-local-FS only). False means the store side of a micro-batch is
    EMPTY by construction (first batch, or a batch-0 replay), so the
    ingester can skip the store-side joins outright — the plans it compiles
    and runs on the cold first batch shrink to the within-batch shapes."""
    jvm = spark._jvm
    hpath = jvm.org.apache.hadoop.fs.Path(loc)
    fs = hpath.getFileSystem(spark._jsc.hadoopConfiguration())
    if not fs.exists(hpath):
        return False
    own = f"batch_id={int(batch_id)}"
    for st in fs.listStatus(hpath):
        name = st.getPath().getName()
        if name.startswith("batch_id=") and name != own:
            return True
    return False


def dedup_ingest_batch(
    spark: SparkSession,
    batch: DataFrame,
    batch_id: int,
    store_path: str,
    pairs_path: str,
    n_buckets: int = DEDUP_STORE_BUCKETS,
) -> None:
    """Process one micro-batch: emit pairs, then extend the store.

    Pure function of (batch, batch_id, store state) — called by the
    foreachBatch sink below and directly unit-testable without a stream.
    The store history sides are read through their bucketed tables, so
    the candidate join and the shingle-verification join shuffle only
    batch-proportional data regardless of how much history the store
    holds (r14 verdict #4; SCALE.md incremental probe).
    """
    from pyspark.storagelevel import StorageLevel

    from ..operators.dedup import (
        _bands,
        _minhash_sigs,
        _shingled,
        dedup_against_frames,
    )

    bands_tbl, sh_tbl = _ensure_store_tables(spark, store_path, n_buckets)
    # One scan→split→ngram pass per batch: the shingle table feeds the
    # pair-finder AND both store writes (r10 — previously the pipeline ran
    # twice per ingest call). MEMORY_AND_DISK: spill, never recompute.
    sh = _shingled(batch).persist(StorageLevel.MEMORY_AND_DISK)
    # The banding table is ALSO consumed twice (pair-finder + store write):
    # persist it so the minhash signature kernel feeding it runs once per
    # batch, not once per consumer (persisting sh alone would not).
    bands = _bands(_minhash_sigs(sh)).persist(StorageLevel.MEMORY_AND_DISK)
    # Exclude this batch's OWN partition from the store side: on a
    # replayed micro-batch the store already holds the batch's bands,
    # and reading them back would emit self-pairs and duplicate the
    # batch-internal pairs — replay must reproduce the original output.
    # (Partition pruning keeps the exclusion filter metadata-only.)
    # Empty-store fast path (r16): when no OTHER batch partition exists
    # (first batch / batch-0 replay) the store side is empty by
    # construction — skip its scans and joins outright instead of joining
    # empty frames (identical result, and the COLD first batch compiles
    # only the within-batch plan).
    if _has_other_batches(spark, f"{store_path}/bands", batch_id):
        bands_old = (
            spark.table(bands_tbl)
            .where(F.col("batch_id") != int(batch_id))
            .select("doc_id", "band_id", "band_hash")
        )
        sh_old = (
            spark.table(sh_tbl)
            .where(F.col("batch_id") != int(batch_id))
            .select("doc_id", "shingles")
        )
    else:
        bands_old, sh_old = None, None
    pairs = dedup_against_frames(batch, bands_old, sh_old, sh_new=sh, bands_new=bands)
    # Pairs first, store second: if the job dies between the two writes the
    # replay overwrites the same pair partition and re-extends the store —
    # both idempotent per batch_id. (Store-first would also be safe, but
    # pairs-first means a reader never sees store state whose pairs are
    # missing once the batch commits.) The two store inserts are mutually
    # independent (different tables, both reading frames the pairs write
    # already materialized into the persist) and run overlapped (§2.6).
    _write_partition(pairs, batch_id, pairs_path)
    _run_overlapped(
        lambda: _insert_partition(
            bands.select("doc_id", "band_id", "band_hash"),
            batch_id, bands_tbl, f"{store_path}/bands",
            ["band_id", "band_hash"], n_buckets,
        ),
        lambda: _insert_partition(
            sh.select("doc_id", "shingles"),
            batch_id, sh_tbl, f"{store_path}/shingles", ["doc_id"], n_buckets,
        ),
    )
    bands.unpersist()
    sh.unpersist()


def stream_dedup_ingest(
    spark: SparkSession,
    stream: DataFrame,
    store_path: str,
    pairs_path: str,
    checkpoint_path: str,
):
    """Attach the continuous-dedup sink to a streaming documents frame.

    ``stream`` must carry (doc_id, text). Returns the started
    StreamingQuery (caller awaits / stops). With ``availableNow`` triggers
    this doubles as a catch-up batch ingester over a directory of parquet
    drops.
    """

    def sink(batch: DataFrame, batch_id: int) -> None:
        dedup_ingest_batch(spark, batch, batch_id, store_path, pairs_path)

    return (
        stream.writeStream.foreachBatch(sink)
        .option("checkpointLocation", checkpoint_path)
        .trigger(availableNow=True)
        .start()
    )


def stream_sketch_ingest(
    spark: SparkSession,
    stream: DataFrame,
    key_col: str,
    value_col: str,
    group_col: str,
    store_path: str,
    checkpoint_path: str,
):
    """Continuous sketch-store ingestion: per micro-batch, write the
    batch's per-group HLL (distinct over ``key_col``) AND KLL (quantiles
    over ``value_col``) sketches into the mergeable stores under
    ``store_path`` — the streaming face of ``pipeline.write_*_sketch``.
    Reports over the stores (``read_distinct_estimates`` /
    ``read_quantile_estimates``) then never touch raw history: each batch
    contributes KB-scale mergeable state instead of raw keys.

    Micro-batch replay safety comes from the store contract itself: the
    writers partition by the streaming ``batch_id`` with dynamic overwrite,
    so a replayed batch replaces exactly its own partition. Returns the
    started StreamingQuery (availableNow trigger — doubles as a catch-up
    ingester over parquet drops).
    """
    from ..operators.pipeline import write_distinct_sketch, write_quantile_sketch

    def sink(batch: DataFrame, batch_id: int) -> None:
        if batch.isEmpty():
            return
        write_distinct_sketch(
            batch, key_col, group_col, f"{store_path}/hll", int(batch_id)
        )
        write_quantile_sketch(
            batch, value_col, group_col, f"{store_path}/kll", int(batch_id)
        )

    return (
        stream.writeStream.foreachBatch(sink)
        .option("checkpointLocation", checkpoint_path)
        .trigger(availableNow=True)
        .start()
    )


def user_state_ingest_batch(
    spark: SparkSession, batch: DataFrame, batch_id: int, store_path: str
) -> None:
    """Process one micro-batch of events into the keyed state store: the
    CDC-style continuously-maintained materialized view (latest event_type
    / value / timestamp per user) a serving layer reads instead of
    replaying raw history.

    Per batch: collapse to one row per user (max event-time, event_id
    tie-break — deterministic), then MERGE into a
    :class:`~..sources.keyed_store.KeyedParquetStore` with
    ``only_if_newer=True``, versioned by event time. Replay safety is
    BY VALUE, not by batch_id bookkeeping: re-applying any batch — even a
    stale one after newer data landed — resolves max-version-wins against
    the stored rows and converges to the same state. Cost per batch is
    proportional to the touched bucket partitions, never the table.
    """
    from pyspark.sql import functions as F  # noqa: F811 — local for clarity

    from ..sources.keyed_store import KeyedParquetStore

    if batch.isEmpty():
        return
    latest = (
        batch.select(
            "user_id",
            F.struct(
                # cast first: the raw testdata stream carries TIMESTAMP_NTZ
                # and unix_micros requires TIMESTAMP (the r03 loader lesson —
                # an ingester must be total over the physical ts shapes)
                F.unix_micros(F.col("ts").cast("timestamp")).alias("ts_us"),
                F.col("event_id").alias("event_id"),
                F.col("event_type").alias("event_type"),
                F.col("value").cast("double").alias("value"),
            ).alias("ev"),
        )
        .groupBy("user_id")
        .agg(F.max("ev").alias("ev"))
        .select(
            "user_id",
            F.col("ev.ts_us").alias("ts_us"),
            F.col("ev.event_id").alias("last_event_id"),
            F.col("ev.event_type").alias("last_event_type"),
            F.col("ev.value").alias("last_value"),
        )
    )
    store = KeyedParquetStore(
        spark, store_path, "user_id", n_buckets=64, version_col="ts_us"
    )
    store.upsert(latest, only_if_newer=True)


def stream_user_state_ingest(
    spark: SparkSession,
    stream: DataFrame,
    store_path: str,
    checkpoint_path: str,
):
    """Attach the keyed-state MERGE sink to a streaming events frame.

    ``stream`` must carry (event_id, ts, user_id, event_type, value).
    Returns the started StreamingQuery (availableNow trigger — doubles as
    a catch-up ingester over parquet drops).
    """

    def sink(batch: DataFrame, batch_id: int) -> None:
        user_state_ingest_batch(spark, batch, int(batch_id), store_path)

    return (
        stream.writeStream.foreachBatch(sink)
        .option("checkpointLocation", checkpoint_path)
        .trigger(availableNow=True)
        .start()
    )


def stream_sketch_ingest_entry(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Driver entry for the continuous sketch-store ingestion path (r09
    verdict #4): run :func:`stream_sketch_ingest` over the bounded events
    stream (availableNow — the same catch-up shape a production backfill
    runs), then report over the stores it wrote and emit per event_type:

    - ``n`` — the KLL sketch's merged row count, which KLL tracks EXACTLY
      even though values are compacted; value-matched against the oracle's
      COUNT(*), certifying that the foreachBatch sink saw every row
      exactly once.
    - ``hll_within_10pct`` — the HLL store's distinct-user estimate vs the
      exact count (computed Spark-side), envelope flag.
    - ``kll_median_in_envelope`` — the KLL q=0.5 estimate lies between the
      exact 0.40 and 0.60 quantiles (k=200 worst-case rank error is 1.65%,
      so +-10 percentile points is a loose, stable pin).

    The oracle emits TRUE for both flags. Stores + checkpoint live in a
    per-call temp dir, removed after materialization.
    """
    import shutil
    import tempfile

    from ..operators.pipeline import (
        read_distinct_estimates,
        read_quantile_estimates,
    )
    from ..sources.tables import load_table
    from .windowed import _events_stream

    base = tempfile.mkdtemp(prefix="dgds_sketch_ingest_")
    q = stream_sketch_ingest(
        spark,
        _events_stream(spark, sf_dir),
        key_col="user_id",
        value_col="value",
        group_col="event_type",
        store_path=f"{base}/store",
        checkpoint_path=f"{base}/ck",
    )
    q.awaitTermination()
    hll = read_distinct_estimates(spark, f"{base}/store/hll")
    kll = read_quantile_estimates(spark, f"{base}/store/kll", [0.5])
    exact = (
        load_table(spark, sf_dir, "events")
        .groupBy(F.col("event_type").alias("group_key"))
        .agg(
            F.count_distinct("user_id").alias("nd_exact"),
            F.expr("percentile(value, 0.40)").alias("p40"),
            F.expr("percentile(value, 0.60)").alias("p60"),
        )
    )
    out = (
        kll.join(hll, "group_key")
        .join(exact, "group_key")
        .select(
            "group_key",
            F.col("n").cast("bigint").alias("n"),
            (
                F.abs(F.col("n_distinct_estimate") - F.col("nd_exact"))
                <= F.lit(0.1) * F.col("nd_exact")
            ).alias("hll_within_10pct"),
            (
                (F.col("q_0_5") >= F.col("p40")) & (F.col("q_0_5") <= F.col("p60"))
            ).alias("kll_median_in_envelope"),
        )
        .localCheckpoint(eager=True)
    )
    shutil.rmtree(base, ignore_errors=True)
    return out


STREAM_SKETCH_INGEST_SQL = """
SELECT event_type AS group_key,
       COUNT(*) AS n,
       TRUE AS hll_within_10pct,
       TRUE AS kll_median_in_envelope
FROM events GROUP BY event_type
"""


def stream_dedup_ingest_entry(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Driver entry for the continuous-dedup ingestion path (r09 verdict
    #4): two micro-batches (doc_id parity) through
    :func:`dedup_ingest_batch` — batch 0 cold (no store), batch 1 against
    the store batch 0 wrote — then batch 1 REPLAYED (same batch_id, the
    crash-recovery path: it must overwrite its own partitions, not extend
    them). The union of emitted pair partitions is then exactly

        pairs within batch0  +  pairs within batch1  +  cross-batch pairs
        = ALL near-dup pairs of the corpus,

    so the entry shares the exhaustive ngram-Jaccard oracle — and a replay
    bug (duplicated pairs or store rows) doubles rows and hash-mismatches.
    """
    import shutil
    import tempfile

    from ..operators.dedup import _docs

    docs = _docs(spark, sf_dir)
    base = tempfile.mkdtemp(prefix="dgds_dedup_ingest_")
    store, pairs_path = f"{base}/store", f"{base}/pairs"
    b0 = docs.where(F.col("doc_id") % 2 == 0)
    b1 = docs.where(F.col("doc_id") % 2 == 1)
    dedup_ingest_batch(spark, b0, 0, store, pairs_path)
    dedup_ingest_batch(spark, b1, 1, store, pairs_path)
    dedup_ingest_batch(spark, b1, 1, store, pairs_path)  # replay
    out = (
        spark.read.parquet(pairs_path)
        .select(
            F.least("doc_a", "doc_b").alias("doc_a"),
            F.greatest("doc_a", "doc_b").alias("doc_b"),
            "jaccard",
        )
        .localCheckpoint(eager=True)
    )
    shutil.rmtree(base, ignore_errors=True)
    tag = _store_tag(store)
    spark.sql(f"DROP TABLE IF EXISTS dgds_bands_{tag}")
    spark.sql(f"DROP TABLE IF EXISTS dgds_shingles_{tag}")
    return out


def stream_user_state_ingest_entry(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Driver entry for the CDC keyed-state ingestion path (the
    continuously-maintained latest-event-per-user materialized view): run
    :func:`stream_user_state_ingest` over the bounded events stream
    (availableNow), then STRESS the by-value replay contract by re-applying
    the WHOLE table as a late batch — max-version-wins resolution must
    leave the converged state unchanged — and return the store contents.

    Exact oracle: latest event per user by (event-time, event_id) —
    value-matched column for column, so a replay bug (duplicate user rows,
    stale-version overwrite) or a MERGE bug (lost bucket, wrong tie-break)
    hash-mismatches. Store + checkpoint live in a per-call temp dir.
    """
    import shutil
    import tempfile

    from ..sources.keyed_store import KeyedParquetStore
    from ..sources.tables import load_table
    from .windowed import _events_stream

    base = tempfile.mkdtemp(prefix="dgds_user_state_")
    store_path = f"{base}/store"
    q = stream_user_state_ingest(
        spark, _events_stream(spark, sf_dir), store_path, f"{base}/ck"
    )
    q.awaitTermination()
    # by-value replay: the full table again, as a "stale" late batch
    user_state_ingest_batch(spark, load_table(spark, sf_dir, "events"), 99, store_path)
    store = KeyedParquetStore(
        spark, store_path, "user_id", n_buckets=64, version_col="ts_us"
    )
    out = store.read().select(
        "user_id", "ts_us", "last_event_id", "last_event_type", "last_value"
    ).localCheckpoint(eager=True)
    shutil.rmtree(base, ignore_errors=True)
    return out


STREAM_USER_STATE_INGEST_SQL = """
WITH ranked AS (
  SELECT user_id, epoch_us(ts) AS ts_us, event_id, event_type,
         CAST(value AS DOUBLE) AS v,
         ROW_NUMBER() OVER (PARTITION BY user_id
                            ORDER BY epoch_us(ts) DESC, event_id DESC) AS rn
  FROM events
)
SELECT user_id, ts_us, event_id AS last_event_id,
       event_type AS last_event_type, v AS last_value
FROM ranked WHERE rn = 1
"""


def stream_cms_ingest(
    spark: SparkSession,
    stream: DataFrame,
    key_col: str,
    store_path: str,
    checkpoint_path: str,
    payload_archive_path: str | None = None,
):
    """Continuous frequency-sketch ingestion: per micro-batch, write the
    batch's count-min sketch into the mergeable store under ``store_path``
    — the streaming face of ``pipeline.write_cms_sketch`` and the frequency
    sibling of :func:`stream_sketch_ingest` (HLL/KLL). Vocabulary /
    heavy-hitter tracking over an unbounded stream keeps O(depth*width)
    counters per batch instead of raw keys; reports merge the store and
    never re-read history. Replay safety is the store contract: per-batch
    dynamic partition overwrite, so a replayed batch replaces exactly its
    own counters (CMS merge is linear, so an appended duplicate would
    double mass — the entry's flags catch exactly that). Returns the
    started StreamingQuery (availableNow trigger).

    ``payload_archive_path``, when set, lands each batch's RAW keyed rows
    as a batch_id-partitioned parquet archive next to the sketch — the
    lambda-architecture companion (sketch serves, archive rebuilds) and
    the ground truth a replay test needs: "replay batch 0" must mean the
    rows batch 0 ACTUALLY carried, not whatever the caller assumes the
    batch split was (r11 ADVICE — availableNow may split a multi-file
    source into several batches)."""
    from ..operators.pipeline import write_cms_sketch

    def sink(batch: DataFrame, batch_id: int) -> None:
        if batch.isEmpty():
            return
        if payload_archive_path is not None:
            (
                batch.withColumn("batch_id", F.lit(int(batch_id)))
                .write.mode("overwrite")
                .option("partitionOverwriteMode", "dynamic")
                .partitionBy("batch_id")
                .parquet(payload_archive_path)
            )
        write_cms_sketch(batch, key_col, store_path, int(batch_id))

    return (
        stream.writeStream.foreachBatch(sink)
        .option("checkpointLocation", checkpoint_path)
        .trigger(availableNow=True)
        .start()
    )


def stream_cms_ingest_entry(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Driver entry for the streaming CMS store: tokenize a bounded
    documents stream to struct (lang, token) keys, run
    :func:`stream_cms_ingest` over it (availableNow — the catch-up
    backfill shape), then STRESS the replay contract by re-writing batch
    0 from the sink's payload archive (the crash-recovery path: the
    replayed batch must overwrite its own partition, not extend it), and
    report every distinct key against the merged store:

    - ``n`` — the exact per-key count (oracle value-matched),
    - ``cms_ge_exact`` — the CMS one-sided guarantee; FALSE means counter
      mass was lost (dropped partition, broken merge),
    - ``cms_within_eps`` — est - exact <= ceil(3*N/width), the e/width
      estimator envelope (measured worst actual slack ~0.0185*N, 2.5x
      margin),
    - ``mass_conserved`` — the EXACT linearity invariant: every depth
      row's counters sum to N precisely. If the batch-0 replay APPENDS
      instead of overwriting, mass doubles and this flips FALSE on every
      row (fault-injected in tests/test_cms.py); a dropped partition
      flips it the other way.

    The oracle pins all three flags TRUE. Store + checkpoint live in a
    per-call temp dir, removed after materialization."""
    import shutil
    import tempfile

    from ..operators.pipeline import (
        CMS_WIDTH,
        cms_point_estimates,
        read_cms_store,
        write_cms_sketch,
    )

    path = os.path.join(sf_dir, "documents.parquet")
    schema = spark.read.parquet(path).schema
    if os.path.isdir(path):
        docs_stream = spark.readStream.schema(schema).parquet(path)
    else:
        docs_stream = (
            spark.readStream.schema(schema)
            .option("pathGlobFilter", "documents.parquet")
            .parquet(sf_dir)
        )

    def keyed(df: DataFrame) -> DataFrame:
        # Struct key, not concat_ws('|'): tokens containing the separator
        # would decode truncated and diverge from the oracle (r11 ADVICE).
        return (
            df.select(
                "lang",
                F.explode(F.split(F.lower(F.col("text")), r"\s+")).alias("tok"),
            )
            .filter(F.col("tok") != "")
            .select(F.struct("lang", "tok").alias("key"))
        )

    base = tempfile.mkdtemp(prefix="dgds_cms_ingest_")
    q = stream_cms_ingest(
        spark,
        keyed(docs_stream),
        "key",
        f"{base}/store",
        f"{base}/ck",
        payload_archive_path=f"{base}/payload",
    )
    q.awaitTermination()
    # Replay stress: batch 0 again, same batch_id — dynamic overwrite must
    # replace its partition, leaving merged counter mass unchanged. The
    # replayed payload is what batch 0 ACTUALLY contained (read back from
    # the sink's archive), not the full corpus — availableNow is free to
    # split a multi-file source into several batches, and assuming
    # one-batch-equals-corpus would double-count every later batch's mass
    # on replay (r11 ADVICE).
    from ..sources.tables import load_table

    toks = keyed(load_table(spark, sf_dir, "documents"))
    batch0 = (
        spark.read.parquet(f"{base}/payload")
        .where(F.col("batch_id") == 0)
        .select("key")
    )
    write_cms_sketch(batch0, "key", f"{base}/store", 0)
    sketch = read_cms_store(spark, f"{base}/store")
    exact = toks.groupBy("key").agg(F.count("*").cast("bigint").alias("n"))
    total = toks.agg(F.count("*").cast("bigint").alias("n_total"))
    est = cms_point_estimates(sketch, exact.select("key"), "key")
    mass_ok = (
        sketch.groupBy("j")
        .agg(F.sum("cnt").cast("bigint").alias("mass"))
        .crossJoin(F.broadcast(total))
        .agg(F.every(F.col("mass") == F.col("n_total")).alias("mass_conserved"))
    )
    out = (
        exact.join(est, "key")
        .crossJoin(F.broadcast(total))
        .crossJoin(F.broadcast(mass_ok))
        .select(
            F.col("key.lang").alias("lang"),
            F.col("key.tok").alias("tok"),
            "n",
            (F.col("cms_est") >= F.col("n")).alias("cms_ge_exact"),
            (
                F.col("cms_est") - F.col("n")
                <= F.ceil(F.lit(3) * F.col("n_total") / F.lit(CMS_WIDTH))
            ).alias("cms_within_eps"),
            "mass_conserved",
        )
        .localCheckpoint(eager=True)
    )
    shutil.rmtree(base, ignore_errors=True)
    return out


STREAM_CMS_INGEST_SQL = """
WITH toks AS (
  SELECT lang, lower(t) AS tok
  FROM documents, UNNEST(regexp_split_to_array(text, '\\s+')) AS u(t)
  WHERE t <> ''
),
tot AS (SELECT COUNT(*) AS n_total FROM toks)
SELECT lang, tok, CAST(COUNT(*) AS BIGINT) AS n,
       TRUE AS cms_ge_exact, TRUE AS cms_within_eps,
       TRUE AS mass_conserved
FROM toks, tot GROUP BY 1, 2, n_total
"""


SCD2_BUCKETS = 32


def scd2_ingest_batch(
    spark: SparkSession, batch: DataFrame, store_path: str
) -> None:
    """Apply one micro-batch of events to an incrementally-maintained SCD2
    (type-2 slowly-changing-dimension) history store: every event becomes
    a version row and the PREVIOUS latest version of each touched user
    gets closed (``valid_to_us`` = the successor's event time) — the
    history-preserving CDC shape a warehouse dimension table needs, where
    the plain keyed store above keeps only the latest row.

    Incremental maintenance cost is bucket-proportional, never
    table-proportional: read ONLY the bucket partitions the batch touches,
    union in the new version rows, recompute ``valid_to_us`` with one
    lead() window over the touched users, and dynamically overwrite those
    buckets. Replay safety is BY VALUE: version identity is the natural
    key (user_id, ts_us, event_id) and the union dedups on it, so
    re-applying any batch rewrites identical bucket contents.
    """
    from pyspark.sql.window import Window

    if batch.isEmpty():
        return
    rows = batch.select(
        "user_id",
        F.unix_micros(F.col("ts").cast("timestamp")).alias("ts_us"),
        "event_id",
        F.col("value").cast("double").alias("value"),
    ).withColumn("bucket", F.pmod("user_id", F.lit(SCD2_BUCKETS)).cast("int"))
    touched = [int(r.bucket) for r in rows.select("bucket").distinct().collect()]
    import os as _os

    if _os.path.isdir(store_path):
        existing = (
            spark.read.parquet(store_path)
            .where(F.col("bucket").isin(touched))
            .select("user_id", "ts_us", "event_id", "value", "bucket")
        )
        merged = existing.unionByName(rows)
    else:
        merged = rows  # first batch: no store yet
    merged = merged.dropDuplicates(["user_id", "ts_us", "event_id"])
    w = Window.partitionBy("user_id").orderBy("ts_us", "event_id")
    out = merged.withColumn("valid_to_us", F.lead("ts_us").over(w))
    (
        out.write.mode("overwrite")
        .option("partitionOverwriteMode", "dynamic")
        .partitionBy("bucket")
        .parquet(store_path)
    )


def stream_scd2_ingest(
    spark: SparkSession,
    stream: DataFrame,
    store_path: str,
    checkpoint_path: str,
):
    """Attach the SCD2 history sink to a streaming events frame. Returns
    the started StreamingQuery (availableNow trigger)."""

    def sink(batch: DataFrame, batch_id: int) -> None:
        scd2_ingest_batch(spark, batch, store_path)

    return (
        stream.writeStream.foreachBatch(sink)
        .option("checkpointLocation", checkpoint_path)
        .trigger(availableNow=True)
        .start()
    )


def stream_scd2_ingest_entry(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Driver entry for incremental SCD2 history maintenance: run the
    bounded events stream through :func:`stream_scd2_ingest`, then apply
    one batch DIRECTLY AGAIN (event_id parity slice — the crash-recovery
    replay: by-value version identity must leave the history unchanged),
    and return the full version history.

    Exact oracle: the lead() window over ALL events — so a replay bug
    (duplicated version rows), a lost bucket, or a wrong close (valid_to
    pointing past an intervening version) hash-mismatches. This is the
    history-preserving sibling of ``stream_user_state_ingest``'s
    latest-row view; both maintain per-user state bucket-proportionally.
    """
    import shutil
    import tempfile

    from ..sources.tables import load_table
    from .windowed import _events_stream

    base = tempfile.mkdtemp(prefix="dgds_scd2_ingest_")
    store = f"{base}/store"
    q = stream_scd2_ingest(spark, _events_stream(spark, sf_dir), store, f"{base}/ck")
    q.awaitTermination()
    # Replay stress: re-apply the odd half as a late duplicate batch.
    ev = load_table(spark, sf_dir, "events")
    scd2_ingest_batch(spark, ev.where(F.col("event_id") % 2 == 1), store)
    out = (
        spark.read.parquet(store)
        .select("user_id", "ts_us", "event_id", "value", "valid_to_us")
        .localCheckpoint(eager=True)
    )
    shutil.rmtree(base, ignore_errors=True)
    return out


STREAM_SCD2_INGEST_SQL = """
SELECT user_id, epoch_us(ts) AS ts_us, event_id,
       CAST(value AS DOUBLE) AS value,
       LEAD(epoch_us(ts)) OVER (PARTITION BY user_id
                                ORDER BY epoch_us(ts), event_id) AS valid_to_us
FROM events
"""


def stream_token_count_ingest(
    spark: SparkSession,
    stream: DataFrame,
    store_path: str,
    checkpoint_path: str,
    payload_archive_path: str | None = None,
):
    """Continuous token accounting: per micro-batch, BPE-tokenize the
    batch through the Arrow kernel (``text_analysis.bpe_encode_df``) and
    write its per-language (n_docs, n_tokens) PARTIAL to the
    batch_id-partitioned store — the bookkeeping a streaming training-data
    pipeline runs so budget/mixture decisions read a tiny store instead
    of re-tokenizing history. Token counts are linear, so the merged
    store equals the one-shot count exactly; replay safety is the store
    contract (dynamic partition overwrite — a replayed batch replaces its
    own partial). ``payload_archive_path`` as in :func:`stream_cms_ingest`.
    Returns the started StreamingQuery (availableNow trigger)."""
    from ..operators.text_analysis import bpe_encode_df

    def sink(batch: DataFrame, batch_id: int) -> None:
        if batch.isEmpty():
            return
        if payload_archive_path is not None:
            _write_partition(
                batch.select("doc_id", "lang", "text"),
                batch_id,
                payload_archive_path,
            )
        counts = (
            batch.select("doc_id", "lang")
            .join(bpe_encode_df(batch).select("doc_id", "n_bpe"), "doc_id")
            .groupBy("lang")
            .agg(
                F.count("*").cast("bigint").alias("n_docs"),
                F.sum("n_bpe").cast("bigint").alias("n_tokens"),
            )
        )
        _write_partition(counts, batch_id, store_path)

    return (
        stream.writeStream.foreachBatch(sink)
        .option("checkpointLocation", checkpoint_path)
        .trigger(availableNow=True)
        .start()
    )


def stream_token_count_ingest_entry(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Driver entry for the streaming token-count store: ingest a bounded
    documents stream (availableNow backfill), STRESS the replay contract
    by recomputing and re-writing batch 0's partial from the sink's
    payload archive (must overwrite, not extend), and report the merged
    per-language totals. The oracle computes the same totals directly
    with the generated golden-table BPE encoding — token counts are
    linear, so store-merge == one-shot is the certified claim, and an
    append-on-replay would double batch 0's mass and hash-mismatch."""
    import shutil
    import tempfile

    from ..operators.text_analysis import bpe_encode_df

    path = os.path.join(sf_dir, "documents.parquet")
    schema = spark.read.parquet(path).schema
    if os.path.isdir(path):
        docs_stream = spark.readStream.schema(schema).parquet(path)
    else:
        docs_stream = (
            spark.readStream.schema(schema)
            .option("pathGlobFilter", "documents.parquet")
            .parquet(sf_dir)
        )

    base = tempfile.mkdtemp(prefix="dgds_tokcount_ingest_")
    q = stream_token_count_ingest(
        spark,
        docs_stream,
        f"{base}/store",
        f"{base}/ck",
        payload_archive_path=f"{base}/payload",
    )
    q.awaitTermination()
    # Replay stress: batch 0's partial, recomputed from its archived
    # payload and re-written under the same batch_id.
    batch0 = (
        spark.read.parquet(f"{base}/payload")
        .where(F.col("batch_id") == 0)
        .select("doc_id", "lang", "text")
    )
    replay_counts = (
        batch0.select("doc_id", "lang")
        .join(bpe_encode_df(batch0).select("doc_id", "n_bpe"), "doc_id")
        .groupBy("lang")
        .agg(
            F.count("*").cast("bigint").alias("n_docs"),
            F.sum("n_bpe").cast("bigint").alias("n_tokens"),
        )
    )
    _write_partition(replay_counts, 0, f"{base}/store")
    out = (
        spark.read.parquet(f"{base}/store")
        .groupBy("lang")
        .agg(
            F.sum("n_docs").cast("bigint").alias("n_docs"),
            F.sum("n_tokens").cast("bigint").alias("n_tokens"),
        )
        .localCheckpoint(eager=True)
    )
    shutil.rmtree(base, ignore_errors=True)
    return out


def _token_count_ingest_sql() -> str:
    from ..functions.bpe import SEP, bpe_enc_ctes

    return f"""
WITH {bpe_enc_ctes(cols="lang")}
SELECT lang,
       CAST(COUNT(*) AS BIGINT) AS n_docs,
       CAST(SUM(CASE WHEN norm = '' THEN 0
                ELSE length(s) - length(replace(s, '{SEP}', '')) END)
            AS BIGINT) AS n_tokens
FROM enc GROUP BY lang
"""


STREAM_TOKEN_COUNT_INGEST_SQL = _token_count_ingest_sql()


# Per-row content checksum: 60-bit md5 prefix folded mod a prime so
# per-source SUMs stay far from int64 range at any corpus size the gate
# ships (1e6 * 1e6 < 2^63 with 1e12 headroom). Same conv()/'0x' hex
# convention as text_analysis.hashed_features_df.
CRAWL_CSUM_MOD = 1_000_003


def _doc_digest(batch: DataFrame) -> DataFrame:
    csum = F.pmod(
        F.conv(F.substring(F.md5("text"), 1, 15), 16, 10).cast("long"),
        F.lit(CRAWL_CSUM_MOD),
    )
    return batch.select(
        "doc_id",
        "source",
        F.length("text").cast("bigint").alias("len"),
        csum.cast("bigint").alias("csum"),
    )


def crawl_ingest_batch(spark: SparkSession, batch: DataFrame, store_path: str) -> None:
    """MERGE one micro-batch of crawled documents into the digest store:
    one (source, len, csum) row per doc_id, bucket-partitioned by the
    keyed store so each batch rewrites only the buckets it touches. The
    store holds digests, never text — the content-addressed shape a
    100 TB crawl index needs (the text lives in the lake; the store
    answers "do I have this doc, and has it changed" in one pruned read).
    Replay safety is by value: an upsert carrying identical digest rows
    rewrites identical bucket contents."""
    from ..sources.keyed_store import KeyedParquetStore

    if batch.isEmpty():
        return
    store = KeyedParquetStore(spark, store_path, "doc_id", n_buckets=64)
    store.upsert(_doc_digest(batch))


def crawl_apply_delta(
    spark: SparkSession,
    upserts: DataFrame,
    delete_ids: DataFrame,
    store_path: str,
) -> None:
    """Apply one crawl delta to the digest store: changed + added docs as
    a value-replacing MERGE and removed docs as tombstones, in ONE
    bucket-pruned read+write (``KeyedParquetStore.merge_delta`` — an
    upsert() + delete() pair would re-read and re-write the touched
    buckets twice). Idempotent by value, so crash-replay of a delta
    converges."""
    from ..sources.keyed_store import KeyedParquetStore

    store = KeyedParquetStore(spark, store_path, "doc_id", n_buckets=64)
    store.merge_delta(_doc_digest(upserts), delete_ids)


def stream_crawl_ingest(
    spark: SparkSession,
    stream: DataFrame,
    store_path: str,
    checkpoint_path: str,
):
    """Attach the crawl digest-store MERGE sink to a streaming documents
    frame (doc_id, source, text). Returns the started StreamingQuery
    (availableNow trigger — doubles as the backfill ingester)."""

    def sink(batch: DataFrame, batch_id: int) -> None:
        crawl_ingest_batch(spark, batch, store_path)

    return (
        stream.writeStream.foreachBatch(sink)
        .option("checkpointLocation", checkpoint_path)
        .trigger(availableNow=True)
        .start()
    )


def stream_crawl_diff_ingest_entry(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Driver entry for continuous crawl maintenance: backfill the v1
    documents corpus through the streaming MERGE sink, apply the
    deterministic next-crawl delta (``pipeline._snapshot_v2`` semantics:
    %13 ids changed, %19 ids re-keyed as the negative mirror ``-doc_id-1``
    as added — collision-free against real ids at any corpus size, where
    a fixed +10M offset would alias — %17 ids deleted),
    then RE-APPLY the same delta as the crash-replay stress — value-wise
    MERGE and idempotent delete must leave the store unchanged — and
    report the final per-source (n_docs, chars_total, content_sum).

    Exact oracle: the same aggregate over the v2 corpus reconstructed in
    SQL — a replayed delta that double-applied, a lost delete, or a
    clobbered unchanged bucket all shift a count or the folded md5 sum
    and hash-mismatch."""
    import shutil
    import tempfile

    path = os.path.join(sf_dir, "documents.parquet")
    schema = spark.read.parquet(path).schema
    if os.path.isdir(path):
        docs_stream = spark.readStream.schema(schema).parquet(path)
    else:
        docs_stream = (
            spark.readStream.schema(schema)
            .option("pathGlobFilter", "documents.parquet")
            .parquet(sf_dir)
        )

    base = tempfile.mkdtemp(prefix="dgds_crawl_ingest_")
    store = f"{base}/store"
    q = stream_crawl_ingest(
        spark,
        docs_stream.select("doc_id", "source", "text"),
        store,
        f"{base}/ck",
    )
    q.awaitTermination()

    from ..operators.pipeline import _snapshot_v2
    from ..sources.tables import load_table

    docs = load_table(spark, sf_dir, "documents").select("doc_id", "source", "text")
    v2 = _snapshot_v2(docs)
    upserts = v2.where(
        ((F.col("doc_id") % 13 == 0) & (F.col("doc_id") >= 0))
        | (F.col("doc_id") < 0)  # negative mirror ids = added docs
    )
    deletes = docs.where(F.col("doc_id") % 17 == 0).select("doc_id")
    # The SAME delta feeds both applies (the second is the crash-replay
    # stress), so digest it ONCE and hand both calls the materialized rows
    # — re-deriving the snapshot transform + md5 digest per call re-ran the
    # whole upstream twice for identical bytes. The store-side RMW still
    # runs twice, which is exactly what the replay certifies (merge_delta
    # idempotence is also unit-tested on its own in test_r13_ops.py).
    # Digest frames are KB-scale (doc_id, source, len, csum).
    from ..sources.keyed_store import KeyedParquetStore

    up_digest = _doc_digest(upserts).localCheckpoint(eager=True)
    del_ids = deletes.localCheckpoint(eager=True)
    kstore = KeyedParquetStore(spark, store, "doc_id", n_buckets=64)
    kstore.merge_delta(up_digest, del_ids)
    # Crash-replay stress: the same delta again must be a no-op.
    kstore.merge_delta(up_digest, del_ids)

    out = (
        spark.read.parquet(store)
        .groupBy("source")
        .agg(
            F.count("*").cast("bigint").alias("n_docs"),
            F.sum("len").cast("bigint").alias("chars_total"),
            F.sum("csum").cast("bigint").alias("content_sum"),
        )
        .localCheckpoint(eager=True)
    )
    shutil.rmtree(base, ignore_errors=True)
    return out


from ..operators.pipeline import SNAPSHOT_V2_SQL as _V2_SQL  # noqa: E402

STREAM_CRAWL_DIFF_INGEST_SQL = f"""
WITH v2 AS ({_V2_SQL})
SELECT source,
       CAST(COUNT(*) AS BIGINT) AS n_docs,
       CAST(SUM(length(text)) AS BIGINT) AS chars_total,
       CAST(SUM(CAST('0x' || substr(md5(text), 1, 15) AS BIGINT)
                % {CRAWL_CSUM_MOD}) AS BIGINT) AS content_sum
FROM v2 GROUP BY source
"""




def wau_ingest_batch(batch: DataFrame, batch_id: int, store_path: str) -> None:
    """Process one micro-batch into the engagement pair store: collapse
    the batch to DISTINCT (day, user) activity pairs and write them under
    the batch's own partition (dynamic overwrite — a replayed batch
    replaces its own partial, never extends it). The store holds activity
    pairs, not events: per batch the write is bounded by active pairs,
    and cross-batch duplicates (a user active in several batches on the
    same day) are collapsed by the reader's dedupe, keeping the sink a
    blind append-shaped write with no read-modify-write cycle."""
    if batch.isEmpty():
        return
    pairs = batch.select(
        F.date_trunc("day", F.col("ts").cast("timestamp")).alias("d"), "user_id"
    ).distinct()
    _write_partition(pairs, batch_id, store_path)


def stream_wau_ingest(
    spark: SparkSession,
    stream: DataFrame,
    store_path: str,
    checkpoint_path: str,
):
    """Attach the engagement pair-store sink to a streaming events frame.
    Returns the started StreamingQuery (availableNow trigger)."""

    def sink(batch: DataFrame, batch_id: int) -> None:
        wau_ingest_batch(batch, int(batch_id), store_path)

    return (
        stream.writeStream.foreachBatch(sink)
        .option("checkpointLocation", checkpoint_path)
        .trigger(availableNow=True)
        .start()
    )


def stream_wau_ingest_entry(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Driver entry for continuous engagement accounting: backfill the
    bounded events stream into the (day, user) pair store, STRESS replay
    by re-writing batch 0's partial from the raw events (dynamic partition
    overwrite must replace, not extend), then compute the exact DAU /
    trailing-7-day WAU series from the STORE via the same first-in-window
    operator the batch entry uses (`relational.sliding_distinct_users_df`).

    Exact oracle: the correlated COUNT(DISTINCT) over raw events — so a
    replay that double-counted a batch, a lost pair partition, or a
    dedupe miss in the store reader all shift a count and hash-mismatch.
    This is the streaming sibling of ``rel_sliding_distinct_users``: the
    serving layer reads a pairs store bounded by |users| x |days| instead
    of replaying raw event history."""
    import shutil
    import tempfile

    from ..operators.relational import sliding_distinct_users_df
    from ..sources.tables import load_table
    from .windowed import _events_stream

    base = tempfile.mkdtemp(prefix="dgds_wau_ingest_")
    store = f"{base}/store"
    q = stream_wau_ingest(spark, _events_stream(spark, sf_dir), store, f"{base}/ck")
    q.awaitTermination()
    # Replay stress: re-write batch 0's partial (replace-not-extend is
    # the contract under test). MATERIALIZE before the overwrite — the
    # write replaces the very files this lineage reads (the same
    # overwrite-what-you-read discipline as KeyedParquetStore.delete).
    b0 = (
        spark.read.parquet(store)
        .where(F.col("batch_id") == 0)
        .select("d", "user_id")
        .distinct()
        .localCheckpoint(eager=True)
    )
    _write_partition(b0, 0, store)
    pairs_as_events = spark.read.parquet(store).select(
        F.col("d").alias("ts"), "user_id"
    )
    handles: list = []
    out = sliding_distinct_users_df(
        pairs_as_events, pairs_out=handles
    ).localCheckpoint(eager=True)
    # Release exactly this operator's pairs persist — the result is already
    # materialized by the eager checkpoint. A clearCache() here would evict
    # EVERY session cache, violating the harness-owned release policy
    # (tests/test_cache_ownership.py; r13 ADVICE).
    for h in handles:
        h.unpersist()
    shutil.rmtree(base, ignore_errors=True)
    return out


# The streaming sibling MUST stay oracle-identical to the batch operator
# by construction — alias its constant, never copy it.
from ..operators.relational import (  # noqa: E402
    SLIDING_DISTINCT_USERS_SQL as STREAM_WAU_INGEST_SQL,
)


# Registered in windowed.STREAMING_QUERIES (the suite's single registry
# surface), like every other ingest entry.


def stream_compact_ingest_entry(spark: SparkSession, sf_dir: str) -> DataFrame:
    """OPTIMIZE-under-ingest certification for ``KeyedParquetStore.compact``
    (r13 verdict #5) — the claim a 100 TB continuously-upserted store
    lives on: mid-stream small-file compaction preserves content exactly
    and actually shrinks the file census, and the store stays writable
    afterwards.

    Flow: backfill the documents corpus (as content digests, the
    crawl-store shape) through the streaming foreachBatch MERGE sink with
    ``write_partitions=7`` — each of the 16 bucket directories collects
    up to 7 files, the small-file accumulation a real micro-batch history
    produces; re-upsert the %3 slice (value-identical rows,
    ``write_partitions=5``) as continued ingest; run
    ``compact(max_files_per_bucket=1)``; then upsert the %5 slice AFTER
    compaction. The entry HARD-FAILS (raises, so the driver row errs) if
    the census did not shrink, if any bucket holds > 1 file post-compact,
    or if compaction reported zero targets — so a vacuous pass is
    impossible. The emitted per-source (n_docs, chars_total, content_sum)
    aggregate is hash-checked against the raw corpus: a row lost or
    duplicated by the rewrite shifts a count or the folded digest sum."""
    import shutil
    import tempfile

    from ..sources.keyed_store import KeyedParquetStore
    from ..sources.tables import load_table

    path = os.path.join(sf_dir, "documents.parquet")
    schema = spark.read.parquet(path).schema
    if os.path.isdir(path):
        docs_stream = spark.readStream.schema(schema).parquet(path)
    else:
        docs_stream = (
            spark.readStream.schema(schema)
            .option("pathGlobFilter", "documents.parquet")
            .parquet(sf_dir)
        )

    base = tempfile.mkdtemp(prefix="dgds_compact_ingest_")
    store = KeyedParquetStore(spark, f"{base}/store", "doc_id", n_buckets=16)

    def sink(batch: DataFrame, batch_id: int) -> None:
        if batch.isEmpty():
            return
        store.upsert(_doc_digest(batch), write_partitions=7)

    q = (
        docs_stream.select("doc_id", "source", "text")
        .writeStream.foreachBatch(sink)
        .option("checkpointLocation", f"{base}/ck")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()

    docs = load_table(spark, sf_dir, "documents").select(
        "doc_id", "source", "text"
    )
    store.upsert(
        _doc_digest(docs.where(F.col("doc_id") % 3 == 0)), write_partitions=5
    )
    stats = store.compact(max_files_per_bucket=1)
    if stats["buckets_compacted"] == 0:
        raise AssertionError(f"vacuous compaction: {stats}")
    if stats["files_after"] >= stats["files_before"]:
        raise AssertionError(f"census did not shrink: {stats}")
    if stats["files_after"] > store.n_buckets:
        raise AssertionError(f"bucket holds >1 file post-compact: {stats}")
    # the store must remain writable after the rewrite
    store.upsert(
        _doc_digest(docs.where(F.col("doc_id") % 5 == 0)), write_partitions=3
    )
    out = (
        store.read()
        .groupBy("source")
        .agg(
            F.count("*").cast("bigint").alias("n_docs"),
            F.sum("len").cast("bigint").alias("chars_total"),
            F.sum("csum").cast("bigint").alias("content_sum"),
        )
        .localCheckpoint(eager=True)
    )
    shutil.rmtree(base, ignore_errors=True)
    return out


# Content preservation through backfill + re-upserts + compact: the final
# store must aggregate EXACTLY like the raw corpus (all upserts were
# value-identical; compact is a pure rewrite).
STREAM_COMPACT_INGEST_SQL = f"""
SELECT source,
       CAST(COUNT(*) AS BIGINT) AS n_docs,
       CAST(SUM(length(text)) AS BIGINT) AS chars_total,
       CAST(SUM(CAST('0x' || substr(md5(text), 1, 15) AS BIGINT)
                % {CRAWL_CSUM_MOD}) AS BIGINT) AS content_sum
FROM documents GROUP BY source
"""


# --- continuous record linkage (entity resolution under ingest) ----------

def linkage_ingest_batch(
    spark: SparkSession,
    batch: DataFrame,
    batch_id: int,
    store_path: str,
    pairs_path: str,
    n_buckets: int = DEDUP_STORE_BUCKETS,
) -> None:
    """Process one micro-batch of ``(rec_id, text)`` records: emit linked
    pairs touching the batch (vs the store AND within the batch), then
    extend the record store — the streaming shape of
    :func:`operators.linkage.record_linkage_df` (r14 verdict #8 family).

    Store layout mirrors the dedup ingest store: a gram posting table
    bucketed by ``gram`` (the candidate-join key — history side never
    re-shuffles) and a records table bucketed by ``rec_id`` (the
    verification key), both partitioned by batch_id for idempotent
    replay. The stop-gram df cap is CUMULATIVE — a gram blocks iff its
    document frequency over (store ∪ batch) is ≤ the cap, so a gram
    that goes ubiquitous as the corpus grows stops generating candidates
    (pairs already emitted under an earlier, smaller df stay emitted —
    the pairs log is append-only, exactly how crawl-time linkage
    behaves). Old↔old pairs are never re-derived: they were reported
    when their batch arrived.
    """
    from ..operators.linkage import LINK_MAX_DF, LINK_MAX_DIST, LINK_Q

    from pyspark.storagelevel import StorageLevel

    tag = _store_tag(store_path)
    grams_tbl, recs_tbl = f"dgds_linkgrams_{tag}", f"dgds_linkrecs_{tag}"
    _ensure_bucketed_tables(
        spark,
        (
            (grams_tbl, f"{store_path}/grams", "rec_id BIGINT, gram STRING", "gram"),
            (recs_tbl, f"{store_path}/records", "rec_id BIGINT, text STRING", "rec_id"),
        ),
        n_buckets,
    )
    base = (
        batch.where(F.length("text") >= LINK_Q)
        .select(F.col("rec_id").cast("bigint").alias("rec_id"), "text")
        .persist(StorageLevel.MEMORY_AND_DISK)
    )
    g_new = base.select(
        "rec_id",
        F.explode(
            F.expr(
                f"array_distinct(transform("
                f"sequence(1, length(text) - {LINK_Q} + 1), "
                f"i -> substring(text, i, {LINK_Q})))"
            )
        ).alias("gram"),
    ).persist(StorageLevel.MEMORY_AND_DISK)
    # Exclude this batch's OWN partition on replay (same contract as the
    # dedup store) — both from candidates and from the cumulative df.
    # Empty-store fast path (r16, as in dedup_ingest_batch): when no other
    # batch partition exists, the store side is empty by construction —
    # the cold first batch compiles and runs only the within-batch plan.
    store_has_history = _has_other_batches(spark, f"{store_path}/grams", batch_id)
    if store_has_history:
        g_old = (
            spark.table(grams_tbl)
            .where(F.col("batch_id") != int(batch_id))
            .select("rec_id", "gram")
        )
        all_grams = g_new.select("gram").unionByName(g_old.select("gram"))
    else:
        g_old = None
        all_grams = g_new.select("gram")
    kept = (
        all_grams
        .groupBy("gram")
        .agg(F.count("*").alias("df"))
        .where(F.col("df") <= LINK_MAX_DF)
        .select("gram")
    )
    gk_new = g_new.join(kept, "gram")
    n1, n2 = gk_new.alias("a"), gk_new.alias("b")
    cand_new = n1.join(
        n2,
        (F.col("a.gram") == F.col("b.gram"))
        & (F.col("a.rec_id") < F.col("b.rec_id")),
    ).select(F.col("a.rec_id").alias("rec_a"), F.col("b.rec_id").alias("rec_b"))
    if store_has_history:
        gk_old = g_old.join(kept, "gram")
        a, b = gk_new.alias("a"), gk_old.alias("b")
        cand_cross = a.join(b, F.col("a.gram") == F.col("b.gram")).select(
            F.least(F.col("a.rec_id"), F.col("b.rec_id")).alias("rec_a"),
            F.greatest(F.col("a.rec_id"), F.col("b.rec_id")).alias("rec_b"),
        )
        candidates = cand_cross.union(cand_new).distinct()
    else:
        candidates = cand_new.distinct()
    # Single pass over the record texts (store ∪ batch) — same
    # melt→join→fold shape as dedup verification.
    if store_has_history:
        texts = (
            spark.table(recs_tbl)
            .where(F.col("batch_id") != int(batch_id))
            .select("rec_id", "text")
            .unionByName(base)
        )
    else:
        texts = base
    melted = candidates.select(
        "rec_a", "rec_b", F.explode(F.array("rec_a", "rec_b")).alias("rec_id")
    )
    folded = (
        melted.join(texts, "rec_id")
        .groupBy("rec_a", "rec_b")
        .agg(
            F.max(F.when(F.col("rec_id") == F.col("rec_a"), F.col("text"))).alias("ta"),
            F.max(F.when(F.col("rec_id") == F.col("rec_b"), F.col("text"))).alias("tb"),
        )
        .where(F.col("ta").isNotNull() & F.col("tb").isNotNull())
    )
    pairs = (
        # Bounded levenshtein (exact for distances <= LINK_MAX_DIST, -1
        # beyond) — same identity as operators.linkage.record_linkage_df.
        folded.withColumn(
            "edit_dist", F.levenshtein("ta", "tb", LINK_MAX_DIST).cast("int")
        )
        .where(F.col("edit_dist") >= 0)
        .select("rec_a", "rec_b", "edit_dist")
    )
    # Pairs first (crash-ordering contract), then the two independent store
    # inserts overlapped (§2.6 — different tables, both persisted above).
    _write_partition(pairs, batch_id, pairs_path)
    _run_overlapped(
        lambda: _insert_partition(
            g_new, batch_id, grams_tbl, f"{store_path}/grams", ["gram"], n_buckets
        ),
        lambda: _insert_partition(
            base, batch_id, recs_tbl, f"{store_path}/records", ["rec_id"], n_buckets
        ),
    )
    g_new.unpersist()
    base.unpersist()


def stream_linkage_ingest(
    spark: SparkSession,
    stream: DataFrame,
    store_path: str,
    pairs_path: str,
    checkpoint_path: str,
):
    """Attach the continuous-linkage sink to a streaming (rec_id, text)
    frame; availableNow triggers make it a catch-up batch ingester."""

    def sink(batch: DataFrame, batch_id: int) -> None:
        linkage_ingest_batch(spark, batch, batch_id, store_path, pairs_path)

    return (
        stream.writeStream.foreachBatch(sink)
        .option("checkpointLocation", checkpoint_path)
        .trigger(availableNow=True)
        .start()
    )


def stream_linkage_ingest_entry(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Driver entry: batch 0 = clean customer names (cold store), batch 1
    = the planted dirty copies against the store, then batch 1 REPLAYED
    (must overwrite its own partitions). The pair-partition union is
    exactly: within-batch-0 links under batch-0's cumulative df cap, plus
    links touching batch 1 under the grown (batch0 ∪ batch1) df cap —
    replayed stage-for-stage by the oracle, so a replay bug (duplicated
    pairs) or a df-cap bug (wrong block set) hash-mismatches.
    """
    import shutil
    import tempfile

    from ..operators.linkage import LINK_DIRTY_OFFSET, _dirty_customers

    recs = _dirty_customers(spark, sf_dir)
    b0 = recs.where(F.col("rec_id") < LINK_DIRTY_OFFSET)
    b1 = recs.where(F.col("rec_id") >= LINK_DIRTY_OFFSET)
    base = tempfile.mkdtemp(prefix="dgds_link_ingest_")
    store, pairs_path = f"{base}/store", f"{base}/pairs"
    linkage_ingest_batch(spark, b0, 0, store, pairs_path)
    linkage_ingest_batch(spark, b1, 1, store, pairs_path)
    linkage_ingest_batch(spark, b1, 1, store, pairs_path)  # replay
    out = (
        spark.read.parquet(pairs_path)
        .select("rec_a", "rec_b", "edit_dist")
        .localCheckpoint(eager=True)
    )
    shutil.rmtree(base, ignore_errors=True)
    tag = _store_tag(store)
    spark.sql(f"DROP TABLE IF EXISTS dgds_linkgrams_{tag}")
    spark.sql(f"DROP TABLE IF EXISTS dgds_linkrecs_{tag}")
    return out


def _linkage_ingest_sql() -> str:
    from ..operators.linkage import (
        LINK_DIRTY_OFFSET,
        LINK_MAX_DF,
        LINK_MAX_DIST,
        LINK_Q,
    )

    return f"""
WITH recs0 AS (
  SELECT CAST(c_custkey AS BIGINT) AS rec_id, c_name AS text FROM customer
),
recs1 AS (
  SELECT CAST(c_custkey + {LINK_DIRTY_OFFSET} AS BIGINT) AS rec_id,
         substr(c_name, 1, CAST(c_custkey % 8 AS INT))
           || substr(c_name, CAST(c_custkey % 8 AS INT) + 2) AS text
  FROM customer
),
g0 AS MATERIALIZED (
  SELECT DISTINCT r.rec_id, r.text, substr(r.text, CAST(t.i AS INT), {LINK_Q}) AS gram
  FROM recs0 r, LATERAL UNNEST(range(1, length(r.text) - {LINK_Q} + 2)) AS t(i)
  WHERE length(r.text) >= {LINK_Q}
),
g1 AS MATERIALIZED (
  SELECT DISTINCT r.rec_id, r.text, substr(r.text, CAST(t.i AS INT), {LINK_Q}) AS gram
  FROM recs1 r, LATERAL UNNEST(range(1, length(r.text) - {LINK_Q} + 2)) AS t(i)
  WHERE length(r.text) >= {LINK_Q}
),
kept0 AS (
  SELECT gram FROM g0 GROUP BY gram HAVING COUNT(*) <= {LINK_MAX_DF}
),
cand0 AS (
  SELECT DISTINCT a.rec_id AS rec_a, b.rec_id AS rec_b,
                  a.text AS ta, b.text AS tb
  FROM g0 a JOIN kept0 k ON a.gram = k.gram
  JOIN g0 b ON b.gram = a.gram AND a.rec_id < b.rec_id
),
pairs0 AS (
  SELECT rec_a, rec_b, CAST(levenshtein(ta, tb) AS INT) AS edit_dist
  FROM cand0 WHERE levenshtein(ta, tb) <= {LINK_MAX_DIST}
),
gall AS MATERIALIZED (
  SELECT * FROM g0 UNION ALL SELECT * FROM g1
),
kept1 AS (
  SELECT gram FROM gall GROUP BY gram HAVING COUNT(*) <= {LINK_MAX_DF}
),
cand1 AS (
  SELECT DISTINCT a.rec_id AS rec_a, b.rec_id AS rec_b,
                  a.text AS ta, b.text AS tb
  FROM gall a JOIN kept1 k ON a.gram = k.gram
  JOIN gall b ON b.gram = a.gram AND a.rec_id < b.rec_id
  WHERE a.rec_id >= {LINK_DIRTY_OFFSET} OR b.rec_id >= {LINK_DIRTY_OFFSET}
),
pairs1 AS (
  SELECT rec_a, rec_b, CAST(levenshtein(ta, tb) AS INT) AS edit_dist
  FROM cand1 WHERE levenshtein(ta, tb) <= {LINK_MAX_DIST}
)
SELECT rec_a, rec_b, edit_dist FROM pairs0
UNION ALL
SELECT rec_a, rec_b, edit_dist FROM pairs1
"""


STREAM_LINKAGE_INGEST_SQL = _linkage_ingest_sql()
