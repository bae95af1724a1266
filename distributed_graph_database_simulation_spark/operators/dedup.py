"""Deduplication operators over the ``documents`` / ``embeddings`` tables.

The reference has no text processing at all (its only data is 0/1 adjacency
matrices, ``secondary_server.c:91-100``); this suite is the north-star
LLM-pipeline extension mandated by ``BASELINE.json:6`` / SURVEY.md §2c.

Five dedup families, each a ``queries()`` entry:

- **exact** — hash-groupBy on normalized text; survivors = min doc_id.
- **n-gram Jaccard** — exact all-pairs word-3-gram Jaccard >= 0.5, computed
  distributively via a shingle-inverted-index join (never a cross join).
- **MinHash + LSH** — 128-perm minhash signatures -> 64 bands x 2 rows ->
  bucket join -> exact-Jaccard verification. At the 0.5 threshold the miss
  probability per true pair is (1 - 0.5^2)^64 < 1e-8, so the verified output
  equals the exact-Jaccard oracle.
- **SimHash** — 64-bit shingle simhash, Hamming <= 3 pairs found via the
  4-band pigeonhole blocking (any pair within distance 3 shares an intact
  16-bit band). Deterministic but engine-hash-dependent -> rows-only check.
- **embedding cosine** — near-dup vector pairs with cosine >= 0.42 via a
  blocked self-join; exact double arithmetic in index order on both engines.

Scale posture (100 TB): every pair-finding path is candidate-generation
(inverted index / LSH buckets / band blocking) followed by verification on
the candidate set only; there is no O(n^2) cross join anywhere. Shingle
explosion is linear in corpus size and shuffles on the shingle/bucket hash,
which is near-uniform by construction.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..session import barrier
from ..sources.tables import load_table, spread_small_scan

JACCARD_T = 0.5
COSINE_T = 0.42
N_PERM = 128          # minhash permutations
LSH_ROWS = 2          # rows per band -> 64 bands
SIMHASH_BITS = 64
SIMHASH_BANDS = 4     # pigeonhole: hamming <= SIMHASH_BANDS-1 guaranteed caught


def _docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    # spread: one-file corpus -> one scan partition; the shingle explode +
    # 128-permutation minhash partial aggregate before the first exchange
    # would run single-task (guide §2.5). No-op at scale.
    return spread_small_scan(load_table(spark, sf_dir, "documents"))


def _norm_text() -> F.Column:
    """Canonical text: trim + collapse internal whitespace runs."""
    return F.regexp_replace(F.trim(F.col("text")), r"\s+", " ")


def _shingled(docs: DataFrame, n: int = 3) -> DataFrame:
    """doc_id -> distinct word n-gram array (JVM-side, no Python UDF).

    Uses ``pyspark.ml.feature.NGram`` (Scala sliding-window) — a narrow
    no-shuffle map. Two slower designs measured at sf0.1 and rejected:
    inlining the split into each gram access re-ran the regex split per
    index (~26s), and a higher-order ``F.transform`` + ``concat_ws`` gram
    builder evaluates interpreted per gram (~16s); NGram does the same work
    in ~2s. Space-joined grams match the SQL oracles' ``w[i]||' '||...``.
    """
    from pyspark.ml.feature import NGram

    with_words = docs.select("doc_id", F.split(_norm_text(), " ").alias("w"))
    grams = NGram(n=n, inputCol="w", outputCol="grams").transform(with_words)
    return grams.select(
        "doc_id", F.array_distinct("grams").alias("shingles")
    ).filter(F.size("shingles") > 0)


# --- exact dedup ---------------------------------------------------------

def dedup_exact(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact dedup by content hash: one survivor per distinct normalized text.

    groupBy on md5(text) is a plain hash aggregate: partial map-side combine,
    shuffle on the digest (uniform), no skew. Survivor = min doc_id.
    """
    docs = _docs(spark, sf_dir)
    return (
        docs.select("doc_id", F.md5(_norm_text()).alias("content_hash"))
        .groupBy("content_hash")
        .agg(
            F.min("doc_id").alias("survivor_id"),
            F.count("*").alias("n_copies"),
        )
    )


DEDUP_EXACT_SQL = """
SELECT md5(regexp_replace(trim(text), '\\s+', ' ', 'g')) AS content_hash,
       MIN(doc_id) AS survivor_id,
       COUNT(*) AS n_copies
FROM documents
GROUP BY 1
"""


# --- exact n-gram Jaccard via inverted index -----------------------------

def dedup_ngram_jaccard(spark: SparkSession, sf_dir: str) -> DataFrame:
    """All pairs with word-3-gram Jaccard >= 0.5, exactly.

    Inverted-index plan with count-based verification: explode shingle
    HASHES (fixed-width join key) -> self-join with the |B| >= t*|A| size
    filter -> count common shingles per pair -> Jaccard from |A|,|B|,|A^B|.
    Hash collisions could only merge two distinct shingles (xxhash64 over a
    tiny vocabulary: collision probability ~|shingles|^2/2^64, negligible;
    a collision would shift a count by 1 and is excluded by the exact-match
    tests against the string-based oracle).

    Design note, measured at sf0.1 (5k docs x ~54 shingles): this plan runs
    ~5s; the prefix-filtered variant below generates 300x fewer joined rows
    (460k vs 10M+) but pays per-candidate array verification and lands at
    ~10s. Short docs favor count-verification; long documents (posting
    lists in the hundreds+) flip the tradeoff, which is why
    :func:`_ngram_jaccard_prefix` is kept as the long-document scale path
    (equality of the two is pinned in tests).
    """
    from pyspark.storagelevel import StorageLevel

    sh = _shingled(_docs(spark, sf_dir))
    # Persisted: the posting table feeds both sides of the inverted-index
    # self-join AND (deduplicated) the size tables — one materialization,
    # zero re-derivations of the corpus-wide shingle explode.
    posting = sh.select(
        "doc_id",
        F.size("shingles").alias("n_sh"),
        F.explode(F.transform("shingles", lambda s: F.xxhash64(s))).alias("h"),
    ).persist(StorageLevel.MEMORY_AND_DISK)
    sizes = posting.select("doc_id", "n_sh").distinct()
    a = posting.alias("a")
    b = posting.alias("b")
    common = (
        a.join(
            b,
            (F.col("a.h") == F.col("b.h"))
            & (F.col("a.doc_id") < F.col("b.doc_id"))
            & (F.col("b.n_sh") >= F.col("a.n_sh") * F.lit(JACCARD_T))
            & (F.col("a.n_sh") >= F.col("b.n_sh") * F.lit(JACCARD_T)),
        )
        .groupBy(F.col("a.doc_id").alias("doc_a"), F.col("b.doc_id").alias("doc_b"))
        .agg(F.count("*").alias("n_common"))
    )
    sa = sizes.select(F.col("doc_id").alias("doc_a"), F.col("n_sh").alias("n_a"))
    sb = sizes.select(F.col("doc_id").alias("doc_b"), F.col("n_sh").alias("n_b"))
    return (
        common.join(sa, "doc_a").join(sb, "doc_b")
        .withColumn(
            "jaccard",
            F.col("n_common").cast("double")
            / (F.col("n_a") + F.col("n_b") - F.col("n_common")).cast("double"),
        )
        .filter(F.col("jaccard") >= JACCARD_T)
        .select("doc_a", "doc_b", "jaccard")
    )


def _ngram_jaccard_prefix(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Prefix-filtered variant (AllPairs/PPJoin family) — the long-document
    scale path.

    Losslessness: under any global total order on shingles (here: xxhash64
    value), J(A,B) >= t implies |A^B| >= ceil(t*|A|), so A^B cannot fit
    entirely in A's last ceil(t*|A|)-1 elements — the globally-smallest
    common shingle lies in BOTH docs' prefixes of length
    |d| - ceil(t*|d|) + 1. Joining prefixes only (plus the size filter)
    finds every qualifying pair; exact verification on the full shingle
    arrays then computes true Jaccard, so prefix false positives cannot
    leak into the output. At t=0.5 the posting volume halves and joined
    rows drop ~300x on sf0.1; a document-frequency stop-shingle cap
    composes on top for corpora with degenerate hot shingles.
    """
    sh = _shingled(_docs(spark, sf_dir))
    with_prefix = sh.select(
        "doc_id",
        F.size("shingles").alias("n_sh"),
        F.slice(
            F.array_sort(F.transform("shingles", lambda s: F.xxhash64(s))),
            1,
            (F.size("shingles") - F.ceil(F.size("shingles") * F.lit(JACCARD_T)) + 1).cast("int"),
        ).alias("prefix"),
    )
    posting = with_prefix.select("doc_id", "n_sh", F.explode("prefix").alias("h"))
    a = posting.alias("a")
    b = posting.alias("b")
    candidates = (
        a.join(
            b,
            (F.col("a.h") == F.col("b.h"))
            & (F.col("a.doc_id") < F.col("b.doc_id"))
            & (F.col("b.n_sh") >= F.col("a.n_sh") * F.lit(JACCARD_T))
            & (F.col("a.n_sh") >= F.col("b.n_sh") * F.lit(JACCARD_T)),
        )
        .select(F.col("a.doc_id").alias("doc_a"), F.col("b.doc_id").alias("doc_b"))
        .distinct()
    )
    sh_a = sh.select(F.col("doc_id").alias("doc_a"), F.col("shingles").alias("sh_a"))
    sh_b = sh.select(F.col("doc_id").alias("doc_b"), F.col("shingles").alias("sh_b"))
    union_size = F.size(F.array_union("sh_a", "sh_b"))
    inter_size = F.size("sh_a") + F.size("sh_b") - union_size
    return (
        candidates.join(sh_a, "doc_a").join(sh_b, "doc_b")
        .withColumn("jaccard", inter_size.cast("double") / union_size.cast("double"))
        .filter(F.col("jaccard") >= JACCARD_T)
        .select("doc_a", "doc_b", "jaccard")
    )


# Oracle computes the same sets with list ops; intersection size via
# |A|+|B|-|A union B| so both engines use identical distinct semantics.
#
# r10: the candidate stage is PREFIX-FILTERED (same AllPairs/PPJoin lemma
# as :func:`_ngram_jaccard_prefix`, here under the LEXICOGRAPHIC total
# order on shingle strings — no hash involved, so no tie-order caveat):
# J(A,B) >= 0.5 forces the globally-smallest common shingle into both
# docs' first (n - ceil(0.5*n) + 1) sorted shingles, so joining prefixes
# plus the size filter finds every qualifying pair, and the full-list
# verification removes prefix false positives. Output is IDENTICAL to the
# r01-r09 all-pairs formulation (checked side-by-side at sf0.01: 25 = 25
# pairs, equal frames) but the oracle drops from quadratic to
# candidate-proportional — 17s -> 1.0s at sf0.01, and sf0.1 becomes
# tractable (~84s vs ~30min), retiring the standing sweep exemption
# (r09 verdict #7).
_NGRAM_ORACLE_CORE = """
WITH docs AS (
  SELECT doc_id,
         string_split(regexp_replace(trim(text), '\\s+', ' ', 'g'), ' ') AS w
  FROM documents
),
sh AS (
  SELECT doc_id,
         list_distinct(list_transform(range(1, len(w) - 1),
                                      i -> w[i] || ' ' || w[i+1] || ' ' || w[i+2])) AS s
  FROM docs
  WHERE len(w) >= 3
),
pre AS (
  SELECT doc_id, len(s) AS n_sh,
         unnest(list_sort(s)[1 : len(s) - CAST(ceil(len(s) * 0.5) AS BIGINT) + 1]) AS h
  FROM sh
),
cand AS (
  SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
  FROM pre a JOIN pre b
    ON a.h = b.h AND a.doc_id < b.doc_id
   AND b.n_sh >= a.n_sh * 0.5 AND a.n_sh >= b.n_sh * 0.5
),
pairs AS (
  SELECT c.doc_a, c.doc_b,
         CAST(len(a.s) + len(b.s) - len(list_distinct(list_concat(a.s, b.s))) AS DOUBLE)
           / CAST(len(list_distinct(list_concat(a.s, b.s))) AS DOUBLE) AS jaccard
  FROM cand c JOIN sh a ON a.doc_id = c.doc_a JOIN sh b ON b.doc_id = c.doc_b
)
SELECT doc_a, doc_b, jaccard FROM pairs WHERE jaccard >= 0.5
"""

DEDUP_NGRAM_JACCARD_SQL = _NGRAM_ORACLE_CORE


# --- MinHash + LSH -------------------------------------------------------

def _sig_batches(batches):
    """Arrow batches of (doc_id, bases: array<bigint>) -> (doc_id, sig).

    Bit-exact numpy replay of Spark's ``xxhash64(lit(i) INT, base BIGINT)``
    (catalyst XXH64.java): the two-child fold is
    ``hashLong(base, seed=hashInt(i, 42))``. uint64 arithmetic wraps in
    numpy exactly like Java longs; the per-permutation MIN is taken over
    the SIGNED int64 view (Spark's ``min`` over BIGINT). Equality with the
    JVM expression is pinned in tests/test_r16_opt.py, so the signatures —
    and every downstream band hash and candidate set — are unchanged.

    Vectorization shape: ``k1`` (the input mix) is permutation-independent
    and computed once per base; each permutation is then ~6 vectorized
    uint64 ops over the batch's flattened bases plus one
    ``minimum.reduceat`` per doc segment. One pass of 128 permutations over
    a 10k-doc batch is milliseconds — the JVM codegen'd 128-min aggregate
    this replaces measured ~2.2 s steady plus ~3 s one-time codegen compile
    of the >128-field stage (guide §4.2: hand whole batches to vectorized
    native code).
    """
    import numpy as np
    import pandas as pd

    P1 = np.uint64(0x9E3779B185EBCA87)
    P2 = np.uint64(0xC2B2AE3D27D4EB4F)
    P3 = np.uint64(0x165667B19E3779F9)
    P4 = np.uint64(0x85EBCA77C2B2AE63)
    P5 = np.uint64(0x27D4EB2F165667C5)
    u = np.uint64
    # hashInt(i, 42) for each permutation i (4-byte child), then the
    # hashLong seed preamble (seed + P5 + 8) folded in once.
    i = np.arange(N_PERM, dtype=np.uint64)
    h = u(42) + P5 + u(4)
    h = h ^ (i * P1)
    h = ((h << u(23)) | (h >> u(41))) * P2 + P3
    h ^= h >> u(33); h *= P2; h ^= h >> u(29); h *= P3; h ^= h >> u(32)
    seed_base = h + P5 + u(8)

    for pdf in batches:
        n = len(pdf)
        if n == 0:
            continue
        lists = pdf["bases"]
        lens = np.fromiter((len(x) for x in lists), dtype=np.int64, count=n)
        flat = np.concatenate(
            [np.asarray(x, dtype=np.int64) for x in lists]
        ).view(np.uint64)
        offsets = np.zeros(n, dtype=np.int64)
        np.cumsum(lens[:-1], out=offsets[1:])
        k1 = flat * P2
        k1 = ((k1 << u(31)) | (k1 >> u(33))) * P1
        sig = np.empty((n, N_PERM), dtype=np.int64)
        for p in range(N_PERM):
            hh = seed_base[p] ^ k1
            hh = ((hh << u(27)) | (hh >> u(37))) * P1 + P4
            hh ^= hh >> u(33); hh *= P2
            hh ^= hh >> u(29); hh *= P3
            hh ^= hh >> u(32)
            sig[:, p] = np.minimum.reduceat(hh.view(np.int64), offsets)
        yield pd.DataFrame(
            {"doc_id": pdf["doc_id"].astype("int64"), "sig": list(sig)}
        )


def _minhash_sigs(sh: DataFrame) -> DataFrame:
    """doc_id -> array<bigint> of N_PERM minhash values.

    Permutation i = min over shingles of xxhash64(i, base) where base is the
    shingle's 64-bit hash, computed ONCE (JVM-side — string hashing stays in
    codegen). The 128 per-permutation mixes + mins run in a numpy
    ``mapInPandas`` kernel (:func:`_sig_batches`) that replays Spark's
    XXH64 bit-exactly — same hash family, same signatures, no wide
    aggregate, no exchange (each doc's shingles sit in one row, so the
    signature is row-local; r16, guide §4).

    Two rejected designs, for the record: (a) per-permutation *string*
    hashing -- 128 murmur passes over every shingle, ~6x slower; (b) a
    multiply-and-mask affine mix of the base hash -- under ANSI mode there is
    no wrapping multiply, and without wraparound the mix is monotone, which
    degenerates every permutation to the same argmin shingle and breaks the
    LSH == exact-Jaccard guarantee. The r15-vintage explode -> 128-min
    hash-aggregate design (map-side combine, one row per doc) was replaced
    in r16 by the row-local kernel above: same values, no 128-field codegen
    stage, no shuffle.
    """
    bases = sh.where(F.size("shingles") > 0).select(
        "doc_id",
        F.transform("shingles", lambda s: F.xxhash64(s)).alias("bases"),
    )
    return bases.mapInPandas(_sig_batches, schema="doc_id long, sig array<bigint>")


def _bands(sigs: DataFrame) -> DataFrame:
    """sig array -> (doc_id, band_id, band_hash): 64 bands x 2 rows, band
    hash over the sig slice so the banding join key is one fixed-width int."""
    n_bands = N_PERM // LSH_ROWS
    return sigs.select(
        "doc_id",
        F.explode(
            F.transform(
                F.sequence(F.lit(0), F.lit(n_bands - 1)),
                lambda b: F.struct(
                    b.alias("band_id"),
                    F.xxhash64(F.slice(F.col("sig"), b * LSH_ROWS + 1, LSH_ROWS))
                    .alias("band_hash"),
                ),
            )
        ).alias("band"),
    ).select("doc_id", "band.band_id", "band.band_hash")


def dedup_minhash_lsh(spark: SparkSession, sf_dir: str) -> DataFrame:
    return minhash_lsh_df(_docs(spark, sf_dir))


def minhash_lsh_df(docs: DataFrame) -> DataFrame:
    """Near-dup pairs (Jaccard >= 0.5) via MinHash-LSH candidates + exact check.

    Banding: 64 bands x 2 rows. A true pair at j=0.5 is missed with
    probability (1 - 0.25)^64 ~ 1e-8, so after exact verification the result
    set equals the exhaustive-Jaccard oracle. Candidate generation shuffles
    on (band_id, band_hash) — uniform by hash construction; verification
    joins shingle arrays only for candidate pairs.

    df-level entry point so callers (bench warm-up included) can run the
    IDENTICAL plan shape — including the persist, whose InMemoryTableScan
    feeds the row-local signature kernel — on any documents-shaped frame.
    """
    # The shingle table feeds signature generation AND both sides of the
    # verification join: persist it so the scan+split+ngram pipeline runs
    # once (MEMORY_AND_DISK — spills instead of OOMing at scale).
    from pyspark.storagelevel import StorageLevel

    sh = _shingled(docs).persist(StorageLevel.MEMORY_AND_DISK)
    # Persist the band table: BOTH sides of the candidate self-join consume
    # it, and with the r16 row-local sig kernel there is no exchange in the
    # sig subtree for Spark's ReusedExchange to dedup the two sides with
    # (the r15 JVM aggregate's doc_id exchange provided that for free) —
    # unpersisted, the scan→shingle→sig pipeline would run once per side.
    bands = _bands(_minhash_sigs(sh)).persist(StorageLevel.MEMORY_AND_DISK)
    a = bands.alias("a")
    b = bands.alias("b")
    candidates = (
        a.join(
            b,
            (F.col("a.band_id") == F.col("b.band_id"))
            & (F.col("a.band_hash") == F.col("b.band_hash"))
            & (F.col("a.doc_id") < F.col("b.doc_id")),
        )
        .select(F.col("a.doc_id").alias("doc_a"), F.col("b.doc_id").alias("doc_b"))
        .distinct()
    )
    sh_a = sh.select(F.col("doc_id").alias("doc_a"), F.col("shingles").alias("sh_a"))
    sh_b = sh.select(F.col("doc_id").alias("doc_b"), F.col("shingles").alias("sh_b"))
    union_size = F.size(F.array_union("sh_a", "sh_b"))
    inter_size = F.size("sh_a") + F.size("sh_b") - union_size
    return (
        candidates.join(sh_a, "doc_a").join(sh_b, "doc_b")
        .withColumn("jaccard", inter_size.cast("double") / union_size.cast("double"))
        .filter(F.col("jaccard") >= JACCARD_T)
        .select("doc_a", "doc_b", "jaccard")
    )


# LSH + verification converges to the exhaustive answer (miss prob ~1e-8),
# so it shares the exact oracle.
DEDUP_MINHASH_LSH_SQL = _NGRAM_ORACLE_CORE


# --- incremental dedup against a persisted signature store ---------------

def write_signature_store(docs: DataFrame, path: str) -> None:
    """Persist the MinHash banding state of a corpus for incremental dedup.

    A 100 TB pipeline ingests continuously; re-sharding and re-hashing the
    historical corpus for every new batch would be quadratic over the
    pipeline's lifetime. The store keeps the two artifacts the pair-finder
    needs — the band table (doc_id, band_id, band_hash) for candidate
    generation and the shingle arrays for exact verification — as plain
    partitioned parquet, so appending a new batch to the store is a
    write-side union. Band hashes are engine-deterministic (xxhash64), so
    stores written by different runs/sessions are compatible.
    """
    from pyspark.storagelevel import StorageLevel

    # Both writes consume the shingle table; persist so the scan→split→
    # ngram pipeline runs once per store write (same r13 fix as the
    # streaming ingester's band-table persist).
    sh = _shingled(docs).persist(StorageLevel.MEMORY_AND_DISK)
    _bands(_minhash_sigs(sh)).write.mode("overwrite").parquet(f"{path}/bands")
    sh.write.mode("overwrite").parquet(f"{path}/shingles")
    sh.unpersist()


def dedup_against_store(
    spark: SparkSession, new_docs: DataFrame, path: str
) -> DataFrame:
    """Near-dup pairs (Jaccard >= 0.5) touching at least one NEW document:
    new-vs-store plus new-vs-new, WITHOUT recomputing or rescanning the
    stored corpus's signatures.

    Candidate generation joins the new batch's bands against the stored
    band table (hash-keyed, uniform) and against itself; verification
    joins shingle arrays only for candidates, reading stored shingles for
    the store side. Old-old pairs are never produced — they were reported
    when their batch was ingested. Same miss probability as
    :func:`minhash_lsh_df` (~1e-8 at the 0.5 threshold), so the combined
    result over (store + batch) equals the one-shot run on the union —
    pinned in tests.
    """
    # Explicit projections: the store may carry extra layout columns (the
    # streaming ingester partitions by batch_id for idempotent replay).
    bands_old = spark.read.parquet(f"{path}/bands").select(
        "doc_id", "band_id", "band_hash"
    )
    sh_old = spark.read.parquet(f"{path}/shingles").select("doc_id", "shingles")
    return dedup_against_frames(new_docs, bands_old, sh_old)


def dedup_against_frames(
    new_docs: DataFrame,
    bands_old: DataFrame | None,
    sh_old: DataFrame | None,
    sh_new: DataFrame | None = None,
    bands_new: DataFrame | None = None,
) -> DataFrame:
    """:func:`dedup_against_store` against already-loaded store frames —
    the streaming ingester uses this to exclude the replaying batch's own
    prior contribution from the store side (idempotent micro-batch retry).

    ``sh_new`` / ``bands_new``: pass the batch's (possibly persisted)
    shingle and band frames when the caller ALSO writes them to the store
    — the ingest path otherwise re-runs the scan→split→ngram→signature
    pipeline once for pair-finding and once for the store write.

    ``bands_old=None`` / ``sh_old=None`` (r16): the store side is KNOWN
    empty (first batch, batch-0 replay) — the cross joins and the history
    union are omitted outright, so the cold first micro-batch compiles and
    runs only the within-batch plan (same result as joining empty frames).
    """
    if sh_new is None:
        sh_new = _shingled(new_docs)
    if bands_new is None:
        # Persisted for the same reason as minhash_lsh_df's band table: the
        # candidate joins consume bands_new three times (cross side + both
        # self-join sides), and the r16 row-local sig kernel has no exchange
        # for ReusedExchange to dedup those subtrees with.
        from pyspark.storagelevel import StorageLevel

        bands_new = _bands(_minhash_sigs(sh_new)).persist(
            StorageLevel.MEMORY_AND_DISK
        )

    n1, n2 = bands_new.alias("a"), bands_new.alias("b")
    cand_new = (
        n1.join(
            n2,
            (F.col("a.band_id") == F.col("b.band_id"))
            & (F.col("a.band_hash") == F.col("b.band_hash"))
            & (F.col("a.doc_id") < F.col("b.doc_id")),
        )
        .select(F.col("a.doc_id").alias("doc_a"), F.col("b.doc_id").alias("doc_b"))
    )
    if bands_old is not None:
        a, b = bands_new.alias("a"), bands_old.alias("b")
        cand_cross = (
            a.join(
                b,
                (F.col("a.band_id") == F.col("b.band_id"))
                & (F.col("a.band_hash") == F.col("b.band_hash")),
            )
            .select(
                F.least(F.col("a.doc_id"), F.col("b.doc_id")).alias("doc_a"),
                F.greatest(F.col("a.doc_id"), F.col("b.doc_id")).alias("doc_b"),
            )
        )
        candidates = cand_cross.union(cand_new).distinct()
    else:
        candidates = cand_new.distinct()
    all_sh = sh_old.unionByName(sh_new) if sh_old is not None else sh_new
    # Exact verification with ONE pass over the shingle corpus (r14 verdict
    # #5 — the previous two-sided join scanned `all_sh` twice, and the
    # history shingle store is the heaviest table the ingest path touches):
    # melt each candidate pair to two (doc_a, doc_b, doc_id) rows, join the
    # shingle table once on doc_id (candidate-proportional probe against
    # the doc_id-bucketed store — one-sided exchange), then fold the two
    # rows back into (sh_a, sh_b) with a conditional-max aggregate.
    melted = candidates.select(
        "doc_a", "doc_b", F.explode(F.array("doc_a", "doc_b")).alias("doc_id")
    )
    folded = (
        melted.join(all_sh, "doc_id")
        .groupBy("doc_a", "doc_b")
        .agg(
            F.max(
                F.when(F.col("doc_id") == F.col("doc_a"), F.col("shingles"))
            ).alias("sh_a"),
            F.max(
                F.when(F.col("doc_id") == F.col("doc_b"), F.col("shingles"))
            ).alias("sh_b"),
        )
        # a candidate whose doc is absent from the shingle table has no
        # verifiable pair (inner-join semantics of the old two-sided form)
        .where(F.col("sh_a").isNotNull() & F.col("sh_b").isNotNull())
    )
    union_size = F.size(F.array_union("sh_a", "sh_b"))
    inter_size = F.size("sh_a") + F.size("sh_b") - union_size
    return (
        folded
        .withColumn("jaccard", inter_size.cast("double") / union_size.cast("double"))
        .filter(F.col("jaccard") >= JACCARD_T)
        .select("doc_a", "doc_b", "jaccard")
    )


# --- SimHash -------------------------------------------------------------

def _simhash(sh: DataFrame) -> DataFrame:
    """doc_id -> 64-bit simhash as two 32-bit halves (sim_hi, sim_lo).

    Feature hash = md5 of the shingle split into two 32-bit words — md5 is
    bit-identical across engines, which is what makes the DuckDB oracle
    possible (the previous xxhash64 design was deterministic but
    Spark-only). The halves stay in [0, 2^32) so every shift/mask below is
    sign-free in both engines (DuckDB raises on BIGINT overflow rather
    than wrapping, so a packed 64-bit value with a high bit 63 would trap).
    Same plan shape as minhash: explode -> 64 partial-aggregated bit
    votes, map-side combined, one row per doc after the shuffle.
    """
    posting = sh.select("doc_id", F.explode("shingles").alias("shingle"))
    h = F.md5("shingle")
    hashed = posting.select(
        "doc_id",
        F.conv(F.substring(h, 1, 8), 16, 10).cast("long").alias("hh"),
        F.conv(F.substring(h, 9, 8), 16, 10).cast("long").alias("hl"),
    )
    votes = [
        F.sum(
            F.when(
                F.shiftright(F.col(half), i).bitwiseAND(F.lit(1)) == 1, 1
            ).otherwise(-1)
        ).alias(f"b{j}")
        for j, (half, i) in enumerate(
            [("hl", i) for i in range(32)] + [("hh", i) for i in range(32)]
        )
    ]
    agg = hashed.groupBy("doc_id").agg(*votes)

    def pack(start: int) -> F.Column:
        v = F.lit(0).cast("long")
        for j in range(32):
            v = v.bitwiseOR(
                F.when(
                    F.col(f"b{start + j}") > 0,
                    F.shiftleft(F.lit(1).cast("long"), j),
                ).otherwise(F.lit(0).cast("long"))
            )
        return v

    return agg.select("doc_id", pack(32).alias("sim_hi"), pack(0).alias("sim_lo"))


def dedup_simhash(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pairs with simhash Hamming distance <= 3 via 4-band pigeonhole blocking.

    Splitting 64 bits into 4 16-bit bands guarantees any pair within Hamming
    distance 3 agrees on at least one whole band, so the band join finds every
    qualifying pair; the Hamming filter then removes band-collision false
    positives. The md5-derived hash makes the whole pipeline SQL-portable,
    and the oracle deliberately does NOT replicate the banding: it
    enumerates all pairs and filters on Hamming directly, so the driver
    check independently proves the pigeonhole blocking loses no pair.
    """
    sh = _shingled(_docs(spark, sf_dir))
    sims = _simhash(sh)
    band_cols = [
        F.col("sim_lo").bitwiseAND(F.lit(0xFFFF)),
        F.shiftright(F.col("sim_lo"), 16).bitwiseAND(F.lit(0xFFFF)),
        F.col("sim_hi").bitwiseAND(F.lit(0xFFFF)),
        F.shiftright(F.col("sim_hi"), 16).bitwiseAND(F.lit(0xFFFF)),
    ]
    bands = sims.select(
        "doc_id",
        "sim_hi",
        "sim_lo",
        F.explode(
            F.array(
                *[
                    F.struct(F.lit(i).alias("band_id"), c.alias("band_val"))
                    for i, c in enumerate(band_cols)
                ]
            )
        ).alias("band"),
    ).select("doc_id", "sim_hi", "sim_lo", "band.band_id", "band.band_val")
    a = bands.alias("a")
    b = bands.alias("b")
    hamming = F.bit_count(
        F.col("a.sim_hi").bitwiseXOR(F.col("b.sim_hi"))
    ) + F.bit_count(F.col("a.sim_lo").bitwiseXOR(F.col("b.sim_lo")))
    return (
        a.join(
            b,
            (F.col("a.band_id") == F.col("b.band_id"))
            & (F.col("a.band_val") == F.col("b.band_val"))
            & (F.col("a.doc_id") < F.col("b.doc_id")),
        )
        .select(
            F.col("a.doc_id").alias("doc_a"),
            F.col("b.doc_id").alias("doc_b"),
            hamming.cast("int").alias("hamming"),
        )
        .distinct()
        .filter(F.col("hamming") <= 3)
    )


def _simhash_oracle_sql() -> str:
    """All-pairs Hamming oracle over the same md5 bit votes (no banding —
    see :func:`dedup_simhash`). 64 unrolled vote columns, same unrolled-SQL
    technique as the PageRank/k-core oracles."""
    vote_cols = ",\n".join(
        f"         SUM(CASE WHEN ({half} >> {i}) & 1 = 1 THEN 1 ELSE -1 END) AS b{j}"
        for j, (half, i) in enumerate(
            [("hl", i) for i in range(32)] + [("hh", i) for i in range(32)]
        )
    )
    pack_lo = " | ".join(
        f"(CASE WHEN b{j} > 0 THEN (1::BIGINT << {j}) ELSE 0 END)" for j in range(32)
    )
    pack_hi = " | ".join(
        f"(CASE WHEN b{32 + j} > 0 THEN (1::BIGINT << {j}) ELSE 0 END)"
        for j in range(32)
    )
    return f"""
WITH docs AS (
  SELECT doc_id,
         string_split(regexp_replace(trim(text), '\\s+', ' ', 'g'), ' ') AS w
  FROM documents
),
sh AS (
  SELECT doc_id,
         list_distinct(list_transform(range(1, len(w) - 1),
                                      i -> w[i] || ' ' || w[i+1] || ' ' || w[i+2])) AS s
  FROM docs
  WHERE len(w) >= 3
),
hashed AS (
  SELECT doc_id,
         CAST('0x' || substr(md5(shingle), 1, 8) AS BIGINT) AS hh,
         CAST('0x' || substr(md5(shingle), 9, 8) AS BIGINT) AS hl
  FROM (SELECT doc_id, UNNEST(s) AS shingle FROM sh)
),
votes AS (
  SELECT doc_id,
{vote_cols}
  FROM hashed GROUP BY doc_id
),
sims AS (
  SELECT doc_id, {pack_hi} AS sim_hi, {pack_lo} AS sim_lo FROM votes
)
SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
       CAST(bit_count(xor(a.sim_hi, b.sim_hi))
          + bit_count(xor(a.sim_lo, b.sim_lo)) AS INT) AS hamming
FROM sims a JOIN sims b ON a.doc_id < b.doc_id
WHERE bit_count(xor(a.sim_hi, b.sim_hi)) + bit_count(xor(a.sim_lo, b.sim_lo)) <= 3
"""


DEDUP_SIMHASH_SQL = _simhash_oracle_sql()


# --- embedding cosine near-dup ------------------------------------------

def _dot(a: F.Column, b: F.Column) -> F.Column:
    """Sequential-order double dot product (bit-identical across engines)."""
    return F.aggregate(
        F.zip_with(a, b, lambda x, y: x.cast("double") * y.cast("double")),
        F.lit(0.0),
        lambda acc, v: acc + v,
    )


COSINE_BROADCAST_CAP = 1_000_000   # corpus rows above which tiling kicks in
# The broadcast route materializes id + vector on the driver, so the gate
# must be byte-aware, not just row-aware: 1M rows of 1024-dim float64 is
# ~8 GB — far past any sane driver/broadcast budget even though the row
# count passes. Estimated bytes = rows * (8 id + dim * 8 doubles).
COSINE_BROADCAST_MAX_BYTES = 256 << 20  # 256 MiB
COSINE_TILE_ROWS = 4096            # target vectors per block in the tiled path
# The blocked path replicates every vector to n_blocks block-pair groups, so
# shuffle volume is n * n_blocks vectors — quadratic in the corpus. Exact
# threshold search is inherently O(n^2) COMPUTE, but the engine must never
# silently ship O(n^2) DATA without a ceiling: with n_blocks =
# ceil(n / COSINE_TILE_ROWS) capped at COSINE_MAX_BLOCKS, the exact paths
# accept at most TILE * MAX_BLOCKS = ~1M vectors (<= 256x replication).
# Larger corpora must go through :func:`dedup_embedding_cosine_prefiltered`
# (LSH candidate generation + exact verification, documented recall model)
# — the router raises rather than degrade exactness or melt the shuffle
# tier at 100x scale.
COSINE_MAX_BLOCKS = 256
COSINE_EXACT_MAX_ROWS = COSINE_TILE_ROWS * COSINE_MAX_BLOCKS  # 1,048,576


def _tile_cosines(mat_a, mat_b):
    """Dimension-major tile x tile cosine matrix.

    Accumulating acc += A[:,k]*B[:,k] with k ascending preserves the
    sequential per-pair summation order, so the cosine doubles stay
    bit-identical to the DuckDB oracle's list_sum — unlike np.dot/GEMM,
    whose blocked summation reorders additions.
    """
    import numpy as np

    na = np.zeros(mat_a.shape[0], dtype=np.float64)
    nb = np.zeros(mat_b.shape[0], dtype=np.float64)
    dots = np.zeros((mat_a.shape[0], mat_b.shape[0]), dtype=np.float64)
    for k in range(mat_a.shape[1]):
        ca, cb = mat_a[:, k], mat_b[:, k]
        na += ca * ca
        nb += cb * cb
        dots += ca[:, None] * cb[None, :]
    return dots / (np.sqrt(na)[:, None] * np.sqrt(nb)[None, :])


def _cosine_pairs_broadcast(spark: SparkSession, emb: DataFrame) -> DataFrame:
    """Small-corpus fast path: corpus tiles stream through ``mapInPandas``
    (Arrow batches) against a broadcast of the full id+vector matrix.
    Driver materialization is gated by the COSINE_BROADCAST_CAP routing in
    :func:`dedup_embedding_cosine` — beyond the cap the blocked path runs
    instead (no collect anywhere).
    """
    from collections.abc import Iterator

    import numpy as np
    import pandas as pd

    rows = emb.collect()  # bounded by COSINE_BROADCAST_CAP via the router
    ids = np.array([r.vec_id for r in rows], dtype=np.int64)
    mat = np.array([r.e for r in rows], dtype=np.float64)
    b_ids = spark.sparkContext.broadcast(ids)
    b_mat = spark.sparkContext.broadcast(mat)
    threshold = COSINE_T

    def tiles(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        all_ids, all_mat = b_ids.value, b_mat.value
        for pdf in batches:
            tile_ids = pdf["vec_id"].to_numpy(dtype=np.int64)
            tile = np.array(list(pdf["e"]), dtype=np.float64)
            cos = _tile_cosines(tile, all_mat)
            ii, jj = np.nonzero((cos >= threshold) & (tile_ids[:, None] < all_ids[None, :]))
            yield pd.DataFrame(
                {
                    "vec_a": tile_ids[ii],
                    "vec_b": all_ids[jj],
                    "cosine": cos[ii, jj],
                }
            )

    return emb.mapInPandas(tiles, schema="vec_a BIGINT, vec_b BIGINT, cosine DOUBLE")


def _cosine_pairs_blocked(emb: DataFrame, n_blocks: int) -> DataFrame:
    """Scale path: shuffle-native block-nested all-pairs, no driver state.

    Every vector hashes to one of ``n_blocks`` blocks; each vector is
    replicated to the n_blocks block-PAIR groups it participates in
    (explode over partner blocks, keyed by the ordered pair), and
    ``applyInPandas`` computes each tile x tile cosine with the same
    dimension-major kernel as the broadcast path — bit-identical output.

    Cost model at 100 TB: exact threshold search is inherently O(n^2/cluster)
    compute; what must NOT be O(n^2) is data movement or any single-node
    buffer. Here the shuffle is n * n_blocks small rows (vector + two int
    keys), each group holds <= 2 tiles (~2 * COSINE_TILE_ROWS vectors), and
    groups spread across the cluster by (pa, pb) hash — no collect, no
    cartesian join node, executor memory bounded by tile size regardless of
    corpus size.
    """
    import numpy as np
    import pandas as pd

    v = emb.withColumn(
        "blk", F.pmod(F.xxhash64("vec_id"), F.lit(n_blocks)).cast("int")
    )
    replicated = v.select(
        "vec_id",
        "e",
        "blk",
        F.explode(F.sequence(F.lit(0), F.lit(n_blocks - 1))).alias("other"),
    ).select(
        F.least("blk", "other").alias("pa"),
        F.greatest("blk", "other").alias("pb"),
        "blk",
        "vec_id",
        "e",
    )
    threshold = COSINE_T

    def fold(pdf: pd.DataFrame) -> pd.DataFrame:
        pa, pb = int(pdf["pa"].iat[0]), int(pdf["pb"].iat[0])
        if pa == pb:
            ids = pdf["vec_id"].to_numpy(dtype=np.int64)
            mat = np.array(list(pdf["e"]), dtype=np.float64)
            cos = _tile_cosines(mat, mat)
            ii, jj = np.nonzero((cos >= threshold) & (ids[:, None] < ids[None, :]))
            return pd.DataFrame(
                {"vec_a": ids[ii], "vec_b": ids[jj], "cosine": cos[ii, jj]}
            )
        a_rows = pdf[pdf["blk"] == pa]
        b_rows = pdf[pdf["blk"] == pb]
        ids_a = a_rows["vec_id"].to_numpy(dtype=np.int64)
        ids_b = b_rows["vec_id"].to_numpy(dtype=np.int64)
        cos = _tile_cosines(
            np.array(list(a_rows["e"]), dtype=np.float64),
            np.array(list(b_rows["e"]), dtype=np.float64),
        )
        ii, jj = np.nonzero(cos >= threshold)
        lo = np.minimum(ids_a[ii], ids_b[jj])
        hi = np.maximum(ids_a[ii], ids_b[jj])
        return pd.DataFrame({"vec_a": lo, "vec_b": hi, "cosine": cos[ii, jj]})

    return replicated.groupBy("pa", "pb").applyInPandas(
        fold, schema="vec_a BIGINT, vec_b BIGINT, cosine DOUBLE"
    )


def _cosine_route(spark: SparkSession, emb: DataFrame) -> DataFrame:
    """Route an (vec_id, e) corpus to the right exact-cosine path.

    Broadcast needs BOTH gates green — row count AND estimated driver bytes
    (rows x (8 + dim x 8); dim read from one row, not a full scan) — because
    a row cap alone is byte-blind: 1M x 1024-dim float64 is ~8 GB of driver
    heap. The blocked path is accepted up to COSINE_EXACT_MAX_ROWS, which
    by construction caps its replication factor at COSINE_MAX_BLOCKS.
    Beyond that, exact all-pairs would ship O(n^2) shuffle data, so the
    router refuses loudly and points at the prefiltered variant instead of
    "working" into a cluster-melting plan.
    """
    # A real (column-pruned, zero-column) count job — cheap, but NOT parquet
    # footer metadata unless spark.sql.parquet.aggregatePushdown is enabled
    # (it is not, and emb is usually a derived plan, not a bare scan anyway).
    n = emb.count()
    first = emb.select(F.size("e").alias("d")).first()
    dim = int(first["d"]) if first is not None else 0
    est_bytes = n * (8 + dim * 8)
    if n <= COSINE_BROADCAST_CAP and est_bytes <= COSINE_BROADCAST_MAX_BYTES:
        return _cosine_pairs_broadcast(spark, emb)
    if n <= COSINE_EXACT_MAX_ROWS:
        return _cosine_pairs_blocked(emb, -(-n // COSINE_TILE_ROWS))
    raise ValueError(
        f"exact cosine dedup is bounded at {COSINE_EXACT_MAX_ROWS} vectors "
        f"(corpus has {n}): the blocked all-pairs path would replicate each "
        f"vector {-(-n // COSINE_TILE_ROWS)}x through the shuffle. Use "
        "dedup_embedding_cosine_prefiltered (LSH candidate generation + "
        "exact verification; recall model in its docstring) or shrink the "
        "corpus."
    )


def dedup_embedding_cosine(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Vector pairs with cosine >= 0.42, exactly (block-tiled GEMM-style).

    Routes by corpus size AND bytes (see :func:`_cosine_route`): small
    corpora take the mapInPandas-vs-broadcast fast path (one pass over the
    corpus, zero shuffle); larger ones take the shuffle-native blocked
    all-pairs path, which never materializes the corpus on the driver; past
    the documented exact-search ceiling the router raises. Both exact paths
    share one dimension-major kernel, so they are bit-identical to each
    other and to the SQL oracle (equality pinned in tests; the blocked path
    also ships as the ``dedup_embedding_cosine_tiled`` registry entry
    against the same oracle).
    """
    emb = load_table(spark, sf_dir, "embeddings").select(
        "vec_id", F.col("embedding").cast("array<double>").alias("e")
    )
    return _cosine_route(spark, emb)


def dedup_embedding_cosine_prefiltered(
    spark: SparkSession,
    emb: DataFrame,
    tables: int = 4,
    bits: int | None = None,
) -> DataFrame:
    """Near-dup pairs via LSH candidate generation + EXACT verification —
    the scale route past the exact-search ceiling (> COSINE_EXACT_MAX_ROWS).

    Candidate generation reuses the hyperplane signatures from
    ``similarity._signatures`` (sign bits of exact integer projections on
    md5-derived planes — deterministic and portable across engines). The
    banding shuffle is NARROW: only (vec_id,
    table_id, bucket) flows through the self-join; vectors are joined back
    per candidate pair, and the cosine is computed with the same
    sequential-order arithmetic as the exact kernels (``_dot`` accumulation
    + norm product), so every EMITTED pair carries a bit-identical cosine —
    the approximation is recall-only.

    Bucket granularity must track the corpus: expected candidates are
    ~ n^2 * tables / 2^bits, so ``bits`` defaults to ceil(log2(n)) clamped
    to [8, 24] — buckets stay ~O(1)-occupancy and the candidate set ~O(n)
    at any corpus size (8 fixed bits would be quadratic-per-bucket at 1M).

    Recall model (documented, not hidden): a pair at angle theta collides
    in one table with p = (1 - theta/pi)^bits and survives with
    1-(1-p)^tables — decaying fast for loose pairs as bits grow, but the
    near-IDENTICAL (cosine ~1, theta ~0) pairs dedup actually targets have
    p ~ 1 per bit, so their recall stays ~1.0 at any bits. Raise ``tables``
    when hunting looser thresholds. Planted-duplicate equality vs the exact
    path is pinned in tests/test_pipeline_ops.py.
    """
    import math

    from .similarity import _signatures, _with_norm

    if bits is None:
        n = emb.count()
        bits = min(24, max(8, math.ceil(math.log2(max(n, 2)))))
    normed = _with_norm(emb)  # vec_id, e, norm
    # Persist the signature table: BOTH sides of the banding self-join
    # consume it, and the signature kernel (mapInPandas int64 matmul) has
    # no exchange below the join for ReusedExchange to dedup the two sides
    # with — unpersisted, the quantize+project kernel runs once per side
    # (r16; same shared-subtree discipline as minhash_lsh_df's band table).
    from pyspark.storagelevel import StorageLevel

    sig = (
        _signatures(normed, tables=tables, bits=bits)
        .select("vec_id", "table_id", "bucket")
        .persist(StorageLevel.MEMORY_AND_DISK)
    )
    cand = (
        sig.alias("a")
        .join(sig.alias("b"), ["table_id", "bucket"])
        .where(F.col("a.vec_id") < F.col("b.vec_id"))
        .select(F.col("a.vec_id").alias("vec_a"), F.col("b.vec_id").alias("vec_b"))
        .distinct()
    )
    va = normed.select(
        F.col("vec_id").alias("vec_a"), F.col("e").alias("ea"), F.col("norm").alias("na")
    )
    vb = normed.select(
        F.col("vec_id").alias("vec_b"), F.col("e").alias("eb"), F.col("norm").alias("nb")
    )
    return (
        cand.join(va, "vec_a")
        .join(vb, "vec_b")
        .select(
            "vec_a",
            "vec_b",
            (_dot(F.col("ea"), F.col("eb")) / (F.col("na") * F.col("nb"))).alias(
                "cosine"
            ),
        )
        .where(F.col("cosine") >= COSINE_T)
    )


def dedup_embedding_cosine_tiled(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The blocked all-pairs path, forced (8 blocks -> 36 block-pair groups
    even on the small test corpora), so the at-scale code path gets its own
    driver correctness row against the exact oracle."""
    emb = load_table(spark, sf_dir, "embeddings").select(
        "vec_id", F.col("embedding").cast("array<double>").alias("e")
    )
    return _cosine_pairs_blocked(emb, 8)


# Fixed LSH geometry for the registry entry (the library function derives
# bits from the corpus size; an oracle needs ONE static SQL string valid at
# every sf, so the entry pins the geometry instead). The testdata
# embeddings carry only LOOSE pairs (max cosine ~0.51, theta ~59deg), so a
# fine geometry would emit ZERO rows at every gate sf — a vacuous hash
# match, the g_triangles lesson. 8 tables x 8 bits measured non-vacuous at
# all shipped SFs (4 / 8 / 87 emitted pairs at sf0.001/0.01/0.1) with
# candidates bounded ~n^2*8/256.
PREFILTER_TABLES = 8
PREFILTER_BITS = 8


def dedup_embedding_cosine_prefiltered_entry(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Registry entry for :func:`dedup_embedding_cosine_prefiltered` — the
    documented >1M-vector route (the path that matters at 100 TB) finally
    under the driver's eye (r09 verdict #6).

    The LSH candidate stage is recall-lossy for LOOSE pairs by design, so
    this cannot share the exhaustive all-pairs oracle the exact routes use;
    instead the oracle (below) REPLAYS the md5-derived hyperplane bucketing
    with the same exact integer arithmetic as ``similarity._signatures``
    (the SIM_TOPK_LSH_SQL playbook) and applies the same exact-cosine
    verification to the same candidate set — equality is by construction,
    certifying the candidate generation itself, not just the verification.
    """
    emb = load_table(spark, sf_dir, "embeddings").select(
        "vec_id", F.col("embedding").cast("array<double>").alias("e")
    )
    return dedup_embedding_cosine_prefiltered(
        spark, emb, tables=PREFILTER_TABLES, bits=PREFILTER_BITS
    )


def _prefiltered_oracle_sql() -> str:
    from .similarity import LSH_PLANE_CENTER, LSH_PLANE_MOD, LSH_QUANT_SCALE

    return f"""
WITH v AS (
  SELECT vec_id, CAST(embedding AS DOUBLE[]) AS e FROM embeddings
),
n AS (
  SELECT vec_id, e, sqrt(list_sum(list_transform(e, x -> x * x))) AS norm,
         list_transform(e, x -> CAST(round(x * {LSH_QUANT_SCALE}) AS BIGINT)) AS q
  FROM v
),
planes AS (
  SELECT t.t, b.b, i.i,
         CAST('0x' || substr(md5(CAST(t.t AS VARCHAR) || '|' ||
                                 CAST(b.b AS VARCHAR) || '|' ||
                                 CAST(i.i AS VARCHAR)), 1, 8) AS BIGINT)
           % {LSH_PLANE_MOD} - {LSH_PLANE_CENTER} AS w
  FROM (SELECT UNNEST(range({PREFILTER_TABLES})) AS t) t,
       (SELECT UNNEST(range({PREFILTER_BITS})) AS b) b,
       (SELECT UNNEST(range(64)) AS i) i
),
proj AS (
  SELECT n.vec_id, p.t, p.b, SUM(n.q[p.i + 1] * p.w) AS s
  FROM n CROSS JOIN planes p
  GROUP BY 1, 2, 3
),
sig AS (
  SELECT vec_id, t,
         SUM(CASE WHEN s >= 0 THEN CAST(1 AS BIGINT) << b ELSE 0 END) AS bucket
  FROM proj GROUP BY 1, 2
),
cand AS (
  SELECT DISTINCT a.vec_id AS vec_a, b.vec_id AS vec_b
  FROM sig a JOIN sig b ON a.t = b.t AND a.bucket = b.bucket
                       AND a.vec_id < b.vec_id
)
SELECT vec_a, vec_b, cosine FROM (
  SELECT c.vec_a, c.vec_b,
         list_sum(list_transform(range(1, len(a.e) + 1), i -> a.e[i] * b.e[i]))
           / (a.norm * b.norm) AS cosine
  FROM cand c JOIN n a ON a.vec_id = c.vec_a JOIN n b ON b.vec_id = c.vec_b
)
WHERE cosine >= {COSINE_T}
"""


DEDUP_EMBEDDING_COSINE_PREFILTERED_SQL = _prefiltered_oracle_sql()


# --- dup-pair clustering (pairs -> connected components -> survivors) ----

def dedup_clusters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Group near-dup pairs into clusters; survivor = min doc_id per cluster.

    A dedup pipeline needs transitive closure, not pairs: if A~B and B~C,
    exactly one of {A,B,C} should survive even though A~C may be below
    threshold. This runs min-label propagation (the same Pregel pattern as
    ``graph_analytics.connected_components``) over the MinHash-LSH pair
    graph, whose vertex set is only the documents that appear in some pair
    — a small fraction of the corpus, so the loop state stays tiny even at
    100 TB while pair-finding itself remains bucketed LSH (never all-pairs).

    Returns (doc_id, cluster_id, is_survivor) with cluster_id = min doc_id
    reachable through near-dup edges. Converges in O(cluster diameter)
    supersteps — near-dup clusters are shallow (chains of transitive
    near-dups), so this is a handful of shuffles on doc_id.
    """
    return dedup_clusters_df(spark, _docs(spark, sf_dir))


def dedup_clusters_df(spark: SparkSession, docs: DataFrame) -> DataFrame:
    """df-level :func:`dedup_clusters` (same pattern as minhash_lsh_df), so
    pipeline compositions can cluster an already-filtered corpus instead of
    the raw table."""
    from .graph_analytics import min_label_loop

    pairs = minhash_lsh_df(docs).select("doc_a", "doc_b")
    edges = barrier(
        pairs.select(F.col("doc_a").alias("src"), F.col("doc_b").alias("dst"))
        .union(pairs.select(F.col("doc_b").alias("src"), F.col("doc_a").alias("dst")))
        .distinct(),
        eager=True,
    )
    labels = barrier(
        edges.select(F.col("src").alias("doc_id"))
        .distinct()
        .withColumn("cluster_id", F.col("doc_id")),
        eager=True,
    )
    labels = min_label_loop(labels, edges, ["doc_id"], "cluster_id", max_iterations=50)
    return labels.select(
        "doc_id",
        "cluster_id",
        (F.col("doc_id") == F.col("cluster_id")).alias("is_survivor"),
    )


# Transitive closure of the exact-Jaccard pair graph: recursive min-label
# reachability. LSH + verification equals the exact pair set (miss prob
# ~1e-8), so the cluster assignment matches exactly. `sh` is MATERIALIZED
# because DuckDB otherwise inlines the shingle build into both join sides.
DEDUP_CLUSTERS_SQL = """
WITH RECURSIVE docs AS (
  SELECT doc_id,
         string_split(regexp_replace(trim(text), '\\s+', ' ', 'g'), ' ') AS w
  FROM documents
),
sh AS MATERIALIZED (
  SELECT doc_id,
         list_distinct(list_transform(range(1, len(w) - 1),
                                      i -> w[i] || ' ' || w[i+1] || ' ' || w[i+2])) AS s
  FROM docs
  WHERE len(w) >= 3
),
pre AS MATERIALIZED (
  -- r10: same lossless prefix filter as _NGRAM_ORACLE_CORE (AllPairs
  -- lemma, lexicographic shingle order) so this oracle also leaves the
  -- quadratic regime and joins the sf0.1 sweep
  SELECT doc_id, len(s) AS n_sh,
         unnest(list_sort(s)[1 : len(s) - CAST(ceil(len(s) * 0.5) AS BIGINT) + 1]) AS h
  FROM sh
),
cand AS MATERIALIZED (
  SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
  FROM pre a JOIN pre b
    ON a.h = b.h AND a.doc_id < b.doc_id
   AND b.n_sh >= a.n_sh * 0.5 AND a.n_sh >= b.n_sh * 0.5
),
pairs AS MATERIALIZED (
  SELECT c.doc_a, c.doc_b
  FROM cand c JOIN sh a ON a.doc_id = c.doc_a JOIN sh b ON b.doc_id = c.doc_b
  WHERE CAST(len(a.s) + len(b.s) - len(list_distinct(list_concat(a.s, b.s))) AS DOUBLE)
          / CAST(len(list_distinct(list_concat(a.s, b.s))) AS DOUBLE) >= 0.5
),
edges AS MATERIALIZED (
  SELECT doc_a AS src, doc_b AS dst FROM pairs
  UNION
  SELECT doc_b, doc_a FROM pairs
),
walk(doc_id, lbl) AS (
  SELECT src, src FROM edges
  UNION
  SELECT e.dst, w.lbl FROM walk w JOIN edges e ON e.src = w.doc_id
)
SELECT doc_id, MIN(lbl) AS cluster_id, doc_id = MIN(lbl) AS is_survivor
FROM walk GROUP BY doc_id
"""


# r10: the dot product is DuckDB's native list_dot_product — bit-identical
# to the interpreted list_sum(list_transform(...)) fold (same sequential
# accumulation; verified element-for-element at sf0.01) but ~27x faster,
# which keeps this deliberately-exhaustive exact-route oracle inside the
# sf0.1 sweep (~2 s for 12.5M pairs instead of ~1 min).
DEDUP_EMBEDDING_COSINE_SQL = """
WITH v AS (
  SELECT vec_id, CAST(embedding AS DOUBLE[]) AS e FROM embeddings
),
n AS (
  SELECT vec_id, e, sqrt(list_sum(list_transform(e, x -> x * x))) AS norm FROM v
),
pairs AS (
  SELECT a.vec_id AS vec_a, b.vec_id AS vec_b,
         list_dot_product(a.e, b.e) / (a.norm * b.norm) AS cosine
  FROM n a JOIN n b ON a.vec_id < b.vec_id
)
SELECT vec_a, vec_b, cosine FROM pairs WHERE cosine >= 0.42
"""


# --- duplicated-span detection (substring-level dedup) -------------------

DUP_SPAN_K = 8            # words per gram: spans shorter than this survive
DUP_SPAN_MIN_OCC = 2      # corpus-wide occurrences that make a gram "dup"


def dup_spans_df(
    docs: DataFrame,
    k: int = DUP_SPAN_K,
    min_occurrences: int = DUP_SPAN_MIN_OCC,
    cross_doc: bool = False,
) -> DataFrame:
    """Maximal duplicated word spans per document (substring-level dedup).

    Document-level dedup misses the dominant failure mode of web corpora:
    *partial* duplication — boilerplate, license headers, quoted passages —
    embedded in otherwise-unique documents (the motivation for exact
    substring dedup in Lee et al., "Deduplicating Training Data Makes
    Language Models Better", 2022). This finds every maximal word span all
    of whose length-``k`` grams occur at least ``min_occurrences`` times
    corpus-wide (within-doc repeats count — a doc that repeats its own
    paragraph is also duplication), expressed relationally:

    1. positional k-grams per doc (``NGram`` + ``posexplode`` — narrow),
       keyed by ``xxhash64`` of the gram text (fixed-width join key, same
       collision argument as the Jaccard inverted index);
    2. corpus-wide occurrence counts — ONE hash aggregate with map-side
       combine on the gram hash (near-uniform by construction);
    3. keyed semi-join back to positions (fan-out = true occurrence count,
       proportional to output, never quadratic);
    4. per-doc interval merge of the surviving [pos, pos+k-1] windows via
       gaps-and-islands (running-max end, window partitioned by doc_id —
       bounded by doc length, never by corpus size).

    Returns ``(doc_id, span_start, span_end, n_grams)`` in word
    coordinates, inclusive. Deterministic; engine-hash-dependent only
    through xxhash64 gram keys (collisions could only *add* a span gram,
    probability ~|grams|^2/2^64 — the same envelope the verified-LSH path
    documents), so correctness is pinned against an independent pure-Python
    reference in tests rather than a SQL oracle.
    """
    from pyspark.ml.feature import NGram
    from pyspark.sql import Window

    from pyspark.storagelevel import StorageLevel

    with_words = docs.select("doc_id", F.split(_norm_text(), " ").alias("w"))
    grams = NGram(n=k, inputCol="w", outputCol="grams").transform(with_words)
    # Persisted: the positional-gram table feeds both the occurrence count
    # and the position semi-join; without it the NGram + posexplode pass
    # over the corpus runs twice.
    pos = grams.select(
        "doc_id", F.posexplode("grams").alias("pos", "gram")
    ).select("doc_id", "pos", F.xxhash64("gram").alias("gh")).persist(
        StorageLevel.MEMORY_AND_DISK
    )
    # cross_doc counts DISTINCT documents per gram (the suffix-array
    # contract of Lee et al. 2022: a run is duplicated only if it appears
    # in ANOTHER document), default counts raw occurrences (within-doc
    # repeats also count). Both are one hash aggregate with map-side
    # combine; count-distinct adds a (gh, doc_id) pre-dedup, still keyed
    # on the near-uniform gram hash.
    occ = F.countDistinct("doc_id") if cross_doc else F.count("*")
    dup_keys = (
        pos.groupBy("gh")
        .agg(occ.alias("occ"))
        .where(F.col("occ") >= min_occurrences)
        .select("gh")
    )
    dup_pos = pos.join(dup_keys, "gh", "left_semi").select(
        "doc_id", "pos", (F.col("pos") + k - 1).alias("end")
    )
    w = Window.partitionBy("doc_id").orderBy("pos")
    prev_max_end = F.max("end").over(w.rowsBetween(Window.unboundedPreceding, -1))
    islands = dup_pos.withColumn(
        "island",
        F.sum(
            F.when(
                prev_max_end.isNull() | (F.col("pos") > prev_max_end + 1), 1
            ).otherwise(0)
        ).over(w),
    )
    return (
        islands.groupBy("doc_id", "island")
        .agg(
            F.min("pos").cast("int").alias("span_start"),
            F.max("end").cast("int").alias("span_end"),
            F.count("*").cast("bigint").alias("n_grams"),
        )
        .select("doc_id", "span_start", "span_end", "n_grams")
    )


def scrub_dup_spans_df(
    docs: DataFrame,
    k: int = DUP_SPAN_K,
    min_occurrences: int = DUP_SPAN_MIN_OCC,
    cross_doc: bool = False,
) -> DataFrame:
    """Rewrite each document with its duplicated spans removed.

    The span table from :func:`dup_spans_df` is aggregated to one array of
    (start, end) structs per affected doc — bounded by doc length — and
    joined back on ``doc_id`` (keyed, broadcast-eligible when the affected
    set is small). The rewrite itself is pure JVM higher-order-function
    code: index-tag every word with ``transform``, drop words covered by
    any span with ``filter`` + ``exists``, re-join with ``concat_ws`` — no
    shuffle beyond the span computation and no Python in the hot path.

    Returns ``(doc_id, text, n_words_removed)`` where untouched docs pass
    through with their normalized text and 0 removed.
    """
    spans_arr = (
        dup_spans_df(docs, k=k, min_occurrences=min_occurrences, cross_doc=cross_doc)
        .groupBy("doc_id")
        .agg(
            F.collect_list(F.struct("span_start", "span_end")).alias("spans")
        )
    )
    words = F.split(_norm_text(), " ")
    indexed = F.transform(words, lambda wd, i: F.struct(wd.alias("wd"), i.alias("i")))
    kept = F.filter(
        indexed,
        lambda s: ~F.exists(
            F.col("spans"),
            lambda sp: (s["i"] >= sp["span_start"]) & (s["i"] <= sp["span_end"]),
        ),
    )
    joined = docs.join(spans_arr, "doc_id", "left")
    return joined.select(
        "doc_id",
        F.when(F.col("spans").isNull(), _norm_text())
        .otherwise(F.concat_ws(" ", F.transform(kept, lambda s: s["wd"])))
        .alias("text"),
        F.when(F.col("spans").isNull(), F.lit(0))
        .otherwise(F.size(words) - F.size(kept))
        .cast("int")
        .alias("n_words_removed"),
    )


DEDUP_QUERIES: dict[str, tuple] = {
    "dedup_exact": (dedup_exact, DEDUP_EXACT_SQL),
    "dedup_ngram_jaccard": (dedup_ngram_jaccard, DEDUP_NGRAM_JACCARD_SQL),
    "dedup_minhash_lsh": (dedup_minhash_lsh, DEDUP_MINHASH_LSH_SQL),
    "dedup_clusters": (dedup_clusters, DEDUP_CLUSTERS_SQL),
    "dedup_simhash": (dedup_simhash, DEDUP_SIMHASH_SQL),
    "dedup_embedding_cosine": (dedup_embedding_cosine, DEDUP_EMBEDDING_COSINE_SQL),
    "dedup_embedding_cosine_tiled": (
        dedup_embedding_cosine_tiled,
        DEDUP_EMBEDDING_COSINE_SQL,
    ),
}


def containment_df(
    docs: DataFrame,
    n: int = 3,
    min_containment: float = 0.8,
    min_shingles: int = 1,
) -> DataFrame:
    """Asymmetric near-containment: pairs where most of the SMALLER
    document's shingles appear in the other —
    containment(A→B) = |A∩B| / |A|. Catches quote-inclusion and
    boilerplate-wrapping duplicates that symmetric Jaccard structurally
    misses (a short doc fully quoted inside a long one has tiny Jaccard
    but containment 1.0) — the Broder resemblance/containment split.

    Same inverted-index candidate shape as the Jaccard dedup: shingle →
    posting join → per-pair intersection count → containment from the
    carried set sizes; never an all-pairs product. Emits both directions'
    scores on one canonical row (doc_a < doc_b). ``min_shingles`` drops
    degenerate tiny docs.
    """
    from pyspark.storagelevel import StorageLevel

    sh = _shingled(docs, n).where(F.size("shingles") >= min_shingles)
    # Persisted: both sides of the posting self-join read this table; the
    # shingle explode would otherwise run twice over the corpus.
    sized = sh.select(
        "doc_id", F.size("shingles").alias("n_sh"), F.explode("shingles").alias("g")
    ).persist(StorageLevel.MEMORY_AND_DISK)
    a, b = sized.alias("a"), sized.alias("b")
    pairs = (
        a.join(b, on=(F.col("a.g") == F.col("b.g")) & (F.col("a.doc_id") < F.col("b.doc_id")))
        .groupBy(
            F.col("a.doc_id").alias("doc_a"),
            F.col("b.doc_id").alias("doc_b"),
        )
        .agg(
            F.count("*").alias("n_common"),
            F.first(F.col("a.n_sh")).alias("n_a"),
            F.first(F.col("b.n_sh")).alias("n_b"),
        )
    )
    return (
        pairs.select(
            "doc_a",
            "doc_b",
            "n_common",
            "n_a",
            "n_b",
            (F.col("n_common") / F.col("n_a")).alias("containment_a_in_b"),
            (F.col("n_common") / F.col("n_b")).alias("containment_b_in_a"),
        )
        .where(
            F.greatest("containment_a_in_b", "containment_b_in_a")
            >= min_containment
        )
    )


def dedup_containment(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Asymmetric near-containment pairs over documents
    (:func:`containment_df`, 3-gram shingles, threshold 0.8). Containment
    scores are exact integer divisions (IEEE-exact), so the doubles compare
    bit-for-bit against the oracle."""
    return containment_df(_docs(spark, sf_dir))


# Same shingle CTE as the Jaccard oracle; intersection size via
# |A| + |B| - |A union B| so both engines share distinct semantics.
#
# r10: the candidate stage is prefix-filtered for the CONTAINMENT
# threshold. max(containment) >= 0.8 means n_common >= 0.8 * min(|A|,|B|),
# so (integer count) n_common >= ceil(0.8 * s) for the SMALLER set S: its
# suffix beyond the first s - ceil(0.8*s) + 1 sorted shingles holds only
# ceil(0.8*s) - 1 elements — fewer than the intersection — forcing at
# least one common shingle into S's prefix. Joining the smaller side's
# PREFIX against the larger side's FULL posting list (size/tie-ordered so
# each pair is probed exactly once) is therefore lossless; verification on
# the full lists removes prefix false positives. Replaces the r06-r09
# all-pairs formulation (identical output, checked at sf0.01) so this
# oracle also joins the sf0.1 sweep.
DEDUP_CONTAINMENT_SQL = """
WITH docs AS (
  SELECT doc_id,
         string_split(regexp_replace(trim(text), '\\s+', ' ', 'g'), ' ') AS w
  FROM documents
),
sh AS MATERIALIZED (
  SELECT doc_id,
         list_distinct(list_transform(range(1, len(w) - 1),
                                      i -> w[i] || ' ' || w[i+1] || ' ' || w[i+2])) AS s
  FROM docs
  WHERE len(w) >= 3
),
pre AS (
  SELECT doc_id, len(s) AS n_sh,
         unnest(list_sort(s)[1 : len(s) - CAST(ceil(len(s) * 0.8) AS BIGINT) + 1]) AS h
  FROM sh
),
fullpost AS (
  SELECT doc_id, len(s) AS n_sh, unnest(s) AS h FROM sh
),
cand AS (
  SELECT DISTINCT least(a.doc_id, b.doc_id) AS doc_a,
                  greatest(a.doc_id, b.doc_id) AS doc_b
  FROM pre a JOIN fullpost b
    ON a.h = b.h
   AND (a.n_sh < b.n_sh OR (a.n_sh = b.n_sh AND a.doc_id < b.doc_id))
),
pairs AS (
  SELECT c.doc_a, c.doc_b,
         len(a.s) + len(b.s) - len(list_distinct(list_concat(a.s, b.s))) AS n_common,
         len(a.s) AS n_a, len(b.s) AS n_b
  FROM cand c JOIN sh a ON a.doc_id = c.doc_a JOIN sh b ON b.doc_id = c.doc_b
)
SELECT doc_a, doc_b,
       CAST(n_common AS BIGINT) AS n_common,
       CAST(n_a AS INT) AS n_a,
       CAST(n_b AS INT) AS n_b,
       CAST(n_common AS DOUBLE) / n_a AS containment_a_in_b,
       CAST(n_common AS DOUBLE) / n_b AS containment_b_in_a
FROM pairs
WHERE greatest(CAST(n_common AS DOUBLE) / n_a,
               CAST(n_common AS DOUBLE) / n_b) >= 0.8
"""


def dedup_dup_spans(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Maximal duplicated word spans per document (:func:`dup_spans_df`,
    8-word grams, >= 2 corpus-wide occurrences). The oracle reproduces the
    positional-gram + gaps-and-islands pipeline on the raw gram TEXT (no
    hashing), so an xxhash64 collision in the Spark path — the one
    engine-specific ingredient — would surface as a driver mismatch."""
    return dup_spans_df(_docs(spark, sf_dir))


DEDUP_DUP_SPANS_SQL = """
WITH docs AS (
  SELECT doc_id,
         string_split(regexp_replace(trim(text), '\\s+', ' ', 'g'), ' ') AS w
  FROM documents
),
grams AS (
  SELECT doc_id, CAST(i - 1 AS BIGINT) AS pos,
         array_to_string(list_slice(w, i, i + 7), ' ') AS gram
  FROM docs, LATERAL (SELECT unnest(range(1, len(w) - 6)) AS i)
  WHERE len(w) >= 8
),
dup AS (
  SELECT gram FROM grams GROUP BY gram HAVING count(*) >= 2
),
dp AS (
  SELECT g.doc_id, g.pos, g.pos + 7 AS e
  FROM grams g JOIN dup USING (gram)
),
pm AS (
  SELECT doc_id, pos, e,
         max(e) OVER (PARTITION BY doc_id ORDER BY pos
                      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS prev_max
  FROM dp
),
isl AS (
  SELECT doc_id, pos, e,
         sum(CASE WHEN prev_max IS NULL OR pos > prev_max + 1 THEN 1 ELSE 0 END)
           OVER (PARTITION BY doc_id ORDER BY pos) AS island
  FROM pm
)
SELECT doc_id,
       CAST(min(pos) AS INT) AS span_start,
       CAST(max(e) AS INT) AS span_end,
       CAST(count(*) AS BIGINT) AS n_grams
FROM isl GROUP BY doc_id, island
"""


DEDUP_QUERIES.update(
    {
        "dedup_containment": (dedup_containment, DEDUP_CONTAINMENT_SQL),
        "dedup_dup_spans": (dedup_dup_spans, DEDUP_DUP_SPANS_SQL),
    }
)


# --- exact-substring dedup (the suffix-array contract) --------------------

EXACT_SUBSTR_TOKENS = 50  # Lee et al. 2022 drop threshold: >= 50-token runs


def dedup_exact_substring(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact-substring dedup, the suffix-array contract of Lee et al. 2022
    ("Deduplicating Training Data Makes Language Models Better"): find
    every maximal run of >= 50 tokens that also appears in ANOTHER
    document — the spans a training pipeline drops before tokenization.

    The suffix-array algorithm is replaced by its relational equivalent
    (:func:`dup_spans_df` with ``cross_doc=True``): a run of length >= 50
    is repeated across documents iff each of its 50-token windows is — a
    position p whose 50-gram occurs in >= 2 distinct docs marks tokens
    [p, p+49] as covered — so 50-gram anchors + the keyed semi-join +
    per-doc interval merge reconstruct exactly the maximal drop spans
    without ever materializing a suffix array. Cost is
    candidate-proportional: one hash aggregate over gram keys (map-side
    combined), fan-out of the join = true duplicate mass, and the island
    merge is windowed per doc — nothing quadratic in corpus size, which
    is what lets the same plan run at 100 TB where a monolithic suffix
    array cannot be built.

    The oracle reproduces the pipeline on raw gram TEXT (no hashing), so
    an xxhash64 gram collision on the Spark side — the one
    engine-specific ingredient, probability ~|grams|^2/2^64 — would
    surface as a driver mismatch. Returns
    ``(doc_id, span_start, span_end, span_tokens)``, word coordinates,
    inclusive; span_tokens >= 50 by construction."""
    spans = dup_spans_df(
        _docs(spark, sf_dir),
        k=EXACT_SUBSTR_TOKENS,
        min_occurrences=2,
        cross_doc=True,
    )
    return spans.select(
        "doc_id",
        "span_start",
        "span_end",
        (F.col("span_end") - F.col("span_start") + 1).alias("span_tokens"),
    )


DEDUP_EXACT_SUBSTRING_SQL = f"""
WITH docs AS (
  SELECT doc_id,
         string_split(regexp_replace(trim(text), '\\s+', ' ', 'g'), ' ') AS w
  FROM documents
),
grams AS (
  SELECT doc_id, CAST(i - 1 AS BIGINT) AS pos,
         array_to_string(list_slice(w, i, i + {EXACT_SUBSTR_TOKENS - 1}), ' ') AS gram
  FROM docs, LATERAL (SELECT unnest(range(1, len(w) - {EXACT_SUBSTR_TOKENS - 2})) AS i)
  WHERE len(w) >= {EXACT_SUBSTR_TOKENS}
),
dup AS (
  SELECT gram FROM grams GROUP BY gram HAVING count(DISTINCT doc_id) >= 2
),
dp AS (
  SELECT g.doc_id, g.pos, g.pos + {EXACT_SUBSTR_TOKENS - 1} AS e
  FROM grams g JOIN dup USING (gram)
),
pm AS (
  SELECT doc_id, pos, e,
         max(e) OVER (PARTITION BY doc_id ORDER BY pos
                      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS prev_max
  FROM dp
),
isl AS (
  SELECT doc_id, pos, e,
         sum(CASE WHEN prev_max IS NULL OR pos > prev_max + 1 THEN 1 ELSE 0 END)
           OVER (PARTITION BY doc_id ORDER BY pos) AS island
  FROM pm
)
SELECT doc_id,
       CAST(min(pos) AS INT) AS span_start,
       CAST(max(e) AS INT) AS span_end,
       CAST(max(e) - min(pos) + 1 AS INT) AS span_tokens
FROM isl GROUP BY doc_id, island
"""


def dedup_scrub_substring(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The scrub half of the suffix-array contract: rewrite each document
    with its >= 50-token cross-doc repeated runs REMOVED — what a training
    pipeline actually ships downstream after
    :func:`dedup_exact_substring` finds the spans. Same HOF rewrite chain
    as :func:`dedup_scrub_spans` (transform/filter/exists/concat_ws, no
    Python in the rewrite), md5-pinned text so the gate certifies the
    exact byte output."""
    out = scrub_dup_spans_df(
        _docs(spark, sf_dir),
        k=EXACT_SUBSTR_TOKENS,
        min_occurrences=2,
        cross_doc=True,
    )
    return out.select(
        "doc_id", F.md5("text").alias("scrubbed_md5"), "n_words_removed"
    )


DEDUP_SCRUB_SUBSTRING_SQL = f"""
WITH docs AS (
  SELECT doc_id,
         regexp_replace(trim(text), '\\s+', ' ', 'g') AS t,
         string_split(regexp_replace(trim(text), '\\s+', ' ', 'g'), ' ') AS w
  FROM documents
),
grams AS (
  SELECT doc_id, CAST(i - 1 AS BIGINT) AS pos,
         array_to_string(list_slice(w, i, i + {EXACT_SUBSTR_TOKENS - 1}), ' ') AS gram
  FROM docs, LATERAL (SELECT unnest(range(1, len(w) - {EXACT_SUBSTR_TOKENS - 2})) AS i)
  WHERE len(w) >= {EXACT_SUBSTR_TOKENS}
),
dup AS (SELECT gram FROM grams GROUP BY gram HAVING count(DISTINCT doc_id) >= 2),
dp AS (
  SELECT g.doc_id, g.pos, g.pos + {EXACT_SUBSTR_TOKENS - 1} AS e
  FROM grams g JOIN dup USING (gram)
),
pm AS (
  SELECT doc_id, pos, e,
         max(e) OVER (PARTITION BY doc_id ORDER BY pos
                      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS prev_max
  FROM dp
),
isl AS (
  SELECT doc_id, pos, e,
         sum(CASE WHEN prev_max IS NULL OR pos > prev_max + 1 THEN 1 ELSE 0 END)
           OVER (PARTITION BY doc_id ORDER BY pos) AS island
  FROM pm
),
spans AS (
  SELECT doc_id, min(pos) AS a, max(e) AS b
  FROM isl GROUP BY doc_id, island
),
sp AS (
  SELECT doc_id, list(struct_pack(a := a, b := b)) AS spans
  FROM spans GROUP BY doc_id
)
SELECT d.doc_id,
       md5(CASE WHEN s.spans IS NULL THEN d.t
                ELSE COALESCE(array_to_string(
                       list_filter(d.w, (x, i) ->
                         len(list_filter(s.spans,
                             v -> (i - 1) >= v.a AND (i - 1) <= v.b)) = 0),
                       ' '), '')
           END) AS scrubbed_md5,
       CAST(CASE WHEN s.spans IS NULL THEN 0
                 ELSE len(d.w) - len(list_filter(d.w, (x, i) ->
                        len(list_filter(s.spans,
                            v -> (i - 1) >= v.a AND (i - 1) <= v.b)) = 0))
            END AS INT) AS n_words_removed
FROM docs d LEFT JOIN sp s USING (doc_id)
"""


DEDUP_QUERIES.update(
    {
        "dedup_exact_substring": (
            dedup_exact_substring,
            DEDUP_EXACT_SUBSTRING_SQL,
        ),
        "dedup_scrub_substring": (
            dedup_scrub_substring,
            DEDUP_SCRUB_SUBSTRING_SQL,
        ),
    }
)


def dedup_scrub_spans(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Duplicated-span scrubbing (:func:`scrub_dup_spans_df`): rewrite each
    document with its duplicated word spans removed. The oracle rebuilds
    the text relationally from the raw-gram span table (index-filtered
    word list), so the whole HOF rewrite chain — transform/filter/exists/
    concat_ws — certifies string-for-string."""
    out = scrub_dup_spans_df(_docs(spark, sf_dir))
    # md5 the rewritten text: pins the exact byte output without hauling
    # full documents through the driver compare (same device as PII scrub).
    return out.select(
        "doc_id", F.md5("text").alias("scrubbed_md5"), "n_words_removed"
    )


# DuckDB lambda indexes are 1-based; the word index is i - 1.
DEDUP_SCRUB_SPANS_SQL = """
WITH docs AS (
  SELECT doc_id,
         regexp_replace(trim(text), '\\s+', ' ', 'g') AS t,
         string_split(regexp_replace(trim(text), '\\s+', ' ', 'g'), ' ') AS w
  FROM documents
),
grams AS (
  SELECT doc_id, CAST(i - 1 AS BIGINT) AS pos,
         array_to_string(list_slice(w, i, i + 7), ' ') AS gram
  FROM docs, LATERAL (SELECT unnest(range(1, len(w) - 6)) AS i)
  WHERE len(w) >= 8
),
dup AS (SELECT gram FROM grams GROUP BY gram HAVING count(*) >= 2),
dp AS (
  SELECT g.doc_id, g.pos, g.pos + 7 AS e
  FROM grams g JOIN dup USING (gram)
),
pm AS (
  SELECT doc_id, pos, e,
         max(e) OVER (PARTITION BY doc_id ORDER BY pos
                      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS prev_max
  FROM dp
),
isl AS (
  SELECT doc_id, pos, e,
         sum(CASE WHEN prev_max IS NULL OR pos > prev_max + 1 THEN 1 ELSE 0 END)
           OVER (PARTITION BY doc_id ORDER BY pos) AS island
  FROM pm
),
spans AS (
  SELECT doc_id, min(pos) AS a, max(e) AS b
  FROM isl GROUP BY doc_id, island
),
sp AS (
  SELECT doc_id, list(struct_pack(a := a, b := b)) AS spans
  FROM spans GROUP BY doc_id
)
SELECT d.doc_id,
       -- COALESCE: DuckDB array_to_string([]) is NULL, Spark concat_ws is ''
       md5(CASE WHEN s.spans IS NULL THEN d.t
                ELSE COALESCE(array_to_string(
                       list_filter(d.w, (x, i) ->
                         len(list_filter(s.spans,
                             v -> (i - 1) >= v.a AND (i - 1) <= v.b)) = 0),
                       ' '), '')
           END) AS scrubbed_md5,
       CAST(CASE WHEN s.spans IS NULL THEN 0
                 ELSE len(d.w) - len(list_filter(d.w, (x, i) ->
                        len(list_filter(s.spans,
                            v -> (i - 1) >= v.a AND (i - 1) <= v.b)) = 0))
            END AS INT) AS n_words_removed
FROM docs d LEFT JOIN sp s USING (doc_id)
"""


DEDUP_QUERIES.update(
    {
        # staged round-7 rotation stock (see registry.STAGED_NEXT_ROTATION)
        "dedup_scrub_spans": (dedup_scrub_spans, DEDUP_SCRUB_SPANS_SQL),
    }
)

# --- SemDeDup: cluster-then-dedup semantic near-duplicates ----------------

SEMDEDUP_T = 0.42  # same cosine bar as the exact all-pairs dedup entries


def semdedup_df(
    spark: SparkSession,
    vecs: DataFrame,
    k: int = 8,
    iterations: int = 3,
    threshold: float = SEMDEDUP_T,
) -> DataFrame:
    """SemDeDup (Abbas et al. 2023): k-means-cluster the embedding corpus,
    then dedup ONLY within each cluster — the scale route for semantic
    near-dup when exact all-pairs (O(n^2)) and LSH (angle-only recall) both
    fall short. Semantic duplicates land in the same cluster by
    construction, so the pair search drops from O(n^2) to O(sum c_i^2).

    Pipeline, all exact-integer until the final cosine:

    1. Train :func:`~..operators.similarity.kmeans_quantized` (deterministic
       integer Lloyd, broadcast centroids, corpus never collected) and keep
       the final assignment + exact BIGINT distance-to-centroid.
    2. Self-join WITHIN cluster (shuffle keyed on ``cluster_id``): pair
       (a, b) is a duplicate link when the unshifted-integer cosine — the
       same bit-portable arithmetic as the IVF re-rank — reaches
       ``threshold``.
    3. Loser rule (deterministic): of a linked pair, the vector FARTHER
       from its centroid loses (tie: larger ``vec_id``) — SemDeDup's
       keep-the-representative-nearest-the-centroid policy. Survivors are
       everything never marked a loser.

    Returns one row per corpus vector:
    ``(vec_id, cluster_id, dist_sq, kept)`` with ``kept`` as INT 1/0 (not
    BOOLEAN: the driver hash normalizes ints engine-independently).

    At 100 TB: the clustering is the same narrow-pass + k*dim-combiner
    shape as the IVF index build; the pair join shuffles the corpus ONCE on
    ``cluster_id`` and compares only within groups — never a global product.
    ``k`` must scale with the corpus (the paper's regime is ~n/k constant,
    e.g. 50k clusters for 5B images) so per-cluster quadratic work stays
    bounded; uneven clusters are the usual AQE-skew-join case. With
    pathological cluster sizes, swap step 2's exact join for the
    LSH-prefiltered candidate generator restricted per cluster
    (:func:`dedup_embedding_cosine_prefiltered`) — same verification
    arithmetic, recall-only approximation.
    """
    from .similarity import KMEANS_SCALE, KMEANS_SHIFT, kmeans_quantized

    unshift = int(KMEANS_SHIFT * KMEANS_SCALE)
    assign = kmeans_quantized(spark, vecs, k, iterations)
    raw = F.transform("q", lambda x: x - unshift)
    norm2 = F.aggregate(
        F.zip_with(raw, raw, lambda x, y: x * y),
        F.lit(0).cast("bigint"),
        lambda acc, v: acc + v,
    )
    v = vecs.join(assign, "vec_id").select(
        "vec_id",
        "cluster_id",
        "dist_sq",
        raw.alias("r"),
        F.sqrt(norm2.cast("double")).alias("norm"),
    )
    a, b = v.alias("a"), v.alias("b")
    dot = F.aggregate(
        F.zip_with(F.col("a.r"), F.col("b.r"), lambda x, y: x * y),
        F.lit(0).cast("bigint"),
        lambda acc, x: acc + x,
    )
    losers = (
        a.join(b, F.col("a.cluster_id") == F.col("b.cluster_id"))
        .where(F.col("a.vec_id") != F.col("b.vec_id"))
        .where(
            (F.col("b.dist_sq") < F.col("a.dist_sq"))
            | (
                (F.col("b.dist_sq") == F.col("a.dist_sq"))
                & (F.col("b.vec_id") < F.col("a.vec_id"))
            )
        )
        .where(
            dot.cast("double") / (F.col("a.norm") * F.col("b.norm"))
            >= F.lit(threshold)
        )
        .select(F.col("a.vec_id").alias("vec_id"))
        .distinct()
        .withColumn("is_loser", F.lit(1))
    )
    return v.join(losers, "vec_id", "left").select(
        "vec_id",
        "cluster_id",
        "dist_sq",
        F.when(F.col("is_loser").isNull(), F.lit(1)).otherwise(F.lit(0)).alias("kept"),
    )


def dedup_semdedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SemDeDup over the embeddings corpus (k = 8 trained clusters, cosine
    bar 0.42 — the registry's exact-dedup threshold, restricted within
    cluster)."""
    from .similarity import _emb_quantized

    return semdedup_df(spark, _emb_quantized(spark, sf_dir))


def _semdedup_sql(threshold: float) -> str:
    """Exact oracle: replay the quantized Lloyd chain (shared CTEs with the
    k-means/IVF oracles), the within-cluster unshifted-integer cosine, and
    the farther-from-centroid loser rule. Every quantity is exact-integer
    or a double derived from exact integers via the same IEEE ops on both
    engines, so the comparison against ``threshold`` is bit-identical."""
    from .similarity import KMEANS_SCALE, KMEANS_SHIFT, _kmeans_ctes

    unshift = int(KMEANS_SHIFT * KMEANS_SCALE)
    return (
        _kmeans_ctes(8, 3).replace("{dim}", "64")
        + f""",
sdn AS MATERIALIZED (
  SELECT vec_id, cluster_id, CAST(dist_sq AS BIGINT) AS dist_sq,
         list_transform(q, x -> x - {unshift}) AS r,
         sqrt(CAST(list_sum(list_transform(q, x -> (x - {unshift}) * (x - {unshift}))) AS DOUBLE)) AS norm
  FROM ka3
),
sdl AS (
  SELECT DISTINCT a.vec_id
  FROM sdn a JOIN sdn b
    ON a.cluster_id = b.cluster_id AND a.vec_id <> b.vec_id
  WHERE (b.dist_sq < a.dist_sq
         OR (b.dist_sq = a.dist_sq AND b.vec_id < a.vec_id))
    AND CAST(list_sum(list_transform(range(1, len(a.r) + 1),
                                     i -> a.r[i] * b.r[i])) AS DOUBLE)
          / (a.norm * b.norm) >= {threshold!r}
)
SELECT v.vec_id, v.cluster_id, v.dist_sq,
       CAST(CASE WHEN l.vec_id IS NULL THEN 1 ELSE 0 END AS INT) AS kept
FROM sdn v LEFT JOIN sdl l ON v.vec_id = l.vec_id
"""
    )


DEDUP_SEMDEDUP_SQL = _semdedup_sql(SEMDEDUP_T)

DEDUP_QUERIES.update(
    {
        # staged r09-continuation: SemDeDup semantic near-dup (r10 rotation)
        "dedup_semdedup": (dedup_semdedup, DEDUP_SEMDEDUP_SQL),
        # staged r10: the >1M-vector LSH-prefiltered route, oracle replays
        # the md5-hyperplane bucketing exactly (r09 verdict #6)
        "dedup_embedding_cosine_prefiltered": (
            dedup_embedding_cosine_prefiltered_entry,
            DEDUP_EMBEDDING_COSINE_PREFILTERED_SQL,
        ),
    }
)


# --- cluster representative selection (quality-argmax survivors) -------------


def dedup_cluster_representatives_df(spark: SparkSession, docs: DataFrame) -> DataFrame:
    """The production survivor rule: per near-dup cluster
    (:func:`dedup_clusters_df` — transitive closure of the MinHash-LSH
    pair graph) keep the HIGHEST-QUALITY member
    (:func:`text_analysis.quality_score_df`), doc_id ascending as the
    deterministic tie-break — what a training pipeline actually retains,
    vs the min-doc_id placeholder ``dedup_clusters`` emits.

    One aggregate, no window: ``max(struct(quality, -doc_id))`` per
    cluster picks (quality DESC, doc_id ASC) in a single map-side-combined
    pass over the (tiny) cluster membership table; quality arithmetic is
    integer-derived and IEEE-identical cross-engine (the
    ``text_quality_score`` contract), and the emitted score is
    floor-micro-quantized so the hash never rides a formatting edge.

    Returns ``(cluster_id, rep_doc_id, n_members, rep_quality_micro)``."""
    from .text_analysis import quality_score_df

    clusters = dedup_clusters_df(spark, docs).select("doc_id", "cluster_id")
    q = quality_score_df(docs).select("doc_id", "quality")
    members = clusters.join(q, "doc_id")
    return (
        members.groupBy("cluster_id")
        .agg(
            F.max(
                F.struct(F.col("quality"), (-F.col("doc_id")).alias("neg_id"))
            ).alias("b"),
            F.count("*").cast("bigint").alias("n_members"),
        )
        .select(
            "cluster_id",
            (-F.col("b.neg_id")).cast("bigint").alias("rep_doc_id"),
            "n_members",
            F.floor(F.col("b.quality") * 1e6).cast("bigint").alias("rep_quality_micro"),
        )
    )


def dedup_cluster_representatives(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Driver entry: quality-argmax representatives over the documents
    table's near-dup clusters. The oracle replays the full clusters
    recursive-CTE AND the quality formula, then takes the same
    (quality DESC, doc_id ASC) argmax per cluster — certifying the
    composition end to end."""
    return dedup_cluster_representatives_df(spark, _docs(spark, sf_dir))


DEDUP_CLUSTER_REPRESENTATIVES_SQL = f"""
WITH clusters AS (
  SELECT doc_id, cluster_id FROM ({DEDUP_CLUSTERS_SQL.strip()})
),
qd AS (
  SELECT doc_id,
         regexp_replace(trim(text), '\\s+', ' ', 'g') AS t,
         string_split(regexp_replace(trim(text), '\\s+', ' ', 'g'), ' ') AS w
  FROM documents
),
qm AS (
  SELECT doc_id,
         CAST(len(w) AS DOUBLE) AS n_words,
         CAST(len(list_filter(w, x -> x IN ('the','a','of','is','and','to','in'))) AS DOUBLE) AS n_stop,
         CAST(length(t) AS DOUBLE) AS n_chars,
         CAST(length(t) - length(regexp_replace(t, '[a-z]', '', 'g')) AS DOUBLE) AS n_alpha
  FROM qd
),
quality AS (
  SELECT doc_id,
         0.25 * least(n_words / 100.0, 1.0)
       + 0.25 * (1.0 - abs(n_stop / n_words - 0.4))
       + 0.25 * (n_alpha / n_chars)
       + 0.25 * least(((n_chars - (n_words - 1)) / n_words) / 8.0, 1.0) AS quality
  FROM qm
),
ranked AS (
  SELECT c.cluster_id, c.doc_id, q.quality,
         row_number() OVER (PARTITION BY c.cluster_id
                            ORDER BY q.quality DESC, c.doc_id ASC) AS rn,
         COUNT(*) OVER (PARTITION BY c.cluster_id) AS n_members
  FROM clusters c JOIN quality q USING (doc_id)
)
SELECT cluster_id, doc_id AS rep_doc_id,
       CAST(n_members AS BIGINT) AS n_members,
       CAST(floor(quality * 1000000) AS BIGINT) AS rep_quality_micro
FROM ranked WHERE rn = 1
"""


DEDUP_QUERIES.update(
    {
        # r13 (staged r14): quality-argmax cluster representatives
        "dedup_cluster_representatives": (
            dedup_cluster_representatives,
            DEDUP_CLUSTER_REPRESENTATIVES_SQL,
        ),
    }
)


# A sentence is boilerplate when its normalized form appears in at least
# this many DISTINCT documents (the C4-style cross-document rule: nav
# bars, cookie banners, license footers repeat across a crawl; real prose
# doesn't).
BOILER_MIN_DOCS = 3


def boilerplate_sentences_df(docs: DataFrame, min_docs: int = BOILER_MIN_DOCS) -> DataFrame:
    """Cross-document boilerplate-sentence removal (the C4/CCNet cleanup
    pass): split each document into sentences, count each NORMALIZED
    sentence's distinct-document frequency, drop sentences shared by
    >= min_docs docs, and emit per doc the kept-text digest — certifying
    the RECONSTRUCTION (original sentence order, boilerplate excised),
    not just the counts.

    Scale shape: one posexplode to sentence granularity (rows ~ corpus
    sentences), a partial-aggregated distinct-doc count per normalized
    sentence (map-side combine crushes the hot boilerplate keys — the
    same discipline as the tfidf df marginal: never a window over the
    sentence key), a broadcast-sized boilerplate set joined back
    LEFT ANTI, and one per-doc sort_array(collect_list(struct(pos, s)))
    regroup. Nothing quadratic; the regroup key is the uniform doc_id.

    Returns (doc_id, n_sents, n_boiler, kept_md5).
    """
    sents = docs.select(
        "doc_id",
        F.posexplode(F.split("text", r"[.!?]+")).alias("pos", "raw"),
    ).select(
        "doc_id",
        "pos",
        F.trim("raw").alias("s"),
        F.regexp_replace(F.trim(F.lower(F.col("raw"))), r"\s+", " ").alias("norm"),
    ).where(F.col("s") != "")
    from pyspark.storagelevel import StorageLevel

    # Consumed by the df count AND the anti-join (r13 double-execute
    # audit): sentence-granularity rows, narrow; spills, never recomputes.
    sents = sents.persist(StorageLevel.MEMORY_AND_DISK)
    boiler = (
        sents.select("norm", "doc_id")
        .distinct()
        .groupBy("norm")
        .agg(F.count("*").alias("nd"))
        .where(F.col("nd") >= min_docs)
        .select("norm")
    )
    kept = sents.join(boiler, "norm", "left_anti")
    per_doc_kept = kept.groupBy("doc_id").agg(
        F.md5(
            F.array_join(
                F.transform(
                    F.sort_array(F.collect_list(F.struct("pos", "s"))),
                    lambda x: x["s"],
                ),
                "\n",
            )
        ).alias("kept_md5"),
        F.count("*").alias("n_kept"),
    )
    totals = sents.groupBy("doc_id").agg(F.count("*").alias("n_sents"))
    return (
        totals.join(per_doc_kept, "doc_id", "left")
        .select(
            "doc_id",
            F.col("n_sents").cast("int").alias("n_sents"),
            (F.col("n_sents") - F.coalesce("n_kept", F.lit(0)))
            .cast("int")
            .alias("n_boiler"),
            # a fully-boilerplate doc keeps the empty text's digest
            F.coalesce("kept_md5", F.lit(F.expr("md5('')"))).alias("kept_md5"),
        )
    )


def boilerplate_scrub_text_df(
    docs: DataFrame, min_docs: int = BOILER_MIN_DOCS
) -> DataFrame:
    """The TEXT-producing sibling of :func:`boilerplate_sentences_df` for
    pipeline composition: every input doc comes back as
    ``(doc_id, lang, text)`` with its cross-document boilerplate sentences
    removed — kept sentences in original order joined by a newline, the
    exact reconstruction the digest entry certifies (a fully-boilerplate
    or empty doc keeps ``''``, preserving corpus cardinality for the next
    stage). Same plan shape: sentence posexplode, partial-aggregated
    distinct-doc count, anti-join, per-doc positional regroup."""
    sents = docs.select(
        "doc_id",
        F.posexplode(F.split("text", r"[.!?]+")).alias("pos", "raw"),
    ).select(
        "doc_id",
        "pos",
        F.trim("raw").alias("s"),
        F.regexp_replace(F.trim(F.lower(F.col("raw"))), r"\s+", " ").alias("norm"),
    ).where(F.col("s") != "")
    from pyspark.storagelevel import StorageLevel

    sents = sents.persist(StorageLevel.MEMORY_AND_DISK)
    boiler = (
        sents.select("norm", "doc_id")
        .distinct()
        .groupBy("norm")
        .agg(F.count("*").alias("nd"))
        .where(F.col("nd") >= min_docs)
        .select("norm")
    )
    kept_text = (
        sents.join(boiler, "norm", "left_anti")
        .groupBy("doc_id")
        .agg(
            F.array_join(
                F.transform(
                    F.sort_array(F.collect_list(F.struct("pos", "s"))),
                    lambda x: x["s"],
                ),
                "\n",
            ).alias("kept_text")
        )
    )
    return docs.join(kept_text, "doc_id", "left").select(
        "doc_id",
        "lang",
        F.coalesce("kept_text", F.lit("")).alias("text"),
    )


def dedup_boilerplate_sentences(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Driver entry: cross-document boilerplate-sentence removal over the
    documents corpus (:func:`boilerplate_sentences_df`)."""
    return boilerplate_sentences_df(_docs(spark, sf_dir))


DEDUP_BOILERPLATE_SQL = f"""
WITH raw AS (
  SELECT doc_id,
         list_transform(regexp_split_to_array(text, '[.!?]+'),
                        x -> trim(x)) AS parts
  FROM documents
),
idx AS (
  SELECT doc_id,
         list_filter(list_transform(range(1, len(parts) + 1),
                     i -> struct_pack(pos := i, s := parts[i])),
                     x -> x.s <> '') AS sents
  FROM raw
),
flat AS (
  SELECT doc_id, u.pos AS pos, u.s AS s,
         regexp_replace(trim(lower(u.s)), '\\s+', ' ', 'g') AS norm
  FROM idx, UNNEST(sents) AS t(u)
),
boiler AS (
  SELECT norm FROM (SELECT DISTINCT norm, doc_id FROM flat)
  GROUP BY norm HAVING COUNT(*) >= {BOILER_MIN_DOCS}
),
kept AS (
  SELECT f.doc_id, f.pos, f.s FROM flat f
  ANTI JOIN boiler b ON f.norm = b.norm
),
per_doc AS (
  SELECT doc_id, md5(string_agg(s, chr(10) ORDER BY pos)) AS kept_md5,
         COUNT(*) AS n_kept
  FROM kept GROUP BY doc_id
),
totals AS (SELECT doc_id, COUNT(*) AS n_sents FROM flat GROUP BY doc_id)
SELECT t.doc_id,
       CAST(t.n_sents AS INT) AS n_sents,
       CAST(t.n_sents - COALESCE(p.n_kept, 0) AS INT) AS n_boiler,
       COALESCE(p.kept_md5, md5('')) AS kept_md5
FROM totals t LEFT JOIN per_doc p USING (doc_id)
"""


DEDUP_QUERIES.update(
    {
        # r13 (staged r14): C4-style cross-document boilerplate-sentence
        # removal with order-certified reconstruction
        "dedup_boilerplate_sentences": (
            dedup_boilerplate_sentences,
            DEDUP_BOILERPLATE_SQL,
        ),
    }
)
