"""Round-16 optimization pins.

1. The numpy minhash-signature kernel reproduces Spark's
   ``xxhash64(lit(i) INT, base BIGINT)`` BIT-EXACTLY — same hash family,
   same signatures, so every downstream band hash / candidate set / oracle
   is unchanged by the §4 vectorization.
2. The shared min-label loop reaches the fixpoint and honours its
   superstep cap.
3. The spread opt-outs: tiny-kernel mm paths carry NO round-robin exchange
   (r15 verdict #1 pin) while the heavy codec path keeps the spread.
4. spread_small_scan's size gate: a wide-or-big scan is returned unchanged.
"""

from __future__ import annotations

import re

import pytest
from pyspark.sql import functions as F


def _plan(df) -> str:
    jdf = df._jdf
    mode = df.sparkSession._jvm.org.apache.spark.sql.execution.ExplainMode.fromString(
        "formatted"
    )
    return jdf.queryExecution().explainString(mode)


def test_numpy_sig_kernel_matches_jvm_xxhash64(spark, sf_dir):
    """Pin: _minhash_sigs == the r15 explode -> 128-min JVM aggregate,
    value for value (the kernel is a bit-exact XXH64 replay)."""
    from distributed_graph_database_simulation_spark.operators import dedup

    sh = dedup._shingled(dedup._docs(spark, sf_dir)).limit(200)
    new = {r.doc_id: list(r.sig) for r in dedup._minhash_sigs(sh).collect()}

    posting = sh.select("doc_id", F.explode("shingles").alias("shingle")).select(
        "doc_id", F.xxhash64("shingle").alias("base")
    )
    aggs = [
        F.min(F.xxhash64(F.lit(i), F.col("base"))).alias(f"m{i}")
        for i in range(dedup.N_PERM)
    ]
    old_rows = posting.groupBy("doc_id").agg(*aggs).collect()
    old = {r.doc_id: [r[f"m{i}"] for i in range(dedup.N_PERM)] for r in old_rows}
    assert new == old


def test_sig_kernel_handles_empty_batches(spark):
    from distributed_graph_database_simulation_spark.operators import dedup

    empty = spark.createDataFrame([], "doc_id long, shingles array<string>")
    assert dedup._minhash_sigs(empty).count() == 0


def test_min_label_loop_reaches_fixpoint(spark):
    """Pin: min_label_loop converges to the min reachable label on a
    diameter-6 path, a triangle and an isolate."""
    from distributed_graph_database_simulation_spark.operators.graph_analytics import (
        min_label_loop,
    )

    # path 0-1-2-3-4-5-6 (diameter 6) + triangle 10-11-12 + isolate 20
    base_edges = [(0, 1), (1, 2), (2, 3), (3, 4), (4, 5), (5, 6), (10, 11), (11, 12), (10, 12)]
    sym = base_edges + [(b, a) for a, b in base_edges]
    edges = spark.createDataFrame(sym, "src long, dst long")
    verts = sorted({v for e in base_edges for v in e} | {20})
    labels = spark.createDataFrame(
        [(v, v) for v in verts], "vertex long, lbl long"
    )
    got = {
        r.vertex: r.lbl
        for r in min_label_loop(
            labels, edges, ["vertex"], "lbl", max_iterations=50
        ).collect()
    }
    assert got == {**{v: 0 for v in range(7)}, 10: 10, 11: 10, 12: 10, 20: 20}


def test_min_label_loop_respects_max_iterations(spark):
    """max_iterations bounds the supersteps: a 6-step path capped at 2
    steps must show only 2 hops of propagation."""
    from distributed_graph_database_simulation_spark.operators.graph_analytics import (
        min_label_loop,
    )

    base_edges = [(i, i + 1) for i in range(6)]
    sym = base_edges + [(b, a) for a, b in base_edges]
    edges = spark.createDataFrame(sym, "src long, dst long")
    labels = spark.createDataFrame([(v, v) for v in range(7)], "vertex long, lbl long")
    got = {
        r.vertex: r.lbl
        for r in min_label_loop(
            labels, edges, ["vertex"], "lbl", max_iterations=2
        ).collect()
    }
    assert got == {0: 0, 1: 0, 2: 0, 3: 1, 4: 2, 5: 3, 6: 4}


def test_tiny_kernel_mm_paths_not_spread(spark, sf_dir):
    """r15 verdict #1 pin: the tiny-kernel mm paths must NOT carry the
    spread's round-robin exchange; the heavy jpeg codec path must."""
    from distributed_graph_database_simulation_spark.operators import multimodal as M

    for fn in (M.mm_image_patches, M.mm_image_channel_stats,
               M.mm_audio_level_stats, M.mm_frame_deltas):
        assert "roundrobin" not in _plan(fn(spark, sf_dir)).lower(), fn.__name__
    assert "roundrobin" in _plan(M.mm_jpeg_decode(spark, sf_dir)).lower()


def test_light_pipe_paths_not_spread(spark, sf_dir):
    from distributed_graph_database_simulation_spark.operators import pipeline as P

    for fn in (P.pipe_interleave_sources, P.pipe_pack_segments, P.pipe_snapshot_diff):
        assert "roundrobin" not in _plan(fn(spark, sf_dir)).lower(), fn.__name__


def test_spread_gates_on_split_count_and_size(spark, sf_dir, tmp_path, monkeypatch):
    from distributed_graph_database_simulation_spark.sources import tables as T

    # small one-file scan: spreads to defaultParallelism
    df = T.load_table(spark, sf_dir, "documents")
    spread = T.spread_small_scan(df)
    assert "roundrobin" in _plan(spread).lower()
    # size gate: the same scan with a 0-MB cap is returned unchanged
    monkeypatch.setenv("SPARK_GRAFT_SPREAD_MAX_MB", "0")
    assert "roundrobin" not in _plan(T.spread_small_scan(df)).lower()
    monkeypatch.delenv("SPARK_GRAFT_SPREAD_MAX_MB")
    # estimator agrees with the on-disk layout
    est = T._scan_split_estimate(df)
    assert est is not None and est[0] >= 1 and est[1] > 0


def test_keyed_store_bucket_count_mismatch_fails_fast(spark, tmp_path):
    from distributed_graph_database_simulation_spark.sources.keyed_store import (
        KeyedParquetStore,
    )

    path = str(tmp_path / "store")
    base = spark.createDataFrame(
        [(i, f"v{i}", 1) for i in range(50)], "k long, val string, ver int"
    )
    KeyedParquetStore(spark, path, "k", n_buckets=4, version_col="ver").write_full(base)

    upd = spark.createDataFrame([(1, "x", 2)], "k long, val string, ver int")
    wrong = KeyedParquetStore(spark, path, "k", n_buckets=8, version_col="ver")
    with pytest.raises(ValueError, match="n_buckets=4"):
        wrong.upsert(upd)
    with pytest.raises(ValueError, match="n_buckets=4"):
        wrong.delete(upd.select("k"))

    # the matching count still works; a legacy store (no sidecar) is adopted
    right = KeyedParquetStore(spark, path, "k", n_buckets=4, version_col="ver")
    right.upsert(upd)
    meta = tmp_path / "store" / "_dgds_store_meta.json"
    assert meta.exists()
    meta.unlink()
    legacy = KeyedParquetStore(spark, path, "k", n_buckets=4, version_col="ver")
    legacy.upsert(spark.createDataFrame([(2, "y", 2)], "k long, val string, ver int"))
    assert meta.exists()  # adopted: sidecar rewritten on first surgery
    rows = {(r["k"], r["val"]) for r in legacy.read().collect() if r["k"] in (1, 2)}
    assert rows == {(1, "x"), (2, "y")}
