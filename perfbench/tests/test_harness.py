"""Unit tests for the benchmark's own code: no Spark session is started.

    python3 -m pytest perfbench/tests -q
"""

from __future__ import annotations

import hashlib
import os
import pickle
import sys

import numpy as np
import pytest

sys.path.insert(0, os.path.join(os.path.dirname(os.path.abspath(__file__)), ".."))

from graftbench import inputs, oracles  # noqa: E402
from graftbench.harness import cpu_times, frame_digest  # noqa: E402
from graftbench.spans import IDLE_GROUP, Span, Tracer, covered, self_times  # noqa: E402
from graftbench.stats import median_of_sums, tail  # noqa: E402


# --- self time -----------------------------------------------------------------

def span(i, parent, start, end, name="s"):
    return Span(name, i, parent, start=start, end=end)


def test_self_time_subtracts_children():
    spans = [span(1, None, 0.0, 10.0), span(2, 1, 1.0, 3.0), span(3, 1, 5.0, 9.0)]
    st = self_times(spans)
    assert st[1] == pytest.approx(4.0)
    assert st[2] == pytest.approx(2.0)
    assert st[3] == pytest.approx(4.0)


def test_self_time_counts_overlapping_children_once():
    # Children that overlap (e.g. concurrent writes) cover their union only.
    spans = [span(1, None, 0.0, 10.0), span(2, 1, 2.0, 6.0), span(3, 1, 4.0, 8.0)]
    assert self_times(spans)[1] == pytest.approx(4.0)


def test_self_time_ignores_grandchildren_and_clips_children():
    spans = [
        span(1, None, 0.0, 10.0),
        span(2, 1, 2.0, 4.0),
        span(3, 2, 2.5, 3.5),        # grandchild: inside its parent, not the root's
        span(4, 1, 9.0, 12.0),       # overruns the parent: clipped at 10
    ]
    st = self_times(spans)
    assert st[1] == pytest.approx(7.0)
    assert st[2] == pytest.approx(1.0)


def test_covered_of_nothing_is_zero():
    assert covered([], 0.0, 1.0) == 0.0
    assert covered([(2.0, 3.0)], 0.0, 1.0) == 0.0


def test_jobs_are_credited_to_their_span():
    tr = Tracer()
    a = span(1, None, 0.0, 1.0, "a")
    a.group, a.wall_start, a.wall_end = "g1", 100.0, 110.0
    b = span(2, 1, 0.2, 0.8, "b")
    b.group, b.wall_start, b.wall_end = "g2", 102.0, 108.0
    tr.spans = [a, b]
    jobs = [
        {"id": 1, "group": "g1", "submitted": 101.0, "stage_ids": [1, 2], "tasks": 5, "failed_tasks": 0, "stages": 2},
        # a later job re-lists stage 2 (reused shuffle output) and runs stage 3
        {"id": 2, "group": "g2", "submitted": 103.0, "stage_ids": [2, 3], "tasks": 1, "failed_tasks": 1, "stages": 1},
        # no group: submitted from a package thread inside b's interval
        {"id": 3, "group": None, "submitted": 105.0, "stage_ids": [4], "tasks": 4, "failed_tasks": 0, "stages": 1},
        # outside every span
        {"id": 4, "group": "graftbench-idle", "submitted": 120.0, "stage_ids": [5], "tasks": 9, "failed_tasks": 0, "stages": 1},
    ]
    tr.credit_jobs(jobs, stage_tasks={1: 4, 2: 1, 3: 1, 4: 4, 5: 9})
    assert (a.jobs, a.stages, a.tasks, a.single_task_stages) == (1, 2, 5, 1)
    assert (b.jobs, b.stages, b.tasks, b.failed_tasks, b.single_task_stages) == (2, 2, 5, 1, 1)


class FakeContext:
    def __init__(self):
        self.groups = []

    def setJobGroup(self, group, description):
        self.groups.append(group)


class FakeSpark:
    def __init__(self):
        self.sparkContext = FakeContext()


def test_spans_nest_and_restore_job_groups():
    spark = FakeSpark()
    tr = Tracer(spark)
    with tr.span("outer"):
        with tr.span("inner", k=1):
            pass
    outer, inner = sorted(tr.spans, key=lambda s: s.id)
    assert outer.parent is None and inner.parent == outer.id
    assert inner.attrs == {"k": 1}
    assert outer.start <= inner.start <= inner.end <= outer.end
    assert spark.sparkContext.groups == [IDLE_GROUP, outer.group, inner.group, outer.group, IDLE_GROUP]
    assert tr.overhead_s > 0


def test_disabled_tracer_records_nothing():
    tr = Tracer()
    with tr.span("x") as s:
        assert s is None
    assert tr.spans == []


# --- tail percentile -----------------------------------------------------------

def test_tail_is_highest_percentile_with_ten_beyond():
    xs = list(range(1, 41))                      # 40 samples
    value, pct, beyond = tail(xs)
    assert value == 30 and pct == 75.0 and beyond == 10
    assert sum(x > value for x in xs) == 10


def test_tail_order_does_not_matter():
    xs = [float(x) for x in range(100)]
    rng = np.random.default_rng(0)
    assert tail(list(rng.permutation(xs))) == tail(xs) == (89.0, 90.0, 10)


def test_tail_with_too_few_samples_is_the_maximum():
    assert tail([3.0, 1.0, 2.0]) == (3.0, 100.0, 0)
    assert tail([1.0] * 10) == (1.0, 100.0, 0)
    # 19 samples: the 9th would have 10 beyond it, but it is below the median
    assert tail([float(x) for x in range(19)]) == (18.0, 100.0, 0)
    assert tail([float(x) for x in range(20)]) == (9.0, 50.0, 10)


def test_batch_time_is_the_median_repetition_total():
    # three repetitions of a two-call phase: totals 3, 10 and 4
    calls = [(0, 1.0), (0, 2.0), (1, 4.0), (1, 6.0), (2, 1.5), (2, 2.5)]
    assert median_of_sums(calls) == 4.0
    assert median_of_sums([(0, 2.0), (0, 3.0)]) == 5.0


# --- output digest -------------------------------------------------------------

def test_frame_digest_ignores_row_order_and_float_noise():
    import pandas as pd

    a = pd.DataFrame({"v": [2, 1], "x": [0.1 + 0.2, 0.5]})
    b = pd.DataFrame({"v": [1, 2], "x": [0.5, 0.3]})
    assert frame_digest(a) == frame_digest(b)
    assert frame_digest(a) != frame_digest(b.assign(v=[1, 3]))


def test_cpu_times_reads_steal_and_total_ticks():
    steal, total = cpu_times()
    assert 0 <= steal <= total and total > 0


# --- generated inputs ----------------------------------------------------------

def digest(obj) -> str:
    return hashlib.sha256(pickle.dumps(obj, protocol=4)).hexdigest()


def request_prefix(seed, n=60):
    graphs = inputs.initial_graphs(seed, 3, 100)
    stream = inputs.RequestStream(seed, {g: n_ for g, (n_, _) in graphs.items()}, 1000)
    return graphs, [vars(stream.next()) for _ in range(n)]


@pytest.mark.parametrize("make", [
    request_prefix,
    lambda seed: [a.tobytes() for a in inputs.rmat_graph(seed, 8, 8, 4)[1:]],
    lambda seed: vars(inputs.corpus(seed, 200, 5, 2)),
    lambda seed: inputs.embeddings(seed, 300, 8, 4).tobytes(),
])
def test_inputs_are_byte_identical_for_one_seed(make):
    assert digest(make(7)) == digest(make(7))
    assert digest(make(7)) != digest(make(8))


def test_parquet_inputs_are_byte_identical(tmp_path):
    def write(d):
        n, s, t = inputs.rmat_graph(3, 8, 8, 4)
        inputs.write_edges_parquet(str(d / "e"), 1, s, t, files=2)
        c = inputs.corpus(3, 100, 3, 1)
        inputs.write_docs_parquet(str(d / "docs.parquet"), c.doc_ids, c.texts)
        inputs.write_vectors_parquet(str(d / "v"), inputs.embeddings(3, 50, 4, 2), files=2)
        return {p.relative_to(d): p.read_bytes() for p in sorted(d.rglob("*")) if p.is_file()}

    (tmp_path / "a").mkdir()
    (tmp_path / "b").mkdir()
    assert write(tmp_path / "a") == write(tmp_path / "b")


def test_request_mix_and_skew():
    _, reqs = request_prefix(1, n=4000)
    kinds = [r["kind"] for r in reqs]
    for kind, p in inputs.REQUEST_MIX:
        assert abs(kinds.count(kind) / len(kinds) - p) < 0.03
    reads = [r["graph_id"] for r in reqs if r["kind"] in ("bfs", "dfs")]
    top = max(set(reads), key=reads.count)
    assert reads.count(top) / len(reads) > 0.15          # one hot graph, pool grows to ~200


def test_cold_graphs_rank_behind_the_others():
    stream = inputs.RequestStream(5, {g: 10 for g in range(1, 9)}, 100, cold=frozenset({1, 2, 3}))
    assert set(stream.order[:5]) == {4, 5, 6, 7, 8}
    assert set(stream.order[5:]) == {1, 2, 3}


def test_planted_tail_fixes_bfs_depth():
    for seed in range(1, 6):
        n, s, d = inputs.rmat_graph(seed, 9, 16, 4)
        assert oracles.bfs_levels_np(n, s, d, 0).max() == 4


# --- oracles -------------------------------------------------------------------

G7 = [(0, 1), (0, 4), (1, 0), (1, 2), (2, 1), (2, 3), (3, 2), (4, 0), (4, 5), (4, 6), (5, 4), (6, 4)]


def test_reference_traversal_pins():
    assert oracles.bfs_levels(G7, 0) == {(0, 0), (1, 1), (4, 1), (2, 2), (5, 2), (6, 2), (3, 3)}
    assert oracles.dfs_leaves(G7, 0) == {3, 5, 6}
    assert oracles.dfs_leaves([(0, 0), (1, 1)], 0) == {0}


def test_pagerank_oracle_conserves_mass_with_dangling_vertices():
    src, dst = np.array([0, 1, 1]), np.array([1, 2, 0])   # vertex 2 and 3 dangle
    r = oracles.pagerank(4, src, dst, iterations=10)
    assert r.sum() == pytest.approx(1.0)


def test_components_are_min_labelled():
    labels = oracles.min_label_components(6, np.array([5, 3]), np.array([1, 4]))
    assert labels.tolist() == [0, 1, 2, 3, 3, 1]


def test_near_duplicate_oracle_finds_planted_pairs():
    c = inputs.corpus(11, 300, 6, 2)
    pairs = oracles.near_duplicate_pairs(c.doc_ids, c.texts)
    planted = oracles.planted_pairs(c.groups, pairs)
    assert len(planted) >= 6 + 2 * 3        # pairs, plus most cluster pairs
    assert all(j >= 0.5 for j in pairs.values())
