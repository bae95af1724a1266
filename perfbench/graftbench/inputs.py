"""Seeded input generators. The same seed always gives byte-identical inputs.

Nothing here imports Spark or the package under test, so the generators and
the oracles that read their output stay independent of the code measured.
"""

from __future__ import annotations

import os
import random
from dataclasses import dataclass

import numpy as np

# --- graph_requests ----------------------------------------------------------

MAX_NODES = 100            # the reference server's adjacency-matrix limit
DENSITIES = (0.02, 0.05, 0.1, 0.2)
# Graph choice skew: rank r is drawn with weight 1/r^s. 0.99 is the Zipfian
# constant of YCSB (Cooper et al., SoCC 2010), the usual key-value skew.
ZIPF_S = 0.99
REQUEST_MIX = (("bfs", 0.40), ("dfs", 0.40), ("modify", 0.15), ("add", 0.05))


def random_graph(rng: random.Random) -> tuple[int, list[tuple[int, int]]]:
    """A directed graph on ``n <= MAX_NODES`` vertices with a random density.
    Edges are distinct (no multi-edges) and include self-loops, as the
    reference's 0/1 adjacency matrices can."""
    n = rng.randint(8, MAX_NODES)
    p = rng.choice(DENSITIES)
    edges = [(u, v) for u in range(n) for v in range(n) if rng.random() < p]
    return n, edges


@dataclass
class Request:
    kind: str                 # bfs | dfs | modify | add
    graph_id: int
    start: int = 0            # reads: start vertex
    n: int = 0                # writes: vertex count
    edges: list[tuple[int, int]] | None = None  # writes: the new edge list


class RequestStream:
    """Seeded closed-loop request stream over a growing pool of graphs.

    Graphs are ranked once, by a seeded shuffle of the initial pool with
    the graphs in ``cold`` moved behind the others; a graph added later
    joins at the cold end. Each request picks a rank with Zipf weights, so
    a few graphs take most of the traffic.
    """

    def __init__(self, seed: int, initial: dict[int, int], next_graph_id: int,
                 cold: frozenset[int] = frozenset()):
        self.rng = random.Random(f"requests-{seed}")
        order = sorted(initial)
        self.rng.shuffle(order)
        self.order = [g for g in order if g not in cold] + [g for g in order if g in cold]
        self.n_of = dict(initial)
        self.next_graph_id = next_graph_id

    def _pick_graph(self) -> int:
        weights = [1.0 / (r + 1) ** ZIPF_S for r in range(len(self.order))]
        return self.rng.choices(self.order, weights)[0]

    def next(self) -> Request:
        kinds, probs = zip(*REQUEST_MIX)
        kind = self.rng.choices(kinds, probs)[0]
        if kind == "add":
            gid = self.next_graph_id
            self.next_graph_id += 1
            n, edges = random_graph(self.rng)
            self.order.append(gid)
            self.n_of[gid] = n
            return Request(kind, gid, n=n, edges=edges)
        gid = self._pick_graph()
        if kind == "modify":
            n, edges = random_graph(self.rng)
            self.n_of[gid] = n
            return Request(kind, gid, n=n, edges=edges)
        return Request(kind, gid, start=self.rng.randrange(self.n_of[gid]))


def initial_graphs(seed: int, count: int, first_id: int) -> dict[int, tuple[int, list]]:
    rng = random.Random(f"graphs-{seed}")
    return {first_id + i: random_graph(rng) for i in range(count)}


# --- graph_analytics ---------------------------------------------------------

RMAT_ABC = (0.57, 0.19, 0.19)   # Graph500 R-MAT quadrant probabilities


def rmat_graph(seed: int, scale: int, edge_factor: int, tail: int) -> tuple[int, np.ndarray, np.ndarray]:
    """A power-law directed graph plus a planted path.

    R-MAT on ``2**scale`` vertices with ``edge_factor * 2**scale`` draws
    (duplicates removed), so degrees are skewed and vertex 0 is the hub.
    A directed path of ``tail`` extra vertices hangs off vertex 0. The
    R-MAT part has a small eccentricity from vertex 0, so the path sets
    the BFS depth and the connected-components superstep count: seeds then
    vary the degree distribution but not the number of supersteps, which
    keeps the timings of different seeds comparable.

    Returns ``(n_vertices, src, dst)`` as int32 arrays sorted by (src, dst).
    """
    rng = np.random.default_rng(seed)
    n_rmat = 1 << scale
    m = edge_factor * n_rmat
    a, b, c = RMAT_ABC
    src = np.zeros(m, np.int64)
    dst = np.zeros(m, np.int64)
    for bit in range(scale):
        r = rng.random(m)
        src |= (r >= a + b).astype(np.int64) << bit
        dst |= (((r >= a) & (r < a + b)) | (r >= a + b + c)).astype(np.int64) << bit
    path = np.arange(n_rmat, n_rmat + tail, dtype=np.int64)
    src = np.concatenate([src, [0], path[:-1]])
    dst = np.concatenate([dst, path[:1], path[1:]])
    key = np.unique(src * (n_rmat + tail) + dst)
    n = n_rmat + tail
    return n, (key // n).astype(np.int32), (key % n).astype(np.int32)


# --- corpus_pipeline ---------------------------------------------------------

@dataclass
class Corpus:
    doc_ids: np.ndarray             # int64, 0..N-1
    texts: list[str]
    groups: list[list[int]]         # planted near-duplicate groups (doc ids)


def _vocabulary(rng: np.random.Generator, size: int) -> list[str]:
    letters = np.frombuffer(b"abcdefghijklmnopqrstuvwxyz", dtype=np.uint8)
    words: dict[str, None] = {}
    while len(words) < size:
        lens = rng.integers(3, 9, size)
        codes = letters[rng.integers(0, 26, (size, 8))]
        for row, k in zip(codes, lens):
            words.setdefault(row[:k].tobytes().decode(), None)
            if len(words) == size:
                break
    return list(words)


def corpus(seed: int, n_base: int, n_pairs: int, n_clusters: int,
           cluster_size: int = 4, vocab_size: int = 20_000,
           words_per_doc: tuple[int, int] = (60, 120),
           pair_mutation: float = 0.04, cluster_mutation: float = 0.03) -> Corpus:
    """A corpus over a UNIFORM vocabulary with planted near-duplicates.

    Background documents draw words uniformly from ``vocab_size`` words,
    so two of them share almost no word 3-grams and their Jaccard is ~0:
    a skewed (Zipf) vocabulary would make every document an LSH candidate
    of every other. Planted groups are a base document plus copies with a
    small share of words replaced: ``n_pairs`` groups of two and
    ``n_clusters`` groups of ``cluster_size``. Document order is shuffled,
    so planted copies land in different ingest batches.
    """
    rng = np.random.default_rng(seed)
    vocab = np.array(_vocabulary(rng, vocab_size), dtype=object)
    lo, hi = words_per_doc
    docs = [list(vocab[rng.integers(0, vocab_size, rng.integers(lo, hi + 1))])
            for _ in range(n_base)]
    bases = rng.choice(n_base, n_pairs + n_clusters, replace=False)
    groups_local = []
    for gi, base in enumerate(bases):
        copies, rate = (1, pair_mutation) if gi < n_pairs else (cluster_size - 1, cluster_mutation)
        members = [int(base)]
        for _ in range(copies):
            words = list(docs[base])
            hit = rng.random(len(words)) < rate
            repl = vocab[rng.integers(0, vocab_size, int(hit.sum()))]
            for pos, w in zip(np.flatnonzero(hit), repl):
                words[pos] = w
            members.append(len(docs))
            docs.append(words)
        groups_local.append(members)
    perm = rng.permutation(len(docs))          # new id of old position
    texts = [""] * len(docs)
    for old, new in enumerate(perm):
        texts[new] = " ".join(docs[old])
    groups = [sorted(int(perm[m]) for m in g) for g in groups_local]
    return Corpus(np.arange(len(docs), dtype=np.int64), texts, groups)


def embeddings(seed: int, n: int, dim: int, n_centroids: int, noise: float = 0.35) -> np.ndarray:
    """``n x dim`` float64 vectors scattered around ``n_centroids`` centres,
    so nearest neighbours are meaningful (pure noise makes every neighbour
    list arbitrary)."""
    rng = np.random.default_rng(seed)
    centres = rng.standard_normal((n_centroids, dim))
    which = rng.integers(0, n_centroids, n)
    return centres[which] + noise * rng.standard_normal((n, dim))


# --- parquet writers (pyarrow; no Spark involved) -----------------------------

def write_edges_parquet(path: str, graph_id: int, src: np.ndarray, dst: np.ndarray, files: int) -> None:
    import pyarrow as pa
    import pyarrow.parquet as pq

    os.makedirs(path, exist_ok=True)
    for i, part in enumerate(np.array_split(np.arange(len(src)), files)):
        pq.write_table(pa.table({
            "graph_id": pa.array(np.full(len(part), graph_id, np.int32)),
            "src": pa.array(src[part]),
            "dst": pa.array(dst[part]),
        }), os.path.join(path, f"part-{i:05d}.parquet"))


def write_docs_parquet(path: str, doc_ids: np.ndarray, texts: list[str]) -> None:
    import pyarrow as pa
    import pyarrow.parquet as pq

    pq.write_table(pa.table({"doc_id": pa.array(doc_ids, pa.int64()),
                             "text": pa.array(texts, pa.string())}), path)


def write_vectors_parquet(path: str, vecs: np.ndarray, files: int) -> None:
    import pyarrow as pa
    import pyarrow.parquet as pq

    os.makedirs(path, exist_ok=True)
    dim = vecs.shape[1]
    for i, part in enumerate(np.array_split(np.arange(len(vecs)), files)):
        flat = pa.array(vecs[part].reshape(-1))
        offsets = pa.array(np.arange(0, len(part) * dim + 1, dim, dtype=np.int32))
        pq.write_table(pa.table({
            "vec_id": pa.array(part.astype(np.int64)),
            "e": pa.ListArray.from_arrays(offsets, flat),
        }), os.path.join(path, f"part-{i:05d}.parquet"))
