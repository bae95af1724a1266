"""corpus_pipeline: the LLM-data-pipeline operators on a synthetic corpus.

The corpus arrives in batches through ``streaming.ingest.dedup_ingest_batch``,
which writes a growing signature store and reads its history on every batch.
Then ``dedup.minhash_lsh_df`` runs once over the whole corpus, reading the
same signatures without a store, followed by the quality score and BPE
encoding, and an LSH top-k search over seeded embeddings. No graph layer runs.
"""

from __future__ import annotations

import hashlib
import os
import time
import traceback

import numpy as np

from distributed_graph_database_simulation_spark.operators import dedup, similarity, text_analysis
from distributed_graph_database_simulation_spark.streaming import ingest

from . import inputs, oracles
from .harness import Op, dir_stats, fetch, frame_digest, nproc
from .spans import Tracer, descends_from
from .stats import median, median_or

BATCHES = 3             # set-up ingests the first; each later one reads the history
BATCH_REPS = 2          # timed repetitions of the batch phase
N_BASE = 1000           # background documents
N_PAIRS = 30            # planted near-duplicate pairs
N_CLUSTERS = 8          # planted clusters of four near-duplicates
N_VECTORS = 4000
DIM = 32
N_CENTROIDS = 64
N_QUERIES = 32          # queries are vec_id < N_QUERIES, as in sim_topk_lsh
TOP_K = 10
COSINE_TOL = 1e-9
DOC_SCHEMA = "doc_id BIGINT, text STRING"
VECTOR_SCHEMA = "vec_id BIGINT, e ARRAY<DOUBLE>"


class CorpusPipeline:
    def __init__(self, spark, seed: int, work_dir: str):
        self.spark = spark
        self.work_dir = work_dir
        self.corpus = inputs.corpus(seed, N_BASE, N_PAIRS, N_CLUSTERS)
        self.vecs = inputs.embeddings(seed, N_VECTORS, DIM, N_CENTROIDS)
        self._expected_pairs = None
        self.digest = hashlib.sha256()    # over every batch-phase output

    def _write_inputs(self) -> dict:
        """Parquet inputs: one file per ingest batch, and the vectors."""
        root = os.path.join(self.work_dir, "inputs")
        corpus = self.corpus
        bounds = np.linspace(0, len(corpus.doc_ids), BATCHES + 1).astype(int)
        paths = []
        for b in range(BATCHES):
            os.makedirs(os.path.join(root, f"batch-{b}"), exist_ok=True)
            paths.append(os.path.join(root, f"batch-{b}", "docs.parquet"))
            sl = slice(bounds[b], bounds[b + 1])
            inputs.write_docs_parquet(paths[-1], corpus.doc_ids[sl], corpus.texts[sl])
        inputs.write_vectors_parquet(os.path.join(root, "vectors"), self.vecs, files=nproc())
        # Given schemas: Spark then runs no job to infer them.
        docs = self.spark.read.schema(DOC_SCHEMA).parquet
        return {
            "batches": [docs(p) for p in paths],
            "docs": docs(*paths),
            "vectors": self.spark.read.schema(VECTOR_SCHEMA).parquet(os.path.join(root, "vectors")),
            "bounds": bounds,
        }

    # -- set-up ---------------------------------------------------------------
    def setup(self, tracer: Tracer) -> float:
        """Write the inputs, then warm on them, untimed: ingest the first
        batch, which starts the store, and run the batch phase once.
        Returns the warm-up seconds."""
        with tracer.span("load"):
            self.inputs = self._write_inputs()
            self.store = os.path.join(self.work_dir, "store")
        t = time.perf_counter()
        with tracer.span("session.warmup"):
            if not self._check_ingest(self._ingest(range(1), tracer), 0):
                raise RuntimeError("ingest of the first batch failed")
            self._batch(0, tracer)
        return time.perf_counter() - t

    # -- measurement ---------------------------------------------------------
    def interactive(self, seconds: float, tracer: Tracer) -> list[Op]:
        """Ingest the other batches, one after the other. The batch count is
        fixed, not set by ``seconds``, so that every run's store grows
        through the same history."""
        ops = self._ingest(range(1, BATCHES), tracer)
        self._check_ingest(ops, 1)
        return ops

    def batch(self, tracer: Tracer) -> list[Op]:
        ops = []
        for rep in range(BATCH_REPS):
            results = self._batch(rep, tracer)
            for op, res in results:
                if op.ok:
                    for frame in res if isinstance(res, tuple) else (res,):
                        self.digest.update(frame_digest(frame))
                    op.ok = bool(getattr(self, f"_check_{op.kind}")(res))
            self.outputs = {op.kind: res for op, res in results}
            ops += [op for op, _ in results]
        return ops

    @staticmethod
    def _call(tracer: Tracer, kind: str, read: bool, rep: int | None, name: str, fn, **attrs):
        """Time ``fn`` in a span; return ``(op, output or None)``. ``rep``
        is the batch-phase repetition, or None for a request."""
        batch = rep is not None
        rep = rep or 0
        t = time.perf_counter()
        try:
            with tracer.span(name, **attrs):
                res = fn()
        except Exception:
            traceback.print_exc()
            return Op(kind, read, time.perf_counter() - t, ok=False, batch=batch, rep=rep), None
        return Op(kind, read, time.perf_counter() - t, batch=batch, rep=rep), res

    def _ingest(self, batches: range, tracer: Tracer) -> list[Op]:
        """Ingest the input batches numbered ``batches`` into the store."""
        return [
            self._call(tracer, "ingest", False, None, "streaming.ingest.dedup_ingest_batch",
                       lambda: ingest.dedup_ingest_batch(
                           self.spark, self.inputs["batches"][b], b,
                           os.path.join(self.store, "sigs"), os.path.join(self.store, "pairs")),
                       index=b)[0]
            for b in batches
        ]

    def _batch(self, rep: int, tracer: Tracer) -> list[tuple[Op, object]]:
        docs, vecs = self.inputs["docs"], self.inputs["vectors"]

        def text():
            with tracer.span("operators.text_analysis.quality_score_df"):
                quality = fetch(text_analysis.quality_score_df(docs))
            with tracer.span("operators.text_analysis.bpe_encode_df"):
                bpe = fetch(text_analysis.bpe_encode_df(docs))
            return quality, bpe

        return [
            self._call(tracer, "dedup", True, rep, "operators.dedup.minhash_lsh_df",
                       lambda: fetch(dedup.minhash_lsh_df(docs))),
            self._call(tracer, "text", True, rep, "text", text),
            self._call(tracer, "ann", True, rep, "operators.similarity.topk_lsh_df",
                       lambda: fetch(similarity.topk_lsh_df(
                           vecs, vecs.filter(vecs.vec_id < N_QUERIES), k=TOP_K))),
        ]

    # -- correctness ---------------------------------------------------------
    def _expected(self) -> dict[tuple[int, int], float]:
        if self._expected_pairs is None:
            c = self.corpus
            self._expected_pairs = oracles.near_duplicate_pairs(c.doc_ids, c.texts)
            self._planted = oracles.planted_pairs(c.groups, self._expected_pairs)
        return self._expected_pairs

    def _check_ingest(self, ops: list[Op], first: int) -> bool:
        """``ops`` ingested batches ``first``, ``first + 1``, ...; batch b
        must report exactly the pairs whose later document arrives in
        batch b, so that over all batches that is every pair. Marks each
        op and returns whether all passed."""
        expected = self._expected()
        batch_of = np.searchsorted(self.inputs["bounds"], self.corpus.doc_ids, "right") - 1
        if not all(op.ok for op in ops):
            return False            # a failed batch may leave no pair table to read
        got = fetch(self.spark.read.parquet(os.path.join(self.store, "pairs")))
        for b, op in enumerate(ops, first):
            have = {(int(x), int(y)) for x, y, bid in zip(got["doc_a"], got["doc_b"], got["batch_id"])
                    if bid == b}
            op.ok = have == {p for p in expected if batch_of[p[1]] == b}
        return all(op.ok for op in ops)

    def _check_dedup(self, pairs) -> bool:
        got = {(int(a), int(b)): j for a, b, j in zip(pairs["doc_a"], pairs["doc_b"], pairs["jaccard"])}
        want = self._expected()
        return (
            len(got) == len(pairs)
            and got.keys() == want.keys()
            and all(abs(got[p] - want[p]) <= 1e-12 and got[p] >= oracles.JACCARD_T for p in got)
            and self._planted <= got.keys()
        )

    def _check_text(self, res) -> bool:
        quality, bpe = res
        n = len(self.corpus.texts)
        words = np.array([len(t.split()) for t in self.corpus.texts])
        q = quality.sort_values("doc_id")
        e = bpe.sort_values("doc_id")
        return (
            len(q) == n and len(e) == n
            and (q["doc_id"].to_numpy() == self.corpus.doc_ids).all()
            and (e["doc_id"].to_numpy() == self.corpus.doc_ids).all()
            and (q["n_words"].to_numpy() == words).all()
            and q["quality"].between(0.0, 1.0).all()
            and (e["n_bpe"].to_numpy() >= words).all()
        )

    def _check_ann(self, top) -> bool:
        """Every returned neighbour is another vector with its true cosine,
        ranks run 1..r <= k per query in non-increasing cosine order."""
        if not len(top) or (top["query_id"] == top["neighbor_id"]).any():
            return False
        cos = oracles.cosine_rows(self.vecs, top["query_id"].to_numpy(), top["neighbor_id"].to_numpy())
        if not (np.abs(cos - top["cosine"].to_numpy()) <= COSINE_TOL).all():
            return False
        for _, g in top.sort_values(["query_id", "rank"]).groupby("query_id"):
            if g["rank"].tolist() != list(range(1, len(g) + 1)) or len(g) > TOP_K:
                return False
            if g["neighbor_id"].duplicated().any() or (np.diff(g["cosine"].to_numpy()) > COSINE_TOL).any():
                return False
        return set(top["query_id"]) == set(range(N_QUERIES))

    # -- reporting -----------------------------------------------------------
    def detail(self, ops: list[Op]) -> dict:
        def med(kind):
            return median_or([o.seconds for o in ops if o.kind == kind], None)

        self._expected()
        return {"ingest_batch_p50_s": med("ingest"), "dedup_s": med("dedup"),
                "text_s": med("text"), "ann_s": med("ann"),
                "documents": len(self.corpus.texts), "planted_pairs": len(self._planted),
                "near_duplicate_pairs": len(self._expected_pairs),
                "batch_output_sha256": self.digest.hexdigest()}

    def layer_metrics(self, tracer: Tracer) -> dict:
        spans = tracer.spans
        measured = [s for s in spans if not descends_from(spans, s, "session.warmup")]

        def durations(name):
            return [s.duration for s in measured if s.name == name]

        def med(name):
            return median_or(durations(name), 0.0)

        ingest_s = durations("streaming.ingest.dedup_ingest_batch")
        out = self.outputs
        pairs = out.get("dedup")
        found = set() if pairs is None else set(zip(pairs["doc_a"].tolist(), pairs["doc_b"].tolist()))
        _, bpe = out.get("text") or (None, None)
        bpe_s = durations("operators.text_analysis.bpe_encode_df")
        top = out.get("ann")
        recall = 0.0
        if top is not None:
            exact = oracles.exact_topk(self.vecs, np.arange(N_QUERIES), TOP_K)
            hits = sum(len(set(g["neighbor_id"]) & set(exact[q])) for q, g in top.groupby("query_id"))
            recall = hits / (N_QUERIES * TOP_K)
        _, store_bytes = dir_stats(os.path.join(self.store, "sigs"))
        return {
            "streaming.ingest.dedup_ingest_batch.first_s": ingest_s[0] if ingest_s else 0.0,
            "streaming.ingest.dedup_ingest_batch.last_s": ingest_s[-1] if ingest_s else 0.0,
            "streaming.ingest.store_bytes_per_doc": store_bytes / len(self.corpus.texts),
            "operators.dedup.minhash_lsh_df_s": med("operators.dedup.minhash_lsh_df"),
            "operators.dedup.pairs": float(len(found)),
            "operators.dedup.planted_recall": len(found & self._planted) / max(len(self._planted), 1),
            "operators.text_analysis.quality_score_df_s": med("operators.text_analysis.quality_score_df"),
            "operators.text_analysis.bpe_encode_df_s": med("operators.text_analysis.bpe_encode_df"),
            "operators.text_analysis.bpe_tokens_per_s":
                float(bpe["n_bpe"].sum()) / median(bpe_s) if bpe is not None and bpe_s else 0.0,
            "operators.similarity.topk_lsh_df_s": med("operators.similarity.topk_lsh_df"),
            "operators.similarity.recall_at_k": recall,
        }
