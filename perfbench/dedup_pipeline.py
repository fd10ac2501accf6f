"""dedup_pipeline: the training-data selection path.

A seeded corpus in the tools/gen_corpus.py shape.  The ops cycle through
one ``select_training_documents`` pass and one ``minhash_lsh_pairs``
pass over the corpus, then the next micro-batch through
``incremental_neardup_batch``.  The near-dup state resets after every
full cycle of batches, so history size repeats identically.

The benchmark's own exact Jaccard oracle (NumPy over character 5-gram
sets) checks every LSH pair, the selection's one-per-cluster rule, and
that the incremental pair log equals the LSH pairs over the same docs.
"""

from __future__ import annotations

import os

import numpy as np
import pandas as pd

from chromem_go_spark import pipeline as P
from chromem_go_spark.materialize import materialize
from chromem_go_spark.operators import dedup as D
from chromem_go_spark.streaming import ingest as S

import gen
from common import Ctx, arrow_bytes, dir_bytes, p50, rmtree

THRESHOLD = 0.5
SHINGLE = 5
N_BATCHES = 10
SIZES = {"full": {"n_docs": 500}, "tiny": {"n_docs": 120}}


def exact_pairs(texts: list[str], threshold: float = THRESHOLD) -> dict:
    """{(a, b): jaccard} over distinct character k-gram sets, a < b."""
    sets = [{t[i:i + SHINGLE] for i in range(len(t) - SHINGLE + 1)} for t in texts]
    vocab: dict[str, int] = {}
    for s in sets:
        for g in s:
            vocab.setdefault(g, len(vocab))
    x = np.zeros((len(texts), len(vocab)), np.float32)
    for i, s in enumerate(sets):
        x[i, [vocab[g] for g in s]] = 1.0
    size = x.sum(axis=1)
    out = {}
    for lo in range(0, len(texts), 256):
        inter = x[lo:lo + 256] @ x.T
        union = size[lo:lo + 256, None] + size[None, :] - inter
        a, b = np.nonzero(inter >= threshold * union)
        for i, j in zip(a + lo, b):
            if i < j:
                out[(int(i), int(j))] = int(inter[i - lo, j]) / int(union[i - lo, j])
    return out


def components(n: int, pairs) -> list[int]:
    """Union-find: each doc's component, labelled by its smallest id."""
    parent = list(range(n))

    def find(i):
        while parent[i] != i:
            parent[i] = parent[parent[i]]
            i = parent[i]
        return i

    for a, b in pairs:
        ra, rb = find(a), find(b)
        if ra != rb:
            parent[max(ra, rb)] = min(ra, rb)
    return [find(i) for i in range(n)]


def pairs_match(got: dict, want: dict) -> bool:
    return set(got) == set(want) and all(abs(got[p] - want[p]) < 1e-9 for p in want)


class DedupPipeline:
    name = "dedup_pipeline"
    OPS = ("select", "lsh", "ingest")
    OP_KINDS = set(OPS)
    # The passes' CPU still falls block by block after the first (the JIT
    # compiles more of Spark), so two blocks warm up; each pass is one
    # sample, and the p50s are over three timed blocks.
    WARMUP_OPS = 2 * len(OPS)
    TIMED_BLOCKS = 3
    PRIMARY = {"select"}

    def __init__(self, ctx: Ctx, seed: int, size: str):
        self.ctx, self.seed = ctx, seed
        self.n_docs = SIZES[size]["n_docs"]
        self.batch = self.n_docs // N_BATCHES
        self.step = self.batch_no = 0
        self.lsh: dict = {}
        self.reset()

    def reset(self) -> None:
        self.recalls: list[float] = []
        self.candidates: list[int] = []
        self.yields: list[float] = []
        self.state_bytes: list[int] = []

    def setup(self, path: str) -> None:
        spark = self.ctx.spark
        corpus = gen.dedup_corpus(self.seed, self.n_docs)
        pdf = pd.DataFrame(corpus)
        schema = "doc_id long, text string, lang string, source string"
        docs = spark.createDataFrame(pdf, schema).transform(materialize)
        batches = [
            spark.createDataFrame(pdf.iloc[b * self.batch:(b + 1) * self.batch], schema)
            for b in range(N_BATCHES)
        ]
        self.docs, self.batches, self.corpus, self.path = docs, batches, corpus, path
        self.state = os.path.join(path, "state")

    def prepare_checks(self) -> None:
        """The oracle: exact pairs and their clusters (not part of set-up)."""
        self.exact = exact_pairs(self.corpus["text"])
        self.comp = components(self.n_docs, self.exact)

    def next_kind(self) -> str:
        return self.OPS[self.step % len(self.OPS)]

    def at_block_end(self) -> bool:
        return self.step % len(self.OPS) == 0

    def run_op(self, traced: bool) -> bool:
        kind = self.next_kind()
        self.step += 1
        with self.ctx.tracer.op(kind):
            return getattr(self, "_" + kind)(traced)

    def _select(self, traced):
        with self.ctx.measure("select", "pipeline.select_training_documents"):
            kept = [r["doc_id"] for r in P.select_training_documents(self.docs).select("doc_id").collect()]
        ok = self.ctx.check(
            len(set(kept)) == len(kept) and all(self.comp[d] == d for d in kept),
            "dedup: selection kept a doc that is not its cluster's representative",
        )
        if traced:
            self._decompose_select()
        return ok

    def _lsh(self, traced):
        with self.ctx.measure("lsh", "dedup.minhash_lsh_pairs"):
            rows = D.minhash_lsh_pairs(self.docs, threshold=THRESHOLD).collect()
        self.lsh = {(int(r["id_a"]), int(r["id_b"])): r["jaccard"] for r in rows}
        ok = self.ctx.check(
            all(p in self.exact and abs(j - self.exact[p]) < 1e-9 for p, j in self.lsh.items()),
            "dedup: an LSH pair is not an exact pair with equal Jaccard",
        )
        self.recalls.append(len(self.lsh) / max(len(self.exact), 1))
        if traced:
            tr = self.ctx.tracer
            with tr.span("dedup.minhash_signatures"):
                D.minhash_signatures(self.docs).collect()
            with tr.span("dedup.lsh_candidates"):
                n_cand = D.minhash_lsh_pairs(self.docs, threshold=THRESHOLD, verify=False).count()
            self.candidates.append(n_cand)
            self.yields.append(len(self.lsh) / max(n_cand, 1))
        return ok

    def _ingest(self, traced):
        b = self.batch_no % N_BATCHES
        self.batch_no += 1
        if b == 0:
            rmtree(self.state)
        with self.ctx.measure("ingest", "streaming.ingest.incremental_neardup_batch"):
            S.incremental_neardup_batch(self.batches[b], self.state, threshold=THRESHOLD, batch_id=b)
        # the pair log so far equals minhash_lsh_pairs over the same docs
        # (the LSH pass is seeded, so the last one stands for any)
        hi = (b + 1) * self.batch
        log_ = {(int(r["id_a"]), int(r["id_b"])): r["jaccard"] for r in self._state_rows("pairs")}
        ok = self.ctx.check(
            pairs_match(log_, {p: j for p, j in self.lsh.items() if p[1] < hi}),
            "dedup: incremental pair log differs from minhash_lsh_pairs over the same docs",
        )
        if traced:
            self.state_bytes.append(dir_bytes(self.state))
        return ok

    def _state_table(self, table: str):
        """One near-dup state table, or None while no batch has written
        a row to it (it has no parquet footer to read yet)."""
        from pyspark.errors import AnalysisException

        try:
            return self.ctx.spark.read.parquet(os.path.join(self.state, table))
        except AnalysisException as e:
            if "UNABLE_TO_INFER_SCHEMA" in str(e):
                return None
            raise

    def _state_rows(self, table: str) -> list:
        df = self._state_table(table)
        return [] if df is None else df.collect()

    def _decompose_select(self) -> None:
        """Time the layer calls the selection pass composes."""
        tr, docs = self.ctx.tracer, self.docs
        with tr.span("dedup.ngram_jaccard_pairs"):
            pairs = D.ngram_jaccard_pairs(docs, threshold=THRESHOLD).collect()
        edges = self.ctx.spark.createDataFrame(
            [(r["id_a"], r["id_b"]) for r in pairs], "id_a long, id_b long"
        ).transform(materialize)
        with tr.span("dedup.connected_components"):
            D.connected_components(edges).collect()
        with tr.span("pipeline.gates"):
            P.select_training_documents(docs, reps=self._reps()).select("doc_id").collect()

    def _reps(self):
        """Cluster representatives, materialized once, so the gates
        call times the quality and language gates alone."""
        if not hasattr(self, "_reps_df"):
            self._reps_df = P.cluster_representatives(self.docs, P.PipelineConfig()).transform(materialize)
        return self._reps_df

    def finish(self) -> bool:
        return True

    def end_to_end(self, cpu: dict, n_ops: int) -> dict:
        select = p50(cpu["select"])
        return {
            "primary_p50_ref_cpu_s": select,
            "secondary_p50_ref_cpu_s": p50(cpu["ingest"]),
            "tertiary_p50_ref_cpu_s": p50(cpu["lsh"]),
            "work_per_ref_cpu_s": self.n_docs / select,  # docs per reference CPU second of selection
            "recall": p50(self.recalls),  # LSH pairs / exact pairs
        }

    def layer_counts(self) -> dict:
        tables = [self._state_table(t) for t in ("pairs", "buckets", "shingles")]
        live = sum(arrow_bytes(df) for df in tables if df is not None)
        return {
            "streaming.ingest.space_amp": dir_bytes(self.state) / live,
            "dedup.lsh_candidates": p50(self.candidates),
            "dedup.lsh_verify_yield": p50(self.yields),
            "streaming.ingest.state_bytes": p50(self.state_bytes),
        }
