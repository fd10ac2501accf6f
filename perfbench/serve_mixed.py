"""serve_mixed: the reference's own surface under a seeded request mix.

One persistent, hash-bucketed ``Collection`` of clustered unit vectors,
with an IVF index over it (``build_ann_index()`` with its defaults).
Requests are filtered cosine top-k queries of four shapes, point reads,
100-row upserts, 10-id deletes, and batch rounds: one exact
``query_batch`` of 256 queries (the block GEMM kernel does most of its
work) and two 16-query ``query_batch`` calls through the IVF index
(``gen.SERVE_BLOCK``).

Writes change the last set-up's collection.  The IVF index is a
snapshot that only an explicit rebuild refreshes, so batch rounds read
the previous set-up's copy, which no request writes to.  A NumPy mirror
checks every single-query answer and point read, NumPy checks the exact
batches, and the run ends by reopening the collection from disk and
comparing it to the mirror.
"""

from __future__ import annotations

import time

import numpy as np
import pandas as pd
from pyspark.sql import functions as F

from chromem_go_spark.collection import Collection
from chromem_go_spark.operators import filters as FL
from chromem_go_spark.operators import knn as KN
from chromem_go_spark.operators import router as R

import gen
from common import Ctx, arrow_bytes, created_bytes, dir_bytes, dir_files, p50

K = 10
N_BUCKETS = 16
SIZES = {"full": {"n_docs": 5000, "dim": 128}, "tiny": {"n_docs": 300, "dim": 16}}
TOL = 1e-5
TARGET_RECALL = 0.95  # query_batch's default


def docs_frame(spark, docs: gen.Docs):
    pdf = pd.DataFrame({
        "id": docs.ids, "cat": docs.cat, "src": docs.src,
        "embedding": list(docs.emb), "content": docs.content,
    })
    df = spark.createDataFrame(
        pdf, "id string, cat string, src string, embedding array<float>, content string"
    )
    return df.select(
        "id",
        F.create_map(F.lit("cat"), "cat", F.lit("src"), "src").alias("metadata"),
        "embedding",
        "content",
    )


class Mirror:
    """The collection as NumPy arrays, updated by the same requests."""

    def __init__(self, docs: gen.Docs):
        self.rows = {}
        self._apply(docs)

    def _apply(self, docs: gen.Docs) -> None:
        for i, d in enumerate(docs.ids):
            self.rows[d] = (docs.emb[i], docs.cat[i], docs.src[i], docs.content[i])
        self._mat = None

    upsert = _apply

    def delete(self, ids) -> None:
        for d in ids:
            del self.rows[d]
        self._mat = None

    def matrix(self):
        if self._mat is None:
            ids = sorted(self.rows)
            self._mat = (
                ids,
                np.stack([self.rows[d][0] for d in ids]).astype(np.float64),
                np.array([self.rows[d][1] for d in ids]),
                [self.rows[d][3] for d in ids],
            )
        return self._mat


def topk_ok(got, ids, sims, strict, loose, k=K) -> bool:
    """``got`` [(id, similarity)] is a correct top-k of the rows in
    ``strict``..``loose`` (rows whose eligibility is within float
    tolerance of a threshold may go either way; so may ties at the
    k-th score)."""
    n_lo, n_hi = min(k, int(strict.sum())), min(k, int(loose.sum()))
    if not n_lo <= len(got) <= n_hi:
        return False
    if not got:
        return True
    pos = {d: i for i, d in enumerate(ids)}
    loose_idx = np.flatnonzero(loose)
    kth = np.sort(sims[loose_idx])[::-1][len(got) - 1]
    must = {ids[i] for i in np.flatnonzero(strict) if sims[i] > kth + TOL}
    got_ids = [g for g, _ in got]
    if not must <= set(got_ids) or len(set(got_ids)) != len(got_ids):
        return False
    for g, s in got:
        i = pos.get(g)
        if i is None or not loose[i] or sims[i] < kth - TOL or abs(sims[i] - s) > 1e-4:
            return False
    return True


def exact_topk(mat: np.ndarray, q: np.ndarray, k: int = K):
    """Exact scores and each query's top-k row indices, best first."""
    sims = q.astype(np.float64) @ mat.T.astype(np.float64)
    part = np.argpartition(-sims, k - 1, axis=1)[:, :k]
    order = np.argsort(-np.take_along_axis(sims, part, axis=1), axis=1)
    return sims, np.take_along_axis(part, order, axis=1)


def batch_ok(rows, sims, top) -> bool:
    """Per query: the k returned ids are a top-k of the exact scores
    (ties at the k-th score may go either way)."""
    got: dict[int, list] = {}
    for r in rows:
        got.setdefault(int(r["query_id"]), []).append((int(r["id"][1:]), r["similarity"]))
    if sorted(got) != list(range(len(top))):
        return False
    for qi, res in got.items():
        if len(res) != K or len({i for i, _ in res}) != K:
            return False
        kth = sims[qi, top[qi, -1]]
        must = {int(i) for i in top[qi] if sims[qi, i] > kth + TOL}
        if not must <= {i for i, _ in res}:
            return False
        if any(sims[qi, i] < kth - TOL or abs(sims[qi, i] - s) > 1e-4 for i, s in res):
            return False
    return True


class ServeMixed:
    name = "serve_mixed"
    OP_KINDS = set(gen.SERVE_BLOCK)
    WARMUP_OPS = len(gen.SERVE_BLOCK)  # one block: every request kind
    TIMED_BLOCKS = 1
    PRIMARY = {"plain", "where", "contains", "negative"}

    def __init__(self, ctx: Ctx, seed: int, size: str):
        self.ctx, self.seed = ctx, seed
        self.n_docs, self.dim = SIZES[size]["n_docs"], SIZES[size]["dim"]
        self.build_s: list[float] = []
        self.coll = None
        self.reset()

    def reset(self) -> None:
        self.rows_eligible = self.rows_returned = 0
        self.written_user = self.written_disk = 0
        self.hits = self.truths = 0
        self.probed_rows: list[int] = []

    # ------------------------------------------------------------ set-up

    def setup(self, path: str) -> None:
        """Ingest and index build.  The previous set-up's collection and
        index become the read-only snapshot the batch rounds query."""
        corpus = gen.serve_corpus(self.seed, self.n_docs, self.dim)
        coll = Collection(self.ctx.spark, "serve", persist_dir=path, n_buckets=N_BUCKETS)
        with self.ctx.tracer.span("collection.add_df.setup"):
            coll.add_df(docs_frame(self.ctx.spark, corpus))
        t0 = time.perf_counter()
        with self.ctx.tracer.span("collection.build_ann_index"):
            index = coll.build_ann_index()
        self.build_s.append(time.perf_counter() - t0)
        if self.coll is not None:
            self.snap_coll, self.snap_index = self.coll, self.index
        self.snap_emb = corpus.emb
        self.coll, self.index, self.path = coll, index, path
        self.mirror = Mirror(corpus)
        self.ops = gen.ServeOps(self.seed, corpus)
        self.pending = None

    def prepare_checks(self) -> None:
        pass

    # ------------------------------------------------------------ requests

    def next_kind(self) -> str:
        if self.pending is None:
            self.pending = next(self.ops)
        return self.pending["kind"]

    def at_block_end(self) -> bool:
        return self.pending is None and not self.ops.block

    def run_op(self, traced: bool) -> bool:
        self.next_kind()
        op, self.pending = self.pending, None
        kind = op["kind"]
        with self.ctx.tracer.op(kind):
            if kind == "batch":
                return self._batch(op, traced)
            if kind in ("upsert", "delete"):
                return self._write(op, traced)
            if kind == "get":
                return self._get(op)
            return self._query(op, traced)

    def _query(self, op, traced):
        coll, kind = self.coll, op["kind"]
        q = [float(x) for x in op["q"]]
        kw = {}
        if kind == "where":
            kw["where"] = op["where"]
        elif kind == "contains":
            kw["where_document"] = op["where_document"]
        elif kind == "negative":
            kw = {"negative_embedding": [float(x) for x in op["neg"]],
                  "negative_mode": "filter"}
        with self.ctx.measure(kind, f"collection.query_embedding.{kind}"):
            rows = coll.query_embedding(q, K, **kw).collect()

        ids, mat, cats, content = self.mirror.matrix()
        qn = np.asarray(op["q"], np.float64)
        sims = mat @ (qn / np.linalg.norm(qn))
        strict = loose = np.ones(len(ids), bool)
        if kind == "where":
            strict = loose = cats == op["where"]["cat"]
        elif kind == "contains":
            pat = op["where_document"]["$contains"]
            strict = loose = np.array([pat in c for c in content])
        elif kind == "negative":
            nv = np.asarray(op["neg"], np.float64)
            neg = mat @ (nv / np.linalg.norm(nv))
            thr = KN.DEFAULT_NEGATIVE_FILTER_THRESHOLD
            strict, loose = neg <= thr - TOL, neg <= thr + TOL
        ok = topk_ok([(r["id"], r["similarity"]) for r in rows], ids, sims, strict, loose)
        self.ctx.check(ok, f"serve {kind} top-{K} differs from the mirror")
        if traced:
            self.rows_eligible += int(strict.sum())
            self.rows_returned += len(rows)
            self._decompose(kind, q, kw)
        return ok

    def _decompose(self, kind, q, kw):
        """Time the layer calls one query composes, one by one."""
        tr, coll = self.ctx.tracer, self.coll
        with tr.span("collection.count"):
            coll.count()
        if kind == "negative":
            with tr.span("knn.knn_negative_filter"):
                KN.knn_negative_filter(coll.df, q, kw["negative_embedding"], K).collect()
            return
        pred = FL.combined_predicate(kw.get("where"), kw.get("where_document"))
        if kind != "plain":
            with tr.span("filters.rows_passing"):
                coll.df.filter(pred).count()
        with tr.span("knn.knn_single"):
            KN.knn_single(coll.df.filter(pred), q, K).collect()

    def _batch(self, op, traced):
        """One exact batch of all the op's queries, then IVF batches of
        ``gen.IVF_QUERIES`` over its first ``gen.IVF_BATCHES`` slices."""
        q = op["q"]
        qv = [[float(x) for x in row] for row in q]
        with self.ctx.measure("exact", "collection.query_batch.exact"):
            exact = self.snap_coll.query_batch(query_embeddings=qv, n_results=K).collect()
        sims, top = exact_topk(self.snap_emb, q)
        ok = self.ctx.check(batch_ok(exact, sims, top), "serve exact batch differs from NumPy")

        n = gen.IVF_QUERIES
        for lo in range(0, n * gen.IVF_BATCHES, n):
            with self.ctx.measure("ivf", "collection.query_batch.ivf"):
                ivf = self.snap_coll.query_batch(
                    query_embeddings=qv[lo:lo + n], n_results=K, index=self.snap_index
                ).collect()
            got = {(int(r["query_id"]), int(r["id"][1:])) for r in ivf}
            ivf_ok = len(got) == n * K and all(0 <= qi < n for qi, _ in got)
            ok = self.ctx.check(ivf_ok, "serve IVF batch is not k distinct rows per query") and ok
            self.hits += sum((qi, int(i)) in got for qi in range(n) for i in top[lo + qi])
            self.truths += n * K
        if traced:
            self._decompose_batch(qv)
        return ok

    def _decompose_batch(self, qv):
        """Time the kernel, the router and the IVF search one by one."""
        tr, df, index = self.ctx.tracer, self.snap_coll.df, self.snap_index
        qids = [str(i) for i in range(len(qv))]
        with tr.span("knn.knn_block"):
            KN.knn_block(df, qids, qv, K).collect()
        with tr.span("router.routed_search_batch"):
            R.routed_search_batch(df, qids, qv, K, vec_col="embedding", id_col="id").collect()
        n_ivf = gen.IVF_QUERIES
        nprobe = R._nprobe(len(index.centroids), TARGET_RECALL)  # the served-index rule
        with tr.span("ann.IVFIndex.search_batch"):
            index.search_batch(qids[:n_ivf], qv[:n_ivf], K, nprobe=nprobe).collect()
        if not hasattr(self, "_sizes"):
            rows = index.assigned.groupBy("cluster_id").count().collect()
            self._sizes = {r["cluster_id"]: r["count"] for r in rows}
        for v in qv[:n_ivf]:
            self.probed_rows.append(
                sum(self._sizes.get(c, 0) for c in index.probe_clusters(v, nprobe))
            )

    def _get(self, op):
        d = op["id"]
        with self.ctx.measure("get", "collection.get_by_id"):
            doc = self.coll.get_by_id(d)
        emb, cat, src, content = self.mirror.rows[d]
        ok = (
            doc.id == d and doc.content == content
            and doc.metadata == {"cat": cat, "src": src}
            and np.allclose(doc.embedding, emb, atol=1e-6)
        )
        return self.ctx.check(ok, f"serve get_by_id({d}) differs from the mirror")

    def _write(self, op, traced):
        kind = op["kind"]
        before = dir_files(self.path) if traced else None
        if kind == "upsert":
            df = docs_frame(self.ctx.spark, op["docs"])
            if traced:
                self.written_user += arrow_bytes(df)
            with self.ctx.measure(kind, "collection.add_df"):
                self.coll.add_df(df)
            self.mirror.upsert(op["docs"])
        else:
            with self.ctx.measure(kind, "collection.delete"):
                self.coll.delete(ids=op["ids"])
            self.mirror.delete(op["ids"])
        if traced:
            self.written_disk += created_bytes(before, dir_files(self.path))
        return True

    # ------------------------------------------------------------ end of run

    def finish(self) -> bool:
        """Durability: a new Collection over the same directory holds
        exactly the mirror's rows."""
        reopened = Collection(self.ctx.spark, "serve", persist_dir=self.path, n_buckets=N_BUCKETS)
        got = {
            r["id"]: r for r in reopened.df.select("id", "metadata", "embedding", "content").collect()
        }
        want = self.mirror.rows
        ok = set(got) == set(want) and all(
            got[d]["content"] == want[d][3]
            and dict(got[d]["metadata"]) == {"cat": want[d][1], "src": want[d][2]}
            and np.allclose(got[d]["embedding"], want[d][0], atol=1e-6)
            for d in want
        )
        self.ctx.check(ok, "serve: reopened collection differs from the mirror")
        return ok

    def end_to_end(self, cpu: dict, n_ops: int) -> dict:
        of = lambda names: [x for k in names for x in cpu.get(k, [])]  # noqa: E731
        return {
            "primary_p50_ref_cpu_s": p50(of(self.PRIMARY)),
            "secondary_p50_ref_cpu_s": p50(of(("upsert", "delete"))),
            "tertiary_p50_ref_cpu_s": p50(of(("ivf",))),
            "work_per_ref_cpu_s": n_ops / sum(of(cpu)),  # requests per reference CPU second
            "recall": self.hits / self.truths,  # IVF recall@10
        }

    def layer_counts(self) -> dict:
        return {
            "collection.space_amp": dir_bytes(self.path) / arrow_bytes(self.coll.df),
            "collection.write_amp": self.written_disk / max(self.written_user, 1),
            "filters.rows_per_result": self.rows_eligible / max(self.rows_returned, 1),
            "ann.probed_rows_per_query": p50(self.probed_rows),
            "ann.IVFIndex.build_s": p50(self.build_s),
        }
