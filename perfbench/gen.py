"""Seeded input generation for the workloads.

Pure NumPy: nothing here touches Spark or the library, so the same seed
yields byte-identical inputs (``fingerprint``) on any host.
"""

from __future__ import annotations

import hashlib
import json
from dataclasses import dataclass

import numpy as np

# Fixed 50-word vocabulary for serve_mixed content.
SERVE_VOCAB = [
    "vector", "index", "query", "filter", "cosine", "store", "embed",
    "model", "token", "chunk", "batch", "cache", "shard", "merge", "scan",
    "score", "rank", "match", "field", "table", "delta", "write", "read",
    "graph", "node", "edge", "cluster", "probe", "list", "hash", "bloom",
    "prefix", "suffix", "window", "stream", "event", "source", "sink",
    "parquet", "arrow", "spark", "task", "stage", "job", "driver",
    "worker", "memory", "disk", "bucket", "page",
]
N_CATS = 8
N_SRCS = 50
CONTENT_WORDS = 20

# The document shape tools/gen_corpus.py generates (30-word vocabulary,
# 10-99 words, ~5% planted near-copies).
DEDUP_VOCAB = [
    "join", "hash", "row", "batch", "scan", "customer", "column",
    "filter", "small", "slow", "merge", "order", "vector", "line",
    "data", "table", "agg", "value", "key", "stream", "window",
    "spark", "a", "group", "part", "big", "sort", "query", "fast",
    "the",
]
LANGS = ["en", "de", "es", "fr", "zh"]
LANG_P = [0.40, 0.15, 0.15, 0.15, 0.15]
NEAR_DUP_EVERY = 20  # every 20th document is a near-copy: 5%


def _unit(rng: np.random.Generator, n: int, dim: int) -> np.ndarray:
    m = rng.standard_normal((n, dim))
    m /= np.linalg.norm(m, axis=1, keepdims=True)
    return m.astype(np.float32)


def _normalize(v: np.ndarray) -> np.ndarray:
    return (v / np.linalg.norm(v)).astype(np.float32)


def fingerprint(obj) -> str:
    """sha256 over arrays (raw bytes) and JSON-able values, in order."""
    h = hashlib.sha256()

    def feed(x):
        if isinstance(x, np.ndarray):
            h.update(str(x.dtype).encode() + str(x.shape).encode())
            h.update(np.ascontiguousarray(x).tobytes())
        elif isinstance(x, dict):
            for k in sorted(x):
                h.update(str(k).encode())
                feed(x[k])
        elif isinstance(x, (list, tuple)):
            h.update(b"[%d]" % len(x))
            for v in x:
                feed(v)
        else:
            h.update(json.dumps(x).encode())

    feed(obj)
    return h.hexdigest()


# ---------------------------------------------------------------- serve_mixed


@dataclass
class Docs:
    ids: list
    emb: np.ndarray  # (n, dim) float32, unit rows
    cat: list
    src: list
    content: list

    def as_dict(self) -> dict:
        return {"ids": self.ids, "emb": self.emb, "cat": self.cat,
                "src": self.src, "content": self.content}


N_BLOBS = 32
BLOB_SIGMA = 0.15


def centres(seed: int, dim: int) -> np.ndarray:
    """Blob centres: real embedding corpora cluster, and an IVF index
    only pays off on data that does."""
    return _unit(np.random.default_rng([seed, 3]), N_BLOBS, dim).astype(np.float64)


def _blobs(rng: np.random.Generator, cents: np.ndarray, n: int) -> np.ndarray:
    m = cents[rng.integers(0, len(cents), size=n)]
    m = m + BLOB_SIGMA * rng.standard_normal(m.shape)
    m /= np.linalg.norm(m, axis=1, keepdims=True)
    return m.astype(np.float32)


def _serve_docs(rng: np.random.Generator, ids: list, cents: np.ndarray) -> Docs:
    n = len(ids)
    words = rng.integers(0, len(SERVE_VOCAB), size=(n, CONTENT_WORDS))
    return Docs(
        ids=list(ids),
        emb=_blobs(rng, cents, n),
        cat=[f"c{i}" for i in rng.integers(0, N_CATS, size=n)],
        src=[f"s{i}" for i in rng.integers(0, N_SRCS, size=n)],
        content=[" ".join(SERVE_VOCAB[j] for j in row) for row in words],
    )


def serve_corpus(seed: int, n_docs: int, dim: int) -> Docs:
    rng = np.random.default_rng([seed, 1])
    return _serve_docs(rng, [f"d{i}" for i in range(n_docs)], centres(seed, dim))


# Each block of eleven requests holds exactly this mix, in a seeded
# order: 7 single queries over four shapes, a point read, an upsert, a
# delete, and a batch round (one exact batch, then IVF batches).
SERVE_BLOCK = ["plain", "plain", "where", "where", "contains", "contains",
               "negative", "get", "upsert", "delete", "batch"]
UPSERT_ROWS = 100
DELETE_IDS = 10
BATCH_QUERIES = 256
IVF_QUERIES = 16
IVF_BATCHES = 2  # IVF batches per batch round, over the round's first queries


class ServeOps:
    """The seeded request stream.  It tracks which ids exist, exactly as
    the requests leave them, so point reads, overwrites and deletes
    always name live ids; a run draws as many requests as its time
    allows and the stream is identical for a given seed."""

    def __init__(self, seed: int, corpus: Docs):
        self.rng = np.random.default_rng([seed, 2])
        self.dim = corpus.emb.shape[1]
        self.cents = centres(seed, self.dim)
        self.live = list(corpus.ids)
        self.live_set = set(self.live)
        self.content = dict(zip(corpus.ids, corpus.content))
        self.emb = dict(zip(corpus.ids, corpus.emb))
        self.next_id = len(corpus.ids)
        self.block: list = []

    def _pick_live(self, n: int) -> list:
        idx = self.rng.choice(len(self.live), size=n, replace=False)
        return [self.live[i] for i in sorted(idx)]

    def __iter__(self):
        return self

    def __next__(self) -> dict:
        if not self.block:
            self.block = [SERVE_BLOCK[i] for i in self.rng.permutation(len(SERVE_BLOCK))]
        kind = self.block.pop()
        rng = self.rng
        if kind == "plain":
            return {"kind": kind, "q": _unit(rng, 1, self.dim)[0]}
        if kind == "where":
            return {"kind": kind, "q": _unit(rng, 1, self.dim)[0],
                    "where": {"cat": f"c{int(rng.integers(0, N_CATS))}"}}
        if kind == "contains":
            # a two-word phrase taken from a live document, so it matches
            words = self.content[self._pick_live(1)[0]].split(" ")
            j = int(rng.integers(0, len(words) - 1))
            return {"kind": kind, "q": _unit(rng, 1, self.dim)[0],
                    "where_document": {"$contains": " ".join(words[j:j + 2])}}
        if kind == "negative":
            # query near a live document, negative = that document, so
            # the filter drops the nearest row
            anchor = self.emb[self._pick_live(1)[0]]
            q = _normalize(anchor + 0.5 * _unit(rng, 1, self.dim)[0])
            return {"kind": kind, "q": q, "neg": anchor.copy()}
        if kind == "get":
            return {"kind": kind, "id": self._pick_live(1)[0]}
        if kind == "batch":
            return {"kind": kind, "q": _blobs(rng, self.cents, BATCH_QUERIES)}
        if kind == "upsert":
            old = self._pick_live(UPSERT_ROWS // 2)
            new = [f"d{self.next_id + i}" for i in range(UPSERT_ROWS - len(old))]
            self.next_id += len(new)
            docs = _serve_docs(rng, old + new, self.cents)
            for i, d in enumerate(docs.ids):
                if d not in self.live_set:
                    self.live.append(d)
                    self.live_set.add(d)
                self.content[d] = docs.content[i]
                self.emb[d] = docs.emb[i]
            return {"kind": kind, "docs": docs}
        ids = self._pick_live(DELETE_IDS)
        gone = set(ids)
        self.live = [d for d in self.live if d not in gone]
        self.live_set -= gone
        return {"kind": "delete", "ids": ids}


# ------------------------------------------------------------- dedup_pipeline


def dedup_corpus(seed: int, n_docs: int) -> dict:
    """Documents in the tools/gen_corpus.py shape: doc_id 0..n-1, text of
    10-99 vocabulary words, 5% near-copies of an earlier document.  The
    seed picks the words, lengths and copied documents; the lengths are a
    shuffle of one fixed spread and the copies sit at fixed positions, so
    every seed makes about the same amount of work."""
    rng = np.random.default_rng([seed, 5])
    lengths = rng.permutation(np.linspace(10, 99, n_docs).round().astype(int))
    texts: list[str] = []
    for i in range(n_docs):
        if i % NEAR_DUP_EVERY == NEAR_DUP_EVERY - 1:
            w = texts[int(rng.integers(0, i))].split(" ")
            for _ in range(int(rng.integers(1, 3))):
                w[int(rng.integers(0, len(w)))] = DEDUP_VOCAB[
                    int(rng.integers(0, len(DEDUP_VOCAB)))
                ]
            if rng.random() < 0.25:
                w.append("dup")
            texts.append(" ".join(w))
        else:
            idx = rng.integers(0, len(DEDUP_VOCAB), size=int(lengths[i]))
            texts.append(" ".join(DEDUP_VOCAB[j] for j in idx))
    langs = rng.choice(len(LANGS), size=n_docs, p=LANG_P)
    return {
        "doc_id": list(range(n_docs)),
        "text": texts,
        "lang": [LANGS[i] for i in langs],
        "source": [f"src{i}" for i in rng.integers(0, 20, size=n_docs)],
    }
