"""Approximate nearest-neighbor search: the IVF (inverted-file) tiers.

The reference is FLAT-only (exhaustive scan; HNSW/IVFFlat are roadmap
items, reference README.md:176-178). At 100 TB, brute force over every
query is the bottleneck, so this maps the classic IVF design onto
Spark's storage model.  Every tier shares one coarse quantizer:
spherical k-means centroids (deterministic seed) fitted on a bounded,
hash-spread driver sample, every vector assigned to its nearest
centroid JVM-side, and the tables **written partitioned by
``cluster_id``** — so probing ``nprobe`` cells is *partition pruning at
the Parquet scan*, not a filter over all data.

Three tiers:

- :class:`IVFIndex` keeps full vectors and every input column in the
  cells and scores exactly inside the probed cells.  It is the tier
  that serves metadata filters (``search_filtered``,
  ``search_batch_dsl``).
- :class:`IVFSQIndex` and :class:`IVFPQIndex` are two codecs over one
  coded inverted-list container, :class:`_CodedIVF`.  A codec trains
  its parameters, turns each vector into a fixed-width uint8 row (SQ8:
  one byte per dimension; PQ: one byte per subspace, Jégou et al.,
  TPAMI 2011) and scores code rows against the queries.  The container
  owns everything else: build, save/load, append, tombstone deletes,
  compaction, the partition-pruned code scan, and the filter-then-
  verify search — a top-``rerank`` shortlist per query from the
  approximate scores, then an exact re-rank that joins the original
  vectors back by id.

On-disk layout, one directory per index:

- IVF: the assigned rows at the root, partitioned by
  ``(__batch, cluster_id)``; centroids in ``_centroids.json``.
- SQ8 / PQ: ``codes/`` (id, codes binary; partitioned by
  ``(__batch, cluster_id)``), ``vectors/`` (id, vector; partitioned by
  ``__batch``) and the quantizer in ``_sq_meta.json`` (``centroids``,
  ``mins``, ``steps``, ``vec_col``, ``id_col``) or ``_pq_meta.json``
  (``centroids``, ``codebooks``, ``vec_col``, ``id_col``).
- All tiers: ``__batch=-1`` is the built or compacted base and
  ``__batch=N`` an appended micro-batch (the fold protocol of
  batchstate.py); ``_tombstones/`` holds logically deleted ids until the
  next compact.

With ``nprobe == n_clusters`` (and, on the coded tiers, a generous
``rerank``) every tier returns exactly the FLAT result, which is how
the DuckDB oracle validates it.
"""

from __future__ import annotations

import json
import os
from typing import Sequence

import numpy as np

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..batchstate import drop_batch_partition, fold_batch_partitions, read_live
from ..functions import vector as V
from ..materialize import materialize
from . import knn as knn_ops


# Max rows fed to each PQ subquantizer's k-means fit (r15): 100x the
# default 256-code budget.  Every tested SF samples far fewer rows, so
# results there are bit-identical; at scale the codebook fit stops
# growing with sample_size.
_PQ_FIT_CAP = 25_600

_BASE_BATCH = -1  # reserved __batch id: initial build / compacted history
_CELL_PARTS = ("__batch", "cluster_id")  # partitioning of the cell tables


class EmptyCorpusError(ValueError):
    """Raised when a quantizer trainer is asked to fit an EMPTY corpus
    frame.  A dedicated type (r11, ADVICE) so the router's demote-to-FLAT
    path catches exactly this condition instead of substring-matching the
    message — a zero-row hash sample over a NON-empty frame (degenerate id
    distribution) must NOT masquerade as an empty corpus.  Subclasses
    ``ValueError`` so existing callers (and the golden-error tests) keep
    their contract."""


def _kmeanspp_init(sample: np.ndarray, k: int, rng: np.random.Generator) -> np.ndarray:
    """k-means++ seeding (Arthur & Vassilvitskii, SODA'07 — public
    method): each next center is drawn proportional to squared distance
    from the chosen set. Balanced initial centers -> balanced IVF cells,
    which matters because probe cost follows the largest cells."""
    n = sample.shape[0]
    k = min(k, n)
    centers = [sample[rng.integers(n)]]
    d2 = ((sample - centers[0]) ** 2).sum(axis=1)
    for _ in range(1, k):
        probs = d2 / d2.sum() if d2.sum() > 0 else np.full(n, 1.0 / n)
        centers.append(sample[rng.choice(n, p=probs)])
        d2 = np.minimum(d2, ((sample - centers[-1]) ** 2).sum(axis=1))
    return np.stack(centers)


def _hash_sample(
    df: DataFrame, vec_col: str, id_col: str, sample_size: int
) -> np.ndarray:
    """Deterministic driver-side sample spread across ALL partitions: a
    bare limit() would take rows from the first partitions only, biasing
    trainers on clustered storage. xxhash64(id) % 997 < p keeps
    ~sample_size rows uniformly wherever they live. ONE count + ONE
    collect — shared by the coarse quantizer and the codec trainer.

    The kept rows are the first ``sample_size`` in ``(xxhash64(id),
    id)`` order (a bounded TakeOrderedAndProject, never more than
    ``sample_size`` rows on the driver), so the sample — and every
    centroid seeded from it — is a function of the rows and the seed
    alone, never of the file or partition layout."""
    n_rows = df.count()
    if n_rows == 0:
        # training a quantizer on nothing is meaningless, and numpy's
        # downstream failure (AxisError in the k-means GEMM) hides the
        # actual problem — fail with the cause, as a TYPE the router can
        # catch (r11: substring-matching this message was brittle)
        raise EmptyCorpusError(
            "cannot train a quantizer over an empty corpus frame"
        )
    keyed = df.select(
        F.xxhash64(F.col(id_col).cast("string")).alias("__h"),
        F.col(id_col).cast("string").alias("__id"),
        vec_col,
    )
    cand = keyed
    if n_rows > sample_size:
        p = max(1, int(997 * sample_size / n_rows))
        cand = keyed.filter(F.pmod("__h", F.lit(997)) < p)

    def head(frame: DataFrame) -> list:
        return frame.orderBy("__h", "__id").limit(sample_size).collect()

    # an empty head is a degenerate id distribution: the modular hash
    # filter selected nothing on a NON-empty frame.  That is a sampling
    # anomaly, not an empty corpus — fall back to the head of the
    # unfiltered frame rather than mis-signal emptiness (r11, ADVICE)
    rows = head(cand) or head(keyed)
    return np.asarray([r[2] for r in rows], dtype=np.float64)


def _unit_rows(mat: np.ndarray) -> np.ndarray:
    """L2-normalize every row; all-zero rows stay zero."""
    norms = np.linalg.norm(mat, axis=1, keepdims=True)
    norms[norms == 0] = 1.0
    return mat / norms


def _kmeans(sample: np.ndarray, n_clusters: int, seed: int = 42, n_iter: int = 20) -> np.ndarray:
    """Deterministic Lloyd's k-means on normalized vectors (spherical-ish:
    centroids re-normalized each step so assignment is by cosine);
    k-means++ seeded."""
    rng = np.random.default_rng(seed)
    cents = _kmeanspp_init(sample, n_clusters, rng)
    for _ in range(n_iter):
        sims = sample @ cents.T
        assign = np.argmax(sims, axis=1)
        for c in range(cents.shape[0]):
            members = sample[assign == c]
            if len(members):
                m = members.mean(axis=0)
                nrm = np.linalg.norm(m)
                if nrm > 0:
                    cents[c] = m / nrm
    return cents


def _coarse_quantizer(
    df: DataFrame, n_clusters: int, vec_col: str, id_col: str,
    seed: int, sample_size: int,
) -> tuple[np.ndarray, np.ndarray]:
    """One hash-spread sample and the spherical k-means centroids fitted
    on it: ``(sample, centroids)``.  The coded tiers train their codec
    on the same (unnormalized) sample."""
    sample = _hash_sample(df, vec_col, id_col, sample_size)
    return sample, _kmeans(_unit_rows(sample), n_clusters, seed)


def _assign_clusters(
    df: DataFrame,
    cents: np.ndarray,
    vec_col: str,
    ids: np.ndarray | None = None,
) -> DataFrame:
    """Nearest-centroid assignment as one GEMM-argmax per Arrow batch
    (``mapInPandas``). Rendering the centroid matrix as Catalyst literal
    arrays (n_clusters x dim literal nodes) generates code that blows out
    the JVM code cache and degrades the whole session; the kernel keeps
    the plan a single node and the math one ``mat @ cents.T``.

    ``ids`` (r12) optionally maps the argmax INDEX to an arbitrary id
    per row (``cluster_id = ids[argmax]``) — the sharded sink's
    sparse active-cell routing, done here in NumPy for the same
    reason: an ``element_at(array(<lits>), ...)`` mapping would
    re-grow a Catalyst literal with the active-cell count as splits
    accumulate."""
    fields = ", ".join(
        f"{f.name} {f.dataType.simpleString()}" for f in df.schema.fields
    )
    out_schema = f"{fields}, cluster_id int"
    cmat = cents.T.copy()  # (dim, n_clusters)
    idmap = None if ids is None else np.asarray(ids, dtype=np.int32)

    def gen(batches):
        for pdf in batches:
            if len(pdf) == 0:
                continue
            mat = np.vstack(pdf[vec_col].to_numpy()).astype(np.float64)
            pdf = pdf.copy()
            arg = np.argmax(mat @ cmat, axis=1)
            pdf["cluster_id"] = (
                idmap[arg] if idmap is not None else arg.astype(np.int32)
            )
            yield pdf

    return df.mapInPandas(gen, out_schema)


def _kmeans_l2(sample: np.ndarray, k: int, seed: int = 42, n_iter: int = 15) -> np.ndarray:
    """Deterministic Lloyd's k-means under Euclidean distance — the PQ
    codebook trainer (subspace quantizers minimize L2 error)."""
    rng = np.random.default_rng(seed)
    cents = _kmeanspp_init(sample, k, rng).copy()
    for _ in range(n_iter):
        d2 = (
            (sample**2).sum(axis=1, keepdims=True)
            - 2.0 * sample @ cents.T
            + (cents**2).sum(axis=1)
        )
        assign = np.argmin(d2, axis=1)
        for c in range(k):
            members = sample[assign == c]
            if len(members):
                cents[c] = members.mean(axis=0)
    return cents


def _unit(query_vec: Sequence[float]) -> np.ndarray:
    """One query as an L2-normalized float64 vector (zero stays zero).
    The norm of a 1-D vector and of a matrix row can differ in the last
    bit, so the flat-vector IVF paths keep this per-row form and the
    coded tiers keep :func:`_unit_rows`."""
    q = np.asarray(query_vec, dtype=np.float64)
    nrm = np.linalg.norm(q)
    return q / nrm if nrm > 0 else q


def _probe_clusters(
    centroids: np.ndarray, query_vec: Sequence[float], nprobe: int
) -> list[int]:
    """The ``nprobe`` cells whose centroids are nearest (by cosine) to
    one query — the probe of every IVF tier."""
    sims = centroids @ _unit(query_vec)
    return [int(c) for c in np.argsort(-sims)[: int(nprobe)]]


def _query_batch(query_ids, query_vecs, per_query=None):
    """Every IVF tier's batch-query front end: ``(ids as strings,
    vectors as a list)``.  Materializes iterator inputs once and
    rejects ids, vectors (and ``per_query``, when given) of different
    lengths — ``zip`` would silently drop queries, and the coded
    kernels would index past the id list."""
    qids = [str(q) for q in query_ids]
    qvecs = list(query_vecs)
    sizes = {"query_ids": len(qids), "query_vecs": len(qvecs)}
    if per_query is not None:
        sizes["per_query"] = len(per_query)
    if len(set(sizes.values())) > 1:
        parts = [f"{name} ({n})" for name, n in sizes.items()]
        raise ValueError(
            f"{', '.join(parts[:-1])} and {parts[-1]} must be the same length"
        )
    return qids, qvecs


def _put_batch(df: DataFrame, path: str, batch_id: int, parts, mode: str) -> None:
    """Write ``df`` as the ``__batch=<batch_id>`` partition of a cell table."""
    (
        df.withColumn("__batch", F.lit(int(batch_id)))
        .write.mode(mode)
        .partitionBy(*parts)
        .parquet(path)
    )


def _read_cells(spark: SparkSession, path: str, tombs, id_col: str) -> DataFrame:
    """The live rows of a cell table: manifest-aware (uncommitted or
    obsolete fold dirs filtered), ``__batch`` dropped, tombstoned ids
    anti-joined out (logical deletes)."""
    df = read_live(spark, path)
    if "__batch" in df.columns:
        df = df.drop("__batch")
    return apply_tombstones(df, tombs, id_col)


def _compact(
    spark: SparkSession, root: str, tables, id_col: str, commit_mode: str
) -> None:
    """Fold every appended ``__batch=N`` partition of each
    ``(table_path, partition_cols)`` into the ``__batch=-1`` base and
    PHYSICALLY apply the tombstoned deletes recorded under ``root``.

    Crash-safe: the tombstone filter runs inside each fold's
    stage-then-promote; with tombstones pending the base is rewritten
    even when no batch waits (clearing them without that rewrite would
    resurrect the ids); and the tombstones are cleared only after EVERY
    table's fold committed — a crash before re-applies them, a no-op."""
    tombs = load_tombstones(spark, root, id_col)
    xf = None if tombs is None else (
        lambda df: apply_tombstones(df, tombs, id_col)
    )
    folded = [
        fold_batch_partitions(
            spark, path, list(parts), _BASE_BATCH,
            commit_mode=commit_mode, transform=xf, force=tombs is not None,
        )
        for path, parts in tables
    ]
    if tombs is not None and all(folded):
        clear_tombstones(spark, root)


class _CodedIVF:
    """The coded inverted-list container behind the SQ8 and PQ tiers.

    Cells hold ``(id, cluster_id, codes)`` rows — each vector as a
    fixed-width uint8 code row — and a side ``vectors`` table keeps the
    original vectors for the exact re-rank.  A subclass is a codec and
    provides only:

    - ``META`` — its meta file name; ``PARAMS`` — the meta keys of its
      trained arrays (each also an attribute of the index);
    - ``fit(sample, seed, **opts)`` — the trained arrays from the raw
      training sample;
    - ``encoder(**params)`` — ``encode(mat) -> (n, code_width)`` uint8
      codes;
    - ``scorer(qmat, **params)`` — ``score(codes) -> (nq, n)``
      approximate inner products, with the per-query tables built once
      on the driver;
    - ``code_width`` — bytes per code row.

    ``encode`` and ``score`` run in the Python workers, so both are
    closures returned by the codec: Spark ships them by value, and a
    worker never has to import this package.

    Search is filter-then-verify: per Arrow batch of the partition-
    pruned code scan, the top ``rerank`` approximate scores per query;
    then the global top ``rerank`` per query; then an exact re-rank by
    joining the original vectors back by id.  Precision loss is bounded
    by shortlist recall, not code resolution — with generous rerank the
    result equals FLAT."""

    META: str
    PARAMS: tuple[str, ...]

    def __init__(
        self,
        centroids: np.ndarray,
        params: dict,
        coded: DataFrame,
        vectors: DataFrame,
        vec_col: str,
        id_col: str,
    ):
        self.centroids = centroids  # (n_clusters, dim) coarse quantizer
        vars(self).update(params)  # the codec's trained arrays
        self.coded = coded  # id, cluster_id, codes binary
        self.vectors = vectors  # id -> original vector (re-rank source)
        self.vec_col = vec_col
        self.id_col = id_col

    @property
    def params(self) -> dict:
        return {key: getattr(self, key) for key in self.PARAMS}

    @classmethod
    def _build(
        cls, df: DataFrame, n_clusters: int, vec_col: str, id_col: str,
        seed: int, sample_size: int, **opts,
    ):
        sample, cents = _coarse_quantizer(
            df, n_clusters, vec_col, id_col, seed, sample_size
        )
        params = cls.fit(sample, seed, **opts)
        vectors = df.select(id_col, vec_col)
        coded = cls._encode_cells(
            _assign_clusters(vectors, cents, vec_col), params, vec_col, id_col
        )
        return cls(cents, params, coded, vectors, vec_col, id_col)

    def pin(self):
        """Compute the code and vector tables once and cut their
        lineage (see :meth:`IVFIndex.pin`)."""
        self.coded = materialize(self.coded)
        self.vectors = materialize(self.vectors)
        return self

    @classmethod
    def _encode_cells(
        cls, assigned: DataFrame, params: dict, vec_col: str, id_col: str
    ) -> DataFrame:
        """Cluster-assigned vectors -> ``(id, cluster_id, codes)`` rows,
        one ``encode`` per Arrow batch (shared by build and append,
        which must quantize identically)."""
        encode = cls.encoder(**params)

        def gen(batches):
            import pandas as pd

            for pdf in batches:
                if len(pdf) == 0:
                    continue
                mat = np.vstack(pdf[vec_col].to_numpy()).astype(np.float64)
                codes = encode(mat)
                yield pd.DataFrame(
                    {
                        id_col: pdf[id_col],
                        "cluster_id": pdf["cluster_id"],
                        "codes": [c.tobytes() for c in codes],
                    }
                )

        id_type = assigned.schema[id_col].dataType.simpleString()
        return assigned.mapInPandas(
            gen, f"{id_col} {id_type}, cluster_id int, codes binary"
        )

    @classmethod
    def _meta(cls, path: str) -> dict:
        with open(os.path.join(path, cls.META)) as f:
            return json.load(f)

    @classmethod
    def _quantizer(cls, meta: dict) -> tuple[np.ndarray, dict]:
        return np.asarray(meta["centroids"], dtype=np.float64), {
            key: np.asarray(meta[key], dtype=np.float64) for key in cls.PARAMS
        }

    def save(self, path: str) -> None:
        """Persist: codes partitioned by (__batch, cluster_id) — probe ==
        partition pruning over the code table; the __batch level makes
        the saved index appendable (:meth:`append_batch`) — original
        vectors alongside for the re-rank join, the quantizer as JSON."""
        _put_batch(
            self.coded, os.path.join(path, "codes"), _BASE_BATCH,
            _CELL_PARTS, "overwrite",
        )
        _put_batch(
            self.vectors, os.path.join(path, "vectors"), _BASE_BATCH,
            ("__batch",), "overwrite",
        )
        with open(os.path.join(path, self.META), "w") as f:
            json.dump(
                {
                    "centroids": self.centroids.tolist(),
                    **{key: val.tolist() for key, val in self.params.items()},
                    "vec_col": self.vec_col,
                    "id_col": self.id_col,
                },
                f,
            )

    @classmethod
    def load(cls, spark: SparkSession, path: str):
        meta = cls._meta(path)
        id_col = meta["id_col"]
        tombs = load_tombstones(spark, path, id_col)
        cents, params = cls._quantizer(meta)
        return cls(
            cents, params,
            _read_cells(spark, os.path.join(path, "codes"), tombs, id_col),
            _read_cells(spark, os.path.join(path, "vectors"), tombs, id_col),
            meta["vec_col"], id_col,
        )

    @classmethod
    def append_batch(cls, batch_df: DataFrame, path: str, batch_id: int) -> None:
        """Incremental maintenance: assign + encode one micro-batch of
        new vectors with the SAVED index's frozen quantizer and add it as
        partition ``__batch=<batch_id>`` of both the codes and vectors
        tables — O(batch), replay-idempotent (the batch's own partitions
        are dropped before the write).  Frozen-quantizer drift has the
        same recall caveat and rebuild cadence as
        ``IVFIndex.append_batch``."""
        spark = batch_df.sparkSession
        meta = cls._meta(path)
        cents, params = cls._quantizer(meta)
        vec_col, id_col = meta["vec_col"], meta["id_col"]
        vectors = batch_df.select(id_col, vec_col)
        coded = cls._encode_cells(
            _assign_clusters(vectors, cents, vec_col), params, vec_col, id_col
        )
        codes_path = os.path.join(path, "codes")
        vecs_path = os.path.join(path, "vectors")
        drop_batch_partition(spark, codes_path, batch_id)
        drop_batch_partition(spark, vecs_path, batch_id)
        _put_batch(coded, codes_path, batch_id, _CELL_PARTS, "append")
        _put_batch(vectors, vecs_path, batch_id, ("__batch",), "append")

    @classmethod
    def delete_ids(cls, spark: SparkSession, path: str, ids: Sequence) -> None:
        """Logical delete by id (tombstone at the INDEX root, shared by
        the codes and vectors tables): O(ids); ``load`` anti-joins,
        ``compact`` applies physically to both tables."""
        append_tombstones(spark, path, ids, cls._meta(path)["id_col"])

    @classmethod
    def compact(
        cls, spark: SparkSession, path: str, commit_mode: str = "rename"
    ) -> None:
        """Fold appended micro-batch partitions into the base (codes and
        vectors both) and physically apply tombstoned deletes; run
        between ingest sessions.  ``commit_mode="manifest"`` for object
        stores (see batchstate.py).  Tombstones are cleared only after
        BOTH tables folded (a crash between re-applies them — no-op)."""
        _compact(
            spark, path,
            [
                (os.path.join(path, "codes"), _CELL_PARTS),
                (os.path.join(path, "vectors"), ("__batch",)),
            ],
            cls._meta(path)["id_col"], commit_mode,
        )

    def search_batch(
        self,
        query_ids: Sequence,
        query_vecs: Sequence[Sequence[float]],
        k: int,
        nprobe: int = 4,
        rerank: int = 128,
    ) -> DataFrame:
        """Approximate candidate generation over the code column, then
        exact re-rank of the top ``rerank`` per query.

        Shuffle profile: the candidate shuffle carries at most
        (partitions x queries x rerank) tiny rows; the re-rank join
        touches only (queries x rerank) vectors by id. The corpus-wide
        scan reads (id, cluster_id, codes) — never the vectors.
        """
        import pyarrow as pa

        qid_strs, qvecs = _query_batch(query_ids, query_vecs)
        qmat = _unit_rows(np.asarray(qvecs, dtype=np.float64))
        nq = len(qid_strs)
        score = self.scorer(qmat, **self.params)
        width = self.code_width
        kind = type(self).__name__
        probes = sorted(
            {c for row in qmat for c in _probe_clusters(self.centroids, row, nprobe)}
        )
        rr = int(rerank)
        id_col = self.id_col
        id_type = self.coded.schema[id_col].dataType.simpleString()
        out_schema = f"query_id string, {id_col} {id_type}, approx double"

        def scan(batches):
            for rb in batches:
                n = rb.num_rows
                if n == 0:
                    continue
                ids = rb.column(0).to_numpy(zero_copy_only=False)
                col = rb.column(1)
                # Zero-copy view of the code matrix: a no-null Arrow
                # binary array stores all values contiguously in one
                # data buffer; when every entry is exactly ``width``
                # bytes the (n, width) matrix is just a reshape of that
                # buffer — no per-row Python objects, no copy.
                off_dt = (
                    np.int64 if pa.types.is_large_binary(col.type) else np.int32
                )
                bufs = col.buffers()
                offs = np.frombuffer(bufs[1], dtype=off_dt)[
                    col.offset : col.offset + n + 1
                ]
                if col.null_count == 0 and np.all(np.diff(offs) == width):
                    data = np.frombuffer(bufs[2], dtype=np.uint8)
                    codes = data[offs[0] : offs[-1]].reshape(n, width)
                else:  # ragged rows — correctness fallback
                    vals = col.to_pylist()
                    if any(v is None for v in vals):
                        raise ValueError(
                            f"NULL code row in {kind} codes table (corrupt index)"
                        )
                    blob = b"".join(vals)
                    codes = np.frombuffer(blob, dtype=np.uint8).reshape(n, width)
                scores = score(codes)  # (nq, n)
                take = min(rr, n)
                if take < n:
                    part = np.argpartition(-scores, take - 1, axis=1)[:, :take]
                else:
                    part = np.tile(np.arange(n), (nq, 1))
                out_q = np.repeat(np.arange(nq), part.shape[1])
                rows = part.ravel()
                yield pa.RecordBatch.from_arrays(
                    [
                        pa.array([qid_strs[i] for i in out_q], type=pa.string()),
                        pa.array(ids[rows]),
                        pa.array(scores[out_q, rows], type=pa.float64()),
                    ],
                    names=["query_id", id_col, "approx"],
                )

        cand = (
            self.coded.filter(F.col("cluster_id").isin(probes))
            .select(id_col, "codes")
            .mapInArrow(scan, schema=out_schema)
        )
        shortlist = knn_ops.topk_per_query(cand, rr, "query_id", id_col, "approx")
        # exact re-rank: join original vectors by id (rerank rows per query)
        qdf = self.coded.sparkSession.createDataFrame(
            [(qid_strs[i], [float(x) for x in qmat[i]]) for i in range(nq)],
            "query_id string, query_vec array<double>",
        )
        exact = (
            shortlist.join(self.vectors, id_col)
            .join(F.broadcast(qdf), "query_id")
            .withColumn(
                "similarity",
                V.dot(F.col(self.vec_col).cast("array<double>"), F.col("query_vec")),
            )
            .select("query_id", id_col, "similarity")
        )
        return knn_ops.topk_per_query(exact, int(k), "query_id", id_col)


class IVFPQIndex(_CodedIVF):
    """IVF + Product Quantization (Jegou, Douze, Schmid: "Product
    Quantization for Nearest Neighbor Search", TPAMI 2011 — public
    method). The 100 TB memory story:

    - each vector is stored as ``m`` uint8 codes (one per subspace)
      in a BINARY column instead of dim float32s — 256-dim vectors
      compress 1024 bytes -> 16 bytes (m=16), so the scan that feeds
      candidate generation reads ~64x less data;
    - search is ADC (asymmetric distance computation): per query, an
      (m x n_codes) lookup table of subspace dot products is built
      once on the driver; candidate scores are table-lookups + sums
      over the codes — one NumPy gather per Arrow batch, no vector
      math on the corpus;
    - the top ``rerank`` candidates per query are then re-ranked
      EXACTLY (the shared :class:`_CodedIVF` search)."""

    META = "_pq_meta.json"
    PARAMS = ("codebooks",)

    @classmethod
    def build(
        cls,
        df: DataFrame,
        n_clusters: int = 16,
        m: int = 16,
        n_codes: int = 256,
        vec_col: str = "embedding",
        id_col: str = "vec_id",
        seed: int = 42,
        sample_size: int = 50_000,
    ) -> "IVFPQIndex":
        return cls._build(
            df, n_clusters, vec_col, id_col, seed, sample_size,
            m=m, n_codes=n_codes,
        )

    @staticmethod
    def fit(sample: np.ndarray, seed: int, m: int, n_codes: int) -> dict:
        dim = sample.shape[1]
        if dim % m != 0:
            raise ValueError(f"dim {dim} not divisible by m={m}")
        s = dim // m
        # r15: the codebook fit is bounded by a deterministic even
        # stride over the (already hash-spread) sample — 100x the
        # default code count is ample for 256-cell subspace k-means,
        # and the fit cost stops scaling with sample_size.  Below the
        # cap (every test SF; sf0.1 samples 2,000 rows) the matrix is
        # untouched, so codebooks — and the value-checked ivf_pq_search
        # results — are bit-identical.
        fit = sample
        if fit.shape[0] > _PQ_FIT_CAP:
            idx = np.linspace(0, fit.shape[0] - 1, _PQ_FIT_CAP).astype(np.int64)
            fit = fit[idx]
        codebooks = np.stack(
            [
                _kmeans_l2(fit[:, j * s : (j + 1) * s], n_codes, seed + j)
                for j in range(m)
            ]
        )  # (m, k_j<=n_codes, s) — all k_j equal since same sample size
        return {"codebooks": codebooks}

    @staticmethod
    def encoder(codebooks: np.ndarray):
        mm, _, s = codebooks.shape
        cb = codebooks

        def encode(mat: np.ndarray) -> np.ndarray:
            # nearest codeword: one argmin per subspace
            codes = np.empty((mat.shape[0], mm), dtype=np.uint8)
            for j in range(mm):
                sub = mat[:, j * s : (j + 1) * s]
                d2 = -2.0 * sub @ cb[j].T + (cb[j] ** 2).sum(axis=1)
                codes[:, j] = np.argmin(d2, axis=1).astype(np.uint8)
            return codes

        return encode

    @staticmethod
    def scorer(qmat: np.ndarray, codebooks: np.ndarray):
        nq = qmat.shape[0]
        mcount, _, s = codebooks.shape
        # per-query LUT: luts[q, j, c] = <q_sub_j, codebook_j[c]>
        luts = np.einsum(
            "qjs,jcs->qjc", qmat.reshape(nq, mcount, s), codebooks
        )  # (nq, m, n_codes)

        def score(codes: np.ndarray) -> np.ndarray:
            # scores[q, i] = sum_j luts[q, j, codes[i, j]]
            scores = np.zeros((nq, codes.shape[0]))
            for j in range(mcount):
                scores += luts[:, j, codes[:, j]]
            return scores

        return score

    @property
    def code_width(self) -> int:
        return self.codebooks.shape[0]


class IVFSQIndex(_CodedIVF):
    """IVF + 8-bit scalar quantization — the middle compression tier
    between FLAT (4 bytes/dim) and PQ (sub-byte/dim): one uint8 per
    dimension (4x smaller scans), per-dimension (min, step) learned
    from the training sample (public method — the SQ8 storage every
    production vector store ships).

    Approximate scoring is exact-in-the-quantized-domain:
    ``dot(q, dequant(code)) = dot(q, mins) + (codes @ (q*steps))`` —
    one uint8 GEMM per Arrow batch, no per-row work.  The top
    ``rerank`` candidates re-rank EXACTLY (the shared
    :class:`_CodedIVF` search)."""

    META = "_sq_meta.json"
    PARAMS = ("mins", "steps")  # steps: 0-range dims pinned to 1

    @classmethod
    def build(
        cls,
        df: DataFrame,
        n_clusters: int = 16,
        vec_col: str = "embedding",
        id_col: str = "vec_id",
        seed: int = 42,
        sample_size: int = 50_000,
    ) -> "IVFSQIndex":
        return cls._build(df, n_clusters, vec_col, id_col, seed, sample_size)

    @staticmethod
    def fit(sample: np.ndarray, seed: int) -> dict:
        mins = sample.min(axis=0)
        rng = sample.max(axis=0) - mins
        return {"mins": mins, "steps": np.where(rng > 0, rng / 255.0, 1.0)}

    @staticmethod
    def encoder(mins: np.ndarray, steps: np.ndarray):
        return lambda mat: np.clip(np.rint((mat - mins) / steps), 0, 255).astype(
            np.uint8
        )

    @staticmethod
    def scorer(qmat: np.ndarray, mins: np.ndarray, steps: np.ndarray):
        qs = qmat * steps  # (nq, dim)
        consts = qmat @ mins  # (nq,)
        # (n, nq) GEMM then a transposed view: this operand order keeps
        # the BLAS layout, and so every bit, of the scores
        return lambda codes: (codes @ qs.T + consts).T

    @property
    def code_width(self) -> int:
        return self.mins.shape[0]


class IVFIndex:
    def __init__(self, centroids: np.ndarray, assigned: DataFrame, vec_col: str, id_col: str):
        self.centroids = centroids
        self.assigned = assigned  # has cluster_id column
        self.vec_col = vec_col
        self.id_col = id_col

    @classmethod
    def build(
        cls,
        df: DataFrame,
        n_clusters: int = 16,
        vec_col: str = "embedding",
        id_col: str = "vec_id",
        seed: int = 42,
        sample_size: int = 50_000,
    ) -> "IVFIndex":
        _, cents = _coarse_quantizer(
            df, n_clusters, vec_col, id_col, seed, sample_size
        )
        return cls(cents, _assign_clusters(df, cents, vec_col), vec_col, id_col)

    def pin(self) -> "IVFIndex":
        """Compute the cell table once and cut its lineage: the cluster
        assignment stops re-running per search, and the index stops
        reading its (mutable) source frame."""
        self.assigned = materialize(self.assigned)
        return self

    def save(self, path: str) -> None:
        """Persist partitioned by (__batch, cluster_id): probing ==
        partition pruning on cluster_id; the ``__batch`` level makes the
        saved index APPENDABLE — streaming ingest adds micro-batch
        partitions next to the ``__batch=-1`` base (see
        :meth:`append_batch`)."""
        _put_batch(self.assigned, path, _BASE_BATCH, _CELL_PARTS, "overwrite")
        with open(os.path.join(path, "_centroids.json"), "w") as f:
            json.dump(self.centroids.tolist(), f)

    @classmethod
    def load(cls, spark: SparkSession, path: str, vec_col: str = "embedding", id_col: str = "vec_id") -> "IVFIndex":
        with open(os.path.join(path, "_centroids.json")) as f:
            cents = np.asarray(json.load(f), dtype=np.float64)
        tombs = load_tombstones(spark, path, id_col)
        return cls(cents, _read_cells(spark, path, tombs, id_col), vec_col, id_col)

    @classmethod
    def append_batch(
        cls,
        batch_df: DataFrame,
        path: str,
        batch_id: int,
        vec_col: str = "embedding",
        id_col: str = "vec_id",
    ) -> None:
        """Incremental index maintenance: assign one micro-batch of new
        vectors to the SAVED index's (frozen) centroids and add it as
        partition ``__batch=<batch_id>`` — O(batch) work, the corpus is
        never rescanned, and probing still prunes on cluster_id.

        IDEMPOTENT per batch_id: the batch's own partition dir is
        dropped before writing, so an at-least-once replay (foreachBatch)
        replaces itself instead of duplicating vectors.  Appends are
        append-only by id (same contract as a segment file); re-ingested
        ids are the caller's dedup responsibility.

        Centroids are FROZEN at build time: appends keep recall for
        in-distribution data, but a drifting embedding distribution
        degrades it — monitor with tools/recall_report.py and rebuild
        (or :meth:`compact` + rebuild) on a cadence.  This mirrors how
        serving systems run IVF: static coarse quantizer, growing
        posting lists, periodic retrain.
        """
        spark = batch_df.sparkSession
        with open(os.path.join(path, "_centroids.json")) as f:
            cents = np.asarray(json.load(f), dtype=np.float64)
        assigned = _assign_clusters(
            batch_df.select(id_col, vec_col), cents, vec_col
        )
        drop_batch_partition(spark, path, batch_id)  # replay: replace
        _put_batch(assigned, path, batch_id, _CELL_PARTS, "append")

    @classmethod
    def delete_ids(
        cls, spark: SparkSession, path: str, ids: Sequence, id_col: str = "vec_id"
    ) -> None:
        """Logical delete by id (tombstone): O(ids), index untouched;
        ``load`` anti-joins immediately, ``compact`` applies physically."""
        append_tombstones(spark, path, ids, id_col)

    @classmethod
    def compact(
        cls,
        spark: SparkSession,
        path: str,
        commit_mode: str = "rename",
        id_col: str = "vec_id",
    ) -> None:
        """Fold every appended ``__batch=N`` partition into the
        ``__batch=-1`` base, bounding partition count (file-listing cost
        grows with micro-batch count otherwise), and PHYSICALLY apply
        any tombstoned deletes (see :func:`_compact`).  Run between
        ingest sessions — not concurrently with an active append.
        ``commit_mode="manifest"`` for object stores (see
        batchstate.py)."""
        _compact(spark, path, [(path, _CELL_PARTS)], id_col, commit_mode)

    def probe_clusters(self, query_vec: Sequence[float], nprobe: int) -> list[int]:
        return _probe_clusters(self.centroids, query_vec, nprobe)


    def search(self, query_vec: Sequence[float], k: int, nprobe: int = 4) -> DataFrame:
        """Filter to probed clusters (partition-prunable) then exact top-k
        within them."""
        probes = self.probe_clusters(query_vec, nprobe)
        cand = self.assigned.filter(F.col("cluster_id").isin(probes))
        return knn_ops.knn_single(
            cand, list(query_vec), k, vec_col=self.vec_col, id_col=self.id_col
        ).drop("cluster_id")

    def search_filtered(
        self,
        query_vec: Sequence[float],
        k: int,
        nprobe: int = 4,
        where=None,
        allowed_ids: DataFrame | None = None,
    ) -> DataFrame:
        """Filtered vector search over the IVF index: a metadata
        predicate (``where``, a Column over the index's carried
        columns — :meth:`build` keeps every input column) and/or an
        ``allowed_ids`` frame (left-semi joined) applied BELOW the
        scoring projection, INSIDE the probed partitions.

        The filter composes with partition pruning at the scan —
        Catalyst pushes the predicate into the cluster-pruned parquet
        read, so selective filters reduce scanned rows, not just
        scored rows (the reference's pre-filter-below-scoring
        semantics, collection.go:521, lifted to the ANN path).  Note
        the standard ANN caveat: k results are the top-k of the
        FILTERED probed clusters; at low nprobe a harsh filter can
        empty a probe — raise nprobe with filter selectivity."""
        probes = self.probe_clusters(query_vec, nprobe)
        cand = self.assigned.filter(F.col("cluster_id").isin(probes))
        if where is not None:
            cand = cand.filter(where)
        if allowed_ids is not None:
            cand = cand.join(
                F.broadcast(allowed_ids.select(self.id_col)), self.id_col, "left_semi"
            )
        return knn_ops.knn_single(
            cand, list(query_vec), k, vec_col=self.vec_col, id_col=self.id_col
        ).drop("cluster_id")


    def search_batch(
        self,
        query_ids: Sequence,
        query_vecs: Sequence[Sequence[float]],
        k: int,
        nprobe: int = 4,
        where=None,
    ) -> DataFrame:
        """Batch IVF search: every query is routed to its ``nprobe``
        nearest clusters on the driver (centroids are MB-scale), the
        cell table is scanned ONCE for the union of probed cells
        (partition pruning on a stored index), and the block GEMM kernel
        of :func:`..knn.knn_block` scores each Arrow batch against all
        queries — masked so each query keeps only rows of its OWN
        probed cells, exactly the candidate set of a (query, cell)
        probe join — then the one per-query top-k shuffle runs.

        ``where`` is an optional metadata predicate Column over the
        index's carried columns, applied BELOW scoring (the batch analog
        of :meth:`search_filtered`: Catalyst composes it with the
        cluster pruning at the scan).  The standard filtered-ANN caveat
        applies per query: raise nprobe with selectivity."""
        qids, qvecs = _query_batch(query_ids, query_vecs)
        units = [_unit(qv) for qv in qvecs]
        allow = np.zeros((len(self.centroids), len(units)), dtype=bool)
        for j, q in enumerate(units):
            allow[_probe_clusters(self.centroids, q, nprobe), j] = True
        probed = [int(c) for c in np.flatnonzero(allow.any(axis=1))]
        base = self.assigned.filter(F.col("cluster_id").isin(probed))
        if where is not None:
            base = base.filter(where)
        qmat = np.reshape(units, (len(units), self.centroids.shape[1]))
        return knn_ops._gemm_topk(
            base, qids, qmat, k,
            self.vec_col, self.id_col, cell_col="cluster_id", allow=allow,
        )

    def _probe_tables(self, qids, qvecs, per_query, nprobe: int):
        """Driver-side construction of the two normalized broadcast
        tables for :meth:`search_batch_dsl`: ``pair_rows`` is exactly
        the (query_id, cluster_id) probe pairs — O(q·nprobe) 2-tuples,
        NO dim-sized payload — and ``meta_rows`` carries each query's
        normalized vector + parsed DSL exactly ONCE (O(q) rows).
        Factored out so the broadcast-size contract is directly
        testable (tests/test_ann.py)."""
        qids, qvecs = _query_batch(qids, qvecs, per_query)
        pair_rows: list[tuple] = []
        meta_rows: list[tuple] = []
        for qid, qv, (w, cont, notc) in zip(qids, qvecs, per_query):
            q = _unit(qv)
            meta_rows.append(
                (
                    qid, [float(x) for x in q],
                    dict(w or {}), list(cont or []), list(notc or []),
                )
            )
            for c in _probe_clusters(self.centroids, q, nprobe):
                pair_rows.append((qid, int(c)))
        return pair_rows, meta_rows

    def search_batch_dsl(
        self,
        query_ids: Sequence,
        query_vecs: Sequence[Sequence[float]],
        k: int,
        per_query,
        nprobe: int = 4,
        where=None,
        metadata_col: str | None = "metadata",
        filterable_cols=None,
        text_col: str | None = "content",
    ) -> DataFrame:
        """Batch IVF search where EACH query carries its own where /
        where_document DSL (r9 — the IVF analog of
        :func:`..knn.knn_expr_filtered_dsl`): the probe table's rows
        carry the query's parsed filter columns alongside its probed
        clusters, so ONE broadcast join keeps BOTH the cluster pruning
        and the per-query predicate below scoring — filtered batches no
        longer give up partition pruning at scale.

        ``per_query`` is one parsed tuple per query:
        ``(where_map, contains_list, not_contains_list)`` — the
        caller (``Collection.query_batch``) owns DSL validation.
        ``where`` is an optional GLOBAL predicate Column over the
        carried columns, applied to the corpus side before the join
        (batch-wide filters compose with the per-query ones).  The
        index's carried columns must include ``metadata_col`` /
        ``text_col`` when the corresponding filters are used (pass
        ``None`` for a surface the frame lacks: non-empty filters on it
        then match nothing, same rule as the FLAT kernel).  Standard
        filtered-ANN caveat per query: raise nprobe with selectivity.

        Broadcast shape (r10): the probe table is NORMALIZED — it
        carries only ``(query_id, cluster_id)`` pairs (O(q·nprobe)
        rows, no dim-sized payload), and the query's vector + parsed
        DSL ride a SECOND per-query broadcast (O(q) rows, the vector
        exactly once per query).  Both joins are broadcast hash joins
        in one codegen stage, so the denormalized form never
        materializes — versus the r9 shape that repeated each query's
        full vector once per probed cluster (q × nprobe × dim: ~3.9 GB
        broadcast at q=10k, nprobe=32, d=1536 for ~120 MB of data)."""
        spark = self.assigned.sparkSession
        pair_rows, meta_rows = self._probe_tables(
            query_ids, query_vecs, list(per_query), nprobe
        )
        pairs_df = F.broadcast(
            spark.createDataFrame(pair_rows, "query_id string, cluster_id int")
        )
        qmeta_df = F.broadcast(
            spark.createDataFrame(
                meta_rows,
                "query_id string, query_vec array<double>, "
                "q_where map<string,string>, q_contains array<string>, "
                "q_not_contains array<string>",
            )
        )
        base = self.assigned if where is None else self.assigned.filter(where)
        # join 1: cluster-pruned (doc, query) pairs; join 2 attaches
        # the per-query vector + DSL and filters non-matching pairs
        # below scoring — both broadcast, pipelined, no materialization
        expanded = base.join(
            pairs_df, base["cluster_id"] == pairs_df["cluster_id"]
        )
        cond = (
            pairs_df["query_id"] == qmeta_df["query_id"]
        ) & knn_ops.dsl_filter_condition(
            base, qmeta_df,
            metadata_col=metadata_col, filterable_cols=filterable_cols,
            text_col=text_col,
        )
        scored = (
            expanded.join(qmeta_df, cond)
            .withColumn(
                "similarity",
                V.dot(
                    F.col(self.vec_col).cast("array<double>"),
                    qmeta_df["query_vec"],
                ),
            )
            .select(pairs_df["query_id"], base[self.id_col], "similarity")
        )
        return knn_ops.topk_per_query(scored, k, "query_id", self.id_col)


def _held_in_queries(
    emb: DataFrame, k: int, n_queries: int, vec_col: str, id_col: str, seed: int
):
    """The tuners' measurement protocol: ``n_queries`` held-in query
    vectors (seeded hash order) with their exact brute-force top-k as
    ground truth.  Returns ``(qids, qvecs, recall_of)``, where
    ``recall_of(rows)`` is the mean per-query recall@k of result rows."""
    qrows = (
        emb.select(id_col, vec_col)
        .orderBy(F.xxhash64(F.col(id_col).cast("string"), F.lit(seed)))
        .limit(int(n_queries))
        .collect()
    )
    qids = [str(r[id_col]) for r in qrows]
    qvecs = [list(r[vec_col]) for r in qrows]
    exact: dict[str, set] = {}
    ground = knn_ops.knn_block(emb, qids, qvecs, k, vec_col=vec_col, id_col=id_col)
    for r in ground.collect():
        exact.setdefault(r["query_id"], set()).add(r[id_col])

    def recall_of(rows) -> float:
        got: dict[str, set] = {}
        for r in rows:
            got.setdefault(r["query_id"], set()).add(r[id_col])
        per_q = [len(got.get(q, set()) & exact[q]) / len(exact[q]) for q in exact]
        return sum(per_q) / len(per_q)

    return qids, qvecs, recall_of


def _rerank_sweep(index, held_in, k: int, nprobe: int, target_recall: float):
    """Recall of a coded index at rerank depths k, 2k, 5k, 10k (at the
    given nprobe), stopping at the first depth that meets the target.
    Returns ``([(rerank, recall rounded to 4 places), ...], met)``."""
    qids, qvecs, recall_of = held_in
    points = []
    for rerank in (k, 2 * k, 5 * k, 10 * k):
        r = recall_of(
            index.search_batch(qids, qvecs, k, nprobe=nprobe, rerank=rerank).collect()
        )
        points.append((int(rerank), round(r, 4)))
        if r >= target_recall:
            return points, True
    return points, False


def tune_ivf(
    emb: DataFrame,
    target_recall: float = 0.95,
    k: int = 10,
    n_queries: int = 16,
    candidate_nlist: Sequence[int] = (8, 16, 32),
    pq_m: int | None = None,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    seed: int = 42,
) -> dict:
    """Pick an IVF operating point (n_clusters, nprobe[, rerank]) that
    hits ``target_recall`` recall@k with the smallest probed-corpus
    fraction, from a MEASURED sweep — not a heuristic.

    Protocol: sample ``n_queries`` held-in query vectors, compute exact
    brute-force top-k as ground truth, then for each candidate
    ``n_clusters`` build an index once and raise nprobe (1, 2, 4, ...)
    until the target is met.  Among configurations meeting the target,
    choose the one with the lowest expected scan fraction
    (nprobe / n_clusters — the cost a probe actually pays, since
    cluster partitions prune the scan).  With ``pq_m`` set (a single
    codebook count or a sequence to sweep, smallest-first), additionally
    sweep PQ code size x rerank depth (k, 2k, 5k, 10k) at the chosen
    point and return the most compressed (m, rerank) meeting the
    target, plus the full ``pq_sweep``.

    At 100 TB this runs unchanged on a SAMPLE of the corpus (recall is
    a distribution property, not a row-count property); the returned
    settings transfer to the full build with the same nlist-to-corpus
    ratio.  Returns {"n_clusters", "nprobe", "recall", "scan_fraction",
    "sweep": [...], and "rerank"/"pq_recall" when pq_m is set}.
    """
    held_in = _held_in_queries(emb, k, n_queries, vec_col, id_col, seed)
    qids, qvecs, recall_of = held_in
    sweep: list[dict] = []
    viable: list[dict] = []
    n_rows = emb.count()
    for nlist in candidate_nlist:
        if nlist > max(n_rows // 2, 1):
            continue  # degenerate: fewer than 2 vectors per cluster
        idx = IVFIndex.build(
            emb, n_clusters=int(nlist), vec_col=vec_col, id_col=id_col
        ).pin()
        nprobe = 1
        while nprobe <= nlist:
            r = recall_of(idx.search_batch(qids, qvecs, k, nprobe=nprobe).collect())
            point = {
                "n_clusters": int(nlist),
                "nprobe": int(nprobe),
                "recall": round(r, 4),
                "scan_fraction": round(nprobe / nlist, 4),
            }
            sweep.append(point)
            if r >= target_recall:
                viable.append(point)
                break  # smallest nprobe meeting target for this nlist
            nprobe *= 2
    if not viable:
        # nothing met the target: fall back to the best recall measured
        best = max(sweep, key=lambda p: (p["recall"], -p["scan_fraction"]))
    else:
        best = min(viable, key=lambda p: (p["scan_fraction"], p["n_clusters"]))
    out = dict(best)
    out["target_recall"] = target_recall
    out["sweep"] = sweep

    if pq_m is not None:
        # ``pq_m`` may be one codebook count or a sequence to sweep;
        # smallest m first (most compression) — the first (m, rerank)
        # meeting the target wins, so the tuner returns the cheapest
        # code size that still hits the recall bar.
        m_cands = (
            [int(pq_m)]
            if isinstance(pq_m, int)
            else sorted(int(m) for m in pq_m)
        )
        pq_sweep: list[dict] = []
        met = False
        for m in m_cands:
            pq = IVFPQIndex.build(
                emb,
                n_clusters=out["n_clusters"],
                m=m,
                vec_col=vec_col,
                id_col=id_col,
            )
            points, met = _rerank_sweep(
                pq, held_in, k, out["nprobe"], target_recall
            )
            pq_sweep += [
                {"m": m, "rerank": rr, "pq_recall": r} for rr, r in points
            ]
            if met:
                break
        best_pq = (
            pq_sweep[-1]
            if met
            else max(pq_sweep, key=lambda p: (p["pq_recall"], -p["m"]))
        )
        out["m"] = best_pq["m"]
        out["rerank"] = best_pq["rerank"]
        out["pq_recall"] = best_pq["pq_recall"]
        out["pq_sweep"] = pq_sweep
    return out


def tune_ivf_sq(
    emb: DataFrame,
    tuned: dict,
    target_recall: float | None = None,
    k: int = 10,
    n_queries: int = 16,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    seed: int = 42,
) -> dict:
    """Sweep the SQ8 tier's rerank depth at a :func:`tune_ivf`-chosen
    operating point: build an ``IVFSQIndex`` with the tuned n_clusters
    and find the smallest rerank (k, 2k, 5k, 10k) meeting the target
    at the tuned nprobe — the same protocol the PQ sweep runs, for the
    middle compression tier.  Returns {"sq_rerank", "sq_recall",
    "sq_sweep"}; merge into the tune_ivf dict for the full picture."""
    if target_recall is None:
        target_recall = float(tuned.get("target_recall", 0.95))
    held_in = _held_in_queries(emb, k, n_queries, vec_col, id_col, seed)
    sq = IVFSQIndex.build(
        emb, n_clusters=tuned["n_clusters"], vec_col=vec_col, id_col=id_col
    )
    points, met = _rerank_sweep(sq, held_in, k, tuned["nprobe"], target_recall)
    sweep = [{"sq_rerank": rr, "sq_recall": r} for rr, r in points]
    best = sweep[-1] if met else max(sweep, key=lambda p: p["sq_recall"])
    return {**best, "sq_sweep": sweep}



# ---------------------------------------------------------------- tombstones

_TOMBSTONES = "_tombstones"  # underscore prefix: parquet readers skip it


def _tombstone_path(path: str) -> str:
    return os.path.join(path, _TOMBSTONES)


def append_tombstones(
    spark: SparkSession, path: str, ids: Sequence, id_col: str = "vec_id"
) -> None:
    """Logical delete for an appendable index: record deleted ids in a
    ``_tombstones`` side table (underscore-prefixed, so index scans
    never see it).  O(ids) — the index data is untouched; loads
    anti-join the tombstones and the next compact applies them
    physically.  Idempotent: re-deleting an id is a duplicate row the
    anti-join semantics absorb.  This is the standard segment-store
    delete (tombstone + merge-on-compaction), the same story Lucene /
    Delta deletion vectors use."""
    if not list(ids):
        return
    # ids are stored as strings: comparisons cast consistently below
    df = spark.createDataFrame([(str(i),) for i in ids], f"{id_col} string")
    df.write.mode("append").parquet(_tombstone_path(path))


def load_tombstones(spark: SparkSession, path: str, id_col: str = "vec_id"):
    """Tombstoned ids as a 1-column DataFrame, or None when there are
    none recorded."""
    tp = _tombstone_path(path)
    if not os.path.exists(tp):
        return None
    from pyspark.errors.exceptions.captured import AnalysisException

    try:
        return spark.read.parquet(tp).select(id_col).distinct()
    except AnalysisException:
        return None  # dir exists but holds no parquet (cleared)


def apply_tombstones(df: DataFrame, tombs, id_col: str):
    """Anti-join deleted ids out (string-normalized comparison — the
    tombstone table stores ids as strings regardless of source type)."""
    if tombs is None:
        return df
    left = df.withColumn("__tid", F.col(id_col).cast("string"))
    t = tombs.select(F.col(tombs.columns[0]).cast("string").alias("__tid"))
    return left.join(F.broadcast(t), "__tid", "left_anti").drop("__tid")


def clear_tombstones(spark: SparkSession, path: str) -> None:
    import shutil

    shutil.rmtree(_tombstone_path(path), ignore_errors=True)


# ------------------------------------------------------------------
# Standalone spherical k-means document clustering — the IVF coarse
# quantizer exposed as an analytics operator (topic bucketing, corpus
# maps, per-cluster sampling quotas).  Same scale shape as an index
# build: bounded driver-side sample for training, one GEMM-argmax
# Arrow pass over the corpus for assignment.
# ------------------------------------------------------------------


def _ordered_sample(
    df: DataFrame, vec_col: str, id_col: str, sample_size: int
) -> np.ndarray:
    """:func:`_hash_sample` with a DRIVER-SIDE sort by id after the
    bounded collect: the training sample no longer depends on Spark's
    partition/collect order, so a quantizer retrained on the same rows
    is bit-identical regardless of file splits, cluster layout, or a
    storage rewrite — and a Spark-free twin
    (:func:`train_cluster_centroids_local`) can reproduce it exactly
    for the DuckDB oracle replay.  The sort is over <= sample_size
    collected rows — driver-bounded, never a cluster sort."""
    n_rows = df.count()
    cand = df
    if n_rows > sample_size:
        p = max(1, int(997 * sample_size / n_rows))
        cand = df.filter(
            F.pmod(F.xxhash64(F.col(id_col).cast("string")), F.lit(997)) < p
        )
    rows = cand.select(id_col, vec_col).limit(sample_size).collect()
    rows.sort(key=lambda r: r[0])
    return np.asarray([r[1] for r in rows], dtype=np.float64)


def train_cluster_centroids(
    df: DataFrame,
    n_clusters: int = 8,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    seed: int = 42,
    sample_size: int = 50_000,
) -> np.ndarray:
    """Train the spherical k-means centroid matrix (n_clusters x dim,
    L2-normalized rows) on the order-stable hash-spread sample.  The
    trained matrix is a MODEL ARTIFACT: inject it back into
    :func:`cluster_embeddings` (and the SemDeDup operators) via their
    ``centroids=`` parameter to decouple training from assignment —
    the pattern that lets the assignment pass be replayed in plain SQL
    with the matrix as a literal."""
    sample = _ordered_sample(df, vec_col, id_col, sample_size)
    return _kmeans(_unit_rows(sample), n_clusters, seed)


def train_cluster_centroids_local(
    parquet_path: str,
    n_clusters: int = 8,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    seed: int = 42,
    sample_size: int = 50_000,
) -> np.ndarray:
    """Spark-free twin of :func:`train_cluster_centroids`: read the
    same parquet with pyarrow, apply the same sort-by-id sample rule,
    run the same seeded trainer — bit-identical centroids, no JVM.
    This is what the oracle generator calls so the DuckDB replay of
    the assignment pass scores against the exact matrix the Spark
    query trained.

    Only the n_rows <= sample_size regime is supported (the hash-
    spread filter uses Spark's xxhash64, which has no local twin);
    every test scale factor is far below the default 50k cap."""
    import pyarrow.parquet as pq

    t = pq.read_table(parquet_path, columns=[id_col, vec_col])
    if t.num_rows > sample_size:
        raise NotImplementedError(
            f"{parquet_path}: {t.num_rows} rows > sample_size="
            f"{sample_size}; the xxhash64 spread filter has no "
            "Spark-free twin — train with train_cluster_centroids"
        )
    ids = t[id_col].to_pylist()
    vecs = t[vec_col].to_pylist()
    order = sorted(range(len(ids)), key=lambda i: ids[i])
    sample = np.asarray([vecs[i] for i in order], dtype=np.float64)
    return _kmeans(_unit_rows(sample), n_clusters, seed)


def cluster_embeddings(
    df: DataFrame,
    n_clusters: int = 8,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    seed: int = 42,
    sample_size: int = 50_000,
    centroids: np.ndarray | None = None,
) -> DataFrame:
    """Assign every row to its nearest spherical k-means centroid.

    Deterministic (k-means++ seeded, order-stable hash-spread training
    sample).  Returns the input columns minus the vector, plus
    ``cluster_id`` and ``centroid_sim`` (cosine of the row to its
    centroid — a cluster cohesion signal).  The corpus is never
    shuffled: assignment is one mapInPandas GEMM per Arrow batch
    against the broadcast-by-closure centroid matrix.

    ``centroids`` injects a pre-trained matrix
    (:func:`train_cluster_centroids`), skipping the sample+train step —
    assignment against a frozen model is then a pure function of the
    input, exactly replayable in SQL (the oracle path), and at scale
    the natural shape anyway: train once on a bounded sample, assign
    in every downstream job."""
    import pandas as pd  # noqa: F401

    cents = (
        np.asarray(centroids, dtype=np.float64)
        if centroids is not None
        else train_cluster_centroids(
            df, n_clusters, vec_col, id_col, seed, sample_size
        )
    )

    keep = [f.name for f in df.schema.fields if f.name != vec_col]
    fields = ", ".join(
        f"{f.name} {f.dataType.simpleString()}"
        for f in df.schema.fields
        if f.name != vec_col
    )
    out_schema = f"{fields}, cluster_id int, centroid_sim double"
    cmat = cents.T.copy()

    def gen(batches):
        for pdf in batches:
            if len(pdf) == 0:
                continue
            mat = np.vstack(pdf[vec_col].to_numpy()).astype(np.float64)
            rn = np.linalg.norm(mat, axis=1, keepdims=True)
            rn[rn == 0] = 1.0
            sims = (mat / rn) @ cmat
            out = pdf[keep].copy()
            out["cluster_id"] = np.argmax(sims, axis=1).astype(np.int32)
            out["centroid_sim"] = np.max(sims, axis=1)
            yield out

    return df.mapInPandas(gen, out_schema)


def cluster_summary(
    df: DataFrame,
    n_clusters: int = 8,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    seed: int = 42,
    sample_size: int = 50_000,
    centroids: np.ndarray | None = None,
) -> DataFrame:
    """Per-cluster corpus map: (cluster_id, n, mean_sim) — size and
    cohesion of each spherical k-means cluster.  One aggregation over
    the assignment pass.  ``centroids`` as in
    :func:`cluster_embeddings`."""
    assigned = cluster_embeddings(
        df, n_clusters, vec_col, id_col, seed, sample_size,
        centroids=centroids,
    )
    return assigned.groupBy("cluster_id").agg(
        F.count(F.lit(1)).alias("n"),
        F.round(F.avg("centroid_sim"), 4).alias("mean_sim"),
    )
