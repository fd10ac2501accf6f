"""Brute-force (FLAT) top-k cosine kNN, Spark-first.

The reference's one real query operator (reference collection.go:410-559,
query.go:165-245): pre-filter -> dot-product scoring -> bounded-heap
top-k. Re-architected for batch throughput:

- **Single query** -> ``orderBy(desc).limit(k)``: Catalyst compiles this
  to ``TakeOrderedAndProject`` — a per-partition bounded heap + driver
  merge, which is exactly the reference's ``maxDocSims`` heap
  (query.go:16-83) distributed.
- **Batch of queries** (the 100 TB shape): score every (doc, query)
  pair map-side, and take per-query top-k.  Two implementations:
    * ``knn_expr`` — pure Catalyst expressions (broadcast cross join,
      zip_with/aggregate dot + window row_number). Fully codegen'd,
      oracle-friendly.
    * ``knn_block`` — ``mapInArrow`` NumPy kernel (:func:`_gemm_topk`):
      per Arrow batch, one f64 matrix multiply scores all queries at
      once and a local partition keeps only k rows per query (and
      their ties) **before any shuffle**.
      The post-map shuffle carries at most (partitions x queries x k)
      rows instead of (docs x queries) — this is what survives a 100x
      scale-up.

Every vector batch runs the one kernel.  What a query may score is a
per-row boolean mask inside it, not a join condition: the IVF probe is
an ``allow`` mask over each row's cell, and per-query filters (the
reference applies its filter DSL one query at a time, query.go:135-155)
are deduplicated into classes projected beside the vectors as one
``array<boolean>`` column (``filters.filter_classes``); query ``j``
scores a row only where its class bit is set.

Negative queries (reference collection.go:434-480):
- subtract mode: q' = normalize(q - neg), then normal search.
- filter mode: drop docs with sim(neg, doc) > threshold (default 0.5,
  reference collection.go:47).
"""

from __future__ import annotations

from typing import Sequence

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

from ..functions import vector as V

# reference collection.go:47
DEFAULT_NEGATIVE_FILTER_THRESHOLD = 0.5


def _score(docs: DataFrame, qvec: Column, vec_col: str) -> Column:
    # Normalize-at-insert invariant (SURVEY §4 #7) means dot == cosine.
    return V.dot(F.col(vec_col), qvec)


def knn_single(
    docs: DataFrame,
    query_vec: Sequence[float],
    k: int,
    vec_col: str = "embedding",
    id_col: str = "id",
    sim_col: str = "similarity",
    assume_normalized: bool = True,
) -> DataFrame:
    """Top-k most similar docs to ONE query vector.

    Compiles to TakeOrderedAndProject: no full sort, no wide shuffle —
    each partition keeps a k-heap, the driver merges. Ties broken by id
    for determinism.
    """
    if len(query_vec) == 0:
        raise ValueError("queryEmbedding is empty")
    if k <= 0:
        raise ValueError("nResults must be > 0")
    qv = V.normalize_vec(query_vec)
    qlit = V.query_vector_lit(qv)
    sim = _score(docs, qlit, vec_col)
    if not assume_normalized:
        sim = sim / V.norm(vec_col)
    scored = docs.withColumn(sim_col, sim)
    return scored.orderBy(F.desc(sim_col), F.col(id_col)).limit(int(k))


# More partitions than Spark can hold: the size is Long.MAX_VALUE (no
# stats) scaled by a projection, not a measured one.
_MAX_PARTITIONS = 2**31 - 1


def fit_python_stage(df: DataFrame) -> DataFrame:
    """Size a NumPy kernel's input by its bytes: at most one partition
    per ``spark.sql.files.openCostInBytes`` (Spark's bytes-equivalent of
    a task's fixed cost) of the optimizer's size estimate.

    A Python task costs its worker ~0.2 CPU-s before the kernel runs, and
    a scan starts one task per file split, so unsized, a small batch
    runs one Python task per core — AQE caps only shuffle partitions,
    not the reference's ``min(NumCPU, nDocs)`` workers (query.go:91-97).
    ``coalesce(n)`` is a no-op at or above the current partition count;
    a frame without size stats is returned as is.  A one-partition
    input reports ``SinglePartition``, so a per-query window after the
    kernel needs no shuffle."""
    size = int(df._jdf.queryExecution().optimizedPlan().stats().sizeInBytes())
    cost = df.sparkSession._jsparkSession.sessionState().conf().filesOpenCostInBytes()
    n = max(1, -(-size // max(1, int(cost))))
    return df.coalesce(n) if n <= _MAX_PARTITIONS else df


def topk_per_query(
    scored: DataFrame,
    k: int,
    query_id_col: str = "query_id",
    id_col: str = "id",
    sim_col: str = "similarity",
) -> DataFrame:
    """Per-query top-k via window row_number (the distributed analog of the
    reference's per-query heap when many queries run at once)."""
    w = Window.partitionBy(query_id_col).orderBy(F.desc(sim_col), F.col(id_col))
    return (
        scored.withColumn("__rn", F.row_number().over(w))
        .filter(F.col("__rn") <= int(k))
        .drop("__rn")
    )


def knn_expr(
    docs: DataFrame,
    queries: DataFrame,
    k: int,
    vec_col: str = "embedding",
    id_col: str = "id",
    query_id_col: str = "query_id",
    query_vec_col: str = "query_vec",
    sim_col: str = "similarity",
) -> DataFrame:
    """Batch kNN, pure-Catalyst: broadcast-cross-join docs x queries,
    score with a codegen'd dot product, window top-k per query.

    The queries side is broadcast (it is always the small side), so the
    only shuffle is the per-query top-k — and that input is already just
    scored pairs, not payload columns.
    """
    q = F.broadcast(queries.select(query_id_col, query_vec_col))
    scored = (
        docs.select(id_col, vec_col)
        .crossJoin(q)
        .withColumn(sim_col, V.dot(F.col(vec_col), F.col(query_vec_col)))
        .select(query_id_col, id_col, sim_col)
    )
    return topk_per_query(scored, k, query_id_col, id_col, sim_col)


def knn_block(
    docs: DataFrame,
    query_ids: Sequence,
    query_vecs: Sequence[Sequence[float]],
    k: int,
    vec_col: str = "embedding",
    id_col: str = "id",
    query_id_col: str = "query_id",
    sim_col: str = "similarity",
    negative_vec: Sequence[float] | None = None,
    negative_threshold: float = DEFAULT_NEGATIVE_FILTER_THRESHOLD,
    normalize_queries: bool = True,
    precision: str = "float64",
    classes: Column | None = None,
    class_of: Sequence[int] | None = None,
) -> DataFrame:
    """Batch kNN, block-matrix kernel (the scale path).

    Each Arrow batch of docs is scored against ALL queries with one
    GEMM; a local partition keeps k rows (plus any ties with the k-th)
    per query, so the shuffle that feeds the final per-query top-k is
    tiny and independent of corpus size (:func:`_gemm_topk`). Optional negative-filter mode drops docs whose
    similarity to ``negative_vec`` exceeds the threshold *before* top-k
    (reference query.go:221-231).

    ``precision="float64"`` (default) keeps scores bit-comparable to
    the SQL oracle; ``"float32"`` runs the GEMM in single precision —
    half the memory traffic, ~2x the FLOP rate, and the arithmetic the
    reference itself uses (Go float32 slices), so it is the
    apples-to-apples throughput configuration.  Rankings can differ in
    ~1e-7 ties; scores are emitted as float64 either way.

    ``classes`` / ``class_of`` give each query its own filter
    (``filters.filter_classes``): query ``j`` scores only the rows
    whose ``classes[class_of[j]]`` is true.
    """
    import numpy as np

    if k <= 0:
        raise ValueError("nResults must be > 0")
    if precision not in ("float64", "float32"):
        raise ValueError(f"unknown precision: {precision!r}")
    dtype = np.float32 if precision == "float32" else np.float64
    qmat = np.asarray(query_vecs, dtype=np.float64)
    if qmat.ndim != 2 or qmat.shape[0] == 0:
        raise ValueError("queryEmbedding is empty")
    if normalize_queries:
        norms = np.linalg.norm(qmat, axis=1, keepdims=True)
        norms[norms == 0] = 1.0
        qmat = qmat / norms
    qmat = qmat.astype(dtype)
    qids = list(query_ids)
    neg = None
    if negative_vec is not None:
        neg = np.asarray(negative_vec, dtype=np.float64)
        nn = np.linalg.norm(neg)
        if nn > 0:
            neg = neg / nn
        neg = neg.astype(dtype)

    return _gemm_topk(
        docs, qids, qmat, k, vec_col, id_col, query_id_col, sim_col,
        neg=neg, negative_threshold=negative_threshold,
        classes=classes, class_of=class_of,
    )


def _gemm_topk(
    docs: DataFrame,
    query_ids: Sequence,
    qmat,
    k: int,
    vec_col: str,
    id_col: str,
    query_id_col: str = "query_id",
    sim_col: str = "similarity",
    neg=None,
    negative_threshold: float = DEFAULT_NEGATIVE_FILTER_THRESHOLD,
    cell_col: str | None = None,
    allow=None,
    classes: Column | None = None,
    class_of: Sequence[int] | None = None,
) -> DataFrame:
    """The block GEMM top-k kernel of :func:`knn_block` and
    ``IVFIndex.search_batch``: per Arrow batch, ``mat @ qmat.T`` scores
    every doc against every prepared query row; each query keeps its
    batch-local top ``k`` plus every row tied with its k-th score, so
    the one per-query top-k window settles ties by id exactly as a full
    join would.  ``allow`` (``n_cells x n_queries`` bool, indexed by the
    per-row int ``cell_col``) limits each query to its own cells — the
    IVF probe as a mask.  ``classes`` (one ``array<boolean>`` Column
    over ``docs``, a row's match per filter class) and ``class_of``
    (query ``j``'s entry in it) limit each query to the rows its own
    filter matches; with ``allow``, a row must pass both.  ``neg``
    drops docs whose similarity to it exceeds ``negative_threshold``
    (reference query.go:221-231)."""
    import numpy as np

    if k <= 0:
        raise ValueError("nResults must be > 0")
    id_field = docs.schema[id_col].dataType.simpleString()
    out_schema = f"{query_id_col} string, {id_col} {id_field}, {sim_col} double"
    kk = int(k)
    qid_arr = np.array([str(q) for q in query_ids], dtype=object)
    dtype = qmat.dtype
    cols = [id_col, vec_col] + ([cell_col] if cell_col else [])
    class_at = len(cols)
    if classes is not None:
        cols.append(classes.alias("__classes"))
    class_of = None if classes is None else np.asarray(class_of, dtype=np.int64)

    def score_batches(batches):
        # mapInArrow: the embedding column's Arrow buffer is reshaped
        # zero-copy into the (n, dim) matrix — no per-row vstack (which
        # dominated wall time: ~6x slower end-to-end via pandas).
        import pyarrow as pa

        for rb in batches:
            n = rb.num_rows
            if n == 0:
                continue
            col = rb.column(1)
            flat = col.flatten()
            if flat.null_count == 0 and col.null_count == 0:
                # float32 inputs + precision="float32": TRUE zero-copy
                # (no dtype conversion at all)
                mat = flat.to_numpy(zero_copy_only=False).reshape(n, -1).astype(
                    dtype, copy=False
                )
            else:
                mat = np.vstack(col.to_pylist()).astype(dtype)
            ids = rb.column(0).to_numpy(zero_copy_only=False)
            ok = None
            if allow is not None:
                ok = allow[rb.column(2).to_numpy(zero_copy_only=False)]
            if class_of is not None:
                bits = rb.column(class_at).flatten().to_numpy(zero_copy_only=False)
                bits = bits.reshape(n, -1)[:, class_of]
                ok = bits if ok is None else ok & bits
            if neg is not None:
                live = mat @ neg <= negative_threshold
                if not live.any():
                    continue
                mat, ids = mat[live], ids[live]
                ok = None if ok is None else ok[live]
            sims = mat @ qmat.T  # (n_docs, n_queries)
            n = sims.shape[0]
            keep = np.ones_like(sims, dtype=bool) if ok is None else ok
            if kk < n:
                # each query's k-th largest score; every row tied with
                # it stays (>=), so the cut never splits a tie
                masked = sims if ok is None else np.where(ok, sims, -np.inf)
                kth = np.partition(masked, n - kk, axis=0)[n - kk]
                keep = keep & (masked >= kth)
            out_q, rows = np.nonzero(keep.T)  # query-major
            if len(rows) == 0:
                continue
            yield pa.RecordBatch.from_arrays(
                [
                    pa.array(qid_arr[out_q], type=pa.string()),
                    pa.array(ids[rows]),
                    pa.array(sims[rows, out_q], type=pa.float64()),
                ],
                names=[query_id_col, id_col, sim_col],
            )

    partial = fit_python_stage(docs.select(*cols)).mapInArrow(
        score_batches, schema=out_schema
    )
    return topk_per_query(partial, kk, query_id_col, id_col, sim_col)


def negative_subtract_query(
    query_vec: Sequence[float], negative_vec: Sequence[float]
) -> list[float]:
    """Subtract mode: q' = normalize(q - neg) (reference
    collection.go:457-464, vector.go:44-52). Driver-side scalar math."""
    q = V.normalize_vec(query_vec)
    n = V.normalize_vec(negative_vec)
    return V.normalize_vec(V.subtract_vec(q, n))


def knn_negative_filter(
    docs: DataFrame,
    query_vec: Sequence[float],
    negative_vec: Sequence[float],
    k: int,
    threshold: float = DEFAULT_NEGATIVE_FILTER_THRESHOLD,
    vec_col: str = "embedding",
    id_col: str = "id",
    sim_col: str = "similarity",
) -> DataFrame:
    """Filter mode: drop docs with sim(neg, doc) > threshold, then top-k
    (reference collection.go:465-472, query.go:221-231). The negative
    similarity is a second codegen'd column; the filter runs before the
    top-k heap, exactly like the reference."""
    if len(query_vec) == 0:
        raise ValueError("queryEmbedding is empty")
    if k <= 0:
        raise ValueError("nResults must be > 0")
    qlit = V.query_vector_lit(V.normalize_vec(query_vec))
    nlit = V.query_vector_lit(V.normalize_vec(negative_vec))
    scored = docs.withColumn("__neg_sim", V.dot(F.col(vec_col), nlit)).filter(
        F.col("__neg_sim") <= F.lit(float(threshold))
    )
    scored = scored.withColumn(sim_col, V.dot(F.col(vec_col), qlit)).drop("__neg_sim")
    return scored.orderBy(F.desc(sim_col), F.col(id_col)).limit(int(k))
