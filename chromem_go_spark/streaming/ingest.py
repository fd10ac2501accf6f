"""Structured Streaming: streaming ingest + windowed/sessionized analytics.

The reference has NO streaming surface (SURVEY §2.4); its closest analog
is synchronous per-document persistence (reference collection.go:284-290).
This module supplies the streaming half a 100 TB pipeline needs:

- ``read_events_stream`` / ``read_documents_stream`` — file-source
  streams (at scale: Kafka source, same downstream code — Structured
  Streaming transformations are source-agnostic).
- ``windowed_event_counts`` — tumbling-window agg with a watermark for
  late data. Identical code path for batch DataFrames (pass
  ``watermark=None``), which is how the batch oracle validates it.
- ``sessionize_events`` — native ``session_window`` (gap-based sessions)
  — Spark's built-in replaces a hand-rolled stateful operator.
- ``running_user_stats`` — a genuinely custom stateful operator via
  ``applyInPandasWithState`` (per-user running count/sum with timeout),
  the pattern for operators ``session_window`` can't express.
- ``stream_upsert_to_collection`` — ``foreachBatch`` sink performing the
  collection's upsert-by-id per micro-batch: exactly-once-per-batch
  semantics standing in for the reference's synchronous persist.

Scale notes: windowed aggs shuffle once on (key, window); watermarks
bound state. The stateful operator partitions by user_id — state size is
O(active users), and GroupStateTimeout evicts idle keys.
"""

from __future__ import annotations

from typing import Iterable

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from pyspark.sql.types import (
    DoubleType,
    IntegerType,
    LongType,
    StringType,
    StructField,
    StructType,
    TimestampType,
)

from chromem_go_spark.functions.time import to_instant

def _skip_empty_batch(batch_df: DataFrame) -> bool:
    """The SHARED empty-micro-batch guard for every stateful
    foreachBatch sink in this module (r11 — one pattern, one
    rationale).  ``isEmpty()`` costs one tiny limit-1 job per trigger;
    every sink below that keeps the guard does so because its empty
    alternative is STRICTLY more expensive — a no-op state commit
    (a full HNSW snapshot generation, an empty IVF batch partition +
    manifest bump, an empty state-parquet write + compaction check) or
    a multi-job merge.  Sinks whose empty batch already no-ops through
    the plan itself drop the guard instead (``sharded_hnsw_append_sink``:
    zero groups reach applyInPandas, zero rows collect, the bump is
    skipped) — prefer that shape when the plan allows it."""
    return batch_df.isEmpty()


EVENTS_SCHEMA = StructType(
    [
        StructField("event_id", LongType()),
        StructField("ts", TimestampType()),
        StructField("user_id", LongType()),
        StructField("event_type", StringType()),
        StructField("value", DoubleType()),
        StructField("props", StringType()),
    ]
)


def read_events_stream(spark: SparkSession, path: str, max_files_per_trigger: int = 8) -> DataFrame:
    """File-source stream over an events directory (parquet). At cluster
    scale the same pipeline reads Kafka; only this reader changes."""
    return (
        spark.readStream.schema(EVENTS_SCHEMA)
        .option("maxFilesPerTrigger", max_files_per_trigger)
        .parquet(path)
    )


def windowed_event_counts(
    events: DataFrame,
    window: str = "1 hour",
    watermark: str | None = "2 hours",
    ts_col: str = "ts",
) -> DataFrame:
    """Tumbling-window counts/sums per event_type. With a watermark this
    is an append-able streaming agg (late rows beyond the watermark are
    dropped); with ``watermark=None`` it is the identical batch query."""
    src = to_instant(events, ts_col)
    if watermark and events.isStreaming:
        src = src.withWatermark(ts_col, watermark)
    return (
        src.groupBy(F.window(F.col(ts_col), window).alias("win"), "event_type")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.sum("value").alias("total"),
        )
        .select(
            F.col("win.start").alias("window_start"),
            F.col("win.end").alias("window_end"),
            "event_type",
            "n",
            "total",
        )
    )


def sessionize_events(
    events: DataFrame,
    gap: str = "30 minutes",
    watermark: str | None = "2 hours",
    ts_col: str = "ts",
) -> DataFrame:
    """Gap-based sessions per user via the native ``session_window``
    (merging-window state store op in streaming; plain agg in batch)."""
    src = to_instant(events, ts_col)
    if watermark and events.isStreaming:
        src = src.withWatermark(ts_col, watermark)
    return (
        src.groupBy(
            F.session_window(F.col(ts_col), gap).alias("sess"), "user_id"
        )
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.sum("value").alias("session_value"),
        )
        .select(
            "user_id",
            F.col("sess.start").alias("session_start"),
            F.col("sess.end").alias("session_end"),
            "n_events",
            "session_value",
        )
    )


_USER_STATS_SCHEMA = "user_id bigint, n_events bigint, total_value double"
_USER_STATE_SCHEMA = "n bigint, total double"


def running_user_stats(events: DataFrame, timeout: str = "NoTimeout") -> DataFrame:
    """Custom stateful operator: per-user running (count, sum) across
    micro-batches via ``applyInPandasWithState`` — the escape hatch for
    stateful logic built-ins can't express. Emits the updated totals for
    every user seen in the current batch."""
    import pandas as pd
    from pyspark.sql.streaming.state import GroupState, GroupStateTimeout

    def update(key, pdf_iter: Iterable["pd.DataFrame"], state: GroupState):
        n, total = state.get if state.exists else (0, 0.0)
        for pdf in pdf_iter:
            n += len(pdf)
            total += float(pdf["value"].fillna(0.0).sum())
        state.update((n, total))
        yield pd.DataFrame(
            {"user_id": [key[0]], "n_events": [n], "total_value": [total]}
        )

    return events.select("user_id", "value").groupBy("user_id").applyInPandasWithState(
        update,
        outputStructType=_USER_STATS_SCHEMA,
        stateStructType=_USER_STATE_SCHEMA,
        outputMode="update",
        timeoutConf=getattr(GroupStateTimeout, timeout),
    )


def dedup_events_stream(
    events: DataFrame,
    key_cols: list[str] | None = None,
    watermark: str = "2 hours",
    ts_col: str = "ts",
) -> DataFrame:
    """Streaming exact dedup: drop re-deliveries of the same event id
    within the watermark horizon (``dropDuplicates`` keeps per-key state;
    the watermark bounds it — without one, state grows forever). Batch
    DataFrames pass through the same dropDuplicates semantics."""
    keys = key_cols or ["event_id"]
    src = to_instant(events, ts_col) if ts_col in events.columns else events
    if events.isStreaming:
        src = src.withWatermark(ts_col, watermark)
        return src.dropDuplicatesWithinWatermark(keys)
    return src.dropDuplicates(keys)


def match_standing_queries(
    docs: DataFrame,
    queries_df: DataFrame,
    threshold: float = 0.75,
    vec_col: str = "embedding",
    id_col: str = "doc_id",
    query_id_col: str = "query_id",
    query_vec_col: str = "query_vec",
) -> DataFrame:
    """Continuous similarity alerting: every arriving document is scored
    against a STATIC table of standing queries (saved searches / alert
    rules), emitting (query_id, doc_id, similarity) for matches above
    ``threshold``.

    This is a stream-static broadcast join + codegen dot product —
    completely STATELESS, so it needs no watermark and adds no state
    store; each micro-batch is scored and forgotten. The reference can
    only run ad-hoc queries against a static corpus; this is the inverse
    shape (static queries, streaming corpus) a 100 TB ingest pipeline
    uses for routing/alerting. Batch DataFrames run the identical plan,
    which is how the parity test validates it.
    """
    from ..functions import vector as V

    q = F.broadcast(queries_df.select(query_id_col, query_vec_col))
    return (
        docs.select(id_col, vec_col)
        .join(q)  # cross join against the tiny broadcast side
        .withColumn(
            "similarity",
            V.dot(F.col(vec_col).cast("array<double>"), F.col(query_vec_col)),
        )
        .filter(F.col("similarity") >= F.lit(float(threshold)))
        .select(query_id_col, id_col, "similarity")
    )


def value_anomaly_stream(
    events: DataFrame,
    baseline_stats: DataFrame,
    z_threshold: float = 3.0,
    ts_col: str = "ts",
    type_col: str = "event_type",
    value_col: str = "value",
    id_col: str = "event_id",
) -> DataFrame:
    """Streaming twin of :func:`..operators.events.value_anomalies`:
    every arriving event is z-scored against a FROZEN per-type baseline
    (the serving contract — live monitoring compares against trained
    statistics, it doesn't retrain per batch) and anomalies above
    ``z_threshold`` are emitted.

    ``baseline_stats`` is a static (type, __mu, __sigma) frame — build
    it with one batch aggregation over history (exactly the stats
    subframe value_anomalies computes).  Stream-static broadcast join +
    codegen arithmetic: completely STATELESS, no watermark, no state
    store; a batch frame runs the identical plan, which is how the
    parity test validates it.  Filter on the RAW z, round for output
    (the repo's oracle convention)."""
    ev = to_instant(events, ts_col)
    z = (F.col(value_col) - F.col("__mu")) / F.col("__sigma")
    return (
        ev.join(F.broadcast(baseline_stats), type_col)
        .filter(F.col("__sigma") > 0)
        .filter(F.abs(z) >= float(z_threshold))
        .withColumn("z", F.round(z, 4))
        .select(id_col, type_col, F.round(value_col, 4).alias("value"), "z")
    )


def baseline_value_stats(
    events: DataFrame,
    type_col: str = "event_type",
    value_col: str = "value",
) -> DataFrame:
    """Train the frozen per-type baseline for
    :func:`value_anomaly_stream`: one aggregation over history —
    (type, __mu, __sigma), population stddev (the same statistics
    value_anomalies computes inline)."""
    return events.groupBy(type_col).agg(
        F.avg(value_col).alias("__mu"),
        F.stddev_pop(value_col).alias("__sigma"),
    )


def stream_upsert_to_collection(
    stream_df: DataFrame,
    collection,
    checkpoint_dir: str,
    query_name: str = "collection_ingest",
):
    """foreachBatch sink: each micro-batch is upserted (last-writer-wins
    by id) into the collection — streaming ingest with the same MERGE
    semantics as the batch path (reference AddDocument upsert,
    collection.go:280)."""

    def handle(batch_df: DataFrame, batch_id: int) -> None:
        if _skip_empty_batch(batch_df):
            return
        collection.add_df(batch_df)

    return (
        stream_df.writeStream.queryName(query_name)
        .option("checkpointLocation", checkpoint_dir)
        .outputMode("append")
        .foreachBatch(handle)
    )


def incremental_neardup_batch(
    batch_docs: DataFrame,
    state_dir: str,
    threshold: float = 0.5,
    text_col: str = "text",
    id_col: str = "doc_id",
    k: int = 5,
    num_hashes: int = 64,
    bands: int = 16,
    seed: int = 42,
    batch_id: int = 0,
    compact_after: int = 16,
    commit_mode: str = "rename",
) -> None:
    """One micro-batch of incremental near-duplicate detection.

    The batch's MinHash bucket table is joined against the ACCUMULATED
    bucket state (parquet under ``state_dir``) so each arriving document
    is checked against all history without recomputing it: work per
    batch is O(batch x colliding-buckets), never O(corpus). Candidates
    (cross-batch and within-batch) are verified with exact n-gram
    Jaccard using stored shingle-hash arrays; surviving pairs, buckets,
    and shingles land in ``<state_dir>/{pairs,buckets,shingles}``. The
    pair log is the same (id_a, id_b, jaccard) contract as
    ``minhash_lsh_pairs`` over the union of all batches (plus a
    ``__batch`` provenance column).

    IDEMPOTENT per ``batch_id``: every state table is partitioned by
    ``__batch`` and written with dynamic partition overwrite, so a
    replayed micro-batch (foreachBatch is at-least-once) REPLACES its
    own partition instead of appending duplicates; state reads exclude
    the current batch's partition, so a half-written failed attempt
    can't contaminate its retry.
    """
    import os

    from ..batchstate import fold_batch_partitions, read_history, write_batch
    from ..materialize import materialize
    from ..operators import dedup as D

    spark = batch_docs.sparkSession
    # r14: checkpoint the per-doc hash ARRAYS (row-local, zero
    # shuffles); the signature lanes and the shingle-state write read
    # them directly (no groupBy+collect_list rebuild of the batch's
    # shingle stream).
    arrs = materialize(D._hashed_shingle_arrays(batch_docs, text_col, id_col, k))
    new_buckets = materialize(D._lsh_buckets(arrs, id_col, num_hashes, bands, seed))
    # array_sort: the fold's crash healing dedups state rows
    # byte-for-byte, so rows must be canonical (the verify's
    # intersection size is order-insensitive, so free).  The size()>0
    # filter keeps state identical to the pre-r14 groupBy rebuild,
    # which never emitted a row for a doc with zero shingles.
    new_shingles = materialize(
        arrs.filter(F.size("hs") > 0).select(
            id_col,
            F.array_sort("hs").alias("hs"),
            F.size("hs").cast("bigint").alias("sz"),
        )
    )

    buckets_path = os.path.join(state_dir, "buckets")
    shingles_path = os.path.join(state_dir, "shingles")
    pairs_path = os.path.join(state_dir, "pairs")
    have_state = os.path.exists(buckets_path)

    # candidates: new-vs-history (join against state) + new-vs-new
    a = new_buckets.alias("a")
    cands = [
        a.join(new_buckets.alias("b"), ["band", "bucket"])
        .filter(F.col(f"a.{id_col}") < F.col(f"b.{id_col}"))
        .select(
            F.col(f"a.{id_col}").alias("id_a"), F.col(f"b.{id_col}").alias("id_b")
        )
    ]
    if have_state:
        old_buckets = read_history(
            spark, buckets_path, batch_id, _state_schema(new_buckets)
        ).alias("o")
        cands.append(
            a.join(old_buckets, ["band", "bucket"])
            .select(
                F.least(F.col(f"a.{id_col}"), F.col(f"o.{id_col}")).alias("id_a"),
                F.greatest(F.col(f"a.{id_col}"), F.col(f"o.{id_col}")).alias("id_b"),
            )
            .filter(F.col("id_a") != F.col("id_b"))
        )
    cand = cands[0]
    for c in cands[1:]:
        cand = cand.unionByName(c)
    cand = cand.distinct()

    all_shingles = new_shingles
    if have_state:
        all_shingles = new_shingles.unionByName(
            read_history(spark, shingles_path, batch_id, _state_schema(new_shingles))
        )
    pairs = D._verify_jaccard(cand, all_shingles, id_col, threshold)
    write_batch(materialize(pairs), pairs_path, batch_id)
    write_batch(new_buckets, buckets_path, batch_id)
    write_batch(new_shingles, shingles_path, batch_id)

    if compact_after:
        for p in (buckets_path, shingles_path, pairs_path):
            # fold committed history (never the CURRENT batch — its
            # replay-overwrite contract must survive) into the reserved
            # __batch=-1 partition once enough dirs accumulate; the fold
            # protocol (crash healing, duplicate collapse) lives in
            # chromem_go_spark.batchstate
            fold_batch_partitions(
                spark,
                p,
                ["__batch"],
                _COMPACTED_BATCH,
                exclude_batch=int(batch_id),
                threshold=int(compact_after),
                commit_mode=commit_mode,
            )


_COMPACTED_BATCH = -1  # reserved __batch id holding folded history


def _state_schema(batch: DataFrame) -> StructType:
    """The columns of a state table written from ``batch`` frames by
    ``write_batch``: the frame's own plus ``__batch int``.  Read with
    it, the table needs no schema-inference job."""
    return StructType(batch.schema.fields + [StructField("__batch", IntegerType())])


def init_semantic_state(
    ref_vectors: DataFrame,
    state_dir: str,
    n_clusters: int = 8,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    seed: int = 42,
) -> None:
    """Freeze the SemDeDup coarse quantizer: train spherical k-means on
    a bounded hash-spread sample of ``ref_vectors`` and persist the
    centroid matrix under ``state_dir/centroids``.  Streaming batches
    assign against these FROZEN centroids (the serving contract — new
    data never reshapes the clustering), exactly like the IVF ingest
    path's frozen quantizer."""
    import os

    import numpy as np

    from ..operators.ann import _hash_sample, _kmeans

    sample = _hash_sample(ref_vectors, vec_col, id_col, 50_000)
    norms = np.linalg.norm(sample, axis=1, keepdims=True)
    norms[norms == 0] = 1.0
    cents = _kmeans(sample / norms, n_clusters, seed)
    spark = ref_vectors.sparkSession
    rows = [(int(i), [float(x) for x in c]) for i, c in enumerate(cents)]
    spark.createDataFrame(
        rows, "cluster_id int, centroid array<double>"
    ).coalesce(1).write.mode("overwrite").parquet(os.path.join(state_dir, "centroids"))


def incremental_semantic_dedup_batch(
    batch_vectors: DataFrame,
    state_dir: str,
    threshold: float = 0.8,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    batch_id: int = 0,
    compact_after: int = 16,
    commit_mode: str = "rename",
) -> None:
    """One micro-batch of incremental SemDeDup: assign the batch to the
    frozen centroids (one GEMM Arrow pass), join it against the
    accumulated per-cluster vector state PLUS itself (within-cluster
    only — the SemDeDup scale contract), and append cosine-near pairs
    to the ``pairs`` log.  Work per batch is O(batch × clustermates),
    never O(corpus²).

    Same contract as :func:`incremental_neardup_batch`: the pair log
    over all batches equals the one-shot within-cluster pair
    enumeration at the same threshold (parity-tested); retention
    policy (min-id, centroid-closest, keep-best) is applied downstream
    over the pair log.  IDEMPOTENT per ``batch_id`` via __batch dynamic
    partition overwrite; state reads exclude the current batch."""
    import os

    import numpy as np

    from ..batchstate import fold_batch_partitions, read_history, write_batch
    from ..functions import vector as V
    from ..materialize import materialize
    from ..operators.ann import _assign_clusters

    spark = batch_vectors.sparkSession
    crows = spark.read.parquet(os.path.join(state_dir, "centroids")).collect()
    cents = np.asarray(
        [r["centroid"] for r in sorted(crows, key=lambda r: r["cluster_id"])],
        dtype=np.float64,
    )
    assigned = materialize(
        _assign_clusters(
            batch_vectors.select(id_col, vec_col), cents, vec_col
        )
    )

    vectors_path = os.path.join(state_dir, "vectors")
    pairs_path = os.path.join(state_dir, "pairs")
    have_state = os.path.exists(vectors_path)

    a = assigned.select(
        F.col(id_col).alias("na"), "cluster_id", F.col(vec_col).alias("va")
    )
    # new-vs-new (id order dedups the unordered pair)
    b = assigned.select(
        F.col(id_col).alias("nb"), "cluster_id", F.col(vec_col).alias("vb")
    )
    cands = [
        a.join(b, "cluster_id").filter(F.col("na") < F.col("nb"))
        .select(
            F.col("na").alias("id_a"), F.col("nb").alias("id_b"), "va", "vb"
        )
    ]
    if have_state:
        old = read_history(spark, vectors_path, batch_id).select(
            F.col(id_col).alias("nb"), "cluster_id", F.col(vec_col).alias("vb")
        )
        cands.append(
            a.join(old, "cluster_id")
            .filter(F.col("na") != F.col("nb"))
            .select(
                F.least("na", "nb").alias("id_a"),
                F.greatest("na", "nb").alias("id_b"),
                # cosine is symmetric — no need to orient the vectors
                "va",
                "vb",
            )
        )
    cand = cands[0]
    for c in cands[1:]:
        cand = cand.unionByName(c)
    pairs = (
        cand.dropDuplicates(["id_a", "id_b"])
        # r14: norms once per surviving candidate row, not re-aggregated
        # inside the cosine twice (filter + project); bit-identical
        .withColumn("__na", V.hoisted_norm("va"))
        .withColumn("__nb", V.hoisted_norm("vb"))
        .withColumn("cosine", V.cosine_from_norms("va", "vb", "__na", "__nb"))
        .filter(F.col("cosine") >= F.lit(float(threshold)))
        .select("id_a", "id_b", "cosine")
    )
    write_batch(materialize(pairs), pairs_path, batch_id)
    write_batch(assigned, vectors_path, batch_id)

    if compact_after:
        for p in (vectors_path, pairs_path):
            fold_batch_partitions(
                spark,
                p,
                ["__batch"],
                _COMPACTED_BATCH,
                exclude_batch=int(batch_id),
                threshold=int(compact_after),
                commit_mode=commit_mode,
            )


def semantic_dedup_sink(
    stream_vectors: DataFrame,
    state_dir: str,
    checkpoint_dir: str,
    threshold: float = 0.8,
    query_name: str = "semantic_dedup_ingest",
    **kwargs,
):
    """foreachBatch sink wrapping :func:`incremental_semantic_dedup_batch`
    — continuous embedding-space near-duplicate detection against the
    frozen-quantizer cluster state."""

    def handle(batch_df: DataFrame, batch_id: int) -> None:
        if _skip_empty_batch(batch_df):
            return
        incremental_semantic_dedup_batch(
            batch_df, state_dir, threshold, batch_id=batch_id, **kwargs
        )

    return (
        stream_vectors.writeStream.queryName(query_name)
        .option("checkpointLocation", checkpoint_dir)
        .outputMode("append")
        .foreachBatch(handle)
    )


def ivf_append_sink(
    stream_vectors: DataFrame,
    index_path: str,
    checkpoint_dir: str,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    query_name: str = "ivf_ingest",
):
    """foreachBatch sink for incremental ANN index maintenance: each
    micro-batch of new vectors is cluster-assigned against the saved
    index's frozen centroids and appended as its own partition
    (idempotent per batch — see ``IVFIndex.append_batch``). The index
    stays searchable throughout; run ``IVFIndex.compact`` between
    ingest sessions to fold micro-batch partitions into the base."""
    from ..operators.ann import IVFIndex

    def handle(batch_df: DataFrame, batch_id: int) -> None:
        if _skip_empty_batch(batch_df):
            return
        IVFIndex.append_batch(
            batch_df, index_path, batch_id, vec_col=vec_col, id_col=id_col
        )

    return (
        stream_vectors.writeStream.queryName(query_name)
        .option("checkpointLocation", checkpoint_dir)
        .outputMode("append")
        .foreachBatch(handle)
    )


def hnsw_append_sink(
    stream_vectors: DataFrame,
    snapshot_root: str,
    checkpoint_dir: str,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    M: int = 16,
    ef_construction: int = 200,
    seed: int = 42,
    max_points: int = 1_000_000,
    query_name: str = "hnsw_ingest",
    op_col: str | None = None,
    seq_col: str | None = None,
):
    """foreachBatch sink maintaining the SERVED HNSW graph (r8): the
    first micro-batch builds the graph, later ones
    :meth:`HNSWIndex.insert_batch` into it, and every batch commits a
    fresh snapshot generation via ``hnsw.save_snapshot`` — the graph
    write and the ``last_batch`` watermark land in ONE atomic commit,
    so an at-least-once foreachBatch replay is skipped EXACTLY (a
    graph insert is not idempotent, unlike the IVF tiers'
    replace-your-own-partition appends; transactional replay
    protection is the correct analog here).  Readers serve
    ``hnsw.load_snapshot(snapshot_root)`` at any time and always see a
    complete committed graph.  ``max_points`` binds across the whole
    ingest — the sink refuses loudly when the stream outgrows the
    serving tier (the unbounded regime belongs to ivf_append_sink).
    Rows whose id is already a graph node are dropped (first write
    wins): cross-batch redelivery from an at-least-once upstream is
    invisible to the batch-id watermark, and a duplicate node would
    surface twice in search results.

    CDC mode (r11): ``op_col`` names a column of ``"upsert"`` /
    ``"delete"`` ops and flips the contract to last-write-wins —
    the same shared reduce/apply as the sharded sink
    (``hnsw.apply_cdc_ops``): deletes tombstone and free the id,
    upserts of live ids replace their vector.

    CDC op ORDER (r12, ADVICE): without ``seq_col``, rows apply in
    PARTITION-MAJOR order (the order ``collect()`` returns), not the
    source's emission order — same-id op sequences split across
    source partitions in one micro-batch can reduce in either order.
    That is the correct contract for key-partitioned CDC feeds (Kafka
    keyed by id: all of an id's ops share a partition, in order) and
    is replay-deterministic only if the replayed batch reproduces the
    same partition layout.  Feeds that are NOT key-partitioned must
    carry their own monotone sequence column and name it via
    ``seq_col`` — ops then reduce in ``seq_col`` order regardless of
    partition layout, and replay determinism needs nothing from the
    source's partitioning."""
    from ..operators import hnsw as H

    box: list = []  # [(graph, last_batch, seen-id-set)] — loaded once,
    # then in-memory (handle runs serially within a stream; every batch
    # still COMMITS a snapshot, so a crash loses nothing — the cache
    # only skips re-reading the graph we just wrote.  The seen set
    # rides the box (review r11): rebuilding set(idx.ids) per trigger
    # was O(n) — the cost class the sharded sink's append cache
    # removed)

    def handle(batch_df: DataFrame, batch_id: int) -> None:
        if _skip_empty_batch(batch_df):
            return
        if not box:
            idx0, last0 = H.load_snapshot(snapshot_root)
            box.append(
                (idx0, last0, set(idx0.ids) if idx0 is not None else set())
            )
        idx, last, seen = box[0]
        if batch_id <= last:
            return  # replayed micro-batch: already committed
        # Graph nodes are append-only without op_col (no upsert): a
        # duplicate vec_id — an at-least-once upstream redelivering
        # rows across DIFFERENT micro-batches, which the batch-id
        # watermark can't see — would otherwise surface twice in every
        # search result.  First write wins; membership is one O(1) set
        # probe per row.  With op_col, apply_cdc_ops owns the contract
        # (last-write-wins — docstring).  The WHOLE mutation sits
        # inside the taint try (review r11: a failed insert used to
        # leave a partially mutated graph in the box — the widened
        # rule the sharded sink already had).
        try:
            if op_col:
                cols = [id_col, vec_col, op_col]
                if seq_col:
                    cols.append(seq_col)
                rows = batch_df.select(*cols).collect()
                if seq_col:
                    # explicit source sequence beats partition-major
                    # collect order (r12, ADVICE — docstring contract)
                    rows = sorted(rows, key=lambda r: r[3])
                idx = H.apply_cdc_ops(
                    idx, seen,
                    [r[0] for r in rows],
                    [list(r[1]) if r[1] is not None else None for r in rows],
                    [r[2] for r in rows],
                    id_col=id_col, M=M, ef_construction=ef_construction,
                    seed=seed, max_points=max_points,
                )
            elif idx is None:
                idx = H.HNSWIndex.build(
                    batch_df.dropDuplicates([id_col]), vec_col=vec_col,
                    id_col=id_col, M=M,
                    ef_construction=ef_construction, seed=seed,
                    max_points=max_points,
                )
                seen = set(idx.ids)
            else:
                rows = batch_df.select(id_col, vec_col).collect()
                new_ids, new_vecs = [], []
                for r in rows:
                    if r[0] in seen:
                        continue
                    seen.add(r[0])
                    new_ids.append(r[0])
                    new_vecs.append(list(r[1]))
                if not new_ids:
                    # nothing new — still commit the watermark below so
                    # the replayed batch is never re-collected
                    pass
                else:
                    idx.insert_batch(
                        new_ids, new_vecs, ef_construction=ef_construction
                    )
            H.save_snapshot(idx, snapshot_root, last_batch=batch_id)
        except BaseException:
            # the in-memory graph (and seen set) may hold this batch —
            # partially on a mutation failure, fully on a commit
            # failure — but nothing landed on disk: a same-process
            # retry must reload the last COMMITTED snapshot, never
            # reuse the mutated objects.
            box.clear()
            raise
        box[0] = (idx, batch_id, seen)

    return (
        stream_vectors.writeStream.queryName(query_name)
        .option("checkpointLocation", checkpoint_dir)
        .outputMode("append")
        .foreachBatch(handle)
    )


def _make_append_shard_kernel(
    root, bid, id_col, vec_col, M, efc, seed, cap, op_col
):
    """Build one micro-batch's per-shard append kernel for
    :func:`sharded_hnsw_append_sink`.  Module-level ON PURPOSE (r12):
    the kernel's closure is serialized into every shard task, every
    trigger — keeping the factory explicit makes the shipping
    contract testable (tests/test_closures.py): every captured name
    is a SCALAR; the batch's rows flow through the DataFrame, never
    the closure."""
    import pandas as pd

    from ..operators import hnsw as H

    def append_shard(key, pdf):
        # no type hints: stringified annotations break eval-type
        # inference under applyInPandas (see build_sharded_hnsw).
        # Replay skip / dedup / commit / worker cache live in
        # hnsw.append_shard_batch (testable without a stream).
        shard = int(key[0])
        if op_col:
            # CDC: restore the micro-batch's op order (__seq — the
            # source's seq_col, else partition-major; it survives the
            # routing shuffle) so same-id op sequences reduce
            # last-write-wins in that order
            pdf = pdf.sort_values("__seq")
        n, cent, nodes = H.append_shard_batch(
            H._shard_dir(root, shard), bid,
            list(pdf[id_col]), list(pdf[vec_col]),
            id_col=id_col, M=M, ef_construction=efc,
            seed=seed, max_points=cap,
            new_ops=list(pdf["__op"]) if op_col else None,
        )
        return pd.DataFrame(
            {
                "shard": [shard],
                "n_points": [n],
                "centroid": [cent],
                "n_nodes": [nodes],
            }
        )

    return append_shard


def sharded_hnsw_append_sink(
    stream_vectors: DataFrame,
    root: str,
    checkpoint_dir: str,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    ef_construction: int | None = None,
    query_name: str = "sharded_hnsw_ingest",
    op_col: str | None = None,
    seq_col: str | None = None,
    auto_split: bool = False,
    split_at: float = 0.75,
    auto_split_async: bool = True,
):
    """foreachBatch sink growing a SHARDED HNSW root (r10 — closes the
    r9 gap: a user who adopted the sharded tier for capacity could not
    append a stream to it; the single-graph sink's snapshot-generation
    protocol composes per shard naturally).

    Each micro-batch is routed to shards by the SAME placement rule
    the build used (the manifest's ``shard_by``: hash roots by
    ``pmod(xxhash64(id), n_shards)``, centroid roots by the frozen
    assignment centroids — r11), then each shard's
    rows are appended INSIDE their own executor task (``applyInPandas``
    — the driver never holds a graph, same as the build): load the
    shard's committed graph, drop ids already in it (first write wins,
    the single sink's cross-batch dedup contract), ``insert_batch``,
    and commit an atomic per-shard snapshot generation carrying the
    batch-id watermark (``hnsw.save_snapshot`` per shard dir).  A
    replayed micro-batch is skipped EXACTLY, per shard — a crash
    mid-batch (some shards committed, some not) replays into per-shard
    watermarks, so each shard applies the batch at most once.  After
    every shard commits, the driver folds the new point counts into
    the manifest (``bump_sharded_manifest`` — the serving visibility
    point: a shard the stream CREATED joins the walk list here).

    The root must hold a committed manifest (``build_sharded_hnsw`` —
    a build over an EMPTY frame bootstraps a stream-only root).  Graph
    parameters (M / seed / per-shard cap) come from the manifest so
    appended graphs stay parameter-compatible with built ones;
    ``ef_construction`` may be overridden per stream.  Serving readers
    (``sharded_search_batch``) resolve each shard's committed
    generation at walk time and see every completed ingest after the
    manifest bump — reload the ``ShardedHNSW`` handle between ingest
    sessions so the exact-ef ``n_points`` mapping tracks the grown
    corpus.  A shard outgrowing ``max_points_per_shard`` fails the
    stream loudly; the sink warns at 90% of the cap first.  Capacity
    is measured in NODES — tombstones included (r13, ADVICE: the cap
    itself binds on total nodes, so a churny CDC cell could die at
    the cap while its live count looked safe); the check reads each
    touched shard's post-commit node count, which covers every shard
    that can ever bind (a shard only grows on a trigger that touches
    it).  Capacity protocol (r12): on a CENTROID root run
    ``hnsw.split_shard`` on the hot cell — the sink re-reads the
    manifest every trigger and keeps ingesting through the split (a
    split racing a trigger's fold fails that trigger via
    ``SplitRacedError``; the replay routes by the post-split quantizer
    tree, already-committed shards skip by watermark).
    ``auto_split=True`` runs that protocol for you: after each
    trigger's fold, any cell past ``split_at`` of the cap (default
    0.75 — r13: splitting EARLY keeps the in-trigger rebuild wall
    small, since split cost is linear in cell size; SCALE.md has the
    wall-vs-size curve) splits INSIDE the handle — race-free by
    construction under the single-ingest-writer contract (appends
    only happen inside the handle, and the handle runs serially).  A
    hot cell whose nodes are MOSTLY TOMBSTONES (live < 50% of nodes)
    is compacted instead of split — the capacity pressure is churn,
    not growth, and a split of a near-drained cell would burn two
    shard ids on noise.  Hash roots place uniformly and cannot run
    hot — rebuild with more shards (capacity is n_shards × cap; the
    unbounded regime belongs to ivf_append_sink).

    ``auto_split_async=True`` (r13; the DEFAULT since r14) moves the
    SPLIT off the trigger path: the handle spawns one daemon thread
    per hot cell (at most one in flight per cell) and keeps ingesting
    — SCALE.md's r14 measured point (splitting a 100k-point cell at
    served defaults) puts the in-trigger stall at MINUTES even with
    the parallel sub-builds, and the default trigger (0.75 of a 1M
    cap) sits 7.5x further up a super-linear build curve; no ingest
    stream should absorb that synchronously by default.  Pass
    ``auto_split_async=False`` to force every split in-trigger (the
    r12/r13 behavior) when the stream's cells are small and a
    stalled trigger is preferable to the async margin rule below.  Safety rides on the r13
    protocol, every race landing in an already-tested recovery path:
    an append committing to the source mid-split aborts the split at
    its generation validation (staged dirs are private — nothing to
    clean but staging); a split committing mid-trigger fails that
    trigger's manifest fold (``SplitRacedError``), and the replay
    re-routes through the frozen quantizer tree exactly-once; two
    concurrent splits collide on the allocation counter and one
    aborts.  The split thread retries through aborts (every trigger
    that appends to the source mid-staging races it off) and wins
    the first quiet window — a trigger that misses the cell, or the
    drain; if it exhausts its retries under sustained pressure, the
    next trigger runs the split SYNCHRONOUSLY (bounded livelock).
    Size the margin accordingly: ``cap - split_at*cap`` nodes must
    cover the rows the stream ingests into one cell while its split
    is in flight — the cap remains the hard stop.  COMPACTION
    always stays in-trigger: a compact commit racing this stream's
    own append to the same cell could lose one of the two commits
    (the ``_mutate_shards`` writer-exclusion contract), while a split
    never writes the source dir.  A process kill mid-async-split
    leaves only a private staging dir, swept by the cell's next
    split attempt.

    Placement on centroid roots follows the FROZEN QUANTIZER TREE
    (``hnsw.load_routing_table``, r13): base cells keep their exact
    build-time centroids (retired ones included), splits only refine
    — so a replayed row re-routes to the cell (or descendant
    sub-cell) holding its committed copy, where the inherited
    watermark skips it.  Routing by the flat active table would break
    exactly-once across splits (the r12 ADVICE medium finding: a
    replayed row could land in a third cell whose watermark never saw
    the batch).

    Repeat batches are warm: each shard task serves its graph from
    the commit-keyed worker cache (``hnsw.append_shard_batch`` /
    ``_APPEND_CACHE``) instead of re-deserializing the snapshot per
    micro-batch, with the single sink's taint rule on failed commits.
    Continue an ingest later from the SAME checkpoint (batch ids keep
    rising past the per-shard watermarks); a FRESH checkpoint restarts
    batch ids at 0, which the watermarks read as replay — the same
    at-least-once contract as ``hnsw_append_sink``.

    CDC mode (r11): ``op_col`` names a column of ``"upsert"`` /
    ``"delete"`` ops and flips the ingest to LAST-write-wins (the
    reference's AddDocument/Delete semantics — see
    ``hnsw.append_shard_batch`` ``new_ops``): a delete tombstones the
    id wherever it lives and frees it for re-adding; an upsert of a
    live id replaces its vector (old node tombstoned, new inserted).
    Routing: upserts place like appends (they carry vectors); deletes
    on a HASH root route by the same id hash, but on a CENTROID root
    an id's cell is not recoverable without its vector, so delete
    rows REPLICATE to every shard (each tombstones its intersection
    — a few extra rows per shard per trigger, the delete path's
    broadcast cost).  On centroid roots every UPSERT additionally
    emits a broadcast synthetic delete sequenced just before it: a
    changed vector may route to a DIFFERENT cell than the id's live
    node, and only a broadcast can tombstone the stale node in the
    old cell (hash roots route by id, so replaces stay in-shard and
    need no broadcast).  Tombstones count against the per-shard cap
    until ``compact_sharded_hnsw``.

    CDC op ORDER (r12, ADVICE): without ``seq_col``, the ``__seq``
    that pins op order comes from ``monotonically_increasing_id`` —
    PARTITION-MAJOR, row-minor — so same-id op sequences split across
    source partitions in one micro-batch can reduce in either order,
    and replay determinism relies on the replayed batch reproducing
    the same partition layout.  That is the right contract for
    key-partitioned CDC feeds (Kafka keyed by id keeps an id's ops in
    one partition, in order); any other feed must carry its own
    monotone sequence column and name it via ``seq_col`` (cast to
    long) — op order is then the source's, independent of partition
    layout and replay layout both.

    Without ``op_col`` (append-only mode), redelivery is only
    id-stable if the ROW is: on a centroid root a redelivered id
    whose vector CHANGED routes to a different cell, where the
    cross-shard dedup cannot see the original — changed-vector
    redelivery is a mutation and belongs to CDC mode, not the
    append-only contract."""
    import pandas as pd

    from ..operators import hnsw as H

    meta0 = H.load_sharded_meta(root)  # refuse a never-built root early
    n_shards = int(meta0["n_shards"])
    M = int(meta0["M"])
    seed = int(meta0["seed"])
    efc = int(
        ef_construction
        if ef_construction is not None
        else meta0.get("ef_construction", 200)
    )
    cap = int(meta0.get("max_points_per_shard", 1_000_000))
    shard_by = meta0.get("shard_by", "hash")
    if not 0 < float(split_at) <= 1:
        raise ValueError(
            f"split_at must be in (0, 1], got {split_at} — it is the "
            "fraction of max_points_per_shard (in nodes) at which "
            "auto_split fires"
        )

    def _routing_meta():
        # centroid roots route by the manifest's FROZEN quantizer tree
        # (r13 — hnsw.load_routing_table: build-time assignment
        # centroids, refined by split descent edges; see the docstring
        # for why flat-active routing broke exactly-once across
        # splits).  Re-read EVERY trigger (r12): a split_shard between
        # triggers retires a hot cell and registers two sub-cells.
        # One small JSON read per trigger; the split race WITHIN a
        # trigger is closed by bump_sharded_manifest's retired-shard
        # refusal (the trigger fails, the replay routes by the new
        # tree).
        m = H.load_sharded_meta(root)
        H.load_routing_table(m)  # refuse a table-less root loudly
        return m

    if shard_by == "centroid":
        _routing_meta()  # refuse a root with no routing table early

    # async auto_split state (docstring): {cell: {"thread", "ok",
    # "err", "attempts"}} — driver-side, lives with the sink closure
    split_state: dict = {}

    def _split_async(spark, cell: int) -> None:
        import threading

        import time as _time

        st = split_state.setdefault(
            cell, {"thread": None, "ok": False, "err": None}
        )
        th = st["thread"]
        if th is not None and th.is_alive():
            return  # one in-flight split per cell
        if th is not None:  # reap the finished attempt
            st["thread"] = None
            if st["ok"]:
                return  # committed; the cell is retired now
            # the thread exhausted its in-flight retries — sustained
            # pressure on this cell keeps racing the commit off.
            # Bound the livelock by paying ONE in-trigger split
            # (docstring).  This stream's own appends cannot race it
            # (the handle runs serially), but ANOTHER hot cell's
            # still-in-flight daemon split can commit concurrently
            # and bump the allocation counter (r14, ADVICE) — on that
            # SplitRacedError, defer: leave ok False so the next
            # trigger spawns a fresh async attempt instead of failing
            # this trigger after its fold already succeeded.
            try:
                H.split_shard(spark, root, cell)
                st["ok"] = True
            except H.SplitRacedError as e:
                st["err"] = e
            except ValueError:  # retired between the check and here
                st["ok"] = True
            return

        def run():
            # retry inside the thread: every trigger that appends to
            # the source mid-staging aborts the split (generation
            # validation), so a single attempt would almost never
            # land under load — the loop wins the first quiet window
            # (e.g. right after the stream drains, or any trigger
            # whose batch misses this cell).  Bounded: each retry
            # re-stages the rebuild, so exhaustion falls back to the
            # reap path's synchronous split rather than burning CPU
            # forever.
            for _ in range(8):
                try:
                    H.split_shard(spark, root, cell)
                    st["ok"] = True
                    return
                except H.SplitRacedError as e:
                    st["err"] = e
                    _time.sleep(0.3)
                except ValueError as e:  # cell retired meanwhile
                    st["err"] = e
                    st["ok"] = True
                    return

        t = threading.Thread(
            target=run, name=f"auto-split-{cell}", daemon=True
        )
        st["thread"] = t
        t.start()

    def handle(batch_df: DataFrame, batch_id: int) -> None:
        bid = int(batch_id)
        append_shard = _make_append_shard_kernel(
            root, bid, id_col, vec_col, M, efc, seed, cap, op_col
        )
        meta_now = _routing_meta() if shard_by == "centroid" else None

        # no isEmpty() pre-check (r11, ADVICE): it was one extra Spark
        # job per trigger, and an empty batch already no-ops through
        # this plan — zero groups reach applyInPandas, the collect
        # returns zero rows, and the manifest bump is skipped below
        if op_col:
            # __seq pins op order BEFORE the routing shuffle: the
            # caller's seq_col when given (true source order), else
            # monotonically_increasing_id (partition-major, row-minor
            # — the key-partitioned-feed contract, see docstring).
            # Scaled x2 so a synthetic row can slot BETWEEN two source
            # rows (the centroid migration deletes below).
            seq = (
                F.col(seq_col).cast("long")
                if seq_col
                else F.monotonically_increasing_id()
            )
            base = batch_df.select(
                id_col,
                vec_col,
                F.col(op_col).alias("__op"),
                (seq * F.lit(2)).alias("__seq"),
            )
            # null/op-typo rows must fail LOUDLY in apply_cdc_ops, not
            # vanish (review r11: `__op != 'delete'` was null on a
            # null op, silently dropping the row from BOTH sides)
            is_del = F.coalesce(
                F.col("__op") == F.lit("delete"), F.lit(False)
            )
            ups = base.filter(~is_del)
            dels = base.filter(is_del)
        else:
            base = batch_df.select(id_col, vec_col)
            ups, dels = base, None
        hash_shard = F.pmod(
            F.xxhash64(F.col(id_col).cast("string")), F.lit(n_shards)
        )
        if meta_now is not None:
            # frozen-tree placement (r13): one GEMM-argmax + bounded
            # split descent per Arrow batch, inside the NumPy kernel
            # (a Catalyst rendering would re-grow literal nodes with
            # the cell count as splits accumulate)
            routed = H.route_vectors(ups, meta_now, vec_col)
            if dels is not None:
                active = sorted(
                    int(j) for j in (meta_now.get("centroids") or {})
                )
                all_shards = F.explode(
                    F.array(*[F.lit(j) for j in active])
                )
                # centroid roots: an id's cell needs its vector, which
                # a delete row does not carry — replicate to every
                # shard (docstring; each tombstones its intersection)
                dels_routed = dels.withColumn("__shard", all_shards)
                # and an UPSERT whose vector changed may land in a
                # DIFFERENT cell than its live node (review r11: the
                # old cell kept serving the stale node — duplicate
                # live ids).  Every upsert therefore emits a broadcast
                # synthetic delete sequenced just BEFORE it: the old
                # cell tombstones the stale node, while the target
                # cell's last-op reduce still ends in the upsert.
                mig = ups.select(
                    F.col(id_col),
                    F.lit(None)
                    .cast(base.schema[vec_col].dataType)
                    .alias(vec_col),
                    F.lit("delete").alias("__op"),
                    (F.col("__seq") - F.lit(1)).alias("__seq"),
                ).withColumn("__shard", all_shards)
                routed = (
                    routed.select(*dels_routed.columns)
                    .unionByName(dels_routed)
                    .unionByName(mig)
                )
        else:
            routed = ups.withColumn("__shard", hash_shard)
            if dels is not None:
                routed = routed.unionByName(
                    dels.withColumn("__shard", hash_shard)
                )
        rows = (
            routed.groupBy("__shard")
            .applyInPandas(
                append_shard,
                "shard int, n_points long, centroid array<double>, "
                "n_nodes long",
            )
            .collect()
        )
        if not rows:
            return
        H.bump_sharded_manifest(
            root,
            {int(r["shard"]): int(r["n_points"]) for r in rows},
            centroids={
                int(r["shard"]): list(r["centroid"] or []) for r in rows
            },
        )
        # capacity check (r12; r13 rework): measured in NODES
        # (tombstones included — what the cap binds on, ADVICE), per
        # TOUCHED shard (a shard only grows on a trigger that touches
        # it, so this covers every shard that can bind), against the
        # touched rows rather than the manifest (the manifest folds
        # live counts only — by design: it drives the exact-ef
        # mapping over what search can return)
        by_nodes = {
            int(r["shard"]): (int(r["n_nodes"]), int(r["n_points"]))
            for r in rows
        }
        if auto_split and shard_by == "centroid":
            # between-batch maintenance window: nothing else writes
            # under the single-ingest-writer contract, so the
            # split/compact cannot race this stream's own appends.
            # split_at defaults WELL below the cap (r13): split cost
            # is linear in cell size, so splitting early bounds the
            # in-trigger rebuild wall (SCALE.md wall-vs-size curve)
            retired_now = {
                int(x) for x in H.load_sharded_meta(root).get(
                    "retired", []
                )
            }
            for s0, (nodes, live) in sorted(by_nodes.items()):
                if nodes <= split_at * cap or s0 in retired_now:
                    # a cell retired by a just-committed async split
                    # can still surface in this trigger's rows (the
                    # batch routed before the commit) — skip it
                    continue
                if live * 2 < nodes:
                    # capacity pressure is CHURN, not growth: a
                    # live-only rebuild frees the tombstone nodes;
                    # splitting a near-drained cell would burn two
                    # shard ids on noise.  Always IN-trigger — a
                    # compact commit racing this stream's own append
                    # could lose a commit (docstring)
                    H.compact_sharded_hnsw(
                        batch_df.sparkSession, root, shards=[s0]
                    )
                elif auto_split_async:
                    _split_async(batch_df.sparkSession, s0)
                else:
                    H.split_shard(batch_df.sparkSession, root, s0)
        else:
            hot = [
                (s0, nodes)
                for s0, (nodes, _live) in sorted(by_nodes.items())
                if nodes > 0.9 * cap
            ]
            if hot:
                import warnings

                warnings.warn(
                    f"sharded HNSW root {root}: shard(s) {hot} exceed "
                    f"90% of max_points_per_shard={cap} (in nodes, "
                    "tombstones included); "
                    + (
                        "run split_shard (or compact) before the cap "
                        "fails the stream"
                        if shard_by == "centroid"
                        else "rebuild with more shards before the cap "
                        "fails the stream"
                    ),
                    stacklevel=2,
                )

    return (
        stream_vectors.writeStream.queryName(query_name)
        .option("checkpointLocation", checkpoint_dir)
        .outputMode("append")
        .foreachBatch(handle)
    )


def ivf_probe_sink(
    stream_queries: DataFrame,
    index_path: str,
    results_dir: str,
    checkpoint_dir: str,
    k: int = 10,
    nprobe: int = 4,
    vec_col: str = "embedding",
    query_id_col: str = "vec_id",
    id_col: str = "vec_id",
    query_name: str = "ivf_probe",
):
    """Streaming-native ANN serving: a foreachBatch sink over a QUERY
    stream that probes the served IVF index at ``index_path`` and
    appends per-query top-k results to ``results_dir``.

    The index is loaded ONCE (first batch) with its frozen coarse
    quantizer — the serving contract: queries never retrain or reshape
    the index, so every micro-batch probe is exactly
    :meth:`IVFIndex.search_batch` (parity-tested vs the batch probe).
    Each micro-batch's queries are bounded (driver collects the batch's
    query vectors — the same driver-side routing the batch path does);
    the corpus side stays cluster-partition-pruned and distributed.
    Output rows carry ``batch_id`` so redelivered batches are
    identifiable downstream (append sink, at-least-once)."""
    from ..operators.ann import IVFIndex

    idx_box: list = []

    def handle(batch_df: DataFrame, batch_id: int) -> None:
        if _skip_empty_batch(batch_df):
            return
        if not idx_box:
            idx_box.append(
                IVFIndex.load(
                    batch_df.sparkSession, index_path,
                    vec_col=vec_col, id_col=id_col,
                )
            )
        idx = idx_box[0]
        rows = batch_df.select(query_id_col, vec_col).collect()
        res = idx.search_batch(
            [str(r[query_id_col]) for r in rows],
            [list(r[vec_col]) for r in rows],
            k,
            nprobe=nprobe,
        )
        (
            res.withColumn("batch_id", F.lit(batch_id))
            .write.mode("append")
            .parquet(results_dir)
        )

    return (
        stream_queries.writeStream.queryName(query_name)
        .option("checkpointLocation", checkpoint_dir)
        .outputMode("append")
        .foreachBatch(handle)
    )


def routed_probe_sink(
    stream_queries: DataFrame,
    index,
    results_dir: str,
    checkpoint_dir: str,
    k: int = 10,
    target_recall: float = 0.95,
    vec_col: str = "embedding",
    query_id_col: str = "vec_id",
    query_name: str = "routed_probe",
):
    """Streaming ANN serving through the ROUTER (r8): a foreachBatch
    sink over a query stream that dispatches each micro-batch through
    :func:`..router.routed_search_batch` against a SERVED index of any
    tier — IVF, SQ8, PQ, or the driver-side HNSW graph — with the
    recall-mapped operating point (the same decision logic every batch
    caller uses; one ladder, not two).  Generalizes
    :func:`ivf_probe_sink` (fixed IVF + fixed nprobe) to the whole
    tier family.  The index is frozen for the life of the stream — the
    serving contract; per-query top-k results append to
    ``results_dir`` with a ``batch_id`` column (at-least-once, batches
    identifiable downstream)."""
    from ..operators import router as RT

    def handle(batch_df: DataFrame, batch_id: int) -> None:
        if _skip_empty_batch(batch_df):
            return
        rows = batch_df.select(query_id_col, vec_col).collect()
        res = RT.routed_search_batch(
            batch_df.limit(0),  # served index searches its own corpus
            [str(r[query_id_col]) for r in rows],
            [list(r[vec_col]) for r in rows],
            k,
            index=index,
            target_recall=target_recall,
        )
        (
            res.withColumn("batch_id", F.lit(batch_id))
            .write.mode("append")
            .parquet(results_dir)
        )

    return (
        stream_queries.writeStream.queryName(query_name)
        .option("checkpointLocation", checkpoint_dir)
        .outputMode("append")
        .foreachBatch(handle)
    )


def bloom_gate_sink(
    stream_docs: DataFrame,
    state_path: str,
    results_dir: str,
    checkpoint_dir: str,
    text_col: str = "text",
    id_col: str = "doc_id",
    m_bits: int = 1 << 20,
    k_hashes: int = 4,
    query_name: str = "bloom_gate",
):
    """Streaming new-document gate (r8): each micro-batch keeps only
    documents whose fingerprint is DEFINITELY unseen — against all
    prior batches plus whatever corpus seeded ``state_path`` — emits
    them to ``results_dir`` (with ``batch_id``; append sink,
    at-least-once), and commits the UPDATED position set as a fresh
    state generation.

    State is the Bloom position set (operators/dedup), BOUNDED at
    ``m_bits`` rows forever: every batch rewrites the distinct set
    into ``_gen=N/`` (underscore dir: invisible to a plain parquet
    read of the root, so a seed corpus written at the root keeps
    working) and promotes it with one atomic ``_live.json`` replace
    carrying the replay watermark — the same stage-then-promote
    protocol as hnsw.save_snapshot, so an at-least-once replay is
    skipped EXACTLY and a crash leaves the previous committed set
    live.  Read the committed set with :func:`read_bloom_state`.
    In-batch duplicates collapse by fingerprint before the gate;
    false-positive caveat as in ``bloom_filter_new``."""
    import json
    import os
    import shutil

    from ..functions import text as T
    from ..operators import dedup as D

    box: list = []  # [(positions_df_or_None, last_batch)]

    def _live(root: str) -> dict | None:
        f = os.path.join(root, "_live.json")
        if not os.path.exists(f):
            return None
        with open(f) as fh:
            return json.load(fh)

    def handle(batch_df: DataFrame, batch_id: int) -> None:
        if _skip_empty_batch(batch_df):
            return
        spark = batch_df.sparkSession
        if not box:
            lv = _live(state_path)
            box.append(
                (
                    read_bloom_state(spark, state_path),
                    int(lv["last_batch"]) if lv else -1,
                )
            )
        state, last = box[0]
        if batch_id <= last:
            return  # replayed micro-batch: already committed
        batch = (
            batch_df.withColumn("__fp", T.fingerprint(text_col))
            .dropDuplicates(["__fp"])
            .drop("__fp")
        )
        fresh = (
            D.bloom_filter_new(
                batch, state, text_col=text_col, id_col=id_col,
                m_bits=m_bits, k_hashes=k_hashes,
            )
            if state is not None
            else batch
        )
        fresh = fresh.localCheckpoint(eager=True)  # gate once, use twice
        (
            fresh.withColumn("batch_id", F.lit(batch_id))
            .write.mode("append")
            .parquet(results_dir)
        )
        new_pos = D.build_fingerprint_bloom(
            fresh, text_col=text_col, m_bits=m_bits, k_hashes=k_hashes
        )
        merged = (
            new_pos
            if state is None
            else state.unionByName(new_pos).distinct()
        )
        try:
            lv = _live(state_path)
            keep = set()
            if lv:
                keep = {f"_gen={lv['gen']}", f"_gen={int(lv['gen']) - 1}"}
            os.makedirs(state_path, exist_ok=True)
            for name in os.listdir(state_path):  # heal staged crashes
                if name.startswith("_gen=") and name not in keep:
                    shutil.rmtree(
                        os.path.join(state_path, name), ignore_errors=True
                    )
            gen = (int(lv["gen"]) + 1) if lv else 1
            gdir = os.path.join(state_path, f"_gen={gen}")
            merged.write.mode("overwrite").parquet(gdir)  # staged
            tmp = os.path.join(state_path, "_live.json.tmp")
            with open(tmp, "w") as fh:
                json.dump({"gen": gen, "last_batch": int(batch_id)}, fh)
            os.replace(tmp, os.path.join(state_path, "_live.json"))  # commit
            for name in os.listdir(state_path):  # GC, keep one prior
                if name.startswith("_gen=") and name not in (
                    f"_gen={gen}", f"_gen={gen - 1}"
                ):
                    shutil.rmtree(
                        os.path.join(state_path, name), ignore_errors=True
                    )
        except BaseException:
            box.clear()  # reload committed state on retry
            raise
        box[0] = (spark.read.parquet(gdir), batch_id)

    return (
        stream_docs.writeStream.queryName(query_name)
        .option("checkpointLocation", checkpoint_dir)
        .outputMode("append")
        .foreachBatch(handle)
    )


def read_bloom_state(spark: SparkSession, state_path: str):
    """The committed Bloom position set at ``state_path``: the live
    ``_gen=N`` when a :func:`bloom_gate_sink` generation has
    committed, else a seed position set written at the root
    (``build_fingerprint_bloom(...).write.parquet(state_path)``), else
    ``None``.  Staged-but-uncommitted generations are never served
    (underscore dirs are invisible to the root read)."""
    import json
    import os

    live_f = os.path.join(state_path, "_live.json")
    if os.path.exists(live_f):
        with open(live_f) as fh:
            gen = json.load(fh)["gen"]
        return spark.read.parquet(os.path.join(state_path, f"_gen={gen}"))
    if os.path.isdir(state_path) and any(
        not n.startswith(("_", ".")) for n in os.listdir(state_path)
    ):
        return spark.read.parquet(state_path).distinct()
    return None


def incremental_neardup_sink(
    stream_docs: DataFrame,
    state_dir: str,
    checkpoint_dir: str,
    threshold: float = 0.5,
    query_name: str = "neardup_ingest",
    **kwargs,
):
    """foreachBatch sink wrapping :func:`incremental_neardup_batch` —
    continuous near-duplicate detection over a document stream."""

    def handle(batch_df: DataFrame, batch_id: int) -> None:
        if _skip_empty_batch(batch_df):
            return
        incremental_neardup_batch(
            batch_df, state_dir, threshold, batch_id=batch_id, **kwargs
        )

    return (
        stream_docs.writeStream.queryName(query_name)
        .option("checkpointLocation", checkpoint_dir)
        .outputMode("append")
        .foreachBatch(handle)
    )


def incremental_gram_index_batch(
    batch_docs: DataFrame,
    index_dir: str,
    text_col: str = "text",
    id_col: str = "doc_id",
    n: int = 3,
    batch_id: int = 0,
    compact_after: int = 16,
    commit_mode: str = "rename",
) -> None:
    """One micro-batch of ``$contains`` gram-index maintenance: the
    batch's (gram, id) postings (operators/textindex.build_gram_index)
    land under ``index_dir`` as a ``__batch=batch_id`` partition —
    dynamic partition overwrite, so a replayed micro-batch REPLACES
    its own postings (foreachBatch is at-least-once) instead of
    duplicating them.  History folds into the reserved base partition
    via the standard ``__batch`` protocol once ``compact_after`` dirs
    accumulate (duplicates collapse in the fold — postings are
    naturally idempotent rows).

    The query side is :func:`gram_candidates_live`: the same
    posting-list intersection as the batch index, over the union of
    all committed batches.  At scale this is exactly how a text index
    tracks an ingest stream: per-batch posting appends, scheduled
    folds, readers always consistent."""
    import os

    from ..batchstate import fold_batch_partitions, write_batch
    from ..operators import textindex as TI

    spark = batch_docs.sparkSession
    posts = TI.build_gram_index(batch_docs, text_col, id_col, n)
    write_batch(posts, index_dir, batch_id)
    if compact_after:
        fold_batch_partitions(
            spark,
            index_dir,
            ["__batch"],
            _COMPACTED_BATCH,
            exclude_batch=int(batch_id),
            threshold=int(compact_after),
            commit_mode=commit_mode,
        )
    # marker so readers can distinguish "no index" from "empty index"
    os.makedirs(index_dir, exist_ok=True)


def gram_candidates_live(
    spark: SparkSession, index_dir: str, pattern: str, n: int = 3
):
    """``contains_candidates`` over the streaming-maintained posting
    table: manifest-aware read of all committed ``__batch`` partitions
    (duplicate postings across un-folded batches are harmless — the
    intersection counts DISTINCT grams per id).  Returns None for
    patterns below the gram size, like the batch API."""
    from ..batchstate import read_live
    from ..operators import textindex as TI

    idx = read_live(spark, index_dir)
    if "__batch" in idx.columns:
        idx = idx.drop("__batch")
    return TI.contains_candidates(idx, pattern, n)


def gram_index_sink(
    stream_docs: DataFrame,
    index_dir: str,
    checkpoint_dir: str,
    query_name: str = "gram_index_ingest",
    **kwargs,
):
    """foreachBatch sink wrapping :func:`incremental_gram_index_batch`
    — continuous ``$contains`` index maintenance over a document
    stream."""

    def handle(batch_df: DataFrame, batch_id: int) -> None:
        if _skip_empty_batch(batch_df):
            return
        incremental_gram_index_batch(
            batch_df, index_dir, batch_id=batch_id, **kwargs
        )

    return (
        stream_docs.writeStream.queryName(query_name)
        .option("checkpointLocation", checkpoint_dir)
        .outputMode("append")
        .foreachBatch(handle)
    )


def run_available_now(writer, timeout_s: float = 300.0) -> None:
    """Drain everything currently available, then stop (test/backfill
    helper)."""
    q = writer.trigger(availableNow=True).start()
    q.awaitTermination(timeout_s)
    if q.isActive:
        q.stop()


def join_within(
    left: DataFrame,
    right: DataFrame,
    within_seconds: int,
    key_col: str = "user_id",
    ts_col: str = "ts",
    watermark: str = "30 minutes",
    left_type: str | None = None,
    right_type: str | None = None,
    type_col: str = "event_type",
) -> DataFrame:
    """Stream-stream (or batch-batch — same plan authoring) event
    correlation: pair every left event with the right events of the
    same key that happen within ``(left.ts, left.ts + within_seconds]``
    — the "click followed by purchase inside 10 minutes" join.

    This is the one streaming join shape Spark requires extra contract
    from: BOTH sides carry a watermark and the join condition bounds
    event time on both ends, which lets the state store expire buffered
    rows instead of growing forever.  On batch inputs the same code is
    a plain equi-join with a range predicate (the time bound keeps it
    from exploding on busy keys).  Returns (key, left_id, right_id,
    left_ts_epoch, right_ts_epoch, gap_seconds).
    """
    lt = to_instant(left, ts_col)
    rt = to_instant(right, ts_col)
    if left_type is not None:
        lt = lt.filter(F.col(type_col) == left_type)
    if right_type is not None:
        rt = rt.filter(F.col(type_col) == right_type)
    if lt.isStreaming:
        lt = lt.withWatermark(ts_col, watermark)
    if rt.isStreaming:
        rt = rt.withWatermark(ts_col, watermark)
    a = lt.select(
        F.col(key_col).alias("k"),
        F.col("event_id").alias("left_id"),
        F.col(ts_col).alias("lts"),
    )
    b = rt.select(
        F.col(key_col).alias("k"),
        F.col("event_id").alias("right_id"),
        F.col(ts_col).alias("rts"),
    )
    joined = a.join(
        b,
        (a.k == b.k)
        & (F.col("rts") > F.col("lts"))
        & (F.col("rts") <= F.col("lts") + F.expr(f"INTERVAL {int(within_seconds)} SECONDS")),
    )
    return joined.select(
        a.k.alias(key_col),
        "left_id",
        "right_id",
        F.col("lts").cast("double").alias("left_ts_epoch"),
        F.col("rts").cast("double").alias("right_ts_epoch"),
        (F.col("rts").cast("double") - F.col("lts").cast("double")).alias("gap_seconds"),
    )
