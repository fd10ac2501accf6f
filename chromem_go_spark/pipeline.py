"""Composable training-data pipeline — the beyond-reference layer as a
library API (the entry queries wrap these functions; a user composes
them directly over their own document tables).

Stages (each independently usable; all return DataFrames, so Catalyst
fuses whatever you chain):

  select_training_documents  quality gate + language gate + one doc per
                             near-dup cluster
  training_corpus_stats      per-language doc/token accounting of the
                             selected corpus
  chunked_training_corpus    fixed-size overlapping chunks of the
                             selected documents (the tokenizer-ready
                             output shape)

Scale notes: the dedup stage is the only shuffle-heavy member (see
operators/dedup.py); the gates are pure codegen predicates that
Catalyst pushes below the cluster join where possible.
"""

from __future__ import annotations

from dataclasses import dataclass

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from .functions import text as T
from .functions import vector as V
from .operators import dedup as D


@dataclass(frozen=True)
class PipelineConfig:
    """Knobs for the document-selection pipeline."""

    dedup_threshold: float = 0.5
    dedup_ngram: int = 5
    dedup_unit: str = "char"  # or "word" (Gopher-style word shingles)
    # "label" or "star" (diameter-proof); only pairs spread over several
    # partitions run either loop, one partition takes the union-find kernel
    cc_algorithm: str = "label"
    quality_min: float = 0.3
    languages: tuple[str, ...] = ("en", "de", "fr", "es")
    chunk_size: int = 500
    chunk_overlap: int = 100
    text_col: str = "text"
    id_col: str = "doc_id"


def cluster_representatives(docs: DataFrame, cfg: PipelineConfig) -> DataFrame:
    """(id, cluster_rep) for every document — near-dup clustering via
    exact n-gram Jaccard pairs + connected components."""
    return D.dedup_clusters(
        docs,
        threshold=cfg.dedup_threshold,
        text_col=cfg.text_col,
        id_col=cfg.id_col,
        k=cfg.dedup_ngram,
        algorithm=cfg.cc_algorithm,
        unit=cfg.dedup_unit,
    )


def select_training_documents(
    docs: DataFrame, cfg: PipelineConfig = PipelineConfig(), reps: DataFrame | None = None
) -> DataFrame:
    """The selection stage: keep one representative per near-dup
    cluster, then require quality >= ``quality_min`` and a detected
    language in ``languages``. Pass a precomputed ``reps`` (from
    :func:`cluster_representatives`, materialized) when running several
    downstream consumers — recomputing the pair graph is the expensive
    part."""
    if reps is None:
        reps = cluster_representatives(docs, cfg)
    out = (
        docs.join(reps, cfg.id_col)
        .filter(F.col("cluster_rep") == F.col(cfg.id_col))
        .filter(T.quality_score(cfg.text_col) >= cfg.quality_min)
    )
    if cfg.languages:
        out = out.filter(T.lang_id(cfg.text_col).isin(*cfg.languages))
    return out


def keep_best_per_cluster(
    docs: DataFrame, cfg: PipelineConfig = PipelineConfig(), reps: DataFrame | None = None
) -> DataFrame:
    """Near-dup retention policy: keep the HIGHEST-quality member of
    each cluster instead of the smallest id — the policy real corpora
    use (among near-identical crawls, keep the cleanest copy).

    Returns one row per cluster: (cluster, id, quality, n_members)
    where id is the winner (quality desc, then id asc — fully
    deterministic).  Costs one extra window shuffle on the cluster key
    on top of the clustering itself; the quality score is a pure
    codegen expression evaluated once per doc.  Pass a materialized
    ``reps`` to share the pair graph with other consumers."""
    from pyspark.sql import Window

    if reps is None:
        reps = cluster_representatives(docs, cfg)
    scored = docs.select(
        cfg.id_col, T.quality_score(cfg.text_col).alias("__q")
    ).join(reps, cfg.id_col)
    w = Window.partitionBy("cluster_rep").orderBy(F.desc("__q"), cfg.id_col)
    wc = Window.partitionBy("cluster_rep")
    return (
        scored.withColumn("__rn", F.row_number().over(w))
        .withColumn("n_members", F.count(F.lit(1)).over(wc))
        .filter(F.col("__rn") == 1)
        .select(
            F.col("cluster_rep").alias("cluster"),
            cfg.id_col,
            F.round("__q", 4).alias("quality"),
            "n_members",
        )
    )


def training_corpus_stats(
    docs: DataFrame, cfg: PipelineConfig = PipelineConfig(), reps: DataFrame | None = None
) -> DataFrame:
    """Per-language (n_docs, total_tokens) of the selected corpus — the
    accounting a data order runs before training."""
    survivors = select_training_documents(docs, cfg, reps)
    return survivors.groupBy(T.lang_id(cfg.text_col).alias("lang_pred")).agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum(T.token_count(cfg.text_col)).cast("bigint").alias("total_tokens"),
    )


def vocabulary_stats(
    docs: DataFrame,
    top_n: int = 50,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """Corpus vocabulary profile: per-token total occurrences and
    document frequency, top ``top_n`` by count (ties broken by token
    for determinism) — the accounting a tokenizer-training / stopword
    pass runs first.

    One explode feeding a two-phase aggregate (count distinct plans as
    a partial-distinct on (token, doc) before the token shuffle, so
    stopword-heavy tokens don't hot-spot a reducer), then top-n via
    TakeOrderedAndProject — no global sort materialized."""
    toks = docs.select(
        F.col(id_col), F.explode(T.word_tokens(text_col)).alias("token")
    )
    return (
        toks.groupBy("token")
        .agg(
            F.count(F.lit(1)).alias("n_total"),
            F.countDistinct(id_col).alias("n_docs"),
        )
        .orderBy(F.desc("n_total"), F.col("token"))
        .limit(int(top_n))
    )


def stratified_sample(
    docs: DataFrame,
    rates: "dict[str, float]",
    default_rate: float = 0.0,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """Deterministic per-language downsampling — the corpus-mixing step
    of a training-data pipeline (e.g. keep 100% of en, 30% of de, drop
    the rest).

    Sampling is a pure FILTER on an engine-portable hash of the id
    (md5-derived, so the same rows are kept on Spark, DuckDB, or any
    re-run — no RNG, no seed state): row kept iff
    ``hash(id) mod 1_000_000 < rate * 1_000_000``.  A filter pushes to
    the scan, costs no shuffle, and composes with every downstream
    stage; sampling by hash-of-id (not hash-of-text) keeps exact
    duplicates together so dedup before/after sampling commutes.
    """
    h = T.md5_hash60(F.col(id_col).cast("string")) % 1_000_000
    lang = T.lang_id(text_col)
    rate = F.lit(float(default_rate))
    for lg, r in sorted(rates.items()):
        rate = F.when(lang == lg, F.lit(float(r))).otherwise(rate)
    return docs.filter(h < rate * 1_000_000)


def weighted_sample(
    docs: DataFrame,
    k: int = 100,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """Deterministic weighted sampling without replacement: keep ``k``
    documents with probability proportional to their token count — the
    "sample by content volume, not doc count" step a corpus audit runs.

    The A-ExpJ priority-sampling key (Efraimidis & Spirakis 2006):
    every row draws u in (0,1] and keeps the top-k by ``u^(1/w)``,
    equivalently ``ln(u)/w`` — except here u comes from the portable
    md5 hash of the id instead of an RNG, so the same rows win on any
    engine and any re-run.  Pure expressions + TakeOrdered: no RNG
    state, no shuffle beyond the top-k merge.  Returns
    (id, n_tokens, priority) — priority = ln(u)/w, higher wins."""
    w = T.token_count(text_col)
    h = T.md5_hash60(F.col(id_col).cast("string"))
    u = (h.cast("double") + 1.0) / F.lit(float((1 << 60) + 1))
    pri = F.log(u) / w
    return (
        docs.filter(w > 0)
        .select(
            id_col,
            w.cast("bigint").alias("n_tokens"),
            F.round(pri, 8).alias("priority"),
        )
        .orderBy(F.desc("priority"), id_col)
        .limit(int(k))
    )


def pmi_collocations(
    docs: DataFrame,
    top_n: int = 50,
    min_count: int = 5,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """Collocation extraction: the ``top_n`` adjacent word pairs by
    pointwise mutual information ``log2(p(ab) / (p(a) p(b)))`` with
    ``p(ab) = c_ab / N_pairs`` and unigram probabilities over the token
    stream — the classic "new york"/"machine learning" detector.

    Two vocabulary-shaped aggregations (unigrams, bigrams) + two tiny
    joins + TakeOrdered; ``min_count`` suppresses the low-count noise
    PMI is notorious for.  Deterministic order (pmi desc, pair asc)."""
    toks = docs.select(id_col, T.word_tokens(text_col).alias("__w"))
    uni = (
        toks.select(F.explode("__w").alias("tok"))
        .groupBy("tok")
        .agg(F.count(F.lit(1)).alias("c"))
    )
    pairs_arr = F.transform(
        F.sequence(F.lit(1), F.size("__w") - 1),
        lambda i: F.struct(
            F.element_at("__w", i).alias("w1"),
            F.element_at("__w", (i + F.lit(1)).cast("int")).alias("w2"),
        ),
    )
    big = (
        toks.filter(F.size("__w") >= 2)
        .select(F.explode(pairs_arr).alias("p"))
        .select("p.w1", "p.w2")
        .groupBy("w1", "w2")
        .agg(F.count(F.lit(1)).alias("c_ab"))
        .filter(F.col("c_ab") >= int(min_count))
    )
    tot = toks.select(
        F.size("__w").alias("a"),
        F.greatest(F.size("__w") - 1, F.lit(0)).alias("b"),
    ).agg(F.sum("a"), F.sum("b")).collect()[0]
    n_tok, n_pair = int(tot[0]), int(tot[1])
    u1 = uni.select(F.col("tok").alias("w1"), F.col("c").alias("c_a"))
    u2 = uni.select(F.col("tok").alias("w2"), F.col("c").alias("c_b"))
    pmi = F.log2(
        (F.col("c_ab") / F.lit(float(n_pair)))
        / ((F.col("c_a") / F.lit(float(n_tok))) * (F.col("c_b") / F.lit(float(n_tok))))
    )
    return (
        big.join(u1, "w1")
        .join(u2, "w2")
        .select(
            "w1",
            "w2",
            "c_ab",
            "c_a",
            "c_b",
            F.round(pmi, 4).alias("pmi"),
        )
        .orderBy(F.desc("pmi"), "w1", "w2")
        .limit(int(top_n))
    )


def sample_per_group(
    docs: DataFrame,
    n_per_group: int,
    group_expr=None,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """Deterministic fixed-size sample per group — the eval-set /
    inspection-set constructor ("50 docs per language, same 50 every
    run").  Rank rows inside each group by the engine-portable hash of
    the id (uniform, stable, engine-independent) and keep the first
    ``n_per_group``: a single window shuffle on the group key; smaller
    n never changes WHICH rows an overlapping larger n picked (nested
    samples, like :func:`stratified_sample`).

    ``group_expr`` defaults to the detected language of ``text_col``.
    """
    from pyspark.sql import Window

    grp = group_expr if group_expr is not None else T.lang_id(text_col)
    h = T.md5_hash60(F.col(id_col).cast("string"))
    w = Window.partitionBy(grp).orderBy(h, F.col(id_col))
    return (
        docs.withColumn("__rn", F.row_number().over(w))
        .filter(F.col("__rn") <= int(n_per_group))
        .drop("__rn")
    )


def pack_chunks(
    chunks: DataFrame,
    budget_tokens: int = 2048,
    id_col: str = "doc_id",
    chunk_col: str = "chunk",
    idx_col: str = "chunk_idx",
) -> DataFrame:
    """Sequence packing: assign each chunk to a fixed-token-budget pack
    (concatenate-then-split packing — a chunk whose exclusive running
    token total is p goes to pack ``floor(p / budget)``), per document.

    Output: (doc_id, chunk_idx, pack_id, n_tokens).  Packing runs in a
    window partitioned by doc_id ordered by chunk_idx — per-document
    state only, no global sort, no skew beyond document length; the
    running sum and the division are codegen expressions, and the
    identical window exists in ANSI SQL so the op is oracle-checkable.
    Cross-document packing (one global token stream) deliberately isn't
    offered: it needs a total order over 100 TB — the per-doc variant
    preserves document locality, which is also what sample-packing
    training recipes want.
    """
    from pyspark.sql import Window

    tok = T.token_count(F.col(chunk_col))
    w = (
        Window.partitionBy(id_col)
        .orderBy(idx_col)
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    cum = F.sum(tok).over(w)
    return chunks.select(
        id_col,
        idx_col,
        F.floor((cum - tok) / F.lit(int(budget_tokens)))
        .cast("bigint")
        .alias("pack_id"),
        tok.cast("bigint").alias("n_tokens"),
    )


def chunked_training_corpus(
    docs: DataFrame, cfg: PipelineConfig = PipelineConfig(), reps: DataFrame | None = None
) -> DataFrame:
    """Selected documents split into fixed-size overlapping chunks —
    (id, chunk_idx, chunk) rows ready for tokenization/packing."""
    survivors = select_training_documents(docs, cfg, reps)
    return (
        survivors.select(
            cfg.id_col,
            F.posexplode(
                T.chunk_starts(cfg.text_col, cfg.chunk_size, cfg.chunk_overlap)
            ).alias("chunk_idx", "start"),
            F.col(cfg.text_col),
        )
        .select(
            cfg.id_col,
            "chunk_idx",
            F.substring(
                F.col(cfg.text_col), F.col("start"), F.lit(cfg.chunk_size)
            ).alias("chunk"),
        )
    )


def decontaminate(
    corpus: DataFrame,
    eval_docs: DataFrame,
    n: int = 8,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """Eval-set decontamination: flag corpus documents sharing any
    word n-gram with a benchmark/eval set (the published GPT-3 / C4
    protocol — training documents overlapping eval data by a long
    n-gram are dropped so benchmarks measure generalization, not
    memorization).

    Returns ``(id_col, n_shared)`` for CONTAMINATED corpus docs only —
    anti-join against it to clean, join to audit.

    Scale shape: the eval side is tiny relative to the corpus, so its
    distinct shingle set BROADCASTS; the corpus side streams through a
    broadcast hash join with no corpus shuffle — at 100 TB the cost is
    one scan of the corpus plus an n_shared aggregation on matched rows
    only. The n-gram unit is the word tokenizer shared with the Jaccard
    family (functions/text.word_tokens), so behavior is consistent
    across the dedup stack."""

    def shingles(df: DataFrame) -> DataFrame:
        # r14: tokenize ONCE into a plain column before the gram
        # transform — the old inline `w` expression was referenced from
        # inside the transform lambda (slice(w, i, n)), where Catalyst
        # re-evaluates the embedded tokenizer per ELEMENT (the repo's
        # documented transform-lambda gotcha); and per-doc gram dedup
        # is row-local array_distinct, not a shuffled .distinct() of
        # the exploded gram stream (same move as hashed_shingle_table;
        # explode_outer keeps the gramless-doc NULL row identical).
        toks = df.select(id_col, T.word_tokens(text_col).alias("__w"))
        grams = F.when(
            F.size("__w") < n, F.array().cast("array<string>")
        ).otherwise(
            F.array_distinct(
                F.transform(
                    F.sequence(F.lit(1), F.size("__w") - n + 1),
                    lambda i: F.array_join(F.slice("__w", i, n), " "),
                )
            )
        )
        return toks.select(
            F.col(id_col), F.explode_outer(grams).alias("sh")
        )

    ev = shingles(eval_docs).select("sh").distinct()
    return (
        shingles(corpus)
        .join(F.broadcast(ev), "sh")
        .groupBy(id_col)
        .agg(F.count(F.lit(1)).alias("n_shared"))
    )


def mix_corpus(
    docs: DataFrame,
    weights: dict,
    total_tokens: int,
    source_col: str = "lang",
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """Weighted data mixing: sample documents per source so each
    source's token count approaches ``total_tokens * weight_s /
    sum(weights)`` — the published recipe behind multi-source
    pre-training mixes (The Pile, LLaMA: fixed sampling weights per
    source, applied by token budget, not document count).

    Deterministic and nested: docs within a source are ordered by
    ``md5(id)`` (uniform, and bit-identical in DuckDB, so the oracle
    replays the exact selection) and taken while the RUNNING token
    total before the doc is under the source budget (so a source always contributes at
    least one document if it has any, and raising the budget only ADDS
    documents — stable eval/ablation sets).  Sources absent from
    ``weights`` are dropped.

    One window shuffle (partitioned by source, ordered by hash) — no
    driver-side iteration; returns (id, source, n_tokens, cum_before)
    for audit.
    """
    from pyspark.sql import Window

    total_w = float(sum(weights.values()))
    budget = F.create_map(
        *[
            x
            for s, w in sorted(weights.items())
            for x in (
                F.lit(s),
                F.lit(float(total_tokens) * float(w) / total_w),
            )
        ]
    )
    toks = docs.select(
        F.col(id_col),
        F.col(source_col).alias("source"),
        T.token_count(text_col).cast("bigint").alias("n_tokens"),
    ).filter(F.col("source").isin(list(weights)))
    return (
        toks.withColumn(
            "cum_before",
            F.coalesce(
                F.sum("n_tokens").over(
                    Window.partitionBy("source")
                    .orderBy(F.md5(F.col(id_col).cast("string")), id_col)
                    .rowsBetween(Window.unboundedPreceding, -1)
                ),
                F.lit(0),
            ),
        )
        .filter(F.col("cum_before") < F.element_at(budget, F.col("source")))
        .select(id_col, "source", "n_tokens", "cum_before")
    )


def unigram_logprob_scores(
    docs: DataFrame,
    ref_docs: DataFrame | None = None,
    vocab_size: int = 1000,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """Per-document mean unigram negative log2-probability — the cheap
    statistical analog of CCNet's LM-perplexity quality signal (public
    method: docs whose tokens are improbable under a reference corpus
    model are boilerplate/noise candidates; low score = fluent).

    Model: top-``vocab_size`` tokens of ``ref_docs`` (default: the
    corpus itself) with add-one smoothing; every out-of-vocabulary
    token shares one smoothed OOV probability.  Returns
    ``(id, n_tokens, avg_neg_logp)``.

    Scale shape: the vocabulary model is top-N by construction, so it
    BROADCASTS to the token stream — one corpus-scale shuffle to build
    the model (partial aggregation first), then a broadcast join + one
    aggregation for scoring.  No Python anywhere.
    """
    ref = ref_docs if ref_docs is not None else docs

    def toks(df: DataFrame, with_id: bool) -> DataFrame:
        cols = [F.col(id_col)] if with_id else []
        return df.select(
            *cols, F.explode(T.word_tokens(text_col)).alias("token")
        )

    vocab = (
        toks(ref, with_id=False)
        .groupBy("token")
        .agg(F.count(F.lit(1)).alias("n"))
        .orderBy(F.desc("n"), "token")
        .limit(int(vocab_size))
    )
    # add-one smoothing over (vocab + OOV bucket); total token count of
    # the reference fixes the denominator
    totals = toks(ref, with_id=False).count()
    denom = float(totals + vocab_size + 1)
    model = vocab.select(
        "token",
        (F.log2((F.col("n") + F.lit(1.0)) / F.lit(denom)) * -1).alias("neg_logp"),
    )
    oov = -float(__import__("math").log2(1.0 / denom))
    return (
        toks(docs, with_id=True)
        .join(F.broadcast(model), "token", "left")
        .groupBy(id_col)
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_tokens"),
            F.round(
                F.avg(F.coalesce(F.col("neg_logp"), F.lit(oov))), 4
            ).alias("avg_neg_logp"),
        )
    )


def corpus_diff(
    old: DataFrame,
    new: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """Snapshot diff between two corpus versions: (id, status) with
    status in added / removed / modified / unchanged — the audit a data
    team runs between crawl refreshes before re-deduping.

    One full-outer join on the id carrying both sides' normalized-text
    fingerprints (md5, engine-portable); change detection is a pure
    fingerprint comparison, so two multi-TB snapshots diff in a single
    co-partitioned join with no text comparison shuffle."""
    o = old.select(
        F.col(id_col).alias("__id"), T.fingerprint(text_col).alias("__fp_old")
    )
    n = new.select(
        F.col(id_col).alias("__id"), T.fingerprint(text_col).alias("__fp_new")
    )
    j = o.join(n, "__id", "full_outer")
    status = (
        F.when(F.col("__fp_old").isNull(), F.lit("added"))
        .when(F.col("__fp_new").isNull(), F.lit("removed"))
        .when(F.col("__fp_old") == F.col("__fp_new"), F.lit("unchanged"))
        .otherwise(F.lit("modified"))
    )
    return j.select(F.col("__id").alias(id_col), status.alias("status"))


def shard_corpus(
    docs: DataFrame,
    n_shards: int = 64,
    id_col: str = "doc_id",
) -> DataFrame:
    """Assign every document to an output shard for training-loader
    consumption: ``shard = md5(id) % n_shards`` — deterministic,
    engine-portable, zero-shuffle (a pure projection).

    Hash sharding is the scale-honest layout choice: an exact
    equal-token packing needs a GLOBAL cumulative sum (a single-node
    window at 100 TB), while hash shards concentrate to budget/n ±
    O(sqrt) by the law of large numbers — real pipelines shard by hash
    and let loaders stream within shards.  Returns the input plus a
    ``shard`` column."""
    return docs.withColumn(
        "shard",
        (T.md5_hash60(F.col(id_col).cast("string")) % n_shards).cast("int"),
    )


def shard_stats(
    docs: DataFrame,
    n_shards: int = 64,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """Per-shard balance audit: (shard, n_docs, n_tokens).  One
    map-side-combined aggregation over the shard projection."""
    sharded = shard_corpus(docs, n_shards, id_col)
    return sharded.groupBy("shard").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum(T.token_count(text_col)).cast("bigint").alias("n_tokens"),
    )


_SHARDS_MANIFEST = "_shards_manifest.json"


def write_corpus_shards(
    docs: DataFrame,
    path: str,
    n_shards: int = 64,
    id_col: str = "doc_id",
    commit_mode: str = "rename",
) -> None:
    """Write the corpus partitioned by shard (`shard=N/` directories,
    one parquet dataset) — the layout a training loader mounts.
    Repartitioning by the shard column before the write gives one
    writer task per shard (no tiny-file spray).

    ``commit_mode="manifest"`` makes the snapshot EXACTLY-ONCE on
    object stores (the same single-PUT protocol as batchstate's
    ``__batch`` fold): each write lands in a fresh ``gen=N/``
    directory — never touching the live one — and becomes visible only
    when ``_shards_manifest.json`` is atomically replaced to name it.
    A crash before the commit leaves the old snapshot live and an
    uncommitted gen dir the next write garbage-collects; a crash after
    the commit leaves only an un-GC'd obsolete dir, likewise healed.
    Readers MUST use :func:`read_corpus_shards` (a raw read of the
    root would see uncommitted generations).  The default ``rename``
    mode keeps the plain overwrite layout (fine on POSIX/HDFS where
    the job-commit rename is atomic).  A snapshot location stays in
    one mode for life."""
    sharded = shard_corpus(docs, n_shards, id_col)
    writer = (
        sharded.repartition(n_shards, "shard")
        .write.mode("overwrite")
        .partitionBy("shard")
    )
    if commit_mode == "rename":
        writer.parquet(path)
        return
    if commit_mode != "manifest":
        raise ValueError("commit_mode must be 'rename' or 'manifest'")
    from . import batchstate as B

    spark = docs.sparkSession
    man = B.read_json_commit(spark, path, _SHARDS_MANIFEST)
    live = man.get("live") if man else None
    _gc_shard_generations(spark, path, keep=live)  # heal prior crashes
    gen = (int(live.split("=", 1)[1]) + 1) if live else 1
    writer.parquet(f"{path}/gen={gen}")  # staged: invisible to readers
    B.write_json_commit(  # THE commit point: one atomic small file
        spark, path, _SHARDS_MANIFEST,
        {"live": f"gen={gen}", "obsolete": [live] if live else []},
    )
    # post-commit GC (best-effort: readers already ignore these; a
    # failure here is healed by the next write's pre-write GC)
    _gc_shard_generations(spark, path, keep=f"gen={gen}")


def _gc_shard_generations(spark, path: str, keep: str | None) -> None:
    """Delete every ``gen=*`` dir except ``keep`` — uncommitted stages
    from a crashed write and obsolete snapshots from a crashed GC."""
    from . import batchstate as B

    jvm, fs, hpath = B._fs(spark, path)
    if not fs.exists(hpath):
        return
    for st in fs.listStatus(hpath):
        name = st.getPath().getName()
        if name.startswith("gen=") and name != keep:
            fs.delete(st.getPath(), True)


def read_corpus_shards(spark, path: str) -> DataFrame:
    """Reader for :func:`write_corpus_shards` output: resolves the
    manifest to the committed generation (exactly-once even inside the
    write protocol's crash windows); a manifest-less location is read
    as the plain rename-mode layout."""
    from . import batchstate as B

    man = B.read_json_commit(spark, path, _SHARDS_MANIFEST)
    if man and man.get("live"):
        return spark.read.parquet(f"{path}/{man['live']}")
    # no commit point: a manifest-mode location that crashed before its
    # FIRST commit holds only staged gen dirs — surface that, never
    # serve uncommitted data
    jvm, fs, hpath = B._fs(spark, path)
    if fs.exists(hpath) and any(
        st.getPath().getName().startswith("gen=")
        for st in fs.listStatus(hpath)
    ):
        raise ValueError(
            f"{path}: staged generations exist but no snapshot was ever "
            "committed (crash before first manifest commit) — re-run "
            "write_corpus_shards"
        )
    return spark.read.parquet(path)


# ------------------------------------------------------------------
# Model-based quality scoring — the fastText/DCLM-style replacement
# for the heuristic quality_score: a BROADCAST linear model over
# hashed bag-of-token features (public method: Joulin et al. 2016
# fastText; DCLM/FineWeb-Edu quality classifiers).  Pure codegen: the
# weight vector is ONE array literal, the logit is one aggregate
# expression over the tokenizer's array — no Python in the hot path,
# no shuffle, scales as a map-only pass at 100 TB.
# ------------------------------------------------------------------


def default_quality_model(dim: int = 256, seed: int = 13) -> tuple[list[float], float]:
    """Deterministic stand-in weights for the quality classifier (a
    real deployment loads fastText-exported weights into the same
    shape).  Seeded standard-normal weights scaled to keep logits in a
    sane range; bias 0."""
    import numpy as np

    rng = np.random.default_rng(seed)
    w = rng.standard_normal(dim) * 2.0
    return [float(x) for x in w], 0.0


def quality_model_scores(
    docs: DataFrame,
    weights: list[float] | None = None,
    bias: float = 0.0,
    text_col: str = "text",
    id_col: str = "doc_id",
    token_hash: str = "md5_60",
) -> DataFrame:
    """Score every document with the hashed linear model: feature j is
    the count of tokens hashing to bucket j, the logit is the
    token-count-normalized weighted sum (fastText's mean-of-embeddings
    with a 1-d output), the score is its sigmoid.

    Returns (id, quality_logit, quality_prob).  ``token_hash="md5_60"``
    makes the bucketing bit-identical in DuckDB (the oracle mode);
    ``"xxhash64"`` is the faster JVM-native production path.

    Scale: the weight vector rides as a single array literal (bounded:
    dim doubles, broadcast with the plan); one fold expression per doc;
    zero shuffles, zero Python."""
    if weights is None:
        weights, bias = default_quality_model()
    dim = len(weights)
    wlit = V.double_array_lit(weights)
    hfn = D._token_hash(token_hash)
    toks = T.word_tokens(text_col)
    bucket = lambda t: F.pmod(hfn(t), F.lit(dim)).cast("int")  # noqa: E731
    wsum = F.aggregate(
        toks,
        F.lit(0.0),
        lambda acc, t: acc + F.element_at(wlit, bucket(t) + 1),
    )
    n = F.greatest(F.size(toks), F.lit(1))
    logit = F.lit(float(bias)) + wsum / n
    prob = F.lit(1.0) / (F.lit(1.0) + F.exp(-logit))
    return docs.select(
        id_col,
        F.round(logit, 4).alias("quality_logit"),
        F.round(prob, 4).alias("quality_prob"),
    )


def select_for_training(
    docs: DataFrame,
    cfg: PipelineConfig = PipelineConfig(),
    reps: DataFrame | None = None,
    model_quality_min: float | None = None,
    model_weights: list[float] | None = None,
    model_bias: float = 0.0,
) -> DataFrame:
    """:func:`select_training_documents` plus the optional model-based
    quality gate: when ``model_quality_min`` is set, documents must
    also clear ``quality_prob >= model_quality_min`` under the hashed
    linear classifier — the heuristic and learned gates compose (the
    modern pipeline runs both: cheap heuristics first, model second)."""
    out = select_training_documents(docs, cfg, reps)
    if model_quality_min is not None:
        scores = quality_model_scores(
            docs, model_weights, model_bias,
            text_col=cfg.text_col, id_col=cfg.id_col,
        )
        out = out.join(
            scores.filter(
                F.col("quality_prob") >= F.lit(float(model_quality_min))
            ).select(cfg.id_col),
            cfg.id_col,
            "left_semi",
        )
    return out


# ------------------------------------------------------------------
# DSIR — Data Selection with Importance Resampling (Xie et al. 2023,
# arXiv:2302.03169, public method).  Importance weights over hashed
# word uni+bigram features: log w(x) = Σ_f [ln p_target(f) −
# ln p_raw(f)] · count_f(x), with add-one smoothing over the hashed
# feature space.  Selection is Gumbel-top-k resampling (the paper's
# estimator) or plain top-k by weight.
#
# Scale shape: the two feature-distribution builds are bounded
# aggregations (≤ dim keys, map-side combined); the log-ratio model is
# ONE array literal riding the plan (like quality_model_scores); doc
# scoring is a per-row fold — zero shuffles, zero Python; selection is
# a distributed TakeOrdered.
# ------------------------------------------------------------------


def _hashed_ngram_buckets(toks_col, dim: int, token_hash: str = "md5_60"):
    """array<bigint> of hashed unigram + adjacent-bigram feature
    buckets over an ALREADY-MATERIALIZED token-array column (pass a
    plain column: expressions embedded in transform lambdas re-run per
    element)."""
    hfn = D._token_hash(token_hash)
    toks = F.col(toks_col) if isinstance(toks_col, str) else toks_col
    uni = F.transform(toks, lambda t: F.pmod(hfn(t), F.lit(dim)))
    # guard: sequence(1, size-1) DESCENDS for size 0/1 (implicit -1
    # step) — emit no bigrams instead
    bi = F.when(
        F.size(toks) >= 2,
        F.transform(
            F.sequence(F.lit(1), F.size(toks) - 1),
            lambda i: F.pmod(
                hfn(
                    F.concat(
                        F.element_at(toks, i), F.lit("_"), F.element_at(toks, i + 1)
                    )
                ),
                F.lit(dim),
            ),
        ),
    ).otherwise(F.array().cast("array<bigint>"))
    return F.concat(uni, bi)


def dsir_logratio(
    raw_docs: DataFrame,
    target_docs: DataFrame,
    dim: int = 4096,
    text_col: str = "text",
    token_hash: str = "md5_60",
) -> list[float]:
    """The broadcastable DSIR model: per-bucket smoothed log ratio
    ``ln p_target(b) − ln p_raw(b)`` as a dense length-``dim`` list
    (driver-side — bounded by dim, not the corpus)."""
    import math

    def counts(docs: DataFrame) -> tuple[dict[int, int], int]:
        feat = docs.withColumn("__toks", T.word_tokens(text_col)).select(
            F.explode(_hashed_ngram_buckets("__toks", dim, token_hash)).alias("b")
        )
        rows = feat.groupBy("b").agg(F.count(F.lit(1)).alias("c")).collect()
        ct = {int(r["b"]): int(r["c"]) for r in rows}
        return ct, sum(ct.values())

    raw_ct, n_raw = counts(raw_docs)
    tgt_ct, n_tgt = counts(target_docs)
    return [
        math.log((tgt_ct.get(b, 0) + 1.0) / (n_tgt + dim))
        - math.log((raw_ct.get(b, 0) + 1.0) / (n_raw + dim))
        for b in range(dim)
    ]


def dsir_scores(
    docs: DataFrame,
    llr: list[float],
    text_col: str = "text",
    id_col: str = "doc_id",
    token_hash: str = "md5_60",
) -> DataFrame:
    """(id, dsir_logw): per-doc importance log-weight — one fold over
    the hashed feature array against the literal log-ratio vector.
    Empty docs score 0 (no evidence)."""
    dim = len(llr)
    wlit = V.double_array_lit(llr)
    scored = docs.withColumn("__toks", T.word_tokens(text_col)).withColumn(
        "__logw",
        F.aggregate(
            _hashed_ngram_buckets("__toks", dim, token_hash),
            F.lit(0.0),
            lambda acc, b: acc + F.element_at(wlit, b.cast("int") + 1),
        ),
    )
    return scored.select(id_col, F.round("__logw", 4).alias("dsir_logw"))


def dsir_select(
    docs: DataFrame,
    target_docs: DataFrame,
    k: int,
    dim: int = 4096,
    text_col: str = "text",
    id_col: str = "doc_id",
    token_hash: str = "md5_60",
    resample: bool = False,
    seed: str = "dsir",
) -> DataFrame:
    """Top-``k`` raw documents for training on the target distribution.

    ``resample=False``: deterministic top-k by log-weight (ties by id)
    — a distributed TakeOrdered.  ``resample=True``: the paper's
    Gumbel-top-k importance resampling, with the Gumbel noise derived
    from a portable md5 uniform (same trick as ``weighted_sample``) so
    the draw is deterministic and engine-replayable:
    ``key = logw + (−ln(−ln u))``, u = md5(seed‖id) scaled to (0,1)."""
    llr = dsir_logratio(docs, target_docs, dim, text_col, token_hash)
    s = dsir_scores(docs, llr, text_col, id_col, token_hash)
    key = F.col("dsir_logw")
    if resample:
        u = (
            F.conv(F.substring(F.md5(F.concat(F.lit(seed), F.col(id_col).cast("string"))), 1, 15), 16, 10)
            .cast("double")
            / F.lit(float(16**15))
        )
        # clamp away from 0/1 so the double log is finite
        u = F.least(F.greatest(u, F.lit(1e-12)), F.lit(1.0 - 1e-12))
        key = F.col("dsir_logw") + (-F.log(-F.log(u)))
    return (
        s.withColumn("sel_key", F.round(key, 4))
        .orderBy(F.desc("sel_key"), id_col)
        .limit(int(k))
    )


def bigram_logprob_scores(
    docs: DataFrame,
    ref_docs: DataFrame | None = None,
    vocab_size: int = 1000,
    bigram_size: int = 2000,
    lam: float = 0.7,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """Per-document mean interpolated-bigram negative log2-probability —
    the order-2 upgrade of :func:`unigram_logprob_scores` (CCNet's
    KenLM-perplexity analog, public method: Jelinek-Mercer
    interpolation of a bigram MLE with the smoothed unigram model).

    ``P(cur|prev) = lam * c(prev,cur)/c(prev) + (1-lam) * P_uni(cur)``
    where the bigram term is the top-``bigram_size`` pair table (0 for
    absent pairs — interpolation absorbs them) and ``P_uni`` is the
    add-one top-``vocab_size`` model with a shared OOV mass, exactly as
    the unigram scorer.  Returns ``(id, n_bigrams, avg_neg_logp2)``;
    docs with fewer than 2 tokens have no bigram positions and drop
    out (same contract as the unigram scorer for empty docs).

    Scale shape: both model tables are top-N by construction →
    broadcast; the pair stream is built per-doc with one transform
    (zero joins to FORM pairs); scoring is two broadcast joins + one
    aggregation.  No Python anywhere."""
    import math

    ref = ref_docs if ref_docs is not None else docs

    def pair_frame(df: DataFrame, with_id: bool) -> DataFrame:
        cols = [F.col(id_col)] if with_id else []
        t = df.withColumn("__toks", T.word_tokens(text_col))
        pairs = F.when(
            F.size("__toks") >= 2,
            F.transform(
                F.sequence(F.lit(1), F.size("__toks") - 1),
                lambda i: F.struct(
                    F.element_at(F.col("__toks"), i).alias("prev"),
                    F.element_at(F.col("__toks"), i + 1).alias("cur"),
                ),
            ),
        ).otherwise(F.array().cast("array<struct<prev:string,cur:string>>"))
        return t.select(*cols, F.explode(pairs).alias("p")).select(
            *cols, F.col("p.prev").alias("prev"), F.col("p.cur").alias("cur")
        )

    toks = ref.select(F.explode(T.word_tokens(text_col)).alias("token"))
    uni_counts = toks.groupBy("token").agg(F.count(F.lit(1)).alias("n"))
    vocab = uni_counts.orderBy(F.desc("n"), "token").limit(int(vocab_size))
    totals = toks.count()
    denom = float(totals + vocab_size + 1)
    uni_model = vocab.select(
        F.col("token").alias("cur"),
        ((F.col("n") + F.lit(1.0)) / F.lit(denom)).alias("p_uni"),
    )
    oov_p = 1.0 / denom

    # top-B bigram table with the TRUE prev marginal as denominator
    big = (
        pair_frame(ref, with_id=False)
        .groupBy("prev", "cur")
        .agg(F.count(F.lit(1)).alias("c"))
        .orderBy(F.desc("c"), "prev", "cur")
        .limit(int(bigram_size))
        .join(
            uni_counts.select(F.col("token").alias("prev"), F.col("n").alias("c_prev")),
            "prev",
        )
        .select("prev", "cur", (F.col("c") / F.col("c_prev")).alias("p_big"))
    )

    lam = float(lam)
    p = F.lit(lam) * F.coalesce(F.col("p_big"), F.lit(0.0)) + F.lit(
        1.0 - lam
    ) * F.coalesce(F.col("p_uni"), F.lit(oov_p))
    return (
        pair_frame(docs, with_id=True)
        .join(F.broadcast(big), ["prev", "cur"], "left")
        .join(F.broadcast(uni_model), "cur", "left")
        .groupBy(id_col)
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_bigrams"),
            F.round(F.avg(-F.log2(p)), 4).alias("avg_neg_logp2"),
        )
    )


def semantic_decontaminate(
    corpus_vectors: DataFrame,
    eval_vectors: DataFrame,
    threshold: float = 0.9,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    eval_id_col: str | None = None,
) -> DataFrame:
    """Embedding-space eval decontamination: flag corpus items
    cosine-near (>= ``threshold``) ANY eval/benchmark item —
    paraphrased or re-formatted leakage the n-gram protocol
    (:func:`decontaminate`) misses.  Returns
    ``(id_col, max_eval_sim, n_eval_hits)`` for contaminated corpus
    rows only; anti-join to clean, join to audit.

    Scale shape: the eval side is small, so it broadcasts into one
    hash join; the corpus streams through with no shuffle and
    aggregates only matched rows.  (At extreme eval sizes, swap the
    broadcast for the LSH-bucketed near-dup path — same contract.)"""
    eid = eval_id_col or id_col
    # r14: per-row norms hoisted out of the corpus x eval broadcast
    # join — cosine_similarity in the JOIN CONDITION re-aggregated both
    # sides' norms once per (corpus row, eval row) probe; now each is
    # computed once per row (bit-identical values, see
    # vector.cosine_from_norms).
    ev = eval_vectors.select(
        F.col(eid).alias("__eid"), F.col(vec_col).alias("__ev")
    ).withColumn("__en", V.hoisted_norm("__ev"))
    corpus = corpus_vectors.select(id_col, vec_col).withColumn(
        "__cn", V.hoisted_norm(vec_col)
    )
    cos = V.cosine_from_norms(vec_col, "__ev", "__cn", "__en")
    return (
        corpus
        .join(F.broadcast(ev), cos >= F.lit(float(threshold)))
        .withColumn("__cos", cos)
        .groupBy(id_col)
        .agg(
            F.round(F.max("__cos"), 4).alias("max_eval_sim"),
            F.count(F.lit(1)).alias("n_eval_hits"),
        )
    )


def pack_corpus(
    docs: DataFrame,
    budget_tokens: int = 2048,
    n_shards: int = 64,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """CROSS-document sequence packing, sharded: documents are hashed
    into ``n_shards`` deterministic md5 shards, each shard forms one
    token stream in md5 order, and concatenate-then-split packing
    assigns every document a ``(shard, pack_id)`` cell plus its offset
    inside the pack.

    This is the production complement to :func:`pack_chunks` (per-doc):
    a single GLOBAL total order over 100 TB would serialize the sort,
    but per-SHARD total orders are exactly how real packers run —
    shard count scales with the cluster, each window is bounded by its
    shard, and the md5 order makes the layout deterministic and
    engine-replayable (the oracle replays shard, order, running sum and
    the pack split in SQL).

    Output: (id, shard, pack_id, pack_offset, n_tokens).  One shuffle
    on the shard key; the running sum and division are codegen window
    expressions."""
    counted = docs.select(
        id_col, T.token_count(F.col(text_col)).cast("bigint").alias("__n")
    )
    return _pack_by_counts(counted, budget_tokens, n_shards, id_col)


def _pack_by_counts(
    counted: DataFrame,
    budget_tokens: int,
    n_shards: int,
    id_col: str,
) -> DataFrame:
    """The packing layout given per-doc token counts ``__n``: md5
    shard, per-shard md5-order running sum, concatenate-then-split.
    Shared by the whitespace-count and BPE-count packers."""
    from pyspark.sql import Window

    shard = F.pmod(
        F.conv(F.substring(F.md5(F.col(id_col).cast("string")), 1, 15), 16, 10)
        .cast("long"),
        F.lit(int(n_shards)),
    )
    order = F.md5(F.concat(F.lit("pack:"), F.col(id_col).cast("string")))
    w = (
        Window.partitionBy("shard")
        .orderBy("__ord")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    cum = F.sum("__n").over(w)
    return (
        counted.select(
            id_col,
            shard.cast("int").alias("shard"),
            order.alias("__ord"),
            "__n",
        )
        .select(
            id_col,
            "shard",
            F.floor((cum - F.col("__n")) / F.lit(int(budget_tokens)))
            .cast("bigint")
            .alias("pack_id"),
            F.pmod(cum - F.col("__n"), F.lit(int(budget_tokens)))
            .cast("bigint")
            .alias("pack_offset"),
            F.col("__n").alias("n_tokens"),
        )
    )


def pack_corpus_bpe(
    docs: DataFrame,
    merges: DataFrame | None = None,
    n_merges: int = 50,
    budget_tokens: int = 2048,
    n_shards: int = 64,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """:func:`pack_corpus` with TOKEN-EXACT counts: documents are
    encoded with learned BPE merges (operators/bpe.bpe_encode — the
    Python encoder runs once per distinct word, never per document)
    and the packing budget counts real BPE pieces instead of
    whitespace tokens — what a training loader actually packs against.

    ``merges`` is a trained merge table (operators/bpe.bpe_learn);
    trained on ``docs`` with ``n_merges`` when omitted.  Same output
    shape and layout determinism as :func:`pack_corpus`; the encode is
    deterministic, so the whole thing replays in SQL with the
    word→piece-count map as a literal (the oracle path)."""
    from .operators import bpe as B

    if merges is None:
        merges = B.bpe_learn(docs, n_merges=n_merges, text_col=text_col)
    pieces = B.bpe_encode(docs, merges, text_col=text_col, id_col=id_col)
    counted = pieces.select(
        id_col, F.size("pieces").cast("bigint").alias("__n")
    )
    return _pack_by_counts(counted, budget_tokens, n_shards, id_col)


def corpus_report(
    docs: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """One-row corpus datasheet — the "data card" numbers a training
    run records before consuming a corpus (public practice: Datasheets
    for Datasets, Gebru et al. 2021; every major corpus paper ships
    this table):

    n_docs, total_tokens, n_langs, pct_en, exact_dup_rate (1 −
    distinct-fingerprint fraction), mean_quality (heuristic score),
    gopher_pass_rate (corpus-tuned thresholds), pii_email_docs.

    One aggregation over a single projection pass — every input is a
    codegen expression (fingerprint md5, lang-id, quality, Gopher
    rules, PII regex), so the whole report costs one corpus scan plus
    a tiny distinct-count shuffle."""
    lang = T.lang_id(text_col)
    return docs.agg(
        F.count(F.lit(1)).cast("bigint").alias("n_docs"),
        F.sum(T.token_count(text_col)).cast("bigint").alias("total_tokens"),
        F.count_distinct(lang).cast("bigint").alias("n_langs"),
        F.round(
            F.avg(F.when(lang == "en", 1.0).otherwise(0.0)), 4
        ).alias("pct_en"),
        F.round(
            1.0 - F.count_distinct(T.fingerprint(text_col)) / F.count(F.lit(1)),
            4,
        ).alias("exact_dup_rate"),
        F.round(F.avg(T.quality_score(text_col)), 4).alias("mean_quality"),
        F.round(
            F.avg(
                F.when(
                    T.gopher_quality_filter(text_col, min_words=30, min_stopwords=1),
                    1.0,
                ).otherwise(0.0)
            ),
            4,
        ).alias("gopher_pass_rate"),
        F.sum(
            F.when(T.pii_email_count(text_col) > 0, 1).otherwise(0)
        ).cast("bigint").alias("pii_email_docs"),
    )


def length_buckets(
    docs: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """Power-of-two context-length bucketing: every document gets the
    bucket ``b`` with ``2^(b-1) < n_tokens <= 2^b``-ish (precisely:
    b = number of binary digits of n_tokens, so 1-1, 2-2, 3-4, 5-8,
    ...; empty docs get bucket 0).  Training loaders batch documents
    of similar length together to kill padding waste — this is the
    assignment that feeds such a loader, and the histogram below is
    the padding-efficiency audit.

    The bucket is integer-exact (digit count of the binary
    representation, never float log2 — a log(n)/log(2) ulp at an exact
    power would flip the ceil cross-engine): pure codegen, map-only,
    100 TB safe."""
    tok = T.token_count(F.col(text_col))
    bucket = F.when(tok == 0, F.lit(0)).otherwise(
        F.length(F.conv(tok.cast("string"), 10, 2))
    )
    return docs.select(
        id_col,
        tok.cast("bigint").alias("n_tokens"),
        bucket.cast("int").alias("bucket"),
    )


def length_histogram(
    docs: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """Per-bucket padding audit over :func:`length_buckets`:
    (bucket, n_docs, total_tokens, pad_frac) where ``pad_frac`` is the
    padding wasted batching this bucket to its ceiling length
    (1 - total/(n_docs * 2^bucket)).  One map-side-combined
    aggregation."""
    b = length_buckets(docs, text_col, id_col)
    ceiling = F.pow(F.lit(2.0), F.col("bucket")).cast("bigint")
    return (
        b.groupBy("bucket")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum("n_tokens").alias("total_tokens"),
        )
        .select(
            "bucket",
            "n_docs",
            "total_tokens",
            F.when(F.col("bucket") == 0, F.lit(0.0))
            .otherwise(
                F.round(
                    1.0
                    - F.col("total_tokens")
                    / (F.col("n_docs") * ceiling),
                    4,
                )
            )
            .alias("pad_frac"),
        )
    )


def source_report(
    docs: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    source_col: str = "source",
) -> DataFrame:
    """Per-source data card — :func:`corpus_report` grouped by origin:
    (source, n_docs, total_tokens, mean_chars, dup_rate, mean_quality).
    ``dup_rate`` is the within-source exact-duplicate fraction
    (1 - distinct fingerprints / docs).  The per-source view is what a
    mixing decision actually consumes: which origins are token-rich,
    duplicated, or low-quality.  One scan, one aggregation, all
    codegen."""
    return (
        docs.groupBy(source_col)
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum(T.token_count(F.col(text_col)))
            .cast("bigint")
            .alias("total_tokens"),
            F.round(F.avg(F.length(text_col)), 4).alias("mean_chars"),
            F.round(
                1.0
                - F.count_distinct(T.fingerprint(F.col(text_col)))
                / F.count(F.lit(1)),
                4,
            ).alias("dup_rate"),
            F.round(F.avg(T.quality_score(F.col(text_col))), 4).alias(
                "mean_quality"
            ),
        )
    )


def tokenizer_fertility(
    docs: DataFrame,
    merges: DataFrame | None = None,
    n_merges: int = 50,
    text_col: str = "text",
    id_col: str = "doc_id",
    lang_col: str = "lang",
) -> DataFrame:
    """Per-language tokenizer fertility audit: (lang, n_docs, words,
    pieces, fertility) with fertility = BPE pieces per whitespace-ish
    word (regex word tokens).  The standard "is this tokenizer fair to
    language X" diagnostic — fertility >> 1 for a language means its
    text costs proportionally more context budget.  Encoding reuses
    :func:`..operators.bpe.bpe_encode` (Python once per DISTINCT word,
    never per document)."""
    from .operators import bpe as B

    if merges is None:
        merges = B.bpe_learn(docs, n_merges=n_merges, text_col=text_col)
    pieces = B.bpe_encode(docs, merges, text_col=text_col, id_col=id_col)
    per_doc = docs.select(
        id_col,
        F.col(lang_col),
        F.size(T.word_tokens(F.col(text_col))).alias("__w"),
    ).join(
        pieces.select(id_col, F.size("pieces").alias("__p")), id_col
    )
    return (
        per_doc.groupBy(lang_col)
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum("__w").cast("bigint").alias("words"),
            F.sum("__p").cast("bigint").alias("pieces"),
        )
        .select(
            lang_col,
            "n_docs",
            "words",
            "pieces",
            F.round(F.col("pieces") / F.col("words"), 4).alias("fertility"),
        )
    )


def unimax_weights(
    docs: DataFrame,
    budget_tokens: int,
    max_epochs: float = 4.0,
    text_col: str = "text",
    source_col: str = "source",
) -> DataFrame:
    """UniMax domain mixing (Chung et al. 2023, arXiv:2304.09151):
    allocate a token budget across sources as uniformly as possible
    while capping every source at ``max_epochs`` passes over its own
    tokens — the published alternative to ad-hoc mixture weights that
    provably avoids over-epoching small domains.

    Water-filling, processed smallest-source first: with remaining
    budget R over k unprocessed sources, a source gets
    ``min(n_tokens * max_epochs, R / k)``.  Returns (source, n_tokens,
    alloc_tokens, weight) with weight = alloc / budget.

    Scale shape: ONE distributed aggregation for the per-source token
    counts; the water-filling loop runs on the driver over the bounded
    domain list (sources number in the hundreds, not the billions).
    The whole policy — counts and loop — replays in SQL (recursive CTE
    carrying the remaining budget), which is the correctness oracle.
    Feed the weights to :func:`mix_corpus` / :func:`stratified_sample`
    to materialize the mixture."""
    if budget_tokens <= 0:
        raise ValueError("budget_tokens must be positive")
    counts = (
        docs.groupBy(source_col)
        .agg(F.sum(T.token_count(F.col(text_col))).cast("bigint").alias("n_tokens"))
        .collect()
    )
    # deterministic processing order: smallest first, ties by name
    ordered = sorted(counts, key=lambda r: (r["n_tokens"], r[source_col]))
    remaining = float(budget_tokens)
    out = []
    for i, r in enumerate(ordered):
        k = len(ordered) - i
        alloc = min(float(r["n_tokens"]) * float(max_epochs), remaining / k)
        remaining -= alloc
        out.append(
            (r[source_col], int(r["n_tokens"]), round(alloc, 4),
             round(alloc / budget_tokens, 6))
        )
    return docs.sparkSession.createDataFrame(
        out,
        f"{source_col} string, n_tokens bigint, "
        "alloc_tokens double, weight double",
    )


def split_corpus(
    docs: DataFrame,
    fractions: "dict[str, float]" = None,
    id_col: str = "doc_id",
    salt: str = "split",
) -> DataFrame:
    """Deterministic train/validation/test assignment: every document
    gets a split label from the portable md5 hash of its id — stable
    across runs, engines, and corpus growth (an id keeps its split
    forever; no RNG state, no global shuffle, pure codegen filter
    semantics).

    ``fractions`` maps split name -> fraction (must sum to <= 1;
    remainder falls into the LAST split listed).  Default:
    train 0.98 / validation 0.01 / test 0.01.  Returns
    (id_col, split).  Pair with :func:`decontaminate` /
    ``semantic_decontaminate`` to keep eval splits leakage-free."""
    if fractions is None:
        fractions = {"train": 0.98, "validation": 0.01, "test": 0.01}
    total = sum(fractions.values())
    if total > 1.0 + 1e-9:
        raise ValueError(f"fractions sum to {total} > 1")
    h = (
        T.md5_hash60(F.concat(F.lit(salt + ":"), F.col(id_col).cast("string")))
        % 1_000_000
    ) / 1_000_000.0
    names = list(fractions)
    expr = F.lit(names[-1])
    cum = 0.0
    bounds = []
    for name in names:
        cum += float(fractions[name])
        bounds.append((name, cum))
    for name, ub in reversed(bounds[:-1]):
        expr = F.when(h < F.lit(ub), F.lit(name)).otherwise(expr)
    # ids hashing past the total stay in the last split (the remainder)
    return docs.select(id_col, expr.alias("split"))
