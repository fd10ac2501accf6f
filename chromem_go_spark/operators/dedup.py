"""Deduplication operators for training-data pipelines.

Beyond the reference's surface (chromem-go has no dedup, SURVEY §2.4) —
these are the standard large-corpus dedup family, each built so the
expensive stages are shuffle-lean:

- exact_dedup          — hash-groupBy on a content fingerprint.
- ngram_jaccard_pairs  — exact n-gram Jaccard self-join, prefix-filtered
                         (PPJoin-lite): the oracle-checkable ground truth.
- containment_pairs    — exact one-sided |A∩B|/|A| join (quotes, excerpts).
- minhash_lsh_pairs    — MinHash signatures + banded LSH bucketing; only
                         bucket-colliding pairs are verified, so the join
                         never goes quadratic. The scale path.
- cross_corpus_neardup_pairs / cross_corpus_minhash_pairs — the exact and
                         LSH joins of an incoming corpus against a
                         reference (new x ref pairs only).
- streaming.ingest.incremental_neardup_batch — the LSH join of one
                         micro-batch against the accumulated bucket state.
- simhash_pairs        — 64-bit SimHash + chunked hamming candidate join.
- embedding_neardup_pairs — cosine near-duplicates over an embedding
                         column: exact all-pairs (small/oracle) and a
                         random-hyperplane-bucketed variant (scale).
- duplicate_spans, semantic_dedup, bloom_filter_new — verbatim-span,
                         embedding-cluster and Bloom-membership dedup.

The six n-gram / MinHash pair operators are one filter-then-verify
engine built from shared stages, each written once:

- :func:`_lsh_buckets`   — per-doc hash arrays -> MinHash lanes (one
                           NumPy ``mapInArrow`` kernel) -> JVM xxhash64
                           band rows ``(key, band, bucket)`` (the LSH
                           filter);
- :func:`_count_bound_candidates` — prefix-join match count + the exact
                           overlap upper bound (the PPJoin filter);
- :func:`_verify_overlap` / :func:`_verify_jaccard` — exact
                           set-intersection overlap of candidate pairs
                           over the checkpointed ``(key, hs)`` arrays;
- :func:`_tag_sides` / :func:`_split_sides` / :func:`_untag_pairs` — the
                           ``n:``/``r:`` keyed union of two corpora.

Callers keep their own candidate join conditions and checkpoint
choices; the stages receive already-materialized frames.

Pairs become clusters through :func:`connected_components` (min-label
propagation) or :func:`connected_components_star` (large-star/
small-star).  Both first materialize their edge frame; when Spark sized
it to one partition, one NumPy union-find task (:func:`_union_find`)
answers exactly and the distributed loop never runs.  ``max_iter``
bounds only the loop, which edge sets spread over several partitions
still take.

The hot paths are JVM expressions (xxhash64, explode, groupBy agg)
or vectorized NumPy kernels over whole Arrow batches (the MinHash
lanes, the hyperplane signatures, the union-find); nothing touches
Python per-row.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, functions as F

from ..materialize import materialize

from ..functions import text as T
from ..functions import vector as V
from .knn import fit_python_stage


def exact_dedup(
    df: DataFrame, text_col: str = "text", id_col: str = "doc_id"
) -> DataFrame:
    """Keep one survivor (min id) per identical normalized text.

    One shuffle on the md5 fingerprint; the fingerprint groupBy gets
    map-side partial aggregation for free.
    """
    fp = T.fingerprint(text_col)
    return (
        df.withColumn("__fp", fp)
        .groupBy("__fp")
        .agg(F.min(id_col).alias(id_col), F.count(F.lit(1)).alias("dup_count"))
        .drop("__fp")
    )


def shingle_table(
    df: DataFrame, text_col: str = "text", id_col: str = "doc_id", k: int = 5
) -> DataFrame:
    """(id, shingle) pairs, distinct per doc — the inverted-index input.

    The normalized text is materialized as a column BEFORE the shingle
    ``transform``: substr inside the lambda must reference a plain
    attribute, otherwise the normalize regexp is re-evaluated once per
    shingle position (measured 10x slowdown).

    r14: per-doc dedup is row-local ``array_distinct`` on the in-row
    shingle array, NOT ``.distinct()`` on the exploded stream —
    (id, shingle) pairs are globally distinct iff each doc's shingle
    set is, so the old global distinct paid a full shuffle of the
    exploded string stream for a row-local fact (same fix as
    :func:`_hashed_shingle_arrays`; plan: 1 Exchange -> 0).  The array
    expression stays INLINED in ``explode`` (see
    :func:`_hashed_shingle_arrays` on InferFiltersFromGenerate).

    Assumes ``id_col`` values are unique per row (as every dedup
    operator here does): with duplicate-id input rows the old global
    distinct collapsed repeated (id, shingle) pairs ACROSS those rows,
    while the row-local form emits them once per input row.
    """
    normed = df.select(id_col, T.normalized_text(text_col).alias("__t"))
    shingles = F.when(
        F.length("__t") < k, F.array().cast("array<string>")
    ).otherwise(
        F.array_distinct(
            F.transform(
                F.sequence(F.lit(1), F.length("__t") - F.lit(k - 1)),
                lambda i: F.col("__t").substr(i, F.lit(k)),
            )
        )
    )
    return normed.select(id_col, F.explode(shingles).alias("shingle"))


def _doc_token_arrays(
    df: DataFrame, text_col: str, id_col: str, k: int, unit: str = "char"
):
    """Per doc: shingles as (global_rarity_order, hash) structs, sorted
    rarest-first, plus the plain hash array for set intersection.

    Returns (grouped, arrs): ``grouped`` has id, toks
    array<struct<dfq,h>> (sorted by global df then hash), sz;
    ``arrs`` is the CHECKPOINTED (id, hs array<long>) per-doc distinct
    hash sets the build started from — verify phases should read their
    hash arrays from ``arrs`` instead of re-deriving them with
    ``transform(toks, x -> x.h)`` (same set per doc, element order
    differs, which intersection sizes are insensitive to).
    """
    # Hash shingles to longs FIRST: every downstream shuffle (frequency
    # count, doc groupBy, prefix join) keys on 8-byte longs, never on
    # shingle strings.
    # r14: materialize the PER-DOC hash arrays (zero-shuffle: the
    # shingle set of a doc is computed row-locally) before the exploded
    # stream fans out to the frequency count and the dfq join — the two
    # branches' exchanges differ (one is partial-aggregated), so without
    # this cut Catalyst computes the normalize+shingle+hash subtree
    # TWICE (measured at sf0.1: 4.87 s -> 2.31 s for this function,
    # identical output).
    # r15: the checkpoint is LAZY — the plan boundary (Scan ExistingRDD)
    # is identical to the eager form, but the dedicated warm-up job
    # disappears: the blocks materialize inside the caller's g
    # checkpoint job, whose plan references arrs exactly once (the
    # multi-branch verify joins run later, against already-computed
    # blocks).  One fewer job barrier per dedup-family query.
    builder = (
        _hashed_shingle_arrays if unit == "char" else _hashed_word_shingle_arrays
    )
    arrs = materialize(builder(df, text_col, id_col, k), eager=False)
    sh = arrs.select(id_col, F.explode("hs").alias("h"))
    dfreq = sh.groupBy("h").agg(F.count(F.lit(1)).alias("dfq"))
    withf = sh.join(dfreq, "h")
    grouped = withf.groupBy(id_col).agg(
        F.sort_array(F.collect_list(F.struct("dfq", "h"))).alias("toks"),
        F.count(F.lit(1)).alias("sz"),
    )
    return grouped, arrs


def _prefix_table(
    g: DataFrame, t: float, prefix_ext: int, id_col: str
) -> DataFrame:
    """(id, sz, L, ph): each doc's rarest-first prefix exploded to bare
    8-byte shingle hashes.  ``L = min(sz - ceil(t*sz) + e, sz)`` — the
    extended PPJoin prefix shared by the Jaccard and containment joins.
    ``t`` is the prefix FRACTION, not necessarily the query threshold:
    the r15 asymmetric Jaccard join passes ``2t/(1+t)`` for the
    smaller-doc (index) side.  ``e`` is clamped to >= 1: the minimal
    EXACT prefix needs one slot past the suffix, and e=0 would silently
    drop true pairs."""
    e = max(1, int(prefix_ext))
    plen = F.least(
        (F.col("sz") - F.ceil(F.col("sz") * F.lit(t)) + F.lit(e)).cast("int"),
        F.col("sz").cast("int"),
    )
    return g.select(
        id_col,
        "sz",
        plen.alias("L"),
        F.explode(F.slice("toks", F.lit(1), plen)).alias("p"),
    ).select(id_col, "sz", "L", F.col("p.h").alias("ph"))


def _count_bound_candidates(
    a: DataFrame, b: DataFrame, cond, key: str, t: float
) -> DataFrame:
    """(id_a, id_b) Jaccard candidates of a prefix join: ``a`` and ``b``
    are :func:`_prefix_table` frames, aliased here as ``a``/``b`` so
    ``cond`` (the caller's join condition) can name their columns.

    Count bound: with c = |prefix(A) ∩ prefix(B)| matches for a pair,
    every further common token lies past the SMALLER prefix boundary in
    the one shared global order, hence inside that one doc's suffix
    (sz - L elements), so overlap <= c + max(sz_a - L_a, sz_b - L_b),
    which must reach alpha = ceil(t/(1+t) * (sz_a + sz_b)).  Exact for
    ANY per-side L — the argument never uses how L was chosen."""
    counts = (
        a.alias("a")
        .join(b.alias("b"), cond)
        .groupBy(
            F.col(f"a.{key}").alias("id_a"),
            F.col(f"b.{key}").alias("id_b"),
            F.col("a.sz").alias("sz_a"),
            F.col("b.sz").alias("sz_b"),
            F.col("a.L").alias("L_a"),
            F.col("b.L").alias("L_b"),
        )
        .agg(F.count(F.lit(1)).alias("c"))
    )
    alpha = F.ceil(F.lit(t / (1.0 + t)) * (F.col("sz_a") + F.col("sz_b")))
    ubound = F.col("c") + F.greatest(
        F.col("sz_a") - F.col("L_a"), F.col("sz_b") - F.col("L_b")
    )
    return counts.filter(ubound >= alpha).select("id_a", "id_b")


def _verify_overlap(cand: DataFrame, arrs: DataFrame, key: str) -> DataFrame:
    """Exact verify of candidate pairs: (id_a, id_b, inter, sz_a, sz_b)
    with ``inter = |A ∩ B|`` via ``array_intersect`` of the two docs'
    shingle-hash sets and both set sizes.

    ``cand`` holds (id_a, id_b) keys; ``arrs`` is the checkpointed
    (key, hs) per-doc DISTINCT hash arrays the candidates were built
    from — read directly (8 bytes/elem, no groupBy rebuild); element
    order is irrelevant to the intersection size.  Only candidates are
    ever verified, never the full similarity join."""
    ha = arrs.select(F.col(key).alias("id_a"), F.col("hs").alias("hs_a"))
    hb = arrs.select(F.col(key).alias("id_b"), F.col("hs").alias("hs_b"))
    return (
        cand.join(ha, "id_a")
        .join(hb, "id_b")
        .select(
            "id_a",
            "id_b",
            F.size(F.array_intersect("hs_a", "hs_b")).alias("inter"),
            F.size("hs_a").alias("sz_a"),
            F.size("hs_b").alias("sz_b"),
        )
    )


def _verify_jaccard(
    cand: DataFrame, arrs: DataFrame, key: str, t: float
) -> DataFrame:
    """(id_a, id_b, jaccard) candidate pairs with exact Jaccard
    ``inter / (sz_a + sz_b - inter) >= t`` (see :func:`_verify_overlap`)."""
    return (
        _verify_overlap(cand, arrs, key)
        .withColumn(
            "jaccard",
            F.col("inter") / (F.col("sz_a") + F.col("sz_b") - F.col("inter")),
        )
        .filter(F.col("jaccard") >= F.lit(float(t)))
        .select("id_a", "id_b", "jaccard")
    )


def ngram_jaccard_pairs(
    df: DataFrame,
    threshold: float = 0.8,
    text_col: str = "text",
    id_col: str = "doc_id",
    k: int = 5,
    unit: str = "char",
    prefix_ext: int = 16,
) -> DataFrame:
    """Exact n-gram Jaccard similarity join, prefix-filtered (PPJoin-lite).

    A naive inverted-index self-join blows up quadratically on common
    shingles (a shingle in d docs yields d^2/2 join rows; measured 357 s
    at sf0.1). Prefix filtering makes it scale-safe and stays EXACT:

    1. order shingles globally by (document frequency asc, hash) —
       rarest first;
    2. per doc of size s keep only the first ``s - ceil(t*s) + 1``
       tokens (the *prefix*): any pair with Jaccard >= t MUST share a
       prefix token, so joining prefixes loses no true pair — and common
       shingles almost never appear in a prefix;
    3. candidates also satisfy the length filter t*|A| <= |B| <= |A|/t;
    4. verify candidates exactly (:func:`_verify_jaccard`): |A∩B| of
       the full shingle-hash arrays, |A∪B| = sa+sb-i.

    Filters applied before any verification (all exact — no false
    negatives):
    - **length**: t*|A| <= |B| <= |A|/t;
    - **count/suffix**: with c = |prefix(A) ∩ prefix(B)| matches for a
      pair, every further common token lies outside at least one prefix,
      and (because both arrays share one global sort order) the
      non-prefix common tokens cannot mix the two "cross" cases — they
      all fit inside ONE doc's suffix. Hence
      overlap <= c + max(|suffix(A)|, |suffix(B)|)
              =  c + max(ceil(t|A|), ceil(t|B|)) - 1,
      which must reach alpha = ceil(t/(1+t) * (|A|+|B|)).
      (Measured: 6.4M raw candidate pairs -> 256 at sf0.1.)

    Shuffle profile: shingle-df groupBy, per-doc groupBy, prefix join +
    pair count, and a verify join carrying hash arrays only for
    surviving candidates — nothing quadratic in corpus size.
    """
    t = float(threshold)
    # Materialize the token arrays ONCE: this subtree feeds four plan
    # branches (both prefix sides + both verify sides) and Catalyst does
    # not reuse the exchange across them (measured: 16 scans / 4x the
    # shingle build without this). localCheckpoint trades lineage for a
    # single computation — the standard move for reused expensive
    # intermediates.
    # ``unit='word'`` switches to word n-grams (the Gopher-style 13-gram
    # document dedup unit for LLM corpora) — same prefix-filter plan.
    g, arrs = _doc_token_arrays(df, text_col, id_col, k, unit)
    g = materialize(g)
    # The checkpoint comes back AQE-coalesced for ITS OWN byte size (11
    # partitions of ~2 MB at sf0.1) — but the next stage explodes it
    # ~100x and streams the prefix self-join's full candidate volume
    # (93M rows measured at sf0.1/t=0.5) through those same partitions.
    # _spread restores core-count parallelism for that known blow-up
    # (guide §8: use what the optimizer cannot see) and is a no-op at
    # scale.  Measured: the cand phase alone 6.8 -> 5.4 s at local[32],
    # and the 8-vs-32-core probe stage actually scales afterwards.
    gp = _spread(g)
    # Extended prefix (`prefix_ext`): the minimal PPJoin prefix
    # (sz - ceil(t*sz) + 1) admits every pair sharing one rare shingle —
    # measured 2.95M candidate pairs funneling to 337k verify survivors
    # for 256 true pairs at sf0.1/t=0.8.  Lengthening the prefix by
    # e - 1 positions keeps the bound EXACT (the one-suffix argument
    # below only uses the shared global sort order, never how L was
    # chosen) while demanding e shared prefix shingles instead of one:
    # verify survivors collapse 337k -> 357 and the join runs ~3x
    # faster for a ~2% larger candidate join.  Join keys are the bare
    # 8-byte shingle hashes ((dfq, h) equality == h equality, dfq being
    # a function of h).
    #
    # r15 — ASYMMETRIC prefixes (PPJoin probe/index lengths, Xiao et
    # al.): direct the pair (sz, id)-lexicographically and give the
    # SMALLER doc y the shorter index prefix
    # ``|y| - ceil(2t/(1+t)*|y|) + e`` (the larger doc x keeps
    # ``|x| - ceil(t*|x|) + e``).  Exact: jaccard >= t forces overlap
    # alpha = ceil(t/(1+t)(|x|+|y|)), and alpha >= ceil(2t/(1+t)|y|)
    # (since |x| >= |y|) and alpha >= ceil(t|x|) (since |y| >= t|x| by
    # the length filter), so both prefixes still cover the pigeonhole
    # collision guarantee ``|x|-alpha+1 / |y|-alpha+1`` — any float
    # slack in ceil() is absorbed by e >= 1.  The count bound below is
    # exact for ANY per-side L (its one-suffix argument never uses how
    # L was chosen).  Measured at sf0.1/t=0.5: candidate join rows
    # 93.07M -> 61.66M, cand phase 6.8 -> 3.6 s, verify survivors
    # 15,483 -> 41,544 (still trivial), final pairs bit-identical
    # (exceptAll 0/0 both ways).
    pshort = _prefix_table(gp, 2.0 * t / (1.0 + t), prefix_ext, id_col)
    preg = _prefix_table(gp, t, prefix_ext, id_col)
    a_smaller = (F.col("a.sz") < F.col("b.sz")) | (
        (F.col("a.sz") == F.col("b.sz"))
        & (F.col(f"a.{id_col}") < F.col(f"b.{id_col}"))
    )
    cand = _count_bound_candidates(
        pshort,
        preg,
        (F.col("a.ph") == F.col("b.ph"))
        & a_smaller
        # one-sided length filter: a is the smaller doc, so only
        # t*|b| <= |a| can bind (|a| <= |b| holds by direction)
        & (F.col("b.sz") * F.lit(t) <= F.col("a.sz")),
        id_col,
        t,
    )
    # canonical (id_a < id_b) orientation: generation is size-directed,
    # the contract (and the oracle) is id-directed
    return _verify_jaccard(cand, arrs, id_col, t).select(
        F.least("id_a", "id_b").alias("id_a"),
        F.greatest("id_a", "id_b").alias("id_b"),
        "jaccard",
    )


def _spread(df: DataFrame) -> DataFrame:
    """Round-robin repartition to the default parallelism ONLY when the
    input carries fewer partitions (guide §2.1 scale-adaptive sizing):

    - at 100 TB the source scan / upstream shuffle already holds
      hundreds-to-thousands of partitions, so this is a no-op — the old
      unconditional ``repartition(defaultParallelism)`` there would
      DOWNSIZE the stage and pay a full extra shuffle of the corpus;
    - locally (single-file parquet scans, AQE-coalesced checkpoints) it
      restores core-count parallelism ahead of a known blow-up (shingle
      explode, prefix self-join) the optimizer cannot see coming.
    """
    par = df.sparkSession.sparkContext.defaultParallelism
    if df.rdd.getNumPartitions() >= par:
        return df
    return df.repartition(par)


def _normed_text(df: DataFrame, text_col: str, id_col: str) -> DataFrame:
    """(id, __t): normalized text, spread to the default parallelism
    ahead of the ~1000x shingle blow-up (no-op when the source already
    carries enough partitions — see :func:`_spread`)."""
    return _spread(df).select(
        id_col, T.normalized_text(text_col).alias("__t")
    )


def _char_shingle_hash_expr(k: int):
    """Column expr over ``__t``: the doc's DISTINCT char-k-gram
    xxhash64 set — entirely row-local (slide, hash, array_distinct)."""
    return F.when(
        F.length("__t") < k, F.array().cast("array<bigint>")
    ).otherwise(
        F.array_distinct(
            F.transform(
                F.sequence(F.lit(1), F.length("__t") - F.lit(k - 1)),
                lambda i: F.xxhash64(F.col("__t").substr(i, F.lit(k))),
            )
        )
    )


def _hashed_shingle_arrays(
    df: DataFrame, text_col: str, id_col: str, k: int
) -> DataFrame:
    """(id, hs): each doc's DISTINCT char-k-gram xxhash64 set as one
    array column — zero shuffles, the shared input of signature
    building and exact verification.  Hashing before the per-doc
    ``array_distinct`` keeps 8-byte longs, not k-char strings, in
    every later shuffle.

    ALWAYS materialize() this before exploding ``hs``: exploding a
    named unmaterialized column trips InferFiltersFromGenerate, which
    clones the whole build expression into an inferred
    ``size(...) > 0`` filter below the repartition — where the
    normalize regexp ends up INSIDE the per-element lambda (measured:
    28.3 s vs 0.70 s at sf0.1)."""
    return _normed_text(df, text_col, id_col).select(
        id_col, _char_shingle_hash_expr(k).alias("hs")
    )


def _word_tokens_frame(df: DataFrame, text_col: str, id_col: str) -> DataFrame:
    """(id, __w): word-token arrays, spread ahead of the shingle
    blow-up (no-op at scale — see :func:`_spread`)."""
    return _spread(df).select(
        id_col, T.word_tokens(text_col).alias("__w")
    )


def _word_shingle_hash_expr(n: int):
    """Column expr over ``__w``: the doc's DISTINCT word-n-gram
    xxhash64 set — row-local."""
    return F.when(
        F.size("__w") < n, F.array().cast("array<bigint>")
    ).otherwise(
        F.array_distinct(
            F.transform(
                F.sequence(F.lit(1), F.size("__w") - F.lit(n - 1)),
                lambda i: F.xxhash64(F.concat_ws(" ", F.slice("__w", i, n))),
            )
        )
    )


def _hashed_word_shingle_arrays(
    df: DataFrame, text_col: str, id_col: str, n: int
) -> DataFrame:
    """(id, hs): word twin of :func:`_hashed_shingle_arrays` — ALWAYS
    materialize() before exploding ``hs``."""
    return _word_tokens_frame(df, text_col, id_col).select(
        id_col, _word_shingle_hash_expr(n).alias("hs")
    )


# int64 values the MinHash lane kernel holds in one temporary
_LANE_BUDGET = 1 << 20


def _quoted(name: str) -> str:
    """``name`` as a backtick-quoted SQL identifier (for generated SQL
    text over caller-chosen column names)."""
    return "`" + name.replace("`", "``") + "`"


def minhash_signatures(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    k: int = 5,
    num_hashes: int = 64,
    seed: int = 42,
    hash_arrays: DataFrame | None = None,
) -> DataFrame:
    """MinHash signature per doc: columns ``mh_0 .. mh_{num_hashes-1}``.

    Base shingle hash is JVM xxhash64; the hash family is the classic
    (a*x + b) mod p permutation over it: lane ``i`` is
    ``min((a_i * (x mod p) + b_i) mod p)`` over the doc's hashes.
    ``hash_arrays`` is the per-doc (id, hs array<long>) table when the
    caller already holds it materialized (:func:`_hashed_shingle_arrays`);
    without it, the arrays are built from ``df`` and materialized here.
    Docs with no shingle (text shorter than ``k`` or null) get no row.

    The lanes are one NumPy ``mapInArrow`` kernel
    (:func:`_minhash_lanes`), its input sized by
    ``knn.fit_python_stage``: as SQL, each lane was an
    ``array_min(transform(...))`` whose lambda Spark interprets per
    shingle (``ArrayTransform`` has no codegen).
    """
    if hash_arrays is None:
        hash_arrays = materialize(_hashed_shingle_arrays(df, text_col, id_col, k))
    key_type = hash_arrays.schema[id_col].dataType.simpleString()
    out_schema = ", ".join(
        [f"{_quoted(id_col)} {key_type}"]
        + [f"mh_{i} bigint" for i in range(num_hashes)]
    )
    return fit_python_stage(hash_arrays.selectExpr(_quoted(id_col), "hs")).mapInArrow(
        _minhash_lanes(id_col, num_hashes, seed), schema=out_schema
    )


def _minhash_lanes(id_col: str, num_hashes: int, seed: int):
    """The lane kernel of :func:`minhash_signatures`: Arrow batches of
    (id, hs list<int64>) to (id, mh_0 .. mh_{num_hashes-1}), one row
    per doc with a non-null, non-empty ``hs``.  It walks the flat hash
    values in chunks of ``_LANE_BUDGET // num_hashes``, all lanes at
    once, and ``np.minimum.reduceat`` folds each chunk into its docs'
    minima, so no temporary exceeds ``_LANE_BUDGET`` values however
    long a doc or a batch.  A closure, so Spark ships it by value
    (workers need not import this package)."""
    import random

    import numpy as np

    rnd = random.Random(seed)
    # 2^31-1 keeps a*(x mod p) + b < 2^62: no int64 overflow, and
    # NumPy's % by a positive divisor is Spark's pmod.
    p = (1 << 31) - 1  # Mersenne prime
    a, b = np.array(
        [(rnd.randrange(1, p), rnd.randrange(0, p)) for _ in range(num_hashes)],
        dtype=np.int64,
    ).T[:, :, None]
    chunk = max(1, _LANE_BUDGET // num_hashes)
    names = [id_col] + [f"mh_{i}" for i in range(num_hashes)]

    def minhash_lanes(batches):
        import pyarrow as pa

        for rb in batches:
            hs = rb.column(1)
            # offsets index the whole values buffer, also on a slice
            offs = hs.offsets.to_numpy()
            lens = np.diff(offs)
            keep = lens > 0
            if hs.null_count:
                keep &= hs.is_valid().to_numpy(zero_copy_only=False)
            if not keep.any():
                continue
            x = hs.values.to_numpy()[offs[0]:offs[-1]]
            if (lens[~keep] > 0).any():  # a null row over a non-empty range
                x = x[np.repeat(keep, lens)]
            lens = lens[keep]
            starts = np.concatenate(([0], np.cumsum(lens)))
            sig = np.full((num_hashes, len(lens)), p, dtype=np.int64)
            for lo in range(0, len(x), chunk):
                hi = min(lo + chunk, len(x))
                # docs overlapping [lo, hi) and their piece starts in it
                r0 = np.searchsorted(starts, lo, "right") - 1
                r1 = np.searchsorted(starts, hi, "left")
                at = np.maximum(starts[r0:r1], lo) - lo
                h = a * (x[lo:hi] % p)
                h += b
                h %= p
                part = sig[:, r0:r1]
                np.minimum(part, np.minimum.reduceat(h, at, axis=1), out=part)
            key = rb.column(0)
            yield pa.RecordBatch.from_arrays(
                [key if keep.all() else key.filter(pa.array(keep))]
                + [pa.array(s) for s in sig],
                names=names,
            )

    return minhash_lanes


def _lsh_buckets(
    arrs: DataFrame, key: str, num_hashes: int, bands: int, seed: int
) -> DataFrame:
    """(key, band, bucket) LSH rows: the MinHash lanes of the (key, hs)
    hash arrays (:func:`minhash_signatures`' NumPy kernel), cut into
    ``bands`` bands of ``num_hashes / bands`` lanes, each band hashed
    to one bucket by JVM xxhash64.  Two docs are LSH candidates iff
    they share a (band, bucket) row, so the candidate join's shuffle
    key is the band hash and its volume is O(docs x bands), never
    O(docs^2).  Not materialized: callers own the checkpoint (the
    bucket table usually feeds both sides of a join).

    The band rows are generated SQL text parsed once: every caller
    pays this build per call, and as ``F.*`` calls it was thousands of
    JVM round trips."""
    if not 1 <= bands <= num_hashes or num_hashes % bands:
        raise ValueError(
            f"bands must divide num_hashes into whole bands: got "
            f"num_hashes={num_hashes}, bands={bands}"
        )
    rows = num_hashes // bands
    sig = minhash_signatures(
        arrs, id_col=key, num_hashes=num_hashes, seed=seed, hash_arrays=arrs
    )
    band_structs = ", ".join(
        f"named_struct('band', {bi}, 'bucket', xxhash64("
        + ", ".join(f"mh_{bi * rows + r}" for r in range(rows))
        + "))"
        for bi in range(bands)
    )
    q = _quoted(key)
    return sig.selectExpr(q, f"explode(array({band_structs})) AS bb").selectExpr(
        q, "bb.band AS band", "bb.bucket AS bucket"
    )


def minhash_lsh_pairs(
    df: DataFrame,
    threshold: float = 0.5,
    text_col: str = "text",
    id_col: str = "doc_id",
    k: int = 5,
    num_hashes: int = 64,
    bands: int = 16,
    seed: int = 42,
    verify: bool = True,
) -> DataFrame:
    """Near-duplicate pairs via MinHash + banded LSH.

    bands x rows = num_hashes; two docs become candidates iff at least
    one band of their signatures collides (bucket groupBy-join — the
    shuffle key is the band hash, so volume is O(docs x bands), not
    O(docs^2)). Candidates are then verified with exact n-gram Jaccard
    against ``threshold`` (mirrors how production LLM dedup pipelines
    layer LSH recall + exact verification).  ``bands`` must divide
    ``num_hashes`` (ValueError otherwise).
    """
    # One shingle build feeds BOTH the signature lanes and the exact
    # verify: the per-doc hash ARRAYS (row-local, zero shuffles — see
    # _hashed_shingle_arrays) are checkpointed and read directly by
    # both, so the verify side needs no groupBy rebuild of the shingle
    # stream.  Eager: the lane kernel's input is sized to its bytes,
    # and a coalesce over a lazy checkpoint would hash every doc in
    # that one task (sf0.1: 9.6 s eager vs 10.3 s lazy, min of 3).
    arrs = materialize(_hashed_shingle_arrays(df, text_col, id_col, k))
    # Materialized once: the bucket table is both sides of the self-join,
    # and recomputing it would re-run the whole signature build.
    buckets = _lsh_buckets(arrs, id_col, num_hashes, bands, seed).transform(
        materialize
    )
    a = buckets.alias("a")
    b = buckets.alias("b")
    cand = (
        a.join(b, ["band", "bucket"])
        .filter(F.col(f"a.{id_col}") < F.col(f"b.{id_col}"))
        .select(
            F.col(f"a.{id_col}").alias("id_a"), F.col(f"b.{id_col}").alias("id_b")
        )
        .distinct()
    )
    if not verify:
        return cand
    return _verify_jaccard(cand, arrs, id_col, threshold)


def connected_components(
    edges: DataFrame,
    src_col: str = "id_a",
    dst_col: str = "id_b",
    max_iter: int = 25,
) -> DataFrame:
    """Connected components: one union-find pass when the edge set is
    one partition, else iterative min-label propagation.

    Returns (node, component) where component is the minimum node id
    reachable from ``node``.  The materialized edge frame's partition
    count (how Spark itself sized it; reading it runs no job) picks the
    path: with one partition, :func:`_union_find` resolves every
    component in that one task.  Otherwise each iteration: every node
    takes the min label among itself and its neighbors; terminates
    when no label changes (near-dup clusters have small diameters, so
    convergence is fast — iterations ~ graph diameter). Per iteration:
    one join + one groupBy, lineage cut with localCheckpoint so the
    plan stays flat.  ``max_iter`` bounds only that loop.

    This is the clustering step a dedup pipeline runs on top of the
    pair-finding operators: pairs -> clusters -> one representative.
    """
    # Materialize the edge input ONCE before symmetrizing: the union
    # below references the edge subtree twice, and ``edges`` is
    # typically an expensive similarity join — without this cut the
    # pair join runs twice (same fix the star variant carries;
    # measured there: +5-6 s at sf0.1).
    edges = edges.select(src_col, dst_col).transform(materialize)
    if edges.rdd.getNumPartitions() == 1:
        return _local_components(edges)
    # A self-loop per node: each node is its own neighbor, so one
    # groupBy yields both its new label (the neighborhood min) and its
    # old one (the label over its self-loop) — no second join to detect
    # a change.  A null endpoint adds no edge (the other endpoint keeps
    # its self-loop), as in :func:`_union_find`.
    und = (
        edges.select(F.col(src_col).alias("a"), F.col(dst_col).alias("b"))
        .unionByName(edges.select(F.col(dst_col).alias("a"), F.col(src_col).alias("b")))
        .unionByName(edges.select(F.col(src_col).alias("a"), F.col(src_col).alias("b")))
        .unionByName(edges.select(F.col(dst_col).alias("a"), F.col(dst_col).alias("b")))
        .filter(F.col("a").isNotNull() & F.col("b").isNotNull())
        .distinct()
        .transform(materialize)
    )
    labels = (
        und.filter(F.col("a") == F.col("b"))
        .select(F.col("a").alias("node"), F.col("a").alias("label"))
        .transform(materialize)
    )
    for _ in range(int(max_iter)):
        labels = (
            und.join(labels, und.b == labels.node)
            .groupBy(F.col("a").alias("node"))
            .agg(
                F.min("label").alias("label"),
                F.min(F.when(F.col("a") == F.col("b"), F.col("label"))).alias("old"),
            )
            .select("node", "label", (F.col("label") != F.col("old")).alias("changed"))
            .transform(materialize)
        )
        if labels.filter("changed").limit(1).count() == 0:
            break
    return labels.select(F.col("node"), F.col("label").alias("component"))


def connected_components_star(
    edges: DataFrame,
    src_col: str = "id_a",
    dst_col: str = "id_b",
    max_iter: int = 50,
    rounds_out: list | None = None,
) -> DataFrame:
    """Connected components by large-star/small-star alternation
    (Kiveris et al., "Connected Components in MapReduce and Beyond",
    SoCC'14 — public algorithm).

    Plain min-label propagation (:func:`connected_components`) needs
    O(diameter) rounds: fine for near-dup clusters (tiny diameters),
    pathological on chain-shaped components at 100 TB. The alternating
    star algorithm contracts the graph toward stars in O(log^2 n) rounds
    worst-case (O(log n) in practice) regardless of diameter:

    - large-star: every node's larger neighbors re-attach to the min of
      its neighborhood (including itself);
    - small-star: every node and its smaller neighbors attach to the
      smallest neighbor.

    Each phase is one groupBy + one join over the edge set; edges stay
    directed big->small between phases. Convergence = edge set is a
    fixed point (checked by count + order-insensitive hash sum — two
    cheap aggregates). Returns (node, component = min id reachable).

    An edge frame that materializes to one partition skips the rounds:
    :func:`_union_find` resolves it in that one task, as in
    :func:`connected_components`.  ``max_iter`` bounds only the rounds.
    ``rounds_out``: appends the number of alternation rounds (for
    tests; 0 on the one-partition path).
    """
    # Materialize the edge input ONCE: nodes and the canonical edge set
    # both derive from it, and `edges` is typically an expensive subtree
    # (a similarity join) — two separate materializations would compute
    # it twice (measured: +5-6 s on dedup_clusters_star at sf0.1).
    edges = edges.select(src_col, dst_col).transform(materialize)
    if edges.rdd.getNumPartitions() == 1:
        if rounds_out is not None:
            rounds_out.append(0)
        return _local_components(edges)
    # a null endpoint is no node (and `e` drops its row: greatest /
    # least skip nulls, so u != v fails), as in :func:`_union_find`
    nodes = (
        edges.select(F.col(src_col).alias("n"))
        .unionByName(edges.select(F.col(dst_col).alias("n")))
        .filter(F.col("n").isNotNull())
        .distinct()
        .transform(materialize)
    )
    # canonical big->small direction; self-loops dropped
    e = (
        edges.select(
            F.greatest(F.col(src_col), F.col(dst_col)).alias("u"),
            F.least(F.col(src_col), F.col(dst_col)).alias("v"),
        )
        .filter(F.col("u") != F.col("v"))
        .distinct()
        .transform(materialize)
    )

    def _sig(df: DataFrame) -> tuple:
        # bit_xor, not sum: order-insensitive AND overflow-free under
        # ANSI mode (summing 64-bit hashes overflows longs). Edges are
        # distinct, so xor can't cancel duplicates.
        row = df.agg(
            F.count(F.lit(1)).alias("c"),
            F.expr("bit_xor(xxhash64(u, v))").alias("h"),
        ).head()
        return (row["c"], row["h"])

    sig = _sig(e)
    rounds = 0
    for _ in range(int(max_iter)):
        rounds += 1
        # -------- large-star: symmetrize, larger neighbors -> nbhd min
        sym = e.unionByName(e.select(F.col("v").alias("u"), F.col("u").alias("v")))
        mn = sym.groupBy("u").agg(
            F.least(F.min("v"), F.first("u")).alias("m")
        )
        ls = (
            sym.join(mn, "u")
            .filter(F.col("v") > F.col("u"))
            .select(F.col("v").alias("u"), F.col("m").alias("v"))
            .distinct()
        )
        # -------- small-star: node + smaller neighbors -> min neighbor
        mn2 = ls.groupBy("u").agg(F.min("v").alias("m"))
        ss = (
            ls.join(mn2, "u")
            .select(F.col("v").alias("x"), "m")
            .unionByName(mn2.select(F.col("u").alias("x"), "m"))
            .filter(F.col("x") != F.col("m"))
            .select(F.col("x").alias("u"), F.col("m").alias("v"))
            .distinct()
            .transform(materialize)
        )
        new_sig = _sig(ss)
        e = ss
        if new_sig == sig:
            break
        sig = new_sig
    if rounds_out is not None:
        rounds_out.append(rounds)
    # min-aggregate per node: at the fixed point this is the identity
    # (star edges are already one-per-node), but if max_iter was
    # exhausted pre-convergence a node can still hold edges to several
    # targets — without this, the left join below would emit DUPLICATE
    # (node, component) rows with conflicting labels.
    parent = e.groupBy("u").agg(F.min("v").alias("v"))
    return (
        nodes.join(parent, nodes.n == parent.u, "left")
        .select(
            F.col("n").alias("node"),
            F.coalesce(F.col("v"), F.col("n")).alias("component"),
        )
    )


def _local_components(edges: DataFrame) -> DataFrame:
    """(node, component) of a one-partition ``(src, dst)`` edge frame
    (one key type) in one :func:`_union_find` task."""
    from pyspark.sql.types import StructField, StructType

    key = edges.schema.fields[0].dataType
    schema = StructType([StructField("node", key), StructField("component", key)])
    return edges.mapInArrow(_union_find(), schema=schema)


def _union_find():
    """The one-task kernel of the connected-components functions:
    Arrow batches of ``(src, dst)`` to one ``(node, component)`` row
    per node of the partition's graph, ``component`` its component's
    minimum key.  A null endpoint is dropped: the other endpoint of its
    row is still a node, but the row adds no edge.  Keys map to dense
    indices in key order (``np.unique``; UTF-8 byte order is code-point
    order, so string keys sort as Spark compares them).  Each round
    hooks the larger root of every edge still spanning two trees to the
    smallest root it meets (``np.minimum.at``), then pointer-jumps
    until every node points at its root; ``parent[x] <= x`` throughout,
    so each root is its tree's minimum.  A tree that neither hooks nor
    is hooked to in a round is, in the next, next to only smaller roots
    and hooks, so the live trees at least halve every two rounds.  A
    closure, so Spark ships it by value."""
    import numpy as np

    def union_find(batches):
        import pyarrow as pa

        batches = list(batches)
        if not batches:
            return
        m = sum(rb.num_rows for rb in batches)
        ends = pa.concat_arrays([rb.column(i) for i in (0, 1) for rb in batches])
        keys = ends.drop_null()
        _, first, inv = np.unique(
            keys.to_numpy(zero_copy_only=False), return_index=True, return_inverse=True
        )
        at = np.full(len(ends), -1, dtype=np.int64)
        at[ends.is_valid().to_numpy(zero_copy_only=False)] = inv
        u, v = at[:m], at[m:]
        live = (u >= 0) & (v >= 0)
        u, v = u[live], v[live]
        parent = np.arange(len(first))
        while True:
            ru, rv = parent[u], parent[v]
            live = ru != rv
            if not live.any():
                break
            u, v, ru, rv = u[live], v[live], ru[live], rv[live]
            np.minimum.at(parent, np.maximum(ru, rv), np.minimum(ru, rv))
            while True:
                up = parent[parent]
                if (up == parent).all():
                    break
                parent = up
        yield pa.RecordBatch.from_arrays(
            [keys.take(first), keys.take(first[parent])], names=["node", "component"]
        )

    return union_find


def dedup_clusters(
    df: DataFrame,
    threshold: float = 0.5,
    text_col: str = "text",
    id_col: str = "doc_id",
    k: int = 5,
    algorithm: str = "label",
    unit: str = "char",
) -> DataFrame:
    """Cluster near-duplicate documents: exact n-gram Jaccard pairs ->
    connected components -> every doc mapped to its cluster
    representative (min id; docs with no near-dup represent themselves).
    The keep-one-per-cluster selection is then ``cluster_rep == id``.

    ``algorithm``: 'label' (min-label propagation, O(diameter) rounds —
    near-dup clusters have tiny diameters) or 'star' (large-star/
    small-star, O(log n) rounds — diameter-proof); it matters only when
    the pairs span several partitions (a one-partition pair frame takes
    the union-find kernel either way). ``unit``: 'char' or 'word'
    shingles (see :func:`ngram_jaccard_pairs`)."""
    pairs = ngram_jaccard_pairs(df, threshold, text_col, id_col, k, unit)
    cc = connected_components if algorithm == "label" else connected_components_star
    comp = cc(pairs, "id_a", "id_b")
    return (
        df.select(id_col)
        .join(comp, df[id_col] == comp.node, "left")
        .select(
            id_col,
            F.coalesce(F.col("component"), F.col(id_col)).alias("cluster_rep"),
        )
    )


def _token_hash(token_hash: str):
    """Per-token 64-bit hash column builder.

    - ``xxhash64`` (default): fastest, JVM-native — the scale path.
    - ``md5_60``: top 60 bits of md5 as a long. md5 exists verbatim in
      DuckDB (``('0x' || substr(md5(t),1,15))::BIGINT``), so fingerprints
      built from it are bit-identical across engines — this is what makes
      ``simhash_pairs`` oracle-checkable end-to-end.
    """
    if token_hash == "xxhash64":
        return lambda c: F.xxhash64(c)
    if token_hash == "md5_60":
        return lambda c: F.conv(F.substring(F.md5(c), 1, 15), 16, 10).cast("long")
    raise ValueError(f"unknown token_hash: {token_hash!r}")


def simhash(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    bits: int = 64,
    token_hash: str = "xxhash64",
) -> DataFrame:
    """SimHash over word tokens: per bit, sum +1/-1 weighted votes of
    each token's hash bit, sign-threshold into the fingerprint.

    Full ``bits``-wide fingerprint — with bits=64 the sign bit is REAL
    (bit 63 set yields a negative long; hamming via bit_count(xor) is
    sign-agnostic). ``token_hash='md5_60'`` (use bits<=60) gives a
    DuckDB-replicable fingerprint for oracle checking.

    Explode + single groupBy with ``bits`` conditional sums — all
    codegen.  (r14 note: an in-row variant — 64 ``size(filter(...))``
    passes over a per-doc hash array, zero shuffles — was measured
    SLOWER at sf0.1, 2.28 s vs 1.65 s: the groupBy's map-side partial
    aggregation already collapses to one row per doc before the
    exchange, so the shuffle is tiny and Tungsten's agg loop beats 64
    higher-order array traversals.  Kept the exploded form.)

    The vote sums and their fold are one generated SQL expression
    parsed once: built as ``F.*`` calls they cost ~11k JVM round trips,
    more client time than Spark spends running the query.
    """
    if token_hash == "md5_60" and bits > 60:
        raise ValueError("md5_60 token hash provides at most 60 bits")
    hfn = _token_hash(token_hash)
    toks = df.select(
        id_col, F.explode(T.word_tokens(text_col)).alias("tok")
    ).withColumn("h", hfn(F.col("tok")))
    # Bitwise-OR fold (not '+'): with bits=64 the b=63 term is
    # Long.MIN_VALUE and addition would overflow under ANSI mode.
    fp = "0L" + "".join(
        f" | CASE WHEN sum(CASE WHEN shiftright(h, {b}) & 1 = 1 THEN 1 ELSE -1 END)"
        f" > 0 THEN shiftleft(1L, {b}) ELSE 0L END"
        for b in range(bits)
    )
    return toks.groupBy(id_col).agg(F.expr(fp).alias("simhash"))


def simhash_pairs(
    df: DataFrame,
    max_hamming: int = 3,
    text_col: str = "text",
    id_col: str = "doc_id",
    bits: int = 64,
    token_hash: str = "xxhash64",
) -> DataFrame:
    """Near-dup pairs by SimHash hamming distance <= max_hamming.

    Candidate generation via :func:`hamming_pairs` (exact disjoint-chunk
    pigeonhole join, never quadratic).
    """
    sh = simhash(df, text_col, id_col, bits=bits, token_hash=token_hash)
    return hamming_pairs(sh, "simhash", id_col, max_hamming, bits)


def hamming_pairs(
    sig: DataFrame,
    sig_col: str,
    id_col: str,
    max_hamming: int,
    bits: int,
) -> DataFrame:
    """All (id_a, id_b, hamming) pairs whose ``sig_col`` fingerprints
    differ in at most ``max_hamming`` bits.

    Shared candidate engine for every Hamming-space near-dup surface
    (text simhash, image perceptual hash): the disjoint-chunk pigeonhole
    join — split the fingerprint into ``max_hamming + 1`` chunks; any
    pair within ``max_hamming`` differing bits must agree exactly on at
    least one chunk, so joining on (chunk_idx, chunk_value) is EXACT and
    never quadratic. ``shiftrightunsigned`` so a set sign bit (honest
    64-bit fingerprints) can't smear into the chunk values.

    Skew/scale structure: the banding join runs over DISTINCT
    fingerprints, not documents.  Dedup-heavy corpora have massively
    repeated fingerprints (byte-identical near-dup groups — the very
    thing this operator exists to find), and banding the raw rows makes
    each repeated group a quadratic hot bucket in the join.  Banding
    distinct fingerprints bounds join work by |distinct fp| x chunks;
    the doc-level pairs are then recovered by two id joins whose output
    IS the result set (within-group hamming-0 pairs + cross-group
    pairs), so no stage does more work than the answer requires.
    """
    n_chunks = int(max_hamming) + 1
    assert n_chunks <= bits, "need at least one bit per chunk"
    sh = materialize(sig.select(id_col, F.col(sig_col).alias("simhash")))
    dfp = sh.select("simhash").distinct()
    base, extra = divmod(bits, n_chunks)
    widths = [base + (1 if i < extra else 0) for i in range(n_chunks)]
    offsets = [sum(widths[:i]) for i in range(n_chunks)]
    chunks = F.array(
        *[
            F.struct(
                F.lit(i).alias("ci"),
                F.shiftrightunsigned(F.col("simhash"), offsets[i])
                .bitwiseAND(F.lit((1 << widths[i]) - 1))
                .alias("cv"),
            )
            for i in range(n_chunks)
        ]
    )
    ix = (
        dfp.select("simhash", F.explode(chunks).alias("c"))
        .select("simhash", F.col("c.ci").alias("ci"), F.col("c.cv").alias("cv"))
        .transform(materialize)  # both sides of the self-join
    )
    a = ix.alias("a")
    b = ix.alias("b")
    hamming = F.bit_count(F.col("fa").bitwiseXOR(F.col("fb")))
    fp_pairs = (
        a.join(b, ["ci", "cv"])
        .filter(F.col("a.simhash") < F.col("b.simhash"))
        .select(F.col("a.simhash").alias("fa"), F.col("b.simhash").alias("fb"))
        .distinct()
        .withColumn("hamming", hamming)
        .filter(F.col("hamming") <= F.lit(int(max_hamming)))
    )
    # cross-group doc pairs: expand each qualifying fingerprint pair
    cross = (
        fp_pairs.join(sh.select(F.col(id_col).alias("ia"), F.col("simhash").alias("fa")), "fa")
        .join(sh.select(F.col(id_col).alias("ib"), F.col("simhash").alias("fb")), "fb")
        .select(
            F.least("ia", "ib").alias("id_a"),
            F.greatest("ia", "ib").alias("id_b"),
            "hamming",
        )
    )
    # within-group pairs: identical fingerprints are hamming 0
    g = sh.alias("ga")
    h = sh.alias("gb")
    within = (
        g.join(h, "simhash")
        .filter(F.col(f"ga.{id_col}") < F.col(f"gb.{id_col}"))
        .select(
            F.col(f"ga.{id_col}").alias("id_a"),
            F.col(f"gb.{id_col}").alias("id_b"),
            F.lit(0).alias("hamming"),
        )
    )
    return cross.unionByName(within).select("id_a", "id_b", "hamming")


def embedding_neardup_pairs(
    df: DataFrame,
    threshold: float = 0.95,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
) -> DataFrame:
    """Exact cosine near-duplicate pairs (all-pairs). Correctness-grade;
    use :func:`embedding_neardup_pairs_lsh` at scale."""
    # r14: norms hoisted out of the O(n^2) join (see cosine_from_norms)
    a = df.select(F.col(id_col).alias("id_a"), F.col(vec_col).alias("va"))
    a = a.withColumn("__na", V.hoisted_norm("va"))
    b = df.select(F.col(id_col).alias("id_b"), F.col(vec_col).alias("vb"))
    b = b.withColumn("__nb", V.hoisted_norm("vb"))
    return (
        a.join(b, F.col("id_a") < F.col("id_b"))
        .withColumn("cosine", V.cosine_from_norms("va", "vb", "__na", "__nb"))
        .filter(F.col("cosine") >= F.lit(float(threshold)))
        .select("id_a", "id_b", "cosine")
    )


def lsh_hyperplane_signatures(
    df: DataFrame,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    num_planes: int = 8,
    num_tables: int = 8,
    seed: int = 42,
    dim: int | None = None,
) -> DataFrame:
    """(id, tbl, sig) random-hyperplane bucket table.

    Computed as one NumPy GEMM per Arrow batch via ``mapInPandas`` — NOT
    as literal-array dot-product expressions. A (tables x planes x dim)
    plane tensor rendered as Catalyst literals creates 10k+-node
    expression trees whose generated code blows out the JVM code cache
    (measured: session-wide ~10x degradation after a few such plans);
    the kernel keeps plans tiny and the math vectorized.
    """
    import numpy as np
    import pandas as pd

    if dim is None:
        dim = len(df.select(vec_col).first()[0])
    rng = np.random.default_rng(seed)
    # (T*P, D) plane matrix; row t*P+p is plane p of table t.
    flat = rng.standard_normal((num_tables * num_planes, dim))
    id_type = df.schema[id_col].dataType.simpleString()
    out_schema = f"{id_col} {id_type}, tbl int, sig long"
    T, P = num_tables, num_planes
    weights = (1 << np.arange(P, dtype=np.int64))

    def gen(batches):
        for pdf in batches:
            if len(pdf) == 0:
                continue
            mat = np.vstack(pdf[vec_col].to_numpy()).astype(np.float64)
            bits = (mat @ flat.T) > 0  # (n, T*P)
            sigs = (bits.reshape(len(pdf), T, P) * weights).sum(axis=2)  # (n, T)
            yield pd.DataFrame(
                {
                    id_col: np.repeat(pdf[id_col].to_numpy(), T),
                    "tbl": np.tile(np.arange(T, dtype=np.int32), len(pdf)),
                    "sig": sigs.ravel(),
                }
            )

    return fit_python_stage(df.select(id_col, vec_col)).mapInPandas(gen, out_schema)


def embedding_neardup_pairs_lsh(
    df: DataFrame,
    threshold: float = 0.95,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    num_planes: int = 8,
    num_tables: int = 8,
    seed: int = 42,
    dim: int | None = None,
) -> DataFrame:
    """Scale path: random-hyperplane LSH bucketing, then exact cosine only
    on bucket-colliding pairs. The bucket join key is (table, signature),
    so candidate volume is O(sum of bucket sizes squared), never a full
    cross product; vectors are joined back by id AFTER candidate dedup so
    the bucket shuffle carries no payload.

    Recall tuning: p_collide(one table) = (1 - theta/pi)^num_planes with
    theta = acos(threshold); overall 1-(1-p)^num_tables. Defaults 8x8
    give ~0.99 at cosine 0.95; use fewer planes / more tables for lower
    thresholds.
    """
    bucketed = lsh_hyperplane_signatures(
        df, vec_col, id_col, num_planes, num_tables, seed, dim
    ).transform(materialize)  # both sides of the self-join
    a = bucketed.alias("a")
    b = bucketed.alias("b")
    cand = (
        a.join(b, ["tbl", "sig"])
        .filter(F.col(f"a.{id_col}") < F.col(f"b.{id_col}"))
        .select(
            F.col(f"a.{id_col}").alias("id_a"), F.col(f"b.{id_col}").alias("id_b")
        )
        .distinct()
    )
    # r14: norms hoisted out of the per-candidate evaluation (see
    # cosine_from_norms) — computed once per row at the vector attach
    va = df.select(F.col(id_col).alias("id_a"), F.col(vec_col).alias("va"))
    va = va.withColumn("__na", V.hoisted_norm("va"))
    vb = df.select(F.col(id_col).alias("id_b"), F.col(vec_col).alias("vb"))
    vb = vb.withColumn("__nb", V.hoisted_norm("vb"))
    return (
        cand.join(va, "id_a")
        .join(vb, "id_b")
        .withColumn("cosine", V.cosine_from_norms("va", "vb", "__na", "__nb"))
        .filter(F.col("cosine") >= F.lit(float(threshold)))
        .select("id_a", "id_b", "cosine")
    )


# ------------------------------------------------------------------
# Exact substring (duplicated-span) dedup — Lee et al. 2021,
# "Deduplicating Training Data Makes Language Models Better"
# (arXiv:2107.06499).  The suffix-array formulation finds verbatim
# token runs repeated across the corpus; the Spark-shaped equivalent
# is a sliding-window span-hash join: hash every `width`-token window,
# group on the hash, and keep hashes seen in >= min_docs distinct
# documents.  Exact (md5 of the literal token run, no sketching), and
# every stage is a Catalyst expression, so it whole-stage-codegens.
#
# Scale: the span table is O(total_tokens / stride) rows keyed by an
# 8-byte-prefix md5 string; the groupBy gets map-side partial
# aggregation and the spans->dup-hash join is keyed on the same hash
# the groupBy shuffled on.  `stride` > 1 trades recall of short
# duplicates for a linear cut in shuffle volume (a duplicated run of
# length >= width + stride - 1 is still always caught).
# ------------------------------------------------------------------


def _span_table(
    df: DataFrame, text_col: str, id_col: str, width: int, stride: int
) -> DataFrame:
    """(id, start, h): md5 span-hash of each `width`-token window at
    1-based token offsets 1, 1+stride, ... over the normalized
    whitespace tokenization.  Docs shorter than `width` yield no rows."""
    toks = df.select(
        id_col, F.split(T.normalized_text(text_col), " ").alias("__t")
    )
    starts = F.sequence(
        F.lit(1), F.size("__t") - F.lit(width - 1), F.lit(stride)
    )
    spans = F.transform(
        starts,
        lambda i: F.struct(
            i.alias("start"),
            F.md5(F.array_join(F.slice("__t", i, width), " ")).alias("h"),
        ),
    )
    return (
        toks.filter(F.size("__t") >= width)
        .select(id_col, F.explode(spans).alias("s"))
        .select(id_col, F.col("s.start").alias("start"), F.col("s.h").alias("h"))
    )


def duplicate_spans(
    df: DataFrame,
    width: int = 10,
    stride: int = 1,
    text_col: str = "text",
    id_col: str = "doc_id",
    min_docs: int = 2,
) -> DataFrame:
    """Every occurrence of a `width`-token span that appears verbatim in
    >= `min_docs` distinct documents.

    Returns (id, start, h, n_docs, n_occ) — one row per occurrence,
    annotated with the hash's corpus-wide document and occurrence
    counts.  Two shuffles, both keyed on the span hash: the counting
    groupBy (map-side combined) and the spans->counts join (AQE picks
    broadcast when the duplicated-hash side is small, which it is for
    any corpus that isn't mostly boilerplate).
    """
    spans = materialize(_span_table(df, text_col, id_col, width, stride))
    counts = (
        spans.groupBy("h")
        .agg(
            F.count_distinct(id_col).alias("n_docs"),
            F.count(F.lit(1)).alias("n_occ"),
        )
        .filter(F.col("n_docs") >= min_docs)
    )
    return spans.join(counts, "h").select(id_col, "start", "h", "n_docs", "n_occ")


def strip_duplicate_spans(
    df: DataFrame,
    width: int = 10,
    stride: int = 1,
    text_col: str = "text",
    id_col: str = "doc_id",
    min_docs: int = 2,
) -> DataFrame:
    """Remove all-but-one occurrence of every cross-document duplicated
    span (the Lee et al. dedup policy: keep one copy, drop the rest).

    The keeper of each duplicated hash is its globally smallest
    (id, start) occurrence.  A token is dropped iff some non-keeper
    occurrence covers it; the surviving tokens are rejoined in order.
    Returns (id, text_clean, n_tokens, n_removed) for EVERY input doc
    (text_clean is the normalized tokenization rejoined — identical to
    the normalized text when nothing was removed).

    Shape: the non-keeper token positions are aggregated into ONE array
    per affected doc (collect_set over an exploded width-window), so the
    final pass is a doc-keyed join of the corpus against only the
    affected docs plus a codegen filter-by-position — the corpus itself
    is never shuffled on anything finer than the doc id.
    """
    occ = duplicate_spans(df, width, stride, text_col, id_col, min_docs)
    keeper = occ.groupBy("h").agg(
        F.min(F.struct(F.col(id_col).alias("i"), F.col("start").alias("s"))).alias("kp")
    )
    non_keepers = (
        occ.join(keeper, "h")
        .filter(~((F.col(id_col) == F.col("kp.i")) & (F.col("start") == F.col("kp.s"))))
        .select(
            id_col,
            F.explode(F.sequence(F.col("start"), F.col("start") + F.lit(width - 1))).alias(
                "pos"
            ),
        )
    )
    covered = non_keepers.groupBy(id_col).agg(F.collect_set("pos").alias("__cov"))
    toks = df.select(
        id_col, F.split(T.normalized_text(text_col), " ").alias("__t")
    )
    # kept positions via array_except (hash-set based: O(n_tokens +
    # n_covered)) rather than per-token array_contains (O(n x m) — a
    # boilerplate-heavy doc with most spans duplicated went quadratic);
    # array_except preserves the first array's order, so positions stay
    # ascending and the rejoin preserves token order.
    keep_pos = F.array_except(
        F.sequence(F.lit(1), F.size("__t")),
        F.coalesce(F.col("__cov"), F.array().cast("array<int>")),
    )
    kept = F.transform(keep_pos, lambda p: F.get("__t", p - F.lit(1)))
    return (
        toks.join(covered, id_col, "left")
        .select(
            id_col,
            F.array_join(kept, " ").alias("text_clean"),
            F.size("__t").alias("n_tokens"),
            F.coalesce(F.size("__cov"), F.lit(0)).alias("n_removed"),
        )
    )


def containment_pairs(
    df: DataFrame,
    threshold: float = 0.8,
    text_col: str = "text",
    id_col: str = "doc_id",
    k: int = 5,
    unit: str = "char",
    prefix_ext: int = 16,
) -> DataFrame:
    """Exact shingle-containment join: ordered pairs (a, b) with
    ``|A ∩ B| / |A| >= threshold`` — "most of A's shingles appear in B",
    the asymmetric cousin of Jaccard that catches quotes, excerpts and
    supersets which symmetric similarity misses (a paragraph lifted
    into a long document has low Jaccard but containment ~1.0).

    Same scale argument as :func:`ngram_jaccard_pairs`, one-sided:
    containment >= t forces overlap >= ceil(t*|A|), so A's rarest-first
    prefix must hit B — join the A-prefix against the FULL inverted
    index (the asymmetric prefix filter: B has no usable prefix because
    containment doesn't bound B's size from above), add the one-sided
    size filter ``|B| >= t*|A|``, then verify candidates exactly
    (:func:`_verify_overlap`).

    ``prefix_ext`` is the count-filter lever: the minimal prefix
    (``|A| - ceil(t*|A|) + 1``) admits every pair sharing a SINGLE rare
    shingle — measured 11.9M candidates funneling to 566 true pairs at
    sf0.1, with the verify join eating the difference.  Extending the
    prefix by ``e - 1`` positions keeps exactness and buys the pruning
    bound ``c >= ceil(t*|A|) - (|A| - L)`` (a true pair's overlap
    outside the prefix is at most ``|A| - L``, so at least that many
    shared shingles must land INSIDE it): candidate-join volume grows a
    few percent, the verify set collapses 500x (22.9k at e=16), and the
    whole join runs 3.5x faster.  Common shingles essentially never
    appear in a rarest-first prefix, so the candidate join never goes
    quadratic.
    """
    t = float(threshold)
    g, arrs = _doc_token_arrays(df, text_col, id_col, k, unit)
    g = materialize(g)
    # spread ahead of the explode+join blow-up (no-op at scale) — same
    # rationale as ngram_jaccard_pairs
    gp = _spread(g)
    pref = _prefix_table(gp, t, prefix_ext, id_col)
    full = gp.select(id_col, "sz", F.explode("toks").alias("p")).select(
        id_col, "sz", F.col("p.h").alias("ph")
    )
    a = pref.alias("a")
    b = full.alias("b")
    cand = (
        a.join(
            b,
            (F.col("a.ph") == F.col("b.ph"))
            & (F.col(f"a.{id_col}") != F.col(f"b.{id_col}"))
            & (F.col("b.sz") >= F.col("a.sz") * F.lit(t)),
        )
        .groupBy(
            F.col(f"a.{id_col}").alias("id_a"),
            F.col(f"b.{id_col}").alias("id_b"),
            F.col("a.sz").alias("sz_a"),
            F.col("a.L").alias("L_a"),
        )
        .agg(F.count(F.lit(1)).alias("c"))
    )
    c_min = F.ceil(F.col("sz_a") * F.lit(t)) - F.greatest(
        F.col("sz_a") - F.col("L_a"), F.lit(0)
    )
    strong = cand.filter(F.col("c") >= c_min).select("id_a", "id_b")
    return (
        _verify_overlap(strong, arrs, id_col)
        .withColumn("containment", F.col("inter") / F.col("sz_a"))
        .filter(F.col("containment") >= F.lit(t))
        .select("id_a", "id_b", "containment")
    )


# ------------------------------------------------------------------
# SemDeDup — semantic deduplication (Abbas et al. 2023,
# arXiv:2303.09540, public method).  Beyond-reference: chromem-go has
# no dedup surface at all (SURVEY §2.4); this is the embedding-space
# member of the dedup family (exact / Jaccard / MinHash / SimHash /
# cosine-LSH / SemDeDup).
# ------------------------------------------------------------------


def semantic_prune(
    df: DataFrame,
    threshold: float = 0.8,
    cluster_col: str = "cluster_id",
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    keep: str = "min_id",
) -> DataFrame:
    """SemDeDup pruning stage: within each cluster, drop every row that
    has a cosine-near (>= ``threshold``) clustermate preferred over it.

    ``keep`` picks the survivor of a near-dup pair:

    - ``"min_id"``  — the smaller id survives (deterministic, and
      exactly replayable in plain SQL — the oracle mode);
    - ``"centroid_closest"`` — the row with higher ``centroid_sim``
      survives (ties broken by smaller id); requires that column, which
      :func:`chromem_go_spark.operators.ann.cluster_embeddings` emits.

    Returns every input row as ``(id_col, cluster_col, kept)``.

    Scale shape: both join sides shuffle ONCE on ``cluster_col``
    (bucketed — never corpus-wide all-pairs); per-cluster pairwise work
    is bounded by cluster size, which the upstream clustering controls
    (SemDeDup's k scales with corpus size so clusters stay ~constant).
    The vectors ride only into the bounded within-cluster join; the
    survivor table carries ids only.
    """
    if keep not in ("min_id", "centroid_closest"):
        raise ValueError(f"unknown keep policy: {keep!r}")
    cols = [id_col, cluster_col]
    if keep == "centroid_closest":
        cols.append("centroid_sim")
    # r14: per-row norms hoisted out of the within-cluster join (see
    # cosine_from_norms; bit-identical values)
    a = df.select(
        *[F.col(c).alias(f"{c}_a") for c in cols],
        F.col(vec_col).alias("__va"),
    ).withColumn("__na", V.hoisted_norm("__va"))
    b = df.select(
        *[F.col(c).alias(f"{c}_b") for c in cols],
        F.col(vec_col).alias("__vb"),
    ).withColumn("__nb", V.hoisted_norm("__vb"))
    if keep == "min_id":
        pref = F.col(f"{id_col}_a") < F.col(f"{id_col}_b")
    else:
        pref = (F.col("centroid_sim_a") > F.col("centroid_sim_b")) | (
            (F.col("centroid_sim_a") == F.col("centroid_sim_b"))
            & (F.col(f"{id_col}_a") < F.col(f"{id_col}_b"))
        )
    # a is the preferred side, so id_b is the loser of every near pair
    losers = (
        a.join(b, (F.col(f"{cluster_col}_a") == F.col(f"{cluster_col}_b")) & pref)
        .filter(
            V.cosine_from_norms("__va", "__vb", "__na", "__nb")
            >= F.lit(float(threshold))
        )
        .select(F.col(f"{id_col}_b").alias(id_col))
        .distinct()
        .withColumn("__lost", F.lit(True))
    )
    return (
        df.select(id_col, cluster_col)
        .join(losers, id_col, "left")
        .select(id_col, cluster_col, F.col("__lost").isNull().alias("kept"))
    )


def semantic_dedup(
    df: DataFrame,
    threshold: float = 0.8,
    n_clusters: int = 8,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    seed: int = 42,
    keep: str = "centroid_closest",
    centroids=None,
) -> DataFrame:
    """Full SemDeDup: spherical k-means cluster assignment
    (:func:`..ann.cluster_embeddings` — GEMM-argmax mapInPandas, corpus
    never shuffled) followed by :func:`semantic_prune` within clusters.
    Returns ``(id_col, cluster_id, centroid_sim, kept)``.

    ``centroids`` injects a pre-trained matrix
    (:func:`..ann.train_cluster_centroids`) so assignment+prune is a
    pure function of the input — the SQL-replayable oracle path.

    At 100 TB: assignment is one Arrow pass against broadcast
    centroids; the prune is one shuffle on ``cluster_id`` with
    per-cluster-bounded pairwise work — k grows with the corpus so the
    per-task cost stays flat."""
    from . import ann

    assigned = ann.cluster_embeddings(
        df.select(id_col, vec_col),
        n_clusters=n_clusters,
        vec_col=vec_col,
        id_col=id_col,
        seed=seed,
        centroids=centroids,
    )
    withvec = assigned.join(df.select(id_col, vec_col), id_col)
    pruned = semantic_prune(
        withvec,
        threshold=threshold,
        cluster_col="cluster_id",
        vec_col=vec_col,
        id_col=id_col,
        keep=keep,
    )
    return pruned.join(
        assigned.select(id_col, "centroid_sim"), id_col
    ).select(id_col, "cluster_id", "centroid_sim", "kept")


_NEW, _REF = "n:", "r:"  # side tags of the keyed two-corpus union


def _tag_sides(
    new_docs: DataFrame, ref_docs: DataFrame, text_col: str, id_col: str
) -> DataFrame:
    """(__key, text) over BOTH corpora: ``__key`` is the side tag +
    the id as a string, so one shingle build, one rarity order and one
    hash family serve both sides and ids may overlap across corpora."""
    tag = lambda df, side: df.select(  # noqa: E731
        F.concat(F.lit(side), F.col(id_col).cast("string")).alias("__key"),
        F.col(text_col),
    )
    return tag(new_docs, _NEW).unionByName(tag(ref_docs, _REF))


def _split_sides(keyed: DataFrame) -> tuple:
    """(new rows, ref rows) of a ``__key``-tagged frame."""
    side = lambda tag: keyed.filter(F.col("__key").startswith(tag))  # noqa: E731
    return side(_NEW), side(_REF)


def _untag_pairs(pairs: DataFrame, new_docs: DataFrame, id_col: str) -> DataFrame:
    """(id_a, id_b, jaccard) over new x ref tagged keys ->
    (id_new, id_ref, jaccard) with the tags stripped and the ids cast
    back to the input id type."""
    id_type = new_docs.schema[id_col].dataType.simpleString()
    start = len(_NEW) + 1  # both tags have the same length
    strip = lambda c: F.expr(f"substring({c}, {start})").cast(id_type)  # noqa: E731
    return pairs.select(
        strip("id_a").alias("id_new"), strip("id_b").alias("id_ref"), "jaccard"
    )


def cross_corpus_neardup_pairs(
    new_docs: DataFrame,
    ref_docs: DataFrame,
    threshold: float = 0.8,
    text_col: str = "text",
    id_col: str = "doc_id",
    k: int = 5,
    unit: str = "char",
    prefix_ext: int = 16,
) -> DataFrame:
    """Exact CROSS-corpus n-gram Jaccard join: every (new, ref) pair
    with similarity >= ``threshold`` — the "dedupe the incoming crawl
    against the existing training corpus" operation (and the near-dup
    tier of train/eval decontamination).

    Same prefix-filtered plan as :func:`ngram_jaccard_pairs`, with the
    shingle rarity order computed over the UNION of both corpora — the
    prefix and count-bound exactness arguments require one shared
    global order, and union document-frequency is also the better
    rarity signal.  The candidate join pairs only new-side prefixes
    with ref-side prefixes (never within a corpus), so a crawl much
    smaller than the reference pays for its own size, not the
    reference's square.  Returns (id_new, id_ref, jaccard)."""
    t = float(threshold)
    keyed = _tag_sides(new_docs, ref_docs, text_col, id_col)
    g, arrs = _doc_token_arrays(keyed, text_col, "__key", k, unit)
    g = materialize(g)
    # spread ahead of the explode+join blow-up (no-op at scale).  The
    # asymmetric short prefix does NOT apply here: direction is
    # corpus-based (new x ref), not size-based, so neither side is
    # provably the smaller doc of its pairs.
    pref_new, pref_ref = _split_sides(
        _prefix_table(_spread(g), t, prefix_ext, "__key")
    )
    cand = _count_bound_candidates(
        pref_new,
        pref_ref,
        (F.col("a.ph") == F.col("b.ph"))
        & (F.col("b.sz") >= F.col("a.sz") * F.lit(t))
        & (F.col("b.sz") * F.lit(t) <= F.col("a.sz")),
        "__key",
        t,
    )
    return _untag_pairs(_verify_jaccard(cand, arrs, "__key", t), new_docs, id_col)


def cross_corpus_minhash_pairs(
    new_docs: DataFrame,
    ref_docs: DataFrame,
    threshold: float = 0.8,
    text_col: str = "text",
    id_col: str = "doc_id",
    k: int = 5,
    num_hashes: int = 64,
    bands: int = 16,
    seed: int = 42,
) -> DataFrame:
    """MinHash+LSH twin of :func:`cross_corpus_neardup_pairs` — the
    100 TB path for deduping an incoming corpus against a reference:
    signatures built over the tagged union (one shared hash family),
    banded buckets joined NEW-side vs REF-side only, candidates
    verified with exact Jaccard.  Returns (id_new, id_ref, jaccard).

    Candidate volume is O(colliding buckets across sides), never
    new x ref; the reference's buckets are exactly what the
    incremental ingest state stores, so this is also the batch twin of
    :func:`..streaming.ingest.incremental_neardup_batch`'s
    cross-history join."""
    keyed = _tag_sides(new_docs, ref_docs, text_col, id_col)
    # checkpointed per-doc hash ARRAYS feed both the lanes and the
    # verify; eager, as in minhash_lsh_pairs
    arrs = materialize(_hashed_shingle_arrays(keyed, text_col, "__key", k))
    buckets = _lsh_buckets(arrs, "__key", num_hashes, bands, seed).transform(
        materialize
    )
    new_b, ref_b = _split_sides(buckets)
    cand = (
        new_b.alias("a")
        .join(ref_b.alias("b"), ["band", "bucket"])
        .select(F.col("a.__key").alias("id_a"), F.col("b.__key").alias("id_b"))
        .distinct()
    )
    return _untag_pairs(
        _verify_jaccard(cand, arrs, "__key", threshold), new_docs, id_col
    )


def semantic_dedup_clusters(
    df: DataFrame,
    threshold: float = 0.8,
    cluster_col: str | None = None,
    n_clusters: int = 8,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    seed: int = 42,
    algorithm: str = "label",
) -> DataFrame:
    """Semantic near-dup CLUSTERING: within-cluster cosine pairs (the
    SemDeDup candidate graph) resolved to connected components — one
    ``cluster_rep`` per item, the same contract as
    :func:`dedup_clusters` for the embedding modality.  Group-level
    retention policies (keep-best, keep-centroid-closest) then apply
    over the components instead of the non-transitive pairwise rule.

    ``cluster_col`` names a precomputed assignment (SQL-replayable
    path); with ``None`` the spherical k-means quantizer assigns
    (:func:`semantic_dedup`'s path).  Scale: the pair graph is the
    bucketed within-cluster join; components run in O(log n) rounds
    over pair rows only."""
    if cluster_col is None:
        from . import ann

        assigned = ann.cluster_embeddings(
            df.select(id_col, vec_col),
            n_clusters=n_clusters, vec_col=vec_col, id_col=id_col, seed=seed,
        ).join(df.select(id_col, vec_col), id_col)
        cluster_col = "cluster_id"
    else:
        assigned = df.select(id_col, cluster_col, vec_col)
    # r14: per-row norms are computed ONCE per side before the
    # within-cluster join (cosine_from_norms) — cosine_similarity would
    # re-aggregate each row's norm once per PARTNER across O(pairs)
    # rows; bit-identical values (same subexpressions, same op order).
    a = assigned.select(
        F.col(id_col).alias("id_a"), F.col(cluster_col).alias("__c"),
        F.col(vec_col).alias("va"),
    ).withColumn("__na", V.hoisted_norm("va"))
    b = assigned.select(
        F.col(id_col).alias("id_b"), F.col(cluster_col).alias("__c"),
        F.col(vec_col).alias("vb"),
    ).withColumn("__nb", V.hoisted_norm("vb"))
    pairs = (
        a.join(b, "__c")
        .filter(F.col("id_a") < F.col("id_b"))
        .filter(
            V.cosine_from_norms("va", "vb", "__na", "__nb")
            >= F.lit(float(threshold))
        )
        .select("id_a", "id_b")
    )
    cc = (
        connected_components_star(pairs)
        if algorithm == "star"
        else connected_components(pairs)
    )
    return (
        df.select(F.col(id_col))
        .join(cc.withColumnRenamed("node", id_col), id_col, "left")
        .select(
            id_col,
            F.coalesce("component", F.col(id_col)).alias("cluster_rep"),
        )
    )


# ------------------------------------------------------------------
# Bloom-filter exact dedup — the bounded-memory membership gate
# (public method: Bloom 1970; the Dolma pipeline, Soldaini et al.
# 2024, dedupes web-scale corpora exactly this way: accept a small
# false-positive rate — a few genuinely-new docs dropped — in
# exchange for O(m)-memory membership against an arbitrarily large
# history).  Spark-first realization: the filter IS a distinct set of
# k hash POSITIONS per fingerprint (semantically identical to the bit
# array — bit j set <=> j in the set), kept columnar so membership is
# one broadcast semi-join, all codegen, replayable in SQL.
# pack_bloom/bloom_might_contain give the byte-array form a serving
# tier holds in RAM.
# ------------------------------------------------------------------


def _bloom_position_cols(fp_col, m_bits: int, k_hashes: int):
    """The k deterministic bit positions of a fingerprint COLUMN:
    md5(fingerprint || ':' || i) folded to a long, mod m — the
    engine-portable hash family (functions/text.md5_hash60), so the
    DuckDB oracle replays every position bit-for-bit."""
    return [
        (T.md5_hash60(F.concat(fp_col, F.lit(f":{i}"))) % m_bits).alias(
            f"__p{i}"
        )
        for i in range(k_hashes)
    ]


def build_fingerprint_bloom(
    docs: DataFrame,
    text_col: str = "text",
    m_bits: int = 1 << 20,
    k_hashes: int = 4,
) -> DataFrame:
    """The Bloom filter over a corpus's document fingerprints, as its
    distinct set-bit positions: one projection + distinct (single
    map-side-combined shuffle), at most ``m_bits`` rows out no matter
    the corpus size — the bounded-state property that makes the gate
    usable against an unbounded history.  Returns a one-column frame
    ``(p long)``; feed to :func:`bloom_filter_new` (broadcast) or
    :func:`pack_bloom` (byte array for a serving node).

    Sizing (standard Bloom math): false-positive rate ≈
    (1 - e^(-k*n/m))^k; the defaults (m=1M bits, k=4) give ~2.4e-3 at
    n=100k fingerprints.  A false positive DROPS a genuinely-new
    document — the deliberate Dolma-style trade; never use this gate
    where exact recall of new documents is required (use
    :func:`exact_duplicates`'s join instead)."""
    fp = T.fingerprint(text_col)
    return (
        docs.select(
            F.explode(
                F.array_distinct(
                    F.array(*_bloom_position_cols(fp, m_bits, k_hashes))
                )
            ).alias("p")
        )
        .distinct()
    )


def bloom_filter_new(
    docs: DataFrame,
    bloom: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    m_bits: int = 1 << 20,
    k_hashes: int = 4,
) -> DataFrame:
    """Keep the documents whose fingerprint is DEFINITELY NOT in the
    bloom (all-new docs): a doc is a (probable) member iff ALL of its
    k positions are set, so it survives iff at least one position is
    unset.  The bloom side is bounded by ``m_bits`` rows — broadcast —
    and the check is one semi-join + count compare, no Python.
    ``m_bits``/``k_hashes`` MUST match the build (they define the hash
    family).  Exact duplicates of the build corpus are always caught
    (no false negatives — membership is decided per DISTINCT
    fingerprint, so duplicate id or text rows cannot split the
    position count); a ~fp-rate share of new docs is dropped.
    ``id_col`` is unused since r8 (kept for signature stability)."""
    del id_col  # membership keys on the fingerprint, not the id
    fpc = T.fingerprint(text_col)
    parr = F.array_distinct(
        F.array(*_bloom_position_cols(F.col("__fp"), m_bits, k_hashes))
    )
    cand = docs.select(fpc.alias("__fp")).distinct()
    exploded = cand.select(
        "__fp", F.size(parr).alias("__np"), F.explode(parr).alias("p")
    )
    member = (
        exploded.join(F.broadcast(bloom), "p", "left_semi")
        .groupBy("__fp", "__np")
        .agg(F.count(F.lit(1)).alias("__hit"))
        .filter(F.col("__hit") == F.col("__np"))  # all positions set
        .select("__fp")
    )
    return (
        docs.withColumn("__fp", fpc)
        .join(member, "__fp", "left_anti")
        .drop("__fp")
    )


def pack_bloom(bloom: DataFrame, m_bits: int = 1 << 20) -> bytes:
    """The byte-array form of the filter (m_bits/8 bytes) for a
    serving/driver node: bit ``p`` of the array is set iff ``p`` is in
    the position set.  Collect is bounded by m_bits rows (the whole
    point of a Bloom filter), never by corpus size."""
    import numpy as np

    arr = np.zeros(m_bits, dtype=np.uint8)
    pos = np.fromiter(
        (r[0] for r in bloom.collect()), dtype=np.int64
    )
    if pos.size:
        arr[pos] = 1
    return np.packbits(arr).tobytes()


def bloom_might_contain(
    packed: bytes, text: str, m_bits: int = 1 << 20, k_hashes: int = 4
) -> bool:
    """Driver-side membership against :func:`pack_bloom` output —
    the microsecond-scale gate a streaming ingester runs per doc.
    Uses the SAME hash family as the Spark side (md5 of the
    whitespace-normalized, lowercased text), so the two forms agree
    on every document.  The whitespace class is spelled out as Java
    regex ``\\s`` = ASCII ``[ \\t\\n\\x0b\\f\\r]`` — Python's Unicode
    ``\\s`` would also collapse non-breaking spaces etc. and hash a
    different string than the JVM side (a false NEGATIVE against a
    Spark-built filter)."""
    import hashlib
    import re

    # after the collapse only plain spaces remain at the edges, and
    # Spark's trim() strips spaces only — mirror that exactly
    norm = re.sub(r"[ \t\n\x0b\f\r]+", " ", text.lower()).strip(" ")
    fp = hashlib.md5(norm.encode()).hexdigest()
    for i in range(k_hashes):
        h = hashlib.md5(f"{fp}:{i}".encode()).hexdigest()
        p = int(h[:15], 16) % m_bits
        if not (packed[p >> 3] >> (7 - (p & 7))) & 1:
            return False
    return True
