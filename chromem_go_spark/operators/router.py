"""Unified query router: pick the ANN tier for a vector search.

The repo grew several search entry points (brute-force FLAT
``knn.knn_single``, ``IVFIndex.search``/``search_filtered``, the coded
tiers' shared ``search_batch`` behind ``IVFSQIndex`` and
``IVFPQIndex``, served HNSW) and callers had to choose manually.
:func:`choose_tier` encodes the choice as an inspectable decision,
:func:`decide` turns ``"auto"`` or a tier name into one, and
:func:`routed_search` dispatches it; the
``Collection.query_embedding(index="auto")`` surface wraps all three.

Tier ladder and DOCUMENTED thresholds (all overridable per call):

- **FLAT** while ``n_docs <= flat_max_docs`` (default 100k): one exact
  GEMM scan, 0 shuffles, TakeOrderedAndProject.  An index probe pays
  centroid argmax + partition pruning + (for quantized tiers) a
  re-rank join — overhead that beats the scan only once the scan is
  the dominant cost.  Also the unconditional tier for query shapes
  the quantized tiers can't express (negative modes, ``$contains``).
- **IVF (flat vectors)** above ``flat_max_docs``: probing
  ``nprobe/n_clusters`` of the corpus turns the scan into partition
  pruning with zero quantization loss.  Also the REQUIRED tier when a
  metadata ``where`` must run below scoring — quantized candidates
  carry codes only, so predicates can't reach them.
- **IVF-SQ8** from ``sq_min_docs`` (default 5M) when
  ``target_recall <= 0.995``: uint8 codes cut the probed read 4x;
  measured recall@10 = 0.994 at rerank=10k (RECALL.md), so the tier is
  withheld from stricter targets.
- **IVF-PQ** when the full-precision vector bytes exceed
  ``pq_min_bytes`` (default 256 GiB — the regime where even 4x-smaller
  SQ8 reads dominate) and ``target_recall <= 0.98``: m-byte codes
  (dim*4/m compression) + ADC shortlist + exact re-rank.

Operating-point heuristics (superseded by a measured ``tuned`` dict
from :func:`..ann.tune_ivf` / :func:`..ann.tune_ivf_sq` when given —
sweeps beat formulas):

- ``n_clusters``: 2^round(log2(sqrt(n_docs))) clamped to [8, 65536]
  (the standard sqrt(N) IVF sizing: balances cells scanned per probe
  against cells to rank).
- ``nprobe`` from ``target_recall``: >= 0.999 probes everything (the
  exact-identity setting the oracles use), >= 0.99 probes 1/4 of the
  cells, >= 0.95 probes 1/8, below that 1/16.
- ``rerank`` (coded tiers only): ``max(10k, 100)`` for SQ8,
  ``max(20k, 200)`` for PQ (PQ's ADC is lossier, so its shortlist is
  deeper).

A served index keeps its own ``n_clusters``; nprobe and rerank follow
the same rules as a decided tier (:func:`_operating_point`).
"""

from __future__ import annotations

import math
from collections.abc import Sequence

from pyspark.sql import Column, DataFrame

FLAT_MAX_DOCS = 100_000
SQ_MIN_DOCS = 5_000_000
PQ_MIN_BYTES = 256 << 30

TIERS = ("flat", "ivf", "ivf_sq", "ivf_pq")


def _nlist(n_docs: int) -> int:
    return min(65_536, max(8, 1 << round(math.log2(max(n_docs, 4) ** 0.5))))


def _nprobe(nlist: int, target_recall: float) -> int:
    if target_recall >= 0.999:
        return nlist
    if target_recall >= 0.99:
        return max(nlist // 4, 1)
    if target_recall >= 0.95:
        return max(nlist // 8, 1)
    return max(nlist // 16, 1)


def choose_tier(
    n_docs: int,
    dim: int,
    k: int = 10,
    target_recall: float = 0.95,
    filtered: bool = False,
    tuned: dict | None = None,
    flat_max_docs: int = FLAT_MAX_DOCS,
    sq_min_docs: int = SQ_MIN_DOCS,
    pq_min_bytes: int = PQ_MIN_BYTES,
) -> dict:
    """The routing decision as data: ``{"tier", "n_clusters", "nprobe",
    "rerank", "reason"}`` (index params are ``None`` for flat).

    ``filtered`` marks a metadata-``where`` query (quantized tiers are
    excluded).  ``tuned`` is a measured operating point from
    ``tune_ivf``/``tune_ivf_sq`` — its ``n_clusters``/``nprobe``/
    ``rerank`` override the heuristics (but never the tier ladder)."""
    vec_bytes = n_docs * dim * 4  # float32 storage
    if n_docs <= flat_max_docs:
        tier = "flat"
        reason = f"n_docs {n_docs} <= flat_max_docs {flat_max_docs}"
    elif filtered:
        tier = "ivf"
        reason = "metadata filter requires full-vector probed partitions"
    elif vec_bytes > pq_min_bytes and target_recall <= 0.98:
        tier = "ivf_pq"
        reason = (
            f"vector bytes {vec_bytes} > pq_min_bytes {pq_min_bytes} "
            f"at target_recall {target_recall}"
        )
    elif n_docs >= sq_min_docs and target_recall <= 0.995:
        tier = "ivf_sq"
        reason = (
            f"n_docs {n_docs} >= sq_min_docs {sq_min_docs} "
            f"at target_recall {target_recall}"
        )
    else:
        tier = "ivf"
        reason = (
            f"n_docs {n_docs} > flat_max_docs {flat_max_docs}; "
            f"target_recall {target_recall} keeps full-precision vectors"
        )

    if tier == "flat":
        return _flat_decision(reason)
    if tuned:
        reason += " (tuned operating point)"
    return _operating_point(
        tier, _nlist(n_docs), k, target_recall, tuned, reason
    )


def _flat_decision(reason: str) -> dict:
    return {
        "tier": "flat", "n_clusters": None, "nprobe": None,
        "rerank": None, "reason": reason,
    }


def _operating_point(
    tier: str,
    nlist: int,
    k: int,
    target_recall: float,
    tuned: dict | None,
    reason: str,
) -> dict:
    """The decision dict of an IVF-family tier: nprobe from the recall
    target, rerank by the documented rule (SQ8 ``max(10k, 100)``, PQ
    ``max(20k, 200)``, none for flat-vector IVF), and a measured
    ``tuned`` point overriding all three."""
    nprobe = _nprobe(nlist, target_recall)
    rerank = {"ivf_sq": max(10 * k, 100), "ivf_pq": max(20 * k, 200)}.get(tier)
    if tuned:
        nlist = int(tuned.get("n_clusters", nlist))
        nprobe = int(tuned.get("nprobe", nprobe))
        if tuned.get("rerank") is not None and rerank is not None:
            rerank = int(tuned["rerank"])
    return {
        "tier": tier, "n_clusters": nlist, "nprobe": min(nprobe, nlist),
        "rerank": rerank, "reason": reason,
    }


def forced_decision(
    tier: str,
    n_docs: int,
    k: int = 10,
    target_recall: float = 0.95,
    tuned: dict | None = None,
) -> dict:
    """A decision dict for an explicitly requested tier (the caller
    overrides the ladder; operating point still follows the heuristics
    / ``tuned``)."""
    if tier not in TIERS:
        raise ValueError(f"unknown tier {tier!r}; expected one of {TIERS}")
    if tier == "flat":
        return _flat_decision("caller-forced tier")
    return _operating_point(
        tier, _nlist(n_docs), k, target_recall, tuned, "caller-forced tier"
    )


def decide(
    index,
    n_docs: int,
    dim: int,
    k: int = 10,
    target_recall: float = 0.95,
    filtered: bool = False,
    tuned: dict | None = None,
    **thresholds,
) -> dict:
    """The ONE tier decision for ``index`` ``None``/``"auto"`` (the
    :func:`choose_tier` ladder) or a tier name (:func:`forced_decision`).
    A ``filtered`` query must land on a full-vector tier: forcing a
    quantized one raises."""
    if index is None or index == "auto":
        decision = choose_tier(
            n_docs, dim, k=k, target_recall=target_recall,
            filtered=filtered, tuned=tuned, **thresholds,
        )
    else:
        decision = forced_decision(
            index, n_docs, k=k, target_recall=target_recall, tuned=tuned
        )
    _check_filtered_tier(decision, filtered)
    return decision


def _check_filtered_tier(decision: dict, filtered: bool) -> None:
    if filtered and decision["tier"] in ("ivf_sq", "ivf_pq"):
        raise ValueError(_filtered_tier_error(decision["tier"]))


def _filtered_tier_error(tier: str) -> str:
    if tier == "hnsw":
        return (
            "filtered ANN search on the served HNSW tier takes the "
            "materialized `allowed` id-set form (a graph walk cannot "
            "evaluate a Column predicate; collection.query_embedding "
            "builds the set) — or use the IVF (flat) index / the "
            "exact scan path"
        )
    return (
        "filtered ANN search requires the IVF (flat) index; "
        "quantized (PQ/SQ) candidates carry codes only"
    )


def _filtered_index_error(index) -> str:
    """:func:`_filtered_tier_error` for a served index object; an
    object of no known tier reads as quantized."""
    try:
        tier = tier_of(index)
    except TypeError:
        tier = "quantized"
    return _filtered_tier_error(tier)


def tier_of(index) -> str:
    """The tier a served index object belongs to."""
    from . import ann as A
    from .hnsw import HNSWIndex, ShardedHNSW

    if isinstance(index, (HNSWIndex, ShardedHNSW)):
        # served-only: auto never builds one per query.  The sharded
        # handle (r9) quacks like the single graph — n_points() for the
        # exact-ef mapping (>= every shard's size), search_batch(spark,
        # ...) for dispatch — so one tier covers both.
        return "hnsw"
    if isinstance(index, A.IVFPQIndex):
        return "ivf_pq"
    if isinstance(index, A.IVFSQIndex):
        return "ivf_sq"
    if isinstance(index, A.IVFIndex):
        return "ivf"
    raise TypeError(f"not a served ANN index: {type(index).__name__}")


def _served_decision(index, k: int, target_recall: float) -> dict:
    """The decision for a served ``index``: its own tier and
    ``n_clusters``, with the same nprobe and rerank rules a decided
    tier gets.  A served graph carries its walk's ``ef`` instead:
    every point at ``target_recall >= 0.999`` (exhaustive, exact),
    else ``max(4k, 64)``."""
    tier = tier_of(index)
    reason = "served index available"
    if tier == "hnsw":
        ef = index.n_points() if target_recall >= 0.999 else max(4 * k, 64)
        return {"tier": tier, "ef": ef, "reason": reason}
    return _operating_point(
        tier, len(index.centroids), k, target_recall, None, reason
    )


def _build_tier_or_flat(decision, df, vec_col, id_col, seed):
    """Build the decided tier's on-the-fly index, demoting an EMPTY
    corpus frame to a FLAT no-op scan instead of crashing the
    quantizer trainer.

    Emptiness is detected from the builder's own sampling job (its
    typed ``EmptyCorpusError`` — r11, ADVICE: previously a substring
    match on the message, which could mis-file a sampling anomaly as
    an empty corpus), NOT a separate ``df.isEmpty()`` pre-check —
    r10, ADVICE: the pre-check was an extra Spark job on EVERY
    non-flat routed search, paid even when the caller had already
    counted the frame.  An upstream prune that empties the frame (the
    r8 scenario — the decision was sized on a stale/full count) still
    lands here safely: the build is the first job that touches the
    rows, it raises, and the query answers empty through FLAT.
    Returns ``(index, decision)``."""
    from . import ann as A

    builders = {
        "ivf": A.IVFIndex.build,
        "ivf_sq": A.IVFSQIndex.build,
        "ivf_pq": A.IVFPQIndex.build,
    }
    if decision["tier"] not in builders:
        return None, decision
    try:
        return builders[decision["tier"]](
            df, n_clusters=decision["n_clusters"],
            vec_col=vec_col, id_col=id_col, seed=seed,
        ), decision
    except A.EmptyCorpusError:
        return None, _flat_decision("empty corpus frame")


def _route(
    df, index, filtered, allowed, decision, n_docs, dim, k, target_recall,
    tuned, vec_col, id_col, seed, thresholds,
):
    """The front half :func:`routed_search` and
    :func:`routed_search_batch` share: check the filter forms against
    the tier, then take a served index's decision — or decide ``index``
    ``None``/``"auto"``/a tier name with :func:`decide` (unless the
    caller passed ``decision``) and build that tier on the fly.
    ``filtered`` marks a ``where`` or per-query filter classes: both
    need a full-vector tier.  Returns ``(index, decision)``; ``index``
    is None for flat."""
    served = index is not None and not isinstance(index, str)
    tier = tier_of(index) if served else None
    if allowed is not None and tier != "hnsw":
        raise ValueError(
            "allowed id-set filtering is the served graph tier's "
            "filter form; pass a Column `where` for every other tier"
        )
    if served:
        if filtered and tier != "ivf":
            raise ValueError(_filtered_tier_error(tier))
        return index, _served_decision(index, k, target_recall)
    if decision is None:
        if n_docs is None:
            n_docs = df.count()
        decision = decide(
            index, n_docs, dim, k=k, target_recall=target_recall,
            filtered=filtered, tuned=tuned, **thresholds,
        )
    else:
        _check_filtered_tier(decision, filtered)
    return _build_tier_or_flat(decision, df, vec_col, id_col, seed)


def routed_search(
    df: DataFrame,
    query_vec: Sequence[float],
    k: int,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    index=None,
    target_recall: float = 0.95,
    where: Column | None = None,
    tuned: dict | None = None,
    seed: int = 42,
    decision: dict | None = None,
    n_docs: int | None = None,
    allowed: set | None = None,
    **thresholds,
) -> DataFrame:
    """Route one vector query through :func:`decide` and run it.

    A served ``index`` object wins (availability beats heuristics: the
    build cost is already sunk) — its tier is used with the
    recall-mapped nprobe for its actual ``n_clusters``.  Otherwise
    ``index`` is ``None``/``"auto"`` (the ladder) or a tier name
    (forced), and the decided tier's index is built on the fly
    (experimentation shape;
    at scale indexes are served, not per-query).  ``where`` is a
    pre-filter Column — it forces a full-vector tier.  ``allowed``
    (r11) is the GRAPH tier's filter form: the where-predicate's
    matching ids, already materialized to a bounded set (the caller —
    collection.query_embedding — pays that one job and enforces the
    cap); served HNSW walks gate result eligibility on it (hnsw.py
    module doc) instead of raising the filtered-tier error.  Returns
    rows with ``similarity``, highest first (quantized tiers return
    ``(id, similarity)``; flat tiers carry the input columns through).
    """
    from . import knn as K

    qv = [float(x) for x in query_vec]
    index, decision = _route(
        df, index, where is not None, allowed, decision, n_docs, len(qv), k,
        target_recall, tuned, vec_col, id_col, seed, thresholds,
    )
    tier = decision["tier"]
    if tier == "hnsw":
        # served graph index (operators/hnsw.py)
        return index.search_batch(
            df.sparkSession, ["0"], [qv], k, ef=decision["ef"], allowed=allowed
        ).drop("query_id")
    if tier == "flat":
        base = df.filter(where) if where is not None else df
        return K.knn_single(base, qv, k, vec_col=vec_col, id_col=id_col)
    if where is not None:
        return index.search_filtered(
            qv, k, nprobe=decision["nprobe"], where=where
        )
    if tier == "ivf":
        return index.search(qv, k, nprobe=decision["nprobe"])
    return index.search_batch(
        ["0"], [qv], k, nprobe=decision["nprobe"],
        rerank=decision["rerank"],
    ).drop("query_id")


def routed_search_batch(
    df: DataFrame,
    query_ids: Sequence,
    query_vecs: Sequence[Sequence[float]],
    k: int,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    index=None,
    target_recall: float = 0.95,
    where: Column | None = None,
    tuned: dict | None = None,
    seed: int = 42,
    decision: dict | None = None,
    n_docs: int | None = None,
    precision: str = "float64",
    allowed: set | None = None,
    classes: Column | None = None,
    class_of: Sequence[int] | None = None,
    **thresholds,
) -> DataFrame:
    """Route a whole BATCH of query vectors through ONE tier decision
    and run them together — the engine's identity shape (the reference
    answers one query at a time; Spark's win is scoring the batch in
    one corpus pass, SURVEY §7.1).

    The decision logic is :func:`routed_search`'s own (one ladder, not
    two): a served ``index`` wins, else :func:`choose_tier` picks from
    corpus size / recall / filteredness.  Dispatch per tier:

    - **FLAT** → :func:`..knn.knn_block` (one GEMM per Arrow batch of
      the corpus scores ALL queries; ``where`` filters the scan first).
    - **IVF** → :meth:`..ann.IVFIndex.search_batch` (knn_block's GEMM
      over the probed cells, each query masked to its own cells;
      ``where`` applies below scoring inside the probed partitions).
    - **IVF-SQ8 / IVF-PQ** → the coded container's ``search_batch``
      (one uint8 / ADC pass for all queries + shared exact re-rank).
      ``where`` or ``classes`` raises — quantized candidates carry
      codes only.
    - **HNSW** (served only) → driver-side walks per query, one frame.

    ``classes`` / ``class_of`` are per-query filters as classes
    (``filters.filter_classes``), masked inside the FLAT and IVF
    GEMM kernel like the probe.

    Returns (query_id string, <id_col>, similarity), per-query top-k,
    the shape every tier's batch API already shares.  ``precision``
    applies to the FLAT GEMM only (float32 = the reference's own
    arithmetic; quantized tiers have their own code precision).
    ``allowed`` (r11) is the graph tier's filter form — ONE
    materialized id set shared by the whole batch (see
    :func:`routed_search`)."""
    from . import knn as K

    qvecs = [[float(x) for x in qv] for qv in query_vecs]
    # materialize ONCE: iterator inputs must not be exhausted by the
    # length check (the tiers' zip() would then silently drop queries)
    qids = list(query_ids)
    if not qvecs:
        raise ValueError("queryEmbedding is empty")
    if len(qids) != len(qvecs):
        raise ValueError(
            f"query_ids ({len(qids)}) and query_vecs "
            f"({len(qvecs)}) must be the same length"
        )
    index, decision = _route(
        df, index, where is not None or classes is not None, allowed,
        decision, n_docs, len(qvecs[0]), k,
        target_recall, tuned, vec_col, id_col, seed, thresholds,
    )
    tier = decision["tier"]
    if tier == "hnsw":
        return index.search_batch(
            df.sparkSession, qids, qvecs, k, ef=decision["ef"], allowed=allowed
        )
    if tier == "flat":
        base = df.filter(where) if where is not None else df
        return K.knn_block(
            base, qids, qvecs, k,
            vec_col=vec_col, id_col=id_col, precision=precision,
            classes=classes, class_of=class_of,
        )
    if tier == "ivf":
        return index.search_batch(
            qids, qvecs, k,
            nprobe=decision["nprobe"], where=where,
            classes=classes, class_of=class_of,
        )
    return index.search_batch(
        qids, qvecs, k,
        nprobe=decision["nprobe"], rerank=decision["rerank"],
    )
