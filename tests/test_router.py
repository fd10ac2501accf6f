"""Unified ANN tier router (operators/router.py): decision ladder,
operating-point heuristics, tuned overrides, and — the load-bearing
part — parity: every routed tier at its exact-identity setting returns
the same rows as brute force.
"""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from chromem_go_spark.operators import knn as K
from chromem_go_spark.operators import router as R

DIM = 64


# ------------------------------------------------------- decision ladder


def test_small_corpus_routes_flat():
    d = R.choose_tier(50_000, DIM)
    assert d["tier"] == "flat" and d["n_clusters"] is None


def test_mid_corpus_routes_ivf():
    d = R.choose_tier(1_000_000, DIM)
    assert d["tier"] == "ivf"
    assert d["n_clusters"] == 1024  # 2^round(log2(sqrt(1e6)))
    assert d["nprobe"] == 128  # target 0.95 -> nlist/8


def test_large_corpus_routes_sq():
    d = R.choose_tier(10_000_000, DIM)
    assert d["tier"] == "ivf_sq" and d["rerank"] == 100


def test_strict_recall_withholds_sq():
    d = R.choose_tier(10_000_000, DIM, target_recall=0.999)
    assert d["tier"] == "ivf"
    assert d["nprobe"] == d["n_clusters"]  # 0.999 -> probe everything


def test_huge_bytes_route_pq():
    # 2e9 docs x 1536 dims x 4 bytes = ~12 TB of vectors
    d = R.choose_tier(2_000_000_000, 1536)
    assert d["tier"] == "ivf_pq" and d["rerank"] == 200


def test_filtered_never_quantized():
    d = R.choose_tier(2_000_000_000, 1536, filtered=True)
    assert d["tier"] == "ivf"


def test_tuned_overrides_heuristics():
    tuned = {"n_clusters": 32, "nprobe": 4, "rerank": 500}
    d = R.choose_tier(10_000_000, DIM, tuned=tuned)
    assert (d["n_clusters"], d["nprobe"], d["rerank"]) == (32, 4, 500)
    assert "tuned" in d["reason"]


def test_forced_decision_and_bad_tier():
    d = R.forced_decision("ivf_pq", 1_000_000)
    assert d["tier"] == "ivf_pq" and d["rerank"] == 200
    with pytest.raises(ValueError, match="unknown tier"):
        R.forced_decision("hnsw", 10)


# ------------------------------------------------------- routed parity


@pytest.fixture(scope="module")
def emb(spark, sf_dir):
    # unpersist on teardown (see test_hnsw.emb: cached-plan leakage
    # breaks other modules' pushdown gates)
    df = spark.read.parquet(f"{sf_dir}/embeddings.parquet").cache()
    yield df
    df.unpersist()


@pytest.fixture(scope="module")
def qvec(emb):
    row = emb.filter(F.col("vec_id") == 0).select("embedding").head()
    return [float(x) for x in row[0]]


def _flat_top(emb, qvec, k=10):
    return {
        (r["vec_id"], round(r["similarity"], 6))
        for r in K.knn_single(
            emb, qvec, k, vec_col="embedding", id_col="vec_id"
        ).collect()
    }


def test_auto_routes_flat_below_threshold(emb, qvec):
    out = R.routed_search(emb, qvec, 10)
    got = {
        (r["vec_id"], round(r["similarity"], 6)) for r in out.collect()
    }
    assert got == _flat_top(emb, qvec)


@pytest.mark.parametrize("tier", ["ivf", "ivf_sq", "ivf_pq"])
def test_each_tier_exact_identity(emb, qvec, tier):
    """Forced tier at nprobe=all (+ generous rerank) == brute force —
    the nprobe-all identity that certifies every quantized tier."""
    n = emb.count()
    decision = R.forced_decision(tier, n, k=10, target_recall=0.999)
    decision["rerank"] = n if decision["rerank"] else None
    out = R.routed_search(emb, qvec, 10, decision=decision, n_docs=n)
    got = {
        (r["vec_id"], round(r["similarity"], 6)) for r in out.collect()
    }
    assert got == _flat_top(emb, qvec)


def test_served_index_wins(emb, qvec):
    from chromem_go_spark.operators import ann as A

    idx = A.IVFIndex.build(
        emb, n_clusters=8, vec_col="embedding", id_col="vec_id"
    )
    out = R.routed_search(
        emb, qvec, 10, index=idx, target_recall=0.999
    )
    got = {
        (r["vec_id"], round(r["similarity"], 6)) for r in out.collect()
    }
    assert got == _flat_top(emb, qvec)


@pytest.mark.parametrize("tier", ["ivf", "ivf_sq", "ivf_pq"])
def test_served_decision_rerank_matches_forced(emb, tier):
    """One rerank rule: a served index gets the shortlist depth the
    same tier gets when decided on the fly (PQ floor 200, not 100)."""
    from chromem_go_spark.operators import ann as A

    build = {
        "ivf": A.IVFIndex.build,
        "ivf_sq": A.IVFSQIndex.build,
        "ivf_pq": A.IVFPQIndex.build,
    }[tier]
    index = build(emb, n_clusters=8, vec_col="embedding", id_col="vec_id")
    served = R._served_decision(index, 5, 0.95)
    forced = R.forced_decision(tier, emb.count(), k=5)
    assert served["tier"] == tier
    assert served["rerank"] == forced["rerank"]


def test_filtered_quantized_raises(emb, qvec):
    n = emb.count()
    decision = R.forced_decision("ivf_sq", n)
    with pytest.raises(ValueError, match="filtered ANN"):
        R.routed_search(
            emb, qvec, 10, decision=decision, n_docs=n,
            where=F.col("vec_id") > 10,
        )


# ------------------------------------------------------- batch routing


@pytest.fixture(scope="module")
def qbatch(emb):
    rows = (
        emb.filter(F.col("vec_id") < 6)
        .select("vec_id", "embedding")
        .collect()
    )
    return (
        [str(r["vec_id"]) for r in rows],
        [[float(x) for x in r["embedding"]] for r in rows],
    )


def _flat_batch(emb, qids, qvecs, k=10):
    return {
        (r["query_id"], r["vec_id"], round(r["similarity"], 6))
        for r in K.knn_block(
            emb, qids, qvecs, k, vec_col="embedding", id_col="vec_id"
        ).collect()
    }


def test_batch_auto_routes_flat(emb, qbatch):
    qids, qvecs = qbatch
    out = R.routed_search_batch(emb, qids, qvecs, 10)
    got = {
        (r["query_id"], r["vec_id"], round(r["similarity"], 6))
        for r in out.collect()
    }
    assert got == _flat_batch(emb, qids, qvecs)


@pytest.mark.parametrize("tier", ["ivf", "ivf_sq", "ivf_pq"])
def test_batch_each_tier_exact_identity(emb, qbatch, tier):
    """Batch routing through every quantized tier at the nprobe-all
    (+ rerank=n) exact-identity setting == the batch FLAT kernel —
    the same certificate the single-query router carries, per tier."""
    qids, qvecs = qbatch
    n = emb.count()
    decision = R.forced_decision(tier, n, k=10, target_recall=0.999)
    decision["rerank"] = n if decision["rerank"] else None
    out = R.routed_search_batch(
        emb, qids, qvecs, 10, decision=decision, n_docs=n
    )
    got = {
        (r["query_id"], r["vec_id"], round(r["similarity"], 6))
        for r in out.collect()
    }
    assert got == _flat_batch(emb, qids, qvecs)


def test_batch_single_parity(emb, qbatch):
    """The batch entry agrees with N single routed_search calls — one
    ladder, not two (same decision, same rows per query)."""
    qids, qvecs = qbatch
    out = R.routed_search_batch(emb, qids[:2], qvecs[:2], 5)
    got = {
        (r["query_id"], r["vec_id"], round(r["similarity"], 6))
        for r in out.collect()
    }
    want = set()
    for qid, qv in zip(qids[:2], qvecs[:2]):
        for r in R.routed_search(emb, qv, 5).collect():
            want.add((qid, r["vec_id"], round(r["similarity"], 6)))
    assert got == want


def test_batch_filtered_ivf_below_scoring(emb, qbatch):
    """Batch + per-batch metadata predicate: forced IVF at nprobe-all
    == the flat kernel over the pre-filtered corpus."""
    qids, qvecs = qbatch
    pred = F.col("label") == 1
    n = emb.count()
    decision = R.forced_decision("ivf", n, k=5, target_recall=0.999)
    out = R.routed_search_batch(
        emb, qids, qvecs, 5, decision=decision, n_docs=n, where=pred
    )
    got = {
        (r["query_id"], r["vec_id"], round(r["similarity"], 6))
        for r in out.collect()
    }
    assert got == _flat_batch(emb.filter(pred), qids, qvecs, k=5)


def test_batch_filtered_quantized_raises(emb, qbatch):
    qids, qvecs = qbatch
    n = emb.count()
    decision = R.forced_decision("ivf_sq", n)
    with pytest.raises(ValueError, match="filtered ANN"):
        R.routed_search_batch(
            emb, qids, qvecs, 5, decision=decision, n_docs=n,
            where=F.col("label") == 1,
        )


def test_batch_served_index_wins(emb, qbatch):
    from chromem_go_spark.operators import ann as A

    qids, qvecs = qbatch
    idx = A.IVFIndex.build(
        emb, n_clusters=8, vec_col="embedding", id_col="vec_id"
    )
    out = R.routed_search_batch(
        emb, qids, qvecs, 10, index=idx, target_recall=0.999
    )
    got = {
        (r["query_id"], r["vec_id"], round(r["similarity"], 6))
        for r in out.collect()
    }
    assert got == _flat_batch(emb, qids, qvecs)


def test_batch_served_hnsw(emb, qbatch):
    from chromem_go_spark.operators.hnsw import HNSWIndex

    qids, qvecs = qbatch
    idx = HNSWIndex.build(emb, M=8, ef_construction=64)
    out = R.routed_search_batch(
        emb, qids, qvecs, 10, index=idx, target_recall=0.999
    )
    got = {
        (r["query_id"], r["vec_id"], round(r["similarity"], 6))
        for r in out.collect()
    }
    assert got == _flat_batch(emb, qids, qvecs)


def test_batch_empty_queries_raises(emb):
    with pytest.raises(ValueError, match="queryEmbedding is empty"):
        R.routed_search_batch(emb, [], [], 5)


# ------------------------------------------------------- Collection API


@pytest.fixture(scope="module")
def coll(spark):
    from chromem_go_spark.db import DB
    from chromem_go_spark.document import Document
    from chromem_go_spark.embeddings.stub import make_hash_embedding_func

    db = DB(spark)
    c = db.create_collection(
        "router_test", embedding_func=make_hash_embedding_func(16)
    )
    c.add_documents(
        [
            Document(
                id=str(i),
                content=f"document number {i} about topic {i % 5}",
                metadata={"topic": str(i % 5)},
            )
            for i in range(40)
        ]
    )
    return c


def test_collection_auto_matches_default(coll):
    qv = coll.embedding_func("topic 3")
    plain = {
        (r["id"], round(r["similarity"], 6))
        for r in coll.query_embedding(qv, 5).collect()
    }
    routed = {
        (r["id"], round(r["similarity"], 6))
        for r in coll.query_embedding(qv, 5, index="auto").collect()
    }
    assert routed == plain  # 40 docs -> auto routes flat


def test_collection_forced_tier_identity(coll):
    qv = coll.embedding_func("topic 3")
    plain = {
        (r["id"], round(r["similarity"], 6))
        for r in coll.query_embedding(qv, 5).collect()
    }
    routed = {
        (r["id"], round(r["similarity"], 6))
        for r in coll.query_embedding(
            qv, 5, index="ivf", target_recall=0.999
        ).collect()
    }
    assert routed == plain


def test_collection_routed_with_metadata_filter(coll):
    qv = coll.embedding_func("topic 3")
    plain = {
        r["id"]
        for r in coll.query_embedding(
            qv, 3, where={"topic": "3"}
        ).collect()
    }
    routed = {
        r["id"]
        for r in coll.query_embedding(
            qv, 3, where={"topic": "3"}, index="ivf", target_recall=0.999
        ).collect()
    }
    assert routed == plain and len(plain) == 3


def test_collection_negative_mode_stays_exact(coll):
    """Negative modes can't route — the router must not change them."""
    qv = coll.embedding_func("topic 3")
    neg = coll.embedding_func("topic 1")
    base = [
        r["id"]
        for r in coll.query_embedding(
            qv, 5, negative_embedding=neg, negative_mode="subtract"
        ).collect()
    ]
    routed = [
        r["id"]
        for r in coll.query_embedding(
            qv, 5, negative_embedding=neg, negative_mode="subtract",
            index="auto",
        ).collect()
    ]
    assert routed == base


def test_collection_query_batch_routed(coll):
    """Collection.query_batch(index=...) routes the whole batch through
    one tier decision and matches the unrouted kernel exactly (auto ->
    flat here; forced IVF at 0.999 is the batched nprobe-all
    identity); per-query filters route too since r9 (see the
    per_filter tests below)."""
    texts = ["topic 1", "topic 4"]
    base = {
        (r["query_id"], r["id"], round(r["similarity"], 6))
        for r in coll.query_batch(query_texts=texts, n_results=5).collect()
    }
    auto = {
        (r["query_id"], r["id"], round(r["similarity"], 6))
        for r in coll.query_batch(
            query_texts=texts, n_results=5, index="auto"
        ).collect()
    }
    assert auto == base
    ivf = {
        (r["query_id"], r["id"], round(r["similarity"], 6))
        for r in coll.query_batch(
            query_texts=texts, n_results=5, index="ivf", target_recall=0.999
        ).collect()
    }
    assert ivf == base
    # global metadata filter below scoring on the routed path
    basef = {
        (r["query_id"], r["id"])
        for r in coll.query_batch(
            query_texts=texts, n_results=3, where={"topic": "1"}
        ).collect()
    }
    routedf = {
        (r["query_id"], r["id"])
        for r in coll.query_batch(
            query_texts=texts, n_results=3, where={"topic": "1"},
            index="ivf", target_recall=0.999,
        ).collect()
    }
    assert routedf == basef
    # r9: index= + per_query_filters routes (FLAT/IVF) instead of
    # raising — auto at this size resolves FLAT, byte-identical
    pq = [None, {"where": {"topic": "1"}}]
    pq_base = {
        (r["query_id"], r["id"], round(r["similarity"], 6))
        for r in coll.query_batch(
            query_texts=texts, n_results=3, per_query_filters=pq
        ).collect()
    }
    pq_auto = {
        (r["query_id"], r["id"], round(r["similarity"], 6))
        for r in coll.query_batch(
            query_texts=texts, n_results=3, index="auto",
            per_query_filters=pq,
        ).collect()
    }
    assert pq_auto == pq_base


def test_batch_id_vector_length_mismatch_raises(emb, qbatch):
    qids, qvecs = qbatch
    with pytest.raises(ValueError, match="same length"):
        R.routed_search_batch(emb, qids[:3], qvecs[:2], 5, n_docs=500)


def test_batch_accepts_iterator_inputs(emb, qbatch):
    """query_ids may be a generator: the length guard must not exhaust
    it before dispatch (the silent-drop it exists to prevent)."""
    qids, qvecs = qbatch
    out = R.routed_search_batch(
        emb, (q for q in qids[:2]), qvecs[:2], 5, n_docs=500
    )
    got = {(r["query_id"], r["vec_id"]) for r in out.collect()}
    assert {q for q, _ in got} == set(qids[:2]) and len(got) == 10


def test_collection_query_batch_served_nonivf_filter_falls_back(coll):
    """query_batch with a served non-IVF index + a global filter falls
    back to the exact kernel (same rule as query_embedding), not an
    error."""
    served = coll.build_hnsw_index(M=4, ef_construction=32)
    texts = ["topic 1", "topic 2"]
    base = {
        (r["query_id"], r["id"])
        for r in coll.query_batch(
            query_texts=texts, n_results=3, where={"topic": "1"}
        ).collect()
    }
    got = {
        (r["query_id"], r["id"])
        for r in coll.query_batch(
            query_texts=texts, n_results=3, where={"topic": "1"},
            index=served,
        ).collect()
    }
    assert got == base


# ------------------------------------------- empty-frame routing (r9)


def test_empty_frame_ivf_decision_returns_empty(emb, qvec):
    """An IVF decision over a frame an upstream prune emptied must
    return an empty frame, not crash the quantizer trainer (r8 ADVICE:
    numpy AxisError out of _kmeans on a 0-row sample)."""
    empty = emb.filter(F.lit(False))
    n = emb.count()
    decision = R.forced_decision("ivf", n, k=10)
    out = R.routed_search(empty, qvec, 10, decision=decision, n_docs=n)
    assert out.count() == 0


def test_empty_frame_batch_ivf_decision_returns_empty(emb, qbatch):
    qids, qvecs = qbatch
    empty = emb.filter(F.lit(False))
    n = emb.count()
    decision = R.forced_decision("ivf", n, k=10)
    out = R.routed_search_batch(
        empty, qids, qvecs, 10, decision=decision, n_docs=n
    )
    assert out.count() == 0
    assert out.columns == ["query_id", "vec_id", "similarity"]


def test_quantizer_build_on_empty_frame_raises(emb):
    """Direct build() callers get the cause, not an AxisError."""
    from chromem_go_spark.operators import ann as A

    with pytest.raises(ValueError, match="empty corpus frame"):
        A.IVFIndex.build(
            emb.filter(F.lit(False)), n_clusters=8,
            vec_col="embedding", id_col="vec_id",
        )


def test_collection_routed_nomatch_contains_empty(coll):
    """query(index='auto') composing a no-match $contains gram prune:
    the pruned-empty corpus answers 0 rows on every tier, and the tier
    decision is sized on the PRUNED count, not the full corpus."""
    coll.build_text_index()
    qv = coll.embedding_func("topic 3")
    for forced in ("auto", "ivf"):
        out = coll.query_embedding(
            qv, 5,
            where_document={"$contains": "zzz-no-such-substring"},
            index=forced, target_recall=0.999,
        )
        assert out.count() == 0


def test_collection_routed_pruned_count_feeds_decision(coll, monkeypatch):
    """A selective $contains must feed the pruned count to choose_tier
    (r8 ADVICE: a large-nlist IVF build over a tiny pruned frame)."""
    from chromem_go_spark.operators import router as RR

    seen = {}
    real = RR.choose_tier

    def spy(n_docs, *a, **kw):
        seen["n_docs"] = n_docs
        return real(n_docs, *a, **kw)

    monkeypatch.setattr(RR, "choose_tier", spy)
    coll.build_text_index()
    qv = coll.embedding_func("topic 3")
    out = coll.query_embedding(
        qv, 2,
        where_document={"$contains": "document number 7"},
        index="auto", target_recall=0.999,
    ).collect()
    n_total = coll.count()
    assert seen["n_docs"] < n_total  # pruned, not the full corpus
    # and the rows still match the exact scan path
    base = coll.query_embedding(
        qv, 2, where_document={"$contains": "document number 7"}
    ).collect()
    assert {(r["id"], round(r["similarity"], 6)) for r in out} == {
        (r["id"], round(r["similarity"], 6)) for r in base
    }


# ------------------------------- per-query-filtered batch routing (r9)


@pytest.fixture(scope="module")
def pq_filters():
    # mixed shapes: metadata equality, $contains, $not_contains, None
    return [
        {"where": {"topic": "1"}},
        {"where_document": {"$contains": "topic 2"}},
        None,
        {"where": {"topic": "3"},
         "where_document": {"$not_contains": "number 2"}},
    ]


def _pqf_flat(coll, texts, pq, **kw):
    return {
        (r["query_id"], r["id"], round(r["similarity"], 6))
        for r in coll.query_batch(
            query_texts=texts, n_results=3, per_query_filters=pq, **kw
        ).collect()
    }


def test_query_batch_per_filter_ivf_parity(coll, pq_filters):
    """r9: a per-query-filtered batch through the forced-IVF tier at
    nprobe-all (target 0.999) == the FLAT broadcast-join DSL kernel —
    the per-tier identity extended to per-query predicates."""
    texts = ["topic 1", "topic 2", "topic 0", "topic 3"]
    base = _pqf_flat(coll, texts, pq_filters)
    assert base  # the filters must actually select rows
    got = _pqf_flat(
        coll, texts, pq_filters, index="ivf", target_recall=0.999
    )
    assert got == base
    # auto at this corpus size resolves FLAT — byte-identical too
    auto = _pqf_flat(
        coll, texts, pq_filters, index="auto", target_recall=0.999
    )
    assert auto == base


def test_query_batch_per_filter_served_ivf_parity(coll, pq_filters):
    """A SERVED IVF index accepts per-query-filtered batches and, at
    nprobe-all, matches the FLAT kernel; global + per-query filters
    compose."""
    from chromem_go_spark.operators import ann as A

    texts = ["topic 1", "topic 2", "topic 0", "topic 3"]
    idx = A.IVFIndex.build(
        coll.df, n_clusters=4, vec_col="embedding", id_col="id"
    )
    base = _pqf_flat(coll, texts, pq_filters)
    got = _pqf_flat(
        coll, texts, pq_filters, index=idx, target_recall=0.999
    )
    assert got == base
    # with a global where on top (composes below scoring on both paths)
    gbase = _pqf_flat(
        coll, texts, pq_filters, where={"topic": "1"}
    )
    ggot = _pqf_flat(
        coll, texts, pq_filters, where={"topic": "1"},
        index=idx, target_recall=0.999,
    )
    assert ggot == gbase


def test_query_batch_per_filter_quantized_raises(coll, pq_filters):
    texts = ["topic 1", "topic 2", "topic 0", "topic 3"]
    with pytest.raises(ValueError, match="filtered ANN"):
        coll.query_batch(
            query_texts=texts, n_results=3,
            per_query_filters=pq_filters, index="ivf_sq",
        )


def test_query_batch_per_filter_served_nonivf_falls_back(coll, pq_filters):
    """A served index that can't express per-query filters (HNSW graph)
    falls back to the FLAT kernel — semantics beat routing."""
    served = coll.build_hnsw_index(M=4, ef_construction=32)
    texts = ["topic 1", "topic 2", "topic 0", "topic 3"]
    base = _pqf_flat(coll, texts, pq_filters)
    got = _pqf_flat(coll, texts, pq_filters, index=served)
    assert got == base


# ----------------------------------------- served sharded HNSW tier (r9)


def test_batch_served_sharded_hnsw(emb, qbatch, tmp_path):
    """The sharded-graph handle serves through the same router ladder
    as the single graph (tier 'hnsw'): exact at target 0.999 (ef >=
    n_points covers every shard), and the filtered rule applies."""
    from chromem_go_spark.operators.hnsw import (
        ShardedHNSW,
        build_sharded_hnsw,
    )

    root = str(tmp_path / "routed_shards")
    build_sharded_hnsw(emb, root, n_shards=3, M=8, ef_construction=64)
    handle = ShardedHNSW.load(root)
    qids, qvecs = qbatch
    out = R.routed_search_batch(
        emb, qids, qvecs, 10, index=handle, target_recall=0.999
    )
    got = {
        (r["query_id"], r["vec_id"], round(r["similarity"], 6))
        for r in out.collect()
    }
    assert got == _flat_batch(emb, qids, qvecs)
    # single-query entry too
    single = R.routed_search(
        emb, qvecs[0], 10, index=handle, target_recall=0.999
    )
    got1 = {
        (r["vec_id"], round(r["similarity"], 6)) for r in single.collect()
    }
    assert got1 == _flat_top(emb, qvecs[0])
    # no predicates on a graph walk — same golden error as single HNSW
    with pytest.raises(ValueError, match="served HNSW"):
        R.routed_search_batch(
            emb, qids, qvecs, 10, index=handle,
            where=F.col("vec_id") > 10,
        )


# --------------------------------------------- r10 ADVICE latency fixes


def test_routed_non_flat_never_pays_isempty_job(emb, qvec, qbatch, monkeypatch):
    """r10 ADVICE: the empty-frame guard must not cost an extra
    df.isEmpty() Spark job on every non-flat routed search.  Emptiness
    is now detected from the quantizer builder's own sampling job (its
    golden error demotes to FLAT) — isEmpty() must never run, on the
    populated OR the pruned-empty path."""
    from pyspark.sql import DataFrame

    def boom(self):
        raise AssertionError("isEmpty() Spark job on the routed path")

    monkeypatch.setattr(DataFrame, "isEmpty", boom)
    n = emb.count()
    decision = R.forced_decision("ivf", n, k=10)
    out = R.routed_search(emb, qvec, 10, decision=decision, n_docs=n)
    assert out.count() == 10
    qids, qvecs = qbatch
    outb = R.routed_search_batch(
        emb, qids, qvecs, 10, decision=decision, n_docs=n
    )
    assert outb.count() == 10 * len(qids)
    # a pruned-empty frame (stale decision) still answers empty via
    # the builder's golden error -> FLAT demotion, no isEmpty job
    empty = emb.filter(F.lit(False))
    z = R.routed_search(empty, qvec, 10, decision=decision, n_docs=0)
    assert z.count() == 0


def test_served_ivf_batch_skips_gram_prune(coll, pq_filters, monkeypatch):
    """r10 ADVICE: the served-IVF filtered-batch branch discards the
    pruned frame, so the eager gram-prune jobs must not run at all on
    that path (they still run on the flat-fallback paths)."""
    from chromem_go_spark.operators import ann as A

    coll.build_text_index()

    def boom(df, groups):
        raise AssertionError("gram prune ran on the served-IVF branch")

    monkeypatch.setattr(coll, "_prune_by_groups", boom)
    idx = A.IVFIndex.build(
        coll.df, n_clusters=4, vec_col="embedding", id_col="id"
    )
    out = coll.query_batch(
        query_texts=["topic 1", "topic 2", "topic 0", "topic 3"],
        n_results=3, per_query_filters=pq_filters,
        index=idx, target_recall=0.999,
    )
    assert out.count() > 0


def test_allowed_with_string_tier_raises_allowed_error(emb, qvec, qbatch):
    """ADVICE r12: `allowed` + a string tier name must raise the
    allowed-id-set ValueError, not tier_of's TypeError."""
    from chromem_go_spark.operators import router as R

    with pytest.raises(ValueError, match="allowed id-set filtering"):
        R.routed_search(emb, qvec, 3, index="flat", allowed={1, 2})
    with pytest.raises(ValueError, match="allowed id-set filtering"):
        R.routed_search_batch(
            emb, ["0"], [qvec], 3, index="flat", allowed={1, 2}
        )


# ------------------------------------ one semantics across the entries


_SHAPES = {
    "none": {},
    "where": {"where": {"topic": "3"}},
    "contains": {"where_document": {"$contains": "topic 2"}},
    "not_contains": {"where_document": {"$not_contains": "topic 2"}},
    "extended_or": {
        "where": {
            "$or": [
                {"content": {"$contains": "topic 1"}},
                {"content": {"$contains": "number 3"}},
            ]
        },
        "extended_filters": True,
    },
}


@pytest.fixture(scope="module")
def served_ivf(coll):
    return coll.build_ann_index(n_clusters=4, persist=False)


@pytest.mark.parametrize("shape", sorted(_SHAPES))
def test_entry_points_share_one_semantics(coll, served_ivf, shape):
    """Every query entry answers a filter shape the same way: the exact
    query_embedding, a one-query query_batch, a forced-IVF
    query_embedding and a served-IVF query_batch (both exact at
    target_recall 1.0) return the same (id, similarity) set, with a
    fresh gram index pruning the $contains shapes.  A negative
    (subtract) query agrees across the two query_embedding entries —
    query_batch takes no negative."""
    coll.build_text_index()
    kw = _SHAPES[shape]
    qv = coll.embedding_func("topic 3")

    def single(**extra):
        return {
            (r["id"], round(r["similarity"], 6))
            for r in coll.query_embedding(qv, 3, **kw, **extra).collect()
        }

    def batch(**extra):
        return {
            (r["id"], round(r["similarity"], 6))
            for r in coll.query_batch(
                query_embeddings=[qv], n_results=3, **kw, **extra
            ).collect()
        }

    want = single()
    assert len(want) == 3
    assert batch() == want
    assert single(index="ivf", target_recall=1.0) == want
    assert batch(index=served_ivf, target_recall=1.0) == want
    neg = {
        "negative_embedding": coll.embedding_func("topic 1"),
        "negative_mode": "subtract",
    }
    assert single(index="ivf", target_recall=1.0, **neg) == single(**neg)
