"""HNSW graph index (operators/hnsw.py — reference roadmap
README.md:176).  The load-bearing claims: layer-0 connectivity by
construction, exactness at ef >= n (the oracle identity), build
determinism, and the served-tier dispatch through the router.
"""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from chromem_go_spark.operators import knn as K
from chromem_go_spark.operators.hnsw import HNSWIndex


@pytest.fixture(scope="module")
def emb(spark, sf_dir):
    # unpersist on teardown: a lingering cached plan for this parquet
    # path would substitute an InMemoryRelation into OTHER modules'
    # reads of the same file and break their scan-pushdown plan gates
    df = spark.read.parquet(f"{sf_dir}/embeddings.parquet").cache()
    yield df
    df.unpersist()


@pytest.fixture(scope="module")
def idx(emb):
    return HNSWIndex.build(emb, M=8, ef_construction=64)


def _qv(emb, vid):
    return [
        float(x)
        for x in emb.filter(F.col("vec_id") == vid).head()["embedding"]
    ]


def _flat(emb, qv, k=10):
    return [
        (r["vec_id"], round(r["similarity"], 6))
        for r in K.knn_single(
            emb, qv, k, vec_col="embedding", id_col="vec_id"
        ).collect()
    ]


def test_layer0_connected(idx):
    assert idx.check_connected()


@pytest.mark.parametrize("vid", [0, 3, 7, 11])
def test_exact_at_ef_n(emb, idx, vid):
    """ef >= n visits the whole (connected) layer 0 — identical to
    brute force, including order."""
    qv = _qv(emb, vid)
    got = [(i, round(s, 6)) for i, s in idx.search(qv, 10, ef=idx.n_points())]
    assert got == _flat(emb, qv)


def test_moderate_ef_recall(emb, idx):
    """The approximate walk at ef=64 keeps high recall@10 on this
    corpus (graph quality sanity floor, not a tuned benchmark)."""
    hits = total = 0
    for vid in range(8):
        qv = _qv(emb, vid)
        exact = {i for i, _ in _flat(emb, qv)}
        got = {i for i, _ in idx.search(qv, 10, ef=64)}
        hits += len(exact & got)
        total += len(exact)
    assert hits / total >= 0.9


def test_build_deterministic(emb):
    a = HNSWIndex.build(emb, M=8, ef_construction=64)
    b = HNSWIndex.build(emb, M=8, ef_construction=64)
    assert a.entry == b.entry
    assert a.layers == b.layers


def test_max_points_refuses(emb):
    with pytest.raises(ValueError, match="bounded serving tier"):
        HNSWIndex.build(emb, max_points=10)


def test_search_batch_shape(spark, emb, idx):
    out = idx.search_batch(spark, ["a", "b"], [_qv(emb, 0), _qv(emb, 1)], 5)
    rows = out.collect()
    assert len(rows) == 10
    assert out.columns == ["query_id", "vec_id", "similarity"]
    assert {r["query_id"] for r in rows} == {"a", "b"}


def test_router_serves_hnsw(emb, idx):
    from chromem_go_spark.operators import router as R

    assert R.tier_of(idx) == "hnsw"
    got = [
        (r["vec_id"], round(r["similarity"], 6))
        for r in R.routed_search(
            emb, _qv(emb, 0), 10, index=idx, target_recall=0.999
        )
        .orderBy(F.desc("similarity"), "vec_id")
        .collect()
    ]
    assert got == [(i, round(s, 6)) for i, s in _flat(emb, _qv(emb, 0))]


# ------------------------------------------------------ persistence


def test_save_load_roundtrip(emb, idx, tmp_path):
    """load(save(idx)) is graph-identical: same layers, entry, ids,
    and — the behavioral check — identical search results at exact AND
    approximate ef (a snapshot must not change ranking)."""
    p = str(tmp_path / "hnsw")
    idx.save(p)
    back = HNSWIndex.load(p)
    assert back.entry == idx.entry
    assert back.M == idx.M
    assert back.ids == idx.ids
    assert back.layers == idx.layers
    assert back.check_connected()
    for vid in (0, 5):
        qv = _qv(emb, vid)
        assert back.search(qv, 10, ef=back.n_points()) == idx.search(
            qv, 10, ef=idx.n_points()
        )
        assert back.search(qv, 10, ef=32) == idx.search(qv, 10, ef=32)


def test_save_load_string_ids(spark, tmp_path):
    df = spark.createDataFrame(
        [("a", [1.0, 0.0]), ("b", [0.0, 1.0]), ("c", [0.7, 0.7])],
        "id string, embedding array<double>",
    )
    one = HNSWIndex.build(df, vec_col="embedding", id_col="id", M=4)
    p = str(tmp_path / "h2")
    one.save(p)
    back = HNSWIndex.load(p)
    assert back.ids == ["a", "b", "c"]
    assert back.search([1.0, 0.0], 2) == one.search([1.0, 0.0], 2)


def test_collection_hnsw_persist_reload(spark, tmp_path):
    """A persisted collection snapshots its HNSW graph and a FRESH
    session reloads it (signature match); after a mutation the stale
    snapshot is REFUSED — same contract as the text index
    (test_persistent_collection_text_index_reload)."""
    from chromem_go_spark.db import DB
    from chromem_go_spark.document import Document
    from chromem_go_spark.embeddings.stub import make_hash_embedding_func

    pdir = str(tmp_path / "db")
    db = DB(spark, persist_dir=pdir)
    c = db.create_collection(
        "hnsw_persist", embedding_func=make_hash_embedding_func(16)
    )
    c.add_documents(
        [
            Document(id=str(i), content=f"doc number {i} topic {i % 3}")
            for i in range(20)
        ]
    )
    built = c.build_hnsw_index(M=8, ef_construction=32)
    import os

    assert os.path.isdir(c._hnsw_index_path())

    db2 = DB(spark, persist_dir=pdir)
    c2 = db2.get_collection(
        "hnsw_persist", embedding_func=make_hash_embedding_func(16)
    )
    served = c2.load_hnsw_index()
    assert served is not None
    qv = c2.embedding_func("topic 1")
    assert served.search(qv, 5, ef=served.n_points()) == built.search(
        qv, 5, ef=built.n_points()
    )
    # the served index drives the routed query path end-to-end
    got = {
        (r["id"], round(r["similarity"], 6))
        for r in c2.query_embedding(
            qv, 5, index=served, target_recall=0.999
        ).collect()
    }
    want = {
        (r["id"], round(r["similarity"], 6))
        for r in c2.query_embedding(qv, 5).collect()
    }
    assert got == want

    # mutate, then try to reload the now-stale snapshot: refused
    c2.add_documents([Document(id="99", content="new doc topic 1")])
    assert c2.load_hnsw_index() is None


def test_collection_hnsw_in_memory_not_persisted(spark):
    from chromem_go_spark.db import DB
    from chromem_go_spark.document import Document
    from chromem_go_spark.embeddings.stub import make_hash_embedding_func

    db = DB(spark)
    c = db.create_collection(
        "hnsw_mem", embedding_func=make_hash_embedding_func(16)
    )
    c.add_documents([Document(id="1", content="only doc")])
    idx2 = c.build_hnsw_index(M=4)
    assert idx2.n_points() == 1
    assert c.load_hnsw_index() is None  # nothing persisted, no dir


def test_single_point_corpus(spark):
    df = spark.createDataFrame(
        [(1, [1.0, 0.0])], "vec_id long, embedding array<double>"
    )
    one = HNSWIndex.build(df, M=4)
    assert one.search([1.0, 0.0], 3) == [(1, 1.0)]
    assert one.check_connected()


# ------------------------------------------------- incremental insert (r8)


def test_insert_batch_exact_and_connected(spark, emb):
    """Append half the corpus into a graph built on the other half:
    layer 0 stays connected (every insert links bidirectionally) so
    the ef >= n walk is STILL exactly brute force over the union —
    the guarantee that matters survives appends."""
    lo = emb.filter(F.col("vec_id") < 200)
    hi = emb.filter(F.col("vec_id") >= 200)
    idx = HNSWIndex.build(lo, M=8, ef_construction=64)
    rows = sorted(hi.select("vec_id", "embedding").collect(),
                  key=lambda r: r[0])
    idx.insert_batch(
        [r["vec_id"] for r in rows],
        [list(r["embedding"]) for r in rows],
        ef_construction=64,
    )
    assert idx.n_points() == emb.count()
    assert idx.check_connected()
    for vid in (0, 7):
        qv = _qv(emb, vid)
        got = [
            (i, round(s, 6)) for i, s in idx.search(qv, 10, ef=idx.n_points())
        ]
        assert got == _flat(emb, qv)


def test_insert_batch_deterministic(spark, emb):
    """Same base + same append sequence -> bit-identical graph."""
    lo = emb.filter(F.col("vec_id") < 100)
    rows = sorted(
        emb.filter((F.col("vec_id") >= 100) & (F.col("vec_id") < 160))
        .select("vec_id", "embedding")
        .collect(),
        key=lambda r: r[0],
    )
    ids = [r["vec_id"] for r in rows]
    vecs = [list(r["embedding"]) for r in rows]
    a = HNSWIndex.build(lo, M=8, ef_construction=64)
    b = HNSWIndex.build(lo, M=8, ef_construction=64)
    a.insert_batch(ids, vecs, ef_construction=64)
    b.insert_batch(ids, vecs, ef_construction=64)
    assert a.entry == b.entry
    assert a.layers == b.layers
    assert a.ids == b.ids


def test_insert_batch_cap_and_snapshot(spark, tmp_path):
    df = spark.createDataFrame(
        [(i, [float(i), 1.0]) for i in range(4)],
        "vec_id long, embedding array<double>",
    )
    idx = HNSWIndex.build(df, M=4, max_points=6)
    with pytest.raises(ValueError, match="bounded serving tier"):
        idx.insert_batch([10, 11, 12], [[1.0, 0.0]] * 3)
    idx.insert_batch([10, 11], [[1.0, 0.0], [0.0, 1.0]])
    assert idx.n_points() == 6 and idx.check_connected()
    # the appended graph round-trips (seed/max_points in the snapshot)
    p = str(tmp_path / "grown")
    idx.save(p)
    back = HNSWIndex.load(p)
    assert back.layers == idx.layers
    assert back.max_points == 6 and back.seed == idx.seed
    assert back.search([1.0, 0.0], 3) == idx.search([1.0, 0.0], 3)


# ------------------------------------------- snapshot generations (r8)


def test_snapshot_commit_heal_and_kill_injection(spark, tmp_path, monkeypatch):
    """save_snapshot's stage-then-promote: generations alternate with
    GC; a staged-but-uncommitted gen is never served and is healed; a
    kill AT the commit point leaves the old snapshot live."""
    import os

    from chromem_go_spark.operators import hnsw as H

    df = spark.createDataFrame(
        [(i, [float(i), 1.0]) for i in range(6)],
        "vec_id long, embedding array<double>",
    )
    idx = HNSWIndex.build(df, M=4)
    root = str(tmp_path / "snaps")
    assert H.load_snapshot(root) == (None, -1)
    H.save_snapshot(idx, root, last_batch=0)
    back, last = H.load_snapshot(root)
    assert last == 0 and back.ids == idx.ids
    H.save_snapshot(idx, root, last_batch=1)
    # the just-replaced generation is RETAINED one cycle (an in-flight
    # reader that resolved _live right before the commit may still be
    # opening it); older ones are GC'd
    assert sorted(
        d for d in os.listdir(root) if d.startswith("gen=")
    ) == ["gen=1", "gen=2"]
    H.save_snapshot(idx, root, last_batch=1)
    assert sorted(
        d for d in os.listdir(root) if d.startswith("gen=")
    ) == ["gen=2", "gen=3"]  # gen=1 fell out after one more cycle

    # crash BEFORE commit: a staged gen dir without a _live update
    idx.save(os.path.join(root, "gen=4"))
    back, last = H.load_snapshot(root)
    assert last == 1  # stale stage invisible
    H.save_snapshot(idx, root, last_batch=2)  # heals + commits gen=4
    _, last = H.load_snapshot(root)
    assert last == 2

    # kill injection AT the commit point: os.replace raises
    real_replace = os.replace

    def boom(src, dst):
        if dst.endswith("_live.json"):
            raise OSError("injected kill at commit")
        return real_replace(src, dst)

    monkeypatch.setattr(os, "replace", boom)
    with pytest.raises(OSError, match="injected"):
        H.save_snapshot(idx, root, last_batch=3)
    monkeypatch.undo()
    _, last = H.load_snapshot(root)
    assert last == 2  # old snapshot still live
    H.save_snapshot(idx, root, last_batch=3)  # retry heals + commits
    _, last = H.load_snapshot(root)
    assert last == 3


def test_hnsw_append_stream_sink_and_replay(spark, emb, tmp_path):
    """The foreachBatch sink grows the served graph from a vector
    stream (one file per micro-batch), the committed snapshot is exact
    at ef >= n over the FULL streamed corpus, and a full REPLAY of the
    same batches (fresh checkpoint, same batch ids) is skipped by the
    transactional last_batch watermark — no duplicate inserts."""
    import os

    import pyarrow.parquet as pq

    from chromem_go_spark.operators import hnsw as H
    from chromem_go_spark.streaming.ingest import (
        hnsw_append_sink,
        run_available_now,
    )

    sf = os.environ.get("SPARK_GRAFT_TEST_SF_DIR", "/root/testdata/sf0.001")
    t = pq.read_table(f"{sf}/embeddings.parquet")
    d = tmp_path / "hnsw_vec_stream"
    d.mkdir()
    half = t.num_rows // 2
    pq.write_table(t.slice(0, half), d / "v0.parquet")
    pq.write_table(t.slice(half), d / "v1.parquet")

    root = str(tmp_path / "hnsw_snaps")
    batch_df = spark.read.parquet(str(d))
    stream = (
        spark.readStream.schema(batch_df.schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(str(d))
    )
    writer = hnsw_append_sink(
        stream.select("vec_id", "embedding"), root,
        str(tmp_path / "ckpt_h1"), M=8, ef_construction=64,
    )
    run_available_now(writer)
    idx, last = H.load_snapshot(root)
    assert idx.n_points() == batch_df.count()
    assert last >= 1 and idx.check_connected()
    qv = _qv(emb, 0)
    got = [
        (i, round(s, 6)) for i, s in idx.search(qv, 10, ef=idx.n_points())
    ]
    assert got == _flat(emb, qv)
    frozen = idx.layers

    # replay: fresh checkpoint re-delivers batch ids 0 and 1 — both
    # at-or-below the committed watermark, so the graph is unchanged
    stream2 = (
        spark.readStream.schema(batch_df.schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(str(d))
    )
    writer2 = hnsw_append_sink(
        stream2.select("vec_id", "embedding"), root,
        str(tmp_path / "ckpt_h2"), M=8, ef_construction=64,
    )
    run_available_now(writer2)
    idx2, last2 = H.load_snapshot(root)
    assert idx2.n_points() == batch_df.count()
    assert idx2.layers == frozen and last2 == last


def test_insert_batch_approximate_recall_floor(spark, emb):
    """The APPROXIMATE walk on a grown graph keeps the same recall
    floor as a fresh build (appends must not silently degrade the
    serving quality the ef sweep published)."""
    lo = emb.filter(F.col("vec_id") < 250)
    hi = emb.filter(F.col("vec_id") >= 250)
    idx = HNSWIndex.build(lo, M=8, ef_construction=64)
    rows = sorted(hi.select("vec_id", "embedding").collect(),
                  key=lambda r: r[0])
    idx.insert_batch(
        [r["vec_id"] for r in rows],
        [list(r["embedding"]) for r in rows],
        ef_construction=64,
    )
    hits = total = 0
    for vid in range(8):
        qv = _qv(emb, vid)
        exact = {i for i, _ in _flat(emb, qv)}
        got = {i for i, _ in idx.search(qv, 10, ef=64)}
        hits += len(exact & got)
        total += len(exact)
    assert hits / total >= 0.9


def test_sink_failed_commit_then_replay_no_duplicates(
    spark, emb, tmp_path, monkeypatch
):
    """A commit failure taints the sink's cached in-memory graph (the
    batch was inserted but never durable); the cache must drop so the
    replay reloads the last COMMITTED snapshot — otherwise the retried
    batch would insert twice.  Injected: first save_snapshot call
    fails, the stream restart replays both batches, and the final
    graph holds every id exactly once."""
    import os

    import pyarrow.parquet as pq

    import chromem_go_spark.operators.hnsw as H
    from chromem_go_spark.streaming.ingest import (
        hnsw_append_sink,
        run_available_now,
    )

    sf = os.environ.get("SPARK_GRAFT_TEST_SF_DIR", "/root/testdata/sf0.001")
    t = pq.read_table(f"{sf}/embeddings.parquet")
    d = tmp_path / "flaky_stream"
    d.mkdir()
    half = t.num_rows // 2
    pq.write_table(t.slice(0, half), d / "v0.parquet")
    pq.write_table(t.slice(half), d / "v1.parquet")
    root = str(tmp_path / "flaky_snaps")
    batch_df = spark.read.parquet(str(d))

    calls = {"n": 0}
    real = H.save_snapshot

    def flaky(idx, r, last_batch=-1):
        calls["n"] += 1
        if calls["n"] == 1:
            raise OSError("injected commit failure")
        return real(idx, r, last_batch)

    monkeypatch.setattr(H, "save_snapshot", flaky)

    def run(ckpt):
        stream = (
            spark.readStream.schema(batch_df.schema)
            .option("maxFilesPerTrigger", 1)
            .parquet(str(d))
        )
        run_available_now(
            hnsw_append_sink(
                stream.select("vec_id", "embedding"), root,
                str(tmp_path / ckpt), M=8, ef_construction=64,
            )
        )

    with pytest.raises(Exception, match="injected"):
        run("ck1")
    # replay from scratch (fresh checkpoint redelivers both batches)
    run("ck2")
    idx, _ = H.load_snapshot(root)
    assert idx.n_points() == batch_df.count()
    assert len(set(idx.ids)) == idx.n_points()  # no duplicate inserts
    qv = _qv(emb, 0)
    got = [
        (i, round(s, 6)) for i, s in idx.search(qv, 10, ef=idx.n_points())
    ]
    assert got == _flat(emb, qv)


def test_load_prefers_in_npz_meta(spark, tmp_path):
    """The snapshot meta rides inside the atomically-replaced npz; a
    torn/corrupt advisory meta.json must not affect load."""
    import os

    df = spark.createDataFrame(
        [(i, [float(i), 1.0]) for i in range(5)],
        "vec_id long, embedding array<double>",
    )
    idx = HNSWIndex.build(df, M=4)
    p = str(tmp_path / "snap_meta")
    idx.save(p)
    with open(os.path.join(p, "meta.json"), "w") as f:
        f.write("{ torn garbage")
    back = HNSWIndex.load(p)
    assert back.ids == idx.ids and back.layers == idx.layers


def test_served_index_with_where_document_falls_back_exact(spark):
    """A served index with a document filter answers the SAME rows as
    the exact scan path.  Since r11 the HNSW tier serves the filter
    itself (eligibility-gated walk over the materialized id set; here
    ef=64 >= n=16, so the walk is exhaustive — exact); quantized
    served tiers still fall back to the exact scan.  Either way:
    semantics beat routing."""
    from chromem_go_spark.db import DB
    from chromem_go_spark.document import Document
    from chromem_go_spark.embeddings.stub import make_hash_embedding_func

    db = DB(spark)
    c = db.create_collection(
        "served_fallback", embedding_func=make_hash_embedding_func(16)
    )
    c.add_documents(
        [
            Document(
                id=str(i),
                content=f"quick fox {i}" if i % 2 == 0 else f"lazy dog {i}",
            )
            for i in range(16)
        ]
    )
    served = c.build_hnsw_index(M=4, ef_construction=32)
    qv = c.embedding_func("quick")
    wd = {"$contains": "quick"}
    base = {
        (r["id"], round(r["similarity"], 6))
        for r in c.query_embedding(qv, 3, where_document=wd).collect()
    }
    got = {
        (r["id"], round(r["similarity"], 6))
        for r in c.query_embedding(
            qv, 3, where_document=wd, index=served
        ).collect()
    }
    assert got == base and len(got) == 3


def test_sink_drops_cross_batch_duplicate_ids(spark, emb, tmp_path):
    """Duplicate vec_ids arriving across DIFFERENT micro-batches (an
    at-least-once upstream redelivering rows under new batch ids —
    invisible to the last_batch watermark) must not create duplicate
    graph nodes (r8 ADVICE).  First write wins; every id appears once
    in the final graph and at most once per search result."""
    import os

    import pyarrow.parquet as pq

    from chromem_go_spark.operators import hnsw as H
    from chromem_go_spark.streaming.ingest import (
        hnsw_append_sink,
        run_available_now,
    )

    sf = os.environ.get("SPARK_GRAFT_TEST_SF_DIR", "/root/testdata/sf0.001")
    t = pq.read_table(f"{sf}/embeddings.parquet")
    d = tmp_path / "hnsw_dup_stream"
    d.mkdir()
    half = t.num_rows // 2
    pq.write_table(t.slice(0, half), d / "v0.parquet")
    # second batch OVERLAPS the first: its first 10 rows are redelivered
    pq.write_table(t.slice(half - 10), d / "v1.parquet")

    root = str(tmp_path / "hnsw_dup_snaps")
    batch_df = spark.read.parquet(str(d))
    stream = (
        spark.readStream.schema(batch_df.schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(str(d))
    )
    writer = hnsw_append_sink(
        stream.select("vec_id", "embedding"), root,
        str(tmp_path / "ckpt_hdup"), M=8, ef_construction=64,
    )
    run_available_now(writer)
    idx, _ = H.load_snapshot(root)
    n_distinct = batch_df.select("vec_id").distinct().count()
    assert idx.n_points() == n_distinct
    assert len(set(idx.ids)) == len(idx.ids)
    qv = _qv(emb, 0)
    got = [i for i, _ in idx.search(qv, 10, ef=idx.n_points())]
    assert len(set(got)) == len(got)
    assert got == [i for i, _ in _flat(emb, qv)]


# --------------------------------------------------- sharded graphs (r9)


def test_sharded_build_search_exact(spark, emb, tmp_path):
    """Sharded HNSW at per-shard ef >= shard size == brute force: each
    shard's layer 0 is walked exhaustively and every global winner
    lives in exactly one shard, so the merged top-k is exact — the
    single-graph certificate, sharded."""
    from chromem_go_spark.operators.hnsw import (
        build_sharded_hnsw,
        load_sharded_meta,
        sharded_search_batch,
    )

    root = str(tmp_path / "shards")
    manifest = build_sharded_hnsw(emb, root, n_shards=4, M=8,
                                  ef_construction=64)
    assert sum(n for _, n in manifest["shards"]) == emb.count()
    ef = max(n for _, n in manifest["shards"])
    qids = [str(v) for v in range(4)]
    qvs = [_qv(emb, v) for v in range(4)]
    out = sharded_search_batch(spark, root, qids, qvs, 10, ef=ef)
    got = {
        (r["query_id"], r["vec_id"], round(r["similarity"], 6))
        for r in out.collect()
    }
    want = set()
    for qid, qv in zip(qids, qvs):
        for i, s in _flat(emb, qv):
            want.add((qid, i, s))
    assert got == want


def test_sharded_manifest_and_determinism(spark, emb, tmp_path):
    """The manifest commits atomically LAST (no manifest -> readers
    refuse); a rebuild over the same corpus reproduces the exact same
    shard assignment and search results."""
    from chromem_go_spark.operators.hnsw import (
        build_sharded_hnsw,
        load_sharded_meta,
        sharded_search_batch,
    )

    root1, root2 = str(tmp_path / "s1"), str(tmp_path / "s2")
    m1 = build_sharded_hnsw(emb, root1, n_shards=3, M=8,
                            ef_construction=64)
    m2 = build_sharded_hnsw(emb, root2, n_shards=3, M=8,
                            ef_construction=64)
    assert m1["shards"] == m2["shards"]
    qv = _qv(emb, 0)
    r1 = sorted(
        map(tuple, sharded_search_batch(
            spark, root1, ["0"], [qv], 10, ef=64
        ).collect())
    )
    r2 = sorted(
        map(tuple, sharded_search_batch(
            spark, root2, ["0"], [qv], 10, ef=64
        ).collect())
    )
    assert r1 == r2
    with pytest.raises(FileNotFoundError):
        load_sharded_meta(str(tmp_path / "never_built"))


def test_sharded_capacity_beyond_single_cap(spark, emb, tmp_path):
    """The point of sharding: a corpus OVER the single-graph cap builds
    fine once n_shards x cap covers it — and the single-graph build
    still refuses the same corpus loudly."""
    from chromem_go_spark.operators.hnsw import (
        build_sharded_hnsw,
        sharded_search_batch,
    )

    n = emb.count()
    cap = n // 2  # single graph cannot hold the corpus
    with pytest.raises(ValueError, match="bounded serving tier"):
        HNSWIndex.build(emb, M=8, ef_construction=64, max_points=cap)
    root = str(tmp_path / "cap_shards")
    build_sharded_hnsw(
        emb, root, n_shards=4, M=8, ef_construction=64,
        max_points_per_shard=cap,
    )
    qv = _qv(emb, 0)
    got = [
        (r["vec_id"], round(r["similarity"], 6))
        for r in sharded_search_batch(
            spark, root, ["0"], [qv], 10, ef=n
        ).collect()
    ]
    got.sort(key=lambda t: (-t[1], t[0]))
    assert got == _flat(emb, qv)


def test_sharded_approximate_recall_floor(spark, emb, tmp_path):
    """Approximate per-shard walks (small ef) keep a recall floor: the
    shard merge must not silently degrade serving quality below the
    single-graph sweep's floor."""
    from chromem_go_spark.operators.hnsw import (
        build_sharded_hnsw,
        sharded_search_batch,
    )

    root = str(tmp_path / "apx_shards")
    build_sharded_hnsw(emb, root, n_shards=4, M=8, ef_construction=64)
    qids = [str(v) for v in range(8)]
    qvs = [_qv(emb, v) for v in range(8)]
    res = sharded_search_batch(spark, root, qids, qvs, 10, ef=64).collect()
    by_q: dict = {}
    for r in res:
        by_q.setdefault(r["query_id"], set()).add(r["vec_id"])
    hits = total = 0
    for qid, qv in zip(qids, qvs):
        exact = {i for i, _ in _flat(emb, qv)}
        hits += len(exact & by_q.get(qid, set()))
        total += len(exact)
    assert hits / total >= 0.9


# ------------------------------- shard-graph cache + streaming shards (r10)


def test_load_graph_cached_identity_and_staleness(emb, tmp_path):
    """Repeat loads of the SAME committed snapshot return the cached
    object (no npz deserialization); a NEW snapshot over the same path
    (in-place atomic npz replace — new mtime) invalidates."""
    from chromem_go_spark.operators import hnsw as H

    lo = emb.filter(F.col("vec_id") < 100)
    g1 = HNSWIndex.build(lo, M=8, ef_construction=64)
    d = str(tmp_path / "cache_snap")
    g1.save(d)
    a = H.load_graph_cached(d)
    b = H.load_graph_cached(d)
    assert a is b  # second load served from the worker-local LRU
    # grow + overwrite in place: mtime/size key must invalidate
    import time

    time.sleep(0.01)  # ensure mtime_ns advances even on coarse clocks
    hi = emb.filter((F.col("vec_id") >= 100) & (F.col("vec_id") < 150))
    rows = sorted(hi.select("vec_id", "embedding").collect(),
                  key=lambda r: r[0])
    g1.insert_batch([r[0] for r in rows], [list(r[1]) for r in rows],
                    ef_construction=64)
    g1.save(d)
    c = H.load_graph_cached(d)
    assert c is not a and c.n_points() == a.n_points() + len(rows)
    # entries carry their approx byte size for the bytes-bounded LRU
    assert all(
        isinstance(b, int) and b > 0 for _, b in H._GRAPH_CACHE.values()
    )


def test_graph_cache_bytes_budget_eviction(emb, tmp_path, monkeypatch):
    """r11 (ADVICE): the serve cache is BYTES-bounded, not
    count-bounded — under a tiny budget only the most-recent graph
    stays resident (the cache-utility floor), so a worker walking many
    large shards can never pin multiples of the budget."""
    from chromem_go_spark.operators import hnsw as H

    monkeypatch.setenv("CHROMEM_SPARK_GRAPH_CACHE_BYTES", "1")
    H._GRAPH_CACHE.clear()
    for lo, hi, name in ((0, 40, "ga"), (40, 80, "gb"), (80, 120, "gc")):
        g = HNSWIndex.build(
            emb.filter((F.col("vec_id") >= lo) & (F.col("vec_id") < hi)),
            M=8, ef_construction=64,
        )
        d = str(tmp_path / name)
        g.save(d)
        got = H.load_graph_cached(d)
        assert got.n_points() == 40
        # over-budget: evicted down to the most-recent entry only
        assert len(H._GRAPH_CACHE) == 1
    H._GRAPH_CACHE.clear()


def test_load_shard_graph_retries_plain_to_generation_race(
    emb, tmp_path, monkeypatch
):
    """r11 (ADVICE): a serving reader that resolved a shard's PLAIN
    layout just before the first streamed commit promoted a generation
    (and removed the plain graph.npz) must re-resolve once instead of
    failing with FileNotFoundError."""
    import os

    from chromem_go_spark.operators import hnsw as H

    root = str(tmp_path / "race_root")
    sdir = os.path.join(root, "shard=00000")
    g = HNSWIndex.build(
        emb.filter(F.col("vec_id") < 60), M=8, ef_construction=64
    )
    os.makedirs(sdir, exist_ok=True)
    g.save(sdir)  # plain build-only layout
    # the commit that races the reader: generation promoted, plain
    # layout removed (what append_shard_batch does)
    H.save_snapshot(g, sdir, last_batch=0)
    for leftover in ("graph.npz", "meta.json"):
        os.remove(os.path.join(sdir, leftover))

    # simulate the stale resolution: first call answers the PLAIN dir
    # (as if it ran before _live.json landed), later calls are real
    real = H._resolve_shard_snapshot
    calls = {"n": 0}

    def stale_once(d):
        calls["n"] += 1
        if calls["n"] == 1:
            return d  # plain layout — graph.npz already deleted
        return real(d)

    monkeypatch.setattr(H, "_resolve_shard_snapshot", stale_once)
    idx = H._load_shard_graph(root, 0)
    assert calls["n"] == 2 and idx.n_points() == 60


def _write_halves(sf_dir, d):
    import pyarrow.parquet as pq

    t = pq.read_table(f"{sf_dir}/embeddings.parquet")
    d.mkdir()
    half = t.num_rows // 2
    pq.write_table(t.slice(0, half), d / "v0.parquet")
    pq.write_table(t.slice(half), d / "v1.parquet")
    return t.num_rows


def test_sharded_append_stream_sink_and_replay(spark, emb, tmp_path):
    """r10: the sharded root accepts a vector stream — per-shard
    insert_batch inside executor tasks, atomic per-shard snapshot
    generations carrying the batch watermark, manifest bump last.
    After ingest the merged search is exact at per-shard ef >= shard
    size over the FULL corpus (built half + streamed half), and a
    replay with a fresh checkpoint (same batch ids) is skipped per
    shard — no duplicate nodes."""
    import os

    from chromem_go_spark.operators import hnsw as H
    from chromem_go_spark.streaming.ingest import (
        run_available_now,
        sharded_hnsw_append_sink,
    )

    sf = os.environ.get("SPARK_GRAFT_TEST_SF_DIR", "/root/testdata/sf0.001")
    d = tmp_path / "shard_vec_stream"
    _write_halves(sf, d)
    batch_df = spark.read.parquet(str(d))
    n_total = batch_df.count()
    lo = emb.filter(F.col("vec_id") < n_total // 2)

    root = str(tmp_path / "stream_shards")
    H.build_sharded_hnsw(lo, root, n_shards=3, M=8, ef_construction=64)

    hi = (
        spark.readStream.schema(batch_df.schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(str(d))
        .filter(F.col("vec_id") >= n_total // 2)
        .select("vec_id", "embedding")
    )
    run_available_now(
        sharded_hnsw_append_sink(hi, root, str(tmp_path / "ckpt_s1"))
    )
    meta = H.load_sharded_meta(root)
    assert sum(n for _, n in meta["shards"]) == n_total
    ef = max(n for _, n in meta["shards"])
    qids = [str(v) for v in range(3)]
    qvs = [_qv(emb, v) for v in range(3)]
    got = {
        (r["query_id"], r["vec_id"], round(r["similarity"], 6))
        for r in H.sharded_search_batch(
            spark, root, qids, qvs, 10, ef=ef
        ).collect()
    }
    want = {
        (qid, i, s)
        for qid, qv in zip(qids, qvs)
        for i, s in _flat(emb, qv)
    }
    assert got == want

    # fresh-checkpoint replay: same batch ids land at-or-below every
    # shard's committed watermark — point counts must not move
    hi2 = (
        spark.readStream.schema(batch_df.schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(str(d))
        .filter(F.col("vec_id") >= n_total // 2)
        .select("vec_id", "embedding")
    )
    run_available_now(
        sharded_hnsw_append_sink(hi2, root, str(tmp_path / "ckpt_s2"))
    )
    meta2 = H.load_sharded_meta(root)
    assert meta2["shards"] == meta["shards"]


def test_sharded_append_bootstrap_empty_root(spark, emb, tmp_path):
    """A build over an EMPTY frame commits a shard-less manifest; the
    stream then CREATES every shard and the manifest bump makes them
    servable — a stream-only sharded root."""
    import os

    from chromem_go_spark.operators import hnsw as H
    from chromem_go_spark.streaming.ingest import (
        run_available_now,
        sharded_hnsw_append_sink,
    )

    root = str(tmp_path / "boot_shards")
    m0 = H.build_sharded_hnsw(
        emb.filter(F.lit(False)), root, n_shards=3, M=8,
        ef_construction=64,
    )
    assert m0["shards"] == []

    sf = os.environ.get("SPARK_GRAFT_TEST_SF_DIR", "/root/testdata/sf0.001")
    d = tmp_path / "boot_vec_stream"
    _write_halves(sf, d)
    batch_df = spark.read.parquet(str(d))
    stream = (
        spark.readStream.schema(batch_df.schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(str(d))
        .select("vec_id", "embedding")
    )
    run_available_now(
        sharded_hnsw_append_sink(stream, root, str(tmp_path / "ckpt_b"))
    )
    meta = H.load_sharded_meta(root)
    assert sum(n for _, n in meta["shards"]) == batch_df.count()
    ef = max(n for _, n in meta["shards"])
    qv = _qv(emb, 0)
    got = [
        (r["vec_id"], round(r["similarity"], 6))
        for r in H.sharded_search_batch(
            spark, root, ["0"], [qv], 10, ef=ef
        ).collect()
    ]
    got.sort(key=lambda t: (-t[1], t[0]))
    assert got == _flat(emb, qv)


def test_sharded_append_crash_before_bump_heals(spark, emb, tmp_path,
                                                monkeypatch):
    """Kill injection at the one non-transactional seam: every shard
    committed its generation but the driver died BEFORE the manifest
    bump.  The replayed batch is skipped per shard (watermarks), the
    shards re-report their current counts, and the re-bump heals the
    manifest — no duplicate inserts, counts exact."""
    import os

    import chromem_go_spark.operators.hnsw as H
    from chromem_go_spark.streaming.ingest import (
        run_available_now,
        sharded_hnsw_append_sink,
    )

    sf = os.environ.get("SPARK_GRAFT_TEST_SF_DIR", "/root/testdata/sf0.001")
    d = tmp_path / "crash_vec_stream"
    _write_halves(sf, d)
    batch_df = spark.read.parquet(str(d))
    n_total = batch_df.count()
    lo = emb.filter(F.col("vec_id") < n_total // 2)
    root = str(tmp_path / "crash_shards")
    H.build_sharded_hnsw(lo, root, n_shards=3, M=8, ef_construction=64)

    real = H.bump_sharded_manifest
    calls = {"n": 0}

    def flaky(r, counts, centroids=None):
        calls["n"] += 1
        if calls["n"] == 1:
            raise OSError("injected crash before manifest bump")
        return real(r, counts, centroids=centroids)

    monkeypatch.setattr(H, "bump_sharded_manifest", flaky)

    def mk_stream():
        return (
            spark.readStream.schema(batch_df.schema)
            .option("maxFilesPerTrigger", 1)
            .parquet(str(d))
            .filter(F.col("vec_id") >= n_total // 2)
            .select("vec_id", "embedding")
        )

    ckpt = str(tmp_path / "ckpt_crash")
    with pytest.raises(Exception, match="injected crash"):
        run_available_now(
            sharded_hnsw_append_sink(mk_stream(), root, ckpt)
        )
    # restart from the SAME checkpoint: the failed batch replays
    run_available_now(
        sharded_hnsw_append_sink(mk_stream(), root, ckpt)
    )
    meta = H.load_sharded_meta(root)
    assert sum(n for _, n in meta["shards"]) == n_total
    ef = max(n for _, n in meta["shards"])
    qv = _qv(emb, 1)
    got = [
        (r["vec_id"], round(r["similarity"], 6))
        for r in H.sharded_search_batch(
            spark, root, ["1"], [qv], 10, ef=ef
        ).collect()
    ]
    got.sort(key=lambda t: (-t[1], t[0]))
    assert got == _flat(emb, qv)


def test_append_shard_batch_cache_replay_and_taint(emb, tmp_path, monkeypatch):
    """The executor-side per-shard append core: commits land with the
    watermark, the SAME process serves the next batch from the
    commit-keyed cache (no disk reload), a replayed batch id is
    skipped exactly, a FOREIGN commit invalidates the cache, and a
    failed commit taints it (retry reloads the committed snapshot —
    no double insert)."""
    import chromem_go_spark.operators.hnsw as H

    rows = sorted(
        emb.filter(F.col("vec_id") < 80)
        .select("vec_id", "embedding")
        .collect(),
        key=lambda r: r[0],
    )
    ids = [r[0] for r in rows]
    vecs = [list(r[1]) for r in rows]
    d = str(tmp_path / "one_shard")
    H._APPEND_CACHE.clear()

    loads = {"n": 0}
    real_load = H.load_snapshot

    def counting_load(p):
        loads["n"] += 1
        return real_load(p)

    monkeypatch.setattr(H, "load_snapshot", counting_load)

    n, cent, _nn = H.append_shard_batch(d, 0, ids[:50], vecs[:50], M=8,
                                   ef_construction=64)
    assert n == 50 and loads["n"] == 0  # fresh shard: nothing to load
    assert len(cent) == len(vecs[0])  # shard centroid rides the commit
    # the id-set rides the cache entry (r11): grab it to prove the
    # next warm batch updates it INCREMENTALLY, never rebuilding
    set_after_b0 = H._APPEND_CACHE[d][2]
    assert set_after_b0 == set(ids[:50])
    # second batch: live gen is the one THIS process committed — warm
    n, _, _nn = H.append_shard_batch(d, 1, ids[50:], vecs[50:], M=8,
                                ef_construction=64)
    assert n == 80 and loads["n"] == 0
    # SAME set object, grown in place — no O(shard size) rebuild on a
    # warm batch (r11; a rebuild would store a fresh set object)
    assert H._APPEND_CACHE[d][2] is set_after_b0
    assert set_after_b0 == set(ids)
    # replay of batch 1: skipped exactly, still no reload
    n, _, _nn = H.append_shard_batch(d, 1, ids[50:], vecs[50:], M=8,
                                ef_construction=64)
    assert n == 80 and loads["n"] == 0
    # the committed snapshot IS the in-memory graph (cache hit was
    # consistent): exact search over all 80 via the committed file
    idx, last = real_load(d)
    assert idx.n_points() == 80 and last == 1
    qv = vecs[0]
    got = [(i, round(s, 6)) for i, s in idx.search(qv, 10, ef=80)]
    sub = emb.filter(F.col("vec_id") < 80)
    assert got == _flat(sub, qv)

    # FOREIGN commit (another process bumps the generation): the gen
    # key no longer matches -> disk reload on the next append
    H.save_snapshot(idx, d, last_batch=1)
    n, _, _nn = H.append_shard_batch(d, 2, ids[:1], vecs[:1], M=8,
                                ef_construction=64)
    assert n == 80 and loads["n"] == 1  # dup id dropped, but reloaded

    # failed commit taints the cache: the retried batch applies ONCE
    real_save = H.save_snapshot
    calls = {"n": 0}

    def flaky(idx2, root2, last_batch=-1):
        calls["n"] += 1
        if calls["n"] == 1:
            raise OSError("injected commit failure")
        return real_save(idx2, root2, last_batch=last_batch)

    monkeypatch.setattr(H, "save_snapshot", flaky)
    extra_rows = sorted(
        emb.filter((F.col("vec_id") >= 80) & (F.col("vec_id") < 90))
        .select("vec_id", "embedding")
        .collect(),
        key=lambda r: r[0],
    )
    eids = [r[0] for r in extra_rows]
    evecs = [list(r[1]) for r in extra_rows]
    with pytest.raises(OSError, match="injected"):
        H.append_shard_batch(d, 3, eids, evecs, M=8, ef_construction=64)
    assert d not in H._APPEND_CACHE  # tainted entry dropped
    n, _, _nn = H.append_shard_batch(d, 3, eids, evecs, M=8, ef_construction=64)
    assert n == 90
    idx2, last2 = real_load(d)
    assert idx2.n_points() == 90 and last2 == 3
    assert len(set(idx2.ids)) == 90  # no duplicate nodes from the retry


def test_append_shard_batch_insert_failure_taints_cache(
    emb, tmp_path, monkeypatch
):
    """r11 (ADVICE): the taint rule covers the MUTATION, not just the
    commit — an insert_batch that raises after partially extending the
    graph must drop the cache entry, so the same-process retry reloads
    the committed snapshot instead of appending onto a half-applied
    batch."""
    import chromem_go_spark.operators.hnsw as H

    rows = sorted(
        emb.filter(F.col("vec_id") < 60)
        .select("vec_id", "embedding")
        .collect(),
        key=lambda r: r[0],
    )
    ids = [r[0] for r in rows]
    vecs = [list(r[1]) for r in rows]
    d = str(tmp_path / "taint_shard")
    H._APPEND_CACHE.clear()
    n, _, _nn = H.append_shard_batch(d, 0, ids[:40], vecs[:40], M=8,
                                ef_construction=64)
    assert n == 40 and d in H._APPEND_CACHE

    real_insert = H.HNSWIndex.insert_batch
    calls = {"n": 0}

    def partial_insert(self, new_ids, new_vecs, ef_construction=200):
        calls["n"] += 1
        if calls["n"] == 1:
            # mutate BEFORE failing — the half-applied-batch hazard
            real_insert(self, new_ids[:5], new_vecs[:5],
                        ef_construction=ef_construction)
            raise RuntimeError("injected insert failure")
        return real_insert(self, new_ids, new_vecs,
                           ef_construction=ef_construction)

    monkeypatch.setattr(H.HNSWIndex, "insert_batch", partial_insert)
    with pytest.raises(RuntimeError, match="injected insert"):
        H.append_shard_batch(d, 1, ids[40:], vecs[40:], M=8,
                             ef_construction=64)
    assert d not in H._APPEND_CACHE  # tainted: mutation didn't commit
    # retry reloads the committed 40-point snapshot and applies ONCE
    n, _, _nn = H.append_shard_batch(d, 1, ids[40:], vecs[40:], M=8,
                                ef_construction=64)
    assert n == 60
    idx, last = H.load_snapshot(d)
    assert idx.n_points() == 60 and last == 1
    assert len(set(idx.ids)) == 60  # no duplicates from the retry


def test_sharded_probe_pruning_identity_and_recall(spark, emb, tmp_path):
    """r11: the centroid shard router.  shards_probed=None (and
    P >= S) keeps the exact all-shards identity; P < S returns each
    query's results from exactly its P nearest-centroid shards (a
    subset of the exact walk, verified per query), and the probe
    tables route DIFFERENT queries to DIFFERENT shards."""
    from chromem_go_spark.operators import hnsw as H

    root = str(tmp_path / "probe_shards")
    m = H.build_sharded_hnsw(emb, root, n_shards=4, M=8,
                             ef_construction=64)
    assert set(m["centroids"].keys()) == {
        str(s) for s, _ in m["shards"]
    }
    ef = max(n for _, n in m["shards"])
    qids = [str(v) for v in range(6)]
    qvs = [_qv(emb, v) for v in range(6)]

    exact = {
        (r["query_id"], r["vec_id"], round(r["similarity"], 6))
        for r in H.sharded_search_batch(
            spark, root, qids, qvs, 10, ef=ef
        ).collect()
    }
    # P >= S is the identity
    all_p = {
        (r["query_id"], r["vec_id"], round(r["similarity"], 6))
        for r in H.sharded_search_batch(
            spark, root, qids, qvs, 10, ef=ef, shards_probed=4
        ).collect()
    }
    assert all_p == exact

    # P=2: per-query results must be exactly the exact top-k RESTRICTED
    # to that query's 2 nearest-centroid shards (the walk itself is
    # exhaustive per shard at ef >= shard size)
    meta = H.load_sharded_meta(root)
    probe = dict(H._probe_shard_lists(meta, qvs, 2))
    shard_of = {}
    for s, _ in meta["shards"]:
        idx = H._load_shard_graph(root, s)
        for i in idx.ids:
            shard_of[i] = s
    pruned = H.sharded_search_batch(
        spark, root, qids, qvs, 10, ef=ef, shards_probed=2
    ).collect()
    by_q: dict = {}
    for r in pruned:
        by_q.setdefault(r["query_id"], set()).add(
            (r["vec_id"], round(r["similarity"], 6))
        )
    n_total = len(shard_of)
    for qi, (qid, qv) in enumerate(zip(qids, qvs)):
        allowed = {s for s, qlist in probe.items() if qi in qlist}
        assert len(allowed) == 2
        # exact expectation: the full ranking restricted to the probed
        # shards, first 10 (per-shard walks are exhaustive at ef >=
        # shard size, so pruning is the ONLY approximation)
        want = [
            (i, s) for i, s in _flat(emb, qv, k=n_total)
            if shard_of[i] in allowed
        ][:10]
        assert by_q.get(qid, set()) == set(want)


def test_probe_shard_lists_fallback_without_centroids(emb, tmp_path):
    """A pre-r11 manifest (no centroid table) cannot be pruned: every
    shard is probed by every query — conservative, never dropping a
    shard silently."""
    from chromem_go_spark.operators import hnsw as H

    meta = {"shards": [(0, 10), (1, 10), (2, 10)], "id_col": "vec_id"}
    lists = H._probe_shard_lists(meta, [[1.0, 0.0]], 1)
    assert lists == [(0, [0]), (1, [0]), (2, [0])]
    # and P>=S / None short-circuit before touching centroids
    assert H._probe_shard_lists(meta, [[1.0, 0.0]], None) == [
        (0, [0]), (1, [0]), (2, [0])
    ]
    with pytest.raises(ValueError, match="shards_probed"):
        H._probe_shard_lists(meta, [[1.0, 0.0]], 0)


def test_bump_sharded_manifest_concurrent_writers(emb, tmp_path):
    """r11 (ADVICE): the manifest fold is flock-serialized — two
    writers bumping DIFFERENT shards concurrently never lose each
    other's counts to the read-modify-write race."""
    import json
    import os
    from concurrent.futures import ThreadPoolExecutor

    from chromem_go_spark.operators import hnsw as H

    root = str(tmp_path / "lock_root")
    os.makedirs(root)
    with open(os.path.join(root, H._SHARD_MANIFEST), "w") as f:
        json.dump(
            {"n_shards": 2, "shards": [], "id_col": "vec_id",
             "id_kind": "int", "M": 8, "seed": 42},
            f,
        )

    def bump_many(shard):
        for v in range(1, 26):
            H.bump_sharded_manifest(
                root, {shard: v}, centroids={shard: [float(shard), 1.0]}
            )

    with ThreadPoolExecutor(max_workers=2) as ex:
        list(ex.map(bump_many, [0, 1]))
    meta = H.load_sharded_meta(root)
    # neither writer's final count was lost
    assert dict(meta["shards"]) == {0: 25, 1: 25}
    assert meta["centroids"] == {"0": [0.0, 1.0], "1": [1.0, 1.0]}


def _clustered_df(spark, n_clusters=8, per=50, dim=16, sep=6.0, seed=7):
    """Well-separated Gaussian blobs, L2-NORMALIZED (unit vectors like
    the driver testdata embeddings, so knn_block's dot == cosine ==
    the graph's internal metric): the corpus shape where semantic
    (centroid) sharding routes correctly and hash sharding provably
    cannot (shard contents are random subsets)."""
    import numpy as np

    rng = np.random.default_rng(seed)
    centers = rng.normal(size=(n_clusters, dim)) * sep
    rows = []
    for c in range(n_clusters):
        # noise wide enough that within-blob similarities spread out
        # (tighter blobs make rank-10 boundary near-ties that flip on
        # float-path differences between the JVM dot and the numpy walk)
        pts = centers[c] + rng.normal(size=(per, dim)) * 0.4
        pts = pts / np.linalg.norm(pts, axis=1, keepdims=True)
        for j, p in enumerate(pts):
            rows.append((c * per + j, [float(x) for x in p]))
    return spark.createDataFrame(
        rows, "vec_id long, embedding array<double>"
    )


def test_centroid_sharding_beats_hash_routing(spark, tmp_path):
    """r11, the design claim behind shard_by='centroid': on a
    clustered corpus, probing ONE shard recovers (nearly) the full
    exact top-k because each query's true neighbors live in its
    nearest cell — while the same P=1 probe over a HASH root can only
    see ~1/S of each query's neighbors (random placement).  Measured
    here on planted Gaussian blobs, deterministic seeds."""
    from chromem_go_spark.operators import hnsw as H

    df = _clustered_df(spark)
    qrows = df.filter(F.col("vec_id") % 50 == 3).collect()  # 1 per blob
    qids = [str(r["vec_id"]) for r in qrows]
    qvs = [list(r["embedding"]) for r in qrows]
    exact = {}
    for r in K.knn_block(
        df, qids, qvs, 10, vec_col="embedding", id_col="vec_id"
    ).collect():
        exact.setdefault(r["query_id"], set()).add(r["vec_id"])

    def recall(rows):
        got = {}
        for r in rows:
            got.setdefault(r["query_id"], set()).add(r["vec_id"])
        return sum(
            len(got.get(q, set()) & exact[q]) / len(exact[q])
            for q in exact
        ) / len(exact)

    sroot = str(tmp_path / "cent_shards")
    m = H.build_sharded_hnsw(
        df, sroot, n_shards=8, M=8, ef_construction=64,
        shard_by="centroid",
    )
    assert m["shard_by"] == "centroid"
    assert set(m["centroids"].keys()) == {str(j) for j in range(8)}
    per = max(n for _, n in m["shards"])
    sh = H.ShardedHNSW.load(sroot)
    # P=1 over the centroid root: each blob is one cell, recall ~ 1
    r_cent = recall(
        sh.search_batch(spark, qids, qvs, 10, ef=per,
                        shards_probed=1).collect()
    )
    assert r_cent >= 0.9
    # P=S stays the exact identity on a centroid root too
    r_all = recall(
        sh.search_batch(spark, qids, qvs, 10, ef=per).collect()
    )
    assert r_all == 1.0

    hroot = str(tmp_path / "hash_shards")
    H.build_sharded_hnsw(
        df, hroot, n_shards=8, M=8, ef_construction=64, shard_by="hash"
    )
    hh = H.ShardedHNSW.load(hroot)
    r_hash = recall(
        hh.search_batch(spark, qids, qvs, 10, ef=per,
                        shards_probed=1).collect()
    )
    # hash placement: ~1/8 of each query's neighbors per shard
    assert r_hash <= 0.5
    assert r_cent > r_hash


def test_centroid_sharded_stream_appends_route_by_frozen_centroids(
    spark, tmp_path
):
    """Streaming appends to a centroid root place each point in the
    cell the BUILD's frozen assignment centroids choose (never the
    hash rule), the manifest's centroids do not move on bump, and the
    grown corpus stays exactly searchable at P=S / findable at P=1."""
    import numpy as np

    from chromem_go_spark.operators import ann as A
    from chromem_go_spark.operators import hnsw as H
    from chromem_go_spark.streaming.ingest import (
        run_available_now,
        sharded_hnsw_append_sink,
    )

    df = _clustered_df(spark)
    lo = df.filter(F.col("vec_id") % 50 < 40)
    hi = df.filter(F.col("vec_id") % 50 >= 40)
    sroot = str(tmp_path / "cent_stream_shards")
    m0 = H.build_sharded_hnsw(
        lo, sroot, n_shards=8, M=8, ef_construction=64,
        shard_by="centroid",
    )
    cents0 = m0["centroids"]

    d = tmp_path / "cent_stream_src"
    d.mkdir()
    hi.coalesce(1).write.parquet(str(d / "batch"))
    stream = (
        spark.readStream.schema(df.schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(str(d / "batch"))
    )
    run_available_now(
        sharded_hnsw_append_sink(stream, sroot, str(tmp_path / "ckpt_c"))
    )
    m1 = H.load_sharded_meta(sroot)
    assert sum(n for _, n in m1["shards"]) == df.count()
    # frozen: the assignment table did not move on the bump
    assert m1["centroids"] == cents0

    # every streamed id sits in the shard its frozen centroid picks
    cents = np.asarray(
        [cents0[str(j)] for j in range(8)], dtype=np.float64
    )
    hi_rows = hi.collect()
    want_shard = {
        r["vec_id"]: int(
            np.argmax(np.asarray(r["embedding"]) @ cents.T)
        )
        for r in hi_rows
    }
    for s, _ in m1["shards"]:
        idx = H._load_shard_graph(sroot, s)
        for i in idx.ids:
            if i in want_shard:
                assert want_shard[i] == s

    # grown corpus: P=S exact, P=1 still finds the streamed points
    per = max(n for _, n in m1["shards"])
    sh = H.ShardedHNSW.load(sroot)
    q = hi_rows[0]
    got = [
        (r["vec_id"], round(r["similarity"], 6))
        for r in sh.search_batch(
            spark, [str(q["vec_id"])], [list(q["embedding"])], 10, ef=per
        ).collect()
    ]
    got.sort(key=lambda t: (-t[1], t[0]))
    assert got == _flat(df, list(q["embedding"]))
    got1 = {
        r["vec_id"]
        for r in sh.search_batch(
            spark, [str(q["vec_id"])], [list(q["embedding"])], 10,
            ef=per, shards_probed=1,
        ).collect()
    }
    assert q["vec_id"] in got1 and len(got1) == 10


def test_centroid_sharding_refuses_empty_build(spark, emb, tmp_path):
    """Centroid roots need a trained assignment table — an empty build
    corpus raises the typed EmptyCorpusError instead of committing an
    unroutable manifest (hash roots keep the empty-bootstrap path)."""
    from chromem_go_spark.operators import ann as A
    from chromem_go_spark.operators import hnsw as H

    with pytest.raises(A.EmptyCorpusError):
        H.build_sharded_hnsw(
            emb.filter(F.lit(False)), str(tmp_path / "e"),
            n_shards=4, shard_by="centroid",
        )
    with pytest.raises(ValueError, match="shard_by"):
        H.build_sharded_hnsw(
            emb, str(tmp_path / "e2"), n_shards=4, shard_by="rando"
        )


def test_layer0_connected_on_clustered_corpus(spark):
    """r11: the connectivity INVARIANT (protected layer-0 tree edges).
    Tight near-duplicate clusters made the naive M-nearest prune drop
    every in-edge of some nodes — ef >= n exactness silently depended
    on the corpus shape.  Single graph and per-shard graphs must stay
    connected, and the ef >= n walk must equal brute force, on the
    clustered corpus that used to disconnect."""
    import numpy as np

    df = _clustered_df(spark)
    g = HNSWIndex.build(df, M=8, ef_construction=64)
    assert g.check_connected()
    # exactness on the adversarial shape
    q = df.filter(F.col("vec_id") == 3).head()["embedding"]
    got = [(i, round(s, 6)) for i, s in g.search(list(q), 10, ef=g.n_points())]
    assert got == _flat(df, list(q))
    # survives a snapshot round trip (parents persist)
    import tempfile

    d = tempfile.mkdtemp(prefix="conn_snap_")
    g.save(d)
    back = HNSWIndex.load(d)
    assert back.parent == g.parent
    assert back.check_connected()
    # and incremental appends keep the invariant
    rows = sorted(
        (
            (int(r["vec_id"]) + 10_000, list(r["embedding"]))
            for r in df.filter(F.col("vec_id") < 40).collect()
        ),
    )
    back.insert_batch([i for i, _ in rows], [v for _, v in rows],
                      ef_construction=64)
    assert back.check_connected()


# ------------------------------------------- tombstones + filtered walks (r11)


def test_delete_ids_exact_over_live(emb):
    """Logical delete: tombstoned nodes can never be returned, and the
    exactness certificate restates over the LIVE population — ef >=
    n_points() (live) equals brute force over the non-deleted corpus,
    including when the deleted set contains the query's own top hits."""
    g = HNSWIndex.build(emb, M=8, ef_construction=64)
    qv = _qv(emb, 0)
    top = [i for i, _ in g.search(qv, 3, ef=g.n_points())]
    assert g.delete_ids(top) == 3
    assert g.delete_ids(top) == 0  # idempotent, the IVF contract
    assert g.n_points() == g.n_nodes() - 3
    got = [(i, round(s, 6)) for i, s in g.search(qv, 10, ef=g.n_points())]
    want = _flat(emb.filter(~F.col("vec_id").isin([int(t) for t in top])), qv)
    assert got == want
    assert not (set(top) & {i for i, _ in got})


def test_delete_entry_point_stays_navigable(emb):
    """Deleting the graph's entry node must not strand the walk — the
    tombstoned entry remains a waypoint."""
    g = HNSWIndex.build(emb, M=8, ef_construction=64)
    g.delete_ids([g.ids[g.entry]])
    qv = _qv(emb, 5)
    # direct_filter_cells=0 (r12, ADVICE): the tiny test corpus is far
    # below the direct-GEMM threshold, so without forcing the WALK the
    # navigability claim this test names would never be exercised
    got = [(i, round(s, 6))
           for i, s in g.search(qv, 10, ef=g.n_points(),
                                direct_filter_cells=0)]
    dropped = int(g.ids[g.entry])
    want = _flat(emb.filter(F.col("vec_id") != dropped), qv)
    assert got == want


def test_allowed_filter_exact(emb):
    """A query-time allowed id set == brute force over exactly that
    subset (the reference's filter-before-scoring semantics, served
    from the graph instead of the FLAT fallback)."""
    g = HNSWIndex.build(emb, M=8, ef_construction=64)
    allowed = {int(r["vec_id"]) for r in
               emb.filter(F.col("vec_id") % 3 == 0).collect()}
    qv = _qv(emb, 1)
    got = [(i, round(s, 6))
           for i, s in g.search(qv, 10, ef=g.n_points(), allowed=allowed)]
    want = _flat(emb.filter(F.col("vec_id") % 3 == 0), qv)
    assert got == want
    assert all(i in allowed for i, _ in got)


def test_allowed_composes_with_tombstones(emb):
    """Eligibility = allowed AND not deleted — one predicate, both
    constraints."""
    g = HNSWIndex.build(emb, M=8, ef_construction=64)
    allowed = {int(r["vec_id"]) for r in
               emb.filter(F.col("vec_id") % 2 == 0).collect()}
    victims = sorted(allowed)[:2]
    g.delete_ids(victims)
    qv = _qv(emb, 2)
    got = [(i, round(s, 6))
           for i, s in g.search(qv, 10, ef=g.n_points(), allowed=allowed)]
    want = _flat(
        emb.filter((F.col("vec_id") % 2 == 0)
                   & ~F.col("vec_id").isin(victims)), qv,
    )
    assert got == want


def test_tombstones_persist_in_snapshot(emb, tmp_path):
    """Deletes ride the same atomic npz: save/load keeps the tombstone
    set and the post-delete search results bit-for-bit."""
    g = HNSWIndex.build(emb, M=8, ef_construction=64)
    g.delete_ids([0, 1, 2])
    d = str(tmp_path / "tomb_snap")
    g.save(d)
    back = HNSWIndex.load(d)
    assert back.deleted == g.deleted
    assert back.n_points() == g.n_points()
    qv = _qv(emb, 4)
    assert back.search(qv, 10, ef=back.n_points()) == g.search(
        qv, 10, ef=g.n_points()
    )


def test_compacted_physical_apply(emb):
    """compacted() == a fresh build over the live points: tombstones
    gone, connectivity holds, search results identical to the
    tombstoned graph's."""
    g = HNSWIndex.build(emb, M=8, ef_construction=64)
    g.delete_ids([0, 3, 7])
    c = g.compacted(ef_construction=64)
    assert not c.deleted
    assert c.n_nodes() == g.n_points()
    assert c.check_connected()
    qv = _qv(emb, 9)
    # rounded: compacted vectors pass through build_local's
    # re-normalization (a no-op up to float rounding)
    assert [
        (i, round(s, 6)) for i, s in c.search(qv, 10, ef=c.n_points())
    ] == [(i, round(s, 6)) for i, s in g.search(qv, 10, ef=g.n_points())]


def test_centroid_excludes_tombstones(spark):
    """The shard-router centroid is over LIVE vectors only — a deleted
    hot cluster must stop pulling the shard's coarse representative."""
    ids = list(range(6))
    vecs = [[1.0, 0.0]] * 3 + [[0.0, 1.0]] * 3
    g = HNSWIndex.build_local(ids, vecs, M=4, ef_construction=16)
    g.delete_ids([i for i, v in zip(g.ids, g.vectors) if v[0] > 0.5])
    cent = g.centroid()
    assert abs(cent[0]) < 1e-9 and abs(cent[1] - 1.0) < 1e-9


def test_sharded_delete_and_compact(spark, emb, tmp_path):
    """delete_sharded_ids tombstones across shards (fresh snapshot
    generations, manifest live counts re-folded) and
    compact_sharded_hnsw physically rebuilds only the shards that hold
    tombstones — search stays exact over the live corpus throughout."""
    from chromem_go_spark.operators.hnsw import (
        ShardedHNSW,
        build_sharded_hnsw,
        compact_sharded_hnsw,
        delete_sharded_ids,
        load_sharded_meta,
        sharded_search_batch,
    )

    root = str(tmp_path / "del_shards")
    build_sharded_hnsw(emb, root, n_shards=4, M=8, ef_construction=64)
    n = emb.count()
    victims = [0, 1, 2, 3, 4, 5]  # hash placement spreads these around
    meta = delete_sharded_ids(spark, root, victims)
    assert sum(c for _, c in meta["shards"]) == n - len(victims)
    live = emb.filter(~F.col("vec_id").isin(victims))
    qv = _qv(emb, 0)
    got = [
        (r["vec_id"], round(r["similarity"], 6))
        for r in sharded_search_batch(spark, root, ["0"], [qv], 10,
                                      ef=n).collect()
    ]
    got.sort(key=lambda t: (-t[1], t[0]))
    assert got == _flat(live, qv)
    # handle-level API refreshes its manifest view
    h = ShardedHNSW.load(root)
    assert h.n_points() == n - len(victims)
    assert h.delete_ids(spark, [6]) == 1
    assert h.n_points() == n - len(victims) - 1
    # physical apply: same results, tombstones gone everywhere
    meta2 = compact_sharded_hnsw(spark, root)
    assert sum(c for _, c in meta2["shards"]) == n - len(victims) - 1
    live2 = emb.filter(~F.col("vec_id").isin(victims + [6]))
    got2 = [
        (r["vec_id"], round(r["similarity"], 6))
        for r in sharded_search_batch(spark, root, ["0"], [qv], 10,
                                      ef=n).collect()
    ]
    got2.sort(key=lambda t: (-t[1], t[0]))
    assert got2 == _flat(live2, qv)
    from chromem_go_spark.operators.hnsw import _resolve_shard_snapshot, _shard_dir

    for s, _ in load_sharded_meta(root)["shards"]:
        back = HNSWIndex.load(_resolve_shard_snapshot(_shard_dir(root, s)))
        assert not back.deleted


def test_sharded_allowed_filter(spark, emb, tmp_path):
    """One allowed id set across a sharded batch == brute force over
    the subset, composed with the shard merge."""
    from chromem_go_spark.operators.hnsw import (
        build_sharded_hnsw,
        sharded_search_batch,
    )

    root = str(tmp_path / "filt_shards")
    build_sharded_hnsw(emb, root, n_shards=3, M=8, ef_construction=64)
    allowed = {int(r["vec_id"]) for r in
               emb.filter(F.col("vec_id") % 4 == 1).collect()}
    qv = _qv(emb, 2)
    got = [
        (r["vec_id"], round(r["similarity"], 6))
        for r in sharded_search_batch(
            spark, root, ["0"], [qv], 10, ef=emb.count(), allowed=allowed
        ).collect()
    ]
    got.sort(key=lambda t: (-t[1], t[0]))
    assert got == _flat(emb.filter(F.col("vec_id") % 4 == 1), qv)


def test_delete_then_stream_append_does_not_resurrect(emb, tmp_path):
    """First-write-wins is absolute within a shard's generation
    history: a streamed re-add of a tombstoned id is dropped by the
    append dedup (the id-set includes tombstones)."""
    from chromem_go_spark.operators.hnsw import (
        append_shard_batch,
        load_snapshot,
    )

    sdir = str(tmp_path / "shard_res")
    rows = sorted(
        (int(r["vec_id"]), list(r["embedding"]))
        for r in emb.limit(20).collect()
    )
    append_shard_batch(
        sdir, 0, [i for i, _ in rows], [v for _, v in rows],
        M=8, ef_construction=64,
    )
    idx, last = load_snapshot(sdir)
    victim = idx.ids[0]
    idx.delete_ids([victim])
    from chromem_go_spark.operators import hnsw as H

    H.save_snapshot(idx, sdir, last_batch=last)
    H._APPEND_CACHE.pop(sdir, None)  # force the disk path
    vic_vec = dict(rows)[victim]
    n, _, _nn = append_shard_batch(
        sdir, 1, [victim, 999], [vic_vec, [0.5] * len(vic_vec)],
        M=8, ef_construction=64,
    )
    back, _ = load_snapshot(sdir)
    assert back.ids.count(victim) == 1  # not duplicated
    got = {i for i, _ in back.search(vic_vec, len(back.ids),
                                     ef=back.n_points())}
    assert victim not in got
    assert 999 in back.ids


def _filter_collection(spark, name):
    from chromem_go_spark.db import DB
    from chromem_go_spark.document import Document
    from chromem_go_spark.embeddings.stub import make_hash_embedding_func

    db = DB(spark)
    c = db.create_collection(
        name, embedding_func=make_hash_embedding_func(16)
    )
    c.add_documents(
        [
            Document(
                id=str(i),
                content=f"quick fox {i}" if i % 2 == 0 else f"lazy dog {i}",
                metadata={"lang": "en" if i % 3 == 0 else "de"},
            )
            for i in range(24)
        ]
    )
    return c


def test_collection_served_hnsw_filtered_serves_graph(spark):
    """A metadata filter on a served HNSW query serves FROM THE GRAPH
    (allowed id-set walk) and matches the exact scan path exactly at
    target_recall >= 0.999 — the r11 replacement for the silent
    exact-scan downgrade."""
    c = _filter_collection(spark, "hnsw_filtered_serve")
    served = c.build_hnsw_index(M=4, ef_construction=32)
    qv = c.embedding_func("quick")
    want = {
        (r["id"], round(r["similarity"], 6))
        for r in c.query_embedding(
            qv, 3, where={"lang": "en"}
        ).collect()
    }
    out = c.query_embedding(
        qv, 3, where={"lang": "en"}, index=served, target_recall=1.0
    )
    # the graph path's shape: (id, similarity) only — proof the walk
    # served the filter rather than the exact scan (which carries the
    # document columns through)
    assert set(out.columns) == {"id", "similarity"}
    got = {(r["id"], round(r["similarity"], 6)) for r in out.collect()}
    assert got == want
    # results only from the allowed set
    assert all(int(i) % 3 == 0 for i, _ in got)


def test_collection_served_hnsw_filter_cap_falls_back(spark, monkeypatch):
    """Beyond HNSW_FILTER_MAX_IDS matching ids the query falls back to
    the exact scan path (full document columns — the fallback's
    signature shape) with identical row values."""
    from chromem_go_spark.collection import Collection

    c = _filter_collection(spark, "hnsw_filtered_cap")
    served = c.build_hnsw_index(M=4, ef_construction=32)
    monkeypatch.setattr(Collection, "HNSW_FILTER_MAX_IDS", 2)
    qv = c.embedding_func("quick")
    out = c.query_embedding(
        qv, 3, where={"lang": "en"}, index=served, target_recall=1.0
    )
    assert "content" in out.columns  # exact scan path engaged
    want = {
        (r["id"], round(r["similarity"], 6))
        for r in c.query_embedding(qv, 3, where={"lang": "en"}).collect()
    }
    got = {(r["id"], round(r["similarity"], 6)) for r in out.collect()}
    assert got == want


def test_router_allowed_rejects_non_graph_tiers(spark, emb):
    """`allowed` is the graph tier's filter form only — every other
    tier takes a Column predicate."""
    from chromem_go_spark.operators import router as R

    with pytest.raises(ValueError, match="allowed id-set"):
        R.routed_search(emb, _qv(emb, 0), 5, allowed={1, 2})
    with pytest.raises(ValueError, match="allowed id-set"):
        R.routed_search_batch(
            emb, ["0"], [_qv(emb, 0)], 5, allowed={1, 2}
        )


def test_routed_batch_served_hnsw_allowed(spark, emb, idx):
    """The batch router passes one shared allowed set into the served
    graph walks — exact at target_recall >= 0.999."""
    from chromem_go_spark.operators import router as R

    allowed = {int(r["vec_id"]) for r in
               emb.filter(F.col("vec_id") % 2 == 0).collect()}
    qvs = [_qv(emb, v) for v in (0, 1)]
    out = R.routed_search_batch(
        emb, ["a", "b"], qvs, 5, index=idx, target_recall=1.0,
        allowed=allowed,
    )
    got = {
        (r["query_id"], r["vec_id"], round(r["similarity"], 6))
        for r in out.collect()
    }
    want = set()
    for qid, qv in zip(("a", "b"), qvs):
        for i, s in _flat(emb.filter(F.col("vec_id") % 2 == 0), qv, 5):
            want.add((qid, i, s))
    assert got == want


# ----------------------------------------------------- CDC ingest (r11)


def test_append_shard_batch_cdc_ops(emb, tmp_path):
    """CDC mode (new_ops): last-write-wins per id — deletes tombstone
    and FREE the id, upserts of live ids replace their vector, and a
    later batch can resurrect a deleted id with a fresh vector.
    Replay stays exact (one watermark covers the whole op batch)."""
    from chromem_go_spark.operators.hnsw import (
        append_shard_batch,
        load_snapshot,
    )

    sdir = str(tmp_path / "cdc_shard")
    rows = sorted(
        (int(r["vec_id"]), list(r["embedding"]))
        for r in emb.limit(10).collect()
    )
    ids0 = [i for i, _ in rows]
    append_shard_batch(
        sdir, 0, ids0, [v for _, v in rows], M=8, ef_construction=64
    )
    dim = len(rows[0][1])
    new5 = [0.25] * dim
    n, _, _nn = append_shard_batch(
        sdir, 1,
        [ids0[0], ids0[5], 999],
        [None, new5, [0.5] * dim],
        M=8, ef_construction=64,
        new_ops=["delete", "upsert", "upsert"],
    )
    assert n == 10  # -1 delete, 5 replaced in place, +1 new id
    idx, last = load_snapshot(sdir)
    assert last == 1
    assert idx.n_nodes() == 12  # old 10 + replacement node + id 999
    full = {i for i, _ in idx.search(rows[0][1], 20, ef=idx.n_points())}
    assert ids0[0] not in full
    # the replaced id answers with its NEW vector (cosine 1.0 to it)
    top = idx.search(new5, 1, ef=idx.n_points())
    assert top[0][0] == ids0[5] and top[0][1] > 0.999999
    # resurrect the deleted id with a fresh vector in a later batch
    n, _, _nn = append_shard_batch(
        sdir, 2, [ids0[0]], [[0.75] * dim], M=8, ef_construction=64,
        new_ops=["upsert"],
    )
    assert n == 11
    idx2, _ = load_snapshot(sdir)
    top = idx2.search([0.75] * dim, 1, ef=idx2.n_points())
    assert top[0][0] == ids0[0] and top[0][1] > 0.999999
    # replay of batch 1 (at/below watermark): state must not move
    n, _, _nn = append_shard_batch(
        sdir, 1, [ids0[0]], [None], M=8, ef_construction=64,
        new_ops=["delete"],
    )
    assert n == 11


def test_append_shard_batch_cdc_rejects_bad_ops(emb, tmp_path):
    from chromem_go_spark.operators.hnsw import append_shard_batch

    sdir = str(tmp_path / "cdc_bad")
    with pytest.raises(ValueError, match="op must be"):
        append_shard_batch(
            sdir, 0, [1], [[0.1, 0.2]], new_ops=["replace"]
        )
    with pytest.raises(ValueError, match="carries no vector"):
        append_shard_batch(sdir, 0, [1], [None], new_ops=["upsert"])


def test_sharded_cdc_stream_sink(spark, emb, tmp_path):
    """op_col flips the sharded sink to CDC: streamed upserts add or
    replace, deletes tombstone — and the post-ingest exact search
    equals brute force over the resulting corpus."""
    import os

    import pyarrow as pa
    import pyarrow.parquet as pq

    from chromem_go_spark.operators import hnsw as H
    from chromem_go_spark.streaming.ingest import (
        run_available_now,
        sharded_hnsw_append_sink,
    )

    n_total = emb.count()
    lo = emb.filter(F.col("vec_id") < n_total // 2)
    root = str(tmp_path / "cdc_shards")
    H.build_sharded_hnsw(lo, root, n_shards=3, M=8, ef_construction=64)

    dim = len(emb.head()["embedding"])
    hi_rows = [
        (int(r["vec_id"]), [float(x) for x in r["embedding"]], "upsert")
        for r in emb.filter(F.col("vec_id") >= n_total // 2).collect()
    ]
    replaced_vec = [0.3] * dim
    events = hi_rows + [
        (0, None, "delete"),
        (1, None, "delete"),
        (2, replaced_vec, "upsert"),  # replace a built id's vector
    ]
    d = tmp_path / "cdc_events"
    d.mkdir()
    pq.write_table(
        pa.table(
            {
                "vec_id": pa.array([e[0] for e in events], pa.int64()),
                "embedding": pa.array(
                    [e[1] for e in events], pa.list_(pa.float64())
                ),
                "op": pa.array([e[2] for e in events]),
            }
        ),
        str(d / "b0.parquet"),
    )
    stream = (
        spark.readStream.schema(
            "vec_id long, embedding array<double>, op string"
        )
        .parquet(str(d))
    )
    run_available_now(
        sharded_hnsw_append_sink(
            stream, root, str(tmp_path / "cdc_ckpt"), op_col="op"
        )
    )
    meta = H.load_sharded_meta(root)
    assert sum(c for _, c in meta["shards"]) == n_total - 2
    # expected corpus: everything except 0 and 1, with 2's vector
    # replaced — build it as a frame and brute force
    rep = spark.createDataFrame(
        [(2, replaced_vec)], "vec_id long, embedding array<double>"
    )
    want_corpus = (
        emb.select("vec_id", "embedding")
        .filter(~F.col("vec_id").isin([0, 1, 2]))
        .unionByName(rep)
    )
    qv = _qv(emb, 5)
    got = [
        (r["vec_id"], round(r["similarity"], 6))
        for r in H.sharded_search_batch(
            spark, root, ["0"], [qv], 10, ef=n_total
        ).collect()
    ]
    got.sort(key=lambda t: (-t[1], t[0]))
    assert got == _flat(want_corpus, qv)
    # and the replaced vector is served, not the built one
    top = H.sharded_search_batch(
        spark, root, ["0"], [replaced_vec], 1, ef=n_total
    ).collect()[0]
    assert top["vec_id"] == 2 and top["similarity"] > 0.999999


def test_sharded_cdc_delete_broadcasts_on_centroid_root(
    spark, emb, tmp_path
):
    """Centroid roots cannot route a vectorless delete to its cell —
    the sink replicates delete rows to every shard and each tombstones
    its intersection."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    from chromem_go_spark.operators import hnsw as H
    from chromem_go_spark.streaming.ingest import (
        run_available_now,
        sharded_hnsw_append_sink,
    )

    root = str(tmp_path / "cdc_cent")
    H.build_sharded_hnsw(
        emb, root, n_shards=3, M=8, ef_construction=64,
        shard_by="centroid",
    )
    n = emb.count()
    d = tmp_path / "cdc_cent_events"
    d.mkdir()
    pq.write_table(
        pa.table(
            {
                "vec_id": pa.array([3, 7], pa.int64()),
                "embedding": pa.array(
                    [None, None], pa.list_(pa.float64())
                ),
                "op": pa.array(["delete", "delete"]),
            }
        ),
        str(d / "b0.parquet"),
    )
    stream = (
        spark.readStream.schema(
            "vec_id long, embedding array<double>, op string"
        )
        .parquet(str(d))
    )
    run_available_now(
        sharded_hnsw_append_sink(
            stream, root, str(tmp_path / "cdc_cent_ckpt"), op_col="op"
        )
    )
    meta = H.load_sharded_meta(root)
    assert sum(c for _, c in meta["shards"]) == n - 2
    qv = _qv(emb, 3)
    got = [
        (r["vec_id"], round(r["similarity"], 6))
        for r in H.sharded_search_batch(
            spark, root, ["0"], [qv], 10, ef=n
        ).collect()
    ]
    got.sort(key=lambda t: (-t[1], t[0]))
    assert got == _flat(emb.filter(~F.col("vec_id").isin([3, 7])), qv)


# ------------------------------------- per-query allowed sets (r11)


def test_batch_per_query_allowed_exact(spark, emb, idx, tmp_path):
    """allowed_per_query aligns one id set (or None) per query — each
    query's exact walk is brute force over ITS OWN subset, on both the
    single graph and a sharded root."""
    from chromem_go_spark.operators.hnsw import (
        build_sharded_hnsw,
        sharded_search_batch,
    )

    sets = [
        {int(r["vec_id"]) for r in
         emb.filter(F.col("vec_id") % m == 0).collect()}
        for m in (2, 3)
    ] + [None]
    qvs = [_qv(emb, v) for v in (0, 1, 2)]
    want = set()
    for qid, qv, m in zip(("0", "1", "2"), qvs, (2, 3, None)):
        sub = emb if m is None else emb.filter(F.col("vec_id") % m == 0)
        for i, s in _flat(sub, qv, 5):
            want.add((qid, i, s))
    got = {
        (r["query_id"], r["vec_id"], round(r["similarity"], 6))
        for r in idx.search_batch(
            spark, ["0", "1", "2"], qvs, 5, ef=idx.n_points(),
            allowed_per_query=sets,
        ).collect()
    }
    assert got == want
    root = str(tmp_path / "apq_shards")
    build_sharded_hnsw(emb, root, n_shards=3, M=8, ef_construction=64)
    got_sh = {
        (r["query_id"], r["vec_id"], round(r["similarity"], 6))
        for r in sharded_search_batch(
            spark, root, ["0", "1", "2"], qvs, 5, ef=emb.count(),
            allowed_per_query=sets,
        ).collect()
    }
    assert got_sh == want


def test_per_query_allowed_validation(spark, emb, idx):
    with pytest.raises(ValueError, match="not both"):
        idx.search_batch(
            spark, ["0"], [_qv(emb, 0)], 5, allowed={1},
            allowed_per_query=[{1}],
        )
    with pytest.raises(ValueError, match="same length"):
        idx.search_batch(
            spark, ["0"], [_qv(emb, 0)], 5, allowed_per_query=[{1}, {2}],
        )


def test_collection_batch_global_filter_served_graph(spark):
    """query_batch with a GLOBAL filter on a served graph serves the
    whole batch through one shared allowed id-set walk — exact at
    target_recall >= 0.999, matching the unrouted batch path."""
    c = _filter_collection(spark, "hnsw_batch_global")
    served = c.build_hnsw_index(M=4, ef_construction=32)
    qvs = [c.embedding_func("quick"), c.embedding_func("lazy")]
    want = {
        (r["query_id"], r["id"], round(r["similarity"], 6))
        for r in c.query_batch(
            query_embeddings=qvs, n_results=3, where={"lang": "en"}
        ).collect()
    }
    got = {
        (r["query_id"], r["id"], round(r["similarity"], 6))
        for r in c.query_batch(
            query_embeddings=qvs, n_results=3, where={"lang": "en"},
            index=served, target_recall=1.0,
        ).collect()
    }
    assert got == want
    assert all(int(i) % 3 == 0 for _, i, _ in got)


def test_collection_batch_per_query_filters_default_flat(
    spark, monkeypatch
):
    """A per-query-filtered batch on a served graph routes to the FLAT
    DSL kernel (the measured winner at every swept corpus size) — the
    graph's search_batch is never called, values identical."""
    from chromem_go_spark.operators.hnsw import HNSWIndex

    c = _filter_collection(spark, "hnsw_batch_pqf_flat")
    served = c.build_hnsw_index(M=4, ef_construction=32)
    pqf = [{"where": {"lang": "en"}}, None]
    qvs = [c.embedding_func(t) for t in ("quick", "fox")]
    want = {
        (r["query_id"], r["id"], round(r["similarity"], 6))
        for r in c.query_batch(
            query_embeddings=qvs, n_results=3, per_query_filters=pqf
        ).collect()
    }
    calls = {"n": 0}
    orig = HNSWIndex.search_batch

    def counted(self, *a, **k):
        calls["n"] += 1
        return orig(self, *a, **k)

    monkeypatch.setattr(HNSWIndex, "search_batch", counted)
    got = {
        (r["query_id"], r["id"], round(r["similarity"], 6))
        for r in c.query_batch(
            query_embeddings=qvs, n_results=3, per_query_filters=pqf,
            index=served, target_recall=1.0,
        ).collect()
    }
    assert got == want
    assert calls["n"] == 0  # FLAT served; the walk path stayed cold


def test_single_sink_cdc_ops(spark, emb, tmp_path):
    """The single-graph sink's op_col mode shares the sharded sink's
    CDC contract: streamed deletes tombstone, upserts replace, and the
    committed snapshot serves the resulting corpus exactly."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    from chromem_go_spark.operators import hnsw as H
    from chromem_go_spark.streaming.ingest import (
        hnsw_append_sink,
        run_available_now,
    )

    dim = len(emb.head()["embedding"])
    rows = sorted(
        (int(r["vec_id"]), [float(x) for x in r["embedding"]])
        for r in emb.limit(12).collect()
    )
    d = tmp_path / "cdc_single"
    d.mkdir()
    pq.write_table(
        pa.table(
            {
                "vec_id": pa.array([i for i, _ in rows], pa.int64()),
                "embedding": pa.array(
                    [v for _, v in rows], pa.list_(pa.float64())
                ),
                "op": pa.array(["upsert"] * len(rows)),
            }
        ),
        str(d / "b0.parquet"),
    )
    new2 = [0.4] * dim
    pq.write_table(
        pa.table(
            {
                "vec_id": pa.array([rows[0][0], rows[2][0]], pa.int64()),
                "embedding": pa.array([None, new2], pa.list_(pa.float64())),
                "op": pa.array(["delete", "upsert"]),
            }
        ),
        str(d / "b1.parquet"),
    )
    stream = (
        spark.readStream.schema(
            "vec_id long, embedding array<double>, op string"
        )
        .option("maxFilesPerTrigger", 1)
        .parquet(str(d))
    )
    snap = str(tmp_path / "cdc_single_snap")
    run_available_now(
        hnsw_append_sink(
            stream, snap, str(tmp_path / "cdc_single_ckpt"), M=8,
            ef_construction=64, op_col="op",
        )
    )
    idx, last = H.load_snapshot(snap)
    assert last == 1 and idx.n_points() == len(rows) - 1
    full = {i for i, _ in idx.search(rows[0][1], 20, ef=idx.n_points())}
    assert rows[0][0] not in full
    top = idx.search(new2, 1, ef=idx.n_points())
    assert top[0][0] == rows[2][0] and top[0][1] > 0.999999


# -------------------------------------- direct filter path (r11)


def test_direct_filter_path_equals_walk(emb, monkeypatch):
    """A selective allowed set auto-routes to the exact GEMM over the
    allowed rows (the brute-force-fallback pattern); results are
    identical to the exhaustive walk, and a forced walk (threshold 0)
    agrees — same tie rule, same values."""
    import os

    g = HNSWIndex.build(emb, M=8, ef_construction=64)
    allowed = {int(r["vec_id"]) for r in
               emb.filter(F.col("vec_id") % 5 == 0).collect()}
    qv = _qv(emb, 1)
    direct = [(i, round(s, 9))
              for i, s in g.search(qv, 10, ef=4, allowed=allowed)]
    monkeypatch.setenv("CHROMEM_SPARK_DIRECT_FILTER_CELLS", "0")
    walk = [(i, round(s, 9))
            for i, s in g.search(qv, 10, ef=g.n_points(), allowed=allowed)]
    assert direct == walk
    # the direct path is exact regardless of ef — small-ef walk isn't
    # guaranteed to be, which is exactly why the path exists
    want = _flat(emb.filter(F.col("vec_id") % 5 == 0), qv)
    assert [(i, round(s, 6)) for i, s in direct[:10]] == want


def test_direct_filter_respects_tombstones_and_cdc(emb):
    """Tombstoned ids never surface from the direct path, and a CDC
    replace re-points the id map at the NEW node."""
    g = HNSWIndex.build(emb, M=8, ef_construction=64)
    dim = len(emb.head()["embedding"])
    allowed = {0, 1, 2, 3}
    g._ensure_id_map()  # build BEFORE the mutation — must stay correct
    g.delete_ids([0])
    got = {i for i, _ in g.search(_qv(emb, 1), 10, ef=4, allowed=allowed)}
    assert got == {1, 2, 3}
    # CDC replace of id 2: tombstone + re-insert with a new vector
    g.delete_ids([2])
    g.insert_batch([2], [[0.9] * dim], ef_construction=64)
    top = g.search([0.9] * dim, 1, ef=4, allowed={2})
    assert top[0][0] == 2 and top[0][1] > 0.999999


def test_direct_filter_empty_graph_and_empty_allowed(spark):
    g = HNSWIndex.build_local([], [], M=4, ef_construction=16)
    assert g.search([0.1, 0.2], 5) == []
    g2 = HNSWIndex.build_local([1, 2], [[1.0, 0.0], [0.0, 1.0]],
                               M=4, ef_construction=16)
    assert g2.search([1.0, 0.0], 5, allowed=set()) == []
    assert g2.search([1.0, 0.0], 5, allowed={99}) == []


def test_negative_subtract_routes_through_served_graph(spark, monkeypatch):
    """Negative SUBTRACT is a pure query rewrite, so it rides the
    served/routed path (r11) — exact at target_recall >= 0.999 and
    equal to the unrouted subtract result; negative FILTER mode still
    stays on the exact kernel (per-candidate negative sims)."""
    from chromem_go_spark.operators.hnsw import HNSWIndex

    c = _filter_collection(spark, "hnsw_neg_subtract")
    served = c.build_hnsw_index(M=4, ef_construction=32)
    qv = c.embedding_func("quick")
    neg = c.embedding_func("lazy")
    want = {
        (r["id"], round(r["similarity"], 6))
        for r in c.query_embedding(
            qv, 3, negative_embedding=neg, negative_mode="subtract"
        ).collect()
    }
    calls = {"n": 0}
    orig = HNSWIndex.search_batch

    def counted(self, *a, **k):
        calls["n"] += 1
        return orig(self, *a, **k)

    monkeypatch.setattr(HNSWIndex, "search_batch", counted)
    out = c.query_embedding(
        qv, 3, negative_embedding=neg, negative_mode="subtract",
        index=served, target_recall=1.0,
    )
    got = {(r["id"], round(r["similarity"], 6)) for r in out.collect()}
    assert got == want and calls["n"] == 1
    # filter mode keeps the exact kernel (full columns, no graph call)
    out2 = c.query_embedding(
        qv, 3, negative_embedding=neg, negative_mode="filter",
        index=served,
    )
    assert "content" in out2.columns and calls["n"] == 1


def test_direct_over_live_when_heavily_tombstoned(emb, monkeypatch):
    """A graph whose LIVE population fits the cells budget serves by
    direct GEMM over the live rows — exact at ANY ef — and the cache
    invalidates across successive deletes and inserts."""
    g = HNSWIndex.build(emb, M=8, ef_construction=64)
    n = g.n_nodes()
    victims = [int(r["vec_id"]) for r in
               emb.filter(F.col("vec_id") % 4 != 0).collect()]
    g.delete_ids(victims)
    qv = _qv(emb, 0)
    got = [(i, round(s, 6)) for i, s in g.search(qv, 10, ef=2)]  # tiny ef
    want = _flat(emb.filter(F.col("vec_id") % 4 == 0), qv)
    assert got == want
    # further delete invalidates the live cache
    survivor = got[0][0]
    g.delete_ids([survivor])
    got2 = {i for i, _ in g.search(qv, 10, ef=2)}
    assert survivor not in got2
    # an insert invalidates too
    dim = len(qv)
    g.insert_batch([777777], [[0.6] * dim], ef_construction=64)
    got3 = {i for i, _ in g.search([0.6] * dim, 1, ef=2)}
    assert got3 == {777777}
    # forcing the walk (threshold 0) agrees at exhaustive ef
    walk = {i for i, _ in g.search(qv, 10, ef=g.n_points(),
                                   direct_filter_cells=0)}
    assert walk == {i for i, _ in g.search(qv, 10, ef=2)}


# ------------------------------------------- review fixes (r11)


def test_delete_only_bootstrap_then_upsert(emb, tmp_path):
    """A delete-only CDC batch on a fresh shard commits an EMPTY graph;
    the next upsert batch must grow it, not crash on the empty vectors
    array (review: np.vstack against shape (0,) poisoned the shard)."""
    from chromem_go_spark.operators.hnsw import (
        append_shard_batch,
        load_snapshot,
    )

    sdir = str(tmp_path / "del_bootstrap")
    n, cent, _nn = append_shard_batch(
        sdir, 0, [1, 2], [None, None], M=8, ef_construction=64,
        new_ops=["delete", "delete"],
    )
    assert n == 0 and cent == []
    n, _, _nn = append_shard_batch(
        sdir, 1, [5], [[0.1, 0.2, 0.3]], M=8, ef_construction=64,
        new_ops=["upsert"],
    )
    assert n == 1
    idx, last = load_snapshot(sdir)
    assert last == 1 and idx.n_points() == 1
    assert idx.search([0.1, 0.2, 0.3], 1, ef=1)[0][0] == 5


def test_centroid_cdc_upsert_migrates_cells(spark, tmp_path):
    """On a centroid root, an upsert whose changed vector routes to a
    DIFFERENT cell must tombstone the old cell's node (the broadcast
    synthetic delete) — no duplicate live ids, no stale vector."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    from chromem_go_spark.operators import hnsw as H
    from chromem_go_spark.streaming.ingest import (
        run_available_now,
        sharded_hnsw_append_sink,
    )

    df = _clustered_df(spark, n_clusters=3, per=40, dim=8, sep=8.0)
    root = str(tmp_path / "mig_root")
    H.build_sharded_hnsw(
        df, root, n_shards=3, M=8, ef_construction=64,
        shard_by="centroid",
    )
    n = df.count()
    # move vec_id 0 onto a far-away cluster's centroid: it must
    # migrate cells
    target = list(df.filter(F.col("vec_id") == n - 1).head()["embedding"])
    d = tmp_path / "mig_events"
    d.mkdir()
    pq.write_table(
        pa.table(
            {
                "vec_id": pa.array([0], pa.int64()),
                "embedding": pa.array([target], pa.list_(pa.float64())),
                "op": pa.array(["upsert"]),
            }
        ),
        str(d / "b0.parquet"),
    )
    stream = (
        spark.readStream.schema(
            "vec_id long, embedding array<double>, op string"
        )
        .parquet(str(d))
    )
    run_available_now(
        sharded_hnsw_append_sink(
            stream, root, str(tmp_path / "mig_ckpt"), op_col="op"
        )
    )
    meta = H.load_sharded_meta(root)
    assert sum(c for _, c in meta["shards"]) == n  # replaced, not grown
    out = H.sharded_search_batch(spark, root, ["q"], [target], n, ef=n)
    rows = [(r["vec_id"], r["similarity"]) for r in out.collect()]
    hits = [s for i, s in rows if i == 0]
    assert len(hits) == 1  # exactly one live node for id 0
    assert hits[0] > 0.999999  # and it serves the NEW vector


def test_cdc_null_op_fails_loudly(spark, emb, tmp_path):
    """A null op row must raise, not vanish (review: it used to drop
    out of BOTH filter sides)."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    from chromem_go_spark.operators import hnsw as H
    from chromem_go_spark.streaming.ingest import (
        run_available_now,
        sharded_hnsw_append_sink,
    )

    root = str(tmp_path / "nullop_root")
    H.build_sharded_hnsw(emb.limit(20), root, n_shards=2, M=8,
                         ef_construction=64)
    dim = len(emb.head()["embedding"])
    d = tmp_path / "nullop_events"
    d.mkdir()
    pq.write_table(
        pa.table(
            {
                "vec_id": pa.array([900], pa.int64()),
                "embedding": pa.array([[0.5] * dim], pa.list_(pa.float64())),
                "op": pa.array([None], pa.string()),
            }
        ),
        str(d / "b0.parquet"),
    )
    stream = (
        spark.readStream.schema(
            "vec_id long, embedding array<double>, op string"
        )
        .parquet(str(d))
    )
    with pytest.raises(Exception, match="op must be"):
        run_available_now(
            sharded_hnsw_append_sink(
                stream, root, str(tmp_path / "nullop_ckpt"), op_col="op"
            )
        )


def test_drained_shard_leaves_walk_list(spark, emb, tmp_path):
    """A fully drained shard (manifest count 0) is skipped by the
    probe lists — its stale centroid must not win probe slots, and the
    exact all-shards walk must not schedule an empty task."""
    from chromem_go_spark.operators.hnsw import (
        _probe_shard_lists,
        build_sharded_hnsw,
        delete_sharded_ids,
        load_sharded_meta,
        sharded_search_batch,
    )

    root = str(tmp_path / "drain_root")
    build_sharded_hnsw(emb, root, n_shards=3, M=8, ef_construction=64)
    meta = load_sharded_meta(root)
    # drain shard 0 completely: find its members via the placement
    # rule, then delete exactly those ids
    from pyspark.sql import functions as SF

    members = [
        int(r["vec_id"])
        for r in emb.select(
            "vec_id",
            SF.pmod(SF.xxhash64(SF.col("vec_id").cast("string")),
                    SF.lit(3)).alias("s"),
        ).filter(SF.col("s") == 0).collect()
    ]
    meta = delete_sharded_ids(spark, root, members)
    counts = dict(meta["shards"])
    assert counts[0] == 0
    probe = _probe_shard_lists(meta, [[0.1] * 4], None)
    assert 0 not in [s for s, _ in probe]
    qv = _qv(emb, members[0] if members else 1)
    got = [
        (r["vec_id"], round(r["similarity"], 6))
        for r in sharded_search_batch(
            spark, root, ["0"], [qv], 10, ef=emb.count()
        ).collect()
    ]
    got.sort(key=lambda t: (-t[1], t[0]))
    assert got == _flat(emb.filter(~F.col("vec_id").isin(members)), qv)


# -------------------------------------- CDC op order / seq_col (r12)


def _cdc_order_file(tmp_path, name, vid, vec):
    """ONE parquet file (= one source partition) whose row order is
    the REVERSE of its sequence column: (delete seq=2) before
    (upsert seq=1).  Partition-major reduce keeps the id live with
    ``vec``; seq_col reduce ends in the delete."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    d = tmp_path / name
    d.mkdir()
    pq.write_table(
        pa.table(
            {
                "vec_id": pa.array([vid, vid], pa.int64()),
                "embedding": pa.array(
                    [None, vec], pa.list_(pa.float64())
                ),
                "op": pa.array(["delete", "upsert"]),
                "seq": pa.array([2, 1], pa.int64()),
            }
        ),
        str(d / "b0.parquet"),
    )
    return d


@pytest.mark.parametrize("use_seq", [False, True])
def test_sharded_cdc_seq_col_beats_partition_order(
    spark, emb, tmp_path, use_seq
):
    """ADVICE r12: without seq_col the sharded sink reduces same-id
    ops in partition-major __seq order (row order here — documented
    contract); with seq_col the SOURCE's order wins regardless."""
    from chromem_go_spark.operators import hnsw as H
    from chromem_go_spark.streaming.ingest import (
        run_available_now,
        sharded_hnsw_append_sink,
    )

    dim = len(emb.head()["embedding"])
    root = str(tmp_path / f"seqroot_{use_seq}")
    H.build_sharded_hnsw(
        emb.limit(8), root, n_shards=2, M=8, ef_construction=64
    )
    vid, vec = 9001, [0.7] * dim
    d = _cdc_order_file(tmp_path, f"seqev_{use_seq}", vid, vec)
    stream = (
        spark.readStream.schema(
            "vec_id long, embedding array<double>, op string, seq long"
        )
        .parquet(str(d))
    )
    run_available_now(
        sharded_hnsw_append_sink(
            stream, root, str(tmp_path / f"seqckpt_{use_seq}"),
            op_col="op", seq_col="seq" if use_seq else None,
        )
    )
    got = {
        r["vec_id"]
        for r in H.sharded_search_batch(
            spark, root, ["0"], [vec], 9, ef=64
        ).collect()
    }
    # seq order ends in the delete (upsert seq=1, delete seq=2);
    # partition-major row order ends in the upsert
    assert (vid in got) == (not use_seq)


@pytest.mark.parametrize("use_seq", [False, True])
def test_single_sink_cdc_seq_col_beats_partition_order(
    spark, emb, tmp_path, use_seq
):
    """Same contract on the single-graph sink: seq_col re-sorts the
    collected micro-batch, partition-major otherwise."""
    from chromem_go_spark.operators import hnsw as H
    from chromem_go_spark.streaming.ingest import (
        hnsw_append_sink,
        run_available_now,
    )

    dim = len(emb.head()["embedding"])
    vid, vec = 9001, [0.7] * dim
    d = _cdc_order_file(tmp_path, f"sseqev_{use_seq}", vid, vec)
    stream = (
        spark.readStream.schema(
            "vec_id long, embedding array<double>, op string, seq long"
        )
        .parquet(str(d))
    )
    snap = str(tmp_path / f"sseqsnap_{use_seq}")
    run_available_now(
        hnsw_append_sink(
            stream, snap, str(tmp_path / f"sseqckpt_{use_seq}"),
            M=8, ef_construction=64, op_col="op",
            seq_col="seq" if use_seq else None,
        )
    )
    idx, _ = H.load_snapshot(snap)
    live = idx.n_points() if idx is not None else 0
    assert (live == 1) == (not use_seq)


# -------------------------------------- split_shard capacity protocol (r12)


def _centroid_root(spark, emb, tmp_path, name, n_shards=4):
    from chromem_go_spark.operators import hnsw as H

    root = str(tmp_path / name)
    m = H.build_sharded_hnsw(
        emb, root, n_shards=n_shards, M=8, ef_construction=64,
        shard_by="centroid",
    )
    return root, m


def test_split_shard_preserves_serving(spark, emb, tmp_path):
    """Splitting a cell conserves the corpus: counts, exact search
    identity, routing table (source retired, two sub-cells frozen in),
    and the allocation counter all update atomically."""
    from chromem_go_spark.operators import hnsw as H

    root, m = _centroid_root(spark, emb, tmp_path, "split_root")
    total = sum(n for _, n in m["shards"])
    src = max(m["shards"], key=lambda t: t[1])[0]
    base = int(m["n_shards"])
    qv = _qv(emb, 3)
    before = [
        (r["vec_id"], round(r["similarity"], 6))
        for r in H.sharded_search_batch(
            spark, root, ["0"], [qv], 10, ef=total
        ).collect()
    ]
    m2 = H.split_shard(spark, root, src)
    assert sum(n for _, n in m2["shards"]) == total
    assert src in m2["retired"]
    assert str(src) not in m2["centroids"]
    new_ids = {base, base + 1}
    assert new_ids <= {s for s, _ in m2["shards"]}
    assert all(str(n) in m2["centroids"] for n in new_ids)
    assert m2["n_shards"] == base + 2
    after = [
        (r["vec_id"], round(r["similarity"], 6))
        for r in H.sharded_search_batch(
            spark, root, ["0"], [qv], 10, ef=total
        ).collect()
    ]
    assert sorted(after, key=lambda t: (-t[1], t[0])) == sorted(
        before, key=lambda t: (-t[1], t[0])
    ) == _flat(emb, qv)
    # idempotent manifest reads: the handle serves the grown walk list
    sh = H.ShardedHNSW.load(root)
    assert sh.n_points() == total


def test_split_shard_hash_root_raises(spark, emb, tmp_path):
    from chromem_go_spark.operators import hnsw as H

    root = str(tmp_path / "hash_root")
    H.build_sharded_hnsw(root=root, df=emb, n_shards=2, M=8,
                         ef_construction=64)
    with pytest.raises(ValueError, match="CENTROID root capacity"):
        H.split_shard(spark, root, 0)


def test_split_raced_by_append_aborts(spark, emb, tmp_path, monkeypatch):
    """A commit to the source cell between the split's staging read
    and its manifest commit must abort the split (validate-at-commit):
    the staged sub-cell dirs are discarded and the manifest is
    untouched."""
    import json
    import os

    from chromem_go_spark.operators import hnsw as H

    root, m = _centroid_root(spark, emb, tmp_path, "race_root")
    src = max(m["shards"], key=lambda t: t[1])[0]
    base = int(m["n_shards"])
    dim = len(emb.head()["embedding"])
    orig = H._make_split_kernel

    def wrapped(root_, src_, new_ids, M, efc, seed, cap, staging):
        inner = orig(root_, src_, new_ids, M, efc, seed, cap, staging)

        def kern(batches):
            out = list(inner(batches))
            # the race: an ingest commits a fresh generation to the
            # source AFTER the split staged its rebuild.  The split
            # kernel runs as TWO parallel tasks (one per sub-cell);
            # inject the race from exactly ONE of them (atomic
            # O_EXCL marker) — the single-maintenance-writer contract
            # means two CONCURRENT appends to one shard are out of
            # scope here, and letting both tasks append raced the
            # injection against itself (flaky FileNotFoundError when
            # one append's layout-converting commit removed the
            # legacy graph.npz between the other's exists() check
            # and load).
            marker = os.path.join(staging, "__race_injected")
            os.makedirs(staging, exist_ok=True)
            try:
                fd = os.open(marker, os.O_CREAT | os.O_EXCL)
                os.close(fd)
            except FileExistsError:
                yield from out
                return
            H.append_shard_batch(
                H._shard_dir(root_, src_), 10_000, [987654],
                [[0.5] * dim], M=M, ef_construction=efc, seed=seed,
                max_points=cap,
            )
            yield from out

        return kern

    monkeypatch.setattr(H, "_make_split_kernel", wrapped)
    manifest_before = json.load(
        open(os.path.join(root, H._SHARD_MANIFEST))
    )
    with pytest.raises(H.SplitRacedError, match="re-run split_shard"):
        H.split_shard(spark, root, src)
    assert not os.path.exists(H._shard_dir(root, base))
    assert not os.path.exists(H._shard_dir(root, base + 1))
    manifest_now = json.load(open(os.path.join(root, H._SHARD_MANIFEST)))
    # the racing append's own commit is real; only the SPLIT rolled
    # back — shards/centroids/n_shards are structurally unchanged
    assert manifest_now["n_shards"] == manifest_before["n_shards"]
    assert {s for s, _ in manifest_now["shards"]} == {
        s for s, _ in manifest_before["shards"]
    }
    assert "retired" not in manifest_now or src not in manifest_now["retired"]


def test_validate_split_rows_conservation(tmp_path):
    """The split commit's cross-task gate (r14, ADVICE medium): the
    staged pair must read one generation, carry bit-identical fits,
    and conserve the source's live count — anything else is a raced
    or divergent split and must abort before the manifest commit.
    Pure unit test over the validator (the divergence itself — e.g.
    different BLAS builds across executors — cannot be reproduced in
    one local process, which is exactly why the commit validates)."""
    from chromem_go_spark.operators.hnsw import (
        SplitRacedError,
        _validate_split_rows,
    )

    def row(shard, n_points, src_gen=7, n_live=10, fit_hash="abc"):
        return {
            "shard": shard, "n_points": n_points, "src_gen": src_gen,
            "n_live": n_live, "fit_hash": fit_hash,
        }

    ok = [row(4, 6), row(5, 4)]
    assert _validate_split_rows(ok, src=1) == 7

    with pytest.raises(SplitRacedError, match="advanced between"):
        _validate_split_rows([row(4, 6), row(5, 4, src_gen=8)], src=1)
    with pytest.raises(SplitRacedError, match="DIFFERENT"):
        _validate_split_rows(
            [row(4, 6), row(5, 4, fit_hash="zzz")], src=1
        )
    # dropped ids: counts sum short of the live set
    with pytest.raises(SplitRacedError, match="conserve"):
        _validate_split_rows([row(4, 5), row(5, 4)], src=1)
    # duplicated ids: counts sum past the live set
    with pytest.raises(SplitRacedError, match="conserve"):
        _validate_split_rows([row(4, 7), row(5, 4)], src=1)
    # torn source reads: identical fits but different live counts
    with pytest.raises(SplitRacedError, match="conserve"):
        _validate_split_rows([row(4, 6), row(5, 4, n_live=11)], src=1)


def test_bump_refuses_retired_shard(spark, emb, tmp_path):
    """A late manifest fold for a shard a split retired must fail the
    trigger loudly (replay re-routes) instead of resurrecting it."""
    from chromem_go_spark.operators import hnsw as H

    root, m = _centroid_root(spark, emb, tmp_path, "retire_root")
    src = max(m["shards"], key=lambda t: t[1])[0]
    H.split_shard(spark, root, src)
    with pytest.raises(H.SplitRacedError, match="split/retired"):
        H.bump_sharded_manifest(root, {src: 5})


def test_stream_ingests_through_split(spark, emb, tmp_path):
    """The ingest stream survives a split between triggers: trigger 1
    appends, a hot cell splits, trigger 2 (same checkpoint) routes by
    the post-split table — every id served exactly once, exact search
    equals brute force over the full corpus."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    from chromem_go_spark.operators import hnsw as H
    from chromem_go_spark.streaming.ingest import (
        run_available_now,
        sharded_hnsw_append_sink,
    )

    n_total = emb.count()
    third = n_total // 3
    built = emb.filter(F.col("vec_id") < third)
    root, m = _centroid_root(
        spark, (built if third > 0 else emb), tmp_path, "stream_split"
    )

    def write_batch(name, lo, hi):
        rows = emb.filter(
            (F.col("vec_id") >= lo) & (F.col("vec_id") < hi)
        ).collect()
        d = tmp_path / "split_events"
        d.mkdir(exist_ok=True)
        pq.write_table(
            pa.table(
                {
                    "vec_id": pa.array(
                        [int(r["vec_id"]) for r in rows], pa.int64()
                    ),
                    "embedding": pa.array(
                        [[float(x) for x in r["embedding"]] for r in rows],
                        pa.list_(pa.float64()),
                    ),
                }
            ),
            str(d / name),
        )
        return str(d)

    ckpt = str(tmp_path / "split_ckpt")
    src_dir = write_batch("b0.parquet", third, 2 * third)
    stream_schema = "vec_id long, embedding array<double>"

    def run_once():
        stream = spark.readStream.schema(stream_schema).parquet(src_dir)
        run_available_now(
            sharded_hnsw_append_sink(stream, root, ckpt)
        )

    run_once()
    m1 = H.load_sharded_meta(root)
    hot = max(m1["shards"], key=lambda t: t[1])[0]
    H.split_shard(spark, root, hot)
    write_batch("b1.parquet", 2 * third, n_total)
    run_once()
    m2 = H.load_sharded_meta(root)
    assert sum(n for _, n in m2["shards"]) == n_total
    qv = _qv(emb, 1)
    got = [
        (r["vec_id"], round(r["similarity"], 6))
        for r in H.sharded_search_batch(
            spark, root, ["0"], [qv], 10, ef=n_total
        ).collect()
    ]
    got.sort(key=lambda t: (-t[1], t[0]))
    assert got == _flat(emb, qv)


def test_split_preserves_router_quality(spark, tmp_path):
    """r12, the capacity protocol's recall claim: splitting a cell
    must not degrade the centroid router — post-split, P=1 routing
    over the finer table still recovers (nearly) the exact top-k on
    clustered data, and P=S stays the exact identity."""
    from chromem_go_spark.operators import hnsw as H

    df = _clustered_df(spark)
    qrows = df.filter(F.col("vec_id") % 50 == 3).collect()
    qids = [str(r["vec_id"]) for r in qrows]
    qvs = [list(r["embedding"]) for r in qrows]
    exact = {}
    for r in K.knn_block(
        df, qids, qvs, 10, vec_col="embedding", id_col="vec_id"
    ).collect():
        exact.setdefault(r["query_id"], set()).add(r["vec_id"])

    def recall(rows):
        got = {}
        for r in rows:
            got.setdefault(r["query_id"], set()).add(r["vec_id"])
        return sum(
            len(got.get(q, set()) & exact[q]) / len(exact[q])
            for q in exact
        ) / len(exact)

    sroot = str(tmp_path / "split_router")
    m = H.build_sharded_hnsw(
        df, sroot, n_shards=4, M=8, ef_construction=64,
        shard_by="centroid",
    )
    per = max(n for _, n in m["shards"])
    sh = H.ShardedHNSW.load(sroot)
    r_pre = recall(
        sh.search_batch(spark, qids, qvs, 10, ef=per,
                        shards_probed=1).collect()
    )
    hot = max(m["shards"], key=lambda t: t[1])[0]
    H.split_shard(spark, sroot, hot)
    sh2 = H.ShardedHNSW.load(sroot)
    r_post = recall(
        sh2.search_batch(spark, qids, qvs, 10, ef=per,
                         shards_probed=1).collect()
    )
    # the finer routing table must not lose the blobs: post-split P=1
    # recall holds (2-means separates whole blobs, so each query's
    # nearest sub-centroid still owns its blob)
    assert r_post >= min(r_pre, 0.9) - 0.05
    r_all = recall(
        sh2.search_batch(spark, qids, qvs, 10, ef=per).collect()
    )
    assert r_all == 1.0


def test_sink_auto_split_grows_capacity(spark, emb, tmp_path):
    """auto_split=True with auto_split_async=False (the synchronous
    mode, explicit since async became the r14 default): a cell
    crossing split_at of the per-shard cap splits at the end of that
    trigger (race-free — the handle is the only writer), so the
    stream outlives the cap it would otherwise die on; all points
    stay served exactly once."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    from chromem_go_spark.operators import hnsw as H
    from chromem_go_spark.streaming.ingest import (
        run_available_now,
        sharded_hnsw_append_sink,
    )

    n_total = emb.count()
    half = n_total // 2
    # built cells sit at ~half/2 each; cap chosen so streamed growth
    # crosses the 90% warning line after roughly one 40-row trigger
    # per cell — the split then runs BETWEEN triggers, before the cap
    # could fail a later append
    cap = int(half * 0.6)
    root = str(tmp_path / "autosplit_root")
    m0 = H.build_sharded_hnsw(
        emb.filter(F.col("vec_id") < half), root, n_shards=2, M=8,
        ef_construction=64, shard_by="centroid",
        max_points_per_shard=cap,
    )
    base_alloc = int(m0["n_shards"])
    rows = emb.filter(F.col("vec_id") >= half).collect()
    d = tmp_path / "autosplit_events"
    d.mkdir()
    for fi in range(0, len(rows), 40):
        chunk = rows[fi:fi + 40]
        pq.write_table(
            pa.table(
                {
                    "vec_id": pa.array(
                        [int(r["vec_id"]) for r in chunk], pa.int64()
                    ),
                    "embedding": pa.array(
                        [[float(x) for x in r["embedding"]]
                         for r in chunk],
                        pa.list_(pa.float64()),
                    ),
                }
            ),
            str(d / f"b{fi:04d}.parquet"),
        )
    stream = (
        spark.readStream.schema("vec_id long, embedding array<double>")
        .option("maxFilesPerTrigger", 1)
        .parquet(str(d))
    )
    run_available_now(
        sharded_hnsw_append_sink(
            stream, root, str(tmp_path / "autosplit_ckpt"),
            auto_split=True, auto_split_async=False,
        )
    )
    m1 = H.load_sharded_meta(root)
    assert sum(n for _, n in m1["shards"]) == n_total
    # at least one split ran: allocation counter advanced and some
    # cell was retired
    assert m1["n_shards"] > base_alloc
    assert m1.get("retired")
    qv = _qv(emb, 2)
    got = [
        (r["vec_id"], round(r["similarity"], 6))
        for r in H.sharded_search_batch(
            spark, root, ["0"], [qv], 10, ef=n_total
        ).collect()
    ]
    got.sort(key=lambda t: (-t[1], t[0]))
    assert got == _flat(emb, qv)


def test_gc_retired_shards(spark, emb, tmp_path):
    """Retired source dirs are GC-able only after the min-age grace
    window (r13: the quiesce is mechanical — a just-retired dir is
    REFUSED while a reader resolving the pre-split manifest could
    still be walking it); serving is unaffected (the manifest never
    referenced them post-split)."""
    import json
    import os

    from chromem_go_spark.operators import hnsw as H

    root, m = _centroid_root(spark, emb, tmp_path, "gc_root")
    src = max(m["shards"], key=lambda t: t[1])[0]
    m2 = H.split_shard(spark, root, src)
    assert str(src) in m2["retired_at"]  # retire timestamp recorded
    assert os.path.isdir(H._shard_dir(root, src))
    # inside the grace window: a provably in-use pre-split view
    # (just retired, age << min_age_s) must be refused
    assert H.gc_retired_shards(root) == []
    assert os.path.isdir(H._shard_dir(root, src))
    # a reader holding the PRE-split manifest can still finish its
    # walk against the retired dir while GC refuses
    pre = dict(m)
    idx = H._load_shard_graph(root, src)
    assert idx.n_points() == dict(pre["shards"])[src]
    # age the retire timestamp past the window -> GC removes it
    mpath = os.path.join(root, H._SHARD_MANIFEST)
    cur = json.load(open(mpath))
    cur["retired_at"][str(src)] = float(cur["retired_at"][str(src)]) - 7200
    json.dump(cur, open(mpath, "w"))
    assert H.gc_retired_shards(root) == [src]
    assert not os.path.isdir(H._shard_dir(root, src))
    assert H.gc_retired_shards(root) == []  # idempotent
    qv = _qv(emb, 4)
    total = sum(n for _, n in H.load_sharded_meta(root)["shards"])
    got = [
        (r["vec_id"], round(r["similarity"], 6))
        for r in H.sharded_search_batch(
            spark, root, ["0"], [qv], 10, ef=total
        ).collect()
    ]
    got.sort(key=lambda t: (-t[1], t[0]))
    assert got == _flat(emb, qv)


def test_split_raced_trigger_heals_on_replay(spark, emb, tmp_path,
                                             monkeypatch):
    """The fold-refusal contract end to end: a trigger whose manifest
    fold raises SplitRacedError fails that batch; re-running the
    stream from the same checkpoint replays it — already-committed
    shards skip by watermark, the fold re-runs clean, and every row
    is served exactly once."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    from chromem_go_spark.operators import hnsw as H
    from chromem_go_spark.streaming.ingest import (
        run_available_now,
        sharded_hnsw_append_sink,
    )

    n_total = emb.count()
    half = n_total // 2
    root, _ = _centroid_root(
        spark, emb.filter(F.col("vec_id") < half), tmp_path, "heal_root"
    )
    rows = emb.filter(F.col("vec_id") >= half).collect()
    d = tmp_path / "heal_events"
    d.mkdir()
    pq.write_table(
        pa.table(
            {
                "vec_id": pa.array(
                    [int(r["vec_id"]) for r in rows], pa.int64()
                ),
                "embedding": pa.array(
                    [[float(x) for x in r["embedding"]] for r in rows],
                    pa.list_(pa.float64()),
                ),
            }
        ),
        str(d / "b0.parquet"),
    )
    ckpt = str(tmp_path / "heal_ckpt")

    real_bump = H.bump_sharded_manifest
    state = {"failed": False}

    def flaky_bump(*a, **kw):
        if not state["failed"]:
            state["failed"] = True
            raise H.SplitRacedError("injected: shard retired mid-batch")
        return real_bump(*a, **kw)

    monkeypatch.setattr(H, "bump_sharded_manifest", flaky_bump)

    def run_once():
        stream = (
            spark.readStream.schema(
                "vec_id long, embedding array<double>"
            ).parquet(str(d))
        )
        run_available_now(
            sharded_hnsw_append_sink(stream, root, ckpt)
        )

    with pytest.raises(Exception, match="injected"):
        run_once()
    assert state["failed"]
    run_once()  # replay from the same checkpoint heals
    m = H.load_sharded_meta(root)
    assert sum(n for _, n in m["shards"]) == n_total
    qv = _qv(emb, 6)
    got = [
        (r["vec_id"], round(r["similarity"], 6))
        for r in H.sharded_search_batch(
            spark, root, ["0"], [qv], 10, ef=n_total
        ).collect()
    ]
    got.sort(key=lambda t: (-t[1], t[0]))
    assert got == _flat(emb, qv)


# ------------------------------- frozen quantizer tree routing (r13)
#
# The r12 ADVICE medium finding: after a split, FLAT-active routing
# re-partitions space globally (the retired centroid vanishes), so a
# replayed row could argmax into a THIRD cell whose watermark never
# saw the batch — double-serving the id.  Tree routing keeps every
# pre-split centroid in the base table and descends split edges, so a
# replay reproduces the original decision and lands on the cell (or
# descendant) holding its committed copy.


def test_routing_tree_replay_stable():
    """The divergence case pinned by hand-placed centroids: a vector
    whose pre-split argmax picked base cell 0 must KEEP routing to 0
    after cell 1 splits, even when one of 1's sub-centroids would win
    a flat argmax over the active table."""
    import numpy as np

    from chromem_go_spark.operators import hnsw as H

    meta = {
        "centroids": {
            "0": [1, 0, 0],
            "2": [0.707, 0.707, 0],
            "3": [0, 1, 0],
        },
        "retired_centroids": {"1": [0, 1, 0]},
        "split_children": {"1": [2, 3]},
        "retired": [1],
    }
    t = H.load_routing_table(meta)
    assert list(t["base_ids"]) == [0, 1]
    mat = np.array(
        [
            # v.e0=0.8 > v.e1=0.75 -> base 0; flat active would pick
            # sub-centroid 2 (v.c2 = 1.096 > 0.8) — the bug class
            [0.8, 0.75, 0.0],
            # base -> 1, descend: c3 wins
            [0.1, 0.9, 0.0],
            # base -> 1, descend: c2 wins
            [0.5, 0.6, 0.0],
        ]
    )
    assert list(H._resolve_routing(mat, t)) == [0, 3, 2]
    # flat-active argmax really does diverge on row 0 (the control)
    flat_ids = [0, 2, 3]
    flat = np.array([meta["centroids"][str(i)] for i in flat_ids])
    assert flat_ids[int(np.argmax(mat[0] @ flat.T))] == 2
    # two-level descent: child 2 itself splits into 4/5
    meta2 = {
        "centroids": {
            "0": [1, 0, 0],
            "3": [0, 1, 0],
            "4": [0.9, 0.43, 0],
            "5": [0.43, 0.9, 0],
        },
        "retired_centroids": {
            "1": [0, 1, 0],
            "2": [0.707, 0.707, 0],
        },
        "split_children": {"1": [2, 3], "2": [4, 5]},
        "retired": [1, 2],
    }
    t2 = H.load_routing_table(meta2)
    assert list(H._resolve_routing(mat, t2)) == [0, 3, 5]
    # pre-r13 manifest (no retired_centroids): degrades to flat-active
    t_old = H.load_routing_table(
        {"centroids": meta["centroids"], "split_children": {"1": [2, 3]}}
    )
    assert list(t_old["base_ids"]) == [0, 2, 3]
    assert not t_old["children"]


def test_route_vectors_spark_descends_tree(spark):
    """route_vectors: the mapInPandas kernel carries all original
    columns and adds the tree-resolved __shard."""
    from chromem_go_spark.operators import hnsw as H

    meta = {
        "centroids": {
            "0": [1.0, 0.0, 0.0],
            "2": [0.707, 0.707, 0.0],
            "3": [0.0, 1.0, 0.0],
        },
        "retired_centroids": {"1": [0.0, 1.0, 0.0]},
        "split_children": {"1": [2, 3]},
    }
    df = spark.createDataFrame(
        [
            (10, [0.8, 0.75, 0.0]),
            (11, [0.1, 0.9, 0.0]),
            (12, [0.5, 0.6, 0.0]),
        ],
        "vec_id long, embedding array<double>",
    )
    got = {
        r["vec_id"]: r["__shard"]
        for r in H.route_vectors(df, meta, "embedding").collect()
    }
    assert got == {10: 0, 11: 3, 12: 2}


def test_gc_refuses_unknown_age(spark, emb, tmp_path):
    """A retired shard with NO retire timestamp (pre-r13 manifest) is
    conservatively refused at any positive min-age; min_age_s=0 is the
    explicit operator override."""
    import json
    import os

    from chromem_go_spark.operators import hnsw as H

    root, m = _centroid_root(spark, emb, tmp_path, "gc_oldroot")
    src = max(m["shards"], key=lambda t: t[1])[0]
    H.split_shard(spark, root, src)
    mpath = os.path.join(root, H._SHARD_MANIFEST)
    cur = json.load(open(mpath))
    del cur["retired_at"]  # simulate a pre-r13 split commit
    json.dump(cur, open(mpath, "w"))
    assert H.gc_retired_shards(root) == []
    assert os.path.isdir(H._shard_dir(root, src))
    assert H.gc_retired_shards(root, min_age_s=0) == [src]
    assert not os.path.isdir(H._shard_dir(root, src))


def test_split_between_commit_and_fold_exactly_once(
    spark, emb, tmp_path, monkeypatch
):
    """The r12 ADVICE medium scenario end to end: a split of a source
    cell commits BETWEEN a trigger's per-shard commits and its
    manifest fold.  The fold fails (retired shard), the replay routes
    by the frozen quantizer tree — rows whose copies the split carried
    into sub-cells skip by the inherited watermark — and after the
    healing fold every id is live in EXACTLY one shard."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    from chromem_go_spark.operators import hnsw as H
    from chromem_go_spark.streaming.ingest import (
        run_available_now,
        sharded_hnsw_append_sink,
    )

    n_total = emb.count()
    half = n_total // 2
    root, _ = _centroid_root(
        spark, emb.filter(F.col("vec_id") < half), tmp_path, "xonce_root"
    )
    rows = emb.filter(F.col("vec_id") >= half).collect()
    d = tmp_path / "xonce_events"
    d.mkdir()
    pq.write_table(
        pa.table(
            {
                "vec_id": pa.array(
                    [int(r["vec_id"]) for r in rows], pa.int64()
                ),
                "embedding": pa.array(
                    [[float(x) for x in r["embedding"]] for r in rows],
                    pa.list_(pa.float64()),
                ),
            }
        ),
        str(d / "b0.parquet"),
    )
    ckpt = str(tmp_path / "xonce_ckpt")

    real_bump = H.bump_sharded_manifest
    state = {"split": None}

    def racing_bump(root_, counts, centroids=None):
        if state["split"] is None:
            # the race: split the batch's biggest touched source cell
            # AFTER its per-shard commit, BEFORE the fold.  The split
            # reads the post-commit generation, so the sub-cells carry
            # the batch's rows AND its watermark.
            src = max(counts, key=counts.get)
            H.split_shard(spark, root_, src)
            state["split"] = src
        return real_bump(root_, counts, centroids=centroids)

    monkeypatch.setattr(H, "bump_sharded_manifest", racing_bump)

    def run_once():
        stream = spark.readStream.schema(
            "vec_id long, embedding array<double>"
        ).parquet(str(d))
        run_available_now(sharded_hnsw_append_sink(stream, root, ckpt))

    with pytest.raises(Exception, match="split/retired"):
        run_once()
    assert state["split"] is not None
    run_once()  # replay from the same checkpoint heals via the tree
    m = H.load_sharded_meta(root)
    assert sum(n for _, n in m["shards"]) == n_total
    # EXACTLY-ONCE, asserted on the graphs themselves (not just the
    # folded counts): the union of live ids across active shards is
    # the full corpus with no id in two shards
    seen_ids: set = set()
    live_total = 0
    for s0, n0 in m["shards"]:
        if n0 == 0:
            continue
        idx = H._load_shard_graph(root, int(s0))
        ids0 = {idx.ids[n] for n in idx._live_nodes_list()}
        dup = seen_ids & ids0
        assert not dup, f"ids live in two shards: {sorted(dup)[:5]}"
        seen_ids |= ids0
        live_total += len(ids0)
    assert live_total == n_total
    assert seen_ids == {int(r["vec_id"]) for r in emb.collect()}
    # and serving stays exact
    qv = _qv(emb, 5)
    got = [
        (r["vec_id"], round(r["similarity"], 6))
        for r in H.sharded_search_batch(
            spark, root, ["0"], [qv], 10, ef=n_total
        ).collect()
    ]
    got.sort(key=lambda t: (-t[1], t[0]))
    assert got == _flat(emb, qv)


def test_auto_split_compacts_churny_cell(spark, emb, tmp_path):
    """A hot cell whose nodes are mostly TOMBSTONES (CDC churn) is
    COMPACTED by auto_split, not split: capacity pressure from churn
    frees via a live-only rebuild — no new shard ids, no retirement —
    and the stream keeps ingesting (r13: the capacity check now reads
    node counts, so churn can no longer ride silently into the cap)."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    from chromem_go_spark.operators import hnsw as H
    from chromem_go_spark.streaming.ingest import (
        run_available_now,
        sharded_hnsw_append_sink,
    )

    rows = emb.filter(F.col("vec_id") < 25).collect()
    root = str(tmp_path / "churn_root")
    # single-cell centroid root over the 25 ids: every CDC re-upsert
    # tombstones + inserts, so nodes grow while live stays flat
    H.build_sharded_hnsw(
        emb.filter(F.col("vec_id") < 25), root, n_shards=1, M=8,
        ef_construction=64, shard_by="centroid",
        max_points_per_shard=200,
    )
    d = tmp_path / "churn_events"
    d.mkdir()
    for b in range(2):  # two churn triggers re-upserting the 25 ids
        pq.write_table(
            pa.table(
                {
                    "vec_id": pa.array(
                        [int(r["vec_id"]) for r in rows], pa.int64()
                    ),
                    "embedding": pa.array(
                        [[float(x) for x in r["embedding"]] for r in rows],
                        pa.list_(pa.float64()),
                    ),
                    "op": pa.array(["upsert"] * len(rows)),
                }
            ),
            str(d / f"b{b}.parquet"),
        )
    stream = (
        spark.readStream.schema(
            "vec_id long, embedding array<double>, op string"
        )
        .option("maxFilesPerTrigger", 1)
        .parquet(str(d))
    )
    # threshold 0.3*200 = 60 nodes: build -> 25, b0 -> 50 (25 live),
    # b1 -> 75 > 60 with live 25 (tombstone-majority) -> compact
    run_available_now(
        sharded_hnsw_append_sink(
            stream, root, str(tmp_path / "churn_ckpt"), op_col="op",
            auto_split=True, split_at=0.3,
        )
    )
    m = H.load_sharded_meta(root)
    assert m["n_shards"] == 1  # no split: no new shard ids
    assert not m.get("retired")
    assert dict(m["shards"])[0] == 25
    idx = H._load_shard_graph(root, 0)
    assert idx.n_nodes() == 25 and not idx.deleted  # compacted
    qv = _qv(emb, 3)
    got = [
        (r["vec_id"], round(r["similarity"], 6))
        for r in H.sharded_search_batch(
            spark, root, ["0"], [qv], 10, ef=25
        ).collect()
    ]
    got.sort(key=lambda t: (-t[1], t[0]))
    want = [
        (r["vec_id"], round(r["similarity"], 6))
        for r in K.knn_single(
            emb.filter(F.col("vec_id") < 25), qv, 10,
            vec_col="embedding", id_col="vec_id",
        ).collect()
    ]
    assert got == sorted(want, key=lambda t: (-t[1], t[0]))


def _live_ids_by_shard(H, root):
    """{shard: live id set} across a root's active shards."""
    out = {}
    for s0, n0 in H.load_sharded_meta(root)["shards"]:
        if n0 == 0:
            continue
        idx = H._load_shard_graph(root, int(s0))
        out[int(s0)] = {idx.ids[n] for n in idx._live_nodes_list()}
    return out


def test_redelivered_id_across_split_dedups(spark, emb, tmp_path):
    """Cross-batch redelivery THROUGH a split (r13): an id committed
    before the split is redelivered (same vector) in a later batch.
    Tree routing sends it to the sub-cell holding its copy, whose
    seen-set drops it — under flat-active routing the redelivery
    could land in a third cell and serve twice."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    from chromem_go_spark.operators import hnsw as H
    from chromem_go_spark.streaming.ingest import (
        run_available_now,
        sharded_hnsw_append_sink,
    )

    n_total = emb.count()
    half = n_total // 2
    root, _ = _centroid_root(
        spark, emb.filter(F.col("vec_id") < half), tmp_path, "redel_root"
    )

    def write_batch(name, ids):
        rows = emb.filter(F.col("vec_id").isin(list(ids))).collect()
        d = tmp_path / "redel_events"
        d.mkdir(exist_ok=True)
        pq.write_table(
            pa.table(
                {
                    "vec_id": pa.array(
                        [int(r["vec_id"]) for r in rows], pa.int64()
                    ),
                    "embedding": pa.array(
                        [[float(x) for x in r["embedding"]] for r in rows],
                        pa.list_(pa.float64()),
                    ),
                }
            ),
            str(d / name),
        )
        return str(d)

    ckpt = str(tmp_path / "redel_ckpt")
    fresh = list(range(half, n_total))
    src_dir = write_batch("b0.parquet", fresh)

    def run_once():
        stream = spark.readStream.schema(
            "vec_id long, embedding array<double>"
        ).parquet(src_dir)
        run_available_now(sharded_hnsw_append_sink(stream, root, ckpt))

    run_once()  # b0 committed across cells
    m1 = H.load_sharded_meta(root)
    hot = max(m1["shards"], key=lambda t: t[1])[0]
    pre_split = _live_ids_by_shard(H, root)
    moved = pre_split[hot]  # ids whose copies move into sub-cells
    H.split_shard(spark, root, hot)
    # a later batch REDELIVERS ids that live in the split cell's
    # copies (plus some never-seen ids, so the batch does real work)
    redeliver = sorted(moved)[: max(1, len(moved) // 2)]
    write_batch("b1.parquet", list(redeliver))
    run_once()
    after = _live_ids_by_shard(H, root)
    # exactly-once: no id appears in two shards, corpus conserved
    seen: set = set()
    for s0, ids0 in sorted(after.items()):
        dup = seen & ids0
        assert not dup, f"redelivered ids served twice: {sorted(dup)[:5]}"
        seen |= ids0
    assert seen == {int(r["vec_id"]) for r in emb.collect()}
    qv = _qv(emb, 2)
    got = [
        (r["vec_id"], round(r["similarity"], 6))
        for r in H.sharded_search_batch(
            spark, root, ["0"], [qv], 10, ef=n_total
        ).collect()
    ]
    got.sort(key=lambda t: (-t[1], t[0]))
    assert got == _flat(emb, qv)


def test_cdc_upsert_through_split_single_live_copy(spark, emb, tmp_path):
    """CDC mode through a split (r13): ids committed pre-split are
    re-upserted with CHANGED vectors after the split.  The upsert
    tree-routes by the NEW vector; the broadcast synthetic delete
    tombstones the stale copy wherever it lives (including inside a
    sub-cell the split created) — every id ends with exactly one live
    node, served with its latest vector."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    import numpy as np

    from chromem_go_spark.operators import hnsw as H
    from chromem_go_spark.operators import knn as K2
    from chromem_go_spark.streaming.ingest import (
        run_available_now,
        sharded_hnsw_append_sink,
    )

    half = 40
    base_rows = emb.filter(F.col("vec_id") < half).collect()
    root, _ = _centroid_root(
        spark, emb.filter(F.col("vec_id") < half), tmp_path, "cdcsp_root"
    )
    d = tmp_path / "cdcsp_events"
    d.mkdir()

    def write(name, ids, vecs):
        pq.write_table(
            pa.table(
                {
                    "vec_id": pa.array(ids, pa.int64()),
                    "embedding": pa.array(vecs, pa.list_(pa.float64())),
                    "op": pa.array(["upsert"] * len(ids)),
                }
            ),
            str(d / name),
        )

    # b0: stream 20 more ids (40..59) so cells carry stream watermarks
    extra = emb.filter(
        (F.col("vec_id") >= half) & (F.col("vec_id") < 60)
    ).collect()
    write(
        "b0.parquet",
        [int(r["vec_id"]) for r in extra],
        [[float(x) for x in r["embedding"]] for r in extra],
    )
    ckpt = str(tmp_path / "cdcsp_ckpt")

    def run_once():
        stream = (
            spark.readStream.schema(
                "vec_id long, embedding array<double>, op string"
            )
            .option("maxFilesPerTrigger", 1)
            .parquet(str(d))
        )
        run_available_now(
            sharded_hnsw_append_sink(stream, root, ckpt, op_col="op")
        )

    run_once()
    m1 = H.load_sharded_meta(root)
    hot = max(m1["shards"], key=lambda t: t[1])[0]
    moved = _live_ids_by_shard(H, root)[hot]
    H.split_shard(spark, root, hot)
    # b1: re-upsert HALF the moved ids with rotated vectors (likely a
    # different cell) — the stale copies sit inside the sub-cells
    targets = sorted(moved)[: max(1, len(moved) // 2)]
    rng = np.random.default_rng(7)
    new_vecs = {}
    dim = len(base_rows[0]["embedding"])
    for t in targets:
        v = rng.standard_normal(dim)
        new_vecs[t] = [float(x) for x in v / np.linalg.norm(v)]
    write("b1.parquet", list(targets), [new_vecs[t] for t in targets])
    run_once()
    after = _live_ids_by_shard(H, root)
    seen: set = set()
    for s0, ids0 in sorted(after.items()):
        dup = seen & ids0
        assert not dup, f"upserted ids live twice: {sorted(dup)[:5]}"
        seen |= ids0
    want_ids = {int(r["vec_id"]) for r in base_rows} | {
        int(r["vec_id"]) for r in extra
    }
    assert seen == want_ids
    # serving reflects the LATEST vectors: brute force over the
    # current corpus (originals with targets' vectors replaced)
    cur = {
        int(r["vec_id"]): [float(x) for x in r["embedding"]]
        for r in base_rows
    }
    cur.update(
        {
            int(r["vec_id"]): [float(x) for x in r["embedding"]]
            for r in extra
        }
    )
    cur.update(new_vecs)
    corpus = spark.createDataFrame(
        [(i, v) for i, v in sorted(cur.items())],
        "vec_id long, embedding array<double>",
    )
    qv = cur[1]
    want = [
        (r["vec_id"], round(r["similarity"], 6))
        for r in K2.knn_single(
            corpus, qv, 10, vec_col="embedding", id_col="vec_id"
        ).collect()
    ]
    got = [
        (r["vec_id"], round(r["similarity"], 6))
        for r in H.sharded_search_batch(
            spark, root, ["0"], [qv], 10, ef=len(cur)
        ).collect()
    ]
    got.sort(key=lambda t: (-t[1], t[0]))
    assert got == sorted(want, key=lambda t: (-t[1], t[0]))


def test_auto_split_async_off_trigger(spark, emb, tmp_path):
    """auto_split_async (r13): the split runs in a daemon thread off
    the trigger path while the stream keeps ingesting.  After the
    stream drains, the async split lands (allocation counter
    advances, hot cell retired) without any trigger having paid the
    split wall synchronously — and the corpus stays exactly-once with
    exact serve."""
    import time as _time

    import pyarrow as pa
    import pyarrow.parquet as pq

    from chromem_go_spark.operators import hnsw as H
    from chromem_go_spark.streaming.ingest import (
        run_available_now,
        sharded_hnsw_append_sink,
    )

    n_total = emb.count()
    half = n_total // 2
    # cap sized so the threshold (0.4*cap) crosses early while the
    # cap itself never binds during the run — the async margin rule
    # from the sink docstring (the stream keeps appending while the
    # split is in flight)
    cap = int(n_total * 1.2)
    root = str(tmp_path / "async_root")
    m0 = H.build_sharded_hnsw(
        emb.filter(F.col("vec_id") < half), root, n_shards=2, M=8,
        ef_construction=64, shard_by="centroid",
        max_points_per_shard=cap,
    )
    base_alloc = int(m0["n_shards"])
    rows = emb.filter(F.col("vec_id") >= half).collect()
    d = tmp_path / "async_events"
    d.mkdir()
    for fi in range(0, len(rows), 40):
        chunk = rows[fi:fi + 40]
        pq.write_table(
            pa.table(
                {
                    "vec_id": pa.array(
                        [int(r["vec_id"]) for r in chunk], pa.int64()
                    ),
                    "embedding": pa.array(
                        [[float(x) for x in r["embedding"]]
                         for r in chunk],
                        pa.list_(pa.float64()),
                    ),
                }
            ),
            str(d / f"b{fi:04d}.parquet"),
        )
    def run_stream():
        stream = (
            spark.readStream.schema(
                "vec_id long, embedding array<double>"
            )
            .option("maxFilesPerTrigger", 1)
            .parquet(str(d))
        )
        run_available_now(
            sharded_hnsw_append_sink(
                stream, root, str(tmp_path / "async_ckpt"),
                auto_split=True, auto_split_async=True, split_at=0.4,
            )
        )

    # an async split committing BETWEEN a trigger's shard commits and
    # its fold fails that trigger (SplitRacedError — the documented
    # contract); restart from the same checkpoint like an operator
    # would: the replay re-routes through the tree exactly-once
    for attempt in range(3):
        try:
            run_stream()
            break
        except Exception as e:
            if "split/retired" not in str(e) or attempt == 2:
                raise
    # the async split may still be in flight when the stream drains —
    # poll for its commit (daemon thread, seconds at this cell size)
    deadline = _time.time() + 30
    while _time.time() < deadline:
        m1 = H.load_sharded_meta(root)
        if int(m1["n_shards"]) > base_alloc:
            break
        _time.sleep(0.5)
    m1 = H.load_sharded_meta(root)
    if int(m1["n_shards"]) == base_alloc:
        # the daemon exhausted its retries before the drain (every
        # trigger appending to the hot cell races its commit off) —
        # the sink's documented degraded path is the NEXT trigger's
        # synchronous split, which an availableNow drain never runs
        # (r14, ADVICE: relying solely on the polled daemon commit
        # flaked).  Run that path by hand on the still-hot cell.
        hot = max(m1["shards"], key=lambda sn: int(sn[1]))[0]
        try:
            H.split_shard(spark, root, int(hot))
        except (H.SplitRacedError, ValueError):
            pass  # the daemon landed it between the poll and here
        m1 = H.load_sharded_meta(root)
    assert m1["n_shards"] > base_alloc, "async split never committed"
    assert m1.get("retired")
    assert sum(n for _, n in m1["shards"]) == n_total
    # exactly-once on the graphs themselves
    seen: set = set()
    for s0, ids0 in sorted(_live_ids_by_shard(H, root).items()):
        dup = seen & ids0
        assert not dup, f"ids live twice after async split: {sorted(dup)[:5]}"
        seen |= ids0
    assert seen == {int(r["vec_id"]) for r in emb.collect()}
    qv = _qv(emb, 2)
    got = [
        (r["vec_id"], round(r["similarity"], 6))
        for r in H.sharded_search_batch(
            spark, root, ["0"], [qv], 10, ef=n_total
        ).collect()
    ]
    got.sort(key=lambda t: (-t[1], t[0]))
    assert got == _flat(emb, qv)


def test_bench_graph_pin_fixture_and_subprocess(spark, tmp_path):
    """The graph-tier serving pin machinery end-to-end at toy scale
    (r14, VERDICT ask #1): tools/build_graph_pin.py builds a fixture
    (corpus parquet + served single graph + sharded centroid root +
    params stamp), and `bench.py --isolated-graph` measures both
    serving shapes from it in a fresh subprocess JVM — the official
    100k fixture only differs in params."""
    import importlib.util
    import json
    import os
    import subprocess
    import sys

    repo = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    spec = importlib.util.spec_from_file_location(
        "build_graph_pin", os.path.join(repo, "tools", "build_graph_pin.py")
    )
    gp = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(gp)

    params = {
        "n_docs": 300, "dim": 8, "M": 8, "ef_construction": 32,
        "seed": 7, "n_shards": 4, "block": 100,
    }
    fix = str(tmp_path / "pin")
    gp.main(params=params, fixture=fix)
    assert gp.fixture_ok(fix, params)
    # idempotent: an up-to-date fixture is not rebuilt
    stamp = os.path.getmtime(os.path.join(fix, "params.json"))
    gp.main(params=params, fixture=fix)
    assert os.path.getmtime(os.path.join(fix, "params.json")) == stamp

    env = dict(os.environ, SPARK_GRAFT_GRAPH_PIN_DIR=fix)
    r = subprocess.run(
        [sys.executable, os.path.join(repo, "bench.py"), "--isolated-graph"],
        capture_output=True, text=True, timeout=300, env=env, cwd=repo,
    )
    assert r.returncode == 0, r.stderr[-2000:]
    out = json.loads(r.stdout.strip().splitlines()[-1])
    single = out["hnsw_serve_single_100k_q64"]
    sharded = out["hnsw_serve_sharded_100k_S16_P2_q64"]
    assert single["n_docs"] == 300 and single["n_queries"] == 64
    assert single["wall_sec"] > 0 and single["cold_load_sec"] > 0
    assert sharded["n_shards"] == 4 and sharded["shards_probed"] == 2
    assert sharded["wall_sec"] > 0


def test_ingest_serve_overlap_bench_shape(spark):
    """bench.py's ingest+serve overlap section at toy scale (r14,
    VERDICT ask #5): the sink ingests while serves run, a hot cell
    auto-splits asynchronously mid-stream, and the artifact reports
    per-phase latency with a committed split and a conserved corpus.
    The official 20k x 256 shape differs only in size."""
    import importlib
    import os
    import sys

    repo = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    if repo not in sys.path:
        sys.path.insert(0, repo)
    bench = importlib.import_module("bench")

    out = bench._ingest_serve_overlap_bench(spark, n_docs=3000, dim=32)
    assert out["split_committed"] is True
    assert out["n_docs"] == 3000
    phases = out["phases"]
    # serves ran against the live root in at least two lifecycle
    # phases (the 'during' window can be missed at toy scale if the
    # split commits within one serve interval)
    assert "before" in phases
    assert sum(p["n_serves"] for p in phases.values()) >= 10
    for p in phases.values():
        assert p["p50_ms"] > 0 and p["p95_ms"] >= p["p50_ms"]
