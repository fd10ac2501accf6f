"""IVF index tests: exactness at full probe, recall under partial probe,
save/load round-trip with partition pruning."""

from __future__ import annotations

import numpy as np
import pytest
from pyspark.sql import functions as F

from chromem_go_spark.operators import ann as A
from chromem_go_spark.operators import knn as K


@pytest.fixture(scope="module")
def emb(spark, sf_dir):
    return spark.read.parquet(f"{sf_dir}/embeddings.parquet")


@pytest.fixture(scope="module")
def index(emb):
    return A.IVFIndex.build(emb, n_clusters=8, vec_col="embedding", id_col="vec_id")


def _qvec(emb, vid):
    return [float(x) for x in emb.filter(F.col("vec_id") == vid).head()["embedding"]]


def test_full_probe_is_exact(emb, index):
    q = _qvec(emb, 3)
    exact = [r["vec_id"] for r in K.knn_single(emb, q, 10, vec_col="embedding", id_col="vec_id").collect()]
    ivf = [r["vec_id"] for r in index.search(q, 10, nprobe=8).collect()]
    assert ivf == exact


@pytest.mark.parametrize("sample_size", [64, 50_000])
def test_ivf_centroids_do_not_depend_on_partitioning(emb, sample_size):
    """The training sample is the head of the rows in ``(xxhash64(id),
    id)`` order, so one frame split into 1 or 7 partitions trains the same
    centroids, whether the hash filter thins it (64) or every row is
    sampled (50,000)."""
    built = [
        A.IVFIndex.build(
            emb.repartition(p), n_clusters=8, vec_col="embedding",
            id_col="vec_id", sample_size=sample_size,
        ).centroids
        for p in (1, 7)
    ]
    assert np.array_equal(*built)


def test_hash_sample_stays_within_sample_size(spark, monkeypatch):
    """A sample far smaller than the corpus clamps the hash filter to
    its floor (p = 1 of 997), which passes about n / 997 rows; the
    driver still receives at most ``sample_size`` of them, the same
    ones however the frame is partitioned."""
    n, sample_size = 20_000, 2
    assert 997 * sample_size < n  # p = max(1, int(997 * 2 / 20000)) = 1
    df = spark.range(n).select(
        F.col("id").alias("vec_id"),
        F.array(F.col("id").cast("double"), F.lit(1.0)).alias("embedding"),
    )
    passed = df.filter(
        F.pmod(F.xxhash64(F.col("vec_id").cast("string")), F.lit(997)) < 1
    ).count()
    assert passed > sample_size
    collected = []
    collect = type(df).collect
    monkeypatch.setattr(
        type(df), "collect", lambda self: collected.append(len(r := collect(self))) or r
    )
    samples = [
        A._hash_sample(df.repartition(p), "embedding", "vec_id", sample_size)
        for p in (1, 7)
    ]
    assert collected and max(collected) <= sample_size
    assert samples[0].shape == (sample_size, 2)
    assert np.array_equal(*samples)


def test_partial_probe_recall(emb, index):
    """Partial probing: recall@10 must rise monotonically with nprobe and
    clear a floor at nprobe=4/8. (The synthetic vectors are near-uniform
    on the sphere — IVF's worst case — so the floor is deliberately
    modest; clustered real embeddings probe far better.)"""

    def recall(nprobe: int) -> float:
        hits = total = 0
        for vid in range(10):
            q = _qvec(emb, vid)
            exact = {r["vec_id"] for r in K.knn_single(emb, q, 10, vec_col="embedding", id_col="vec_id").collect()}
            approx = {r["vec_id"] for r in index.search(q, 10, nprobe=nprobe).collect()}
            hits += len(exact & approx)
            total += len(exact)
        return hits / total

    r1, r2, r4 = recall(1), recall(2), recall(4)
    assert r1 <= r2 <= r4, (r1, r2, r4)
    assert r4 >= 0.6, f"recall@10 with nprobe=4/8 too low: {r4:.2f}"


def test_save_load_partition_pruning(spark, emb, index, tmp_path):
    path = str(tmp_path / "ivf")
    index.save(path)
    loaded = A.IVFIndex.load(spark, path, vec_col="embedding", id_col="vec_id")
    q = _qvec(emb, 5)
    orig = [(r["vec_id"], round(r["similarity"], 5)) for r in index.search(q, 5, nprobe=8).collect()]
    got = [(r["vec_id"], round(r["similarity"], 5)) for r in loaded.search(q, 5, nprobe=8).collect()]
    assert got == orig
    # probing must prune partitions at the scan: the cluster_id filter
    # appears as a partition filter, not a post-scan filter
    from chromem_go_spark.plans.explain import formatted_plan

    plan = formatted_plan(loaded.search(q, 5, nprobe=2))
    assert "PartitionFilters" in plan and "cluster_id" in plan.split("PartitionFilters", 1)[1][:200]


# ----------------------------------------------------------------- IVF-PQ


@pytest.fixture(scope="module")
def pq_index(emb):
    return A.IVFPQIndex.build(
        emb, n_clusters=8, m=16, vec_col="embedding", id_col="vec_id"
    )


def test_pq_fit_cap_binds_and_stays_deterministic(emb, monkeypatch):
    """r15: the per-subquantizer codebook fit subsamples the training
    matrix with a deterministic even stride above _PQ_FIT_CAP. With the
    cap forced below the sample size the build must (a) still produce
    valid full-shape codebooks, (b) be run-to-run deterministic, and
    (c) keep the exact full-probe + generous-rerank contract (ADC only
    selects candidates; the re-rank is exact regardless of codebooks)."""
    import numpy as np

    monkeypatch.setattr(A, "_PQ_FIT_CAP", 64)
    i1 = A.IVFPQIndex.build(emb, n_clusters=8, m=16, vec_col="embedding", id_col="vec_id")
    i2 = A.IVFPQIndex.build(emb, n_clusters=8, m=16, vec_col="embedding", id_col="vec_id")
    assert np.array_equal(i1.codebooks, i2.codebooks)
    assert i1.codebooks.shape[0] == 16
    q = _qvec(emb, 5)
    exact = [
        r["vec_id"]
        for r in K.knn_single(emb, q, 10, vec_col="embedding", id_col="vec_id").collect()
    ]
    got = [
        r["vec_id"]
        for r in i1.search_batch(["q"], [q], 10, nprobe=8, rerank=200).collect()
    ]
    assert got == exact


def test_pq_codes_are_m_bytes(pq_index):
    """The scan-side representation really is 16 bytes per vector (vs
    1024 for 256 float32s) — the whole point of PQ at 100 TB."""
    row = pq_index.coded.select("codes").head()
    assert len(bytes(row["codes"])) == 16
    assert pq_index.codebooks.shape[0] == 16  # m subspaces


def test_pq_full_probe_generous_rerank_is_exact(emb, pq_index):
    """nprobe=all + rerank >> k: the exact re-rank makes IVF-PQ equal to
    brute force (ADC only selects candidates)."""
    q = _qvec(emb, 5)
    exact = [
        r["vec_id"]
        for r in K.knn_single(
            emb, q, 10, vec_col="embedding", id_col="vec_id"
        ).collect()
    ]
    got = [
        r["vec_id"]
        for r in pq_index.search_batch(["q"], [q], 10, nprobe=8, rerank=200).collect()
    ]
    assert got == exact


def test_pq_batch_multi_query(emb, pq_index):
    """Several queries in one pass; each query's own vector is its top
    hit (similarity ~1 after re-rank)."""
    qids = [0, 7, 11]
    qvecs = [_qvec(emb, i) for i in qids]
    out = pq_index.search_batch(
        [str(i) for i in qids], qvecs, 5, nprobe=8, rerank=100
    ).collect()
    by_q = {}
    for r in out:
        by_q.setdefault(r["query_id"], []).append((r["vec_id"], r["similarity"]))
    assert set(by_q) == {str(i) for i in qids}
    for i in qids:
        top_id, top_sim = by_q[str(i)][0]
        assert top_id == i
        assert top_sim == pytest.approx(1.0, abs=1e-6)


def test_pq_moderate_rerank_recall(emb, pq_index):
    """With tight rerank (2k) the ADC shortlist still recalls most of
    the true top-k — quantization error is small at this resolution."""
    q = _qvec(emb, 2)
    exact = {
        r["vec_id"]
        for r in K.knn_single(
            emb, q, 10, vec_col="embedding", id_col="vec_id"
        ).collect()
    }
    got = {
        r["vec_id"]
        for r in pq_index.search_batch(["q"], [q], 10, nprobe=8, rerank=20).collect()
    }
    assert len(got & exact) >= 8  # recall@10 >= 0.8 with rerank=2k


def test_pq_save_load_roundtrip(spark, emb, pq_index, tmp_path):
    """Save/load round-trip: codes land partitioned by cluster_id (probe
    is partition pruning) and the reloaded index returns identical
    results."""
    import os

    path = str(tmp_path / "pqidx")
    pq_index.save(path)
    assert any(
        d.startswith("cluster_id=")
        for d in os.listdir(os.path.join(path, "codes", "__batch=-1"))
    )
    loaded = A.IVFPQIndex.load(spark, path)
    q = _qvec(emb, 4)
    a = [(r["vec_id"], round(r["similarity"], 6))
         for r in pq_index.search_batch(["q"], [q], 10, nprobe=8, rerank=200).collect()]
    b = [(r["vec_id"], round(r["similarity"], 6))
         for r in loaded.search_batch(["q"], [q], 10, nprobe=8, rerank=200).collect()]
    assert a == b


def test_append_batch_and_compact(spark, emb, tmp_path):
    """Incremental maintenance: build on 60% of the corpus, stream the
    rest in as two appended batches (one replayed), and with
    nprobe=n_clusters the loaded index's search must equal brute force
    over the FULL corpus. Compacting folds the micro-batch partitions
    into the base without changing results."""
    import os

    path = str(tmp_path / "ivf_grow")
    base = emb.filter(F.col("vec_id") % 5 < 3)
    b1 = emb.filter(F.col("vec_id") % 5 == 3)
    b2 = emb.filter(F.col("vec_id") % 5 == 4)

    A.IVFIndex.build(base, n_clusters=8, vec_col="embedding", id_col="vec_id").save(path)
    A.IVFIndex.append_batch(b1, path, 0, vec_col="embedding", id_col="vec_id")
    A.IVFIndex.append_batch(b1, path, 0, vec_col="embedding", id_col="vec_id")  # replay
    A.IVFIndex.append_batch(b2, path, 1, vec_col="embedding", id_col="vec_id")

    loaded = A.IVFIndex.load(spark, path, vec_col="embedding", id_col="vec_id")
    assert loaded.assigned.count() == emb.count()  # replay did not duplicate

    q = _qvec(emb, 7)
    exact = [
        (r["vec_id"], round(r["similarity"], 5))
        for r in K.knn_single(emb, q, 5, vec_col="embedding", id_col="vec_id").collect()
    ]
    got = [
        (r["vec_id"], round(r["similarity"], 5))
        for r in loaded.search(q, 5, nprobe=8).collect()
    ]
    assert got == exact

    A.IVFIndex.compact(spark, path)
    parts = [d for d in os.listdir(path) if d.startswith("__batch=")]
    assert parts == ["__batch=-1"]
    recheck = A.IVFIndex.load(spark, path, vec_col="embedding", id_col="vec_id")
    got2 = [
        (r["vec_id"], round(r["similarity"], 5))
        for r in recheck.search(q, 5, nprobe=8).collect()
    ]
    assert got2 == exact


def test_ivf_append_stream_sink(spark, emb, tmp_path):
    """The foreachBatch wrapper drives index growth from a vector
    stream (one file per micro-batch)."""
    import os

    import pyarrow.parquet as pq

    from chromem_go_spark.streaming.ingest import ivf_append_sink, run_available_now

    sf = os.environ.get("SPARK_GRAFT_TEST_SF_DIR", "/root/testdata/sf0.001")
    t = pq.read_table(f"{sf}/embeddings.parquet")
    d = tmp_path / "vec_stream"
    d.mkdir()
    half = t.num_rows // 2
    pq.write_table(t.slice(0, half), d / "v0.parquet")
    pq.write_table(t.slice(half), d / "v1.parquet")

    path = str(tmp_path / "ivf_sink")
    A.IVFIndex.build(
        emb.limit(50), n_clusters=4, vec_col="embedding", id_col="vec_id"
    ).save(path)
    n0 = A.IVFIndex.load(spark, path).assigned.count()

    batch_df = spark.read.parquet(str(d))
    stream = (
        spark.readStream.schema(batch_df.schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(str(d))
    )
    writer = ivf_append_sink(
        stream.select("vec_id", "embedding"),
        path,
        str(tmp_path / "ckpt"),
    )
    run_available_now(writer)
    grown = A.IVFIndex.load(spark, path)
    assert grown.assigned.count() == n0 + batch_df.count()


def test_pq_append_batch_and_compact(spark, emb, tmp_path):
    """Incremental PQ maintenance: appended batches are quantized with
    the frozen codebooks; with nprobe=n_clusters and generous rerank
    the grown index's search equals brute force over the FULL corpus
    (exact re-rank bounds precision by candidate recall); compaction
    preserves results and bounds partitions."""
    import os

    path = str(tmp_path / "pq_grow")
    base = emb.filter(F.col("vec_id") % 5 < 3)
    b1 = emb.filter(F.col("vec_id") % 5 == 3)
    b2 = emb.filter(F.col("vec_id") % 5 == 4)

    A.IVFPQIndex.build(
        base, n_clusters=8, m=16, vec_col="embedding", id_col="vec_id"
    ).save(path)
    A.IVFPQIndex.append_batch(b1.select("vec_id", "embedding"), path, 0)
    A.IVFPQIndex.append_batch(b1.select("vec_id", "embedding"), path, 0)  # replay
    A.IVFPQIndex.append_batch(b2.select("vec_id", "embedding"), path, 1)

    loaded = A.IVFPQIndex.load(spark, path)
    assert loaded.coded.count() == emb.count()
    assert loaded.vectors.count() == emb.count()

    q = _qvec(emb, 3)
    exact = [
        (r["vec_id"], round(r["similarity"], 5))
        for r in K.knn_single(emb, q, 5, vec_col="embedding", id_col="vec_id").collect()
    ]
    n_corpus = emb.count()
    got = [
        (r["vec_id"], round(r["similarity"], 5))
        for r in loaded.search_batch(
            ["q"], [q], 5, nprobe=8, rerank=n_corpus
        ).collect()
    ]
    assert got == exact

    A.IVFPQIndex.compact(spark, path)
    for sub in ("codes", "vectors"):
        parts = [
            d for d in os.listdir(os.path.join(path, sub)) if d.startswith("__batch=")
        ]
        assert parts == ["__batch=-1"], (sub, parts)
    re2 = A.IVFPQIndex.load(spark, path)
    got2 = [
        (r["vec_id"], round(r["similarity"], 5))
        for r in re2.search_batch(["q"], [q], 5, nprobe=8, rerank=n_corpus).collect()
    ]
    assert got2 == exact


def test_soak_ivf_append_many_batches_manifest_compaction(spark, emb, tmp_path):
    """Soak: build on a seed slice, append ~30 micro-batches (one
    replayed mid-run = restart), compacting in manifest mode every 10.
    Search results must equal brute force over the full corpus at every
    checkpoint and the partition count stays bounded."""
    import os

    path = str(tmp_path / "ivf_soak")
    n_batches = 30
    base = emb.filter(F.col("vec_id") % (n_batches + 1) == n_batches)
    A.IVFIndex.build(base, n_clusters=8, vec_col="embedding", id_col="vec_id").save(path)

    q = _qvec(emb, 7)
    for bid in range(n_batches):
        b = emb.filter(F.col("vec_id") % (n_batches + 1) == bid)
        A.IVFIndex.append_batch(b, path, bid, vec_col="embedding", id_col="vec_id")
        if bid == 13:  # restart: redelivered batch replaces itself
            A.IVFIndex.append_batch(b, path, bid, vec_col="embedding", id_col="vec_id")
        if bid % 10 == 9:
            A.IVFIndex.compact(spark, path, commit_mode="manifest")
            parts = [d for d in os.listdir(path) if d.startswith("__batch=")]
            assert len(parts) <= 11, parts  # one generation + ≤10 recents

    A.IVFIndex.compact(spark, path, commit_mode="manifest")
    loaded = A.IVFIndex.load(spark, path, vec_col="embedding", id_col="vec_id")
    assert loaded.assigned.count() == emb.count()  # no loss, no duplicates
    exact = [
        (r["vec_id"], round(r["similarity"], 5))
        for r in K.knn_single(emb, q, 5, vec_col="embedding", id_col="vec_id").collect()
    ]
    got = [
        (r["vec_id"], round(r["similarity"], 5))
        for r in loaded.search(q, 5, nprobe=8).collect()
    ]
    assert got == exact


def test_tune_ivf_hits_target_recall(spark, emb):
    """Auto-tuner: the returned operating point's measured recall meets
    the target, the sweep is recorded, and the chosen point is the
    cheapest (lowest scan fraction) among viable ones."""
    out = A.tune_ivf(
        emb, target_recall=0.9, k=5, n_queries=8, candidate_nlist=(4, 8)
    )
    assert out["recall"] >= 0.9
    assert 1 <= out["nprobe"] <= out["n_clusters"]
    assert out["n_clusters"] in (4, 8)
    viable = [p for p in out["sweep"] if p["recall"] >= 0.9]
    assert out["scan_fraction"] == min(p["scan_fraction"] for p in viable)


def test_tune_ivf_pq_rerank_sweep(spark, emb):
    out = A.tune_ivf(
        emb, target_recall=0.85, k=5, n_queries=8,
        candidate_nlist=(8,), pq_m=8,
    )
    assert "rerank" in out and out["rerank"] >= 5
    assert out["pq_recall"] >= 0.85 or out["rerank"] == 50  # swept to cap


def test_ivf_tombstone_delete_then_compact(spark, emb, tmp_path):
    """Tombstone deletes: logical immediately (load anti-joins), then
    physical at compact (base rewritten, tombstones cleared). Deleted
    ids never appear in search results at either stage."""
    import os

    path = str(tmp_path / "ivf_del")
    A.IVFIndex.build(emb, n_clusters=8, vec_col="embedding", id_col="vec_id").save(path)
    n_all = emb.count()
    victims = [0, 3, 7]

    A.IVFIndex.delete_ids(spark, path, victims)
    A.IVFIndex.delete_ids(spark, path, [3])  # re-delete: idempotent
    loaded = A.IVFIndex.load(spark, path, vec_col="embedding", id_col="vec_id")
    assert loaded.assigned.count() == n_all - 3
    got = [r["vec_id"] for r in loaded.search(_qvec(emb, 7), 10, nprobe=8).collect()]
    assert not set(got) & set(victims)

    A.IVFIndex.compact(spark, path)
    # physically gone: the RAW table (no tombstone filter) excludes them
    raw_ids = {r["vec_id"] for r in spark.read.parquet(path).collect()}
    assert not raw_ids & set(victims)
    assert len(raw_ids) == n_all - 3
    assert not os.path.exists(os.path.join(path, "_tombstones"))
    # equivalence: search over the compacted index == brute force over
    # the surviving corpus
    surv = emb.filter(~F.col("vec_id").isin(victims))
    q = _qvec(emb, 7)
    exact = [
        (r["vec_id"], round(r["similarity"], 5))
        for r in K.knn_single(surv, q, 5, vec_col="embedding", id_col="vec_id").collect()
    ]
    re = A.IVFIndex.load(spark, path, vec_col="embedding", id_col="vec_id")
    got2 = [
        (r["vec_id"], round(r["similarity"], 5))
        for r in re.search(q, 5, nprobe=8).collect()
    ]
    assert got2 == exact


def test_ivf_tombstone_compact_without_appends_applies(spark, emb, tmp_path):
    """Physical apply must happen even when NO appended batches are
    waiting (the force path): clearing tombstones without rewriting the
    base would resurrect deleted ids."""
    path = str(tmp_path / "ivf_del2")
    A.IVFIndex.build(emb, n_clusters=4, vec_col="embedding", id_col="vec_id").save(path)
    A.IVFIndex.delete_ids(spark, path, [1])
    A.IVFIndex.compact(spark, path)  # no __batch dirs besides base
    raw_ids = {r["vec_id"] for r in spark.read.parquet(path).collect()}
    assert 1 not in raw_ids
    loaded = A.IVFIndex.load(spark, path, vec_col="embedding", id_col="vec_id")
    assert loaded.assigned.count() == emb.count() - 1


def test_pq_tombstone_delete_then_compact(spark, emb, tmp_path):
    path = str(tmp_path / "pq_del")
    A.IVFPQIndex.build(emb, n_clusters=8, m=8, vec_col="embedding", id_col="vec_id").save(path)
    n_all = emb.count()
    A.IVFPQIndex.delete_ids(spark, path, [2, 5])
    loaded = A.IVFPQIndex.load(spark, path)
    got = [
        r["vec_id"]
        for r in loaded.search_batch(
            ["q"], [_qvec(emb, 7)], 10, nprobe=8, rerank=50
        ).collect()
    ]
    assert not {2, 5} & set(got)

    A.IVFPQIndex.compact(spark, path, commit_mode="manifest")
    import os
    assert not os.path.exists(os.path.join(path, "_tombstones"))
    re = A.IVFPQIndex.load(spark, path)
    assert re.coded.count() == n_all - 2
    assert re.vectors.count() == n_all - 2


# ------------------------- standalone k-means clustering


def test_cluster_embeddings_recovers_blobs(spark):
    import numpy as np

    rng = np.random.default_rng(11)
    centers = np.eye(3)  # three orthogonal directions
    rows = []
    for i in range(90):
        c = i % 3
        v = centers[c] + rng.normal(0, 0.05, 3)
        rows.append((i, (v / np.linalg.norm(v)).tolist()))
    df = spark.createDataFrame(rows, "vec_id long, embedding array<double>")

    from chromem_go_spark.operators.ann import cluster_embeddings, cluster_summary

    out = cluster_embeddings(df, n_clusters=3, sample_size=90).collect()
    assert len(out) == 90
    assert all(0.9 < r["centroid_sim"] <= 1.0 + 1e-9 for r in out)
    # members of the same blob land in the same cluster
    by_blob = {}
    for r in out:
        by_blob.setdefault(r["vec_id"] % 3, set()).add(r["cluster_id"])
    assert all(len(cs) == 1 for cs in by_blob.values())
    # three distinct clusters
    assert len({next(iter(cs)) for cs in by_blob.values()}) == 3

    summ = {r["cluster_id"]: r for r in cluster_summary(df, n_clusters=3, sample_size=90).collect()}
    assert sorted(r["n"] for r in summ.values()) == [30, 30, 30]
    assert all(r["mean_sim"] > 0.9 for r in summ.values())


def test_cluster_embeddings_deterministic(spark):
    import numpy as np

    rng = np.random.default_rng(5)
    rows = [(i, rng.normal(0, 1, 4).tolist()) for i in range(40)]
    df = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    from chromem_go_spark.operators.ann import cluster_embeddings

    a = sorted((r["vec_id"], r["cluster_id"]) for r in cluster_embeddings(df, 4, sample_size=40).collect())
    b = sorted((r["vec_id"], r["cluster_id"]) for r in cluster_embeddings(df, 4, sample_size=40).collect())
    assert a == b


def test_tune_ivf_pq_m_sweep_picks_smallest_adequate(spark, emb):
    """m sweep: smallest codebook count meeting the target wins; the
    full (m, rerank) sweep is recorded."""
    out = A.tune_ivf(
        emb, target_recall=0.85, k=5, n_queries=8,
        candidate_nlist=(8,), pq_m=(8, 16),
    )
    assert out["m"] in (8, 16)
    assert "pq_sweep" in out and len(out["pq_sweep"]) >= 1
    assert all(set(p) == {"m", "rerank", "pq_recall"} for p in out["pq_sweep"])
    if out["pq_recall"] >= 0.85 and out["m"] == 16:
        # 16 was only chosen if 8 exhausted its rerank sweep below target
        m8 = [p for p in out["pq_sweep"] if p["m"] == 8]
        assert all(p["pq_recall"] < 0.85 for p in m8)
        assert len(m8) == 4  # swept rerank to the cap before widening m


def test_ivf_probe_stream_parity(spark, emb, tmp_path):
    """Streaming probe == batch probe: the same query vectors pushed
    through ivf_probe_sink (2 micro-batches) produce exactly the rows
    IVFIndex.search_batch returns for the same (k, nprobe)."""
    import os

    import pyarrow.parquet as pq

    from chromem_go_spark.streaming.ingest import ivf_probe_sink, run_available_now

    path = str(tmp_path / "ivf_served")
    A.IVFIndex.build(emb, n_clusters=8, vec_col="embedding", id_col="vec_id").save(path)
    idx = A.IVFIndex.load(spark, path)

    sf = os.environ.get("SPARK_GRAFT_TEST_SF_DIR", "/root/testdata/sf0.001")
    t = pq.read_table(f"{sf}/embeddings.parquet").slice(0, 8)
    d = tmp_path / "q_stream"
    d.mkdir()
    pq.write_table(t.slice(0, 4), d / "q0.parquet")
    pq.write_table(t.slice(4), d / "q1.parquet")

    results = str(tmp_path / "probe_out")
    stream = (
        spark.readStream.schema(spark.read.parquet(str(d)).schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(str(d))
    )
    writer = ivf_probe_sink(
        stream.select("vec_id", "embedding"),
        path,
        results,
        str(tmp_path / "probe_ckpt"),
        k=5,
        nprobe=4,
    )
    run_available_now(writer)

    qrows = spark.read.parquet(str(d)).orderBy("vec_id").collect()
    expect = idx.search_batch(
        [str(r["vec_id"]) for r in qrows],
        [list(r["embedding"]) for r in qrows],
        5,
        nprobe=4,
    ).collect()
    exp = sorted(
        (r["query_id"], r["vec_id"], round(r["similarity"], 6)) for r in expect
    )
    got_rows = spark.read.parquet(results).collect()
    got = sorted(
        (r["query_id"], r["vec_id"], round(r["similarity"], 6)) for r in got_rows
    )
    assert got == exp
    assert {r["batch_id"] for r in got_rows} == {0, 1}


def test_ivf_sq_flat_parity_and_compression(spark, emb):
    """SQ8 with nprobe=all + generous rerank equals FLAT; the code
    column is exactly dim bytes per vector (4x under float32)."""
    idx = A.IVFSQIndex.build(emb, n_clusters=4, vec_col="embedding", id_col="vec_id")
    q = _qvec(emb, 11)
    got = [
        (r["vec_id"], round(r["similarity"], 5))
        for r in idx.search_batch(["11"], [q], 5, nprobe=4, rerank=200).collect()
    ]
    want = [
        (r["vec_id"], round(r["similarity"], 5))
        for r in K.knn_single(emb, q, 5, vec_col="embedding", id_col="vec_id").collect()
    ]
    assert got == want
    dim = len(q)
    sizes = {len(r["codes"]) for r in idx.coded.limit(20).collect()}
    assert sizes == {dim}


def test_ivf_sq_low_rerank_still_reasonable(spark, emb):
    """Even at small rerank the SQ8 shortlist keeps most of the true
    top-5 (8-bit quantization error is tiny relative to neighbor
    gaps)."""
    idx = A.IVFSQIndex.build(emb, n_clusters=4, vec_col="embedding", id_col="vec_id")
    q = _qvec(emb, 3)
    got = {r["vec_id"] for r in idx.search_batch(["3"], [q], 5, nprobe=4, rerank=10).collect()}
    want = {
        r["vec_id"]
        for r in K.knn_single(emb, q, 5, vec_col="embedding", id_col="vec_id").collect()
    }
    assert len(got & want) >= 4


def test_tune_ivf_sq_meets_target(spark, emb):
    out = A.tune_ivf(emb, target_recall=0.9, k=5, n_queries=8, candidate_nlist=(4, 8))
    sq = A.tune_ivf_sq(emb, out, k=5, n_queries=8)
    assert sq["sq_recall"] >= 0.9
    assert sq["sq_rerank"] >= 5
    assert sq["sq_sweep"][0]["sq_rerank"] == 5


def test_ivf_sq_save_load_roundtrip(spark, emb, tmp_path):
    """A served (saved+loaded) SQ8 index answers identically to the
    in-memory build, and tombstoned ids vanish from results."""
    idx = A.IVFSQIndex.build(emb, n_clusters=4, vec_col="embedding", id_col="vec_id")
    path = str(tmp_path / "sq_idx")
    idx.save(path)
    loaded = A.IVFSQIndex.load(spark, path)
    q = _qvec(emb, 6)
    want = [
        (r["vec_id"], round(r["similarity"], 5))
        for r in idx.search_batch(["6"], [q], 5, nprobe=4, rerank=100).collect()
    ]
    got = [
        (r["vec_id"], round(r["similarity"], 5))
        for r in loaded.search_batch(["6"], [q], 5, nprobe=4, rerank=100).collect()
    ]
    assert got == want
    top_id = want[0][0]
    A.IVFSQIndex.delete_ids(spark, path, [top_id])
    reloaded = A.IVFSQIndex.load(spark, path)
    after = [
        r["vec_id"]
        for r in reloaded.search_batch(["6"], [q], 5, nprobe=4, rerank=100).collect()
    ]
    assert top_id not in after and len(after) == 5


def test_ivf_sq_append_replay_compact(spark, emb, tmp_path):
    """SQ ingest lifecycle: build on half, append the rest in 3
    micro-batches (one redelivered), compact, then a tombstone delete
    applied physically at the second compact. Search equals the
    flat-filtered truth at every stage."""
    import os

    path = str(tmp_path / "sq_life")
    base = emb.filter(F.col("vec_id") % 4 == 3)
    A.IVFSQIndex.build(base, n_clusters=4, vec_col="embedding", id_col="vec_id").save(path)
    for bid in range(3):
        b = emb.filter(F.col("vec_id") % 4 == bid)
        A.IVFSQIndex.append_batch(b, path, bid)
        if bid == 1:  # redelivery replaces its own partition
            A.IVFSQIndex.append_batch(b, path, bid)
    A.IVFSQIndex.compact(spark, path)
    idx = A.IVFSQIndex.load(spark, path)
    assert idx.coded.count() == emb.count()  # no loss, no duplicates
    q = _qvec(emb, 9)
    got = [
        (r["vec_id"], round(r["similarity"], 5))
        for r in idx.search_batch(["9"], [q], 5, nprobe=4, rerank=200).collect()
    ]
    want = [
        (r["vec_id"], round(r["similarity"], 5))
        for r in K.knn_single(emb, q, 5, vec_col="embedding", id_col="vec_id").collect()
    ]
    assert got == want
    # tombstone + compact: physically gone from both tables
    victim = got[0][0]
    A.IVFSQIndex.delete_ids(spark, path, [victim])
    A.IVFSQIndex.compact(spark, path)
    reloaded = A.IVFSQIndex.load(spark, path)
    assert reloaded.coded.filter(F.col("vec_id") == victim).count() == 0
    assert not os.path.exists(os.path.join(path, "_tombstones")) or not os.listdir(
        os.path.join(path, "_tombstones")
    )
    after = [
        r["vec_id"]
        for r in reloaded.search_batch(["9"], [q], 5, nprobe=4, rerank=200).collect()
    ]
    assert victim not in after and len(after) == 5


# ----------------------------------------- collection lifecycle (r8)


def _lifecycle_coll(spark, tmp_path, name):
    from chromem_go_spark.db import DB
    from chromem_go_spark.document import Document
    from chromem_go_spark.embeddings.stub import make_hash_embedding_func

    pdir = str(tmp_path / "db")
    db = DB(spark, persist_dir=pdir)
    c = db.create_collection(name, embedding_func=make_hash_embedding_func(16))
    c.add_documents(
        [
            Document(id=str(i), content=f"doc {i} topic {i % 4}")
            for i in range(32)
        ]
    )
    return c, pdir


import pytest as _pytest


@_pytest.mark.parametrize("kind", ["ivf", "ivf_sq", "ivf_pq"])
def test_collection_ann_persist_reload_and_staleness(spark, tmp_path, kind):
    """Every IVF-family tier persists under the collection directory
    behind the (id, embedding) signature (r8 — same lifecycle contract
    as the HNSW/text indexes): a fresh session reloads it and the
    routed query over the served index matches the exact path at the
    nprobe-all identity; after a mutation the stale snapshot is
    REFUSED."""
    import os

    from chromem_go_spark.db import DB
    from chromem_go_spark.document import Document
    from chromem_go_spark.embeddings.stub import make_hash_embedding_func

    c, pdir = _lifecycle_coll(spark, tmp_path, f"ann_{kind}")
    c.build_ann_index(n_clusters=4, kind=kind)
    assert os.path.isdir(c._ann_index_path())

    db2 = DB(spark, persist_dir=pdir)
    c2 = db2.get_collection(
        f"ann_{kind}", embedding_func=make_hash_embedding_func(16)
    )
    served = c2.load_ann_index()
    assert served is not None
    qv = c2.embedding_func("topic 2")
    exact = {
        (r["id"], round(r["similarity"], 6))
        for r in c2.query_embedding(qv, 5).collect()
    }
    routed = {
        (r["id"], round(r["similarity"], 6))
        for r in c2.query_embedding(
            qv, 5, index=served, target_recall=0.999
        ).collect()
    }
    assert routed == exact

    c2.add_documents([Document(id="99", content="fresh doc topic 2")])
    assert c2.load_ann_index() is None  # stale snapshot refused


def test_collection_ann_kind_validation_and_no_persist(spark, tmp_path):
    import os

    c, _pdir = _lifecycle_coll(spark, tmp_path, "ann_nop")
    with _pytest.raises(ValueError, match="unknown ANN index kind"):
        c.build_ann_index(kind="hnsw")
    c.build_ann_index(n_clusters=4, persist=False)
    assert not os.path.isdir(c._ann_index_path())
    assert c.load_ann_index() is None
    # pq=True back-compat spells ivf_pq
    idx = c.build_ann_index(n_clusters=4, pq=True, persist=False)
    from chromem_go_spark.operators.ann import IVFPQIndex

    assert isinstance(idx, IVFPQIndex)


@_pytest.mark.parametrize("tier", ["ivf", "ivf_sq", "hnsw"])
def test_routed_probe_stream_parity(spark, emb, tmp_path, tier):
    """Streaming routed probe == batch routed probe, per served tier
    (r8): the same query vectors pushed through routed_probe_sink (2
    micro-batches) produce exactly the rows routed_search_batch
    returns for the same served index and recall target (0.999 — the
    exact-identity setting, so the parity is also vs brute force)."""
    import os

    import pyarrow.parquet as pq

    from chromem_go_spark.operators import router as RT
    from chromem_go_spark.streaming.ingest import (
        routed_probe_sink,
        run_available_now,
    )

    if tier == "ivf":
        idx = A.IVFIndex.build(
            emb, n_clusters=8, vec_col="embedding", id_col="vec_id"
        )
    elif tier == "ivf_sq":
        idx = A.IVFSQIndex.build(
            emb, n_clusters=8, vec_col="embedding", id_col="vec_id"
        )
    else:
        from chromem_go_spark.operators.hnsw import HNSWIndex

        idx = HNSWIndex.build(emb, M=8, ef_construction=64)

    sf = os.environ.get("SPARK_GRAFT_TEST_SF_DIR", "/root/testdata/sf0.001")
    t = pq.read_table(f"{sf}/embeddings.parquet").slice(0, 6)
    d = tmp_path / f"rq_stream_{tier}"
    d.mkdir()
    pq.write_table(t.slice(0, 3), d / "q0.parquet")
    pq.write_table(t.slice(3), d / "q1.parquet")

    results = str(tmp_path / f"routed_out_{tier}")
    stream = (
        spark.readStream.schema(spark.read.parquet(str(d)).schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(str(d))
    )
    run_available_now(
        routed_probe_sink(
            stream.select("vec_id", "embedding"),
            idx,
            results,
            str(tmp_path / f"routed_ckpt_{tier}"),
            k=5,
            target_recall=0.999,
        )
    )

    qrows = spark.read.parquet(str(d)).orderBy("vec_id").collect()
    expect = RT.routed_search_batch(
        emb.limit(0),
        [str(r["vec_id"]) for r in qrows],
        [list(r["embedding"]) for r in qrows],
        5,
        index=idx,
        target_recall=0.999,
    ).collect()
    exp = sorted(
        (r["query_id"], r["vec_id"], round(r["similarity"], 6))
        for r in expect
    )
    got = sorted(
        (r["query_id"], r["vec_id"], round(r["similarity"], 6))
        for r in spark.read.parquet(results).collect()
    )
    assert got == exp and len(got) == 30


@pytest.mark.parametrize("tier", ["ivf", "ivf_sq", "ivf_pq"])
def test_search_batch_length_mismatch_raises(emb, index, pq_index, tier):
    """Every IVF tier's batch search rejects query ids and vectors of
    different lengths up front: zip() would drop the extra queries
    silently, and the coded kernels would index past the id list in a
    Python worker."""
    idx = {"ivf": index, "ivf_pq": pq_index}.get(tier) or A.IVFSQIndex.build(
        emb, n_clusters=4, vec_col="embedding", id_col="vec_id"
    )
    qvecs = [_qvec(emb, 0), _qvec(emb, 1)]
    for qids in (["a"], ["a", "b", "c"]):
        with pytest.raises(ValueError, match="same length"):
            idx.search_batch(qids, qvecs, 3)


def test_hash_sample_empty_frame_raises_typed(spark, emb):
    """r11 (ADVICE): emptiness is a TYPED condition — the router's
    demote-to-FLAT catches ann.EmptyCorpusError, not a message
    substring (still a ValueError subclass for the golden-error
    contract)."""
    empty = emb.filter(F.lit(False))
    with pytest.raises(A.EmptyCorpusError, match="empty corpus frame"):
        A._hash_sample(empty, "embedding", "vec_id", 16)
    assert issubclass(A.EmptyCorpusError, ValueError)


def test_hash_sample_degenerate_hash_falls_back(spark):
    """A NON-empty frame whose ids all miss the modular hash filter is
    a sampling anomaly, not an empty corpus: the sampler falls back to
    the unfiltered collect instead of mis-raising EmptyCorpusError."""
    # find ids whose xxhash64 lands OUTSIDE the p=332 window that
    # sample_size=1 over 3 rows selects (p = max(1, 997*1//3) = 332)
    cand = spark.range(0, 400).select(
        F.col("id").alias("vec_id"),
        F.pmod(
            F.xxhash64(F.col("id").cast("string")), F.lit(997)
        ).alias("h"),
    )
    bad_ids = [
        r["vec_id"] for r in cand.filter(F.col("h") >= 332).head(3)
    ]
    assert len(bad_ids) == 3
    df = spark.createDataFrame(
        [(int(i), [float(i), 1.0]) for i in bad_ids],
        "vec_id long, embedding array<double>",
    )
    sample = A._hash_sample(df, "embedding", "vec_id", 1)
    assert sample.shape == (1, 2)


# ------------------------------- served index: stored or pinned cells


def _batch_rows(idx, qvecs, k=3, nprobe=2):
    out = idx.search_batch([str(i) for i in range(len(qvecs))], qvecs, k, nprobe=nprobe)
    return sorted((r["query_id"], r["id"], r["similarity"]) for r in out.collect())


@pytest.mark.parametrize("persist", [True, False], ids=["stored", "pinned"])
@pytest.mark.parametrize("kind", ["ivf", "ivf_sq", "ivf_pq"])
def test_built_index_is_a_snapshot_of_its_collection(spark, tmp_path, kind, persist):
    """``build_ann_index`` returns an index that serves from its own
    cells: an upsert and an id delete on the collection change neither
    its rows nor whether it can be read (a lazy index over the live
    table re-read rewritten files: FILE_NOT_EXIST)."""
    c, _pdir = _lifecycle_coll(spark, tmp_path, f"snap_{kind}_{persist}")
    idx = c.build_ann_index(n_clusters=4, kind=kind, persist=persist)
    qvecs = [c.embedding_func(t) for t in ("topic 1", "topic 3")]
    before = _batch_rows(idx, qvecs)
    assert len(before) == 6
    upsert = spark.createDataFrame(
        [
            (str(i), {"src": "new"}, c.embedding_func(f"doc {i} topic 1"), f"doc {i}")
            for i in (2, 40)
        ],
        "id string, metadata map<string,string>, embedding array<float>, content string",
    )
    c.add_df(upsert)
    c.delete(ids=[r[1] for r in before[:2]])
    assert c.count() == 32 + 1 - 2
    assert _batch_rows(idx, qvecs) == before


@pytest.mark.parametrize("persist", [True, False], ids=["stored", "pinned"])
def test_served_search_batch_plan_is_one_kernel_over_cells(
    spark, tmp_path, persist, open_cost
):
    """A served IVF batch is one Python kernel over the cell table — no
    per-search cluster assignment (MapInPandas) and no probe join; a
    stored index prunes the scan by ``cluster_id`` partition.  A small
    cell table runs the kernel in one partition, so the per-query
    window needs no shuffle; one that keeps several partitions (an
    open cost of one byte) shuffles once for it."""
    c, _pdir = _lifecycle_coll(spark, tmp_path, f"plan_{persist}")
    idx = c.build_ann_index(n_clusters=4, persist=persist)
    qvecs = [c.embedding_func(t) for t in ("topic 1", "topic 2")]
    for exchanges in (0, 1):
        if exchanges:
            open_cost(1)
        df = idx.search_batch(["a", "b"], qvecs, 3, nprobe=1)
        plan = df._jdf.queryExecution().executedPlan().toString()
        assert plan.count("MapInArrow") == 1
        assert "MapInPandas" not in plan and "Join" not in plan
        assert plan.count("Exchange hashpartitioning") == exchanges
    if persist:
        from chromem_go_spark.plans.explain import formatted_plan

        after = formatted_plan(df).split("PartitionFilters", 1)[1][:200]
        assert "cluster_id" in after


def test_small_stored_search_batch_runs_one_python_task(spark, tmp_path, python_tasks):
    """A stored index's cells span several files; a small batch over
    them still runs its kernel in one Python task."""
    c, _pdir = _lifecycle_coll(spark, tmp_path, "one_task")
    idx = c.build_ann_index(n_clusters=4)
    qvecs = [c.embedding_func(t) for t in ("topic 1", "topic 2", "topic 3")]
    assert idx.assigned.rdd.getNumPartitions() > 1
    df = idx.search_batch(["a", "b", "c"], qvecs, 3, nprobe=4)
    rows = []
    assert python_tasks(lambda: rows.extend(df.collect())) == 1
    assert len(rows) == 9


def test_search_batch_rows_do_not_depend_on_partitioning(index, open_cost, python_tasks):
    """The IVF batch over one partition (sized to its bytes) and over
    seven (an open cost of one byte keeps them all) gives the same
    rows."""
    from chromem_go_spark.materialize import materialize

    qvecs = [index.centroids[i].tolist() for i in range(4)]
    cells = materialize(index.assigned).repartition(7)
    wide = A.IVFIndex(index.centroids, cells, index.vec_col, index.id_col)

    def rows(tasks):
        got = []
        out = wide.search_batch(["a", "b", "c", "d"], qvecs, 10, nprobe=2)
        assert python_tasks(lambda: got.extend(out.collect())) == tasks
        return {(r["query_id"], r["vec_id"]): r["similarity"] for r in got}

    one = rows(1)
    open_cost(1)
    seven = rows(7)
    assert sorted(one) == sorted(seven) and len(one) == 40
    assert max(abs(one[key] - seven[key]) for key in one) <= 1e-12


def test_search_batch_keeps_each_query_in_its_own_cells(emb, index):
    """At nprobe=1, two queries that probe different cells get rows
    only from their own cell — the (query, cell) probe join's candidate
    set, not the union of probed cells."""
    qvecs = [index.centroids[0].tolist(), index.centroids[1].tolist()]
    assert [index.probe_clusters(q, 1) for q in qvecs] == [[0], [1]]
    cells = {
        r["vec_id"]: r["cluster_id"]
        for r in index.assigned.select("vec_id", "cluster_id").collect()
    }
    rows = index.search_batch(["a", "b"], qvecs, 5, nprobe=1).collect()
    assert len(rows) == 10
    for r in rows:
        assert cells[r["vec_id"]] == {"a": 0, "b": 1}[r["query_id"]]
    for qid, q in zip("ab", qvecs):
        single = [r["vec_id"] for r in index.search(q, 5, nprobe=1).collect()]
        got = sorted(
            (r for r in rows if r["query_id"] == qid),
            key=lambda r: (-r["similarity"], r["vec_id"]),
        )
        assert [r["vec_id"] for r in got] == single


def test_search_batch_full_probe_equals_knn_block(emb, index):
    """At nprobe = nlist the IVF batch scores every row with the same
    kernel as knn_block and returns its rows."""
    qids = [str(i) for i in range(4)]
    qvecs = [_qvec(emb, i) for i in range(4)]
    ivf = index.search_batch(qids, qvecs, 10, nprobe=len(index.centroids)).collect()
    flat = K.knn_block(emb, qids, qvecs, 10, vec_col="embedding", id_col="vec_id").collect()
    key = lambda rows: sorted((r["query_id"], r["vec_id"]) for r in rows)  # noqa: E731
    assert key(ivf) == key(flat)
    sims = {(r["query_id"], r["vec_id"]): r["similarity"] for r in flat}
    for r in ivf:
        assert abs(r["similarity"] - sims[(r["query_id"], r["vec_id"])]) <= 1e-12


def test_ivf_search_batch_keeps_ties_with_kth_score(spark):
    """The IVF batch shares knn_block's tie rule: duplicates that tie
    the k-th score inside one Arrow batch are all kept, and the final
    window settles the tie by id."""
    rows = [(i, [0.5, 0.5, 0.5, 0.5]) for i in range(11, 3, -1)]
    rows += [(i, [0.1 * (i + 1), 0.0, 0.0, 0.0]) for i in range(4)]
    df = spark.createDataFrame(rows, "vec_id long, embedding array<float>").coalesce(1)
    idx = A.IVFIndex.build(df, n_clusters=2, vec_col="embedding", id_col="vec_id").pin()
    out = idx.search_batch(["a"], [[1.0, 0.0, 0.0, 0.0]], 2, nprobe=2).collect()
    assert sorted(r["vec_id"] for r in out) == [4, 5]
