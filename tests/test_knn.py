import numpy as np
import pytest
from pyspark.sql import functions as F

from chromem_go_spark.operators import knn
from chromem_go_spark.functions import vector as V


@pytest.fixture(scope="module")
def emb(spark, sf_dir):
    return spark.read.parquet(f"{sf_dir}/embeddings.parquet")


@pytest.fixture(scope="module")
def emb_np(sf_dir):
    import pyarrow.parquet as pq

    t = pq.read_table(f"{sf_dir}/embeddings.parquet")
    ids = np.array(t.column("vec_id").to_pylist())
    mat = np.array(t.column("embedding").to_pylist(), dtype=np.float64)
    return ids, mat


def brute_topk(ids, mat, qv, k):
    qv = np.asarray(qv, dtype=np.float64)
    qv = qv / np.linalg.norm(qv)
    sims = mat @ qv
    order = np.lexsort((ids, -sims))[:k]
    return [(int(ids[i]), float(sims[i])) for i in order]


def test_knn_single_matches_numpy(emb, emb_np):
    ids, mat = emb_np
    qv = mat[0]
    expect = brute_topk(ids, mat, qv, 10)
    got = knn.knn_single(emb, list(qv), 10, vec_col="embedding", id_col="vec_id").select(
        "vec_id", "similarity"
    ).collect()
    assert [(r["vec_id"], pytest.approx(r["similarity"], abs=1e-9)) for r in got] == [
        (i, pytest.approx(s, abs=1e-9)) for i, s in expect
    ]
    assert got[0]["vec_id"] == 0  # self-similarity tops


def test_knn_expr_and_block_agree(spark, emb, emb_np):
    ids, mat = emb_np
    qids = [str(i) for i in range(4)]
    qvecs = mat[:4]
    queries = spark.createDataFrame(
        [(qids[j], [float(x) for x in qvecs[j]]) for j in range(4)],
        "query_id string, query_vec array<double>",
    )
    a = knn.knn_expr(emb, queries, 5, vec_col="embedding", id_col="vec_id")
    b = knn.knn_block(emb, qids, qvecs, 5, vec_col="embedding", id_col="vec_id")
    ra = sorted((r["query_id"], r["vec_id"]) for r in a.collect())
    rb = sorted((r["query_id"], r["vec_id"]) for r in b.collect())
    assert ra == rb
    for qid in qids:
        expect = sorted(i for i, _ in brute_topk(ids, mat, mat[int(qid)], 5))
        got = [i for q, i in rb if q == qid]
        assert got == expect


def test_knn_validation_errors(emb):
    with pytest.raises(ValueError, match="queryEmbedding is empty"):
        knn.knn_single(emb, [], 5)
    with pytest.raises(ValueError, match="nResults must be > 0"):
        knn.knn_single(emb, [1.0, 2.0], 0)


def test_negative_subtract_ranking():
    q = [1.0, 0.0]
    neg = [0.0, 1.0]
    out = knn.negative_subtract_query(q, neg)
    assert out == pytest.approx([0.70710678, -0.70710678], abs=1e-6)


def test_negative_filter(emb, emb_np):
    ids, mat = emb_np
    qv, neg = mat[0], mat[1]
    got = knn.knn_negative_filter(
        emb, list(qv), list(neg), 10, vec_col="embedding", id_col="vec_id"
    ).collect()
    # every surviving doc has sim(neg) <= 0.5
    neg_sims = mat @ (neg / np.linalg.norm(neg))
    keep = {int(i) for i, s in zip(ids, neg_sims) if s <= 0.5}
    assert all(r["vec_id"] in keep for r in got)
    assert len(got) == 10


def test_knn_block_float32_matches_float64_ids(spark):
    """On well-separated data the float32 kernel returns the same
    ids/ordering as the oracle-exact float64 mode; scores agree to
    ~1e-6 relative; unknown precision rejects."""
    import numpy as np
    import pytest as _pytest

    from chromem_go_spark.operators.knn import knn_block

    rng = np.random.default_rng(21)
    mat = rng.standard_normal((300, 64))
    mat /= np.linalg.norm(mat, axis=1, keepdims=True)
    df = spark.createDataFrame(
        [(i, v.astype(np.float32).tolist()) for i, v in enumerate(mat)],
        "id long, embedding array<float>",
    )
    qs = [mat[0].tolist(), mat[7].tolist()]
    r64 = knn_block(df, ["a", "b"], qs, 5, vec_col="embedding").collect()
    r32 = knn_block(df, ["a", "b"], qs, 5, vec_col="embedding", precision="float32").collect()
    assert [(r["query_id"], r["id"]) for r in r64] == [
        (r["query_id"], r["id"]) for r in r32
    ]
    for a, b in zip(r64, r32):
        assert abs(a["similarity"] - b["similarity"]) < 1e-5
    with _pytest.raises(ValueError, match="precision"):
        knn_block(df, ["a"], [qs[0]], 5, vec_col="embedding", precision="f16")


def test_knn_block_negative_matches_single_path(spark, sf_dir):
    """The GEMM kernel's in-batch negative filter == the single-query
    expression path (knn_negative_filter) per query — the two
    implementations of reference query.go:221-231 must agree."""
    from pyspark.sql import functions as F

    from chromem_go_spark.operators import knn as K

    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    qrows = (
        emb.filter(F.col("vec_id") < 4).select("vec_id", "embedding").collect()
    )
    neg = [
        float(x)
        for x in emb.filter(F.col("vec_id") == 9).head()["embedding"]
    ]
    out = K.knn_block(
        emb,
        [str(r["vec_id"]) for r in qrows],
        [list(r["embedding"]) for r in qrows],
        5,
        vec_col="embedding",
        id_col="vec_id",
        negative_vec=neg,
        negative_threshold=0.5,
    )
    got = {}
    for r in out.collect():
        got.setdefault(r["query_id"], set()).add(
            (r["vec_id"], round(r["similarity"], 6))
        )
    for qr in qrows:
        single = {
            (r["vec_id"], round(r["similarity"], 6))
            for r in K.knn_negative_filter(
                emb, list(qr["embedding"]), neg, 5,
                threshold=0.5, vec_col="embedding", id_col="vec_id",
            ).collect()
        }
        assert got[str(qr["vec_id"])] == single


def _tied_frame(spark):
    """One Arrow batch: eight exact duplicates (dot 0.5 with e1 — exact
    in any summation order) listed largest id first, then four lower
    rows.  An arbitrary per-batch cut through the tie keeps ids 11 and
    10 at k=2; a full join settles the tie by id: 4, 5."""
    rows = [(i, [0.5, 0.5, 0.5, 0.5]) for i in range(11, 3, -1)]
    rows += [(i, [0.1 * (i + 1), 0.0, 0.0, 0.0]) for i in range(4)]
    return spark.createDataFrame(rows, "id long, embedding array<float>").coalesce(1)


def _by_rank(rows, k):
    """(query_id, id, similarity) rows -> the k best per query by
    (similarity desc, id asc), the full join's tie rule."""
    out = {}
    for q, i, s in sorted(rows, key=lambda r: (r[0], -r[2], r[1])):
        out.setdefault(q, [])
        if len(out[q]) < k:
            out[q].append(i)
    return out


@pytest.mark.parametrize("k", [2, 3, 6])
def test_knn_block_keeps_ties_with_kth_score(spark, k):
    """A batch emits every row tied with a query's k-th score, so the
    final window breaks the tie by id exactly as a full join does."""
    df = _tied_frame(spark)
    qs = [[1.0, 0.0, 0.0, 0.0], [0.0, 1.0, 0.0, 0.0]]
    got = knn.knn_block(df, ["a", "b"], qs, k, vec_col="embedding").collect()
    full = knn.knn_expr(
        df,
        spark.createDataFrame(
            [("a", qs[0]), ("b", qs[1])], "query_id string, query_vec array<double>"
        ),
        k, vec_col="embedding",
    ).collect()
    key = lambda rows: _by_rank(  # noqa: E731
        [(r["query_id"], r["id"], r["similarity"]) for r in rows], k
    )
    assert len(got) == 2 * k
    assert key(got) == key(full)
    assert key(got)["a"] == list(range(4, 4 + k))


def _size(df) -> int:
    return int(df._jdf.queryExecution().optimizedPlan().stats().sizeInBytes())


@pytest.fixture(scope="module")
def emb_files(spark, emb, tmp_path_factory):
    """The embeddings as seven parquet files: a scan of several
    partitions with no shuffle in front of the kernel."""
    path = str(tmp_path_factory.mktemp("emb_files") / "emb.parquet")
    emb.repartition(7).write.parquet(path)
    df = spark.read.parquet(path)
    assert df.rdd.getNumPartitions() > 1
    return df


def test_fit_python_stage_keeps_a_frame_without_size_stats(spark):
    df = spark.createDataFrame(
        [(i, [float(i), 1.0]) for i in range(20)], "id long, embedding array<double>"
    )
    assert _size(df) == 2**63 - 1
    parts = df.rdd.getNumPartitions()
    assert parts > 1
    assert knn.fit_python_stage(df).rdd.getNumPartitions() == parts


def test_fit_python_stage_keeps_a_frame_above_its_byte_budget(emb, open_cost):
    """A frame holding more than ``openCostInBytes`` per partition keeps
    every partition: coalesce never adds tasks, and here removes none."""
    wide = emb.repartition(7)
    open_cost(_size(wide) // 8)  # ceil(size / cost) >= 8 > 7 partitions
    assert knn.fit_python_stage(wide).rdd.getNumPartitions() == 7


def test_small_knn_block_runs_one_python_task(emb_files, emb_np, python_tasks):
    """A small batch over a multi-file scan runs its kernel in one
    Python task, and the per-query window needs no shuffle after it
    (one task per scan partition and a shuffle before sizing)."""
    _ids, mat = emb_np
    out = knn.knn_block(
        emb_files, ["a", "b"], mat[:2], 5, vec_col="embedding", id_col="vec_id"
    )
    assert python_tasks(out.collect) == 1
    assert "Exchange" not in out._jdf.queryExecution().executedPlan().toString()


def test_knn_block_rows_do_not_depend_on_partitioning(
    emb, emb_np, open_cost, python_tasks
):
    """One partition (sized to its bytes) and seven (an open cost of one
    byte keeps them all) give the same ids and similarities."""
    _ids, mat = emb_np
    qids = [str(i) for i in range(6)]

    def rows(tasks):
        out = knn.knn_block(
            emb.repartition(7), qids, mat[:6], 10, vec_col="embedding", id_col="vec_id"
        )
        got = []
        assert python_tasks(lambda: got.extend(out.collect())) == tasks
        return {(r["query_id"], r["vec_id"]): r["similarity"] for r in got}

    one = rows(1)
    open_cost(1)
    seven = rows(7)
    assert sorted(one) == sorted(seven) and len(one) == 60
    assert max(abs(one[key] - seven[key]) for key in one) <= 1e-12
