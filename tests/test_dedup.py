import numpy as np
import pytest
from pyspark.sql import functions as F

from chromem_go_spark.operators import dedup as D
from chromem_go_spark.streaming import ingest as S


@pytest.fixture(scope="module")
def docs(spark):
    base = "the quick brown fox jumps over the lazy dog again and again"
    return spark.createDataFrame(
        [
            (1, base),
            (2, base),  # exact dup of 1 (modulo nothing)
            (3, base.replace("lazy", "sleepy")),  # near dup
            (4, "completely different content about spark engines and parquet files"),
            (5, "THE  Quick Brown   fox jumps over the lazy dog again and again"),  # normalized dup
        ],
        "doc_id long, text string",
    )


def test_exact_dedup(docs):
    out = {r["doc_id"]: r["dup_count"] for r in D.exact_dedup(docs).collect()}
    # 1, 2, 5 collapse (normalized); survivors keyed by min id
    assert out[1] == 3
    assert out[3] == 1
    assert out[4] == 1
    assert set(out) == {1, 3, 4}


def test_shingle_table_per_doc_distinct_no_shuffle(docs):
    """r14: shingle_table dedups per doc with row-local array_distinct —
    the row set must equal the old exploded-stream .distinct() (the
    pairs are globally distinct iff per-doc distinct) and the plan must
    carry ZERO exchanges (the old shape shuffled the whole exploded
    string stream)."""
    from chromem_go_spark.functions import text as T
    from chromem_go_spark.plans.explain import plan_flags

    out = D.shingle_table(docs, k=5)
    assert plan_flags(out)["n_exchanges"] == 0

    normed = docs.select("doc_id", T.normalized_text("text").alias("__t"))
    sh = F.when(
        F.length("__t") < 5, F.array().cast("array<string>")
    ).otherwise(
        F.transform(
            F.sequence(F.lit(1), F.length("__t") - F.lit(4)),
            lambda i: F.col("__t").substr(i, F.lit(5)),
        )
    )
    old = normed.select("doc_id", F.explode(sh).alias("shingle")).distinct()
    assert out.exceptAll(old).count() == 0
    assert old.exceptAll(out).count() == 0
    # the fixture really exercises the dedup: docs repeat shingles
    # in-row ("again and again") and across docs (1, 2, 5 normalize
    # identically)
    raw = normed.select("doc_id", F.explode(sh).alias("shingle"))
    assert out.count() < raw.count()


def test_ngram_jaccard_pairs(docs):
    pairs = {(r["id_a"], r["id_b"]): r["jaccard"] for r in D.ngram_jaccard_pairs(docs, 0.5).collect()}
    assert pairs[(1, 2)] == pytest.approx(1.0)
    assert pairs[(1, 5)] == pytest.approx(1.0)
    assert (1, 3) in pairs and pairs[(1, 3)] < 1.0
    assert not any(4 in p for p in pairs)


def test_minhash_lsh_finds_near_dups(docs):
    got = {(r["id_a"], r["id_b"]) for r in D.minhash_lsh_pairs(docs, threshold=0.5).collect()}
    assert (1, 2) in got
    assert (1, 5) in got
    assert (1, 3) in got
    assert not any(4 in p for p in got)


def test_simhash_pairs(docs):
    sh = {r["doc_id"]: r["simhash"] for r in D.simhash(docs).collect()}
    assert sh[1] == sh[2]
    got = {(r["id_a"], r["id_b"]): r["hamming"] for r in D.simhash_pairs(docs, max_hamming=6).collect()}
    assert got[(1, 2)] == 0
    assert got[(1, 5)] == 0  # same tokens after lowering
    assert not any(4 in p for p in got)


@pytest.fixture(scope="module")
def vecs(spark):
    rng = np.random.default_rng(7)
    rows = []
    base = rng.standard_normal(16)
    for i in range(20):
        v = rng.standard_normal(16)
        rows.append((i, [float(x) for x in v / np.linalg.norm(v)]))
    # 100 and 101: near-identical pair
    b = base / np.linalg.norm(base)
    rows.append((100, [float(x) for x in b]))
    jit = base + 0.01 * rng.standard_normal(16)
    jit = jit / np.linalg.norm(jit)
    rows.append((101, [float(x) for x in jit]))
    return spark.createDataFrame(rows, "vec_id long, embedding array<float>")


def test_embedding_neardup_exact(vecs):
    got = {(r["id_a"], r["id_b"]) for r in D.embedding_neardup_pairs(vecs, 0.95).collect()}
    assert got == {(100, 101)}


def test_embedding_neardup_lsh(vecs):
    got = {(r["id_a"], r["id_b"]) for r in D.embedding_neardup_pairs_lsh(vecs, 0.95, dim=16).collect()}
    assert (100, 101) in got


def test_ngram_jaccard_exact_vs_bruteforce(spark):
    """PPJoin-style prefix filtering must be EXACT — verified against a
    per-pair brute-force Jaccard, including asymmetric doc sizes (the
    case where a wrong suffix bound silently drops true pairs)."""
    import itertools
    import random

    from chromem_go_spark.operators import dedup as D

    rnd = random.Random(7)
    words = [f"w{i:03d}" for i in range(40)]
    docs = []
    for i in range(30):
        # sizes vary 6..60 words; heavy shared vocabulary -> many
        # mid-similarity pairs around the threshold
        n = rnd.choice([6, 10, 20, 40, 60])
        docs.append((i, " ".join(rnd.choice(words) for _ in range(n))))
    # plus exact containment pairs (subset-of relationships, the
    # asymmetric-size stress case)
    base = " ".join(rnd.choice(words) for _ in range(24))
    docs.append((100, base))
    docs.append((101, base + " " + " ".join(rnd.choice(words) for _ in range(24))))
    df = spark.createDataFrame(docs, "doc_id long, text string")

    def shingles(t, k=5):
        t = " ".join(t.lower().split())
        return {t[i : i + k] for i in range(len(t) - k + 1)} if len(t) >= k else set()

    sh = {i: shingles(t) for i, t in docs}
    for thr in (0.3, 0.5, 0.8):
        expected = set()
        for (ia, ta), (ib, tb) in itertools.combinations(docs, 2):
            A, B = sh[ia], sh[ib]
            if not A or not B:
                continue
            j = len(A & B) / len(A | B)
            if j >= thr:
                expected.add((min(ia, ib), max(ia, ib), round(j, 6)))
        got = {
            (r["id_a"], r["id_b"], round(r["jaccard"], 6))
            for r in D.ngram_jaccard_pairs(df, threshold=thr, k=5).collect()
        }
        assert got == expected, f"threshold {thr}: {got ^ expected}"


def test_ngram_jaccard_asym_direction_and_boundary(spark):
    """r15 asymmetric (probe/index) prefixes: pair direction is
    (sz, id)-lexicographic, so EQUAL-size docs ride the id tiebreak and
    a doc exactly 1/t times larger sits on the length-filter boundary
    (jaccard == t for a subset pair) — both must survive, and output
    stays id-canonical (id_a < id_b). Verified against brute force."""
    import itertools

    # equal-size identical pair (10, 11); boundary subset pair (20, 21)
    # with |B| = 2|A| and A ⊂ B so jaccard == 0.5 exactly; a decoy far
    # below threshold; ids deliberately ordered AGAINST size once
    # (id 31 smaller than id 30) to exercise the canonical re-emit.
    a = "abcdefghijklmnopqrstuvwxyz0123"
    b = a + "ABCDEFGHIJKLMNOPQRSTUVWXYZ!@#$"  # disjoint extra shingles
    docs = [
        (10, a),
        (11, a),
        (20, a),
        (21, b),
        (30, a[:12]),  # small
        (31, b),       # large with SMALLER-than-30? no: id 31 > 30; pair (30,31) below threshold anyway
        (40, "zzzz1zzzz2zzzz3zzzz4zzzz5zzzz6"),
    ]
    df = spark.createDataFrame(docs, "doc_id long, text string")

    def shingles(t, k=5):
        t = " ".join(t.lower().split())
        return {t[i:i + k] for i in range(len(t) - k + 1)} if len(t) >= k else set()

    sh = {i: shingles(t) for i, t in docs}
    expected = set()
    for (ia, _), (ib, _) in itertools.combinations(docs, 2):
        A, B = sh[ia], sh[ib]
        if not A or not B:
            continue
        j = len(A & B) / len(A | B)
        if j >= 0.5:
            expected.add((min(ia, ib), max(ia, ib), round(j, 6)))
    rows = D.ngram_jaccard_pairs(df, threshold=0.5, k=5).collect()
    got = {(r["id_a"], r["id_b"], round(r["jaccard"], 6)) for r in rows}
    assert got == expected, got ^ expected
    # asymmetric-size superset pair survives; canonical orientation holds
    assert all(r["id_a"] < r["id_b"] for r in rows)
    assert any(p[:2] == (20, 21) for p in got)
    # equal-size identical pair rode the id tiebreak
    assert any(p[:2] == (10, 11) for p in got)


def test_spread_is_scale_adaptive(spark):
    """_spread repartitions only below the default parallelism: a
    1-partition frame is spread to defaultParallelism; a frame already
    at/above it is returned untouched (the at-scale no-op)."""
    par = spark.sparkContext.defaultParallelism
    one = spark.range(100).coalesce(1)
    assert D._spread(one).rdd.getNumPartitions() == par
    wide = spark.range(1000).repartition(par + 2)
    assert D._spread(wide) is wide


def test_materialize_lazy_matches_eager(spark):
    """materialize(eager=False) defers computation but yields the same
    rows and the same plan boundary as the eager form."""
    from chromem_go_spark.materialize import materialize

    df = spark.range(50).withColumn("x", F.col("id") * 2)
    lazy = materialize(df, eager=False)
    eager = materialize(df)
    assert sorted(lazy.collect()) == sorted(eager.collect())
    assert "LogicalRDD" in lazy._jdf.queryExecution().optimizedPlan().toString()


_CC = pytest.mark.parametrize(
    "cc", [D.connected_components, D.connected_components_star],
    ids=["label", "star"],
)
# one partition takes the union-find kernel, four the distributed loop
_PARTS = pytest.mark.parametrize("parts", [1, 4], ids=["kernel", "loop"])


def _edge_frame(spark, rows, parts, schema="id_a long, id_b long"):
    df = spark.createDataFrame(rows, schema)
    return df.coalesce(1) if parts == 1 else df.repartition(parts)


def _unionfind_oracle(es):
    """{node: min node of its component} over the edge list ``es``; a
    null endpoint adds no edge, and the other endpoint is still a node."""
    parent = {}

    def find(x):
        parent.setdefault(x, x)
        while parent[x] != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        return x

    for a, b in es:
        if a is None or b is None:
            continue
        ra, rb = find(a), find(b)
        if ra != rb:
            parent[max(ra, rb)] = min(ra, rb)
    return {x: find(x) for e in es for x in e if x is not None}


@_PARTS
@_CC
def test_connected_components_crafted_graph(spark, cc, parts):
    """Chain, triangle, isolated pair — both paths must find the exact
    components (chain diameter forces multiple label iterations)."""
    edges = _edge_frame(
        spark,
        # chain 1-2-3-4-5, triangle 10-11-12, pair 20-21
        [(1, 2), (2, 3), (3, 4), (4, 5), (10, 11), (11, 12), (10, 12), (20, 21)],
        parts,
    )
    got = {r["node"]: r["component"] for r in cc(edges).collect()}
    assert got == {
        1: 1, 2: 1, 3: 1, 4: 1, 5: 1,
        10: 10, 11: 10, 12: 10,
        20: 20, 21: 20,
    }


_BIG = 1 << 62


@_CC
@pytest.mark.parametrize(
    "rows, schema",
    [
        ([("b", "a"), ("c", "b"), ("é", "z"), ("Z", "é"), ("x", "y"), ("w", None)],
         "id_a string, id_b string"),
        ([(-5, _BIG - 1), (_BIG - 1, _BIG - 3), (-(_BIG), 7), (7, 0), (_BIG - 2, _BIG - 4)],
         "id_a long, id_b long"),
        ([(3, 3), (1, 2), (2, 1), (1, 2), (4, 4), (5, 6), (6, 5), (6, 6), (None, 9)],
         "id_a long, id_b long"),
    ],
    ids=["strings", "extreme_ids", "loops_and_duplicates"],
)
def test_connected_components_kernel_matches_loop(spark, cc, rows, schema):
    """The one-partition kernel's rows equal the loop's, both ways, and
    a union-find oracle's: string keys (code-point order) with a null
    endpoint, negative ids and ids near 2^62, self-loops and duplicate
    edges."""
    kernel = cc(_edge_frame(spark, rows, 1, schema))
    loop = cc(_edge_frame(spark, rows, 4, schema))
    assert kernel.exceptAll(loop).count() == 0
    assert loop.exceptAll(kernel).count() == 0
    assert {r["node"]: r["component"] for r in kernel.collect()} == _unionfind_oracle(rows)


@_CC
def test_connected_components_kernel_null_endpoint(spark, cc):
    """A row with one null endpoint makes its other endpoint a node but
    adds no edge; a null node is never emitted."""
    rows = [(1, 2), (3, None), (None, 2), (None, None)]
    got = cc(_edge_frame(spark, rows, 1)).collect()
    assert sorted((r["node"], r["component"]) for r in got) == [(1, 1), (2, 1), (3, 3)]


@_CC
@pytest.mark.parametrize("order", ["ascending", "descending", "shuffled"])
def test_connected_components_kernel_chain(spark, cc, order):
    """A 1,024-node chain is one component on the kernel path whatever
    the order of its ids along the chain and of its edge rows."""
    import random

    ids = list(range(1024))
    if order == "descending":
        ids.reverse()
    elif order == "shuffled":
        random.Random(5).shuffle(ids)
    rows = list(zip(ids, ids[1:]))
    got = {r["node"]: r["component"] for r in cc(_edge_frame(spark, rows, 1)).collect()}
    assert got == {i: 0 for i in ids}


@_CC
def test_connected_components_kernel_many_arrow_batches(spark, cc):
    """The kernel joins every Arrow batch of its partition into one
    graph (two rows per batch here)."""
    key = "spark.sql.execution.arrow.maxRecordsPerBatch"
    old = spark.conf.get(key)
    spark.conf.set(key, "2")
    try:
        rows = [(1, 2), (30, 31), (2, 3), (31, 40), (3, 30), (50, 51), (51, 52)]
        got = {r["node"]: r["component"] for r in cc(_edge_frame(spark, rows, 1)).collect()}
    finally:
        spark.conf.set(key, old)
    assert got == _unionfind_oracle(rows)
    assert set(got.values()) == {1, 50}


def test_union_find_kernel_on_arrow_batches():
    """The kernel itself: several batches, a null endpoint, and no rows
    for a partition without batches or without a non-null key."""
    import pyarrow as pa

    def run(*pairs):
        batches = [
            pa.RecordBatch.from_arrays(
                [pa.array([a], pa.int64()), pa.array([b], pa.int64())], names=["a", "b"]
            )
            for a, b in pairs
        ]
        out = pa.Table.from_batches(list(D._union_find()(iter(batches))),
                                    schema=pa.schema([("node", pa.int64()), ("component", pa.int64())]))
        return sorted(zip(*(c.to_pylist() for c in out.columns)))

    assert run((9, 4), (4, None), (7, 8), (8, 9)) == [(4, 4), (7, 4), (8, 4), (9, 4)]
    assert run() == []
    assert run((None, None)) == []


def test_dedup_clusters_representatives(spark):
    """Exact duplicates + a unique doc: dups share the min-id rep, the
    unique doc represents itself."""
    from chromem_go_spark.operators.dedup import dedup_clusters

    base = "the quick brown fox jumps over the lazy dog " * 3
    df = spark.createDataFrame(
        [(1, base), (2, base), (5, base + " extra tail"), (9, "完全 another unrelated text entirely different")],
        "doc_id long, text string",
    )
    got = {r["doc_id"]: r["cluster_rep"] for r in dedup_clusters(df, threshold=0.5).collect()}
    assert got[1] == 1 and got[2] == 1
    assert got[5] == 1  # high-overlap near-dup joins the cluster
    assert got[9] == 9


# ---------------------------------------------------------- simhash vs NumPy


def _numpy_simhash(hashes: list[int], bits: int) -> int:
    """Reference simhash: per-bit +1/-1 votes over token hashes (with
    multiplicity), sign-threshold. Pure Python/NumPy, no Spark."""
    votes = np.zeros(bits, dtype=np.int64)
    for h in hashes:
        for b in range(bits):
            votes[b] += 1 if (h >> b) & 1 else -1
    fp = 0
    for b in range(bits):
        if votes[b] > 0:
            fp |= 1 << b
    return fp


def _md5_60(tok: str) -> int:
    import hashlib

    return int(hashlib.md5(tok.encode("utf-8")).hexdigest()[:15], 16)


def _word_tokens(text: str) -> list[str]:
    import re

    return re.findall(r"[a-z]+|[0-9]+|[^a-z0-9\s]", text.lower())


TEXTS = [
    (1, "The quick brown fox, jumps! Over the lazy dog 42 times."),
    (2, "the quick brown fox jumps over the lazy dog 42 times"),
    (3, "Völlig anderer Text: über Umlaute & Zeichen — 7% der Fälle."),
    (4, "x"),
    (5, "repeat repeat repeat repeat unique"),
]


def test_simhash_md5_matches_numpy(spark):
    """The portable (md5_60, 60-bit) fingerprint is bit-identical to an
    independent NumPy/hashlib implementation — pins tokenization, the
    hash, vote weighting by multiplicity, and the sign threshold."""
    df = spark.createDataFrame(TEXTS, "doc_id long, text string")
    got = {
        r["doc_id"]: r["simhash"]
        for r in D.simhash(df, bits=60, token_hash="md5_60").collect()
    }
    for doc_id, text in TEXTS:
        expect = _numpy_simhash([_md5_60(t) for t in _word_tokens(text)], 60)
        assert got[doc_id] == expect, f"doc {doc_id}"


def test_simhash_64bit_sign_bit_is_real(spark):
    """bits=64 fingerprints use the FULL width: bit 63 set -> negative
    long, matching a NumPy reference fed the same xxhash64 token hashes
    (signed two's-complement wrap)."""
    df = spark.createDataFrame(TEXTS, "doc_id long, text string")
    # Extract the exact token hashes Spark uses (xxhash64 has no Python
    # twin), then replay votes/threshold in NumPy.
    toks = (
        df.select("doc_id", F.explode(D.T.word_tokens("text")).alias("tok"))
        .withColumn("h", F.xxhash64("tok"))
        .collect()
    )
    by_doc: dict[int, list[int]] = {}
    for r in toks:
        by_doc.setdefault(r["doc_id"], []).append(r["h"] & 0xFFFFFFFFFFFFFFFF)
    got = {r["doc_id"]: r["simhash"] for r in D.simhash(df, bits=64).collect()}
    saw_negative = False
    for doc_id, hashes in by_doc.items():
        fp = _numpy_simhash(hashes, 64)
        if fp >= 1 << 63:
            fp -= 1 << 64  # two's complement: Spark longs are signed
        saw_negative = saw_negative or fp < 0
        assert got[doc_id] == fp, f"doc {doc_id}"
    # the fixture is chosen so at least one fingerprint exercises bit 63
    assert saw_negative, "fixture never set the sign bit — weaken of the test"


def test_simhash_pairs_matches_numpy_bruteforce(spark):
    """Chunked candidate generation is exact: pairs(hamming<=h) equals a
    NumPy all-pairs scan, for a threshold above 3 (5 chunks) too."""
    df = spark.createDataFrame(TEXTS, "doc_id long, text string")
    fps = {
        doc_id: _numpy_simhash([_md5_60(t) for t in _word_tokens(text)], 60)
        for doc_id, text in TEXTS
    }
    for h in (3, 6):
        expect = {
            (a, b): bin(fps[a] ^ fps[b]).count("1")
            for a in fps
            for b in fps
            if a < b and bin(fps[a] ^ fps[b]).count("1") <= h
        }
        got = {
            (r["id_a"], r["id_b"]): r["hamming"]
            for r in D.simhash_pairs(
                df, max_hamming=h, bits=60, token_hash="md5_60"
            ).collect()
        }
        assert got == expect, f"max_hamming={h}"


# ----------------------------------------------------- minhash vs NumPy


def _minhash_replay(hs, num_hashes: int = 64, seed: int = 42) -> list[int]:
    """NumPy replay of one doc's MinHash lanes: min((a*(x mod p) + b)
    mod p) over its shingle hashes, the coefficients drawn from
    random.Random(seed)."""
    import random

    rnd = random.Random(seed)
    p = (1 << 31) - 1
    a, b = np.array(
        [(rnd.randrange(1, p), rnd.randrange(0, p)) for _ in range(num_hashes)],
        dtype=np.int64,
    ).T
    x = np.mod(np.array(hs, dtype=np.int64), p)
    return [int(np.min((ai * x + bi) % p)) for ai, bi in zip(a, b)]


def _mixed_hashes(n: int, salt: int) -> list[int]:
    """``n`` int64 hashes spread over the whole range, about half of
    them negative: a multiplicative hash of a counter."""
    x = (np.arange(n, dtype=np.uint64) + np.uint64(salt << 32)) * np.uint64(
        0x9E3779B97F4A7C15
    )
    return (x ^ (x >> np.uint64(29))).view(np.int64).tolist()


# (key, hash count) of the edge-case table: short docs, one doc whose
# 64 lanes cross the kernel's element budget, an empty and a null array
_EDGE_DOCS = [
    ("a", 1), ("b", 7), ("c", 40), ("d", 300), ("long", 70_000),
    ("empty", 0), ("null", None),
]
# _lsh_buckets(edge, "__key", num_hashes=16, bands=4, seed=42): band
# buckets 0..3 per key, recorded from the array_min(transform(...))
# SQL lanes the kernel replaced
_EDGE_BUCKETS = {
    "a": (8520754706577706424, -6717205107514909229, -2323384731105379549,
          -8033939439277438719),
    "b": (-566239603829459185, -7148103535143584780, 2001008217805658240,
          4240139939781359122),
    "c": (3027920419309892127, 2850125232939719204, 6101391706907452142,
          -8905346894072303702),
    "d": (3811731329294951083, -6361776536587085909, 5105610281807176770,
          -5402538293601246575),
    "long": (2358887813512051188, 1949054281596411007, 1324148308325731594,
             1022182381905163525),
}


def test_minhash_signatures_match_numpy(spark, open_cost, python_tasks):
    """One signature path: lanes built from the text and from
    caller-held hash arrays are equal, and both equal a NumPy replay
    over each doc's shingle hashes.  A doc shorter than k or with null
    text gets no row.  Edge cases of the lane kernel: string keys (the
    cross-corpus ``__key``), negative hashes, a doc whose lanes cross
    the kernel's element budget, empty and null arrays, several Arrow
    batches in each of several partitions; the band buckets equal the
    SQL lanes' recorded ones."""
    import pyarrow as pa

    from chromem_go_spark.materialize import materialize

    df = spark.createDataFrame(TEXTS + [(6, None)], "doc_id long, text string")
    arrs = materialize(D._hashed_shingle_arrays(df, "text", "doc_id", 5))
    lanes = [f"mh_{i}" for i in range(64)]
    sigs = [D.minhash_signatures(df), D.minhash_signatures(df, hash_arrays=arrs)]
    assert all(s.columns == ["doc_id", *lanes] for s in sigs)
    plain, held = (
        {r["doc_id"]: [r[c] for c in lanes] for r in s.collect()} for s in sigs
    )
    assert plain == held
    expect = {r["doc_id"]: _minhash_replay(r["hs"]) for r in arrs.collect() if r["hs"]}
    assert set(expect) == {1, 2, 3, 5}
    assert plain == expect

    hs = {
        key: None if n is None else _mixed_hashes(n, i + 1)
        for i, (key, n) in enumerate(_EDGE_DOCS)
    }
    assert 64 * len(hs["long"]) > D._LANE_BUDGET
    assert min(hs["d"]) < 0
    edge = spark.createDataFrame(pa.table({
        "__key": pa.array(list(hs), pa.string()),
        "hs": pa.array(list(hs.values()), pa.list_(pa.int64())),
    })).repartition(2)
    open_cost(1)  # keep both partitions: no coalesce to one task
    batch = "spark.sql.execution.arrow.maxRecordsPerBatch"
    old = spark.conf.get(batch)
    spark.conf.set(batch, "2")
    try:
        sig = D.minhash_signatures(edge, id_col="__key", hash_arrays=edge)
        got = []
        assert python_tasks(lambda: got.extend(sig.collect())) == 2
        buckets = D._lsh_buckets(edge, "__key", 16, 4, 42).collect()
    finally:
        spark.conf.set(batch, old)
    assert {r["__key"]: [r[c] for c in lanes] for r in got} == {
        key: _minhash_replay(h) for key, h in hs.items() if h
    }
    assert {(r["__key"], r["band"], r["bucket"]) for r in buckets} == {
        (key, band, bucket)
        for key, row in _EDGE_BUCKETS.items()
        for band, bucket in enumerate(row)
    }


def test_minhash_lane_kernel_reads_sliced_arrow_lists():
    """The lane kernel reads a sliced list array (non-zero offset) and
    drops a null row even when its offsets span values."""
    import pyarrow as pa

    hs = [_mixed_hashes(n, i + 1) for i, n in enumerate([3, 0, 50, 20_000, 1, 5])]
    offsets = np.concatenate(([0], np.cumsum([len(h) for h in hs]))).astype(np.int32)
    lists = pa.ListArray.from_arrays(
        pa.array(offsets),
        pa.array(np.concatenate([np.array(h, dtype=np.int64) for h in hs])),
        mask=pa.array([False, False, True, False, False, False]),
    )
    batch = pa.RecordBatch.from_arrays(
        [pa.array(list("abcdef")), lists], names=["k", "hs"]
    ).slice(1, 5)
    out = pa.Table.from_batches(list(D._minhash_lanes("k", 64, 42)(iter([batch]))))
    assert {
        r["k"]: [r[f"mh_{i}"] for i in range(64)] for r in out.to_pylist()
    } == {k: _minhash_replay(hs[i]) for i, k in enumerate("abcdef") if k in "def"}


def test_reliable_checkpointing_identical_output(spark, docs, tmp_path):
    """Cluster mode: with reliable checkpoints enabled (fault-tolerant
    df.checkpoint into a shared dir), every lineage-cutting operator
    produces identical output to the localCheckpoint default."""
    from chromem_go_spark.materialize import (
        disable_reliable_checkpoints,
        enable_reliable_checkpoints,
        reliable_checkpoint_dir,
    )

    expect_pairs = {
        (r["id_a"], r["id_b"], round(r["jaccard"], 6))
        for r in D.ngram_jaccard_pairs(docs, 0.5).collect()
    }
    expect_comp = {
        r["node"]: r["component"]
        for r in D.connected_components(
            D.ngram_jaccard_pairs(docs, 0.5), "id_a", "id_b"
        ).collect()
    }
    enable_reliable_checkpoints(spark, str(tmp_path / "ckpt"))
    try:
        assert reliable_checkpoint_dir() is not None
        got_pairs = {
            (r["id_a"], r["id_b"], round(r["jaccard"], 6))
            for r in D.ngram_jaccard_pairs(docs, 0.5).collect()
        }
        got_comp = {
            r["node"]: r["component"]
            for r in D.connected_components(
                D.ngram_jaccard_pairs(docs, 0.5), "id_a", "id_b"
            ).collect()
        }
    finally:
        disable_reliable_checkpoints()
    assert got_pairs == expect_pairs
    assert got_comp == expect_comp
    # the reliable dir was actually used
    import os

    assert any(os.scandir(str(tmp_path / "ckpt")))


def test_connected_components_star_chain(spark):
    """Adversarial diameter: a 1024-node chain is ONE component. Plain
    label propagation needs ~1024 rounds; large-star/small-star must
    finish in O(log n) — assert <= 2*log2(n) alternation rounds and the
    exact component labeling."""
    n = 1024
    edges = spark.createDataFrame(
        [(i, i + 1) for i in range(n - 1)], "id_a long, id_b long"
    )
    rounds = []
    got = {
        r["node"]: r["component"]
        for r in D.connected_components_star(edges, rounds_out=rounds).collect()
    }
    assert got == {i: 0 for i in range(n)}
    assert rounds[0] <= 20, f"took {rounds[0]} rounds"


@_PARTS
@_CC
def test_connected_components_star_matches_unionfind(spark, cc, parts):
    """Random graph vs a Python union-find oracle."""
    import random

    rnd = random.Random(11)
    n = 200
    es = {(rnd.randrange(n), rnd.randrange(n)) for _ in range(150)}
    es = [(a, b) for a, b in es if a != b]
    got = {
        r["node"]: r["component"]
        for r in cc(_edge_frame(spark, es, parts)).collect()
    }
    assert got == _unionfind_oracle(es)


def test_word_ngram_jaccard_pairs(spark):
    """Word-shingle variant: rearranged words break word-grams but barely
    change char-grams — the two units disagree exactly where they
    should."""
    a = "the quick brown fox jumps over the lazy dog again and again today"
    df = spark.createDataFrame(
        [
            (1, a),
            (2, a),  # identical -> word-gram jaccard 1.0
            (3, a.replace("lazy dog", "dog lazy")),  # local reorder
            (4, "totally different words entirely unrelated content here now"),
        ],
        "doc_id long, text string",
    )
    pairs = {
        (r["id_a"], r["id_b"]): r["jaccard"]
        for r in D.ngram_jaccard_pairs(df, 0.4, k=3, unit="word").collect()
    }
    assert pairs[(1, 2)] == pytest.approx(1.0)
    assert (1, 3) in pairs and pairs[(1, 3)] < 1.0
    assert not any(4 in p for p in pairs)
    # brute-force verification of the word-gram sets
    def wgrams(text, n=3):
        import re
        toks = re.findall(r"[a-z]+|[0-9]+|[^a-z0-9\s]", text.lower())
        return {" ".join(toks[i : i + n]) for i in range(len(toks) - n + 1)}
    g1, g3 = wgrams(a), wgrams(a.replace("lazy dog", "dog lazy"))
    expect13 = len(g1 & g3) / len(g1 | g3)
    assert pairs[(1, 3)] == pytest.approx(expect13, abs=1e-9)


def test_connected_components_star_bounded_rounds_unique_rows(spark):
    """Exhausting max_iter before convergence must still yield exactly
    one (node, component) row per node (labels may be non-minimal, but
    never duplicated/conflicting)."""
    n = 64
    edges = spark.createDataFrame(
        [(i, i + 1) for i in range(n - 1)], "id_a long, id_b long"
    )
    out = D.connected_components_star(edges, max_iter=1).collect()
    nodes = [r["node"] for r in out]
    assert len(nodes) == len(set(nodes)) == n


# ------------------------- exact substring (duplicated-span) dedup


@pytest.fixture(scope="module")
def span_docs(spark):
    shared = "alpha beta gamma delta epsilon zeta"  # 6 tokens
    return spark.createDataFrame(
        [
            (1, f"one two {shared} three four"),
            (2, f"{shared} five six seven eight nine"),
            (3, "ten eleven twelve thirteen fourteen fifteen sixteen"),
            (4, "short text"),  # shorter than any window
            (5, f"{shared} {shared} tail"),  # repeats the run twice itself
        ],
        "doc_id long, text string",
    )


def test_duplicate_spans_finds_cross_doc_runs(span_docs):
    out = D.duplicate_spans(span_docs, width=6).collect()
    # the shared 6-token run occurs at: doc1 start 3, doc2 start 1,
    # doc5 starts 1 and 7
    occ = {(r["doc_id"], r["start"]) for r in out}
    assert {(1, 3), (2, 1), (5, 1), (5, 7)} <= occ
    by_h = {}
    for r in out:
        by_h.setdefault(r["h"], set()).add((r["doc_id"], r["start"]))
    shared_h = [h for h, o in by_h.items() if (1, 3) in o][0]
    row = next(r for r in out if r["h"] == shared_h)
    assert row["n_docs"] == 3 and row["n_occ"] == 4
    assert not any(r["doc_id"] in (3, 4) for r in out)


def test_duplicate_spans_stride_keeps_long_runs(span_docs):
    # stride 3 < width guarantees any duplicated run of width+stride-1
    # tokens is still caught; the exact 6-token run at aligned starts
    # still collides here (starts 1/7 are both ≡1 mod 3... start 3 is not,
    # so with stride 3 only the stride-aligned occurrences survive).
    out = D.duplicate_spans(span_docs, width=6, stride=3).collect()
    occ = {(r["doc_id"], r["start"]) for r in out}
    assert (2, 1) in occ and (5, 1) in occ and (5, 7) in occ


def test_strip_duplicate_spans_keeps_one_occurrence(span_docs):
    out = {r["doc_id"]: r for r in D.strip_duplicate_spans(span_docs, width=6).collect()}
    # keeper is smallest (doc_id, start) -> doc 1 keeps its copy
    assert out[1]["text_clean"] == "one two alpha beta gamma delta epsilon zeta three four"
    assert out[1]["n_removed"] == 0
    # doc 2 loses exactly the 6 shared tokens
    assert out[2]["text_clean"] == "five six seven eight nine"
    assert out[2]["n_removed"] == 6
    # doc 5: spans at 1..6 and 7..12 (and the straddling windows between
    # them are unique so only the two duplicated runs are covered)
    assert out[5]["text_clean"] == "tail"
    assert out[5]["n_removed"] == 12
    # untouched docs come through verbatim (normalized join)
    assert out[3]["text_clean"].startswith("ten eleven")
    assert out[3]["n_removed"] == 0
    assert out[4]["text_clean"] == "short text"
    assert set(out) == {1, 2, 3, 4, 5}


def test_strip_duplicate_spans_overlap_union(spark):
    # two overlapping duplicated windows in the same doc: covered
    # positions are the UNION, not double-counted
    a = "p q r s t u v w"          # 8 tokens; windows of 6: starts 1,2,3
    df = spark.createDataFrame(
        [(1, a), (2, a), (3, "x y z")], "doc_id long, text string"
    )
    out = {r["doc_id"]: r for r in D.strip_duplicate_spans(df, width=6).collect()}
    assert out[1]["n_removed"] == 0
    assert out[2]["text_clean"] == ""
    assert out[2]["n_removed"] == 8
    assert out[3]["n_removed"] == 0


# ------------------------- asymmetric containment join


def test_containment_pairs_catches_quotes(spark):
    big = ("the quick brown fox jumps over the lazy dog while the cat "
           "watches from the warm windowsill during a long afternoon")
    quote = "the quick brown fox jumps over the lazy dog"
    df = spark.createDataFrame(
        [(1, big), (2, quote), (3, "entirely unrelated text about query engines")],
        "doc_id long, text string",
    )
    out = {(r["id_a"], r["id_b"]): r["containment"]
           for r in D.containment_pairs(df, threshold=0.8).collect()}
    # the quote is contained in the big doc (ordered: quote -> big)
    assert (2, 1) in out and out[(2, 1)] > 0.9
    # but NOT the reverse (big is much larger than the quote)
    assert (1, 2) not in out
    assert not any(3 in p for p in out)


def test_containment_pairs_exact_value(spark):
    # identical docs contain each other fully, both directions
    t = "alpha beta gamma delta epsilon zeta eta theta"
    df = spark.createDataFrame([(1, t), (2, t)], "doc_id long, text string")
    out = {(r["id_a"], r["id_b"]): r["containment"]
           for r in D.containment_pairs(df, threshold=0.5).collect()}
    assert out[(1, 2)] == pytest.approx(1.0)
    assert out[(2, 1)] == pytest.approx(1.0)


# ---------------------------------------------------------------- SemDeDup


def test_semantic_prune_min_id(spark):
    from chromem_go_spark.operators.dedup import semantic_prune

    rows = [
        # cluster 0: 1~2 near (keep 1), 3 far
        (1, 0, [1.0, 0.0]),
        (2, 0, [0.999, 0.04]),
        (3, 0, [0.0, 1.0]),
        # cluster 1: identical pair across ids (keep 10)
        (10, 1, [0.6, 0.8]),
        (11, 1, [0.6, 0.8]),
        # cluster 2: singleton always kept
        (20, 2, [1.0, 0.0]),
    ]
    df = spark.createDataFrame(
        rows, "vec_id long, cluster_id int, embedding array<double>"
    )
    out = {
        r["vec_id"]: r["kept"]
        for r in semantic_prune(df, threshold=0.95, keep="min_id").collect()
    }
    assert out == {1: True, 2: False, 3: True, 10: True, 11: False, 20: True}


def test_semantic_prune_centroid_closest(spark):
    from chromem_go_spark.operators.dedup import semantic_prune

    rows = [
        # 2 is closer to the centroid than 1 -> 2 survives the near pair
        (1, 0, 0.80, [1.0, 0.0]),
        (2, 0, 0.90, [0.999, 0.04]),
        (3, 0, 0.10, [0.0, 1.0]),
    ]
    df = spark.createDataFrame(
        rows,
        "vec_id long, cluster_id int, centroid_sim double, embedding array<double>",
    )
    out = {
        r["vec_id"]: r["kept"]
        for r in semantic_prune(
            df, threshold=0.95, keep="centroid_closest"
        ).collect()
    }
    assert out == {1: False, 2: True, 3: True}


def test_semantic_prune_rejects_unknown_keep(spark):
    import pytest as _pytest

    from chromem_go_spark.operators.dedup import semantic_prune

    df = spark.createDataFrame([], "vec_id long, cluster_id int, embedding array<double>")
    with _pytest.raises(ValueError):
        semantic_prune(df, keep="bogus")


def test_semantic_dedup_kmeans_invariants(spark, sf_dir):
    """Pairwise SemDeDup invariants on the real table: (a) no two KEPT
    clustermates are cosine-near above threshold; (b) every DROPPED row
    has a preferred cosine-near clustermate."""
    import numpy as np

    from chromem_go_spark.operators.dedup import semantic_dedup

    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    thr = 0.3
    out = semantic_dedup(emb, threshold=thr, n_clusters=4).collect()
    vecs = {
        r["vec_id"]: np.asarray(r["embedding"], dtype=np.float64)
        for r in emb.select("vec_id", "embedding").collect()
    }

    def cos(a, b):
        va, vb = vecs[a], vecs[b]
        return float(va @ vb / (np.linalg.norm(va) * np.linalg.norm(vb)))

    by_cluster: dict[int, list] = {}
    for r in out:
        by_cluster.setdefault(r["cluster_id"], []).append(r)
    assert sum(1 for r in out if not r["kept"]) > 0  # discriminative at thr
    for members in by_cluster.values():
        pref = sorted(members, key=lambda r: (-r["centroid_sim"], r["vec_id"]))
        order = {r["vec_id"]: i for i, r in enumerate(pref)}
        for i, a in enumerate(members):
            for b in members[i + 1 :]:
                if a["kept"] and b["kept"]:
                    assert cos(a["vec_id"], b["vec_id"]) < thr, (a, b)
        for r in members:
            if not r["kept"]:
                assert any(
                    order[o["vec_id"]] < order[r["vec_id"]]
                    and cos(o["vec_id"], r["vec_id"]) >= thr
                    for o in members
                ), r


def test_cross_corpus_neardup_matches_union_selfjoin(spark, sf_dir):
    """Cross pairs == the union self-join restricted to cross-side
    pairs (disjoint id ranges make orientation unambiguous)."""
    from chromem_go_spark.operators.dedup import (
        cross_corpus_neardup_pairs,
        ngram_jaccard_pairs,
    )

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    new = docs.filter(F.col("doc_id") % 5 == 0)
    ref = docs.filter(F.col("doc_id") % 5 != 0)
    got = {
        (r["id_new"], r["id_ref"], round(r["jaccard"], 6))
        for r in cross_corpus_neardup_pairs(new, ref, threshold=0.5).collect()
    }
    new_ids = {r["doc_id"] for r in new.select("doc_id").collect()}
    want = set()
    for r in ngram_jaccard_pairs(docs, threshold=0.5).collect():
        a, b = r["id_a"], r["id_b"]
        if (a in new_ids) != (b in new_ids):
            n, f = (a, b) if a in new_ids else (b, a)
            want.add((n, f, round(r["jaccard"], 6)))
    assert got == want
    assert want  # discriminative at 0.5 on this corpus


def test_cross_corpus_minhash_finds_exact_pairs(spark, sf_dir):
    """The LSH twin recovers every exact cross pair at this corpus's
    similarity levels (J >= 0.9 -> band collision ~1.0) with identical
    verified Jaccard values."""
    from chromem_go_spark.operators.dedup import (
        cross_corpus_minhash_pairs,
        cross_corpus_neardup_pairs,
    )

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    new = docs.filter(F.col("doc_id") % 5 == 0)
    ref = docs.filter(F.col("doc_id") % 5 != 0)
    lsh = {
        (r["id_new"], r["id_ref"], round(r["jaccard"], 6))
        for r in cross_corpus_minhash_pairs(new, ref, threshold=0.5).collect()
    }
    exact = {
        (r["id_new"], r["id_ref"], round(r["jaccard"], 6))
        for r in cross_corpus_neardup_pairs(new, ref, threshold=0.5).collect()
    }
    assert lsh == exact and exact


def test_cross_corpus_minhash_equals_union_lsh_cross_pairs(spark, sf_dir):
    """The cross-corpus LSH join IS the union LSH self-join restricted
    to cross-side pairs: both band the same hash family over the same
    shingle sets and verify with the same exact Jaccard, so on a
    disjoint split the two agree pair-for-pair and value-for-value —
    for any corpus, with no collision-probability guard."""
    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    new = docs.filter(F.col("doc_id") % 5 == 0)
    ref = docs.filter(F.col("doc_id") % 5 != 0)
    got = {
        (r["id_new"], r["id_ref"], r["jaccard"])
        for r in D.cross_corpus_minhash_pairs(new, ref, threshold=0.5).collect()
    }
    want = set()
    for r in D.minhash_lsh_pairs(docs, threshold=0.5).collect():
        a, b = r["id_a"], r["id_b"]
        if (a % 5 == 0) != (b % 5 == 0):
            n, f = (a, b) if a % 5 == 0 else (b, a)
            want.add((n, f, r["jaccard"]))
    assert got == want
    assert want  # discriminative at 0.5 on this corpus


@pytest.mark.parametrize(
    "run",
    [
        lambda docs, bands, state: D.minhash_lsh_pairs(docs, bands=bands),
        lambda docs, bands, state: D.cross_corpus_minhash_pairs(
            docs, docs, bands=bands
        ),
        lambda docs, bands, state: S.incremental_neardup_batch(
            docs, state, bands=bands
        ),
    ],
    ids=["minhash_lsh_pairs", "cross_corpus_minhash_pairs", "incremental_neardup_batch"],
)
@pytest.mark.parametrize("bands", [0, 5, 128])
def test_lsh_bands_must_divide_num_hashes(docs, tmp_path, run, bands):
    """64 hashes cannot be cut into 0, 5 or 128 whole bands: a
    ValueError (never an assert, which ``python -O`` strips into a
    silently truncated or zero-lane banding) before any state write."""
    state = str(tmp_path / "state")
    with pytest.raises(ValueError, match="bands"):
        run(docs, bands, state)
    assert not (tmp_path / "state").exists()


def test_cross_corpus_no_pair_in_lsh_miss_band(spark, sf_dir):
    """Guard for the shared exact-twin oracle: the registry's
    cross_corpus_minhash entry reuses the brute-force Jaccard SQL,
    which is sound only while every surviving cross pair (registry
    split: doc_id % 7) sits where the 16x4 banding's collision
    probability is effectively 1 — LSH verifies candidates with exact
    Jaccard, so its only failure mode is MISSING a pair.  Assert the
    analytic per-pair miss probability (1 - J^rows)^bands stays below
    1e-6 for every exact-path pair, so a regenerated/grown testdata
    corpus that introduces a genuinely missable pair fails HERE
    (loudly, in CI) rather than as a flaky driver hash-mismatch.
    Checked at the test sf and at sf0.01 (the driver's compare scale)
    when present."""
    import os

    from chromem_go_spark.operators.dedup import cross_corpus_neardup_pairs

    bands, rows = 16, 4  # cross_corpus_minhash_pairs defaults (64 hashes)
    dirs = {sf_dir}
    if os.path.isdir("/root/testdata/sf0.01"):
        dirs.add("/root/testdata/sf0.01")
    for d in sorted(dirs):
        docs = spark.read.parquet(f"{d}/documents.parquet")
        new = docs.filter(F.col("doc_id") % 7 == 0)
        ref = docs.filter(F.col("doc_id") % 7 != 0)
        sims = [
            r["jaccard"]
            for r in cross_corpus_neardup_pairs(
                new, ref, threshold=0.5
            ).collect()
        ]
        assert sims, f"{d}: expected at least one cross pair"
        missable = {
            j: (1.0 - j**rows) ** bands
            for j in sims
            if (1.0 - j**rows) ** bands >= 1e-6
        }
        assert not missable, (
            f"{d}: cross pairs with non-negligible LSH miss "
            f"probability {missable} — the shared exact oracle for "
            "cross_corpus_minhash is no longer collision-safe; switch "
            "that entry to a banding-aware oracle threshold"
        )


def test_semantic_dedup_clusters_transitive(spark):
    """Chain a~b~c (a!~c) resolves to ONE component — the transitive
    upgrade of the pairwise semantic_prune rule; singleton keeps its
    own id as rep; the k-means path produces the same reps as the
    precomputed-cluster path when the assignment agrees."""
    from chromem_go_spark.operators.dedup import semantic_dedup_clusters

    rows = [
        (1, 0, [1.0, 0.0]),
        (2, 0, [0.96, 0.28]),     # ~ 1 and ~ 3
        (3, 0, [0.85, 0.53]),     # ~ 2, NOT ~ 1 at 0.95
        (9, 1, [0.0, 1.0]),       # singleton
    ]
    df = spark.createDataFrame(rows, "vec_id long, cluster_id int, embedding array<double>")
    out = {
        r["vec_id"]: r["cluster_rep"]
        for r in semantic_dedup_clusters(
            df, threshold=0.95, cluster_col="cluster_id"
        ).collect()
    }
    assert out == {1: 1, 2: 1, 3: 1, 9: 9}
    # star algorithm agrees
    out_star = {
        r["vec_id"]: r["cluster_rep"]
        for r in semantic_dedup_clusters(
            df, threshold=0.95, cluster_col="cluster_id", algorithm="star"
        ).collect()
    }
    assert out_star == out


# -------------------------------------------------- bloom dedup (r8)


def test_bloom_no_false_negatives_and_driver_parity(spark):
    """Every build-corpus duplicate is caught (Bloom's no-false-
    negative guarantee), whitespace/case variants hash to the same
    fingerprint, and the packed byte-array form agrees with the
    columnar form on every document."""
    from chromem_go_spark.operators.dedup import (
        bloom_filter_new,
        bloom_might_contain,
        build_fingerprint_bloom,
        pack_bloom,
    )

    seen_texts = [f"document number {i} body text" for i in range(200)]
    seen = spark.createDataFrame(
        [(i, t) for i, t in enumerate(seen_texts)], "doc_id long, text string"
    )
    bloom = build_fingerprint_bloom(seen, m_bits=1 << 16, k_hashes=4).cache()

    probe = spark.createDataFrame(
        [
            (1000, "Document   Number 7 body TEXT"),  # dup modulo normalize
            (1001, seen_texts[0]),                    # exact dup
            (1002, "certainly brand new content xyz"),
        ],
        "doc_id long, text string",
    )
    out = bloom_filter_new(probe, bloom, m_bits=1 << 16, k_hashes=4)
    kept = {r["doc_id"] for r in out.collect()}
    assert 1000 not in kept and 1001 not in kept  # members always caught
    assert kept <= {1002}  # 1002 kept unless a false positive (tiny m ok)

    packed = pack_bloom(bloom, m_bits=1 << 16)
    for _, t in [(0, seen_texts[3]), (0, "Document   Number 7 body TEXT")]:
        assert bloom_might_contain(packed, t, m_bits=1 << 16, k_hashes=4)
    # columnar and packed forms agree doc-by-doc
    for r in probe.collect():
        assert bloom_might_contain(
            packed, r["text"], m_bits=1 << 16, k_hashes=4
        ) == (r["doc_id"] not in kept)
    bloom.unpersist()


def test_bloom_false_positive_rate_in_range(spark):
    """Measured fp rate on disjoint new docs lands near the analytic
    (1 - e^(-kn/m))^k — the sizing formula users plan capacity with
    (loose factor-of-3 band: n=500 is a small sample)."""
    import math

    from chromem_go_spark.operators.dedup import (
        bloom_filter_new,
        build_fingerprint_bloom,
    )

    m, k, n = 1 << 12, 4, 500
    seen = spark.createDataFrame(
        [(i, f"seen doc {i} alpha") for i in range(n)],
        "doc_id long, text string",
    )
    fresh = spark.createDataFrame(
        [(10_000 + i, f"fresh doc {i} omega") for i in range(500)],
        "doc_id long, text string",
    )
    bloom = build_fingerprint_bloom(seen, m_bits=m, k_hashes=k)
    kept = bloom_filter_new(fresh, bloom, m_bits=m, k_hashes=k).count()
    fp_rate = 1 - kept / 500
    expect = (1 - math.exp(-k * n / m)) ** k
    assert fp_rate <= 3 * expect + 0.01
    assert kept > 400  # the gate must not eat the corpus


def test_bloom_gate_stream(spark, tmp_path):
    """Streaming Bloom gate: cross-batch and in-batch duplicates never
    emit twice; the state is seedable from a batch corpus and stays a
    bounded position set."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    from chromem_go_spark.operators.dedup import build_fingerprint_bloom
    from chromem_go_spark.streaming.ingest import (
        bloom_gate_sink,
        run_available_now,
    )

    m, k = 1 << 16, 4
    # seed the state with an already-ingested corpus
    seeded = spark.createDataFrame(
        [(900 + i, f"seeded doc {i}") for i in range(20)],
        "doc_id long, text string",
    )
    state = str(tmp_path / "bloom_state")
    build_fingerprint_bloom(seeded, m_bits=m, k_hashes=k).write.parquet(state)

    d = tmp_path / "doc_stream"
    d.mkdir()
    b0 = pa.table(
        {
            "doc_id": [1, 2, 3, 4],
            "text": [
                "alpha new one",
                "alpha new one",          # in-batch duplicate
                "seeded doc 5",           # duplicate of the seed corpus
                "beta new two",
            ],
        }
    )
    b1 = pa.table(
        {
            "doc_id": [5, 6],
            "text": [
                "ALPHA   new one",        # cross-batch dup (normalized)
                "gamma new three",
            ],
        }
    )
    pq.write_table(b0, d / "b0.parquet")
    pq.write_table(b1, d / "b1.parquet")

    stream = (
        spark.readStream.schema("doc_id long, text string")
        .option("maxFilesPerTrigger", 1)
        .parquet(str(d))
    )
    results = str(tmp_path / "gate_out")
    run_available_now(
        bloom_gate_sink(
            stream, state, results, str(tmp_path / "gate_ckpt"),
            m_bits=m, k_hashes=k,
        )
    )
    out = spark.read.parquet(results)
    texts = sorted(
        r["text"].lower().replace("   ", " ") for r in out.collect()
    )
    # exactly one copy of each distinct new text; seeds never re-emit
    assert texts == ["alpha new one", "beta new two", "gamma new three"]
    # committed state is the bounded distinct position set (generation
    # layout; the seed root stays readable) and rejects everything seen
    from chromem_go_spark.operators.dedup import bloom_filter_new
    from chromem_go_spark.streaming.ingest import read_bloom_state

    st = read_bloom_state(spark, state)
    assert st is not None and st.count() <= m
    again = spark.createDataFrame(
        [(7, "gamma new three"), (8, "totally unseen zeta")],
        "doc_id long, text string",
    )
    kept = {
        r["doc_id"]
        for r in bloom_filter_new(again, st, m_bits=m, k_hashes=k).collect()
    }
    assert kept == {8}

    # full REPLAY (fresh checkpoint, same batch ids): the transactional
    # watermark skips both batches — nothing re-emitted, state unchanged
    n_emitted = spark.read.parquet(results).count()
    gen_before = sorted(
        d for d in __import__("os").listdir(state) if d.startswith("_gen=")
    )
    stream2 = (
        spark.readStream.schema("doc_id long, text string")
        .option("maxFilesPerTrigger", 1)
        .parquet(str(d))
    )
    run_available_now(
        bloom_gate_sink(
            stream2, state, results, str(tmp_path / "gate_ckpt2"),
            m_bits=m, k_hashes=k,
        )
    )
    assert spark.read.parquet(results).count() == n_emitted
    assert sorted(
        x for x in __import__("os").listdir(state) if x.startswith("_gen=")
    ) == gen_before


def test_bloom_duplicate_id_rows_no_false_negative(spark):
    """Membership keys on the FINGERPRINT: duplicate id rows (same or
    different member texts under one id) must not split the position
    count and leak members through the gate."""
    from chromem_go_spark.operators.dedup import (
        bloom_filter_new,
        build_fingerprint_bloom,
    )

    seen = spark.createDataFrame(
        [(i, f"known doc {i}") for i in range(10)],
        "doc_id long, text string",
    )
    bloom = build_fingerprint_bloom(seen, m_bits=1 << 14, k_hashes=4)
    probe = spark.createDataFrame(
        [
            (1, "known doc 3"),   # duplicate doc_id, both texts members
            (1, "known doc 4"),
            (2, "known doc 5"),   # duplicate doc_id, member + new
            (2, "genuinely new"),
        ],
        "doc_id long, text string",
    )
    kept = {
        (r["doc_id"], r["text"])
        for r in bloom_filter_new(
            probe, bloom, m_bits=1 << 14, k_hashes=4
        ).collect()
    }
    assert (1, "known doc 3") not in kept
    assert (1, "known doc 4") not in kept
    assert (2, "known doc 5") not in kept
    assert kept <= {(2, "genuinely new")}


def test_bloom_unicode_whitespace_parity(spark):
    """The driver-side normalizer mirrors the JVM's ASCII \\s: a
    non-breaking space must NOT collapse, so packed membership agrees
    with a Spark-built filter on such texts."""
    from chromem_go_spark.operators.dedup import (
        bloom_might_contain,
        build_fingerprint_bloom,
        pack_bloom,
    )

    t = "alpha beta gamma"  # NBSP stays; regular space collapses
    df = spark.createDataFrame([(1, t)], "doc_id long, text string")
    bloom = build_fingerprint_bloom(df, m_bits=1 << 14, k_hashes=4)
    packed = pack_bloom(bloom, m_bits=1 << 14)
    assert bloom_might_contain(packed, t, m_bits=1 << 14, k_hashes=4)
