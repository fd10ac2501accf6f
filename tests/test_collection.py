import os

import pytest

from chromem_go_spark import DB, Collection, Document
from chromem_go_spark.embeddings.stub import const_embedding, make_hash_embedding_func


@pytest.fixture()
def db(spark):
    return DB(spark)


def two_docs():
    # Canonical tiny instance (reference query_test.go:10-28).
    return [
        Document("1", {"language": "en"}, [0.1, 0.2, 0.3], "hello world"),
        Document("2", {"language": "de"}, [0.2, 0.3, 0.4], "hallo welt"),
    ]


def test_add_and_count(db):
    c = db.create_collection("t", embedding_func=const_embedding)
    c.add_documents(two_docs())
    assert c.count() == 2
    assert sorted(c.list_ids()) == ["1", "2"]


def test_upsert_overwrites(db):
    c = db.create_collection("t", embedding_func=const_embedding)
    c.add_documents(two_docs())
    c.add_document(Document("1", {"language": "fr"}, [0.3, 0.2, 0.1], "bonjour"))
    assert c.count() == 2
    got = c.get_by_id("1")
    assert got.metadata == {"language": "fr"}
    assert got.content == "bonjour"


def test_in_memory_upserts_materialized_last_writer_wins(db):
    """An in-memory collection pins its merged snapshot: a query after
    two overlapping adds runs no upsert dedupe (no ``Window`` in its
    executed plan) and sees the last writer's row for the shared id."""
    c = db.create_collection("t", embedding_func=const_embedding)
    c.add_documents(two_docs())
    c.add_documents([
        Document("2", {"language": "fr"}, [0.4, 0.3, 0.2], "salut monde"),
        Document("3", {"language": "en"}, [1.0, 1.0, 1.0], "hi there"),
    ])
    res = c.query_embedding([0.1, 0.2, 0.3], 3)
    rows = res.collect()
    assert "Window" not in res._jdf.queryExecution().executedPlan().toString()
    q = [1.0, 2.0, 3.0]

    def cos(v):
        dot = sum(a * b for a, b in zip(q, v))
        return dot / (sum(a * a for a in q) * sum(b * b for b in v)) ** 0.5

    assert [r["id"] for r in rows] == ["1", "3", "2"]
    assert {r["id"]: (r["metadata"], r["content"]) for r in rows} == {
        "1": ({"language": "en"}, "hello world"),
        "2": ({"language": "fr"}, "salut monde"),
        "3": ({"language": "en"}, "hi there"),
    }
    for r, v in zip(rows, [q, [1.0, 1.0, 1.0], [4.0, 3.0, 2.0]]):
        assert r["similarity"] == pytest.approx(cos(v), abs=1e-6)
    assert c.count() == 3


def test_embedding_computed_and_normalized(db):
    c = db.create_collection("t", embedding_func=const_embedding)
    c.add_document(Document("x", content="anything"))
    got = c.get_by_id("x")
    assert got.embedding == pytest.approx([-0.40824828, 0.40824828, 0.81649655], abs=1e-6)
    # supplied non-normalized embeddings get normalized at insert
    c.add_document(Document("y", embedding=[3.0, 4.0, 0.0], content="c"))
    assert c.get_by_id("y").embedding == pytest.approx([0.6, 0.8, 0.0], abs=1e-6)


def test_documents_ingest_through_arrow_with_no_python_task(spark, db, python_tasks):
    """``add_documents`` and ``add`` write the rows and schema that
    ``createDataFrame`` over the Python rows gave (normalized at
    insert, ``map<string,string>`` metadata, a null content), and run
    no Python task doing it."""
    from chromem_go_spark.document import DOCUMENT_SCHEMA
    from chromem_go_spark.functions import vector as V

    docs = [
        Document("a", {"language": "en", "src": "x"}, [3.0, 4.0, 0.0], "one"),
        Document("b", {}, [0.6, 0.8, 0.0], None),
        Document("c", {"language": "de"}, [0.1, 0.2, 0.3], "three"),
    ]
    c = db.create_collection("arrow_docs", embedding_func=const_embedding)
    assert python_tasks(lambda: c.add_documents(docs)) == 0
    cols = db.create_collection("arrow_cols", embedding_func=const_embedding)
    assert python_tasks(lambda: cols.add(
        ids=[d.id for d in docs],
        embeddings=[d.embedding for d in docs],
        metadatas=[d.metadata for d in docs],
        contents=[d.content for d in docs],
    )) == 0
    rows = [(d.id, d.metadata, d.embedding, d.content) for d in docs]
    expect = spark.createDataFrame(rows, DOCUMENT_SCHEMA).withColumn(
        "embedding", V.normalize_if_needed("embedding").cast("array<float>")
    )
    assert c._prepare(docs).schema == expect.schema
    want = sorted(expect.collect())
    assert sorted(c.df.select(*DOCUMENT_SCHEMA.fieldNames()).collect()) == want
    assert sorted(cols.df.select(*DOCUMENT_SCHEMA.fieldNames()).collect()) == want


def test_add_columnar_validation(db):
    c = db.create_collection("t", embedding_func=const_embedding)
    with pytest.raises(ValueError, match="ids are empty"):
        c.add([], contents=["a"])
    with pytest.raises(ValueError, match="same length"):
        c.add(["1", "2"], contents=["a"])
    c.add(["1", "2"], metadatas=[{"a": "b"}, {"c": "d"}], contents=["hello", "world"])
    assert c.count() == 2


def test_query_filters_and_ranking(db):
    c = db.create_collection("t", embedding_func=make_hash_embedding_func(16))
    c.add_documents(two_docs())
    # metadata filter narrows to the German doc
    res = c.query_embedding([0.2, 0.3, 0.4], 1, where={"language": "de"}).collect()
    assert [r["id"] for r in res] == ["2"]
    # $contains
    res = c.query_embedding([0.1, 0.2, 0.3], 1, where_document={"$contains": "hello"}).collect()
    assert [r["id"] for r in res] == ["1"]
    # $not_contains
    res = c.query_embedding([0.1, 0.2, 0.3], 1, where_document={"$not_contains": "hello"}).collect()
    assert [r["id"] for r in res] == ["2"]
    # exact-match ranking: query == doc2's vector
    res = c.query_embedding([0.2, 0.3, 0.4], 2).collect()
    assert [r["id"] for r in res] == ["2", "1"]
    assert res[0]["similarity"] == pytest.approx(1.0, abs=1e-6)


def test_query_validation_golden_errors(db):
    c = db.create_collection("t", embedding_func=const_embedding)
    c.add_documents(two_docs())
    with pytest.raises(ValueError, match="queryText is empty"):
        c.query("", 1)
    with pytest.raises(ValueError, match="queryEmbedding is empty"):
        c.query_embedding([], 1)
    with pytest.raises(ValueError, match="nResults must be > 0"):
        c.query_embedding([0.1], 0)
    with pytest.raises(ValueError, match="nResults must be <= the number of documents"):
        c.query_embedding([0.1, 0.2, 0.3], 5)
    with pytest.raises(ValueError, match="unsupported operator"):
        c.query_embedding([0.1, 0.2, 0.3], 1, where_document={"$bogus": "x"})


def test_delete_matrix(db):
    # Delete-test instance (reference collection_test.go:555-614).
    c = db.create_collection("t", embedding_func=const_embedding)
    c.add_documents(
        [
            Document("1", {"foo": "bar"}, [], "hello world"),
            Document("2", {"a": "b"}, [], "hallo welt"),
            Document("3", {"foo": "bar"}, [], "bonjour le monde"),
            Document("4", {"e": "f"}, [], "hola mundo"),
        ]
    )
    with pytest.raises(ValueError, match="must provide either"):
        c.delete()
    c.delete(ids=["4"])
    assert sorted(c.list_ids()) == ["1", "2", "3"]
    c.delete(where={"foo": "bar"}, where_document={"$contains": "bonjour"})
    assert sorted(c.list_ids()) == ["1", "2"]
    c.delete(where={"foo": "bar"})
    assert sorted(c.list_ids()) == ["2"]


def test_catalog_ops(db):
    db.create_collection("a")
    db.get_or_create_collection("b")
    assert set(db.list_collections()) == {"a", "b"}
    assert db.get_collection("a") is not None
    assert db.get_collection("missing") is None
    db.delete_collection("a")
    assert set(db.list_collections()) == {"b"}
    db.reset()
    assert db.list_collections() == {}


def test_persistence_roundtrip(spark, tmp_path):
    d1 = DB.new_persistent(spark, str(tmp_path / "db"))
    c = d1.create_collection("col a", metadata={"k": "v"}, embedding_func=const_embedding)
    c.add_documents(two_docs())
    # re-open from disk
    d2 = DB.new_persistent(spark, str(tmp_path / "db"))
    c2 = d2.get_collection("col a", embedding_func=const_embedding)
    assert c2 is not None
    assert c2.metadata == {"k": "v"}
    assert c2.count() == 2
    assert c2.get_by_id("1").content == "hello world"
    # deletes persist
    c2.delete(ids=["1"])
    d3 = DB.new_persistent(spark, str(tmp_path / "db"))
    assert d3.get_collection("col a").list_ids() == ["2"]


def test_export_import(spark, tmp_path, db):
    c = db.create_collection("exp", embedding_func=const_embedding)
    c.add_documents(two_docs())
    db.create_collection("other", embedding_func=const_embedding).add_document(
        Document("9", {}, [1.0, 0.0, 0.0], "x")
    )
    path = str(tmp_path / "export.tar")
    db.export_to_file(path, compress=True)
    d2 = DB(spark)
    d2.import_from_file(path, collections=["exp"])
    assert set(d2.list_collections()) == {"exp"}
    got = d2.get_collection("exp")
    assert got.count() == 2
    assert got.get_by_id("2").metadata == {"language": "de"}


def test_export_import_jsonl_encoding(spark, tmp_path, db):
    """The reference roadmap's second encoding (README.md:181 "JSON as
    second encoding format"): a JSONL export round-trips through
    import with the exact document schema (metadata stays a MAP, not
    an inferred struct), embeddings and all."""
    import json as _json
    import tarfile as _tarfile

    c = db.create_collection("expj", embedding_func=const_embedding)
    c.add_documents(two_docs())
    path = str(tmp_path / "export_jsonl.tar")
    db.export_to_file(path, encoding="jsonl", collections=["expj"])
    # payload really is line-delimited JSON (human-readable contract)
    with _tarfile.open(path) as tar:
        data_names = [
            n for n in tar.getnames() if "/part-" in n and n.endswith(".json")
        ]
        assert data_names, tar.getnames()
        lines = tar.extractfile(data_names[0]).read().decode().strip().splitlines()
        parsed = [_json.loads(ln) for ln in lines]
        assert {p["id"] for p in parsed} == {"1", "2"}
    d2 = DB(spark)
    d2.import_from_file(path)
    got = d2.get_collection("expj")
    assert got.count() == 2
    doc = got.get_by_id("2")
    assert doc.metadata == {"language": "de"}
    assert len(doc.embedding) == 3
    # unknown encodings are rejected before any file is touched
    import pytest as _pytest

    with _pytest.raises(ValueError, match="unknown export encoding"):
        db.export_to_file(str(tmp_path / "nope.tar"), encoding="gob")


def test_query_batch(db):
    c = db.create_collection("batch", embedding_func=make_hash_embedding_func(16))
    c.add_documents(
        [
            Document(str(i), {"lang": "en" if i % 2 == 0 else "de"}, [], f"document number {i}")
            for i in range(12)
        ]
    )
    res = c.query_batch(
        query_texts=["document number 3", "document number 8"], n_results=2
    ).collect()
    by_q = {}
    for r in res:
        by_q.setdefault(r["query_id"], []).append(r["id"])
    assert set(by_q) == {"0", "1"}
    # each query's own document is its top hit (hash embeddings are
    # deterministic per text)
    assert by_q["0"][0] == "3"
    assert by_q["1"][0] == "8"
    # filters apply below the batch scoring
    only_en = c.query_batch(
        query_texts=["document number 3"], n_results=2, where={"lang": "en"}
    ).collect()
    assert all(int(r["id"]) % 2 == 0 for r in only_en)


def test_export_import_via_stream(spark, db):
    """Writer/reader round-trip (reference ExportToWriter db.go:450-490,
    ImportFromReader db.go:297-355; S3 example s3-export-import/main.go):
    the payload goes through an in-memory BytesIO, never a named file,
    including selective collections and gzip, mirroring db_test.go:166-280."""
    import io

    c = db.create_collection("exp", embedding_func=const_embedding)
    c.add_documents(two_docs())
    db.create_collection("other", embedding_func=const_embedding).add_document(
        Document("9", {}, [1.0, 0.0, 0.0], "x")
    )

    buf = io.BytesIO()
    db.export_to_writer(buf, compress=True)
    buf.seek(0)
    d2 = DB(spark)
    d2.import_from_reader(buf, collections=["exp"])
    assert set(d2.list_collections()) == {"exp"}
    got = d2.get_collection("exp")
    assert got.count() == 2
    assert got.get_by_id("2").metadata == {"language": "de"}

    # selective EXPORT, uncompressed, full import on the other side
    buf2 = io.BytesIO()
    db.export_to_writer(buf2, collections=["other"])
    buf2.seek(0)
    d3 = DB(spark)
    d3.import_from_reader(buf2)
    assert set(d3.list_collections()) == {"other"}
    assert d3.get_collection("other").count() == 1

    # golden validations (reference db.go:455-462, 306-313)
    with pytest.raises(ValueError):
        db.export_to_writer(None)
    with pytest.raises(ValueError):
        db.import_from_reader(None)
    with pytest.raises(ValueError):
        db.export_to_writer(io.BytesIO(), collections=["missing"])
    with pytest.raises(ValueError, match="encryption key must be 32 bytes long"):
        db.export_to_writer(io.BytesIO(), encryption_key="short")
    with pytest.raises(ValueError, match="encryption key must be 32 bytes long"):
        db.import_from_reader(io.BytesIO(), encryption_key="short")


def test_export_import_encrypted(spark, tmp_path, db):
    """AES-256-GCM encrypted export/import (reference persistence.go:76-149,
    db_test.go encrypted round-trips): 32-byte key, nonce-prepended,
    wrong key fails authentication, ciphertext is not a readable tar."""
    import io
    import tarfile as tf

    key = "0123456789abcdef0123456789abcdef"
    c = db.create_collection("enc", embedding_func=const_embedding)
    c.add_documents(two_docs())

    buf = io.BytesIO()
    db.export_to_writer(buf, compress=True, encryption_key=key)
    payload = buf.getvalue()
    # ciphertext: no tar/gzip magic anywhere at the front
    with pytest.raises(tf.ReadError):
        tf.open(fileobj=io.BytesIO(payload), mode="r:*")

    d2 = DB(spark)
    d2.import_from_reader(io.BytesIO(payload), encryption_key=key)
    got = d2.get_collection("enc")
    assert got.count() == 2
    assert got.get_by_id("2").metadata == {"language": "de"}

    # wrong key -> GCM authentication failure
    with pytest.raises(Exception):
        DB(spark).import_from_reader(
            io.BytesIO(payload), encryption_key="x" * 32
        )

    # file-path variant round-trips too
    p = str(tmp_path / "enc.tar.aes")
    db.export_to_file(p, encryption_key=key)
    d3 = DB(spark)
    d3.import_from_file(p, encryption_key=key, collections=["enc"])
    assert d3.get_collection("enc").count() == 2


def test_default_bucketed_layout_and_get_or_create(spark, tmp_path):
    """Persistent collections are hash-bucketed BY DEFAULT (O(batch)
    upserts without any layout args); n_buckets=0 opts out; the
    convenience get_or_create path accepts n_buckets too."""
    from chromem_go_spark.collection import DEFAULT_N_BUCKETS

    db = DB.new_persistent(spark, str(tmp_path / "dbd"))
    c = db.create_collection("plain", embedding_func=const_embedding)
    assert c.n_buckets == DEFAULT_N_BUCKETS

    flat = db.create_collection("flat", embedding_func=const_embedding, n_buckets=0)
    assert flat.n_buckets is None
    flat.add_documents(two_docs())
    assert not any(
        d.startswith("bucket=") for d in os.listdir(flat._data_path())
    )

    via_goc = db.get_or_create_collection("sized", n_buckets=16)
    assert via_goc.n_buckets == 16
    # re-fetch returns the existing collection, n_buckets untouched
    again = db.get_or_create_collection("sized", n_buckets=4)
    assert again is via_goc and again.n_buckets == 16
    # reload from disk: bucket counts persisted in metadata
    db2 = DB.new_persistent(spark, str(tmp_path / "dbd"))
    assert db2.get_collection("sized").n_buckets == 16
    assert db2.get_collection("plain").n_buckets == DEFAULT_N_BUCKETS
    assert db2.get_collection("flat").n_buckets is None

    # in-memory DBs have no persistent layout -> no bucketing
    mem = DB(spark).create_collection("m", embedding_func=const_embedding)
    assert mem.n_buckets is None


def test_query_batch_per_query_filters(spark, db):
    """Public-API batch query where each query carries its own
    where / where_document filter (the reference can only filter one
    query at a time)."""
    c = db.create_collection("pqf", embedding_func=const_embedding)
    c.add_documents(
        [
            Document("1", {"lang": "en"}, [1.0, 0.0, 0.0], "alpha spark text"),
            Document("2", {"lang": "en"}, [0.9, 0.1, 0.0], "beta plain text"),
            Document("3", {"lang": "de"}, [0.0, 1.0, 0.0], "gamma spark text"),
            Document("4", {"lang": "de"}, [0.1, 0.9, 0.0], "delta plain text"),
        ]
    )
    out = c.query_batch(
        query_embeddings=[[1.0, 0.0, 0.0]] * 4,
        n_results=4,
        per_query_filters=[
            None,                                                # match all
            {"where": {"lang": "en"}},
            {"where_document": {"$contains": "spark"}},
            {"where": {"lang": "de"}, "where_document": {"$not_contains": "spark"}},
        ],
    )
    got = {}
    for r in out.collect():
        got.setdefault(r["query_id"], set()).add(r["id"])
    assert got["0"] == {"1", "2", "3", "4"}
    assert got["1"] == {"1", "2"}
    assert got["2"] == {"1", "3"}
    assert got["3"] == {"4"}
    # filter count mismatch is a validation error
    with pytest.raises(ValueError, match="one entry per query"):
        c.query_batch(query_embeddings=[[1.0, 0.0, 0.0]], per_query_filters=[None, None])
    # unknown operator surfaces the golden error
    with pytest.raises(ValueError):
        c.query_batch(
            query_embeddings=[[1.0, 0.0, 0.0]],
            per_query_filters=[{"where_document": {"$regex": "x"}}],
        )


# ---------------------------------- per-query filters: randomized parity

_PQ_WORDS = ["alpha", "beta", "gamma", "it's", "back\\slash", "x AND b = y", "delta"]
_PQ_TAGS = ["o'k", "a\\b", "x AND b = y", "plain"]


def _pq_corpus(n=1000, dim=8, seed=11):
    """Seeded documents: ``cat`` (10 values, absent on every 7th doc),
    ``grp`` (2 values), ``uid`` (one doc each) and ``tag`` (values with
    quotes and backslashes) in the metadata map; 3-word contents."""
    import numpy as np

    rng = np.random.default_rng(seed)
    vecs = rng.normal(size=(n, dim))
    docs = []
    for i in range(n):
        meta = {"grp": f"g{i % 2}", "uid": f"u{i}", "tag": _PQ_TAGS[i % 4]}
        if i % 7:
            meta["cat"] = f"c{i % 10}"
        words = [_PQ_WORDS[j] for j in rng.integers(0, len(_PQ_WORDS), 3)]
        docs.append(Document(f"d{i:04d}", meta, list(vecs[i]), " ".join(words)))
    return docs


def _pq_filters(rng, n_queries):
    """Random per-query filters over :func:`_pq_corpus`: selectivity
    from one doc (0.1%) to half the corpus, ``None``, ``{}`` and empty
    lists (match all), a missing key (matches nothing), ``$contains``
    as a string and as a list, quote and backslash literals."""
    shapes = [
        lambda: None,
        lambda: {},
        lambda: {"where": {}, "where_document": {"$contains": [], "$not_contains": []}},
        lambda: {"where": {"uid": f"u{rng.randrange(1000)}"}},
        lambda: {"where": {"cat": f"c{rng.randrange(10)}"}},
        lambda: {"where": {"grp": f"g{rng.randrange(2)}"}},
        lambda: {"where": {"nope": "x"}},
        lambda: {"where": {"tag": rng.choice(_PQ_TAGS), "grp": "g0"}},
        lambda: {"where_document": {"$contains": rng.choice(_PQ_WORDS)}},
        lambda: {"where_document": {"$contains": rng.sample(_PQ_WORDS, 2)}},
        lambda: {"where_document": {"$not_contains": rng.choice(_PQ_WORDS)}},
        lambda: {"where": {"cat": f"c{rng.randrange(10)}"},
                 "where_document": {"$contains": rng.choice(_PQ_WORDS),
                                    "$not_contains": rng.sample(_PQ_WORDS, 2)}},
    ]
    return [rng.choice(shapes)() for _ in range(n_queries)]


def _pq_matches(doc, f, where=None):
    """The reference's filter semantics, in Python (query.go:135-155)."""
    f = dict(f or {})
    w = list((f.get("where") or {}).items()) + list((where or {}).items())
    wd = f.get("where_document") or {}
    c, nc = wd.get("$contains") or [], wd.get("$not_contains") or []
    c = [c] if isinstance(c, str) else c
    nc = [nc] if isinstance(nc, str) else nc
    return (
        all(doc.metadata.get(k) == v for k, v in w)
        and all(s in doc.content for s in c)
        and not any(s in doc.content for s in nc)
    )


def _pq_brute_force(docs, stored, qvecs, filters, k, where=None):
    """{(query_id, id): similarity} of the exact per-query-filtered
    top-k over the stored (normalized, float32) embeddings."""
    import numpy as np

    out = {}
    for j, (qv, f) in enumerate(zip(qvecs, filters)):
        q = np.asarray(qv, dtype=np.float64)
        q = q / np.linalg.norm(q)
        sims = [(-float(stored[d.id] @ q), d.id) for d in docs if _pq_matches(d, f, where)]
        for neg, i in sorted(sims)[:k]:
            out[(str(j), i)] = -neg
    return out


def test_query_batch_per_query_filters_randomized_parity(spark, db):
    """Per-query-filtered batches (filter classes masked in the GEMM
    kernel) return exactly the NumPy brute force's rows: FLAT and a
    served IVF at nprobe-all, each with and without a global ``where``."""
    import random

    import numpy as np

    docs = _pq_corpus()
    c = db.create_collection("pq_parity", embedding_func=const_embedding)
    c.add_documents(docs)
    stored = {
        r["id"]: np.asarray(r["embedding"], dtype=np.float64)
        for r in c.df.select("id", "embedding").collect()
    }
    served = c.build_ann_index(n_clusters=8, persist=False)
    rng = random.Random(3)
    nprng = np.random.default_rng(5)
    for n_queries in (7, 48):
        filters = _pq_filters(rng, n_queries)
        qvecs = [list(v) for v in nprng.normal(size=(n_queries, 8))]
        for where in (None, {"grp": "g1"}):
            expect = _pq_brute_force(docs, stored, qvecs, filters, 5, where)
            for index in (None, served):
                got = {
                    (r["query_id"], r["id"]): r["similarity"]
                    for r in c.query_batch(
                        query_embeddings=qvecs, n_results=5, where=where,
                        per_query_filters=filters, index=index,
                        target_recall=0.999,
                    ).collect()
                }
                assert got.keys() == expect.keys(), (where, index)
                assert all(abs(got[key] - expect[key]) <= 1e-9 for key in got)


def test_filter_classes_match_the_single_query_compiler(spark, db):
    """The class renderer (SQL text) selects the same rows as
    ``Collection._compile_filters`` (Column calls) for every filter
    shape of the randomized parity test; a ``$contains`` list is the
    AND of one single-query filter per pattern."""
    import random

    from pyspark.sql import functions as F

    from chromem_go_spark.operators.filters import filter_classes

    c = db.create_collection("pq_render", embedding_func=const_embedding)
    c.add_documents(_pq_corpus(n=200))
    filters = _pq_filters(random.Random(9), 60)
    parsed = Collection._parse_per_query_filters(filters, len(filters))
    classes, class_of = filter_classes(parsed)

    def reference(w, cont, notc):
        preds = [Collection._compile_filters(w, None, False)[0]]
        preds += [Collection._compile_filters(None, {"$contains": s}, False)[0] for s in cont]
        preds += [Collection._compile_filters(None, {"$not_contains": s}, False)[0] for s in notc]
        pred = F.lit(True)
        for p in preds:
            pred = pred if p is None else pred & p
        return F.coalesce(pred, F.lit(False))

    rows = c.df.select(
        classes.alias("cls"), *[reference(*p).alias(f"r{j}") for j, p in enumerate(parsed)]
    ).collect()
    for r in rows:
        assert [r["cls"][class_of[j]] for j in range(len(parsed))] == [
            r[f"r{j}"] for j in range(len(parsed))
        ]


def test_collection_ann_index(spark, db):
    """ANN through the public Collection API: full probe equals the
    brute-force query; PQ variant agrees after exact re-rank."""
    import numpy as np

    c = db.create_collection("annc", embedding_func=const_embedding)
    rng = np.random.default_rng(5)
    mat = rng.standard_normal((60, 32))
    mat /= np.linalg.norm(mat, axis=1, keepdims=True)
    c.add_documents(
        [Document(str(i), {}, [float(x) for x in mat[i]], f"d{i}") for i in range(60)]
    )
    q = [float(x) for x in mat[7]]
    exact = [r["id"] for r in c.query_embedding(q, 5).collect()]

    idx = c.build_ann_index(n_clusters=4)
    got = [r["id"] for r in c.query_embedding_ann(q, 5, index=idx, nprobe=4).collect()]
    assert got == exact

    pq_idx = c.build_ann_index(n_clusters=4, pq=True, m=16)
    got_pq = [
        r["id"]
        for r in c.query_embedding_ann(q, 5, index=pq_idx, nprobe=4, ).collect()
    ]
    assert got_pq == exact

    # SQ8 dispatches through the same coded-tier batch search as PQ,
    # both as a served index and built on the fly by kind
    sq_idx = c.build_ann_index(n_clusters=4, kind="ivf_sq")
    for kw in ({"index": sq_idx}, {"kind": "ivf_sq", "n_clusters": 4}):
        got_sq = [
            r["id"] for r in c.query_embedding_ann(q, 5, nprobe=4, **kw).collect()
        ]
        assert got_sq == exact, kw


def test_export_validation_does_not_destroy_existing_file(spark, tmp_path, db):
    """A bad encryption key or unknown collection name must raise BEFORE
    the destination is opened — not truncate an existing export."""
    c = db.create_collection("keepme", embedding_func=const_embedding)
    c.add_documents(two_docs())
    path = str(tmp_path / "precious.tar")
    db.export_to_file(path)
    size = os.path.getsize(path)
    assert size > 0
    with pytest.raises(ValueError):
        db.export_to_file(path, encryption_key="short")
    with pytest.raises(ValueError):
        db.export_to_file(path, collections=["nope"])
    assert os.path.getsize(path) == size  # untouched


def test_extended_filters_opt_in(spark):
    """Extended where DSL ($or/$not/comparisons/$in) behind the
    extended_filters flag; the DEFAULT path preserves the reference's
    golden 'unsupported operator' error for those same operators."""
    from chromem_go_spark import DB, Document
    from chromem_go_spark.embeddings.stub import const_embedding

    db = DB(spark)
    c = db.create_collection("ext", embedding_func=const_embedding)
    c.add_documents(
        [
            Document(id="1", content="a", metadata={"lang": "en", "stars": "5"}),
            Document(id="2", content="b", metadata={"lang": "de", "stars": "2"}),
            Document(id="3", content="c", metadata={"lang": "fr", "stars": "4"}),
            Document(id="4", content="d", metadata={"stars": "9"}),  # no lang
        ]
    )
    got = {
        r["id"]
        for r in c.query_embedding(
            const_embedding("q"),
            4,
            where={
                "$or": [
                    {"lang": {"$in": ["de", "fr"]}},
                    {"stars": {"$gte": 5}},
                ]
            },
            extended_filters=True,
        ).collect()
    }
    assert got == {"1", "2", "3", "4"}
    # $not over a missing key: doc 4 has no lang -> inner pred unknown
    # -> NOT(coalesce(unknown, False)) = True -> doc 4 matches
    got2 = {
        r["id"]
        for r in c.query_embedding(
            const_embedding("q"), 4, where={"$not": {"lang": "en"}},
            extended_filters=True,
        ).collect()
    }
    assert got2 == {"2", "3", "4"}
    # reference parity on the DEFAULT path: no operator interpretation —
    # "$or" is just a (missing) metadata key, so nothing matches
    assert (
        c.query_embedding(const_embedding("q"), 4, where={"$or": "x"}).count()
        == 0
    )
    # unknown operators inside the extended DSL get the golden error
    import pytest as _pytest

    from chromem_go_spark.operators.filters import extended_where_predicate

    with _pytest.raises(ValueError, match="unsupported operator"):
        extended_where_predicate({"lang": {"$regex": "e.*"}})


def test_query_hybrid_fuses_keyword_and_vector(db):
    c = db.create_collection("hyb", embedding_func=make_hash_embedding_func(16))
    c.add(
        ["lex", "vec", "both", "noise"],
        contents=[
            "the hybrid ranking keyword appears here",
            "completely different words entirely",
            "hybrid ranking plus close vector",
            "filler filler filler",
        ],
    )
    out = c.query_hybrid("hybrid ranking", 4).collect()
    by = {r["id"]: r for r in out}
    # keyword docs carry lexical ranks; every doc has a vector rank
    assert by["lex"]["lex_rank"] is not None
    assert by["both"]["lex_rank"] is not None
    assert by["vec"]["lex_rank"] is None
    # fused order is deterministic and rrf-sorted
    scores = [(r["rrf_score"], r["id"]) for r in out]
    assert scores == sorted(scores, key=lambda t: (-t[0], t[1]))
    # the top result matched the keywords
    assert out[0]["lex_rank"] is not None

    import pytest as _p
    with _p.raises(ValueError, match="queryText is empty"):
        c.query_hybrid("", 2)


def test_query_bm25(spark):
    from chromem_go_spark import DB, Document
    from chromem_go_spark.embeddings.stub import const_embedding

    db = DB(spark)
    c = db.create_collection("kb25", embedding_func=const_embedding([1.0, 0.0]))
    c.add_documents(
        [
            Document(id="1", content="spark joins and windows", embedding=[1.0, 0.0], metadata={}),
            Document(id="2", content="spark spark spark everywhere", embedding=[1.0, 0.0], metadata={}),
            Document(id="3", content="nothing relevant here", embedding=[1.0, 0.0], metadata={}),
        ]
    )
    rows = c.query_bm25("spark", 2).collect()
    assert [r["id"] for r in rows] == ["2", "1"]
    import pytest as _pytest

    with _pytest.raises(ValueError):
        c.query_bm25("", 2)
    with _pytest.raises(ValueError):
        c.query_bm25("spark", 0)


def test_query_embedding_ann_with_where_filter(spark):
    """Filtered ANN search through the Collection API: same metadata
    DSL as query(), results equal the flat filtered query at
    nprobe=all."""
    import pytest as _pytest

    from chromem_go_spark import DB, Document
    from chromem_go_spark.embeddings.stub import make_hash_embedding_func

    db = DB(spark)
    ef = make_hash_embedding_func(16)
    c = db.create_collection("annf", embedding_func=ef)
    c.add_documents(
        [
            Document(id=str(i), content=f"doc number {i}",
                     metadata={"lang": "en" if i % 2 == 0 else "de"})
            for i in range(20)
        ]
    )
    qv = ef("doc number 4")
    idx = c.build_ann_index(n_clusters=2)
    got = [
        r["id"]
        for r in c.query_embedding_ann(qv, 3, index=idx, nprobe=2, where={"lang": "en"}).collect()
    ]
    want = [r["id"] for r in c.query_embedding(qv, 3, where={"lang": "en"}).collect()]
    assert got == want
    assert all(int(i) % 2 == 0 for i in got)
    pq_idx = c.build_ann_index(n_clusters=2, pq=True, m=16)
    with _pytest.raises(ValueError, match="filtered ANN"):
        c.query_embedding_ann(qv, 3, index=pq_idx, where={"lang": "en"})
    # SQ must hit the same descriptive error, not an AttributeError on
    # a missing search_filtered (the isinstance guard is IVFIndex-only).
    from chromem_go_spark.operators.ann import IVFSQIndex

    sq_idx = IVFSQIndex.build(
        c.df, n_clusters=2, vec_col="embedding", id_col="id"
    )
    with _pytest.raises(ValueError, match="filtered ANN"):
        c.query_embedding_ann(qv, 3, index=sq_idx, where={"lang": "en"})


def test_query_prf(spark):
    from chromem_go_spark import DB, Document
    from chromem_go_spark.embeddings.stub import const_embedding

    db = DB(spark)
    c = db.create_collection("prf", embedding_func=const_embedding([1.0, 0.0]))
    pad = " ".join(["filler"] * 30)
    docs = (
        [Document(id=str(i), content=f"spark shuffle tuning {pad}",
                  embedding=[1.0, 0.0], metadata={}) for i in range(5)]
        + [Document(id="50", content=f"shuffle mechanics deep dive {pad}",
                    embedding=[1.0, 0.0], metadata={})]
        + [Document(id=str(100 + i), content=f"gardening tips {pad}",
                    embedding=[1.0, 0.0], metadata={}) for i in range(10)]
    )
    c.add_documents(docs)
    hits = {r["id"] for r in c.query_prf("spark", 6, fb_docs=5, fb_terms=2).collect()}
    assert "50" in hits  # reachable only through the expansion


def test_delete_extended_filters(spark):
    """delete(extended_filters=True) accepts the same DSL query does —
    query/delete symmetry (r8); the default path keeps reference
    parity (a '$or' key is just a missing metadata key: no-op
    delete)."""
    from chromem_go_spark import DB, Document
    from chromem_go_spark.embeddings.stub import const_embedding

    db = DB(spark)
    c = db.create_collection("del_ext", embedding_func=const_embedding)

    def fill():
        c.add_documents(
            [
                Document(id="1", content="alpha text", metadata={"lang": "en", "stars": "5"}),
                Document(id="2", content="beta text", metadata={"lang": "de", "stars": "2"}),
                Document(id="3", content="gamma body", metadata={"lang": "fr", "stars": "4"}),
            ]
        )

    fill()
    # default path: "$or" is a literal (missing) metadata key -> no match
    c.delete(where={"$or": "x"})
    assert c.count() == 3
    # extended: $or over lang/stars + a content $contains leaf
    c.delete(
        where={
            "$or": [
                {"lang": "de"},
                {"$and": [{"stars": {"$gte": 4}}, {"content": {"$contains": "body"}}]},
            ]
        },
        extended_filters=True,
    )
    assert sorted(c.list_ids()) == ["1"]
