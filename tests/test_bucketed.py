"""Bucketed persistent collections: an upsert or a delete rewrites no
base file and adds exactly one log batch (O(batch) writes), a fold
rewrites only the hash buckets holding folded ids, and all CRUD
semantics are identical to the flat layout."""

from __future__ import annotations

import glob
import os

import pytest
from pyspark.sql import functions as F

from chromem_go_spark import DB, Document


def _bucket_files(data_path):
    out = {}
    for d in glob.glob(os.path.join(data_path, "bucket=*")):
        files = {
            f: os.path.getmtime(os.path.join(d, f))
            for f in os.listdir(d)
            if f.endswith(".parquet")
        }
        out[os.path.basename(d)] = files
    return out


def _log_batches(c):
    log = c._log_path()
    if not os.path.isdir(log):
        return []
    return sorted(d for d in os.listdir(log) if d.startswith("__batch="))


def test_bucketed_upsert_rewrites_only_touched_buckets(spark, tmp_path):
    """No layout args: the DEFAULT persistent layout is bucketed, so
    O(batch) upserts don't require opting in."""
    db = DB.new_persistent(spark, str(tmp_path / "db"))
    c = db.create_collection("kb")
    assert c.n_buckets  # bucketed by default
    c.add_documents(
        [Document(str(i), {"k": str(i)}, [1.0, 0.0], f"doc {i}") for i in range(64)]
    )
    data = c._data_path()
    before = _bucket_files(data)
    assert len(before) > 4  # ids spread over buckets

    # upsert ONE id -> no base file rewritten, one log batch added
    c.add_document(Document("7", {"k": "updated"}, [0.0, 1.0], "doc 7 v2"))
    assert _bucket_files(data) == before
    assert _log_batches(c) == ["__batch=0"]

    # semantics: upsert took effect, nothing else lost
    assert c.count() == 64
    got = c.get_by_id("7")
    assert got.metadata == {"k": "updated"}
    assert got.content == "doc 7 v2"


def test_bucketed_reload_and_query(spark, tmp_path):
    path = str(tmp_path / "db2")
    db = DB.new_persistent(spark, path)
    c = db.create_collection("kb", n_buckets=4)
    c.add_documents(
        [Document(str(i), {}, [float(i + 1), 1.0], f"doc {i}") for i in range(10)]
    )
    # reload from disk: n_buckets restored from metadata, data intact
    db2 = DB.new_persistent(spark, path)
    c2 = db2.get_collection("kb")
    assert c2.n_buckets == 4
    assert c2.count() == 10
    res = c2.query_embedding([1.0, 0.1], 3).collect()
    assert len(res) == 3
    # delete works on the bucketed layout (tombstones in the log)
    c2.delete(ids=["0", "1"])
    assert c2.count() == 8


def test_bucketed_point_lookup_prunes_partitions(spark, tmp_path):
    """get_by_id on a bucketed collection should let Spark prune to one
    bucket partition when filtered on the bucket value."""
    db = DB.new_persistent(spark, str(tmp_path / "db3"))
    c = db.create_collection("kb", n_buckets=8)
    c.add_documents(
        [Document(str(i), {}, [1.0, 0.0], f"doc {i}") for i in range(32)]
    )
    from chromem_go_spark.plans.explain import formatted_plan

    raw = spark.read.parquet(c._data_path())
    pruned = raw.filter(
        F.col("bucket")
        == F.pmod(F.xxhash64(F.lit("7")), F.lit(8)).cast("int")
    ).filter(F.col("id") == "7")
    plan = formatted_plan(pruned)
    assert "PartitionFilters" in plan


def test_bucketed_delete_by_ids_rewrites_only_touched(spark, tmp_path):
    db = DB.new_persistent(spark, str(tmp_path / "db4"))
    c = db.create_collection("kb", n_buckets=8)
    c.add_documents(
        [Document(str(i), {}, [1.0, 0.0], f"doc {i}") for i in range(64)]
    )
    before = _bucket_files(c._data_path())
    c.delete(ids=["3"])
    assert _bucket_files(c._data_path()) == before
    assert _log_batches(c) == ["__batch=0"]
    assert c.count() == 63
    with pytest.raises(KeyError):
        c.get_by_id("3")


def test_bucketed_delete_empties_whole_bucket(spark, tmp_path):
    """Deleting EVERY id in a bucket must remove the bucket dir at the
    fold — dynamic overwrite alone would leave the old files (and rows)
    behind."""
    db = DB.new_persistent(spark, str(tmp_path / "db5"))
    c = db.create_collection("kb", n_buckets=4)
    c.add_documents(
        [Document(str(i), {}, [1.0, 0.0], f"doc {i}") for i in range(40)]
    )
    # find all ids in one bucket via the stored layout
    raw = spark.read.parquet(c._data_path())
    some_bucket = raw.select("bucket").head()["bucket"]
    bucket_ids = [r["id"] for r in raw.filter(F.col("bucket") == some_bucket).collect()]
    assert bucket_ids
    c.delete(ids=bucket_ids)
    assert c.count() == 40 - len(bucket_ids)
    assert set(c.list_ids()) == {str(i) for i in range(40)} - set(bucket_ids)
    c.compact()
    assert not os.path.exists(os.path.join(c._data_path(), f"bucket={some_bucket}"))
    assert _log_batches(c) == []
    assert set(c.list_ids()) == {str(i) for i in range(40)} - set(bucket_ids)
