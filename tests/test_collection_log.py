"""The log-structured layout of a persistent parquet collection: an
immutable base plus an append-only log of ``__batch=N`` directories
(upserted rows and id-only tombstones), folded into the base by
``compact()`` or once the log outgrows the base by a swap of base
directories."""

from __future__ import annotations

import json
import os
import random

import pytest

from chromem_go_spark import Collection, Document
from chromem_go_spark import batchstate
from chromem_go_spark import collection as C


def _vec(rng: random.Random, dim: int = 4) -> list[float]:
    v = [rng.uniform(-1.0, 1.0) for _ in range(dim)]
    n = sum(x * x for x in v) ** 0.5
    return [x / n for x in v]


def _rows(c: Collection) -> dict:
    return {
        r["id"]: (dict(r["metadata"]), r["content"], [round(x, 5) for x in r["embedding"]])
        for r in c.df.collect()
    }


def _model_rows(model: dict) -> dict:
    return {
        i: (dict(m), content, [round(x, 5) for x in emb])
        for i, (m, emb, content) in model.items()
    }


def _batches(c: Collection) -> list[int]:
    return list(batchstate.batch_files(c.spark, c._log_path()))


def _open(spark, path, n_buckets):
    return Collection(spark, "log", persist_dir=path, n_buckets=n_buckets)


# ids that need quoting in SQL text ride along with the plain ones
_IDS = [f"d{i}" for i in range(30)] + ["it's", "back\\slash", "q'\\'"]


@pytest.mark.parametrize(
    "n_buckets, small_log_rows", [(0, C.SMALL_LOG_ROWS), (4, C.SMALL_LOG_ROWS), (4, 0)]
)
def test_random_writes_match_dict_model_and_full_rewrite(
    spark, tmp_path, monkeypatch, n_buckets, small_log_rows
):
    """Random upserts (with repeated ids inside a batch: the later row
    wins), id and predicate deletes, explicit and automatic folds and
    reopens: after every step the snapshot holds exactly the dict
    model's rows, and at the end queries and point reads equal those of
    a collection written once from the model.  ``small_log_rows`` 0
    takes the large-log path (shuffled window, broadcast anti-join)."""
    monkeypatch.setattr(C, "SMALL_LOG_ROWS", small_log_rows)
    rng = random.Random(7 + n_buckets)
    path = str(tmp_path / "c")
    c = _open(spark, path, n_buckets)
    model: dict = {}
    folds = 0
    for step in range(14):
        op = "upsert" if step < 2 else rng.choice(
            ["upsert", "upsert", "delete_ids", "delete_where", "compact", "reopen"]
        )
        before = _batches(c)
        if op == "upsert":
            docs = []
            for i in rng.sample(_IDS, rng.randint(1, 8)) + [rng.choice(_IDS)]:
                meta = {"g": rng.choice("ab"), "s": str(step)}
                docs.append(Document(i, meta, _vec(rng), f"{i} v{step}"))
                model[i] = (meta, docs[-1].embedding, docs[-1].content)
            c.add_documents(docs)
        elif op == "delete_ids":
            ids = rng.sample(_IDS, 3)
            c.delete(ids=ids)
            for i in ids:
                model.pop(i, None)
        elif op == "delete_where":
            g = rng.choice("ab")
            c.delete(where={"g": g})
            model = {i: v for i, v in model.items() if v[0]["g"] != g}
        elif op == "compact":
            assert c.compact() == bool(before)
            assert _batches(c) == []
        else:
            c = _open(spark, path, n_buckets)
        folds += bool(before) and not _batches(c)
        assert _rows(c) == _model_rows(model), f"step {step} ({op})"
        assert c.count() == len(model)
    assert folds >= 1

    fresh = _open(spark, str(tmp_path / "fresh"), n_buckets)
    fresh.add_documents(
        [Document(i, m, e, t) for i, (m, e, t) in sorted(model.items())]
    )
    for _ in range(3):
        q = _vec(rng)
        got = [(r["id"], r["similarity"]) for r in c.query_embedding(q, 5).collect()]
        want = [(r["id"], r["similarity"]) for r in fresh.query_embedding(q, 5).collect()]
        assert got == want
    for i in sorted(model)[:5]:
        assert c.get_by_id(i) == fresh.get_by_id(i)


def test_unrenamed_batch_stays_invisible(spark, tmp_path):
    """A batch written but never renamed (a writer killed between the
    two steps) is invisible to the snapshot and to a reopen, and the
    next commit clears it."""
    path = str(tmp_path / "c")
    c = _open(spark, path, 4)
    c.add_documents([Document(str(i), {}, [1.0, float(i)], f"doc {i}") for i in range(20)])
    c.add_document(Document("3", {}, [0.0, 1.0], "doc 3 v2"))
    want = _rows(c)
    orphan = spark.createDataFrame(
        [("ghost", {}, [1.0, 0.0], "never committed", False, 0)],
        "id string, metadata map<string,string>, embedding array<float>, "
        "content string, __tomb boolean, __seq long",
    )
    stage = os.path.join(c._log_path(), f"{batchstate._STAGING}1")
    orphan.write.parquet(stage)
    reopened = _open(spark, path, 4)
    assert _rows(reopened) == want
    assert reopened.count() == 20
    with pytest.raises(KeyError):
        reopened.get_by_id("ghost")
    reopened.add_document(Document("21", {}, [1.0, 1.0], "doc 21"))
    assert not os.path.exists(stage)
    assert "ghost" not in _rows(reopened) and "21" in _rows(reopened)


@pytest.mark.parametrize("kill_at", [0, 1])
def test_fold_killed_after_base_commit_replays_to_same_rows(
    spark, tmp_path, monkeypatch, kill_at
):
    """A fold killed after it rewrote the base, before (0) or while (1)
    it dropped the folded batches, leaves a table that reads as the
    same rows, and the next fold finishes it."""
    path = str(tmp_path / "c")
    c = _open(spark, path, 4)
    c.add_documents([Document(str(i), {}, [1.0, float(i)], f"doc {i}") for i in range(40)])
    c.add_documents([Document("1", {"v": "2"}, [0.0, 1.0], "doc 1 v2"),
                     Document("new", {}, [1.0, 1.0], "log only")])
    c.delete(ids=["2", "new"])
    c.add_document(Document("2", {"v": "3"}, [0.5, 0.5], "doc 2 back"))
    want = _rows(c)
    assert _batches(c) == [0, 1, 2]

    drop = batchstate.drop_batch_partition
    calls = []

    def dying(spark_, table, batch):
        if len(calls) == kill_at:
            raise RuntimeError("killed")
        calls.append(batch)
        drop(spark_, table, batch)

    monkeypatch.setattr(batchstate, "drop_batch_partition", dying)
    with pytest.raises(RuntimeError, match="killed"):
        c.compact()
    monkeypatch.setattr(batchstate, "drop_batch_partition", drop)
    assert _batches(c) == [0, 1, 2][kill_at:]

    reopened = _open(spark, path, 4)
    assert _rows(reopened) == want
    assert reopened.compact()
    assert _batches(reopened) == []
    assert _rows(reopened) == want
    assert _rows(_open(spark, path, 4)) == want


def _siblings(path: str) -> list[str]:
    """What a base swap left beside ``data.parquet``."""
    return sorted(n for n in os.listdir(path) if n.startswith("data.parquet."))


@pytest.mark.parametrize(
    "n_buckets, kill_at",
    [(0, 0), (0, 1), (0, "commit"), (4, 0), (4, 1), (4, 3), (4, "commit")],
)
def test_fold_killed_during_base_swap_loses_no_row(
    spark, tmp_path, monkeypatch, n_buckets, kill_at
):
    """A fold killed while it swaps the new base in — with the new rows
    staged but nothing moved (0), with the old base or a bucket moved
    aside but its successor not yet in (1), part-way through the bucket
    swaps (3), or just before the commit rename — leaves a table that
    reopens as the same rows: the swap rolls back and the log still
    holds every batch.  The next fold then completes and leaves nothing
    behind."""
    path = str(tmp_path / "c")
    c = _open(spark, path, n_buckets)
    c.add_documents([Document(str(i), {}, [1.0, float(i)], f"doc {i}") for i in range(40)])
    c.add_documents([Document(str(i), {"v": "2"}, [0.0, 1.0], f"doc {i} v2")
                     for i in (1, 6, 11)] + [Document("new", {}, [1.0, 1.0], "log only")])
    c.delete(ids=["2", "7", "new"])
    want = _rows(c)
    assert _batches(c) == [0, 1]

    rename, calls = os.rename, []

    def dying(src, dst):
        if str(src).startswith(c._data_path()):  # not the lock file's
            if kill_at == len(calls) or (
                kill_at == "commit" and src.endswith(C._PREVIOUS)
            ):
                raise RuntimeError("killed")
            calls.append(src)
        rename(src, dst)

    monkeypatch.setattr(os, "rename", dying)
    with pytest.raises(RuntimeError, match="killed"):
        c.compact()
    monkeypatch.setattr(os, "rename", rename)
    assert _batches(c) == [0, 1]

    reopened = _open(spark, path, n_buckets)
    assert "data.parquet" + C._PREVIOUS not in _siblings(path)
    assert _rows(reopened) == want
    assert reopened.compact()
    assert _batches(reopened) == [] and _siblings(path) == []
    assert _rows(reopened) == want
    assert _rows(_open(spark, path, n_buckets)) == want


@pytest.mark.parametrize("n_buckets", [0, 4])
def test_missing_base_with_a_log_is_an_error(spark, tmp_path, n_buckets):
    """A base gone while its log still holds batches is damage: neither
    a reopen nor a write may read it as an empty collection (a write
    would start a new base the old log then overwrites)."""
    path = str(tmp_path / "c")
    c = _open(spark, path, n_buckets)
    c.add_documents([Document(str(i), {}, [1.0, float(i)], f"doc {i}") for i in range(8)])
    c.add_document(Document("9", {}, [0.0, 1.0], "doc 9"))
    C._rmtree(c._data_path())
    with pytest.raises(IOError, match="write log holds batches"):
        _open(spark, path, n_buckets)
    with pytest.raises(IOError, match="write log holds batches"):
        c.add_document(Document("10", {}, [0.0, 1.0], "doc 10"))
    assert not os.path.exists(c._data_path())


def test_get_by_id_reads_log_rows_and_tombstones(spark, tmp_path):
    path = str(tmp_path / "c")
    c = _open(spark, path, 8)
    c.add_documents(
        [Document(str(i), {"v": "1"}, [1.0, float(i)], f"doc {i}") for i in range(20)]
    )
    c.add_documents([Document("new", {"v": "1"}, [0.0, 1.0], "log only"),
                     Document("3", {"v": "2"}, [1.0, 1.0], "doc 3 v2")])
    c.delete(ids=["5"])
    for coll in (c, _open(spark, path, 8)):
        assert coll.get_by_id("new").content == "log only"
        assert coll.get_by_id("3").metadata == {"v": "2"}
        assert coll.get_by_id("4").content == "doc 4"
        with pytest.raises(KeyError):
            coll.get_by_id("5")
    c.delete(ids=["new"])
    with pytest.raises(KeyError):
        c.get_by_id("new")


def test_write_folds_once_log_outgrows_base(spark, tmp_path, monkeypatch):
    """Writes append until the log holds more than LOG_FOLD_FRACTION of
    the base's rows; the write that crosses it folds.  The base's row
    count is kept from its last write (collection.json), so an append
    lists no base file, also after a reopen; only the fold recounts."""
    path = str(tmp_path / "c")
    c = _open(spark, path, 4)
    c.add_documents([Document(str(i), {}, [1.0, float(i)], f"doc {i}") for i in range(16)])
    walked = []
    parquet_files = C._parquet_files
    monkeypatch.setattr(C, "_parquet_files", lambda p: walked.append(p) or parquet_files(p))
    limit = C.LOG_FOLD_FRACTION * 16
    n = 0
    while n + 1 <= limit:
        c.add_document(Document(f"x{n}", {}, [0.0, 1.0], "x"))
        n += 1
        assert len(_batches(c)) == n
        c = _open(spark, path, 4)
    assert walked == []
    c.add_document(Document("last", {}, [0.0, 1.0], "x"))
    assert _batches(c) == []
    assert walked == [c._data_path()]
    assert c.count() == 16 + n + 1
    with open(os.path.join(path, "collection.json")) as f:
        assert json.load(f)["base_rows"] == 16 + n + 1
