"""Collection: a document table + a bound embedding function.

Maps the reference's ``Collection`` (reference collection.go:16-29) onto a
Spark table: documents live in a Parquet-backed (or in-memory) DataFrame
with the fixed schema of document.py, and every operation is a DataFrame
transformation. The reference's RWMutex snapshot semantics (SURVEY §1.4)
come for free from immutable DataFrames.

Scale notes (the part that matters at 100 TB):
- A persistent parquet collection is an immutable BASE (``data.parquet``,
  hash-bucketed or flat) plus an append-only LOG of ``__batch=N``
  directories (``log.parquet``).  An upsert appends its rows and a
  delete appends id-only tombstones, each as one batch committed by
  temp-write + rename under the write lock: a write costs O(batch), as
  the reference's one gob file per document does (persistence.go:267-280).
- The snapshot is the base rows whose id is not in the log plus the
  log's newest live row per id.  That small log-latest frame is built
  once per write, so a query never runs a window: it filters the base
  by the logged ids (a literal id set, or one broadcast anti-join for a
  log past ``SMALL_LOG_ROWS``); an empty log reads as the base alone.
- :meth:`Collection.compact` folds the log into the base (union +
  last-writer-wins ``row_number`` over the touched buckets only); a
  write runs it once the log outgrows ``LOG_FOLD_FRACTION`` of the
  base.  The folded buckets (a flat base whole) are written beside the
  base and swapped in by renames, and the folded batches are dropped
  only after the swap commits, so a fold killed anywhere loses no row.
  On a lakehouse deployment the same contract is a Delta MERGE
  (``table_format="delta"``).
- Queries never collect the corpus: filter -> score -> TakeOrderedAndProject
  (single query) or block-matrix partial top-k (batch).
- The pre-filter runs below the similarity projection, so Parquet row-group
  skipping and column pruning apply before any vector math.
"""

from __future__ import annotations

import contextlib
import json
import os
from collections.abc import Mapping, Sequence
from typing import Callable

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F
from pyspark.sql.types import (
    BooleanType,
    IntegerType,
    LongType,
    StructField,
    StructType,
)

from . import batchstate
from . import errors as E
from . import tablefmt
from .document import DOCUMENT_SCHEMA, Document
from .locking import write_lock
from .materialize import materialize
from .functions import vector as V
from .operators import knn as knn_ops
from .operators.filters import validate_where_document

EmbeddingFunc = Callable[[str], Sequence[float]]

# Default hash-bucket count for persistent collections.  A fold rewrites
# only the buckets holding the ids it folds, and a point lookup scans
# one bucket, so bucketing is the DEFAULT rather than opt-in.  64
# buckets keeps tiny local collections cheap while bounding the fold's
# rewrite unit at scale; pass n_buckets explicitly to size for the
# deployment, or 0 to opt out (flat single-directory base, which a fold
# rewrites whole).
DEFAULT_N_BUCKETS = 64

#: A write folds the log into the base once the log holds more rows
#: (upserted versions and tombstones) than this fraction of the base's
#: rows: every log row is read by every query's anti-join and union,
#: and a fold costs about one rewrite of the touched buckets.
LOG_FOLD_FRACTION = 0.25
#: A log of at most this many rows is handled whole: its newest-row
#: window runs in one task with no shuffle, and the snapshot drops its
#: ids from the base with a literal id set rather than a broadcast
#: anti-join, which costs every query a broadcast job (measured on a
#: 5,000 x 128 base: a literal set of 2,048 ids scans as fast as the
#: base alone, one of 10,000 as slowly as the broadcast join).  Only
#: the literal side is measured end to end; the broadcast side keeps a
#: log that outgrows it off the driver.
SMALL_LOG_ROWS = 2048
# Siblings of data.parquet a base swap uses (see _publish_base): the
# new rows, the units they replace, and those units once committed.
_STAGED, _PREVIOUS, _RETIRED = ".staged", ".previous", ".retired"

_DOC_COLS = DOCUMENT_SCHEMA.fieldNames()
# one log row: a document version, or an id-only tombstone
_LOG_SCHEMA = StructType(
    DOCUMENT_SCHEMA.fields
    + [
        StructField("__tomb", BooleanType()),
        StructField("__seq", LongType()),  # row order within its batch
        StructField("__batch", IntegerType()),  # the partition column
    ]
)


class Collection:
    def __init__(
        self,
        spark: SparkSession,
        name: str,
        metadata: Mapping[str, str] | None = None,
        embedding_func: EmbeddingFunc | None = None,
        persist_dir: str | None = None,
        compress: bool = False,
        n_buckets: int | None = None,
        table_format: str | None = None,
    ):
        """``n_buckets``: hash-bucketed base for a persistent collection
        (``bucket=N`` partition dirs on ``xxhash64(id) % n``).  Writes
        append to the log whatever the layout; bucketing bounds what a
        fold rewrites to the buckets holding the folded ids instead of
        the whole base, and a point lookup scans one bucket.

        ``table_format``: ``"parquet"`` (default — base + write log +
        lock-file writer serialization) or ``"delta"`` (native MERGE /
        DELETE transactions via tablefmt.py, object-store-safe, no lock
        file; requires delta-spark + jars, runtime-checked).  Delta
        manages its own file layout, so ``n_buckets`` doesn't apply."""
        self.spark = spark
        self.name = name
        self.metadata = dict(metadata or {})
        self.embedding_func = embedding_func
        self.persist_dir = persist_dir
        self.compress = compress
        self.table_format = table_format or "parquet"
        if self.table_format not in ("parquet", "delta"):
            raise ValueError(f"unknown table_format: {self.table_format!r}")
        if self.table_format == "delta":
            tablefmt.require_delta(spark)
            n_buckets = None
        self.n_buckets = int(n_buckets) if n_buckets else None
        self._df = None
        # the snapshot's base scan (bucket column kept) and log-latest
        # frame, for point lookups; None without a parquet base / log
        self._base_raw: DataFrame | None = None
        self._log_latest: DataFrame | None = None
        self._text_index: DataFrame | None = None
        self._text_index_n = 3
        self._text_index_src: DataFrame | None = None
        # base rows as of the last base write (see _base_rows)
        self._n_base: int | None = None
        if persist_dir:
            if os.path.exists(self._data_path() + _PREVIOUS):
                # a base swap cut short by a crash, or still running
                with self._write_lock():
                    self._heal_base()
            self._load_snapshot()

    @property
    def _df(self) -> DataFrame | None:
        return self._snapshot

    @_df.setter
    def _df(self, df: DataFrame | None) -> None:
        # the one place a snapshot changes, so the memoized row count
        # always belongs to the snapshot it was counted on
        self._snapshot = df
        self._n_rows = None

    def _bucket_expr(self):
        return F.pmod(F.xxhash64(F.col("id")), F.lit(self.n_buckets)).cast("int")

    # ---------------- storage ----------------

    def _data_path(self) -> str:
        assert self.persist_dir
        suffix = "data.delta" if self.table_format == "delta" else "data.parquet"
        return os.path.join(self.persist_dir, suffix)

    def _log_path(self) -> str:
        assert self.persist_dir
        return os.path.join(self.persist_dir, "log.parquet")

    def _codec(self) -> str:
        # the reference's gzip option (persistence.go:44-56) as a codec
        return "gzip" if self.compress else "snappy"

    def _empty(self) -> DataFrame:
        return self.spark.createDataFrame([], DOCUMENT_SCHEMA)

    @property
    def df(self) -> DataFrame:
        """The collection as a DataFrame (snapshot semantics)."""
        return self._df if self._df is not None else self._empty()

    def _base_frame(self) -> DataFrame:
        """The stored parquet base, read with its schema pinned (no
        schema-inference job; a base whose every bucket was folded away
        reads as empty).  A bucketed base keeps its ``bucket`` column."""
        schema = DOCUMENT_SCHEMA
        if self.n_buckets:
            schema = StructType(
                DOCUMENT_SCHEMA.fields + [StructField("bucket", IntegerType())]
            )
        return self.spark.read.schema(schema).parquet(self._data_path())

    @staticmethod
    def _newest(df: DataFrame, *order: str) -> DataFrame:
        """Last writer wins: per id, the row first in ``order`` descending."""
        w = Window.partitionBy("id").orderBy(*(F.desc(c) for c in order))
        return (
            df.withColumn("__rn", F.row_number().over(w))
            .filter(F.col("__rn") == 1)
            .drop("__rn")
        )

    @staticmethod
    def _base_then_log(base: DataFrame, latest: DataFrame) -> DataFrame:
        """Base rows (``__src`` 0) and log-latest rows (``__src`` 1,
        which outrank them) as one frame, each with its ``__tomb``."""
        return base.select(
            *_DOC_COLS, F.lit(False).alias("__tomb"), F.lit(0).alias("__src")
        ).unionByName(latest.select(*_DOC_COLS, "__tomb", F.lit(1).alias("__src")))

    def _read_log(self, log: Mapping, small: bool) -> DataFrame:
        """The newest row per id over the ``log`` listing, pinned once."""
        rows = batchstate.read_batches(self.spark, self._log_path(), log, _LOG_SCHEMA)
        if small:
            rows = rows.coalesce(1)  # one partition: the window needs no shuffle
        return materialize(self._newest(rows, "__batch", "__seq"))

    def _check_base(self, log: Mapping) -> bool:
        """Whether the base exists; a missing base with a non-empty log
        is damage, never an empty collection, so it raises."""
        if os.path.exists(self._data_path()):
            return True
        if log:
            raise IOError(
                f"{self._data_path()} is missing but its write log holds "
                f"batches {list(log)}"
            )
        return False

    def _load_snapshot(self, log: Mapping | None = None) -> None:
        """Point the snapshot at what is on disk (``log``: the caller's
        listing of the write log, when it has one).  With an empty log
        the view is the base scan itself; otherwise it is the base minus
        the logged ids (a literal id set read on the driver, or a
        broadcast anti-join past ``SMALL_LOG_ROWS``) plus the log's
        newest live rows, the log-latest frame computed here once."""
        self._base_raw = self._log_latest = None
        path = self._data_path()
        if self.table_format == "delta":
            self.spark.catalog.refreshByPath(path)
            self._df = (
                tablefmt.read_table(self.spark, path).select(*_DOC_COLS)
                if tablefmt.table_exists(self.spark, path)
                else None
            )
            return
        if log is None:
            log = batchstate.batch_files(self.spark, self._log_path())
        if not self._check_base(log):
            self._df = None
            return
        self.spark.catalog.refreshByPath(path)
        self._base_raw = self._base_frame()
        view = self._base_raw.select(*_DOC_COLS)
        if log:
            small = _log_rows(log) <= SMALL_LOG_ROWS
            self._log_latest = latest = self._read_log(log, small)
            if not small:
                view = view.join(F.broadcast(latest.select("id")), "id", "left_anti")
            elif ids := _parquet_ids(f for files in log.values() for f, _ in files):
                view = view.filter(F.expr(f"id NOT IN ({_sql_strings(ids)})"))
            view = view.unionByName(latest.filter(~F.col("__tomb")).select(*_DOC_COLS))
        self._df = view

    def _write_lock(self):
        """Serialize mutators of the persistent table (see locking.py);
        in-memory collections keep the reference's single-process
        snapshot semantics and need no lock."""
        if self.persist_dir:
            return write_lock(self.persist_dir)
        return contextlib.nullcontext()

    @contextlib.contextmanager
    def _locked(self):
        """The write lock, with a base swap a crashed writer cut short
        rolled back first (:meth:`_heal_base`)."""
        with self._write_lock():
            self._heal_base()
            yield

    def _upsert(self, new: DataFrame) -> None:
        """Last-writer-wins upsert by id (reference collection.go:280).

        A persistent parquet collection appends the rows to its log
        under the collection write lock (:meth:`_append`), so concurrent
        writers serialize instead of losing updates; on the delta
        backend the same contract is one native MERGE commit (optimistic
        concurrency, no lock file).  An in-memory collection merges and
        pins its snapshot: left as a plan, every later query would
        re-run the whole upsert history."""
        new = new.select(*_DOC_COLS)
        if not self.persist_dir:
            merged = self._newest(
                self.df.withColumn("__src", F.lit(0)).unionByName(
                    new.withColumn("__src", F.lit(1))
                ),
                "__src",
            )
            self._df = materialize(merged.drop("__src"))
            return
        if self.table_format == "delta":
            tablefmt.merge_upsert(self.spark, self._data_path(), new, key_col="id")
            self._load_snapshot()
            self._write_meta()
            return
        with self._locked():
            self._append(new, tombstones=False)

    def _append(self, rows: DataFrame, tombstones: bool) -> None:
        """One locked write.  The first write into a collection with no
        base writes the base; every later one appends ``rows`` (id-only
        ``tombstones`` for a delete) to the log as one batch, folds the
        log once it holds more than ``LOG_FOLD_FRACTION`` of the base's
        rows, and re-reads the snapshot.  Within a batch the later row
        of an id wins."""
        ordered = rows.withColumn("__seq", F.monotonically_increasing_id())
        log_path = self._log_path()
        log: dict = {}
        if not os.path.exists(self._data_path()):
            self._check_base(batchstate.batch_files(self.spark, log_path))
            if not tombstones:
                self._publish_base(self._newest(ordered, "__seq").drop("__seq"))
        else:
            if tombstones:
                ordered = ordered.select(
                    "id",
                    *(F.lit(None).cast(f.dataType).alias(f.name)
                      for f in DOCUMENT_SCHEMA.fields[1:]),
                    "__seq",
                )
            batchstate.commit_batch(
                ordered.select(*_DOC_COLS, F.lit(tombstones).alias("__tomb"), "__seq"),
                log_path, self._codec(),
            )
            log = batchstate.batch_files(self.spark, log_path)
            if _log_rows(log) > LOG_FOLD_FRACTION * self._base_rows():
                self._fold(log)
                log = {}
        self._load_snapshot(log)
        self._write_meta()

    def _base_rows(self) -> int:
        """Rows in the base as of its last write, which keeps the count
        in collection.json (every write holds the lock, so the file is
        current); counted from the base's parquet footers when absent.
        It only times folds, so a count a crash left stale is harmless."""
        try:
            with open(os.path.join(self.persist_dir, "collection.json")) as f:
                self._n_base = json.load(f).get("base_rows")
        except (OSError, ValueError):
            self._n_base = None
        if self._n_base is None:
            self._n_base = _footer_rows(_parquet_files(self._data_path()))
        return self._n_base

    def _publish_base(self, rows: DataFrame, buckets: Sequence[int] = ()) -> None:
        """Write document ``rows`` as the base, or on an existing
        bucketed base as its ``buckets`` (a bucket left with no rows is
        dropped).  The rows are written to a staged sibling; each unit
        they replace (a bucket dir, or a flat base whole) is moved aside
        into ``.previous`` and its staged successor moved in; renaming
        ``.previous`` to ``.retired`` commits.  A crash before that
        commit is rolled back by :meth:`_heal_base`, and a fold drops
        its log batches only after it, so the rows are never lost."""
        base = self._data_path()
        staged, prev, retired = (base + s for s in (_STAGED, _PREVIOUS, _RETIRED))
        out = rows.select(*_DOC_COLS)
        if self.n_buckets:
            out = out.withColumn("bucket", self._bucket_expr())
        w = out.write.mode("overwrite").option("compression", self._codec())
        (w.partitionBy("bucket") if self.n_buckets else w).parquet(staged)
        if self.n_buckets and os.path.exists(base):
            os.mkdir(prev)
            for d in (f"bucket={b}" for b in buckets):
                _move(os.path.join(base, d), os.path.join(prev, d))
                _move(os.path.join(staged, d), os.path.join(base, d))
        else:
            _move(base, prev)
            _move(staged, base)
        _move(prev, retired)  # the commit point
        _rmtree(retired)
        _rmtree(staged)
        self._n_base = _footer_rows(_parquet_files(base))

    def _heal_base(self) -> None:
        """Under the write lock: roll back a base swap cut short before
        its commit (each moved-aside unit goes back; the log still holds
        every batch it folded) and clear what a swap left behind."""
        base = self._data_path()
        staged, prev, retired = (base + s for s in (_STAGED, _PREVIOUS, _RETIRED))
        if os.path.exists(prev):
            if self.n_buckets:
                for d in os.listdir(prev):
                    _rmtree(os.path.join(base, d))
                    os.rename(os.path.join(prev, d), os.path.join(base, d))
                os.rmdir(prev)
            else:
                _rmtree(base)
                os.rename(prev, base)
        _rmtree(retired)
        _rmtree(staged)

    def _fold(self, log: Mapping) -> None:
        """Fold the ``log`` listing into the base: the union of the
        touched base rows and the log's newest rows keeps the newest row
        per id (``row_number``), tombstoned ids drop out, and the result
        replaces the touched buckets (a flat base whole).  Replaying a
        folded batch onto the base changes no row, so a fold killed
        after its base commit reads — and re-folds — to the same rows."""
        latest = self._read_log(log, _log_rows(log) <= SMALL_LOG_ROWS)
        existing = self._base_frame()
        touched: list = []
        if self.n_buckets:
            touched = [
                r[0] for r in latest.select(self._bucket_expr()).distinct().collect()
            ]
            existing = existing.filter(F.col("bucket").isin(touched))
        merged = self._newest(self._base_then_log(existing, latest), "__src")
        self._publish_base(merged.filter(~F.col("__tomb")), touched)
        # oldest first: a fold killed part-way leaves the newest batches,
        # and the folded base plus any newest-suffix of its log reads as
        # the same rows
        for b in log:
            batchstate.drop_batch_partition(self.spark, self._log_path(), b)

    def compact(self) -> bool:
        """Fold the write log into the base now (writes also do this on
        their own once the log outgrows ``LOG_FOLD_FRACTION`` of the
        base).  Returns whether a fold ran; the delta backend and
        in-memory collections have no log."""
        if not self.persist_dir or self.table_format == "delta":
            return False
        with self._locked():
            log = batchstate.batch_files(self.spark, self._log_path())
            if self._check_base(log) and log:
                self._fold(log)
                self._write_meta()
            self._load_snapshot({})
        return bool(log)

    def _write_meta(self) -> None:
        if not self.persist_dir:
            return
        os.makedirs(self.persist_dir, exist_ok=True)
        meta_file = os.path.join(self.persist_dir, "collection.json")
        with open(meta_file + ".tmp", "w") as f:
            json.dump(
                {
                    "name": self.name,
                    "metadata": self.metadata,
                    "n_buckets": self.n_buckets,
                    "table_format": self.table_format,
                    "base_rows": self._n_base,
                },
                f,
            )
        os.replace(meta_file + ".tmp", meta_file)

    # ---------------- ingest (reference collection.go:131-293) ----------------

    def _prepare(self, docs: Sequence[Document]) -> DataFrame:
        rows = []
        for d in docs:
            if not d.id:
                raise ValueError("id is empty")
            emb = list(d.embedding or [])
            if not emb:
                if not d.content:
                    raise ValueError("either embedding or content must be filled")
                if self.embedding_func is None:
                    raise ValueError("no embedding function configured")
                emb = [float(x) for x in self.embedding_func(d.content)]
            rows.append((d.id, dict(d.metadata or {}), emb, d.content))
        df = self.spark.createDataFrame(rows, DOCUMENT_SCHEMA)
        # Normalize-at-insert invariant (reference collection.go:266-276):
        # makes query-time cosine a plain dot product.
        return df.withColumn(
            "embedding", V.normalize_if_needed("embedding").cast("array<float>")
        )

    def add_documents(self, docs: Sequence[Document]) -> None:
        """Bulk upsert (reference AddDocuments collection.go:193-245).

        Spark's task parallelism replaces the reference's semaphore;
        fail-fast comes from job abort on task failure. Last-writer-wins
        per id (reference collection.go:280: map assignment overwrites).
        """
        if not docs:
            raise ValueError("documents are empty")
        self._upsert(self._prepare(docs))

    def add_document(self, doc: Document) -> None:
        self.add_documents([doc])

    def add(self, ids, embeddings=None, metadatas=None, contents=None) -> None:
        """Chroma-style columnar-args insert (reference collection.go:131-187):
        validates equal lengths, zips into Documents."""
        if not ids:
            raise ValueError("ids are empty")
        if not embeddings and not contents:
            raise ValueError("either embeddings or contents must be filled")
        for other, label in ((embeddings, "embeddings"), (metadatas, "metadatas"), (contents, "contents")):
            if other and len(other) != len(ids):
                raise ValueError(
                    f"ids, {label} must have the same length"
                )
        docs = []
        for i, id_ in enumerate(ids):
            docs.append(
                Document(
                    id=id_,
                    metadata=(metadatas[i] if metadatas else {}),
                    embedding=(embeddings[i] if embeddings else []),
                    content=(contents[i] if contents else ""),
                )
            )
        self.add_documents(docs)

    def add_df(self, df: DataFrame, normalize: bool = True, embedder=None) -> None:
        """DataFrame-native bulk upsert — the path a 100 TB ingest uses
        (no driver-side rows).

        ``embedder`` (an ``embeddings.providers.Embedder``) fills missing
        embeddings with its batched Arrow UDF: rows whose embedding is
        null/empty get embedded from ``content`` in provider-batched API
        calls on the executors (the scaled-up version of the reference's
        per-document embed call, collection.go:266-271; concurrency is
        bounded by running tasks like the reference's semaphore,
        collection.go:203-242)."""
        cols = df
        if embedder is not None:
            # split-union, NOT when(): a when() branch would still run
            # the UDF (and its API calls) over every row.
            udf = embedder.pandas_udf_factory()
            need = F.col("embedding").isNull() | (F.size("embedding") == 0)
            cols = df.filter(~F.coalesce(need, F.lit(True))).unionByName(
                df.filter(F.coalesce(need, F.lit(True))).withColumn(
                    "embedding", udf(F.col("content"))
                )
            )
        if normalize:
            cols = cols.withColumn(
                "embedding", V.normalize_if_needed("embedding").cast("array<float>")
            )
        self._upsert(cols)

    # ---------------- point ops (reference collection.go:296-395) ----------------

    def get_by_id(self, id: str) -> Document:
        if not id:
            raise ValueError("id is empty")
        hit = F.col("id") == F.lit(str(id))
        if self._base_raw is None:
            rows = self.df.filter(hit).collect()
        else:
            # one job over the snapshot: the id's base row (a bucketed
            # scan prunes to the id's one bucket directory) and its
            # newest log row, which outranks it
            base = self._base_raw
            if self.n_buckets:
                b = F.pmod(F.xxhash64(F.lit(str(id))), F.lit(self.n_buckets))
                base = base.filter(F.col("bucket") == b.cast("int"))
            if self._log_latest is None:
                rows = base.filter(hit).collect()
            else:
                rows = self._base_then_log(
                    base.filter(hit), self._log_latest.filter(hit)
                ).collect()
                rows = sorted(rows, key=lambda r: -r["__src"])[:1]
                rows = [r for r in rows if not r["__tomb"]]
        if not rows:
            raise KeyError(f"document with ID '{id}' not found")
        r = rows[0]
        return Document(
            id=r["id"],
            metadata=dict(r["metadata"] or {}),
            embedding=list(r["embedding"] or []),
            content=r["content"],
        )

    def list_ids(self) -> list[str]:
        return [r["id"] for r in self.df.select("id").collect()]

    def count(self) -> int:
        """Rows in the snapshot, counted once per snapshot (the
        reference's ``Count`` is the length of its map,
        collection.go:391-395)."""
        if self._n_rows is None:
            self._n_rows = self.df.count()
        return self._n_rows

    def delete(
        self,
        where=None,
        where_document=None,
        ids: Sequence[str] | None = None,
        extended_filters: bool = False,
    ) -> None:
        """Delete by ids OR by metadata/content predicate (reference
        collection.go:338-388). Expressed as an anti-filter; on Delta this
        is ``DELETE FROM ... WHERE``.

        ``extended_filters=True`` (r8) interprets ``where`` with the
        same extended DSL :meth:`query` accepts ($and/$or/$not,
        comparisons, $in, $contains leaves) — query/delete symmetry;
        the default keeps strict reference parity including the golden
        errors.

        A persistent parquet collection appends the deleted ids to its
        log as tombstones (a predicate delete first finds them in the
        snapshot); nothing in the base is rewritten until a fold."""
        if not where and not where_document and not ids:
            raise ValueError("must provide either where, whereDocument or ids")
        validate_where_document(where_document)
        if self.persist_dir and self.table_format == "parquet":
            with self._locked():
                if where or where_document:
                    self._load_snapshot()  # the latest committed rows
                    gone = self.df.filter(self._delete_predicate(
                        where, where_document, ids, extended_filters
                    )).select("id")
                else:
                    # SQL text parsed once: no Python rows, no Python worker
                    gone = self.spark.range(1).select(F.explode(F.expr(
                        f"array({_sql_strings(sorted({str(i) for i in ids}))})"
                    )).alias("id"))
                self._append(gone, tombstones=True)
            return
        victim = self._delete_predicate(where, where_document, ids, extended_filters)
        if self.persist_dir:  # delta: one native DELETE commit
            tablefmt.delete_where(self.spark, self._data_path(), victim)
            self._load_snapshot()
            self._write_meta()
            return
        self._df = materialize(self.df.filter(~victim))

    #: a served graph serves a filter as the filter's matching id set
    #: (eligibility-gated walks, operators/hnsw.py); beyond this many
    #: matches the set costs more to materialize and ship than the
    #: exact scan it replaces (and a single graph holds <= 1M points
    #: anyway), so the query falls back to the exact scan path.
    HNSW_FILTER_MAX_IDS = 1_000_000

    @staticmethod
    def _compile_filters(where, where_document, extended_filters: bool):
        """``(predicate or None, $contains pattern groups)`` for one
        query's filters — the ONE compilation every query path and
        :meth:`delete` share.  The predicate is the strict-reference
        ``where`` (or the extended DSL) AND the ``where_document``
        operators; ``None`` means unfiltered.  The groups are the
        disjunction of conjunctive ``$contains`` pattern lists a fresh
        gram index prunes with (the extended tree's DNF groups,
        AND-folded with the flat ``$contains``)."""
        from .operators.filters import (
            and_fold_patterns,
            contains_pattern_groups,
            extended_where_predicate,
            where_document_predicate,
            where_predicate,
        )

        pred, groups = None, []
        if where:
            if extended_filters:
                pred = extended_where_predicate(where, content_col="content")
                groups = contains_pattern_groups(where)
            else:
                pred = where_predicate(where)
        if where_document:
            doc = where_document_predicate(where_document)
            pred = doc if pred is None else pred & doc
            if where_document.get("$contains"):
                groups = and_fold_patterns(
                    groups, [where_document["$contains"]]
                )
        return pred, groups

    @staticmethod
    def _negative_mode(negative_embedding, negative_mode) -> str | None:
        """The negative-query mode in force: ``None`` without a
        negative; with one, ``None`` means ``"subtract"`` (the
        reference's default, collection.go:457-464) and anything other
        than the two modes raises."""
        if negative_embedding is None:
            return None
        if negative_mode is None:
            return "subtract"
        if negative_mode not in ("subtract", "filter"):
            raise ValueError(
                f"unknown negative_mode {negative_mode!r}; expected "
                "'subtract' or 'filter'"
            )
        return negative_mode

    def _front_end(
        self, where, where_document, extended_filters, index,
        per_query: bool = False,
    ):
        """The decisions every query entry shares, made once: compile
        the filters and apply the served-index rule.  Returns
        ``(pred, groups, index, allowed)``.

        The served-index rule: a served IVF index applies any filter
        below scoring; a served HNSW serves a GLOBAL filter as the
        ``allowed`` id set of its matches (one collect job, at most
        ``HNSW_FILTER_MAX_IDS`` ids); every other filtered case —
        quantized codes, per-query filters on a graph, an oversized id
        set — falls back to the exact path (``index`` None).  A tier
        name or ``None`` passes through unchanged."""
        pred, groups = self._compile_filters(
            where, where_document, extended_filters
        )
        if (
            index is None
            or isinstance(index, str)
            or (pred is None and not per_query)
        ):
            return pred, groups, index, None
        from .operators.router import tier_of

        tier = tier_of(index)
        if tier == "ivf":
            return pred, groups, index, None
        if tier == "hnsw" and not per_query:
            cap = int(self.HNSW_FILTER_MAX_IDS)
            rows = self.df.filter(pred).select("id").limit(cap + 1).collect()
            if len(rows) <= cap:
                return pred, groups, index, {r["id"] for r in rows}
        return pred, groups, None, None

    def _scan_frame(self, pred, groups) -> DataFrame:
        """The exact paths' corpus frame: gram-pruned by ``groups``
        (a no-op without a fresh text index), then filtered by
        ``pred`` below scoring (reference collection.go:521)."""
        df = self._prune_by_groups(self.df, groups)
        return df.filter(pred) if pred is not None else df

    def _routed_frame(self, index, groups, n_docs=None):
        """``(frame, n_docs)`` for a router call.  A served index
        searches its own stored corpus, so the collection table is
        neither pruned nor counted for it; a tier name searches the
        gram-pruned frame, and its tier decision is sized on that frame
        (a selective pattern can shrink it far below the corpus, and
        ``nlist`` must never be sized off the full count)."""
        if not isinstance(index, str):
            return self.df, n_docs
        base = self._prune_by_groups(self.df, groups)
        if base is self.df and n_docs is not None:
            return base, n_docs
        return base, base.count()

    def _delete_predicate(self, where, where_document, ids, extended_filters):
        """The rows a delete removes: the compiled filters AND the id
        list, null-safe (a NULL match keeps the row)."""
        victim, _ = self._compile_filters(
            where, where_document, extended_filters
        )
        if ids:
            in_ids = F.col("id").isin([str(i) for i in ids])
            victim = in_ids if victim is None else victim & in_ids
        return F.coalesce(victim, F.lit(False))

    # ---------------- query (reference collection.go:410-559) ----------------

    def query(
        self,
        query_text: str,
        n_results: int,
        where=None,
        where_document=None,
        negative_text: str | None = None,
        negative_mode: str | None = None,
        negative_filter_threshold: float = knn_ops.DEFAULT_NEGATIVE_FILTER_THRESHOLD,
        extended_filters: bool = False,
        index=None,
        target_recall: float = 0.95,
        tuned: dict | None = None,
    ) -> DataFrame:
        """Text entry point (reference collection.go:418-429): embed the
        query text (and the negative text, if any — reference
        QueryWithOptions collection.go:434-480), then vector search.

        ``index`` / ``target_recall`` / ``tuned`` (r8) thread the
        unified ANN router through the text entry — one call composes
        embed -> $contains gram-index prune -> routed ANN (see
        :meth:`query_embedding` for the ladder and semantics rules)."""
        if not query_text:
            raise ValueError(E.ERR_QUERY_TEXT_EMPTY)
        if self.embedding_func is None:
            raise ValueError("no embedding function configured")
        qv = self.embedding_func(query_text)
        neg = self.embedding_func(negative_text) if negative_text else None
        return self.query_embedding(
            qv,
            n_results,
            where,
            where_document,
            negative_embedding=neg,
            negative_mode=negative_mode,
            negative_filter_threshold=negative_filter_threshold,
            extended_filters=extended_filters,
            index=index,
            target_recall=target_recall,
            tuned=tuned,
        )

    def query_embedding(
        self,
        query_embedding: Sequence[float],
        n_results: int,
        where=None,
        where_document=None,
        negative_embedding: Sequence[float] | None = None,
        negative_mode: str | None = None,
        negative_filter_threshold: float = knn_ops.DEFAULT_NEGATIVE_FILTER_THRESHOLD,
        extended_filters: bool = False,
        index=None,
        target_recall: float = 0.95,
        tuned: dict | None = None,
    ) -> DataFrame:
        """Vector entry point with validations and golden errors
        (reference collection.go:491-559). Returns a DataFrame of result
        rows (document columns + ``similarity``), highest first.

        ``extended_filters=True`` opts into the beyond-reference
        ``where`` DSL ($and/$or/$not, comparisons, $in, ``$contains``
        leaves — the reference's roadmap item, README.md:180; see
        operators/filters.extended_where_predicate); the default keeps
        strict reference parity including its golden errors.  A fresh
        gram index (:meth:`build_text_index`) pre-prunes the corpus
        for the filters' ``$contains`` structure on every path.

        ``negative_embedding`` with ``negative_mode`` ``"subtract"``
        (the default when a negative is given, as in the reference)
        searches with ``normalize(q - neg)``; ``"filter"`` drops
        documents whose similarity to the negative exceeds
        ``negative_filter_threshold``.  Any other mode raises.

        ``index`` opts into the ANN router (operators/router.py):
        ``"auto"`` picks the tier from corpus size and
        ``target_recall`` via the documented ladder (FLAT <= 100k docs
        < IVF < IVF-SQ8 < IVF-PQ; filtered queries stay on FLAT/IVF);
        a tier name (``"flat"``/``"ivf"``/``"ivf_sq"``/``"ivf_pq"``)
        forces it, and forcing a quantized tier together with a filter
        raises; a served index object from :meth:`build_ann_index` /
        :meth:`build_hnsw_index` wins outright.  ``tuned`` is a
        measured operating point from ``ann.tune_ivf``/``tune_ivf_sq``.
        Negative FILTER mode always takes the exact path (it needs
        per-candidate negative similarities); subtract mode routes (it
        only rewrites the query vector).  A served IVF applies filters
        below scoring; a served HNSW serves a filter from an allowed
        id set of its matches (beyond ``HNSW_FILTER_MAX_IDS`` matches,
        the exact path); a served quantized index falls back to the
        exact path.  Quantized and graph routed results carry
        ``(id, similarity)`` only.
        """
        if query_embedding is None or len(query_embedding) == 0:
            raise ValueError(E.ERR_QUERY_EMBEDDING_EMPTY)
        if n_results <= 0:
            raise ValueError(E.ERR_NRESULTS_POSITIVE)
        n_docs = self.count()
        if n_results > n_docs:
            raise ValueError(E.ERR_NRESULTS_TOO_LARGE)
        validate_where_document(where_document)
        mode = self._negative_mode(negative_embedding, negative_mode)

        qv = [float(x) for x in query_embedding]
        if mode == "subtract":
            qv = knn_ops.negative_subtract_query(qv, negative_embedding)
        pred, groups, index, allowed = self._front_end(
            where, where_document, extended_filters,
            None if mode == "filter" else index,
        )
        if index is not None:
            from .operators import router as R

            base, n = self._routed_frame(index, groups, n_docs)
            return R.routed_search(
                base, qv, int(n_results), vec_col="embedding",
                id_col="id", index=index, target_recall=target_recall,
                where=None if allowed is not None else pred, tuned=tuned,
                n_docs=n, allowed=allowed,
            )
        filtered = self._scan_frame(pred, groups)
        if mode == "filter":
            return knn_ops.knn_negative_filter(
                filtered,
                qv,
                negative_embedding,
                n_results,
                threshold=negative_filter_threshold,
            )
        return knn_ops.knn_single(filtered, qv, n_results)

    def build_text_index(self, n: int = 3) -> None:
        """Build (and cache) the token-gram posting-list index for
        ``$contains`` pre-filtering — the reference's roadmap full-text
        index (reference README.md:172, roaring bitmaps), realized as
        a gram → id table (see operators/textindex.py).

        Like the ANN index this is a SNAPSHOT of the current table:
        queries use it only while the collection is unmutated (source
        identity check) and silently fall back to the scan filter after
        any add/delete — correctness never depends on index freshness.
        At scale the build is a scheduled job over the corpus, not
        per-write maintenance."""
        from .operators import textindex as TI

        src = self.df
        idx = TI.build_gram_index(
            src, text_col="content", id_col="id", n=n
        )
        if self.persist_dir:
            # persist next to the data (underscore dir: invisible to
            # the table's own parquet scans) + a corpus signature so a
            # later session can tell whether the snapshot still matches
            path = self._text_index_path()
            # the overwrite-write replaces the dir (and any previous
            # meta with it), so a crash mid-write leaves a metaless
            # snapshot load_text_index refuses; the meta itself
            # commits atomically
            TI.write_gram_index(idx, path)
            import json

            meta_file = os.path.join(path, "_index_meta.json")
            with open(meta_file + ".tmp", "w") as f:
                json.dump(
                    {"n": n, "signature": self._corpus_signature()}, f
                )
            os.replace(meta_file + ".tmp", meta_file)
            idx = self.spark.read.parquet(path)
        else:
            idx = idx.cache()
            idx.count()  # materialize; queries reuse the cached table
        self._text_index = idx
        self._text_index_n = n
        self._text_index_src = src

    def _text_index_path(self) -> str:
        assert self.persist_dir
        return os.path.join(self.persist_dir, "_text_index")

    def _corpus_signature(self) -> str:
        """Order-insensitive corpus snapshot signature: row count +
        bit_xor of per-row xxhash64(id, content) — one aggregation,
        no sort, no collect of data."""
        row = self.df.agg(
            F.count(F.lit(1)).alias("n"),
            F.bit_xor(
                F.xxhash64(F.col("id"), F.coalesce("content", F.lit("")))
            ).alias("sig"),
        ).head()
        return f"{row['n']}:{row['sig']}"

    def load_text_index(self) -> bool:
        """Reload a persisted gram index from a previous session.
        Returns False (and leaves queries on the scan path) when none
        exists or the stored corpus signature no longer matches the
        table — a stale snapshot must never prune live queries."""
        import json

        if not self.persist_dir:
            return False
        path = self._text_index_path()
        meta_file = os.path.join(path, "_index_meta.json")
        if not os.path.exists(meta_file):
            return False
        with open(meta_file) as f:
            meta = json.load(f)
        if meta.get("signature") != self._corpus_signature():
            return False  # table changed since the index was written
        self._text_index = self.spark.read.parquet(path)
        self._text_index_n = int(meta.get("n", 3))
        self._text_index_src = self.df
        return True

    def _prune_by_groups(self, df: DataFrame, groups) -> DataFrame:
        """Gram-index candidate prune for a DISJUNCTION of conjunctive
        ``$contains`` pattern groups (filters.contains_pattern_groups —
        r9 extends the prune through ``$or``) when a FRESH index
        exists; stale or absent index is a silent no-op.  Bounded
        candidate sets reach the corpus scan as a pushed-down
        ``In(id, ...)`` filter, larger ones as a semi-join
        (textindex.apply_candidate_prune).  The caller's exact
        predicate ALWAYS still runs — pruning only shrinks the rows it
        runs over."""
        idx = getattr(self, "_text_index", None)
        if (
            idx is None
            or not groups
            or getattr(self, "_text_index_src", None) is not self.df
        ):
            return df
        from .operators import textindex as TI

        cand = TI.contains_candidates_disjunctive(
            idx, [list(g) for g in groups], self._text_index_n
        )
        return TI.apply_candidate_prune(df, cand, id_col="id")

    def _hnsw_index_path(self) -> str:
        assert self.persist_dir
        return os.path.join(self.persist_dir, "_hnsw_index")

    def _embedding_signature(self) -> str:
        """Order-insensitive snapshot signature over (id, embedding) —
        the columns the HNSW graph is a function of (the text-index
        signature hashes content instead; an upsert that swaps a
        vector under the same text must still invalidate the graph)."""
        row = self.df.agg(
            F.count(F.lit(1)).alias("n"),
            F.bit_xor(
                F.xxhash64(F.col("id"), F.col("embedding").cast("string"))
            ).alias("sig"),
        ).head()
        return f"{row['n']}:{row['sig']}"

    def build_hnsw_index(
        self,
        M: int = 16,
        ef_construction: int = 200,
        seed: int = 42,
        max_points: int = 1_000_000,
    ):
        """Build the served HNSW graph over the collection's current
        snapshot (the reference's other roadmap index, README.md:176;
        operators/hnsw.py) and — on a persistent collection — snapshot
        it under the collection directory behind the same
        corpus-signature staleness contract as the text index
        (:meth:`build_text_index`): a later session reloads it with
        :meth:`load_hnsw_index` only while the corpus is unmutated.
        Returns the index; pass it to ``query_embedding(index=...)``
        (a served index wins the routing ladder outright)."""
        from .operators.hnsw import HNSWIndex

        idx = HNSWIndex.build(
            self.df, vec_col="embedding", id_col="id",
            M=M, ef_construction=ef_construction, seed=seed,
            max_points=max_points,
        )
        if self.persist_dir:
            import json

            path = self._hnsw_index_path()
            idx.save(path)  # atomic (single npz replace)
            meta_file = os.path.join(path, "_index_meta.json")
            with open(meta_file + ".tmp", "w") as f:
                json.dump({"signature": self._embedding_signature()}, f)
            os.replace(meta_file + ".tmp", meta_file)
        return idx

    def load_hnsw_index(self):
        """Reload a persisted HNSW snapshot from a previous session, or
        ``None`` when none exists or the stored (id, embedding)
        signature no longer matches the table — a stale graph must
        never serve live queries (same refusal contract as
        :meth:`load_text_index`)."""
        import json

        if not self.persist_dir:
            return None
        path = self._hnsw_index_path()
        meta_file = os.path.join(path, "_index_meta.json")
        if not os.path.exists(meta_file):
            return None
        with open(meta_file) as f:
            meta = json.load(f)
        if meta.get("signature") != self._embedding_signature():
            return None
        from .operators.hnsw import HNSWIndex

        return HNSWIndex.load(path)

    def _ann_index_path(self) -> str:
        assert self.persist_dir
        return os.path.join(self.persist_dir, "_ann_index")

    def build_ann_index(
        self,
        n_clusters: int = 16,
        pq: bool = False,
        m: int = 16,
        seed: int = 42,
        kind: str | None = None,
        persist: bool = True,
    ):
        """Build an ANN index over the collection's current snapshot
        (the reference lists HNSW/IVFFlat as roadmap, README.md:176-178;
        this is the Spark-native realization — see operators/ann.py).

        ``kind`` picks the tier: ``"ivf"`` (default; full vectors),
        ``"ivf_sq"`` (1-byte scalar quantization + exact re-rank),
        ``"ivf_pq"`` (m-byte product quantization + exact re-rank).
        ``pq=True`` is the pre-r8 spelling of ``kind="ivf_pq"``.  The
        index is a SNAPSHOT: rebuild after bulk ingest (at scale, index
        builds are scheduled jobs, not per-write maintenance).

        On a persistent collection the index is saved under the
        collection directory behind the SAME (id, embedding) signature
        staleness contract as the HNSW/text indexes — a later session
        calls :meth:`load_ann_index` and gets the served tier back only
        while the corpus is unmutated (``persist=False`` skips the
        write for throwaway experiments).

        The returned index serves from its own cells, never from the
        live table: a persistent build returns the stored index (the
        same read :meth:`load_ann_index` makes, pruned by ``cluster_id``
        partition at every probe); otherwise the cell tables are pinned
        with ``materialize``, so the assignment runs once and later
        writes to the collection cannot change or break the index."""
        if kind is None:
            kind = "ivf_pq" if pq else "ivf"
        tiers = self._ann_tiers()
        if kind not in tiers:
            raise ValueError(
                f"unknown ANN index kind {kind!r}; expected "
                "'ivf', 'ivf_sq' or 'ivf_pq' (HNSW: build_hnsw_index)"
            )
        opts = {"m": m} if kind == "ivf_pq" else {}
        idx = tiers[kind].build(
            self.df, n_clusters=n_clusters,
            vec_col="embedding", id_col="id", seed=seed, **opts,
        )
        if not (persist and self.persist_dir):
            return idx.pin()
        import json

        path = self._ann_index_path()
        meta_file = os.path.join(path, "_index_meta.json")
        # invalidate BEFORE rewriting the data: the parquet
        # overwrite is not atomic, and a crash mid-save must leave
        # a snapshot load_ann_index REFUSES (no meta) rather than
        # one that pairs new data with the previous build's kind
        if os.path.exists(meta_file):
            os.remove(meta_file)
        idx.save(os.path.join(path, "data"))
        tmp = meta_file + ".tmp"
        with open(tmp, "w") as f:
            json.dump(
                {"kind": kind, "signature": self._embedding_signature()},
                f,
            )
        os.replace(tmp, meta_file)  # commit point
        return self._load_ann(kind)

    @staticmethod
    def _ann_tiers() -> dict:
        from .operators.ann import IVFIndex, IVFPQIndex, IVFSQIndex

        return {"ivf": IVFIndex, "ivf_sq": IVFSQIndex, "ivf_pq": IVFPQIndex}

    def _load_ann(self, kind: str):
        """The stored ANN index of ``kind``: a manifest-aware read of the
        cells under the collection directory, pruned by ``cluster_id``
        partition at every probe."""
        data = os.path.join(self._ann_index_path(), "data")
        tier = self._ann_tiers()[kind]
        if kind == "ivf":
            return tier.load(self.spark, data, vec_col="embedding", id_col="id")
        return tier.load(self.spark, data)

    def load_ann_index(self):
        """Reload the persisted ANN index from a previous session, or
        ``None`` when none exists or the stored (id, embedding)
        signature no longer matches the table (same refusal contract
        as :meth:`load_hnsw_index` — a stale index must never serve
        live queries).  The returned object plugs straight into
        ``query_embedding(index=...)`` / ``query_batch(index=...)``."""
        import json

        if not self.persist_dir:
            return None
        meta_file = os.path.join(self._ann_index_path(), "_index_meta.json")
        if not os.path.exists(meta_file):
            return None
        with open(meta_file) as f:
            meta = json.load(f)
        if meta.get("signature") != self._embedding_signature():
            return None
        return self._load_ann(meta.get("kind", "ivf"))

    def query_embedding_ann(
        self,
        query_embedding: Sequence[float],
        n_results: int,
        index=None,
        nprobe: int = 4,
        where: Mapping | None = None,
        **index_kwargs,
    ) -> DataFrame:
        """ANN-backed query: probe ``nprobe`` IVF cells instead of
        scanning the corpus. ``index`` is a previously built
        ``build_ann_index`` result (built on the fly if omitted — only
        sensible for experimentation). With ``nprobe >= n_clusters`` the
        result is exact.

        ``where`` applies the same metadata-filter DSL as
        :meth:`query` BELOW the scoring projection inside the probed
        partitions (IVFIndex.search_filtered) — filtered vector search
        on the ANN path.  Raise ``nprobe`` with filter selectivity: a
        harsh filter can empty a probed cell (standard ANN caveat)."""
        if query_embedding is None or len(query_embedding) == 0:
            raise ValueError(E.ERR_QUERY_EMBEDDING_EMPTY)
        if n_results <= 0:
            raise ValueError(E.ERR_NRESULTS_POSITIVE)
        if index is None:
            # throwaway per-query build: never persist a snapshot the
            # caller didn't ask to serve
            index_kwargs.setdefault("persist", False)
            index = self.build_ann_index(**index_kwargs)
        from .operators.ann import IVFIndex, _CodedIVF

        if where:
            from .operators.filters import where_predicate

            # Only the flat IVF tier carries full vectors + metadata into
            # the probed partitions; reject ANY other index with the
            # router's descriptive error for its tier (not an
            # AttributeError on a missing search_filtered).
            if not isinstance(index, IVFIndex):
                from .operators.router import _filtered_index_error

                raise ValueError(_filtered_index_error(index))
            return index.search_filtered(
                list(query_embedding), int(n_results), nprobe=nprobe,
                where=where_predicate(where),
            )
        if isinstance(index, _CodedIVF):
            return index.search_batch(
                ["0"], [list(query_embedding)], int(n_results), nprobe=nprobe
            ).drop("query_id")
        return index.search(list(query_embedding), int(n_results), nprobe=nprobe)

    def query_hybrid(
        self,
        query_text: str,
        n_results: int,
        depth: int = 50,
        rrf_k: int = 60,
    ) -> DataFrame:
        """Hybrid retrieval (beyond the reference, the standard
        production upgrade over vector-only search): embed the query
        for the cosine ranking, tokenize it for the idf-weighted
        keyword ranking, fuse with reciprocal-rank fusion
        (operators/hybrid.py).  Returns (id, rrf_score, lex_rank,
        vec_rank) ordered by fused score."""
        import re

        if not query_text:
            raise ValueError(E.ERR_QUERY_TEXT_EMPTY)
        if self.embedding_func is None:
            raise ValueError("no embedding function configured")
        if n_results <= 0:
            raise ValueError(E.ERR_NRESULTS_POSITIVE)
        n_docs = self.count()
        if n_results > n_docs:
            raise ValueError(E.ERR_NRESULTS_TOO_LARGE)
        from .operators.hybrid import hybrid_search

        qv = self.embedding_func(query_text)
        terms = re.findall(r"[a-z]+|[0-9]+|[^a-z0-9\s]", query_text.lower())
        return hybrid_search(
            self.df,
            query_terms=terms,
            query_vec=qv,
            k=int(n_results),
            depth=depth,
            rrf_k=rrf_k,
            text_col="content",
            vec_col="embedding",
            id_col="id",
            n_docs=n_docs,
        )

    def query_bm25(
        self,
        query_text: str,
        n_results: int,
        k1: float = 1.2,
        b: float = 0.75,
    ) -> DataFrame:
        """Pure lexical retrieval with full Robertson/Lucene BM25
        (operators/hybrid.bm25_scores): tf saturation + document
        length normalization — the keyword side of the stack on its
        own, for no-embedding callers.  Returns (id, bm25) top-n."""
        import re

        if not query_text:
            raise ValueError(E.ERR_QUERY_TEXT_EMPTY)
        if n_results <= 0:
            raise ValueError(E.ERR_NRESULTS_POSITIVE)
        n_docs = self.count()
        if n_results > n_docs:
            raise ValueError(E.ERR_NRESULTS_TOO_LARGE)
        from .operators.hybrid import bm25_scores

        terms = re.findall(r"[a-z]+|[0-9]+|[^a-z0-9\s]", query_text.lower())
        out = bm25_scores(
            self.df, terms, k1=k1, b=b,
            text_col="content", id_col="id", n_docs=n_docs,
        )
        return out.orderBy(F.desc("bm25"), "id").limit(int(n_results))

    def query_prf(
        self,
        query_text: str,
        n_results: int,
        fb_docs: int = 10,
        fb_terms: int = 5,
    ) -> DataFrame:
        """Lexical retrieval with pseudo-relevance-feedback expansion
        (operators/hybrid.prf_search): BM25 feedback docs pick
        expansion terms, the widened query re-runs BM25 — recall
        without embeddings."""
        import re

        if not query_text:
            raise ValueError(E.ERR_QUERY_TEXT_EMPTY)
        if n_results <= 0:
            raise ValueError(E.ERR_NRESULTS_POSITIVE)
        n_docs = self.count()
        if n_results > n_docs:
            raise ValueError(E.ERR_NRESULTS_TOO_LARGE)
        from .operators.hybrid import prf_search

        terms = re.findall(r"[a-z]+|[0-9]+|[^a-z0-9\s]", query_text.lower())
        return prf_search(
            self.df, terms, k=int(n_results), fb_docs=fb_docs,
            fb_terms=fb_terms, text_col="content", id_col="id",
            n_docs=n_docs,
        )

    def query_mmr(
        self,
        query_text: str,
        n_results: int,
        fetch_k: int = 50,
        lam: float = 0.5,
    ) -> DataFrame:
        """Diversity-aware retrieval: cosine top-``fetch_k`` reranked by
        maximal marginal relevance (operators/hybrid.mmr_rerank) — near
        duplicate results are penalized so the k results cover the
        neighborhood instead of repeating it."""
        if not query_text:
            raise ValueError(E.ERR_QUERY_TEXT_EMPTY)
        if self.embedding_func is None:
            raise ValueError("no embedding function configured")
        if n_results <= 0:
            raise ValueError(E.ERR_NRESULTS_POSITIVE)
        if n_results > self.count():
            raise ValueError(E.ERR_NRESULTS_TOO_LARGE)
        from .operators.hybrid import mmr_rerank

        qv = self.embedding_func(query_text)
        return mmr_rerank(
            self.df,
            query_vec=qv,
            k=int(n_results),
            fetch_k=fetch_k,
            lam=lam,
            vec_col="embedding",
            id_col="id",
        )

    def query_batch(
        self,
        query_texts: Sequence[str] | None = None,
        query_embeddings: Sequence[Sequence[float]] | None = None,
        n_results: int = 10,
        where=None,
        where_document=None,
        per_query_filters: Sequence[Mapping] | None = None,
        index=None,
        target_recall: float = 0.95,
        tuned: dict | None = None,
        extended_filters: bool = False,
    ) -> DataFrame:
        """Batch query — the shape the reference cannot express (it runs
        ONE query vector at a time, SURVEY §2.4 note): all queries are
        scored against the corpus in one pass; result has a ``query_id``
        column (the query's index as a string). Texts are embedded with
        the bound embedding func.

        ``where``/``where_document``/``extended_filters`` apply to the
        whole batch with the same semantics as :meth:`query_embedding`
        (a fresh gram index pre-prunes their ``$contains`` structure).
        ``per_query_filters``: optional list (one entry per query, None
        entries allowed) of ``{"where": {...}, "where_document":
        {"$contains": ..., "$not_contains": ...}}`` in the reference's
        flat shape — EACH query gets its own filter, folded into the
        broadcast-join condition (knn_ops.knn_expr_filtered_dsl), so
        non-matching pairs are never scored.  Without per-query filters
        the block-matrix GEMM kernel runs instead (fastest path).

        ``index`` / ``target_recall`` / ``tuned`` route the whole batch
        through ONE tier decision, with the same ladder and served-index
        rule as :meth:`query_embedding`.  Per-query filters route with
        ``filtered=True`` (FLAT or IVF): FLAT keeps the DSL kernel, IVF
        threads each query's predicates into the cluster-pruned probe
        join (``IVFIndex.search_batch_dsl``), and forcing a quantized
        tier raises.  A served non-IVF index with per-query filters
        takes the FLAT DSL kernel; callers that already hold per-query
        allowed id sets can walk a graph directly with
        ``HNSWIndex.search_batch(allowed_per_query=...)``."""
        if query_embeddings is None:
            if not query_texts:
                raise ValueError(E.ERR_QUERY_TEXT_EMPTY)
            if self.embedding_func is None:
                raise ValueError("no embedding function configured")
            query_embeddings = [self.embedding_func(t) for t in query_texts]
        if len(query_embeddings) == 0:
            raise ValueError(E.ERR_QUERY_EMBEDDING_EMPTY)
        if n_results <= 0:
            raise ValueError(E.ERR_NRESULTS_POSITIVE)
        validate_where_document(where_document)
        qids = [str(i) for i in range(len(query_embeddings))]
        qvecs = [[float(x) for x in q] for q in query_embeddings]
        parsed = None
        if per_query_filters is not None:
            parsed = self._parse_per_query_filters(
                per_query_filters, len(query_embeddings)
            )
        pred, groups, index, allowed = self._front_end(
            where, where_document, extended_filters, index,
            per_query=parsed is not None,
        )
        if parsed is not None:
            # ONE prune covers the global groups AND the per-query
            # $contains lists (capped cross-product: both constraint
            # sets are required, so their AND-fold is sound and tighter)
            from .operators.filters import and_fold_groups

            per_q = [list(c) for (_w, c, _nc) in parsed]
            groups = and_fold_groups(
                groups, per_q if (per_q and all(per_q)) else []
            )
            if index is not None:
                return self._query_batch_routed_dsl(
                    qids, qvecs, n_results, parsed, pred, groups, index,
                    target_recall, tuned,
                )
            return self._query_batch_flat_dsl(
                qids, qvecs, n_results, parsed,
                self._scan_frame(pred, groups),
            )
        if index is not None:
            from .operators import router as R

            base, n_docs = self._routed_frame(index, groups)
            return R.routed_search_batch(
                base, qids, qvecs, int(n_results), vec_col="embedding",
                id_col="id", index=index, target_recall=target_recall,
                where=None if allowed is not None else pred, tuned=tuned,
                n_docs=n_docs, allowed=allowed,
            )
        return knn_ops.knn_block(
            self._scan_frame(pred, groups), qids, qvecs, int(n_results)
        )

    @staticmethod
    def _parse_per_query_filters(per_query_filters, n_queries: int):
        """Validate + parse the per-query filter list into
        ``(where_map, contains_list, not_contains_list)`` tuples — the
        shape both the FLAT DSL kernel's query frame and the IVF probe
        table (``IVFIndex.search_batch_dsl``) carry."""
        if len(per_query_filters) != n_queries:
            raise ValueError(
                "per_query_filters must have one entry per query"
            )
        parsed = []
        for f in per_query_filters:
            f = dict(f or {})
            wd = dict(f.get("where_document") or {})
            validate_where_document(wd)
            c = wd.get("$contains")
            nc = wd.get("$not_contains")
            parsed.append(
                (
                    {str(k): str(v) for k, v in (f.get("where") or {}).items()},
                    [c] if isinstance(c, str) else list(c or []),
                    [nc] if isinstance(nc, str) else list(nc or []),
                )
            )
        return parsed

    def _query_batch_flat_dsl(
        self, qids, qvecs, n_results, parsed, filtered: DataFrame
    ) -> DataFrame:
        """The FLAT broadcast-join kernel for a per-query-filtered
        batch: every query row carries its parsed DSL, the condition is
        part of the join, non-matching pairs are never scored."""
        rows = [
            (qid, V.normalize_vec(qv), w, c, nc)
            for qid, qv, (w, c, nc) in zip(qids, qvecs, parsed)
        ]
        qdf = self.spark.createDataFrame(
            rows,
            "query_id string, query_vec array<double>, "
            "q_where map<string,string>, q_contains array<string>, "
            "q_not_contains array<string>",
        )
        return knn_ops.knn_expr_filtered_dsl(
            filtered,
            qdf,
            int(n_results),
            metadata_col="metadata",
            text_col="content",
            id_col="id",
        )

    def _query_batch_routed_dsl(
        self, qids, qvecs, n_results, parsed, pred, groups, index,
        target_recall, tuned,
    ) -> DataFrame:
        """A per-query-filtered batch through the router: a served IVF
        threads each query's predicates into its probe join
        (:meth:`..operators.ann.IVFIndex.search_batch_dsl`); a tier name
        is decided by ``router.decide`` with ``filtered=True``, sized on
        the filtered frame — FLAT dispatches the broadcast-join DSL
        kernel, IVF builds over the filtered frame and probes it.  The
        global predicate applies to the corpus side on every path."""
        from .operators import router as R
        from .operators.ann import IVFIndex

        k = int(n_results)
        if not isinstance(index, str):
            served = R._served_decision(index, k, target_recall)
            return index.search_batch_dsl(
                qids, qvecs, k, parsed, nprobe=served["nprobe"],
                where=pred, metadata_col="metadata", text_col="content",
            )
        filtered = self._scan_frame(pred, groups)
        n_docs = filtered.count()
        decision = R.decide(
            index, n_docs, len(qvecs[0]), k=k,
            target_recall=target_recall, filtered=True, tuned=tuned,
        )
        if decision["tier"] == "flat" or n_docs == 0:
            # an empty constrained corpus answers empty on every tier
            return self._query_batch_flat_dsl(
                qids, qvecs, n_results, parsed, filtered
            )
        idx = IVFIndex.build(
            filtered, n_clusters=decision["n_clusters"],
            vec_col="embedding", id_col="id",
        )
        return idx.search_batch_dsl(
            qids, qvecs, k, parsed, nprobe=decision["nprobe"],
            metadata_col="metadata", text_col="content",
        )


def _sql_strings(values) -> str:
    """Comma-separated SQL string literals of ``values``."""
    return ", ".join(
        "'" + v.replace("\\", "\\\\").replace("'", "\\'") + "'" for v in values
    )


def _parquet_files(path: str) -> list[str]:
    """The parquet files a scan of the local table dir ``path`` reads:
    entries starting with ``_`` or ``.`` are skipped unless they name a
    partition."""
    out = []
    for root, dirs, files in os.walk(path):
        dirs[:] = [d for d in dirs if "=" in d or d[0] not in "_."]
        out += [
            os.path.join(root, f) for f in files
            if f.endswith(".parquet") and f[0] not in "_."
        ]
    return out


def _footer_rows(files: Sequence[str]) -> int:
    """Rows in parquet ``files``, summed from their footers (no Spark job)."""
    import pyarrow.parquet as pq

    return sum(pq.read_metadata(f).num_rows for f in files)


def _log_rows(log: Mapping) -> int:
    """Rows in a :func:`batchstate.batch_files` listing."""
    return sum(n for files in log.values() for _, n in files)


def _parquet_ids(files) -> list[str]:
    """The distinct ``id`` values in parquet ``files``, read on the
    driver (no Spark job), sorted."""
    import pyarrow.parquet as pq

    return sorted(
        {i for f in files for i in pq.read_table(f, columns=["id"]).column(0).to_pylist()}
    )


def _rmtree(path: str) -> None:
    import shutil

    shutil.rmtree(path, ignore_errors=True)


def _move(src: str, dst: str) -> None:
    """Rename ``src`` to ``dst`` if ``src`` exists."""
    if os.path.exists(src):
        os.rename(src, dst)
