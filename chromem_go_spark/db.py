"""DB: the catalog of collections (reference db.go:29-38).

One directory per persisted collection (parquet data + a JSON metadata
file standing in for the reference's ``00000000.gob`` metadata record,
persistence layout reference persistence.go:20-28). Unlike the reference,
collection directories are named by the (sanitized) collection name so
the layout is human- and Spark-readable; a name-hash subdir scheme
(reference hash2hex persistence.go:22-28) adds nothing on a lakehouse.

Export/import (reference db.go:208-490): the whole DB — or a selected
subset of collections — round-trips through a single tar archive of
parquet tables + manifest, optionally gzip-compressed, optionally
AES-256-GCM encrypted with a 32-byte key (reference
persistence.go:76-149; nonce-prepended layout, compress-then-encrypt
order). Encryption uses the ``cryptography`` package's vetted AESGCM
primitive — if that package is absent, passing a key raises a
documented NotImplementedError and storage-layer encryption owns the
concern.
"""

from __future__ import annotations

import json
import os
import re
import shutil
import tarfile
import tempfile
from collections.abc import Mapping

from pyspark.sql import SparkSession

from .collection import DEFAULT_N_BUCKETS, Collection, EmbeddingFunc
from .materialize import materialize

_SAFE_NAME = re.compile(r"[^A-Za-z0-9._-]")

EXPORT_ENCODINGS = ("parquet", "jsonl")


def _check_encoding(encoding: str) -> None:
    if encoding not in EXPORT_ENCODINGS:
        raise ValueError(
            f"unknown export encoding {encoding!r}; "
            f"expected one of {EXPORT_ENCODINGS}"
        )


def _check_encryption_key(encryption_key: str):
    """Validate the export/import encryption key and return the AES-GCM
    cipher, or None when no key is given.

    Mirrors the reference exactly (persistence.go:38-43, db.go:213-216):
    AES-256 requires a 32-byte key, golden error string included. The
    cipher comes from the ``cryptography`` package (a vetted primitive —
    never hand-rolled); if that package is absent this stays a
    documented stub."""
    if not encryption_key:
        return None
    key = encryption_key.encode("utf-8")
    if len(key) != 32:
        raise ValueError("encryption key must be 32 bytes long")
    try:
        from cryptography.hazmat.primitives.ciphers.aead import AESGCM
    except ImportError as e:
        raise NotImplementedError(
            "STUB: AES-GCM export encryption needs the 'cryptography' "
            "package, which is not installed; use storage-layer encryption"
        ) from e
    return AESGCM(key)


def _dirname_for(name: str) -> str:
    return _SAFE_NAME.sub("_", name)


class DB:
    """In-memory catalog (reference NewDB db.go:44-48) or persistent
    catalog (reference NewPersistentDB db.go:68-181)."""

    def __init__(self, spark: SparkSession, persist_dir: str | None = None, compress: bool = False):
        self.spark = spark
        self.persist_dir = persist_dir
        self.compress = compress
        self._collections: dict[str, Collection] = {}
        if persist_dir:
            os.makedirs(persist_dir, exist_ok=True)
            self._load_persistent()

    @classmethod
    def new_persistent(cls, spark: SparkSession, path: str, compress: bool = False) -> "DB":
        return cls(spark, persist_dir=path, compress=compress)

    def _load_persistent(self) -> None:
        """Directory scan on open (reference db.go:104-178): every subdir
        with a collection.json is a collection; foreign files are skipped.
        Embedding funcs are not serializable and get re-bound at
        get_collection time (reference db.go:536-558)."""
        assert self.persist_dir
        for entry in sorted(os.listdir(self.persist_dir)):
            sub = os.path.join(self.persist_dir, entry)
            meta_path = os.path.join(sub, "collection.json")
            if not os.path.isdir(sub) or not os.path.exists(meta_path):
                continue
            with open(meta_path) as f:
                meta = json.load(f)
            c = Collection(
                self.spark,
                meta["name"],
                metadata=meta.get("metadata", {}),
                embedding_func=None,
                persist_dir=sub,
                compress=self.compress,
                n_buckets=meta.get("n_buckets"),
                table_format=meta.get("table_format"),
            )
            self._collections[meta["name"]] = c

    # ---------------- catalog ops (reference db.go:498-629) ----------------

    def create_collection(
        self,
        name: str,
        metadata: Mapping[str, str] | None = None,
        embedding_func: EmbeddingFunc | None = None,
        n_buckets: int | None = None,
        table_format: str | None = None,
    ) -> Collection:
        """``n_buckets``: hash-bucket count for the persistent base.
        Defaults to ``DEFAULT_N_BUCKETS`` for persistent collections so
        a fold of the write log rewrites only the buckets holding folded
        ids, not the whole base; pass 0 for the flat single-directory
        layout.

        ``table_format``: ``"delta"`` backs upserts/deletes with native
        MERGE/DELETE transactions (object-store-safe; requires
        delta-spark, runtime-checked); default plain parquet."""
        if not name:
            raise ValueError("collection name is empty")
        sub = os.path.join(self.persist_dir, _dirname_for(name)) if self.persist_dir else None
        if sub and n_buckets is None and (table_format or "parquet") == "parquet":
            n_buckets = DEFAULT_N_BUCKETS
        c = Collection(
            self.spark,
            name,
            metadata=metadata,
            embedding_func=embedding_func,
            persist_dir=sub,
            compress=self.compress,
            n_buckets=n_buckets,
            table_format=table_format,
        )
        if sub:
            c._write_meta()
        self._collections[name] = c
        return c

    def get_collection(self, name: str, embedding_func: EmbeddingFunc | None = None) -> Collection | None:
        c = self._collections.get(name)
        if c is not None and c.embedding_func is None and embedding_func is not None:
            c.embedding_func = embedding_func
        return c

    def get_or_create_collection(
        self,
        name: str,
        metadata=None,
        embedding_func: EmbeddingFunc | None = None,
        n_buckets: int | None = None,
    ) -> Collection:
        """Reference GetOrCreateCollection (db.go:576-592). ``n_buckets``
        reaches the bucketed layout from the convenience path too; it
        only applies when the collection is newly created."""
        c = self.get_collection(name, embedding_func)
        if c is None:
            c = self.create_collection(name, metadata, embedding_func, n_buckets=n_buckets)
        return c

    def list_collections(self) -> dict[str, Collection]:
        return dict(self._collections)

    def delete_collection(self, name: str) -> None:
        if not name:
            raise ValueError("collection name is empty")
        c = self._collections.pop(name, None)
        if c is not None and c.persist_dir:
            shutil.rmtree(c.persist_dir, ignore_errors=True)

    def reset(self) -> None:
        """Drop everything (reference db.go:610-629)."""
        for name in list(self._collections):
            self.delete_collection(name)
        if self.persist_dir:
            shutil.rmtree(self.persist_dir, ignore_errors=True)
            os.makedirs(self.persist_dir, exist_ok=True)

    # ---------------- export / import (reference db.go:208-490) ----------------

    def export_to_writer(
        self,
        writer,
        compress: bool = False,
        encryption_key: str = "",
        collections: list[str] | None = None,
        encoding: str = "parquet",
    ) -> None:
        """Stream export (reference ExportToWriter db.go:450-490): the
        same tar+manifest payload as :meth:`export_to_file`, written to
        any binary file-like object — an S3 multipart upload body, an
        HTTP response, an ``io.BytesIO``. Tar STREAM mode (``w|``), so
        the writer never needs to seek (reference's ``io.Writer``
        contract; S3 example examples/s3-export-import/main.go:54-70).

        ``encryption_key`` (32 bytes, reference persistence.go:76-149):
        AES-256-GCM over the whole payload, random 12-byte nonce
        prepended (the reference's ``gcm.Seal(nonce, nonce, ...)``
        layout). Compression happens BEFORE encryption, like the
        reference's gob->flate->AES chain. Requires the ``cryptography``
        package (vetted primitive, import-gated).

        The payload is the collection DATA (documents + metadata);
        index snapshots (text/ANN/HNSW) are rebuildable caches and are
        deliberately not exported — rebuild them after import (the
        signature-guarded loaders return None on the fresh directory,
        never a stale graph)."""
        if writer is None or not hasattr(writer, "write"):
            raise ValueError("writer is nil or not a binary writer")
        _check_encoding(encoding)
        aesgcm = _check_encryption_key(encryption_key)
        names = collections if collections else list(self._collections)
        for n in names:
            if n not in self._collections:
                raise ValueError(f"unknown collection: {n}")
        if aesgcm is not None:
            # GCM authenticates the whole message: buffer, seal, write
            # (the reference likewise buffers before Seal,
            # persistence.go:108-143)
            import io

            buf = io.BytesIO()
            self._write_tar(buf, compress, names, encoding)
            nonce = os.urandom(12)  # GCM standard nonce size
            writer.write(nonce + aesgcm.encrypt(nonce, buf.getvalue(), None))
            return
        self._write_tar(writer, compress, names, encoding)

    def _write_tar(
        self, fileobj, compress: bool, names: list[str],
        encoding: str = "parquet",
    ) -> None:
        mode = "w|gz" if compress else "w|"
        with tempfile.TemporaryDirectory() as tmp:
            manifest = []
            for n in names:
                c = self._collections[n]
                sub = _dirname_for(n)
                out = os.path.join(tmp, sub)
                w = c.df.coalesce(1).write.mode("overwrite")
                # "jsonl" is the reference roadmap's second encoding
                # (README.md:181 "JSON as second encoding format"):
                # line-delimited JSON documents, human-readable and
                # engine-neutral; parquet stays the default
                if encoding == "jsonl":
                    w.json(out)
                else:
                    w.parquet(out)
                manifest.append({
                    "name": n, "dir": sub, "metadata": c.metadata,
                    "encoding": encoding,
                })
            with open(os.path.join(tmp, "manifest.json"), "w") as f:
                json.dump(manifest, f)
            # manifest first: a streaming importer can read it before any
            # table payload arrives.
            with tarfile.open(fileobj=fileobj, mode=mode) as tar:
                tar.add(os.path.join(tmp, "manifest.json"), arcname="manifest.json")
                for m in manifest:
                    tar.add(os.path.join(tmp, m["dir"]), arcname=m["dir"])

    def export_to_file(
        self, file_path: str, compress: bool = False, encryption_key: str = "", collections: list[str] | None = None,
        encoding: str = "parquet",
    ) -> None:
        if not file_path:
            raise ValueError("file path is empty")
        _check_encoding(encoding)
        # validate BEFORE opening: open(..., 'wb') truncates, and a bad
        # key / unknown collection name must not destroy an existing
        # export at the destination path
        _check_encryption_key(encryption_key)
        for n in collections or []:
            if n not in self._collections:
                raise ValueError(f"unknown collection: {n}")
        with open(file_path, "wb") as f:
            self.export_to_writer(
                f, compress, encryption_key, collections, encoding
            )

    def import_from_reader(
        self, reader, encryption_key: str = "", collections: list[str] | None = None
    ) -> None:
        """Stream import (reference ImportFromReader db.go:297-355):
        reads the tar(.gz) export payload from any binary file-like
        object. ``r|*`` stream mode — gzip is autodetected and the
        reader never needs to seek. Overwrites existing collections of
        the same name; optional name filter imports a subset."""
        if reader is None or not hasattr(reader, "read"):
            raise ValueError("reader is nil or not a binary reader")
        aesgcm = _check_encryption_key(encryption_key)
        if aesgcm is not None:
            import io

            blob = reader.read()
            if len(blob) < 12:
                raise ValueError("encrypted data too short")
            # raises InvalidTag on a wrong key / tampered payload — the
            # reference surfaces gcm.Open's error the same way
            # (persistence.go:216-219)
            reader = io.BytesIO(aesgcm.decrypt(blob[:12], blob[12:], None))
        with tempfile.TemporaryDirectory() as tmp:
            with tarfile.open(fileobj=reader, mode="r|*") as tar:
                tar.extractall(tmp, filter="data")
            with open(os.path.join(tmp, "manifest.json")) as f:
                manifest = json.load(f)
            for m in manifest:
                if collections and m["name"] not in collections:
                    continue
                # localCheckpoint pins the rows before the extracted temp
                # dir disappears (DataFrames are lazy).  The per-entry
                # manifest encoding routes the reader; JSON is read with
                # the explicit document schema (inference would type the
                # metadata map as a struct of observed keys).
                src = os.path.join(tmp, m["dir"])
                if m.get("encoding", "parquet") == "jsonl":
                    from .document import DOCUMENT_SCHEMA

                    df = materialize(
                        self.spark.read.schema(DOCUMENT_SCHEMA).json(src)
                    )
                else:
                    df = materialize(self.spark.read.parquet(src))
                c = self.create_collection(m["name"], metadata=m.get("metadata", {}))
                c.add_df(df, normalize=False)

    def import_from_file(
        self, file_path: str, encryption_key: str = "", collections: list[str] | None = None
    ) -> None:
        """Overwrites existing collections of the same name (reference
        db.go:251-277); optional name filter imports a subset."""
        if not file_path:
            raise ValueError("file path is empty")
        if not os.path.exists(file_path):
            raise FileNotFoundError(f"file doesn't exist: {file_path}")
        with open(file_path, "rb") as f:
            self.import_from_reader(f, encryption_key, collections)
