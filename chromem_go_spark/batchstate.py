"""Shared protocol for append-partitioned tables (``__batch=N`` dirs).

Incremental surfaces persist micro-batch output as one partition per
batch id — the near-dup state tables (streaming/ingest.py) and the
appendable ANN indexes (operators/ann.py).  This module owns the two
filesystem-level operations they share, through the Hadoop FileSystem
API so the same code runs on local dirs and object stores:

- :func:`drop_batch_partition` — replay idempotence: a foreachBatch
  retry deletes its own partition before re-writing it;
- :func:`fold_batch_partitions` — compaction: fold history partitions
  into the reserved base partition so the dir count stays bounded.

The streaming state tables also share their replay-idempotent row I/O:
:func:`write_batch` (dynamic ``__batch`` partition overwrite) and
:func:`read_history` (:func:`read_live` minus the current batch).
Append-only logs (a persistent collection's write log) commit each
batch whole with :func:`commit_batch` (temp-write + rename), list what
is committed, with row counts, with :func:`batch_files` and read it
with :func:`read_batches`.

Crash consistency of the fold — stage-then-promote, never overwriting
live data:

1. The folded rows (everything foldable + the current base, deduped)
   are first written to a STAGING partition (``__batch=-2``); source
   dirs are untouched, so a crash here costs nothing but a stale
   staging dir (cleared, and its duplicate rows collapsed by
   ``dropDuplicates``, on the next fold).
2. A MARKER recording {delete: [...], stage: ...} is committed by
   write-to-temp + atomic rename — a half-written marker can never be
   observed.
3. Only then are the source dirs (including the old base) deleted and
   the staging dir renamed to the base.  A crash anywhere in step 3 is
   healed by :func:`_heal_pending` on the next fold: finish the
   deletes, finish the rename, drop the marker.

The base partition is therefore never deleted before a complete,
committed replacement exists.  Readers between a crash and the next
fold can transiently observe duplicated history rows (at-least-once);
callers that cannot tolerate that should fold at session start.

Two commit modes:

- ``commit_mode="rename"`` (default): promote staging to the base by
  directory rename — atomic on POSIX/HDFS, NOT on S3-class object
  stores.
- ``commit_mode="manifest"``: object-store-safe.  The folded rows are
  written to an alternating reserved GENERATION partition (``__batch=-3``
  / ``-4``); the commit point is a single small ``_base_manifest.json``
  naming the live generation and the obsolete dirs (one PUT — atomic
  visibility on S3; temp+rename locally).  Directories are never
  renamed; obsolete dirs are garbage-collected after the commit and a
  failed GC is healed by the next fold.  Readers go through
  :func:`read_live`, which filters uncommitted generations and
  not-yet-collected obsolete dirs — so manifest-mode readers see an
  exactly-once view even inside the crash windows.  A table stays in
  one mode for its whole life.
"""

from __future__ import annotations

import json

from pyspark.sql import SparkSession
from pyspark.sql import functions as F

_MARKER = "_compact_pending.json"
_STAGE_BATCH = -2  # reserved staging id; never a valid caller batch
_MANIFEST = "_base_manifest.json"
_GEN_A, _GEN_B = -3, -4  # alternating manifest-mode base generations
_STAGING = "_staging-"  # commit_batch's uncommitted batches: invisible to scans


def _fs(spark: SparkSession, path: str):
    jvm = spark._jvm
    hpath = jvm.org.apache.hadoop.fs.Path(path)
    return jvm, hpath.getFileSystem(spark._jsc.hadoopConfiguration()), hpath


def drop_batch_partition(spark: SparkSession, table_path: str, batch_id: int) -> None:
    """Delete ``<table_path>/__batch=<id>`` if present (idempotent-replay
    support: an at-least-once retry replaces its own partition).

    Negative ids are reserved (base = caller-chosen, conventionally -1;
    staging = -2): letting a caller "replay" one of those would silently
    delete the whole compacted base index, so it's a hard error."""
    if int(batch_id) < 0:
        raise ValueError(
            f"batch_id must be >= 0 (got {batch_id}): negative ids are "
            "reserved for the compacted base (-1) and staging (-2) "
            "partitions; dropping them would destroy the index"
        )
    jvm, fs, _ = _fs(spark, table_path)
    part = jvm.org.apache.hadoop.fs.Path(table_path, f"__batch={int(batch_id)}")
    if fs.exists(part):
        fs.delete(part, True)


def _heal_pending(spark: SparkSession, table_path: str, base_batch: int) -> None:
    """Finish a fold that crashed after committing its marker: delete
    the listed source dirs, promote the staging dir to the base, drop
    the marker.  An unparseable marker (can only be a pre-atomic-rename
    artifact of an old version, or manual damage) is discarded — the
    no-marker crash window is already healed by dedup-on-fold."""
    jvm, fs, _ = _fs(spark, table_path)
    marker = jvm.org.apache.hadoop.fs.Path(table_path, _MARKER)
    if not fs.exists(marker):
        return
    stream = fs.open(marker)
    try:
        raw = bytes(stream.readAllBytes())  # java.io.InputStream, JDK 9+
    finally:
        stream.close()
    try:
        plan = json.loads(raw.decode())
        deletes, stage = plan["delete"], plan["stage"]
    except (ValueError, KeyError, TypeError, UnicodeDecodeError):
        fs.delete(marker, False)
        return
    stage_path = jvm.org.apache.hadoop.fs.Path(table_path, stage)
    if fs.exists(stage_path):
        for name in deletes:
            gone = jvm.org.apache.hadoop.fs.Path(table_path, name)
            if fs.exists(gone) and not fs.delete(gone, True):
                raise IOError(f"heal: could not delete {name} under {table_path}")
        if not fs.rename(
            stage_path,
            jvm.org.apache.hadoop.fs.Path(table_path, f"__batch={base_batch}"),
        ):
            # Hadoop rename reports failure as False, not an exception.
            # Keep the marker so the next fold retries the promote —
            # deleting it here would strand the folded rows in staging.
            raise IOError(
                f"heal: could not promote {stage} to __batch={base_batch} "
                f"under {table_path}"
            )
    fs.delete(marker, False)


def _write_marker(spark: SparkSession, table_path: str, payload: dict) -> None:
    """Commit the marker atomically: write a temp file, then rename —
    a crash mid-write leaves only the temp, never a partial marker."""
    jvm, fs, _ = _fs(spark, table_path)
    tmp = jvm.org.apache.hadoop.fs.Path(table_path, _MARKER + ".tmp")
    out = fs.create(tmp, True)
    try:
        out.write(bytearray(json.dumps(payload).encode()))
    finally:
        out.close()
    if not fs.rename(tmp, jvm.org.apache.hadoop.fs.Path(table_path, _MARKER)):
        raise IOError(f"could not commit marker {_MARKER} under {table_path}")


def read_json_commit(
    spark: SparkSession, dir_path: str, name: str
) -> dict | None:
    """Read a single-file JSON commit point, or None when absent or
    unreadable (treat-as-absent keeps a torn pre-first-commit state
    harmless).  Shared by the ``__batch`` fold manifest and the
    corpus-shard snapshot manifest (pipeline.write_corpus_shards)."""
    jvm, fs, _ = _fs(spark, dir_path)
    p = jvm.org.apache.hadoop.fs.Path(dir_path, name)
    if not fs.exists(p):
        return None
    stream = fs.open(p)
    try:
        raw = bytes(stream.readAllBytes())
    finally:
        stream.close()
    try:
        return json.loads(raw.decode())
    except (ValueError, UnicodeDecodeError):
        return None


def _read_manifest(spark: SparkSession, table_path: str) -> dict | None:
    man = read_json_commit(spark, table_path, _MANIFEST)
    if man is None:
        return None
    try:
        int(str(man["base"]).split("=", 1)[1])
        return man
    except (ValueError, KeyError, TypeError, IndexError):
        return None  # unreadable manifest: treat as absent (pre-first-commit)


def _batch_id(dirname: str) -> int:
    return int(dirname.split("=", 1)[1])


def read_live(spark: SparkSession, table_path: str):
    """Manifest-aware reader for ``__batch``-partitioned tables.

    With a committed manifest, excludes obsolete dirs awaiting GC and
    any generation dir that is not the committed base — an exactly-once
    view even inside the manifest protocol's crash windows.  Without a
    manifest (rename-mode table, or a crash before the first manifest
    commit), excludes only the never-committed generation ids, which a
    rename-mode table never contains — so this is safe to use on BOTH
    modes and is what the incremental state readers use."""
    df = spark.read.parquet(table_path)
    if "__batch" not in df.columns:
        return df  # not batch-partitioned: nothing to filter
    man = _read_manifest(spark, table_path)
    if man is None:
        dead = [_GEN_A, _GEN_B]
    else:
        base_id = _batch_id(man["base"])
        dead = sorted(
            {_batch_id(n) for n in man.get("obsolete", [])}
            | ({_GEN_A, _GEN_B} - {base_id})
        )
    return df.filter(~F.col("__batch").isin(dead))


def read_history(spark: SparkSession, table_path: str, batch_id: int):
    """The live rows of every batch EXCEPT ``batch_id``, ``__batch``
    dropped — the history a micro-batch joins against.  Excluding its
    own partition means a failed earlier attempt of the SAME batch can
    never act as history for its retry."""
    return (
        read_live(spark, table_path)
        .filter(F.col("__batch") != F.lit(int(batch_id)))
        .drop("__batch")
    )


def write_batch(df, table_path: str, batch_id: int) -> None:
    """Write ``df`` as the ``__batch=<batch_id>`` partition by dynamic
    partition overwrite: a replayed micro-batch (foreachBatch is
    at-least-once) REPLACES its own partition instead of appending
    duplicates, and leaves every other partition untouched."""
    (
        df.withColumn("__batch", F.lit(int(batch_id)))
        .write.mode("overwrite")
        .option("partitionOverwriteMode", "dynamic")
        .partitionBy("__batch")
        .parquet(table_path)
    )


def batch_files(spark: SparkSession, table_path: str) -> dict[int, list[tuple[str, int]]]:
    """The committed ``__batch=N`` partitions (N >= 0) under
    ``table_path`` in ascending order, each with its parquet data files
    and their row counts (read from the footers: no Spark job); ``{}``
    when there are none.  Staging dirs (:func:`commit_batch`) never
    match."""
    import pyarrow.parquet as pq

    jvm, fs, _ = _fs(spark, table_path)
    glob = jvm.org.apache.hadoop.fs.Path(table_path, "__batch=*/*.parquet")
    out: dict[int, list[tuple[str, int]]] = {}
    for st in fs.globStatus(glob) or []:
        f = st.getPath()
        b = _batch_id(f.getParent().getName())
        if b >= 0:
            uri = f.toString()
            out.setdefault(b, []).append((uri, pq.read_metadata(uri).num_rows))
    return dict(sorted(out.items()))


def read_batches(spark: SparkSession, table_path: str, batches, schema):
    """The rows of the committed ``batches`` under ``table_path`` with
    ``schema`` pinned (``__batch`` included).  The reader is given one
    directory per batch, not each file: past
    ``spark.sql.sources.parallelPartitionDiscovery.threshold`` (32)
    paths Spark lists them with a job of its own."""
    return (
        spark.read.schema(schema)
        .option("basePath", table_path)
        .parquet(*(f"{table_path}/__batch={int(b)}" for b in batches))
    )


def commit_batch(df, table_path: str, compression: str) -> int:
    """Append ``df`` as a NEW partition ``__batch=N`` (N one past the
    newest) by temp-write + rename and return N: the rows go to a
    staging dir whose name (a leading ``_`` and no ``=``) keeps it out
    of every parquet scan, and one directory rename publishes the whole
    batch.  A crash before the rename leaves only staging, which readers
    never see and the next commit clears.  Callers serialize commits (a
    write lock); a committed batch is never replaced."""
    jvm, fs, hpath = _fs(df.sparkSession, table_path)
    Path = jvm.org.apache.hadoop.fs.Path
    batch_id = 0
    if fs.exists(hpath):
        for st in fs.listStatus(hpath):
            name = st.getPath().getName()
            if name.startswith(_STAGING):
                fs.delete(st.getPath(), True)
            elif name.startswith("__batch="):
                batch_id = max(batch_id, _batch_id(name) + 1)
    stage = f"{table_path}/{_STAGING}{batch_id}"
    df.write.mode("overwrite").option("compression", compression).parquet(stage)
    dst = Path(table_path, f"__batch={batch_id}")
    if not fs.rename(Path(stage), dst):
        raise IOError(f"could not commit {stage} as {dst}")
    return batch_id


def _heal_manifest(spark: SparkSession, table_path: str) -> None:
    """Finish a manifest-mode fold that crashed after its commit:
    garbage-collect obsolete dirs (readers already ignore them) and any
    stale uncommitted generation dir."""
    jvm, fs, hpath = _fs(spark, table_path)
    man = _read_manifest(spark, table_path)
    obsolete = set(man.get("obsolete", [])) if man else set()
    base = man["base"] if man else None
    for st in fs.listStatus(hpath):
        name = st.getPath().getName()
        if not name.startswith("__batch="):
            continue
        stale_gen = _batch_id(name) in (_GEN_A, _GEN_B) and name != base
        if name in obsolete or stale_gen:
            fs.delete(st.getPath(), True)
    if man and obsolete:
        # prune collected names so a LATER reuse of a batch id (e.g.
        # checkpoint reset) isn't wrongly excluded by a stale entry
        left = sorted(
            n
            for n in obsolete
            if fs.exists(jvm.org.apache.hadoop.fs.Path(table_path, n))
        )
        if left != sorted(obsolete):
            _write_manifest(
                spark, table_path, {"base": man["base"], "obsolete": left}
            )


def _fold_manifest(
    spark: SparkSession,
    table_path: str,
    partition_cols: list,
    exclude_batch: int | None,
    threshold: int,
    transform=None,
    force: bool = False,
) -> bool:
    jvm, fs, hpath = _fs(spark, table_path)
    _heal_manifest(spark, table_path)
    man = _read_manifest(spark, table_path)
    base = man["base"] if man else None
    keep = {base} | {f"__batch={_GEN_A}", f"__batch={_GEN_B}"}
    if exclude_batch is not None:
        keep.add(f"__batch={int(exclude_batch)}")
    foldable = [
        st.getPath().getName()
        for st in fs.listStatus(hpath)
        if st.getPath().getName().startswith("__batch=")
        and st.getPath().getName() not in keep
    ]
    if not force and len(foldable) < max(int(threshold), 1):
        return False
    from .materialize import materialize

    src = read_live(spark, table_path)
    if exclude_batch is not None:
        src = src.filter(F.col("__batch") != F.lit(int(exclude_batch)))
    folded = src.drop("__batch").dropDuplicates()
    if transform is not None:
        folded = transform(folded)
    folded = materialize(folded)
    # write the new generation (the one that is NOT the current base);
    # a half-written leftover from a prior crash is stale by definition
    target = _GEN_A if base != f"__batch={_GEN_A}" else _GEN_B
    tpath = jvm.org.apache.hadoop.fs.Path(table_path, f"__batch={target}")
    if fs.exists(tpath):
        fs.delete(tpath, True)
    (
        folded.withColumn("__batch", F.lit(target))
        .write.mode("append")
        .partitionBy(*partition_cols)
        .parquet(table_path)
    )
    # THE commit point: one small file naming the live generation
    obsolete = sorted(set(foldable) | ({base} - {None}))
    _write_manifest(spark, table_path, {"base": f"__batch={target}", "obsolete": obsolete})
    # post-commit GC; a failure here is healed by the next fold
    for name in obsolete:
        gone = jvm.org.apache.hadoop.fs.Path(table_path, name)
        if fs.exists(gone):
            fs.delete(gone, True)
    return True


def write_json_commit(
    spark: SparkSession, dir_path: str, name: str, payload: dict
) -> None:
    """Single-file commit: on object stores one PUT (create+close) is
    atomic visibility; locally/HDFS temp-write + overwrite-rename
    (FileContext + Rename.OVERWRITE — FileSystem.rename returns False
    on an existing destination) keeps partial or missing manifests
    unobservable."""
    jvm, fs, _ = _fs(spark, dir_path)
    tmp = jvm.org.apache.hadoop.fs.Path(dir_path, name + ".tmp")
    dst = jvm.org.apache.hadoop.fs.Path(dir_path, name)
    out = fs.create(tmp, True)
    try:
        out.write(bytearray(json.dumps(payload).encode()))
    finally:
        out.close()
    gateway = spark.sparkContext._gateway
    fc = jvm.org.apache.hadoop.fs.FileContext.getFileContext(
        fs.getUri(), spark._jsc.hadoopConfiguration()
    )
    opts = gateway.new_array(jvm.org.apache.hadoop.fs.Options.Rename, 1)
    opts[0] = jvm.org.apache.hadoop.fs.Options.Rename.OVERWRITE
    fc.rename(tmp, dst, opts)  # atomic; throws on failure


def _write_manifest(spark: SparkSession, table_path: str, payload: dict) -> None:
    write_json_commit(spark, table_path, _MANIFEST, payload)


def fold_batch_partitions(
    spark: SparkSession,
    table_path: str,
    partition_cols: list,
    base_batch: int,
    exclude_batch: int | None = None,
    threshold: int = 0,
    commit_mode: str = "rename",
    transform=None,
    force: bool = False,
) -> bool:
    """Fold history ``__batch=N`` partitions into ``__batch=<base_batch>``.
    Returns True iff a fold actually ran (callers gating side effects —
    e.g. tombstone clearing — on the fold having happened need this).

    ``exclude_batch``: a CURRENT batch to leave untouched (its
    replay-overwrite contract must survive compaction).  ``threshold``:
    fold only when at least this many foldable dirs exist (0/1 = fold
    whenever there is anything to fold).  ``commit_mode``: see module
    docstring — ``"rename"`` (POSIX/HDFS) or ``"manifest"``
    (object-store-safe; ``base_batch`` is ignored, the live base is the
    manifest-named generation and readers use :func:`read_live`).
    ``transform``: optional DataFrame->DataFrame applied to the folded
    rows before they are staged — the hook for compaction-time physical
    deletes (tombstone application); it MUST be idempotent, since a
    crash-healed fold may re-apply it.  ``force``: fold even when no
    history dirs are waiting (rewrites the base alone — how a transform
    reaches a table with nothing else to fold).
    """
    if commit_mode not in ("rename", "manifest"):
        raise ValueError(f"unknown commit_mode: {commit_mode!r}")
    jvm, fs, hpath = _fs(spark, table_path)
    if not fs.exists(hpath):
        return False
    if commit_mode == "manifest":
        return _fold_manifest(
            spark, table_path, partition_cols, exclude_batch, threshold,
            transform, force,
        )
    _heal_pending(spark, table_path, base_batch)
    keep = {f"__batch={base_batch}", f"__batch={_STAGE_BATCH}"}
    if exclude_batch is not None:
        keep.add(f"__batch={int(exclude_batch)}")
    foldable = [
        st.getPath().getName()
        for st in fs.listStatus(hpath)
        if st.getPath().getName().startswith("__batch=")
        and st.getPath().getName() not in keep
    ]
    if not force and len(foldable) < max(int(threshold), 1):
        return False
    from .materialize import materialize

    src = spark.read.parquet(table_path)
    if exclude_batch is not None:
        src = src.filter(F.col("__batch") != F.lit(int(exclude_batch)))
    # dedup: collapses duplicate rows left by a crash in the no-marker
    # window (stale staging dir, or base written twice by old versions)
    folded = src.drop("__batch").dropDuplicates()
    if transform is not None:
        folded = transform(folded)
    folded = materialize(folded)
    # source dirs are safe to read from now on: folded is pinned
    stage_name = f"__batch={_STAGE_BATCH}"
    stage_path = jvm.org.apache.hadoop.fs.Path(table_path, stage_name)
    if fs.exists(stage_path):  # stale staging from a pre-marker crash
        fs.delete(stage_path, True)
    (
        folded.withColumn("__batch", F.lit(_STAGE_BATCH))
        .write.mode("append")
        .partitionBy(*partition_cols)
        .parquet(table_path)
    )
    base_name = f"__batch={base_batch}"
    deletes = sorted(set(foldable) | {base_name})
    _write_marker(spark, table_path, {"delete": deletes, "stage": stage_name})
    for name in deletes:
        gone = jvm.org.apache.hadoop.fs.Path(table_path, name)
        if fs.exists(gone) and not fs.delete(gone, True):
            raise IOError(f"fold: could not delete {name} under {table_path}")
    if not fs.rename(
        stage_path, jvm.org.apache.hadoop.fs.Path(table_path, base_name)
    ):
        # Marker stays: the next fold's _heal_pending retries the promote
        # instead of the folded rows silently stranding in staging.
        raise IOError(
            f"fold: could not promote {stage_name} to {base_name} "
            f"under {table_path}"
        )
    fs.delete(jvm.org.apache.hadoop.fs.Path(table_path, _MARKER), False)
    return True
