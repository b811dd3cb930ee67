"""Parquet stores published behind a symlink pointer, and the rules
every batch-partitioned store follows.

Publishing. A store path is a SYMLINK to an immutable sibling version
directory (``path.v-<seq>-<uuid>``). A new version is written to a
staged sibling directory and published by ONE ``os.rename`` of a fresh
symlink over the old one (atomic on POSIX), so a reader holding the
path resolves to a complete store at every instant, and a crash at any
step leaves the previous version current (the staged directory is
unreferenced garbage, swept by a later publish). Reads, appends and
Spark's dynamic partition overwrite all resolve through the symlink.
Publishers are serialized by a kernel flock (``sinks.locks``) held
across rename, pointer swap and sweep. The sweep keeps the newest
``keep_versions`` version directories, so a reader, or a lazy DataFrame
whose files were listed through ``resolve_store`` before a publish,
survives one publish. On an object store the symlink becomes a manifest
pointer (the ``VersionedTable`` pattern).

Batch-partitioned stores. The streaming sinks keep their state in
stores partitioned by ``__batch_id``, under four rules:

- ``write_batch`` stamps a micro-batch's rows with its id and writes
  them with dynamic partition overwrite: a replay of batch N (the
  engine delivers foreachBatch at least once) replaces exactly its own
  partitions, and no other batch's partition is touched.
- ``read_store`` with ``before_batch=N`` reads only partitions below
  N, so a replay that crashed after a partial write recomputes from
  the pre-batch state.
- ``fold_batches`` folds every partition but the newest ``keep_last``
  into one base partition stamped with the highest folded id. The
  newest partitions stay unfolded: a replay overwrites its own
  partition, which must never be the base.
- every rewrite goes through ``publish_frame``, the staged publish.

Small files. ``compact_parquet_dir`` rewrites a directory to
ceil(total_bytes / target_bytes) files. With ``order_by`` (e.g. a
z-order key from ``functions.scale.zorder_key``) the rewrite is a
repartitionByRange (one shuffle, and the per-file min/max stats become
selective); without it a coalesce(n), no shuffle at all. In production
it runs per partition of a partitioned table, on the partitions whose
small-file count crossed a threshold.
"""

from __future__ import annotations

import math
import os
import shutil
import tempfile
import uuid
from collections.abc import Callable, Sequence

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F

from wikidatabots_spark.sinks.parquet import overwrite_partitions

_PUBLISH_LOCK_SUFFIX = ".publock"


def ensure_linked_store(path: str) -> None:
    """Create an empty store published behind a symlink pointer, so
    every later `publish_dir_swap` is a single atomic rename with no
    migration window. No-op if ``path`` already exists (symlink or
    legacy real directory)."""
    if os.path.islink(path) or os.path.exists(path):
        return
    version = _version_name(path, 0)
    os.makedirs(version)
    _point(path, version)


def resolve_store(path: str) -> str:
    """Pin a read to the CURRENT version of a pointer-published store.
    A DataFrame built over the returned real path keeps serving its
    snapshot across ONE later publish (the retained-version window of
    `publish_dir_swap`), whereas a read built through the symlink
    records pointer-relative file paths and throws FILE_NOT_EXIST as
    soon as the pointer moves (ADVICE r11 — trivially hit by plan code
    that builds a lazy ``latest_labels`` frame before a compaction
    fires). This is the read half of the manifest-pointer pattern:
    resolve the pointer once, scan the immutable-until-swept snapshot."""
    return os.path.realpath(path) if os.path.islink(path) else path


def _version_name(path: str, seq: int) -> str:
    return f"{path}.v-{seq:016d}-{uuid.uuid4().hex}"


def _version_seq(base: str, name: str) -> int:
    """Sequence number of a version dir name; pre-r12 seqless versions
    (``base.v-<uuid>``) sort oldest (-1)."""
    tail = name[len(base) + 3 :]  # after "<base>.v-"
    head = tail.split("-", 1)[0]
    return int(head) if len(head) == 16 and head.isdigit() else -1


def _point(path: str, version: str) -> None:
    """Atomically (re)target ``path`` at ``version`` (a sibling dir):
    create a fresh RELATIVE symlink under a temp name, rename it over
    the path. rename(2) replaces an existing symlink atomically."""
    tmp = path + ".ptr-" + uuid.uuid4().hex
    os.symlink(os.path.basename(version), tmp)
    os.rename(tmp, path)


def publish_dir_swap(staged: str, path: str, keep_versions: int = 2) -> None:
    """Atomically publish the ``staged`` directory as the new contents
    of ``path``. Readers see the old complete store or the new complete
    store at every instant; a crash at any step leaves the old store
    current and at worst an unreferenced version dir (swept on a later
    publish). Concurrent publishers are serialized by a kernel flock
    (`sinks.locks`) held across rename + pointer swap + sweep; the
    sweep keeps the newest ``keep_versions`` versions (current +
    previous by default) so a reader or lazy DataFrame that resolved
    the pointer before this publish survives it (ADVICE r11). A legacy
    real-directory store is migrated behind the pointer on its first
    publish (the one protocol step with a non-atomic window — avoided
    entirely by creating stores via `ensure_linked_store`)."""
    from wikidatabots_spark.sinks.locks import acquire_flock, release_flock

    lock = path + _PUBLISH_LOCK_SUFFIX
    fd = acquire_flock(lock)
    try:
        seq = _max_seq(path) + 1
        if os.path.lexists(path) and not os.path.islink(path):
            # one-time migration of a pre-pointer store: rename it aside
            # (as the previous version) so the pointer can take the
            # path. Window: `path` is absent between this rename and
            # _point (legacy stores only).
            os.rename(path, _version_name(path, seq))
            seq += 1
        version = _version_name(path, seq)
        os.rename(staged, version)
        _point(path, version)
        _sweep_versions(path, keep=max(1, keep_versions))
    finally:
        release_flock(fd, lock)


def _max_seq(path: str) -> int:
    parent = os.path.dirname(os.path.abspath(path)) or "."
    base = os.path.basename(path)
    seqs = [
        _version_seq(base, n)
        for n in os.listdir(parent)
        if n.startswith(base + ".v-")
    ]
    return max(seqs, default=-1)


def _sweep_versions(path: str, keep: int = 2) -> None:
    """Garbage-collect superseded version dirs (all but the newest
    ``keep`` by sequence — the current pointer target is always kept),
    crashed pointer temps, and pre-pointer `.old` leftovers. Safe to
    crash mid-sweep: every removed target is unreferenced by the
    current pointer and older than the retained window."""
    parent = os.path.dirname(os.path.abspath(path)) or "."
    base = os.path.basename(path)
    cur = os.readlink(path) if os.path.islink(path) else None
    versions = sorted(
        (n for n in os.listdir(parent) if n.startswith(base + ".v-")),
        key=lambda n: (_version_seq(base, n), n),
    )
    retained = set(versions[-keep:]) if keep > 0 else set()
    for name in os.listdir(parent):
        full = os.path.join(parent, name)
        if name.startswith(base + ".v-") and name != cur and name not in retained:
            shutil.rmtree(full, ignore_errors=True)
        elif name.startswith(base + ".ptr-"):
            with _suppress_oserror():
                os.remove(full)
        elif name == base + ".old":
            shutil.rmtree(full, ignore_errors=True)


def _suppress_oserror():
    import contextlib

    return contextlib.suppress(OSError)


def has_parquet(path: str) -> bool:
    """True iff ``path`` holds at least one parquet file. A batch with
    no rows writes no partition (maybe a bare _SUCCESS marker), so an
    existence check is not enough: reading such a directory throws
    UNABLE_TO_INFER_SCHEMA."""
    return any(
        f.endswith(".parquet") for _root, _dirs, files in os.walk(path) for f in files
    )


def batch_ids(path: str) -> list[int]:
    """The distinct ``__batch_id`` partition values anywhere in a store,
    nested partitions included (the band index keeps them under
    ``band_pfx=...``)."""
    ids: set[int] = set()
    for _root, dirs, _files in os.walk(path):
        ids.update(
            int(d.split("=", 1)[1]) for d in dirs if d.startswith("__batch_id=")
        )
    return sorted(ids)


def write_batch(
    df: DataFrame,
    path: str,
    batch_id: int,
    *,
    spread: Sequence[str],
    partition_by: Sequence[str] = ("__batch_id",),
) -> None:
    """Write one micro-batch's rows to a batch-partitioned store, stamped
    ``__batch_id = batch_id``, replacing only its own partitions. The
    store is born behind the pointer. ``spread`` names a high-cardinality
    column that lets a large batch still write in parallel (see
    ``overwrite_partitions``)."""
    ensure_linked_store(path)
    overwrite_partitions(
        df.withColumn("__batch_id", F.lit(batch_id)), path, partition_by, spread
    )


def read_store(
    spark: SparkSession, path: str, schema: str, before_batch: int | None = None
) -> DataFrame | None:
    """The current version of a batch-partitioned store, read with its
    pinned ``schema`` (a schema-inferring read costs a driver-side job
    on every call), fenced at ``__batch_id < before_batch``. None while
    the store holds no parquet file: the caller decides what an empty
    store serves (an empty local frame is an RDD scan, which the
    optimizer cannot prune from a join)."""
    if not has_parquet(path):
        return None
    df = spark.read.schema(schema).parquet(resolve_store(path))
    if before_batch is not None:
        df = df.where(F.col("__batch_id") < F.lit(int(before_batch)))
    return df


def publish_frame(
    df: DataFrame,
    path: str,
    partition_by: Sequence[str] = (),
    spread: Sequence[str] = (),
) -> None:
    """Write ``df`` to a staged sibling directory and publish it as the
    new version of ``path``. A partitioned write is repartitioned on the
    partition columns (plus ``spread``) first, so it lands one file per
    partition directory rather than one per task."""
    tmp = tempfile.mkdtemp(
        prefix="staged_", dir=os.path.dirname(os.path.abspath(path))
    )
    staged = os.path.join(tmp, "data")
    if partition_by:
        df = df.repartition(*partition_by, *spread)
    w = df.write.mode("overwrite")
    (w.partitionBy(*partition_by) if partition_by else w).parquet(staged)
    publish_dir_swap(staged, path)
    shutil.rmtree(tmp, ignore_errors=True)


def fold_batches(
    spark: SparkSession,
    path: str,
    merge: Callable[[DataFrame, int], DataFrame],
    spread: Sequence[str],
    *,
    partition_by: Sequence[str] = ("__batch_id",),
    keep_last: int = 1,
    fold_one: Callable[[int], bool] = lambda base_id: False,
) -> tuple[int, int | None]:
    """Fold every ``__batch_id`` partition of a store but the newest
    ``keep_last`` into one base partition, and publish the result.

    ``merge(rows, base_id)`` turns the rows at or below ``base_id`` (the
    highest folded id) into the base rows; they are re-stamped
    ``__batch_id = base_id`` in the store's own type, so repeated folds
    stay schema-stable, and the kept rows are unioned back unchanged.
    A single folded partition is left as it is unless
    ``fold_one(base_id)``. The read infers the schema: the fold keeps
    whatever physical types the files hold. Returns the number of
    partitions folded away and the base id (None if nothing was
    folded)."""
    ids = batch_ids(path)
    fold = ids[:-keep_last] if keep_last > 0 else ids
    if not fold or (len(fold) == 1 and not fold_one(fold[-1])):
        return 0, None
    base_id = fold[-1]
    raw = spark.read.parquet(resolve_store(path))
    bid = F.col("__batch_id")
    base = merge(raw.where(bid <= F.lit(base_id)), base_id).withColumn(
        "__batch_id", F.lit(base_id).cast(raw.schema["__batch_id"].dataType)
    )
    kept = raw.where(bid > F.lit(base_id)).select(*base.columns)
    publish_frame(base.unionByName(kept), path, partition_by, spread)
    return len(fold) - 1, base_id


def compact_parquet_dir(
    spark: SparkSession,
    table_dir: str,
    target_bytes: int = 128 * 1024 * 1024,
    order_by: list[Column] | None = None,
) -> int:
    """Rewrite ``table_dir`` into ~``target_bytes`` files; returns the
    output file count. Readers see the old files or the new ones, never
    both.
    """
    total = sum(
        os.path.getsize(os.path.join(table_dir, f))
        for f in os.listdir(table_dir)
        if f.endswith(".parquet")
    )
    n_files = max(1, math.ceil(total / target_bytes))
    df = spark.read.parquet(table_dir)
    if order_by:
        df = df.repartitionByRange(n_files, *order_by).sortWithinPartitions(
            *order_by
        )
    else:
        df = df.coalesce(n_files)
    publish_frame(df, table_dir)
    return sum(1 for f in os.listdir(table_dir) if f.endswith(".parquet"))
