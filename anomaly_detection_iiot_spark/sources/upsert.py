"""Merge-on-read upsert table — the lakehouse CDC-apply primitive.

A table is a directory of immutable parquet version partitions
(`_v=<n>/`): `_v=0` is the base, each later `_v` is a delta batch of
upserted rows plus tombstones (`_deleted = true`). Readers resolve
LAST-WRITER-WINS per key at scan time (merge-on-read).

Why this shape at 100 TB:
- Writers never rewrite the base: a CDC batch lands as one append-only
  directory partition, so ingestion cost is O(|delta|) regardless of
  table size (the same per-batch-directory idea as the streaming
  ingest sinks in ann_ingest.py, where it also buys exactly-once on
  replay).
- The merge is ONE hash shuffle on the key and a per-key
  row_number() — no join, no broadcast; per-key work is O(#versions
  of that key), which grows with every delta (no caller compacts).

Semantics (pinned by tests + the s14 round-trip oracle):
- Within the directory, higher `_v` wins per key; a tombstone row
  deletes the key (until a later version re-inserts it).
- `_v` and `_deleted` are system columns; `read_merged` returns the
  user schema only.
"""

from __future__ import annotations

import errno
import os
import shutil
import time
import uuid

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

V_COL = "_v"
DEL_COL = "_deleted"

# A crashed writer (died between stage and rename) leaves its hidden
# .staging-* dir behind forever — invisible to readers but unbounded
# garbage under churn. Writers sweep stale ones on
# entry; the grace window keeps a sweep from deleting a CONCURRENT
# writer's in-flight staging (staging->rename is seconds, the window is
# an hour).
STAGING_GRACE_SEC = 3600.0


def _sweep_stale_staging(
    path: str, grace_sec: float = STAGING_GRACE_SEC
) -> None:
    """Delete crashed-writer staging dirs older than the grace window.
    Called by writers (append_delta / commit_delta) on entry — readers
    never pay for it, and an in-flight concurrent stage is protected
    by the mtime grace."""
    if not os.path.isdir(path):
        return
    cutoff = time.time() - grace_sec
    for d in os.listdir(path):
        if not d.startswith(".staging-"):
            continue
        full = os.path.join(path, d)
        try:
            if os.path.isdir(full) and os.path.getmtime(full) < cutoff:
                shutil.rmtree(full, ignore_errors=True)
        except OSError:
            pass  # raced with its owner finishing — leave it


def _is_rename_race(e: OSError) -> bool:
    """True only for the errnos an atomic-rename version conflict can
    produce (destination already exists). EXDEV/EACCES/ENOSPC are real
    failures and must surface as themselves, not as 'lost the race'."""
    return e.errno in (errno.EEXIST, errno.ENOTEMPTY)


def write_base(df: DataFrame, path: str) -> None:
    """Write the initial version (`_v=0`), no tombstones."""
    df.withColumn(DEL_COL, F.lit(False)).write.mode("overwrite").parquet(
        os.path.join(path, f"{V_COL}=0")
    )


def _as_batch(df: DataFrame, deletes: DataFrame | None) -> DataFrame:
    """Upserts + tombstones as one write-ready frame."""
    batch = df.withColumn(DEL_COL, F.lit(False))
    if deletes is not None:
        # tombstones carry the key columns; remaining user columns are
        # NULL and never surface (the reader drops deleted winners)
        missing = [c for c in df.columns if c not in deletes.columns]
        tomb = deletes.select(
            "*",
            *[F.lit(None).cast(dict(df.dtypes)[c]).alias(c) for c in missing],
        ).select(df.columns)
        batch = batch.unionByName(tomb.withColumn(DEL_COL, F.lit(True)))
    return batch


def _write_staged(batch: DataFrame, path: str) -> str:
    """Write a batch to a hidden staging dir under the table root
    (dot-prefixed => invisible to Spark's file listing) and return it.
    The final version directory only ever appears via an atomic
    rename, so readers never observe a half-written partition and a
    crash mid-write leaves only inert staging garbage."""
    staging = os.path.join(path, f".staging-{uuid.uuid4().hex}")
    batch.write.mode("overwrite").parquet(staging)
    return staging


def append_delta(
    df: DataFrame,
    path: str,
    version: int,
    deletes: DataFrame | None = None,
    overwrite: bool = False,
) -> None:
    """Append one CDC batch as an immutable version partition at an
    EXPLICIT version: ``df`` rows upsert their keys, ``deletes`` rows
    (key columns only) tombstone theirs. O(|delta|) — the base is
    never touched. The partition is staged and atomically renamed into
    place; if `_v=version` already exists the call FAILS LOUDLY
    (two writers picking the same version would otherwise silently
    interleave). Pass ``overwrite=True`` only when the caller
    OWNS the version by construction — the streaming CDC sink does,
    because foreachBatch replay re-runs the same batch_id and must
    idempotently rewrite the same partition. Writers without such an
    ownership scheme should use ``commit_delta`` (OCC allocation)."""
    if version <= 0:
        raise ValueError(f"delta versions start at 1: {version}")
    dst = os.path.join(path, f"{V_COL}={version}")
    if os.path.exists(dst) and not overwrite:
        raise FileExistsError(
            f"version partition already exists: {dst} — concurrent or "
            "replayed writer? Use commit_delta() for OCC version "
            "allocation, or overwrite=True if this writer owns the "
            "version (e.g. a streaming replay of its own batch id)."
        )
    _sweep_stale_staging(path)
    staging = _write_staged(_as_batch(df, deletes), path)
    if overwrite:
        shutil.rmtree(dst, ignore_errors=True)
    try:
        os.rename(staging, dst)
    except OSError as e:
        shutil.rmtree(staging, ignore_errors=True)
        if not _is_rename_race(e):
            raise  # EXDEV/EACCES/ENOSPC/...: not a version conflict
        raise FileExistsError(
            f"lost the race for {dst}: another writer committed this "
            "version first. Use commit_delta() for OCC allocation."
        )


def table_versions(path: str) -> list[int]:
    """Committed version numbers, ascending (directory listing only)."""
    pre = f"{V_COL}="
    return sorted(
        int(d[len(pre):])
        for d in os.listdir(path)
        if d.startswith(pre) and d[len(pre):].isdigit()
    )


def commit_delta(
    df: DataFrame,
    path: str,
    deletes: DataFrame | None = None,
    max_retries: int = 20,
) -> int:
    """Optimistic-concurrency append (the Delta/Iceberg commit
    protocol, scoped to a directory table): stage the batch once, then
    claim the next free version by ATOMIC RENAME — rename fails if a
    concurrent writer created `_v=N` first (the OS is the arbiter), in
    which case re-list and retry at N+1. Returns the committed
    version. Two concurrent committers therefore serialize into
    distinct consecutive versions instead of silently interleaving one
    partition; last-writer-wins order across them is decided by the
    version numbers the OS handed out."""
    _sweep_stale_staging(path)
    staging = _write_staged(_as_batch(df, deletes), path)
    for _ in range(max_retries):
        v = (table_versions(path) or [0])[-1] + 1
        dst = os.path.join(path, f"{V_COL}={v}")
        try:
            os.rename(staging, dst)
            return v
        except OSError as e:
            if not _is_rename_race(e):
                # EXDEV/EACCES/ENOSPC/...: retrying re-lists the same
                # versions forever and mislabels a real failure as
                # contention — surface it immediately
                shutil.rmtree(staging, ignore_errors=True)
                raise
            continue  # lost the race — re-list and try the next slot
    shutil.rmtree(staging, ignore_errors=True)
    raise RuntimeError(
        f"commit_delta: gave up after {max_retries} version-allocation "
        f"conflicts on {path} (pathological writer contention)"
    )


def read_merged(
    spark: SparkSession,
    path: str,
    key_cols: list[str],
    as_of_version: int | None = None,
    merge_schema: bool = False,
) -> DataFrame:
    """Merge-on-read: resolve last-writer-wins per key across all
    version partitions, drop tombstoned keys, return the user schema.
    One key shuffle + per-key row_number; partition discovery surfaces
    `_v` from the directory names.

    ``as_of_version`` is TIME TRAVEL: resolve the table as it stood
    after that version landed. Because `_v` is a directory partition
    column, the filter prunes whole version directories at the file
    listing — the scan never reads later deltas (PartitionFilters on
    `_v`, pinned in tests/test_upsert.py).

    ``merge_schema`` turns on additive SCHEMA EVOLUTION: a delta may
    carry new columns (parquet mergeSchema unions the footers); rows
    from older versions surface NULL there, the lakehouse-standard
    semantics. Off by default — schema union costs a footer read per
    file and steady-state tables don't need it."""
    raw = (
        spark.read.option("basePath", path)
        .option("mergeSchema", "true")
        .parquet(path)
        if merge_schema
        else spark.read.option("basePath", path).parquet(path)
    )
    if as_of_version is not None:
        raw = raw.filter(F.col(V_COL) <= as_of_version)
    # deterministic within-version tie-break: if one batch carries both
    # an upsert and a tombstone for a key (a CDC batch folding several
    # source changes), the upsert wins — asc(_deleted) ranks it first
    w = Window.partitionBy(*key_cols).orderBy(
        F.desc(V_COL), F.asc(DEL_COL)
    )
    return (
        raw.withColumn("_rn", F.row_number().over(w))
        .filter((F.col("_rn") == 1) & (~F.col(DEL_COL)))
        .drop("_rn", V_COL, DEL_COL)
    )


def read_changes(
    spark: SparkSession, path: str, since_version: int
) -> DataFrame:
    """Incremental consumption — the downstream half of CDC: every
    change row strictly AFTER ``since_version``, with `_v` and
    `_deleted` exposed so a consumer can apply upserts and deletes in
    version order. The `_v >` filter prunes at directory listing, so
    a caught-up consumer reads only the new deltas, never the table."""
    raw = spark.read.option("basePath", path).parquet(path)
    return raw.filter(F.col(V_COL) > since_version)

