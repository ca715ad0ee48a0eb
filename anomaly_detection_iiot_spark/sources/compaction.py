"""Small-files compaction: the nightly hygiene job of any streaming or
incremental ingest (each micro-batch/task writes its own files; after a
day a partition holds thousands of KB-sized parquet files and scan
planning + footer reads dominate query time).

No reference equivalent (single CSV appends). Sizing rule: output file
count = ceil(input bytes / target file size), so compaction is one
read + one round-robin repartition + one write, and downstream scans
get `maxPartitionBytes`-friendly splits.
"""

from __future__ import annotations

import math
import os

from pyspark.sql import SparkSession


def dir_bytes(path: str) -> int:
    total = 0
    for root, _dirs, files in os.walk(path):
        for f in files:
            if not f.startswith((".", "_")):
                total += os.path.getsize(os.path.join(root, f))
    return total


def plan_file_count(input_bytes: int, target_file_bytes: int) -> int:
    return max(1, math.ceil(input_bytes / target_file_bytes))


def compact_dir(
    spark: SparkSession,
    src: str,
    dst: str,
    target_file_bytes: int = 128 * 1024 * 1024,
) -> int:
    """Compact a parquet directory to ~target-sized files; returns the
    planned output file count. Round-robin repartition (not coalesce):
    coalesce(n) would chain upstream into the scan and leave n tasks
    reading all input; repartition pays one shuffle of the data being
    rewritten anyway and balances output sizes exactly."""
    n = plan_file_count(dir_bytes(src), target_file_bytes)
    spark.read.parquet(src).repartition(n).write.mode("overwrite").parquet(dst)
    return n


def optimize_zordered(
    spark: SparkSession,
    src: str,
    dst: str,
    zkey_fn,
    target_file_bytes: int = 128 * 1024 * 1024,
) -> int:
    """Compaction + re-clustering in one maintenance pass (the
    ``OPTIMIZE ... ZORDER BY`` job of lakehouse tables): size the
    output file count from input bytes like ``compact_dir``, but
    range-partition and sort on a Morton key (``zkey_fn(df) ->
    Column``, see sources/zorder.py) instead of round-robin — the
    rewrite the table needs anyway ALSO restores multi-dimensional
    footer-stats skipping that incremental appends destroyed. Same
    cost shape: one read + one range shuffle + one write."""
    from . import zorder

    n = plan_file_count(dir_bytes(src), target_file_bytes)
    df = spark.read.parquet(src)
    zorder.write_zordered(df, dst, zkey_fn(df), n_files=n)
    return n
