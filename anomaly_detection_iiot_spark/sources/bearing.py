"""Bearing / NASA-IMS-style snapshot-directory source (SURVEY §2.1
S1-S4, §1.1).

Reference semantics (/root/reference/src/data/bearing.py:27-33): one
tab-separated headerless CSV per ~1 s recording; the FILENAME is the
event timestamp ('%Y.%m.%d.%H.%M.%S', bearing.py:29); 20,480 rows per
file at 20,480 Hz (resampler.py:11); 4 or 8 float columns, one
accelerometer channel per bearing (config.yaml:43-46). The reference
appends every file into one CSV in a Python loop; here the whole
directory is ONE distributed scan — no loop, no append sink.

Ordering contract: ``sample_idx`` (position within its snapshot file)
is materialized at read time via a row_number per filename stamp
over monotonically_increasing_id, which preserves within-partition
file order. Snapshot files (~1-2 MB) are far below
spark.sql.files.maxPartitionBytes, so each file is a single split and
the ordering is exact. ``file_rank`` is the rank of the file's stamp
among the distinct stamps Spark's file listing holds for this read
(``inputFiles()``, on the driver, no job): the fixed-width
``yyyy.MM.dd.HH.mm.ss`` strings sort chronologically, so ranking the
strings orders files in time independently of the session time zone.
Files sharing a stamp share a rank and one ``sample_idx`` sequence; a
file whose name carries no stamp is not a snapshot and is skipped. A
listed file with no rows keeps its rank slot, just as a short file of
``n`` rows leaves a gap of ``rows_per_file - n``. ``global_idx`` =
file_rank × rows-per-file + sample_idx gives the cross-file positional
index the reference's windowing relies on; ranks are per read, so a
union of two reads keeps each experiment's own ranks.
"""

from __future__ import annotations

import re

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.types import DoubleType, StructField, StructType

FILENAME_TS_RE = r"(\d{4}\.\d{2}\.\d{2}\.\d{2}\.\d{2}\.\d{2})"
FILENAME_TS_FMT = "yyyy.MM.dd.HH.mm.ss"
_STAMP = re.compile(FILENAME_TS_RE, re.ASCII)


def snapshot_schema(n_cols: int) -> StructType:
    return StructType(
        [StructField(f"c{i}", DoubleType()) for i in range(n_cols)]
    )


def read_snapshot_dir(
    spark: SparkSession,
    path: str,
    n_cols: int,
    channel_positions: list[int] | None = None,
    experiment: str = "experiment",
) -> DataFrame:
    """S1+S2+P2: one distributed TSV scan of every snapshot file, with
    the filename timestamp and the file's rank (module docstring)
    attached to each row and positional channel projection
    (config.yaml:42-47 uses cols [0,2,4,6] or [0,1,2,3])."""
    raw = (
        spark.read.option("sep", "\t")
        .schema(snapshot_schema(n_cols))
        .csv(path)
    )
    ranks = _file_ranks(spark, raw.inputFiles())
    positions = channel_positions or list(range(n_cols))
    vibrations = [f"vibration_{i}" for i in range(len(positions))]
    # partition by the stamp, not the path: the stamps are the rank
    # keys, and shuffle bytes then do not depend on where the files live
    kept = raw.selectExpr(
        f"regexp_extract(input_file_name(), r'{FILENAME_TS_RE}', 1) AS _stamp",
        *[f"c{p} AS {v}" for p, v in zip(positions, vibrations)],
    ).selectExpr(
        "*",
        "row_number() OVER (PARTITION BY _stamp"
        " ORDER BY monotonically_increasing_id()) - 1 AS sample_idx",
    )
    exp = experiment.replace("\\", "\\\\").replace("'", "\\'")
    return kept.join(F.broadcast(ranks), "_stamp").selectExpr(
        *vibrations,
        f"to_timestamp(_stamp, '{FILENAME_TS_FMT}') AS file_ts",
        "sample_idx",
        "file_rank",
        f"'{exp}' AS experiment",
    )


def _file_ranks(spark: SparkSession, files: list[str]) -> DataFrame:
    """(_stamp, file_rank) for the distinct stamps in ``files``, as an
    inline VALUES table: a local relation, so ranking costs no scan.
    The stamps are digits and dots only, safe to inline."""
    stamps = sorted({m.group(1) for f in files if (m := _STAMP.search(f))})
    rows = ", ".join(f"('{s}', {r})" for r, s in enumerate(stamps))
    return spark.sql(
        "SELECT CAST(col1 AS STRING) AS _stamp, CAST(col2 AS BIGINT) AS "
        f"file_rank FROM VALUES {rows or '(NULL, NULL)'}"
    )


def to_canonical_long(
    df: DataFrame,
    n_channels: int,
    rows_per_file: int = 20480,
) -> DataFrame:
    """S3/S4 + P11: the canonical long table
    (experiment, channel, file_ts, sample_idx, global_idx, value) from
    ``read_snapshot_dir`` output.

    Replaces the reference's append-CSV + restructure stacking
    (bearing.py:30-33, restructure.py:12-14) with one unpivot; the
    cross-file ``global_idx`` = file_rank × rows_per_file + sample_idx
    lets windows span file boundaries exactly like the reference's
    concatenated series."""
    # stack(n, '0', vibration_0, '1', vibration_1, ...) — the unpivot.
    # file_rank comes from the read's file listing (module docstring),
    # not from a distinct over the data: no second scan, no shuffle.
    pairs = ", ".join(f"'{i}', vibration_{i}" for i in range(n_channels))
    return df.selectExpr(
        "experiment",
        "file_ts",
        "sample_idx",
        f"stack({n_channels}, {pairs}) AS (channel, value)",
        f"file_rank * {rows_per_file} + sample_idx AS global_idx",
    )
