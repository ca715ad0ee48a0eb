"""Sessionization / gaps-and-islands / gap audit (SURVEY §2.4 W10, W11).

Reference semantics:
- W10: group consecutive integer indexes into contiguous [start, end]
  anomaly episodes (/root/reference/src/util/calculations.py:29-55).
- W11: iterate distinct timestamps and flag negative or suspicious gaps
  (/root/reference/src/data/pipeline.py:37-50).

Spark mapping: the classic ``idx - row_number()`` island key for integer
indexes, and ``lag`` + cumulative-sum-of-boundaries for time-gap
sessions. Both need only a hash partition by series + a bounded sort
within partitions; no global sort, no UDFs.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F


def _epoch_seconds(col: Column | str) -> Column:
    """Fractional epoch seconds from any timestamp-ish column.

    ``TIMESTAMP_NTZ`` (what Spark 4 infers from parquet written with
    isAdjustedToUTC=false) cannot be cast straight to double; routing
    through ``timestamp`` first works for NTZ, LTZ, and string inputs.
    The NTZ->LTZ step interprets wall-clock time in the session zone,
    which is a constant offset that cancels in the gap *differences*
    these operators compute.
    """
    c = F.col(col) if isinstance(col, str) else col
    return c.cast("timestamp").cast("double")


def islands(
    df: DataFrame,
    idx_col: str = "sample_idx",
    partition_by: list[str] = (),
) -> DataFrame:
    """Contiguous-integer-run grouping (gaps-and-islands).

    Input: rows whose ``idx_col`` values form runs with gaps (e.g. the
    indexes that crossed an anomaly threshold). Output: one row per run
    with ``island_start``, ``island_end``, ``island_len``.
    """
    w = Window.partitionBy(*partition_by).orderBy(idx_col)
    grp = (F.col(idx_col) - F.row_number().over(w)).alias("__island")
    return (
        df.select(*partition_by, F.col(idx_col), grp)
        .groupBy(*partition_by, "__island")
        .agg(
            F.min(idx_col).alias("island_start"),
            F.max(idx_col).alias("island_end"),
            F.count(F.lit(1)).alias("island_len"),
        )
        .drop("__island")
    )


def _by_user(order: list[str]) -> Window:
    return Window.partitionBy("user_id").orderBy(*order)


def sessionize_by_gap(df: DataFrame) -> DataFrame:
    """Assign a per-user ``session_id`` that increments whenever the
    time since the user's previous event exceeds an hour (batch
    analogue of a Structured Streaming session window)."""
    order = ["ts", "event_id"]
    prev_ts = F.lag("ts").over(_by_user(order))
    new_session = F.when(
        prev_ts.isNull()
        | (_epoch_seconds("ts") - _epoch_seconds(prev_ts) > 3600.0),
        F.lit(1),
    ).otherwise(F.lit(0))
    cum = _by_user(order).rowsBetween(Window.unboundedPreceding, 0)
    return df.withColumn("session_id", F.sum(new_session).over(cum))


def gap_audit(df: DataFrame) -> DataFrame:
    """Flag suspicious inter-event gaps per user (negative, or over 6
    hours) — the reference's monotonicity audit, printed not asserted;
    we return the offending rows as a DataFrame."""
    w = _by_user(["ts", "event_id"])
    gap = (_epoch_seconds("ts") - _epoch_seconds(F.lag("ts").over(w))).alias(
        "gap_seconds"
    )
    out = df.withColumn("gap_seconds", gap)
    cond = (F.col("gap_seconds") < 0) | (F.col("gap_seconds") > F.lit(6 * 3600.0))
    return out.filter(F.col("gap_seconds").isNotNull() & cond)
