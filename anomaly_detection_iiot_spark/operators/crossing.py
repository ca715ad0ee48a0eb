"""First-crossing detection and as-of lookup (SURVEY §2.4 W8, W9).

Reference semantics:
- W8: ``np.argmax(values > threshold)`` → index of the FIRST value above
  threshold, with 0 as the "no anomaly" sentinel
  (/root/reference/src/evaluation/visualization.py:89-94,
  /root/reference/src/util/calculations.py:88-92); until-failure mode
  treats everything from the first crossing onward as anomalous
  (calculations.py:92).
- W9: ``np.searchsorted`` of a timestamp into the sorted series → elapsed
  fraction (calculations.py:19-26).

Spark mapping: plain conditional aggregates — ``min(idx) WHERE v > thr``
is a partial+final agg with no sort at all, which is exactly the plan we
want at 100 TB (argmax-by-scan in the reference becomes a full-scan
reduce here).
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F


def first_crossing(
    df: DataFrame,
    value_col: str,
    threshold: Column | float,
    idx_col: str = "sample_idx",
    keys: list[str] = (),
    out: str = "first_anomaly_idx",
) -> DataFrame:
    """Per key: smallest ``idx`` with value > threshold; 0 if none
    (reference argmax-sentinel semantics, calculations.py:89-90)."""
    thr = threshold if isinstance(threshold, Column) else F.lit(float(threshold))
    hit = F.when(F.col(value_col) > thr, F.col(idx_col))
    return df.groupBy(*keys).agg(
        F.coalesce(F.min(hit), F.lit(0)).cast("long").alias(out)
    )


def asof_fraction(
    df: DataFrame,
    ts_col: str,
    target: Column,
    keys: list[str] = (),
    out: str = "elapsed_fraction",
) -> DataFrame:
    """searchsorted(target) / len — expressed as a counting aggregate so
    it needs no sort: count(ts < target) / count(*)."""
    return df.groupBy(*keys).agg(
        (
            F.sum((F.col(ts_col) < target).cast("long")) / F.count(F.lit(1))
        ).alias(out)
    )
