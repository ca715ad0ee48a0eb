"""Resampling / chunked aggregation (SURVEY §2.3 A1, A2).

Reference semantics: group rows by ``index // factor`` and take the
per-group mean (/root/reference/src/data/resampler.py:34-38 for rate
downsampling; /root/reference/src/training/trainer.py:187 for per-period
MSE means, factor = SPLIT = 1000).

Spark mapping: ``groupBy(floor(idx / k))`` hash aggregate — partial
(map-side) + final automatically, so at 100 TB the shuffle carries one
row per (series, chunk), not per sample. No global sort is needed because
the chunk id derives from the explicit sample_idx, not from row position.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


def chunk_id(idx_col: str, factor: int) -> F.Column:
    """``sample_idx // factor`` as BIGINT (stable across engines)."""
    return (F.col(idx_col) / F.lit(factor)).cast("long")


def resample_mean(
    df: DataFrame,
    factor: int,
    idx_col: str = "sample_idx",
    keys: list[str] | None = None,
) -> DataFrame:
    """Downsample by integer-division grouping: one row per
    ``chunk_idx`` of ``factor`` samples, ``value`` = mean. ``keys``
    (e.g. experiment, channel) ride along as grouping columns."""
    grp = [*(keys or []), chunk_id(idx_col, factor).alias("chunk_idx")]
    return df.groupBy(*grp).agg(F.avg("value").alias("value"))
