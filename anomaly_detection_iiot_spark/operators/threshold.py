"""Anomaly thresholding (SURVEY §2.3 A3, §2.7 M11).

Reference semantics: threshold = mean + std * THRESHOLD_STD (=4) over a
validation slice (first 10 % of periods), optionally ×1.7 for the
baseline model (/root/reference/src/evaluation/visualization.py:80-83,
config.yaml:36). pandas ``.std()`` is SAMPLE std (ddof=1) — preserved
here via ``stddev_samp``.

Spark mapping: tiny per-key aggregate over the validation slice,
broadcast back; the flagging pass is a pure narrow projection.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F


def fit_threshold(
    df: DataFrame,
    value_col: str,
    n_std: float = 4.0,
    scale: float = 1.0,
    keys: list[str] = (),
    validation_filter: Column | None = None,
) -> DataFrame:
    """mean + n_std * stddev_samp (× scale) per key, over the validation
    rows (visualization.py:80-83)."""
    fit = df.filter(validation_filter) if validation_filter is not None else df
    return fit.groupBy(*keys).agg(
        (
            (F.avg(value_col) + F.lit(n_std) * F.stddev_samp(value_col))
            * F.lit(scale)
        ).alias("threshold")
    )


def flag_anomalies(
    df: DataFrame,
    thresholds: DataFrame,
    value_col: str,
    keys: list[str] = (),
) -> DataFrame:
    joined = (
        df.join(F.broadcast(thresholds), list(keys))
        if keys
        else df.crossJoin(F.broadcast(thresholds))
    )
    return joined.withColumn(
        "is_anomaly", (F.col(value_col) > F.col("threshold")).cast("int")
    )
