"""Rolling / cumulative window operators (SURVEY §2.4 W5, W6, W12, W13).

Reference semantics:
- rolling min of 3 before thresholding (/root/reference/src/evaluation/
  visualization.py:82, ROLLING_MIN=3 in config.yaml:37)
- rolling mean of 5 for smoothing (visualization.py:134,141)
- cumulative certainty sum ((mse-thr).clip(0)/thr).cumsum()
  (visualization.py:249-255)
- lookback alignment shift (visualization.py:67)

Spark mapping: window functions over ``partitionBy(series).orderBy(idx)``.
Scale note: each window is bounded (rowsBetween) and partitioned by the
series key, so state per task is O(window) and the only shuffle is the
hash partition by series — no global sort.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window, WindowSpec
from pyspark.sql import functions as F


def _w(partition_by: list[str], idx_col: str) -> WindowSpec:
    return Window.partitionBy(*partition_by).orderBy(idx_col)


def rolling_min(
    df: DataFrame, value_col: str, window: int = 3,
    partition_by: list[str] = (), idx_col: str = "sample_idx",
    out: str = "rolling_min",
) -> DataFrame:
    w = _w(list(partition_by), idx_col).rowsBetween(-(window - 1), 0)
    return df.withColumn(out, F.min(value_col).over(w))


def rolling_mean(df: DataFrame, value_col: str) -> DataFrame:
    """Mean of the row and the 4 before it, per user."""
    w = _w(["user_id"], "event_id").rowsBetween(-4, 0)
    return df.withColumn("rolling_mean", F.avg(value_col).over(w))


def certainty_accumulation(
    df: DataFrame, mse_col: str, threshold_col: str
) -> DataFrame:
    """((mse - thr).clip(0) / thr).cumsum() per user, in event order —
    visualization.py:249-255."""
    excess = F.greatest(F.lit(0.0), F.col(mse_col) - F.col(threshold_col)) / F.col(threshold_col)
    w = _w(["user_id"], "event_id").rowsBetween(Window.unboundedPreceding, 0)
    return df.withColumn("certainty", F.sum(excess).over(w))


def lag_shift(
    df: DataFrame, value_col: str, offset: int,
    partition_by: list[str] = (), idx_col: str = "sample_idx",
    out: str = "shifted",
) -> DataFrame:
    """Shift a series down by ``offset`` rows, head-filled with the row's
    own value (reference's lookback realignment, visualization.py:67 does
    concat([mse[:20], mse[:-20]]) — position i<20 keeps mse[i])."""
    w = _w(list(partition_by), idx_col)
    lagged = F.lag(value_col, offset).over(w)
    return df.withColumn(out, F.coalesce(lagged, F.col(value_col)))


def ewma(df: DataFrame, value_col: str) -> DataFrame:
    """Exponentially weighted moving average, truncated-horizon form.

    The recursive EWMA (y_t = a*x_t + (1-a)*y_{t-1}) is not a SQL
    window aggregate; the equivalent weighted sum over ALL history is
    numerically explosive. The standard distributed formulation
    truncates the horizon: weights (1-a)^j for j = 0..horizon-1,
    normalized over the lags that exist (so the series start is an
    adjusted, not damped, average — pandas ewm(adjust=True) semantics).
    With a=0.5, horizon=8 the dropped tail weight is (1-a)^8 < 0.4 %,
    below float display precision, while the operator stays a fixed
    expression over ``lag`` — one window sort, whole-stage codegen,
    no recursion/UDF.
    """
    w = _w(["user_id"], "event_id")
    num = F.lit(0.0)
    den = F.lit(0.0)
    for j in range(8):
        weight = 0.5**j
        lagged = F.lag(value_col, j).over(w)
        num = num + F.when(lagged.isNotNull(), F.lit(weight) * lagged).otherwise(0.0)
        den = den + F.when(lagged.isNotNull(), F.lit(weight)).otherwise(0.0)
    return df.withColumn("ewma", num / den)
