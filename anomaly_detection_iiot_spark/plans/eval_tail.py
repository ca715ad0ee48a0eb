"""Single-pass evaluation tail: per-period MSE → threshold (A3/M11) →
rolling min (W5) → first crossing (W8), as window functions over ONE
partitioning.

Why not compose threshold.fit_threshold + flag_anomalies + joins? Each
of those branches re-reads the `periods` parent: maxp join, threshold
fit, and flag join gave the executed plan THREE+ consumers of the same
subtree and Spark re-computed the whole upstream (file scan → score
UDF) for every branch — measured 8 csv scans / 2 UDF evaluations / 27
exchanges on the bearing pipeline. At 100 TB that multiplies the most
expensive part of the job.

Here every derived quantity (max period, validation stats, smoothed
MSE) is a window aggregate over the SAME partition keys, so the
upstream is computed once, there is exactly one exchange for the tail
(plus the final tiny crossing agg), and the operators keep reference
semantics: validation slice = first int(n_periods * 0.1) periods
(count-based, exactly the reference's `[:int(n*0.1)]`) with a
>=2-period floor for tiny inputs, sample std, rolling min of 3 with
partial heads, min-index crossing with the 0 sentinel
(visualization.py:80-94).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F


def evaluation_tail(
    periods: DataFrame,
    keys: list[str],
    n_std: float = 4.0,
    validation_fraction: float = 0.1,
) -> DataFrame:
    """(keys..., threshold, first_anomaly_period | 0 sentinel) from a
    (keys..., period_idx, mse) frame, computed in one pass over one
    partitioning."""
    wk = Window.partitionBy(*keys)
    wo = Window.partitionBy(*keys).orderBy("period_idx").rowsBetween(-2, 0)
    # Count-based validation slice, matching the reference's
    # `values[:int(n_periods * 0.1)]` (visualization.py:80): with
    # contiguous 0-based period_idx, n_periods = max_idx + 1 and the
    # slice is period_idx < floor(n_periods * fraction). The
    # greatest(2, ...) floor keeps >=2 validation rows on tiny inputs so
    # stddev_samp is defined (sf0.001 has ~3 periods per key).
    maxp = F.max("period_idx").over(wk)
    val_cond = F.col("period_idx") < F.greatest(
        F.lit(2),
        F.floor((maxp + F.lit(1)) * F.lit(validation_fraction)),
    )
    val_mse = F.when(val_cond, F.col("mse"))
    # × 1.0: the reference's threshold scale (visualization.py:83)
    thr = (
        F.avg(val_mse).over(wk)
        + F.lit(n_std) * F.stddev_samp(val_mse).over(wk)
    ) * F.lit(1.0)
    enriched = periods.select(
        *keys,
        F.col("period_idx"),
        thr.alias("threshold"),
        F.min("mse").over(wo).alias("__mse_smooth"),
    )
    hit = F.when(
        F.col("__mse_smooth") > F.col("threshold"), F.col("period_idx")
    )
    return enriched.groupBy(*keys, "threshold").agg(
        F.coalesce(F.min(hit), F.lit(0))
        .cast("long")
        .alias("first_anomaly_period")
    )
