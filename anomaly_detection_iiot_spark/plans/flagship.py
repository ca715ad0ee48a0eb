"""Flagship end-to-end anomaly pipeline (SURVEY §7.2) on the driver
corpus: the reference's scoring path re-expressed on ``events``.

events (ts, user_id≈channel, value≈vibration)
  → A2 per-period mean-square over chunks of the per-user sample index
  → A3/M11 threshold = mean + 4·std over the validation prefix (first
    10 % of periods, visualization.py:80)
  → W5 rolling min of 3 (visualization.py:82)
  → W8 first crossing with 0 sentinel (visualization.py:89-94)

All stages are DataFrame-native: two hash aggregates and one window
pass over the per-user partitioning — no joins, no UDFs, no collect
until the driver sinks the (per-user) result (the threshold/flag/
crossing tail is a single-pass window formulation, see eval_tail).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..operators.resample import chunk_id
from ..queries.base import t
from .eval_tail import evaluation_tail


def flagship_anomaly_report(
    spark: SparkSession,
    sf_dir: str,
    period: int = 20,
    n_std: float = 4.0,
    validation_fraction: float = 0.1,
) -> DataFrame:
    # per-user positional index (ingestion contract: explicit order key)
    indexed = t(spark, sf_dir, "events").selectExpr(
        "*",
        "row_number() OVER (PARTITION BY user_id ORDER BY ts, event_id) - 1"
        " AS sample_idx",
    )
    # A2: per-period mean square
    periods = indexed.groupBy(
        "user_id", chunk_id("sample_idx", period).alias("period_idx")
    ).agg(F.expr("avg(value * value) AS mse"))
    # A3/M11 + W5 + W8 in one pass over one partitioning (see
    # eval_tail: the join-based tail recomputed the upstream per branch)
    return evaluation_tail(
        periods, ["user_id"], n_std=n_std,
        validation_fraction=validation_fraction,
    ).selectExpr(
        "user_id", "round(threshold, 6) AS threshold", "first_anomaly_period"
    )
