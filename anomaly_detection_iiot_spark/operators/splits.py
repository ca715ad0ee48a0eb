"""Deterministic positional splits and trims (SURVEY §2.2 P7, P8).

Reference semantics:
- P7: drop the last ``n % k`` rows so the length divides k
  (/root/reference/src/training/trainer.py:54-55,
  /root/reference/src/data/resampler.py:30-31).
- P8: first TRAIN_SPLIT=0.7 of rows → train, rest → test, with the split
  point rounded UP to a multiple of SPLIT (trainer.py:58-62,
  config.yaml:31-32). This is a deterministic prefix split, NOT
  randomSplit.

Spark mapping: the row count is a scalar aggregate broadcast back into a
filter on the explicit ``event_id``; no global sort, no row_number over
everything — the idx is already part of the data contract (the callers
pass ``events.event_id``).
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


def _count(df: DataFrame) -> DataFrame:
    return df.groupBy().agg(F.count(F.lit(1)).alias("__n"))


def modulo_trim(df: DataFrame, k: int) -> DataFrame:
    """Keep event_id < n - n % k. The count is one row, so Catalyst
    broadcasts it into the join."""
    keep = _count(df).select(
        (F.col("__n") - F.col("__n") % F.lit(k)).alias("__keep")
    )
    joined = df.crossJoin(F.broadcast(keep))
    return joined.filter(F.col("event_id") < F.col("__keep")).drop("__keep")


def prefix_split(df: DataFrame) -> DataFrame:
    """Label events 'train' (the first ceil(0.7 n / 1000) * 1000 by
    ``event_id``) or 'test'.

    Mirrors trainer.py:58: ``split = ceil(n * 0.7 / SPLIT) * SPLIT``.
    """
    cut = _count(df).select(
        (F.ceil(F.col("__n") * F.lit(0.7) / F.lit(1000)) * F.lit(1000)).alias(
            "__cut"
        ),
    )
    joined = df.crossJoin(F.broadcast(cut))
    return joined.withColumn(
        "split",
        F.when(F.col("event_id") < F.col("__cut"), F.lit("train")).otherwise(
            F.lit("test")
        ),
    ).drop("__cut")
