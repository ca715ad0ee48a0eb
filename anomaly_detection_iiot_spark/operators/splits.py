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
filter on the explicit ``sample_idx``; no global sort, no row_number over
everything — the idx is already part of the data contract (the callers
pass ``events.event_id``).
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


def _count_per_key(df: DataFrame, keys: list[str]) -> DataFrame:
    return df.groupBy(*keys).agg(F.count(F.lit(1)).alias("__n"))


def modulo_trim(
    df: DataFrame, k: int, idx_col: str = "sample_idx", keys: list[str] = ()
) -> DataFrame:
    """Keep idx < n - n % k (per key). The count sub-aggregate is tiny
    (one row per key) so Catalyst broadcasts it into the join."""
    counts = _count_per_key(df, list(keys))
    keep = counts.select(
        *keys, (F.col("__n") - F.col("__n") % F.lit(k)).alias("__keep")
    )
    joined = df.join(F.broadcast(keep), list(keys)) if keys else df.crossJoin(
        F.broadcast(keep)
    )
    return joined.filter(F.col(idx_col) < F.col("__keep")).drop("__keep")


def prefix_split(
    df: DataFrame,
    train_fraction: float = 0.7,
    align: int = 1,
    idx_col: str = "sample_idx",
    keys: list[str] = (),
    out: str = "split",
) -> DataFrame:
    """Label rows 'train' (first ceil(frac*n/align)*align rows) or 'test'.

    Mirrors trainer.py:58: ``split = ceil(n * 0.7 / SPLIT) * SPLIT``.
    """
    counts = _count_per_key(df, list(keys))
    cut = counts.select(
        *keys,
        (
            F.ceil(F.col("__n") * F.lit(train_fraction) / F.lit(align)) * F.lit(align)
        ).alias("__cut"),
    )
    joined = df.join(F.broadcast(cut), list(keys)) if keys else df.crossJoin(
        F.broadcast(cut)
    )
    return joined.withColumn(
        out,
        F.when(F.col(idx_col) < F.col("__cut"), F.lit("train")).otherwise(
            F.lit("test")
        ),
    ).drop("__cut")
