"""Wide→long stacking and repeat-upsampling (SURVEY §2.2 P11, §2.4 W7).

Reference semantics:
- P11: stack feature columns vertically into one ``Vibration`` column,
  bearing-major, rounded to 4 digits (/root/reference/src/data/
  restructure.py:12-15; equivalently trainer.py:72-73's
  ``data.T.reshape((-1,1))``).
- W7: ``np.repeat(x, k)`` to re-expand period-level MSE to sample
  granularity (/root/reference/src/evaluation/visualization.py:85-86).

Spark mapping: ``stack()`` (UNPIVOT) is a narrow projection — zero
shuffle; ordering is preserved via an explicit (channel_pos, sample_idx)
key instead of pandas row order. ``explode(array_repeat(...))`` is the
repeat — a narrow generator, no shuffle.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


def stack_columns(
    df: DataFrame,
    value_cols: list[str],
    idx_col: str = "sample_idx",
    keys: list[str] = (),
    channel_col: str = "channel",
    out: str = "value",
    round_digits: int | None = None,
) -> DataFrame:
    """Vertically stack ``value_cols`` (channel-major): output rows carry
    (channel position, original idx) so the reference's positional
    stacking order ``channel * n + idx`` is reconstructible without any
    implicit row order."""
    pairs = ", ".join(f"{i}, `{c}`" for i, c in enumerate(value_cols))
    stacked = df.select(
        *keys,
        F.col(idx_col),
        F.expr(f"stack({len(value_cols)}, {pairs}) as ({channel_col}, {out})"),
    )
    if round_digits is not None:
        stacked = stacked.withColumn(out, F.round(F.col(out), round_digits))
    return stacked


def repeat_upsample(
    df: DataFrame,
    k: int,
    idx_col: str = "chunk_idx",
    out_idx: str = "sample_idx",
) -> DataFrame:
    """np.repeat(value_row, k): each input row becomes k rows with
    sample_idx = chunk_idx * k + offset."""
    return (
        df.withColumn("__off", F.explode(F.sequence(F.lit(0), F.lit(k - 1))))
        .withColumn(out_idx, F.col(idx_col) * F.lit(k) + F.col("__off"))
        .drop("__off")
    )
