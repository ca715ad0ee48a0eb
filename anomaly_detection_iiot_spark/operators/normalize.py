"""Z-normalization / StandardScaler (SURVEY §2.7 M1).

Reference semantics: sklearn ``StandardScaler().fit_transform`` per
column (/root/reference/src/training/trainer.py:66-69 refits on full and
train slices; /root/reference/src/training/baseline.py:110-112 fits on
train, transforms test). ``standard_scale``'s callers (m1, the bearing
plan) fit and transform the same rows.

Spark mapping: a tiny per-key aggregate of (mean, stddev) broadcast-joined
back into the expression ``(v - mean) / std``. sklearn's StandardScaler
uses population std (ddof=0) → ``stddev_pop``; the sample std of
pandas' ``.std()`` belongs to the A3 thresholds (threshold.py). At
scale this is one partial+final agg over the fit slice plus a
broadcast join — no shuffle of the big table.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


def standard_scale(
    df: DataFrame,
    value_col: str,
    keys: list[str],
    out: str | None = None,
) -> DataFrame:
    """Fit on all rows, transform all rows: ``(v - mean) / stddev_pop``
    per key, 0 where the key's values are constant."""
    out = out or f"{value_col}_scaled"
    scaler = df.groupBy(*keys).agg(
        F.expr(f"avg({value_col}) AS __mean"),
        F.expr(f"stddev_pop({value_col}) AS __std"),
    )
    return df.join(F.broadcast(scaler), list(keys)).selectExpr(
        "* EXCEPT (__mean, __std)",
        f"CASE WHEN __std = 0 THEN 0.0D ELSE ({value_col} - __mean) / __std"
        f" END AS {out}",
    )
