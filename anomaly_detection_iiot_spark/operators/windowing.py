"""Strided sliding windows / lookback tensors (SURVEY §2.4 W1, W2, W3, W4).

Reference semantics:
- W1: windows of WINDOW_SIZE=100 with step WINDOW_STEP=50 (50 % overlap)
  over the stacked series: ``[data[i:i+100] for i in range(0, n-50, 50)]``
  (/root/reference/src/training/trainer.py:75-78, config.yaml:29-30).
- W2: score only every 2nd window → non-overlapping (trainer.py:183).
- W3: per-row lookback of the previous 20 rows (baseline.py:168-181).
- W4: last timestep of each predicted sequence (baseline.py:132-145).

Spark mapping — two formulations, both shuffle-light:

1. ``assign_window_ids``: each sample maps to the (size/step) window ids
   that contain it via a narrow ``explode`` of a size/step-long id array;
   downstream aggregation per window id is an ordinary hash agg. This is
   the 100-TB-safe path: no global sort, no collect_list of the whole
   series, and each row is duplicated only size/step (=2) times.
2. ``window_arrays``: materializes ArrayType window tensors for the ML
   kernels via collect_list over a bounded row window (needs the
   per-series sort, done once after ingestion bucketing).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F


def assign_window_ids(
    df: DataFrame,
    size: int = 100,
    step: int = 50,
    idx_col: str = "sample_idx",
    keys: list[str] = (),
    out: str = "window_idx",
) -> DataFrame:
    """Explode each row into the sliding windows containing it.

    Window w covers [w*step, w*step + size). A row at idx belongs to
    windows floor(idx/step) - j for j in 0..(size/step - 1) that are >= 0
    and satisfy idx < w*step + size. ``size`` must be a multiple of
    ``step`` (true in the reference: 100/50).
    """
    if size % step:
        raise ValueError("size must be a multiple of step")
    fan = size // step
    base = (F.col(idx_col) / F.lit(step)).cast("long")
    cands = F.array(*[base - F.lit(j) for j in range(fan)])
    exploded = df.withColumn(out, F.explode(cands))
    return exploded.filter(
        (F.col(out) >= 0)
        & (F.col(idx_col) >= F.col(out) * step)
        & (F.col(idx_col) < F.col(out) * step + size)
    )


def stride_filter(
    df: DataFrame, every: int = 2, win_col: str = "window_idx"
) -> DataFrame:
    """W2: keep every ``every``-th window (non-overlapping scoring set).
    Placed BEFORE expensive UDFs so Catalyst prunes the work."""
    return df.filter(F.col(win_col) % every == 0)


def window_arrays(
    df: DataFrame,
    size: int = 100,
    step: int = 50,
    idx_col: str = "sample_idx",
    value_col: str = "value",
    keys: list[str] = (),
    out: str = "window",
) -> DataFrame:
    """Materialize ArrayType window tensors: one row per complete window,
    values ordered by sample_idx. Used to feed the ML kernels (M6/M7).

    Tumbling case (step == size) is a plain hash aggregate — no sort,
    no per-row array building: groupBy(idx div size) + collect_list of
    (idx, value) structs sorted JVM-side. The strided case uses
    collect_list over rowsBetween(0, size-1) anchored at rows where
    idx % step == 0; ordering inside the array follows the window's
    ORDER BY idx, which is deterministic given unique idx.

    PRECONDITION (strided path): ``idx_col`` must be contiguous
    0,1,2,... per key group — the row-count frame equates "next size
    rows" with "next size idx values", so an idx gap would silently
    widen the covered idx range while still passing the size==N filter,
    diverging from ``assign_window_ids``' idx-range semantics.
    Ingestion establishes contiguity (``sources/bearing.py``'s per-file
    row_number; ``event_id`` for the ``events`` table); keep that
    invariant upstream of this call.
    """
    if step == size:
        grouped = (
            df.groupBy(
                *keys,
                (F.col(idx_col) / F.lit(size)).cast("long").alias("window_idx"),
            )
            .agg(
                F.array_sort(
                    F.collect_list(
                        F.struct(
                            F.col(idx_col).alias("i"),
                            F.col(value_col).alias("v"),
                        )
                    )
                ).alias("__sv")
            )
            .filter(F.size("__sv") == size)
        )
        return grouped.select(
            *keys,
            "window_idx",
            F.transform("__sv", lambda s: s["v"]).alias(out),
        )
    w = (
        Window.partitionBy(*keys)
        .orderBy(idx_col)
        .rowsBetween(Window.currentRow, size - 1)
    )
    arr = df.withColumn(out, F.collect_list(value_col).over(w))
    return (
        arr.filter((F.col(idx_col) % step == 0) & (F.size(out) == size))
        .withColumn("window_idx", (F.col(idx_col) / F.lit(step)).cast("long"))
        .select(*keys, "window_idx", out)
    )


def lookback_arrays(
    df: DataFrame,
    lookback: int = 20,
    idx_col: str = "sample_idx",
    value_cols: list[str] = ("value",),
    keys: list[str] = (),
    out: str = "lookback",
) -> DataFrame:
    """W3: for each row, the previous ``lookback`` rows (inclusive) as an
    array per feature; rows without a full lookback are dropped
    (baseline.py:127 starts at i=lookback)."""
    w = (
        Window.partitionBy(*keys)
        .orderBy(idx_col)
        .rowsBetween(-(lookback - 1), Window.currentRow)
    )
    res = df
    for c in value_cols:
        res = res.withColumn(f"{out}_{c}", F.collect_list(c).over(w))
    cond = F.size(f"{out}_{value_cols[0]}") == lookback
    return res.filter(cond)


def last_timestep(df: DataFrame, arr_col: str, out: str = "last_step") -> DataFrame:
    """W4: element_at(arr, -1)."""
    return df.withColumn(out, F.element_at(F.col(arr_col), -1))
