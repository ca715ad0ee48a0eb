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


def assign_window_ids(df: DataFrame) -> DataFrame:
    """Explode each event into the sliding windows containing it: size
    100, step 50 (the reference's), by ``event_id``.

    Window w covers [w*50, w*50 + 100). A row at idx belongs to windows
    floor(idx/50) - j for j in 0..1 that are >= 0 and satisfy
    idx < w*50 + 100.
    """
    base = (F.col("event_id") / F.lit(50)).cast("long")
    cands = F.array(*[base - F.lit(j) for j in range(2)])
    exploded = df.withColumn("window_idx", F.explode(cands))
    return exploded.filter(
        (F.col("window_idx") >= 0)
        & (F.col("event_id") >= F.col("window_idx") * 50)
        & (F.col("event_id") < F.col("window_idx") * 50 + 100)
    )


def stride_filter(df: DataFrame) -> DataFrame:
    """W2: keep every second window (non-overlapping scoring set).
    Placed BEFORE expensive UDFs so Catalyst prunes the work."""
    return df.filter(F.col("window_idx") % 2 == 0)


def window_arrays(
    df: DataFrame,
    size: int = 100,
    step: int = 50,
    idx_col: str = "sample_idx",
    value_col: str = "value",
    keys: list[str] = (),
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
            F.transform("__sv", lambda s: s["v"]).alias("window"),
        )
    w = (
        Window.partitionBy(*keys)
        .orderBy(idx_col)
        .rowsBetween(Window.currentRow, size - 1)
    )
    arr = df.withColumn("window", F.collect_list(value_col).over(w))
    return (
        arr.filter((F.col(idx_col) % step == 0) & (F.size("window") == size))
        .withColumn("window_idx", (F.col(idx_col) / F.lit(step)).cast("long"))
        .select(*keys, "window_idx", "window")
    )


def lookback_arrays(df: DataFrame) -> DataFrame:
    """W3: for each event, the ``value`` of the previous 20 events of its
    user (inclusive) as ``lookback_value``; rows without a full lookback
    are dropped (baseline.py:127 starts at i=lookback)."""
    w = (
        Window.partitionBy("user_id")
        .orderBy("event_id")
        .rowsBetween(-19, Window.currentRow)
    )
    res = df.withColumn("lookback_value", F.collect_list("value").over(w))
    return res.filter(F.size("lookback_value") == 20)


def last_timestep(df: DataFrame, arr_col: str) -> DataFrame:
    """W4: element_at(arr, -1)."""
    return df.withColumn("last_step", F.element_at(F.col(arr_col), -1))
