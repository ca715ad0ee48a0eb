"""Composed end-to-end streaming bearing pipeline (SURVEY §2.9): ONE
Structured Streaming query chaining TWO stateful operators —

  snapshot-file stream (filename = event time, S1/S2)
    → stack channels wide→long (stateless P11)
    → tumbling-window per-channel mean-square (A2) with watermark
    → threshold filter (M11, broadcast-able scalar)
    → session-window anomaly episodes (W10)

Chained-stateful mechanics (Spark 3.4+ multiple-stateful support): the
downstream session aggregate must consume the event time PROPAGATED
from the upstream window column via ``window_time(period)``. A second
``withWatermark`` on a projected timestamp does NOT work — the global
micro-batch watermark has already passed everything the upstream
aggregate emits, so a re-declared watermark classifies every row as
late and the downstream state never receives input (observed: empty
output). ``window_time`` is window.end - 1µs, so episode bounds are
offset by 1µs from the period grid — callers should compare on
``date_trunc``'d bounds or counts.

State scale: upstream state = one aggregate per (channel, open window);
downstream = one session per (channel, open episode). Both bounded by
the watermark; partitioning follows the channel key.

Sizing note: the state partition count is frozen from
``spark.sql.shuffle.partitions`` when the query first starts and is
never AQE-coalesced, so set it from key cardinality x state volume
BEFORE ``.start()`` — not from core count. Measured on the bench
corpus (4 channels, 6 micro-batches): 32 partitions = 11.0s, 8
partitions = 4.4s for identical results. Each state partition commits
a delta file per operator per batch, and without ``libhadoop`` each
checkpoint file costs shell processes (``chmod`` per create, and under
Spark's default checkpoint manager ``readlink`` per rename lookup), so
the delta was process spawns on near-empty partitions, not work.
``get_spark`` removes the ``readlink`` ones (``session`` docstring).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from .pipeline import stream_snapshot_dir


def snapshot_mse_stream(
    spark: SparkSession,
    path: str,
    n_cols: int,
    period: str,
    watermark: str,
    max_files_per_trigger: int | None,
) -> DataFrame:
    """Streaming S1/S2 → P11 → A2: per-channel tumbling-window mean
    square over an arriving snapshot directory.
    ``max_files_per_trigger`` caps source files per micro-batch (also
    respected by availableNow drains), forcing a multi-batch run."""
    snap = stream_snapshot_dir(spark, path, n_cols, max_files_per_trigger)
    pairs = ", ".join(f"'{i}', c{i}" for i in range(n_cols))
    long = snap.select(
        "file_ts",
        F.expr(f"stack({n_cols}, {pairs}) AS (channel, value)"),
    )
    return (
        long.withWatermark("file_ts", watermark)
        .groupBy(F.window("file_ts", period).alias("period"), "channel")
        .agg(
            F.avg(F.col("value") * F.col("value")).alias("mse"),
            F.count(F.lit(1)).alias("n_samples"),
        )
    )


def snapshot_anomaly_episodes_stream(
    spark: SparkSession,
    path: str,
    n_cols: int,
    threshold: float,
    period: str = "1 minute",
    gap: str = "2 minutes",
    watermark: str = "0 seconds",
    max_files_per_trigger: int | None = None,
) -> DataFrame:
    """The full chain in ONE streaming query: windowed MSE → threshold
    → session-window episodes (two stateful operators)."""
    mse = snapshot_mse_stream(
        spark, path, n_cols, period, watermark, max_files_per_trigger
    )
    return (
        mse.filter(F.col("mse") > threshold)
        .groupBy(
            F.session_window(F.window_time("period"), gap).alias("episode"),
            "channel",
        )
        .agg(
            F.count(F.lit(1)).alias("n_periods"),
            F.round(F.max("mse"), 6).alias("peak_mse"),
        )
        .select(
            F.col("episode.start").alias("episode_start"),
            F.col("episode.end").alias("episode_end"),
            "channel",
            "n_periods",
            "peak_mse",
        )
    )
