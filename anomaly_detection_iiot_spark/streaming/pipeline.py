"""Streaming anomaly pipeline (SURVEY §2.9).

Reference shape: one snapshot file lands per second, filename IS the
event time (bearing.py:27-30, appended with a "must not exist yet!!"
comment — i.e. no late/duplicate handling at all). Structured
Streaming gives us what the reference couldn't:

- file source + event-time watermark → bounded state with late-file
  tolerance;
- ``dropDuplicates`` on (file_ts, channel, sample_idx) within the
  watermark → exactly-once per sample even if a file is re-delivered;
- tumbling ``window(ts, period)`` per-period MSE = streaming A2;
- ``session_window(ts, gap)`` = streaming W10 anomaly episodes;
- stateless Arrow UDF scoring (M6) runs unchanged on a stream;
- checkpointed sinks make the whole pipeline restartable.

Scale: state per key is one window aggregate; partitioning follows the
groupBy keys (channel), so 1000 executors shard channels × windows.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.streaming import DataStreamWriter

from ..sources.bearing import FILENAME_TS_FMT, FILENAME_TS_RE, snapshot_schema


def stream_snapshot_dir(
    spark: SparkSession,
    path: str,
    n_cols: int,
    max_files_per_trigger: int | None,
) -> DataFrame:
    """Streaming S1+S2: the snapshot directory as a file-source stream;
    event time parsed from the arriving file's name."""
    reader = (
        spark.readStream.option("sep", "\t")
        .schema(snapshot_schema(n_cols))
    )
    if max_files_per_trigger:
        reader = reader.option("maxFilesPerTrigger", max_files_per_trigger)
    raw = reader.csv(path)
    file_ts = F.to_timestamp(
        F.regexp_extract(F.input_file_name(), FILENAME_TS_RE, 1),
        FILENAME_TS_FMT,
    )
    return raw.withColumn("file_ts", file_ts)


def periodic_mse_stream(
    events: DataFrame,
    ts_col: str = "ts",
    value_col: str = "value",
    keys: tuple[str, ...] = ("user_id",),
    period: str = "1 minute",
    watermark: str = "2 minutes",
) -> DataFrame:
    """Streaming A2: tumbling-window mean-square per key with an
    event-time watermark bounding state and admitting late rows."""
    return (
        events.withWatermark(ts_col, watermark)
        .groupBy(F.window(ts_col, period).alias("period"), *keys)
        .agg(
            F.avg(F.col(value_col) * F.col(value_col)).alias("mse"),
            F.count(F.lit(1)).alias("n_samples"),
        )
        .select(
            F.col("period.start").alias("period_start"),
            *keys,
            "mse",
            "n_samples",
        )
    )


def anomaly_episodes_stream(
    flagged: DataFrame,
    ts_col: str = "ts",
    keys: tuple[str, ...] = ("user_id",),
    gap: str = "5 minutes",
    watermark: str = "10 minutes",
    flag_col: str = "is_anomaly",
) -> DataFrame:
    """Streaming W10: contiguous anomalous rows (within ``gap``) merge
    into one session = one anomaly episode with [start, end] bounds."""
    return (
        flagged.filter(F.col(flag_col) == 1)
        .withWatermark(ts_col, watermark)
        .groupBy(F.session_window(ts_col, gap).alias("episode"), *keys)
        .agg(F.count(F.lit(1)).alias("n_anomalous"))
        .select(
            F.col("episode.start").alias("episode_start"),
            F.col("episode.end").alias("episode_end"),
            *keys,
            "n_anomalous",
        )
    )


def dedup_within_watermark(
    df: DataFrame,
    ts_col: str,
    key_cols: tuple[str, ...],
    watermark: str = "10 minutes",
) -> DataFrame:
    """Exactly-once per logical record under file re-delivery: the
    reference's silent append becomes dropDuplicates bounded by the
    watermark."""
    return df.withWatermark(ts_col, watermark).dropDuplicates(
        [*key_cols, ts_col]
    )


def start_to_memory(
    sdf: DataFrame,
    name: str,
    output_mode: str = "append",
) -> DataStreamWriter:
    """Test/debug sink: run all available input now, then stop. The
    production path swaps this for a checkpointed parquet/kafka sink —
    the plan upstream is identical."""
    return (
        sdf.writeStream.format("memory")
        .queryName(name)
        .outputMode(output_mode)
        .trigger(availableNow=True)
    )
