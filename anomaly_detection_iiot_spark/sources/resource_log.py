"""Resource-usage source (SURVEY §2.1 S10) and the event-log metrics
table.

Reference semantics (`/root/reference/src/util/logger.py:49-69`): a
side thread samples the training process's CPU%% and RSS once a second
and appends ``<iso_ts>,<cpu>,<mem_mb>`` lines to a text file;
``logger.py:72-97`` parses the file back and aggregates. Two
Spark-native layers:

1. **Scan** — ``read_resource_log`` reads the reference's exact CSV
   line shape back with an explicit schema (no inference, like the S5
   reader); the s10 round-trip query writes and rolls it up.
2. **Cluster-grade metrics table** — ``task_metrics_from_event_log``
   parses Spark's own event log (the serialized SparkListener bus)
   into a per-task metrics DataFrame: run time, GC time, shuffle
   read/write bytes, peak memory. This is the "SparkListener-based
   metrics table" analogue: instead of registering a live listener
   through py4j callbacks (driver-bound, fragile), the engine reads
   the durable log Spark already writes — declarative, replayable,
   and joinable like any other table. ``tools/scale_probe.py`` uses it
   to measure per-stage shuffle bytes for the dedup family.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

_LOG_SCHEMA = T.StructType(
    [
        T.StructField("sampled_at", T.TimestampType()),
        T.StructField("cpu_pct", T.DoubleType()),
        T.StructField("rss_mb", T.DoubleType()),
    ]
)


def read_resource_log(spark: SparkSession, path: str) -> DataFrame:
    """S10 scan side: explicit schema, no inference (the reference
    reader at logger.py:72-97 splits the same three fields)."""
    return spark.read.schema(_LOG_SCHEMA).csv(path)


# --- event-log metrics table --------------------------------------------------

# Spark writes compact JSON ('"Event":"..."'), but any JSON writer may
# put a space after the colon — match on the value alone, which only
# ever appears as the Event discriminator.
_TASK_END = '"SparkListenerTaskEnd"'


_EVENT_SCHEMA = T.StructType(
    [
        T.StructField("Stage ID", T.LongType()),
        T.StructField(
            "Task Info",
            T.StructType(
                [
                    T.StructField("Task ID", T.LongType()),
                    T.StructField("Executor ID", T.StringType()),
                ]
            ),
        ),
        T.StructField(
            "Task Metrics",
            T.StructType(
                [
                    T.StructField("Executor Run Time", T.LongType()),
                    T.StructField("JVM GC Time", T.LongType()),
                    T.StructField("Peak Execution Memory", T.LongType()),
                    T.StructField(
                        "Input Metrics",
                        T.StructType([T.StructField("Bytes Read", T.LongType())]),
                    ),
                    T.StructField(
                        "Output Metrics",
                        T.StructType([T.StructField("Bytes Written", T.LongType())]),
                    ),
                    T.StructField(
                        "Shuffle Read Metrics",
                        T.StructType(
                            [
                                T.StructField("Remote Bytes Read", T.LongType()),
                                T.StructField("Local Bytes Read", T.LongType()),
                            ]
                        ),
                    ),
                    T.StructField(
                        "Shuffle Write Metrics",
                        T.StructType(
                            [T.StructField("Shuffle Bytes Written", T.LongType())]
                        ),
                    ),
                ]
            ),
        ),
    ]
)


def task_metrics_from_event_log(spark: SparkSession, log_path: str) -> DataFrame:
    """Per-task metrics from a Spark event log (JSON-lines).

    Declarative parse: scan as text, keep ``SparkListenerTaskEnd``
    events, then ``from_json`` with a PARTIAL explicit schema — one
    parse per line, field names with spaces handled, extra fields
    ignored, and none of the huge merged schema ``spark.read.json``
    would infer over heterogeneous event types.
    """
    parsed = (
        spark.read.text(log_path)
        .filter(F.col("value").contains(_TASK_END))
        .select(F.from_json("value", _EVENT_SCHEMA).alias("e"))
    )
    m = "e.`Task Metrics`"
    return parsed.select(
        F.col("e.`Stage ID`").alias("stage_id"),
        F.col("e.`Task Info`.`Task ID`").alias("task_id"),
        F.col("e.`Task Info`.`Executor ID`").alias("executor_id"),
        F.col(f"{m}.`Executor Run Time`").alias("run_time_ms"),
        F.col(f"{m}.`JVM GC Time`").alias("gc_time_ms"),
        F.col(f"{m}.`Peak Execution Memory`").alias("peak_memory_bytes"),
        F.col(f"{m}.`Input Metrics`.`Bytes Read`").alias("input_bytes"),
        F.col(f"{m}.`Output Metrics`.`Bytes Written`").alias("output_bytes"),
        (
            F.col(f"{m}.`Shuffle Read Metrics`.`Remote Bytes Read`")
            + F.col(f"{m}.`Shuffle Read Metrics`.`Local Bytes Read`")
        ).alias("shuffle_read_bytes"),
        F.col(f"{m}.`Shuffle Write Metrics`.`Shuffle Bytes Written`").alias(
            "shuffle_write_bytes"
        ),
    )


_STAGE_COMPLETED = '"SparkListenerStageCompleted"'

_STAGE_SCHEMA = T.StructType(
    [
        T.StructField(
            "Stage Info",
            T.StructType(
                [
                    T.StructField("Stage ID", T.LongType()),
                    T.StructField("Stage Name", T.StringType()),
                ]
            ),
        )
    ]
)


def stage_names_from_event_log(
    spark: SparkSession, log_path: str
) -> DataFrame:
    """(stage_id, stage_name) from StageCompleted events — the label
    that lets per-stage executor time (e.g. d12_containment's
    dominating stage) be attributed to an operator in the plan instead
    of an opaque stage id. Same partial-schema
    from_json parse as task_metrics_from_event_log."""
    return (
        spark.read.text(log_path)
        .filter(F.col("value").contains(_STAGE_COMPLETED))
        .select(F.from_json("value", _STAGE_SCHEMA).alias("e"))
        .select(
            F.col("e.`Stage Info`.`Stage ID`").alias("stage_id"),
            F.col("e.`Stage Info`.`Stage Name`").alias("stage_name"),
        )
        .dropDuplicates(["stage_id"])
    )


def stage_metrics_summary(task_metrics: DataFrame) -> DataFrame:
    """Roll tasks up to stages — the table the scale probe reports."""
    return (
        task_metrics.groupBy("stage_id")
        .agg(
            F.count(F.lit(1)).alias("n_tasks"),
            F.sum("run_time_ms").alias("run_time_ms"),
            F.sum("shuffle_read_bytes").alias("shuffle_read_bytes"),
            F.sum("shuffle_write_bytes").alias("shuffle_write_bytes"),
            F.sum("input_bytes").alias("input_bytes"),
            F.max("peak_memory_bytes").alias("max_task_peak_memory"),
        )
        .orderBy("stage_id")
    )
