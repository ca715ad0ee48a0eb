"""KBM pump/industrial-machine sensor source (SURVEY §2.1/§1.1).

Reference semantics (/root/reference/src/data/pipeline.py:12-34): CSV
with ``vibration-x/y/z``, a ``tags`` string embedding
``"...temperature=<v> ..."`` (pipeline.py:30-31), a fractional ``time``
column truncated to seconds (pipeline.py:33), rows sorted by time
(pipeline.py:32); per-machine anomaly timestamps are hardcoded literals
(pipeline.py:7-11). Two timestamp formats occur in the wild
(calculations.py:14-17) — handled with a coalesce of parsers (P5).
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F

TS_FORMATS = ("yyyy-MM-dd HH:mm:ss", "dd/MM/yyyy HH:mm:ss")


def parse_ts_multi(col: Column) -> Column:
    """P5: first format that parses wins (calculations.py:14-17).
    try_to_timestamp, not to_timestamp: ANSI mode (Spark 4 default)
    makes the latter THROW on the first non-matching format."""
    return F.coalesce(*[F.try_to_timestamp(col, F.lit(f)) for f in TS_FORMATS])


def read_kbm_csv(spark: SparkSession, path: str) -> DataFrame:
    """S5+P3+P4+O1: scan, extract temperature from the tags map-string,
    truncate time to seconds, order by time."""
    raw = spark.read.option("header", "true").csv(path)
    temp = F.regexp_extract(
        F.col("tags"), r"temperature=([0-9.eE+\-]+)", 1
    ).cast("double")
    time_sec = F.substring_index(F.col("time"), ".", 1)
    return (
        raw.withColumn("temperature", temp)
        .withColumn("time_sec", time_sec)
        .withColumn("ts", parse_ts_multi(F.col("time_sec")))
        .select(
            F.col("vibration-x").cast("double").alias("vibration_x"),
            F.col("vibration-y").cast("double").alias("vibration_y"),
            F.col("vibration-z").cast("double").alias("vibration_z"),
            "temperature",
            "time_sec",
            "ts",
        )
        .orderBy("ts")
    )


def with_anomaly_labels(df: DataFrame, anomaly_ts: list[str]) -> DataFrame:
    """Label rows at/after any hardcoded anomaly timestamp within a
    1-hour episode window (pipeline.py:7-11's literals generalized to a
    broadcast range join)."""
    spark = df.sparkSession
    anoms = spark.createDataFrame(
        [(t,) for t in anomaly_ts], "anom_ts_str string"
    ).select(parse_ts_multi(F.col("anom_ts_str")).alias("anom_ts"))
    joined = df.join(
        F.broadcast(anoms),
        (F.col("ts") >= F.col("anom_ts"))
        & (F.col("ts") < F.col("anom_ts") + F.expr("INTERVAL 1 HOUR")),
        "left",
    )
    return (
        joined.groupBy(*df.columns)
        .agg(F.max(F.col("anom_ts").isNotNull().cast("int")).alias("is_anomaly"))
    )


# --- corrupt-record quarantine (ingestion twin of the media decode
# quarantine mode in operators/multimodal.py) --------------------------------

KBM_QUARANTINE_SCHEMA = (
    "`vibration-x` STRING, `vibration-y` STRING, `vibration-z` STRING, "
    "tags STRING, time STRING, _corrupt STRING"
)


def read_kbm_csv_quarantined(
    spark: SparkSession, path: str
) -> tuple[DataFrame, DataFrame]:
    """PERMISSIVE scan that never fails the job on bad input: returns
    (good, quarantine). Structurally broken lines land in Spark's
    corrupt-record column; rows that parse structurally but carry an
    unparseable number or timestamp are routed to quarantine with a
    typed ``reason`` instead of poisoning downstream math with nulls.

    At 100 TB one malformed line in one of a million CSVs must not kill
    the ingest job (fail-fast is the right default for the CURATED
    bearing snapshots, wrong for raw machine exports) — and silent
    null-coercion is worse: the quarantine frame is a first-class
    output to count, sample, and re-ingest after a fix. Single pass,
    no shuffle: both frames are filters over the same scan, and
    Spark's scan reuse means the file is read once when both are
    consumed in one job.
    """
    raw = (
        spark.read.schema(KBM_QUARANTINE_SCHEMA)
        .option("header", "true")
        .option("mode", "PERMISSIVE")
        .option("columnNameOfCorruptRecord", "_corrupt")
        .csv(path)
    )
    return quarantine_split(raw)


def read_kbm_csv_quarantined_stream(
    spark: SparkSession, path: str
) -> tuple[DataFrame, DataFrame]:
    """Streaming twin of ``read_kbm_csv_quarantined``: the same
    PERMISSIVE schema + split over ``readStream`` file discovery, so a
    continuously-landing directory of raw machine CSVs yields two
    streams — clean rows onward, quarantine to its own sink. The split
    is stateless (two filters over one projection), so it composes
    with any downstream watermark/window without extra state;
    tests/test_sources.py proves stream==batch row equality. The good
    stream omits the batch reader's global orderBy (unsupported and
    meaningless on an unbounded stream — downstream event-time
    operators order by watermark instead)."""
    raw = (
        spark.readStream.schema(KBM_QUARANTINE_SCHEMA)
        .option("header", "true")
        .option("mode", "PERMISSIVE")
        .option("columnNameOfCorruptRecord", "_corrupt")
        .csv(path)
    )
    good, quarantine = quarantine_split(raw, ordered=False)
    return good, quarantine


def quarantine_split(
    raw: DataFrame, ordered: bool = True
) -> tuple[DataFrame, DataFrame]:
    """(good, quarantine) from a PERMISSIVE KBM scan — batch or
    streaming; the logic is a pure projection + two filters."""
    vx = F.col("vibration-x").try_cast("double")
    vy = F.col("vibration-y").try_cast("double")
    vz = F.col("vibration-z").try_cast("double")
    ts = parse_ts_multi(F.substring_index(F.col("time"), ".", 1))
    annotated = raw.select(
        "*",
        vx.alias("_vx"),
        vy.alias("_vy"),
        vz.alias("_vz"),
        ts.alias("_ts"),
    ).withColumn(
        "reason",
        F.when(F.col("_corrupt").isNotNull(), "malformed_row")
        .when(
            (F.col("_vx").isNull() & F.col("`vibration-x`").isNotNull())
            | (F.col("_vy").isNull() & F.col("`vibration-y`").isNotNull())
            | (F.col("_vz").isNull() & F.col("`vibration-z`").isNotNull()),
            "bad_number",
        )
        .when(F.col("_ts").isNull(), "bad_timestamp"),
    )
    temp = F.regexp_extract(
        F.col("tags"), r"temperature=([0-9.eE+\-]+)", 1
    ).cast("double")
    good = annotated.filter(F.col("reason").isNull()).select(
        F.col("_vx").alias("vibration_x"),
        F.col("_vy").alias("vibration_y"),
        F.col("_vz").alias("vibration_z"),
        temp.alias("temperature"),
        F.substring_index(F.col("time"), ".", 1).alias("time_sec"),
        F.col("_ts").alias("ts"),
    )
    if ordered:
        good = good.orderBy("ts")
    quarantine = annotated.filter(F.col("reason").isNotNull()).select(
        "reason",
        F.col("_corrupt").alias("corrupt_record"),
        F.col("`vibration-x`").alias("raw_vx"),
        "tags",
        "time",
    )
    return good, quarantine
