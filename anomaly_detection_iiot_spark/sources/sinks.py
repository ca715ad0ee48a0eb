"""Result sinks & auxiliary scans (SURVEY §2.1 S6, S7, S11).

Reference: JSON results dict per model/client (trainer.py:204-211,
visualization.py:341-347), JSON scans (visualization.py:41-43), and a
Keras-stdout text-log scanner (logger.py:106-161). Spark-first: the
results ARE DataFrames; JSON sink/scan is one line each, and the log
scanner is read.text + regexp_extract instead of a Python line loop.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F


def write_results_json(df: DataFrame, path: str, mode: str = "overwrite") -> None:
    """S6: JSON results sink (trainer.py:204-211)."""
    df.write.mode(mode).json(path)


def read_results_json(spark: SparkSession, path: str) -> DataFrame:
    """S7: JSON scan with schema inference (visualization.py:41-43)."""
    return spark.read.json(path)


TRAIN_LOG_RE = (
    r"loss: ([0-9.eE+\-]+)(?: - val_loss: ([0-9.eE+\-]+))?"
)
EPOCH_RE = r"Epoch (\d+)/(\d+)"


def parse_training_log(spark: SparkSession, path: str) -> DataFrame:
    """S11: parse Keras-style stdout into an (epoch, loss, val_loss)
    table (logger.py:106-161's line loop as one scan)."""
    lines = spark.read.text(path).withColumn(
        "line_no", F.monotonically_increasing_id()
    )
    epochs = lines.withColumn(
        "epoch", F.regexp_extract("value", EPOCH_RE, 1).try_cast("int")
    ).withColumn("loss_s", F.regexp_extract("value", TRAIN_LOG_RE, 1)
    ).withColumn("val_loss_s", F.regexp_extract("value", TRAIN_LOG_RE, 2))
    # epoch headers carry the number; metric lines carry the losses —
    # forward-fill epoch over line order (bounded window, one partition
    # per log file is fine: logs are KBs)
    from pyspark.sql import Window

    w = Window.orderBy("line_no").rowsBetween(Window.unboundedPreceding, 0)
    filled = epochs.withColumn(
        "epoch_f", F.last(F.when(F.col("epoch") > 0, F.col("epoch")), True).over(w)
    )
    return (
        filled.filter(F.col("loss_s") != "")
        .select(
            F.col("epoch_f").alias("epoch"),
            F.col("loss_s").try_cast("double").alias("loss"),
            F.when(F.col("val_loss_s") != "", F.col("val_loss_s"))
            .try_cast("double")
            .alias("val_loss"),
        )
    )
