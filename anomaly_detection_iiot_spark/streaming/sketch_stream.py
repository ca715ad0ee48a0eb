"""Streaming maintenance of the per-minute HLL sketch rollup — the
serving-side twin of a24/a26 (queries/extras.py).

The 100 TB sliding-distinct design has two halves:

1. **Maintenance (this module, streaming)**: the event stream reduces
   to ONE k-byte DataSketches HLL sketch per (event_type, minute) —
   a watermarked windowed aggregation whose state is grid-sized, not
   stream-sized. Append mode emits each minute's finalized sketch
   exactly once, when the watermark passes the window end; late rows
   inside the watermark still merge into their minute (HLL register
   merge is max(), so the finalized sketch is IDENTICAL to the batch
   sketch over the same rows, regardless of arrival order or
   micro-batch boundaries).
2. **Serving (batch over the at-rest rollup)**: any trailing-window
   distinct question is answered by MERGING sketches
   (``hll_union_agg`` over a RANGE frame) — never by rescanning
   events. Distinct counts don't sum, but sketches union losslessly
   (pinned by tests/test_extras.py::
   test_hll_union_of_partitions_is_lossless).

Exactly-once at rest: the same per-batch ``ingest_batch=<id>``
overwrite layout as ann_ingest.py — a foreachBatch replay after a
crash rewrites its own directory partition, so duplicated sketch rows
are structurally impossible. Append mode additionally guarantees each
(type, minute) row is emitted in exactly one micro-batch, so the
serving-side union never double-merges a minute.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

LG_K = 14


def minute_sketch_stream(events_stream: DataFrame, watermark: str) -> DataFrame:
    """Watermarked per-(event_type, minute) HLL sketch aggregation.
    Append-mode emits one finalized (event_type, minute, sk) row per
    window once the watermark passes its end."""
    return (
        events_stream.withWatermark("ts", watermark)
        .groupBy(
            F.window("ts", "1 minute").alias("w"),
            "event_type",
        )
        .agg(F.hll_sketch_agg("user_id", F.lit(LG_K)).alias("sk"))
        .select("event_type", F.col("w.start").alias("minute"), "sk")
    )


def ingest_minute_sketches(
    events_stream: DataFrame,
    rollup_path: str,
    checkpoint: str,
    watermark: str = "2 minutes",
):
    """Append finalized minute sketches into the at-rest rollup.
    Returns the StreamingQuery (caller awaits/stops)."""
    sketches = minute_sketch_stream(events_stream, watermark=watermark)

    def write_batch(batch_df: DataFrame, batch_id: int) -> None:
        batch_df.write.mode("overwrite").parquet(
            f"{rollup_path}/ingest_batch={batch_id}"
        )

    return (
        sketches.writeStream.foreachBatch(write_batch)
        .option("checkpointLocation", checkpoint)
        .trigger(availableNow=True)
        .start()
    )


def sliding_distinct_serve(
    spark: SparkSession, rollup_path: str, trailing_minutes: int = 60
) -> DataFrame:
    """Trailing-window distinct users per event type, answered from
    the at-rest rollup alone: per-minute sketches union over a RANGE
    frame — each result row touches ``trailing_minutes`` k-byte
    sketches, never a raw event. Same window shape as a26's sketch
    half."""
    from pyspark.sql import Window

    rollup = spark.read.parquet(rollup_path)
    # idempotent re-merge per minute: harmless when rows are unique
    # (the append-mode guarantee), self-healing if an operator ever
    # compacts the layout
    per_min = rollup.groupBy("event_type", "minute").agg(
        F.hll_union_agg("sk").alias("sk")
    )
    w = (
        Window.partitionBy("event_type")
        .orderBy(F.unix_timestamp("minute"))
        .rangeBetween(-(trailing_minutes - 1) * 60, 0)
    )
    return per_min.select(
        "event_type",
        "minute",
        F.hll_sketch_estimate(F.hll_union_agg("sk").over(w)).alias("n_hll"),
    ).orderBy("event_type", "minute")
