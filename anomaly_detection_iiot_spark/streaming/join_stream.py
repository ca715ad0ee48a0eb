"""Stream-stream watermarked interval join (view → click attribution).

The one Structured Streaming shape the suite didn't yet exercise: two
unbounded sides joined on an equi key PLUS an event-time range
condition. Spark keeps both sides' unmatched rows in state; the
watermark + the time-range bound are what let it EVICT — without them
state grows forever. With them, a view is held for at most
(horizon + watermark delay) of event time, so state is bounded by
arrival rate × horizon regardless of total stream length.

The builder is engine-neutral: ``withWatermark`` is a no-op on batch
DataFrames, so the SAME function is the batch oracle query
(j8_view_click_pairs) and the streaming query — the
stream==batch test in tests/test_stream_join.py holds by construction
of the inputs, not by two parallel implementations.

At 100 TB scale the equi key (user_id) drives a hash shuffle of both
streams; the range predicate is evaluated post-join within the key
group, so per-key state is the only quadratic surface — skewed users
would need key salting with horizon-aligned sub-buckets.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


def view_click_pairs(views: DataFrame, clicks: DataFrame) -> DataFrame:
    """Attribute each click to every view by the same user within the
    preceding hour, under a 2-hour watermark on both sides. Inputs need
    (user_id, v_id, v_ts) / (user_id, c_id, c_ts); works on both batch
    and streaming frames. Output: user_id, view_id, click_id, lag_us
    (integer microseconds, engine-exact)."""
    v = views.withWatermark("v_ts", "2 hours").alias("v")
    c = clicks.withWatermark("c_ts", "2 hours").alias("c")
    return (
        v.join(
            c,
            F.expr(
                "v.user_id = c.user_id"
                " AND c.c_ts >= v.v_ts"
                " AND c.c_ts <= v.v_ts + INTERVAL 3600 SECOND"
            ),
        )
        .select(
            F.col("v.user_id").alias("user_id"),
            F.col("v.v_id").alias("view_id"),
            F.col("c.c_id").alias("click_id"),
            (F.unix_micros("c.c_ts") - F.unix_micros("v.v_ts")).alias(
                "lag_us"
            ),
        )
    )


def split_event_streams(events: DataFrame) -> tuple[DataFrame, DataFrame]:
    """Project an events frame (batch or stream) into the view/click
    sides the join expects."""
    views = events.filter(F.col("event_type") == "view").select(
        "user_id",
        F.col("event_id").alias("v_id"),
        F.col("ts").alias("v_ts"),
    )
    clicks = events.filter(F.col("event_type") == "click").select(
        "user_id",
        F.col("event_id").alias("c_id"),
        F.col("ts").alias("c_ts"),
    )
    return views, clicks
