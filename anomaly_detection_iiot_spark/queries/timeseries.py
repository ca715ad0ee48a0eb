"""Oracle-checked queries for the time-series operator family
(SURVEY §2.2 P*, §2.3 A*, §2.4 W*, §2.7 M1/M11) over the ``events``
table (ts≈file_ts, value≈vibration, user_id≈channel — FIXTURES.md
mapping note).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from ..operators import crossing, normalize, resample, rolling, sessionize
from ..operators import splits, stack_ops, threshold, windowing
from .base import QuerySpec, t


# --- A1 / A2: resample + chunk aggregation ---------------------------------

def a1_resample_mean(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = t(spark, sf_dir, "events")
    out = resample.resample_mean(ev, 100, idx_col="event_id")
    return out.select(
        "chunk_idx",
        F.round("value", 6).alias("avg_value"),
    )


A1_SQL = """
SELECT CAST(FLOOR(event_id / 100) AS BIGINT) AS chunk_idx,
       round(avg(value), 6) AS avg_value
FROM events GROUP BY 1
"""


def a2_chunk_mse(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = t(spark, sf_dir, "events")
    return (
        ev.groupBy(resample.chunk_id("event_id", 1000).alias("period_idx"))
        .agg(
            F.round(F.avg(F.col("value") * F.col("value")), 6).alias("mse"),
            F.count(F.lit(1)).alias("n_samples"),
        )
    )


A2_SQL = """
SELECT CAST(FLOOR(event_id / 1000) AS BIGINT) AS period_idx,
       round(avg(value * value), 6) AS mse,
       count(*) AS n_samples
FROM events GROUP BY 1
"""


# --- A3: mean + n*std threshold stats --------------------------------------

def a3_threshold_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = t(spark, sf_dir, "events")
    thr = threshold.fit_threshold(ev, "value", n_std=4.0, keys=["user_id"])
    stats = ev.groupBy("user_id").agg(
        F.round(F.avg("value"), 6).alias("mean_value"),
        F.round(F.stddev_samp("value"), 6).alias("std_value"),
    )
    return stats.join(
        thr.select("user_id", F.round("threshold", 6).alias("threshold")),
        "user_id",
    )


A3_SQL = """
SELECT user_id,
       round(avg(value), 6) AS mean_value,
       round(stddev_samp(value), 6) AS std_value,
       round(avg(value) + 4.0 * stddev_samp(value), 6) AS threshold
FROM events GROUP BY user_id
"""


# --- A9: distinct ----------------------------------------------------------

def a9_distinct(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = t(spark, sf_dir, "events")
    return ev.select(
        F.countDistinct("user_id").alias("n_users"),
        F.countDistinct("event_type").alias("n_types"),
        F.countDistinct(F.date_trunc("hour", "ts")).alias("n_hours"),
    )


A9_SQL = """
SELECT count(DISTINCT user_id) AS n_users,
       count(DISTINCT event_type) AS n_types,
       count(DISTINCT date_trunc('hour', ts)) AS n_hours
FROM events
"""


# --- P3: JSON tag extraction -----------------------------------------------

def p3_json_extract(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = t(spark, sf_dir, "events")
    return ev.select(
        "event_id",
        F.get_json_object("props", "$.k").cast("bigint").alias("k_value"),
    )


P3_SQL = """
SELECT event_id,
       CAST(json_extract_string(props, '$.k') AS BIGINT) AS k_value
FROM events
"""


# --- P6: rounding projection ------------------------------------------------

def p6_round_project(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = t(spark, sf_dir, "events")
    return ev.select(
        "event_id",
        F.round(F.col("value") / 10.0, 4).alias("value_scaled"),
    )


P6_SQL = """
SELECT event_id, round(value / 10.0, 4) AS value_scaled FROM events
"""


# --- P7: modulo trim -------------------------------------------------------

def p7_modulo_trim(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = t(spark, sf_dir, "events")
    trimmed = splits.modulo_trim(ev, 983)
    return trimmed.agg(
        F.count(F.lit(1)).alias("n_kept"),
        F.round(F.avg("value"), 6).alias("avg_value"),
    )


P7_SQL = """
SELECT count(*) AS n_kept, round(avg(value), 6) AS avg_value
FROM events
WHERE event_id < (SELECT count(*) - count(*) % 983 FROM events)
"""


# --- P8: deterministic prefix split ----------------------------------------

def p8_prefix_split(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = t(spark, sf_dir, "events")
    lab = splits.prefix_split(ev)
    return lab.groupBy("split").agg(
        F.count(F.lit(1)).alias("n_rows"),
        F.round(F.avg("value"), 6).alias("avg_value"),
    )


P8_SQL = """
WITH cut AS (
  SELECT CAST(ceil(count(*) * 0.7 / 1000) * 1000 AS BIGINT) AS c FROM events
)
SELECT CASE WHEN event_id < c THEN 'train' ELSE 'test' END AS split,
       count(*) AS n_rows, round(avg(value), 6) AS avg_value
FROM events, cut GROUP BY 1
"""


# --- M1: standard scaling ---------------------------------------------------

def m1_standard_scale(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = t(spark, sf_dir, "events")
    scaled = normalize.standard_scale(ev, "value", keys=["user_id"])
    return scaled.select(
        "event_id", "user_id", F.round("value_scaled", 6).alias("value_scaled")
    )


M1_SQL = """
SELECT event_id, user_id,
       round((value - avg(value) OVER (PARTITION BY user_id))
             / stddev_pop(value) OVER (PARTITION BY user_id), 6) AS value_scaled
FROM events
"""


# --- W5 / W6: rolling min / mean -------------------------------------------

def w5_rolling_min(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = t(spark, sf_dir, "events")
    out = rolling.rolling_min(
        ev, "value", window=3, partition_by=["user_id"], idx_col="event_id"
    )
    return out.select("event_id", "user_id", "rolling_min")


W5_SQL = """
SELECT event_id, user_id,
       min(value) OVER (PARTITION BY user_id ORDER BY event_id
                        ROWS BETWEEN 2 PRECEDING AND CURRENT ROW) AS rolling_min
FROM events
"""


def w6_rolling_mean(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = t(spark, sf_dir, "events")
    out = rolling.rolling_mean(ev, "value")
    return out.select(
        "event_id", "user_id", F.round("rolling_mean", 6).alias("rolling_mean")
    )


W6_SQL = """
SELECT event_id, user_id,
       round(avg(value) OVER (PARTITION BY user_id ORDER BY event_id
             ROWS BETWEEN 4 PRECEDING AND CURRENT ROW), 6) AS rolling_mean
FROM events
"""


# --- W14: EWMA (truncated horizon) -------------------------------------------

def w14_ewma(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exponentially weighted moving average per user (operators/
    rolling.py::ewma): truncated-horizon weighted-lag form, one window
    sort, pure codegen. The oracle is built from the same generated
    term list so summation order matches exactly."""
    ev = t(spark, sf_dir, "events")
    out = rolling.ewma(ev, "value")
    return out.select(
        "event_id", "user_id", F.round("ewma", 6).alias("ewma")
    )


_W14_NUM = " + ".join(
    f"CASE WHEN lag(value, {j}) OVER w IS NOT NULL "
    f"THEN {0.5 ** j!r} * lag(value, {j}) OVER w ELSE 0.0 END"
    for j in range(8)
)
_W14_DEN = " + ".join(
    f"CASE WHEN lag(value, {j}) OVER w IS NOT NULL "
    f"THEN {0.5 ** j!r} ELSE 0.0 END"
    for j in range(8)
)
W14_SQL = f"""
SELECT event_id, user_id,
       round(({_W14_NUM}) / ({_W14_DEN}), 6) AS ewma
FROM events WINDOW w AS (PARTITION BY user_id ORDER BY event_id)
"""


# --- W8: first crossing -----------------------------------------------------

def w8_first_crossing(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = t(spark, sf_dir, "events")
    return crossing.first_crossing(
        ev, "value", 95.0, idx_col="event_id", keys=["user_id"]
    )


W8_SQL = """
SELECT user_id,
       CAST(coalesce(min(CASE WHEN value > 95.0 THEN event_id END), 0) AS BIGINT)
         AS first_anomaly_idx
FROM events GROUP BY user_id
"""


# --- W9: as-of fraction -----------------------------------------------------

def w9_asof_fraction(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = t(spark, sf_dir, "events")
    out = crossing.asof_fraction(
        ev, "ts", F.lit("2024-01-15 00:00:00").cast("timestamp")
    )
    return out.select(
        "user_id", F.round("elapsed_fraction", 6).alias("elapsed_fraction")
    )


W9_SQL = """
SELECT user_id,
       round(sum(CASE WHEN ts < TIMESTAMP '2024-01-15 00:00:00' THEN 1 ELSE 0 END)
             * 1.0 / count(*), 6) AS elapsed_fraction
FROM events GROUP BY user_id
"""


# --- W10: islands + gap sessions -------------------------------------------

def w10_islands(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = t(spark, sf_dir, "events").filter(F.col("value") > 90.0)
    return sessionize.islands(ev, idx_col="event_id")


W10_ISLANDS_SQL = """
WITH hits AS (
  SELECT event_id,
         event_id - row_number() OVER (ORDER BY event_id) AS grp
  FROM events WHERE value > 90.0
)
SELECT CAST(min(event_id) AS BIGINT) AS island_start,
       CAST(max(event_id) AS BIGINT) AS island_end,
       count(*) AS island_len
FROM hits GROUP BY grp
"""


def w10_sessionize(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = t(spark, sf_dir, "events")
    sess = sessionize.sessionize_by_gap(ev)
    return sess.groupBy("user_id", "session_id").agg(
        F.count(F.lit(1)).alias("n_events"),
        F.min("ts").alias("session_start"),
        F.max("ts").alias("session_end"),
    )


W10_SESSION_SQL = """
WITH flagged AS (
  SELECT user_id, ts,
         CASE WHEN lag(ts) OVER w IS NULL
                OR epoch_us(ts) - epoch_us(lag(ts) OVER w) > 3600.0 * 1e6
              THEN 1 ELSE 0 END AS new_session
  FROM events
  WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
),
sessions AS (
  SELECT user_id, ts,
         CAST(sum(new_session) OVER (PARTITION BY user_id ORDER BY ts
              ROWS UNBOUNDED PRECEDING) AS BIGINT) AS session_id
  FROM flagged
)
SELECT user_id, session_id, count(*) AS n_events,
       min(ts) AS session_start, max(ts) AS session_end
FROM sessions GROUP BY user_id, session_id
"""


# --- W11: gap audit ---------------------------------------------------------

def w11_gap_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = t(spark, sf_dir, "events")
    out = sessionize.gap_audit(ev)
    return out.select(
        "user_id", "event_id", F.round("gap_seconds", 6).alias("gap_seconds")
    )


W11_SQL = """
SELECT user_id, event_id, gap_seconds FROM (
  SELECT user_id, event_id,
         round((epoch_us(ts) - epoch_us(lag(ts) OVER w)) / 1e6, 6) AS gap_seconds
  FROM events
  WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
)
WHERE gap_seconds IS NOT NULL AND (gap_seconds < 0 OR gap_seconds > 6 * 3600.0)
"""


# --- W12: cumulative certainty ---------------------------------------------

def w12_cumsum_certainty(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = t(spark, sf_dir, "events").withColumn("threshold", F.lit(50.0))
    out = rolling.certainty_accumulation(ev, "value", "threshold")
    return out.select(
        "event_id", "user_id", F.round("certainty", 6).alias("certainty")
    )


W12_SQL = """
SELECT event_id, user_id,
       round(sum(greatest(0.0, value - 50.0) / 50.0)
             OVER (PARTITION BY user_id ORDER BY event_id
                   ROWS UNBOUNDED PRECEDING), 6) AS certainty
FROM events
"""


# --- W13: lag realignment shift --------------------------------------------

def w13_lag_shift(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = t(spark, sf_dir, "events")
    out = rolling.lag_shift(
        ev, "value", 5, partition_by=["user_id"], idx_col="event_id"
    )
    return out.select("event_id", "user_id", "shifted")


W13_SQL = """
SELECT event_id, user_id,
       coalesce(lag(value, 5) OVER (PARTITION BY user_id ORDER BY event_id),
                value) AS shifted
FROM events
"""


# --- W1 / W2: strided sliding windows --------------------------------------

def w1_strided_windows(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = t(spark, sf_dir, "events")
    assigned = windowing.assign_window_ids(
        ev
    )
    return (
        assigned.groupBy(F.col("window_idx"))
        .agg(
            F.count(F.lit(1)).alias("n_samples"),
            F.round(F.avg("value"), 6).alias("avg_value"),
        )
        .filter(F.col("n_samples") == 100)
    )


W1_SQL = """
WITH assigned AS (
  SELECT event_id, value, CAST(wi AS BIGINT) AS window_idx
  FROM (SELECT event_id, value,
               unnest(generate_series(CAST(FLOOR(event_id / 50) AS BIGINT) - 1,
                                      CAST(FLOOR(event_id / 50) AS BIGINT))) AS wi
        FROM events) u
)
SELECT window_idx, count(*) AS n_samples, round(avg(value), 6) AS avg_value
FROM assigned
WHERE window_idx >= 0
  AND event_id >= window_idx * 50 AND event_id < window_idx * 50 + 100
GROUP BY window_idx
HAVING count(*) = 100
"""


def w2_stride_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    return windowing.stride_filter(
        w1_strided_windows(spark, sf_dir)
    )


W2_SQL = f"SELECT * FROM ({W1_SQL}) WHERE window_idx % 2 = 0"


# --- W3: lookback arrays ----------------------------------------------------

def w3_lookback_mean(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = t(spark, sf_dir, "events")
    lb = windowing.lookback_arrays(
        ev,
    )
    mean = F.aggregate(
        "lookback_value", F.lit(0.0), lambda acc, x: acc + x
    ) / F.size("lookback_value")
    return lb.select(
        "event_id", "user_id", F.round(mean, 6).alias("lookback_mean")
    )


W3_SQL = """
SELECT event_id, user_id, round(lb_sum / 20.0, 6) AS lookback_mean FROM (
  SELECT event_id, user_id,
         sum(value) OVER w AS lb_sum,
         count(*) OVER w AS lb_n
  FROM events
  WINDOW w AS (PARTITION BY user_id ORDER BY event_id
               ROWS BETWEEN 19 PRECEDING AND CURRENT ROW)
)
WHERE lb_n = 20
"""


# --- W7: repeat upsample ----------------------------------------------------

def w7_repeat_upsample(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = t(spark, sf_dir, "events")
    chunks = resample.resample_mean(
        ev, 1000, idx_col="event_id"
    )
    up = stack_ops.repeat_upsample(chunks, 3)
    return up.select(
        "sample_idx", F.round("value", 6).alias("value")
    )


W7_SQL = """
WITH chunks AS (
  SELECT CAST(FLOOR(event_id / 1000) AS BIGINT) AS chunk_idx, avg(value) AS value
  FROM events GROUP BY 1
)
SELECT CAST(chunk_idx * 3 + off AS BIGINT) AS sample_idx,
       round(value, 6) AS value
FROM (SELECT chunk_idx, value, unnest(generate_series(0, 2)) AS off FROM chunks)
"""


# --- P11: wide->long stack (on lineitem numeric columns) -------------------

def p11_stack_unpivot(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = t(spark, sf_dir, "lineitem").withColumn(
        "sample_idx",
        F.col("l_orderkey") * 10 + F.col("l_linenumber"),
    )
    stacked = stack_ops.stack_columns(
        li,
        ["l_quantity", "l_extendedprice", "l_discount"],
    )
    return stacked.groupBy("channel").agg(
        F.count(F.lit(1)).alias("n_rows"),
        F.round(F.avg("value"), 6).alias("avg_value"),
    )


P11_SQL = """
WITH stacked AS (
  SELECT 0 AS channel, round(l_quantity, 4) AS value FROM lineitem
  UNION ALL
  SELECT 1, round(l_extendedprice, 4) FROM lineitem
  UNION ALL
  SELECT 2, round(l_discount, 4) FROM lineitem
)
SELECT channel, count(*) AS n_rows, round(avg(value), 6) AS avg_value
FROM stacked GROUP BY channel
"""


# --- M11: threshold flagging ------------------------------------------------

def m11_threshold_flags(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = t(spark, sf_dir, "events")
    thr = threshold.fit_threshold(ev, "value", n_std=2.0, keys=["user_id"])
    flagged = threshold.flag_anomalies(ev, thr, "value", keys=["user_id"])
    return flagged.groupBy("user_id").agg(
        F.sum("is_anomaly").cast("bigint").alias("n_anomalies"),
        F.count(F.lit(1)).alias("n_events"),
    )


M11_SQL = """
WITH thr AS (
  SELECT user_id, avg(value) + 2.0 * stddev_samp(value) AS threshold
  FROM events GROUP BY user_id
)
SELECT e.user_id,
       CAST(sum(CASE WHEN e.value > t.threshold THEN 1 ELSE 0 END) AS BIGINT)
         AS n_anomalies,
       count(*) AS n_events
FROM events e JOIN thr t ON e.user_id = t.user_id
GROUP BY e.user_id
"""


# --- W17: regular-grid gap-fill (LOCF) ---------------------------------------

def w17_gap_fill(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gap-fill onto a regular grid with last-observation-carried-
    forward — the canonical sensor-data prep the reference's resample
    assumes has already happened (a real bearing rig drops samples;
    the model wants a dense hourly series). Per user: hourly means,
    the full min→max hourly grid via sequence/explode, a left join
    marking gaps, and an ignorenulls last() running window to carry
    the previous observation forward. One shuffle on (user, slot); the
    fill window rides the same partitioning. The first slot is never
    null (the grid starts at the first observed hour)."""
    ev = t(spark, sf_dir, "events").filter(F.col("user_id") < 16)
    hourly = ev.groupBy(
        "user_id", F.date_trunc("hour", "ts").alias("slot")
    ).agg(F.avg("value").alias("v"))
    grid = (
        hourly.groupBy("user_id")
        .agg(F.min("slot").alias("lo"), F.max("slot").alias("hi"))
        .select(
            "user_id",
            F.explode(
                F.sequence("lo", "hi", F.expr("INTERVAL 1 HOUR"))
            ).alias("slot"),
        )
    )
    joined = grid.join(hourly, ["user_id", "slot"], "left")
    w = (
        Window.partitionBy("user_id")
        .orderBy("slot")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    return joined.select(
        "user_id",
        "slot",
        F.round(F.last("v", ignorenulls=True).over(w), 6).alias(
            "value_filled"
        ),
        F.col("v").isNull().alias("was_gap"),
    )


W17_SQL = """
WITH h AS (
  SELECT user_id, date_trunc('hour', ts) AS slot, avg(value) AS v
  FROM events WHERE user_id < 16 GROUP BY 1, 2
), b AS (
  SELECT user_id, min(slot) AS lo, max(slot) AS hi FROM h GROUP BY 1
), grid AS (
  SELECT user_id, unnest(generate_series(lo, hi, INTERVAL 1 HOUR)) AS slot
  FROM b
), j AS (
  SELECT g.user_id, g.slot, h.v
  FROM grid g LEFT JOIN h ON g.user_id = h.user_id AND g.slot = h.slot
)
SELECT user_id, slot,
       round(last_value(v IGNORE NULLS) OVER (
         PARTITION BY user_id ORDER BY slot
         ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW), 6)
         AS value_filled,
       (v IS NULL) AS was_gap
FROM j
"""


# --- W18: time-weighted linear interpolation ---------------------------------

def w18_interpolate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The other half of gap handling (pandas ``interpolate(
    method='time')`` parity): gaps on the w17 grid filled by LINEAR
    interpolation between the surrounding observations, time-weighted
    by slot distance. Two running windows per row — last non-null
    value/slot looking back, first non-null looking forward — both
    riding the same (user) partitioning as the grid join, so the whole
    fill adds zero shuffles. Grid edges need no fallback: the grid
    spans first→last observation, so every gap is interior."""
    ev = t(spark, sf_dir, "events").filter(F.col("user_id") < 16)
    # hourly means quantized to INTEGER micro-units at the source:
    # a 6-decimal double is not exactly representable, and the two
    # engines' round() can return doubles one ulp apart for the same
    # decimal — integers can't. All interpolation arithmetic below
    # runs on identical bigints, so it is bit-identical IEEE math in
    # both engines and the final half-up can never see a straddle.
    hourly = ev.groupBy(
        "user_id", F.date_trunc("hour", "ts").alias("slot")
    ).agg(F.round(F.avg("value") * 1e6).cast("long").alias("v"))
    grid = (
        hourly.groupBy("user_id")
        .agg(F.min("slot").alias("lo"), F.max("slot").alias("hi"))
        .select(
            "user_id",
            F.explode(
                F.sequence("lo", "hi", F.expr("INTERVAL 1 HOUR"))
            ).alias("slot"),
        )
    )
    j = grid.join(hourly, ["user_id", "slot"], "left")
    back = (
        Window.partitionBy("user_id")
        .orderBy("slot")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    fwd = (
        Window.partitionBy("user_id")
        .orderBy("slot")
        .rowsBetween(Window.currentRow, Window.unboundedFollowing)
    )
    obs_slot = F.when(F.col("v").isNotNull(), F.col("slot"))
    prev_v = F.last("v", ignorenulls=True).over(back)
    prev_t = F.last(obs_slot, ignorenulls=True).over(back)
    next_v = F.first("v", ignorenulls=True).over(fwd)
    next_t = F.first(obs_slot, ignorenulls=True).over(fwd)
    frac = (
        (F.unix_timestamp("slot") - F.unix_timestamp(prev_t))
        / (F.unix_timestamp(next_t) - F.unix_timestamp(prev_t))
    )
    filled = F.when(F.col("v").isNotNull(), F.col("v")).otherwise(
        prev_v + (next_v - prev_v) * frac
    )
    # half-up on the micro scale (floor(x + 0.5) is the same
    # arithmetic in both engines), then one exact integer/1e6
    # division back to value units
    half_up = F.floor(filled + 0.5) / 1e6
    return j.select(
        "user_id",
        "slot",
        half_up.alias("value_interp"),
        F.col("v").isNull().alias("was_gap"),
    )


W18_SQL = """
WITH h AS (
  SELECT user_id, date_trunc('hour', ts) AS slot,
         CAST(round(avg(value) * 1e6) AS BIGINT) AS v
  FROM events WHERE user_id < 16 GROUP BY 1, 2
), b AS (
  SELECT user_id, min(slot) AS lo, max(slot) AS hi FROM h GROUP BY 1
), grid AS (
  SELECT user_id, unnest(generate_series(lo, hi, INTERVAL 1 HOUR)) AS slot
  FROM b
), j AS (
  SELECT g.user_id, g.slot, h.v
  FROM grid g LEFT JOIN h ON g.user_id = h.user_id AND g.slot = h.slot
), w AS (
  SELECT user_id, slot, v,
         last_value(v IGNORE NULLS) OVER back AS prev_v,
         last_value(CASE WHEN v IS NOT NULL THEN slot END IGNORE NULLS)
           OVER back AS prev_t,
         first_value(v IGNORE NULLS) OVER fwd AS next_v,
         first_value(CASE WHEN v IS NOT NULL THEN slot END IGNORE NULLS)
           OVER fwd AS next_t
  FROM j
  WINDOW back AS (PARTITION BY user_id ORDER BY slot
                  ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW),
         fwd AS (PARTITION BY user_id ORDER BY slot
                 ROWS BETWEEN CURRENT ROW AND UNBOUNDED FOLLOWING)
)
SELECT user_id, slot,
       floor((CASE WHEN v IS NOT NULL THEN CAST(v AS DOUBLE)
              ELSE prev_v + (next_v - prev_v)
                   * (epoch(slot) - epoch(prev_t))
                   / (epoch(next_t) - epoch(prev_t)) END) + 0.5)
         / 1e6 AS value_interp,
       (v IS NULL) AS was_gap
FROM w
"""


# --- A20: lag-1 autocorrelation per channel ----------------------------------

def a20_autocorr(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-user lag-1 autocorrelation of the value series (ordered by
    the canonical ts, event_id contract) — the quick periodicity /
    white-noise diagnostic run before fitting any sequence model: near
    0 means the series is noise and windowed models won't help, near 1
    means strong short-range structure. One lag window + one corr
    aggregate, both on the user partitioning — a single shuffle."""
    ev = t(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    lagged = ev.select(
        "user_id", "value", F.lag("value").over(w).alias("prev_v")
    ).filter(F.col("prev_v").isNotNull())
    return (
        lagged.groupBy("user_id")
        .agg(
            F.count(F.lit(1)).alias("n_pairs"),
            F.round(F.corr("value", "prev_v"), 6).alias("lag1_autocorr"),
        )
        .orderBy("user_id")
    )


A20_SQL = """
WITH lagged AS (
  SELECT user_id, value,
         lag(value) OVER (PARTITION BY user_id ORDER BY ts, event_id)
           AS prev_v
  FROM events
)
SELECT user_id, count(*) AS n_pairs,
       round(corr(value, prev_v), 6) AS lag1_autocorr
FROM lagged
WHERE prev_v IS NOT NULL
GROUP BY user_id
ORDER BY user_id
"""


TIMESERIES_QUERIES: list[QuerySpec] = [
    QuerySpec("a20_autocorr", a20_autocorr, A20_SQL,
              "A20 lag-1 autocorrelation per channel (periodicity / "
              "white-noise diagnostic)"),
    QuerySpec("w18_interpolate", w18_interpolate, W18_SQL,
              "W18 time-weighted linear interpolation over the "
              "regular grid (zero extra shuffles)"),
    QuerySpec("w17_gap_fill", w17_gap_fill, W17_SQL,
              "W17 regular-grid gap-fill: hourly LOCF forward-fill "
              "with gap audit flags"),
    QuerySpec("a1_resample_mean", a1_resample_mean, A1_SQL,
              "A1 groupby-integer-division mean resample (resampler.py:34-38)"),
    QuerySpec("a2_chunk_mse", a2_chunk_mse, A2_SQL,
              "A2 per-period chunk mean (trainer.py:187)"),
    QuerySpec("a3_threshold_stats", a3_threshold_stats, A3_SQL,
              "A3 mean+4*std threshold stats (visualization.py:80-81)"),
    QuerySpec("a9_distinct", a9_distinct, A9_SQL,
              "A9 distinct counts (pipeline.py:43)"),
    QuerySpec("p3_json_extract", p3_json_extract, P3_SQL,
              "P3 tag/JSON extraction (pipeline.py:30-31)"),
    QuerySpec("p6_round_project", p6_round_project, P6_SQL,
              "P6 rounding projection (restructure.py:15)"),
    QuerySpec("p7_modulo_trim", p7_modulo_trim, P7_SQL,
              "P7 modulo-trim tail filter (trainer.py:54-55)"),
    QuerySpec("p8_prefix_split", p8_prefix_split, P8_SQL,
              "P8 deterministic aligned prefix split (trainer.py:58-62)"),
    QuerySpec("p11_stack_unpivot", p11_stack_unpivot, P11_SQL,
              "P11 wide->long stacking (restructure.py:12-15)"),
    QuerySpec("m1_standard_scale", m1_standard_scale, M1_SQL,
              "M1 z-normalization (trainer.py:66-69)"),
    QuerySpec("w1_strided_windows", w1_strided_windows, W1_SQL,
              "W1 strided sliding windows 100/50 (trainer.py:75-78)"),
    QuerySpec("w2_stride_dedup", w2_stride_dedup, W2_SQL,
              "W2 every-2nd-window stride (trainer.py:183)"),
    QuerySpec("w3_lookback_mean", w3_lookback_mean, W3_SQL,
              "W3 20-row lookback tensors (baseline.py:168-181)"),
    QuerySpec("w5_rolling_min", w5_rolling_min, W5_SQL,
              "W5 rolling min 3 (visualization.py:82)"),
    QuerySpec("w6_rolling_mean", w6_rolling_mean, W6_SQL,
              "W6 rolling mean 5 (visualization.py:134)"),
    QuerySpec("w14_ewma", w14_ewma, W14_SQL,
              "W14 EWMA, truncated-horizon weighted-lag form"),
    QuerySpec("w7_repeat_upsample", w7_repeat_upsample, W7_SQL,
              "W7 np.repeat upsample (visualization.py:85-86)"),
    QuerySpec("w8_first_crossing", w8_first_crossing, W8_SQL,
              "W8 argmax first crossing with 0 sentinel (calculations.py:88-92)"),
    QuerySpec("w9_asof_fraction", w9_asof_fraction, W9_SQL,
              "W9 searchsorted elapsed fraction (calculations.py:19-26)"),
    QuerySpec("w10_islands", w10_islands, W10_ISLANDS_SQL,
              "W10 gaps-and-islands episodes (calculations.py:29-55)"),
    QuerySpec("w10_sessionize", w10_sessionize, W10_SESSION_SQL,
              "W10 time-gap sessionization (streaming session analogue)"),
    QuerySpec("w11_gap_audit", w11_gap_audit, W11_SQL,
              "W11 time-gap audit (pipeline.py:37-50)"),
    QuerySpec("w12_cumsum_certainty", w12_cumsum_certainty, W12_SQL,
              "W12 cumulative certainty (visualization.py:249-255)"),
    QuerySpec("w13_lag_shift", w13_lag_shift, W13_SQL,
              "W13 lookback realignment shift (visualization.py:67)"),
    QuerySpec("m11_threshold_flags", m11_threshold_flags, M11_SQL,
              "M11 threshold anomaly flagging (visualization.py:80-83)"),
]
