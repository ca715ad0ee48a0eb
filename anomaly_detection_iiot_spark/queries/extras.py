"""Completeness queries: O3 metric ranking, W4 last-timestep, A6
summary statistics (oracle-checked) and A12 approximate aggregates
(rows-only — sketch algorithms differ across engines by design; the
accuracy contract is asserted in tests/test_extras.py instead)."""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from ..operators import windowing
from .base import QuerySpec, t


# --- O3: sort-by-metric ranking (logger.py:35) -------------------------------

def o3_loss_ranking(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = t(spark, sf_dir, "events")
    per_user = ev.groupBy("user_id").agg(
        F.round(F.avg(F.col("value") * F.col("value")), 6).alias("mean_sq")
    )
    w = Window.orderBy(F.desc("mean_sq"), F.asc("user_id"))
    return per_user.withColumn("rk", F.row_number().over(w).cast("bigint"))


O3_SQL = """
WITH per_user AS (
  SELECT user_id, round(avg(value * value), 6) AS mean_sq
  FROM events GROUP BY 1
)
SELECT user_id, mean_sq,
       row_number() OVER (ORDER BY mean_sq DESC, user_id) AS rk
FROM per_user
"""


# --- W4: last timestep of each window (baseline.py:132-145) -------------------

def w4_last_timestep(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = t(spark, sf_dir, "events")
    idx = Window.partitionBy("user_id").orderBy("ts", "event_id")
    indexed = ev.withColumn("sample_idx", F.row_number().over(idx) - F.lit(1))
    wins = windowing.window_arrays(
        indexed, size=16, step=16, idx_col="sample_idx",
        value_col="value", keys=["user_id"],
    )
    return windowing.last_timestep(wins, "window", out="last_step").select(
        "user_id", "window_idx", F.round("last_step", 6).alias("last_step")
    )


W4_SQL = """
WITH ev AS (
  SELECT user_id, value,
         row_number() OVER (PARTITION BY user_id ORDER BY ts, event_id) - 1
           AS rn
  FROM events
), win AS (
  SELECT user_id, CAST(FLOOR(rn / 16) AS BIGINT) AS window_idx,
         max(CASE WHEN rn % 16 = 15 THEN value END) AS last_v
  FROM ev GROUP BY 1, 2 HAVING count(*) = 16
)
SELECT user_id, window_idx, round(last_v, 6) AS last_step FROM win
"""


# --- A6: summary statistics (baseline.py:268 describe()) ----------------------

def a6_summary_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = t(spark, sf_dir, "events")
    return ev.groupBy("event_type").agg(
        F.count(F.lit(1)).alias("n"),
        F.round(F.avg("value"), 6).alias("mean"),
        F.round(F.stddev_samp("value"), 6).alias("std"),
        F.round(F.min("value"), 6).alias("lo"),
        F.round(F.max("value"), 6).alias("hi"),
    )


A6_SQL = """
SELECT event_type,
       count(*) AS n,
       round(avg(value), 6) AS mean,
       round(stddev_samp(value), 6) AS std,
       round(min(value), 6) AS lo,
       round(max(value), 6) AS hi
FROM events GROUP BY 1
"""


# --- A12: approximate aggregates (sketches; rows-only) -------------------------

def a12_approx_aggregates(spark: SparkSession, sf_dir: str) -> DataFrame:
    """HLL distinct + t-digest quantiles next to their exact values,
    with relative error materialized — the scale substitutes for the
    reference's full-sort threshold sweep domain (SURVEY §4 note on O2).
    """
    ev = t(spark, sf_dir, "events")
    # distinct-counts and percentiles aggregated SEPARATELY, then joined
    # on the (tiny) group key: mixing countDistinct with percentile in
    # one agg makes Catalyst Expand every row and push the doubled
    # stream through sort-based aggregation (10x slower measured at
    # sf0.1; the two-agg + broadcast-join plan scans twice but both
    # scans are cheap columnar reads)
    dist = ev.groupBy("event_type").agg(
        F.approx_count_distinct("user_id").alias("approx_users"),
        F.countDistinct("user_id").alias("exact_users"),
    )
    pct = ev.groupBy("event_type").agg(
        F.percentile_approx("value", 0.5, 10000).alias("approx_p50"),
        F.expr("percentile(value, 0.5)").alias("exact_p50"),
    )
    agg = dist.join(F.broadcast(pct), "event_type")
    # accuracy-CONTRACT output (hash-gated): sketch estimates are engine-local, so the
    # hashed columns are the exact values plus flags proving each
    # estimate sits inside its bound. rsd is a STANDARD DEVIATION,
    # not a hard cap, so the HLL flag allows 3*rsd
    # (0.15) — a ~99.7% band that statistically-expected sketch
    # error cannot flip even past the linear-counting-exact regime —
    # while GK at accuracy=10000 stays within 1% rel of the exact
    # median (rank error 1e-4, deterministic). The oracle recomputes
    # the exact columns and pins the flags TRUE — if a sketch ever
    # leaves its band the flag flips and the hash gate catches it. greatest(|exact|, 1e-12) so a zero exact median
    # yields a (large) finite error, not NULL from 0-division.
    return agg.select(
        "event_type",
        F.col("exact_users").cast("bigint").alias("exact_users"),
        (
            F.abs(F.col("approx_users") - F.col("exact_users"))
            / F.col("exact_users")
            <= F.lit(0.15)
        ).alias("distinct_ok"),
        F.round("exact_p50", 6).alias("exact_p50"),
        (
            F.abs(F.col("approx_p50") - F.col("exact_p50"))
            / F.greatest(F.abs(F.col("exact_p50")), F.lit(1e-12))
            <= F.lit(0.01)
        ).alias("p50_ok"),
    )


A12_SQL = """
SELECT event_type,
       CAST(count(DISTINCT user_id) AS BIGINT) AS exact_users,
       TRUE AS distinct_ok,
       round(quantile_cont(value, 0.5), 6) AS exact_p50,
       TRUE AS p50_ok
FROM events
GROUP BY event_type
"""


# --- A13: the EXACT half of A12, oracle-checked --------------------------------

def a13_exact_distinct_quantiles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact count(distinct) + exact interpolated median per group —
    the DuckDB-reproducible columns split out of a12 so only the sketch
    estimates stay rows-only (their accuracy contract lives in
    tests/test_extras.py)."""
    ev = t(spark, sf_dir, "events")
    return ev.groupBy("event_type").agg(
        F.countDistinct("user_id").alias("exact_users"),
        F.round(F.expr("percentile(value, 0.5)"), 6).alias("exact_p50"),
    )


A13_SQL = """
SELECT event_type,
       count(DISTINCT user_id) AS exact_users,
       round(percentile_cont(0.5) WITHIN GROUP (ORDER BY value), 6) AS exact_p50
FROM events GROUP BY 1
"""


# --- A14: cohort retention ----------------------------------------------------

def a14_cohort_retention(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Classic cohort analysis: users grouped by first-activity week,
    tracked by distinct-user counts at each week offset. Shuffle shape:
    one agg for cohorts (|users| rows), one broadcast join back onto
    the event stream, one final (cohort, offset) agg — no window over
    the full event table."""
    ev = t(spark, sf_dir, "events")
    wk = F.date_trunc("week", F.col("ts"))
    cohorts = ev.groupBy("user_id").agg(
        F.min(wk).alias("cohort_week")
    )
    return (
        ev.join(F.broadcast(cohorts), "user_id")
        .withColumn(
            "week_offset",
            F.floor(
                (F.unix_timestamp(wk) - F.unix_timestamp("cohort_week"))
                / (7 * 86400)
            ),
        )
        .groupBy("cohort_week", "week_offset")
        .agg(F.countDistinct("user_id").alias("active_users"))
    )


A14_SQL = """
WITH cohorts AS (
  SELECT user_id, min(date_trunc('week', ts)) AS cohort_week
  FROM events GROUP BY 1
)
SELECT c.cohort_week,
       CAST(floor((epoch(date_trunc('week', e.ts)) - epoch(c.cohort_week))
                  / (7.0 * 86400)) AS BIGINT)
         AS week_offset,
       count(DISTINCT e.user_id) AS active_users
FROM events e JOIN cohorts c USING (user_id)
GROUP BY 1, 2
"""


# --- O7: conversion funnel ----------------------------------------------------

def o7_funnel(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Ordered conversion funnel: per user, first signup, then first
    purchase strictly AFTER that signup; rolled up to funnel-stage
    counts. Two conditional aggs over one scan + a broadcast join —
    the min-over-filtered-events idiom instead of a per-user sort."""
    ev = t(spark, sf_dir, "events")
    signup = ev.filter(F.col("event_type") == "signup").groupBy("user_id").agg(
        F.min("ts").alias("signup_ts")
    )
    purchase = (
        ev.join(F.broadcast(signup), "user_id")
        .filter(
            (F.col("event_type") == "purchase")
            & (F.col("ts") > F.col("signup_ts"))
        )
        .groupBy("user_id")
        .agg(F.min("ts").alias("purchase_ts"))
    )
    funnel = signup.join(purchase, "user_id", "left")
    return funnel.agg(
        F.count(F.lit(1)).alias("signed_up"),
        F.count("purchase_ts").alias("converted"),
        F.round(F.count("purchase_ts") / F.count(F.lit(1)), 6).alias(
            "conversion_rate"
        ),
    )


O7_SQL = """
WITH signup AS (
  SELECT user_id, min(ts) AS signup_ts
  FROM events WHERE event_type = 'signup' GROUP BY 1
), purchase AS (
  SELECT e.user_id, min(e.ts) AS purchase_ts
  FROM events e JOIN signup s USING (user_id)
  WHERE e.event_type = 'purchase' AND e.ts > s.signup_ts
  GROUP BY 1
)
SELECT count(*) AS signed_up,
       count(purchase_ts) AS converted,
       round(count(purchase_ts) * 1.0 / count(*), 6) AS conversion_rate
FROM signup LEFT JOIN purchase USING (user_id)
"""


# --- A15: equi-width histogram ------------------------------------------------

def a15_histogram(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Equi-width 20-bin histogram of the value column: data-driven
    range via one tiny min/max aggregate broadcast against the stream
    (same pattern as the normalize/threshold ops), then a single hash
    agg on the bin id. The bin arithmetic is mirrored token-for-token
    in the oracle so fp boundary assignment is identical. A degenerate
    (constant-valued) column collapses to one bin 0 via an explicit
    CASE — without it Spark's non-ANSI x/0 yields NULL while DuckDB's
    float division yields inf/NaN, an oracle mismatch."""
    ev = t(spark, sf_dir, "events")
    rng = ev.agg(
        F.min("value").alias("vmin"), F.max("value").alias("vmax")
    )
    binned = ev.join(F.broadcast(rng)).select(
        F.when(F.col("vmax") == F.col("vmin"), F.lit(0).cast("long"))
        .otherwise(
            F.least(
                F.floor(
                    (F.col("value") - F.col("vmin"))
                    / ((F.col("vmax") - F.col("vmin")) / 20.0)
                ),
                F.lit(19),
            )
        )
        .alias("bin"),
        "value",
    )
    return binned.groupBy("bin").agg(
        F.count(F.lit(1)).alias("n"),
        F.round(F.min("value"), 6).alias("bin_min"),
        F.round(F.max("value"), 6).alias("bin_max"),
    )


A15_SQL = """
WITH rng AS (
  SELECT min(value) AS vmin, max(value) AS vmax FROM events
)
SELECT CASE WHEN vmax = vmin THEN CAST(0 AS BIGINT)
            ELSE least(CAST(floor((value - vmin) / ((vmax - vmin) / 20.0))
                       AS BIGINT), 19) END AS bin,
       count(*) AS n,
       round(min(value), 6) AS bin_min,
       round(max(value), 6) AS bin_max
FROM events CROSS JOIN rng
GROUP BY 1
"""


# --- M14: calibration / reliability bins --------------------------------------

def m14_calibration(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Reliability diagram data: scores binned into deciles, each bin
    reporting mean predicted probability vs observed positive rate —
    the calibration companion to m13's discrimination metrics. One
    hash aggregate over the scored stream; score = logistic(value),
    label = purchase/signup events (deterministic from the table)."""
    ev = t(spark, sf_dir, "events")
    score = F.lit(1.0) / (F.lit(1.0) + F.exp(-F.col("value")))
    label = F.col("event_type").isin("purchase", "signup").cast("int")
    binned = ev.select(
        F.least(F.floor(score * 10), F.lit(9)).alias("bin"),
        score.alias("score"),
        label.alias("label"),
    )
    return binned.groupBy("bin").agg(
        F.count(F.lit(1)).alias("n"),
        F.round(F.avg("score"), 6).alias("mean_pred"),
        F.round(F.avg("label"), 6).alias("pos_rate"),
    )


M14_SQL = """
WITH scored AS (
  -- (1/(1+e))*10, NOT 10/(1+e): must match Spark's fp operation order
  SELECT least(CAST(floor((1.0 / (1.0 + exp(-value))) * 10) AS BIGINT), 9)
           AS bin,
         1.0 / (1.0 + exp(-value)) AS score,
         CASE WHEN event_type IN ('purchase', 'signup')
              THEN 1 ELSE 0 END AS label
  FROM events
)
SELECT bin, count(*) AS n,
       round(avg(score), 6) AS mean_pred,
       round(avg(label), 6) AS pos_rate
FROM scored GROUP BY bin
"""


# --- J7: interval overlap join ------------------------------------------------

def j7_interval_overlap(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Interval x interval overlap join (operators/joins.py::
    interval_overlap_join): which user activity windows overlap, via
    bin bucketing — an equi-join on day-width bins with first-shared-
    bin dedup, never a nested-loop theta join. The oracle is the naive
    theta join, so a hash match proves the binned formulation exact."""
    from ..operators.joins import interval_overlap_join

    ev = t(spark, sf_dir, "events")
    spans = ev.groupBy("user_id").agg(
        F.min(F.unix_timestamp("ts")).alias("s"),
        F.max(F.unix_timestamp("ts")).alias("e"),
    )
    a = spans.filter(F.col("user_id") < 20).select(
        F.col("user_id").alias("user_a"),
        F.col("s").alias("a_start"),
        F.col("e").alias("a_end"),
    )
    b = spans.filter(F.col("user_id").between(20, 59)).select(
        F.col("user_id").alias("user_b"),
        F.col("s").alias("b_start"),
        F.col("e").alias("b_end"),
    )
    joined = interval_overlap_join(
        a, b, "a_start", "a_end", "b_start", "b_end", bin_width=86400.0
    )
    return joined.select(
        "user_a",
        "user_b",
        (
            F.least("a_end", "b_end") - F.greatest("a_start", "b_start")
        ).alias("overlap_sec"),
    )


J7_SQL = """
WITH spans AS (
  SELECT user_id,
         CAST(floor(epoch(ts)) AS BIGINT) AS es
  FROM events
), agg AS (
  SELECT user_id, min(es) AS s, max(es) AS e FROM spans GROUP BY 1
), a AS (
  SELECT user_id AS user_a, s AS a_start, e AS a_end
  FROM agg WHERE user_id < 20
), b AS (
  SELECT user_id AS user_b, s AS b_start, e AS b_end
  FROM agg WHERE user_id BETWEEN 20 AND 59
)
SELECT user_a, user_b,
       least(a_end, b_end) - greatest(a_start, b_start) AS overlap_sec
FROM a JOIN b ON a_start <= b_end AND b_start <= a_end
"""


# --- J8: view->click attribution interval join (stream-stream twin) ----------

def j8_view_click_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Batch twin of the stream-stream watermarked interval join
    (streaming/join_stream.py): every click attributed to each view by
    the same user within the preceding hour. SAME builder as the
    streaming query — withWatermark is a no-op on batch frames — so
    the oracle hash here plus the stream==batch test in
    tests/test_stream_join.py together pin the streaming semantics.
    Catalyst plans the equi key (user_id) as the join key with the
    time range as a post-join filter; lag is integer microseconds so
    no float tolerance is involved."""
    from ..streaming.join_stream import split_event_streams, view_click_pairs

    views, clicks = split_event_streams(t(spark, sf_dir, "events"))
    return view_click_pairs(views, clicks)


J8_SQL = """
WITH v AS (
  SELECT user_id, event_id AS view_id, ts AS v_ts
  FROM events WHERE event_type = 'view'
), c AS (
  SELECT user_id, event_id AS click_id, ts AS c_ts
  FROM events WHERE event_type = 'click'
)
SELECT v.user_id, view_id, click_id,
       CAST(epoch_us(c_ts) - epoch_us(v_ts) AS BIGINT) AS lag_us
FROM v JOIN c ON v.user_id = c.user_id
 AND c_ts >= v_ts AND c_ts <= v_ts + INTERVAL 1 HOUR
"""


# --- P12: pivot / wide reshape ------------------------------------------------

_P12_TYPES = ["click", "error", "purchase", "signup", "view"]


def p12_pivot(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Wide reshape: per-user mean value pivoted across event types.
    The pivot value list is EXPLICIT — with it, Spark skips the extra
    distinct-scan job and the output schema is deterministic (the same
    discipline a 100 TB pivot needs: never let the engine discover
    columns from the data). Users missing a type get NULL in both
    engines."""
    ev = t(spark, sf_dir, "events")
    return (
        ev.groupBy("user_id")
        .pivot("event_type", _P12_TYPES)
        .agg(F.round(F.avg("value"), 6))
    )


P12_SQL = """
SELECT user_id,
       round(avg(value) FILTER (WHERE event_type = 'click'), 6) AS click,
       round(avg(value) FILTER (WHERE event_type = 'error'), 6) AS error,
       round(avg(value) FILTER (WHERE event_type = 'purchase'), 6) AS purchase,
       round(avg(value) FILTER (WHERE event_type = 'signup'), 6) AS signup,
       round(avg(value) FILTER (WHERE event_type = 'view'), 6) AS view
FROM events GROUP BY user_id
"""


# --- O6: deterministic stratified sampling (data mixing) ----------------------

# per-language keep cutoffs on the first md5 byte (hex-string compare:
# rate = int(cutoff,16)/256) — the mixture-reweighting knob of a
# training-data pipeline
_O6_CUTOFFS = {"de": "80", "en": "28", "es": "c0", "fr": "40", "zh": "08"}


def o6_stratified_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic stratified downsampling: keep a document iff the
    first byte of md5(doc_id) falls under its language's cutoff.
    Hash-based (not rand()) so the sample is reproducible across
    retries/engines, per-stratum rates are exact in expectation, and
    membership is a pure projection — no shuffle, no state, works
    identically on a stream. This is the data-mixing primitive: set
    cutoffs per source/language to hit a target mixture."""
    docs = t(spark, sf_dir, "documents")
    h = F.substring(F.md5(F.col("doc_id").cast("string")), 1, 2)
    cutoff = F.lit("00")
    for lang, c in _O6_CUTOFFS.items():
        cutoff = F.when(F.col("lang") == lang, c).otherwise(cutoff)
    return docs.select(
        "doc_id",
        "lang",
        F.when(h < cutoff, 1).otherwise(0).alias("kept"),
    )


_O6_CASE = " ".join(
    f"WHEN '{lang}' THEN '{c}'" for lang, c in _O6_CUTOFFS.items()
)

O6_SQL = f"""
SELECT doc_id, lang,
       CAST(CASE WHEN substr(md5(CAST(doc_id AS STRING)), 1, 2) <
                      CASE lang {_O6_CASE} ELSE '00' END
                 THEN 1 ELSE 0 END AS INT) AS kept
FROM documents
"""


# --- W16: sliding event-time windows ------------------------------------------

def w16_sliding_windows(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sliding event-time window aggregate (1-hour windows every 30
    minutes) via ``F.window`` — the batch form of the streaming
    windowed aggregation (streaming/pipeline.py), oracle-checked:
    every event lands in exactly two overlapping windows, counts and
    distinct users per window. Window starts are compared as epoch
    seconds so the check is timezone-representation-free. Spark
    assigns windows with a per-row generator (no self-join); the agg
    shuffles on the window start like any keyed aggregate."""
    ev = t(spark, sf_dir, "events")
    win = F.window("ts", "1 hour", "30 minutes")
    return (
        ev.groupBy(win.alias("w"))
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.countDistinct("user_id").alias("n_users"),
        )
        .select(
            F.unix_timestamp(F.col("w.start")).cast("bigint").alias(
                "wstart_epoch"
            ),
            "n_events",
            "n_users",
        )
    )


W16_SQL = """
WITH e0 AS (
  SELECT user_id, epoch(ts) AS es FROM events
), assigned AS (
  SELECT user_id, es,
         unnest(generate_series(
           CAST(floor(es / 1800) * 1800 AS BIGINT) - 1800,
           CAST(floor(es / 1800) * 1800 AS BIGINT), 1800)) AS wstart_epoch
  FROM e0
)
SELECT wstart_epoch,
       count(*) AS n_events,
       count(DISTINCT user_id) AS n_users
FROM assigned
WHERE es >= wstart_epoch AND es < wstart_epoch + 3600
GROUP BY 1
"""


# --- O9: heavy-key skew diagnosis ---------------------------------------------

def o9_heavy_keys(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Shuffle-skew diagnosis: the top-10 join/agg keys by row count
    with their share of the table and skew factor (count / mean count
    per key). This is the query you run BEFORE deciding to salt a
    hot key or rely on AQE's skew-join split — the key
    histogram is one map-side-combinable agg, the global mean a
    broadcast one-row frame."""
    ev = t(spark, sf_dir, "events")
    counts = ev.groupBy("user_id").agg(F.count(F.lit(1)).alias("n"))
    tot = counts.agg(
        F.sum("n").alias("total"), F.avg("n").alias("mean_n")
    )
    w = Window.orderBy(F.desc("n"), F.asc("user_id"))
    return (
        counts.join(F.broadcast(tot))
        .withColumn("rk", F.row_number().over(w))
        .filter(F.col("rk") <= 10)
        .select(
            F.col("rk").cast("bigint").alias("rk"),
            "user_id",
            F.col("n").cast("bigint").alias("n"),
            F.round(F.col("n") / F.col("total"), 6).alias("share"),
            F.round(F.col("n") / F.col("mean_n"), 6).alias("skew_factor"),
        )
    )


O9_SQL = """
WITH counts AS (
  SELECT user_id, count(*) AS n FROM events GROUP BY 1
), tot AS (
  SELECT sum(n) AS total, avg(n) AS mean_n FROM counts
)
SELECT CAST(rk AS BIGINT) AS rk, user_id, CAST(n AS BIGINT) AS n,
       round(n * 1.0 / total, 6) AS share,
       round(n / mean_n, 6) AS skew_factor
FROM (SELECT *, row_number() OVER (ORDER BY n DESC, user_id) AS rk
      FROM counts CROSS JOIN tot)
WHERE rk <= 10
"""


# --- P13: Morton (Z-order) clustering key ------------------------------------

def p13_zorder_key(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Morton key computation for the 2-D clustered layout
    (sources/zorder.py): bucket ``user_id`` (already 8-bit) and
    ``value`` (range-scaled to 8 bits over [0, 512)), interleave into
    one long. This is the projection an ``OPTIMIZE ZORDER BY (user_id,
    value)`` maintenance job computes before the range-partitioned
    rewrite; file-skipping proof lives in tests/test_zorder.py."""
    from ..sources import zorder

    ev = t(spark, sf_dir, "events")
    ub = F.col("user_id").cast("long")
    vb = zorder.bucketize(F.col("value"), 0.0, 512.0, 8)
    return ev.select(
        "event_id", ub.alias("ub"), vb.alias("vb")
    ).withColumn("zkey", zorder.zorder_key([F.col("ub"), F.col("vb")]))


def _p13_sql() -> str:
    from ..sources.zorder import zorder_sql

    return f"""
WITH b AS (
  SELECT event_id,
         CAST(user_id AS BIGINT) AS ub,
         CAST(least(255, greatest(0,
           CAST(floor((CAST(value AS DOUBLE) - 0.0) / 512.0 * 256)
                AS BIGINT))) AS BIGINT) AS vb
  FROM events
)
SELECT event_id, ub, vb,
       CAST({zorder_sql(["ub", "vb"])} AS BIGINT) AS zkey
FROM b
"""


# --- A18: table profile (ANALYZE-style column stats) -------------------------

_A18_COLS = ["l_quantity", "l_discount", "l_returnflag", "l_shipdate"]


def a18_table_profile(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Column-profiling report — the first query run against any newly
    landed table (null rates, cardinality, value range per column),
    i.e. ANALYZE TABLE as a reusable result set. One single-row
    aggregate per profiled column, unioned long-form; each aggregate's
    scan prunes to that one column (columnar format makes the N-pass
    shape cheaper than one wide pass with N DISTINCTs, which would
    Expand the row N times). Values are rendered as strings so one
    schema carries every column type. At 100 TB swap countDistinct for
    approx_count_distinct — the report shape is unchanged."""
    li = t(spark, sf_dir, "lineitem")
    parts = []
    for c in _A18_COLS:
        parts.append(
            li.agg(
                F.lit(c).alias("column_name"),
                F.count(F.lit(1)).alias("n_rows"),
                F.sum(F.col(c).isNull().cast("long")).alias("n_null"),
                F.countDistinct(c).alias("n_distinct"),
                F.min(c).cast("string").alias("min_value"),
                F.max(c).cast("string").alias("max_value"),
            )
        )
    out = parts[0]
    for p_ in parts[1:]:
        out = out.unionByName(p_)
    return out.orderBy("column_name")


A18_SQL = """
SELECT 'l_quantity' AS column_name, count(*) AS n_rows,
       CAST(sum(CASE WHEN l_quantity IS NULL THEN 1 ELSE 0 END) AS BIGINT)
         AS n_null,
       count(DISTINCT l_quantity) AS n_distinct,
       CAST(min(l_quantity) AS STRING) AS min_value,
       CAST(max(l_quantity) AS STRING) AS max_value
FROM lineitem
UNION ALL
SELECT 'l_discount', count(*),
       CAST(sum(CASE WHEN l_discount IS NULL THEN 1 ELSE 0 END) AS BIGINT),
       count(DISTINCT l_discount),
       CAST(min(l_discount) AS STRING), CAST(max(l_discount) AS STRING)
FROM lineitem
UNION ALL
SELECT 'l_returnflag', count(*),
       CAST(sum(CASE WHEN l_returnflag IS NULL THEN 1 ELSE 0 END) AS BIGINT),
       count(DISTINCT l_returnflag),
       CAST(min(l_returnflag) AS STRING), CAST(max(l_returnflag) AS STRING)
FROM lineitem
UNION ALL
SELECT 'l_shipdate', count(*),
       CAST(sum(CASE WHEN l_shipdate IS NULL THEN 1 ELSE 0 END) AS BIGINT),
       count(DISTINCT l_shipdate),
       CAST(min(l_shipdate) AS STRING), CAST(max(l_shipdate) AS STRING)
FROM lineitem
ORDER BY column_name
"""


# --- A19: MAD robust threshold ------------------------------------------------

def a19_mad_threshold(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Median-absolute-deviation thresholding — the robust twin of the
    reference's mean + n*sigma rule (A3): median and MAD are immune to
    the very outliers the threshold is hunting, so the cut doesn't
    drift when anomalies contaminate the window. Classic two-pass
    shape: per-group exact median (one agg), broadcast back onto the
    stream for |x - med|, second agg for MAD + the exceed count at the
    scaled cut (1.4826*MAD estimates sigma under normality). At 100 TB
    swap percentile for approx_percentile; the join stays broadcast
    (|groups| rows)."""
    ev = t(spark, sf_dir, "events")
    med = ev.groupBy("event_type").agg(
        F.expr("percentile(value, 0.5)").alias("med")
    )
    dev = ev.join(F.broadcast(med), "event_type").withColumn(
        "adev", F.abs(F.col("value") - F.col("med"))
    )
    # thr_raw is quantized to 6 decimals BEFORE the exceed-count
    # comparison (not only on output): Spark's percentile() and
    # DuckDB's quantile_cont may interpolate 1 ulp apart
    # (lo+(hi-lo)*f vs lo*(1-f)+hi*f), and an integer count flipped by
    # that ulp can't be absorbed by the driver's float tolerance.
    stats = dev.groupBy("event_type").agg(
        F.max("med").alias("med"),
        F.expr("percentile(adev, 0.5)").alias("mad_raw"),
    ).withColumn(
        "thr_raw",
        F.round(F.col("med") + 3.0 * 1.4826 * F.col("mad_raw"), 6),
    )
    return (
        ev.join(F.broadcast(stats), "event_type")
        .groupBy("event_type")
        .agg(
            F.round(F.max("med"), 6).alias("med"),
            F.round(F.max("mad_raw"), 6).alias("mad"),
            F.round(F.max("thr_raw"), 6).alias("threshold"),
            F.sum(
                (F.col("value") > F.col("thr_raw")).cast("long")
            ).alias("n_above"),
        )
        .orderBy("event_type")
    )


A19_SQL = """
WITH med AS (
  SELECT event_type, percentile_cont(0.5) WITHIN GROUP (ORDER BY value) AS med
  FROM events GROUP BY 1
), dev AS (
  SELECT e.event_type, m.med, e.value, abs(e.value - m.med) AS adev
  FROM events e JOIN med m USING (event_type)
), stats AS (
  SELECT event_type, max(med) AS med,
         percentile_cont(0.5) WITHIN GROUP (ORDER BY adev) AS mad_raw,
         round(max(med) + 3.0 * 1.4826 * percentile_cont(0.5) WITHIN GROUP (ORDER BY adev),
               6) AS thr_raw
  FROM dev GROUP BY 1
)
SELECT e.event_type, round(max(s.med), 6) AS med,
       round(max(s.mad_raw), 6) AS mad,
       round(max(s.thr_raw), 6) AS threshold,
       CAST(sum(CASE WHEN e.value > s.thr_raw THEN 1 ELSE 0 END)
            AS BIGINT) AS n_above
FROM events e JOIN stats s USING (event_type)
GROUP BY e.event_type
ORDER BY e.event_type
"""


# --- O13: deterministic global shuffle + sharding ------------------------------

def o13_shuffle_shards(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic global shuffle for training order + shard
    assignment: rank every document by md5(seed || doc_id) — a stable
    pseudo-random permutation reproducible across engines, runs, and
    partitionings (no rand(), no zipWithIndex) — then deal ranks
    round-robin into 8 shards. Output is the per-shard audit (count,
    id checksum, rank range) proving the deal is balanced and
    deterministic.

    Scale path: the global rank is computed two-phase, not
    with a single-partition ``Window.orderBy``. Each row's md5 key is
    prefix-bucketed (first 3 hex chars → 4096 range buckets whose
    order IS the key order); per-bucket counts (4096 rows) roll into
    cumulative offsets on the driver-sized side, broadcast back, and
    rank = offset + row_number within the bucket — so the expensive
    window is ``partitionBy(bucket)`` and runs 4096-way parallel. At
    100 TB that's one hash shuffle on bucket plus a broadcast of 4096
    offsets, the same plan a range-partitioned total sort would pick,
    with no single-task funnel."""
    d = t(spark, sf_dir, "documents")
    keyed = d.select(
        "doc_id",
        F.md5(F.concat(F.lit("seed42:"),
                       F.col("doc_id").cast("string"))).alias("k"),
    ).withColumn(
        # md5 is lowercase hex; a fixed-width prefix preserves sort
        # order, so bucket order == key order and per-bucket offsets
        # compose into an exact global rank.
        "bucket", F.conv(F.substring("k", 1, 3), 16, 10).cast("long")
    )
    counts = keyed.groupBy("bucket").agg(F.count(F.lit(1)).alias("n"))
    # 4096-row running sum: the only single-partition window, sized to
    # the bucket count, never to the data.
    w_off = Window.orderBy("bucket").rowsBetween(
        Window.unboundedPreceding, -1
    )
    offsets = counts.select(
        "bucket",
        F.coalesce(F.sum("n").over(w_off), F.lit(0)).alias("offset"),
    )
    w_in = Window.partitionBy("bucket").orderBy("k", "doc_id")
    ranked = (
        keyed.join(F.broadcast(offsets), "bucket")
        .withColumn(
            "rank",
            (F.col("offset") + F.row_number().over(w_in) - 1)
            .cast("long"),
        )
        .select("doc_id", "rank")
        .withColumn("shard", F.pmod("rank", F.lit(8)).cast("long"))
    )
    return (
        ranked.groupBy("shard")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum("doc_id").alias("id_checksum"),
            F.min("rank").alias("first_rank"),
            F.max("rank").alias("last_rank"),
        )
        .orderBy("shard")
    )


O13_SQL = """
WITH ranked AS (
  SELECT doc_id,
         row_number() OVER (
           ORDER BY md5('seed42:' || CAST(doc_id AS STRING)), doc_id
         ) - 1 AS rank
  FROM documents
)
SELECT rank % 8 AS shard, count(*) AS n_docs,
       CAST(sum(doc_id) AS BIGINT) AS id_checksum,
       min(rank) AS first_rank, max(rank) AS last_rank
FROM ranked
GROUP BY 1
ORDER BY shard
"""


# --- O12: decile report (ntile + percent_rank) ------------------------------

def o12_decile_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-language document-length deciles: ntile(10) bucket sizes with
    each decile's mean length and upper percent_rank — the ranking
    window functions (ntile, percent_rank) the suite didn't yet
    exercise, in the shape a corpus-balance report uses. Ordering ties
    break on doc_id so bucket assignment is deterministic across
    engines. One shuffle on the lang partition; the per-decile agg
    rides the same partitioning."""
    d = t(spark, sf_dir, "documents")
    w = Window.partitionBy("lang").orderBy("n_chars", "doc_id")
    ranked = d.select(
        "lang",
        "n_chars",
        F.ntile(10).over(w).cast("long").alias("decile"),
        F.percent_rank().over(w).alias("pr"),
    )
    return (
        ranked.groupBy("lang", "decile")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.round(F.avg("n_chars"), 6).alias("avg_chars"),
            F.round(F.max("pr"), 6).alias("max_pct_rank"),
        )
        .orderBy("lang", "decile")
    )


O12_SQL = """
WITH ranked AS (
  SELECT lang, n_chars,
         ntile(10) OVER w AS decile,
         percent_rank() OVER w AS pr
  FROM documents
  WINDOW w AS (PARTITION BY lang ORDER BY n_chars, doc_id)
)
SELECT lang, decile, count(*) AS n_docs,
       round(avg(n_chars), 6) AS avg_chars,
       round(max(pr), 6) AS max_pct_rank
FROM ranked
GROUP BY lang, decile
ORDER BY lang, decile
"""


# --- A21: GROUPING SETS with grouping_id --------------------------------------

def a21_grouping_sets(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Explicit GROUPING SETS — the third hierarchical-aggregate shape
    after a10 (ROLLUP) and a11 (CUBE): three custom sets
    ((event_type, ub), (event_type), ()) resolved in ONE pass with a
    single Expand+shuffle (Catalyst expands each input row once per
    set; partial aggregation still applies), plus grouping_id() to
    disambiguate the NULL-filled grouped-out dimensions. At 100 TB
    this beats three separate aggregations because the fact table is
    scanned once."""
    ev = t(spark, sf_dir, "events")
    d = ev.select(
        "event_type",
        F.pmod("user_id", F.lit(4)).cast("long").alias("ub"),
        "value",
    )
    return (
        d.groupingSets(
            [["event_type", "ub"], ["event_type"], []], "event_type", "ub"
        )
        .agg(
            F.grouping_id().cast("bigint").alias("gid"),
            F.count(F.lit(1)).alias("n"),
            F.round(F.sum("value"), 6).alias("sum_v"),
        )
        .orderBy("gid", "event_type", "ub")
    )


A21_SQL = """
SELECT event_type, ub,
       CAST(grouping_id(event_type, ub) AS BIGINT) AS gid,
       count(*) AS n, round(sum(value), 6) AS sum_v
FROM (SELECT event_type, user_id % 4 AS ub, value FROM events)
GROUP BY GROUPING SETS ((event_type, ub), (event_type), ())
ORDER BY gid, event_type NULLS FIRST, ub NULLS FIRST
"""


# --- W19: RANGE-frame time window + deterministic value windows ---------------

def w19_range_frame(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Trailing-hour window per user via a true RANGE frame (RANGE
    BETWEEN 3600 PRECEDING AND CURRENT ROW over epoch seconds) — the
    frame Spark's rangeBetween compiles to a single sort within the
    user partition, no self-join, no explode (contrast j4's range
    join). Only order-insensitive aggregates (count/sum/max) ride the
    RANGE frame — peers with equal timestamps share it, so
    first_value there would be tie-nondeterministic; the positional
    functions (first_value, nth_value) ride a ROWS frame keyed by the
    unique (es, event_id) order instead. Epoch arithmetic is
    shift-invariant, so engine timezone conventions cancel."""
    ev = t(spark, sf_dir, "events")
    d = ev.select(
        "event_id", "user_id", "value",
        F.unix_timestamp("ts").alias("es"),
    )
    wr = (
        Window.partitionBy("user_id")
        .orderBy("es")
        .rangeBetween(-3600, Window.currentRow)
    )
    wp = (
        Window.partitionBy("user_id")
        .orderBy("es", "event_id")
        .rowsBetween(-3, Window.currentRow)
    )
    return d.select(
        "event_id",
        F.count(F.lit(1)).over(wr).alias("n_1h"),
        F.round(F.sum("value").over(wr), 6).alias("sum_1h"),
        F.round(F.max("value").over(wr), 6).alias("max_1h"),
        F.round(F.first("value").over(wp), 6).alias("first_4"),
        F.round(F.nth_value("value", 3).over(wp), 6).alias("third_4"),
    )


W19_SQL = """
SELECT event_id,
       count(*) OVER wr AS n_1h,
       round(sum(value) OVER wr, 6) AS sum_1h,
       round(max(value) OVER wr, 6) AS max_1h,
       round(first_value(value) OVER wp, 6) AS first_4,
       round(nth_value(value, 3) OVER wp, 6) AS third_4
FROM (SELECT event_id, user_id, value, epoch(ts)::BIGINT AS es
      FROM events)
WINDOW wr AS (PARTITION BY user_id ORDER BY es
              RANGE BETWEEN 3600 PRECEDING AND CURRENT ROW),
       wp AS (PARTITION BY user_id ORDER BY es, event_id
              ROWS BETWEEN 3 PRECEDING AND CURRENT ROW)
"""


# --- A22-A24: approximate aggregates (accuracy-contract oracles) --------------
#
# COUNT(DISTINCT) and exact quantiles are the two aggregations that do
# NOT map-side-combine: exact distinct shuffles every distinct value
# and exact percentile shuffles every row, so at 100 TB both are
# sketch problems (HLL++ / DataSketches HLL, Greenwald-Khanna). Sketch
# internals are engine-specific by design, so these oracles pin the
# ACCURACY CONTRACT instead of the estimate: the query returns the
# exact answer plus a boolean "estimate within eps of exact", and the
# oracle computes the same exact answer with a literal TRUE — the
# value-hash match then fails unless Spark's sketch actually honors
# its error bound (the standard metamorphic test for approximate
# algorithms). Estimates themselves are deterministic (hash-based, no
# RNG), so the flag is stable run to run.
#
# Relation to a12 (rows-only): a12 REPORTS the raw estimates and their
# relative errors as a diagnostic; a22/a23 are its oracle-checkable
# twins (the estimate leaves the projection, the contract stays), and
# a24 adds the property neither covers — sketch MERGEABILITY.

def a22_approx_distinct(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-type distinct users, exact vs HLL++ (approx_count_distinct,
    rsd=2 %): one aggregate computes both so the scan is shared; the
    HLL register array map-side-combines (fixed k-byte state per
    group) where the exact path shuffles every distinct (type, user)
    pair — the reason HLL wins at 100 TB. The 5 % contract leaves
    headroom over the configured 2 % rsd; at these cardinalities
    HLL++'s linear-counting regime is near-exact."""
    ev = t(spark, sf_dir, "events")
    return (
        ev.groupBy("event_type")
        .agg(
            F.count_distinct("user_id").alias("n_exact"),
            F.approx_count_distinct("user_id", rsd=0.02).alias("n_hll"),
        )
        .select(
            "event_type",
            "n_exact",
            (
                F.abs(F.col("n_hll") - F.col("n_exact"))
                <= 0.05 * F.col("n_exact")
            ).alias("within_5pct"),
        )
        .orderBy("event_type")
    )


A22_SQL = """
SELECT event_type, count(DISTINCT user_id) AS n_exact, TRUE AS within_5pct
FROM events
GROUP BY event_type
ORDER BY event_type
"""


def a23_approx_median(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-flag price median, exact vs the Greenwald-Khanna sketch
    (percentile_approx, accuracy=10000): the exact interpolated
    percentile must sort every group row; the sketch keeps a bounded
    summary per partition and merges. The contract: the sketch's
    discrete median sits within 1 % of the exact continuous one
    (adjacent order statistics are far closer than that at these group
    sizes). p50_exact itself is engine-portable: both engines
    interpolate lower + (upper-lower)*frac over doubles."""
    li = t(spark, sf_dir, "lineitem")
    return (
        li.groupBy("l_returnflag")
        .agg(
            F.round(F.percentile("l_extendedprice", F.lit(0.5)), 6).alias(
                "p50_exact"
            ),
            F.percentile_approx(
                "l_extendedprice", F.lit(0.5), F.lit(10000)
            ).alias("p50_gk"),
        )
        .select(
            "l_returnflag",
            "p50_exact",
            (
                F.abs(F.col("p50_gk") - F.col("p50_exact"))
                <= 0.01 * F.col("p50_exact")
            ).alias("within_1pct"),
        )
        .orderBy("l_returnflag")
    )


A23_SQL = """
SELECT l_returnflag,
       round(quantile_cont(l_extendedprice, 0.5), 6) AS p50_exact,
       TRUE AS within_1pct
FROM lineitem
GROUP BY l_returnflag
ORDER BY l_returnflag
"""


def a24_sketch_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Re-aggregatable distinct-count rollup — the pattern that makes
    100 TB dashboards cheap: phase 1 reduces the fact table to one
    k-byte DataSketches HLL sketch per (event_type, day) cell (the
    materialized daily rollup a pipeline would persist); phase 2
    answers the coarser per-type question by MERGING sketches
    (hll_union_agg) instead of rescanning facts — distinct counts
    don't sum across days, but sketches union losslessly. Contract:
    the merged estimate is within 2 % of the exact per-type distinct
    (lgConfigK=14 -> ~0.8 % rsd)."""
    ev = t(spark, sf_dir, "events")
    daily = ev.groupBy("event_type", F.to_date("ts").alias("d")).agg(
        F.hll_sketch_agg("user_id", F.lit(14)).alias("sk")
    )
    merged = daily.groupBy("event_type").agg(
        F.count(F.lit(1)).alias("n_days"),
        F.hll_sketch_estimate(F.hll_union_agg("sk")).alias("n_merged"),
    )
    exact = ev.groupBy("event_type").agg(
        F.count_distinct("user_id").alias("n_exact")
    )
    return (
        merged.join(exact, "event_type")
        .select(
            "event_type",
            "n_days",
            "n_exact",
            (
                F.abs(F.col("n_merged") - F.col("n_exact"))
                <= 0.02 * F.col("n_exact")
            ).alias("within_2pct"),
        )
        .orderBy("event_type")
    )


A24_SQL = """
SELECT event_type,
       count(DISTINCT CAST(ts AS DATE)) AS n_days,
       count(DISTINCT user_id) AS n_exact,
       TRUE AS within_2pct
FROM events
GROUP BY event_type
ORDER BY event_type
"""


# --- A25: partition checksums (cross-replica reconciliation) -----------------

def a25_partition_checksums(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Order-insensitive per-month table checksums — the reconciliation
    primitive for 100 TB replication/migration audits: every row hashes
    to a 60-bit integer (first 15 hex chars of md5 over a canonical
    '|'-joined projection — engine-portable, see o11), and a partition's
    checksum is the BIT_XOR of its row hashes. XOR is commutative,
    associative, and overflow-free, so checksums (a) don't care about
    row order or physical partitioning, (b) merge upward merkle-style
    (month -> table) without rescanning, and (c) map-side-combine to k
    bytes per partition — one tiny shuffle at any scale. The
    ``replica_match`` column is computed for real on the Spark side: the
    same table re-read under a different partitioning (repartition by a
    different key) must reproduce every monthly checksum exactly; the
    oracle pins the same audit with a literal TRUE (the a22 contract
    pattern). Float column enters the hash through a DECIMAL(18,2) cast
    so both engines hash identical strings."""
    o = t(spark, sf_dir, "orders")

    def monthly(df: DataFrame) -> DataFrame:
        hx = F.substring(
            F.md5(
                F.concat_ws(
                    "|",
                    F.col("o_orderkey").cast("string"),
                    F.col("o_custkey").cast("string"),
                    F.col("o_orderstatus"),
                    F.col("o_totalprice").cast("decimal(18,2)").cast("string"),
                    F.col("o_orderdate").cast("string"),
                    F.col("o_orderpriority"),
                )
            ),
            1,
            15,
        )
        return (
            df.select(
                F.substring(F.col("o_orderdate").cast("string"), 1, 7).alias(
                    "month"
                ),
                F.conv(hx, 16, 10).cast("bigint").alias("h"),
            )
            .groupBy("month")
            .agg(
                F.count(F.lit(1)).alias("n_rows"),
                F.bit_xor("h").alias("checksum"),
            )
        )

    base = monthly(o)
    # replica: same rows, deliberately different physical layout —
    # checksum equality proves the audit is layout/order-independent
    replica = monthly(o.repartition(7, "o_custkey")).withColumnsRenamed(
        {"n_rows": "r_rows", "checksum": "r_checksum"}
    )
    return (
        base.join(replica, "month")
        .select(
            "month",
            "n_rows",
            "checksum",
            (
                (F.col("n_rows") == F.col("r_rows"))
                & (F.col("checksum") == F.col("r_checksum"))
            ).alias("replica_match"),
        )
        .orderBy("month")
    )


A25_SQL = """
WITH hx AS (
  SELECT substr(CAST(o_orderdate AS STRING), 1, 7) AS month,
         substr(md5(concat_ws('|',
           CAST(o_orderkey AS STRING), CAST(o_custkey AS STRING),
           o_orderstatus,
           CAST(CAST(o_totalprice AS DECIMAL(18,2)) AS STRING),
           CAST(o_orderdate AS STRING), o_orderpriority)), 1, 15) AS hex15
  FROM orders
), hashed AS (
  SELECT month, ('0x' || hex15)::BIGINT AS h FROM hx
)
SELECT month, count(*) AS n_rows, bit_xor(h) AS checksum,
       TRUE AS replica_match
FROM hashed
GROUP BY month
ORDER BY month
"""


# --- A26: sliding-window distinct via windowed sketch union ------------------

def a26_sliding_distinct(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Trailing-hour distinct users per event type, the sliding-
    MAU/DAU shape: distinct counts don't decompose over sliding
    windows, so the 100 TB plan is (1) reduce the stream to ONE k-byte
    HLL sketch per (type, minute) — map-side-combinable, grid-sized
    output — then (2) union sketches over a trailing RANGE frame
    (hll_union_agg as a window aggregate): each window result touches
    60 sketches, never the raw events. The exact twin here flattens
    per-minute user sets over the same frame — linear in window
    row-count, the very cost the sketch path avoids — and the oracle
    pins the a22-style accuracy contract (exact + within-eps flag,
    TRUE literal on the DuckDB side)."""
    ev = t(spark, sf_dir, "events")
    mins = ev.groupBy(
        "event_type", F.date_trunc("minute", "ts").alias("minute")
    ).agg(
        F.hll_sketch_agg("user_id", F.lit(14)).alias("sk"),
        F.collect_set("user_id").alias("users"),
    )
    w = (
        Window.partitionBy("event_type")
        .orderBy(F.unix_timestamp("minute"))
        .rangeBetween(-3540, 0)
    )
    return (
        mins.select(
            "event_type",
            "minute",
            F.array_size(
                F.array_distinct(F.flatten(F.collect_list("users").over(w)))
            ).cast("bigint").alias("n_exact"),
            F.hll_sketch_estimate(F.hll_union_agg("sk").over(w)).alias(
                "n_hll"
            ),
        )
        .select(
            "event_type",
            "minute",
            "n_exact",
            (
                F.abs(F.col("n_hll") - F.col("n_exact"))
                <= 0.05 * F.col("n_exact")
            ).alias("within_5pct"),
        )
        .orderBy("event_type", "minute")
    )


A26_SQL = """
WITH mins AS (
  SELECT DISTINCT event_type, date_trunc('minute', ts) AS m FROM events
)
SELECT a.event_type, a.m AS minute,
       count(DISTINCT e.user_id) AS n_exact,
       TRUE AS within_5pct
FROM mins a
JOIN events e
  ON e.event_type = a.event_type
 AND date_trunc('minute', e.ts) >= a.m - INTERVAL 59 MINUTE
 AND date_trunc('minute', e.ts) <= a.m
GROUP BY a.event_type, a.m
ORDER BY a.event_type, a.m
"""


# --- W23: seasonal baseline + deseasonalized anomalies -----------------------

def w23_seasonal_anomalies(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Seasonality-aware anomaly scoring, completing the monitoring
    suite (threshold A3, MAD a19, EWMA w14, autocorr a20, slope w21,
    CUSUM w22): an hour-of-day seasonal profile (mean, sample std per
    (event_type, hour)) is fit on the FIRST HALF of the stream
    (exact-micros split, the m17 rule) and the second half is scored
    as deseasonalized z = (x − μ_hod)/σ_hod — anomalies that a global
    threshold would miss inside high-baseline hours and false-flag in
    quiet ones. Profile moments quantized to 6 before scoring (a19);
    output per (type, hour): scored count and |z| > 3 exceedances.
    One scan to the 120-cell profile, one broadcast join back."""
    ev = t(spark, sf_dir, "events")
    mid = ev.agg(
        F.round(
            F.percentile(F.unix_micros("ts").cast("double"), F.lit(0.5)), 0
        )
    ).collect()[0][0]
    tagged = ev.select(
        "event_type",
        "value",
        F.hour("ts").alias("hod"),
        (F.unix_micros("ts") >= F.lit(mid)).alias("is_cur"),
    )
    prof = (
        tagged.filter(~F.col("is_cur"))
        .groupBy("event_type", "hod")
        .agg(
            F.round(F.avg("value"), 6).alias("mu"),
            F.round(F.stddev_samp("value"), 6).alias("sigma"),
        )
    )
    scored = (
        tagged.filter(F.col("is_cur"))
        .join(F.broadcast(prof), ["event_type", "hod"])
        .withColumn(
            "z", F.round((F.col("value") - F.col("mu")) / F.col("sigma"), 6)
        )
    )
    return (
        scored.groupBy("event_type", "hod")
        .agg(
            F.count(F.lit(1)).alias("n_scored"),
            # when-otherwise, not a bool cast: single-sample profile
            # cells have NULL sigma -> NULL z, which must count as
            # "not anomalous" (0) exactly like the oracle's CASE
            F.sum(
                F.when(F.abs("z") > 3, F.lit(1)).otherwise(F.lit(0))
            ).cast("bigint").alias("n_anomalies"),
        )
        .orderBy("event_type", "hod")
    )


W23_SQL = """
WITH mid AS (
  SELECT round(quantile_cont(epoch_us(ts), 0.5), 0) AS m FROM events
), tagged AS (
  SELECT event_type, value,
         CAST(extract(hour FROM ts) AS INTEGER) AS hod,
         epoch_us(ts) >= m AS is_cur
  FROM events CROSS JOIN mid
), prof AS (
  SELECT event_type, hod,
         round(avg(value), 6) AS mu,
         round(stddev_samp(value), 6) AS sigma
  FROM tagged WHERE NOT is_cur GROUP BY event_type, hod
)
SELECT t.event_type, t.hod, count(*) AS n_scored,
       CAST(sum(CASE WHEN abs(round((t.value - p.mu) / p.sigma, 6)) > 3
                THEN 1 ELSE 0 END) AS BIGINT) AS n_anomalies
FROM tagged t
JOIN prof p ON p.event_type = t.event_type AND p.hod = t.hod
WHERE t.is_cur
GROUP BY t.event_type, t.hod
ORDER BY t.event_type, t.hod
"""


# --- W22: CUSUM changepoint detection ----------------------------------------

def cusum_flags(
    ev: DataFrame,
    base_k: int = 30,
    slack: float = 0.5,
    h_sigmas: float = 4.0,
) -> DataFrame:
    """Per-row CUSUM decision frame (user_id, i, S, sigma, alarm) —
    the batch kernel shared by the w22 report and the streaming-twin
    equality test (streaming/cusum_stream.py uses the same quantized
    baseline, fold order, and rounded decision statistic)."""
    w_ord = Window.partitionBy("user_id").orderBy("ts", "event_id")
    seq = ev.select(
        "user_id", "ts", "event_id", F.col("value").alias("x")
    ).withColumn("i", F.row_number().over(w_ord))
    base = (
        seq.filter(F.col("i") <= base_k)
        .groupBy("user_id")
        .agg(
            F.round(F.avg("x"), 6).alias("mu"),
            F.round(F.stddev_samp("x"), 6).alias("sigma"),
        )
    )
    j = seq.join(base, "user_id").withColumn(
        "step", F.col("x") - F.col("mu") - slack * F.col("sigma")
    )
    run = Window.partitionBy("user_id").orderBy("i").rowsBetween(
        Window.unboundedPreceding, 0
    )
    p = j.withColumn("P", F.sum("step").over(run)).withColumn(
        "S",
        F.round(
            F.col("P") - F.least(F.lit(0.0), F.min("P").over(run)), 6
        ),
    )
    return p.withColumn("alarm", F.col("S") > h_sigmas * F.col("sigma"))


def w22_cusum(spark: SparkSession, sf_dir: str) -> DataFrame:
    """One-sided CUSUM changepoint monitor per user series — the
    classic drift detector for sensor streams. The textbook recurrence
    ``S_i = max(0, S_{i-1} + (x_i − μ − k))`` is NOT a window
    aggregate, but its closed form is: with
    ``P_i = Σ_{j<=i} (x_j − μ − k)``,
    ``S_i = P_i − min(0, min_{j<=i} P_j)`` — a running sum plus a
    running min, two frames over one sort. Per-user baseline μ, σ from
    the first 30 samples (quantized to 6 before use, the a19 rule);
    slack k = 0.5σ, alarm h = 4σ. Output per user: alarms and the
    first alarm's 1-based sample index (0 = never alarmed, the W8
    sentinel contract)."""
    flagged = cusum_flags(t(spark, sf_dir, "events"))
    return (
        flagged.groupBy("user_id")
        .agg(
            F.sum(F.col("alarm").cast("long")).alias("n_alarms"),
            F.coalesce(
                F.min(F.when(F.col("alarm"), F.col("i"))), F.lit(0)
            ).cast("bigint").alias("first_alarm_i"),
        )
        .orderBy("user_id")
    )


W22_SQL = """
WITH seq AS (
  SELECT user_id, value AS x,
         row_number() OVER (PARTITION BY user_id ORDER BY ts, event_id)
           AS i
  FROM events
), base AS (
  SELECT user_id, round(avg(x), 6) AS mu,
         round(stddev_samp(x), 6) AS sigma
  FROM seq WHERE i <= 30 GROUP BY user_id
), p1 AS (
  SELECT s.user_id, s.i, b.sigma,
         sum(s.x - b.mu - 0.5 * b.sigma) OVER w AS P
  FROM seq s JOIN base b ON b.user_id = s.user_id
  WINDOW w AS (PARTITION BY s.user_id ORDER BY s.i
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
), p AS (
  SELECT user_id, i, sigma, P,
         min(P) OVER (PARTITION BY user_id ORDER BY i
                      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
           AS minP
  FROM p1
), flagged AS (
  SELECT user_id, i,
         round(P - least(0.0, minP), 6) > 4 * sigma AS alarm
  FROM p
)
SELECT user_id,
       CAST(sum(CASE WHEN alarm THEN 1 ELSE 0 END) AS BIGINT) AS n_alarms,
       CAST(coalesce(min(CASE WHEN alarm THEN i END), 0) AS BIGINT)
         AS first_alarm_i
FROM flagged
GROUP BY user_id
ORDER BY user_id
"""


# --- W24: mean-shift changepoint location -------------------------------------

def w24_changepoint(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Offline changepoint LOCATION per user series — the
    binary-segmentation inner step that complements w22's online CUSUM
    alarm: for every candidate split k the standardized two-sample
    statistic ``sqrt(k(n−k)/n) · |mean_left − mean_right|`` comes
    entirely from prefix sums (one running-sum window over one sort),
    so the whole scan of candidate splits is O(n) per series with NO
    per-candidate rescans; argmax under a rounded-stat + smallest-k
    total order. At 100 TB each series is one window partition — the
    same per-user ordering contract every w-family query rides.
    Output: (user_id, cp_i, round(stat, 6), n)."""
    ev = t(spark, sf_dir, "events")
    w_ord = Window.partitionBy("user_id").orderBy("ts", "event_id")
    seq = ev.select(
        "user_id", "ts", "event_id", F.col("value").alias("x")
    ).withColumn("i", F.row_number().over(w_ord))
    run = Window.partitionBy("user_id").orderBy("i").rowsBetween(
        Window.unboundedPreceding, 0
    )
    tot = Window.partitionBy("user_id")
    p = (
        seq.withColumn("S", F.sum("x").over(run))
        .withColumn("n", F.count(F.lit(1)).over(tot))
        .withColumn("Sn", F.sum("x").over(tot))
        .filter(F.col("i") < F.col("n"))  # splits leave both sides non-empty
        .withColumn(
            "stat",
            F.round(
                F.sqrt(
                    F.col("i") * (F.col("n") - F.col("i")) / F.col("n")
                )
                * F.abs(
                    F.col("S") / F.col("i")
                    - (F.col("Sn") - F.col("S"))
                    / (F.col("n") - F.col("i"))
                ),
                6,
            ),
        )
    )
    pick = Window.partitionBy("user_id").orderBy(
        F.desc("stat"), F.asc("i")
    )
    return (
        p.withColumn("rk", F.row_number().over(pick))
        .filter(F.col("rk") == 1)
        .select(
            "user_id",
            F.col("i").cast("bigint").alias("cp_i"),
            "stat",
            F.col("n").cast("bigint").alias("n"),
        )
        .orderBy("user_id")
    )


def w25_binary_segmentation(
    spark: SparkSession, sf_dir: str, depth: int = 3, min_seg: int = 4
) -> DataFrame:
    """Recursive binary segmentation — the multi-changepoint operator
    on top of w24's single best split (w22 online alarm → w24 single
    split → THIS completes the changepoint family).
    Level 0 locates the best split of each user's whole series; each
    later level re-splits both halves, with a min-segment guard
    (both sides >= min_seg) — up to 2^depth - 1 changepoints.

    Scale design: the series is scanned ONCE into per-user prefix sums
    (the w24 pass, persisted); every level's segment statistics come
    from pure prefix-sum arithmetic — a segment [a, b] split at k
    needs only (S_{a-1}, S_k, S_b), and each level's winning rows
    carry (S_{a-1}, S_b) DOWN to their children, so recursion costs
    one broadcast join (|users|·2^level segment rows — KB-scale)
    plus one (user, segment)-partitioned rank window per level: no
    per-segment rescans, no driver round-trips, no shuffle of the
    series beyond the initial per-user ordering. Determinism contract
    shared with w24: stat rounded to 6 before the argmax, ties break
    to the smallest split index; prefix sums are order-defined
    (same adds, same order) so the doubles match the oracle bitwise.
    Output: (user_id, level, seg_start, seg_end, cp_i, stat)."""
    ev = t(spark, sf_dir, "events")
    w_ord = Window.partitionBy("user_id").orderBy("ts", "event_id")
    seq = ev.select(
        "user_id", "ts", "event_id", F.col("value").alias("x")
    ).withColumn("i", F.row_number().over(w_ord).cast("long"))
    run = Window.partitionBy("user_id").orderBy("i").rowsBetween(
        Window.unboundedPreceding, 0
    )
    tot = Window.partitionBy("user_id")
    from ..operators.cache import release_owned_caches, replace_owned_cache

    # per-level keys scale with ``depth``: a prior call
    # with a larger depth left w25_win_l{>=depth} persisted with no
    # future owner — release them before this invocation's loop
    release_owned_caches(
        "w25_win_l", keep={f"w25_win_l{i}" for i in range(depth)}
    )
    # adaptive_partitioning on both w25 cache sites:
    # without it the per-level KB-scale win frames persist at
    # spark.sql.shuffle.partitions (32 locally) and each level's THREE
    # consumers pay a 32-task scan per level — a cores scaling run
    # measured w25 running FASTER on 8 cores than 32 (ratio 0.78).
    # AQE-coalesced cached partitions are sized from bytes, so the same
    # code gets 1 partition at sf0.1 and real parallelism at 100 TB.
    # Alternating A/B (cold cache per run): 7.39 -> 4.69 s min-of-4.
    p = replace_owned_cache(
        "w25_prefix_sums",
        seq.withColumn("S", F.sum("x").over(run))
        .withColumn("n", F.count(F.lit(1)).over(tot).cast("long"))
        .withColumn("Sn", F.sum("x").over(tot))
        .select("user_id", "i", "S", "n", "Sn"),
        adaptive_partitioning=True,
    )
    segs = p.filter(F.col("i") == 1).select(
        "user_id",
        F.lit(1).cast("long").alias("a"),
        F.col("n").alias("b"),
        F.lit(0.0).alias("sa1"),
        F.col("Sn").alias("sb"),
    )
    # level-loop expressions as server-parsed text (1.1 s of py4j
    # chatter measured in the Column-API form; same
    # Catalyst expressions after parsing: * and / are left-assoc in
    # both, 1.0D forces the double division exactly where F.lit(1.0)
    # did, DESC defaults to NULLS LAST like F.desc)
    stat_txt = (
        "round(sqrt((i - a + 1) * (b - i) * 1.0D / (b - a + 1)) * "
        "abs((S - sa1) / (i - a + 1) - (sb - S) / (b - i)), 6)"
    )
    levels: list[DataFrame] = []
    for lvl in range(depth):
        cand = (
            p.join(F.broadcast(segs), "user_id")
            .filter(
                F.expr(f"i >= a + {min_seg} - 1 AND i <= b - {min_seg}")
            )
            .withColumn("stat", F.expr(stat_txt))
        )
        # each level's winner frame (|users|·2^lvl rows — KB-scale) has
        # THREE consumers (the level's output row + both child-segment
        # branches), and every consumer of level L transitively re-runs
        # the window passes of levels 0..L — the uncached plan held
        # 123 Window nodes for depth 3, each re-scanning the
        # cached prefix-sum frame. Owned-cache per level = exactly one
        # rank window over p per level (guide §5 "reused AND expensive
        # to recompute"). An aggregate argmax (max(struct(...))) was
        # tried first and REVERTED: struct-max can't hash-aggregate, so
        # Catalyst planned 44 SortAggregates — 24 s vs 2.9 s measured.
        win = replace_owned_cache(
            f"w25_win_l{lvl}",
            cand.selectExpr(
                "*",
                "row_number() OVER (PARTITION BY user_id, a "
                "ORDER BY stat DESC, i ASC) AS rk",
            ).filter("rk = 1"),
            adaptive_partitioning=True,
        )
        levels.append(
            win.selectExpr(
                "user_id",
                f"CAST({lvl} AS BIGINT) AS level",
                "a AS seg_start",
                "b AS seg_end",
                "i AS cp_i",
                "stat",
            )
        )
        segs = win.selectExpr(
            "user_id", "a", "i AS b", "sa1", "S AS sb"
        ).unionByName(
            win.selectExpr("user_id", "i + 1 AS a", "b", "S AS sa1", "sb")
        )
    out = levels[0]
    for d in levels[1:]:
        out = out.unionByName(d)
    return out.orderBy("user_id", "level", "seg_start")


def w26_stl_decompose(
    spark: SparkSession, sf_dir: str, period: int = 24, half: int = 12
) -> DataFrame:
    """STL-lite seasonal-trend decomposition per user series — the
    DECOMPOSITION op next to w23's seasonal anomaly flags: trend =
    centered rolling mean (ROWS +-half, partial at the edges — same
    frame semantics both engines), seasonal = per-phase mean of the
    detrended series re-centered to sum to zero over phases, residual
    = x − trend − seasonal. Output is Hyndman's strength-of-component
    report per user: trend_strength = max(0, 1 − var(resid)/var(x −
    seasonal)), seasonal_strength = max(0, 1 − var(resid)/var(x −
    trend)) (FPP3 §3.4) — the numbers a monitoring owner reads to
    decide whether a series needs seasonal adjustment. One sort per
    user partition; the per-phase and per-user aggregates ride it.
    var_samp doubles are rounded to 6 before hashing (a6 precedent)."""
    ev = t(spark, sf_dir, "events")
    w_ord = Window.partitionBy("user_id").orderBy("ts", "event_id")
    seq = ev.select(
        "user_id", "ts", "event_id", F.col("value").alias("x")
    ).withColumn("i", F.row_number().over(w_ord) - 1)
    w_tr = Window.partitionBy("user_id").orderBy("i").rowsBetween(
        -half, half
    )
    detr = seq.withColumn("trend", F.avg("x").over(w_tr)).withColumn(
        "phase", F.pmod("i", F.lit(period))
    ).withColumn("d", F.col("x") - F.col("trend"))
    w_ph = Window.partitionBy("user_id", "phase")
    w_u = Window.partitionBy("user_id")
    comp = (
        detr.withColumn("s_raw", F.avg("d").over(w_ph))
        .withColumn("seasonal", F.col("s_raw") - F.avg("s_raw").over(w_u))
        .withColumn(
            "resid", F.col("x") - F.col("trend") - F.col("seasonal")
        )
    )
    return (
        comp.groupBy("user_id")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n"),
            F.round(
                F.greatest(
                    F.lit(0.0),
                    F.lit(1.0)
                    - F.var_samp("resid")
                    / F.var_samp(F.col("x") - F.col("seasonal")),
                ),
                6,
            ).alias("trend_strength"),
            F.round(
                F.greatest(
                    F.lit(0.0),
                    F.lit(1.0)
                    - F.var_samp("resid")
                    / F.var_samp(F.col("x") - F.col("trend")),
                ),
                6,
            ).alias("seasonal_strength"),
        )
        .orderBy("user_id")
    )


W26_SQL = """
WITH seq AS (
  SELECT user_id, value AS x,
         row_number() OVER (PARTITION BY user_id ORDER BY ts, event_id)
           - 1 AS i
  FROM events
), detr AS (
  SELECT user_id, x, i, i % 24 AS phase,
         avg(x) OVER (PARTITION BY user_id ORDER BY i
                      ROWS BETWEEN 12 PRECEDING AND 12 FOLLOWING)
           AS trend
  FROM seq
), comp0 AS (
  SELECT user_id, x, trend,
         avg(x - trend) OVER (PARTITION BY user_id, phase) AS s_raw
  FROM detr
), comp AS (
  SELECT user_id, x, trend,
         s_raw - avg(s_raw) OVER (PARTITION BY user_id) AS seasonal
  FROM comp0
)
SELECT user_id, CAST(count(*) AS BIGINT) AS n,
       round(greatest(0.0,
             1.0 - var_samp(x - trend - seasonal)
                   / var_samp(x - seasonal)), 6) AS trend_strength,
       round(greatest(0.0,
             1.0 - var_samp(x - trend - seasonal)
                   / var_samp(x - trend)), 6) AS seasonal_strength
FROM comp
GROUP BY user_id
ORDER BY user_id
"""


def w27_seasonal_backtest(
    spark: SparkSession, sf_dir: str, period: int = 24
) -> DataFrame:
    """Seasonal-naive forecast backtest per user series — the
    FORECAST-QUALITY report that closes the w23/w26 monitoring loop:
    before trusting a seasonal model, a monitoring owner backtests the
    cheapest seasonal baseline (x̂_t = x_{t−period}) and reads MAE and
    MASE (Hyndman & Koehler 2006). MASE = seasonal-naive MAE over the
    scorable tail (i ≥ period) divided by the one-step-naive MAE over
    the whole series (the rolling-origin simplification of the classic
    in-sample denominator; documented semantics, mirrored exactly by
    the oracle) — < 1 means the seasonal baseline beats last-value
    carry-forward, so a model must beat BOTH to earn deployment.

    Scale shape: one sort per user partition (the w25/w26 ordering
    contract on (ts, event_id)); the two lags ride that window and the
    conditional averages are one hash aggregate — no self-joins, no
    second shuffle. avg doubles are rounded to 6 before hashing (a6
    precedent); mase is NULL for constant series (nullif-guarded
    denominator), identically in both engines."""
    ev = t(spark, sf_dir, "events")
    w_ord = Window.partitionBy("user_id").orderBy("ts", "event_id")
    seq = ev.select(
        "user_id",
        F.col("value").alias("x"),
        (F.row_number().over(w_ord) - 1).alias("i"),
        F.lag("value", period).over(w_ord).alias("f"),
        F.lag("value", 1).over(w_ord).alias("px"),
    )
    mae = F.avg(
        F.when(F.col("i") >= period, F.abs(F.col("x") - F.col("f")))
    )
    d1 = F.avg(F.when(F.col("i") >= 1, F.abs(F.col("x") - F.col("px"))))
    return (
        seq.groupBy("user_id")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n"),
            F.greatest(
                F.count(F.lit(1)) - period, F.lit(0)
            ).cast("bigint").alias("n_eval"),
            F.round(mae, 6).alias("mae"),
            F.round(mae / F.nullif(d1, F.lit(0.0)), 6).alias("mase"),
        )
        .orderBy("user_id")
    )


def _w27_sql(period: int = 24) -> str:
    """w27 oracle builder: the seasonal lag is generated
    from the same ``period`` the DataFrame query takes, so a
    non-default call cannot silently diverge from the oracle text."""
    return f"""
WITH seq AS (
  SELECT user_id, value AS x,
         row_number() OVER w - 1 AS i,
         lag(value, {period}) OVER w AS f,
         lag(value, 1) OVER w AS px
  FROM events
  WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
)
SELECT user_id,
       CAST(count(*) AS BIGINT) AS n,
       CAST(greatest(count(*) - {period}, 0) AS BIGINT) AS n_eval,
       round(avg(CASE WHEN i >= {period} THEN abs(x - f) END), 6) AS mae,
       round(avg(CASE WHEN i >= {period} THEN abs(x - f) END)
             / nullif(avg(CASE WHEN i >= 1 THEN abs(x - px) END), 0),
             6) AS mase
FROM seq
GROUP BY user_id
ORDER BY user_id
"""


W27_SQL = _w27_sql()


def _w25_sql(depth: int = 3, min_seg: int = 4) -> str:
    """w25 oracle: the recursion statically unrolled — seg{r} carries
    (a, b, S_{a-1}, S_b) down exactly like the DataFrame loop."""
    m = min_seg
    parts = ["""WITH seq AS (
  SELECT user_id, value AS x,
         row_number() OVER (PARTITION BY user_id ORDER BY ts, event_id)
           AS i
  FROM events
), p AS (
  SELECT user_id, i,
         sum(x) OVER (PARTITION BY user_id ORDER BY i
                      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
           AS S,
         count(*) OVER (PARTITION BY user_id) AS n,
         sum(x) OVER (PARTITION BY user_id) AS Sn
  FROM seq
), seg0 AS (
  SELECT user_id, 1 AS a, n AS b, CAST(0 AS DOUBLE) AS sa1, Sn AS sb
  FROM p WHERE i = 1
)"""]
    for r in range(depth):
        parts.append(f""",
c{r} AS (
  SELECT p.user_id, s.a, s.b, s.sa1, s.sb, p.i, p.S,
         round(sqrt((p.i - s.a + 1) * (s.b - p.i) * 1.0
                    / (s.b - s.a + 1))
               * abs((p.S - s.sa1) / (p.i - s.a + 1)
                     - (s.sb - p.S) / (s.b - p.i)), 6) AS stat
  FROM p JOIN seg{r} s ON s.user_id = p.user_id
  WHERE p.i >= s.a + {m} - 1 AND p.i <= s.b - {m}
),
w{r} AS MATERIALIZED (
  SELECT * FROM (
    SELECT c{r}.*, row_number() OVER (PARTITION BY user_id, a
                                      ORDER BY stat DESC, i) AS rk
    FROM c{r}
  ) ranked{r} WHERE rk = 1
),
seg{r + 1} AS (
  SELECT user_id, a, i AS b, sa1, S AS sb FROM w{r}
  UNION ALL
  SELECT user_id, i + 1 AS a, b, S AS sa1, sb FROM w{r}
)""")
    sel = "\nUNION ALL\n".join(
        f"SELECT user_id, CAST({r} AS BIGINT) AS level, "
        f"CAST(a AS BIGINT) AS seg_start, CAST(b AS BIGINT) AS seg_end, "
        f"CAST(i AS BIGINT) AS cp_i, stat FROM w{r}"
        for r in range(depth)
    )
    parts.append(
        "\n" + sel + "\nORDER BY user_id, level, seg_start"
    )
    return "".join(parts)


W25_SQL = _w25_sql()


W24_SQL = """
WITH seq AS (
  SELECT user_id, value AS x,
         row_number() OVER (PARTITION BY user_id ORDER BY ts, event_id)
           AS i
  FROM events
), p AS (
  SELECT user_id, i,
         sum(x) OVER (PARTITION BY user_id ORDER BY i
                      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
           AS S,
         count(*) OVER (PARTITION BY user_id) AS n,
         sum(x) OVER (PARTITION BY user_id) AS Sn
  FROM seq
), stats AS (
  SELECT user_id, i, n,
         round(sqrt(i * (n - i) * 1.0 / n)
               * abs(S * 1.0 / i - (Sn - S) * 1.0 / (n - i)), 6) AS stat
  FROM p WHERE i < n
)
SELECT user_id, CAST(cp_i AS BIGINT) AS cp_i, stat, CAST(n AS BIGINT) AS n
FROM (
  SELECT user_id, i AS cp_i, stat, n,
         row_number() OVER (PARTITION BY user_id
                            ORDER BY stat DESC, i) AS rk
  FROM stats
) ranked
WHERE rk = 1
ORDER BY user_id
"""


# --- A30: audience overlap via sketch inclusion-exclusion --------------------

def a30_audience_overlap(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Audience-overlap analytics at sketch cost: |A ∩ B| between the
    user sets of every event-type pair, estimated as
    |A| + |B| − |A ∪ B| where all three terms are HLL estimates and
    the union is hll_union of the two PER-TYPE sketches — so the whole
    pairwise matrix is answered from 5 k-byte sketches, never by
    re-shuffling users (the ad-tech audience-overlap pattern; sketch
    intersection error grows when the overlap is small relative to the
    sets, which is why the contract is ±5% of the UNION size, the
    standard inclusion-exclusion bound). Exact intersection rides a
    distinct-pair self-join for the contract check; the oracle pins
    exact + TRUE (a22 pattern)."""
    ev = t(spark, sf_dir, "events")
    per_type = ev.groupBy("event_type").agg(
        F.hll_sketch_agg("user_id", F.lit(14)).alias("sk"),
        F.count_distinct("user_id").alias("n_exact"),
    )
    a = per_type.select(
        F.col("event_type").alias("type_a"),
        F.col("sk").alias("sk_a"),
        F.col("n_exact").alias("na"),
    )
    b = per_type.select(
        F.col("event_type").alias("type_b"),
        F.col("sk").alias("sk_b"),
        F.col("n_exact").alias("nb"),
    )
    pairs = a.join(b, F.col("type_a") < F.col("type_b"))
    est = pairs.select(
        "type_a",
        "type_b",
        (
            F.hll_sketch_estimate("sk_a")
            + F.hll_sketch_estimate("sk_b")
            - F.hll_sketch_estimate(
                F.hll_union("sk_a", "sk_b")
            )
        ).alias("inter_est"),
        F.hll_sketch_estimate(F.hll_union("sk_a", "sk_b")).alias("union_est"),
    )
    ua = ev.select("event_type", "user_id").distinct()
    exact = (
        ua.alias("x")
        .join(
            ua.alias("y"),
            (F.col("x.user_id") == F.col("y.user_id"))
            & (F.col("x.event_type") < F.col("y.event_type")),
        )
        .groupBy(
            F.col("x.event_type").alias("type_a"),
            F.col("y.event_type").alias("type_b"),
        )
        .agg(F.count(F.lit(1)).alias("n_inter"))
    )
    return (
        est.join(exact, ["type_a", "type_b"])
        .select(
            "type_a",
            "type_b",
            "n_inter",
            (
                F.abs(F.col("inter_est") - F.col("n_inter"))
                <= 0.05 * F.col("union_est")
            ).alias("within_5pct_of_union"),
        )
        .orderBy("type_a", "type_b")
    )


A30_SQL = """
WITH ua AS (
  SELECT DISTINCT event_type, user_id FROM events
)
SELECT x.event_type AS type_a, y.event_type AS type_b,
       CAST(count(*) AS BIGINT) AS n_inter,
       TRUE AS within_5pct_of_union
FROM ua x JOIN ua y
  ON x.user_id = y.user_id AND x.event_type < y.event_type
GROUP BY x.event_type, y.event_type
ORDER BY type_a, type_b
"""


# --- M17: population-stability-index drift monitor ---------------------------

def m17_psi_drift(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Production-ML drift check: PSI of the per-type value
    distribution, second half of the event stream against the first.
    Decile edges come from the REFERENCE window only (rounded to 6
    before any comparison, the o14 rule), both windows are binned with
    the same branchless crossing-sum, and
    ``PSI = Σ (p−q)·ln(p/q)`` uses Laplace-smoothed shares
    ``(cnt+1)/(n+10)`` so empty bins never produce log(0). One scan
    builds per-(type, window, bin) integer counts; everything after is
    a bins-sized frame. PSI > 0.2 is the conventional 'investigate'
    flag.

    Exact-percentile note (o2/o14's approximate-percentile swap does
    NOT apply here):
    the split median and the decile edges FEED the hashed PSI values,
    so the oracle must reproduce them bit-for-bit — only exact
    percentile is cross-engine deterministic. The buffers are one
    ts-column sort and per-type value sorts: fine at test scale,
    unbounded at 100 TB, where a deployment swaps percentile ->
    percentile_approx and verifies under the o14 rank-validation
    contract instead of a value hash (edges within rank-eps, PSI
    within the eps-propagated band). Declared trade: hash-gate
    exactness over bounded memory, scoped to this diagnostic."""
    ev = t(spark, sf_dir, "events")
    # exact integer micros on both engines (the j10 lesson): a
    # truncated-seconds median vs a fractional-epoch median could
    # split boundary events into different windows. Fully lazy (running
    # mid+edges as TWO eager collect jobs cost 1.26 s of 2.16 s,
    # booked as compile): the median rides a
    # broadcast 1-row frame; its subtree appears under both tagged
    # consumers but the identical BroadcastExchange is reused at
    # runtime. This only became safe once the downstream PSI tail was
    # collapsed to one conditional-aggregation pass — the old
    # ref/cur/n_ref/n_cur self-join cascade re-expanded every lazy
    # subtree (48 scans, measured).
    mid_df = ev.agg(
        F.round(
            F.percentile(F.unix_micros("ts").cast("double"), F.lit(0.5)), 0
        ).alias("m")
    )
    tagged = ev.crossJoin(F.broadcast(mid_df)).select(
        "event_type",
        "value",
        (F.unix_micros("ts") >= F.col("m")).alias("is_cur"),
    )
    pcts = [i / 10.0 for i in range(1, 10)]
    # |types|-row broadcast edges frame with the decile array built
    # INSIDE the agg — no driver round-trip, same crossing-sum consumer
    edges_df = (
        tagged.filter(~F.col("is_cur"))
        .groupBy("event_type")
        .agg(
            F.array(
                *[F.round(F.percentile("value", F.lit(p)), 6) for p in pcts]
            ).alias("es")
        )
    )
    binned = (
        tagged.join(F.broadcast(edges_df), "event_type")
        .select(
            "event_type",
            "is_cur",
            F.expr(
                "aggregate(es, 0, (acc, e) -> acc + "
                "CASE WHEN value > e THEN 1 ELSE 0 END)"
            ).alias("bin"),
        )
    )
    # conditional aggregation pivots ref/cur in ONE group-by — a
    # ref/cur/n_ref/n_cur self-join cascade re-expanded the (now lazy)
    # percentile subtrees into 48 scans; a bin empty on one side has
    # c=0 here, so (0+1)/(n+10) IS the old full-outer coalesce floor
    counts = binned.groupBy("event_type", "bin").agg(
        F.sum((~F.col("is_cur")).cast("long")).alias("c_ref"),
        F.sum(F.col("is_cur").cast("long")).alias("c_cur"),
    )
    per_type = Window.partitionBy("event_type")
    joined = counts.select(
        "event_type",
        ((F.col("c_ref") + 1) / (F.sum("c_ref").over(per_type) + 10))
        .alias("p"),
        ((F.col("c_cur") + 1) / (F.sum("c_cur").over(per_type) + 10))
        .alias("q"),
    )
    return (
        joined.groupBy("event_type")
        .agg(
            F.round(
                F.sum((F.col("p") - F.col("q")) * F.log(F.col("p") / F.col("q"))),
                6,
            ).alias("psi")
        )
        .select(
            "event_type", "psi", (F.col("psi") > 0.2).alias("drift_flag")
        )
        .orderBy("event_type")
    )


def _m17_sql() -> str:
    return """
WITH mid AS (
  SELECT round(quantile_cont(epoch_us(ts), 0.5), 0) AS m FROM events
), tagged AS (
  SELECT event_type, value, epoch_us(ts) >= m AS is_cur
  FROM events CROSS JOIN mid
), edges AS (
  SELECT event_type,
         """ + ",\n         ".join(
        f"round(quantile_cont(value, {i / 10.0}), 6) AS e{i}"
        for i in range(1, 10)
    ) + """
  FROM tagged WHERE NOT is_cur GROUP BY event_type
), binned AS (
  SELECT t.event_type, t.is_cur,
         (""" + " + ".join(
        f"CASE WHEN t.value > e.e{i} THEN 1 ELSE 0 END" for i in range(1, 10)
    ) + """) AS bin
  FROM tagged t JOIN edges e ON e.event_type = t.event_type
), counts AS (
  SELECT event_type, is_cur, bin, count(*) AS c
  FROM binned GROUP BY event_type, is_cur, bin
), tot AS (
  SELECT event_type, is_cur, sum(c) AS n
  FROM counts GROUP BY event_type, is_cur
), sh AS (
  SELECT c.event_type, c.is_cur, c.bin,
         (c.c + 1) * 1.0 / (t.n + 10) AS share
  FROM counts c JOIN tot t
    ON t.event_type = c.event_type AND t.is_cur = c.is_cur
), pq AS (
  SELECT coalesce(r.event_type, q.event_type) AS event_type,
         coalesce(r.share, 1.0 / (nr.n + 10)) AS p,
         coalesce(q.share, 1.0 / (nc.n + 10)) AS q
  FROM (SELECT * FROM sh WHERE NOT is_cur) r
  FULL OUTER JOIN (SELECT * FROM sh WHERE is_cur) q
    ON r.event_type = q.event_type AND r.bin = q.bin
  JOIN (SELECT event_type, n FROM tot WHERE NOT is_cur) nr
    ON nr.event_type = coalesce(r.event_type, q.event_type)
  JOIN (SELECT event_type, n FROM tot WHERE is_cur) nc
    ON nc.event_type = coalesce(r.event_type, q.event_type)
)
SELECT event_type,
       round(sum((p - q) * ln(p / q)), 6) AS psi,
       round(sum((p - q) * ln(p / q)), 6) > 0.2 AS drift_flag
FROM pq
GROUP BY event_type
ORDER BY event_type
"""


M17_SQL = _m17_sql()


# --- G1: triangle counting (graph analytics trio: CC, PageRank, triangles) ---

def g1_triangle_count(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Triangle counting over the item co-view graph (nodes = items,
    edge when >= 1 user viewed both), via the DEGREE-ORDERED
    compact-forward enumeration (operators/graph.py:triangles_per_node):
    edges orient low-(degree, id) -> high, wedges fan out of each
    edge's lower-degree corner, one edge-existence semi-join closes
    them — every triangle materializes exactly once and wedge work is
    O(m^1.5) on ANY degree distribution, where a low-id orientation
    degrades to O(Σ deg²) whenever a hub holds a small id (measured in
    tests/test_operators.py::test_triangle_skew). Triangle counts are
    orientation-invariant, so the oracle's id-oriented formulation
    verifies the same result. Per-node participation = each corner
    counted via a 3-role union; top-20 under a total order."""
    from ..operators import graph

    ev = t(spark, sf_dir, "events")
    ui = (
        ev.filter(F.col("event_type") == "view")
        .select(
            "user_id",
            F.get_json_object("props", "$.k").cast("int").alias("item"),
        )
        .distinct()
    )
    a, b = ui.alias("a"), ui.alias("b")
    edges = (
        a.join(
            b,
            (F.col("a.user_id") == F.col("b.user_id"))
            & (F.col("a.item") < F.col("b.item")),
        )
        .select(F.col("a.item").alias("u"), F.col("b.item").alias("v"))
        .distinct()
    )
    per_node = graph.triangles_per_node(edges)
    w = Window.orderBy(F.desc("n_triangles"), F.asc("node"))
    return (
        per_node.withColumn("pos", F.row_number().over(w).cast("bigint"))
        .filter(F.col("pos") <= 20)
        .select("pos", "node", "n_triangles")
        .orderBy("pos")
    )


G1_SQL = """
WITH ui AS (
  SELECT DISTINCT user_id,
         CAST(json_extract_string(props, '$.k') AS INTEGER) AS item
  FROM events WHERE event_type = 'view'
), edges AS (
  SELECT DISTINCT a.item AS u, b.item AS v
  FROM ui a JOIN ui b ON a.user_id = b.user_id AND a.item < b.item
), tris AS (
  SELECT e1.u AS na, e1.v AS nb, e2.v AS nc
  FROM edges e1
  JOIN edges e2 ON e1.v = e2.u
  WHERE EXISTS (SELECT 1 FROM edges e3
                WHERE e3.u = e1.u AND e3.v = e2.v)
), pn AS (
  SELECT node, CAST(count(*) AS BIGINT) AS n_triangles FROM (
    SELECT na AS node FROM tris
    UNION ALL SELECT nb FROM tris
    UNION ALL SELECT nc FROM tris
  ) r GROUP BY node
)
SELECT pos, node, n_triangles FROM (
  SELECT CAST(row_number() OVER (ORDER BY n_triangles DESC, node)
              AS BIGINT) AS pos,
         node, n_triangles
  FROM pn
) ranked
WHERE pos <= 20
ORDER BY pos
"""


# --- M16: k-fold cross-validated threshold calibration -----------------------

def m16_kfold_threshold(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The reference's mean + 2·std anomaly threshold (A3/M11),
    cross-validated: users are assigned to 5 folds by the o11 md5 rule
    (leakage-safe — the whole USER is held out, not single events),
    each fold's threshold is fit on the other four folds' events, and
    the held-out flag rate is reported per fold. A stable flag rate
    across folds is the generalization check the reference's
    single-split threshold never had. Shape: one 5-row fold domain
    cross-joined against per-user pre-aggregates — the corpus is
    scanned once into user-level sums (map-side combined), and the
    5× 'leave-fold-out' recombination happens on the tiny user table,
    never on raw events; the test-side flag count is one conditional
    join back. Sample std from sums: s² = (Σx² − n·mean²)/(n−1)."""
    ev = t(spark, sf_dir, "events")
    fold = (
        F.conv(
            F.substring(F.md5(F.col("user_id").cast("string")), 1, 4), 16, 10
        ).cast("long")
        % 5
    )
    per_user = ev.select("user_id", "value").groupBy("user_id").agg(
        F.count(F.lit(1)).alias("n"),
        F.sum("value").alias("s1"),
        F.sum(F.col("value") * F.col("value")).alias("s2"),
    ).withColumn(
        "fold",
        (
            F.conv(
                F.substring(F.md5(F.col("user_id").cast("string")), 1, 4),
                16,
                10,
            ).cast("long")
            % 5
        ),
    )
    folds = spark.range(5).select(F.col("id").alias("fold"))
    train = (
        folds.join(
            per_user.withColumnsRenamed({"fold": "ufold"}), F.expr("fold != ufold")
        )
        .groupBy("fold")
        .agg(
            F.sum("n").alias("n_tr"),
            F.sum("s1").alias("t1"),
            F.sum("s2").alias("t2"),
        )
        .select(
            "fold",
            "n_tr",
            F.round(
                (F.col("t1") / F.col("n_tr"))
                + 2
                * F.sqrt(
                    (
                        F.col("t2")
                        - F.col("n_tr")
                        * F.pow(F.col("t1") / F.col("n_tr"), 2)
                    )
                    / (F.col("n_tr") - 1)
                ),
                6,
            ).alias("threshold"),
        )
    )
    test = ev.withColumn("fold", fold)
    joined = test.join(train, "fold")
    return (
        joined.groupBy("fold", "threshold")
        .agg(
            F.count(F.lit(1)).alias("n_test"),
            F.round(
                F.avg((F.col("value") > F.col("threshold")).cast("double")), 6
            ).alias("flag_rate"),
        )
        .select("fold", "threshold", "n_test", "flag_rate")
        .orderBy("fold")
    )


M16_SQL = """
WITH hx AS (
  SELECT user_id, value,
         substr(md5(CAST(user_id AS STRING)), 1, 4) AS h4
  FROM events
), fu AS (
  SELECT user_id, value,
         CAST(('0x' || h4)::BIGINT % 5 AS BIGINT) AS fold
  FROM hx
), pu AS (
  SELECT user_id, fold AS ufold,
         count(*) AS n, sum(value) AS s1, sum(value * value) AS s2
  FROM fu GROUP BY user_id, fold
), folds AS (
  SELECT CAST(f AS BIGINT) AS fold
  FROM (SELECT unnest(generate_series(0, 4)) AS f) uf
), train AS (
  SELECT fold, CAST(sum(n) AS BIGINT) AS n_tr,
         round(sum(s1) / sum(n)
               + 2 * sqrt((sum(s2) - sum(n) * pow(sum(s1) / sum(n), 2))
                          / (sum(n) - 1)), 6) AS threshold
  FROM folds JOIN pu ON fold != ufold
  GROUP BY fold
)
SELECT t.fold, t.threshold, count(*) AS n_test,
       round(avg(CASE WHEN e.value > t.threshold
                 THEN CAST(1 AS DOUBLE) ELSE CAST(0 AS DOUBLE) END), 6)
         AS flag_rate
FROM train t
JOIN fu e ON e.fold = t.fold
GROUP BY t.fold, t.threshold
ORDER BY t.fold
"""


# --- A29: market-basket co-occurrence / lift ---------------------------------

def a29_market_basket(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Item-to-item affinity from view events (item = the ``k`` prop):
    for every item pair viewed by the same user, support and LIFT
    ``P(a,b) / (P(a)·P(b))`` over the user universe — the
    co-occurrence kernel of market-basket / item-recommendation
    pipelines. Scale shape: reduce to DISTINCT (user, item) first
    (basket-sized rows, not event-sized), self-join per user with
    ``a < b`` (pair count bounded by basket² per user, never
    corpus²), then two broadcast-sized item-count joins; the user
    count is a one-row aggregate cross-joined in the plan, not a
    construction-time ``count()``. All inputs
    to lift are integers, so the only float is the final division —
    rounded to 6, no cross-engine drift. Top-20 by (co_users, lift,
    pair) with a total order."""
    ev = t(spark, sf_dir, "events")
    ui = (
        ev.filter(F.col("event_type") == "view")
        .select(
            "user_id",
            F.get_json_object("props", "$.k").cast("int").alias("item"),
        )
        .distinct()
    )
    n_users = ui.agg(F.countDistinct("user_id").alias("n_users"))
    a, b = ui.alias("a"), ui.alias("b")
    pairs = (
        a.join(
            b,
            (F.col("a.user_id") == F.col("b.user_id"))
            & (F.col("a.item") < F.col("b.item")),
        )
        .groupBy(
            F.col("a.item").alias("item_a"), F.col("b.item").alias("item_b")
        )
        .agg(F.count(F.lit(1)).alias("co_users"))
    )
    cnt = ui.groupBy("item").agg(F.count(F.lit(1)).alias("nu"))
    j = (
        pairs.join(
            F.broadcast(cnt.select(F.col("item").alias("item_a"),
                                   F.col("nu").alias("n_a"))),
            "item_a",
        )
        .join(
            F.broadcast(cnt.select(F.col("item").alias("item_b"),
                                   F.col("nu").alias("n_b"))),
            "item_b",
        )
        .crossJoin(F.broadcast(n_users))
        .select(
            "item_a",
            "item_b",
            "co_users",
            F.round(
                F.col("co_users") * F.col("n_users")
                / (F.col("n_a") * F.col("n_b")),
                6,
            ).alias("lift"),
        )
    )
    w = Window.orderBy(
        F.desc("co_users"), F.desc("lift"), F.asc("item_a"), F.asc("item_b")
    )
    return (
        j.withColumn("pos", F.row_number().over(w).cast("bigint"))
        .filter(F.col("pos") <= 20)
        .select("pos", "item_a", "item_b", "co_users", "lift")
        .orderBy("pos")
    )


A29_SQL = """
WITH ui AS (
  SELECT DISTINCT user_id,
         CAST(json_extract_string(props, '$.k') AS INTEGER) AS item
  FROM events WHERE event_type = 'view'
), nu AS (
  SELECT CAST(count(DISTINCT user_id) AS BIGINT) AS n_users FROM ui
), pairs AS (
  SELECT a.item AS item_a, b.item AS item_b,
         CAST(count(*) AS BIGINT) AS co_users
  FROM ui a JOIN ui b
    ON a.user_id = b.user_id AND a.item < b.item
  GROUP BY a.item, b.item
), cnt AS (
  SELECT item, CAST(count(*) AS BIGINT) AS nu_cnt FROM ui GROUP BY item
), lifted AS (
  SELECT item_a, item_b, co_users,
         round(co_users * n_users * 1.0 / (ca.nu_cnt * cb.nu_cnt), 6)
           AS lift
  FROM pairs
  JOIN cnt ca ON ca.item = pairs.item_a
  JOIN cnt cb ON cb.item = pairs.item_b
  CROSS JOIN nu
)
SELECT pos, item_a, item_b, co_users, lift FROM (
  SELECT CAST(row_number() OVER (ORDER BY co_users DESC, lift DESC,
                                 item_a, item_b) AS BIGINT) AS pos,
         item_a, item_b, co_users, lift
  FROM lifted
) ranked
WHERE pos <= 20
ORDER BY pos
"""


# --- W21: trailing-window rolling regression slope ---------------------------

def w21_rolling_slope(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Trend detection over each user's event series: the least-squares
    slope of value against its per-user sample index over a trailing
    20-row frame — ``(n·Σxy − Σx·Σy) / (n·Σx² − (Σx)²)``, all four
    moments as window sums over the SAME frame (one shuffle on
    user_id, one partition-local sort, zero joins). x is the integer
    row index, so Σx and Σx² are exact; only Σy/Σxy carry float noise,
    bounded by one frame (20 terms — no cross-engine drift
    amplification). Slope's units: value-change per event. The first
    19 rows of each user emit NULL (frame not full) — the standard
    warm-up contract."""
    ev = t(spark, sf_dir, "events")
    w_idx = Window.partitionBy("user_id").orderBy("ts", "event_id")
    idx = ev.select(
        "user_id",
        "event_id",
        F.col("value").alias("y"),
        F.row_number().over(w_idx).cast("double").alias("x"),
    )
    fr = (
        Window.partitionBy("user_id")
        .orderBy("x")
        .rowsBetween(-19, 0)
    )
    n = F.count(F.lit(1)).over(fr)
    sx = F.sum("x").over(fr)
    sy = F.sum("y").over(fr)
    sxy = F.sum(F.col("x") * F.col("y")).over(fr)
    sxx = F.sum(F.col("x") * F.col("x")).over(fr)
    slope = (n * sxy - sx * sy) / (n * sxx - sx * sx)
    return idx.select(
        "user_id",
        "event_id",
        F.when(n >= 20, F.round(slope, 6)).alias("slope20"),
    ).orderBy("user_id", "event_id")


W21_SQL = """
WITH idx AS (
  SELECT user_id, event_id, value AS y,
         CAST(row_number() OVER (PARTITION BY user_id
                                 ORDER BY ts, event_id) AS DOUBLE) AS x
  FROM events
), m AS (
  SELECT user_id, event_id,
         count(*) OVER fr AS n,
         sum(x) OVER fr AS sx,
         sum(y) OVER fr AS sy,
         sum(x * y) OVER fr AS sxy,
         sum(x * x) OVER fr AS sxx
  FROM idx
  WINDOW fr AS (PARTITION BY user_id ORDER BY x
                ROWS BETWEEN 19 PRECEDING AND CURRENT ROW)
)
SELECT user_id, event_id,
       CASE WHEN n >= 20 THEN
         round((n * sxy - sx * sy) / (n * sxx - sx * sx), 6)
       END AS slope20
FROM m
ORDER BY user_id, event_id
"""


# --- O14: equal-frequency binning (quantile discretizer) ---------------------

def o14_equal_freq_binning(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MLlib-QuantileDiscretizer-shaped feature binning under the o2
    rank-validation contract: decile edges come
    from ``percentile_approx`` (GK sketch, accuracy=10000 — bounded
    per-partition state, mergeable), NOT exact ``percentile`` (whose
    buffer holds every value: a single-task blow-up at 100 TB). GK
    edges aren't bitwise portable to DuckDB, so instead of hashing
    edge-dependent bin stats the query PROVES the discretizer did its
    job: each of the 10 bins must hold a share of rows within
    eps=0.005 of 0.10 (GK rank error <= 1e-4; l_extendedprice has
    2-decimal ties, hence the wider eps). The oracle pins all 10
    flags TRUE and recomputes the exact total row count. Both passes
    are fixed-memory single scans; the 9 edges collected are the
    audited k-row broadcast-scalar pattern."""
    li = t(spark, sf_dir, "lineitem")
    pcts = [i / 10.0 for i in range(1, 10)]
    est = li.agg(
        F.percentile_approx(
            "l_extendedprice", F.array(*[F.lit(p) for p in pcts]), F.lit(10000)
        ).alias("edges"),
        F.count(F.lit(1)).alias("total"),
    ).collect()[0]
    edges = [float(v) for v in est["edges"]]
    total = int(est["total"])
    bin_expr = sum(
        (F.col("l_extendedprice") > F.lit(v)).cast("int") for v in edges
    )
    return (
        li.select(bin_expr.alias("bin"))
        .groupBy("bin")
        .agg(F.count(F.lit(1)).alias("n"))
        .select(
            F.col("bin").cast("bigint").alias("bin"),
            F.lit(total).cast("bigint").alias("total"),
            (
                F.abs(F.col("n") / F.lit(float(total)) - F.lit(0.1))
                <= F.lit(0.005)
            ).alias("share_ok"),
        )
        .orderBy("bin")
    )


O14_SQL = """
SELECT CAST(b.bin AS BIGINT) AS bin,
       (SELECT count(*) FROM lineitem) AS total,
       TRUE AS share_ok
FROM (
  SELECT 0 AS bin UNION ALL SELECT 1 UNION ALL SELECT 2 UNION ALL SELECT 3
  UNION ALL SELECT 4 UNION ALL SELECT 5 UNION ALL SELECT 6
  UNION ALL SELECT 7 UNION ALL SELECT 8 UNION ALL SELECT 9
) b
ORDER BY bin
"""


# --- A28: A/B experiment analysis (hash arms + Welch t) ----------------------

def a28_ab_test(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Experiment readout, end to end: users are assigned to arms by
    the o11 content-independent md5 rule (first hex char < '8' -> A,
    else B — stable under re-runs, appends, and engine changes), and
    each event_type gets the Welch two-sample readout: per-arm n /
    mean / sample variance, the effect size, and the t statistic
    ``diff / sqrt(s2a/na + s2b/nb)``. One scan, one (event_type, arm)
    aggregate (map-side combined), one tiny pivot-join — the shape a
    100 TB metrics warehouse runs per experiment per day. Values
    rounded to 6 like every cross-engine mean; t to 4 (it divides two
    rounded-order quantities, so noise is amplified one level)."""
    ev = t(spark, sf_dir, "events")
    arm = F.when(
        F.substring(F.md5(F.col("user_id").cast("string")), 1, 1) < "8", "A"
    ).otherwise("B")
    per = (
        ev.withColumn("arm", arm)
        .groupBy("event_type", "arm")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.avg("value").alias("mean"),
            F.var_samp("value").alias("s2"),
        )
    )
    a = per.filter(F.col("arm") == "A").select(
        "event_type",
        F.col("n").alias("n_a"),
        F.col("mean").alias("mean_a"),
        F.col("s2").alias("s2_a"),
    )
    b = per.filter(F.col("arm") == "B").select(
        "event_type",
        F.col("n").alias("n_b"),
        F.col("mean").alias("mean_b"),
        F.col("s2").alias("s2_b"),
    )
    j = a.join(b, "event_type")
    diff = F.col("mean_b") - F.col("mean_a")
    se = F.sqrt(
        F.col("s2_a") / F.col("n_a") + F.col("s2_b") / F.col("n_b")
    )
    return j.select(
        "event_type",
        "n_a",
        "n_b",
        F.round("mean_a", 6).alias("mean_a"),
        F.round("mean_b", 6).alias("mean_b"),
        F.round(diff, 6).alias("diff"),
        F.round(diff / se, 4).alias("t_stat"),
    ).orderBy("event_type")


A28_SQL = """
WITH assigned AS (
  SELECT event_type, value,
         CASE WHEN substr(md5(CAST(user_id AS STRING)), 1, 1) < '8'
              THEN 'A' ELSE 'B' END AS arm
  FROM events
), per AS (
  SELECT event_type, arm, count(*) AS n, avg(value) AS mean,
         var_samp(value) AS s2
  FROM assigned GROUP BY event_type, arm
)
SELECT a.event_type, a.n AS n_a, b.n AS n_b,
       round(a.mean, 6) AS mean_a, round(b.mean, 6) AS mean_b,
       round(b.mean - a.mean, 6) AS diff,
       round((b.mean - a.mean)
             / sqrt(a.s2 / a.n + b.s2 / b.n), 4) AS t_stat
FROM (SELECT * FROM per WHERE arm = 'A') a
JOIN (SELECT * FROM per WHERE arm = 'B') b ON a.event_type = b.event_type
ORDER BY a.event_type
"""


# --- W20: event-sequence pattern matching (MATCH_RECOGNIZE-lite) -------------

def w20_event_pattern(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Behavioral funnel over raw event sequences, the batch
    MATCH_RECOGNIZE composition: each (user, day) group reduces to an
    ORDERED journey string (listagg WITHIN GROUP — deterministic via
    the (ts, event_id) sort key) and the conversion pattern
    view -> ... -> click -> ... -> purchase is one anchored-subsequence
    regex over it. One shuffle on the group key; the journey length is
    bounded by events-per-user-per-day, so groups stay small at any
    corpus scale (the same argument as w10's sessionize). Engines
    without MATCH_RECOGNIZE express exactly this shape."""
    ev = t(spark, sf_dir, "events")
    j = ev.groupBy(
        "user_id", F.to_date("ts").cast("string").alias("day")
    ).agg(
        F.expr(
            "listagg(event_type, ',') WITHIN GROUP (ORDER BY ts, event_id)"
        ).alias("journey")
    )
    return j.select(
        "user_id",
        "day",
        "journey",
        F.col("journey").rlike("view.*click.*purchase").alias("converted"),
    ).orderBy("user_id", "day")


W20_SQL = """
WITH j AS (
  SELECT user_id, CAST(CAST(ts AS DATE) AS STRING) AS day,
         string_agg(event_type, ',' ORDER BY ts, event_id) AS journey
  FROM events
  GROUP BY user_id, CAST(CAST(ts AS DATE) AS STRING)
)
SELECT user_id, day, journey,
       regexp_matches(journey, 'view.*click.*purchase') AS converted
FROM j
ORDER BY user_id, day
"""


# --- A27: declarative data-quality constraint audit --------------------------

def a27_constraint_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deequ-style constraint audit over the orders table, shaped for
    one-pass scanning at 100 TB: every row-local constraint
    (completeness, value range, set membership) is a conditional-sum
    column in a SINGLE aggregate — one scan, map-side combined, no
    shuffle beyond the final 1-row reduce; the two non-row-local
    constraints cost their minimum possible plans (primary-key
    uniqueness = one groupBy(key) counting keys seen twice;
    referential integrity = one broadcast anti-join against the
    customer keys). Output is one row per constraint with its
    violation count and pass flag — the audit a pipeline gates a
    partition-publish on."""
    o = t(spark, sf_dir, "orders")
    c = t(spark, sf_dir, "customer")
    row_local = o.agg(
        F.count(F.lit(1)).alias("n_rows"),
        F.sum(F.col("o_custkey").isNull().cast("long")).alias(
            "null_custkey"
        ),
        F.sum((F.col("o_totalprice") <= 0).cast("long")).alias(
            "nonpositive_price"
        ),
        F.sum(
            (~F.col("o_orderstatus").isin("O", "F", "P")).cast("long")
        ).alias("bad_status"),
    )
    dup_keys = (
        o.groupBy("o_orderkey")
        .agg(F.count(F.lit(1)).alias("n"))
        .filter(F.col("n") > 1)
        .agg(F.coalesce(F.sum("n"), F.lit(0)).alias("v"))
    )
    # nulls are the completeness check's finding, not an orphan —
    # filter them so each defect is counted by exactly one constraint
    orphans = (
        o.filter(F.col("o_custkey").isNotNull())
        .join(
            F.broadcast(c.select(F.col("c_custkey").alias("o_custkey"))),
            "o_custkey",
            "left_anti",
        )
        .agg(F.count(F.lit(1)).alias("v"))
    )
    # fully declarative: the 1-row aggregates unpivot via stack() and
    # union — no collect, the whole audit is one lazy plan
    checks = (
        row_local.selectExpr(
            "stack(3,"
            " 'completeness:o_custkey', null_custkey,"
            " 'range:o_totalprice>0', nonpositive_price,"
            " 'membership:o_orderstatus', bad_status"
            ") AS (check_name, n_violations)"
        )
        .unionByName(
            dup_keys.select(
                F.lit("unique:o_orderkey").alias("check_name"),
                F.col("v").alias("n_violations"),
            )
        )
        .unionByName(
            orphans.select(
                F.lit("ref:o_custkey->customer").alias("check_name"),
                F.col("v").alias("n_violations"),
            )
        )
    )
    return checks.select(
        "check_name",
        "n_violations",
        (F.col("n_violations") == 0).alias("passed"),
    ).orderBy("check_name")


A27_SQL = """
WITH rl AS (
  SELECT
    CAST(sum(CASE WHEN o_custkey IS NULL THEN 1 ELSE 0 END) AS BIGINT)
      AS null_custkey,
    CAST(sum(CASE WHEN o_totalprice <= 0 THEN 1 ELSE 0 END) AS BIGINT)
      AS nonpositive_price,
    CAST(sum(CASE WHEN o_orderstatus NOT IN ('O', 'F', 'P')
             THEN 1 ELSE 0 END) AS BIGINT) AS bad_status
  FROM orders
), dup AS (
  SELECT CAST(coalesce(sum(n), 0) AS BIGINT) AS v FROM (
    SELECT o_orderkey, count(*) AS n FROM orders
    GROUP BY o_orderkey HAVING count(*) > 1
  ) d
), orph AS (
  SELECT count(*) AS v FROM orders o
  WHERE o.o_custkey IS NOT NULL
    AND NOT EXISTS (SELECT 1 FROM customer c
                    WHERE c.c_custkey = o.o_custkey)
), checks AS (
  SELECT 'completeness:o_custkey' AS check_name,
         null_custkey AS n_violations FROM rl
  UNION ALL
  SELECT 'range:o_totalprice>0', nonpositive_price FROM rl
  UNION ALL
  SELECT 'membership:o_orderstatus', bad_status FROM rl
  UNION ALL
  SELECT 'unique:o_orderkey', v FROM dup
  UNION ALL
  SELECT 'ref:o_custkey->customer', v FROM orph
)
SELECT check_name, n_violations, n_violations = 0 AS passed
FROM checks
ORDER BY check_name
"""


# --- J9: SCD2 dimension build + temporal fact join ---------------------------

def j9_scd2_dimension(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Type-2 slowly-changing dimension, end to end: the click stream
    is a user-attribute change log (each click re-tiers the user by its
    value), compressed to TRUE SCD2 versions — consecutive same-tier
    rows coalesce via a lag() change flag, then valid_to = lead(
    valid_from) with NULL marking the current version. Purchases then
    join to the version VALID AT purchase time (valid_from <= ts <
    valid_to; pre-first-click purchases keep tier 'none' through the
    left join). Scale shape: both sides shuffle once on user_id
    (co-partitioned equi-join); the range predicate is a post-join
    filter over per-user version counts, never a cross product — the
    same bounded fan-out as j6's as-of join, but with the dimension
    build included."""
    ev = t(spark, sf_dir, "events")
    clicks = ev.filter(F.col("event_type") == "click").select(
        "user_id",
        "ts",
        F.when(F.col("value") < 5, "low")
        .when(F.col("value") < 15, "mid")
        .otherwise("high")
        .alias("tier"),
    )
    w = Window.partitionBy("user_id").orderBy("ts")
    changed = clicks.withColumn(
        "is_change",
        F.coalesce(F.lag("tier").over(w) != F.col("tier"), F.lit(True)),
    ).filter("is_change")
    versions = changed.select(
        "user_id",
        "tier",
        F.col("ts").alias("valid_from"),
        F.lead("ts").over(w).alias("valid_to"),
    )
    purchases = ev.filter(F.col("event_type") == "purchase").select(
        "user_id", "ts", "value"
    )
    # explicit aliases: purchases and versions share the events lineage
    # (a self-join), so columns must be qualified per side
    p, v = purchases.alias("p"), versions.alias("v")
    joined = p.join(
        v,
        (F.col("p.user_id") == F.col("v.user_id"))
        & (F.col("p.ts") >= F.col("v.valid_from"))
        & (
            F.col("v.valid_to").isNull()
            | (F.col("p.ts") < F.col("v.valid_to"))
        ),
        "left",
    ).select(
        F.col("p.user_id").alias("user_id"),
        F.coalesce(F.col("v.tier"), F.lit("none")).alias("tier"),
        F.col("p.value").alias("value"),
    )
    return (
        joined.groupBy("tier")
        .agg(
            F.count(F.lit(1)).alias("n_purchases"),
            F.count_distinct("user_id").alias("n_users"),
            F.round(F.sum("value"), 2).alias("revenue"),
        )
        .orderBy("tier")
    )


J9_SQL = """
WITH clicks AS (
  SELECT user_id, ts,
         CASE WHEN value < 5 THEN 'low'
              WHEN value < 15 THEN 'mid'
              ELSE 'high' END AS tier
  FROM events WHERE event_type = 'click'
), changed AS (
  SELECT user_id, ts, tier
  FROM (
    SELECT user_id, ts, tier,
           coalesce(lag(tier) OVER w <> tier, TRUE) AS is_change
    FROM clicks
    WINDOW w AS (PARTITION BY user_id ORDER BY ts)
  ) c WHERE is_change
), versions AS (
  SELECT user_id, tier, ts AS valid_from,
         lead(ts) OVER (PARTITION BY user_id ORDER BY ts) AS valid_to
  FROM changed
), joined AS (
  SELECT p.user_id, coalesce(v.tier, 'none') AS tier, p.value
  FROM (SELECT user_id, ts, value FROM events
        WHERE event_type = 'purchase') p
  LEFT JOIN versions v
    ON p.user_id = v.user_id
   AND p.ts >= v.valid_from
   AND (v.valid_to IS NULL OR p.ts < v.valid_to)
)
SELECT tier, count(*) AS n_purchases,
       count(DISTINCT user_id) AS n_users,
       round(sum(value), 2) AS revenue
FROM joined
GROUP BY tier
ORDER BY tier
"""


EXTRA_QUERIES: list[QuerySpec] = [
    QuerySpec("a21_grouping_sets", a21_grouping_sets, A21_SQL,
              "A21 explicit GROUPING SETS: one Expand pass, "
              "grouping_id disambiguation"),
    QuerySpec("a22_approx_distinct", a22_approx_distinct, A22_SQL,
              "A22 HLL++ distinct-count accuracy contract vs exact "
              "(map-side-combinable sketch state)"),
    QuerySpec("a23_approx_median", a23_approx_median, A23_SQL,
              "A23 Greenwald-Khanna approximate median accuracy "
              "contract vs exact interpolated percentile"),
    QuerySpec("a24_sketch_rollup", a24_sketch_rollup, A24_SQL,
              "A24 re-aggregatable DataSketches HLL daily rollup: "
              "merge sketches instead of rescanning facts"),
    QuerySpec("w23_seasonal_anomalies", w23_seasonal_anomalies, W23_SQL,
              "W23 hour-of-day seasonal profile + deseasonalized "
              "z-score anomalies on the held-out half"),
    QuerySpec("w22_cusum", w22_cusum, W22_SQL,
              "W22 CUSUM changepoint: recurrence closed-formed as "
              "running-sum minus running-min, per-user alarms"),
    QuerySpec("w24_changepoint", w24_changepoint, W24_SQL,
              "W24 mean-shift changepoint location: standardized "
              "two-sample stat from prefix sums, O(n) per series"),
    QuerySpec("w27_seasonal_backtest", w27_seasonal_backtest, W27_SQL,
              "W27 seasonal-naive backtest: per-user MAE + MASE "
              "(Hyndman-Koehler) over the (ts, event_id)-ordered "
              "series, one window + one hash aggregate"),
    QuerySpec("w26_stl_decompose", w26_stl_decompose, W26_SQL,
              "W26 STL-lite decomposition: centered-rolling trend, "
              "re-centered per-phase seasonal, Hyndman component "
              "strengths per series"),
    QuerySpec("w25_binary_segmentation", w25_binary_segmentation,
              W25_SQL,
              "W25 recursive binary segmentation: 3 unrolled levels "
              "re-splitting halves from carried prefix-sum bounds, "
              "min-segment guard, up to 7 changepoints per series"),
    QuerySpec("a30_audience_overlap", a30_audience_overlap, A30_SQL,
              "A30 audience overlap: HLL inclusion-exclusion over "
              "per-type sketches vs exact, union-relative contract"),
    QuerySpec("m17_psi_drift", m17_psi_drift, M17_SQL,
              "M17 PSI drift monitor: reference-window decile bins, "
              "Laplace-smoothed shares, per-type PSI + flag"),
    QuerySpec("g1_triangle_count", g1_triangle_count, G1_SQL,
              "G1 triangle counting: oriented wedge join + existence "
              "semi-join, per-node 3-role participation"),
    QuerySpec("m16_kfold_threshold", m16_kfold_threshold, M16_SQL,
              "M16 k-fold cross-validated mean+2std threshold: "
              "leakage-safe user folds, per-fold held-out flag rate"),
    QuerySpec("a29_market_basket", a29_market_basket, A29_SQL,
              "A29 market-basket lift: distinct-basket self-join + "
              "integer co-occurrence counts, top-20 total order"),
    QuerySpec("w21_rolling_slope", w21_rolling_slope, W21_SQL,
              "W21 trailing-20 least-squares slope: four window "
              "moments over one frame, integer x exact"),
    QuerySpec("o14_equal_freq_binning", o14_equal_freq_binning, O14_SQL,
              "O14 quantile-discretizer binning: decile edges from one "
              "percentile aggregate, branchless crossing assignment"),
    QuerySpec("a28_ab_test", a28_ab_test, A28_SQL,
              "A28 A/B experiment readout: md5-hash arms + per-type "
              "Welch t statistic, one combinable aggregate"),
    QuerySpec("w20_event_pattern", w20_event_pattern, W20_SQL,
              "W20 MATCH_RECOGNIZE-lite: ordered journey strings + "
              "subsequence-regex conversion flags"),
    QuerySpec("a27_constraint_audit", a27_constraint_audit, A27_SQL,
              "A27 Deequ-style constraint audit: row-local checks in "
              "one scan + min-plan uniqueness/referential checks"),
    QuerySpec("a26_sliding_distinct", a26_sliding_distinct, A26_SQL,
              "A26 trailing-hour sliding distinct: windowed HLL "
              "sketch union vs exact, accuracy-contract oracle"),
    QuerySpec("a25_partition_checksums", a25_partition_checksums, A25_SQL,
              "A25 order-insensitive md5/bit_xor partition checksums "
              "with a real repartitioned-replica audit"),
    QuerySpec("j9_scd2_dimension", j9_scd2_dimension, J9_SQL,
              "J9 SCD2 dimension build (lag change-coalesce + lead "
              "validity) + temporal fact join at validity time"),
    QuerySpec("w19_range_frame", w19_range_frame, W19_SQL,
              "W19 trailing-hour RANGE frame + deterministic "
              "ROWS-frame positional functions"),
    QuerySpec("j8_view_click_pairs", j8_view_click_pairs, J8_SQL,
              "J8 view->click attribution interval join, batch twin "
              "of the stream-stream watermarked join"),
    QuerySpec("o12_decile_report", o12_decile_report, O12_SQL,
              "O12 ntile/percent_rank decile report per language"),
    QuerySpec("a18_table_profile", a18_table_profile, A18_SQL,
              "A18 ANALYZE-style column profile (nulls, cardinality, "
              "range) long-form"),
    QuerySpec("a19_mad_threshold", a19_mad_threshold, A19_SQL,
              "A19 MAD robust threshold: median + 3*1.4826*MAD with "
              "exceed counts (robust twin of A3)"),
    QuerySpec("o13_shuffle_shards", o13_shuffle_shards, O13_SQL,
              "O13 deterministic md5-permutation global shuffle + "
              "round-robin shard deal audit"),
    QuerySpec("w16_sliding_windows", w16_sliding_windows, W16_SQL,
              "sliding event-time windows (1h every 30min) via "
              "F.window, epoch-compared"),
    QuerySpec("o9_heavy_keys", o9_heavy_keys, O9_SQL,
              "heavy-key skew diagnosis: top-10 keys with share and "
              "skew factor"),
    QuerySpec("p13_zorder_key", p13_zorder_key, _p13_sql(),
              "Morton/Z-order clustering key: 2x8-bit interleave of "
              "user and value buckets"),
    QuerySpec("o3_loss_ranking", o3_loss_ranking, O3_SQL,
              "O3 metric ranking sort (logger.py:35)"),
    QuerySpec("w4_last_timestep", w4_last_timestep, W4_SQL,
              "W4 last timestep of each window (baseline.py:132-145)"),
    QuerySpec("a6_summary_stats", a6_summary_stats, A6_SQL,
              "A6 describe()-style summary statistics (baseline.py:268)"),
    QuerySpec("a12_approx_aggregates", a12_approx_aggregates, A12_SQL,
              "HLL distinct + GK median under accuracy contracts "
              "(exact values hashed, bound flags pinned TRUE)"),
    QuerySpec("a13_exact_distinct_quantiles", a13_exact_distinct_quantiles,
              A13_SQL, "exact distinct + median (the oracle-checkable half "
              "of a12)"),
    QuerySpec("p12_pivot", p12_pivot, P12_SQL,
              "P12 pivot/wide reshape with explicit value list"),
    QuerySpec("a14_cohort_retention", a14_cohort_retention, A14_SQL,
              "A14 cohort retention: first-activity week x week-offset "
              "distinct users"),
    QuerySpec("o7_funnel", o7_funnel, O7_SQL,
              "O7 ordered conversion funnel (signup -> later purchase)"),
    QuerySpec("j7_interval_overlap", j7_interval_overlap, J7_SQL,
              "J7 interval overlap join via bin bucketing "
              "(first-shared-bin dedup)"),
    QuerySpec("m14_calibration", m14_calibration, M14_SQL,
              "M14 calibration/reliability bins (mean predicted vs "
              "observed rate)"),
    QuerySpec("a15_histogram", a15_histogram, A15_SQL,
              "A15 equi-width histogram, data-driven range via "
              "broadcast min/max"),
    QuerySpec("o6_stratified_sample", o6_stratified_sample, O6_SQL,
              "O6 deterministic hash-based stratified sampling "
              "(per-language mixture quotas)"),
]
