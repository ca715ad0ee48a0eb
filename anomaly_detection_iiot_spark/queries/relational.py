"""Oracle-checked relational queries (SURVEY §2.5 O*, §2.6 J*, §2.7
M12/M13) over the TPC-H-ish corpus + events.

Scale notes: every dim-fact join broadcasts the dim side explicitly;
top-k uses row_number with unique tie-breakers (deterministic across
engines); the AUC sweep is the single-sort cumulative form.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from ..operators import metrics
from .base import QuerySpec, t


# --- Q1: pricing summary (TPC-H Q1 shape) ----------------------------------

def q1_pricing_summary(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = t(spark, sf_dir, "lineitem")
    return (
        li.filter(F.col("l_shipdate") <= F.lit("1998-09-02").cast("timestamp"))
        .groupBy("l_returnflag", "l_linestatus")
        .agg(
            F.round(F.sum("l_quantity"), 2).alias("sum_qty"),
            F.round(F.sum("l_extendedprice"), 2).alias("sum_base_price"),
            F.round(
                F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))), 2
            ).alias("sum_disc_price"),
            F.round(
                F.sum(
                    F.col("l_extendedprice")
                    * (1 - F.col("l_discount"))
                    * (1 + F.col("l_tax"))
                ),
                2,
            ).alias("sum_charge"),
            F.round(F.avg("l_quantity"), 6).alias("avg_qty"),
            F.round(F.avg("l_extendedprice"), 6).alias("avg_price"),
            F.round(F.avg("l_discount"), 6).alias("avg_disc"),
            F.count(F.lit(1)).alias("count_order"),
        )
    )


Q1_SQL = """
SELECT l_returnflag, l_linestatus,
       round(sum(l_quantity), 2) AS sum_qty,
       round(sum(l_extendedprice), 2) AS sum_base_price,
       round(sum(l_extendedprice * (1 - l_discount)), 2) AS sum_disc_price,
       round(sum(l_extendedprice * (1 - l_discount) * (1 + l_tax)), 2) AS sum_charge,
       round(avg(l_quantity), 6) AS avg_qty,
       round(avg(l_extendedprice), 6) AS avg_price,
       round(avg(l_discount), 6) AS avg_disc,
       count(*) AS count_order
FROM lineitem
WHERE l_shipdate <= TIMESTAMP '1998-09-02 00:00:00'
GROUP BY l_returnflag, l_linestatus
"""


# --- Q3-shape: top shipping priority ---------------------------------------

def q3_top_revenue_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    cust = t(spark, sf_dir, "customer").filter(F.col("c_mktsegment") == "BUILDING")
    orders = t(spark, sf_dir, "orders")
    li = t(spark, sf_dir, "lineitem")
    joined = (
        li.join(orders, li.l_orderkey == orders.o_orderkey)
        .join(F.broadcast(cust), orders.o_custkey == cust.c_custkey)
    )
    rev = joined.groupBy("o_orderkey", "o_orderdate", "o_orderpriority").agg(
        F.round(
            F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))), 2
        ).alias("revenue")
    )
    w = Window.orderBy(F.desc("revenue"), F.asc("o_orderkey"))
    return (
        rev.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= 10)
        .select("o_orderkey", "o_orderdate", "o_orderpriority", "revenue", "rank")
    )


Q3_SQL = """
WITH rev AS (
  SELECT o_orderkey, o_orderdate, o_orderpriority,
         round(sum(l_extendedprice * (1 - l_discount)), 2) AS revenue
  FROM lineitem
  JOIN orders ON l_orderkey = o_orderkey
  JOIN customer ON o_custkey = c_custkey
  WHERE c_mktsegment = 'BUILDING'
  GROUP BY o_orderkey, o_orderdate, o_orderpriority
)
SELECT o_orderkey, o_orderdate, o_orderpriority, revenue,
       CAST(rank AS INTEGER) AS rank
FROM (
  SELECT *, row_number() OVER (ORDER BY revenue DESC, o_orderkey) AS rank
  FROM rev
)
WHERE rank <= 10
"""


# --- Q5-shape: revenue by nation via broadcast dims ------------------------

def j5_broadcast_dims(spark: SparkSession, sf_dir: str) -> DataFrame:
    region = t(spark, sf_dir, "region").filter(F.col("r_name") == "ASIA")
    nation = t(spark, sf_dir, "nation")
    cust = t(spark, sf_dir, "customer")
    orders = t(spark, sf_dir, "orders")
    li = t(spark, sf_dir, "lineitem")
    dims = nation.join(
        F.broadcast(region), nation.n_regionkey == region.r_regionkey
    ).select("n_nationkey", "n_name")
    joined = (
        li.join(orders, li.l_orderkey == orders.o_orderkey)
        .join(cust, orders.o_custkey == cust.c_custkey)
        .join(F.broadcast(dims), cust.c_nationkey == dims.n_nationkey)
    )
    return joined.groupBy("n_name").agg(
        F.round(
            F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))), 2
        ).alias("revenue"),
        F.count(F.lit(1)).alias("n_lineitems"),
    )


J5_SQL = """
SELECT n_name,
       round(sum(l_extendedprice * (1 - l_discount)), 2) AS revenue,
       count(*) AS n_lineitems
FROM lineitem
JOIN orders ON l_orderkey = o_orderkey
JOIN customer ON o_custkey = c_custkey
JOIN nation ON c_nationkey = n_nationkey
JOIN region ON n_regionkey = r_regionkey
WHERE r_name = 'ASIA'
GROUP BY n_name
"""


# --- J1 / J2: semi / anti joins --------------------------------------------

def j1_semi_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    cust = t(spark, sf_dir, "customer")
    orders = t(spark, sf_dir, "orders")
    return cust.join(
        orders, cust.c_custkey == orders.o_custkey, "left_semi"
    ).select("c_custkey", "c_name")


J1_SQL = """
SELECT c_custkey, c_name FROM customer
WHERE EXISTS (SELECT 1 FROM orders WHERE o_custkey = c_custkey)
"""


def j2_anti_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    cust = t(spark, sf_dir, "customer")
    urgent = t(spark, sf_dir, "orders").filter(
        F.col("o_orderpriority") == "1-URGENT"
    )
    return cust.join(
        urgent, cust.c_custkey == urgent.o_custkey, "left_anti"
    ).select("c_custkey", "c_name", "c_acctbal")


J2_SQL = """
SELECT c_custkey, c_name, c_acctbal FROM customer
WHERE NOT EXISTS (SELECT 1 FROM orders
                  WHERE o_custkey = c_custkey
                    AND o_orderpriority = '1-URGENT')
"""


# --- J3: union with provenance tag -----------------------------------------

def j3_union_tagged(spark: SparkSession, sf_dir: str) -> DataFrame:
    cust = t(spark, sf_dir, "customer").select(
        F.col("c_name").alias("name"),
        F.col("c_acctbal").alias("acctbal"),
        F.lit("customer").alias("kind"),
    )
    supp = t(spark, sf_dir, "supplier").select(
        F.col("s_name").alias("name"),
        F.col("s_acctbal").alias("acctbal"),
        F.lit("supplier").alias("kind"),
    )
    return cust.unionByName(supp)


J3_SQL = """
SELECT c_name AS name, c_acctbal AS acctbal, 'customer' AS kind FROM customer
UNION ALL
SELECT s_name, s_acctbal, 'supplier' FROM supplier
"""


# --- J4: range/interval join -----------------------------------------------

def j4_range_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = t(spark, sf_dir, "events")
    # VALUES literal, not createDataFrame: a Python-RDD-backed frame would
    # drag Python workers into an otherwise all-JVM plan.
    buckets = spark.sql(
        "SELECT * FROM VALUES (0, 0.0D, 25.0D), (1, 25.0D, 50.0D), "
        "(2, 50.0D, 75.0D), (3, 75.0D, 1e9D) AS t(bucket_id, lo, hi)"
    )
    joined = ev.join(
        F.broadcast(buckets),
        (ev.value >= buckets.lo) & (ev.value < buckets.hi),
    )
    return joined.groupBy("bucket_id").agg(
        F.count(F.lit(1)).alias("n_events"),
        F.round(F.avg("value"), 6).alias("avg_value"),
    )


J4_SQL = """
WITH buckets(bucket_id, lo, hi) AS (
  VALUES (0, 0.0, 25.0), (1, 25.0, 50.0), (2, 50.0, 75.0), (3, 75.0, 1e9)
)
SELECT bucket_id, count(*) AS n_events, round(avg(value), 6) AS avg_value
FROM events JOIN buckets ON value >= lo AND value < hi
GROUP BY bucket_id
"""


# --- J6: as-of join ---------------------------------------------------------

def j6_asof_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.joins import asof_join

    ev = t(spark, sf_dir, "events")
    probe = ev.filter(F.col("event_type") == "signup").select(
        "user_id", F.col("event_id").alias("signup_id"), F.col("ts").alias("signup_ts")
    )
    build = ev.filter(F.col("event_type") == "purchase").select(
        "user_id",
        F.col("ts").alias("purchase_ts"),
        F.col("value").alias("purchase_value"),
    )
    out = asof_join(
        probe,
        build,
        on="user_id",
        probe_ts="signup_ts",
        build_ts="purchase_ts",
        value_cols=["purchase_value"],
    )
    return out.select("user_id", "signup_id", "purchase_value")


J6_SQL = """
WITH u AS (
  SELECT user_id, ts, 1 AS is_probe, event_id,
         CAST(NULL AS DOUBLE) AS pv
  FROM events WHERE event_type = 'signup'
  UNION ALL
  SELECT user_id, ts, 0 AS is_probe, CAST(NULL AS BIGINT) AS event_id,
         value AS pv
  FROM events WHERE event_type = 'purchase'
), filled AS (
  SELECT user_id, is_probe, event_id,
         last_value(pv IGNORE NULLS) OVER (
           PARTITION BY user_id ORDER BY ts, is_probe
           ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
           AS purchase_value
  FROM u
)
SELECT user_id, event_id AS signup_id, purchase_value
FROM filled WHERE is_probe = 1
"""


# --- J10: as-of join with staleness tolerance (feature-store lookup) ---------

def j10_asof_tolerance(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The feature-store read: each signup looks up the user's latest
    purchase value AT OR BEFORE signup time, but only if it is FRESH
    (within 3 days) — stale features surface as NULL + is_fresh=false
    rather than silently training on outdated state. Same union-sort
    as-of shape as j6 (one key shuffle, linear in n+m); the tolerance
    is a post-fill predicate on the carried build timestamp, so it
    adds zero join cost."""
    from ..operators.joins import asof_join

    ev = t(spark, sf_dir, "events")
    probe = ev.filter(F.col("event_type") == "signup").select(
        "user_id",
        F.col("event_id").alias("signup_id"),
        F.col("ts").alias("signup_ts"),
    )
    build = ev.filter(F.col("event_type") == "purchase").select(
        "user_id",
        F.col("ts").alias("purchase_ts"),
        F.col("value").alias("purchase_value"),
    )
    out = asof_join(
        probe,
        build,
        on="user_id",
        probe_ts="signup_ts",
        build_ts="purchase_ts",
        value_cols=["purchase_value", "purchase_ts"],
    )
    # exact integer micros on both engines (epoch_us); integer-second
    # truncation could flip rows within 1 s of the 3-day boundary
    fresh = F.col("purchase_ts").isNotNull() & (
        F.unix_micros("signup_ts") - F.unix_micros("purchase_ts")
        <= 3 * 86400 * 1_000_000
    )
    return out.select(
        "user_id",
        "signup_id",
        F.when(fresh, F.col("purchase_value")).alias("fresh_value"),
        F.coalesce(fresh, F.lit(False)).alias("is_fresh"),
    )


J10_SQL = """
WITH u AS (
  SELECT user_id, ts, 1 AS is_probe, event_id,
         CAST(NULL AS DOUBLE) AS pv, CAST(NULL AS TIMESTAMP) AS pts
  FROM events WHERE event_type = 'signup'
  UNION ALL
  SELECT user_id, ts, 0 AS is_probe, CAST(NULL AS BIGINT) AS event_id,
         value AS pv, ts AS pts
  FROM events WHERE event_type = 'purchase'
), filled AS (
  SELECT user_id, ts, is_probe, event_id,
         last_value(pv IGNORE NULLS) OVER (
           PARTITION BY user_id ORDER BY ts, is_probe
           ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
           AS purchase_value,
         last_value(pts IGNORE NULLS) OVER (
           PARTITION BY user_id ORDER BY ts, is_probe
           ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
           AS purchase_ts
  FROM u
)
SELECT user_id, event_id AS signup_id,
       CASE WHEN purchase_ts IS NOT NULL
             AND epoch_us(ts) - epoch_us(purchase_ts) <= 259200000000
            THEN purchase_value END AS fresh_value,
       coalesce(purchase_ts IS NOT NULL
                AND epoch_us(ts) - epoch_us(purchase_ts) <= 259200000000,
                FALSE) AS is_fresh
FROM filled WHERE is_probe = 1
"""


# --- O1: global time sort (rank materialized) ------------------------------

def o1_time_sort(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Materialized global time ordering via the o13 two-phase bucketed
    rank, not ``row_number() OVER (ORDER BY ts)`` with no partition key
    and no rank filter — Spark plans that as ONE window task holding
    the whole table (top-k windows get WindowGroupLimit; an unfiltered
    global rank does not).
    Here the rank is assembled from ordered time buckets instead:
    ``date_trunc('hour', ts)`` is monotone in ts, so bucket order IS
    time order; per-bucket counts (|distinct hours| rows — calendar-
    sized, never corpus-sized) roll into cumulative offsets through
    the only single-partition window, broadcast back, and the global
    rank is offset + per-bucket row_number — the expensive window runs
    |buckets|-way parallel, the same plan a range-partitioned total
    sort picks, with no single-task funnel. Granularity is a knob: an
    archive spanning years at hour-grain is ~10^4 buckets (fine); a
    single hot day would drop to minute-grain."""
    ev = t(spark, sf_dir, "events").select("event_id", "ts")
    keyed = ev.withColumn("bucket", F.date_trunc("hour", F.col("ts")))
    counts = keyed.groupBy("bucket").agg(F.count(F.lit(1)).alias("n"))
    # |buckets|-row running sum: the only unpartitioned window, sized
    # to the calendar, never to the data (o13_shuffle_shards pattern).
    w_off = Window.orderBy("bucket").rowsBetween(
        Window.unboundedPreceding, -1
    )
    offsets = counts.select(
        "bucket",
        F.coalesce(F.sum("n").over(w_off), F.lit(0)).alias("offset"),
    )
    w_in = Window.partitionBy("bucket").orderBy("ts", "event_id")
    return keyed.join(F.broadcast(offsets), "bucket").select(
        "event_id",
        (F.col("offset") + F.row_number().over(w_in))
        .cast("bigint")
        .alias("time_rank"),
    )


O1_SQL = """
SELECT event_id,
       CAST(row_number() OVER (ORDER BY ts, event_id) AS BIGINT) AS time_rank
FROM events
"""


# --- O2: quantile grid (threshold sweep domain) ----------------------------

def o2_threshold_grid(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Threshold-sweep domain from ``percentile_approx`` (Greenwald-
    Khanna, accuracy=10000) under a RANK-VALIDATION contract, not the
    exact ``percentile``, whose aggregation buffer holds EVERY value — a single-task memory
    blow-up on a 100 TB column. GK keeps a bounded sketch per
    partition and merges, but its estimates aren't bitwise portable to
    DuckDB, so the hash gate can't carry the raw thresholds. Instead
    the query PROVES each estimate in a second bounded scan: the rank
    fraction count(value <= threshold)/n must sit within eps=0.002 of
    the target quantile (GK guarantees rank error <= 1/accuracy =
    1e-4; value is a continuous double, so ties don't inflate the
    crossing count). The oracle pins every flag TRUE and recomputes n
    exactly — if the sketch ever breaks its rank bound, the flag flips
    and the hash mismatches. Both scans are single-pass, fixed-memory
    aggregates; the 7 scalars collected are the audited k-row
    broadcast-scalar pattern."""
    ev = t(spark, sf_dir, "events").select("value")
    qs = [0.1, 0.25, 0.5, 0.75, 0.9, 0.99]
    est = ev.agg(
        F.percentile_approx(
            "value", F.array(*[F.lit(q) for q in qs]), F.lit(10000)
        ).alias("th"),
        F.count("value").alias("n"),
    ).collect()[0]
    n = int(est["n"])
    checks = ev.agg(
        *[
            (
                F.abs(
                    F.sum((F.col("value") <= F.lit(float(th))).cast("long"))
                    / F.lit(float(n))
                    - F.lit(q)
                )
                <= F.lit(0.002)
            ).alias(f"ok{i}")
            for i, (q, th) in enumerate(zip(qs, est["th"]))
        ]
    )
    pairs = ", ".join(f"'{q}', {n}L, ok{i}" for i, q in enumerate(qs))
    return checks.select(
        F.expr(f"stack({len(qs)}, {pairs}) as (quantile, n, rank_ok)")
    )


O2_SQL = """
SELECT '0.1' AS quantile, (SELECT count(value) FROM events) AS n, TRUE AS rank_ok
UNION ALL SELECT '0.25', (SELECT count(value) FROM events), TRUE
UNION ALL SELECT '0.5', (SELECT count(value) FROM events), TRUE
UNION ALL SELECT '0.75', (SELECT count(value) FROM events), TRUE
UNION ALL SELECT '0.9', (SELECT count(value) FROM events), TRUE
UNION ALL SELECT '0.99', (SELECT count(value) FROM events), TRUE
"""


# --- O4: top-1 per group (argmax) ------------------------------------------

def o4_top1_per_user(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = t(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy(F.desc("value"), F.asc("event_id"))
    return (
        ev.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") == 1)
        .select("user_id", "event_id", "value")
    )


O4_SQL = """
SELECT user_id, event_id, value FROM (
  SELECT user_id, event_id, value,
         row_number() OVER (PARTITION BY user_id ORDER BY value DESC, event_id)
           AS rn
  FROM events
) WHERE rn = 1
"""


# --- O5: head slice per group ----------------------------------------------

def o5_head_slice(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = t(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("event_id")
    return (
        ev.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") <= 5)
        .select("user_id", "event_id", "value")
    )


O5_SQL = """
SELECT user_id, event_id, value FROM (
  SELECT user_id, event_id, value,
         row_number() OVER (PARTITION BY user_id ORDER BY event_id) AS rn
  FROM events
) WHERE rn <= 5
"""


# --- M12: confusion matrix --------------------------------------------------

def m12_confusion(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = t(spark, sf_dir, "events").select(
        (F.col("value") > 70.0).alias("pred"),
        (F.col("event_type") == "error").alias("label"),
    )
    out = metrics.confusion_matrix(ev, "pred", "label")
    return out.select(
        "tp", "fp", "fn", "tn",
        F.round("precision", 6).alias("precision"),
        F.round("recall", 6).alias("recall"),
        F.round("f1", 6).alias("f1"),
    )


M12_SQL = """
WITH flags AS (
  SELECT CASE WHEN value > 70.0 THEN 1 ELSE 0 END AS p,
         CASE WHEN event_type = 'error' THEN 1 ELSE 0 END AS l
  FROM events
), c AS (
  SELECT CAST(sum(p * l) AS BIGINT) AS tp,
         CAST(sum(p * (1 - l)) AS BIGINT) AS fp,
         CAST(sum((1 - p) * l) AS BIGINT) AS fn,
         CAST(sum((1 - p) * (1 - l)) AS BIGINT) AS tn
  FROM flags
)
SELECT tp, fp, fn, tn,
       round(CASE WHEN tp + fp > 0 THEN tp * 1.0 / (tp + fp) ELSE 0 END, 6)
         AS precision,
       round(CASE WHEN tp + fn > 0 THEN tp * 1.0 / (tp + fn) ELSE 0 END, 6)
         AS recall,
       round(CASE WHEN (CASE WHEN tp + fp > 0 THEN tp * 1.0 / (tp + fp) ELSE 0 END)
                     + (CASE WHEN tp + fn > 0 THEN tp * 1.0 / (tp + fn) ELSE 0 END) > 0
             THEN 2 * (CASE WHEN tp + fp > 0 THEN tp * 1.0 / (tp + fp) ELSE 0 END)
                    * (CASE WHEN tp + fn > 0 THEN tp * 1.0 / (tp + fn) ELSE 0 END)
                  / ((CASE WHEN tp + fp > 0 THEN tp * 1.0 / (tp + fp) ELSE 0 END)
                     + (CASE WHEN tp + fn > 0 THEN tp * 1.0 / (tp + fn) ELSE 0 END))
             ELSE 0 END, 6) AS f1
FROM c
"""


# --- M13: single-sort AUC + best-F1 threshold ------------------------------

def m13_auc(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = t(spark, sf_dir, "events").select(
        (F.col("user_id") % 4).cast("bigint").alias("cohort"),
        F.col("value").alias("score"),
        (F.col("event_type") == "error").alias("label"),
    )
    out = metrics.auc(ev, "score", "label", keys=["cohort"])
    return out.select("cohort", F.round("auc_roc", 6).alias("auc_roc"))


M13_AUC_SQL = """
WITH g AS (
  SELECT user_id % 4 AS cohort, value AS s,
         sum(CASE WHEN event_type = 'error' THEN 1 ELSE 0 END) AS pos,
         count(*) AS cnt
  FROM events GROUP BY 1, 2
), ranked AS (
  SELECT cohort, pos, cnt,
         sum(cnt) OVER (PARTITION BY cohort ORDER BY s
                        ROWS UNBOUNDED PRECEDING) - (cnt - 1) / 2.0 AS avg_rank
  FROM g
), agg AS (
  SELECT cohort, sum(pos * avg_rank) AS rs, sum(pos) AS p, sum(cnt) AS n
  FROM ranked GROUP BY cohort
)
SELECT CAST(cohort AS BIGINT) AS cohort,
       round(CASE WHEN p > 0 AND n - p > 0
             THEN (rs - p * (p + 1) / 2.0) / (p * (n - p)) ELSE 0 END, 6)
         AS auc_roc
FROM agg
"""


def m13_best_f1(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = t(spark, sf_dir, "events").select(
        (F.col("user_id") % 4).cast("bigint").alias("cohort"),
        F.col("value").alias("score"),
        (F.col("event_type") == "error").alias("label"),
    )
    out = metrics.best_f1_threshold(ev, "score", "label")
    return out.select("cohort", "threshold", F.round("f1", 6).alias("f1"))


M13_BEST_F1_SQL = """
WITH g AS (
  SELECT user_id % 4 AS cohort, value AS threshold,
         sum(CASE WHEN event_type = 'error' THEN 1 ELSE 0 END) AS pos,
         count(*) AS cnt
  FROM events GROUP BY 1, 2
), swept AS (
  SELECT cohort, threshold,
         sum(pos) OVER (PARTITION BY cohort) AS P,
         sum(cnt) OVER (PARTITION BY cohort) AS N_all,
         sum(pos) OVER (PARTITION BY cohort ORDER BY threshold
                        ROWS UNBOUNDED PRECEDING) AS cum_pos,
         sum(cnt) OVER (PARTITION BY cohort ORDER BY threshold
                        ROWS UNBOUNDED PRECEDING) AS cum_cnt
  FROM g
), pts AS (
  SELECT cohort, threshold,
         (P - cum_pos) AS tp,
         (N_all - cum_cnt) - (P - cum_pos) AS fp,
         P
  FROM swept
), scored AS (
  SELECT cohort, threshold,
         CASE WHEN tp + fp > 0 THEN tp * 1.0 / (tp + fp) ELSE 0 END AS prec,
         CASE WHEN P > 0 THEN tp * 1.0 / P ELSE 0 END AS rec
  FROM pts
), f1s AS (
  SELECT cohort, threshold,
         CASE WHEN prec + rec > 0 THEN 2 * prec * rec / (prec + rec)
              ELSE 0 END AS f1
  FROM scored
)
SELECT CAST(cohort AS BIGINT) AS cohort, threshold, round(f1, 6) AS f1
FROM (
  SELECT *, row_number() OVER (PARTITION BY cohort
                               ORDER BY f1 DESC, threshold) AS rn
  FROM f1s
) WHERE rn = 1
"""


# --- A10/A11: hierarchical aggregates (SURVEY §2.3 note: rollup/cube are
# free in Spark; exposed as first-class engine queries) -----------------------

def a10_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = t(spark, sf_dir, "orders")
    return (
        o.rollup("o_orderstatus", "o_orderpriority")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.round(F.sum("o_totalprice"), 2).alias("total"),
            F.grouping("o_orderstatus").cast("int").alias("g_status"),
            F.grouping("o_orderpriority").cast("int").alias("g_priority"),
        )
    )


A10_SQL = """
SELECT o_orderstatus, o_orderpriority,
       count(*) AS n,
       round(sum(o_totalprice), 2) AS total,
       CAST(grouping(o_orderstatus) AS INT) AS g_status,
       CAST(grouping(o_orderpriority) AS INT) AS g_priority
FROM orders GROUP BY ROLLUP(o_orderstatus, o_orderpriority)
"""


def a11_cube(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = t(spark, sf_dir, "lineitem")
    return (
        li.cube("l_returnflag", "l_linestatus")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.round(F.avg("l_quantity"), 6).alias("avg_qty"),
            F.grouping("l_returnflag").cast("int").alias("g_rf"),
            F.grouping("l_linestatus").cast("int").alias("g_ls"),
        )
    )


A11_SQL = """
SELECT l_returnflag, l_linestatus,
       count(*) AS n,
       round(avg(l_quantity), 6) AS avg_qty,
       CAST(grouping(l_returnflag) AS INT) AS g_rf,
       CAST(grouping(l_linestatus) AS INT) AS g_ls
FROM lineitem GROUP BY CUBE(l_returnflag, l_linestatus)
"""


# --- Q5-shape: local supplier volume (6-table join) --------------------------

def q5_local_supplier_volume(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q5 adapted: revenue by nation where customer and supplier
    share the nation, region-filtered, one order year. Declared as six
    plain inner joins with no hints — the point IS that Catalyst does
    the physical planning: region/nation broadcast (tiny dims),
    customer/supplier broadcast at this SF, the selective region and
    date filters push below every join, and AQE reorders/resizes at
    runtime. The plan this produces on a cluster is the one a hand
    optimizer would write."""
    li = t(spark, sf_dir, "lineitem")
    o = t(spark, sf_dir, "orders").filter(
        (F.col("o_orderdate") >= F.lit("1996-01-01").cast("timestamp"))
        & (F.col("o_orderdate") < F.lit("1997-01-01").cast("timestamp"))
    )
    c = t(spark, sf_dir, "customer")
    s = t(spark, sf_dir, "supplier")
    n = t(spark, sf_dir, "nation")
    r = t(spark, sf_dir, "region").filter(F.col("r_name") == "ASIA")
    return (
        li.join(o, F.col("l_orderkey") == F.col("o_orderkey"))
        .join(c, F.col("o_custkey") == F.col("c_custkey"))
        .join(
            s,
            (F.col("l_suppkey") == F.col("s_suppkey"))
            & (F.col("c_nationkey") == F.col("s_nationkey")),
        )
        .join(n, F.col("s_nationkey") == F.col("n_nationkey"))
        .join(r, F.col("n_regionkey") == F.col("r_regionkey"))
        .groupBy("n_name")
        .agg(
            F.round(
                F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))), 2
            ).alias("revenue"),
            F.count(F.lit(1)).alias("n_items"),
        )
    )


Q5_SQL = """
SELECT n_name,
       round(sum(l_extendedprice * (1 - l_discount)), 2) AS revenue,
       count(*) AS n_items
FROM lineitem
JOIN orders   ON l_orderkey = o_orderkey
JOIN customer ON o_custkey = c_custkey
JOIN supplier ON l_suppkey = s_suppkey AND c_nationkey = s_nationkey
JOIN nation   ON s_nationkey = n_nationkey
JOIN region   ON n_regionkey = r_regionkey
WHERE r_name = 'ASIA'
  AND o_orderdate >= TIMESTAMP '1996-01-01 00:00:00'
  AND o_orderdate < TIMESTAMP '1997-01-01 00:00:00'
GROUP BY n_name
"""


def q21_waiting_suppliers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q21 shape (suppliers who kept orders waiting), adapted to
    this schema: a line is LATE when it ships >90 days after its order
    date (the testdata carries no receipt/commit dates). For finished
    ('F') orders, count per supplier the late lines where ANOTHER
    supplier participated in the order (EXISTS -> left-semi) but no
    OTHER supplier was late on it (NOT EXISTS -> left-anti) — the
    sole-blame semantics of Q21.

    This is the semi/anti stress headline for the relational side: two
    self-joins of lineitem on l_orderkey — the
    fact-fact join AQE must handle — then tiny supplier/nation
    broadcasts. Late-line derivation joins lineitem to orders once and
    is reused for both the blame set and the anti side; the order-date
    filter pushes to the scan; count ordering has the unique s_name
    tie-break so LIMIT is deterministic."""
    li = t(spark, sf_dir, "lineitem").select(
        "l_orderkey", "l_suppkey", "l_shipdate"
    )
    orders = t(spark, sf_dir, "orders").select(
        "o_orderkey", "o_orderstatus", "o_orderdate"
    )
    late = (
        li.join(orders, F.col("l_orderkey") == F.col("o_orderkey"))
        .filter(
            F.col("l_shipdate")
            > F.col("o_orderdate") + F.expr("INTERVAL 90 DAYS")
        )
        .select("l_orderkey", "l_suppkey", "o_orderstatus")
    )
    # NATION_7 pre-filter BEFORE the self-joins:
    # the inner supplier⋈nation join only filters/annotates rows of l1
    # (key equality on l_suppkey, no duplication — s_suppkey unique),
    # so it commutes with the left-semi and left-anti below. Applying
    # it first shrinks the left side of BOTH lineitem self-joins by the
    # nation's supplier share (~1/|nations|) — the left sort+exchange
    # feeding the anti join carries ~25x fewer rows, while the blame
    # sets (semi/anti right sides) still see ALL suppliers, so the
    # result is row-identical to the post-join spelling the oracle uses.
    s = t(spark, sf_dir, "supplier")
    n = t(spark, sf_dir, "nation").filter(F.col("n_name") == "NATION_7")
    sn7 = s.join(
        F.broadcast(n), F.col("s_nationkey") == F.col("n_nationkey")
    ).select("s_suppkey", "s_name")
    l1 = (
        late.filter(F.col("o_orderstatus") == "F")
        .select("l_orderkey", "l_suppkey")
        .join(F.broadcast(sn7), F.col("l_suppkey") == F.col("s_suppkey"))
    )
    # The self-join inequalities reference s_suppkey (the SUPPLIER-side
    # copy of the key — equal to l_suppkey by the join above) rather
    # than l_suppkey: with a column whose provenance is the inner
    # join's right child, PushLeftSemiLeftAntiThroughJoin cannot push
    # the semi/anti below the nation pre-filter (it requires the
    # condition to resolve against one child alone), so the 25x row
    # cut actually survives optimization — re-spelled with l_suppkey,
    # Catalyst rewrites the plan back to semi/anti-on-full-lineitem
    # (verified: the before/after plans were identical).
    has_other_supplier = l1.alias("a").join(
        li.select("l_orderkey", "l_suppkey").alias("b"),
        (F.col("a.l_orderkey") == F.col("b.l_orderkey"))
        & (F.col("a.s_suppkey") != F.col("b.l_suppkey")),
        "left_semi",
    )
    sole_blame = has_other_supplier.alias("a").join(
        late.select("l_orderkey", "l_suppkey").alias("c"),
        (F.col("a.l_orderkey") == F.col("c.l_orderkey"))
        & (F.col("a.s_suppkey") != F.col("c.l_suppkey")),
        "left_anti",
    )
    return (
        sole_blame.groupBy("s_name")
        .agg(F.count(F.lit(1)).alias("numwait"))
        .orderBy(F.desc("numwait"), "s_name")
        .limit(100)
    )


Q21_SQL = """
WITH late AS (
  SELECT l_orderkey, l_suppkey, o_orderstatus
  FROM lineitem JOIN orders ON l_orderkey = o_orderkey
  WHERE l_shipdate > o_orderdate + INTERVAL 90 DAY
)
SELECT s_name, count(*) AS numwait
FROM late l1
JOIN supplier ON l1.l_suppkey = s_suppkey
JOIN nation ON s_nationkey = n_nationkey
WHERE l1.o_orderstatus = 'F'
  AND n_name = 'NATION_7'
  AND EXISTS (SELECT 1 FROM lineitem l2
              WHERE l2.l_orderkey = l1.l_orderkey
                AND l2.l_suppkey <> l1.l_suppkey)
  AND NOT EXISTS (SELECT 1 FROM late l3
                  WHERE l3.l_orderkey = l1.l_orderkey
                    AND l3.l_suppkey <> l1.l_suppkey)
GROUP BY s_name
ORDER BY numwait DESC, s_name
LIMIT 100
"""


def q17_small_quantity_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q17 adapted (this schema has no p_container; brand + size
    band stand in): revenue lost to small-quantity line items of a
    part family. The classic correlated scalar subquery —
    ``l_quantity < 0.2 * (SELECT avg(l_quantity) ... same part)`` —
    is written as its decorrelated form: a per-part average aggregate
    joined back to the line items, which is exactly what Catalyst and
    DuckDB both rewrite the subquery into. The filtered part dim
    broadcasts; the avg table is |parts|-sized, so AQE broadcasts it
    too — no corpus-sized shuffle survives."""
    li = t(spark, sf_dir, "lineitem")
    p = t(spark, sf_dir, "part").filter(
        (F.col("p_brand") == "Brand#23") & (F.col("p_size") < 15)
    )
    family = li.join(
        F.broadcast(p.select("p_partkey")),
        F.col("l_partkey") == F.col("p_partkey"),
    )
    avg_qty = family.groupBy("l_partkey").agg(
        (F.avg("l_quantity") * 0.2).alias("qty_cut")
    ).select(F.col("l_partkey").alias("ak"), "qty_cut")
    small = family.join(
        F.broadcast(avg_qty), F.col("l_partkey") == F.col("ak")
    ).filter(F.col("l_quantity") < F.col("qty_cut"))
    return small.agg(
        F.round(F.sum("l_extendedprice") / 7.0, 2).alias("avg_yearly"),
        F.count(F.lit(1)).cast("bigint").alias("n_items"),
    )


Q17_SQL = """
WITH family AS (
  SELECT l_partkey, l_quantity, l_extendedprice
  FROM lineitem JOIN part ON l_partkey = p_partkey
  WHERE p_brand = 'Brand#23' AND p_size < 15
), cut AS (
  SELECT l_partkey AS ak, avg(l_quantity) * 0.2 AS qty_cut
  FROM family GROUP BY 1
)
SELECT round(sum(l_extendedprice) / 7.0, 2) AS avg_yearly,
       CAST(count(*) AS BIGINT) AS n_items
FROM family JOIN cut ON l_partkey = ak
WHERE l_quantity < qty_cut
"""


def q18_large_volume_customers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q18: customers who placed orders totalling more than 300
    units. The HAVING-filtered order aggregate is computed FIRST (one
    |orders|-sized shuffle that shrinks to the few qualifying keys),
    then semi-joins back — orders/customer only pay joins for
    qualifying orderkeys, the planner's build side collapses to the
    tiny qualifying set, and the final per-order quantity sum reuses
    the already-aggregated value instead of re-scanning lineitem."""
    li = t(spark, sf_dir, "lineitem")
    o = t(spark, sf_dir, "orders")
    c = t(spark, sf_dir, "customer")
    big = (
        li.groupBy("l_orderkey")
        .agg(F.sum("l_quantity").alias("sum_qty"))
        .filter(F.col("sum_qty") > 300)
    )
    return (
        o.join(F.broadcast(big), F.col("o_orderkey") == F.col("l_orderkey"))
        .join(c, F.col("o_custkey") == F.col("c_custkey"))
        .select(
            "c_name",
            "c_custkey",
            "o_orderkey",
            F.col("o_orderdate").cast("date").cast("string").alias("o_date"),
            F.round("o_totalprice", 2).alias("o_totalprice"),
            F.round("sum_qty", 2).alias("sum_qty"),
        )
        .orderBy(F.desc("o_totalprice"), F.asc("o_orderkey"))
        .limit(100)
    )


Q18_SQL = """
WITH big AS (
  SELECT l_orderkey, sum(l_quantity) AS sum_qty
  FROM lineitem GROUP BY 1 HAVING sum(l_quantity) > 300
)
SELECT c_name, c_custkey, o_orderkey,
       CAST(CAST(o_orderdate AS DATE) AS STRING) AS o_date,
       round(o_totalprice, 2) AS o_totalprice,
       round(sum_qty, 2) AS sum_qty
FROM orders
JOIN big ON o_orderkey = l_orderkey
JOIN customer ON o_custkey = c_custkey
ORDER BY o_totalprice DESC, o_orderkey
LIMIT 100
"""


def q7_volume_shipping(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q7: revenue shipped between two nations, BOTH directions
    (supplier in A shipping to customer in B and vice versa), by year.
    The interesting planner shape is the disjunctive nation-pair
    predicate over two different dimension lineages: both nation dims
    broadcast, the OR-of-ANDs filter sits above the joins, and the
    year extraction feeds a small (pair x year) aggregate. No hints —
    Catalyst orders the five joins."""
    li = t(spark, sf_dir, "lineitem")
    o = t(spark, sf_dir, "orders")
    c = t(spark, sf_dir, "customer")
    s = t(spark, sf_dir, "supplier")
    n1 = t(spark, sf_dir, "nation").select(
        F.col("n_nationkey").alias("s_nk"), F.col("n_name").alias("supp_nation")
    )
    n2 = t(spark, sf_dir, "nation").select(
        F.col("n_nationkey").alias("c_nk"), F.col("n_name").alias("cust_nation")
    )
    pair = (
        (F.col("supp_nation") == "NATION_3") & (F.col("cust_nation") == "NATION_8")
    ) | (
        (F.col("supp_nation") == "NATION_8") & (F.col("cust_nation") == "NATION_3")
    )
    return (
        li.join(o, F.col("l_orderkey") == F.col("o_orderkey"))
        .join(c, F.col("o_custkey") == F.col("c_custkey"))
        .join(s, F.col("l_suppkey") == F.col("s_suppkey"))
        .join(F.broadcast(n1), F.col("s_nationkey") == F.col("s_nk"))
        .join(F.broadcast(n2), F.col("c_nationkey") == F.col("c_nk"))
        .filter(pair)
        .groupBy(
            "supp_nation",
            "cust_nation",
            F.year("l_shipdate").cast("bigint").alias("l_year"),
        )
        .agg(
            F.round(
                F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))), 2
            ).alias("revenue"),
            F.count(F.lit(1)).alias("n_items"),
        )
    )


Q7_SQL = """
SELECT n1.n_name AS supp_nation, n2.n_name AS cust_nation,
       CAST(year(l_shipdate) AS BIGINT) AS l_year,
       round(sum(l_extendedprice * (1 - l_discount)), 2) AS revenue,
       count(*) AS n_items
FROM lineitem
JOIN orders   ON l_orderkey = o_orderkey
JOIN customer ON o_custkey = c_custkey
JOIN supplier ON l_suppkey = s_suppkey
JOIN nation n1 ON s_nationkey = n1.n_nationkey
JOIN nation n2 ON c_nationkey = n2.n_nationkey
WHERE (n1.n_name = 'NATION_3' AND n2.n_name = 'NATION_8')
   OR (n1.n_name = 'NATION_8' AND n2.n_name = 'NATION_3')
GROUP BY 1, 2, 3
"""


def q2_min_cost_supplier(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q2 shape (minimum-cost supplier), adapted: this schema has
    no partsupp, so the supply relation is derived from lineitem —
    unit cost = l_extendedprice / l_quantity per (part, supplier)
    offer. For small parts (p_size < 10) supplied from EUROPE, return
    the supplier(s) achieving the MINIMUM unit cost across all
    EUROPEAN offers of that part.

    This is the classic CORRELATED SCALAR SUBQUERY —
    ``unit = (SELECT min(unit) ... same part)`` — written in its
    decorrelated form: a per-part min aggregate joined back, which is
    what Catalyst's RewriteCorrelatedScalarSubquery produces from the
    subquery form (the oracle keeps the correlated spelling, so both
    decorrelation paths are exercised against each other). Planner
    shape: part/supplier/nation/region dims all broadcast into the
    lineitem scan, the min-agg table is |parts|-sized so AQE
    broadcasts the join-back too — the fact is scanned once and no
    corpus-sized shuffle survives. fp equality on ``unit`` is safe
    cross-engine: both compute the identical fp64 division and take a
    min over the identical set."""
    li = t(spark, sf_dir, "lineitem").select(
        "l_partkey",
        "l_suppkey",
        (F.col("l_extendedprice") / F.col("l_quantity")).alias("unit"),
    )
    p = t(spark, sf_dir, "part").filter(F.col("p_size") < 10).select(
        "p_partkey", "p_type"
    )
    r = t(spark, sf_dir, "region").filter(F.col("r_name") == "EUROPE")
    n = t(spark, sf_dir, "nation").join(
        F.broadcast(r), F.col("n_regionkey") == F.col("r_regionkey")
    )
    sn = t(spark, sf_dir, "supplier").join(
        F.broadcast(n), F.col("s_nationkey") == F.col("n_nationkey")
    ).select("s_suppkey", "s_name", "s_acctbal", "n_name")
    offers = li.join(
        F.broadcast(p), F.col("l_partkey") == F.col("p_partkey")
    ).join(F.broadcast(sn), F.col("l_suppkey") == F.col("s_suppkey"))
    min_cost = offers.groupBy(F.col("p_partkey").alias("mk")).agg(
        F.min("unit").alias("min_unit")
    )
    return (
        offers.join(F.broadcast(min_cost), F.col("p_partkey") == F.col("mk"))
        .filter(F.col("unit") == F.col("min_unit"))
        .select(
            F.round("s_acctbal", 2).alias("s_acctbal"),
            "s_name",
            "n_name",
            "p_partkey",
            "p_type",
            F.round("unit", 4).alias("unit_cost"),
        )
        .distinct()
        .orderBy(F.desc("s_acctbal"), "n_name", "s_name", "p_partkey")
        .limit(100)
    )


Q2_SQL = """
WITH offers AS (
  SELECT p_partkey, p_type, s_name, s_acctbal, n_name,
         l_extendedprice / l_quantity AS unit
  FROM lineitem
  JOIN part     ON l_partkey = p_partkey
  JOIN supplier ON l_suppkey = s_suppkey
  JOIN nation   ON s_nationkey = n_nationkey
  JOIN region   ON n_regionkey = r_regionkey
  WHERE p_size < 10 AND r_name = 'EUROPE'
)
SELECT DISTINCT round(s_acctbal, 2) AS s_acctbal, s_name, n_name,
       p_partkey, p_type, round(unit, 4) AS unit_cost
FROM offers o
WHERE unit = (SELECT min(unit) FROM offers o2
              WHERE o2.p_partkey = o.p_partkey)
ORDER BY s_acctbal DESC, n_name, s_name, p_partkey
LIMIT 100
"""


def q20_potential_promotion(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q20 shape (potential part promotion), adapted: no
    partsupp/availqty, so 'excess stock' becomes DOMINANT SUPPLIER —
    a supplier qualifies if, for some promoted part (p_name LIKE
    'red%'), their 1996 shipped quantity exceeds half of ALL suppliers'
    1996 shipments of that part. Preserves Q20's double-nested
    semi-join-with-aggregate: suppkey IN (agg over lineitem WHERE
    partkey IN (SELECT ... part)).

    Decorrelated Spark form: the promoted-part dim broadcasts into the
    windowed lineitem scan ONCE; the (supplier, part) and per-part
    half-total aggregates both come off that single filtered frame
    (one shuffle each, both shrink to promoted keys); qualification is
    a broadcast join-back; the final supplier filter is a left-semi
    against the tiny qualifying-supplier set — the planner shape Q20's
    nested INs decorrelate to."""
    p = (
        t(spark, sf_dir, "part")
        .filter(F.col("p_name").like("red%"))
        .select("p_partkey")
    )
    win = (
        t(spark, sf_dir, "lineitem")
        .filter(F.year("l_shipdate") == 1996)
        .join(F.broadcast(p), F.col("l_partkey") == F.col("p_partkey"))
        .select("l_suppkey", "l_partkey", "l_quantity")
    )
    half = win.groupBy(F.col("l_partkey").alias("hk")).agg(
        (F.sum("l_quantity") * 0.5).alias("half_qty")
    )
    qual = (
        win.groupBy("l_suppkey", "l_partkey")
        .agg(F.sum("l_quantity").alias("supp_qty"))
        .join(F.broadcast(half), F.col("l_partkey") == F.col("hk"))
        .filter(F.col("supp_qty") > F.col("half_qty"))
        .select("l_suppkey")
        .distinct()
    )
    s = t(spark, sf_dir, "supplier")
    n = t(spark, sf_dir, "nation")
    return (
        s.join(qual, F.col("s_suppkey") == F.col("l_suppkey"), "left_semi")
        .join(F.broadcast(n), F.col("s_nationkey") == F.col("n_nationkey"))
        .select(
            "s_name",
            "n_name",
            F.round("s_acctbal", 2).alias("s_acctbal"),
        )
        .orderBy("s_name")
    )


Q20_SQL = """
SELECT s_name, n_name, round(s_acctbal, 2) AS s_acctbal
FROM supplier
JOIN nation ON s_nationkey = n_nationkey
WHERE s_suppkey IN (
  SELECT sp.l_suppkey
  FROM (SELECT l_suppkey, l_partkey, sum(l_quantity) AS supp_qty
        FROM lineitem
        WHERE year(l_shipdate) = 1996
          AND l_partkey IN (SELECT p_partkey FROM part
                            WHERE p_name LIKE 'red%')
        GROUP BY 1, 2) sp
  JOIN (SELECT l_partkey, sum(l_quantity) * 0.5 AS half_qty
        FROM lineitem
        WHERE year(l_shipdate) = 1996
          AND l_partkey IN (SELECT p_partkey FROM part
                            WHERE p_name LIKE 'red%')
        GROUP BY 1) tot
  ON sp.l_partkey = tot.l_partkey
  WHERE sp.supp_qty > tot.half_qty)
ORDER BY s_name
"""


def q4_order_priority_check(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q4 shape (order priority checking): orders placed in one
    quarter with AT LEAST ONE late line (ships >90 days after order
    date — the schema's commit/receipt-date substitute, same as q21),
    counted per priority. The EXISTS correlated subquery decorrelates
    to a left-semi join of orders against late lines; the quarter
    filter pushes to the orders scan, and the semi build shrinks to
    the qualifying orderkeys."""
    o = t(spark, sf_dir, "orders").filter(
        (F.col("o_orderdate") >= F.lit("1996-07-01").cast("timestamp"))
        & (F.col("o_orderdate") < F.lit("1996-10-01").cast("timestamp"))
    )
    li = t(spark, sf_dir, "lineitem").select("l_orderkey", "l_shipdate")
    late = o.join(
        li,
        (F.col("l_orderkey") == F.col("o_orderkey"))
        & (
            F.col("l_shipdate")
            > F.col("o_orderdate") + F.expr("INTERVAL 90 DAYS")
        ),
        "left_semi",
    )
    return (
        late.groupBy("o_orderpriority")
        .agg(F.count(F.lit(1)).alias("order_count"))
        .orderBy("o_orderpriority")
    )


Q4_SQL = """
SELECT o_orderpriority, count(*) AS order_count
FROM orders
WHERE o_orderdate >= TIMESTAMP '1996-07-01 00:00:00'
  AND o_orderdate < TIMESTAMP '1996-10-01 00:00:00'
  AND EXISTS (SELECT 1 FROM lineitem
              WHERE l_orderkey = o_orderkey
                AND l_shipdate > o_orderdate + INTERVAL 90 DAY)
GROUP BY o_orderpriority
ORDER BY o_orderpriority
"""


def q12_shipping_priority_classes(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q12 shape (shipping modes / priority classes), adapted:
    no l_shipmode column, so lines group by l_returnflag; per flag,
    count lines of high-priority (1-URGENT/2-HIGH) vs lower-priority
    orders among lines shipping >60 days after order date in 1997.
    The planner shape Q12 exercises: one fact-fact join whose
    conditional aggregation folds the priority dimension into two
    CASE sums — a single shuffle, no pivot."""
    li = t(spark, sf_dir, "lineitem")
    o = t(spark, sf_dir, "orders")
    joined = li.join(o, F.col("l_orderkey") == F.col("o_orderkey")).filter(
        (F.col("l_shipdate") > F.col("o_orderdate") + F.expr("INTERVAL 60 DAYS"))
        & (F.year("l_shipdate") == 1997)
    )
    high = F.col("o_orderpriority").isin("1-URGENT", "2-HIGH").cast("long")
    return (
        joined.groupBy("l_returnflag")
        .agg(
            F.sum(high).alias("high_line_count"),
            F.sum(1 - high).alias("low_line_count"),
        )
        .orderBy("l_returnflag")
    )


Q12_SQL = """
SELECT l_returnflag,
       CAST(sum(CASE WHEN o_orderpriority IN ('1-URGENT', '2-HIGH')
                THEN 1 ELSE 0 END) AS BIGINT) AS high_line_count,
       CAST(sum(CASE WHEN o_orderpriority IN ('1-URGENT', '2-HIGH')
                THEN 0 ELSE 1 END) AS BIGINT) AS low_line_count
FROM lineitem JOIN orders ON l_orderkey = o_orderkey
WHERE l_shipdate > o_orderdate + INTERVAL 60 DAY
  AND year(l_shipdate) = 1997
GROUP BY l_returnflag
ORDER BY l_returnflag
"""


def q22_global_sales_opportunity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q22 shape (global sales opportunity): customers with
    above-average positive balance and no RECENT orders (none since
    1999 — every customer in this testdata has some lifetime order, so
    the spec's 7-year dormancy window becomes a date-filtered anti
    side), counted per nation (the schema's country-code substitute).
    Exercises the last decorrelation pattern the suite lacked: an
    UNCORRELATED scalar avg subquery (broadcast as a one-row frame)
    feeding a filter, composed with a NOT EXISTS anti-join against the
    fact. The avg is over the positive-balance customer subset, per
    the spec."""
    c = t(spark, sf_dir, "customer")
    avg_bal = c.filter(F.col("c_acctbal") > 0.0).agg(
        F.avg("c_acctbal").alias("avg_bal")
    )
    rich = c.crossJoin(F.broadcast(avg_bal)).filter(
        F.col("c_acctbal") > F.col("avg_bal")
    )
    o = (
        t(spark, sf_dir, "orders")
        .filter(F.col("o_orderdate") >= F.lit("1999-01-01").cast("timestamp"))
        .select("o_custkey")
    )
    no_orders = rich.join(
        o, F.col("c_custkey") == F.col("o_custkey"), "left_anti"
    )
    return (
        no_orders.groupBy("c_nationkey")
        .agg(
            F.count(F.lit(1)).alias("numcust"),
            F.round(F.sum("c_acctbal"), 2).alias("totacctbal"),
        )
        .orderBy("c_nationkey")
    )


Q22_SQL = """
SELECT c_nationkey, count(*) AS numcust,
       round(sum(c_acctbal), 2) AS totacctbal
FROM customer
WHERE c_acctbal > (SELECT avg(c_acctbal) FROM customer
                   WHERE c_acctbal > 0.0)
  AND NOT EXISTS (SELECT 1 FROM orders WHERE o_custkey = c_custkey
                  AND o_orderdate >= TIMESTAMP '1999-01-01 00:00:00')
GROUP BY c_nationkey
ORDER BY c_nationkey
"""


# --- M15: probabilistic scoring metrics (log-loss + Brier) -------------------

def m15_logloss(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Log-loss and Brier score per event type — the proper scoring
    rules that complement M12's hard-threshold metrics and M14's
    calibration bins (a model can have good AUC and terrible
    calibration; these two catch it). Deterministic synthetic
    predictions from the event stream (p = sigmoid(value),
    y = value > 0) keep the oracle exact; with real scores the query
    is the same two conditional means. Single scan, single agg."""
    ev = t(spark, sf_dir, "events")
    # standard log-loss clipping: sigmoid saturates to exactly 1.0 in
    # double for |value| > ~37, and ln(0) is an error/-inf — clamp p
    # into [1e-15, 1 - 1e-15] (mirrored in the oracle)
    raw_p = 1.0 / (1.0 + F.exp(-F.col("value")))
    p = F.least(F.greatest(raw_p, F.lit(1e-15)), F.lit(1.0 - 1e-15))
    y = (F.col("value") > 0).cast("double")
    return (
        ev.groupBy("event_type")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.round(
                F.avg(-(y * F.log(p) + (1.0 - y) * F.log(1.0 - p))), 6
            ).alias("log_loss"),
            F.round(F.avg(F.pow(p - y, F.lit(2.0))), 6).alias("brier"),
        )
        .orderBy("event_type")
    )


M15_SQL = """
WITH s AS (
  SELECT event_type,
         least(greatest(1.0 / (1.0 + exp(-value)), 1e-15),
               1.0 - 1e-15) AS p,
         CASE WHEN value > 0 THEN 1.0 ELSE 0.0 END AS y
  FROM events
)
SELECT event_type, count(*) AS n,
       round(avg(-(y * ln(p) + (1.0 - y) * ln(1.0 - p))), 6) AS log_loss,
       round(avg((p - y) * (p - y)), 6) AS brier
FROM s
GROUP BY event_type
ORDER BY event_type
"""


RELATIONAL_QUERIES: list[QuerySpec] = [
    QuerySpec("m15_logloss", m15_logloss, M15_SQL,
              "M15 proper scoring rules: log-loss + Brier per group"),
    QuerySpec("q1_pricing_summary", q1_pricing_summary, Q1_SQL,
              "TPC-H Q1-shape scan+agg (engine headline query)"),
    QuerySpec("q3_top_revenue_orders", q3_top_revenue_orders, Q3_SQL,
              "join + agg + deterministic top-k"),
    QuerySpec("j5_broadcast_dims", j5_broadcast_dims, J5_SQL,
              "J5 star join with broadcast dims (SURVEY §2.6)"),
    QuerySpec("j1_semi_join", j1_semi_join, J1_SQL,
              "J1 set intersection as left-semi (calculations.py:68)"),
    QuerySpec("j2_anti_join", j2_anti_join, J2_SQL,
              "J2 set difference as left-anti (calculations.py:69-71)"),
    QuerySpec("j3_union_tagged", j3_union_tagged, J3_SQL,
              "J3 union/concat with provenance (visualization.py:341-347)"),
    QuerySpec("j4_range_join", j4_range_join, J4_SQL,
              "J4 interval/range join (calculations.py:62-66)"),
    QuerySpec("j6_asof_join", j6_asof_join, J6_SQL,
              "as-of join (generalized W9, searchsorted at scale)"),
    QuerySpec("j10_asof_tolerance", j10_asof_tolerance, J10_SQL,
              "J10 feature-store as-of with staleness tolerance: "
              "stale lookups surface NULL + is_fresh=false"),
    QuerySpec("o1_time_sort", o1_time_sort, O1_SQL,
              "O1 global time sort with materialized rank (pipeline.py:32)"),
    QuerySpec("o2_threshold_grid", o2_threshold_grid, O2_SQL,
              "O2 exact quantile grid (sweep domain at scale)"),
    QuerySpec("o4_top1_per_user", o4_top1_per_user, O4_SQL,
              "O4 argmax top-1 per group (calculations.py:133-135)"),
    QuerySpec("o5_head_slice", o5_head_slice, O5_SQL,
              "O5 per-group head slice (visualization.py:80)"),
    QuerySpec("m12_confusion", m12_confusion, M12_SQL,
              "M12 confusion matrix + P/R/F1 (calculations.py:58-83)"),
    QuerySpec("m13_auc", m13_auc, M13_AUC_SQL,
              "M13 single-sort exact ROC AUC (calculations.py:111-157)"),
    QuerySpec("m13_best_f1", m13_best_f1, M13_BEST_F1_SQL,
              "M13 best-F1 threshold from sweep (calculations.py:120)"),
    QuerySpec("a10_rollup", a10_rollup, A10_SQL,
              "hierarchical rollup with grouping flags"),
    QuerySpec("a11_cube", a11_cube, A11_SQL,
              "full cube with grouping flags"),
    QuerySpec("q5_local_supplier_volume", q5_local_supplier_volume, Q5_SQL,
              "TPC-H Q5 shape: 6-table join, Catalyst-planned "
              "broadcasts + pushdown"),
    QuerySpec("q21_waiting_suppliers", q21_waiting_suppliers, Q21_SQL,
              "TPC-H Q21 shape: exists/not-exists lineitem self-joins "
              "(semi + anti), sole-blame late suppliers"),
    QuerySpec("q7_volume_shipping", q7_volume_shipping, Q7_SQL,
              "TPC-H Q7 shape: bidirectional nation-pair revenue by "
              "year, disjunctive dim predicate"),
    QuerySpec("q17_small_quantity_revenue", q17_small_quantity_revenue,
              Q17_SQL,
              "TPC-H Q17 shape: decorrelated scalar subquery "
              "(per-part avg joined back)"),
    QuerySpec("q18_large_volume_customers", q18_large_volume_customers,
              Q18_SQL,
              "TPC-H Q18 shape: HAVING-filtered order agg semi-joined "
              "to orders/customer"),
    QuerySpec("q2_min_cost_supplier", q2_min_cost_supplier, Q2_SQL,
              "TPC-H Q2 shape: correlated scalar min decorrelated to "
              "per-part min joined back, all dims broadcast"),
    QuerySpec("q20_potential_promotion", q20_potential_promotion, Q20_SQL,
              "TPC-H Q20 shape: double-nested semi-join with "
              "aggregate (dominant promoted-part suppliers)"),
    QuerySpec("q4_order_priority_check", q4_order_priority_check, Q4_SQL,
              "TPC-H Q4 shape: EXISTS decorrelated to left-semi, "
              "per-priority order counts"),
    QuerySpec("q12_shipping_priority_classes", q12_shipping_priority_classes,
              Q12_SQL,
              "TPC-H Q12 shape: conditional CASE aggregation over a "
              "fact-fact join"),
    QuerySpec("q22_global_sales_opportunity", q22_global_sales_opportunity,
              Q22_SQL,
              "TPC-H Q22 shape: uncorrelated scalar avg broadcast + "
              "NOT EXISTS anti-join"),
]
