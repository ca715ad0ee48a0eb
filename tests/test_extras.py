"""Accuracy contracts for the approximate aggregates (not
oracle-checkable: sketch algorithms differ across engines by design)
and hypothesis property tests promised by SURVEY §5.3."""

from __future__ import annotations

import numpy as np
import pandas as pd
import pytest
from hypothesis import given, settings
from hypothesis import strategies as st

from anomaly_detection_iiot_spark.queries.extras import a12_approx_aggregates


def test_approx_aggregates_accuracy(spark, sf_dir):
    rows = a12_approx_aggregates(spark, sf_dir).collect()
    assert len(rows) > 0
    for r in rows:
        # r12 contract shape: HLL within 3*rsd (0.15), GK median
        # within 1%
        assert r.distinct_ok and r.p50_ok
        assert r.exact_users > 0 and r.exact_p50 is not None


def test_approx_distinct_pinned_at_test_sf(spark, sf_dir):
    """ADVICE r12: the portable a12 band is 3*rsd (0.15) — loose
    enough that a systematically BIASED approx_count_distinct would
    still pass it. At the fixed test SFs the per-group user
    cardinality (≲ a few thousand) sits in HLL++'s linear-counting
    regime, where the estimate is near-exact; pin a 1% band HERE so
    bias shows up even though the portable contract stays 3*rsd."""
    import os

    from pyspark.sql import functions as F

    ev = spark.read.parquet(os.path.join(sf_dir, "events.parquet"))
    rows = (
        ev.groupBy("event_type")
        .agg(
            F.approx_count_distinct("user_id").alias("approx_users"),
            F.countDistinct("user_id").alias("exact_users"),
        )
        .collect()
    )
    assert rows
    for r in rows:
        # linear-counting regime: sparse HLL++ is exact up to the
        # sparse->dense switch; allow 1% for the dense edge at sf0.01
        rel = abs(r.approx_users - r.exact_users) / max(r.exact_users, 1)
        assert rel <= 0.01, (
            f"{r.event_type}: approx {r.approx_users} vs exact "
            f"{r.exact_users} (rel {rel:.4f}) — biased sketch?"
        )


# --- SURVEY §5.3 property tests (pure math, no Spark session needed) ----------

@settings(max_examples=50, deadline=None)
@given(
    st.lists(st.floats(-1e3, 1e3), min_size=2, max_size=60),
    st.integers(min_value=1, max_value=10),
)
def test_resample_linearity(values, factor):
    """mean-of-chunk-means of a + b == mean-of-chunk-means(a) +
    mean-of-chunk-means(b) chunk-wise (A1 is linear)."""
    a = np.array(values)
    b = a * 2.0 + 1.0
    def chunk_means(x):
        n = len(x) // factor * factor
        if n == 0:
            return np.array([])
        return x[:n].reshape(-1, factor).mean(axis=1)
    np.testing.assert_allclose(
        chunk_means(a + b), chunk_means(a) + chunk_means(b), atol=1e-9
    )


@settings(max_examples=50, deadline=None)
@given(st.lists(st.floats(0, 1e3), min_size=3, max_size=80))
def test_threshold_monotonicity(values):
    """Raising n_std never flags MORE points (M11 monotone in n_std)."""
    s = pd.Series(values)
    mean, std = s.mean(), s.std(ddof=1)
    if not np.isfinite(std):
        return
    flags = [
        (s > mean + k * std).sum() for k in (0.0, 1.0, 2.0, 4.0)
    ]
    assert flags == sorted(flags, reverse=True)


@settings(max_examples=30, deadline=None)
@given(
    st.integers(min_value=1, max_value=5),
    st.integers(min_value=2, max_value=6),
)
def test_fedavg_mean_of_means_equals_global_mean(n_layers, n_clients):
    """A5 with equal-weight clients: element-wise mean of client weights
    == mean over the stacked tensor (FedAvg invariant)."""
    rng = np.random.default_rng(n_layers * 10 + n_clients)
    client_weights = [
        [rng.normal(size=(3, 2)) for _ in range(n_layers)]
        for _ in range(n_clients)
    ]
    for li in range(n_layers):
        fedavg = np.mean([cw[li] for cw in client_weights], axis=0)
        stacked = np.stack([cw[li] for cw in client_weights]).mean(axis=0)
        np.testing.assert_allclose(fedavg, stacked)


@settings(max_examples=50, deadline=None)
@given(st.lists(st.integers(0, 1000), min_size=1, max_size=100, unique=True))
def test_islands_partition_invariant(idxs):
    """Gaps-and-islands: islands partition the input (lengths sum to n,
    bounds nest, no overlaps) — pure mirror of the rn-difference trick."""
    s = sorted(idxs)
    groups = {}
    for rn, v in enumerate(s):
        groups.setdefault(v - rn, []).append(v)
    islands = [(g[0], g[-1], len(g)) for g in groups.values()]
    assert sum(n for _, _, n in islands) == len(s)
    islands.sort()
    for (s1, e1, _), (s2, _, _) in zip(islands, islands[1:]):
        assert e1 + 1 < s2  # true gap between consecutive islands
    for lo, hi, n in islands:
        assert hi - lo + 1 == n  # contiguous


def test_hll_union_of_partitions_is_lossless(spark):
    """DataSketches HLL mergeability (the a24 rollup's load-bearing
    property): unioning per-partition sketches at the same lgConfigK
    yields the SAME estimate as one sketch over all rows — register
    merge is max(), associative and order-free, so a daily rollup
    loses nothing vs rescanning the facts."""
    from pyspark.sql import functions as F

    df = spark.range(0, 5000).select(
        (F.col("id") % 7).alias("shard"),
        # overlapping values across shards: unions must dedup
        (F.col("id") % 1234).alias("v"),
    )
    direct = df.agg(
        F.hll_sketch_estimate(F.hll_sketch_agg("v", F.lit(14))).alias("n")
    ).collect()[0]["n"]
    merged = (
        df.groupBy("shard")
        .agg(F.hll_sketch_agg("v", F.lit(14)).alias("sk"))
        .agg(F.hll_sketch_estimate(F.hll_union_agg("sk")).alias("n"))
        .collect()[0]["n"]
    )
    assert merged == direct


def test_a22_a23_contracts_tighter_than_declared(spark, sf_dir):
    """The oracle pins within_5pct / within_1pct; the estimates at test
    scale are far inside those bounds (HLL linear-counting regime is
    near-exact, GK at accuracy=10000 is exact below 10k rows) — assert
    the stricter fact so contract regressions surface here before the
    oracle gate."""
    from pyspark.sql import functions as F

    from anomaly_detection_iiot_spark.queries.base import t

    ev = t(spark, sf_dir, "events")
    rows = (
        ev.groupBy("event_type")
        .agg(
            F.count_distinct("user_id").alias("n_exact"),
            F.approx_count_distinct("user_id", rsd=0.02).alias("n_hll"),
        )
        .collect()
    )
    assert rows and all(
        abs(r.n_hll - r.n_exact) <= max(1, 0.02 * r.n_exact) for r in rows
    )
    li = t(spark, sf_dir, "lineitem")
    rows = (
        li.groupBy("l_returnflag")
        .agg(
            F.expr("percentile(l_extendedprice, 0.5)").alias("p_exact"),
            F.percentile_approx(
                "l_extendedprice", F.lit(0.5), F.lit(10000)
            ).alias("p_gk"),
        )
        .collect()
    )
    # GK at accuracy >= group size returns a true order statistic
    # adjacent to the interpolated median
    assert rows and all(
        abs(r.p_gk - r.p_exact) <= 0.001 * abs(r.p_exact) for r in rows
    )


def test_a25_checksum_sensitivity_and_order_invariance(spark):
    """The a25 audit is only useful if (a) any single-row change flips
    the partition checksum and (b) the checksum ignores row order and
    physical partitioning (XOR commutativity) — assert both on a tiny
    frame through the same hash shape the query uses."""
    from pyspark.sql import functions as F

    def checksum(df):
        return (
            df.select(
                F.conv(
                    F.substring(F.md5(F.col("s")), 1, 15), 16, 10
                ).cast("bigint").alias("h")
            )
            .agg(F.bit_xor("h").alias("c"))
            .collect()[0]["c"]
        )

    rows = [(f"row-{i}",) for i in range(100)]
    base = checksum(spark.createDataFrame(rows, "s string"))
    # order + partitioning invariance
    shuffled = spark.createDataFrame(rows[::-1], "s string").repartition(7)
    assert checksum(shuffled) == base
    # single-row sensitivity
    corrupt = spark.createDataFrame(
        rows[:-1] + [("row-99X",)], "s string"
    )
    assert checksum(corrupt) != base


def test_j9_scd2_versions_on_fixture(spark):
    """Hand-built change log: tier runs must coalesce and purchases
    must land in the version valid at their timestamp (pre-first-click
    purchases -> 'none')."""
    from pyspark.sql import functions as F

    from anomaly_detection_iiot_spark.queries.extras import (
        j9_scd2_dimension,
    )

    # monkeypatch-free: replicate the query body on injected events by
    # writing a parquet dir shaped like the testdata
    import os
    import tempfile

    with tempfile.TemporaryDirectory() as d:
        ev = spark.createDataFrame(
            [
                # user 1: low (t1), low (t2, coalesces), high (t4)
                (0, "2024-01-01 00:00:01", 1, "click", 1.0, None),
                (1, "2024-01-01 00:00:02", 1, "click", 2.0, None),
                (2, "2024-01-01 00:00:04", 1, "click", 99.0, None),
                # purchases: before any click -> none; at t3 -> low
                # (first version still valid); at t5 -> high
                (3, "2023-12-31 23:59:59", 1, "purchase", 10.0, None),
                (4, "2024-01-01 00:00:03", 1, "purchase", 20.0, None),
                (5, "2024-01-01 00:00:05", 1, "purchase", 40.0, None),
            ],
            "event_id long, ts string, user_id long, event_type string,"
            " value double, props string",
        ).withColumn("ts", F.col("ts").cast("timestamp"))
        ev.write.parquet(os.path.join(d, "events.parquet"))
        got = {
            r.tier: (r.n_purchases, r.revenue)
            for r in j9_scd2_dimension(spark, d).collect()
        }
    assert got == {"none": (1, 10.0), "low": (1, 20.0), "high": (1, 40.0)}


def test_a27_counts_injected_violations(spark, tmp_path):
    """The audit must actually count: inject one violation of each
    class into a copy of the orders table and assert per-constraint
    counts (the testdata itself is clean, so the registry run only
    proves the all-pass path)."""
    import os

    from pyspark.sql import functions as F

    from anomaly_detection_iiot_spark.queries.base import t
    from anomaly_detection_iiot_spark.queries.extras import (
        a27_constraint_audit,
    )

    d = str(tmp_path)
    o = t(spark, "/root/testdata/sf0.001", "orders")
    first = o.limit(1)
    bad = (
        first.select(  # duplicate orderkey + orphan custkey
            "o_orderkey",
            F.lit(999999999).alias("o_custkey"),
            F.lit("X").alias("o_orderstatus"),  # bad status
            F.lit(-1.0).alias("o_totalprice"),  # nonpositive price
            "o_orderdate",
            "o_orderpriority",
        )
    )
    nullrow = first.select(
        (F.col("o_orderkey") + 1000000000).alias("o_orderkey"),
        F.lit(None).cast("long").alias("o_custkey"),  # null custkey
        "o_orderstatus",
        "o_totalprice",
        "o_orderdate",
        "o_orderpriority",
    )
    o.unionByName(bad).unionByName(nullrow).write.parquet(
        os.path.join(d, "orders.parquet")
    )
    t(spark, "/root/testdata/sf0.001", "customer").write.parquet(
        os.path.join(d, "customer.parquet")
    )
    got = {
        r.check_name: r.n_violations
        for r in a27_constraint_audit(spark, d).collect()
    }
    assert got == {
        "completeness:o_custkey": 1,
        "range:o_totalprice>0": 1,
        "membership:o_orderstatus": 1,
        "unique:o_orderkey": 2,  # both copies of the duplicated key
        "ref:o_custkey->customer": 1,  # the non-null orphan only: the
        # null row is the completeness check's finding by design
    }


def test_a25_month_checksums_roll_up_to_table_checksum(spark):
    """The merkle claim: XOR of per-partition checksums == the
    checksum of the whole table (associative, commutative, no
    rescan needed to audit at coarser grain)."""
    from pyspark.sql import functions as F

    df = spark.range(0, 500).select(
        (F.col("id") % 12).alias("part"),
        F.md5(F.col("id").cast("string")).alias("hx"),
    ).select(
        "part",
        F.conv(F.substring("hx", 1, 15), 16, 10).cast("bigint").alias("h"),
    )
    per_part = df.groupBy("part").agg(F.bit_xor("h").alias("c"))
    rolled = per_part.agg(F.bit_xor("c").alias("c")).collect()[0]["c"]
    direct = df.agg(F.bit_xor("h").alias("c")).collect()[0]["c"]
    assert rolled == direct


def test_w25_recovers_planted_changepoints(spark, tmp_path):
    """Binary segmentation semantics on a constructed series: three
    flat regimes (mean 0 | 10 | 20, 16 samples each) must yield the
    two regime boundaries — level 0 finds one, level 1 the other —
    and every emitted split respects the min-segment guard."""
    import datetime

    from anomaly_detection_iiot_spark.queries.extras import (
        w25_binary_segmentation,
    )

    t0 = datetime.datetime(2024, 1, 1)
    rows = []
    for j in range(48):
        mean = (j // 16) * 10.0
        rows.append(
            (j + 1, t0 + datetime.timedelta(seconds=j), 7, "t",
             mean + (0.01 if j % 2 else -0.01), "{}")
        )
    spark.createDataFrame(
        rows,
        "event_id long, ts timestamp, user_id long, event_type string, "
        "value double, props string",
    ).write.mode("overwrite").parquet(str(tmp_path / "events.parquet"))
    got = w25_binary_segmentation(spark, str(tmp_path)).collect()
    cps = {r.cp_i for r in got}
    assert {16, 32} <= cps, got
    lvl0 = [r for r in got if r.level == 0]
    assert len(lvl0) == 1 and lvl0[0].cp_i in (16, 32)
    for r in got:
        assert r.cp_i - r.seg_start + 1 >= 4
        assert r.seg_end - r.cp_i >= 4
        assert r.seg_start <= r.cp_i < r.seg_end


def test_s18_mmr_diversifies_near_duplicates(spark, tmp_path):
    """MMR semantics on a constructed corpus: query q = e1; candidates
    include a tight near-duplicate cluster around e1 plus two distinct
    directions. Pure top-k would return the whole cluster; MMR must
    interleave the distinct directions after the first pick."""
    import numpy as np

    from anomaly_detection_iiot_spark.queries.textsim import s18_mmr_rerank

    rng = np.random.default_rng(5)
    base = rng.normal(0, 1, 64)
    base /= np.linalg.norm(base)
    ortho1 = rng.normal(0, 1, 64)
    ortho1 -= ortho1 @ base * base
    ortho1 /= np.linalg.norm(ortho1)
    ortho2 = rng.normal(0, 1, 64)
    ortho2 -= ortho2 @ base * base
    ortho2 -= ortho2 @ ortho1 * ortho1
    ortho2 /= np.linalg.norm(ortho2)
    rows = [(0, [float(x) for x in base], 0)]
    # ids 1..10: near-dup cluster, slightly MORE relevant than the
    # distinct hits, all pointing off-axis the same way — so pure
    # relevance ranks the whole cluster first, but cluster members are
    # ~identical to each other (sim ~1) while the distinct hits' sim
    # to the cluster (~0.62) is LESS than their relevance (~0.9),
    # which is exactly the geometry MMR exists for
    c_dir = 0.905 * base + np.sqrt(1 - 0.905**2) * ortho1
    for i in range(1, 11):
        v = c_dir + 0.002 * rng.normal(0, 1, 64)
        rows.append((i, [float(x) for x in v / np.linalg.norm(v)], 0))
    for j, o in ((11, -ortho1), (12, ortho2)):
        v = 0.9 * base + np.sqrt(1 - 0.81) * o
        rows.append((j, [float(x) for x in v], 0))
    spark.createDataFrame(
        rows, "vec_id long, embedding array<float>, label int"
    ).write.mode("overwrite").parquet(str(tmp_path / "embeddings.parquet"))
    got = s18_mmr_rerank(spark, str(tmp_path)).collect()
    assert [r.pos for r in got] == [1, 2, 3, 4, 5]
    picked = [r.cid for r in got]
    # first pick is the most relevant (a cluster member); the two
    # distinct directions must both appear in the MMR top-5, which
    # pure relevance ranking would fill entirely from the cluster
    assert picked[0] in range(1, 11)
    assert 11 in picked and 12 in picked, picked
    assert len(set(picked)) == 5


def _vec(*xs):
    return [float(x) for x in xs]


_S18_EDGE_CORPORA = {
    # cosines 0.9000078 (cid 3) and 0.9000088 (cid 7): rel 0.900008 and
    # 0.900009 both give round(rel * 0.7, 6) = 0.630006, so round 1
    # must rank by rel (cid 7), not by its rounded mmr (tie -> cid 3)
    "tie": (
        [
            (0, _vec(1, 0, 0, 0)),
            (3, _vec(0.9000078, np.sqrt(1 - 0.9000078**2), 0, 0)),
            (7, _vec(0.9000088, np.sqrt(1 - 0.9000088**2), 0, 0)),
            (11, _vec(0.1, 0, np.sqrt(0.99), 0)),
            (12, _vec(0.2, 0, 0, np.sqrt(0.96))),
        ],
        4,
        [(1, 7, 0.630006)],
    ),
    "fewer_than_k": (
        [(0, _vec(1, 0, 0, 0)), (1, _vec(1, 1, 0, 0)), (2, _vec(0, 1, 0, 0))],
        2,
        [(1, 1, None), (2, 2, None)],
    ),
    "no_query_row": (
        [(1, _vec(1, 0, 0, 0)), (2, _vec(0, 1, 0, 0))],
        0,
        [],
    ),
}


@pytest.mark.parametrize("case", sorted(_S18_EDGE_CORPORA))
def test_s18_mmr_edge_corpora(spark, tmp_path, case):
    """Round-1 ordering, a corpus with fewer than k candidates, and a
    corpus with no query row (vec_id 0): the row count, then the
    leading (pos, cid, mmr) rows; ``None`` skips the mmr check."""
    from anomaly_detection_iiot_spark.queries.textsim import s18_mmr_rerank

    rows, n_rows, head = _S18_EDGE_CORPORA[case]
    spark.createDataFrame(
        [(i, v, 0) for i, v in rows],
        "vec_id long, embedding array<float>, label int",
    ).write.mode("overwrite").parquet(str(tmp_path / "embeddings.parquet"))
    got = s18_mmr_rerank(spark, str(tmp_path)).collect()
    assert len(got) == n_rows, got
    assert [(r.pos, r.cid) for r in got[: len(head)]] == [(p, c) for p, c, _ in head]
    for r, (_, _, mmr) in zip(got, head):
        assert mmr is None or r.mmr == mmr, (case, r)


def test_w27_backtest_on_constructed_series(spark, tmp_path):
    """Backtest semantics pinned on three constructed series: a
    perfectly periodic series scores mae=0, mase=0 (seasonal naive is
    exact); a linear ramp scores mae=period (x_t - x_{t-24} = 24·slope)
    with one-step denominator = slope, so mase = 24; a constant series
    yields mae=0 with a NULL mase (nullif-guarded zero denominator)."""
    import datetime

    from anomaly_detection_iiot_spark.queries.extras import (
        w27_seasonal_backtest,
    )

    t0 = datetime.datetime(2024, 1, 1)
    rows = []
    for j in range(72):
        ts = t0 + datetime.timedelta(hours=j)
        rows.append((j + 1, ts, 1, "t", float(j % 24), "{}"))      # periodic
        rows.append((j + 1000, ts, 2, "t", 1.0 * j, "{}"))          # ramp
        rows.append((j + 2000, ts, 3, "t", 5.0, "{}"))              # constant
    spark.createDataFrame(
        rows,
        "event_id long, ts timestamp, user_id long, event_type string, "
        "value double, props string",
    ).write.mode("overwrite").parquet(str(tmp_path / "events.parquet"))
    got = {
        r.user_id: r
        for r in w27_seasonal_backtest(spark, str(tmp_path)).collect()
    }
    assert (got[1].n, got[1].n_eval) == (72, 48)
    assert got[1].mae == 0.0 and got[1].mase == 0.0
    assert got[2].mae == 24.0 and got[2].mase == 24.0
    assert got[3].mae == 0.0 and got[3].mase is None


def test_w26_strengths_on_constructed_series(spark, tmp_path):
    """Decomposition semantics: a strongly seasonal series (period 24)
    scores seasonal_strength near 1; a pure linear-trend series scores
    trend_strength near 1 and seasonal_strength near 0."""
    import datetime
    import math

    from anomaly_detection_iiot_spark.queries.extras import (
        w26_stl_decompose,
    )

    t0 = datetime.datetime(2024, 1, 1)
    rows = []
    for j in range(240):
        ts = t0 + datetime.timedelta(hours=j)
        # user 1: pure sinusoid with period 24
        rows.append((j + 1, ts, 1, "t", 10.0 * math.sin(2 * math.pi * j / 24), "{}"))
        # user 2: pure linear trend
        rows.append((j + 1000, ts, 2, "t", 0.5 * j, "{}"))
    spark.createDataFrame(
        rows,
        "event_id long, ts timestamp, user_id long, event_type string, "
        "value double, props string",
    ).write.mode("overwrite").parquet(str(tmp_path / "events.parquet"))
    got = {r.user_id: r for r in w26_stl_decompose(spark, str(tmp_path)).collect()}
    assert got[1].seasonal_strength > 0.95, got[1]
    assert got[2].trend_strength > 0.95, got[2]
    assert got[2].seasonal_strength < 0.2, got[2]


def test_w25_depth_shrink_releases_higher_level_caches(spark, tmp_path):
    """ADVICE r13: w25's per-level cache keys scale with ``depth`` — a
    call with depth=3 then depth=2 must not leave w25_win_l2 persisted
    with no owner for the rest of the session."""
    import datetime

    from anomaly_detection_iiot_spark.operators.cache import _OWNED_CACHES
    from anomaly_detection_iiot_spark.queries.extras import (
        w25_binary_segmentation,
    )

    t0 = datetime.datetime(2024, 1, 1)
    rows = []
    for j in range(48):
        mean = (j // 16) * 10.0
        rows.append(
            (j + 1, t0 + datetime.timedelta(seconds=j), 7, "t",
             mean + (0.01 if j % 2 else -0.01), "{}")
        )
    spark.createDataFrame(
        rows,
        "event_id long, ts timestamp, user_id long, event_type string, "
        "value double, props string",
    ).write.mode("overwrite").parquet(str(tmp_path / "events.parquet"))
    w25_binary_segmentation(spark, str(tmp_path), depth=3).collect()
    assert "w25_win_l2" in _OWNED_CACHES
    w25_binary_segmentation(spark, str(tmp_path), depth=2).collect()
    assert "w25_win_l2" not in _OWNED_CACHES
    assert "w25_win_l1" in _OWNED_CACHES
