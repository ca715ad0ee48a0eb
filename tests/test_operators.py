"""Operator unit tests vs hand-computed / pandas-computed expectations:
threshold, crossing, islands, rolling, fedavg long-form roundtrip."""

from __future__ import annotations

import numpy as np
import pandas as pd
import pytest
from pyspark.sql import functions as F

from anomaly_detection_iiot_spark.ml import autoencoder as ae
from anomaly_detection_iiot_spark.ml import fedavg
from anomaly_detection_iiot_spark.operators import (
    crossing,
    rolling,
    sessionize,
    threshold,
)


def test_fit_threshold_uses_sample_std(spark):
    vals = [1.0, 2.0, 3.0, 4.0]
    df = spark.createDataFrame(pd.DataFrame({"k": "a", "v": vals}))
    got = threshold.fit_threshold(df, "v", n_std=4.0, keys=["k"]).collect()[0]
    s = pd.Series(vals)
    assert got.threshold == pytest.approx(s.mean() + 4.0 * s.std(ddof=1))


def test_first_crossing_sentinel_and_value(spark):
    pdf = pd.DataFrame(
        {
            "k": ["a"] * 4 + ["b"] * 4,
            "sample_idx": list(range(4)) * 2,
            "v": [0.1, 0.2, 5.0, 6.0, 0.1, 0.2, 0.3, 0.4],
        }
    )
    df = spark.createDataFrame(pdf)
    got = {
        r.k: r.first_anomaly_idx
        for r in crossing.first_crossing(df, "v", 1.0, keys=["k"]).collect()
    }
    assert got == {"a": 2, "b": 0}  # b: sentinel 0 = no anomaly


def test_islands(spark):
    idxs = [1, 2, 3, 7, 8, 15]
    df = spark.createDataFrame(pd.DataFrame({"sample_idx": idxs}))
    got = sorted(
        (r.island_start, r.island_end, r.island_len)
        for r in sessionize.islands(df).collect()
    )
    assert got == [(1, 3, 3), (7, 8, 2), (15, 15, 1)]


def test_sessionize_by_gap(spark):
    ts = pd.to_datetime(
        ["2024-01-01 00:00:00", "2024-01-01 00:10:00",
         "2024-01-01 01:20:00", "2024-01-01 01:25:00"]
    )
    df = spark.createDataFrame(
        pd.DataFrame({"user_id": 1, "ts": ts, "event_id": range(4)})
    )
    got = (
        sessionize.sessionize_by_gap(df)
        .orderBy("ts")
        .collect()
    )
    assert [r.session_id for r in got] == [1, 1, 2, 2]


def test_rolling_min_matches_pandas(spark):
    vals = [5.0, 3.0, 4.0, 1.0, 2.0, 6.0]
    df = spark.createDataFrame(
        pd.DataFrame({"sample_idx": range(len(vals)), "v": vals})
    )
    got = rolling.rolling_min(df, "v", window=3).orderBy("sample_idx").collect()
    # pandas rolling(3).min() yields NaN for the first 2; ours uses the
    # partial window (min of available rows) like rolling(3, min_periods=1)
    expected = pd.Series(vals).rolling(3, min_periods=1).min().tolist()
    assert [r.rolling_min for r in got] == expected


def test_lag_shift_head_fill(spark):
    vals = [float(i) for i in range(6)]
    df = spark.createDataFrame(
        pd.DataFrame({"sample_idx": range(6), "v": vals})
    )
    got = rolling.lag_shift(df, "v", offset=2).orderBy("sample_idx").collect()
    # reference: concat([v[:2], v[:-2]])
    assert [r.shifted for r in got] == [0.0, 1.0, 0.0, 1.0, 2.0, 3.0]


def test_certainty_accumulation(spark):
    pdf = pd.DataFrame(
        {"user_id": 1, "event_id": range(4), "mse": [1.0, 3.0, 2.0, 5.0], "thr": 2.0}
    )
    df = spark.createDataFrame(pdf)
    got = (
        rolling.certainty_accumulation(df, "mse", "thr")
        .orderBy("event_id")
        .collect()
    )
    expected = np.cumsum(np.clip(np.array([1, 3, 2, 5.0]) - 2.0, 0, None) / 2.0)
    assert [r.certainty for r in got] == pytest.approx(expected.tolist())


def test_weights_roundtrip():
    w = ae.init_weights([6, 4, 2, 4, 6], seed=3)
    rows = fedavg.weights_to_rows(0, w)
    back = fedavg.rows_to_weights(rows.to_dict("records"), [6, 4, 2, 4, 6])
    for (Wa, ba), (Wb, bb) in zip(w, back):
        np.testing.assert_array_equal(Wa, Wb)
        np.testing.assert_array_equal(ba, bb)


def test_fedavg_mean_of_identical_clients_is_identity(spark):
    """A5 property: averaging identical client weights returns them."""
    rng = np.random.default_rng(11)
    X = rng.normal(size=(8, 6)).tolist()
    pdf = pd.DataFrame(
        {
            "client_id": [0] * 4 + [1] * 4,
            "user_id": list(range(4)) * 2,
            "window_idx": 0,
            "window": X[:4] + X[:4],  # both clients see identical data
        }
    )
    wins = spark.createDataFrame(pdf)
    sizes = [6, 4, 2, 4, 6]
    w0 = ae.init_weights(sizes, seed=12)
    averaged = fedavg.rows_to_weights(
        fedavg.fedavg_round(wins, w0, epochs=1, lr=1e-3).collect(), sizes
    )
    local, _ = ae.train(
        np.asarray(X[:4]), w0, epochs=1, lr=1e-3
    )
    for (Wa, ba), (Wb, bb) in zip(averaged, local):
        np.testing.assert_allclose(Wa, Wb, rtol=1e-12)
        np.testing.assert_allclose(ba, bb, rtol=1e-12)


def test_interval_overlap_join_equals_naive(spark):
    """Binned overlap join == naive theta join on a mix of disjoint,
    touching, nested, and multi-bin-spanning intervals (bin width 10
    so several intervals span many bins — the exactly-once emission
    path — and several share no bin at all)."""
    import pandas as pd
    from pyspark.sql import functions as F

    from anomaly_detection_iiot_spark.operators.joins import (
        interval_overlap_join,
    )

    left = spark.createDataFrame(
        pd.DataFrame(
            {
                "la": [1, 2, 3, 4, 5],
                "a_start": [0.0, 35.0, 100.0, 7.0, 200.0],
                "a_end": [12.0, 36.0, 150.0, 7.0, 201.0],
            }
        )
    )
    right = spark.createDataFrame(
        pd.DataFrame(
            {
                "rb": [10, 20, 30, 40],
                "b_start": [11.0, 36.0, 90.0, 300.0],
                "b_end": [40.0, 36.0, 160.0, 310.0],
            }
        )
    )
    got = {
        (r.la, r.rb)
        for r in interval_overlap_join(
            left, right, "a_start", "a_end", "b_start", "b_end", 10.0
        ).collect()
    }
    naive = {
        (r.la, r.rb)
        for r in left.crossJoin(right)
        .filter(
            (F.col("a_start") <= F.col("b_end"))
            & (F.col("b_start") <= F.col("a_end"))
        )
        .collect()
    }
    assert got == naive
    assert (5, 40) not in got  # disjoint intervals rejected
    assert (2, 20) in got  # point-touching closed intervals match


def test_interval_overlap_join_randomized_widths(spark):
    """Randomized cross-check: 150x120 seeded random intervals
    (mixed lengths incl. points), binned join == naive theta join for
    bin widths spanning tiny (every interval covers many bins) to
    huge (everything lands in one bin)."""
    import numpy as np
    import pandas as pd
    from pyspark.sql import functions as F

    from anomaly_detection_iiot_spark.operators.joins import (
        interval_overlap_join,
    )

    rng = np.random.default_rng(4242)

    def mk(n, prefix):
        start = rng.uniform(0, 1000, n)
        length = rng.choice([0.0, 0.5, 5.0, 50.0], n) * rng.uniform(0, 2, n)
        return pd.DataFrame(
            {
                f"{prefix}id": np.arange(n),
                f"{prefix}s": start,
                f"{prefix}e": start + length,
            }
        )

    left = spark.createDataFrame(mk(150, "a"))
    right = spark.createDataFrame(mk(120, "b"))
    naive = {
        (r.aid, r.bid)
        for r in left.crossJoin(right)
        .filter((F.col("as") <= F.col("be")) & (F.col("bs") <= F.col("ae")))
        .collect()
    }
    assert naive  # non-degenerate fixture
    for width in (3.0, 40.0, 10000.0):
        got = {
            (r.aid, r.bid)
            for r in interval_overlap_join(
                left, right, "as", "ae", "bs", "be", width
            ).collect()
        }
        assert got == naive, f"width={width}"


def test_incremental_lsh_randomized_split(spark, sf_dir):
    """Incremental == restricted-full must hold for any corpus/batch
    split, not just an id-prefix one: check a seeded hash-based split
    (interleaved ids on both sides)."""
    import os

    from anomaly_detection_iiot_spark.operators import dedup

    docs = (
        spark.read.parquet(os.path.join(sf_dir, "documents.parquet"))
        .select("doc_id", "text")
    )

    def sigs(df):
        return dedup.minhash_signature_arrays(
            dedup.shingle_array(dedup.tokenize(df))
        )

    is_batch = F.md5(F.col("doc_id").cast("string")).startswith("a")
    corpus = docs.filter(~is_batch)
    batch = docs.filter(is_batch)
    batch_ids = {r.doc_id for r in batch.select("doc_id").collect()}
    assert batch_ids and corpus.count() > 0

    idx = dedup.band_index(sigs(corpus))
    inc = dedup.incremental_lsh_candidates(
        sigs(batch), idx
    )
    got = {(r.doc_a, r.doc_b) for r in inc.collect()}
    full = dedup.lsh_candidate_pairs(sigs(docs))
    expected = {
        (r.doc_a, r.doc_b)
        for r in full.collect()
        if r.doc_a in batch_ids or r.doc_b in batch_ids
    }
    assert got == expected


def test_pagerank_matches_python_reference_exactly(spark):
    """graph.pagerank's integer micro-unit loop vs an independent
    pure-Python mirror on a sink-free (symmetric) graph, at 12
    iterations. Exact integer equality — the arithmetic is IEEE
    division + floor + bigint sums, deterministic by construction."""
    import math

    from anomaly_detection_iiot_spark.operators import graph
    from pyspark.sql import functions as F

    edges = [
        ("a", "b", 3), ("b", "a", 3),
        ("b", "c", 1), ("c", "b", 1),
        ("c", "d", 2), ("d", "c", 2),
        ("a", "c", 1), ("c", "a", 1),
        ("e", "a", 5), ("a", "e", 5),
    ]
    df = spark.createDataFrame(edges, "src string, dst string, w long")
    got = {
        r.node: r.r_int
        for r in graph.pagerank(df, iters=12, weight_col="w").collect()
    }

    outw = {}
    for s, _, w in edges:
        outw[s] = outw.get(s, 0) + w
    r = {n: 1_000_000_000 for n in outw}
    for _ in range(12):
        x = {n: 0 for n in outw}
        for s, d, w in edges:
            x[d] += math.floor((w * r[s]) / outw[s])
        r = {
            n: 150_000_000 + math.floor(0.85 * x[n]) for n in outw
        }
    assert got == r


def test_triangle_skew_degree_ordering_bounds_wedges(spark):
    """r9 verdict item 8 (skew): on a hub-and-spokes graph whose hub
    holds the SMALLEST id — the id-orientation worst case — the
    degree-ordered enumeration must (a) count triangles exactly and
    (b) enumerate O(m) wedges where id-ordering enumerates C(hub_deg, 2).
    """
    from anomaly_detection_iiot_spark.operators import graph

    # hub 0 connected to 1..200, plus a triangle rim 1-2, 3-4, 5-6
    edges = [(0, i) for i in range(1, 201)] + [(1, 2), (3, 4), (5, 6)]
    df = spark.createDataFrame(edges, "u int, v int")

    w_id = graph.wedge_count(df, orientation="id")
    w_deg = graph.wedge_count(df, orientation="degree")
    assert w_id >= 200 * 199 // 2  # the hub's quadratic wedge blowup
    assert w_deg <= len(edges)     # degree ordering stays edge-linear

    got = {
        r.node: r.n_triangles
        for r in graph.triangles_per_node(df).collect()
    }
    # 3 triangles: (0,1,2), (0,3,4), (0,5,6); hub is in all three
    assert got == {0: 3, 1: 1, 2: 1, 3: 1, 4: 1, 5: 1, 6: 1}
