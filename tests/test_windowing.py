"""Windowing invariants (SURVEY §5.3): Spark window builders vs the
reference's positional-slice semantics computed in plain Python."""

from __future__ import annotations

import pandas as pd
import pytest
from hypothesis import given, settings
from hypothesis import strategies as st
from pyspark.sql import functions as F

from anomaly_detection_iiot_spark.operators import windowing


def _series_df(spark, values, key="k0"):
    pdf = pd.DataFrame(
        {"series": key, "sample_idx": range(len(values)), "value": values}
    )
    return spark.createDataFrame(pdf)


def _events_df(spark, n):
    """One user's ``n`` events, the shape the event-table operators read."""
    pdf = pd.DataFrame(
        {"user_id": 1, "event_id": range(n), "value": [float(i) for i in range(n)]}
    )
    return spark.createDataFrame(pdf)


def _reference_windows(values, size, step):
    """trainer.py:75-78 semantics: [v[i:i+size] for i in range(0, n, step)]
    keeping only complete windows."""
    return [
        values[i : i + size]
        for i in range(0, len(values), step)
        if len(values[i : i + size]) == size
    ]


@pytest.mark.parametrize("n,size,step", [(10, 4, 2), (10, 4, 4), (9, 3, 1), (4, 4, 2), (3, 4, 2)])
def test_window_arrays_match_reference_slices(spark, n, size, step):
    values = [float(i * i % 7) for i in range(n)]
    got = (
        windowing.window_arrays(
            _series_df(spark, values), size=size, step=step,
            keys=["series"],
        )
        .orderBy("window_idx")
        .collect()
    )
    expected = _reference_windows(values, size, step)
    assert [list(r.window) for r in got] == expected
    assert [r.window_idx for r in got] == list(range(len(expected)))


def test_window_arrays_never_cross_series(spark):
    df = _series_df(spark, [1.0] * 6, "a").unionByName(
        _series_df(spark, [2.0] * 6, "b")
    )
    got = windowing.window_arrays(df, size=4, step=2, keys=["series"]).collect()
    for r in got:
        assert len(set(r.window)) == 1  # values never mix across series


def test_assign_window_ids_matches_bruteforce(spark):
    size, step, n = 100, 50, 320
    df = _events_df(spark, n)
    got = (
        windowing.assign_window_ids(df)
        .groupBy("window_idx")
        .agg(F.sort_array(F.collect_list("event_id")).alias("members"))
        .orderBy("window_idx")
        .collect()
    )
    expected = {}
    for idx in range(n):
        for w in range(0, n):
            if w * step <= idx < w * step + size:
                expected.setdefault(w, []).append(idx)
    assert {r.window_idx: list(r.members) for r in got} == expected


def test_stride_filter_keeps_even_windows(spark):
    df = _events_df(spark, 500)
    wins = windowing.assign_window_ids(df)
    kept = windowing.stride_filter(wins)
    ids = {r.window_idx for r in kept.select("window_idx").distinct().collect()}
    assert ids == {w for w in range(10) if w % 2 == 0}


def test_lookback_arrays(spark):
    got = windowing.lookback_arrays(_events_df(spark, 25)).orderBy("event_id").collect()
    # rows 0..18 dropped (incomplete lookback); row i carries [i-19 .. i]
    assert [r.event_id for r in got] == list(range(19, 25))
    assert [list(r.lookback_value) for r in got] == [
        [float(j) for j in range(i - 19, i + 1)] for i in range(19, 25)
    ]


@settings(max_examples=25, deadline=None)
@given(
    n=st.integers(min_value=0, max_value=40),
    size_mult=st.integers(min_value=1, max_value=4),
    step=st.integers(min_value=1, max_value=8),
)
def test_window_count_invariant(n, size_mult, step):
    """Complete-window count == len(range slices) for any (n, size, step)
    with size a multiple of step — pure-python mirror of the Spark
    builder's filter arithmetic."""
    size = step * size_mult
    expected = len(_reference_windows(list(range(n)), size, step))
    # the builder keeps anchors idx%step==0 with idx+size <= n
    got = len([i for i in range(0, n, step) if i + size <= n])
    assert got == expected
