"""State a session carries across queries: the generated-code cache, the
conf the readers leave behind, and the owned caches."""

from __future__ import annotations

import inspect
import pathlib

import numpy as np
import pandas as pd
import pytest
from pyspark.sql import functions as F

import anomaly_detection_iiot_spark
from anomaly_detection_iiot_spark.ml import autoencoder as ae
from anomaly_detection_iiot_spark.operators.cache import (
    release_owned_caches,
    replace_owned_cache,
)
from anomaly_detection_iiot_spark.plans.bearing_pipeline import bearing_anomaly_report
from anomaly_detection_iiot_spark.plans.flagship import flagship_anomaly_report
from anomaly_detection_iiot_spark.queries import REGISTRY
from anomaly_detection_iiot_spark.queries.base import t
from anomaly_detection_iiot_spark.session import scoped_conf

NANOS_CONF = "spark.sql.legacy.parquet.nanosAsLong"


def _compiles(spark) -> int:
    metrics = spark._jvm.org.apache.spark.metrics.source.CodegenMetrics
    return metrics.METRIC_COMPILATION_TIME().getCount()


def _run(spark, df) -> None:
    df.write.mode("overwrite").format("noop").save()


def test_warm_rerun_compiles_nothing_after_a_large_working_set(spark, sf_dir, tmp_path):
    """Compile once per session: after a working set of more than 100
    generated classes (Spark's default codegen cache size), re-running
    the first item is served entirely from the codegen cache. At the
    default, bearing_anomaly_report's classes are evicted by the time it
    runs again and every one of them is recompiled."""
    rng = np.random.default_rng(7)
    for f in range(8):
        rows = rng.normal(0, 40.0 if f >= 5 else 1.0, (64, 2))
        text = "\n".join(f"{a:.6f}\t{b:.6f}" for a, b in rows)
        (tmp_path / f"2004.02.12.10.{32 + f:02d}.00").write_text(text + "\n")

    def bearing():
        return bearing_anomaly_report(
            spark, str(tmp_path), ae.init_weights([8, 4, 2, 4, 8], seed=55),
            n_cols=2, rows_per_file=64, resample_factor=4,
            window_size=8, window_step=8, period=2,
        )

    working_set = [
        bearing,
        lambda: flagship_anomaly_report(spark, sf_dir),
        lambda: REGISTRY["d8_dup_clusters"].fn(spark, sf_dir),
        lambda: REGISTRY["s18_mmr_rerank"].fn(spark, sf_dir),
    ]
    for build in working_set:
        spark.catalog.clearCache()
        _run(spark, build())

    spark.catalog.clearCache()
    before = _compiles(spark)
    _run(spark, bearing())
    assert _compiles(spark) - before == 0


def test_micros_events_read_leaves_session_conf_unchanged(spark, sf_dir):
    spark.conf.unset(NANOS_CONF)
    before = spark.conf.getAll
    ev = t(spark, sf_dir, "events")
    assert dict(ev.dtypes)["ts"] == "timestamp"
    ev.agg(F.max("ts")).collect()
    assert spark.conf.getAll == before


def test_nanos_events_read_as_truncated_micros(spark, tmp_path):
    ts = pd.to_datetime(["2024-01-01 00:00:00.123456789", "2024-01-02 12:00:00.000001999"])
    pd.DataFrame({"event_id": [0, 1], "ts": ts}).to_parquet(
        tmp_path / "events.parquet", coerce_timestamps=None
    )
    try:
        ev = t(spark, str(tmp_path), "events")
        assert dict(ev.dtypes)["ts"] == "timestamp"
        got = ev.orderBy("event_id").select(F.unix_micros("ts").alias("us")).collect()
        assert spark.conf.get(NANOS_CONF) == "true"
    finally:
        spark.conf.unset(NANOS_CONF)
    assert [r.us for r in got] == list(ts.asi8 // 1000)


def test_owned_cache_repersists_when_adaptive_flag_flips(spark):
    """Every call re-persists and releases the previous call's cache, so
    the same plan under a different adaptive_partitioning flag gets that
    flag's output partitioning (4 shuffle partitions vs AQE-coalesced to
    1 here)."""
    site = "test_adaptive_flag_flip"
    shuffle_partitions = int(spark.conf.get("spark.sql.shuffle.partitions"))

    def frame():
        return spark.range(0, 1000, 1, 4).groupBy((F.col("id") % 7).alias("k")).count()

    def persistent():
        return set(spark.sparkContext._jsc.getPersistentRDDs().keys())

    before = persistent()
    try:
        fixed = replace_owned_cache(site, frame())
        fixed.count()
        assert fixed.rdd.getNumPartitions() == shuffle_partitions
        fixed_rdds = persistent() - before
        assert fixed_rdds
        adaptive = replace_owned_cache(site, frame(), adaptive_partitioning=True)
        assert not persistent() & fixed_rdds
        adaptive.count()
        assert adaptive.rdd.getNumPartitions() == 1
        again = replace_owned_cache(site, frame())
        assert again is not fixed
        assert again.rdd.getNumPartitions() == shuffle_partitions
    finally:
        release_owned_caches(site)


def test_scoped_conf_restores_set_keys_and_unsets_unset_ones(spark):
    set_key, unset_key = "spark.sql.shuffle.partitions", "spark.sql.analyzer.maxIterations"
    spark.conf.unset(unset_key)
    before = spark.conf.getAll
    assert set_key in before and unset_key not in before
    with pytest.raises(RuntimeError):
        with scoped_conf(spark, {set_key: "3", unset_key: "400"}):
            assert spark.conf.get(set_key) == "3"
            assert spark.conf.get(unset_key) == "400"
            raise RuntimeError
    assert spark.conf.getAll == before


def test_conf_is_set_only_through_scoped_conf():
    """Temporary conf changes go through ``session.scoped_conf``; the one
    other writer is ``queries/base.t()``'s NANOS path, whose flag must
    stay set until the caller's action reads the file."""
    package = pathlib.Path(anomaly_detection_iiot_spark.__file__).parent
    writers = {
        str(path.relative_to(package)): path.read_text().count(".conf.set(")
        for path in package.rglob("*.py")
        if ".conf.set(" in path.read_text()
    }
    assert writers == {
        "queries/base.py": 1,
        "session.py": inspect.getsource(scoped_conf).count(".conf.set("),
    }
