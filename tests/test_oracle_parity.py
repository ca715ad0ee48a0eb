"""In-repo mirror of the driver's DuckDB-oracle gate (VERDICT r1 item 2).

For EVERY registered query with an oracle SQL string, run the Spark
DataFrame builder and the DuckDB oracle over the same sf0.001 parquet
tables and compare row count, column names, and order-insensitive
values.  This is the driver's CORRECTNESS check run locally, so an
oracle mismatch surfaces in ``pytest`` before the driver ever runs.
Each query must also leave ``spark.conf.getAll`` as it found it.

Comparison logic lives in ``tools/check_oracle.py`` and is imported,
not duplicated.
"""

from __future__ import annotations

import os
import sys

import pytest

sys.path.insert(
    0, os.path.join(os.path.dirname(os.path.dirname(os.path.abspath(__file__))), "tools")
)

from check_oracle import compare, duck_con  # noqa: E402

from anomaly_detection_iiot_spark.queries import REGISTRY  # noqa: E402

ORACLE_NAMES = sorted(n for n, s in REGISTRY.items() if s.oracle is not None)
ROWS_ONLY_NAMES = sorted(n for n, s in REGISTRY.items() if s.oracle is None)


@pytest.fixture(scope="module")
def duck(sf_dir):
    con = duck_con(sf_dir)
    yield con
    con.close()


@pytest.mark.parametrize("name", ORACLE_NAMES)
def test_oracle_parity(spark, sf_dir, duck, name):
    spec = REGISTRY[name]
    conf_before = spark.conf.getAll
    spark_pd = spec.fn(spark, sf_dir).toPandas()
    assert spark.conf.getAll == conf_before, f"{name} left session conf changed"
    duck_pd = duck.execute(spec.oracle).fetchdf()
    problems = compare(spark_pd, duck_pd)
    assert not problems, f"{name}: " + "; ".join(problems)


@pytest.mark.parametrize("name", ROWS_ONLY_NAMES)
def test_rows_only_queries_execute(spark, sf_dir, name):
    spec = REGISTRY[name]
    conf_before = spark.conf.getAll
    df = spec.fn(spark, sf_dir)
    assert df.count() >= 0  # executes the full plan
    assert spark.conf.getAll == conf_before, f"{name} left session conf changed"
