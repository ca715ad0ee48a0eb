"""Bucketed co-located join: the physical plan must contain NO shuffle
exchange for a join on the bucket key, and results must equal the
plain join."""

from __future__ import annotations

import pandas as pd
import pytest

from anomaly_detection_iiot_spark.session import scoped_conf
from anomaly_detection_iiot_spark.sources import bucketed


@pytest.fixture(scope="module")
def bucketed_tables(spark):
    # warehouse dir is a static conf; tables land in ./spark-warehouse
    # (gitignored) and are dropped on teardown
    orders = spark.createDataFrame(
        pd.DataFrame({"okey": range(200), "prio": [f"p{i % 3}" for i in range(200)]})
    )
    items = spark.createDataFrame(
        pd.DataFrame(
            {
                "okey": [i % 200 for i in range(1000)],
                "qty": [float(i % 7) for i in range(1000)],
            }
        )
    )
    bucketed.write_bucketed(orders, "b_orders", "okey", num_buckets=8, sort_col="okey")
    bucketed.write_bucketed(items, "b_items", "okey", num_buckets=8, sort_col="okey")
    yield "b_orders", "b_items"
    spark.sql("DROP TABLE IF EXISTS b_orders")
    spark.sql("DROP TABLE IF EXISTS b_items")


def test_bucketed_join_has_no_exchange(spark, bucketed_tables):
    lt, rt = bucketed_tables
    # disable broadcast so the join would otherwise be a shuffle join
    with scoped_conf(spark, {"spark.sql.autoBroadcastJoinThreshold": "-1"}):
        joined = bucketed.bucketed_join(spark, lt, rt, "okey")
        joined.write.mode("overwrite").format("noop").save()
        assert bucketed.count_exchanges(joined) == 0
        plan = bucketed.plan_string(joined)
        assert "SortMergeJoin" in plan or "ShuffledHashJoin" in plan


def test_bucketed_join_correct(spark, bucketed_tables):
    lt, rt = bucketed_tables
    got = (
        bucketed.bucketed_join(spark, lt, rt, "okey")
        .groupBy("prio")
        .sum("qty")
        .toPandas()
        .sort_values("prio")
        .reset_index(drop=True)
    )
    plain = (
        spark.table(lt)
        .join(spark.table(rt), "okey")
        .groupBy("prio")
        .sum("qty")
        .toPandas()
        .sort_values("prio")
        .reset_index(drop=True)
    )
    pd.testing.assert_frame_equal(got, plain)
