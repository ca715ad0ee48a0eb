"""Spark 4 Python DataSource for the bearing snapshot layout
(sources/pyds.py): exact row parity with the CSV-scanner path
(sources/bearing.py::read_snapshot_dir), positional channel
projection, and partition-per-file parallelism."""

from __future__ import annotations

import numpy as np
import pytest

from anomaly_detection_iiot_spark.sources import bearing
from anomaly_detection_iiot_spark.sources.pyds import (
    BearingSnapshotDataSource,
)


@pytest.fixture()
def snapshot_dir(tmp_path):
    rng = np.random.default_rng(11)
    for i in range(3):
        stamp = f"2004.02.12.10.{i:02d}.00"
        np.savetxt(
            tmp_path / stamp,
            rng.normal(size=(50, 4)),
            fmt="%.17g",
            delimiter="\t",
        )
    (tmp_path / ".hidden").write_text("ignored\n")
    return str(tmp_path)


def _key(rows):
    return sorted(
        (r.file_ts, r.sample_idx) + tuple(
            r[c] for c in rows[0].__fields__ if c.startswith("vibration")
        )
        for r in rows
    )


def test_pyds_matches_csv_reader(spark, snapshot_dir):
    spark.dataSource.register(BearingSnapshotDataSource)
    got = (
        spark.read.format("bearing_snapshots")
        .option("path", snapshot_dir)
        .option("n_cols", 4)
        .load()
    )
    want = bearing.read_snapshot_dir(spark, snapshot_dir, n_cols=4).drop(
        "experiment", "file_rank"
    )
    assert _key(got.collect()) == _key(want.collect())
    # partition-per-file: no exchange anywhere in the plan (the CSV
    # path needs a per-file window for sample_idx; the source doesn't)
    assert "Exchange" not in got._jdf.queryExecution().executedPlan().toString()
    assert got.rdd.getNumPartitions() == 3


def test_pyds_positional_projection(spark, snapshot_dir):
    spark.dataSource.register(BearingSnapshotDataSource)
    got = (
        spark.read.format("bearing_snapshots")
        .option("path", snapshot_dir)
        .option("n_cols", 4)
        .option("channel_positions", "0,2")
        .load()
    )
    assert got.columns == ["vibration_0", "vibration_1", "file_ts", "sample_idx"]
    want = bearing.read_snapshot_dir(
        spark, snapshot_dir, n_cols=4, channel_positions=[0, 2]
    ).drop("experiment", "file_rank")
    assert _key(got.collect()) == _key(want.collect())


def test_pyds_stream_consumes_files_exactly_once(spark, snapshot_dir, tmp_path):
    """Streaming plugin: filenames are offsets; each file's rows arrive
    in exactly one micro-batch, late-arriving files are picked up, and
    nothing is re-emitted across batches."""
    import numpy as np

    spark.dataSource.register(BearingSnapshotDataSource)
    stream = (
        spark.readStream.format("bearing_snapshots")
        .option("path", snapshot_dir)
        .option("n_cols", 4)
        .load()
    )
    q = (
        stream.writeStream.format("memory")
        .queryName("pyds_stream")
        .option("checkpointLocation", str(tmp_path / "ckpt"))
        .start()
    )
    try:
        q.processAllAvailable()
        n1 = spark.sql("SELECT count(*) c FROM pyds_stream").collect()[0].c
        assert n1 == 3 * 50
        # a new snapshot lands (later stamp -> later offset)
        rng = np.random.default_rng(12)
        np.savetxt(
            f"{snapshot_dir}/2004.02.12.10.59.00",
            rng.normal(size=(50, 4)),
            fmt="%.17g",
            delimiter="\t",
        )
        q.processAllAvailable()
        n2 = spark.sql("SELECT count(*) c FROM pyds_stream").collect()[0].c
        assert n2 == 4 * 50
        # exactly-once: distinct (file_ts, sample_idx) == total rows
        d = spark.sql(
            "SELECT count(DISTINCT file_ts, sample_idx) c FROM pyds_stream"
        ).collect()[0].c
        assert d == n2
    finally:
        q.stop()
