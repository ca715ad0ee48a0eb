"""Sources layer tests against synthesized fixture files (tmp_path):
bearing snapshot dirs, KBM CSVs, JSON sinks, training-log scanner."""

from __future__ import annotations

import pytest

from anomaly_detection_iiot_spark.sources import bearing, kbm, sinks


@pytest.fixture()
def snapshot_dir(tmp_path):
    """3 snapshot files, filename = timestamp, 6 rows x 4 channels."""
    stamps = ["2004.02.12.10.32.39", "2004.02.12.10.42.39", "2004.02.12.10.52.39"]
    for fi, stamp in enumerate(stamps):
        rows = [
        "\t".join(f"{fi}.{r}{c}" for c in range(4)) for r in range(6)
        ]
        (tmp_path / stamp).write_text("\n".join(rows) + "\n")
    return str(tmp_path), stamps


def test_read_snapshot_dir(spark, snapshot_dir):
    path, stamps = snapshot_dir
    df = bearing.read_snapshot_dir(spark, path, n_cols=4, experiment="e2")
    rows = df.orderBy("file_ts", "sample_idx").collect()
    assert len(rows) == 18
    # filename became the event timestamp
    assert rows[0].file_ts.strftime("%Y.%m.%d.%H.%M.%S") == stamps[0]
    # per-file sample_idx restarts and preserves in-file order
    assert [r.sample_idx for r in rows[:6]] == list(range(6))
    assert rows[0].vibration_0 == pytest.approx(0.00)
    assert rows[6].vibration_1 == pytest.approx(1.01)


def test_channel_position_projection(spark, snapshot_dir):
    path, _ = snapshot_dir
    df = bearing.read_snapshot_dir(
        spark, path, n_cols=4, channel_positions=[0, 2], experiment="e1"
    )
    assert {"vibration_0", "vibration_1"} <= set(df.columns)
    r = df.filter("sample_idx = 1").orderBy("file_ts").collect()[0]
    # vibration_1 must be source column c2
    assert r.vibration_1 == pytest.approx(0.12)


def test_to_canonical_long(spark, snapshot_dir):
    path, _ = snapshot_dir
    df = bearing.read_snapshot_dir(spark, path, n_cols=4, experiment="e2")
    long = bearing.to_canonical_long(df, n_channels=4, rows_per_file=6)
    assert long.count() == 18 * 4
    per_channel = long.groupBy("channel").count().collect()
    assert all(r["count"] == 18 for r in per_channel)
    # global_idx is contiguous per channel across files
    ch0 = long.filter("channel = '0'").orderBy("global_idx").collect()
    assert [r.global_idx for r in ch0] == list(range(18))


def test_canonical_long_scans_the_corpus_once(spark, snapshot_dir):
    """File ranks come from the read's file listing, so the ingest plan
    scans the CSV files once (a distinct over the data would add a
    second full scan)."""
    path, _ = snapshot_dir
    df = bearing.read_snapshot_dir(spark, path, n_cols=4, experiment="e2")
    long = bearing.to_canonical_long(df, n_channels=4, rows_per_file=6)
    plan = long._jdf.queryExecution().executedPlan().toString()
    assert plan.count("FileScan csv") == 1


def test_snapshot_rows_shuffle_by_stamp_not_path(spark, snapshot_dir):
    """The per-file row_number shuffles on the fixed-width filename
    stamp, not the file path, so shuffle bytes do not depend on where
    the files live."""
    path, _ = snapshot_dir
    df = bearing.read_snapshot_dir(spark, path, n_cols=4, experiment="e2")
    plan = df._jdf.queryExecution().executedPlan().toString()
    exchanges = [ln for ln in plan.splitlines() if "Exchange hashpartitioning" in ln]
    assert len(exchanges) == 1 and "hashpartitioning(_stamp#" in exchanges[0]


def test_global_idx_ranks_stamps_and_keeps_empty_file_slot(spark, tmp_path):
    """global_idx = stamp rank x rows_per_file + sample_idx, whatever
    order the files were written in and however uneven the gaps between
    stamps; a zero-byte file keeps its rank slot, and a file without a
    stamp in its name is not a snapshot."""
    stamps = [
        "2004.02.12.10.32.39",
        "2004.02.12.10.32.40",  # zero-byte: keeps rank 1
        "2004.02.12.23.05.00",
        "2004.03.01.00.00.00",
    ]
    for fi, stamp in reversed(list(enumerate(stamps))):
        body = "" if fi == 1 else "".join(
            f"{fi}.{r}\t{r}\n" for r in range(5)
        )
        (tmp_path / stamp).write_text(body)
    (tmp_path / "README").write_text("9.0\t9.0\n")
    df = bearing.read_snapshot_dir(spark, str(tmp_path), n_cols=2)
    long = bearing.to_canonical_long(df, n_channels=2, rows_per_file=5)
    rows = long.collect()
    assert len(rows) == 3 * 5 * 2
    rank = {stamp: i for i, stamp in enumerate(stamps)}
    for r in rows:
        want = rank[r.file_ts.strftime("%Y.%m.%d.%H.%M.%S")] * 5 + r.sample_idx
        assert r.global_idx == want
    assert sorted({r.global_idx for r in rows if r.channel == "0"}) == (
        list(range(5)) + list(range(10, 20))
    )


def test_kbm_reader(spark, tmp_path):
    csv = tmp_path / "kbm.csv"
    csv.write_text(
        "vibration-x,vibration-y,vibration-z,tags,time\n"
        '1.0,2.0,3.0,"machine=p1 temperature=21.5 site=x",2021-03-01 10:00:01.123\n'
        '4.0,5.0,6.0,"machine=p1 temperature=22.0 site=x",2021-03-01 10:00:00.500\n'
    )
    df = kbm.read_kbm_csv(spark, str(csv))
    rows = df.collect()
    assert [r.temperature for r in rows] == [22.0, 21.5]  # sorted by ts
    assert rows[0].time_sec == "2021-03-01 10:00:00"
    assert rows[0].vibration_x == 4.0


def test_kbm_multiformat_ts(spark):
    import pandas as pd

    df = spark.createDataFrame(pd.DataFrame({"s": ["2021-03-01 10:00:00", "01/03/2021 10:00:00"]}))
    got = df.select(kbm.parse_ts_multi(df.s).alias("ts")).collect()
    assert got[0].ts == got[1].ts


def test_anomaly_labels(spark, tmp_path):
    csv = tmp_path / "kbm2.csv"
    csv.write_text(
        "vibration-x,vibration-y,vibration-z,tags,time\n"
        + "\n".join(
            f'1,1,1,"temperature={20 + i}",2021-03-01 {10 + i}:00:00.0'
            for i in range(4)
        )
        + "\n"
    )
    df = kbm.read_kbm_csv(spark, str(csv))
    labeled = kbm.with_anomaly_labels(df, ["2021-03-01 12:00:00"])
    got = {r.time_sec: r.is_anomaly for r in labeled.collect()}
    assert got == {
        "2021-03-01 10:00:00": 0,
        "2021-03-01 11:00:00": 0,
        "2021-03-01 12:00:00": 1,
        "2021-03-01 13:00:00": 0,
    }


def test_json_sink_roundtrip(spark, tmp_path):
    import pandas as pd

    df = spark.createDataFrame(
        pd.DataFrame({"model": ["lstm", "fft"], "mse": [[0.1, 0.2], [0.3, 0.4]]})
    )
    path = str(tmp_path / "results")
    sinks.write_results_json(df, path)
    back = sinks.read_results_json(spark, path)
    assert back.count() == 2
    assert set(back.columns) == {"model", "mse"}


def test_parse_training_log(spark, tmp_path):
    log = tmp_path / "train.log"
    log.write_text(
        "Epoch 1/3\n"
        "100/100 [====] - 5s - loss: 0.5 - val_loss: 0.6\n"
        "Epoch 2/3\n"
        "100/100 [====] - 5s - loss: 0.3 - val_loss: 0.4\n"
        "Epoch 3/3\n"
        "100/100 [====] - 5s - loss: 0.2\n"
    )
    got = (
        sinks.parse_training_log(spark, str(log))
        .orderBy("epoch")
        .collect()
    )
    assert [(r.epoch, r.loss, r.val_loss) for r in got] == [
        (1, 0.5, 0.6),
        (2, 0.3, 0.4),
        (3, 0.2, None),
    ]


def test_schema_evolution_merge_and_pushdown(spark, tmp_path):
    """Data-lake schema evolution: v2 files add a column; a mergeSchema
    read unifies the schema, v1 rows surface NULL for the new column,
    and filters on BOTH old and new columns still push to the scan."""
    import os

    import pandas as pd
    from pyspark.sql import functions as F

    path = str(tmp_path / "evolving")
    os.makedirs(path)
    pd.DataFrame({"id": [1, 2], "v": [10.0, 20.0]}).to_parquet(
        os.path.join(path, "v1.parquet")
    )
    pd.DataFrame(
        {"id": [3, 4], "v": [30.0, 40.0], "quality": [0.9, 0.2]}
    ).to_parquet(os.path.join(path, "v2.parquet"))

    df = spark.read.option("mergeSchema", "true").parquet(path)
    assert set(df.columns) == {"id", "v", "quality"}
    rows = {r["id"]: r for r in df.collect()}
    assert rows[1]["quality"] is None and rows[3]["quality"] == 0.9

    filtered = df.filter((F.col("v") > 15.0) & (F.col("quality") > 0.5))
    plan = filtered._jdf.queryExecution().executedPlan().toString()
    assert "PushedFilters" in plan and "GreaterThan(v,15.0)" in plan
    assert [r["id"] for r in filtered.collect()] == [3]


class TestKbmQuarantine:
    def _write(self, tmp_path):
        p = tmp_path / "kbm.csv"
        p.write_text(
            "vibration-x,vibration-y,vibration-z,tags,time\n"
            "0.1,0.2,0.3,machine=a temperature=21.5,2022-01-01 00:00:01.5\n"
            "0.4,0.5,0.6,machine=a temperature=22.0,01/01/2022 00:00:02\n"
            "not_a_number,0.5,0.6,machine=a temperature=22.0,2022-01-01 00:00:03\n"
            "0.7,0.8,0.9,machine=a temperature=23.0,garbage-timestamp\n"
            "0.1,0.2\n"  # structurally short row
        )
        return str(p)

    def test_split_and_reasons(self, spark, tmp_path):
        from anomaly_detection_iiot_spark.sources.kbm import (
            read_kbm_csv_quarantined,
        )

        good, quar = read_kbm_csv_quarantined(spark, self._write(tmp_path))
        g = good.collect()
        assert [r.vibration_x for r in g] == [0.1, 0.4]
        assert all(r.ts is not None for r in g)
        assert {r.temperature for r in g} == {21.5, 22.0}
        reasons = sorted(r.reason for r in quar.collect())
        assert reasons == ["bad_number", "bad_timestamp", "malformed_row"]

    def test_good_rows_match_failfast_reader_on_clean_input(
        self, spark, tmp_path
    ):
        from anomaly_detection_iiot_spark.sources.kbm import (
            read_kbm_csv,
            read_kbm_csv_quarantined,
        )

        p = tmp_path / "clean.csv"
        p.write_text(
            "vibration-x,vibration-y,vibration-z,tags,time\n"
            "0.1,0.2,0.3,temperature=21.5,2022-01-01 00:00:01.5\n"
            "0.4,0.5,0.6,temperature=22.0,2022-01-01 00:00:02.0\n"
        )
        good, quar = read_kbm_csv_quarantined(spark, str(p))
        assert quar.count() == 0
        a = [tuple(r) for r in good.collect()]
        b = [tuple(r) for r in read_kbm_csv(spark, str(p)).collect()]
        assert a == b

    def test_streaming_split_equals_batch(self, spark, tmp_path):
        """Two CSV files landed in a watched dir: the streaming
        quarantine split must yield exactly the batch reader's rows on
        both branches (modulo the batch global order)."""
        from anomaly_detection_iiot_spark.sources.kbm import (
            read_kbm_csv_quarantined,
            read_kbm_csv_quarantined_stream,
        )

        d = tmp_path / "landing"
        d.mkdir()
        (d / "a.csv").write_text(
            "vibration-x,vibration-y,vibration-z,tags,time\n"
            "0.1,0.2,0.3,temperature=21.5,2022-01-01 00:00:01.5\n"
            "oops,0.5,0.6,temperature=22.0,2022-01-01 00:00:03\n"
        )
        (d / "b.csv").write_text(
            "vibration-x,vibration-y,vibration-z,tags,time\n"
            "0.4,0.5,0.6,temperature=22.0,01/01/2022 00:00:02\n"
            "0.7,0.8,0.9,temperature=23.0,not-a-time\n"
        )
        good_s, quar_s = read_kbm_csv_quarantined_stream(spark, str(d))
        for sdf, name in ((good_s, "kbmq_good"), (quar_s, "kbmq_quar")):
            q = (
                sdf.writeStream.format("memory")
                .queryName(name)
                .outputMode("append")
                .trigger(availableNow=True)
                .start()
            )
            q.awaitTermination()
        good_b, quar_b = read_kbm_csv_quarantined(spark, str(d))

        def rows(df):
            return sorted(
                tuple(r) for r in df.collect()
            )

        assert rows(spark.table("kbmq_good")) == rows(good_b)
        assert rows(spark.table("kbmq_quar")) == rows(quar_b)
        assert len(rows(spark.table("kbmq_good"))) == 2
        reasons = sorted(r.reason for r in spark.table("kbmq_quar").collect())
        assert reasons == ["bad_number", "bad_timestamp"]
