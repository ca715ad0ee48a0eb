"""The event-log metrics table used by tools/scale_probe.py (the S10
resource-log scan is covered by the s10 oracle parity test)."""

import json
import os

from anomaly_detection_iiot_spark.sources import resource_log as rl


def _task_end_line(stage, task, run, shuffle_remote, shuffle_local, write):
    return json.dumps(
        {
            "Event": "SparkListenerTaskEnd",
            "Stage ID": stage,
            "Task Info": {"Task ID": task, "Executor ID": "7"},
            "Task Metrics": {
                "Executor Run Time": run,
                "JVM GC Time": 2,
                "Peak Execution Memory": 1024,
                "Input Metrics": {"Bytes Read": 100},
                "Output Metrics": {"Bytes Written": 10},
                "Shuffle Read Metrics": {
                    "Remote Bytes Read": shuffle_remote,
                    "Local Bytes Read": shuffle_local,
                },
                "Shuffle Write Metrics": {"Shuffle Bytes Written": write},
            },
        }
    )


def test_event_log_metrics_table(spark, tmp_path):
    log = tmp_path / "eventlog"
    lines = [
        json.dumps({"Event": "SparkListenerApplicationStart", "App Name": "x"}),
        _task_end_line(0, 0, 50, 10, 20, 5),
        _task_end_line(0, 1, 70, 0, 0, 7),
        _task_end_line(1, 2, 30, 100, 200, 0),
        json.dumps({"Event": "SparkListenerStageCompleted"}),
    ]
    log.write_text("\n".join(lines) + "\n")

    tm = rl.task_metrics_from_event_log(spark, str(log))
    rows = {r.task_id: r for r in tm.collect()}
    assert set(rows) == {0, 1, 2}  # non-TaskEnd events filtered out
    assert rows[0].shuffle_read_bytes == 30
    assert rows[0].shuffle_write_bytes == 5
    assert rows[2].stage_id == 1 and rows[2].run_time_ms == 30
    assert rows[1].executor_id == "7"

    summary = {r.stage_id: r for r in rl.stage_metrics_summary(tm).collect()}
    assert summary[0].n_tasks == 2
    assert summary[0].run_time_ms == 120
    assert summary[0].shuffle_read_bytes == 30
    assert summary[0].shuffle_write_bytes == 12
    assert summary[1].shuffle_read_bytes == 300


_EVENTLOG_JOB = """
import sys
from pyspark.sql import SparkSession
spark = (
    SparkSession.builder.master("local[2]")
    .appName("eventlog-probe")
    .config("spark.sql.shuffle.partitions", "4")
    .config("spark.eventLog.enabled", "true")
    .config("spark.eventLog.dir", sys.argv[1])
    .config("spark.eventLog.rolling.enabled", "false")
    .config("spark.eventLog.compress", "false")
    .config("spark.ui.enabled", "false")
    .getOrCreate()
)
# a job with a real shuffle so TaskEnd lines carry shuffle metrics
spark.range(0, 10000).selectExpr("id % 7 AS k", "id AS v").groupBy(
    "k"
).sum("v").collect()
print("APPID", spark.sparkContext.applicationId)
spark.stop()
"""


def test_event_log_metrics_from_real_session(spark, tmp_path):
    """S10's task/stage metrics table against a REAL event log, not
    synthetic lines: event logging is a static conf, so a dedicated
    session runs in a subprocess (one SparkContext per JVM — same
    isolation scale_probe uses), writes its log to a tmpdir, and the
    shared session parses it back through the same reader the 100x
    probe uses (sources/resource_log.py)."""
    import subprocess
    import sys

    log_dir = str(tmp_path / "eventlog")
    os.makedirs(log_dir)
    proc = subprocess.run(
        [sys.executable, "-c", _EVENTLOG_JOB, log_dir],
        capture_output=True,
        text=True,
        timeout=300,
    )
    assert proc.returncode == 0, proc.stderr[-2000:]
    app_id = next(
        line.split()[1]
        for line in proc.stdout.splitlines()
        if line.startswith("APPID ")
    )

    tm = rl.task_metrics_from_event_log(spark, os.path.join(log_dir, app_id))
    rows = tm.collect()
    assert len(rows) > 0
    # the groupBy job shuffled: some task wrote and some task read bytes
    assert sum(r.shuffle_write_bytes for r in rows) > 0
    assert sum(r.shuffle_read_bytes for r in rows) > 0
    assert all(r.run_time_ms >= 0 for r in rows)

    summary = rl.stage_metrics_summary(tm).collect()
    assert len(summary) >= 2  # map + reduce stages at minimum
    assert sum(s.n_tasks for s in summary) == len(rows)
