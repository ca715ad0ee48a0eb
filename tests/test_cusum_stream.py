"""Online CUSUM (streaming/cusum_stream.py) must emit exactly the
alarm rows the batch w22 kernel (queries/extras.py::cusum_flags)
flags, across micro-batch boundaries, with the recurrence state (P,
minP, baseline) carried between batches."""

from __future__ import annotations

import os
import time
from datetime import datetime, timedelta

import pandas as pd

from anomaly_detection_iiot_spark.queries import extras
from anomaly_detection_iiot_spark.queries.extras import cusum_flags
from anomaly_detection_iiot_spark.streaming.cusum_stream import (
    cusum_alarm_stream,
)

_T0 = datetime(2024, 3, 1, 0, 0, 0)
_BASE_K = 5


def _series(user, values):
    return [
        {
            "ts": _T0 + timedelta(minutes=i),
            "event_id": user * 1000 + i,
            "user_id": user,
            "value": float(v),
        }
        for i, v in enumerate(values)
    ]


def _rows():
    # user 1: stable baseline then a sustained +8 shift -> alarms
    u1 = _series(1, [10.0, 10.2, 9.8, 10.1, 9.9] + [18.0] * 6)
    # user 2: flat forever -> no alarm
    u2 = _series(2, [5.0, 5.1, 4.9, 5.05, 4.95] + [5.0] * 6)
    # user 3: shift arrives in the LAST micro-batch only, so its
    # recurrence state must survive two batch boundaries
    u3 = _series(3, [0.0, 0.1, -0.1, 0.05, -0.05, 0.0, 0.0, 12.0, 12.0])
    # user 4: never reaches base_k samples -> baseline never fixes
    u4 = _series(4, [1.0, 2.0, 3.0])
    return u1 + u2 + u3 + u4


def _write_chunks(tmp_path, rows, n_chunks=3) -> str:
    out = str(tmp_path / "cusum_stream_in")
    os.makedirs(out)
    rows = sorted(rows, key=lambda r: (r["ts"], r["event_id"]))
    per = (len(rows) + n_chunks - 1) // n_chunks
    now = time.time()
    for i in range(n_chunks):
        chunk = rows[i * per : (i + 1) * per]
        p = os.path.join(out, f"chunk_{i}.parquet")
        pd.DataFrame(chunk).to_parquet(
            p, coerce_timestamps="us", allow_truncated_timestamps=True
        )
        os.utime(p, (now - 60 + i, now - 60 + i))
    return out


def test_cusum_stream_equals_batch_kernel(spark, tmp_path, monkeypatch):
    import tempfile

    indir = _write_chunks(tmp_path, _rows())
    stream = (
        spark.readStream.schema(
            "ts timestamp, event_id bigint, user_id bigint, value double"
        )
        .option("maxFilesPerTrigger", 1)
        .parquet(indir)
    )
    sdf = cusum_alarm_stream(stream, base_k=_BASE_K)
    ckpt = tempfile.mkdtemp(prefix="cusum_ckpt_")
    q = (
        sdf.writeStream.format("memory")
        .queryName("cusum_alarms")
        .outputMode("append")
        .option("checkpointLocation", ckpt)
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(180)
    got = {
        (r.user_id, r.i, round(r.s, 6))
        for r in spark.table("cusum_alarms").collect()
    }

    batch = spark.createDataFrame(pd.DataFrame(_rows()))
    monkeypatch.setattr(extras, "CUSUM_BASE_K", _BASE_K)
    flags = cusum_flags(batch).filter("alarm")
    # the stream contract excludes keys that never reach base_k samples
    want = {
        (r.user_id, r.i, round(r.S, 6))
        for r in flags.collect()
        if r.user_id != 4
    }
    assert got == want
    assert {u for u, _, _ in got} == {1, 3}  # shift users alarm, flat doesn't
    # user 3's alarms all sit in the final chunk's samples — state
    # (baseline + P/minP) crossed two micro-batch boundaries to get there
    assert all(i >= 8 for u, i, _ in got if u == 3)


def test_cusum_stream_state_is_key_bounded(spark, tmp_path):
    """The operator's state is one row per key regardless of stream
    length: 10x the samples per key must leave numRowsTotal at exactly
    the key count (the fixed-bytes-per-key claim, asserted from the
    query's own progress metrics)."""
    import json as _json
    import tempfile

    def drain(rows, name):
        indir = _write_chunks(tmp_path / name, rows)
        stream = (
            spark.readStream.schema(
                "ts timestamp, event_id bigint, user_id bigint, value double"
            )
            .option("maxFilesPerTrigger", 1)
            .parquet(indir)
        )
        q = (
            cusum_alarm_stream(stream, base_k=_BASE_K)
            .writeStream.format("memory")
            .queryName(name)
            .outputMode("append")
            .option("checkpointLocation", tempfile.mkdtemp())
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination(180)
        progress = [_json.loads(p.json) for p in q.recentProgress]
        return max(
            sum(op["numRowsTotal"] for op in p.get("stateOperators", []))
            for p in progress
            if p.get("stateOperators")
        )

    short = [r for u in (1, 2, 3) for r in _series(u, [float(i % 7) for i in range(8)])]
    long = [r for u in (1, 2, 3) for r in _series(u, [float(i % 7) for i in range(80)])]
    s1 = drain(short, "cusum_state_short")
    s10 = drain(long, "cusum_state_long")
    assert s1 == s10 == 3  # one state row per key, never per sample
