"""Stream-stream watermarked interval join (streaming/join_stream.py):
the streaming result must equal the batch join row-for-row across a
multi-micro-batch drain, and late rows beyond the watermark + horizon
must be evicted from state (not matched)."""

from __future__ import annotations

import os
import time
from datetime import datetime, timedelta

import pandas as pd

from anomaly_detection_iiot_spark.streaming.join_stream import (
    split_event_streams,
    view_click_pairs,
)

_SCHEMA = "event_id bigint, ts timestamp, user_id bigint, event_type string"
_T0 = datetime(2024, 3, 1, 12, 0, 0)


def _mk(eid, minutes, user, etype):
    return {
        "event_id": eid,
        "ts": _T0 + timedelta(minutes=minutes),
        "user_id": user,
        "event_type": etype,
    }


def _write_chunks(tmp_path, chunks) -> str:
    out = str(tmp_path / "events_stream")
    os.makedirs(out)
    now = time.time()
    for i, rows in enumerate(chunks):
        p = os.path.join(out, f"chunk_{i}.parquet")
        # micro-second timestamps: pandas defaults to INT64 nanos,
        # which Spark's vectorized reader refuses as `timestamp`
        pd.DataFrame(rows).to_parquet(
            p, coerce_timestamps="us", allow_truncated_timestamps=True
        )
        os.utime(p, (now - 60 + i, now - 60 + i))
    return out


def _drain(sdf, name):
    q = (
        sdf.writeStream.format("memory")
        .queryName(name)
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()


def test_stream_join_equals_batch(spark, tmp_path):
    # views and their clicks split ACROSS micro-batches so matches must
    # come out of buffered state, not a single-batch join
    chunks = [
        [
            _mk(1, 0, 7, "view"),
            _mk(2, 5, 7, "click"),      # in-horizon, same batch
            _mk(3, 0, 8, "view"),
            _mk(4, 90, 9, "view"),      # click arrives in chunk 1
        ],
        [
            _mk(5, 30, 8, "click"),     # matches view 3 from chunk 0
            _mk(6, 95, 9, "click"),     # matches view 4
            _mk(7, 100, 7, "click"),    # 100min after view 1 -> NO match
            _mk(8, 120, 10, "view"),
        ],
        [
            _mk(9, 150, 10, "click"),   # matches view 8 (30 min lag)
            _mk(10, 150, 11, "click"),  # no view at all
        ],
    ]
    src = _write_chunks(tmp_path, chunks)

    batch = view_click_pairs(
        *split_event_streams(spark.read.schema(_SCHEMA).parquet(src))
    )
    stream = view_click_pairs(
        *split_event_streams(
            spark.readStream.schema(_SCHEMA)
            .option("maxFilesPerTrigger", 1)
            .parquet(src)
        )
    )
    _drain(stream, "vc_pairs")
    got = spark.table("vc_pairs")

    expected = {(7, 1, 2), (8, 3, 5), (9, 4, 6), (10, 8, 9)}
    assert {
        (r.user_id, r.view_id, r.click_id) for r in batch.collect()
    } == expected
    assert got.count() == batch.count() == 4
    assert got.exceptAll(batch).count() == 0
    assert batch.exceptAll(got).count() == 0
    # lag is integer microseconds
    lags = {r.click_id: r.lag_us for r in got.collect()}
    assert lags[2] == 5 * 60 * 1_000_000


def test_stream_join_drops_click_beyond_watermark(spark, tmp_path):
    # chunks 1-2 advance event time far past chunk 3's late click ON
    # BOTH BRANCHES (the join watermark is the min over the two sides —
    # a view-only chunk would leave the click-side watermark at the
    # epoch and nothing would ever be late). TWO advancing chunks are
    # needed: the watermark computed at the end of chunk 1 takes effect
    # in chunk 2's batch, and state eviction runs at END of that batch
    # — so the stale view is gone only from chunk 3 onward (stream-
    # stream joins evict state; they do not promise to drop late input
    # rows, which can still match any state that survives).
    chunks = [
        [_mk(1, 0, 7, "view")],
        [_mk(2, 600, 98, "view"),           # view-side watermark -> ~480
         _mk(4, 605, 99, "click")],         # click-side -> ~485; no pair
        [_mk(5, 610, 98, "view"),           # buffer batch: eviction of
         _mk(6, 615, 99, "click")],         # view 1 runs under wm=480
        [_mk(3, 10, 7, "click")],           # 10min lag, but way late
    ]
    src = _write_chunks(tmp_path, chunks)
    stream = view_click_pairs(
        *split_event_streams(
            spark.readStream.schema(_SCHEMA)
            .option("maxFilesPerTrigger", 1)
            .parquet(src)
        )
    )
    _drain(stream, "vc_late")
    assert spark.table("vc_late").count() == 0

    # the watermark is a no-op on batch: the match IS found
    batch = view_click_pairs(
        *split_event_streams(spark.read.schema(_SCHEMA).parquet(src))
    )
    assert batch.count() == 1
