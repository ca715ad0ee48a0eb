"""Streaming CDC apply into the merge-on-read upsert table
(sources/upsert.py) — the live half of the lakehouse pattern.

Each micro-batch of change rows lands as ONE immutable version
partition `_v=<batch_id + 1>` (batch ids start at 0; version 0 is the
base). That single choice buys the whole correctness story:

- **Exactly-once at rest**: foreachBatch is at-least-once — a replay
  after a crash re-runs the SAME batch_id, which idempotently rewrites
  the SAME `_v` directory (append_delta overwrite=True: this sink owns
  its versions by construction; independent writers use commit_delta's
  OCC allocation instead). The ann_ingest/sketch_stream layout, reused.
- **Orderedness**: Structured Streaming assigns batch ids
  monotonically, so arrival order IS version order and merge-on-read's
  last-writer-wins resolves concurrent updates to a key exactly as the
  stream delivered them.
- **O(delta) ingestion**: the base is never touched; a 100 TB table
  absorbs a CDC firehose at the cost of the firehose.

Change rows carry the user schema plus an `_op` column: 'upsert' or
'delete' (deletes need only the key columns populated).
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..sources import upsert

OP_COL = "_op"


def apply_cdc_stream(
    changes: DataFrame, table_path: str, checkpoint: str, key_cols: list[str]
):
    """Apply a stream of change rows (user columns + `_op`) to the
    upsert table at ``table_path``. Returns the StreamingQuery."""

    def write_batch(batch_df: DataFrame, batch_id: int) -> None:
        ups = batch_df.filter(F.col(OP_COL) != "delete").drop(OP_COL)
        dels = (
            batch_df.filter(F.col(OP_COL) == "delete")
            .select(*key_cols)
        )
        # overwrite=True: this sink OWNS _v=batch_id+1 by construction
        # (Structured Streaming assigns batch ids), so an at-least-once
        # replay idempotently rewrites its own partition; any OTHER
        # writer targeting this table must use commit_delta (OCC).
        upsert.append_delta(
            ups, table_path, int(batch_id) + 1, deletes=dels,
            overwrite=True,
        )

    return (
        changes.writeStream.foreachBatch(write_batch)
        .option("checkpointLocation", checkpoint)
        .trigger(availableNow=True)
        .start()
    )


def apply_cdc_with_ivm(
    changes: DataFrame,
    table_path: str,
    agg_path: str,
    checkpoint: str,
    key_cols: list[str],
    group_col: str,
    sum_col: str,
):
    """CDC apply + ONLINE incremental view maintenance: each
    micro-batch (a) lands as a version partition exactly like
    ``apply_cdc_stream`` and (b) folds its delta into a materialized
    per-``group_col`` (n, total) aggregate — the s16 IVM rule
    (+new − old, old resolved from the merged view BEFORE the batch
    applies) executed per batch instead of per rebuild. The aggregate
    table is overwritten atomically per batch (tmp + rename), sized
    |groups| — the dashboard never rescans the fact table.

    Restriction shared with every IVM system: ``sum_col`` must be an
    exact type (DECIMAL/int) so +/− round-trips; the test uses
    DECIMAL(18,2).

    Replay safety (foreachBatch is at-least-once, so BOTH
    partial-apply windows must be idempotent):
    - crash AFTER the delta landed but BEFORE the aggregate swap: the
      replay's 'old' view is pinned to ``as_of_version=batch_id`` —
      the state strictly before this batch — so it can never see the
      batch's own `_v=batch_id+1` partition and net the delta to zero;
    - crash AFTER the aggregate swap but BEFORE the checkpoint commit:
      the swapped aggregate carries an `_APPLIED_BATCH` marker; a
      replay that finds marker >= batch_id skips the fold (the
      aggregate already includes this batch) and only rewrites the
      idempotent delta partition;
    - crash INSIDE the swap itself (old renamed away, new not yet in
      place — agg_path momentarily missing): ``_recover_agg_swap`` at
      the next batch entry promotes the complete marker-carrying tmp,
      or restores old if tmp never finished."""
    spark = changes.sparkSession

    def write_batch(batch_df: DataFrame, batch_id: int) -> None:
        apply_ivm_batch(
            spark, batch_df, int(batch_id), table_path, agg_path,
            key_cols, group_col, sum_col,
        )

    return (
        changes.writeStream.foreachBatch(write_batch)
        .option("checkpointLocation", checkpoint)
        .trigger(availableNow=True)
        .start()
    )


_MARKER = "_APPLIED_BATCH"


def _recover_agg_swap(agg_path: str) -> None:
    """Crash recovery for the aggregate's two-rename swap. A crash between ``os.rename(agg_path, old)`` and
    ``os.rename(tmp, agg_path)`` leaves NO directory at agg_path; on
    replay _applied_through would return -1 and the cur-read would
    fail permanently. Restore preference when agg_path is missing:

    - ``tmp`` containing the _APPLIED_BATCH marker: the swap was
      in flight with the NEW aggregate fully written — promote it
      (its marker makes the replay a no-op fold, matching the
      post-swap path).
    - else ``old``: crash before tmp was complete — restore the
      pre-batch aggregate; the replay recomputes the fold against it
      (version-pinned old-state read keeps that idempotent).

    Called at apply_ivm_batch entry, so the next batch — replayed or
    new — self-heals before touching either partial-apply window."""
    import shutil

    if os.path.isdir(agg_path):
        return
    tmp, old = agg_path + ".tmp", agg_path + ".old"
    if os.path.isdir(tmp) and os.path.exists(os.path.join(tmp, _MARKER)):
        os.rename(tmp, agg_path)
        shutil.rmtree(old, ignore_errors=True)
    elif os.path.isdir(old):
        os.rename(old, agg_path)
        shutil.rmtree(tmp, ignore_errors=True)


def _applied_through(path: str) -> int:
    try:
        with open(os.path.join(path, _MARKER)) as fh:
            return int(fh.read().strip())
    except (OSError, ValueError):
        return -1


def apply_ivm_batch(
    spark,
    batch_df: DataFrame,
    batch_id: int,
    table_path: str,
    agg_path: str,
    key_cols: list[str],
    group_col: str,
    sum_col: str,
) -> None:
    """One CDC+IVM batch application — module-level so replay windows
    can be driven directly in tests (see ``apply_cdc_with_ivm`` for
    the semantics and the two idempotence guards)."""
    import shutil

    _recover_agg_swap(agg_path)
    batch_df = batch_df.localCheckpoint(eager=True)
    ups = batch_df.filter(F.col(OP_COL) != "delete").drop(OP_COL)
    dels = batch_df.filter(F.col(OP_COL) == "delete").select(*key_cols)
    if _applied_through(agg_path) >= batch_id:
        # post-swap replay: aggregate already folded this batch
        upsert.append_delta(
            ups, table_path, batch_id + 1, deletes=dels, overwrite=True
        )
        return
    changed_keys = (
        batch_df.select(*key_cols).distinct().localCheckpoint(eager=True)
    )
    # old state of every touched key, STRICTLY BEFORE this batch:
    # version-pinned so a replay after a partial apply (our own
    # _v=batch_id+1 already on disk) resolves the same 'old' the
    # first attempt saw, instead of old==new netting to zero
    old = upsert.read_merged(
        spark, table_path, key_cols, as_of_version=batch_id
    ).join(changed_keys, key_cols, "left_semi")
    minus = old.groupBy(group_col).agg(
        (-F.count(F.lit(1))).alias("dn"),
        (-F.sum(sum_col)).alias("dt"),
    )
    plus = ups.groupBy(group_col).agg(
        F.count(F.lit(1)).alias("dn"), F.sum(sum_col).alias("dt")
    )
    cur = spark.read.parquet(agg_path).select(
        group_col, F.col("n").alias("dn"), F.col("total").alias("dt")
    )
    new_agg = (
        cur.unionByName(minus.unionByName(plus))
        .groupBy(group_col)
        .agg(F.sum("dn").alias("n"), F.sum("dt").alias("total"))
        .filter(F.col("n") > 0)
    )
    tmp = agg_path + ".tmp"
    shutil.rmtree(tmp, ignore_errors=True)
    new_agg.write.mode("overwrite").parquet(tmp)
    with open(os.path.join(tmp, _MARKER), "w") as fh:
        fh.write(str(batch_id))
    upsert.append_delta(
        ups, table_path, batch_id + 1, deletes=dels, overwrite=True
    )
    old_dir = agg_path + ".old"
    shutil.rmtree(old_dir, ignore_errors=True)
    os.rename(agg_path, old_dir)
    os.rename(tmp, agg_path)
    shutil.rmtree(old_dir, ignore_errors=True)
