"""Streaming ANN index maintenance: IVF cell assignment at ingest.

The batch index (operators/similarity.py::ivf_assign + a
Hive-partitioned ``bucket=<cell>`` at-rest layout) answers queries; THIS keeps it fresh: new embeddings
stream in, each is assigned its cell by the same centroid projection
(stateless — the centroids are the only "model"; they enter the plan
as a scalar subquery, re-read once per micro-batch), and
``foreachBatch`` appends the assigned rows into the ``bucket=<cell>``
partition layout. Queries keep probing with partition pruning while
the index grows.

Why this is the right 100 TB shape:

- assignment is a pure projection → stream-safe with no watermark, no
  state store, arbitrarily shardable;
- the append writes only the partitions the micro-batch touches;
- centroid DRIFT is observable from the same stream: per-batch cell
  population counts (``cell_load``) feed the retrain decision — when
  load skew crosses a threshold you re-run the batch centroid build
  (a16's centroid-update aggregate) and rewrite, exactly how IVF
  indexes are operated.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..operators import similarity


def assigned_stream(stream_vectors: DataFrame, centroids: DataFrame) -> DataFrame:
    """Stateless cell assignment on a stream — identical code path to
    batch (ivf_assign is one projection), so stream==batch holds by
    construction and is pinned by test."""
    return similarity.ivf_assign(stream_vectors, centroids)


def ingest_to_partitioned_index(
    stream_vectors: DataFrame,
    centroids: DataFrame,
    index_path: str,
    checkpoint: str,
):
    """Append each micro-batch into the bucket-partitioned index dir.
    Returns the StreamingQuery (caller awaits/stops).

    Recovery contract (exactly-once at rest): ``foreachBatch`` is
    at-least-once — after a crash between the sink write and the
    checkpoint commit, Structured Streaming REPLAYS the micro-batch
    with the SAME ``batch_id``. A plain ``mode('append')`` into the
    shared layout would duplicate every replayed vector. Instead each
    batch owns its own directory partition ``ingest_batch=<batch_id>``
    and writes it with ``mode('overwrite')``: a replay rewrites exactly
    the same directory, so duplicates are structurally impossible — no
    commit-marker sidecar, no read-repair. Readers just
    ``spark.read.parquet(index_path)``: partition discovery surfaces
    ``ingest_batch`` and ``bucket`` as columns, and bucket-level
    partition pruning is unaffected (pinned by
    tests/test_ann_ingest.py).
    """
    return _append_by_bucket(
        assigned_stream(stream_vectors, centroids), index_path, checkpoint
    )


def ingest_to_pq_index(
    stream_vectors: DataFrame,
    centroids: DataFrame,
    codebook: DataFrame,
    index_path: str,
    checkpoint: str,
    m: int = 8,
):
    """Streaming IVF-PQ index maintenance — the serving-side twin of
    incremental SemDeDup's ingest increment: each micro-batch is
    cell-assigned AND PQ-encoded in one stateless projection, and the
    (vec_id, bucket, codes) rows append into the partitioned at-rest
    index. A streamed-in batch is immediately queryable by the SAME ADC
    probe the batch index serves (operators/similarity.py::ivfpq_probe)
    with NO corpus re-encode — the index is only ever grown, never
    rebuilt. Same per-batch ``ingest_batch=<id>`` overwrite layout as
    ``ingest_to_partitioned_index``, so foreachBatch replays are
    exactly-once at rest."""
    coded = similarity.pq_codes(
        assigned_stream(stream_vectors, centroids), codebook, m=m
    ).select("vec_id", "bucket", "codes")
    return _append_by_bucket(coded, index_path, checkpoint)


def _append_by_bucket(stream: DataFrame, index_path: str, checkpoint: str):
    """Start the stream writing each micro-batch to
    ``<index_path>/ingest_batch=<batch_id>``, partitioned by ``bucket``
    (see ``ingest_to_partitioned_index`` for why this is exactly-once)."""

    def write_batch(batch_df: DataFrame, batch_id: int) -> None:
        (
            batch_df.repartition("bucket")
            .write.mode("overwrite")
            .partitionBy("bucket")
            .parquet(f"{index_path}/ingest_batch={batch_id}")
        )

    return (
        stream.writeStream.foreachBatch(write_batch)
        .option("checkpointLocation", checkpoint)
        .trigger(availableNow=True)
        .start()
    )


def cell_load(index: DataFrame) -> DataFrame:
    """Cell-population report over the at-rest index: the skew signal
    that triggers centroid retraining (load imbalance = recall loss on
    hot cells, wasted probes on cold ones)."""
    counts = index.groupBy("bucket").agg(F.count(F.lit(1)).alias("n"))
    tot = counts.agg(F.avg("n").alias("mean_n"))
    return counts.join(F.broadcast(tot)).select(
        "bucket",
        F.col("n").cast("bigint").alias("n"),
        F.round(F.col("n") / F.col("mean_n"), 6).alias("load_factor"),
    )
