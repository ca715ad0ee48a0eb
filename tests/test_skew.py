"""Skew guards: the tiled near-duplicate path equals the one-gram-matrix
path, and owned caches hold one live frame per site."""

from __future__ import annotations

import numpy as np
import pandas as pd
from pyspark.sql import functions as F


# --- blocked_neardup_pairs tile guard (r2 verdict item 2) --------------------

def _block_vectors(seed=17):
    """One pathological 50-vector block, one small block, one singleton."""
    rng = np.random.default_rng(seed)
    rows = []
    for i in range(50):
        base = rng.normal(size=8)
        # clusters of near-identical vectors so plenty of pairs pass
        if i % 5 == 0:
            base = np.ones(8) + rng.normal(scale=0.01, size=8)
        rows.append({"vec_id": i, "label": 1, "embedding": base.tolist()})
    for i in range(4):
        rows.append(
            {"vec_id": 100 + i, "label": 2,
             "embedding": rng.normal(size=8).tolist()}
        )
    rows.append({"vec_id": 200, "label": 3,
                 "embedding": rng.normal(size=8).tolist()})
    return pd.DataFrame(rows)


def test_blocked_neardup_guard_matches_unguarded(spark, monkeypatch):
    """A block far larger than MAX_BLOCK_ROWS must produce EXACTLY the
    same pairs through the tiled path as through one gram matrix."""
    from anomaly_detection_iiot_spark.operators import similarity

    df = spark.createDataFrame(_block_vectors())
    unguarded = similarity.blocked_neardup_pairs(df, min_cosine=0.1)
    monkeypatch.setattr(similarity, "MAX_BLOCK_ROWS", 8)
    guarded = similarity.blocked_neardup_pairs(df, min_cosine=0.1)
    a = sorted(map(tuple, guarded.collect()))
    b = sorted(map(tuple, unguarded.collect()))
    assert a == b
    assert len(a) > 50  # the pathological block actually generated pairs


def test_blocked_neardup_tile_boundaries(spark, monkeypatch):
    """Pairs that straddle a chunk boundary (off-diagonal tiles) must
    appear exactly once with vec_a < vec_b."""
    from anomaly_detection_iiot_spark.operators import similarity

    # 10 identical vectors -> all 45 pairs, chunk size 3 -> 4 chunks
    pdf = pd.DataFrame(
        {
            "vec_id": range(10),
            "label": [7] * 10,
            "embedding": [[1.0, 2.0, 3.0]] * 10,
        }
    )
    monkeypatch.setattr(similarity, "MAX_BLOCK_ROWS", 3)
    got = similarity.blocked_neardup_pairs(
        spark.createDataFrame(pdf), min_cosine=0.5
    ).collect()
    pairs = {(r.vec_a, r.vec_b) for r in got}
    assert len(got) == 45 and len(pairs) == 45
    assert all(a < b for a, b in pairs)


def test_owned_caches_do_not_accumulate(spark):
    """Repeated invocations of cache-owning operators (bench's
    min-of-3 loop shape) must hold at most one live cache per site —
    not one per call (ADVICE r2)."""
    from anomaly_detection_iiot_spark.operators.dedup import (
        lsh_candidate_pairs, minhash_signature_arrays, shingle_array,
        tokenize,
    )

    docs = spark.createDataFrame(
        pd.DataFrame(
            {"doc_id": range(40), "text": [f"tok{i % 7} a b c d" for i in range(40)]}
        )
    )
    sigs = minhash_signature_arrays(shingle_array(tokenize(docs)))

    def n_cached():
        return spark.sparkContext._jsc.sc().getPersistentRDDs().size()

    lsh_candidate_pairs(sigs).count()
    after_first = n_cached()
    for _ in range(3):
        lsh_candidate_pairs(sigs).count()
    assert n_cached() <= after_first


def test_owned_cache_second_call_releases_first(spark):
    """A second call on a site releases the first call's cache, for the
    same plan as for a different one; the new frame is cached afresh."""
    from anomaly_detection_iiot_spark.operators.cache import (
        replace_owned_cache,
    )

    def persistent():
        return set(spark.sparkContext._jsc.getPersistentRDDs().keys())

    before = persistent()
    first = replace_owned_cache(
        "test_site", spark.range(100).selectExpr("id", "id * 2 AS v")
    )
    first.count()
    first_rdds = persistent() - before
    assert first_rdds
    again = replace_owned_cache(
        "test_site", spark.range(100).selectExpr("id", "id * 2 AS v")
    )
    assert again is not first
    assert not persistent() & first_rdds
    assert again.count() == 100
    again_rdds = persistent() - before
    assert again_rdds
    other = replace_owned_cache(
        "test_site", spark.range(50).selectExpr("id", "id * 3 AS v")
    )
    assert not persistent() & again_rdds
    assert other.count() == 50
    other.unpersist()


def test_owned_cache_adaptive_partitioning(spark):
    """adaptive_partitioning=True compiles the cached plan with AQE
    partition coalescing (r14: a KB-scale cached frame must not persist
    as shuffle.partitions near-empty partitions that every consumer
    rescans), and the session conf is restored afterwards."""
    from anomaly_detection_iiot_spark.operators.cache import (
        replace_owned_cache,
    )

    conf_before = spark.conf.getAll
    shuffled = spark.range(0, 200, 1, 4).groupBy(
        (F.col("id") % 3).alias("k")
    ).count()
    cached = replace_owned_cache(
        "test_adaptive_site", shuffled, adaptive_partitioning=True
    )
    cached.count()
    # 3 tiny groups coalesce below the conftest shuffle.partitions (4)
    assert cached.rdd.getNumPartitions() == 1
    assert spark.conf.getAll == conf_before
    cached.unpersist()
