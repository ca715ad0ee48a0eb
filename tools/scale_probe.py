"""100x scale probe for the dedup + ANN families (d3/d4/d8/d9/d12,
s4/s6/d13).

Turns the "bucketed, not all-pairs" scaling claim into a measured
curve: runs each query at 1x / 10x / 100x of the sf0.1 `documents`
corpus and reports wall time plus PER-STAGE SHUFFLE BYTES parsed from
Spark's own event log (`sources/resource_log.task_metrics_from_event_log`
— the durable SparkListener bus, equivalent to the UI REST API but
replayable).

Inflation semantics matter for dedup: a naive union of shifted-id
copies keeps the TEXT identical, so every duplicate group grows by the
copy factor and true near-dup pairs grow QUADRATICALLY — that measures
a pathological corpus, not scale. Each copy instead SUFFIXES every
token with the copy id (`regexp_replace(text, '(\\S+)', '$1c<i>')` —
a bare suffix, no separator; this is collision-free across copies only
because copy ids are digit-only and every copy rewrites the SAME source
vocabulary, so two rewritten tokens `w + "c" + i` and `w' + "c" + j`
coincide only if the source tokens already differed by a trailing
`c<digits>` run, which the generator's alphabetic word list rules out) —
a bijection on the vocabulary, so the within-copy shingle-match
structure mirrors the original corpus exactly while cross-copy overlap
is zero. (An earlier interleaving scheme — salt tokens BETWEEN words —
was wrong in an instructive way: it manufactured `salt word salt`
trigrams, so any two docs sharing one word shared a shingle and the
candidate graph densified toward all-pairs, OOMing the pair
aggregation. Probe inflation must preserve match-graph sparsity, not
just byte volume.) The result is a corpus N_x bigger with the SAME
duplicate density — the honest 100 TB analogue.

Each (query, scale) runs in its own subprocess so its event log is one
complete per-app file (event-log conf is static per JVM); the parent
parses the logs and prints a markdown table for README.

Usage:
    python tools/scale_probe.py [--scales 1,10,100] [--queries d3,d4,d8]
    python tools/scale_probe.py --run-one <query> <sf_dir> <eventlog_dir>
"""

from __future__ import annotations

import argparse
import glob
import json
import os
import shutil
import subprocess
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
BENCH_DATA = os.path.join(REPO, ".bench_data")
QUERY_NAMES = {
    "d3": "d3_minhash_signatures",
    "d4": "d4_lsh_candidates",
    "d8": "d8_dup_clusters",
    "d9": "d9_semdedup",
    "d12": "d12_containment",
    "s4": "s4_hyperplane_ann",
    "s6": "s6_ivfpq_ann",
    "d13": "d13_incremental_semdedup",
    # r9: TextRank — the probe's token-suffix inflation grows the
    # VOCAB by the copy factor (each copy rewrites the same source
    # vocabulary bijectively), so this measures the claim that the
    # edge table and every iteration stay vocab-sized
    "t17": "t17_textrank",
    # TPC-H fact-join heavies: probed with --sf-series (the sf0.001 ->
    # sf0.1 testdata dirs ARE the 1x/10x/100x axis — real generated
    # data, no inflation needed)
    "t15": "t15_gopher_repetition",
    "q9": "q9_product_profit",
    "q13": "q13_customer_distribution",
    "q18": "q18_large_volume_customers",
    "q21": "q21_waiting_suppliers",
    # r9 events/orders-table additions: sliding sketch union, checksum
    # audit, journey pattern — sf-series axis (real generated data)
    "a25": "a25_partition_checksums",
    "a26": "a26_sliding_distinct",
    "w20": "w20_event_pattern",
    # r10 (r9 verdict item 8): the monitoring/experimentation family —
    # sf-series axis; g1's wedge-bound skew behavior gets its own
    # skewed-graph probe below (_g1_skewed)
    "w22": "w22_cusum",
    "w23": "w23_seasonal_anomalies",
    "m16": "m16_kfold_threshold",
    "m17": "m17_psi_drift",
    "a28": "a28_ab_test",
    "a29": "a29_market_basket",
    "a30": "a30_audience_overlap",
    "g1": "g1_triangle_count",
    # r11 (r10 verdict item 7): BM25 rides the documents-inflation
    # axis — suffix-rewritten copies share NO tokens with the fixed
    # 3-term query, so the claim measured is exactly the docstring's
    # "only matching postings shuffle": scan rows grow 100x, the
    # (doc, term) shuffle stays flat
    "t18": "t18_bm25",
    # changepoint family: events sf-series axis (real generated data)
    "w24": "w24_changepoint",
    "w25": "w25_binary_segmentation",
    # deliberately skewed graph (hub star + ring, max-degree hub):
    # measures the degree-ordered compact-forward claim that wedge
    # work is bounded on ANY degree distribution (r10 verdict: the
    # O(m^1.5) bound was claimed but only sf-series-measured)
    "g1skew": "g1_triangles_hub_star",
    # r11: tokenizer application — documents-inflation axis (vocab
    # grows with the copy factor; encode stays vocab-level folds)
    "t19": "t19_bpe_encode",
    # r13 probe-only: xxhash64-long minhash (see _d4_narrow)
    "d4narrow": "d4_lsh_candidates_narrow",
    # r14 probe-only: Arrow-batched md5 minhash, value-identical to d4
    "d4arrow": "d4_lsh_candidates_arrow",
    # r12 (r11 verdict item 8): MMR rerank — embeddings-inflation
    # axis; the distributed rel scan + top-20 cut grows linearly, the
    # greedy rounds stay 20-row driver micro-jobs regardless of corpus
    "s18": "s18_mmr_rerank",
    # r12: STL decomposition — events sf-series axis; one sort per
    # user partition, per-phase/per-user aggregates ride it
    "w26": "w26_stl_decompose",
    # r12: seasonal-naive backtest — same axis and window contract
    "w27": "w27_seasonal_backtest",
}


def _s4_scaled(spark, sf_dir: str):
    """Probe runner for s4: sign-LSH with bits tuned to the corpus.

    The registry query pins n_planes=8 (right for the 2k-vector sf0.1
    corpus, and required so the DuckDB oracle is byte-identical). The
    OPERATIONAL contract — stated in s4's own docstring — is
    bits ≈ log2(corpus / target_bucket): rerank cost is sum(bucket²),
    so holding the bit count fixed while the corpus grows 100× grows
    candidate pairs quadratically — that measures a mis-tuned index,
    not the operator. The probe therefore scales bits per corpus size
    (target bucket ≈ 8 vectors, the sf0.1 operating point), which keeps
    pair volume — and therefore shuffle — LINEAR in N. That linearity
    under per-scale tuning is exactly the 100 TB claim being measured.
    """
    import math

    from pyspark.sql import functions as F

    from anomaly_detection_iiot_spark.operators import similarity

    e = spark.read.parquet(os.path.join(sf_dir, "embeddings.parquet")).select(
        "vec_id", "embedding"
    )
    n = e.count()
    n_planes = max(8, math.ceil(math.log2(max(16, n) / 8)))
    return similarity.hyperplane_ann_top1(
        e, n_tables=2, n_planes=n_planes, dim=64
    )


def _d13_scaled(spark, sf_dir: str):
    """Probe runner for d13: incremental SemDeDup with the IVF cell
    count scaled to the batch.

    The registry query pins 8 centroids (right for 2k vectors, and the
    oracle mirrors it). Operationally, cell population is THE tuning
    knob: the within-batch new×new gram moves Θ(cell²/max_block_rows)
    rows per cell, so holding k fixed while the batch grows 100× is a
    mis-tuned index (measured: 8.4 MB @10x → 163 MB @100x — the tiled
    replication term, exactly as blocked_neardup_pairs documents). The
    at-rest index carries the cell_load retrain signal
    (streaming/ann_ingest.py) for precisely this: the probe retrains
    k = N/2000 so cells stay under the tile cap, which is the shape a
    100 TB deployment operates. Assignment uses the Arrow matmul form
    (ivf_assign_arrow) — the SQL-fold ivf_assign is O(k·dim) per
    row and dominated wall at k=100 (45.5 s vs 19.3 s, measured r7);
    the matmul pays one BLAS pass per Arrow batch instead."""
    from pyspark.sql import functions as F

    from anomaly_detection_iiot_spark.operators import similarity
    from anomaly_detection_iiot_spark.queries.textsim import (
        _D9_TAU,
        _D13_SPLIT,
    )

    e = spark.read.parquet(os.path.join(sf_dir, "embeddings.parquet")).select(
        "vec_id", "embedding"
    )
    n = e.count()
    k = max(8, n // 2000)
    centroids = e.filter(F.col("vec_id") < k).select(
        F.col("vec_id").alias("centroid_id"),
        F.col("embedding").alias("cvec"),
    )
    first = e.filter(F.col("vec_id") < _D13_SPLIT)
    a_first = similarity.ivf_assign_arrow(first, centroids)
    f_dropped = (
        similarity.blocked_neardup_pairs(
            a_first, block_col="bucket", min_cosine=_D9_TAU
        )
        .select(F.col("vec_b").alias("vec_id"))
        .distinct()
    )
    keepers = a_first.join(f_dropped, "vec_id", "left_anti")
    batch = e.filter(F.col("vec_id") >= _D13_SPLIT)
    return similarity.incremental_semdedup(
        batch, keepers, centroids, tau=_D9_TAU,
        assign_fn=similarity.ivf_assign_arrow,
    )


# probe-specific runners (default: the registry query fn unchanged —
# s6 is index-shaped such that shuffle is linear even with the
# registry's fixed index params: it shuffles only the 8-byte code
# table + broadcast queries). s4/d13 scale their index knobs with the
# corpus per their own operational contracts (see each runner).
def _g1_skewed(spark, sf_dir: str):
    """Probe runner: triangle counting on a pathological hub graph —
    node 0 adjacent to EVERY other node (degree n-1) plus a ring
    i—i+1, so each ring edge closes a triangle through the hub
    (n-2 triangles, m ≈ 2n). Under the r9 low-id orientation the hub's
    small id made every wedge fan out of the hub: O(n^2) pairs. The
    degree-ordered orientation points all hub edges INTO the hub, so
    wedges fan only from degree<=4 ring corners — O(m) wedge work.
    Node count rides the sf-series events row count (1k/10k/100k)."""
    from pyspark.sql import Window
    from pyspark.sql import functions as F

    from anomaly_detection_iiot_spark.operators import graph

    n = spark.read.parquet(os.path.join(sf_dir, "events.parquet")).count()
    star = (
        spark.range(1, n)
        .select(F.lit(0).cast("long").alias("u"), F.col("id").alias("v"))
    )
    ring = spark.range(1, n - 1).select(
        F.col("id").alias("u"), (F.col("id") + 1).alias("v")
    )
    per_node = graph.triangles_per_node(star.unionByName(ring))
    w = Window.orderBy(F.desc("n_triangles"), F.asc("node"))
    return (
        per_node.withColumn("pos", F.row_number().over(w).cast("bigint"))
        .filter(F.col("pos") <= 20)
        .select("pos", "node", "n_triangles")
    )


def _d4_narrow(spark, sf_dir: str):
    """Probe-ONLY d4 variant for VERDICT r12 item 7: does narrowing the
    bytes the minhash scan streams lift the single-box DRAM ceiling?

    Signatures here are ``array_min(transform(shingles,
    s -> xxhash64('seed<i>:' || s)))`` — each (shingle, slot) is one
    8-byte long, with NO 64-hex-char digest intermediate and no
    per-(shingle, slot) substring object (the md5 form materializes
    ~128 B of hex + 8 UTF8String slices per shingle; the narrow form
    ~32 B of longs). Same minwise-LSH statistics, same banding and
    pair expansion, same plan shape — but the signature VALUES differ
    (DuckDB has no xxhash64), so this can never be the registry query;
    it exists to measure the 100x curve delta attributable to bytes
    streamed per shingle."""
    from pyspark.sql import functions as F

    from anomaly_detection_iiot_spark.operators import dedup
    from anomaly_detection_iiot_spark.queries.textsim import _spread_docs

    shingled = dedup.shingle_array(
        dedup.tokenize(_spread_docs(spark, sf_dir)), n=3
    )

    def _hash_i(i):
        return lambda s: F.xxhash64(F.concat(F.lit(f"seed{i}:"), s))

    sig = (
        shingled.select(
            "doc_id",
            *[
                F.array_min(F.transform("shingles", _hash_i(i))).alias(
                    f"h{i}"
                )
                for i in range(4)
            ],
        )
        # same CollectMetrics pushdown barrier rationale as
        # minhash_signature_arrays: without it the no-shingle filter
        # re-evaluates the whole pipeline below the repartition
        .observe("d4narrow_sig", F.count(F.lit(1)).alias("n_sig_rows"))
        .filter(F.col("h0").isNotNull())
    )
    return dedup.lsh_candidate_pairs(sig, num_hashes=4, band_size=2)


def _d4_arrow(spark, sf_dir: str):
    """Probe-ONLY d4 variant for VERDICT r13 item 9: does moving the
    minhash scan across the Python boundary as Arrow batches (guide §4
    — hand whole batches to native code, init once per task) beat the
    JVM md5 codegen path?

    Signature VALUES are bit-identical to the registry d4 (hashlib.md5
    == Spark ``md5``; h_i = min over shingles of hex[8i:8i+8],
    num_hashes=4 → one digest per shingle), so unlike ``_d4_narrow``
    this variant is oracle-compatible — it stays probe-only purely on
    the measured outcome. A per-task digest memo exploits cross-doc
    duplicate shingles (the thing a dedup corpus has by construction);
    the JVM expression form re-hashes every occurrence."""
    import pyarrow as pa
    from pyspark.sql import functions as F

    from anomaly_detection_iiot_spark.operators import dedup
    from anomaly_detection_iiot_spark.queries.textsim import _spread_docs

    shingled = dedup.shingle_array(
        dedup.tokenize(_spread_docs(spark, sf_dir)), n=3
    ).select("doc_id", "shingles")

    out_schema = (
        "doc_id bigint, h0 string, h1 string, h2 string, h3 string"
    )

    def _sig_batches(it):
        import hashlib

        memo: dict = {}  # shingle -> (s0, s1, s2, s3); once per task

        def slots(s: str):
            v = memo.get(s)
            if v is None:
                d = hashlib.md5(s.encode("utf-8")).hexdigest()
                v = (d[0:8], d[8:16], d[16:24], d[24:32])
                memo[s] = v
            return v

        for batch in it:
            ids = batch.column("doc_id").to_pylist()
            shs = batch.column("shingles").to_pylist()
            out = {k: [] for k in ("doc_id", "h0", "h1", "h2", "h3")}
            for did, shingles in zip(ids, shs):
                if not shingles:
                    continue  # parity: no-shingle docs are dropped
                # elementwise per-slot mins (the array_min per h_i),
                # NOT a tuple-min over whole digests
                s0, s1, s2, s3 = slots(shingles[0])
                for s in shingles[1:]:
                    a, b, c, d = slots(s)
                    if a < s0:
                        s0 = a
                    if b < s1:
                        s1 = b
                    if c < s2:
                        s2 = c
                    if d < s3:
                        s3 = d
                out["doc_id"].append(did)
                out["h0"].append(s0)
                out["h1"].append(s1)
                out["h2"].append(s2)
                out["h3"].append(s3)
            yield pa.RecordBatch.from_pydict(out)

    sig = shingled.mapInArrow(_sig_batches, out_schema)
    return dedup.lsh_candidate_pairs(sig, num_hashes=4, band_size=2)


RUNNERS = {
    "s4": _s4_scaled,
    "d13": _d13_scaled,
    "g1skew": _g1_skewed,
    "d4narrow": _d4_narrow,
    "d4arrow": _d4_arrow,
}


def inflate_documents(src_dir: str, factor: int) -> str:
    """Materialize an inflated documents.parquet under .bench_data.

    Copy i shifts doc_id by i*stride and salts the text (see module
    docstring); multi-file output so downstream scans split properly.
    """
    # v3: embedding copies are rotation+sign-flip isometries (v2's
    # bare rotation repeated every 64 copies, so a 100x corpus
    # contained 36 pairs of EXACTLY duplicated copies — the measured
    # "superlinear" s4/d13 candidate growth at 100x was that
    # manufactured duplicate mass, not operator behavior)
    out = os.path.join(BENCH_DATA, f"probe_tables_{factor}x_v3")
    marker = os.path.join(out, ".complete")
    if os.path.exists(marker):
        return out
    from pyspark.sql import functions as F

    from anomaly_detection_iiot_spark.session import get_spark

    spark = get_spark("probe-inflate")
    tmp = out + ".tmp"
    shutil.rmtree(tmp, ignore_errors=True)
    os.makedirs(tmp)
    docs = spark.read.parquet(os.path.join(src_dir, "documents.parquet"))
    stride = docs.agg(F.max("doc_id")).collect()[0][0] + 1
    copies = [
        docs.select(
            (F.col("doc_id") + F.lit(i * stride)).alias("doc_id"),
            F.regexp_replace("text", r"(\S+)", rf"$1c{i}").alias("text"),
            "lang",
            "source",
            "n_chars",
        )
        for i in range(factor)
    ]
    df = copies[0]
    for c in copies[1:]:
        df = df.unionByName(c)
    df.repartition(max(4, factor)).write.mode("overwrite").parquet(
        os.path.join(tmp, "documents.parquet")
    )
    # embeddings: copy i shifts vec_id and applies a per-copy ISOMETRY
    # — cyclic rotation by i%dim COMPOSED with an md5-derived ±1 sign
    # flip per dimension (identity for copy 0). Each copy's intra-copy
    # geometry (and thus duplicate/near-dup density) is exactly
    # preserved while cross-copy cosines decorrelate. The sign-flip
    # component makes the map collision-free for ANY copy count —
    # bare rotation repeats every dim copies, which at 100x duplicated
    # 36 whole copies verbatim and quadratically inflated true-pair
    # mass (measured: s4 shuffle 7.3 MB @10x -> 1504 MB @100x purely
    # from that artifact). Labels keep their values so label/bucket
    # blocks grow with scale, exercising the tiled gram guard.
    import hashlib

    emb = spark.read.parquet(os.path.join(src_dir, "embeddings.parquet"))
    dim = len(emb.select("embedding").first()[0])
    estride = emb.agg(F.max("vec_id")).collect()[0][0] + 1
    ecopies = []
    for i in range(factor):
        rot = i % dim
        rotated = F.concat(
            F.slice("embedding", rot + 1, dim - rot),
            F.slice("embedding", 1, rot),
        )
        if i == 0:
            flipped = rotated
        else:
            flips = [
                1.0
                if hashlib.md5(f"{i}:{j}".encode()).digest()[0] & 1
                else -1.0
                for j in range(dim)
            ]
            flip_lit = F.expr(
                "array(" + ",".join(f"CAST({v} AS DOUBLE)" for v in flips) + ")"
            )
            flipped = F.zip_with(rotated, flip_lit, lambda x, s: x * s)
        ecopies.append(
            emb.select(
                (F.col("vec_id") + F.lit(i * estride)).alias("vec_id"),
                flipped.alias("embedding"),
                "label",
            )
        )
    edf = ecopies[0]
    for c in ecopies[1:]:
        edf = edf.unionByName(c)
    edf.repartition(max(4, factor)).write.mode("overwrite").parquet(
        os.path.join(tmp, "embeddings.parquet")
    )
    open(os.path.join(tmp, ".complete"), "w").close()
    shutil.rmtree(out, ignore_errors=True)
    os.rename(tmp, out)
    return out


def run_one(query_key: str, sf_dir: str, eventlog_dir: str) -> None:
    """Child-process entry.

    Two modes (this host shows bursty hypervisor CPU steal, so a single
    wall time is unreliable — see bench.py):

    - ``eventlog_dir != '-'``: ONE query execution with event logging
      on → exact per-execution shuffle bytes (includes any cache-build
      cost, i.e. the cold profile a fresh cluster job pays).
    - ``eventlog_dir == '-'``: min-of-3 timed runs, no event log → the
      steady-state wall number, same semantics as bench.py.
    """
    from anomaly_detection_iiot_spark.queries import REGISTRY
    from anomaly_detection_iiot_spark.session import get_spark

    metrics_mode = eventlog_dir != "-"
    conf = {}
    if metrics_mode:
        os.makedirs(eventlog_dir, exist_ok=True)
        conf = {
            "spark.eventLog.enabled": "true",
            "spark.eventLog.dir": "file://" + eventlog_dir,
        }
    spark = get_spark(f"probe-{query_key}", extra_conf=conf)
    spark.sparkContext.setLogLevel("ERROR")
    # generic warmup (JVM, codegen, Arrow worker pool) so wall time is
    # the query, not cold-start; adds ~0 shuffle to the event log
    from pyspark.sql import functions as F

    @F.pandas_udf("double")
    def _warm(s):
        return s * 1.0

    spark.range(1000).select(_warm(F.col("id").cast("double"))).write.mode(
        "overwrite"
    ).format("noop").save()

    fn = RUNNERS.get(query_key) or REGISTRY[QUERY_NAMES[query_key]].fn
    runs = []
    for _ in range(1 if metrics_mode else 3):
        t0 = time.time()
        fn(spark, sf_dir).write.mode("overwrite").format("noop").save()
        runs.append(time.time() - t0)
    spark.stop()  # flushes + finalizes the event log
    print(json.dumps({"wall_sec": round(min(runs), 2)}))


def parse_eventlog(spark, eventlog_dir: str) -> dict:
    """Total + top-stage shuffle bytes from the single app log in dir."""
    from pyspark.sql import functions as F

    from anomaly_detection_iiot_spark.sources import resource_log as rl

    logs = [
        p
        for p in glob.glob(os.path.join(eventlog_dir, "*"))
        if not p.endswith(".crc")
    ]
    assert len(logs) == 1, f"expected one app log in {eventlog_dir}: {logs}"
    tm = rl.task_metrics_from_event_log(spark, logs[0])
    stages = rl.stage_metrics_summary(tm)
    tot = stages.agg(
        F.sum("shuffle_read_bytes").alias("r"),
        F.sum("shuffle_write_bytes").alias("w"),
        F.count(F.lit(1)).alias("n_stages"),
        F.sum("n_tasks").alias("n_tasks"),
    ).collect()[0]
    top = (
        stages.orderBy(F.desc("shuffle_write_bytes")).limit(3).collect()
    )
    # per-stage EXECUTOR TIME breakdown (r11 verdict item 3): the wall
    # can go superlinear while shuffle stays linear — naming the
    # hottest stages by summed executor run time (with the stage's
    # plan-derived name) tells WHICH operator burns the CPU.
    names = {
        r.stage_id: r.stage_name
        for r in rl.stage_names_from_event_log(spark, logs[0]).collect()
    }
    top_time = (
        stages.orderBy(F.desc("run_time_ms")).limit(5).collect()
    )
    return {
        "shuffle_read_mb": round((tot.r or 0) / 1e6, 2),
        "shuffle_write_mb": round((tot.w or 0) / 1e6, 2),
        "n_stages": tot.n_stages,
        "n_tasks": tot.n_tasks,
        "top_stages": [
            {
                "stage": s.stage_id,
                "write_mb": round((s.shuffle_write_bytes or 0) / 1e6, 2),
                "tasks": s.n_tasks,
            }
            for s in top
        ],
        "top_time_stages": [
            {
                "stage": s.stage_id,
                "name": names.get(s.stage_id),
                "exec_sec": round((s.run_time_ms or 0) / 1e3, 1),
                "tasks": s.n_tasks,
                "read_mb": round((s.shuffle_read_bytes or 0) / 1e6, 2),
                "write_mb": round((s.shuffle_write_bytes or 0) / 1e6, 2),
            }
            for s in top_time
        ],
    }


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("--scales", default="1,10,100")
    ap.add_argument("--queries", default="d3,d4,d8")
    ap.add_argument("--sf-dir", default="/root/testdata/sf0.1")
    ap.add_argument(
        "--sf-series",
        default=None,
        help="comma list of sf dirs used as the 1x/10x/100x axis "
        "directly (TPC-H mode: lineitem row count scales with sf, no "
        "document inflation)",
    )
    ap.add_argument("--run-one", nargs=3, metavar=("QUERY", "SF_DIR", "LOG_DIR"))
    args = ap.parse_args()

    if args.run_one:
        run_one(*args.run_one)
        return

    scales = [int(s) for s in args.scales.split(",")]
    queries = args.queries.split(",")

    dirs: dict[int, str] = {}
    if args.sf_series:
        if args.scales != ap.get_default("scales"):
            ap.error(
                "--scales and --sf-series are mutually exclusive: "
                "--sf-series derives the scale axis (powers of 10) "
                "from the series itself"
            )
        series = args.sf_series.split(",")
        scales = [10 ** i for i in range(len(series))]
        dirs = dict(zip(scales, series))
    else:
        for n in scales:
            dirs[n] = (
                args.sf_dir if n == 1 else inflate_documents(args.sf_dir, n)
            )

    def _child(q: str, n: int, logdir: str) -> dict | None:
        proc = subprocess.run(
            [sys.executable, os.path.abspath(__file__), "--run-one", q, dirs[n], logdir],
            capture_output=True,
            text=True,
            cwd=REPO,
        )
        if proc.returncode != 0:
            print(f"FAIL {q} {n}x:\n{proc.stderr[-2000:]}", file=sys.stderr)
            return None
        return json.loads(proc.stdout.strip().splitlines()[-1])

    results: dict[str, dict[int, dict]] = {}
    for q in queries:
        results[q] = {}
        for n in scales:
            logdir = os.path.join(BENCH_DATA, "probe_eventlogs", f"{q}_{n}x")
            shutil.rmtree(logdir, ignore_errors=True)
            metrics = _child(q, n, logdir)  # 1 logged run: shuffle bytes
            timing = _child(q, n, "-")      # min-of-3: steady-state wall
            if metrics is None or timing is None:
                continue
            results[q][n] = {"wall_sec": timing["wall_sec"]}
            print(f"ran {q} {n}x: {timing['wall_sec']}s", file=sys.stderr)

    # one parsing session for all logs
    from anomaly_detection_iiot_spark.session import get_spark

    spark = get_spark("probe-parse")
    spark.sparkContext.setLogLevel("ERROR")
    for q in queries:
        for n in scales:
            if n in results[q]:
                logdir = os.path.join(BENCH_DATA, "probe_eventlogs", f"{q}_{n}x")
                results[q][n].update(parse_eventlog(spark, logdir))

    print(json.dumps(results, indent=1))
    # markdown table for README
    print("\n| query | scale | rows | wall | shuffle write | shuffle read | tasks |")
    print("|---|---|---|---|---|---|---|")
    # sf0.1 base row counts of the table each query family scans
    base_rows = {
        "d3": 5000, "d4": 5000, "d8": 5000, "d9": 2000, "d12": 5000,
        "s4": 2000, "s6": 2000, "d13": 2000,
        # TPC-H probes scan lineitem; base = sf0.001 rows
        "q9": 6000, "q13": 6000, "q18": 6000, "q21": 6000,
        "t15": 5000,
        # documents-inflation probe (sf0.1 docs base)
        "t17": 5000,
        # events/orders sf-series probes (sf0.001 base rows)
        "a25": 1500, "a26": 1000, "w20": 1000,
        # r10 monitoring family: all scan events (sf0.001 = 1000 rows)
        "w22": 1000, "w23": 1000, "m16": 1000, "m17": 1000,
        "a28": 1000, "a29": 1000, "a30": 1000, "g1": 1000,
        "t18": 5000, "w24": 1000, "w25": 1000, "g1skew": 1000,
        "t19": 5000, "d4narrow": 5000, "d4arrow": 5000,
        "s18": 2000, "w26": 1000, "w27": 1000,
    }
    for q in queries:
        for n in scales:
            r = results[q].get(n)
            if r:
                print(
                    f"| {QUERY_NAMES[q]} | {n}x | {base_rows[q] * n:,} "
                    f"| {r['wall_sec']}s | {r['shuffle_write_mb']} MB "
                    f"| {r['shuffle_read_mb']} MB | {r['n_tasks']} |"
                )


if __name__ == "__main__":
    main()
