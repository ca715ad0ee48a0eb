"""Per-round benchmark (driver contract).

Runs the headline queries at ``$SPARK_GRAFT_SF_DIR`` (default
/root/testdata/sf0.1) on ``local[$SPARK_GRAFT_CPUS]`` (default: the
cores this process may run on, as ``nproc`` counts them) and prints ONE
JSON line: {"metric": ..., "value": total_sec, "unit": "sec",
"queries": {name: sec}, "sf": ...}.

Each query is forced with a noop sink (full execution, no driver-side
materialization cost). The first query's time includes JVM/codegen
warmup; a throwaway warmup action runs first to keep per-query numbers
honest.
"""

from __future__ import annotations

import json
import os
import re
import shutil
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

from anomaly_detection_iiot_spark.queries import REGISTRY
from anomaly_detection_iiot_spark.session import get_spark, scoped_conf

HEADLINE = [
    "q1_pricing_summary",
    "q3_top_revenue_orders",
    "q5_local_supplier_volume",  # 6-table join, Catalyst-planned (r5)
    "q21_waiting_suppliers",  # semi+anti lineitem self-joins (r6)
    "q17_small_quantity_revenue",  # decorrelated scalar subquery (r6)
    "q18_large_volume_customers",  # HAVING agg semi-join (r6)
    "q2_min_cost_supplier",  # correlated scalar min, decorrelated (r7)
    "q20_potential_promotion",  # double-nested semi-join with agg (r7)
    "q4_order_priority_check",  # EXISTS -> left-semi (r7)
    "q12_shipping_priority_classes",  # conditional CASE agg (r7)
    "q22_global_sales_opportunity",  # scalar-avg broadcast + anti (r7)
    "q6_forecast_revenue",  # pure-pushdown scan+sum (r7)
    "q8_market_share",  # 7-table snowflake, dual nation roles (r7)
    "q9_product_profit",  # LIKE-pruned profit rollup (r7)
    "q13_customer_distribution",  # left-outer count-of-counts (r7)
    "q19_disjunctive_revenue",  # 3-branch OR join predicate (r7)
    # the six remaining TPC-H shapes (r8): all 22 now benched
    "q7_volume_shipping",
    "q10_returned_items",
    "q11_important_stock",
    "q14_promo_effect",
    "q15_top_supplier",
    "q16_parts_supplier",
    "mm6_jpeg_roundtrip",  # stdlib baseline-JPEG decode path (r7)
    "j5_broadcast_dims",
    "j2_anti_join",
    "j4_range_join",
    "j6_asof_join",
    "m1_standard_scale",
    "w1_strided_windows",
    "w10_sessionize",
    "m13_auc",
    "w18_interpolate",  # grid gap-fill + interpolation windows (r7)
    "o4_top1_per_user",
    # text / dedup / similarity / ML families
    "t15_gopher_repetition",  # 4-way n-gram explode + two hash aggs (r7)
    "d4_lsh_candidates",
    "d10_incremental_lsh",  # batch vs at-rest band index (r6)
    "d8_dup_clusters",  # transitive-closure loop: rounds x O(|edges|) shuffle
    "d6_simhash",
    "d9_semdedup",  # IVF-cell-scoped semantic dedup (r5)
    "d12_containment",  # fingerprint inverted-index containment (r6)
    "d13_incremental_semdedup",  # batch vs at-rest keeper index (r6)
    "s1_cosine_topk",
    "s2_ivf_ann",
    "s9_ivf_recall",  # exact + IVF composed recall eval (r7)
    "s4_hyperplane_ann",  # sign-LSH tables + exact rerank (r6)
    "s6_ivfpq_ann",  # IVF-PQ ADC over codes only (r6)
    "t3_language_id",
    "t11_pii_scan",  # regex PII inventory + redaction (r6)
    "t12_bigram_lm",  # corpus bigram-LM fluency scoring (r6)
    "t5_winnowing",  # MOSS fingerprints: explode + single-shuffle window (r5)
    "o6_stratified_sample",  # hash-quota mixing: pure projection (r5)
    "c1_corpus_curation",  # composed lang-ID + quality + dedup keeper path
    "c2_curation_with_semdedup",  # c1 cascade + semantic stage (r5)
    "m6_reconstruction_error",
    "m7_fft_mag",
    # round-8 additions
    "s13_kmeans_codebook",  # Lloyd training loop (eager per-iteration)
    "t16_bpe_merges",  # BPE merge rounds (eager per-round argmax)
    "a21_grouping_sets",
    "w19_range_frame",
    "j8_view_click_pairs",  # batch twin of the stream-stream join
    # round-9 additions
    "mm8_frame_tensor_stats",  # codec-agnostic frame decode + stats
    "a22_approx_distinct",  # HLL++ accuracy contract vs exact
    "a24_sketch_rollup",  # DataSketches HLL merge-not-rescan rollup
    "a25_partition_checksums",  # md5/bit_xor reconciliation audit
    "a26_sliding_distinct",  # windowed HLL sketch union vs exact
    "a27_constraint_audit",  # one-scan Deequ-style constraint audit
    "w20_event_pattern",  # ordered journeys + subsequence-regex funnel
    "t17_textrank",  # weighted PageRank over the word graph, oracle'd
    "s14_upsert_roundtrip",  # CDC base+delta+tombstone merge-on-read
    "j9_scd2_dimension",  # SCD2 build + temporal fact join
    # round-10 additions: the monitoring/experimentation family (now
    # scale-probed, README r10 table) + the OCC commit round-trip
    "w22_cusum",
    "w23_seasonal_anomalies",
    "m16_kfold_threshold",
    "m17_psi_drift",
    "a28_ab_test",
    "a29_market_basket",
    "a30_audience_overlap",
    "g1_triangle_count",
    "s17_occ_committers",
    "t18_bm25",
    "w24_changepoint",
    "w25_binary_segmentation",  # r11: multi-changepoint recursion
    "t19_bpe_encode",  # r11: tokenizer application (train + apply)
    "s18_mmr_rerank",  # r11: retrieval diversity reranking
    "w26_stl_decompose",  # r11: seasonal-trend decomposition strengths
    "w27_seasonal_backtest",  # r12: seasonal-naive MAE/MASE backtest
    # source round-trip: write reference's CSV layout, read through real reader
    "k1_kbm_roundtrip",
    # training path — BASELINE.md's published numbers are training
    # runtimes, so the bench shows ours at the same data scale
    "m2_lstm_train_loss",
    "m3_ae_train_loss",
    # fn() construction runs FedAvg round 1 eagerly (driver-side round
    # loop by design); timed here so BOTH rounds have a tracked number
    "m9_fedavg_weights",
]


def _bearing_snapshot_dir() -> str:
    """Deterministic synthetic snapshot corpus for the end-to-end
    bearing pipeline bench (VERDICT r1 item 6): 40 TSV files x 4096
    rows x 4 channels (~655k samples) in the reference's on-disk layout
    (timestamp filename, tab-separated, headerless). Generated once and
    cached under .bench_data/ so per-round bench timings exclude it."""
    import numpy as np

    out = os.path.join(
        os.path.dirname(os.path.abspath(__file__)),
        ".bench_data", "bearing_snapshots_v1",
    )
    marker = os.path.join(out, ".complete")
    if os.path.exists(marker):
        return out
    os.makedirs(out, exist_ok=True)
    rng = np.random.default_rng(73)
    n_files, rows, n_ch = 40, 4096, 4
    for f in range(n_files):
        stamp = f"2004.02.12.{10 + f // 60:02d}.{f % 60:02d}.00"
        cols = rng.normal(0, 1, size=(rows, n_ch))
        # channel 3 degrades over the last quarter of files
        if f >= n_files * 3 // 4:
            cols[:, 3] *= 25.0
        np.savetxt(os.path.join(out, stamp), cols, fmt="%.6f", delimiter="\t")
    open(marker, "w").close()
    return out


def _bearing_stream_dir() -> str:
    """The snapshot corpus plus one late 'flush' file stamped past the
    degraded tail, so the zero-delay watermark closes (and append-mode
    emits) the final anomaly episode instead of leaving it open at
    end-of-stream. Hardlinked from the batch corpus; kept separate so
    the batch pipeline bench's period set is unchanged."""
    src = _bearing_snapshot_dir()
    out = os.path.join(
        os.path.dirname(os.path.abspath(__file__)),
        ".bench_data", "bearing_stream_v1",
    )
    marker = os.path.join(out, ".complete")
    if os.path.exists(marker):
        return out
    # Build in a scratch dir and rename into place, so a crash mid-build
    # can't leave a half-linked dir whose os.link calls then raise
    # FileExistsError on every retry (ADVICE r4).
    tmp = out + ".tmp"
    shutil.rmtree(tmp, ignore_errors=True)
    os.makedirs(tmp)
    for f in os.listdir(src):
        if not f.startswith("."):
            os.link(os.path.join(src, f), os.path.join(tmp, f))
    with open(os.path.join(tmp, "2004.02.12.11.30.00"), "w") as fh:
        fh.write("0.0\t0.0\t0.0\t0.0\n")
    open(os.path.join(tmp, ".complete"), "w").close()
    shutil.rmtree(out, ignore_errors=True)
    os.rename(tmp, out)
    return out


def _bench_bearing_stream(spark) -> float:
    """Chained two-stateful-operator streaming query (VERDICT r3 item
    6): snapshot file stream → windowed MSE → threshold → session
    episodes, drained availableNow in ~6 micro-batches
    (maxFilesPerTrigger=8 over 41 files). Sanity-checks that the
    degraded channel's episode actually emitted, so the number tracks
    real stateful work, not an empty stream."""
    snap = _bearing_stream_dir()
    # Streaming state partition count is baked from
    # spark.sql.shuffle.partitions at query start and is NEVER
    # AQE-coalesced, so size it to the state (4 channel keys x open
    # windows), not to core count: 32 partitions cost 11.0s of
    # per-batch task+state-store overhead for the same work 8
    # partitions do in 4.4s (measured min-of-3, r5); r13 re-measured
    # 8 vs 4 vs 2 on a calm host (calibration-bracketed min-of-3):
    # 7.27 / 4.75 / 4.25 s — every batch commits state for BOTH
    # stateful operators on EVERY partition, so partitions beyond the
    # key count (4 channels) are pure commit overhead. 4 = |keys| is
    # the principled setting; 2 undershoots key parallelism for a
    # marginal local gain. Same sizing rule at scale: keys/state
    # volume, not executor count.
    with scoped_conf(spark, {"spark.sql.shuffle.partitions": "4"}):
        runs = _bearing_stream_runs(spark, snap)
    return round(min(runs), 3)


# last-run per-micro-batch stats per streaming bench (VERDICT r11 item
# 5: the streams' wall is trigger-cadence, not plan cost — the progress
# numbers let the judge see micro-batch count and per-batch duration)
_STREAM_PROGRESS: dict = {}


def _capture_progress(q, name: str) -> None:
    try:
        batches = []
        for p in q.recentProgress:
            if hasattr(p, "json"):
                p = json.loads(p.json)
            elif isinstance(p, str):
                p = json.loads(p)
            batches.append(p)
        durs = [
            int(p.get("durationMs", {}).get("triggerExecution", 0))
            for p in batches
        ]
        state_rows = max(
            (
                int(so.get("numRowsTotal", 0))
                for p in batches
                for so in p.get("stateOperators", [])
            ),
            default=0,
        )
        # final-batch state rows next to the max: eviction shows as
        # final < max, unbounded growth as final == max == rising
        # across rounds (VERDICT r12 item 8 — make a state-growth
        # regression visible in-bench, not only in the scale probe)
        state_final = max(
            (
                int(so.get("numRowsTotal", 0))
                for so in (batches[-1].get("stateOperators", []) if batches else [])
            ),
            default=0,
        )
        rows_in = sum(int(p.get("numInputRows", 0)) for p in batches)
        trig_sum = sum(durs)
        _STREAM_PROGRESS[name] = {
            "micro_batches": len(batches),
            "trigger_ms_sum": trig_sum,
            "trigger_ms_max": max(durs, default=0),
            "rows_in_sum": rows_in,
            "rows_per_sec": (
                round(rows_in / (trig_sum / 1000.0), 1) if trig_sum else None
            ),
            "state_rows_max": state_rows,
            "state_rows_final": state_final,
        }
    except Exception:
        pass  # stats are informational, never fail the bench


def _bearing_stream_runs(spark, snap) -> list:
    import shutil
    import tempfile

    from anomaly_detection_iiot_spark.streaming import bearing_stream

    runs: list[float] = []
    for i in range(3):
        episodes = bearing_stream.snapshot_anomaly_episodes_stream(
            spark, snap, n_cols=4, threshold=50.0,
            max_files_per_trigger=8,
        )
        ckpt = tempfile.mkdtemp(prefix="bearing_stream_ckpt_")
        name = f"bench_bearing_episodes_{i}"
        t0 = time.time()
        q = (
            episodes.writeStream.format("memory")
            .queryName(name)
            .outputMode("append")
            .option("checkpointLocation", ckpt)
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination()
        runs.append(time.time() - t0)
        _capture_progress(q, "bearing_stream")
        n_episodes = spark.table(name).count()
        shutil.rmtree(ckpt, ignore_errors=True)
        assert n_episodes >= 1, "streaming bench produced no episodes"
    return runs


def _curation_corpus_dir(sf_dir: str) -> str:
    """sf documents split into 16 parquet chunk files so the curation
    stream drains in 4 micro-batches; built once per sf and cached."""
    tag = re.sub(r"[^0-9a-zA-Z.]", "_", sf_dir)
    out = os.path.join(
        os.path.dirname(os.path.abspath(__file__)),
        ".bench_data", f"curation_corpus_{tag}",
    )
    marker = os.path.join(out, ".complete")
    if os.path.exists(marker):
        return out
    spark = get_spark("bench-prep")
    tmp = out + ".tmp"
    shutil.rmtree(tmp, ignore_errors=True)
    (
        spark.read.parquet(os.path.join(sf_dir, "documents.parquet"))
        .select("doc_id", "lang", "text")
        .repartition(16)
        .write.mode("overwrite")
        .parquet(tmp)
    )
    open(os.path.join(tmp, ".complete"), "w").close()
    shutil.rmtree(out, ignore_errors=True)
    os.rename(tmp, out)
    return out


def _bench_curation_stream(spark, sf_dir: str) -> float:
    """Streaming document curation (streaming/curation_stream.py):
    stateless cascade + watermark-bounded content dedup over a 4-micro-
    batch drain. State keys = distinct content hashes, so size shuffle
    partitions to the state like the bearing stream."""
    import tempfile

    from anomaly_detection_iiot_spark.streaming import curation_stream

    corpus = _curation_corpus_dir(sf_dir)
    # 8 / 4 / 2 partitions = 5.39 / 3.82 / 4.23 s (same probe as the
    # bearing stream, under Spark's default checkpoint manager): 4
    # wins. The state keys are content hashes (~1.3k rows), so 2
    # partitions serialize real aggregation work, while 8 pay one
    # state-store delta file per partition per batch, and each file
    # starts shell processes (chmod, and readlink under the default
    # manager) on a host without libhadoop.
    with scoped_conf(spark, {"spark.sql.shuffle.partitions": "4"}):
        runs: list[float] = []
        for i in range(3):
            sdf = curation_stream.curated_document_stream(
                spark.readStream.schema("doc_id bigint, lang string, text string")
                .option("maxFilesPerTrigger", 4)
                .parquet(corpus)
            )
            ckpt = tempfile.mkdtemp(prefix="curation_ckpt_")
            name = f"bench_curation_{i}"
            t0 = time.time()
            q = (
                sdf.writeStream.format("memory")
                .queryName(name)
                .outputMode("append")
                .option("checkpointLocation", ckpt)
                .trigger(availableNow=True)
                .start()
            )
            q.awaitTermination()
            runs.append(time.time() - t0)
            _capture_progress(q, "curation_stream")
            n = spark.table(name).count()
            shutil.rmtree(ckpt, ignore_errors=True)
            assert n > 0, "curation stream produced no rows"
    return round(min(runs), 3)


def _bench_bearing_pipeline(spark) -> float:
    from anomaly_detection_iiot_spark.ml import autoencoder as ae
    from anomaly_detection_iiot_spark.plans.bearing_pipeline import (
        bearing_anomaly_report,
    )

    snap = _bearing_snapshot_dir()
    weights = ae.init_weights([16, 8, 4, 8, 16], seed=55)
    runs: list[float] = []
    for _ in range(3):
        t0 = time.time()
        bearing_anomaly_report(
            spark, snap, weights, n_cols=4, rows_per_file=4096,
            resample_factor=16, window_size=16, window_step=16, period=4,
        ).write.mode("overwrite").format("noop").save()
        runs.append(time.time() - t0)
    return round(min(runs), 3)


def _measure_query(spark, name: str, sf_dir: str) -> tuple:
    """min-of-3 (wall, compile) for one registry query via a noop sink.

    Each run starts from a cold cache (ADVICE r12): owned caches
    (operators/cache.py) persist across queries within the session, and
    d12's fingerprint frame sameResult-matched t5_winnowing's ENTIRE
    plan — t5 was benchmarking an InMemoryRelation scan (0.626->0.147s)
    and the polluted minimum became the noise-gate baseline. clearCache
    before every run means (a) no cross-query substitution and (b) runs
    2-3 rebuild the query's own caches, so the min is the honest cold
    number, not a warm-cache fast path. Every replace_owned_cache call
    persists its frame afresh, so clearCache leaves no stale handle."""
    spec = REGISTRY[name]
    st = spark.sparkContext.statusTracker()
    runs: list[float] = []
    compile_runs: list[float] = []
    construct_jobs = 0
    for _ in range(3):
        spark.catalog.clearCache()
        j0 = set(st.getJobIdsForGroup(None))
        t0 = time.time()
        df = spec.fn(spark, sf_dir)
        df.schema  # force analysis into the compile bucket
        t1 = time.time()
        # jobs launched INSIDE fn()+schema (r13 attribution finding,
        # tools/compile_attribution.py): under AQE a lazy
        # localCheckpoint's toRdd materializes every shuffle map stage
        # at construct time, and driver-round loops (m9/s13/t16) and
        # write roundtrips (s14/s17) run real jobs during fn() — for
        # those rows compile_sec is job ORCHESTRATION, not py4j plan
        # building. construct_jobs > 0 marks them in BENCH_DETAIL.
        construct_jobs = max(
            construct_jobs, len(set(st.getJobIdsForGroup(None)) - j0)
        )
        df.write.mode("overwrite").format("noop").save()
        t2 = time.time()
        compile_runs.append(t1 - t0)
        runs.append(t2 - t0)
    return (
        round(min(runs), 3),
        round(min(compile_runs), 3),
        construct_jobs,
    )


def _calibration_once(spark) -> float:
    """One run of the fixed-work host-speed probe (see _calibration)."""
    t0 = time.time()
    spark.range(0, 500_000_000, 1, 32).selectExpr(
        "sum(id * 2 + 1) AS s"
    ).write.mode("overwrite").format("noop").save()
    return round(time.time() - t0, 3)


def _calibration(spark) -> float:
    """Fixed-work host-speed probe: a pure-JVM codegen loop over
    range() — no I/O, no Python, no shuffle — whose time tracks ONLY
    how fast this host is running right now (bursty hypervisor CPU
    steal has inflated whole rounds 2-7x; see BENCH_r09 vs the judge's
    isolated re-run)."""
    return round(min(_calibration_once(spark) for _ in range(3)), 3)


_HISTORY_PATH = os.path.join(
    os.path.dirname(os.path.abspath(__file__)), "BENCH_HISTORY.json"
)


def _load_history_doc() -> dict:
    try:
        with open(_HISTORY_PATH) as fh:
            return json.load(fh)
    except (OSError, ValueError):
        return {}


def _load_history() -> dict:
    return _load_history_doc().get("min_sec", {})


def _save_history(hist: dict, bside_cursor: int | None = None) -> None:
    doc = _load_history_doc()
    with open(_HISTORY_PATH, "w") as fh:
        json.dump(
            {
                "note": "per-query min wall (sec) across all rounds; "
                "bench.py noise gate baseline",
                "min_sec": dict(sorted(hist.items())),
                "bside_cursor": (
                    bside_cursor
                    if bside_cursor is not None
                    else int(doc.get("bside_cursor", 0))
                ),
            },
            fh,
            indent=1,
        )


def _noise_repass(spark, sf_dir, times, compile_times, hist):
    """Noise gate (r9 verdict item 1): BENCH_r09 overstated 8 queries
    2-7x because the min-of-3 back-to-back runs all sat inside one
    hypervisor CPU-steal burst. Any query whose wall exceeds 2x its
    cross-round historical min is re-measured at the END of the suite
    (temporal separation from the burst), preceded by a calibration
    re-check. The final number is min(first pass, re-pass); a query is
    reported noise_flagged only when the re-pass came in materially
    lower (<0.75x) — a confirmed-slow re-pass is a real regression and
    the slow number stands. Streaming/pipeline benches re-run through
    their own harnesses.

    Suspect threshold (r10 verdict item 6): hist + max(0.25s, 25%).
    The r10 gate's pure 2x relative bound exempted the two largest
    multi-second regressions of that round (bearing_pipeline
    1.47->1.86, q5 1.01->1.26 — both later measured back at r9 levels
    in isolation, i.e. noise the gate should have caught); a 25%
    relative band catches those while the 0.25s floor still keeps
    sub-second jitter from triggering re-passes."""
    suspects = [
        n
        for n, v in times.items()
        if n in hist and v > hist[n] + max(0.25, 0.25 * hist[n])
    ]
    if not suspects:
        return [], None
    cal2 = _calibration(spark)
    flagged = []
    special = {
        "bearing_pipeline": lambda: _bench_bearing_pipeline(spark),
        "bearing_stream": lambda: _bench_bearing_stream(spark),
        "curation_stream": lambda: _bench_curation_stream(spark, sf_dir),
    }
    for name in suspects:
        if name in special:
            wall2, comp2 = special[name](), None
        else:
            wall2, comp2, _ = _measure_query(spark, name, sf_dir)
        if wall2 < 0.75 * times[name]:
            flagged.append(name)
        if wall2 < times[name]:
            times[name] = wall2
            if comp2 is not None and comp2 < compile_times.get(name, 1e9):
                compile_times[name] = comp2
    return flagged, cal2


def main() -> None:
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    m = re.search(r"sf([0-9.]+)", sf_dir)
    sf = float(m.group(1)) if m else None
    spark = get_spark("bench")
    spark.sparkContext.setLogLevel("ERROR")

    # warmup: JVM, parquet footer reads, codegen, and the Python/Arrow
    # worker pool (first pandas_udf pays ~32 cold numpy/pandas imports —
    # steady-state queries shouldn't be charged for it)
    spark.read.parquet(os.path.join(sf_dir, "lineitem.parquet")).count()
    from pyspark.sql import functions as F

    @F.pandas_udf("double")
    def _warm(s):
        return s * 1.0

    spark.range(1000).select(_warm(F.col("id").cast("double"))).write.mode(
        "overwrite"
    ).format("noop").save()

    # fixed-work host-speed calibration (r5 verdict item 2); a second
    # check runs before the noise re-pass so mid-suite steal bursts are
    # visible, not just session-start state.
    calibration = _calibration(spark)

    # min of 3 runs per query: run 1 often pays query-shape-specific
    # warmup (codegen, exchange reuse), and this host shows bursty
    # hypervisor CPU steal (cumulative steal in /proc/stat) that can
    # inflate any single run ~10x. The min is the steady-state number.
    #
    # Each run is split COMPILE vs EXECUTE (r6 verdict item 6): compile
    # = fn() DataFrame construction (py4j expression building — where
    # the s2 512-literal-call pathology lived) + .schema (forces
    # analysis); execute = the noop-sink action (optimization, physical
    # planning, codegen, run). Literal-heavy plans (s4/s6, IVF/PQ
    # codebooks) spend real time in compile that is amortized per-job
    # at scale — splitting it out lets future rounds tell codegen cost
    # from execution regressions. "queries" stays compile+execute so
    # cross-round totals remain comparable.
    times: dict[str, float] = {}
    compile_times: dict[str, float] = {}
    construct_jobs: dict[str, int] = {}
    for name in HEADLINE:
        times[name], compile_times[name], construct_jobs[name] = (
            _measure_query(spark, name, sf_dir)
        )

    # flagship scan→window→score→threshold→crossing chain on the
    # reference's own file layout (not a testdata-table query)
    times["bearing_pipeline"] = _bench_bearing_pipeline(spark)
    # Streaming benches bracketed by single-run calibrations (VERDICT
    # r13 item 6: the r13 driver run doubled streaming_total while both
    # rows were noise-flagged — the bracket makes a steal burst DURING
    # the stream bench visible in the line, not just session-start
    # state). [before, after] per stream; the middle probe closes one
    # bracket and opens the next.
    cal_s0 = _calibration_once(spark)
    # chained two-stateful-operator streaming query, multi-micro-batch
    times["bearing_stream"] = _bench_bearing_stream(spark)
    cal_s1 = _calibration_once(spark)
    # streaming curation: stateless cascade + watermark-bounded dedup
    times["curation_stream"] = _bench_curation_stream(spark, sf_dir)
    cal_s2 = _calibration_once(spark)
    stream_cal = {
        "bearing_stream": [cal_s0, cal_s1],
        "curation_stream": [cal_s1, cal_s2],
    }

    # b-side rotation (VERDICT r11 item 4, widened to 30/round per
    # r12 item 6): non-headline registry queries benched per round,
    # cursor persisted in BENCH_HISTORY.json, so every registry query
    # gets a wall number every ~3-4 rounds and a slow plan can't hide
    # outside the headline set. Same min-of-3 + noise gate as headline.
    doc = _load_history_doc()
    nonheadline = sorted(n for n in REGISTRY if n not in HEADLINE)
    bside_names: list[str] = []
    cursor = int(doc.get("bside_cursor", 0)) % max(1, len(nonheadline))
    if nonheadline:
        bside_names = [
            nonheadline[(cursor + i) % len(nonheadline)]
            for i in range(min(30, len(nonheadline)))
        ]
    for name in bside_names:
        times[name], compile_times[name], construct_jobs[name] = (
            _measure_query(spark, name, sf_dir)
        )

    # noise gate: re-measure suite-time outliers vs cross-round history
    # (only at the driver's sf — local sf0.01 iteration runs would
    # otherwise pollute the historical minima)
    hist = _load_history() if sf == 0.1 else {}
    noise_flagged, cal2 = _noise_repass(
        spark, sf_dir, times, compile_times, hist
    )
    if sf == 0.1:
        for n, v in times.items():
            hist[n] = min(hist.get(n, float("inf")), v)
        _save_history(
            hist, (cursor + len(bside_names)) % max(1, len(nonheadline))
        )

    # report split (VERDICT r11 item 5): the two streaming benches are
    # trigger-cadence-priced, not plan-priced — 45% of the r11 headline
    # wall — so they report under streaming_total; bside under its own
    # total; "value" stays the BATCH headline so plan regressions are
    # visible.
    stream_times = {
        n: times.pop(n)
        for n in ("bearing_stream", "curation_stream")
        if n in times
    }
    bside_times = {n: times.pop(n) for n in bside_names if n in times}
    streaming_total = round(sum(stream_times.values()), 3)
    bside_total = round(sum(bside_times.values()), 3)

    total = round(sum(times.values()), 3)
    # Full detail (per-query compile split, calibration) goes to a
    # sidecar file; the stdout contract line must stay well under the
    # driver's 2000-char output-tail window or it records parsed=null
    # (this bit round 7: compile_sec pushed the line past 2000 chars
    # and the driver could not parse the truncated JSON).
    detail = {
        "metric": "headline_queries_total",
        "value": total,
        "unit": "sec",
        "queries": times,
        "streaming_total": streaming_total,
        "streaming_queries": stream_times,
        "stream_cal": stream_cal,
        "stream_progress": dict(_STREAM_PROGRESS),
        "bside_total": bside_total,
        "bside_queries": bside_times,
        "bside_cursor": cursor,
        "compile_sec": compile_times,
        "construct_jobs": construct_jobs,
        "compile_note": "compile_sec = fn()+schema wall. Nearly every "
        "row shows construct_jobs >= 1: spark.read.parquet runs a "
        "1-task footer/schema job. Rows well above that run real work "
        "during construction "
        "(AQE prestages every shuffle stage of a lazy localCheckpoint "
        "at toRdd; driver-round loops collect; roundtrips write) — "
        "their compile floor is job orchestration, not plan building. "
        "Pure py4j/analysis construction, measured by "
        "tools/compile_attribution.py at r13: t17 0.38s s14 0.35s "
        "s17 0.29s d8 0.34s g1 0.36s m9 0.36s s6 0.68s (s6 = analyzer "
        "fixed cost on the literal codebook tables; nested-transform, "
        "numpy single-node literals and D-suffix literals all "
        "measured, none net-faster).",
        "sf": sf,
        "calibration_sec": calibration,
        "calibration_repass_sec": cal2,
        "noise_flagged": noise_flagged,
        "split_note": "since r12, value/queries are BATCH-only; "
        "streaming benches report under streaming_total (r11 "
        "comparison: r11 value included both streams)",
        "cache_note": "since r13, every measured run starts from "
        "spark.catalog.clearCache() — r12's d12/w25/m9/t5 numbers were "
        "warm-owned-cache (runs 2-3 hit the sameResult fast path) and "
        "are not directly comparable",
    }
    with open(
        os.path.join(
            os.path.dirname(os.path.abspath(__file__)), "BENCH_DETAIL.json"
        ),
        "w",
    ) as fh:
        json.dump(detail, fh, indent=1)
    print(
        _contract_line(
            total,
            times,
            sf,
            calibration,
            noise_flagged,
            streaming_total=streaming_total,
            streaming_queries=stream_times,
            bside_total=bside_total,
            bside_queries=bside_times,
            stream_cal=stream_cal,
        )
    )


# Batch rows printed in round 13's judged contract line (BENCH_r13.json
# "queries"). The driver's round-over-round PERF comparison treats a row
# present in round N-1's line but absent from round N's as
# "dropped_from_bench" (r13 saw 17 phantom drops when elision order shed
# headline rows before b-side ones — VERDICT r13 item 1). These names are
# therefore PINNED: _contract_line never elides them, so every row the
# r13 comparison tracks keeps a printed number in r14 regardless of how
# fast it got. New slow rows still surface via the slowest-first fill.
_PINNED_PRINT = frozenset({
    "d8_dup_clusters", "s9_ivf_recall", "s6_ivfpq_ann", "d12_containment",
    "d13_incremental_semdedup", "c2_curation_with_semdedup",
    "a26_sliding_distinct", "mm8_frame_tensor_stats", "m17_psi_drift",
    "t12_bigram_lm", "d10_incremental_lsh", "q21_waiting_suppliers",
    "t17_textrank", "w25_binary_segmentation", "m9_fedavg_weights",
    "s18_mmr_rerank", "d9_semdedup", "s17_occ_committers",
    "t15_gopher_repetition", "s14_upsert_roundtrip", "m2_lstm_train_loss",
    "d4_lsh_candidates", "s2_ivf_ann", "s4_hyperplane_ann",
    "a22_approx_distinct", "s13_kmeans_codebook", "bearing_pipeline",
    "a25_partition_checksums",
})


def _contract_line(
    total,
    times,
    sf,
    calibration,
    noise_flagged=(),
    budget=1900,
    streaming_total=None,
    streaming_queries=None,
    bside_total=None,
    bside_queries=None,
    stream_cal=None,
) -> str:
    """ONE JSON line <= budget chars (the driver parses the JSON out of
    a ~2000-char stdout tail window; a longer line truncates to
    unparseable — this bit round 7).

    The full 91-row headline map is ~2.3k chars of names alone, so it
    can never fit whole; VERDICT r13 item 1 sets the shed order:
    b-side entries first, headline rows last, and when headline rows
    must go the cut is DETERMINISTIC (smallest wall first, name
    tie-break), never touches _PINNED_PRINT rows, and the line carries
    an explicit ``headline_complete: false`` + ``queries_elided`` count.
    BENCH_DETAIL.json always has every row."""
    times = {k: round(v, 2) for k, v in times.items()}
    # detail lives in BENCH_DETAIL.json; 2 decimals buys line headroom
    base = {
        "metric": "headline_queries_total",
        "value": total,
        "unit": "sec",
        "queries": times,
        "sf": sf,
        "calibration_sec": calibration,
        "noise_flagged": list(noise_flagged),
    }
    if streaming_total is not None:
        base["streaming_total"] = streaming_total
        base["streaming_queries"] = {
            k: round(v, 2) for k, v in (streaming_queries or {}).items()
        }
        if stream_cal:
            # [before, after] fixed-work calibration bracketing each
            # stream bench (VERDICT r13 item 6): a burst DURING the
            # stream shows as an inflated bracket, so the judge can
            # separate host steal from stream regressions in the line
            base["stream_cal"] = {
                k: [round(x, 2) for x in v] for k, v in stream_cal.items()
            }
    if bside_total is not None:
        base["bside_total"] = bside_total
        base["bside_queries"] = {
            k: round(v, 2) for k, v in (bside_queries or {}).items()
        }

    def _emit() -> str:
        return json.dumps(base, separators=(",", ":"))

    line = _emit()
    if len(line) <= budget:
        base["headline_complete"] = True
        line = _emit()
        if len(line) <= budget:
            return line
        del base["headline_complete"]
        return _emit()

    # 1. shed b-side rows, smallest wall first (deterministic: name
    #    tie-break ascending so equal walls shed in one fixed order)
    if "bside_queries" in base:
        bq = sorted(
            base["bside_queries"].items(), key=lambda kv: (kv[1], kv[0])
        )
        while bq and len(line) > budget:
            bq = bq[1:]
            base["bside_queries"] = dict(bq)
            base["bside_elided"] = len(bside_queries or {}) - len(bq)
            line = _emit()
    if len(line) <= budget:
        base["headline_complete"] = True
        return _emit() if len(_emit()) <= budget else line

    # 2. cap the noise_flagged list (full list in BENCH_DETAIL.json)
    flagged = list(noise_flagged)
    if len(flagged) > 10:
        base["noise_flagged"] = flagged[:10]
        base["noise_flagged_n"] = len(flagged)
        line = _emit()
    if len(line) <= budget:
        base["headline_complete"] = True
        return _emit() if len(_emit()) <= budget else line

    # 3. last: shed NON-PINNED headline rows, smallest wall first.
    base["headline_complete"] = False
    sheddable = sorted(
        (kv for kv in times.items() if kv[0] not in _PINNED_PRINT),
        key=lambda kv: (kv[1], kv[0]),
    )
    keep = dict(times)
    for name, _ in sheddable:
        if len(line) <= budget:
            break
        keep.pop(name)
        base["queries"] = keep
        base["queries_elided"] = len(times) - len(keep)
        line = _emit()
    if len(line) <= budget:
        return line
    # pinned rows only and still over: shed pinned smallest-first too
    # (never expected — 28 pinned rows is ~900 chars — but bounded)
    pinned = sorted(keep.items(), key=lambda kv: (kv[1], kv[0]))
    for name, _ in pinned[:-1]:
        if len(line) <= budget:
            break
        keep.pop(name)
        base["queries"] = keep
        base["queries_elided"] = len(times) - len(keep)
        line = _emit()
    return line


if __name__ == "__main__":
    main()
