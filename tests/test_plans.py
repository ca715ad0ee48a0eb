"""Physical-plan regression tests: the scale-critical plan properties
(pushdown, pruning, broadcasts, no accidental joins/cartesians) are
asserted from explain output so refactors can't silently lose them."""

from __future__ import annotations

from anomaly_detection_iiot_spark.queries import REGISTRY
from anomaly_detection_iiot_spark.session import scoped_conf


def _plan(spark, sf_dir, name, mode="formatted"):
    # Plan pins must read each operator's OWN plan: owned caches from
    # queries run earlier in the session (d12/d9/d13 fingerprint and
    # assignment frames, r12) would otherwise substitute
    # InMemoryRelations for the very subtrees the pins inspect.
    spark.catalog.clearCache()
    df = REGISTRY[name].fn(spark, sf_dir)
    qe = df._jdf.queryExecution()
    if mode == "formatted":
        return qe.explainString(
            spark._jvm.org.apache.spark.sql.execution.ExplainMode.fromString(
                "formatted"
            )
        )
    return qe.executedPlan().toString()


def test_q1_filter_pushdown_and_pruning(spark, sf_dir):
    plan = _plan(spark, sf_dir, "q1_pricing_summary")
    assert "PushedFilters" in plan
    assert "l_shipdate" in plan.split("PushedFilters", 1)[1].split("]", 1)[0]
    # column pruning: the wide lineitem scan must not read join keys we
    # don't use
    read_schema = plan.split("ReadSchema", 1)[1].splitlines()[0]
    assert "l_orderkey" not in read_schema


def test_q3_broadcasts_customer_dim(spark, sf_dir):
    plan = _plan(spark, sf_dir, "q3_top_revenue_orders")
    assert "BroadcastHashJoin" in plan


def test_s1_broadcasts_query_side(spark, sf_dir):
    plan = _plan(spark, sf_dir, "s1_cosine_topk")
    assert "BroadcastHashJoin" in plan or "BroadcastNestedLoopJoin" in plan
    assert "CartesianProduct" not in plan


def test_d4_has_no_join_at_all(spark, sf_dir):
    """The LSH rewrite replaced the banded self-join with per-bucket
    pair expansion — any Join node reappearing means the double
    pipeline computation is back."""
    plan = _plan(spark, sf_dir, "d4_lsh_candidates")
    assert "Join" not in plan


def test_m6_single_udf_evaluation(spark, sf_dir):
    """The scoring UDF must appear exactly once in the physical tree
    (projection collapse can silently duplicate deterministic UDFs)."""
    plan = _plan(spark, sf_dir, "m6_reconstruction_error", mode="executed")
    assert plan.count("ArrowEvalPython") == 1


def test_m7_single_udf_evaluation(spark, sf_dir):
    plan = _plan(spark, sf_dir, "m7_fft_mag", mode="executed")
    assert plan.count("ArrowEvalPython") == 1


def test_dim_joins_broadcast(spark, sf_dir):
    plan = _plan(spark, sf_dir, "j5_broadcast_dims")
    assert "BroadcastHashJoin" in plan or "BroadcastNestedLoopJoin" in plan


def test_asof_join_is_window_not_join(spark, sf_dir):
    """The as-of join uses the union + last-over-window formulation —
    one shuffle by key, no join node (the 100 TB-safe as-of pattern)."""
    plan = _plan(spark, sf_dir, "j6_asof_join", mode="executed")
    assert "Join" not in plan
    assert "Window" in plan


def test_d3_no_shingle_filter_below_shuffle(spark, sf_dir):
    """The h0-not-null drop must stay ABOVE the repartition. If filter
    pushdown substitutes the signature pipeline into the predicate and
    sinks it below the exchange, the whole tokenize->shingle->digest
    chain re-runs on the scan's (few) splits — a ~8x regression on a
    single-split corpus file (see minhash_signature_arrays).

    The guard in minhash_signature_arrays is an observe()
    (CollectMetrics) barrier between the signature projection and the
    drop filter. Its blocking property is correctness-mandated — the
    observed metric must count rows at the observe point, so no
    optimizer version may push a later filter beneath it (this replaced
    a `rand() < -1` nondeterministic-disjunct trick that relied on the
    optimizer never folding rand()'s range)."""
    df = REGISTRY["d3_minhash_signatures"].fn(spark, sf_dir)
    plan = df._jdf.queryExecution().optimizedPlan().toString()
    assert "CollectMetrics" in plan  # the barrier is present
    below_exchange = plan.split("RepartitionByExpression", 1)[1]
    assert "Filter" not in below_exchange
    # the filter must also stay above the barrier (observed row count =
    # pre-drop signature rows)
    below_barrier = plan.split("CollectMetrics", 1)[1]
    assert "Filter" not in below_barrier
    # and md5 must be evaluated once, not once per hash slot
    assert plan.count("md5") == 1


def test_s4_rerank_is_bucket_local(spark, sf_dir):
    """hyperplane_ann_top1's rerank must compute cosines INSIDE the
    per-table bucket self-joins: exactly n_tables joins in the plan,
    none after the scored projection. The earlier candidates-then-
    lookup form added two more joins to re-attach vectors to pairs,
    shipping a |pairs| x vector-payload intermediate through the second
    one — 1.48 GB vs 0.48 GB total shuffle at the 100x probe scale
    (r7, tools/scale_probe.py). 4 joins reappearing means that
    regression is back."""
    df = REGISTRY["s4_hyperplane_ann"].fn(spark, sf_dir)
    plan = df._jdf.queryExecution().optimizedPlan().toString()
    assert plan.count("Join") == 2  # one bucket self-join per table


def test_flagship_single_scan_no_joins(spark, sf_dir):
    """The flagship evaluation tail is the single-pass window
    formulation (plans/eval_tail.py): one events scan, zero joins. The
    round-1 fit+join tail recomputed the scan once per branch — any
    Join node or second scan reappearing means that regression is
    back."""
    from anomaly_detection_iiot_spark.plans.flagship import (
        flagship_anomaly_report,
    )

    plan = flagship_anomaly_report(spark, sf_dir)._jdf.queryExecution(
    ).executedPlan().toString()
    assert plan.count("Scan parquet") == 1
    assert "Join" not in plan


def test_bearing_pipeline_single_udf_and_cached_resample(spark, tmp_path):
    """Bearing pipeline: scoring UDF evaluated once, resampled
    intermediate cached (two consumers), eval tail join-free."""
    import numpy as np

    from anomaly_detection_iiot_spark.ml import autoencoder as ae
    from anomaly_detection_iiot_spark.plans.bearing_pipeline import (
        bearing_anomaly_report,
    )

    rng = np.random.default_rng(3)
    for f in range(4):
        stamp = f"2004.02.12.10.{40 + f:02d}.00"
        rows = rng.normal(size=(64, 2))
        (tmp_path / stamp).write_text(
            "\n".join("\t".join("%.6f" % v for v in r) for r in rows) + "\n"
        )
    df = bearing_anomaly_report(
        spark, str(tmp_path), ae.init_weights([8, 4, 2, 4, 8], seed=5),
        n_cols=2, rows_per_file=64, resample_factor=4,
        window_size=8, window_step=8, period=2,
    )
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert plan.count("ArrowEvalPython") == 1
    assert "InMemoryTableScan" in plan  # persisted resample feeds both consumers
    # the only join allowed is the broadcast file-rank join
    assert plan.count("Join") <= plan.count("BroadcastHashJoin") + plan.count(
        "BroadcastNestedLoopJoin"
    )


def test_d4_buckets_cached_once(spark, sf_dir):
    """The skew-guard split must read one persisted buckets frame, not
    re-execute the minhash pipeline per branch."""
    plan = _plan(spark, sf_dir, "d4_lsh_candidates", mode="executed")
    # both branches must read the persisted frame (the cache lineage is
    # printed under each InMemoryTableScan but executes once)
    assert plan.count("InMemoryTableScan") == 2  # small + big branch


def test_t19_encode_reads_cached_freqs(spark, sf_dir):
    """t19's encode plan must read the owned-cached (word, freq) table,
    not re-run the corpus scan + explode + groupBy that train_bpe's
    path-probe collect already materialized (r13: that duplicate
    aggregation was the probe-named growing stage at 100x)."""
    plan = _plan(spark, sf_dir, "t19_bpe_encode", mode="executed")
    assert "InMemoryTableScan" in plan


def test_minhash_long_and_array_forms_agree(spark, sf_dir):
    from anomaly_detection_iiot_spark.operators import dedup

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet").select(
        "doc_id", "text"
    )
    long_form = dedup.minhash_signature(
        dedup.word_shingles(dedup.tokenize(docs), n=3), num_hashes=4
    )
    array_form = dedup.minhash_signature_arrays(
        dedup.shingle_array(dedup.tokenize(docs))
    )
    assert (
        long_form.exceptAll(array_form).count()
        + array_form.exceptAll(long_form).count()
        == 0
    )


def test_t5_winnowing_single_shuffle(spark, sf_dir):
    """Winnowing is array-native (r14): the ONLY exchange is the
    deliberate CPU-spreading repartition of the corpus scan; gram
    hashing, the sliding-window min, and the per-doc dedup are in-row
    array expressions (operators/textstats.py::winnowing_fingerprints).
    The pre-r14 form paid a per-doc window SORT over the exploded gram
    rows plus a global distinct aggregation on that one exchange — a
    Sort or (Hash|Sort)Aggregate reappearing means the long form is
    back.

    Cache isolation (r12): d12's owned fingerprint cache shares this
    exact subtree, so if d12 ran earlier in the session the
    CacheManager substitutes an InMemoryRelation here (desired reuse,
    wrong fixture for a shuffle-count pin) — clear the cache so the
    pin reads the operator's own plan."""
    spark.catalog.clearCache()
    plan = _plan(spark, sf_dir, "t5_winnowing", mode="executed")
    assert plan.count("Exchange hashpartitioning") == 1
    assert "Window" not in plan
    assert "Aggregate" not in plan  # per-doc array_distinct, no shuffle agg
    assert plan.count("Generate") == 1  # one explode of the final set


def test_d9_assignment_is_projection(spark, sf_dir):
    """SemDeDup's IVF assignment inlines the collected centroids as
    literals, so the plan must contain NO nested-loop join and NO
    argmax window — assignment is a narrow projection (the earlier
    join+window form materialized |corpus|x|centroids| rows and paid
    an exchange; see operators/similarity.py::ivf_assign)."""
    plan = _plan(spark, sf_dir, "d9_semdedup", mode="executed")
    assert "BroadcastNestedLoopJoin" not in plan
    # blocked_neardup_pairs = union of the small-block gram branch and
    # the oversized-tile branch -> exactly two grouped-pandas stages
    assert plan.count("FlatMapGroupsInPandas") == 2


def test_multi_consumer_frames_are_cached_once(spark, sf_dir):
    """r12 regression guard for the d12 recomputation bug (89.9 s at
    the 100x probe): frames feeding 2+ plan branches must be persisted
    so their subtree builds once. Pins: d12's fingerprint + pruned-
    postings tables and d9's assignment frame appear as
    InMemoryRelations in their own plans, and the d12 plan's PARQUET
    SCAN count proves the corpus is read for exactly one subtree (the
    cache build), not once per consumer."""
    plan = _plan(spark, sf_dir, "d12_containment", mode="executed")
    # fp + fpk caches (fpk's build plan contains fp's cache, so the
    # relation count is >= 2 distinct InMemoryRelations)
    assert plan.count("InMemoryRelation") >= 2, plan[:500]
    # every FileScan of documents.parquet lives inside the single
    # cache-build subtree: outside InMemoryRelation there must be none
    first_imr = plan.index("InMemoryRelation")
    assert "FileScan" not in plan[:first_imr]

    plan9 = _plan(spark, sf_dir, "d9_semdedup", mode="executed")
    assert "InMemoryRelation" in plan9

    plan13 = _plan(spark, sf_dir, "d13_incremental_semdedup",
                   mode="executed")
    # a_first (historical) + a_new (incremental operator) caches
    assert plan13.count("InMemoryRelation") >= 2


def test_runtime_bloom_filter_injects_on_shuffle_join(spark, sf_dir):
    """At 100 TB the lineitem⋈filtered-orders join gets a runtime bloom
    filter on the probe side for free (defaults: creation side < 10 MB,
    application-side scan > 10 GB). Local test data is below the scan
    threshold, so the test lowers it to prove the optimizer PATH —
    an InjectRuntimeFilter bloom_filter_agg on the creation side and a
    might_contain probe above the big scan."""
    from pyspark.sql import functions as F

    with scoped_conf(spark, {
        "spark.sql.autoBroadcastJoinThreshold": "-1",
        "spark.sql.optimizer.runtime.bloomFilter."
        "applicationSideScanSizeThreshold": "0",
    }):
        li = spark.read.parquet(f"{sf_dir}/lineitem.parquet")
        o = spark.read.parquet(f"{sf_dir}/orders.parquet").filter(
            F.col("o_orderpriority") == "1-URGENT"
        )
        j = li.join(o, li.l_orderkey == o.o_orderkey)
        plan = j._jdf.queryExecution().optimizedPlan().toString()
        assert "might_contain" in plan
        assert "bloom_filter_agg" in plan


def test_q6_all_three_predicates_pushed(spark, sf_dir):
    """Q6 is the suite's purest pushdown probe: shipdate range, discount
    band, and quantity cap must ALL reach the parquet scan, and the scan
    must read only the four columns the query touches."""
    plan = _plan(spark, sf_dir, "q6_forecast_revenue")
    pushed = plan.split("PushedFilters", 1)[1].split("]", 1)[0]
    for col in ("l_shipdate", "l_discount", "l_quantity"):
        assert col in pushed, f"{col} not pushed: {pushed}"
    read_schema = plan.split("ReadSchema", 1)[1].splitlines()[0]
    assert "l_orderkey" not in read_schema
    assert "l_tax" not in read_schema


def test_q19_broadcasts_part_and_keeps_disjunction(spark, sf_dir):
    """Q19's three OR-ed predicate branches must stay one broadcast part
    join (no cartesian/shuffle), with the disjunction evaluated as a
    join-level or post-join filter, not dropped."""
    plan = _plan(spark, sf_dir, "q19_disjunctive_revenue")
    assert "BroadcastHashJoin" in plan
    assert "SortMergeJoin" not in plan
    assert "CartesianProduct" not in plan


def test_q13_left_outer_preserved(spark, sf_dir):
    """Q13 exists to exercise the LEFT OUTER fact join: an inner join
    would silently drop the zero-order customers' c_count=0 bucket, so
    the plan must keep an outer (or RIGHT outer, post-reorder) join and
    the priority filter must NOT be pushed below the null-supplying
    side in a way that turns it inner."""
    plan = _plan(spark, sf_dir, "q13_customer_distribution")
    assert "Outer" in plan  # LeftOuter or RightOuter after reordering
    rows = {
        r["c_count"]: r["custdist"]
        for r in REGISTRY["q13_customer_distribution"]
        .fn(spark, sf_dir)
        .collect()
    }
    assert 0 in rows or min(rows) == 0 or max(rows) > 0  # smoke: ran


def test_q15_scalar_max_is_broadcast(spark, sf_dir):
    """Q15's scalar-max subquery must come back as a broadcast one-row
    side (BroadcastNestedLoopJoin or BroadcastExchange), never a
    shuffled cartesian."""
    plan = _plan(spark, sf_dir, "q15_top_supplier")
    assert "BroadcastExchange" in plan
    assert "CartesianProduct" not in plan


def test_s12_orc_scan_partition_pruned(spark, sf_dir):
    """The s12 ORC read must prune at the directory level: the shard
    predicate appears as a PartitionFilters entry on the ORC scan, and
    never as a post-scan row filter alone."""
    plan = _plan(spark, sf_dir, "s12_orc_roundtrip")
    assert "PartitionFilters" in plan
    pf = plan.split("PartitionFilters", 1)[1].split("]", 1)[0]
    assert "shard" in pf


def test_t15_single_explode_two_shuffles(spark, sf_dir):
    """t15 builds all four n-gram streams inside ONE flattened struct
    array — the plan must show exactly one Generate (explode) and at
    most the documented two aggregation shuffles on top of the scan's
    CPU-spreading repartition."""
    import re

    plan = _plan(spark, sf_dir, "t15_gopher_repetition")
    ops = re.findall(r"^\((\d+)\) (\w+)", plan, re.M)
    names = [n for _, n in ops]
    assert names.count("Generate") == 1
    # even better than two: the doc_id repartition satisfies BOTH
    # groupBys' distributions (keys are doc_id supersets), so the only
    # exchange in the whole plan is the CPU-spreading repartition
    assert names.count("Exchange") == 1, names


def test_s7_filter_pushed_to_vector_scan(spark, sf_dir):
    """s7 is PRE-filtered ANN: the label predicate must reach the
    embeddings parquet scan, so non-matching vectors are never
    deserialized, let alone scored."""
    plan = _plan(spark, sf_dir, "s7_filtered_ann")
    pushed = plan.split("PushedFilters", 1)[1].split("]", 1)[0]
    assert "label" in pushed, pushed


def test_t17_corpus_consumed_once_at_checkpoint(spark, sf_dir):
    """t17's three unrolled pagerank iterations must never be able to
    re-derive the corpus scan. The guarantee is structural, stronger
    than ReusedExchange: pagerank localCheckpoints the edge frame that
    out-weights, nodes and every round derive from, so the FINAL plan
    contains ZERO parquet FileScans — every iteration reads materialized
    checkpoint blocks (Scan ExistingRDD), and no optimizer decision can
    resurrect a corpus rescan from a plan that no longer references the
    files."""
    plan = _plan(spark, sf_dir, "t17_textrank")
    assert "FileScan" not in plan, "corpus scan leaked past the checkpoint"
    assert "ExistingRDD" in plan


def test_o1_global_rank_is_bucket_partitioned(spark, sf_dir):
    """r10 verdict item 1: o1's materialized global ordering must never
    regress to a single-task ``row_number() OVER (ORDER BY ts)`` over
    the corpus. Structural pins: (a) the row_number window is
    partitioned by the hour bucket; (b) the only UNpartitioned window
    is the offsets running-sum, whose input is the bucket-count
    aggregate (it computes sum(n), not a rank over events); (c) the
    offsets side joins back via broadcast, not shuffle."""
    plan = _plan(spark, sf_dir, "o1_time_sort")
    windows = [
        ln for ln in plan.splitlines()
        if "windowspecdefinition" in ln
    ]
    assert len(windows) == 2, plan
    rank_win = [ln for ln in windows if "row_number()" in ln]
    assert len(rank_win) == 1
    # partition spec present: windowspecdefinition(bucket#N, ts#N ASC...
    assert "windowspecdefinition(bucket#" in rank_win[0]
    offset_win = [ln for ln in windows if "sum(" in ln][0]
    # the unpartitioned window aggregates bucket COUNTS (sum over n),
    # never event rows
    assert "sum(n#" in offset_win
    assert "BroadcastHashJoin" in plan
    assert "SortMergeJoin" not in plan


def test_a29_a30_stay_uncached(spark, sf_dir):
    """AQE-stage-reuse rule (r13, recorded in operators/cache.py):
    a29/a30's duplicate subtrees are IDENTICAL consumers inside one
    plan, which AQE collapses into shared QueryStages at runtime — an
    owned cache there measured 1.5-1.6x SLOWER (materialization barrier
    + InMemoryRelation read for scans that never execute). This pin
    keeps r14+ from re-adding the losing caches."""
    for name in ("a29_market_basket", "a30_audience_overlap"):
        plan = _plan(spark, sf_dir, name, mode="executed")
        assert "InMemoryRelation" not in plan, f"{name} grew a cache"


def test_q21_nation_prefilter_survives_below_semi_anti(spark, sf_dir):
    """ADVICE r13: q21's 25x row cut depends on the semi/anti self-join
    inequalities referencing the supplier-side s_suppkey copy — spelled
    with l_suppkey, Catalyst's PushLeftSemiLeftAntiThroughJoin rewrites
    the plan back to semi/anti-on-full-lineitem. Pin the optimized
    shape: the LeftAnti sits ON TOP of the broadcast nation/supplier
    joins (prints above them in the tree), with both broadcast joins
    inside its left input."""
    plan = _plan(spark, sf_dir, "q21_waiting_suppliers", mode="executed")
    assert "LeftAnti" in plan and "LeftSemi" in plan
    # top-down print order: anti above semi, and the nation/supplier
    # inner join (the only operator referencing s_nationkey) below
    # BOTH — i.e. inside the anti's left input, where the 25x cut lives
    assert plan.index("LeftAnti") < plan.index("LeftSemi")
    assert plan.index("LeftSemi") < plan.index("s_nationkey")
    # the semi/anti inequalities must reference the supplier-side key
    # copy (s_suppkey) — the l_suppkey spelling is what Catalyst
    # rewrites back to semi/anti-on-full-lineitem
    import re

    anti_line = [ln for ln in plan.splitlines() if "LeftAnti" in ln][0]
    assert re.search(r"s_suppkey#\d+L? = l_suppkey", anti_line), anti_line
