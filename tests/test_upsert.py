"""Merge-on-read upsert table (sources/upsert.py): last-writer-wins
version resolution, tombstone deletes, re-insert-after-delete, time
travel and incremental reads."""

from __future__ import annotations

from pyspark.sql import functions as F

from anomaly_detection_iiot_spark.sources import upsert


def partition_filters(df):
    """The ``PartitionFilters: [...]`` clause of the scan node in the
    executed plan (empty string if the scan has none)."""
    plan = df._jdf.queryExecution().executedPlan().toString()
    for line in plan.splitlines():
        if "PartitionFilters:" in line:
            start = line.index("PartitionFilters:")
            return line[start:].split("]", 1)[0] + "]"
    return ""


def _rows(df):
    return {
        (r.k, r.val)
        for r in df.select("k", "val").collect()
    }


def test_upsert_versions_tombstones_and_reinsert(spark, tmp_path):
    tbl = str(tmp_path / "tbl")
    base = spark.createDataFrame(
        [(1, "a0"), (2, "b0"), (3, "c0")], "k long, val string"
    )
    upsert.write_base(base, tbl)
    # v1: update k=1, insert k=4
    upsert.append_delta(
        spark.createDataFrame([(1, "a1"), (4, "d1")], "k long, val string"),
        tbl,
        1,
    )
    # v2: delete k=2 and k=4; tombstone for a key that never existed
    # (k=9) must be a no-op
    upsert.append_delta(
        base.limit(0),
        tbl,
        2,
        deletes=spark.createDataFrame([(2,), (4,), (9,)], "k long"),
    )
    got = _rows(upsert.read_merged(spark, tbl, ["k"]))
    assert got == {(1, "a1"), (3, "c0")}
    # v3: re-insert k=2 after its delete — later version wins again
    upsert.append_delta(
        spark.createDataFrame([(2, "b3")], "k long, val string"), tbl, 3
    )
    got = _rows(upsert.read_merged(spark, tbl, ["k"]))
    assert got == {(1, "a1"), (2, "b3"), (3, "c0")}
    # system columns never leak into the user schema
    assert upsert.read_merged(spark, tbl, ["k"]).columns == ["k", "val"]


def test_cdc_stream_applies_batches_as_versions(spark, tmp_path):
    """Streaming CDC apply (streaming/cdc_stream.py): each micro-batch
    lands as one version partition, merged view equals the batch-
    applied table, and a replayed batch (same version, same rows) is
    idempotent at rest."""
    import os

    from anomaly_detection_iiot_spark.streaming import cdc_stream

    tbl = str(tmp_path / "tbl")
    upsert.write_base(
        spark.createDataFrame(
            [(1, "a0"), (2, "b0"), (3, "c0")], "k long, val string"
        ),
        tbl,
    )
    # two change files -> two micro-batches (maxFilesPerTrigger=1)
    indir = str(tmp_path / "changes")
    spark.createDataFrame(
        [(1, "a1", "upsert"), (4, "d1", "upsert")],
        "k long, val string, _op string",
    ).coalesce(1).write.mode("append").parquet(indir)
    spark.createDataFrame(
        [(2, None, "delete"), (5, "e2", "upsert")],
        "k long, val string, _op string",
    ).coalesce(1).write.mode("append").parquet(indir)

    stream = (
        spark.readStream.schema("k long, val string, _op string")
        .option("maxFilesPerTrigger", 1)
        .parquet(indir)
    )
    q = cdc_stream.apply_cdc_stream(
        stream, tbl, str(tmp_path / "ckpt"), key_cols=["k"]
    )
    q.awaitTermination(120)

    got = _rows(upsert.read_merged(spark, tbl, ["k"]))
    # batch order is file order only in aggregate: both batches applied,
    # and since they touch disjoint keys the merged view is order-free
    assert got == {(1, "a1"), (3, "c0"), (4, "d1"), (5, "e2")}
    versions = sorted(d for d in os.listdir(tbl) if d.startswith("_v="))
    assert len(versions) == 3  # base + 2 batches
    # replay idempotence: rewriting version 1 with the same rows (what
    # a foreachBatch retry does) leaves the merged view unchanged —
    # the retry declares ownership of its version via overwrite=True
    upsert.append_delta(
        spark.createDataFrame([(1, "a1"), (4, "d1")], "k long, val string"),
        tbl,
        1,
        overwrite=True,
    )
    assert _rows(upsert.read_merged(spark, tbl, ["k"])) == got


def test_same_batch_upsert_beats_tombstone(spark, tmp_path):
    tbl = str(tmp_path / "tbl")
    base = spark.createDataFrame([(1, "a0")], "k long, val string")
    upsert.write_base(base, tbl)
    upsert.append_delta(
        spark.createDataFrame([(1, "a1")], "k long, val string"),
        tbl,
        1,
        deletes=spark.createDataFrame([(1,)], "k long"),
    )
    assert _rows(upsert.read_merged(spark, tbl, ["k"])) == {(1, "a1")}


def test_time_travel_reads_prune_later_versions(spark, tmp_path):
    """as_of_version resolves the historical view AND prunes later
    version directories at the scan (PartitionFilters on _v)."""
    tbl = str(tmp_path / "tbl")
    upsert.write_base(
        spark.createDataFrame([(1, "a0"), (2, "b0")], "k long, val string"),
        tbl,
    )
    upsert.append_delta(
        spark.createDataFrame([(1, "a1")], "k long, val string"), tbl, 1
    )
    upsert.append_delta(
        spark.createDataFrame([(2, None)], "k long, val string").limit(0),
        tbl,
        2,
        deletes=spark.createDataFrame([(2,)], "k long"),
    )
    assert _rows(upsert.read_merged(spark, tbl, ["k"])) == {(1, "a1")}
    assert _rows(upsert.read_merged(spark, tbl, ["k"], as_of_version=1)) == {
        (1, "a1"),
        (2, "b0"),
    }
    assert _rows(upsert.read_merged(spark, tbl, ["k"], as_of_version=0)) == {
        (1, "a0"),
        (2, "b0"),
    }
    # pruning evidence: the scan carries a PartitionFilter on _v, and
    # the rows actually read (input_file_name ground truth — works
    # through AQE query stages, unlike the leaf numFiles metric) come
    # only from <= as_of_version directories
    pinned = upsert.read_merged(spark, tbl, ["k"], as_of_version=0)
    assert "_v" in partition_filters(pinned)
    raw = spark.read.option("basePath", tbl).parquet(tbl).filter(
        F.col("_v") <= 0
    )
    srcs = [
        r.f for r in raw.select(F.input_file_name().alias("f")).collect()
    ]
    assert srcs and all("_v=0" in f for f in srcs)


def test_read_changes_is_incremental_and_pruned(spark, tmp_path):
    """read_changes(since) returns exactly the later deltas with ops
    visible, and the scan lists only > since directories."""
    from pyspark.sql import functions as F

    tbl = str(tmp_path / "tbl")
    upsert.write_base(
        spark.createDataFrame([(1, "a0")], "k long, val string"), tbl
    )
    upsert.append_delta(
        spark.createDataFrame([(2, "b1")], "k long, val string"), tbl, 1
    )
    upsert.append_delta(
        spark.createDataFrame([(3, None)], "k long, val string").limit(0),
        tbl,
        2,
        deletes=spark.createDataFrame([(1,)], "k long"),
    )
    ch = upsert.read_changes(spark, tbl, since_version=1)
    rows = {(r.k, r._deleted) for r in ch.collect()}
    assert rows == {(1, True)}  # only the v2 tombstone, op visible
    srcs = [
        r.f for r in ch.select(F.input_file_name().alias("f")).collect()
    ]
    assert srcs and all("_v=2" in f for f in srcs)
    # catching up from 0 yields both deltas in version order
    ch_all = upsert.read_changes(spark, tbl, since_version=0)
    assert {(r.k, r._v) for r in ch_all.collect()} == {(2, 1), (1, 2)}


def test_stream_static_enrichment_sees_dim_updates_mid_stream(
    spark, tmp_path
):
    """The lakehouse dimension pattern: a foreachBatch pipeline that
    re-resolves read_merged() per micro-batch sees upserts applied to
    the dimension BETWEEN batches — fresh enrichment without restarting
    the stream (a static broadcast join would pin the stale snapshot
    for the query's lifetime)."""
    from pyspark.sql import functions as F

    dim = str(tmp_path / "dim")
    upsert.write_base(
        spark.createDataFrame([(1, "bronze")], "k long, val string"), dim
    )
    facts = str(tmp_path / "facts")
    spark.createDataFrame([(100, 1)], "fact_id long, k long").coalesce(
        1
    ).write.mode("append").parquet(facts)
    spark.createDataFrame([(101, 1)], "fact_id long, k long").coalesce(
        1
    ).write.mode("append").parquet(facts)

    out = []

    def enrich(batch_df, batch_id):
        d = upsert.read_merged(spark, dim, ["k"])
        rows = (
            batch_df.join(F.broadcast(d), "k")
            .select("fact_id", "val")
            .collect()
        )
        out.extend((r.fact_id, r.val) for r in rows)
        # dimension changes AFTER the first batch commits
        if batch_id == 0:
            upsert.append_delta(
                spark.createDataFrame([(1, "gold")], "k long, val string"),
                dim,
                1,
            )

    q = (
        spark.readStream.schema("fact_id long, k long")
        .option("maxFilesPerTrigger", 1)
        .parquet(facts)
        .writeStream.foreachBatch(enrich)
        .option("checkpointLocation", str(tmp_path / "ckpt"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    vals = dict(out)
    assert set(vals) == {100, 101}
    # one fact enriched pre-update, one post-update
    assert sorted(vals.values()) == ["bronze", "gold"]


def test_upsert_model_based_random_histories(spark, tmp_path):
    """Model-based check: random CDC histories (upsert/delete over a
    small key space across several versions) applied to the real table
    must match a dict-model replay exactly — catches resolution-order
    bugs no hand-written case covers. Deterministic seed; 3 histories
    x 4 versions x 8 ops."""
    import random

    rng = random.Random(2024)
    for h in range(3):
        tbl = str(tmp_path / f"tbl{h}")
        model: dict[int, str] = {}
        base = [(k, f"b{k}") for k in range(5)]
        model.update(base)
        upsert.write_base(
            spark.createDataFrame(base, "k long, val string"), tbl
        )
        for v in range(1, 5):
            ups, dels = [], []
            for _ in range(8):
                k = rng.randrange(10)
                if rng.random() < 0.3:
                    dels.append(k)
                else:
                    ups.append((k, f"v{v}-{k}-{rng.randrange(100)}"))
            # model replay: within one version the table resolves
            # upsert-over-tombstone per key, and later ops in the same
            # batch... the batch is a SET per key (last list entry for
            # dup upserts is arbitrary), so keep one upsert per key
            # (last wins in construction order) and drop deleted keys
            # that also have an upsert (upsert beats tombstone)
            per_key = {}
            for k, val in ups:
                per_key[k] = val
            for k in dels:
                if k not in per_key:
                    per_key[k] = None
            for k, val in per_key.items():
                if val is None:
                    model.pop(k, None)
                else:
                    model[k] = val
            up_rows = [(k, v_) for k, v_ in per_key.items() if v_ is not None]
            del_rows = [(k,) for k, v_ in per_key.items() if v_ is None]
            upsert.append_delta(
                spark.createDataFrame(
                    up_rows or [], "k long, val string"
                ),
                tbl,
                v,
                deletes=(
                    spark.createDataFrame(del_rows, "k long")
                    if del_rows
                    else None
                ),
            )
        got = _rows(upsert.read_merged(spark, tbl, ["k"]))
        assert got == set(model.items()), f"history {h} diverged"


def test_streaming_ivm_agg_equals_rescan(spark, tmp_path):
    """apply_cdc_with_ivm: the materialized per-group aggregate,
    folded incrementally per micro-batch (+new - old), must equal a
    full rescan of the final merged table — across updates, inserts,
    and deletes arriving in separate batches."""
    from decimal import Decimal

    from pyspark.sql import functions as F

    from anomaly_detection_iiot_spark.streaming import cdc_stream

    tbl = str(tmp_path / "tbl")
    agg = str(tmp_path / "agg")
    base = spark.createDataFrame(
        [(k, "g" + str(k % 3), Decimal(f"{10 + k}.50")) for k in range(12)],
        "k long, grp string, amt decimal(18,2)",
    )
    upsert.write_base(base, tbl)
    base.groupBy("grp").agg(
        F.count(F.lit(1)).alias("n"), F.sum("amt").alias("total")
    ).write.parquet(agg)

    indir = str(tmp_path / "changes")
    # batch A: update k=0 (amt 99.25), insert k=100 into g1
    spark.createDataFrame(
        [(0, "g0", Decimal("99.25"), "upsert"),
         (100, "g1", Decimal("7.00"), "upsert")],
        "k long, grp string, amt decimal(18,2), _op string",
    ).coalesce(1).write.mode("append").parquet(indir)
    # batch B: delete k=1 and k=100 (the batch-A insert)
    spark.createDataFrame(
        [(1, None, None, "delete"), (100, None, None, "delete")],
        "k long, grp string, amt decimal(18,2), _op string",
    ).coalesce(1).write.mode("append").parquet(indir)

    stream = (
        spark.readStream.schema(
            "k long, grp string, amt decimal(18,2), _op string"
        )
        .option("maxFilesPerTrigger", 1)
        .parquet(indir)
    )
    q = cdc_stream.apply_cdc_with_ivm(
        stream, tbl, agg, str(tmp_path / "ckpt"),
        key_cols=["k"], group_col="grp", sum_col="amt",
    )
    q.awaitTermination(180)

    got = {
        (r.grp, r.n, r.total)
        for r in spark.read.parquet(agg).collect()
    }
    want = {
        (r.grp, r.n, r.total)
        for r in upsert.read_merged(spark, tbl, ["k"])
        .groupBy("grp")
        .agg(F.count(F.lit(1)).alias("n"), F.sum("amt").alias("total"))
        .collect()
    }
    assert got == want and len(got) == 3


def test_append_delta_refuses_existing_version(spark, tmp_path):
    """r9 verdict item 5: a second writer choosing an already-committed
    version must fail loudly, never silently interleave."""
    import pytest

    tbl = str(tmp_path / "tbl")
    upsert.write_base(
        spark.createDataFrame([(1, "a")], "k long, val string"), tbl
    )
    d = spark.createDataFrame([(2, "b")], "k long, val string")
    upsert.append_delta(d, tbl, 1)
    with pytest.raises(FileExistsError, match="already exists"):
        upsert.append_delta(
            spark.createDataFrame([(3, "c")], "k long, val string"), tbl, 1
        )
    # the loser's data never reached the table
    assert _rows(upsert.read_merged(spark, tbl, ["k"])) == {(1, "a"), (2, "b")}
    # the owning writer may idempotently rewrite its own version
    upsert.append_delta(d, tbl, 1, overwrite=True)
    assert _rows(upsert.read_merged(spark, tbl, ["k"])) == {(1, "a"), (2, "b")}


def test_commit_delta_occ_two_interleaved_writers(spark, tmp_path):
    """Two writers committing without coordination get DISTINCT
    consecutive versions via atomic-rename allocation; both batches
    land whole (no interleaving), last committer wins per key."""
    tbl = str(tmp_path / "tbl")
    upsert.write_base(
        spark.createDataFrame([(1, "base")], "k long, val string"), tbl
    )
    a = spark.createDataFrame([(1, "A"), (2, "A")], "k long, val string")
    b = spark.createDataFrame([(1, "B"), (3, "B")], "k long, val string")
    va = upsert.commit_delta(a, tbl)
    vb = upsert.commit_delta(b, tbl)
    assert (va, vb) == (1, 2)
    assert upsert.table_versions(tbl) == [0, 1, 2]
    # B committed after A -> B's update to k=1 wins; both inserts live
    assert _rows(upsert.read_merged(spark, tbl, ["k"])) == {
        (1, "B"), (2, "A"), (3, "B"),
    }


def test_commit_delta_retries_when_slot_is_stolen(spark, tmp_path, monkeypatch):
    """Simulate losing the allocation race: a competitor claims the
    next version between our listing and our rename; commit_delta must
    retry and land on the following slot."""
    import os

    tbl = str(tmp_path / "tbl")
    upsert.write_base(
        spark.createDataFrame([(1, "base")], "k long, val string"), tbl
    )
    real_rename = os.rename
    stolen = {"done": False}

    def stealing_rename(src, dst):
        if dst.endswith("_v=1") and not stolen["done"]:
            stolen["done"] = True
            os.makedirs(os.path.join(tbl, "_v=1"))
            # competitor's partition is non-empty, like a real commit
            with open(os.path.join(tbl, "_v=1", "part-0.parquet"), "w") as fh:
                fh.write("x")
        return real_rename(src, dst)

    monkeypatch.setattr(os, "rename", stealing_rename)
    v = upsert.commit_delta(
        spark.createDataFrame([(2, "mine")], "k long, val string"), tbl
    )
    assert v == 2 and stolen["done"]


def _ivm_fixture(spark, tmp_path):
    from decimal import Decimal

    tbl, agg = str(tmp_path / "tbl"), str(tmp_path / "agg")
    base = spark.createDataFrame(
        [(k, "g" + str(k % 2), Decimal(f"{10 + k}.00")) for k in range(6)],
        "k long, grp string, amt decimal(18,2)",
    )
    upsert.write_base(base, tbl)
    base.groupBy("grp").agg(
        F.count(F.lit(1)).alias("n"), F.sum("amt").alias("total")
    ).write.parquet(agg)
    batch = spark.createDataFrame(
        [(0, "g0", Decimal("99.00"), "upsert"),
         (1, None, None, "delete"),
         (100, "g1", Decimal("7.00"), "upsert")],
        "k long, grp string, amt decimal(18,2), _op string",
    )
    return tbl, agg, batch


def _agg_state(spark, agg):
    return {
        (r.grp, r.n, str(r.total)) for r in spark.read.parquet(agg).collect()
    }


def _rescan_state(spark, tbl):
    return {
        (r.grp, r.n, str(r.total))
        for r in upsert.read_merged(spark, tbl, ["k"])
        .groupBy("grp")
        .agg(F.count(F.lit(1)).alias("n"), F.sum("amt").alias("total"))
        .collect()
    }


def test_ivm_replay_after_partial_apply(spark, tmp_path):
    """ADVICE r9 (medium): crash after append_delta wrote _v=1 but
    before the aggregate swap, then foreachBatch replays batch 0. The
    version-pinned 'old' view must make the replay land the SAME
    aggregate a clean run produces (previously old==new netted the
    delta to zero and the batch vanished from the aggregate)."""
    from anomaly_detection_iiot_spark.streaming import cdc_stream

    tbl, agg, batch = _ivm_fixture(spark, tmp_path)
    # first attempt: delta partition lands, then crash before the swap
    ups = batch.filter(F.col("_op") != "delete").drop("_op")
    dels = batch.filter(F.col("_op") == "delete").select("k")
    upsert.append_delta(ups, tbl, 1, deletes=dels)
    # replay of batch 0 through the real batch body
    cdc_stream.apply_ivm_batch(
        spark, batch, 0, tbl, agg, ["k"], "grp", "amt"
    )
    assert _agg_state(spark, agg) == _rescan_state(spark, tbl)


def test_ivm_replay_after_full_apply(spark, tmp_path):
    """Crash after the aggregate swap but before the checkpoint commit:
    the replay finds the _APPLIED_BATCH marker and must NOT fold the
    delta twice."""
    from anomaly_detection_iiot_spark.streaming import cdc_stream

    tbl, agg, batch = _ivm_fixture(spark, tmp_path)
    cdc_stream.apply_ivm_batch(spark, batch, 0, tbl, agg, ["k"], "grp", "amt")
    once = _agg_state(spark, agg)
    assert once == _rescan_state(spark, tbl)
    # full replay of the same batch id
    cdc_stream.apply_ivm_batch(spark, batch, 0, tbl, agg, ["k"], "grp", "amt")
    assert _agg_state(spark, agg) == once


def test_crashed_writer_staging_swept_on_next_commit(spark, tmp_path):
    """r10 verdict item 5: a writer that died between stage and rename
    leaks .staging-* forever; the next committer must sweep dirs older
    than the grace window and leave fresh (possibly in-flight) ones."""
    import os
    import time

    tbl = str(tmp_path / "tbl")
    upsert.write_base(
        spark.createDataFrame([(1, "base")], "k long, val string"), tbl
    )
    dead = os.path.join(tbl, ".staging-deadbeef")
    os.makedirs(dead)
    with open(os.path.join(dead, "part-0.parquet"), "w") as fh:
        fh.write("x")
    stale = time.time() - upsert.STAGING_GRACE_SEC - 60
    os.utime(dead, (stale, stale))
    fresh = os.path.join(tbl, ".staging-cafebabe")
    os.makedirs(fresh)  # concurrent writer mid-stage: must survive
    v = upsert.commit_delta(
        spark.createDataFrame([(2, "mine")], "k long, val string"), tbl
    )
    assert v == 1
    assert not os.path.exists(dead), "stale staging not swept"
    assert os.path.exists(fresh), "in-flight staging wrongly swept"
    # reads unaffected throughout
    got = _rows(upsert.read_merged(spark, tbl, ["k"]))
    assert got == {(1, "base"), (2, "mine")}


def test_non_race_rename_failure_surfaces(spark, tmp_path, monkeypatch):
    """ADVICE r10: EACCES/EXDEV/ENOSPC during the commit rename are
    real failures, not version conflicts — commit_delta must raise
    them immediately (no 20-retry spin), with the staging dir cleaned
    up; append_delta likewise must not mislabel them FileExistsError."""
    import errno
    import glob
    import os

    import pytest

    tbl = str(tmp_path / "tbl")
    upsert.write_base(
        spark.createDataFrame([(1, "base")], "k long, val string"), tbl
    )
    real_rename = os.rename
    calls = {"n": 0}

    def failing_rename(src, dst):
        if "/_v=" in dst or dst.endswith("_v=1"):
            calls["n"] += 1
            raise OSError(errno.EACCES, "permission denied", dst)
        return real_rename(src, dst)

    monkeypatch.setattr(os, "rename", failing_rename)
    delta = spark.createDataFrame([(2, "mine")], "k long, val string")
    with pytest.raises(OSError) as ei:
        upsert.commit_delta(delta, tbl)
    assert ei.value.errno == errno.EACCES
    assert calls["n"] == 1, "non-race OSError must not be retried"
    with pytest.raises(OSError) as ei2:
        upsert.append_delta(delta, tbl, 1)
    assert ei2.value.errno == errno.EACCES
    assert not isinstance(ei2.value, FileExistsError)
    monkeypatch.undo()
    assert glob.glob(os.path.join(tbl, ".staging-*")) == [], (
        "staging not cleaned after hard failure"
    )


def test_ivm_replay_after_crash_inside_swap(spark, tmp_path, monkeypatch):
    """ADVICE r10 (medium): crash BETWEEN the two swap renames — old
    renamed away, new tmp (marker complete) not yet promoted, so
    agg_path is momentarily missing. The next apply must self-heal by
    promoting tmp and then treat the replay as already-applied."""
    import os

    from anomaly_detection_iiot_spark.streaming import cdc_stream

    tbl, agg, batch = _ivm_fixture(spark, tmp_path)
    real_rename = os.rename
    crash = {"armed": True}

    class Boom(RuntimeError):
        pass

    def crashing_rename(src, dst):
        real_rename(src, dst)
        # die right after agg_path -> agg_path.old succeeded
        if crash["armed"] and dst == agg + ".old":
            crash["armed"] = False
            raise Boom("crash inside swap")

    monkeypatch.setattr(os, "rename", crashing_rename)
    try:
        cdc_stream.apply_ivm_batch(
            spark, batch, 0, tbl, agg, ["k"], "grp", "amt"
        )
    except Boom:
        pass
    monkeypatch.undo()
    assert not os.path.exists(agg), "precondition: crash left agg missing"
    assert os.path.exists(os.path.join(agg + ".tmp", "_APPLIED_BATCH"))
    # replay of the same batch heals + no double fold
    cdc_stream.apply_ivm_batch(spark, batch, 0, tbl, agg, ["k"], "grp", "amt")
    assert _agg_state(spark, agg) == _rescan_state(spark, tbl)
    assert not os.path.exists(agg + ".tmp") and not os.path.exists(
        agg + ".old"
    )


def test_ivm_recovers_when_tmp_never_finished(spark, tmp_path):
    """The other half of the swap window: agg_path missing, tmp
    WITHOUT a marker (incomplete write) but old intact — recovery must
    restore old and the replay recomputes the fold against it."""
    import os
    import shutil

    from anomaly_detection_iiot_spark.streaming import cdc_stream

    tbl, agg, batch = _ivm_fixture(spark, tmp_path)
    # simulate: old renamed away, tmp incomplete (no marker)
    os.rename(agg, agg + ".old")
    os.makedirs(agg + ".tmp")
    with open(os.path.join(agg + ".tmp", "part-junk"), "w") as fh:
        fh.write("incomplete")
    cdc_stream.apply_ivm_batch(spark, batch, 0, tbl, agg, ["k"], "grp", "amt")
    assert _agg_state(spark, agg) == _rescan_state(spark, tbl)
    shutil.rmtree(agg + ".tmp", ignore_errors=True)
