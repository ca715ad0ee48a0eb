"""The benchmark's workloads: named item lists over the engine's public
entry points, plus the correctness check of each item.

An item has two halves. ``build(ctx)`` constructs the work (for a batch
item a lazy DataFrame, for a stream the streaming DataFrame plus any
table it writes into). ``act(ctx, built, collect)`` forces it: a batch
item writes to the ``noop`` sink, or collects to pandas when
``collect`` is set (the correctness pass); a stream drains with
``availableNow`` into a fresh checkpoint. ``check(ctx, result)`` returns
a list of problems, empty when the result is right.
"""

from __future__ import annotations

import os
import shutil
import tempfile
from dataclasses import dataclass
from typing import Any, Callable

import pandas as pd


@dataclass
class Ctx:
    spark: Any
    inputs: str  # generated input dir (gen.generate)
    manifest: dict
    duck: Any = None  # DuckDB connection over the generated tables
    n_streams: int = 0

    @property
    def tables(self) -> str:
        return os.path.join(self.inputs, "tables")


@dataclass
class Item:
    name: str
    build: Callable[[Ctx], Any]
    act: Callable[[Ctx, Any, bool], Any]
    check: Callable[[Ctx, Any], list]
    stream: bool = False


# --- batch items ---------------------------------------------------------


def _act_batch(ctx: Ctx, df, collect: bool):
    if collect:
        return df.toPandas()
    df.write.mode("overwrite").format("noop").save()
    return None


def registry_item(name: str) -> Item:
    from anomaly_detection_iiot_spark.queries import REGISTRY

    spec = REGISTRY[name]

    def check(ctx: Ctx, got: pd.DataFrame) -> list:
        if spec.oracle is None:
            return [] if len(got) > 0 else ["no rows"]
        from tools.check_oracle import compare

        return compare(got, ctx.duck.execute(spec.oracle).fetchdf())

    return Item(
        name=name.split("_")[0],
        build=lambda ctx: spec.fn(ctx.spark, ctx.tables),
        act=_act_batch,
        check=check,
    )


def _bearing_report(ctx: Ctx):
    from anomaly_detection_iiot_spark.ml import autoencoder as ae
    from anomaly_detection_iiot_spark.plans.bearing_pipeline import (
        bearing_anomaly_report,
    )

    return bearing_anomaly_report(
        ctx.spark, os.path.join(ctx.inputs, "bearing"),
        ae.init_weights([16, 8, 4, 8, 16], seed=55),
        n_cols=4, rows_per_file=4096, resample_factor=16,
        window_size=16, window_step=16, period=4,
    )


def _check_bearing_report(ctx: Ctx, got: pd.DataFrame) -> list:
    """Exactly the injected channel is flagged, at the onset file: 4
    periods per file, plus up to 2 for the rolling min of 3."""
    fault = ctx.manifest["fault"]
    flagged = got[got.first_anomaly_period > 0]
    if sorted(flagged.channel.astype(int)) != [fault["channel"]]:
        return [f"flagged channels {list(flagged.channel)} != {fault['channel']}"]
    first = int(flagged.first_anomaly_period.iloc[0])
    lo = fault["onset_file"] * 4
    if not lo <= first <= lo + 4:
        return [f"first anomalous period {first} not in [{lo}, {lo + 4}]"]
    return []


def _flagship(ctx: Ctx):
    from anomaly_detection_iiot_spark.plans.flagship import flagship_anomaly_report

    return flagship_anomaly_report(ctx.spark, ctx.tables)


def _check_flagship(ctx: Ctx, got: pd.DataFrame) -> list:
    users = ctx.duck.execute("SELECT count(DISTINCT user_id) FROM events").fetchone()[0]
    problems = []
    if len(got) != users:
        problems.append(f"{len(got)} rows for {users} users")
    if got.threshold.isna().any():
        problems.append("null threshold")
    return problems


# --- streams -------------------------------------------------------------


def _drain(writer):
    """Start a stream into a fresh checkpoint dir, wait for the drain,
    and return the StreamingQuery."""
    ckpt = tempfile.mkdtemp(prefix="ckpt_")
    try:
        q = writer(ckpt)
        q.awaitTermination()
        if q.exception() is not None:
            raise RuntimeError(str(q.exception()))
        return q
    finally:
        shutil.rmtree(ckpt, ignore_errors=True)


def _act_memory_stream(ctx: Ctx, df, collect: bool):
    """Drain into a memory sink; collect the sink table when asked."""
    ctx.n_streams += 1
    name = f"perfbench_stream_{ctx.n_streams}"
    q = _drain(
        lambda ckpt: df.writeStream.format("memory").queryName(name)
        .outputMode("append").option("checkpointLocation", ckpt)
        .trigger(availableNow=True).start(),
    )
    out = ctx.spark.table(name).toPandas() if collect else None
    ctx.spark.catalog.dropTempView(name)
    return q, out


def _bearing_stream_df(ctx: Ctx):
    from anomaly_detection_iiot_spark.streaming import bearing_stream

    return bearing_stream.snapshot_anomaly_episodes_stream(
        ctx.spark, os.path.join(ctx.inputs, "bearing_stream"), n_cols=4,
        threshold=50.0, max_files_per_trigger=8,
    )


def _check_bearing_stream(ctx: Ctx, res) -> list:
    """One episode, on the injected channel, covering onset..last file."""
    _, got = res
    fault = ctx.manifest["fault"]
    n_files = ctx.manifest["bearing"]["files"]
    want = (str(fault["channel"]), n_files - fault["onset_file"])
    rows = [(str(r.channel), int(r.n_periods)) for r in got.itertuples()]
    return [] if rows == [want] else [f"episodes {rows} != [{want}]"]


def _curation_stream_df(ctx: Ctx):
    from anomaly_detection_iiot_spark.streaming import curation_stream

    return curation_stream.curated_document_stream(
        ctx.spark.readStream.schema("doc_id bigint, lang string, text string")
        .option("maxFilesPerTrigger", 3)
        .parquet(os.path.join(ctx.inputs, "curation"))
    )


def _check_curation_stream(ctx: Ctx, res) -> list:
    """The stream keeps one row per distinct text that batch c1 keeps
    (c1 keeps the lowest doc_id of each text) and that o6 samples in at
    least one of its documents. The expected count comes from the c1 and
    o6 DuckDB oracles alone, not from the stream's own cascade."""
    from anomaly_detection_iiot_spark.queries import REGISTRY

    _, got = res
    want = ctx.duck.execute(f"""
        WITH c1 AS ({REGISTRY["c1_corpus_curation"].oracle}),
             o6 AS ({REGISTRY["o6_stratified_sample"].oracle}),
             d AS (SELECT doc_id, md5(text) AS h FROM documents)
        SELECT count(DISTINCT d.h) FROM d JOIN o6 ON o6.doc_id = d.doc_id
        WHERE o6.kept = 1 AND d.h IN (
            SELECT d.h FROM d JOIN c1 ON c1.doc_id = d.doc_id
            WHERE c1.verdict = 'keep')
    """).fetchone()[0]
    kept = int((got.verdict == "keep").sum())
    if want == 0:
        return ["the oracles keep no document"]
    return [] if kept == want else [f"stream keepers {kept} != batch {want}"]


def _items(names: list[str]) -> list[Item]:
    return [registry_item(n) for n in names]


def workload(name: str) -> list[Item]:
    """Item lists, cut to fit a benchmark round's time budget (see
    BASELINE.md). Each has an odd number of items, so query_p50_s lands
    on the middle item's walls (bearing_report; d8), not between two
    items' walls."""
    if name == "iiot_anomaly":
        return [
            Item("bearing_report", _bearing_report, _act_batch, _check_bearing_report),
            Item("flagship", _flagship, _act_batch, _check_flagship),
            Item("bearing_stream", _bearing_stream_df, _act_memory_stream,
                 _check_bearing_stream, stream=True),
        ]
    if name == "llm_curation":
        return [
            *_items(["d6_simhash", "c1_corpus_curation", "d8_dup_clusters",
                     "s18_mmr_rerank"]),
            Item("curation_stream", _curation_stream_df, _act_memory_stream,
                 _check_curation_stream, stream=True),
        ]
    raise SystemExit(f"unknown workload {name!r}")
