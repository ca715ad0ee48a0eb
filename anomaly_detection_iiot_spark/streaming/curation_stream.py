"""Streaming document curation (the LLM-pipeline extension of SURVEY
§2.9): the c1/c2 text cascade running on a document STREAM.

Why this shape holds at 100 TB/day of crawl output:

- Every text filter (language ID, quality scores, token counts, the o6
  hash-quota sampler) is a PURE PROJECTION — stateless on a stream,
  whole-stage-codegen JVM expressions, embarrassingly shardable. They
  run identically in batch and streaming (asserted in
  tests/test_streaming_curation.py), so a corpus can be curated
  incrementally as it lands instead of in a nightly batch.
- The only stateful operator is content dedup:
  ``dropDuplicatesWithinWatermark`` on the md5 content hash keeps
  first-arrival per hash with state BOUNDED by the ingest watermark —
  the streaming analogue of d1's keeper (batch picks min doc_id;
  a stream cannot know a smaller id arrives later, so the contract is
  first-arrival-wins and the state table is the only memory cost).
- Semantic dedup (d9) intentionally stays batch: centroid assignment
  is stream-safe (broadcast projection) but the within-cluster pair
  stage needs the cluster's accumulated population, which is what
  ``semdedup_compaction`` is for — the periodic batch run over the
  stream's accumulated keepers that re-verdicts semantic near-dups
  (streaming-then-compaction equals the pure-batch pipeline; asserted
  in tests/test_streaming_curation.py).
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..operators import textstats
from ..queries.extras import _O6_CASE


def redaction_stage(docs: DataFrame, text_col: str = "text") -> DataFrame:
    """PII scrubbing FIRST — the compliance ordering: raw text must
    never reach any sink, including the dedup state store (whose
    content hash would otherwise fingerprint un-redacted text). Swaps
    ``text`` for its redacted form and carries ``n_pii`` (total spans
    scrubbed) for the audit log. Pure projection
    (operators/textstats.py::pii_scan), so prepending it to the
    cascade still composes into ONE stateless codegen stage — batch
    and stream identical by construction, asserted in
    tests/test_streaming_curation.py."""
    scanned = textstats.pii_scan(docs, text_col=text_col)
    n_pii = (
        F.col("n_emails") + F.col("n_phones") + F.col("n_ipv4")
    ).cast("bigint")
    return (
        scanned.withColumn("n_pii", n_pii)
        .withColumn(text_col, F.col("redacted"))
        .drop("redacted", "n_emails", "n_phones", "n_ipv4")
    )


def curation_verdict_columns(
    docs: DataFrame, passthrough: tuple[str, ...] = ()
) -> DataFrame:
    """Stateless cascade: lang + quality + o6 sampling flag, usable on
    a batch frame or a stream unchanged. The scores and the verdict are
    SQL text (one ``selectExpr`` each), so the whole cascade composes
    into ONE projection over the source and builds in a few py4j
    commands — no join, no shuffle, no state (a stream-stream self-join
    here would need watermarks and state; this deliberately never forks
    the stream)."""
    df = textstats.quality_scores(textstats.language_scores(docs))
    extras = ["n_pii"] if "n_pii" in df.columns else []
    extras += [c for c in passthrough if c in df.columns and c not in extras]
    return df.selectExpr(
        "doc_id", "lang", "pred_lang",
        "CAST(n_tokens AS BIGINT) AS n_tokens",
        "md5(text) AS content_hash",
        "CASE WHEN pred_lang = 'und' THEN 'lang'"
        " WHEN n_tokens < 5 THEN 'short'"
        " WHEN stopword_ratio < 0.02D THEN 'lowq'"
        " WHEN substring(md5(CAST(doc_id AS STRING)), 1, 2)"
        f" >= CASE lang {_O6_CASE} ELSE '00' END THEN 'unsampled'"
        " ELSE 'keep' END AS verdict",
        *[f"`{c}`" for c in extras],
    )


def curated_document_stream(
    stream_docs: DataFrame,
    dedup_watermark: str = "10 minutes",
    ingest_ts_col: str | None = None,
) -> DataFrame:
    """Full streaming curation: stateless verdict columns, then
    first-arrival content dedup (bounded state) over the keepers.

    Non-keepers pass through with their verdict so the stream's output
    is a full audit log; only rows that would enter the corpus pay the
    dedup state. The dedup clock defaults to ``current_timestamp()`` —
    the standard watermark clock for sources (like this corpus drop
    directory) whose files carry no event time; pass ``ingest_ts_col``
    when the stream carries a real ingest/crawl timestamp (replayed
    corpora, backfills) so state eviction follows the data's own clock
    instead of the processing wall clock.

    Codegen cost of the processing-time clock: each micro-batch's
    watermark is derived from the wall clock and enters the generated
    code as a literal, so every run compiles about 8 new classes that
    the session's codegen cache cannot serve. With the cache sized to
    the working set (``session.CODEGEN_CACHE_ENTRIES``) these are the
    only warm-pass compiles left on perfbench's two workloads: expected,
    not a cache miss to chase.
    """
    verdicts = curation_verdict_columns(
        stream_docs,
        passthrough=(ingest_ts_col,) if ingest_ts_col else (),
    ).withColumn(
        "ingest_ts",
        F.col(ingest_ts_col) if ingest_ts_col else F.current_timestamp(),
    )
    keepers = (
        verdicts.filter(F.col("verdict") == "keep")
        .withWatermark("ingest_ts", dedup_watermark)
        .dropDuplicatesWithinWatermark(["content_hash"])
    )
    audit = verdicts.filter(F.col("verdict") != "keep")
    return keepers.unionByName(audit).drop("ingest_ts")


def semdedup_compaction(
    keepers: DataFrame,
    embeddings: DataFrame,
    centroids: DataFrame,
    tau: float = 0.3,
) -> DataFrame:
    """The periodic compaction run promised in the module docstring:
    batch-refine the stream's ACCUMULATED keepers with semantic dedup
    (the d9 shape — queries/textsim.py:372). Run this on a schedule
    (nightly, or from a ``foreachBatch`` hook every N micro-batches)
    over the keeper sink; it sees the cluster populations the
    per-micro-batch stream never can.

    ``keepers``: the stream's ``verdict == 'keep'`` rows (any columns,
    must include ``doc_id``). ``embeddings``: corpus embeddings keyed
    by ``vec_id == doc_id``. ``centroids``: ``(centroid_id, cvec)`` —
    the coarse quantizer is an input, not derived here, so successive
    compaction runs use the SAME cells and verdicts are stable across
    runs. Output: the keeper rows with ``verdict`` re-written to
    ``semdup`` for any doc with a lower-id neighbor at cosine >= tau
    in its cell (min-id keeper, d1's policy), else ``keep``.

    Scale shape: one |keepers|-row equi-join to fetch vectors, the
    zero-shuffle centroid assignment, then
    cluster-bounded tiled gram pairs — compaction cost scales with the
    accumulated KEEPER set (already text-filtered and content-deduped),
    never the raw stream volume."""
    from ..operators import similarity

    vecs = (
        keepers.select("doc_id")
        .join(
            embeddings.select(
                F.col("vec_id").alias("doc_id"), "embedding"
            ),
            "doc_id",
        )
        .select(F.col("doc_id").alias("vec_id"), "embedding")
    )
    assigned = similarity.ivf_assign(vecs, centroids)
    dropped = (
        similarity.blocked_neardup_pairs(
            assigned, block_col="bucket", min_cosine=tau
        )
        .select(F.col("vec_b").alias("doc_id"))
        .distinct()
        .withColumn("_semdup", F.lit(1))
    )
    keep_cols = [c for c in keepers.columns if c != "verdict"]
    return keepers.join(dropped, "doc_id", "left").select(
        *keep_cols,
        F.when(F.col("_semdup").isNull(), "keep")
        .otherwise("semdup")
        .alias("verdict"),
    )
