"""Streaming curation pipeline (streaming/curation_stream.py): the
stateless cascade must equal batch row-for-row, content dedup must
keep exactly one first-arrival row per hash with bounded state, and a
restart from the checkpoint must continue that state."""

from __future__ import annotations

import hashlib
import os
import time

import pandas as pd
from pyspark.sql import functions as F

from anomaly_detection_iiot_spark.streaming import curation_stream


def _md5_2(s: str) -> str:
    return hashlib.md5(s.encode()).hexdigest()[:2]


# doc_ids whose md5 first byte falls under the 'en' cutoff '28' (o6
# sampling keeps them) and some that don't — computed, not guessed
_EN_IN = [i for i in range(200) if _md5_2(str(i)) < "28"][:6]
_EN_OUT = [i for i in range(200) if _md5_2(str(i)) >= "28"][:2]

_GOOD = "the cat sat on the mat and the dog is in the house of cards"
_DUP = "a tale of two tokens and the story is told again in the end"
_NEW = "one more story about the river and the town by the old bridge"


def _write_chunks(tmp_path) -> str:
    """Three single-file parquet chunks with staggered mtimes so
    maxFilesPerTrigger=1 processes them in order."""
    out = str(tmp_path / "docs_stream")
    os.makedirs(out)
    chunks = [
        # chunk 0: two sampled keepers (one is the dup original) + lowq
        pd.DataFrame(
            {
                "doc_id": [_EN_IN[0], _EN_IN[1], _EN_OUT[0]],
                "lang": ["en", "en", "en"],
                "text": [_GOOD, _DUP, _GOOD],
            }
        ),
        # chunk 1: re-delivery of _DUP content under a NEW doc_id
        # (sampled) + a short doc + an unknown-language doc
        pd.DataFrame(
            {
                "doc_id": [_EN_IN[2], _EN_IN[3], _EN_OUT[1]],
                "lang": ["en", "en", "en"],
                "text": [_DUP, "a tiny doc", "zzz qqq xxx www yyy vvv"],
            }
        ),
    ]
    now = time.time()
    for i, pdf in enumerate(chunks):
        p = os.path.join(out, f"chunk_{i}.parquet")
        pdf.to_parquet(p)
        os.utime(p, (now - 60 + i, now - 60 + i))
    return out


def _schema():
    return "doc_id bigint, lang string, text string"


def test_stateless_cascade_stream_equals_batch(spark, tmp_path):
    src = _write_chunks(tmp_path)
    batch = curation_stream.curation_verdict_columns(
        spark.read.schema(_schema()).parquet(src), passthrough=()
    )
    sdf = curation_stream.curation_verdict_columns(
        spark.readStream.schema(_schema())
        .option("maxFilesPerTrigger", 1)
        .parquet(src),
        passthrough=(),
    )
    q = (
        sdf.writeStream.format("memory")
        .queryName("cur_stateless")
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    got = spark.table("cur_stateless")
    assert got.count() == batch.count() == 6
    assert got.exceptAll(batch).count() == 0
    assert batch.exceptAll(got).count() == 0


def test_streaming_dedup_keeps_first_arrival_once(spark, tmp_path):
    src = _write_chunks(tmp_path)
    sdf = curation_stream.curated_document_stream(
        spark.readStream.schema(_schema())
        .option("maxFilesPerTrigger", 1)
        .parquet(src)
    )
    q = (
        sdf.writeStream.format("memory")
        .queryName("cur_full")
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    rows = spark.table("cur_full").collect()
    by_verdict: dict[str, list] = {}
    for r in rows:
        by_verdict.setdefault(r.verdict, []).append(r)

    # keepers: _GOOD once (only one sampled instance) and _DUP exactly
    # ONCE despite arriving in two micro-batches — first arrival wins
    keeps = by_verdict["keep"]
    assert len(keeps) == 2
    dup_hash = hashlib.md5(_DUP.encode()).hexdigest()
    dup_keeps = [r for r in keeps if r.content_hash == dup_hash]
    assert len(dup_keeps) == 1
    assert dup_keeps[0].doc_id == _EN_IN[1]  # chunk-0 arrival, not chunk-1

    # audit passthrough: every non-keep verdict present exactly once
    # (the second _DUP arrival is silently dropped by dedup — it is
    # not audit output; the und-language doc hits 'lang' before the
    # sampler can see it, so 'unsampled' is only the _GOOD copy)
    assert len(by_verdict["unsampled"]) == 1
    assert len(by_verdict["short"]) == 1
    assert len(by_verdict["lang"]) == 1
    assert len(rows) == 5


def test_semdedup_compaction_stream_then_batch_equals_pure_batch(
    spark, tmp_path
):
    """The periodic compaction promised by the module docstring
    (curation_stream.py:19-25): streaming curation -> accumulated
    keepers -> semdedup_compaction must equal running the same
    cascade + content dedup + semantic dedup as one pure batch.
    Files arrive in doc_id order, so the stream's first-arrival
    content keeper coincides with batch's min-id keeper."""
    # 8 sampled-en doc ids (o6 keeps them), ascending
    en_in = [i for i in range(500) if _md5_2(str(i)) < "28"][:8]
    texts = [f"{_GOOD} extra{i}" for i in range(7)] + [f"{_GOOD} extra0"]
    # embeddings: ids 0-3 -> cluster A (pairwise cos ~1, min-id keeps),
    # ids 4-6 -> cluster B (pairwise cos < tau, all keep); id 7 is the
    # content-dup of id 0 and never reaches the semantic stage
    vecs = {
        en_in[0]: [1.0, 0.001, 0.0, 0.0],
        en_in[1]: [1.0, 0.002, 0.0, 0.0],
        en_in[2]: [1.0, 0.003, 0.0, 0.0],
        en_in[3]: [1.0, 0.004, 0.0, 0.0],
        en_in[4]: [0.0, 1.0, 0.0, 0.0],
        en_in[5]: [0.0, 0.28, 0.96, 0.0],
        en_in[6]: [0.0, 0.28, 0.0, 0.96],
        en_in[7]: [1.0, 0.005, 0.0, 0.0],
    }
    src = str(tmp_path / "docs_stream2")
    os.makedirs(src)
    chunks = [
        pd.DataFrame(
            {
                "doc_id": en_in[:4],
                "lang": ["en"] * 4,
                "text": texts[:4],
            }
        ),
        pd.DataFrame(
            {
                "doc_id": en_in[4:],
                "lang": ["en"] * 4,
                "text": texts[4:],
            }
        ),
    ]
    now = time.time()
    for i, pdf in enumerate(chunks):
        p = os.path.join(src, f"chunk_{i}.parquet")
        pdf.to_parquet(p)
        os.utime(p, (now - 60 + i, now - 60 + i))

    emb = spark.createDataFrame(
        [(k, v) for k, v in vecs.items()],
        "vec_id bigint, embedding array<double>",
    )
    cents = spark.createDataFrame(
        [(0, [1.0, 0.0, 0.0, 0.0]), (1, [0.0, 1.0, 0.0, 0.0])],
        "centroid_id bigint, cvec array<double>",
    )

    sdf = curation_stream.curated_document_stream(
        spark.readStream.schema(_schema())
        .option("maxFilesPerTrigger", 1)
        .parquet(src)
    )
    q = (
        sdf.writeStream.format("memory")
        .queryName("cur_compact")
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    stream_keepers = spark.table("cur_compact").filter(
        F.col("verdict") == "keep"
    )
    assert stream_keepers.count() == 7  # content dup already dropped
    stream_final = curation_stream.semdedup_compaction(
        stream_keepers, emb, cents
    )

    # pure-batch reference: same cascade, min-id content dedup, then
    # the same semantic stage over the batch keeper set
    from pyspark.sql import Window

    batch = curation_stream.curation_verdict_columns(
        spark.read.schema(_schema()).parquet(src), passthrough=()
    )
    w = Window.partitionBy("content_hash")
    batch_keepers = (
        batch.filter(F.col("verdict") == "keep")
        .withColumn("_min_id", F.min("doc_id").over(w))
        .filter(F.col("doc_id") == F.col("_min_id"))
        .drop("_min_id")
    )
    batch_final = curation_stream.semdedup_compaction(
        batch_keepers, emb, cents
    )

    assert stream_final.exceptAll(batch_final).count() == 0
    assert batch_final.exceptAll(stream_final).count() == 0

    verdicts = {r.doc_id: r.verdict for r in stream_final.collect()}
    assert [verdicts[i] for i in en_in[:7]] == [
        "keep", "semdup", "semdup", "semdup", "keep", "keep", "keep"
    ]
    assert en_in[7] not in verdicts


def test_redaction_stage_stream_equals_batch_and_scrubs_state_hash(
    spark, tmp_path
):
    # PII before persistence: the streamed cascade and the batch
    # cascade produce identical rows, the kept text is redacted, and
    # the content hash is computed over the REDACTED text (the raw
    # form never enters the dedup state)
    out = str(tmp_path / "pii_stream")
    os.makedirs(out)
    pii_text = (
        "the cat sat on the mat and the dog is in the house, "
        "mail me at alice@example.com or call 555-867-5309"
    )
    pd.DataFrame(
        {
            "doc_id": [_EN_IN[0], _EN_IN[1]],
            "lang": ["en", "en"],
            "text": [pii_text, _GOOD],
        }
    ).to_parquet(os.path.join(out, "chunk0.parquet"))

    def cascade(df):
        return curation_stream.curation_verdict_columns(
            curation_stream.redaction_stage(df), passthrough=()
        )

    batch = cascade(spark.read.parquet(out)).orderBy("doc_id").collect()
    stream_df = cascade(
        spark.readStream.schema(_schema()).parquet(out)
    )
    q = (
        stream_df.writeStream.format("memory")
        .queryName("pii_redact")
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(60)
    got = spark.sql(
        "SELECT * FROM pii_redact ORDER BY doc_id"
    ).collect()
    assert [r.asDict() for r in got] == [r.asDict() for r in batch]
    import hashlib

    redacted = pii_text.replace("alice@example.com", "<EMAIL>").replace(
        "555-867-5309", "<PHONE>"
    )
    by_id = {r["doc_id"]: r for r in got}
    assert by_id[_EN_IN[0]]["content_hash"] == hashlib.md5(
        redacted.encode()
    ).hexdigest()
    assert by_id[_EN_IN[0]]["n_pii"] == 2  # audit column survives the cascade
    assert by_id[_EN_IN[1]]["n_pii"] == 0


# four single-file chunks: chunk 0 keeps _DUP first, chunk 2 re-delivers
# it under a new doc_id, so a run restarted after chunk 1 drops it only
# if the dedup state survived the restart
_RESTART_CHUNKS = [
    {"doc_id": [_EN_IN[0], _EN_IN[1]], "text": [_GOOD, _DUP]},
    {"doc_id": [_EN_IN[2], 500], "text": ["a tiny doc", _GOOD]},
    {"doc_id": [_EN_IN[3], _EN_IN[4]], "text": [_DUP, _NEW]},
    {"doc_id": [_EN_IN[5], 501], "text": [_NEW, "zzz qqq xxx www yyy vvv"]},
]


def _write_restart_chunks(out: str, which, mtime0: float) -> None:
    os.makedirs(out, exist_ok=True)
    for i in which:
        p = os.path.join(out, f"chunk_{i}.parquet")
        pd.DataFrame(_RESTART_CHUNKS[i]).assign(lang="en").to_parquet(p)
        os.utime(p, (mtime0 + i, mtime0 + i))


def _drain_to_parquet(spark, src: str, out: str, ckpt: str) -> None:
    q = (
        curation_stream.curated_document_stream(
            spark.readStream.schema(_schema())
            .option("maxFilesPerTrigger", 1)
            .parquet(src)
        )
        .writeStream.format("parquet")
        .option("path", out)
        .option("checkpointLocation", ckpt)
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()


def test_restart_from_checkpoint_equals_one_drain(spark, tmp_path):
    """Drain chunks 0-1, add chunks 2-3, restart on the same checkpoint:
    the two runs together output exactly what one drain of 0-3 does."""
    mtime0 = time.time() - 120
    src, out, ckpt = (str(tmp_path / d) for d in ("src", "out", "ckpt"))
    _write_restart_chunks(src, (0, 1), mtime0)
    _drain_to_parquet(spark, src, out, ckpt)
    _write_restart_chunks(src, (2, 3), mtime0)
    _drain_to_parquet(spark, src, out, ckpt)

    one_src, one_out = str(tmp_path / "one_src"), str(tmp_path / "one_out")
    _write_restart_chunks(one_src, range(4), mtime0)
    _drain_to_parquet(spark, one_src, one_out, str(tmp_path / "one_ckpt"))

    cols = ["doc_id", "verdict", "content_hash"]
    got, want = (
        sorted(tuple(r) for r in spark.read.parquet(d).select(cols).collect())
        for d in (out, one_out)
    )
    assert got == want
    assert {r[0] for r in want if r[1] == "keep"} == {
        _EN_IN[0], _EN_IN[1], _EN_IN[4]
    }
