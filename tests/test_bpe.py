"""BPE merge induction (operators/bpe.py) vs an independent pure-
Python reference of the classic word-frequency formulation: adjacent
pair counts weighted by freq, argmax with (freq DESC, left, right)
tie-break, greedy left-to-right non-overlapping rewrite."""

from __future__ import annotations

import re
from collections import Counter

from anomaly_detection_iiot_spark.operators import bpe

SF_DIR = "/root/testdata/sf0.001"


def _py_bpe(word_freq: dict[str, int], n_merges: int):
    vocab = {w: list(w) for w in word_freq}
    merges = []
    for _ in range(n_merges):
        pairs: Counter = Counter()
        for w, syms in vocab.items():
            f = word_freq[w]
            for a, b in zip(syms, syms[1:]):
                pairs[(a, b)] += f
        if not pairs:
            break
        (left, right), pf = min(
            pairs.items(), key=lambda kv: (-kv[1], kv[0][0], kv[0][1])
        )
        merges.append((left, right, pf))
        for w, syms in vocab.items():
            out, i = [], 0
            while i < len(syms):
                if (
                    i + 1 < len(syms)
                    and syms[i] == left
                    and syms[i + 1] == right
                ):
                    out.append(left + right)
                    i += 2
                else:
                    out.append(syms[i])
                    i += 1
            vocab[w] = out
    return merges


def test_bpe_matches_python_reference(spark, monkeypatch):
    docs = spark.read.parquet(f"{SF_DIR}/documents.parquet").select("text")
    # MAX_DRIVER_WORDS = 0 forces the DISTRIBUTED round loop (the JVM
    # fold + vocab-shuffle path a web-scale vocab takes) — the default
    # fast path would reduce this test to Python-vs-Python
    with monkeypatch.context() as m:
        m.setattr(bpe, "MAX_DRIVER_WORDS", 0)
        got = bpe.train_bpe(bpe.word_freqs(docs), n_merges=8)

    wf: Counter = Counter()
    for r in docs.collect():
        for w in re.split(r"\s+", r.text.strip().lower()):
            if w:
                wf[w] += 1
    want = _py_bpe(dict(wf), 8)
    assert got == want
    # the driver fast path (default crossover) must pick the exact
    # same merges as the distributed loop on the same vocab
    assert bpe.train_bpe(bpe.word_freqs(docs), n_merges=8) == want
    # merges are real multi-round state: at least one learned merge
    # must consume the OUTPUT of an earlier merge
    produced = {l + r for l, r, _ in got}
    assert any(l in produced or r in produced for l, r, _ in got[1:])


def test_bpe_greedy_fold_overlap():
    """'aaaa' under merge (a,a) must become [aa, aa] (non-overlapping,
    leftmost first), and chained pairs must not merge through fold
    output: 'aaa' -> [aa, a]."""
    from pyspark.sql import SparkSession

    spark = SparkSession.builder.getOrCreate()
    df = spark.createDataFrame(
        [(["a", "a", "a", "a"],), (["a", "a", "a"],), (["b", "a"],)],
        "syms array<string>",
    )
    out = [
        r.m
        for r in df.select(
            bpe._apply_merge("syms", "a", "a").alias("m")
        ).collect()
    ]
    assert out == [["aa", "aa"], ["aa", "a"], ["b", "a"]]


def test_t16_registry_entry(spark):
    from anomaly_detection_iiot_spark.queries import REGISTRY

    rows = REGISTRY["t16_bpe_merges"].fn(spark, SF_DIR).collect()
    assert len(rows) == 8
    assert [r.rank for r in rows] == list(range(1, 9))
    assert all(r.merged == r.left + r.right for r in rows)
    # ranks ordered by the argmax sequence: pair_freq need not be
    # monotone (later merges can create new frequent pairs), but every
    # freq is positive
    assert all(r.pair_freq > 0 for r in rows)


def test_bpe_sql_literal_escaping(spark, monkeypatch):
    """Symbols containing SQL-literal metacharacters (apostrophe,
    backslash) must survive the server-side-parsed merge expression:
    words like don't produce a bare ' symbol after char split."""
    wf = {"don't": 5, "can't": 4, r"a\'b": 2}
    docs = spark.createDataFrame(
        [(" ".join([w] * f),) for w, f in wf.items()], "text string"
    )
    # forced distributed: the SQL-literal escaping lives in the JVM
    # merge expression, which the driver fast path never builds
    monkeypatch.setattr(bpe, "MAX_DRIVER_WORDS", 0)
    got = bpe.train_bpe(bpe.word_freqs(docs), n_merges=6)
    want = _py_bpe(wf, 6)
    assert got == want
