"""Dedup/text/FFT kernel tests with hand-computable expectations."""

from __future__ import annotations

import hashlib

import numpy as np
import pandas as pd
import pytest
from pyspark.sql import functions as F

from anomaly_detection_iiot_spark.functions.fft import fft_magnitude
from anomaly_detection_iiot_spark.operators import dedup, similarity


def _docs(spark, texts):
    return spark.createDataFrame(
        pd.DataFrame({"doc_id": range(len(texts)), "text": texts})
    )


def test_fft_magnitude_matches_numpy(spark):
    rng = np.random.default_rng(13)
    wins = [rng.normal(size=16).tolist() for _ in range(5)]
    df = spark.createDataFrame(pd.DataFrame({"window": wins}))
    got = df.select(fft_magnitude("window").alias("m")).collect()
    for row, w in zip(got, wins):
        np.testing.assert_allclose(
            np.array(row.m), np.abs(np.fft.fft(np.array(w))), rtol=1e-12
        )


def test_fingerprint_is_order_insensitive(spark):
    df = _docs(spark, ["alpha beta gamma", "gamma  alpha beta", "alpha beta"])
    got = [
        r.fingerprint
        for r in dedup.fingerprint(df).orderBy("doc_id").collect()
    ]
    assert got[0] == got[1]
    assert got[0] != got[2]


def test_minhash_identical_docs_share_signature(spark):
    text = "one two three four five six seven eight"
    sh = dedup.word_shingles(dedup.tokenize(_docs(spark, [text, text, "x y z a b c"])), n=3)
    sigs = dedup.minhash_signature(sh, num_hashes=4).orderBy("doc_id").collect()
    assert [sigs[0][f"h{i}"] for i in range(4)] == [
        sigs[1][f"h{i}"] for i in range(4)
    ]
    assert [sigs[0][f"h{i}"] for i in range(4)] != [
        sigs[2][f"h{i}"] for i in range(4)
    ]


def test_word_shingles_short_doc_yields_none(spark):
    sh = dedup.word_shingles(dedup.tokenize(_docs(spark, ["just two"])), n=3)
    assert sh.count() == 0


def test_ngram_jaccard_exact_value(spark):
    # doc0: shingles {a b c, b c d}; doc1: {a b c}; jaccard = 1/2
    df = _docs(spark, ["a b c d", "a b c"])
    sh = dedup.word_shingles(dedup.tokenize(df), n=3)
    got = dedup.ngram_jaccard_pairs(sh).collect()
    assert len(got) == 1
    assert got[0].jaccard == pytest.approx(0.5)
    assert got[0].n_common == 1


def test_cosine_column_math(spark):
    a, b = [1.0, 0.0, 2.0], [2.0, 1.0, 0.0]
    df = spark.createDataFrame(pd.DataFrame({"a": [a], "b": [b]}))
    got = df.select(
        similarity.cosine(F.col("a"), F.col("b")).alias("c")
    ).collect()[0].c
    expected = np.dot(a, b) / (np.linalg.norm(a) * np.linalg.norm(b))
    assert got == pytest.approx(expected)


def test_brute_force_topk_ranks_by_cosine(spark):
    corpus = spark.createDataFrame(
        pd.DataFrame(
            {
                "vec_id": [0, 1, 2, 3],
                "embedding": [
                    [1.0, 0.0], [0.9, 0.1], [0.0, 1.0], [-1.0, 0.0],
                ],
            }
        )
    )
    queries = spark.createDataFrame(
        pd.DataFrame({"qid": [0], "qvec": [[1.0, 0.0]]})
    )
    got = similarity.brute_force_topk(corpus, queries).orderBy("rk").collect()
    assert [r.cid for r in got] == [1, 2, 3]  # self (vec 0) excluded
    assert [r.rk for r in got] == [1, 2, 3]


def test_ivf_assign_arrow_agrees_with_expression_form(spark):
    """The large-k matmul assignment (ivf_assign_arrow) must agree
    with the literal-expression form on the real corpus at both the
    oracle k (8) and a deployment-scale k (100) — same argmax, same
    min-id tie-break; fp could only diverge on summation-error ties,
    and the real data has none."""
    from pyspark.sql import functions as F

    e = spark.read.parquet(
        "/root/testdata/sf0.001/embeddings.parquet"
    ).select("vec_id", "embedding")
    for k in (8, 100):
        cent = e.filter(F.col("vec_id") < k).select(
            F.col("vec_id").alias("centroid_id"),
            F.col("embedding").alias("cvec"),
        )
        a = {
            r.vec_id: r.bucket
            for r in similarity.ivf_assign(e, cent)
            .select("vec_id", "bucket").collect()
        }
        b = {
            r.vec_id: r.bucket
            for r in similarity.ivf_assign_arrow(e, cent)
            .select("vec_id", "bucket").collect()
        }
        assert a == b


def test_ivf_nprobe_improves_recall(spark):
    """A query whose true nearest neighbor quantizes into the SECOND
    nearest cell is found: each query probes its two nearest cells."""
    corpus = spark.createDataFrame(
        pd.DataFrame(
            {
                "vec_id": [10, 11, 12],
                # 10 sits in cell 0; 11 (the query's true NN) lands in
                # cell 1; 12 is noise in cell 1
                "embedding": [
                    [1.0, 0.0], [0.72, 0.70], [0.0, 1.0],
                ],
            }
        )
    )
    centroids = spark.createDataFrame(
        pd.DataFrame(
            {"centroid_id": [0, 1], "cvec": [[1.0, 0.0], [0.6, 0.8]]}
        )
    )
    queries = spark.createDataFrame(
        pd.DataFrame({"qid": [99], "qvec": [[0.9, 0.44]]})
    )
    assigned = similarity.ivf_assign(corpus, centroids)
    got = similarity.ivf_probe(assigned, queries, centroids).collect()
    assert {(r.cid, r.bucket) for r in got} == {(10, 0), (11, 1), (12, 1)}
    assert min(got, key=lambda r: r.rk).cid == 11  # the cross-boundary NN


def test_blocked_neardup_pairs(spark):
    from anomaly_detection_iiot_spark.operators import similarity

    rows = [
        (1, [1.0, 0.0], 7),
        (2, [1.0, 0.01], 7),   # ~same direction as 1
        (3, [-1.0, 0.0], 7),   # opposite
        (4, [1.0, 0.0], 8),    # different block: never paired with 1-3
    ]
    df = spark.createDataFrame(
        rows, "vec_id long, embedding array<double>, label long"
    )
    got = similarity.blocked_neardup_pairs(df, min_cosine=0.5).collect()
    assert [(r.vec_a, r.vec_b, r.label) for r in got] == [(1, 2, 7)]
    assert got[0].cosine == pytest.approx(1.0, abs=1e-3)


def test_bpe_token_count(spark):
    from anomaly_detection_iiot_spark.operators import textstats

    df = _docs(spark, ["I don't like 42 bugs!!", ""])
    got = {
        r.doc_id: r.n_bpe_tokens
        for r in textstats.bpe_token_count(df).collect()
    }
    # I | don | 't | like | 42 | bugs | !!
    assert got[0] == 7
    assert got[1] == 0


def test_winnowing_shared_run_guarantees_shared_fingerprint(spark):
    """Winnowing guarantee (Schleimer et al. 2003): two docs sharing a
    token run of >= window+n-1 tokens (here 4+3-1=6) share at least one
    fingerprint; and a doc shorter than the window still fingerprints
    via the global-min fallback."""
    from anomaly_detection_iiot_spark.operators.textstats import (
        winnowing_fingerprints,
    )

    shared = "alpha beta gamma delta epsilon zeta"  # 6-token shared run
    df = spark.createDataFrame(
        pd.DataFrame(
            {
                "doc_id": [1, 2, 3, 4],
                "text": [
                    f"one two {shared} three",
                    f"{shared} nine ten eleven twelve",
                    "completely different words here entirely distinct",
                    "tiny doc",  # < n tokens -> zero grams -> no rows
                ],
            }
        )
    )
    fp = winnowing_fingerprints(dedup.tokenize(df))
    rows = fp.collect()
    by_doc = {}
    for r in rows:
        by_doc.setdefault(r.doc_id, set()).add(r.fingerprint)
    assert by_doc[1] & by_doc[2], "shared 6-token run must share a fingerprint"
    assert not (by_doc[1] & by_doc[3]) and not (by_doc[2] & by_doc[3])
    assert 4 not in by_doc  # sub-n doc yields no grams
    # short-doc fallback: 4 tokens -> 2 grams < window -> global min kept
    short = spark.createDataFrame(
        pd.DataFrame({"doc_id": [9], "text": ["a b c d"]})
    )
    short_fp = winnowing_fingerprints(dedup.tokenize(short))
    assert short_fp.count() == 1


def test_winnowing_every_window_is_covered(spark):
    """The winnowing density guarantee: for every window of 4
    consecutive gram hashes, at least one hash in that window is in
    the selected fingerprint set (this is what makes the fingerprint
    detect ANY sufficiently long overlap, not just lucky ones).
    Checked against an independent pure-Python reimplementation."""
    import hashlib

    from anomaly_detection_iiot_spark.operators.textstats import (
        winnowing_fingerprints,
    )

    words = [f"w{(i * 7) % 23}" for i in range(60)]  # cyclic, many ties
    text = " ".join(words)
    df = spark.createDataFrame(pd.DataFrame({"doc_id": [1], "text": [text]}))
    got = {
        r.fingerprint
        for r in winnowing_fingerprints(
            dedup.tokenize(df)
        ).collect()
    }

    grams = [" ".join(words[i : i + 3]) for i in range(len(words) - 2)]
    hashes = [hashlib.md5(g.encode()).hexdigest()[:8] for g in grams]
    expected = {
        min(hashes[i - 3 : i + 1]) for i in range(3, len(hashes))
    }
    assert got == expected
    for i in range(3, len(hashes)):
        assert got & set(hashes[i - 3 : i + 1]), f"window {i} uncovered"


def test_incremental_lsh_equals_full_restricted(spark, sf_dir):
    """Incremental LSH (new batch vs stored band index + new x new)
    must produce exactly the full-corpus candidate set restricted to
    pairs touching the new batch — no corpus x corpus work, no lost
    pairs."""
    import os

    docs = (
        spark.read.parquet(os.path.join(sf_dir, "documents.parquet"))
        .select("doc_id", "text")
    )
    split = 400

    def sigs(df):
        return dedup.minhash_signature_arrays(
            dedup.shingle_array(dedup.tokenize(df))
        )

    corpus = docs.filter(F.col("doc_id") < split)
    batch = docs.filter(F.col("doc_id") >= split)
    assert batch.count() > 0 and corpus.count() > 0

    idx = dedup.band_index(sigs(corpus))
    inc = dedup.incremental_lsh_candidates(
        sigs(batch), idx
    )
    got = {(r.doc_a, r.doc_b) for r in inc.collect()}

    full = dedup.lsh_candidate_pairs(sigs(docs))
    expected = {
        (r.doc_a, r.doc_b)
        for r in full.collect()
        if r.doc_a >= split or r.doc_b >= split
    }
    assert got == expected and expected, "incremental != restricted full"


def test_pii_scan_detects_and_redacts(spark):
    from anomaly_detection_iiot_spark.operators import textstats

    df = spark.createDataFrame(
        [
            (1, "mail bob.smith+x@corp.example.org now"),
            (2, "call 555-867-5309 or visit 10.0.0.1 today"),
            (3, "nothing sensitive here 12345"),
        ],
        "id int, text string",
    )
    rows = {r["id"]: r for r in textstats.pii_scan(df).collect()}
    assert (rows[1]["n_emails"], rows[1]["n_phones"], rows[1]["n_ipv4"]) == (1, 0, 0)
    assert rows[1]["redacted"] == "mail <EMAIL> now"
    assert (rows[2]["n_phones"], rows[2]["n_ipv4"]) == (1, 1)
    assert rows[2]["redacted"] == "call <PHONE> or visit <IP> today"
    assert rows[3]["redacted"] == rows[3]["text"]
    assert rows[3]["n_emails"] == rows[3]["n_phones"] == rows[3]["n_ipv4"] == 0


_EDGE_TEXTS = [
    None, "", " \t\n ", "der the", "la la", "zzz qqq", "\tThe cat, of it!", "!!!",
]


def test_text_scores_edge_cases(spark):
    """Values and types of the shared text scores on degenerate inputs:
    NULL and blank text score 'und' and NULL counts, ties go to the
    first language by name (de/en -> de, es/fr -> es), punctuation
    stays inside whitespace tokens."""
    from anomaly_detection_iiot_spark.operators import textstats
    from anomaly_detection_iiot_spark.streaming import curation_stream

    df = spark.createDataFrame(
        [(i, "en", s) for i, s in enumerate(_EDGE_TEXTS)],
        "doc_id bigint, lang string, text string",
    )
    base = [("doc_id", "bigint"), ("lang", "string"), ("text", "string")]

    lang = textstats.language_scores(df)
    assert lang.dtypes == base + [
        ("hits_en", "bigint"), ("hits_de", "bigint"), ("hits_es", "bigint"),
        ("hits_fr", "bigint"), ("pred_lang", "string"),
    ]
    assert [tuple(r)[3:] for r in lang.orderBy("doc_id").collect()] == [
        (None, None, None, None, "und"),
        (0, 0, 0, 0, "und"),
        (0, 0, 0, 0, "und"),
        (1, 1, 0, 0, "de"),
        (0, 0, 2, 2, "es"),
        (0, 0, 0, 0, "und"),
        (2, 0, 0, 0, "en"),
        (0, 0, 0, 0, "und"),
    ]

    quality = textstats.quality_scores(df)
    assert quality.dtypes == base + [
        ("n_tokens", "bigint"), ("n_chars_txt", "bigint"),
        ("avg_token_len", "double"), ("punct_ratio", "double"),
        ("stopword_ratio", "double"),
    ]
    assert [tuple(r)[3:] for r in quality.orderBy("doc_id").collect()] == [
        (None, None, 0.0, None, 0.0),
        (0, 0, 0.0, 0.0, 0.0),
        (0, 4, 0.0, 0.0, 0.0),
        (2, 7, 3.0, 0.0, 0.5),
        (2, 5, 2.0, 0.0, 0.0),
        (2, 7, 3.0, 0.0, 0.0),
        (4, 16, 3.25, 0.125, 0.5),
        (1, 3, 3.0, 1.0, 0.0),
    ]

    verdicts = curation_stream.curation_verdict_columns(df, passthrough=())
    assert verdicts.dtypes == [
        ("doc_id", "bigint"), ("lang", "string"), ("pred_lang", "string"),
        ("n_tokens", "bigint"), ("content_hash", "string"),
        ("verdict", "string"),
    ]
    got = [
        (r.pred_lang, r.n_tokens, r.content_hash, r.verdict)
        for r in verdicts.orderBy("doc_id").collect()
    ]
    md5 = [
        None if s is None else hashlib.md5(s.encode()).hexdigest()
        for s in _EDGE_TEXTS
    ]
    assert got == [
        ("und", None, md5[0], "lang"),
        ("und", 0, md5[1], "lang"),
        ("und", 0, md5[2], "lang"),
        ("de", 2, md5[3], "short"),
        ("es", 2, md5[4], "short"),
        ("und", 2, md5[5], "lang"),
        ("en", 4, md5[6], "short"),
        ("und", 1, md5[7], "lang"),
    ]


def test_bigram_lm_scores_repeated_text_higher(spark):
    # the duplicated phrase's bigrams are corpus-frequent, so the doc
    # repeating them scores a higher (less negative) mean log-prob than
    # the doc of unique-once bigrams
    from anomaly_detection_iiot_spark.queries.textsim import t12_bigram_lm
    import os
    import tempfile

    with tempfile.TemporaryDirectory() as d:
        docs = spark.createDataFrame(
            [(i, "the quick brown fox", "en", "t", 19) for i in range(4)]
            + [(9, "zeta omega kappa lambda", "en", "t", 23)],
            "doc_id long, text string, lang string, source string, n_chars long",
        )
        docs.write.parquet(os.path.join(d, "documents.parquet"))
        out = {r["doc_id"]: r for r in t12_bigram_lm(spark, d).collect()}
        assert out[0]["n_bigrams"] == 3
        assert out[0]["lm_score"] > out[9]["lm_score"]


def test_hyperplane_ann_finds_cluster_neighbors(spark):
    # tight clusters -> near-identical sign signatures -> each vector's
    # ANN top-1 lands in its own cluster, examining far fewer
    # candidates than brute force would
    from anomaly_detection_iiot_spark.operators import similarity

    import numpy as np

    rng = np.random.RandomState(7)
    rows = []
    for c in range(3):
        base = rng.randn(64)
        for k in range(4):
            v = base + 0.01 * rng.randn(64)
            rows.append((c * 10 + k, [float(x) for x in v]))
    df = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    out = similarity.hyperplane_ann_top1(df, n_planes=6)
    got = {r["vec_id"]: r for r in out.collect()}
    # a boundary-straddling vector can land in singleton buckets in
    # every table and miss entirely — that's the LSH recall trade-off;
    # require near-full coverage, and correctness for every hit
    assert len(got) >= 10
    for vid, r in got.items():
        assert vid // 10 == r["nn_id"] // 10, (vid, r["nn_id"])
        assert r["cosine"] > 0.99
        assert r["n_cand"] < 11  # never degenerates to all-pairs


def test_pq_encodes_codebook_vectors_to_themselves(spark):
    # a vector that IS a codebook entry quantizes to its own code with
    # zero error in every subspace
    from anomaly_detection_iiot_spark.operators import similarity

    import numpy as np

    rng = np.random.RandomState(3)
    vecs = [(i, [float(x) for x in rng.randn(64)]) for i in range(16)]
    df = spark.createDataFrame(vecs, "vec_id long, embedding array<double>")
    cb = df.selectExpr("vec_id AS code_id", "embedding AS cvec")
    out = similarity.pq_encode(df, cb).collect()
    assert len(out) == 16 * 8
    for r in out:
        assert r["code"] == r["vec_id"]
        assert r["err"] == 0.0


def test_incremental_semdedup_equals_full_over_keepers_plus_batch(spark):
    """Randomized cross-check (the d10 contract for embeddings):
    incremental(batch, keepers) verdicts == full SemDeDup over
    (keepers ∪ batch) restricted to the batch, when keeper ids precede
    batch ids."""
    import numpy as np

    from anomaly_detection_iiot_spark.operators import similarity

    rng = np.random.RandomState(42)
    # clustered corpus so near-dups actually occur at tau=0.85
    base = rng.randn(6, 64)
    rows = []
    for i in range(120):
        v = base[i % 6] + 0.12 * rng.randn(64)
        rows.append((i, [float(x) for x in v / np.linalg.norm(v)]))
    df = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    centroids = df.filter(F.col("vec_id") < 8).selectExpr(
        "vec_id AS centroid_id", "embedding AS cvec"
    )
    tau = 0.85

    def full_verdicts(corpus):
        assigned = similarity.ivf_assign(corpus, centroids)
        pairs = similarity.blocked_neardup_pairs(
            assigned, block_col="bucket", min_cosine=tau
        )
        dropped = {r["vec_b"] for r in pairs.collect()}
        return {
            r["vec_id"]: (0 if r["vec_id"] in dropped else 1, r["bucket"])
            for r in assigned.select("vec_id", "bucket").collect()
        }

    first = df.filter(F.col("vec_id") < 60)
    batch = df.filter(F.col("vec_id") >= 60)
    v_first = full_verdicts(first)
    keeper_ids = [i for i, (k, _) in v_first.items() if k == 1]
    keepers = similarity.ivf_assign(
        first.filter(F.col("vec_id").isin(keeper_ids)), centroids
    )

    got = {
        r["vec_id"]: (r["kept"], r["bucket"])
        for r in similarity.incremental_semdedup(
            batch, keepers, centroids, tau=tau
        ).collect()
    }
    keepers_plus_batch = df.filter(
        F.col("vec_id").isin(keeper_ids) | (F.col("vec_id") >= 60)
    )
    expected = {
        i: kb for i, kb in full_verdicts(keepers_plus_batch).items() if i >= 60
    }
    assert got == expected and any(k == 0 for k, _ in got.values())
