"""Deduplication operators for LLM-scale data pipelines (BASELINE.json
north star; no reference equivalent — the reference has no text path).

Four tiers, all DataFrame-native and shuffle-conscious:

- exact:      md5(text) hash-groupBy — one shuffle on a 16-byte key.
- fingerprint: md5 of sorted distinct tokens (content-normalized exact
  dup) — catches token-permutation dups.
- minhash LSH: md5-simulated permutations over word shingles; band
  buckets → candidate pairs via a self-join on (band, key). The md5
  trick keeps the signature deterministic across engines (and across
  rounds), unlike seeded random coefficient schemes.
- n-gram Jaccard: exact pairwise verification of every pair sharing a
  shingle, via a shingle equi-join — the verify step after LSH recall.

Shingles come in two shapes: long form (`word_shingles`, exploded —
required by the Jaccard equi-join) and array form (`shingle_array`,
one row per doc — for per-doc reductions like minhash/simhash, where
exploding |docs|×|shingles| rows into a groupBy just to reduce them
back to |docs| wastes a full shuffle).

Scale notes: all joins are equi-joins on hash keys (shuffle-hash /
sort-merge safe, AQE-skew-splittable). The pairwise Jaccard join grows
with the square of each shingle's document count; at 100 TB the pairs
come from LSH candidate generation instead.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

# Cache ownership for the intra-query persists below (LSH buckets,
# Jaccard shingles): see operators/cache.py — each call site releases
# the cache its previous invocation created.
from .cache import replace_owned_cache as _replace_owned_cache


def tokenize(df: DataFrame, text_col: str = "text", out: str = "tokens") -> DataFrame:
    """Lowercase whitespace tokenization with empty-token filtering
    (identical semantics to DuckDB string_split_regex + list_filter).
    One server-parsed expression — the lambda-HOF form costs ~20 ms of
    py4j round trips per construction and this is the most-constructed
    operator in the repo."""
    return df.withColumn(
        out,
        F.expr(
            f"filter(split(trim(lower({text_col})), '\\\\s+'),"
            " x -> x != '')"
        ),
    )


def word_shingles(
    df: DataFrame, n: int = 3, tokens_col: str = "tokens", out: str = "shingle"
) -> DataFrame:
    """Distinct word n-grams per row, exploded to long form. Docs shorter
    than ``n`` tokens yield no shingles (CASE WHEN keeps the descending
    ``sequence(0, size-n)`` from ever evaluating)."""
    grams = (
        f"CASE WHEN size({tokens_col}) >= {n} THEN "
        f"transform(sequence(0, size({tokens_col}) - {n}), "
        f"i -> concat_ws(' ', slice({tokens_col}, i + 1, {n}))) "
        "ELSE CAST(array() AS array<string>) END"
    )
    return df.withColumn(
        out, F.expr(f"explode(array_distinct({grams}))")
    ).drop(tokens_col)


def shingle_array(
    df: DataFrame, n: int = 3, tokens_col: str = "tokens", out: str = "shingles"
) -> DataFrame:
    """Distinct word n-grams per row as an ARRAY column — the zero-shuffle
    sibling of :func:`word_shingles` for consumers that reduce per-doc
    (minhash, simhash). Keeps one row per document end-to-end instead of
    exploding to |docs|×|shingles| rows."""
    grams = F.when(
        F.size(tokens_col) >= n,
        F.transform(
            F.sequence(F.lit(0), F.size(tokens_col) - n),
            lambda i: F.concat_ws(" ", F.slice(F.col(tokens_col), i + 1, n)),
        ),
    ).otherwise(F.array().cast("array<string>"))
    return df.withColumn(out, F.array_distinct(grams)).drop(tokens_col)


def _digest_expr(s, n_digests: int):
    """32·n_digests lowercase-hex chars per shingle: md5(s) for the first
    128 bits, md5("seed<j>:"+s) for each further 128. One md5 call covers
    FOUR 32-bit minhash slots — hashing is the dominant cost of minhash at
    scale, so slicing one digest beats four seeded digests 4×."""
    parts = [F.md5(s)] + [
        F.md5(F.concat(F.lit(f"seed{j}:"), s)) for j in range(1, n_digests)
    ]
    return F.concat(*parts) if len(parts) > 1 else parts[0]


_SIG_OBS_SEQ = 0  # see the observe() barrier note in minhash_signature_arrays


def minhash_signature_arrays(
    df: DataFrame,
    id_col: str = "doc_id",
    shingles_col: str = "shingles",
    num_hashes: int = 8,
) -> DataFrame:
    """Array-native minwise signature over the per-doc shingle array:
    ``h_i = array_min(slice_i(digest(s)))`` where slice_i is the i-th
    8-hex-char (32-bit) window of the shingle digest. Fixed-length
    lowercase hex compares lexicographically == numerically, so a string
    min over a slice is a valid minwise hash. Same values as
    :func:`minhash_signature` over :func:`word_shingles` output, but with
    ZERO shuffle — no explode, no groupBy; pure per-row projections. At
    100 TB this is the path: the exploded form shuffles |docs|×|shingles|
    rows into an aggregate just to reduce them straight back to |docs|.
    Docs with no shingles are dropped (parity with the exploded form,
    where they produce no rows).

    The digest array is materialized in its own projection and referenced
    by all num_hashes mins: CollapseProject only inlines cheap/single-use
    aliases, so md5 runs once per shingle, not once per (shingle, hash).

    The no-shingle drop (``h0 IS NOT NULL``) sits above an
    ``observe()`` (CollectMetrics) barrier. Without a barrier,
    PushPredicateThroughNonJoin substitutes the whole tokenize→shingle→
    digest pipeline into the predicate and pushes it below the caller's
    repartition — re-evaluating the pipeline a second time on the
    PRE-shuffle side, i.e. on however few splits the scan has (a small
    corpus file is ONE split: the pushed filter alone then costs more
    than the whole query, measured 3.3s vs 0.4s at sf0.1). CollectMetrics
    is a SUPPORTED barrier whose blocking property is correctness-
    mandated, not private optimizer behavior: observed metrics must
    count the rows flowing through the observe point, so no Spark
    version may legally push a later filter beneath it (pinned by
    tests/test_plans.py). It replaced an earlier ``rand() < -1``
    nondeterministic-disjunct trick that depended on the optimizer
    never learning to fold rand()'s range. Bonus: the metric itself
    (``n_sig_rows``) is real observability — signature-table row counts
    per run, free on the same pass."""
    n_digests = (num_hashes + 3) // 4
    digests = F.transform(shingles_col, lambda s: _digest_expr(s, n_digests))

    # NB: factory, not `lambda d, i=i` — pyspark dispatches on lambda
    # arity, and a two-parameter lambda would receive the array INDEX
    # as its second argument
    def _slice(i):
        return lambda d: F.substring(d, 8 * i + 1, 8)

    sigs = [
        F.array_min(F.transform("_digests", _slice(i))).alias(f"h{i}")
        for i in range(num_hashes)
    ]
    # unique observation name per call: two independent signature builds
    # in ONE query (e.g. corpus + daily batch in d10) must not collide
    # (CheckAnalysis rejects same-name CollectMetrics with different
    # aggregate instances; reuse/self-join of one build is fine)
    global _SIG_OBS_SEQ
    _SIG_OBS_SEQ += 1
    return (
        df.withColumn("_digests", digests)
        .select(F.col(id_col), *sigs)
        .observe(
            f"minhash_signatures_{_SIG_OBS_SEQ}",
            F.count(F.lit(1)).alias("n_sig_rows"),
        )
        .filter(F.col("h0").isNotNull())
    )


def fingerprint(
    df: DataFrame, text_col: str = "text", out: str = "fingerprint"
) -> DataFrame:
    """Order-insensitive content fingerprint: md5 of the sorted distinct
    token multiset-collapsed string."""
    toks = F.filter(
        F.split(F.trim(F.lower(F.col(text_col))), r"\s+"), lambda x: x != ""
    )
    return df.withColumn(
        out, F.md5(F.concat_ws(" ", F.sort_array(F.array_distinct(toks))))
    )


def minhash_signature(
    shingled: DataFrame,
    id_col: str = "doc_id",
    shingle_col: str = "shingle",
    num_hashes: int = 8,
) -> DataFrame:
    """One row per doc with columns h0..h{k-1}: min over shingles of the
    i-th 8-hex-char slice of the shingle digest (see :func:`_digest_expr`
    — one md5 feeds four hash slots). md5 is a uniform hash and
    fixed-length lowercase hex sorts numerically, so min-over-set of a
    slice is a valid minwise signature; deterministic across engines.
    Same values as :func:`minhash_signature_arrays`."""
    n_digests = (num_hashes + 3) // 4
    digest = _digest_expr(F.col(shingle_col), n_digests)
    aggs = [
        F.min(F.substring(digest, 8 * i + 1, 8)).alias(f"h{i}")
        for i in range(num_hashes)
    ]
    return shingled.groupBy(id_col).agg(*aggs)


def _banded(
    signatures: DataFrame,
    id_col: str = "doc_id",
    num_hashes: int = 8,
    band_size: int = 2,
) -> DataFrame:
    """One row per (id, band_id, band_key): the signature split into
    bands JVM-side (array-of-structs explode, no shuffle)."""
    n_bands = num_hashes // band_size
    bands = F.array(
        *[
            F.struct(
                F.lit(b).alias("band_id"),
                F.concat_ws(
                    "|", *[F.col(f"h{b * band_size + j}") for j in range(band_size)]
                ).alias("band_key"),
            )
            for b in range(n_bands)
        ]
    )
    return signatures.select(
        F.col(id_col), F.explode(bands).alias("band")
    ).select(id_col, "band.band_id", "band.band_key")


def band_index(
    signatures: DataFrame,
    id_col: str = "doc_id",
    num_hashes: int = 8,
    band_size: int = 2,
) -> DataFrame:
    """The at-rest LSH index of a (deduplicated) corpus: persist this
    (partitioned/bucketed by ``band_key``) and daily ingest joins
    against it instead of re-banding the whole corpus — see
    ``incremental_lsh_candidates``."""
    return _banded(signatures, id_col, num_hashes, band_size)


def incremental_lsh_candidates(
    new_signatures: DataFrame,
    corpus_index: DataFrame,
    id_col: str = "doc_id",
    num_hashes: int = 8,
    band_size: int = 2,
    max_bucket_expand: int = 64,
) -> DataFrame:
    """Candidate pairs for an INCREMENTAL batch against an existing
    deduplicated corpus: (new x corpus) via an equi-join of the new
    batch's bands against the stored ``band_index``, plus (new x new)
    via the standard bucketed expansion. Deliberately NO corpus x
    corpus work — the at-rest corpus is already deduplicated, so daily
    cost scales with the batch size, not the corpus size (the property
    that makes LSH dedup sustainable at a 100 TB corpus with TB-scale
    daily ingest).

    Output columns ``(doc_a, doc_b)`` ordered by id only (doc_a <
    doc_b via least/greatest) — for cross pairs EITHER side may be the
    new-batch doc, so a keep-corpus/drop-new policy must not assume
    doc_b is new; join back to the batch frame (or tag a side column)
    when side matters. The band equi-join is
    AQE-skew-splittable; a hot band key in the corpus index shuffles
    only its id list, same order as the pair output."""
    new_banded = _banded(new_signatures, id_col, num_hashes, band_size)
    cross = (
        new_banded.alias("n")
        .join(
            corpus_index.alias("c"),
            (F.col("n.band_id") == F.col("c.band_id"))
            & (F.col("n.band_key") == F.col("c.band_key"))
            & (F.col(f"n.{id_col}") != F.col(f"c.{id_col}")),
        )
        .select(
            F.least(F.col(f"n.{id_col}"), F.col(f"c.{id_col}")).alias("doc_a"),
            F.greatest(F.col(f"n.{id_col}"), F.col(f"c.{id_col}")).alias("doc_b"),
        )
    )
    within = lsh_candidate_pairs(
        new_signatures, id_col, num_hashes, band_size, max_bucket_expand
    )
    return cross.unionByName(within).distinct()


def _lsh_pair_branches(
    signatures: DataFrame,
    id_col: str = "doc_id",
    num_hashes: int = 8,
    band_size: int = 2,
    max_bucket_expand: int = 64,
) -> tuple[DataFrame, DataFrame]:
    """Raw (small_pairs, big_pairs) expansion branches pre-distinct —
    the private building block of ``lsh_candidate_pairs``, imported
    directly by skew tests that measure pairs-per-task of the
    expansion stage itself.

    Deliberately NOT a self-join: a self-join on the banded frame makes
    Spark compute the whole shingle→minhash pipeline twice (no exchange
    reuse across the join's two branches). One groupBy(band) +
    JVM-side array combinatorics computes signatures once and shuffles
    only (band_key, [ids]) — at 100 TB that is one shuffle of ~|docs| ×
    n_bands small rows.

    Skew guard (two-phase expansion, no truncation): a bucket of K docs
    expands to K²/2 pairs; with everything in one flatten that is one
    task per bucket — a single hot band key (near-identical boilerplate
    docs are common in web corpora) turns into a straggler. Buckets
    larger than ``max_bucket_expand`` are instead posexploded to one row
    per (anchor doc, tail slice) and ROUND-ROBIN repartitioned before
    the final explode, spreading the O(K²) pair generation across the
    cluster. Results are identical to the unguarded path (asserted in
    tests/test_lsh_skew.py); the repartition shuffle moves O(K²/2) id
    strings — the same order as the pair output itself."""
    banded = _banded(signatures, id_col, num_hashes, band_size)
    buckets = (
        banded.groupBy("band_id", "band_key")
        .agg(F.sort_array(F.collect_set(id_col)).alias("ds"))
        .filter(F.size("ds") > 1)
    )
    # Persisted: the small/big split below makes TWO consumers of this
    # frame, and without a cache each branch re-executes the whole
    # scan→shingle→minhash→band-agg pipeline (verified in the executed
    # plan: the band exchange appeared twice). The frame is one row per
    # COLLIDING band key with an id list — tiny relative to the corpus
    # by LSH design — so MEMORY_AND_DISK is safe at scale. Ownership:
    # see _replace_owned_cache — the next call releases this cache.
    buckets = _replace_owned_cache("lsh_buckets", buckets)
    pairs = F.flatten(
        F.transform(
            "ds",
            lambda x, i: F.transform(
                F.slice("ds", i + F.lit(2), F.size("ds")),
                lambda y: F.struct(x.alias("doc_a"), y.alias("doc_b")),
            ),
        )
    )
    small_pairs = (
        buckets.filter(F.size("ds") <= max_bucket_expand)
        .select(F.explode(pairs).alias("p"))
        .select("p.doc_a", "p.doc_b")
    )
    big_pairs = (
        buckets.filter(F.size("ds") > max_bucket_expand)
        .select("ds", F.posexplode("ds").alias("i", "doc_a"))
        .select(
            "doc_a",
            F.expr("slice(ds, i + 2, size(ds))").alias("rest"),
        )
        .repartition(
            int(signatures.sparkSession.conf.get(
                "spark.sql.shuffle.partitions", "200"))
        )
        .select("doc_a", F.explode("rest").alias("doc_b"))
    )
    return small_pairs, big_pairs


def lsh_candidate_pairs(
    signatures: DataFrame,
    id_col: str = "doc_id",
    num_hashes: int = 8,
    band_size: int = 2,
    max_bucket_expand: int = 64,
) -> DataFrame:
    """Distinct LSH candidate pairs: band the signature, bucket docs
    sharing any band value, expand each bucket's (doc_a < doc_b) pairs
    with the two-phase skew guard (see ``_lsh_pair_branches``)."""
    small_pairs, big_pairs = _lsh_pair_branches(
        signatures, id_col, num_hashes, band_size, max_bucket_expand
    )
    return small_pairs.unionByName(big_pairs).distinct()


def ngram_jaccard_pairs(
    shingled: DataFrame,
    id_col: str = "doc_id",
    shingle_col: str = "shingle",
    min_jaccard: float = 0.5,
) -> DataFrame:
    """Exact Jaccard over distinct shingles for doc pairs sharing >=1
    shingle.

    The shingled frame feeds THREE consumers (join LHS, join RHS, the
    per-doc size aggregate); it is persisted here so the tokenize→
    shingle explode runs once instead of three times — without the
    cache each consumer re-executed the full text scan (verified: 4
    source scans in the executed plan). MEMORY_AND_DISK spills
    gracefully when |docs|×|shingles| exceeds executor memory.
    Cache ownership transfers to this function (the caller's frame is
    persisted here; the next invocation unpersists it — see
    _replace_owned_cache)."""
    shingled = _replace_owned_cache("jaccard_shingled", shingled)
    sizes = shingled.groupBy(id_col).agg(F.count(F.lit(1)).alias("n_shingles"))
    a = shingled.alias("a")
    b = shingled.alias("b")
    common = (
        a.join(
            b,
            (F.col(f"a.{shingle_col}") == F.col(f"b.{shingle_col}"))
            & (F.col(f"a.{id_col}") < F.col(f"b.{id_col}")),
        )
        .groupBy(
            F.col(f"a.{id_col}").alias("doc_a"),
            F.col(f"b.{id_col}").alias("doc_b"),
        )
        .agg(F.count(F.lit(1)).alias("n_common"))
    )
    sa = sizes.select(
        F.col(id_col).alias("doc_a"), F.col("n_shingles").alias("n_a")
    )
    sb = sizes.select(
        F.col(id_col).alias("doc_b"), F.col("n_shingles").alias("n_b")
    )
    out = (
        common.join(sa, "doc_a")
        .join(sb, "doc_b")
        .withColumn(
            "jaccard",
            F.col("n_common")
            / (F.col("n_a") + F.col("n_b") - F.col("n_common")),
        )
    )
    return out.filter(F.col("jaccard") >= min_jaccard).select(
        "doc_a", "doc_b", "n_common", "jaccard"
    )
