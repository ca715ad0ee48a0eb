"""Text analysis operators (BASELINE.json north star: language-ID,
quality scoring, token counting, fingerprinting — all JVM-side
expressions, no Python UDFs).

Build rule: write an operator as SQL text the JVM parses once
(``selectExpr`` / ``F.expr``), not as a Python Column tree. Each Column
node is a py4j round trip of about 0.35 ms at construction, and each
Python-lambda higher-order function (``F.filter`` / ``F.transform`` /
``F.aggregate`` with a Python lambda) about 25 ms. As SQL text,
``quality_scores(language_scores(df))`` sends 24 py4j commands instead
of 619, and the d6 builder 60 instead of 2,678
(tests/test_oracle_parity.py pins both).
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

# tiny per-language stopword lists for the n-gram-free heuristic
STOPWORDS = {
    "en": ["the", "a", "of", "and", "to", "in", "is"],
    "de": ["der", "die", "und", "das", "ist", "ein"],
    "es": ["el", "la", "de", "que", "y", "los"],
    "fr": ["le", "la", "et", "les", "des", "un"],
}


def _tokens_sql(text_col: str) -> str:
    """Tokenizer as SQL text, composed into each consumer's expression
    (module docstring)."""
    return f"filter(split(trim(lower({text_col})), '\\\\s+'), x -> x != '')"


def token_count(df: DataFrame, text_col: str = "text", out: str = "n_tokens") -> DataFrame:
    return df.withColumn(
        out, F.expr(f"CAST(size({_tokens_sql(text_col)}) AS BIGINT)")
    )


# GPT-2-style pre-tokenizer, simplified to explicit ASCII classes so the
# Java regex engine (Spark) and RE2 (DuckDB oracle) agree character-for-
# character: contraction suffixes, space-prefixed letter runs, digit
# runs, punctuation runs, residual whitespace.
BPE_SPLIT_RE = (
    r"'s|'t|'re|'ve|'m|'ll|'d"
    r"| ?[a-zA-Z]+| ?[0-9]+| ?[^a-zA-Z0-9\s]+|\s+"
)


def bpe_token_count(
    df: DataFrame, text_col: str = "text", out: str = "n_bpe_tokens"
) -> DataFrame:
    """Subword-style token count: number of BPE pre-tokenizer matches,
    excluding pure-whitespace matches (those never become tokens). This
    is the 'how many tokens will the LLM see' estimator of data
    pipelines — a pure JVM regexp, no tokenizer library."""
    pieces = F.regexp_extract_all(F.col(text_col), F.lit(BPE_SPLIT_RE), 0)
    return df.withColumn(
        out,
        F.size(
            F.filter(pieces, lambda p: p.rlike(r"\S"))
        ).cast("bigint"),
    )


def _stop_hits_sql(text_col: str, words: list[str]) -> str:
    inlist = ",".join("'" + w.replace("'", "\\'") + "'" for w in words)
    return (
        f"CAST(size(filter({_tokens_sql(text_col)}, "
        f"x -> x IN ({inlist}))) AS BIGINT)"
    )


def quality_scores(df: DataFrame, text_col: str = "text") -> DataFrame:
    """Length / punctuation / stopword ratios — the standard cheap
    quality filters of LLM-data pipelines. Later items read earlier
    ones as lateral column aliases."""
    return df.selectExpr(
        "*",
        f"CAST(size({_tokens_sql(text_col)}) AS BIGINT) AS n_tokens",
        f"CAST(length({text_col}) AS BIGINT) AS n_chars_txt",
        "CASE WHEN n_tokens > 0 THEN (n_chars_txt - (n_tokens - 1)) / n_tokens"
        " ELSE 0D END AS avg_token_len",
        f"(n_chars_txt - length(regexp_replace({text_col}, '[.,!?;:]', '')))"
        " / greatest(n_chars_txt, 1) AS punct_ratio",
        "CASE WHEN n_tokens > 0 THEN "
        f"{_stop_hits_sql(text_col, STOPWORDS['en'])} / n_tokens"
        " ELSE 0D END AS stopword_ratio",
    )


def language_scores(df: DataFrame, text_col: str = "text") -> DataFrame:
    """Stopword-hit counts per language + argmax prediction with a
    deterministic tie-break (language name asc, 'und' if no hits).

    The argmax packs each count with its tie-break rank,
    ``k * hits - (rank + 1)`` for the rank-th of k sorted languages,
    so one ``array_max`` picks the winner and ``% k`` names it: k - 1
    - rank for a count >= 1, negative when every count is 0, NULL for
    NULL text. ``get`` returns NULL for a negative index, hence 'und'.
    Each ``hits_*`` is referenced once, so a filter pushed below this
    projection inlines every tokenization once, not once per branch."""
    langs = sorted(STOPWORDS)
    k = len(langs)
    packed = ", ".join(f"{k} * hits_{lang} - {i + 1}" for i, lang in enumerate(langs))
    names = ", ".join(f"'{lang}'" for lang in reversed(langs))
    return df.selectExpr(
        "*",
        *[
            f"{_stop_hits_sql(text_col, words)} AS hits_{lang}"
            for lang, words in STOPWORDS.items()
        ],
        f"coalesce(get(array({names}), CAST(array_max(array({packed})) % {k}"
        " AS INT)), 'und') AS pred_lang",
    )


def winnowing_fingerprints(
    df: DataFrame,
    tokens_col: str = "tokens",
    id_col: str = "doc_id",
    n: int = 3,
    window: int = 4,
) -> DataFrame:
    """Winnowing document fingerprints (Schleimer et al., SIGMOD 2003 —
    the MOSS algorithm): hash every in-order word ``n``-gram, slide a
    window of ``window`` consecutive hashes, and keep the minimum hash
    of each window. The selected set is a position-robust fingerprint:
    any shared substring of length >= window+n-1 tokens guarantees a
    shared fingerprint, so it upgrades the whole-document rolling hash
    (t4) to partial-overlap detection.

    All JVM-side, ARRAY-NATIVE (r14, guide §2.4): gram build, hashing
    (``md5`` — lexicographic min over fixed-width lowercase hex ==
    numeric min of the 32-bit value, and identical in DuckDB), the
    sliding-window min, and the per-doc dedup all happen inside one
    row's arrays — zero shuffle, zero row expansion. The previous form
    posexploded |grams| rows per doc into a doc_id window (sort per
    doc) plus a global distinct aggregation; per-window ``array_min(
    slice(...))`` over the hash array selects the identical values
    (window at 1-based j covers hashes j-window+1..j ⟺ the rows
    window's window-1 PRECEDING..CURRENT at rn=j; the rn==ng fallback
    for short docs is the whole-array min), and ``array_distinct``
    replaces the global distinct because each input row carries a
    distinct ``id_col`` (true for every call site: tokenize emits one
    row per document — callers passing duplicated ids must pre-dedup).
    Docs with fewer grams than ``window`` contribute their global min
    (classic winnowing emits nothing; the fallback keeps every doc
    fingerprinted). Docs with fewer than ``n`` tokens yield no rows.
    """
    hs = (
        f"CASE WHEN size({tokens_col}) >= {n} THEN "
        f"transform(sequence(0, size({tokens_col}) - {n}), "
        f"i -> substring(md5(concat_ws(' ', slice({tokens_col}, i + 1, {n}))), 1, 8)) "
        "ELSE CAST(array() AS array<string>) END"
    )
    # two projections, not one: __h is referenced four times below and
    # CollapseProject keeps non-cheap multiply-referenced aliases in
    # their own Project, so the gram hashes compute once per row
    hashed = df.select(id_col, F.expr(hs).alias("__h"))
    fps = (
        f"CASE WHEN size(__h) >= {window} THEN "
        f"transform(sequence({window}, size(__h)), "
        f"j -> array_min(slice(__h, j - {window} + 1, {window}))) "
        "WHEN size(__h) >= 1 THEN array(array_min(__h)) "
        "ELSE CAST(array() AS array<string>) END"
    )
    return hashed.select(
        id_col,
        F.explode(F.array_distinct(F.expr(fps))).alias("fingerprint"),
    )


# --- PII detection / redaction ------------------------------------------------

# Patterns restricted to constructs Java regex (Spark) and RE2 (DuckDB
# oracle) interpret identically: ASCII classes, bounded repetition,
# ASCII-\w word boundaries. No lookarounds (RE2 has none), no \p{...}.
PII_EMAIL_RE = r"[a-zA-Z0-9._%+-]+@[a-zA-Z0-9.-]+\.[a-zA-Z]{2,}"
PII_PHONE_RE = r"\b\d{3}[-.]\d{3}[-.]\d{4}\b"
PII_IPV4_RE = r"\b\d{1,3}\.\d{1,3}\.\d{1,3}\.\d{1,3}\b"

# replacement order matters (email first so its digits are gone before
# the phone/ip scans) and COUNTS follow the same staging: each class is
# counted on the text with earlier classes already replaced, so counts
# sum to the spans actually scrubbed. The oracle applies the same order
# with the 'g' flag (DuckDB regexp_replace is first-match-only by
# default).
PII_RULES: list[tuple[str, str]] = [
    (PII_EMAIL_RE, "<EMAIL>"),
    (PII_PHONE_RE, "<PHONE>"),
    (PII_IPV4_RE, "<IP>"),
]


def pii_scan(
    df: DataFrame, text_col: str = "text"
) -> DataFrame:
    """Per-row PII inventory + redaction — the compliance pass every
    training-data pipeline runs before anything else touches the text.

    Adds ``n_emails / n_phones / n_ipv4`` (match counts) and
    ``redacted`` (all three classes replaced by typed tags, email
    first). Each count is taken on the PROGRESSIVELY-redacted text —
    n_phones counts matches after emails are already scrubbed, n_ipv4
    after emails+phones — so the three counts sum to exactly the
    number of spans replaced in ``redacted``: a span like
    ``user@1.2.3.4`` counts once (as the email that consumed it), never
    double as email AND IPv4. Pure JVM regexps over one projection: no
    shuffle, no Python, stream-safe — on 100 TB this is scan-bound, and
    the narrow shape lets it fuse with whatever filter runs next.
    """
    count_cols = ["n_emails", "n_phones", "n_ipv4"]
    out = df
    stage = F.col(text_col)
    for (pat, tag), col in zip(PII_RULES, count_cols):
        out = out.withColumn(
            col,
            F.size(F.regexp_extract_all(stage, F.lit(pat), 0)).cast("bigint"),
        )
        stage = F.regexp_replace(stage, pat, tag)
    return out.withColumn("redacted", stage)
