"""Oracle-checked text-pipeline queries: deduplication, similarity
search, and text analysis over the ``documents`` / ``embeddings``
tables (BASELINE.json north star — the LLM-training-data operator set;
the reference has no text path, so reference citations are n/a).

Scale notes per family:

- dedup: every join is an equi-join on a hash key (shuffle-hash /
  sort-merge safe, AQE-skew-splittable). The exact-Jaccard verify join
  is only ever run over LSH candidates at scale; here it also runs raw
  because sf0.01 is tiny.
- similarity: the query side of top-k is broadcast (k×|q| rows shuffle,
  corpus scanned once, narrow); IVF assignment broadcasts centroids and
  turns ANN probing into a partition-pruned equi-join on ``bucket``.
- text analysis: pure JVM expressions (split/regexp/higher-order
  functions) — whole-stage codegen end-to-end, no Python.

Cross-engine determinism: md5 is the shared hash primitive (identical
lowercase-hex output in Spark and DuckDB); all floats rounded to 6
digits on both sides; every rank has a unique tie-breaker.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from ..operators import dedup, similarity, textstats
from .base import QuerySpec, t

# ---------------------------------------------------------------------------
# shared DuckDB CTE fragments (tokens -> 3-gram shingles -> minhash sigs)
# ---------------------------------------------------------------------------

_TOKS = r"""toks AS (
  SELECT doc_id,
         filter(string_split_regex(lower(trim(text)), '\s+'),
                     x -> x != '') AS tokens,
         array_length(filter(string_split_regex(lower(trim(text)), '\s+'),
                     x -> x != '')) AS n_tok
  FROM documents
)"""

_SHINGLES = _TOKS + r""", pos AS (
  SELECT doc_id, list_extract(tokens, p) AS tok, p
  FROM (SELECT doc_id, tokens, unnest(generate_series(1, n_tok)) AS p
        FROM toks WHERE n_tok >= 1) u
), grams AS (
  SELECT doc_id,
         tok || ' ' || lead(tok, 1) OVER w || ' ' || lead(tok, 2) OVER w
           AS shingle
  FROM pos WINDOW w AS (PARTITION BY doc_id ORDER BY p)
), sh AS (
  SELECT DISTINCT doc_id, shingle FROM grams WHERE shingle IS NOT NULL
)"""

_SIG = _SHINGLES + r""", sig AS (
  SELECT doc_id,
         min(substr(md5(shingle), 1, 8)) AS h0,
         min(substr(md5(shingle), 9, 8)) AS h1,
         min(substr(md5(shingle), 17, 8)) AS h2,
         min(substr(md5(shingle), 25, 8)) AS h3
  FROM sh GROUP BY doc_id
)"""


def _docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    return t(spark, sf_dir, "documents")


def _spread_docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    # The corpus parquet is small-file-dense (one split), but the
    # shingle expansion + md5-per-shingle downstream is CPU-bound:
    # repartition by doc_id so the expansion uses every core instead of
    # inheriting the scan's single partition. Same reasoning at 100 TB:
    # partition for the CPU of the expansion, not the bytes of the scan.
    return _docs(spark, sf_dir).select("doc_id", "text").repartition(
        spark.sparkContext.defaultParallelism, "doc_id"
    )


def _shingled(spark: SparkSession, sf_dir: str) -> DataFrame:
    return dedup.word_shingles(
        dedup.tokenize(_spread_docs(spark, sf_dir)), n=3
    )


def _signatures(spark: SparkSession, sf_dir: str) -> DataFrame:
    # array-native: one row per doc throughout, zero shuffle after the
    # CPU-spreading repartition (vs explode → groupBy in the long form)
    return dedup.minhash_signature_arrays(
        dedup.shingle_array(dedup.tokenize(_spread_docs(spark, sf_dir))),
    )


# --- D1: exact dedup (hash-groupBy) ----------------------------------------

def d1_exact_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    return (
        _docs(spark, sf_dir)
        .groupBy(F.md5(F.col("text")).alias("content_hash"))
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.min("doc_id").alias("keeper_id"),
        )
    )


D1_SQL = """
SELECT md5(text) AS content_hash,
       count(*) AS n_docs,
       min(doc_id) AS keeper_id
FROM documents GROUP BY 1
"""


# --- D2: fingerprint dedup (order-insensitive token-set hash) ---------------

def d2_fingerprint_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    return (
        dedup.fingerprint(_docs(spark, sf_dir))
        .groupBy("fingerprint")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.min("doc_id").alias("keeper_id"),
        )
        .filter(F.col("n_docs") > 1)
    )


D2_SQL = rf"""
WITH {_TOKS}
SELECT md5(array_to_string(list_sort(list_distinct(tokens)), ' '))
         AS fingerprint,
       count(*) AS n_docs,
       min(doc_id) AS keeper_id
FROM toks GROUP BY 1 HAVING count(*) > 1
"""


# --- D3: minhash signatures --------------------------------------------------

def d3_minhash_signatures(spark: SparkSession, sf_dir: str) -> DataFrame:
    return _signatures(spark, sf_dir)


D3_SQL = f"WITH {_SIG} SELECT * FROM sig"


# --- D4: LSH banding -> candidate pairs --------------------------------------

def d4_lsh_candidates(spark: SparkSession, sf_dir: str) -> DataFrame:
    sig = _signatures(spark, sf_dir)
    return dedup.lsh_candidate_pairs(sig)


D4_SQL = f"""
WITH {_SIG}, banded AS (
  SELECT doc_id, 0 AS band_id, h0 || '|' || h1 AS band_key FROM sig
  UNION ALL
  SELECT doc_id, 1 AS band_id, h2 || '|' || h3 AS band_key FROM sig
)
SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
FROM banded a JOIN banded b
  ON a.band_id = b.band_id AND a.band_key = b.band_key
 AND a.doc_id < b.doc_id
"""


# --- D10: incremental LSH against an at-rest band index ----------------------

def d10_incremental_lsh(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Daily-ingest dedup shape: docs with ``doc_id % 10 == 0`` play the
    NEW batch, the rest the already-deduplicated at-rest corpus whose
    ``band_index`` is persisted. Candidates = (new x corpus) via the
    index equi-join + (new x new) via standard bucketed expansion —
    deliberately no corpus x corpus work, so daily cost scales with the
    batch, not the 100 TB corpus (operators/dedup.py:233). The oracle
    computes the full-corpus band join and keeps pairs with >=1 new
    side — identical by construction since the corpus side is banded
    with the same signature scheme."""
    # The signature frame (one row per doc — KB-scale) feeds the
    # at-rest index, the cross-join new side, AND the within-batch
    # bucket build; uncached, each consumer re-ran the full tokenize→
    # shingle→minhash scan (7 parquet scans of documents in the
    # executed plan → 1 after the cache; the same multi-consumer
    # recomputation d12's cache closed).
    from ..operators.cache import replace_owned_cache

    sig = replace_owned_cache(
        "d10_signatures", _signatures(spark, sf_dir)
    )
    is_new = (F.col("doc_id") % 10) == 0
    index = dedup.band_index(sig.filter(~is_new))
    return dedup.incremental_lsh_candidates(
        sig.filter(is_new), index
    )


D10_SQL = f"""
WITH {_SIG}, banded AS (
  SELECT doc_id, 0 AS band_id, h0 || '|' || h1 AS band_key FROM sig
  UNION ALL
  SELECT doc_id, 1 AS band_id, h2 || '|' || h3 AS band_key FROM sig
)
SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
FROM banded a JOIN banded b
  ON a.band_id = b.band_id AND a.band_key = b.band_key
 AND a.doc_id < b.doc_id
WHERE a.doc_id % 10 = 0 OR b.doc_id % 10 = 0
"""


# --- D11: passage-level exact dedup ------------------------------------------

def d11_passage_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact substring-span dedup (Lee et al. 2021, arXiv:2107.06499,
    'Deduplicating Training Data Makes Language Models Better'): docs
    are chunked into NON-overlapping 10-token passages, and a passage
    is duplicated when the identical token span occurs in any OTHER
    document. Per doc: passage count, cross-doc-duplicated passage
    count, and the dup fraction — the signal train-data pipelines use
    to drop boilerplate-heavy pages whole or to cut the repeated spans.

    Scale shape: chunking is a per-row projection (no explode-to-
    groupBy round trip for the hash — md5 per chunk, one shuffle on
    the 16-byte chunk hash for the occurrence count, one shuffle back
    on doc_id). Docs shorter than one passage produce no rows, exactly
    like the oracle's empty generate_series."""
    toked = dedup.tokenize(_spread_docs(spark, sf_dir))
    nc = F.floor(F.size("tokens") / 10).cast("int")
    chunk_hashes = F.when(
        nc >= 1,
        F.transform(
            F.sequence(F.lit(0), nc - 1),
            lambda i: F.md5(F.concat_ws(" ", F.slice("tokens", i * 10 + 1, 10))),
        ),
    ).otherwise(F.array().cast("array<string>"))
    chunks = toked.select(
        "doc_id", F.explode(chunk_hashes).alias("chash")
    )
    occ = chunks.groupBy("chash").agg(
        F.count_distinct("doc_id").alias("nd")
    )
    return (
        chunks.join(occ, "chash")
        .groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).alias("n_passages"),
            F.sum((F.col("nd") > 1).cast("bigint")).alias("n_dup_passages"),
        )
        .withColumn(
            "dup_fraction",
            F.round(F.col("n_dup_passages") / F.col("n_passages"), 6),
        )
    )


D11_SQL = rf"""
WITH {_TOKS}, nchunks AS (
  SELECT doc_id, tokens, CAST(FLOOR(array_length(tokens) / 10) AS INT) AS nc FROM toks
), idx AS (
  SELECT doc_id, tokens, unnest(generate_series(0, nc - 1)) AS i
  FROM nchunks WHERE nc >= 1
), chunks AS (
  SELECT doc_id,
         md5(array_to_string(list_slice(tokens, i * 10 + 1, i * 10 + 10), ' '))
           AS chash
  FROM idx
), occ AS (
  SELECT chash, count(DISTINCT doc_id) AS nd FROM chunks GROUP BY 1
)
SELECT doc_id,
       count(*) AS n_passages,
       CAST(sum(CASE WHEN nd > 1 THEN 1 ELSE 0 END) AS BIGINT)
         AS n_dup_passages,
       round(sum(CASE WHEN nd > 1 THEN 1 ELSE 0 END) * 1.0 / count(*), 6)
         AS dup_fraction
FROM chunks JOIN occ USING (chash)
GROUP BY 1
"""


# --- T10: eval-set decontamination --------------------------------------------

def t10_decontamination(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Benchmark decontamination (GPT-3 appendix C / Dolma): docs whose
    text shares any exact 4-gram with a held-out eval set must be
    flagged before training (GPT-3 used 13-grams; 4 fits this synthetic
    vocabulary's collision rate). Eval set = docs with ``doc_id % 97 ==
    0`` (deterministic stand-in for the benchmark corpus); output =
    every NON-eval doc with its count of overlapping 4-grams and a
    contamination flag.

    Scale shape: the eval side collapses to DISTINCT shingles and is
    broadcast (an eval corpus is MBs against a 100 TB train corpus), so
    the check is a broadcast left-semi per shingle + one doc_id count —
    no fact-fact shuffle. The left join back to the doc list keeps
    zero-hit docs in the output (the all-clear audit row)."""
    docs = _spread_docs(spark, sf_dir)
    sh = dedup.word_shingles(dedup.tokenize(docs), n=4)
    eval_sh = (
        sh.filter(F.col("doc_id") % 97 == 0).select("shingle").distinct()
    )
    corpus_sh = sh.filter(F.col("doc_id") % 97 != 0)
    hits = (
        corpus_sh.join(F.broadcast(eval_sh), "shingle", "left_semi")
        .groupBy("doc_id")
        .agg(F.count(F.lit(1)).alias("n_hits"))
    )
    corpus_docs = docs.filter(F.col("doc_id") % 97 != 0).select("doc_id")
    return corpus_docs.join(hits, "doc_id", "left").select(
        "doc_id",
        F.coalesce("n_hits", F.lit(0)).cast("bigint").alias("n_hits"),
        (F.coalesce("n_hits", F.lit(0)) > 0).cast("int").alias("contaminated"),
    )


T10_SQL = r"""
WITH toks AS (
  SELECT doc_id,
         filter(string_split_regex(lower(trim(text)), '\s+'),
                     x -> x != '') AS tokens,
         array_length(filter(string_split_regex(lower(trim(text)), '\s+'),
                     x -> x != '')) AS n_tok
  FROM documents
), pos AS (
  SELECT doc_id, list_extract(tokens, p) AS tok, p
  FROM (SELECT doc_id, tokens, unnest(generate_series(1, n_tok)) AS p
        FROM toks WHERE n_tok >= 1) u
), grams AS (
  SELECT doc_id,
         tok || ' ' || lead(tok, 1) OVER w || ' ' || lead(tok, 2) OVER w
             || ' ' || lead(tok, 3) OVER w
           AS shingle
  FROM pos WINDOW w AS (PARTITION BY doc_id ORDER BY p)
), sh AS (
  SELECT DISTINCT doc_id, shingle FROM grams WHERE shingle IS NOT NULL
), eval_sh AS (
  SELECT DISTINCT shingle FROM sh WHERE doc_id % 97 = 0
), hits AS (
  SELECT s.doc_id, count(*) AS n_hits
  FROM sh s JOIN eval_sh e USING (shingle)
  WHERE s.doc_id % 97 != 0
  GROUP BY 1
)
SELECT d.doc_id,
       coalesce(h.n_hits, 0) AS n_hits,
       CAST(coalesce(h.n_hits, 0) > 0 AS INT) AS contaminated
FROM documents d LEFT JOIN hits h USING (doc_id)
WHERE d.doc_id % 97 != 0
"""


# --- D5: exact n-gram Jaccard verification -----------------------------------

def d5_ngram_jaccard(spark: SparkSession, sf_dir: str) -> DataFrame:
    pairs = dedup.ngram_jaccard_pairs(_shingled(spark, sf_dir))
    return pairs.select(
        "doc_a", "doc_b", "n_common", F.round("jaccard", 6).alias("jaccard")
    )


D5_SQL = f"""
WITH {_SHINGLES}, sz AS (
  SELECT doc_id, count(*) AS n FROM sh GROUP BY 1
), common AS (
  SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, count(*) AS n_common
  FROM sh a JOIN sh b ON a.shingle = b.shingle AND a.doc_id < b.doc_id
  GROUP BY 1, 2
)
SELECT doc_a, doc_b, n_common,
       round(n_common / (sa.n + sb.n - n_common), 6) AS jaccard
FROM common
JOIN sz sa ON sa.doc_id = doc_a
JOIN sz sb ON sb.doc_id = doc_b
WHERE n_common / (sa.n + sb.n - n_common) >= 0.1
"""


# --- D8: duplicate clusters (transitive closure over verified pairs) ----------

def d8_dup_clusters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Dedup endgame: verified near-dup PAIRS (d5) promoted to CLUSTERS
    via iterative min-label propagation (operators/graph.py) — if A~B
    and B~C then {A,B,C} share one cluster even though A~C was never
    emitted. cluster_id = smallest reachable doc_id = the keeper under
    a min-id policy.

    ``converged`` is the contract column that let the oracle drop its
    DuckDB-only recursive CTE: the shared-SQL twin (``_d8_sql``) unrolls 6 rounds of PLAIN
    single-reference min-label propagation (new_l(v) = min over
    neighbors-and-self of prev_l — one prev-table reference per round,
    keeping CTE inlining linear; the 3-reference pointer-jumping
    variant was abandoned after it exploded both engines, see _d8_sql)
    and spends one extra round PROVING the fixpoint. Plain propagation
    covers distance-to-component-min <= 6; a corpus with a deeper
    component flips the oracle's flag FALSE and the hash gate catches
    it (measured depth at sf0.001/sf0.01: 1). The Spark side's loop
    iterates to an exact fixpoint by construction
    (connected_components warns otherwise), so its flag is literal
    TRUE."""
    from ..operators.graph import connected_components

    pairs = dedup.ngram_jaccard_pairs(_shingled(spark, sf_dir))
    return connected_components(pairs).select(
        "doc_id",
        F.col("cluster_id").cast("bigint").alias("cluster_id"),
        F.lit(True).alias("converged"),
    )


def _d8_sql() -> str:
    """Shared-dialect d8 oracle: min-label connected components as
    6 statically-unrolled propagation steps over self-looped
    edges — each round is ONE reference to the previous label table
    (new_l(v) = min over neighbors-and-self of prev_l), so both
    engines' CTE inlining stays LINEAR in the unroll depth (a 3-ref
    pointer-jumping variant exploded DuckDB to 3^rounds corpus scans
    and OOM'd Catalyst analysis). Plain propagation
    needs max-dist-to-component-min rounds: measured 1 at sf0.001 AND
    sf0.01 (near-dup clusters are dense clumps), so 6 is deep
    headroom, and round ``rounds+1`` exists only to PROVE the fixpoint
    (`converged` in the hash gate flips FALSE on any deeper graph).
    AS MATERIALIZED keeps DuckDB from re-inlining the shingle-join
    edge pipeline; the Spark frontend transpile strips the hint."""
    rounds = 6
    steps = []
    prev = "l0"
    for r in range(1, rounds + 2):  # +1 extra round = the fixpoint proof
        cur = f"l{r}"
        steps.append(f"""{cur} AS MATERIALIZED (
  SELECT e.u AS v, min(p.l) AS l
  FROM edges2 e JOIN {prev} p ON p.v = e.v
  GROUP BY e.u
)""")
        prev = cur
    return f"""
WITH {_SHINGLES}, sz AS (
  SELECT doc_id, count(*) AS n FROM sh GROUP BY doc_id
), common AS (
  SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, count(*) AS n_common
  FROM sh a JOIN sh b ON a.shingle = b.shingle AND a.doc_id < b.doc_id
  GROUP BY a.doc_id, b.doc_id
), verified AS (
  SELECT doc_a, doc_b FROM common
  JOIN sz sa ON sa.doc_id = doc_a
  JOIN sz sb ON sb.doc_id = doc_b
  WHERE n_common / (sa.n + sb.n - n_common) >= 0.1
), edges2 AS MATERIALIZED (
  SELECT doc_a AS u, doc_b AS v FROM verified
  UNION ALL
  SELECT doc_b AS u, doc_a AS v FROM verified
  UNION ALL
  SELECT DISTINCT doc_a AS u, doc_a AS v FROM verified
  UNION ALL
  SELECT DISTINCT doc_b AS u, doc_b AS v FROM verified
), l0 AS MATERIALIZED (
  SELECT u AS v, min(v) AS l FROM edges2 GROUP BY u
), {", ".join(steps)}
SELECT a.v AS doc_id, CAST(a.l AS BIGINT) AS cluster_id,
       a.l = b.l AS converged
FROM l{rounds} a JOIN l{rounds + 1} b ON b.v = a.v
ORDER BY doc_id
"""


D8_SQL = _d8_sql()


# --- D6: 16-bit SimHash -------------------------------------------------------

def d6_simhash(spark: SparkSession, sf_dir: str) -> DataFrame:
    # Array-native: one row per doc end-to-end, zero shuffle (the long
    # form exploded |docs|×|tokens| rows into a 16-sum groupBy only to
    # reduce them straight back to |docs|). md5 is computed ONCE per
    # distinct token; the 16 per-bit vote walks reuse the hashed array.
    # SQL text, not Python lambdas (operators/textstats.py docstring).
    toked = dedup.tokenize(_spread_docs(spark, sf_dir))
    # first 4 hex chars of md5(tok) -> one 16-bit value per token; nibble
    # c = hex char c+1, so token bit j (= nibble j//4, bit j%4) is value
    # bit 4*(3 - j//4) + j%4
    hashed = toked.selectExpr(
        "doc_id",
        "transform(array_distinct(tokens),"
        " tok -> CAST(conv(substring(md5(tok), 1, 4), 16, 10) AS INT)) AS hv",
    ).filter("size(hv) > 0")
    bits = " + ".join(
        f"CASE WHEN aggregate(hv, 0, (acc, v) -> acc + CASE WHEN"
        f" shiftright(v, {4 * (3 - j // 4) + j % 4}) & 1 = 1 THEN 1 ELSE -1 END)"
        f" > 0 THEN {1 << j} ELSE 0 END"
        for j in range(16)
    )
    return hashed.selectExpr("doc_id", f"CAST({bits} AS BIGINT) AS simhash16")


_D6_VOTES = ", ".join(
    f"sum(CASE WHEN (v{j // 4} >> {j % 4}) & 1 = 1 THEN 1 ELSE -1 END) AS s{j}"
    for j in range(16)
)
_D6_COMBINE = " + ".join(
    f"(CASE WHEN s{j} > 0 THEN {1 << j} ELSE 0 END)" for j in range(16)
)
D6_SQL = f"""
WITH {_TOKS}, dt AS (
  SELECT doc_id, unnest(dtoks) AS tok
  FROM (SELECT doc_id, list_distinct(tokens) AS dtoks FROM toks) d0
), hv AS (
  SELECT doc_id,
         instr('0123456789abcdef', substring(md5(tok), 1, 1)) - 1 AS v0,
         instr('0123456789abcdef', substring(md5(tok), 2, 1)) - 1 AS v1,
         instr('0123456789abcdef', substring(md5(tok), 3, 1)) - 1 AS v2,
         instr('0123456789abcdef', substring(md5(tok), 4, 1)) - 1 AS v3
  FROM dt
), votes AS (
  SELECT doc_id, {_D6_VOTES} FROM hv GROUP BY doc_id
)
SELECT doc_id, CAST({_D6_COMBINE} AS BIGINT) AS simhash16 FROM votes
"""


# --- D7: embedding-cosine near-dup (label-blocked pairs) ---------------------

def d7_embedding_neardup(spark: SparkSession, sf_dir: str) -> DataFrame:
    # label-blocked gram matrix (numpy per block) — NOT a self-join with
    # a per-pair HOF cosine, which pays 3 interpreted 64-element folds
    # per pair (~12x slower at sf0.1; see blocked_neardup_pairs)
    e = t(spark, sf_dir, "embeddings").select("vec_id", "embedding", "label")
    return similarity.blocked_neardup_pairs(
        e, block_col="label", min_cosine=0.15
    )


D7_SQL = """
WITH e AS (SELECT vec_id, embedding::DOUBLE[] AS v, label FROM embeddings)
SELECT a.vec_id AS vec_a, b.vec_id AS vec_b,
       CAST(a.label AS BIGINT) AS label,
       round(
         list_dot_product(a.v, b.v)
         / (sqrt(list_dot_product(a.v, a.v))
            * sqrt(list_dot_product(b.v, b.v))), 6) AS cosine
FROM e a JOIN e b ON a.label = b.label AND a.vec_id < b.vec_id
WHERE list_dot_product(a.v, b.v)
      / (sqrt(list_dot_product(a.v, a.v))
         * sqrt(list_dot_product(b.v, b.v))) >= 0.15
"""


# --- D9: semantic dedup (cluster-scoped embedding near-dup keeper) ------------

_D9_TAU = 0.3


def d9_semdedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SemDeDup-style semantic deduplication (Abbas et al. 2023,
    arXiv:2303.09540): assign every embedding to its nearest centroid
    (IVF cells as the clustering — broadcast centroids, same setup as
    s2_ivf_ann), then WITHIN each cluster drop any vector that has a
    lower-id neighbor with cosine >= tau; the min-id survivor is the
    keeper, mirroring d1's exact-dup keeper policy. Pairwise work is
    cluster-bounded and runs through the tiled numpy gram path
    (blocked_neardup_pairs with the cell as the block), so no task ever
    sees more than a MAX_BLOCK_ROWS^2 tile — the 100 TB shape: cheap
    centroid assignment narrows the quadratic stage to within-cluster
    tiles, exactly how production semantic dedup caps cost."""
    e = t(spark, sf_dir, "embeddings").select("vec_id", "embedding")
    centroids = e.filter(F.col("vec_id") < 8).select(
        F.col("vec_id").alias("centroid_id"), F.col("embedding").alias("cvec")
    )
    # owned-cache: assigned feeds the gram stage AND the final verdict
    # join — uncached, the scan+assignment projection runs twice (the
    # d12 multi-consumer recompute pattern)
    from ..operators.cache import replace_owned_cache

    assigned = replace_owned_cache(
        "d9_assigned", similarity.ivf_assign(e, centroids)
    )
    pairs = similarity.blocked_neardup_pairs(
        assigned, block_col="bucket", min_cosine=_D9_TAU
    )
    dropped = pairs.select(F.col("vec_b").alias("vec_id")).distinct()
    return (
        assigned.join(dropped.withColumn("_dup", F.lit(1)), "vec_id", "left")
        .select(
            "vec_id",
            F.col("bucket").cast("bigint").alias("bucket"),
            F.when(F.col("_dup").isNull(), 1).otherwise(0).alias("kept"),
        )
    )


_D9_COS = """
         list_dot_product(a.v, b.v)
         / (sqrt(list_dot_product(a.v, a.v))
            * sqrt(list_dot_product(b.v, b.v)))
"""

D9_SQL = f"""
WITH e AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
c AS (SELECT vec_id AS centroid_id, v AS cv FROM e WHERE vec_id < 8),
scored AS (
  SELECT e.vec_id, e.v, c.centroid_id,
         list_dot_product(e.v, c.cv)
         / (sqrt(list_dot_product(e.v, e.v))
            * sqrt(list_dot_product(c.cv, c.cv))) AS csim
  FROM e, c
),
assigned AS (
  SELECT vec_id, v, centroid_id AS bucket FROM (
    SELECT *, row_number() OVER (PARTITION BY vec_id
                                 ORDER BY csim DESC, centroid_id) AS rk
    FROM scored) WHERE rk = 1
),
dropped AS (
  SELECT DISTINCT b.vec_id
  FROM assigned a JOIN assigned b
    ON a.bucket = b.bucket AND a.vec_id < b.vec_id
   AND {_D9_COS} >= {_D9_TAU}
)
SELECT a.vec_id, CAST(a.bucket AS BIGINT) AS bucket,
       CAST(CASE WHEN d.vec_id IS NULL THEN 1 ELSE 0 END AS INT) AS kept
FROM assigned a LEFT JOIN dropped d USING (vec_id)
"""


# --- D13: incremental SemDeDup (batch vs at-rest keepers) --------------------

_D13_SPLIT = 250  # vec_id < split = historical corpus; >= split = new batch


def d13_incremental_semdedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Incremental semantic dedup, the d10 contract for embeddings
    (operators/similarity.py::incremental_semdedup): the historical
    half of the corpus is deduped once (d9) and only its KEEPERS stay
    at rest; the new batch is then verdicted against keepers + itself
    — new×keeper + new×new work only, daily cost scaling with the
    batch. With monotone ids this equals full d9 over
    (keepers ∪ batch) restricted to the batch (randomized equality
    test in tests/test_text_and_fft.py); the oracle computes exactly
    that nested form."""
    e = t(spark, sf_dir, "embeddings").select("vec_id", "embedding")
    centroids = e.filter(F.col("vec_id") < 8).select(
        F.col("vec_id").alias("centroid_id"), F.col("embedding").alias("cvec")
    )
    first = e.filter(F.col("vec_id") < _D13_SPLIT)
    # owned-cache: a_first feeds the historical gram stage AND the
    # keeper anti-join (the d12 multi-consumer recompute pattern)
    from ..operators.cache import replace_owned_cache

    a_first = replace_owned_cache(
        "d13_assigned_hist",
        similarity.ivf_assign(first, centroids),
    )
    f_dropped = similarity.blocked_neardup_pairs(
        a_first, block_col="bucket", min_cosine=_D9_TAU
    ).select(F.col("vec_b").alias("vec_id")).distinct()
    keepers = a_first.join(f_dropped, "vec_id", "left_anti")
    batch = e.filter(F.col("vec_id") >= _D13_SPLIT)
    return similarity.incremental_semdedup(
        batch, keepers, centroids, tau=_D9_TAU
    )


D13_SQL = f"""
WITH e AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
c AS (SELECT vec_id AS centroid_id, v AS cv FROM e WHERE vec_id < 8),
scored AS (
  SELECT e.vec_id, e.v, c.centroid_id,
         list_dot_product(e.v, c.cv)
         / (sqrt(list_dot_product(e.v, e.v))
            * sqrt(list_dot_product(c.cv, c.cv))) AS csim
  FROM e, c
),
assigned AS (
  SELECT vec_id, v, centroid_id AS bucket FROM (
    SELECT *, row_number() OVER (PARTITION BY vec_id
                                 ORDER BY csim DESC, centroid_id) AS rk
    FROM scored) WHERE rk = 1
),
hist AS (SELECT * FROM assigned WHERE vec_id < {_D13_SPLIT}),
hist_dropped AS (
  SELECT DISTINCT b.vec_id
  FROM hist a JOIN hist b
    ON a.bucket = b.bucket AND a.vec_id < b.vec_id
   AND {_D9_COS} >= {_D9_TAU}
),
keepers AS (
  SELECT * FROM hist
  WHERE vec_id NOT IN (SELECT vec_id FROM hist_dropped)
),
batch AS (SELECT * FROM assigned WHERE vec_id >= {_D13_SPLIT}),
pool AS (SELECT * FROM keepers UNION ALL SELECT * FROM batch),
batch_dropped AS (
  SELECT DISTINCT b.vec_id
  FROM pool a JOIN pool b
    ON a.bucket = b.bucket AND a.vec_id < b.vec_id
   AND b.vec_id >= {_D13_SPLIT}
   AND {_D9_COS} >= {_D9_TAU}
)
SELECT bt.vec_id, CAST(bt.bucket AS BIGINT) AS bucket,
       CAST(CASE WHEN d.vec_id IS NULL THEN 1 ELSE 0 END AS INT) AS kept
FROM batch bt LEFT JOIN batch_dropped d USING (vec_id)
"""


# --- S1: brute-force cosine top-k --------------------------------------------

def s1_cosine_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = t(spark, sf_dir, "embeddings")
    queries = e.filter(F.col("vec_id") < 5).select(
        F.col("vec_id").alias("qid"), F.col("embedding").alias("qvec")
    )
    return similarity.brute_force_topk(
        e.select("vec_id", "embedding"), queries
    )


# s18's candidate count, result size and relevance weight, shared by
# the builder's defaults and its oracle
S18_N_CAND, S18_K, S18_LAM = 20, 5, 0.7


def s18_mmr_rerank(
    spark: SparkSession,
    sf_dir: str,
    n_cand: int = S18_N_CAND,
    k: int = S18_K,
    lam: float = S18_LAM,
) -> DataFrame:
    """Maximal Marginal Relevance reranking (Carbonell & Goldstein
    1998) — the diversity stage every retrieval pipeline puts between
    ANN top-k and the consumer: greedily pick k results maximizing
    ``lam·rel(c) − (1−lam)·max_sim(c, selected)``, so near-duplicate
    hits don't crowd the result list. One lazy plan, no job at
    construction: the corpus-wide relevance scan + top-``n_cand`` cut
    is distributed (broadcast query join, then TakeOrderedAndProject);
    the ≤ n_cand candidates are collected into one array by a
    global aggregate, and the k greedy rounds run inside one
    ``aggregate(sequence(1, k), …)`` over it (do the k-sized work
    locally and reduce once). Round 1 ranks by ``rel`` (not by its
    rounded ``mmr``, which can tie where ``rel`` does not) and reports
    ``mmr = round(rel·lam, 6)``; later rounds rank by
    ``mmr = round(rel·lam − pen·(1−lam), 6)`` with ``pen`` the max
    6-rounded cosine to the chosen set. Ties break on the smaller
    candidate id; a corpus with fewer than k candidates, or no query
    row, yields fewer rows. The oracle unrolls the identical rounds as
    CTEs. Output: (pos, cid, mmr)."""
    from ..operators.similarity import as_double, cosine_sql

    e = t(spark, sf_dir, "embeddings").select(
        "vec_id", as_double("embedding").alias("v")
    )
    q = e.filter(F.col("vec_id") == 0).select(F.col("v").alias("qv"))
    scored = (
        e.filter(F.col("vec_id") != 0)
        .crossJoin(F.broadcast(q))
        .select(
            F.col("vec_id").alias("cid"),
            "v",
            F.expr(f"round({cosine_sql('v', 'qv')}, 6)").alias("rel"),
        )
    )
    w_rel = Window.orderBy(F.desc("rel"), F.asc("cid"))
    cand = (
        scored.withColumn("rk", F.row_number().over(w_rel))
        .filter(F.col("rk") <= n_cand)
        .agg(F.collect_list(F.struct("cid", "rel", "v")).alias("c"))
    )
    # The doubles go through CAST('<repr>' AS DOUBLE): the exact
    # shortest-repr round trip of the oracle's literals. array_max over
    # struct(key, -cid, ...) is the argmax with the smaller-cid tie break;
    # it is NULL once no candidate is left, and array_compact drops it.
    lam_sql = f"CAST('{lam!r}' AS DOUBLE)"
    mu_sql = f"CAST('{(1.0 - lam)!r}' AS DOUBLE)"
    pen = f"array_max(transform(acc, s -> round({cosine_sql('x.v', 's.v')}, 6)))"
    mmr = (
        f"IF(size(acc) = 0, round(x.rel * {lam_sql}, 6), "
        f"round(x.rel * {lam_sql} - {pen} * {mu_sql}, 6))"
    )
    rounds = f"""aggregate(
      sequence(1, {k}),
      CAST(array() AS ARRAY<STRUCT<key: DOUBLE, ncid: BIGINT, mmr: DOUBLE,
                                   cid: BIGINT, v: ARRAY<DOUBLE>>>),
      (acc, i) -> concat(acc, array_compact(array(array_max(transform(
        filter(c, x -> NOT exists(acc, s -> s.cid = x.cid)),
        x -> struct(IF(size(acc) = 0, x.rel, {mmr}) AS key,
                    -x.cid AS ncid, {mmr} AS mmr, x.cid AS cid, x.v AS v)))))))"""
    return (
        cand.select(F.posexplode(F.expr(rounds)).alias("i", "s"))
        .select(
            (F.col("i") + 1).cast("bigint").alias("pos"),
            F.col("s.cid").alias("cid"),
            F.col("s.mmr").alias("mmr"),
        )
        .orderBy("pos")
    )


def _s18_sql() -> str:
    """s18 oracle: the greedy rounds statically unrolled; selall{r}
    accumulates the chosen ids as the DataFrame plan's array aggregate
    accumulates its chosen structs."""
    mu = 1.0 - S18_LAM
    parts = [f"""WITH e AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
q AS (SELECT v AS qv FROM e WHERE vec_id = 0),
scored AS (
  SELECT e.vec_id AS cid, e.v,
         round(list_dot_product(e.v, q.qv)
               / (sqrt(list_dot_product(e.v, e.v))
                  * sqrt(list_dot_product(q.qv, q.qv))), 6) AS rel
  FROM e, q WHERE e.vec_id != 0
),
top AS MATERIALIZED (
  SELECT cid, v, rel FROM (
    SELECT cid, v, rel,
           row_number() OVER (ORDER BY rel DESC, cid) AS rk
    FROM scored) ranked
  WHERE rk <= {S18_N_CAND}
),
pairs AS MATERIALIZED (
  SELECT a.cid AS ac, b.cid AS bc,
         round(list_dot_product(a.v, b.v)
               / (sqrt(list_dot_product(a.v, a.v))
                  * sqrt(list_dot_product(b.v, b.v))), 6) AS sim
  FROM top a JOIN top b ON a.cid != b.cid
),
sel1 AS MATERIALIZED (
  SELECT cid, round(rel * {S18_LAM!r}, 6) AS mmr FROM (
    SELECT cid, rel, row_number() OVER (ORDER BY rel DESC, cid) AS rk
    FROM top) r1
  WHERE rk = 1
),
selall1 AS (SELECT cid FROM sel1)"""]
    for r in range(2, S18_K + 1):
        parts.append(f""",
pen{r} AS (
  SELECT p.ac AS cid, max(p.sim) AS pen
  FROM pairs p JOIN selall{r - 1} s ON s.cid = p.bc
  GROUP BY p.ac
),
sel{r} AS MATERIALIZED (
  SELECT cid, mmr FROM (
    SELECT t.cid,
           round(t.rel * {S18_LAM!r} - n.pen * {mu!r}, 6) AS mmr,
           row_number() OVER (
             ORDER BY round(t.rel * {S18_LAM!r} - n.pen * {mu!r}, 6) DESC,
                      t.cid) AS rk
    FROM top t JOIN pen{r} n ON n.cid = t.cid
    WHERE t.cid NOT IN (SELECT cid FROM selall{r - 1})) r{r}
  WHERE rk = 1
),
selall{r} AS (
  SELECT cid FROM selall{r - 1} UNION ALL SELECT cid FROM sel{r}
)""")
    sel = "\nUNION ALL\n".join(
        f"SELECT CAST({r} AS BIGINT) AS pos, cid, mmr FROM sel{r}"
        for r in range(1, S18_K + 1)
    )
    parts.append("\n" + sel + "\nORDER BY pos")
    return "".join(parts)


S18_SQL = _s18_sql()


S1_SQL = """
WITH e AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
q AS (SELECT vec_id AS qid, v AS qv FROM e WHERE vec_id < 5),
scored AS (
  SELECT q.qid, e.vec_id AS cid,
         list_dot_product(q.qv, e.v)
         / (sqrt(list_dot_product(q.qv, q.qv))
            * sqrt(list_dot_product(e.v, e.v))) AS cos
  FROM q JOIN e ON e.vec_id != q.qid
)
SELECT qid, cid, round(cos, 6) AS cosine, CAST(rk AS BIGINT) AS rk
FROM (SELECT *, row_number() OVER (PARTITION BY qid
                                   ORDER BY cos DESC, cid) AS rk
      FROM scored)
WHERE rk <= 10
"""


# --- S7: metadata-filtered ANN ------------------------------------------------

def s7_filtered_ann(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Filtered vector search — top-k cosine restricted to candidates
    matching a metadata predicate (here ``label = 3``), the
    vector-database feature every retrieval pipeline needs
    (per-class / per-tenant / per-license search). PRE-filtered, not
    post-filtered: the predicate pushes into the parquet scan (pinned
    in tests/test_plans.py), so only matching vectors are ever scored
    and the result is guaranteed k matching rows — post-filtering a
    global top-k can return fewer. At 100 TB with a selective filter
    this composes with the IVF path (filter inside each probed cell);
    the brute-force form here IS the oracle-checkable baseline of that
    contract."""
    e = t(spark, sf_dir, "embeddings")
    queries = e.filter(F.col("vec_id") < 5).select(
        F.col("vec_id").alias("qid"), F.col("embedding").alias("qvec")
    )
    cand = e.filter(F.col("label") == 3).select("vec_id", "embedding")
    return similarity.brute_force_topk(cand, queries)


S7_SQL = """
WITH e AS (SELECT vec_id, label, embedding::DOUBLE[] AS v FROM embeddings),
q AS (SELECT vec_id AS qid, v AS qv FROM e WHERE vec_id < 5),
scored AS (
  SELECT q.qid, e.vec_id AS cid,
         list_dot_product(q.qv, e.v)
         / (sqrt(list_dot_product(q.qv, q.qv))
            * sqrt(list_dot_product(e.v, e.v))) AS cos
  FROM q JOIN e ON e.vec_id != q.qid
  WHERE e.label = 3
)
SELECT qid, cid, round(cos, 6) AS cosine, CAST(rk AS BIGINT) AS rk
FROM (SELECT *, row_number() OVER (PARTITION BY qid
                                   ORDER BY cos DESC, cid) AS rk
      FROM scored)
WHERE rk <= 10
"""


# --- S2: IVF-bucketed ANN (the 100 TB path) ----------------------------------

def s2_ivf_ann(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = t(spark, sf_dir, "embeddings").select("vec_id", "embedding")
    centroids = e.filter(F.col("vec_id") < 8).select(
        F.col("vec_id").alias("centroid_id"), F.col("embedding").alias("cvec")
    )
    assigned = similarity.ivf_assign(e, centroids)
    q = assigned.filter(F.col("vec_id").between(100, 104)).select(
        F.col("vec_id").alias("qid"),
        F.col("embedding").alias("qvec"),
        F.col("bucket").alias("qbucket"),
    )
    cand = assigned.join(
        F.broadcast(q),
        (F.col("bucket") == F.col("qbucket")) & (F.col("vec_id") != F.col("qid")),
    ).withColumn(
        "cosine",
        similarity.cosine(
            similarity.as_double(F.col("qvec")),
            similarity.as_double(F.col("embedding")),
        ),
    )
    w = Window.partitionBy("qid").orderBy(F.desc("cosine"), F.asc("vec_id"))
    return (
        cand.withColumn("rk", F.row_number().over(w))
        .filter(F.col("rk") <= 5)
        .select(
            "qid",
            F.col("qbucket").cast("bigint").alias("bucket"),
            F.col("vec_id").alias("cid"),
            F.round("cosine", 6).alias("cosine"),
            F.col("rk").cast("bigint").alias("rk"),
        )
    )


S2_SQL = """
WITH e AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
c AS (SELECT vec_id AS centroid_id, v AS cv FROM e WHERE vec_id < 8),
scored AS (
  SELECT e.vec_id, e.v, c.centroid_id,
         list_dot_product(e.v, c.cv)
         / (sqrt(list_dot_product(e.v, e.v))
            * sqrt(list_dot_product(c.cv, c.cv))) AS csim
  FROM e, c
), assigned AS (
  SELECT vec_id, v, centroid_id AS bucket
  FROM (SELECT *, row_number() OVER (PARTITION BY vec_id
                                     ORDER BY csim DESC, centroid_id) AS ark
        FROM scored)
  WHERE ark = 1
), q AS (
  SELECT vec_id AS qid, v AS qv, bucket AS qbucket
  FROM assigned WHERE vec_id BETWEEN 100 AND 104
), cand AS (
  SELECT q.qid, q.qbucket, a.vec_id AS cid,
         list_dot_product(q.qv, a.v)
         / (sqrt(list_dot_product(q.qv, q.qv))
            * sqrt(list_dot_product(a.v, a.v))) AS cos
  FROM q JOIN assigned a ON a.bucket = q.qbucket AND a.vec_id != q.qid
)
SELECT qid, CAST(qbucket AS BIGINT) AS bucket, cid,
       round(cos, 6) AS cosine, CAST(rk AS BIGINT) AS rk
FROM (SELECT *, row_number() OVER (PARTITION BY qid
                                   ORDER BY cos DESC, cid) AS rk
      FROM cand)
WHERE rk <= 5
"""


# --- S8: filtered IVF ANN (s7's contract on s2's index) -----------------------

def s8_filtered_ivf_ann(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The scale path of s7: metadata filter composed INTO the IVF
    probe. Candidates must satisfy BOTH the cell equi-join and the
    label predicate, so the filter applies before any cosine is
    computed and the per-query work is |matching rows in the probed
    cell|, not |cell|. Catalyst folds the label filter into the
    bucket-join's streamed side below the join — at 100 TB the cell
    table would be partitioned by bucket and the predicate reaches its
    scan. Index build (assignment) is the same zero-shuffle
    projection as s2; queries keep their OWN
    assignment unfiltered (a query's label doesn't restrict its cell,
    only its candidates)."""
    e = t(spark, sf_dir, "embeddings").select("vec_id", "embedding", "label")
    centroids = e.filter(F.col("vec_id") < 8).select(
        F.col("vec_id").alias("centroid_id"), F.col("embedding").alias("cvec")
    )
    assigned = similarity.ivf_assign(e, centroids)
    q = assigned.filter(F.col("vec_id").between(100, 104)).select(
        F.col("vec_id").alias("qid"),
        F.col("embedding").alias("qvec"),
        F.col("bucket").alias("qbucket"),
    )
    cand = assigned.filter(F.col("label") == 3).join(
        F.broadcast(q),
        (F.col("bucket") == F.col("qbucket"))
        & (F.col("vec_id") != F.col("qid")),
    ).withColumn(
        "cosine",
        similarity.cosine(
            similarity.as_double(F.col("qvec")),
            similarity.as_double(F.col("embedding")),
        ),
    )
    w = Window.partitionBy("qid").orderBy(F.desc("cosine"), F.asc("vec_id"))
    return (
        cand.withColumn("rk", F.row_number().over(w))
        .filter(F.col("rk") <= 5)
        .select(
            "qid",
            F.col("qbucket").cast("bigint").alias("bucket"),
            F.col("vec_id").alias("cid"),
            F.round("cosine", 6).alias("cosine"),
            F.col("rk").cast("bigint").alias("rk"),
        )
    )


S8_SQL = """
WITH e AS (SELECT vec_id, label, embedding::DOUBLE[] AS v FROM embeddings),
c AS (SELECT vec_id AS centroid_id, v AS cv FROM e WHERE vec_id < 8),
scored AS (
  SELECT e.vec_id, e.label, e.v, c.centroid_id,
         list_dot_product(e.v, c.cv)
         / (sqrt(list_dot_product(e.v, e.v))
            * sqrt(list_dot_product(c.cv, c.cv))) AS csim
  FROM e, c
), assigned AS (
  SELECT vec_id, label, v, centroid_id AS bucket
  FROM (SELECT *, row_number() OVER (PARTITION BY vec_id
                                     ORDER BY csim DESC, centroid_id) AS ark
        FROM scored)
  WHERE ark = 1
), q AS (
  SELECT vec_id AS qid, v AS qv, bucket AS qbucket
  FROM assigned WHERE vec_id BETWEEN 100 AND 104
), cand AS (
  SELECT q.qid, q.qbucket, a.vec_id AS cid,
         list_dot_product(q.qv, a.v)
         / (sqrt(list_dot_product(q.qv, q.qv))
            * sqrt(list_dot_product(a.v, a.v))) AS cos
  FROM q JOIN assigned a
    ON a.bucket = q.qbucket AND a.vec_id != q.qid AND a.label = 3
)
SELECT qid, CAST(qbucket AS BIGINT) AS bucket, cid,
       round(cos, 6) AS cosine, CAST(rk AS BIGINT) AS rk
FROM (SELECT *, row_number() OVER (PARTITION BY qid
                                   ORDER BY cos DESC, cid) AS rk
      FROM cand)
WHERE rk <= 5
"""


# --- S9: IVF recall@5 vs exact baseline ---------------------------------------

def s9_ivf_recall(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ANN quality evaluation — the number every IVF deployment tunes
    nprobe/k against: per query, how many of the exact top-5 the
    single-cell IVF probe recovers (recall@5). Composes the two
    existing plans (s1's broadcast brute-force for ground truth, s2's
    cell probe for the index answer) and reduces the match via a
    left-semi join on (qid, cid) — the ground-truth side is k rows per
    query, so the semi build broadcasts. Exactly the harness you run
    as a scheduled job over a sample of production queries to detect
    index drift; at 100 TB only the ground-truth scan is expensive and
    it samples queries, not the corpus.

    Single corpus pass: the exact baseline and the IVF answer need the same |corpus|x|queries| cosines — the IVF
    candidates are exactly the pairs whose cell matches the query's —
    so ONE scan computes (bucket, cosine) per (vector, query) pair and
    both top-5 rankings read the cached pair frame (5 narrow columns x
    5|corpus| rows, KB-scale). Running s1's brute-force scan AND s2's
    assign+probe scan would be two corpus passes, with the probe's
    cosines computed a second time. Bit-identity: cosine(v, q) ==
    cosine(q, v) exactly (zip_with's per-element multiplies and the
    norm product commute under IEEE-754; the fold order is unchanged),
    and both rankings keep the (cosine DESC, cid ASC) tie-break, so
    the (qid, cid) sets are row-identical to the two-plan form."""
    e = t(spark, sf_dir, "embeddings").select("vec_id", "embedding")
    centroids = e.filter(F.col("vec_id") < 8).select(
        F.col("vec_id").alias("centroid_id"), F.col("embedding").alias("cvec")
    )
    assigned = similarity.ivf_assign(e, centroids)
    q = assigned.filter(F.col("vec_id").between(100, 104)).select(
        F.col("vec_id").alias("qid"),
        F.col("embedding").alias("qvec"),
        F.col("bucket").alias("qbucket"),
    )
    from ..operators.cache import replace_owned_cache

    scored = replace_owned_cache(
        "s9_scored_pairs",
        assigned.join(F.broadcast(q), F.col("vec_id") != F.col("qid"))
        .withColumn(
            "cosine",
            similarity.cosine(
                similarity.as_double_sql("embedding"),
                similarity.as_double_sql("qvec"),
            ),
        )
        .select(
            "qid", "qbucket", F.col("vec_id").alias("cid"),
            "bucket", "cosine",
        ),
    )
    w = Window.partitionBy("qid").orderBy(F.desc("cosine"), F.asc("cid"))
    exact = (
        scored.withColumn("rk", F.row_number().over(w))
        .filter(F.col("rk") <= 5)
        .select("qid", "cid")
    )
    ivf = (
        scored.filter(F.col("bucket") == F.col("qbucket"))
        .withColumn("rk", F.row_number().over(w))
        .filter(F.col("rk") <= 5)
        .select("qid", "cid")
    )
    matched = exact.join(ivf, ["qid", "cid"], "left_semi")
    return (
        exact.groupBy("qid")
        .agg(F.count(F.lit(1)).alias("n_exact"))
        .join(
            matched.groupBy("qid").agg(
                F.count(F.lit(1)).alias("n_matched")
            ),
            "qid",
            "left",
        )
        .select(
            "qid",
            "n_exact",
            F.coalesce("n_matched", F.lit(0)).alias("n_matched"),
            F.round(
                F.coalesce("n_matched", F.lit(0)) / F.col("n_exact"), 6
            ).alias("recall_at_5"),
        )
        .orderBy("qid")
    )


S9_SQL = """
WITH e AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
q AS (SELECT vec_id AS qid, v AS qv FROM e
      WHERE vec_id BETWEEN 100 AND 104),
exact_scored AS (
  SELECT q.qid, e.vec_id AS cid,
         list_dot_product(q.qv, e.v)
         / (sqrt(list_dot_product(q.qv, q.qv))
            * sqrt(list_dot_product(e.v, e.v))) AS cos
  FROM q JOIN e ON e.vec_id != q.qid
),
exact AS (
  SELECT qid, cid
  FROM (SELECT *, row_number() OVER (PARTITION BY qid
                                     ORDER BY cos DESC, cid) AS rk
        FROM exact_scored)
  WHERE rk <= 5
),
c AS (SELECT vec_id AS centroid_id, v AS cv FROM e WHERE vec_id < 8),
cell_scored AS (
  SELECT e.vec_id, e.v, c.centroid_id,
         list_dot_product(e.v, c.cv)
         / (sqrt(list_dot_product(e.v, e.v))
            * sqrt(list_dot_product(c.cv, c.cv))) AS csim
  FROM e, c
),
assigned AS (
  SELECT vec_id, v, centroid_id AS bucket
  FROM (SELECT *, row_number() OVER (PARTITION BY vec_id
                                     ORDER BY csim DESC, centroid_id) AS ark
        FROM cell_scored)
  WHERE ark = 1
),
iq AS (
  SELECT vec_id AS qid, v AS qv, bucket AS qbucket
  FROM assigned WHERE vec_id BETWEEN 100 AND 104
),
ivf AS (
  SELECT qid, cid
  FROM (SELECT iq.qid, a.vec_id AS cid,
               row_number() OVER (
                 PARTITION BY iq.qid
                 ORDER BY
                   list_dot_product(iq.qv, a.v)
                   / (sqrt(list_dot_product(iq.qv, iq.qv))
                      * sqrt(list_dot_product(a.v, a.v)))
                   DESC, a.vec_id) AS rk
        FROM iq JOIN assigned a
          ON a.bucket = iq.qbucket AND a.vec_id != iq.qid)
  WHERE rk <= 5
)
SELECT exact.qid,
       count(*) AS n_exact,
       CAST(sum(CASE WHEN ivf.cid IS NOT NULL THEN 1 ELSE 0 END)
            AS BIGINT) AS n_matched,
       round(sum(CASE WHEN ivf.cid IS NOT NULL THEN 1 ELSE 0 END) * 1.0
             / count(*), 6) AS recall_at_5
FROM exact LEFT JOIN ivf
  ON exact.qid = ivf.qid AND exact.cid = ivf.cid
GROUP BY exact.qid
ORDER BY exact.qid
"""


# --- S3: IVF with multi-cell probe (nprobe=2) ---------------------------------

def s3_ivf_nprobe(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF ANN with nprobe=2: each query searches its two nearest
    cells, recovering neighbors that quantize across a cell boundary
    (the standard IVF recall lever; see operators/similarity.py::
    ivf_probe). Same centroid/query setup as s2_ivf_ann."""
    e = t(spark, sf_dir, "embeddings").select("vec_id", "embedding")
    centroids = e.filter(F.col("vec_id") < 8).select(
        F.col("vec_id").alias("centroid_id"), F.col("embedding").alias("cvec")
    )
    assigned = similarity.ivf_assign(e, centroids)
    q = e.filter(F.col("vec_id").between(100, 104)).select(
        F.col("vec_id").alias("qid"), F.col("embedding").alias("qvec")
    )
    return similarity.ivf_probe(assigned, q, centroids)


S3_SQL = """
WITH e AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
c AS (SELECT vec_id AS centroid_id, v AS cv FROM e WHERE vec_id < 8),
scored AS (
  SELECT e.vec_id, e.v, c.centroid_id,
         list_dot_product(e.v, c.cv)
         / (sqrt(list_dot_product(e.v, e.v))
            * sqrt(list_dot_product(c.cv, c.cv))) AS csim
  FROM e, c
), assigned AS (
  SELECT vec_id, v, centroid_id AS bucket
  FROM (SELECT *, row_number() OVER (PARTITION BY vec_id
                                     ORDER BY csim DESC, centroid_id) AS ark
        FROM scored)
  WHERE ark = 1
), probes AS (
  SELECT vec_id AS qid, v AS qv, centroid_id AS probe_bucket
  FROM (SELECT *, row_number() OVER (PARTITION BY vec_id
                                     ORDER BY csim DESC, centroid_id) AS qrk
        FROM scored)
  WHERE vec_id BETWEEN 100 AND 104 AND qrk <= 2
), cand AS (
  SELECT p.qid, a.bucket, a.vec_id AS cid,
         list_dot_product(p.qv, a.v)
         / (sqrt(list_dot_product(p.qv, p.qv))
            * sqrt(list_dot_product(a.v, a.v))) AS cos
  FROM probes p JOIN assigned a
    ON a.bucket = p.probe_bucket AND a.vec_id != p.qid
)
SELECT qid, cid, CAST(bucket AS BIGINT) AS bucket,
       round(cos, 6) AS cosine, CAST(rk AS BIGINT) AS rk
FROM (SELECT *, row_number() OVER (PARTITION BY qid
                                   ORDER BY cos DESC, cid) AS rk
      FROM cand)
WHERE rk <= 5
"""


# --- T1: token counting -------------------------------------------------------

def t1_token_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    counted = textstats.bpe_token_count(
        textstats.token_count(_docs(spark, sf_dir))
    )
    return counted.select(
        "doc_id",
        "n_tokens",
        "n_bpe_tokens",
        F.length("text").cast("bigint").alias("n_chars_txt"),
    )


_BPE_RE_SQL = textstats.BPE_SPLIT_RE.replace("'", "''")

T1_SQL = rf"""
WITH {_TOKS}
SELECT d.doc_id, CAST(array_length(t.tokens) AS BIGINT) AS n_tokens,
       CAST(array_length(filter(
              regexp_extract_all(d.text,
                '{_BPE_RE_SQL}', 0),
              p -> regexp_replace(p, '\s+', '') != '')) AS BIGINT) AS n_bpe_tokens,
       CAST(length(d.text) AS BIGINT) AS n_chars_txt
FROM documents d JOIN toks t ON d.doc_id = t.doc_id
"""


# --- T2: quality scoring ------------------------------------------------------

def t2_quality_scores(spark: SparkSession, sf_dir: str) -> DataFrame:
    scored = textstats.quality_scores(_docs(spark, sf_dir))
    return scored.select(
        "doc_id",
        "n_tokens",
        F.round("avg_token_len", 6).alias("avg_token_len"),
        F.round("punct_ratio", 6).alias("punct_ratio"),
        F.round("stopword_ratio", 6).alias("stopword_ratio"),
    )


T2_SQL = rf"""
WITH {_TOKS}, q AS (
  SELECT d.doc_id,
         CAST(array_length(t.tokens) AS BIGINT) AS n_tokens,
         length(d.text) AS text_len,
         length(regexp_replace(d.text, '[.,!?;:]', '', 'g')) AS nopunct_len,
         array_length(filter(t.tokens,
             x -> x IN ('the','a','of','and','to','in','is')))
           AS stop_hits
  FROM documents d JOIN toks t ON d.doc_id = t.doc_id
)
SELECT doc_id, n_tokens,
       round(CASE WHEN n_tokens > 0
                  THEN (text_len - (n_tokens - 1)) / n_tokens
                  ELSE 0.0 END, 6) AS avg_token_len,
       round((text_len - nopunct_len) / greatest(text_len, 1), 6)
         AS punct_ratio,
       round(CASE WHEN n_tokens > 0 THEN stop_hits / n_tokens
                  ELSE 0.0 END, 6) AS stopword_ratio
FROM q
"""


# --- T3: language identification ---------------------------------------------

def t3_language_id(spark: SparkSession, sf_dir: str) -> DataFrame:
    scored = textstats.language_scores(_docs(spark, sf_dir))
    return scored.select(
        "doc_id",
        "lang",
        "hits_de",
        "hits_en",
        "hits_es",
        "hits_fr",
        "pred_lang",
        (F.col("pred_lang") == F.col("lang")).cast("int").alias("is_correct"),
    )


_T3_HITS = ", ".join(
    "array_length(filter(tokens, x -> x IN ({words}))) AS hits_{lang}".format(
        words=",".join(f"'{w}'" for w in textstats.STOPWORDS[lang]),
        lang=lang,
    )
    for lang in sorted(textstats.STOPWORDS)
)
T3_SQL = rf"""
WITH {_TOKS}, h AS (
  SELECT d.doc_id, d.lang, {_T3_HITS}
  FROM documents d JOIN toks t ON d.doc_id = t.doc_id
), m AS (
  SELECT *, greatest(hits_de, hits_en, hits_es, hits_fr) AS mx FROM h
)
SELECT doc_id, lang,
       CAST(hits_de AS BIGINT) AS hits_de,
       CAST(hits_en AS BIGINT) AS hits_en,
       CAST(hits_es AS BIGINT) AS hits_es,
       CAST(hits_fr AS BIGINT) AS hits_fr,
       CASE WHEN mx = 0 THEN 'und'
            WHEN hits_de = mx THEN 'de'
            WHEN hits_en = mx THEN 'en'
            WHEN hits_es = mx THEN 'es'
            ELSE 'fr' END AS pred_lang,
       CAST((CASE WHEN mx = 0 THEN 'und'
                  WHEN hits_de = mx THEN 'de'
                  WHEN hits_en = mx THEN 'en'
                  WHEN hits_es = mx THEN 'es'
                  ELSE 'fr' END) = lang AS INT) AS is_correct
FROM m
"""


# --- C1: corpus curation (the composed training-data pipeline) -----------------

def c1_corpus_curation(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The LLM-data endgame composed from the families above: per doc,
    language-ID (t3) + quality scores (t2) + exact-dup keeper selection
    (d1's min-id policy as a WINDOW over md5(text) — no join back), and
    a deterministic verdict cascade:

      dup   — not the min doc_id of its content-hash group
      lang  — no stopword hits in any known language ('und')
      short — fewer than 5 tokens
      lowq  — stopword ratio < 0.02 (boilerplate/non-prose)
      keep  — survives every filter

    Language and quality are scored on one frame and the keeper window
    sits in the verdict's projection, so the plan has one window
    shuffle on the 16-byte content hash and no join; every filter is
    JVM-side. This is the query a user runs FIRST at 100 TB — it
    prunes the corpus the expensive operators (minhash, embeddings)
    then run on."""
    scored = textstats.quality_scores(textstats.language_scores(_docs(spark, sf_dir)))
    return scored.selectExpr(
        "doc_id",
        "pred_lang",
        "n_tokens",
        "CASE WHEN doc_id != min(doc_id) OVER (PARTITION BY md5(text)) THEN 'dup'"
        " WHEN pred_lang = 'und' THEN 'lang'"
        " WHEN n_tokens < 5 THEN 'short'"
        " WHEN stopword_ratio < 0.02D THEN 'lowq'"
        " ELSE 'keep' END AS verdict",
    )


C1_SQL = rf"""
WITH {_TOKS}, h AS (
  SELECT d.doc_id, {_T3_HITS}
  FROM documents d JOIN toks t ON d.doc_id = t.doc_id
), lang AS (
  SELECT doc_id,
         CASE WHEN greatest(hits_de, hits_en, hits_es, hits_fr) = 0 THEN 'und'
              WHEN hits_de = greatest(hits_de, hits_en, hits_es, hits_fr) THEN 'de'
              WHEN hits_en = greatest(hits_de, hits_en, hits_es, hits_fr) THEN 'en'
              WHEN hits_es = greatest(hits_de, hits_en, hits_es, hits_fr) THEN 'es'
              ELSE 'fr' END AS pred_lang
  FROM h
), q AS (
  SELECT d.doc_id,
         CAST(array_length(t.tokens) AS BIGINT) AS n_tokens,
         CASE WHEN array_length(t.tokens) > 0
              THEN array_length(filter(t.tokens,
                   x -> x IN ('the','a','of','and','to','in','is')))
                   / array_length(t.tokens)
              ELSE 0.0 END AS stopword_ratio
  FROM documents d JOIN toks t ON d.doc_id = t.doc_id
), k AS (
  SELECT doc_id, min(doc_id) OVER (PARTITION BY md5(text)) AS keeper_id
  FROM documents
)
SELECT k.doc_id, lang.pred_lang, q.n_tokens,
       CASE WHEN k.doc_id != k.keeper_id THEN 'dup'
            WHEN lang.pred_lang = 'und' THEN 'lang'
            WHEN q.n_tokens < 5 THEN 'short'
            WHEN q.stopword_ratio < 0.02 THEN 'lowq'
            ELSE 'keep' END AS verdict
FROM k JOIN lang ON lang.doc_id = k.doc_id
JOIN q ON q.doc_id = k.doc_id
"""


# --- C2: full curation funnel (text cascade + semantic dedup) -----------------

def c2_curation_with_semdedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The complete training-data funnel: c1's text cascade (exact-dup
    keeper → language → length → quality) extended with the semantic
    stage — a doc that survives every text filter is still dropped as
    ``semdup`` when its embedding (vec_id = doc_id) has a lower-id near
    neighbor in its IVF cell (d9's keeper policy). This is the
    production ordering: cheap JVM-side text filters prune first, the
    embedding stage only decides for survivors. One extra |docs|-row
    equi-join on doc_id against the d9 verdict frame."""
    base = c1_corpus_curation(spark, sf_dir)
    sem = d9_semdedup(spark, sf_dir).select(
        F.col("vec_id").alias("doc_id"), "kept"
    )
    verdict = (
        F.when(F.col("verdict") != "keep", F.col("verdict"))
        .when(F.col("kept") == 0, "semdup")
        .otherwise("keep")
    )
    return base.join(sem, "doc_id").select(
        "doc_id", "pred_lang", "n_tokens", verdict.alias("verdict")
    )


# DuckDB allows a WITH clause inside a derived table, so the two parent
# oracles compose verbatim.
C2_SQL = f"""
SELECT c1.doc_id, c1.pred_lang, c1.n_tokens,
       CASE WHEN c1.verdict != 'keep' THEN c1.verdict
            WHEN d9.kept = 0 THEN 'semdup'
            ELSE 'keep' END AS verdict
FROM ({C1_SQL}) c1 JOIN ({D9_SQL}) d9 ON d9.vec_id = c1.doc_id
"""


# --- T4: rolling-hash document fingerprint -------------------------------------

def t4_rolling_fingerprint(spark: SparkSession, sf_dir: str) -> DataFrame:
    toked = dedup.tokenize(_docs(spark, sf_dir).select("doc_id", "text"))
    tokvals = F.transform(
        F.col("tokens"), lambda x: (F.ascii(x) * 31 + F.length(x)).cast("long")
    )
    rhash = F.aggregate(
        tokvals,
        F.lit(0).cast("long"),
        lambda acc, x: (acc * 31 + x) % 1000003,
    )
    return toked.select("doc_id", rhash.alias("rhash"))


T4_SQL = rf"""
WITH {_TOKS}
SELECT doc_id,
       list_reduce(
         list_prepend(CAST(0 AS BIGINT),
           list_transform(tokens,
                          x -> CAST(ascii(x) * 31 + length(x) AS BIGINT))),
         (acc, x) -> (acc * 31 + x) % 1000003) AS rhash
FROM toks
"""


# --- T5: winnowing fingerprints (MOSS) ---------------------------------------

def t5_winnowing(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Winnowing fingerprint set per document (operators/textstats.py::
    winnowing_fingerprints): min md5 over each sliding window of 4
    consecutive in-order 3-gram hashes. Upgrades t4's whole-document
    hash to partial-overlap detection; the CPU-heavy gram explode is
    spread across cores first."""
    toked = dedup.tokenize(_spread_docs(spark, sf_dir))
    return textstats.winnowing_fingerprints(toked)


T5_SQL = rf"""
WITH {_TOKS}, pos AS (
  SELECT doc_id, list_extract(tokens, p) AS tok, p
  FROM (SELECT doc_id, tokens, unnest(generate_series(1, n_tok)) AS p
        FROM toks WHERE n_tok >= 1) u
), grams AS (
  SELECT doc_id, p,
         tok || ' ' || lead(tok, 1) OVER w || ' ' || lead(tok, 2) OVER w
           AS shingle
  FROM pos WINDOW w AS (PARTITION BY doc_id ORDER BY p)
), g2 AS (
  SELECT doc_id, p, substr(md5(shingle), 1, 8) AS h
  FROM grams WHERE shingle IS NOT NULL
), win AS (
  SELECT doc_id,
         min(h) OVER (PARTITION BY doc_id ORDER BY p
                      ROWS BETWEEN 3 PRECEDING AND CURRENT ROW) AS wmin,
         row_number() OVER (PARTITION BY doc_id ORDER BY p) AS rn,
         count(*) OVER (PARTITION BY doc_id) AS ng
  FROM g2
)
SELECT DISTINCT doc_id, wmin AS fingerprint
FROM win WHERE rn >= 4 OR rn = ng
"""


# --- D12: containment detection via fingerprint overlap ----------------------

_D12_MAX_DF = 100   # drop boilerplate fingerprints shared by > max_df docs
_D12_MIN_CONTAIN = 0.5


def d12_containment(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Directional containment detection (the 'doc A is mostly inside
    doc B' case Jaccard under-scores when |B| >> |A|): containment =
    |FP(A) ∩ FP(B)| / |FP(A)| over winnowing fingerprints (t5), emit
    (doc_a contained-in doc_b) pairs at >= 0.5. The quote/boilerplate
    -expansion detector of dedup pipelines — symmetric near-dup (d4/d5)
    misses these.

    Scale shape: an inverted-index self-join on ``fingerprint`` — the
    d4 band-join contract. Stop-fingerprint pruning first (document
    frequency > max_df dropped) bounds every postings list, so the
    pair blow-up is sum(df²) with df <= max_df, AQE-skew-splittable;
    then one pair-count agg and a broadcast of the |docs|-row
    fingerprint-size table.

    The fingerprint table (fp) and its pruned postings (fpk) are
    owned-cache persisted: fp feeds 2 consumers and fpk feeds 3 (both
    self-join sides + the size table), so the un-cached plan re-ran
    the tokenize→md5→window winnowing chain up to 5x — a 100x
    probe's 89.9 s wall was exactly that recomputation (the decomposed
    chain runs ~40 s; pair volume itself is linear, 6.7M→67M for
    10x→100x). At 100 TB the fingerprint table is the artifact you
    materialize once, never re-derive per consumer."""
    from ..operators.cache import replace_owned_cache

    toked = dedup.tokenize(_spread_docs(spark, sf_dir))
    fp = replace_owned_cache(
        "d12_fingerprints",
        textstats.winnowing_fingerprints(toked),
    )
    df_counts = fp.groupBy("fingerprint").agg(F.count(F.lit(1)).alias("nd"))
    fpk = replace_owned_cache(
        "d12_postings",
        fp.join(df_counts, "fingerprint")
        .filter(F.col("nd") <= _D12_MAX_DF)
        .select("doc_id", "fingerprint"),
    )
    sizes = fpk.groupBy("doc_id").agg(F.count(F.lit(1)).alias("fpn"))
    a = fpk.select(F.col("doc_id").alias("doc_a"), "fingerprint")
    b = fpk.select(F.col("doc_id").alias("doc_b"), "fingerprint")
    shared = (
        a.join(b, "fingerprint")
        .filter(F.col("doc_a") != F.col("doc_b"))
        .groupBy("doc_a", "doc_b")
        .agg(F.count(F.lit(1)).alias("shared"))
    )
    contain = F.col("shared") / F.col("fpn")
    return (
        shared.join(
            F.broadcast(sizes.select(F.col("doc_id").alias("doc_a"),
                                     "fpn")),
            "doc_a",
        )
        .filter(contain >= _D12_MIN_CONTAIN)
        .select(
            "doc_a",
            "doc_b",
            F.col("shared").cast("bigint").alias("shared"),
            F.col("fpn").cast("bigint").alias("fp_a"),
            F.round(contain, 6).alias("containment"),
        )
    )


D12_SQL = rf"""
WITH {_TOKS}, pos AS (
  SELECT doc_id, list_extract(tokens, p) AS tok, p
  FROM (SELECT doc_id, tokens, unnest(generate_series(1, n_tok)) AS p
        FROM toks WHERE n_tok >= 1) u
), grams AS (
  SELECT doc_id, p,
         tok || ' ' || lead(tok, 1) OVER w || ' ' || lead(tok, 2) OVER w
           AS shingle
  FROM pos WINDOW w AS (PARTITION BY doc_id ORDER BY p)
), g2 AS (
  SELECT doc_id, p, substr(md5(shingle), 1, 8) AS h
  FROM grams WHERE shingle IS NOT NULL
), win AS (
  SELECT doc_id,
         min(h) OVER (PARTITION BY doc_id ORDER BY p
                      ROWS BETWEEN 3 PRECEDING AND CURRENT ROW) AS wmin,
         row_number() OVER (PARTITION BY doc_id ORDER BY p) AS rn,
         count(*) OVER (PARTITION BY doc_id) AS ng
  FROM g2
), fp AS (
  SELECT DISTINCT doc_id, wmin AS fingerprint
  FROM win WHERE rn >= 4 OR rn = ng
), dfreq AS (
  SELECT fingerprint, count(*) AS nd FROM fp GROUP BY 1
), fpk AS (
  SELECT fp.doc_id, fp.fingerprint
  FROM fp JOIN dfreq USING (fingerprint)
  WHERE dfreq.nd <= {_D12_MAX_DF}
), sizes AS (
  SELECT doc_id, count(*) AS fpn FROM fpk GROUP BY 1
), shared AS (
  SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, count(*) AS shared
  FROM fpk a JOIN fpk b
    ON a.fingerprint = b.fingerprint AND a.doc_id != b.doc_id
  GROUP BY 1, 2
)
SELECT s.doc_a, s.doc_b, CAST(s.shared AS BIGINT) AS shared,
       CAST(z.fpn AS BIGINT) AS fp_a,
       round(s.shared * 1.0 / z.fpn, 6) AS containment
FROM shared s JOIN sizes z ON z.doc_id = s.doc_a
WHERE s.shared * 1.0 / z.fpn >= {_D12_MIN_CONTAIN}
"""


# --- A16: per-label embedding centroids --------------------------------------

def a16_label_centroids(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Element-wise mean embedding per label — the centroid-update step
    of k-means/IVF training and the class-prototype computation of
    few-shot pipelines, emitted long-form (label, dim, value).

    Scale shape: the posexplode creates |vecs| x dim rows, but
    hash-aggregation runs map-side FIRST (partial avg per partition),
    so the shuffle carries only |labels| x dim partial sums per task —
    the explode never hits the wire. dim is 1-based to match the
    oracle's generate_subscripts."""
    e = t(spark, sf_dir, "embeddings")
    ex = e.select(
        "label",
        F.posexplode(similarity.as_double(F.col("embedding"))).alias("pos", "v"),
    )
    return (
        ex.groupBy("label", "pos")
        .agg(
            F.round(F.avg("v"), 6).alias("c"),
            F.count(F.lit(1)).cast("bigint").alias("n_vecs"),
        )
        .select(
            F.col("label").cast("bigint").alias("label"),
            (F.col("pos") + 1).cast("bigint").alias("dim"),
            "c",
            "n_vecs",
        )
    )


A16_SQL = """
WITH en AS (
  SELECT label, embedding::DOUBLE[] AS emb,
         array_length(embedding) AS n_dim
  FROM embeddings
), ex AS (
  SELECT label, dim, list_element(emb, dim) AS v
  FROM (SELECT label, emb, unnest(generate_series(1, n_dim)) AS dim
        FROM en WHERE n_dim >= 1) u
)
SELECT CAST(label AS BIGINT) AS label, CAST(dim AS BIGINT) AS dim,
       round(avg(v), 6) AS c, CAST(count(*) AS BIGINT) AS n_vecs
FROM ex GROUP BY label, dim
"""


# --- T6: TF-IDF top terms -----------------------------------------------------

def t6_tfidf(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-document top-5 terms by tf-idf (tf x ln(N/df), the classic
    smoothing-free form). Shuffle shape at scale: one hash agg for
    (doc, term) tf, one |vocab|-row doc-frequency agg that BROADCASTS
    back to the term stream (vocab << corpus), N as a broadcast scalar,
    and a per-doc window for the top-k — no |docs|x|vocab| join
    materializes anywhere."""
    toked = dedup.tokenize(_spread_docs(spark, sf_dir))
    terms = toked.select(
        "doc_id", F.explode("tokens").alias("term")
    )
    tf = terms.groupBy("doc_id", "term").agg(
        F.count(F.lit(1)).alias("tf")
    )
    df_per_term = terms.groupBy("term").agg(
        F.countDistinct("doc_id").alias("df")
    )
    n_docs = toked.select(
        F.countDistinct("doc_id").alias("n_docs")
    )
    scored = (
        tf.join(F.broadcast(df_per_term), "term")
        .join(F.broadcast(n_docs))
        .withColumn(
            "tfidf",
            F.round(
                F.col("tf") * F.log(F.col("n_docs") / F.col("df")), 6
            ),
        )
    )
    w = Window.partitionBy("doc_id").orderBy(
        F.desc("tfidf"), F.asc("term")
    )
    return (
        scored.withColumn("rk", F.row_number().over(w))
        .filter(F.col("rk") <= 5)
        .select(
            "doc_id", "term", "tf", "df",
            "tfidf", F.col("rk").cast("bigint").alias("rk"),
        )
    )


T6_SQL = rf"""
WITH {_TOKS}, terms AS (
  SELECT doc_id, unnest(tokens) AS term FROM toks
), tf AS (
  SELECT doc_id, term, count(*) AS tf FROM terms GROUP BY 1, 2
), dfreq AS (
  SELECT term, count(DISTINCT doc_id) AS df FROM terms GROUP BY 1
), n AS (
  SELECT count(DISTINCT doc_id) AS n_docs FROM toks
)
SELECT doc_id, term, tf, df, tfidf, rk FROM (
  SELECT tf.doc_id, tf.term, tf.tf, dfreq.df,
         round(tf.tf * ln(n.n_docs * 1.0 / dfreq.df), 6) AS tfidf,
         row_number() OVER (
           PARTITION BY tf.doc_id
           ORDER BY round(tf.tf * ln(n.n_docs * 1.0 / dfreq.df), 6) DESC,
                    tf.term
         ) AS rk
  FROM tf JOIN dfreq USING (term) CROSS JOIN n
) WHERE rk <= 5
"""


# --- T18: BM25 retrieval scoring ---------------------------------------------

_T18_TERMS = ["merge", "stream", "window"]
_T18_K1, _T18_B = 1.2, 0.75


def t18_bm25(spark: SparkSession, sf_dir: str) -> DataFrame:
    """BM25 lexical retrieval over the corpus for a fixed 3-term query
    — the classic search-scoring twin of t6's tf-idf (Robertson k1=1.2,
    b=0.75; idf = ln(1 + (N - df + 0.5)/(df + 0.5)), the Lucene
    smooth-positive form). Shuffle shape at scale: the query-term
    filter lands BEFORE the (doc, term) aggregate, so only matching
    postings ever shuffle (3 terms' worth, not the corpus vocabulary);
    corpus stats (N, avgdl) are one broadcast scalar row; per-term df
    is a |query|-row broadcast. Reads the scan's natural splits — NOT
    _spread_docs (probe-measured): the CPU-spreading repartition
    is right for the md5-per-shingle minhash family, but BM25's per-doc
    work is one split+explode+filter, and the repartition was the
    query's ONLY corpus-sized exchange (191 MB at the 100x probe,
    exactly linear — vs the flat query-term-sized aggregate). Top-20
    under a rounded-score + doc_id total order."""
    toked = dedup.tokenize(_docs(spark, sf_dir).select("doc_id", "text"))
    docs = toked.select("doc_id", F.size("tokens").alias("dl"), "tokens")
    terms = docs.select(
        "doc_id", "dl", F.explode("tokens").alias("term")
    ).filter(F.col("term").isin(_T18_TERMS))
    tf = terms.groupBy("doc_id", "dl", "term").agg(
        F.count(F.lit(1)).alias("tf")
    )
    stats = docs.agg(
        F.count(F.lit(1)).alias("n_docs"), F.avg("dl").alias("avgdl")
    )
    dfreq = tf.groupBy("term").agg(F.count(F.lit(1)).alias("df"))
    k1, b = _T18_K1, _T18_B
    scored = (
        tf.join(F.broadcast(dfreq), "term")
        .join(F.broadcast(stats))
        .withColumn(
            "w",
            F.log(
                1.0
                + (F.col("n_docs") - F.col("df") + 0.5) / (F.col("df") + 0.5)
            )
            * (F.col("tf") * (k1 + 1.0))
            / (
                F.col("tf")
                + k1 * (1.0 - b + b * F.col("dl") / F.col("avgdl"))
            ),
        )
        .groupBy("doc_id")
        .agg(
            F.round(F.sum("w"), 6).alias("score"),
            F.count(F.lit(1)).alias("n_terms"),
        )
    )
    w = Window.orderBy(F.desc("score"), F.asc("doc_id"))
    return (
        scored.withColumn("pos", F.row_number().over(w).cast("bigint"))
        .filter(F.col("pos") <= 20)
        .select("pos", "doc_id", "score", "n_terms")
        .orderBy("pos")
    )


T18_SQL = rf"""
WITH {_TOKS}, q AS (
  SELECT 'merge' AS term UNION ALL SELECT 'stream' UNION ALL SELECT 'window'
), terms AS (
  SELECT doc_id, n_tok AS dl, unnest(tokens) AS term FROM toks
), tf AS (
  SELECT terms.doc_id, terms.dl, terms.term, count(*) AS tf
  FROM terms JOIN q ON q.term = terms.term
  GROUP BY terms.doc_id, terms.dl, terms.term
), stats AS (
  SELECT count(*) AS n_docs, avg(n_tok) AS avgdl FROM toks
), dfreq AS (
  SELECT term, count(*) AS df FROM tf GROUP BY term
), scored AS (
  SELECT tf.doc_id,
         round(sum(
           ln(1.0 + (stats.n_docs - dfreq.df + 0.5) / (dfreq.df + 0.5))
           * (tf.tf * {_T18_K1 + 1.0})
           / (tf.tf + {_T18_K1} * (1.0 - {_T18_B}
                                   + {_T18_B} * tf.dl / stats.avgdl))
         ), 6) AS score,
         count(*) AS n_terms
  FROM tf JOIN dfreq ON dfreq.term = tf.term CROSS JOIN stats
  GROUP BY tf.doc_id
)
SELECT pos, doc_id, score, n_terms FROM (
  SELECT CAST(row_number() OVER (ORDER BY score DESC, doc_id) AS BIGINT)
           AS pos,
         doc_id, score, n_terms
  FROM scored
) ranked
WHERE pos <= 20
ORDER BY pos
"""


# --- T7: repetition ratio (degenerate-text quality signal) --------------------

def t7_repetition(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Repetition detection: the share of a document's word bigrams
    taken by its single most frequent bigram — the standard degenerate-
    text signal (boilerplate, keyword stuffing, decode loops score near
    1.0; natural prose near 1/n_grams). Same two-hash-agg shuffle shape
    as t6; docs with fewer than 2 tokens have no bigrams and are
    excluded in both engines."""
    toked = dedup.tokenize(_spread_docs(spark, sf_dir))
    grams = toked.select(
        "doc_id",
        F.explode(
            F.when(
                F.size("tokens") >= 2,
                F.transform(
                    F.sequence(F.lit(0), F.size("tokens") - 2),
                    lambda i: F.concat_ws(
                        " ", F.slice(F.col("tokens"), i + 1, 2)
                    ),
                ),
            ).otherwise(F.array().cast("array<string>"))
        ).alias("gram"),
    )
    per_gram = grams.groupBy("doc_id", "gram").agg(
        F.count(F.lit(1)).alias("c")
    )
    return per_gram.groupBy("doc_id").agg(
        F.sum("c").alias("n_grams"),
        F.max("c").alias("max_gram_count"),
        F.round(F.max("c") / F.sum("c"), 6).alias("rep_ratio"),
    )


T7_SQL = rf"""
WITH {_TOKS}, pos AS (
  SELECT doc_id, list_extract(tokens, p) AS tok, p
  FROM (SELECT doc_id, tokens, unnest(generate_series(1, n_tok)) AS p
        FROM toks WHERE n_tok >= 1) u
), grams AS (
  SELECT doc_id, tok || ' ' || lead(tok, 1) OVER w AS gram
  FROM pos WINDOW w AS (PARTITION BY doc_id ORDER BY p)
), per_gram AS (
  SELECT doc_id, gram, count(*) AS c
  FROM grams WHERE gram IS NOT NULL GROUP BY 1, 2
)
SELECT doc_id,
       CAST(sum(c) AS BIGINT) AS n_grams,
       max(c) AS max_gram_count,
       round(max(c) * 1.0 / sum(c), 6) AS rep_ratio
FROM per_gram GROUP BY 1
"""


# --- T9: Zipf vocabulary profile ----------------------------------------------

def t9_zipf(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus vocabulary profile: top-20 terms by frequency with rank
    and corpus share — the Zipf curve head, the first diagnostic run
    on any new text corpus. One hash agg over the exploded token
    stream + a broadcast total; the global top-k rank runs on the
    |vocab|-sized aggregate, never the token stream."""
    toked = dedup.tokenize(_spread_docs(spark, sf_dir))
    terms = toked.select(F.explode("tokens").alias("term"))
    counts = terms.groupBy("term").agg(F.count(F.lit(1)).alias("n"))
    total = terms.select(F.count(F.lit(1)).alias("total"))
    w = Window.orderBy(F.desc("n"), F.asc("term"))
    return (
        counts.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= 20)
        .join(F.broadcast(total))
        .select(
            F.col("rank").cast("bigint").alias("rank"),
            "term",
            "n",
            F.round(F.col("n") / F.col("total"), 6).alias("share"),
        )
    )


T9_SQL = rf"""
WITH {_TOKS}, terms AS (
  SELECT unnest(tokens) AS term FROM toks
), counts AS (
  SELECT term, count(*) AS n FROM terms GROUP BY 1
), total AS (
  SELECT count(*) AS total FROM terms
)
SELECT CAST(rank AS BIGINT) AS rank, term, n,
       round(n * 1.0 / total, 6) AS share
FROM (
  SELECT term, n, row_number() OVER (ORDER BY n DESC, term) AS rank
  FROM counts
) CROSS JOIN total
WHERE rank <= 20
"""


# --- T11: PII scan + redaction -----------------------------------------------

# The synthetic corpus is PII-free, so the query plants deterministic
# PII spans derived from doc_id (mirrored verbatim in the oracle): the
# detector is then exercised on known-positive rows AND proven quiet on
# the rest. doc_id % 7 rows gain an email + US phone, % 11 rows an
# IPv4; 7 and 11 are coprime so some rows (77, 154, ...) carry both.
_T11_AUG_SPARK = (
    "concat(text,"
    " CASE WHEN doc_id % 7 = 0 THEN concat(' reach user', doc_id,"
    "   '@example.com or call 555-867-5309') ELSE '' END,"
    " CASE WHEN doc_id % 11 = 0 THEN ' origin host 192.168.1.42 logged'"
    " ELSE '' END)"
)


def t11_pii_scan(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PII inventory + redaction (operators/textstats.py::pii_scan):
    email / US-phone / IPv4 match counts and a typed-tag redacted text
    per document. One narrow JVM-regexp projection — scan-bound at
    100 TB, stream-safe, fuses with the downstream quality cascade.
    The redacted text itself is folded to ``red_hash`` (md5 prefix) +
    ``red_len`` so the oracle compares the full redaction output
    without shipping megabyte strings through the hash gate."""
    docs = _docs(spark, sf_dir).select(
        "doc_id", F.expr(_T11_AUG_SPARK).alias("text")
    )
    scanned = textstats.pii_scan(docs)
    return scanned.select(
        "doc_id",
        "n_emails",
        "n_phones",
        "n_ipv4",
        F.substring(F.md5("redacted"), 1, 8).alias("red_hash"),
        F.length("redacted").cast("bigint").alias("red_len"),
    )


T11_SQL = rf"""
WITH aug AS (
  SELECT doc_id,
         text
         || CASE WHEN doc_id % 7 = 0
                 THEN ' reach user' || doc_id ||
                      '@example.com or call 555-867-5309'
                 ELSE '' END
         || CASE WHEN doc_id % 11 = 0
                 THEN ' origin host 192.168.1.42 logged'
                 ELSE '' END AS text
  FROM documents
), red AS (
  -- progressive stages mirror pii_scan: each count is taken on the
  -- text with the EARLIER classes already scrubbed, so counts sum to
  -- the spans actually replaced (no double-count of user@1.2.3.4).
  SELECT doc_id, text,
         regexp_replace(text,
           '{textstats.PII_EMAIL_RE}', '<EMAIL>', 'g') AS after_email,
         regexp_replace(
           regexp_replace(text,
             '{textstats.PII_EMAIL_RE}', '<EMAIL>', 'g'),
           '{textstats.PII_PHONE_RE}', '<PHONE>', 'g') AS after_phone
  FROM aug
)
SELECT doc_id,
       CAST(array_length(regexp_extract_all(text, '{textstats.PII_EMAIL_RE}', 0)) AS BIGINT)
         AS n_emails,
       CAST(array_length(regexp_extract_all(after_email,
         '{textstats.PII_PHONE_RE}', 0)) AS BIGINT) AS n_phones,
       CAST(array_length(regexp_extract_all(after_phone,
         '{textstats.PII_IPV4_RE}', 0)) AS BIGINT) AS n_ipv4,
       substr(md5(regexp_replace(after_phone,
         '{textstats.PII_IPV4_RE}', '<IP>', 'g')), 1, 8) AS red_hash,
       CAST(length(regexp_replace(after_phone,
         '{textstats.PII_IPV4_RE}', '<IP>', 'g')) AS BIGINT) AS red_len
FROM red
"""


# --- C3: model-based quality filter ------------------------------------------

# fastText-style linear quality classifier: fixed published-style
# weights over the cheap t2 features. The *shape* is what matters at
# scale — model-based filtering as one whole-stage-codegen projection,
# no Python, no shuffle. Weights are literals on both engines; the
# linear term is written in the same left-to-right order so fp64
# results are bit-identical before the sigmoid.
_C3_W = {"bias": -3.0, "n_tokens": 0.05, "avg_token_len": 0.2,
         "punct_ratio": -6.0, "stopword_ratio": 10.0}


def c3_quality_classifier(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Classifier-based document filtering (the CCNet / fastText-filter
    stage of LLM data pipelines): sigmoid of a fixed linear model over
    length / token-shape / punctuation / stopword features, keep at
    p >= 0.5. Pure projection over the t2 feature pass — at 100 TB this
    runs fused with the scan, and swapping in trained weights is a
    literal change, not a plan change."""
    feats = textstats.quality_scores(_docs(spark, sf_dir))
    w = _C3_W
    z = (
        F.lit(w["bias"])
        + F.lit(w["n_tokens"]) * F.col("n_tokens").cast("double")
        + F.lit(w["avg_token_len"]) * F.col("avg_token_len")
        + F.lit(w["punct_ratio"]) * F.col("punct_ratio")
        + F.lit(w["stopword_ratio"]) * F.col("stopword_ratio")
    )
    score = F.lit(1.0) / (F.lit(1.0) + F.exp(-z))
    return feats.select(
        "doc_id",
        F.round(score, 6).alias("quality_p"),
        (score >= 0.5).cast("int").alias("kept"),
    )


C3_SQL = rf"""
WITH {_TOKS}, q AS (
  SELECT d.doc_id,
         CAST(array_length(t.tokens) AS BIGINT) AS n_tokens,
         length(d.text) AS text_len,
         length(regexp_replace(d.text, '[.,!?;:]', '', 'g')) AS nopunct_len,
         array_length(filter(t.tokens,
             x -> x IN ('the','a','of','and','to','in','is')))
           AS stop_hits
  FROM documents d JOIN toks t ON d.doc_id = t.doc_id
), f AS (
  SELECT doc_id,
         CASE WHEN n_tokens > 0
              THEN (text_len - (n_tokens - 1)) / n_tokens
              ELSE 0.0 END AS avg_token_len,
         (text_len - nopunct_len) / greatest(text_len, 1) AS punct_ratio,
         CASE WHEN n_tokens > 0 THEN stop_hits / n_tokens
              ELSE 0.0 END AS stopword_ratio,
         n_tokens
  FROM q
), z AS (
  SELECT doc_id,
         {_C3_W["bias"]} + {_C3_W["n_tokens"]} * CAST(n_tokens AS DOUBLE)
           + {_C3_W["avg_token_len"]} * avg_token_len
           + {_C3_W["punct_ratio"]} * punct_ratio
           + {_C3_W["stopword_ratio"]} * stopword_ratio AS z
  FROM f
)
SELECT doc_id,
       round(1.0 / (1.0 + exp(-z)), 6) AS quality_p,
       CAST(CASE WHEN 1.0 / (1.0 + exp(-z)) >= 0.5 THEN 1 ELSE 0 END AS INT)
         AS kept
FROM z
"""


# --- T12: corpus bigram-LM fluency score -------------------------------------

def t12_bigram_lm(spark: SparkSession, sf_dir: str) -> DataFrame:
    """KenLM-style fluency scoring with the corpus as its own training
    set: build word-unigram and word-bigram count tables, then score
    every document by its mean add-one-smoothed bigram log-probability
    ``avg(ln((c(w1 w2)+1) / (c(w1)+V)))``. Low scores flag
    disfluent/boilerplate text — the perplexity-filter stage of LLM
    data pipelines, minus the external LM.

    Spark shape: bigram construction is array-native (``zip_with`` over
    two ``slice``s — no per-token explode-and-window). The UNIGRAM
    table is a corpus-global aggregate PERSISTED once (Zipf-small —
    vocab-sized, not corpus-sized) because it has TWO consumers (the
    vocab row-count and the scoring join); without the persist each
    re-scanned the corpus and re-ran the explode (10 parquet scans in
    an uncached plan). It is cached at ONE coalesced partition: the
    table is broadcast in the scoring join, i.e. single-task-sized by
    construction, and the 32-partition cache cost more in per-consumer
    task fan-out than it bought (A/B: 2.19 -> 1.55 s min-of-4 with
    this + the bi-cache removal). The BIGRAM table is NOT cached:
    it has exactly one consumer, so the persist was pure
    overhead at every scale — one build either way. With the caches
    as-is the corpus is scanned 4x (uni build, bi build, scoring,
    final doc join) and nothing corpus-sized is ever cached. AQE
    broadcast-joins the count tables. Docs with <2 tokens score 0 with
    n_bigrams=0 (left join + coalesce)."""
    from ..operators.cache import replace_owned_cache

    toked = dedup.tokenize(_spread_docs(spark, sf_dir))
    n = F.size("tokens")
    bigrams = F.when(
        n >= 2,
        F.zip_with(
            F.slice("tokens", 1, n - 1),
            F.slice("tokens", 2, n - 1),
            lambda a, b: F.concat_ws(" ", a, b),
        ),
    ).otherwise(F.array().cast("array<string>"))
    occ = toked.select(
        "doc_id", F.explode(bigrams).alias("bigram")
    ).withColumn("w1", F.substring_index("bigram", " ", 1))
    uni = replace_owned_cache(
        "t12_uni",
        toked.select(F.explode("tokens").alias("tok"))
        .groupBy("tok")
        .agg(F.count(F.lit(1)).alias("c1"))
        .coalesce(1),
    )
    bi = occ.groupBy("bigram").agg(F.count(F.lit(1)).alias("c2"))
    vocab = uni.agg(F.count(F.lit(1)).alias("vocab"))
    lp = F.log((F.col("c2") + F.lit(1.0)) / (F.col("c1") + F.col("vocab")))
    scored = (
        occ.join(bi, "bigram")
        .join(uni, occ["w1"] == uni["tok"])
        .crossJoin(F.broadcast(vocab))
        .groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).alias("nb"),
            F.avg(lp).alias("score"),
        )
    )
    docs = _docs(spark, sf_dir).select("doc_id")
    return docs.join(scored, "doc_id", "left").select(
        "doc_id",
        F.coalesce("nb", F.lit(0)).cast("bigint").alias("n_bigrams"),
        F.round(F.coalesce("score", F.lit(0.0)), 6).alias("lm_score"),
    )


T12_SQL = rf"""
WITH {_TOKS}, pos AS (
  SELECT doc_id, list_extract(tokens, p) AS tok, p
  FROM (SELECT doc_id, tokens, unnest(generate_series(1, n_tok)) AS p
        FROM toks WHERE n_tok >= 1) u
), bg AS (
  SELECT doc_id, tok AS w1,
         tok || ' ' || lead(tok) OVER (PARTITION BY doc_id ORDER BY p)
           AS bigram
  FROM pos
), occ AS (
  SELECT doc_id, w1, bigram FROM bg WHERE bigram IS NOT NULL
), uni AS (
  SELECT tok, count(*) AS c1 FROM pos GROUP BY 1
), bi AS (
  SELECT bigram, count(*) AS c2 FROM occ GROUP BY 1
), v AS (
  SELECT count(*) AS vocab FROM uni
), sc AS (
  SELECT occ.doc_id,
         ln((bi.c2 + 1.0) / (uni.c1 + v.vocab)) AS lp
  FROM occ JOIN bi USING (bigram)
  JOIN uni ON uni.tok = occ.w1
  CROSS JOIN v
), agg AS (
  SELECT doc_id, count(*) AS nb, avg(lp) AS score FROM sc GROUP BY 1
)
SELECT d.doc_id,
       CAST(coalesce(agg.nb, 0) AS BIGINT) AS n_bigrams,
       round(coalesce(agg.score, 0.0), 6) AS lm_score
FROM documents d LEFT JOIN agg ON agg.doc_id = d.doc_id
"""


# --- T13: overlapping passage chunking ----------------------------------------

_T13_CHUNK = 64    # tokens per passage
_T13_STRIDE = 48   # start-to-start distance => 16-token overlap


def t13_passage_chunks(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sliding-window passage chunking (the RAG-indexing / long-doc
    training prep step): split each document into 64-token chunks every
    48 tokens (16-token overlap so no boundary-spanning context is
    lost), keyed (doc_id, chunk_id) with the chunk's token count and
    content hash.

    Array-native: chunk starts are a ``sequence`` over the token array,
    each chunk one ``slice`` — a single narrow projection + posexplode,
    no window shuffle, stream-safe. The last chunk may be short; docs
    shorter than one stride yield exactly one chunk; empty docs none."""
    toked = dedup.tokenize(_spread_docs(spark, sf_dir))
    n = F.size("tokens")
    starts = F.when(
        n > 0, F.transform(
            F.sequence(F.lit(0), F.floor((n - 1) / _T13_STRIDE)),
            lambda k: k * _T13_STRIDE,
        )
    ).otherwise(F.array().cast("array<bigint>"))
    chunks = F.transform(
        starts,
        lambda s: F.struct(
            F.concat_ws(
                " ", F.slice("tokens", (s + 1).cast("int"), _T13_CHUNK)
            ).alias("chunk_text"),
            F.least(F.lit(_T13_CHUNK), (n - s)).cast("bigint").alias("n_chunk"),
        ),
    )
    ex = toked.select("doc_id", F.posexplode(chunks).alias("chunk_id", "c"))
    return ex.select(
        "doc_id",
        F.col("chunk_id").cast("bigint").alias("chunk_id"),
        F.col("c.n_chunk").alias("n_chunk_tokens"),
        F.substring(F.md5(F.col("c.chunk_text")), 1, 8).alias("chunk_hash"),
    )


T13_SQL = rf"""
WITH {_TOKS}, starts AS (
  SELECT doc_id, tokens,
         unnest(generate_series(0,
           CAST(floor((n_tok - 1) / {_T13_STRIDE}) AS BIGINT))) AS k
  FROM toks WHERE n_tok > 0
), ch AS (
  SELECT doc_id, k AS chunk_id,
         k * {_T13_STRIDE} AS s,
         array_to_string(
           list_slice(tokens, k * {_T13_STRIDE} + 1,
                      k * {_T13_STRIDE} + {_T13_CHUNK}), ' ') AS chunk_text,
         least({_T13_CHUNK}, array_length(tokens) - k * {_T13_STRIDE}) AS n_chunk
  FROM starts
)
SELECT doc_id, CAST(chunk_id AS BIGINT) AS chunk_id,
       CAST(n_chunk AS BIGINT) AS n_chunk_tokens,
       substr(md5(chunk_text), 1, 8) AS chunk_hash
FROM ch
"""


# --- S5: product-quantization codes ------------------------------------------

def s5_pq_codes(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PQ encoding (operators/similarity.py::pq_encode): 64-dim
    vectors -> 8 subspace codes against a 16-entry codebook (the first
    16 vectors, the same deterministic-codebook convention s2 uses for
    centroids). Long-form (vec_id, sub, code, err); summing err per
    vec_id gives reconstruction MSE. Zero-shuffle narrow projection —
    the memory-compression half of IVF-PQ, composing with s2's cell
    assignment."""
    e = t(spark, sf_dir, "embeddings").select("vec_id", "embedding")
    cb = e.filter(F.col("vec_id") < 16).select(
        F.col("vec_id").alias("code_id"), F.col("embedding").alias("cvec")
    )
    return similarity.pq_encode(e, cb)


S5_SQL = """
WITH e AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
cb AS (SELECT vec_id AS code_id, v AS cv FROM e WHERE vec_id < 16),
dist AS (
  SELECT e.vec_id, s.sub, cb.code_id,
         list_sum(list_transform(generate_series(1, 8),
           i -> (e.v[(s.sub - 1) * 8 + i] - cb.cv[(s.sub - 1) * 8 + i])
              * (e.v[(s.sub - 1) * 8 + i] - cb.cv[(s.sub - 1) * 8 + i])))
           AS err
  FROM e
  CROSS JOIN (SELECT unnest(generate_series(1, 8)) AS sub) s
  CROSS JOIN cb
)
SELECT vec_id, CAST(sub AS BIGINT) AS sub,
       CAST(code_id AS BIGINT) AS code, round(err, 6) AS err
FROM (SELECT *, row_number() OVER (PARTITION BY vec_id, sub
                                   ORDER BY err, code_id) AS rk
      FROM dist)
WHERE rk = 1
"""


# --- S6: IVF-PQ ANN (asymmetric distance computation) ------------------------

def s6_ivfpq_ann(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The full production ANN stack: IVF cell assignment (s2's
    centroids) + PQ codes (s5's codebook) + ADC scoring — each query
    searches only its own cell, and candidate distances are computed
    from the candidates' 8 PQ codes against the codebook, never
    touching the original vectors (Jégou et al. 2011's asymmetric
    distance: exact query subvector vs quantized candidate). Top-5 by
    ADC per query, tie-break candidate id.

    Scale shape: assignment and encoding are one zero-shuffle
    projection; the probe is an equi-join on ``bucket`` against
    broadcast queries. On a real deployment the code table (8
    bytes/vector here vs 256 raw) IS the index — the raw embedding
    column is never read at query time, which at 100 TB of vectors is
    the difference between scanning 3 TB of codes and 100 TB of floats."""
    e = t(spark, sf_dir, "embeddings").select("vec_id", "embedding")
    centroids = e.filter(F.col("vec_id") < 8).select(
        F.col("vec_id").alias("centroid_id"), F.col("embedding").alias("cvec")
    )
    cb = e.filter(F.col("vec_id") < 16).select(
        F.col("vec_id").alias("code_id"), F.col("embedding").alias("cvec")
    )
    # (vec_id, bucket, codes) per vector IS the at-rest IVF-PQ index,
    # built as ONE zero-shuffle projection (assignment and encoding on
    # the same row). It has one reader, so it is not cached: uncached,
    # the index and the probe share one plan, and each quantizer
    # subquery runs once for both. The probe (similarity.ivfpq_probe)
    # is shared with the streaming-serving path (streaming/ann_ingest.py),
    # stream==batch pinned in tests/test_ann_ingest.py
    cand = similarity.pq_codes(
        similarity.ivf_assign(e, centroids), cb, m=8
    ).select("vec_id", "bucket", "codes")
    queries = e.filter(F.col("vec_id").between(100, 104)).select(
        F.col("vec_id").alias("qid"), F.col("embedding").alias("qvec")
    )
    return similarity.ivfpq_probe(cand, queries, centroids, cb)


S6_SQL = """
WITH e AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
c AS (SELECT vec_id AS centroid_id, v AS cv FROM e WHERE vec_id < 8),
cb AS (SELECT vec_id AS code_id, v AS cv FROM e WHERE vec_id < 16),
ascore AS (
  SELECT e.vec_id, e.v, c.centroid_id,
         list_dot_product(e.v, c.cv)
         / (sqrt(list_dot_product(e.v, e.v))
            * sqrt(list_dot_product(c.cv, c.cv))) AS csim
  FROM e, c
), assigned AS (
  SELECT vec_id, v, centroid_id AS bucket
  FROM (SELECT *, row_number() OVER (PARTITION BY vec_id
                                     ORDER BY csim DESC, centroid_id) AS ark
        FROM ascore)
  WHERE ark = 1
), dist AS (
  SELECT e.vec_id, s.sub, cb.code_id,
         list_sum(list_transform(generate_series(1, 8),
           i -> (e.v[(s.sub - 1) * 8 + i] - cb.cv[(s.sub - 1) * 8 + i])
              * (e.v[(s.sub - 1) * 8 + i] - cb.cv[(s.sub - 1) * 8 + i])))
           AS err
  FROM e
  CROSS JOIN (SELECT unnest(generate_series(1, 8)) AS sub) s
  CROSS JOIN cb
), codes AS (
  SELECT vec_id, sub, code_id
  FROM (SELECT *, row_number() OVER (PARTITION BY vec_id, sub
                                     ORDER BY err, code_id) AS rk
        FROM dist)
  WHERE rk = 1
), q AS (
  SELECT a.vec_id AS qid, a.v AS qv, a.bucket AS qbucket
  FROM assigned a WHERE a.vec_id BETWEEN 100 AND 104
), adc_parts AS (
  SELECT q.qid, a.vec_id AS cid,
         list_sum(list_transform(generate_series(1, 8),
           i -> (q.qv[(k.sub - 1) * 8 + i] - cb.cv[(k.sub - 1) * 8 + i])
              * (q.qv[(k.sub - 1) * 8 + i] - cb.cv[(k.sub - 1) * 8 + i])))
           AS part
  FROM q
  JOIN assigned a ON a.bucket = q.qbucket AND a.vec_id != q.qid
  JOIN codes k ON k.vec_id = a.vec_id
  JOIN cb ON cb.code_id = k.code_id
), adc AS (
  SELECT qid, cid, sum(part) AS adc FROM adc_parts GROUP BY 1, 2
)
SELECT qid, cid, round(adc, 6) AS adc, CAST(rk AS BIGINT) AS rk
FROM (SELECT *, row_number() OVER (PARTITION BY qid
                                   ORDER BY adc, cid) AS rk
      FROM adc)
WHERE rk <= 5
"""


# --- A17: deduplication report by source -------------------------------------

def a17_dedup_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The dedup accounting every pipeline run emits: per source,
    document count, exact-unique count (distinct content hash),
    duplication rate, and the bytes the keeper policy drops. One
    hash-partition agg on (source, content-hash) then a source rollup —
    both map-side-combinable, nothing corpus-sized crosses the wire
    twice."""
    docs = _docs(spark, sf_dir)
    per_hash = docs.groupBy("source", F.md5("text").alias("h")).agg(
        F.count(F.lit(1)).alias("n"),
        F.sum("n_chars").alias("chars"),
        F.min("n_chars").alias("keeper_chars"),
    )
    return per_hash.groupBy("source").agg(
        F.sum("n").cast("bigint").alias("n_docs"),
        F.count(F.lit(1)).cast("bigint").alias("n_unique"),
        F.round(F.lit(1.0) - F.count(F.lit(1)) / F.sum("n"), 6).alias(
            "dup_rate"
        ),
        (F.sum("chars") - F.sum("keeper_chars")).cast("bigint").alias(
            "chars_dropped"
        ),
    )


A17_SQL = """
WITH per_hash AS (
  SELECT source, md5(text) AS h, count(*) AS n,
         sum(n_chars) AS chars, min(n_chars) AS keeper_chars
  FROM documents GROUP BY 1, 2
)
SELECT source,
       CAST(sum(n) AS BIGINT) AS n_docs,
       CAST(count(*) AS BIGINT) AS n_unique,
       round(1.0 - count(*) * 1.0 / sum(n), 6) AS dup_rate,
       CAST(sum(chars) - sum(keeper_chars) AS BIGINT) AS chars_dropped
FROM per_hash GROUP BY 1
"""


# --- O10: quality-ranked selection under a token budget ----------------------

_O10_BUDGET = 3000  # BPE tokens per language


def o10_budget_selection(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Data selection under a token budget: rank documents by the c3
    quality score within each language (doc_id tie-break) and keep
    documents greedily until the language's BPE-token budget is spent —
    'train on the best N tokens per language', the final gate of a
    curation pipeline. A document is kept iff the tokens BEFORE it in
    quality order fit the budget (standard greedy-prefix rule, so one
    oversized early doc can't starve everything after it... it can —
    that's the documented greedy-prefix semantics, identical on both
    engines).

    One quality-feature projection + one running-sum window per
    language — the same per-stratum shuffle as o8/w15; per-language
    budgets keep the windows parallel instead of one global sort."""
    feats = textstats.quality_scores(_docs(spark, sf_dir))
    w = _C3_W
    z = (
        F.lit(w["bias"])
        + F.lit(w["n_tokens"]) * F.col("n_tokens").cast("double")
        + F.lit(w["avg_token_len"]) * F.col("avg_token_len")
        + F.lit(w["punct_ratio"]) * F.col("punct_ratio")
        + F.lit(w["stopword_ratio"]) * F.col("stopword_ratio")
    )
    score = F.lit(1.0) / (F.lit(1.0) + F.exp(-z))
    counted = textstats.bpe_token_count(
        feats.select("doc_id", "lang", "text", score.alias("quality_p"))
    )
    win = (
        Window.partitionBy("lang")
        .orderBy(F.desc("quality_p"), F.asc("doc_id"))
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    cum_before = F.sum("n_bpe_tokens").over(win) - F.col("n_bpe_tokens")
    return counted.select(
        "doc_id",
        "lang",
        "n_bpe_tokens",
        F.round("quality_p", 6).alias("quality_p"),
        (cum_before <= _O10_BUDGET).cast("int").alias("kept"),
    )


O10_SQL = rf"""
WITH {_TOKS}, q AS (
  SELECT d.doc_id, d.lang, d.text,
         CAST(array_length(t.tokens) AS BIGINT) AS n_tokens,
         length(d.text) AS text_len,
         length(regexp_replace(d.text, '[.,!?;:]', '', 'g')) AS nopunct_len,
         array_length(filter(t.tokens,
             x -> x IN ('the','a','of','and','to','in','is')))
           AS stop_hits
  FROM documents d JOIN toks t ON d.doc_id = t.doc_id
), f AS (
  SELECT doc_id, lang, text, n_tokens,
         CASE WHEN n_tokens > 0
              THEN (text_len - (n_tokens - 1)) / n_tokens
              ELSE 0.0 END AS avg_token_len,
         (text_len - nopunct_len) / greatest(text_len, 1) AS punct_ratio,
         CASE WHEN n_tokens > 0 THEN stop_hits / n_tokens
              ELSE 0.0 END AS stopword_ratio
  FROM q
), sc AS (
  SELECT doc_id, lang,
         CAST(array_length(filter(
                regexp_extract_all(text,
                  '{_BPE_RE_SQL}', 0),
                p -> regexp_replace(p, '\s+', '') != '')) AS BIGINT) AS n_bpe_tokens,
         1.0 / (1.0 + exp(-({_C3_W["bias"]}
           + {_C3_W["n_tokens"]} * CAST(n_tokens AS DOUBLE)
           + {_C3_W["avg_token_len"]} * avg_token_len
           + {_C3_W["punct_ratio"]} * punct_ratio
           + {_C3_W["stopword_ratio"]} * stopword_ratio))) AS quality_p
  FROM f
)
SELECT doc_id, lang, n_bpe_tokens,
       round(quality_p, 6) AS quality_p,
       CAST(CASE WHEN
         sum(n_bpe_tokens) OVER (
           PARTITION BY lang ORDER BY quality_p DESC, doc_id
           ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
         - n_bpe_tokens <= {_O10_BUDGET}
         THEN 1 ELSE 0 END AS INT) AS kept
FROM sc
"""


# --- T14: script/charset profile ---------------------------------------------

# identical pattern strings on both engines: Java regex and RE2 both
# accept the \x{...} hex escape inside character classes
_T14_CJK = r"[\x{4E00}-\x{9FFF}]"
_T14_ASCII_AL = r"[A-Za-z]"
_T14_DIGIT = r"[0-9]"


def t14_script_profile(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-document script/charset profile: CJK, ASCII-letter, and
    digit character ratios plus a script verdict ('cjk' at >= 20% CJK,
    else 'latin' at >= 40% letters, else 'other'). The stopword
    language-ID (t3) is blind to unsegmented scripts — zh documents
    fall through to 'und' — so this is the codepoint-class detector
    real pipelines run first. Pure JVM regexp counting, one
    projection, stream-safe."""
    docs = _docs(spark, sf_dir)

    def ratio(pat):
        return F.size(
            F.regexp_extract_all(F.col("text"), F.lit(pat), 0)
        ) / F.greatest(F.length("text"), F.lit(1))

    cjk, asc, dig = ratio(_T14_CJK), ratio(_T14_ASCII_AL), ratio(_T14_DIGIT)
    verdict = (
        F.when(cjk >= 0.2, "cjk")
        .when(asc >= 0.4, "latin")
        .otherwise("other")
    )
    return docs.select(
        "doc_id",
        "lang",
        F.round(cjk, 6).alias("cjk_ratio"),
        F.round(asc, 6).alias("ascii_ratio"),
        F.round(dig, 6).alias("digit_ratio"),
        verdict.alias("script"),
        ((F.col("lang") == "zh") == (cjk >= 0.2)).cast("int").alias(
            "zh_agree"
        ),
    )


T14_SQL = rf"""
WITH r AS (
  SELECT doc_id, lang,
         array_length(regexp_extract_all(text, '{_T14_CJK}', 0))
           / greatest(length(text), 1) AS cjk,
         array_length(regexp_extract_all(text, '{_T14_ASCII_AL}', 0))
           / greatest(length(text), 1) AS ascr,
         array_length(regexp_extract_all(text, '{_T14_DIGIT}', 0))
           / greatest(length(text), 1) AS dig
  FROM documents
)
SELECT doc_id, lang,
       round(cjk, 6) AS cjk_ratio,
       round(ascr, 6) AS ascii_ratio,
       round(dig, 6) AS digit_ratio,
       CASE WHEN cjk >= 0.2 THEN 'cjk'
            WHEN ascr >= 0.4 THEN 'latin'
            ELSE 'other' END AS script,
       CAST(CASE WHEN (lang = 'zh') = (cjk >= 0.2) THEN 1 ELSE 0 END AS INT)
         AS zh_agree
FROM r
"""


# --- O8: exact-quota stratified sampling -------------------------------------

# per-language document quotas — the "take exactly N per stratum" form
# of data mixing (o6 is the rate-based form). Selection is the first
# `quota` docs per language in md5(doc_id) order: deterministic,
# engine-independent, and uniform because the hash order is unrelated
# to any data attribute.
_O8_QUOTAS = {"de": 40, "en": 60, "es": 40, "fr": 40, "zh": 30}


def o8_quota_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact-count stratified sampling: rank documents within each
    language by md5(doc_id) (doc_id tie-break) and keep ranks up to the
    language's quota. One hash-partition shuffle on ``lang`` for the
    rank window; at 100 TB strata are few and big, so AQE's skew
    handling applies, or substitute the rate-based o6 when exact counts
    aren't required (rates need no shuffle at all)."""
    docs = t(spark, sf_dir, "documents")
    quota = F.lit(0)
    for lang, q in _O8_QUOTAS.items():
        quota = F.when(F.col("lang") == lang, q).otherwise(quota)
    w = Window.partitionBy("lang").orderBy(
        F.md5(F.col("doc_id").cast("string")), F.col("doc_id")
    )
    return docs.select(
        "doc_id",
        "lang",
        F.row_number().over(w).cast("bigint").alias("stratum_rank"),
        quota.alias("q"),
    ).select(
        "doc_id",
        "lang",
        "stratum_rank",
        (F.col("stratum_rank") <= F.col("q")).cast("int").alias("kept"),
    )


_O8_CASE = " ".join(f"WHEN '{k}' THEN {v}" for k, v in _O8_QUOTAS.items())

O8_SQL = f"""
WITH r AS (
  SELECT doc_id, lang,
         row_number() OVER (
           PARTITION BY lang
           ORDER BY md5(CAST(doc_id AS STRING)), doc_id
         ) AS stratum_rank
  FROM documents
)
SELECT doc_id, lang, CAST(stratum_rank AS BIGINT) AS stratum_rank,
       CAST(CASE WHEN stratum_rank <= CASE lang {_O8_CASE} ELSE 0 END
                 THEN 1 ELSE 0 END AS INT) AS kept
FROM r
"""


# --- W15: sequence packing (context-window chunk assignment) -----------------

_W15_BUDGET = 512  # tokens per training sequence


def w15_sequence_packing(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Greedy sequential sequence packing: stream documents per
    language in doc_id order, accumulate BPE token counts, and assign
    each document to the context-window bin its first token lands in
    (``pack_id = floor(preceding_cumsum / budget)``). This is the
    "pack short docs into fixed-length training sequences" step that
    turns a curated corpus into LLM training batches.

    One running-sum window per language — the same shuffle the ordered
    write would need anyway. Docs longer than the budget span bins;
    the assignment records where they start (standard offset-chunking
    semantics, not bin-capacity packing, which is inherently
    sequential)."""
    docs = textstats.bpe_token_count(t(spark, sf_dir, "documents"))
    w = (
        Window.partitionBy("lang")
        .orderBy("doc_id")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    cum = F.sum("n_bpe_tokens").over(w)
    return docs.select(
        "doc_id",
        "lang",
        "n_bpe_tokens",
        F.floor((cum - F.col("n_bpe_tokens")) / F.lit(_W15_BUDGET))
        .cast("bigint")
        .alias("pack_id"),
    )


W15_SQL = rf"""
WITH b AS (
  SELECT doc_id, lang,
         CAST(array_length(filter(
                regexp_extract_all(text,
                  '{_BPE_RE_SQL}', 0),
                p -> regexp_replace(p, '\s+', '') != '')) AS BIGINT) AS n_bpe_tokens
  FROM documents
)
SELECT doc_id, lang, n_bpe_tokens,
       CAST(floor(
         (sum(n_bpe_tokens) OVER (
            PARTITION BY lang ORDER BY doc_id
            ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
          - n_bpe_tokens) / {_W15_BUDGET}) AS BIGINT) AS pack_id
FROM b
"""


# --- S4: random-hyperplane LSH ANN -------------------------------------------

# s4's bits per table, shared by the builder and its oracle
S4_PLANES = 8


def s4_hyperplane_ann(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sign-LSH approximate nearest neighbor (Charikar 2002; see
    operators/similarity.py::hyperplane_ann_top1): 2 hash tables x 8
    deterministic hyperplane bits bucket the corpus, candidates are
    bucket-mates in either table, exact cosine re-ranks, top-1 per
    vector. The LSH-bucketed complement to IVF (s2/s3): no training
    step, recall tuned by table count, bucket size by bit count —
    bits are chosen as ~log2(corpus / target_bucket), and the rerank
    cost is sum(bucket²), so 6 bits at 5k vectors meant ~78-vector
    buckets and a 4.3 s rerank where 8 bits pays a quarter of that
    (measured; at larger corpora keep scaling bits, not tables)."""
    e = t(spark, sf_dir, "embeddings").select("vec_id", "embedding")
    return similarity.hyperplane_ann_top1(e, n_planes=S4_PLANES)


def _s4_bits_sql(table: int) -> str:
    bits = []
    for i in range(S4_PLANES):
        arr = (
            "["
            + ", ".join(str(c) for c in similarity.hyperplane_coeffs(table, i, 64))
            + "]::DOUBLE[]"
        )
        bits.append(
            f"CASE WHEN list_dot_product(v, {arr}) >= 0"
            " THEN '1' ELSE '0' END"
        )
    return " || ".join(bits)


S4_SQL = f"""
WITH e AS (SELECT vec_id AS vid, embedding::DOUBLE[] AS v FROM embeddings),
s AS (
  SELECT vid, v,
         {_s4_bits_sql(0)} AS b0,
         {_s4_bits_sql(1)} AS b1
  FROM e
), cand AS (
  SELECT a.vid AS qid, b.vid AS cid
  FROM s a JOIN s b ON a.b0 = b.b0 AND a.vid != b.vid
  UNION
  SELECT a.vid AS qid, b.vid AS cid
  FROM s a JOIN s b ON a.b1 = b.b1 AND a.vid != b.vid
), scored AS (
  SELECT c.qid, c.cid,
         list_dot_product(q.v, t.v)
         / (sqrt(list_dot_product(q.v, q.v))
            * sqrt(list_dot_product(t.v, t.v))) AS cos
  FROM cand c JOIN s q ON q.vid = c.qid JOIN s t ON t.vid = c.cid
)
SELECT qid AS vec_id, cid AS nn_id, round(cos, 6) AS cosine,
       CAST(n_cand AS BIGINT) AS n_cand
FROM (SELECT *,
             row_number() OVER (PARTITION BY qid
                                ORDER BY cos DESC, cid) AS rk,
             count(*) OVER (PARTITION BY qid) AS n_cand
      FROM scored)
WHERE rk = 1
"""


# --- T15: Gopher repetition filters -----------------------------------------

def t15_gopher_repetition(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gopher-style repetition filters (Rae et al. 2021, arXiv:2112.11446
    Table A1): per document, the character fraction of the single most
    frequent 2/3/4-gram and the character fraction covered by DUPLICATED
    5-grams, plus the paper's accept/reject flag at its published
    thresholds (0.20 / 0.18 / 0.16 / 0.15). Extends t7 (which reports
    only the top-bigram count share) to the char-weighted multi-n form
    actually used for corpus filtering.

    Shape: ONE explode over a flattened (n, gram) struct array built by
    four JVM-side ``transform``s — not four passes over the token
    stream — then two hash aggs (per-gram count, per-(doc,n) argmax)
    and a conditional-agg pivot to wide columns. Tokens contain no
    whitespace (tokenizer splits on \\s+), so a gram's character length
    is ``length(gram) - (n-1)`` exactly, and the denominator is the
    document's total token chars. Docs with <2 tokens have no bigrams
    and drop out in both engines. At 100 TB this is the same
    embarrassingly-parallel two-shuffle shape as t6/t7: everything up
    to the per-gram count is a projection, and the (doc_id, n, gram)
    agg keys are near-unique so AQE sees no skew. In practice the plan
    is even tighter than two shuffles: both groupBy key sets contain
    doc_id, so the scan's CPU-spreading doc_id repartition satisfies
    BOTH aggregations' required distributions and the whole query runs
    with a single Exchange (pinned in tests/test_plans.py)."""
    toked = dedup.tokenize(_spread_docs(spark, sf_dir))

    def grams_for(n: int):
        return F.when(
            F.size("tokens") >= n,
            F.transform(
                F.sequence(F.lit(0), F.size("tokens") - n),
                lambda i: F.struct(
                    F.lit(n).alias("n"),
                    F.concat_ws(
                        " ", F.slice(F.col("tokens"), i + 1, n)
                    ).alias("gram"),
                ),
            ),
        ).otherwise(F.array().cast("array<struct<n:int,gram:string>>"))

    exploded = toked.select(
        "doc_id",
        F.expr("aggregate(tokens, 0L, (acc, x) -> acc + length(x))").alias(
            "total_chars"
        ),
        F.explode(
            F.flatten(
                F.array(grams_for(2), grams_for(3), grams_for(4), grams_for(5))
            )
        ).alias("g"),
    )
    per_gram = exploded.groupBy(
        "doc_id",
        "total_chars",
        F.col("g.n").alias("n"),
        F.col("g.gram").alias("gram"),
    ).agg(F.count(F.lit(1)).alias("c"))
    charlen = F.length("gram") - (F.col("n") - 1)
    per_doc_n = per_gram.groupBy("doc_id", "total_chars", "n").agg(
        # argmax-by-count with lexicographic-max gram tie-break: struct
        # max orders by c first, then gram — deterministic both engines
        F.max(F.struct(F.col("c"), F.col("gram"))).alias("top"),
        F.sum(
            F.when(F.col("c") > 1, F.col("c") * charlen).otherwise(F.lit(0))
        ).alias("dup_chars"),
    )
    # occurrences OVERLAP (a 50x-repeated token's bigram occurs 49
    # times but covers only the doc once), so the c*len product is the
    # standard upper-bound approximation — clamp to 1.0, the exact
    # value for the fully-covered case
    top_frac = F.least(
        F.lit(1.0),
        F.col("top.c")
        * (F.length("top.gram") - (F.col("n") - 1))
        / F.col("total_chars"),
    )
    wide = per_doc_n.groupBy("doc_id").agg(
        *[
            F.round(
                F.coalesce(
                    F.max(F.when(F.col("n") == n, top_frac)), F.lit(0.0)
                ),
                6,
            ).alias(f"top{n}_char_frac")
            for n in (2, 3, 4)
        ],
        F.round(
            F.coalesce(
                F.max(
                    F.when(
                        F.col("n") == 5,
                        F.least(
                            F.lit(1.0),
                            F.col("dup_chars") / F.col("total_chars"),
                        ),
                    )
                ),
                F.lit(0.0),
            ),
            6,
        ).alias("dup5_char_frac"),
    )
    return wide.withColumn(
        "gopher_flagged",
        (F.col("top2_char_frac") > 0.20)
        | (F.col("top3_char_frac") > 0.18)
        | (F.col("top4_char_frac") > 0.16)
        | (F.col("dup5_char_frac") > 0.15),
    )


T15_SQL = rf"""
WITH {_TOKS}, pos AS (
  SELECT doc_id, list_extract(tokens, p) AS tok, p,
         length(array_to_string(tokens, '')) AS total_chars
  FROM (SELECT doc_id, tokens, unnest(generate_series(1, n_tok)) AS p
        FROM toks WHERE n_tok >= 1) u
), grams AS (
  SELECT doc_id, total_chars, 2 AS n,
         tok || ' ' || lead(tok, 1) OVER w2 AS gram
  FROM pos WINDOW w2 AS (PARTITION BY doc_id ORDER BY p)
  UNION ALL
  SELECT doc_id, total_chars, 3 AS n,
         tok || ' ' || lead(tok, 1) OVER w3 || ' ' || lead(tok, 2) OVER w3
  FROM pos WINDOW w3 AS (PARTITION BY doc_id ORDER BY p)
  UNION ALL
  SELECT doc_id, total_chars, 4 AS n,
         tok || ' ' || lead(tok, 1) OVER w4 || ' ' || lead(tok, 2) OVER w4
             || ' ' || lead(tok, 3) OVER w4
  FROM pos WINDOW w4 AS (PARTITION BY doc_id ORDER BY p)
  UNION ALL
  SELECT doc_id, total_chars, 5 AS n,
         tok || ' ' || lead(tok, 1) OVER w5 || ' ' || lead(tok, 2) OVER w5
             || ' ' || lead(tok, 3) OVER w5 || ' ' || lead(tok, 4) OVER w5
  FROM pos WINDOW w5 AS (PARTITION BY doc_id ORDER BY p)
), per_gram AS (
  SELECT doc_id, total_chars, n, gram, count(*) AS c
  FROM grams WHERE gram IS NOT NULL
  GROUP BY 1, 2, 3, 4
), per_doc_n AS (
  SELECT doc_id, total_chars, n, c, gram,
         row_number() OVER (PARTITION BY doc_id, n
                            ORDER BY c DESC, gram DESC) AS rk,
         sum(CASE WHEN c > 1
             THEN c * (length(gram) - (n - 1)) ELSE 0 END)
           OVER (PARTITION BY doc_id, n) AS dup_chars
  FROM per_gram
), wide AS (
  SELECT doc_id,
         round(coalesce(max(CASE WHEN n = 2 THEN
           least(1.0, c * (length(gram) - (n - 1)) * 1.0 / total_chars)
           END), 0.0), 6)
           AS top2_char_frac,
         round(coalesce(max(CASE WHEN n = 3 THEN
           least(1.0, c * (length(gram) - (n - 1)) * 1.0 / total_chars)
           END), 0.0), 6)
           AS top3_char_frac,
         round(coalesce(max(CASE WHEN n = 4 THEN
           least(1.0, c * (length(gram) - (n - 1)) * 1.0 / total_chars)
           END), 0.0), 6)
           AS top4_char_frac,
         round(coalesce(max(CASE WHEN n = 5 THEN
           least(1.0, dup_chars * 1.0 / total_chars) END), 0.0), 6)
           AS dup5_char_frac
  FROM per_doc_n WHERE rk = 1
  GROUP BY doc_id
)
SELECT doc_id, top2_char_frac, top3_char_frac, top4_char_frac,
       dup5_char_frac,
       (top2_char_frac > 0.20 OR top3_char_frac > 0.18
        OR top4_char_frac > 0.16 OR dup5_char_frac > 0.15)
         AS gopher_flagged
FROM wide
"""


# --- O11: deterministic hash split ------------------------------------------

def o11_hash_split(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic train/val/test assignment by content-independent
    key hash — the split every training pipeline needs to be STABLE
    under re-runs, appends, and repartitioning (no rand(), no
    row_number over an arbitrary order). The first two hex chars of
    md5(doc_id) give 256 buckets; lexicographic comparison of
    fixed-width lowercase hex equals numeric comparison, so the
    cutpoints 'cc' (204/256 ≈ 79.7% train) and 'e6' (26/256 ≈ 10.2%
    val) are portable to ANY engine that has md5 — the same doc lands
    in the same split in Spark, DuckDB, or a Python worker. Output is
    the per-(split, language) audit: counts and within-language
    shares, proving the split is language-balanced. One projection +
    one small agg; at 100 TB the assignment never shuffles."""
    d = _docs(spark, sf_dir)
    bucket = F.substring(F.md5(F.col("doc_id").cast("string")), 1, 2)
    assigned = d.withColumn(
        "split",
        F.when(bucket < "cc", "train")
        .when(bucket < "e6", "val")
        .otherwise("test"),
    )
    per_lang = Window.partitionBy("lang")
    return (
        assigned.groupBy("split", "lang")
        .agg(F.count(F.lit(1)).alias("n_docs"))
        .withColumn(
            "pct_of_lang",
            F.round(F.col("n_docs") / F.sum("n_docs").over(per_lang), 6),
        )
        .orderBy("split", "lang")
    )


O11_SQL = """
WITH assigned AS (
  SELECT lang,
         CASE WHEN substr(md5(CAST(doc_id AS STRING)), 1, 2) < 'cc'
              THEN 'train'
              WHEN substr(md5(CAST(doc_id AS STRING)), 1, 2) < 'e6'
              THEN 'val'
              ELSE 'test' END AS split
  FROM documents
)
SELECT split, lang, count(*) AS n_docs,
       round(count(*) * 1.0 / sum(count(*)) OVER (PARTITION BY lang), 6)
         AS pct_of_lang
FROM assigned
GROUP BY split, lang
ORDER BY split, lang
"""


# --- T16: BPE merge-table induction (tokenizer training) ---------------------

# merges t16 learns and t19 applies, shared by the builders and oracles
BPE_MERGES = 8


def t16_bpe_merges(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Learn the first 8 BPE merges from the documents corpus
    (operators/bpe.py): corpus scanned once into a (word, freq) vocab
    table; the merge loop then runs over the VOCAB (not the corpus) —
    driver-side below the word-count crossover (a small vocab's rounds
    are pure scheduler overhead distributed), as vocab-shuffle rounds
    with a pure JVM fold above it. Hash-gated (the s13/d8 unrolling
    recipe): merges are integer-
    deterministic with explicit tie-breaks (freq DESC, left ASC, right
    ASC — UTF-8 binary collation in both engines), so the oracle
    unrolls 8 merge rounds as chained CTEs over the vocab. The greedy
    leftmost non-overlapping rewrite has an exact SQL form via a
    boundary-safe string encoding: each symbol is wrapped as
    US||sym||US (US = chr(31), absent from whitespace-tokenized text),
    so SQL ``replace(s, US||l||US||US||r||US, US||lr||US)`` — which
    scans left-to-right replacing non-overlapping occurrences — IS the
    BPE merge step, with full-symbol anchoring for free. Additionally
    pinned by an independent pure-Python BPE reference on the same
    corpus, on BOTH execution paths, in tests/test_bpe.py."""
    from ..operators import bpe

    docs = t(spark, sf_dir, "documents").select("text")
    merges = bpe.train_bpe(bpe.word_freqs(docs), n_merges=BPE_MERGES)
    return spark.createDataFrame(
        [
            (i + 1, left, right, left + right, pf)
            for i, (left, right, pf) in enumerate(merges)
        ],
        "rank long, left string, right string, merged string, "
        "pair_freq long",
    )


def _t16_sql() -> str:
    """Unrolled BPE oracle (see t16_bpe_merges docstring): vocab →
    US-wrapped symbol strings → BPE_MERGES rounds of (pair count, argmax
    with the Spark tie-break, greedy replace). A round whose pair table
    is empty yields an empty b{r} and empties all later states — the
    same early-stop row count as train_bpe's break. Shared dialect:
    the init avoids regexp backreferences (DuckDB \\1 vs Spark $1 —
    genuinely divergent) by assembling the wrapped string with
    list_transform over generate_series; MATERIALIZED hints keep
    DuckDB from inlining the doubly-referenced round states (stripped
    by the frontend transpile, where Spark's WithCTE dedups refs
    itself)."""
    sep = "chr(31)"
    parts = [f"""WITH toks AS (
  SELECT filter(list_transform(string_split_regex(lower(trim(text)), '\\s+'),
                               w -> replace(w, {sep}, '')),
                w -> w != '') AS ws
  FROM documents
), words AS (
  SELECT unnest(ws) AS word FROM toks
), vocab AS (
  SELECT word, count(*) AS freq FROM words GROUP BY word
),
r0 AS (
  SELECT array_to_string(
           list_transform(generate_series(1, length(word)),
                          i -> {sep} || substr(word, CAST(i AS INT), 1)
                               || {sep}),
           '') AS s,
         freq
  FROM vocab
)"""]
    for r in range(BPE_MERGES):
        parts.append(f""",
g{r} AS MATERIALIZED (
  SELECT string_split_regex(substr(s, 2, length(s) - 2),
                            {sep} || {sep}) AS L, freq
  FROM r{r}
),
e{r} AS (
  SELECT L, freq, unnest(generate_series(1, np)) AS i
  FROM (SELECT L, freq, array_length(L) - 1 AS np FROM g{r})
  WHERE np >= 1
),
p{r} AS (
  SELECT L[i] AS lft, L[i + 1] AS rgt, sum(freq) AS pf
  FROM e{r} GROUP BY lft, rgt
),
b{r} AS MATERIALIZED (
  SELECT lft, rgt, CAST(pf AS BIGINT) AS pf
  FROM p{r} ORDER BY pf DESC, lft ASC, rgt ASC LIMIT 1
),
r{r + 1} AS MATERIALIZED (
  SELECT replace(s, {sep} || b.lft || {sep} || {sep} || b.rgt || {sep},
                    {sep} || b.lft || b.rgt || {sep}) AS s, freq
  FROM r{r}, b{r} b
)""")
    sel = "\nUNION ALL\n".join(
        f"SELECT CAST({r + 1} AS BIGINT) AS rank, lft AS left, "
        f"rgt AS right, lft || rgt AS merged, pf AS pair_freq FROM b{r}"
        for r in range(BPE_MERGES)
    )
    parts.append("\n" + sel + "\nORDER BY rank")
    return "".join(parts)


T16_SQL = _t16_sql()


def t19_bpe_encode(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Apply the learned BPE merges to the corpus — the tokenizer
    APPLICATION step that pairs with t16's training (together they are
    the real pretokenizer a training-data pipeline runs; t1's
    whitespace token counts are the pre-BPE baseline). Encoding
    happens at the VOCAB level (each distinct word encoded once, then
    weighted by its corpus frequency — the Sennrich trick t16's
    training already uses), so the 8 merge applications are pure JVM
    folds over |vocab| rows regardless of corpus size, and the corpus
    is scanned exactly once to build (word, freq). Output: top-20
    subword tokens by corpus frequency under a (count DESC, token ASC)
    total order — the vocabulary-coverage report a tokenizer owner
    reads. The merge table itself is learned at construction via
    t16's loop (driver-side below the word-count crossover; the
    per-round exchange is one (left, right) pair)."""
    from ..operators import bpe
    from ..operators.cache import replace_owned_cache

    docs = t(spark, sf_dir, "documents").select("text")
    # The (word, freq) table is corpus-derived but VOCAB-sized, and it
    # has two job-level consumers: train_bpe's path-probe collect and
    # the final encode plan — uncached, each re-ran the corpus scan +
    # explode + groupBy (the t19 100x probe named that stage: 177 of
    # 288 total exec-sec at 100x). Owned-cache bounds it to one.
    freqs = replace_owned_cache("t19_word_freqs", bpe.word_freqs(docs))
    merges = bpe.train_bpe(freqs, n_merges=BPE_MERGES)
    # Encode via the US-wrapped string representation the ORACLE uses
    # (see _t16_sql): each symbol wrapped as US||sym||US, merge =
    # replace(s, US l US US r US, US lr US) — leftmost non-overlapping
    # replace IS the greedy BPE step, with full-symbol anchoring free.
    # Chaining 8 replace() calls nests LINEARLY (each references its
    # input once); the first attempt chained bpe._apply_merge aggregate
    # folds instead, whose lambda references the accumulator several
    # times — ProjectCollapse inlined the 8 rounds into an
    # exponentially-sized expression tree and optimization alone took
    # ~13 s on a 31-row vocab (measured). train_bpe's own distributed
    # path avoids the same blow-up with per-round lineage checkpoints.
    us = "\x1f"
    col = F.regexp_replace("word", "(.)", us + "$1" + us)
    for left, right, _ in merges:
        col = F.replace(
            col,
            F.lit(us + left + us + us + right + us),
            F.lit(us + left + right + us),
        )
    enc = freqs.select(col.alias("s"), "freq")
    counts = (
        enc.select(
            F.explode(
                F.split(F.expr("substring(s, 2, length(s) - 2)"), us + us)
            ).alias("token"),
            "freq",
        )
        .groupBy("token")
        .agg(F.sum("freq").cast("bigint").alias("n"))
    )
    w = Window.orderBy(F.desc("n"), F.asc("token"))
    return (
        counts.withColumn("pos", F.row_number().over(w).cast("bigint"))
        .filter(F.col("pos") <= 20)
        .select("pos", "token", "n")
    )


def _t19_sql() -> str:
    """t19 oracle: t16's unrolled merge chain, but the final select
    reads the ENCODED STATE r{n} instead of the merge table — explode
    the post-merge symbols, weight by word freq, top-20."""
    base = _t16_sql()
    # keep everything up to (and including) the last round's state CTE,
    # drop t16's UNION-ALL merge-table select
    cut = base.rindex(f"r{BPE_MERGES} AS MATERIALIZED (")
    end = base.index(")", base.index("FROM r", cut)) + 1
    prefix = base[:end]
    return f"""{prefix},
enc AS (
  SELECT string_split_regex(substr(s, 2, length(s) - 2),
                            chr(31) || chr(31)) AS L, freq
  FROM r{BPE_MERGES}
),
tok AS (
  SELECT unnest(L) AS token, freq FROM enc
),
cnt AS (
  SELECT token, CAST(sum(freq) AS BIGINT) AS n FROM tok GROUP BY token
)
SELECT CAST(pos AS BIGINT) AS pos, token, n FROM (
  SELECT token, n,
         row_number() OVER (ORDER BY n DESC, token ASC) AS pos
  FROM cnt
) ranked WHERE pos <= 20
ORDER BY pos
"""


T19_SQL = _t19_sql()


# --- S13: k-means codebook training (Lloyd's, the IVF trainer) ---------------

# s13's codebook size and Lloyd iterations, shared with its oracle
S13_K, S13_ITERS = 8, 3


def s13_kmeans_codebook(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Train the IVF coarse quantizer instead of picking it: 3 Lloyd
    iterations of k=8 means over the embedding corpus (seeded from the
    first 8 vectors by vec_id), then a per-cluster audit (size,
    inertia, centroid head + norm). Each iteration is one zero-shuffle
    literal-centroid assignment pass plus one <=8-key groupBy with 64
    map-side-combined avg() aggregates; centroids round-trip through
    the driver like Spark MLlib's own KMeans (and m9's FedAvg round
    loop). Centroid coordinates are quantized to 9 decimals per
    iteration in BOTH engines, so the oracle (the same loop unrolled
    as chained CTEs) stays decision-identical. Iterations execute
    eagerly at construction; the corpus is persisted for their
    duration."""
    from ..operators import kmeans

    e = t(spark, sf_dir, "embeddings").select("vec_id", "embedding")
    e = e.persist()
    try:
        cents, assigned = kmeans.kmeans_train(e, k=S13_K, iters=S13_ITERS, dim=64)
    finally:
        e.unpersist()
    return kmeans.cluster_report(spark, cents, assigned)


def _s13_sql() -> str:
    def sq(ev: str, cv: str) -> str:
        return (
            "list_sum(list_transform(generate_series(1,64), "
            f"i -> ({ev}[i]-{cv}[i])*({ev}[i]-{cv}[i])))"
        )

    parts = [
        "WITH e AS (SELECT vec_id, embedding::DOUBLE[] AS v "
        "FROM embeddings),\n"
        f"c0 AS (SELECT vec_id AS cid, v AS cv FROM e WHERE vec_id < {S13_K})"
    ]
    for it in range(S13_ITERS):
        parts.append(f""",
a{it} AS (
  SELECT vec_id, v, cid AS bucket FROM (
    SELECT e.vec_id, e.v, c.cid,
           row_number() OVER (PARTITION BY e.vec_id
             ORDER BY {sq('e.v', 'c.cv')} ASC, c.cid ASC) AS rk
    FROM e, c{it} c) WHERE rk = 1
),
g{it} AS (
  SELECT bucket, v, unnest(generate_series(1, 64)) AS i FROM a{it}
),
cc{it} AS (
  SELECT bucket, i AS pos, round(avg(v[i]), 9) AS cc
  FROM g{it} GROUP BY bucket, i
),
c{it + 1} AS (
  SELECT cid, cv FROM (
    SELECT bucket AS cid,
           row_number() OVER (PARTITION BY bucket ORDER BY pos) AS rk1,
           array_agg(cc) OVER (PARTITION BY bucket ORDER BY pos
             ROWS BETWEEN UNBOUNDED PRECEDING AND UNBOUNDED FOLLOWING)
             AS cv
    FROM cc{it}) WHERE rk1 = 1
)""")
    parts.append(f""",
fin AS (
  SELECT vec_id, bucket, d FROM (
    SELECT e.vec_id, c.cid AS bucket, {sq('e.v', 'c.cv')} AS d,
           row_number() OVER (PARTITION BY e.vec_id
             ORDER BY {sq('e.v', 'c.cv')} ASC, c.cid ASC) AS rk
    FROM e, c{S13_ITERS} c) WHERE rk = 1
)
SELECT f.bucket AS cluster, count(*) AS n_members,
       round(sum(f.d), 6) AS inertia,
       round(max(c.cv[1]), 6) AS c_head,
       round(max(sqrt(list_sum(list_transform(c.cv, x -> x*x)))), 6)
         AS c_norm
FROM fin f JOIN c{S13_ITERS} c ON c.cid = f.bucket
GROUP BY f.bucket ORDER BY cluster""")
    return "".join(parts)


S13_SQL = _s13_sql()


# --- T17: TextRank keyword extraction (weighted PageRank, oracle'd) ----------

# t17's PageRank iterations, shared with its oracle
T17_ITERS = 3


def t17_textrank(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TextRank (Mihalcea & Tarau 2004) keyword extraction: weighted
    PageRank over the adjacent-word co-occurrence graph, 3 unrolled
    iterations, top-20 report. The iterative-graph-analytics shape
    with a full value oracle — rare, because the loop must be
    decision-stable across engines AND across plan shapes within one
    engine (double sums are partition-order-dependent; a round(…, 9)
    per iteration still drifted 2e-6 between the DataFrame and
    SQL-text plans). Ranks therefore live in integer MICRO-UNITS
    (1e-9): each edge contributes floor(weight·r_int / out_w) — IEEE
    double division then floor, bit-identical in every engine — and
    the per-node sum is a BIGINT sum, order-free by construction. The
    damping step is floor(0.85·x), again IEEE-deterministic. Bound:
    weight·r_int stays < 2^53 for pair multiplicities up to ~1e5 at
    total rank mass ≈ |vocab|; larger corpora would shift to 1e-6
    units.

    Scale shape: the graph is VOCAB-sized (edges = distinct adjacent
    word pairs), so after one corpus scan builds the edge table every
    iteration is one edges⋈ranks join + one dst-keyed sum — Zipf-small
    state, corpus never rescanned. The loop is
    ``operators/graph.py::pagerank`` (same micro-unit arithmetic; the
    edge table is checkpointed once). Damping 0.85, rank_0 = 1."""
    from ..operators import graph

    toked = dedup.tokenize(_spread_docs(spark, sf_dir))
    adj = (
        "CASE WHEN size(tokens) >= 2 THEN "
        "zip_with(slice(tokens, 1, size(tokens) - 1), "
        "slice(tokens, 2, size(tokens) - 1), "
        "(a, b) -> named_struct('a', a, 'b', b)) "
        "ELSE CAST(array() AS array<struct<a:string,b:string>>) END"
    )
    pairs = (
        toked.select(F.expr(f"explode({adj})").alias("p"))
        .select("p.a", "p.b")
        .filter(F.col("a") != F.col("b"))
    )
    edges = (
        pairs.selectExpr("a AS src", "b AS dst")
        .unionAll(pairs.selectExpr("b AS src", "a AS dst"))
        .groupBy("src", "dst")
        .agg(F.count(F.lit(1)).alias("weight"))
    )
    # the symmetric unionAll above makes every node a src, which is
    # graph.pagerank's sink-free precondition
    ranks = graph.pagerank(edges, iters=T17_ITERS, weight_col="weight").select(
        F.col("node").alias("word"), "r_int"
    )
    w = Window.orderBy(F.desc("r_int"), F.asc("word"))
    return (
        ranks.select(
            "word",
            F.round(F.col("r_int") / 1e9, 6).alias("rank_score"),
            F.row_number().over(w).cast("bigint").alias("pos"),
        )
        .orderBy("pos")
        .limit(20)
    )


def _t17_sql() -> str:
    parts = [
        rf"""WITH {_TOKS}, pos AS (
  SELECT doc_id, list_extract(tokens, p) AS tok, p
  FROM (SELECT doc_id, tokens, unnest(generate_series(1, n_tok)) AS p
        FROM toks WHERE n_tok >= 1) u
), nx AS (
  SELECT doc_id, tok AS a,
         lead(tok) OVER (PARTITION BY doc_id ORDER BY p) AS b
  FROM pos
), pr AS (
  SELECT a, b FROM nx WHERE b IS NOT NULL AND a != b
), edges AS (
  SELECT src, dst, CAST(count(*) AS BIGINT) AS weight FROM (
    SELECT a AS src, b AS dst FROM pr
    UNION ALL
    SELECT b AS src, a AS dst FROM pr
  ) e GROUP BY src, dst
), outw AS (
  SELECT src, CAST(sum(weight) AS BIGINT) AS out_w
  FROM edges GROUP BY src
), r0 AS (
  SELECT src AS word, CAST(1000000000 AS BIGINT) AS r_int FROM outw
)"""
    ]
    for i in range(1, T17_ITERS + 1):
        parts.append(f""",
c{i} AS (
  SELECT e.dst,
         CAST(sum(CAST(floor(
           CAST(e.weight * r.r_int AS DOUBLE) / o.out_w) AS BIGINT))
           AS BIGINT) AS x
  FROM edges e
  JOIN outw o ON o.src = e.src
  JOIN r{i - 1} r ON r.word = e.src
  GROUP BY e.dst
), r{i} AS (
  SELECT o.src AS word,
         CAST(150000000 + CAST(floor(
           0.85 * CAST(coalesce(c{i}.x, 0) AS DOUBLE)) AS BIGINT)
           AS BIGINT) AS r_int
  FROM outw o LEFT JOIN c{i} ON c{i}.dst = o.src
)""")
    parts.append(f"""
SELECT word, round(r_int / 1000000000.0, 6) AS rank_score,
       row_number() OVER (ORDER BY r_int DESC, word) AS pos
FROM r{T17_ITERS}
ORDER BY pos
LIMIT 20""")
    return "".join(parts)


T17_SQL = _t17_sql()


TEXTSIM_QUERIES: list[QuerySpec] = [
    QuerySpec("t18_bm25", t18_bm25, T18_SQL,
              "BM25 retrieval scoring: Robertson k1/b over a fixed "
              "query, postings filtered before the shuffle, top-20"),
    QuerySpec("t17_textrank", t17_textrank, T17_SQL,
              "TextRank keywords: weighted PageRank over the adjacent-"
              "word graph, 3 quantized iterations, top-20"),
    QuerySpec("s13_kmeans_codebook", s13_kmeans_codebook, S13_SQL,
              "k-means codebook training: 3 Lloyd iterations, literal-"
              "centroid assignment, per-cluster inertia audit"),
    QuerySpec("t16_bpe_merges", t16_bpe_merges, T16_SQL,
              "BPE tokenizer training: 8 merge rounds over the vocab "
              "table, JVM-fold rewrite; unrolled-CTE oracle via the "
              "US-wrapped replace() encoding"),
    QuerySpec("t19_bpe_encode", t19_bpe_encode, T19_SQL,
              "BPE tokenizer application: learned merges applied at "
              "vocab level, freq-weighted top-20 subword report"),
    QuerySpec("s9_ivf_recall", s9_ivf_recall, S9_SQL,
              "IVF recall@5 vs exact brute force: the index-drift "
              "eval harness"),
    QuerySpec("s8_filtered_ivf_ann", s8_filtered_ivf_ann, S8_SQL,
              "filtered IVF ANN: label predicate composed into the "
              "cell probe, applied before any cosine"),
    QuerySpec("s7_filtered_ann", s7_filtered_ann, S7_SQL,
              "metadata-filtered ANN: pre-filtered cosine top-k, "
              "predicate pushed to the vector scan"),
    QuerySpec("t15_gopher_repetition", t15_gopher_repetition, T15_SQL,
              "Gopher repetition filters: top-2/3/4-gram char fraction "
              "+ duplicated-5-gram char fraction + accept flag"),
    QuerySpec("o11_hash_split", o11_hash_split, O11_SQL,
              "deterministic md5-bucket train/val/test split with "
              "per-language share audit"),
    QuerySpec("d1_exact_dedup", d1_exact_dedup, D1_SQL,
              "exact dedup: content-hash groupBy (one shuffle on md5 key)"),
    QuerySpec("d2_fingerprint_dedup", d2_fingerprint_dedup, D2_SQL,
              "token-set fingerprint dedup (order-insensitive exact dup)"),
    QuerySpec("d3_minhash_signatures", d3_minhash_signatures, D3_SQL,
              "minwise signatures over 3-gram shingles (md5-simulated perms)"),
    QuerySpec("d4_lsh_candidates", d4_lsh_candidates, D4_SQL,
              "MinHash-LSH banding -> candidate-pair bucket join"),
    QuerySpec("d10_incremental_lsh", d10_incremental_lsh, D10_SQL,
              "incremental LSH: new batch vs at-rest band index "
              "(new x corpus + new x new, no corpus x corpus)"),
    QuerySpec("d11_passage_dedup", d11_passage_dedup, D11_SQL,
              "passage-level exact dedup: non-overlapping 10-token "
              "spans, cross-doc dup fraction (arXiv:2107.06499)"),
    QuerySpec("t10_decontamination", t10_decontamination, T10_SQL,
              "eval-set decontamination: broadcast 5-gram overlap "
              "flag vs held-out docs"),
    QuerySpec("d5_ngram_jaccard", d5_ngram_jaccard, D5_SQL,
              "exact n-gram Jaccard verification join"),
    QuerySpec("d8_dup_clusters", d8_dup_clusters, D8_SQL,
              "duplicate clusters: iterative min-label propagation over "
              "verified pairs; oracle = recursive-CTE closure"),
    QuerySpec("d6_simhash", d6_simhash, D6_SQL,
              "16-bit SimHash via per-bit token votes"),
    QuerySpec("d9_semdedup", d9_semdedup, D9_SQL,
              "SemDeDup: IVF-cell-scoped embedding near-dup keeper "
              "(arXiv:2303.09540)"),
    QuerySpec("d7_embedding_neardup", d7_embedding_neardup, D7_SQL,
              "embedding-cosine near-dup on label-blocked pairs"),
    QuerySpec("s1_cosine_topk", s1_cosine_topk, S1_SQL,
              "brute-force cosine top-k ANN baseline (broadcast queries)"),
    QuerySpec("s18_mmr_rerank", s18_mmr_rerank, S18_SQL,
              "MMR diversity reranking: distributed top-20 relevance "
              "cut, then 5 unrolled greedy rounds over the bounded "
              "candidate/pairwise frames"),
    QuerySpec("s2_ivf_ann", s2_ivf_ann, S2_SQL,
              "IVF-bucketed ANN: centroid assign -> partition-pruned probe"),
    QuerySpec("s3_ivf_nprobe", s3_ivf_nprobe, S3_SQL,
              "IVF ANN with nprobe=2 multi-cell probe (recall lever)"),
    QuerySpec("t1_token_stats", t1_token_stats, T1_SQL,
              "token counting (whitespace tokenizer, codegen-only)"),
    QuerySpec("t2_quality_scores", t2_quality_scores, T2_SQL,
              "quality scoring: length/punct/stopword ratios"),
    QuerySpec("t3_language_id", t3_language_id, T3_SQL,
              "stopword-argmax language ID with deterministic tie-break"),
    QuerySpec("t4_rolling_fingerprint", t4_rolling_fingerprint, T4_SQL,
              "polynomial rolling-hash document fingerprint"),
    QuerySpec("t5_winnowing", t5_winnowing, T5_SQL,
              "winnowing fingerprints (MOSS): min-hash per sliding "
              "gram window"),
    QuerySpec("t6_tfidf", t6_tfidf, T6_SQL,
              "TF-IDF top-5 terms per doc (broadcast vocab stats, "
              "windowed top-k)"),
    QuerySpec("t7_repetition", t7_repetition, T7_SQL,
              "repetition ratio: max-bigram share (degenerate-text "
              "quality signal)"),
    QuerySpec("t9_zipf", t9_zipf, T9_SQL,
              "Zipf vocabulary profile: top-20 terms, rank + corpus "
              "share"),
    QuerySpec("c1_corpus_curation", c1_corpus_curation, C1_SQL,
              "composed curation pipeline: language ID + quality + "
              "exact-dup keeper -> verdict per doc"),
    QuerySpec("c2_curation_with_semdedup", c2_curation_with_semdedup, C2_SQL,
              "full curation funnel: c1 text cascade + SemDeDup "
              "semantic stage for survivors"),
    QuerySpec("a16_label_centroids", a16_label_centroids, A16_SQL,
              "per-label element-wise mean embedding (k-means/IVF "
              "centroid-update step), long-form"),
    QuerySpec("d13_incremental_semdedup", d13_incremental_semdedup, D13_SQL,
              "incremental SemDeDup: new batch vs at-rest keepers "
              "(new x keeper + new x new only)"),
    QuerySpec("a17_dedup_report", a17_dedup_report, A17_SQL,
              "per-source dedup accounting: dup rate + chars dropped "
              "by the keeper policy"),
    QuerySpec("s6_ivfpq_ann", s6_ivfpq_ann, S6_SQL,
              "IVF-PQ ANN: cell-probed candidates scored by asymmetric "
              "distance over PQ codes only"),
    QuerySpec("o10_budget_selection", o10_budget_selection, O10_SQL,
              "quality-ranked greedy selection under a per-language "
              "BPE-token budget"),
    QuerySpec("t14_script_profile", t14_script_profile, T14_SQL,
              "script/charset profile: CJK/ASCII/digit ratios + "
              "codepoint-class script verdict"),
    QuerySpec("t13_passage_chunks", t13_passage_chunks, T13_SQL,
              "overlapping passage chunking: 64-token windows every "
              "48 tokens, array-native"),
    QuerySpec("s5_pq_codes", s5_pq_codes, S5_SQL,
              "product-quantization encoding: 8 subspace codes vs a "
              "16-entry codebook, zero-shuffle projection"),
    QuerySpec("d12_containment", d12_containment, D12_SQL,
              "directional containment via winnowing-fingerprint "
              "overlap with stop-fingerprint pruning"),
    QuerySpec("s4_hyperplane_ann", s4_hyperplane_ann, S4_SQL,
              "sign-LSH ANN: 2x8-bit hyperplane tables, exact-cosine "
              "rerank, top-1 per vector"),
    QuerySpec("o8_quota_sample", o8_quota_sample, O8_SQL,
              "exact-quota stratified sampling: first N per language "
              "in md5(doc_id) order"),
    QuerySpec("w15_sequence_packing", w15_sequence_packing, W15_SQL,
              "sequence packing: per-language cumulative BPE tokens -> "
              "context-window bin assignment"),
    QuerySpec("t12_bigram_lm", t12_bigram_lm, T12_SQL,
              "corpus bigram-LM fluency score: mean add-one-smoothed "
              "bigram log-prob per doc"),
    QuerySpec("c3_quality_classifier", c3_quality_classifier, C3_SQL,
              "fastText-style linear quality classifier: sigmoid over "
              "t2 features, keep at p >= 0.5"),
    QuerySpec("t11_pii_scan", t11_pii_scan, T11_SQL,
              "PII inventory + typed-tag redaction (email/phone/IPv4) "
              "over planted deterministic spans"),
]
