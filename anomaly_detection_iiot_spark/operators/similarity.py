"""Embedding similarity search operators (BASELINE.json north star; no
reference equivalent — the reference has no embedding path).

All vector math is JVM-side higher-order functions over ``array<double>``
(zip_with + aggregate = sequential left-fold dot product) — no Python
UDFs, so the scan→score pipeline stays in whole-stage codegen.

Scale design:

- ``brute_force_topk`` broadcasts the (small) QUERY side against the
  full corpus: one narrow pass over the big table, then a per-query
  top-k via window rank. At 100 TB the corpus scan is
  embarrassingly parallel; only k×|queries| rows shuffle for ranking.
- ``ivf_assign`` is the scale path: coarse-quantize every vector to its
  nearest centroid in one narrow projection; queries then probe only
  their own cell(s), turning ANN into a partition-pruned equi-join.
- Quantizers (IVF centroids, PQ codebooks) enter the plan as ONE
  scalar subquery each (``quantizer``), never as collected literals:
  building a query runs no job, and a stream re-reads its quantizers
  once per micro-batch.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F


# --- vector primitives --------------------------------------------------------
#
# Each primitive has TWO construction paths with IDENTICAL Catalyst
# semantics (same expressions after parsing, so same fp64 fold order
# and bit-identical results):
#
# - ``*_sql(text)`` builders compose SQL expression TEXT; callers wrap
#   the final composition in ONE ``F.expr`` that parses JVM-side in a
#   single py4j call. This is the hot-path form: each Python-lambda
#   higher-order function costs ~15-30 ms of blocking py4j round trips
#   PER CONSTRUCTION (measured: 26 HOF lambdas were 0.4 s of
#   d13's 1.3 s driver compile), which the server-parsed string skips.
# - The Column overloads remain for call sites holding computed
#   Columns; passing a ``str`` routes through the text builder.


def as_double_sql(vec: str) -> str:
    """SQL text: float[] -> double[] (see ``as_double``). One array
    Cast, which runs in generated code; a ``transform`` lambda doing the
    same per element is interpreted (sf0.1 PQ encoding 1.7 -> 1.4 s)."""
    return f"CAST({vec} AS ARRAY<DOUBLE>)"


def dot_sql(a: str, b: str) -> str:
    """SQL text: sequential left-fold fp64 dot product."""
    return (
        f"aggregate(zip_with({a}, {b}, (x, y) -> x * y), 0.0D, "
        "(acc, v) -> acc + v)"
    )


def norm_sql(a: str) -> str:
    return (
        f"sqrt(aggregate(transform({a}, x -> x * x), 0.0D, "
        "(acc, v) -> acc + v))"
    )


def cosine_sql(a: str, b: str) -> str:
    return f"({dot_sql(a, b)} / ({norm_sql(a)} * {norm_sql(b)}))"


def as_double(vec: Column | str) -> Column:
    """float[] -> double[] so fold accumulation happens in fp64 on both
    engines (DuckDB oracle casts ``embedding::DOUBLE[]``)."""
    if isinstance(vec, str):
        return F.expr(as_double_sql(vec))
    return vec.cast("array<double>")


def dot(a: Column | str, b: Column | str) -> Column:
    if isinstance(a, str) and isinstance(b, str):
        return F.expr(dot_sql(a, b))
    return F.aggregate(
        F.zip_with(a, b, lambda x, y: x * y), F.lit(0.0), lambda acc, v: acc + v
    )


def norm(a: Column | str) -> Column:
    if isinstance(a, str):
        return F.expr(norm_sql(a))
    return F.sqrt(
        F.aggregate(F.transform(a, lambda x: x * x), F.lit(0.0), lambda acc, v: acc + v)
    )


def cosine(a: Column | str, b: Column | str) -> Column:
    if isinstance(a, str) and isinstance(b, str):
        return F.expr(cosine_sql(a, b))
    return dot(a, b) / (norm(a) * norm(b))


def brute_force_topk(
    corpus: DataFrame,
    queries: DataFrame,
    k: int = 10,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    qid_col: str = "qid",
    qvec_col: str = "qvec",
) -> DataFrame:
    """Exact cosine top-k per query vector: broadcast the query side,
    score every corpus vector, rank within query (tie-break candidate
    id asc for cross-engine determinism)."""
    scored = (
        corpus.join(F.broadcast(queries), F.col(id_col) != F.col(qid_col))
        .withColumn(
            "cosine",
            cosine(as_double_sql(vec_col), as_double_sql(qvec_col)),
        )
    )
    w = Window.partitionBy(qid_col).orderBy(F.desc("cosine"), F.asc(id_col))
    return (
        scored.withColumn("rk", F.row_number().over(w))
        .filter(F.col("rk") <= k)
        .select(
            F.col(qid_col),
            F.col(id_col).alias("cid"),
            F.round("cosine", 6).alias("cosine"),
            F.col("rk").cast("bigint").alias("rk"),
        )
    )


def quantizer(table: DataFrame, id_col: str, vec_col: str) -> Column:
    """A k-row quantizer table (IVF centroids, PQ codebook) as ONE lazy
    scalar subquery: an id-sorted ``array<struct<id, v, n>>`` with the
    vector as doubles and its norm. Building it runs no job; the plan
    evaluates it once per execution (once per micro-batch on a stream).
    The norm is ``norm_sql``'s sequential fp64 fold, the same value the
    DuckDB oracle's ``sqrt(list_dot_product(v, v))`` computes.

    A Column cannot appear inside ``F.expr`` text, so callers add it as
    a temporary column and name that column in their SQL text;
    CollapseProject inlines it into the consuming projection."""
    v = as_double_sql(vec_col)
    return table.selectExpr(
        "array_sort(collect_list(named_struct("
        f"'id', CAST({id_col} AS BIGINT), 'v', {v}, 'n', {norm_sql(v)})))"
    ).scalar()


def ivf_assign(
    corpus: DataFrame,
    centroids: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    centroid_id: str = "centroid_id",
    centroid_vec: str = "cvec",
) -> DataFrame:
    """IVF cell assignment: nearest centroid by cosine (argmax,
    tie-break centroid id asc). Output adds ``bucket``.

    ONE narrow projection: per row, a fold-cosine against each centroid
    of the ``quantizer`` array and an ``array_max`` over ``(s, -id)``
    structs (lexicographic struct max = argmax with min-id tie-break).
    Zero shuffle, zero row expansion, and one compiled fold that loops
    over the centroids at runtime (unrolling a fold per centroid
    compiles k x dim codegen units). The per-element fold order matches
    the DuckDB oracle's, so assignments are bit-identical to it."""
    v = as_double_sql(vec_col)
    entries = (
        f"transform(_ivf_q, c -> named_struct("
        f"'s', {dot_sql(v, 'c.v')} / ({norm_sql(v)} * c.n), 'negid', -c.id))"
    )
    return (
        corpus.withColumn(
            "_ivf_q", quantizer(centroids, centroid_id, centroid_vec)
        )
        .selectExpr("*", f"-(array_max({entries}).negid) AS bucket")
        .drop("_ivf_q")
    )


def ivf_assign_arrow(
    corpus: DataFrame,
    centroids: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    centroid_id: str = "centroid_id",
    centroid_vec: str = "cvec",
) -> DataFrame:
    """IVF cell assignment for LARGE centroid counts: one dense numpy
    matmul per Arrow batch instead of ivf_assign's per-centroid
    expression fold.

    The SQL-fold form is the right shape for coarse-quantizer
    k ≤ ~16 (one codegen fold, zero Python) and is what every oracle
    query uses. But its runtime is a per-row interpreted loop over k
    centroids — at k=100 the assignment alone dominated the d13 probe
    wall (45 s vs 19 s, measured). Cell-size-bounded deployments retrain k ∝ N
    (cell_load signal), so the large-k path batches the corpus through
    Arrow and computes normalized V @ C.T with an argmax — ids are
    sorted ascending and np.argmax takes the FIRST max, so exact
    cosine ties break to the minimum centroid id, same rule as
    ivf_assign. fp summation is numpy's pairwise instead of the fold's
    sequential order, so assignments can differ only on cosines equal
    to within summation error (agreement with ivf_assign on the real
    corpus is asserted in tests). Still zero shuffle and stream-safe —
    a pure mapInPandas projection."""
    import numpy as np
    import pandas as pd  # noqa: F401

    rows = sorted(
        centroids.select(centroid_id, centroid_vec).collect(),
        key=lambda r: r[centroid_id],
    )
    ids = np.array([int(r[centroid_id]) for r in rows], dtype=np.int64)
    C = np.stack(
        [np.asarray(r[centroid_vec], dtype=np.float64) for r in rows]
    )
    Cn = C / np.linalg.norm(C, axis=1, keepdims=True)
    from pyspark.sql.types import LongType, StructField, StructType

    out_schema = StructType(
        list(corpus.schema.fields) + [StructField("bucket", LongType())]
    )

    def batches(it):
        for pdf in it:
            if len(pdf) == 0:
                pdf["bucket"] = np.array([], dtype=np.int64)
                yield pdf
                continue
            V = np.stack(
                [np.asarray(v, dtype=np.float64) for v in pdf[vec_col]]
            )
            Vn = V / np.linalg.norm(V, axis=1, keepdims=True)
            S = Vn @ Cn.T
            pdf = pdf.copy()
            pdf["bucket"] = ids[np.argmax(S, axis=1)]
            yield pdf

    return corpus.mapInPandas(batches, out_schema)


def ivf_probe(
    assigned: DataFrame,
    queries: DataFrame,
    centroids: DataFrame,
    k: int = 10,
    nprobe: int = 1,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    qid_col: str = "qid",
    qvec_col: str = "qvec",
    centroid_id: str = "centroid_id",
    centroid_vec: str = "cvec",
) -> DataFrame:
    """IVF probe with multi-cell fan-out: each query searches its
    ``nprobe`` nearest cells (the standard IVF recall lever — nprobe=1
    misses neighbors that quantize across a cell boundary).

    Scale shape: the (queries × centroids) ranking is broadcast-sized;
    the candidate join broadcasts nprobe×|queries| probe rows against
    the bucket-partitioned corpus, so the big side is scanned once with
    partition pruning on ``bucket`` when the corpus is written
    partitioned by it. Corpus cells are disjoint, so no pair
    dedup is needed."""
    qcells = queries.join(F.broadcast(centroids)).withColumn(
        "_qsim",
        cosine(as_double_sql(qvec_col), as_double_sql(centroid_vec)),
    )
    wq = Window.partitionBy(qid_col).orderBy(F.desc("_qsim"), F.asc(centroid_id))
    probes = (
        qcells.withColumn("_qrk", F.row_number().over(wq))
        .filter(F.col("_qrk") <= nprobe)
        .select(qid_col, qvec_col, F.col(centroid_id).alias("_probe_bucket"))
    )
    cand = assigned.join(
        F.broadcast(probes),
        (F.col("bucket") == F.col("_probe_bucket"))
        & (F.col(id_col) != F.col(qid_col)),
    ).withColumn(
        "cosine", cosine(as_double_sql(qvec_col), as_double_sql(vec_col))
    )
    w = Window.partitionBy(qid_col).orderBy(F.desc("cosine"), F.asc(id_col))
    return (
        cand.withColumn("rk", F.row_number().over(w))
        .filter(F.col("rk") <= k)
        .select(
            F.col(qid_col),
            F.col(id_col).alias("cid"),
            F.col("bucket").cast("bigint").alias("bucket"),
            F.round("cosine", 6).alias("cosine"),
            F.col("rk").cast("bigint").alias("rk"),
        )
    )


def blocked_neardup_pairs(
    df: DataFrame,
    block_col: str = "label",
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    min_cosine: float = 0.15,
    max_block_rows: int = 4096,
) -> DataFrame:
    """All same-block vector pairs with cosine >= min_cosine, via a
    per-block numpy gram matrix (``applyInPandas``).

    The naive formulation — self-join on the block key, then a
    higher-order-function cosine per pair — evaluates an interpreted
    64-element fold 3x per pair: O(|block|^2) lambda dispatches (5.9s
    for 200k pairs at sf0.1). Grouping the block to one Arrow batch and
    computing U @ U.T vectorizes the same arithmetic (0.5s). This is
    also the 100 TB shape: one shuffle of N rows by block key, O(b^2)
    SIMD flops per block, and no |pairs|-row join materialization in
    the plan.

    Skew guard (ENFORCED, no truncation): AQE
    cannot split a groupBy-applyInPandas group, so a pathological block
    would otherwise run one O(b^2) task. Blocks larger than
    ``max_block_rows`` are id-ordered into chunks of that size and the
    gram matrix is computed TILE-wise: each (chunk_i, chunk_j) tile
    (i <= j) is its own group, so no task touches more than a
    max_block_rows^2 tile. Rows replicate to the n_chunks tiles they
    participate in — O(b^2 / cap) rows moved per oversized block, the
    same order as the pair output itself. Results are identical to the
    unguarded path (asserted in tests/test_skew.py)."""
    import numpy as np
    import pandas as pd

    out_schema = (
        f"vec_a long, vec_b long, {block_col} long, cosine double"
    )

    def _empty() -> "pd.DataFrame":
        return pd.DataFrame(
            {"vec_a": [], "vec_b": [], block_col: [], "cosine": []}
        )

    def _normalized(pdf: "pd.DataFrame") -> "np.ndarray":
        V = np.stack(pdf[vec_col].to_numpy()).astype(np.float64)
        return V / np.linalg.norm(V, axis=1, keepdims=True)

    def gram(pdf: "pd.DataFrame") -> "pd.DataFrame":
        pdf = pdf.sort_values(id_col, kind="mergesort")
        ids = pdf[id_col].to_numpy()
        if len(ids) < 2:
            return _empty()
        U = _normalized(pdf)
        G = U @ U.T
        ia, ib = np.triu_indices(len(ids), k=1)
        keep = G[ia, ib] >= min_cosine
        ia, ib = ia[keep], ib[keep]
        return pd.DataFrame(
            {
                "vec_a": ids[ia],
                "vec_b": ids[ib],
                block_col: pdf[block_col].iloc[0],
                "cosine": np.round(G[ia, ib], 6),
            }
        )

    base = df.select(id_col, vec_col, block_col)
    # window + chunk columns as server-parsed text (identical
    # expressions to the Window-API form, fewer py4j round trips)
    chunked = base.selectExpr(
        "*",
        f"row_number() OVER (PARTITION BY {block_col} ORDER BY {id_col})"
        " - 1 AS __rn",
        f"CAST(ceil(count(1) OVER (PARTITION BY {block_col})"
        f" / {max_block_rows}) AS INT) AS __nchunks",
    ).selectExpr("*", f"CAST(__rn / {max_block_rows} AS INT) AS __chunk")

    small_pairs = (
        chunked.filter(F.col("__nchunks") <= 1)
        .select(id_col, vec_col, block_col)
        .groupBy(block_col)
        .applyInPandas(gram, out_schema)
    )

    # Oversized blocks: explode each row to every tile it belongs to.
    # A row in chunk c is the A-side of tiles (c, c..n-1) and the B-side
    # of tiles (0..c-1, c). Chunks are id-ordered, so every id in chunk
    # i is < every id in chunk j for i < j — the (vec_a < vec_b) pair
    # contract falls out of tile orientation with no per-pair compare.
    a_tiles = (
        "transform(sequence(__chunk, __nchunks - 1), "
        "j -> named_struct('ta', __chunk, 'tb', j))"
    )
    b_tiles = (
        "CASE WHEN __chunk > 0 THEN "
        "transform(sequence(0, __chunk - 1), "
        "i -> named_struct('ta', i, 'tb', __chunk)) "
        "ELSE CAST(array() AS array<struct<ta:int,tb:int>>) END"
    )
    tiled = (
        chunked.filter(F.col("__nchunks") > 1)
        .withColumn(
            "__tile", F.expr(f"explode(concat({a_tiles}, {b_tiles}))")
        )
        .select(
            id_col,
            vec_col,
            block_col,
            F.col("__chunk"),
            F.col("__tile.ta").alias("__ta"),
            F.col("__tile.tb").alias("__tb"),
        )
    )

    def tile_gram(key: tuple, pdf: "pd.DataFrame") -> "pd.DataFrame":
        _, ta, tb = key
        pdf = pdf.sort_values(id_col, kind="mergesort")
        if ta == tb:
            return gram(pdf.drop(columns=["__chunk", "__ta", "__tb"]))
        a_pdf = pdf[pdf["__chunk"] == ta]
        b_pdf = pdf[pdf["__chunk"] == tb]
        if a_pdf.empty or b_pdf.empty:
            return _empty()
        Ua, Ub = _normalized(a_pdf), _normalized(b_pdf)
        G = Ua @ Ub.T
        ia, ib = np.nonzero(G >= min_cosine)
        return pd.DataFrame(
            {
                "vec_a": a_pdf[id_col].to_numpy()[ia],
                "vec_b": b_pdf[id_col].to_numpy()[ib],
                block_col: pdf[block_col].iloc[0],
                "cosine": np.round(G[ia, ib], 6),
            }
        )

    big_pairs = tiled.groupBy(block_col, "__ta", "__tb").applyInPandas(
        tile_gram, out_schema
    )
    return small_pairs.unionByName(big_pairs)


# --- random-hyperplane (sign) LSH for cosine ANN ------------------------------

def hyperplane_coeffs(table: int, plane: int, dim: int) -> list[float]:
    """Deterministic pseudo-random hyperplane components: integer
    values in [-1000, 1000] from md5(table:plane:j) — integer-exact in
    fp64, so the Spark expression and the DuckDB oracle build
    bit-identical hyperplanes without sharing any state (both sides'
    SQL is generated from THIS function).

    History: the original generator was the linear congruence
    ((t*53 + i*31 + j*17) mod 7) - 3. Because 53≡4, 31≡3, 17≡3
    (mod 7), plane i+7 duplicated plane i (3·7≡0) — at n_planes≥7 a
    table had only 7 distinct hyperplanes — and table 1's plane set was
    a permutation of table 0's (3i'≡3i+4 solvable ∀i), so the two
    tables produced IDENTICAL bucketings and the second table added
    zero recall. Found by the 10× scale probe: occupied cells barely
    grew with corpus size (119→126 of 4096) while max bucket exploded.
    md5 has no such lattice structure; scale is irrelevant for sign
    LSH (only direction matters)."""
    import hashlib

    return [
        float(
            int.from_bytes(
                hashlib.md5(f"{table}:{plane}:{j}".encode()).digest()[:4],
                "big",
            )
            % 2001
            - 1000
        )
        for j in range(dim)
    ]


def hyperplane_signature(
    vec: Column, table: int, n_planes: int, dim: int
) -> Column:
    """Sign-LSH signature (Charikar 2002): one bit per hyperplane —
    '1' iff dot(vec, h_i) >= 0 — concatenated into an ``n_planes``-char
    bucket key. Vectors with small angular distance agree on most
    bits, so exact-match bucketing on the signature is a cosine LSH.

    One projection, ONE compiled lambda: the hyperplane matrix is a
    single nested SQL-array literal (a per-plane ``F.lit`` loop costs
    n_planes x dim blocking py4j calls, ~4 s of driver time at 12x64,
    measured) and the per-plane dot is
    a runtime ``transform`` over it. The fold accumulates fp64 in
    element order, matching the oracle's sequential list_sum."""
    harr = F.expr(
        "array("
        + ",".join(
            "array("
            + ",".join(f"CAST({c:.1f} AS DOUBLE)" for c in hyperplane_coeffs(table, i, dim))
            + ")"
            for i in range(n_planes)
        )
        + ")"
    )
    bits = F.transform(
        F.sequence(F.lit(1), F.lit(n_planes)),
        lambda i: F.when(
            F.aggregate(
                F.zip_with(vec, F.element_at(harr, i), lambda x, y: x * y),
                F.lit(0.0),
                lambda acc, v: acc + v,
            )
            >= 0,
            F.lit("1"),
        ).otherwise(F.lit("0")),
    )
    return F.array_join(bits, "")


def hyperplane_ann_top1(
    vectors: DataFrame,
    n_tables: int = 2,
    n_planes: int = 6,
    dim: int = 64,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Approximate nearest neighbor via L sign-LSH tables: candidates
    are pairs sharing a bucket in ANY table (union-distinct), re-ranked
    by exact cosine; emit each vector's top-1 candidate plus how many
    candidates were examined.

    Scale shape: L narrow projections + L bucket-key equi-joins (AQE
    skew-splittable; bucket population is controlled by n_planes — add
    bits to shrink buckets) + one |candidates| window. The exact-cosine
    rerank never sees more than the bucket mates, so total cost is
    sum(bucket²) per table, not |corpus|² — same contract as the
    minhash-LSH verify stage (dedup.py), re-used for dense vectors.

    The (vid, bucket..., vector, norm) table is PERSISTED: it is the
    LSH index itself — like a FAISS IVF list, the index stores the
    payload it reranks with, so at rest you'd write it bucketed by
    ``bucket`` and every table's self-join co-locates with zero
    shuffle. Without the persist each of the 2L
    join branches re-ran the signature projection over the corpus.

    Rerank is BUCKET-LOCAL: the cosine is computed inside each
    table's bucket self-join projection, so vectors travel once per
    (vector, table-side) and only 24-byte (qid, cid, cos) rows flow
    into the cross-table dedup and the top-1 window. The earlier
    candidates-then-lookup form (distinct pairs, then two joins to
    re-attach vectors) shipped a pair×vector intermediate — |pairs| ×
    ~550 B through the second join's shuffle, 1.48 GB at the 100×
    probe scale vs ~12 MB of pair traffic here (measured; the
    candidate-volume law is the same, the constant is 20×)."""
    from .cache import replace_owned_cache

    v = vectors.select(
        F.col(id_col).alias("vid"), as_double(F.col(vec_col)).alias("v")
    )
    # norms once per VECTOR, not once per pair (the norm sqrt is the
    # same expression the oracle computes, evaluated in the earlier
    # projection — fp-identical).
    aug = replace_owned_cache(
        "hyperplane_ann_index",
        v.select(
            "vid",
            "v",
            norm(F.col("v")).alias("n"),
            *[
                hyperplane_signature(F.col("v"), t, n_planes, dim).alias(f"b{t}")
                for t in range(n_tables)
            ],
        ),
    )
    scored = None
    for tbl in range(n_tables):
        a = aug.select(
            F.col("vid").alias("qid"), F.col(f"b{tbl}").alias("bk"),
            F.col("v").alias("qv"), F.col("n").alias("qn"),
        )
        b = aug.select(
            F.col("vid").alias("cid"), F.col(f"b{tbl}").alias("bk"),
            F.col("v").alias("cv"), F.col("n").alias("cn"),
        )
        p = (
            a.join(b, "bk")
            .filter(F.col("qid") != F.col("cid"))
            .select(
                "qid",
                "cid",
                (
                    dot(F.col("qv"), F.col("cv"))
                    / (F.col("qn") * F.col("cn"))
                ).alias("cos"),
            )
        )
        scored = p if scored is None else scored.unionByName(p)
    # a pair found by BOTH tables carries the identical cosine (same
    # fp expression over the same vectors) — max() is pure dedup
    cand = scored.groupBy("qid", "cid").agg(F.max("cos").alias("cos"))
    w = Window.partitionBy("qid")
    wrk = w.orderBy(F.desc("cos"), F.asc("cid"))
    return (
        cand.select(
            "qid",
            "cid",
            "cos",
            F.row_number().over(wrk).alias("rk"),
            F.count(F.lit(1)).over(w).cast("bigint").alias("n_cand"),
        )
        .filter(F.col("rk") == 1)
        .select(
            F.col("qid").alias("vec_id"),
            F.col("cid").alias("nn_id"),
            F.round("cos", 6).alias("cosine"),
            "n_cand",
        )
    )


# --- product quantization (PQ) ------------------------------------------------

def _pq_sub_sql(vec_col: str, m: int) -> str:
    """SQL text: the m contiguous fp64 subvectors of ``vec_col``."""
    sub = f"(size({vec_col}) div {m})"
    return (
        f"transform(sequence(1, {m}), s -> "
        f"slice({as_double_sql(vec_col)}, (s - 1) * {sub} + 1, {sub}))"
    )


def _sq_dist_sql(a: str, b: str) -> str:
    """SQL text: sequential left-fold fp64 squared L2 distance."""
    return (
        f"aggregate(zip_with({a}, {b}, (x, y) -> (x - y) * (x - y)),"
        " 0.0D, (acc, d) -> acc + d)"
    )


def _pq_argmin_sql(m: int, vec_col: str) -> str:
    """SQL text over the ``_pq_cb`` quantizer column: the
    subspace-ordered ``array<struct<err, code>>`` of per-subspace argmin
    structs. The vector is cast and sliced once per subspace (q, index
    i), not once per (subspace, code) pair (encoding 1.7 -> 1.0 s at
    sf0.1). (err, code) struct order makes ``array_min`` the argmin with
    a min-code tie-break."""
    sub = f"(size({vec_col}) div {m})"
    cb_sub = f"slice(c.v, i * {sub} + 1, {sub})"
    return (
        f"transform({_pq_sub_sql(vec_col, m)}, (q, i) -> "
        "array_min(transform(_pq_cb, c -> named_struct("
        f"'err', {_sq_dist_sql('q', cb_sub)}, 'code', c.id))))"
    )


def pq_codes(
    vectors: DataFrame,
    codebook: DataFrame,
    m: int = 8,
    vec_col: str = "embedding",
    cb_id: str = "code_id",
    cb_vec: str = "cvec",
) -> DataFrame:
    """Array-native PQ encoding: adds ``codes`` (``array<bigint>``,
    ``codes[s]`` = subspace s's code), the same per-subspace argmin as
    ``pq_encode`` on one row instead of long-form rows. An index builder
    fuses it with ``ivf_assign`` into one zero-shuffle projection; the
    values equal ``pq_encode``'s, widened by subspace."""
    return (
        vectors.withColumn("_pq_cb", quantizer(codebook, cb_id, cb_vec))
        .selectExpr(
            "*", f"transform({_pq_argmin_sql(m, vec_col)}, b -> b.code) AS codes"
        )
        .drop("_pq_cb")
    )


def pq_encode(
    vectors: DataFrame,
    codebook: DataFrame,
    m: int = 8,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    cb_id: str = "code_id",
    cb_vec: str = "cvec",
) -> DataFrame:
    """Product-quantization encoding (Jégou et al., TPAMI 2011): split
    each vector into ``m`` contiguous subvectors and replace each with
    the id of its nearest codebook entry's matching subvector (argmin
    squared L2, tie-break code id asc). A 64-dim fp32 vector becomes
    ``m`` small codes — the memory layout every billion-scale ANN
    index (IVF-PQ) stores instead of raw vectors.

    Long-form output (vec_id, sub, code, err): err is the subspace
    quantization error, whose sum estimates reconstruction MSE.

    Scale shape: one narrow projection over the corpus (a ``transform``
    over subspaces, a fold per code against the ``quantizer`` codebook)
    followed by one row expansion — zero shuffle, zero joins, stream-safe.
    fp64 accumulation is sequential in element order so the DuckDB
    oracle reproduces distances bit-for-bit."""
    # The argmin runs in a Project, where the codebook subquery is
    # inlined, and the Generate reads its column: a Generate does not
    # absorb the Project below it, so generating from the argmin
    # expression would copy the codebook into every row. The generator
    # input is an expression over that column, not the bare column,
    # from which the optimizer would infer a ``size(...) > 0`` filter
    # that recomputes the argmin below the Project.
    return (
        vectors.withColumn("_pq_cb", quantizer(codebook, cb_id, cb_vec))
        .selectExpr(id_col, f"{_pq_argmin_sql(m, vec_col)} AS _pq_e")
        .selectExpr(
            id_col,
            "inline(transform(_pq_e, (e, i) -> named_struct("
            "'sub', CAST(i + 1 AS BIGINT), 'code', e.code,"
            " 'err', round(e.err, 6))))",
        )
    )


def ivfpq_probe(
    index: DataFrame,
    queries: DataFrame,
    centroids: DataFrame,
    codebook: DataFrame,
    m: int = 8,
    k: int = 5,
    qid_col: str = "qid",
    qvec_col: str = "qvec",
    cb_id: str = "code_id",
    cb_vec: str = "cvec",
) -> DataFrame:
    """ADC probe over an at-rest IVF-PQ index (Jégou et al. 2011):
    ``index`` is the (vec_id, bucket, codes) table — built in batch
    (s6) or grown by the streaming ingest (streaming/ann_ingest.py) —
    and is the ONLY corpus-sized input: candidate distances come from
    the m codes against the codebook, never the raw vectors. Each query
    is assigned its cell by ``ivf_assign`` and searches only that cell
    (equi-join on bucket against broadcast queries); top-k by
    asymmetric distance, tie-break candidate id.

    ADC is one SQL-text expression over the query's subvectors; the
    outer aggregate sums the m partial distances left to right, as the
    oracle does."""
    qassigned = ivf_assign(
        queries, centroids, id_col=qid_col, vec_col=qvec_col
    ).select(qid_col, qvec_col, F.col("bucket").alias("qbucket"))
    sub = f"(size({qvec_col}) div {m})"
    code_sub = (
        "slice(element_at(_pq_cb, CAST(element_at(codes, i + 1) + 1 AS INT)).v,"
        f" i * {sub} + 1, {sub})"
    )
    adc = (
        f"aggregate(transform({_pq_sub_sql(qvec_col, m)}, (q, i) -> "
        f"{_sq_dist_sql('q', code_sub)}), 0.0D, (acc, p) -> acc + p)"
    )
    scored = (
        index.join(
            F.broadcast(qassigned),
            (F.col("bucket") == F.col("qbucket"))
            & (F.col("vec_id") != F.col(qid_col)),
        )
        .withColumn("_pq_cb", quantizer(codebook, cb_id, cb_vec))
        .selectExpr("*", f"{adc} AS adc")
    )
    w = Window.partitionBy(qid_col).orderBy(F.asc("adc"), F.asc("vec_id"))
    return (
        scored.withColumn("rk", F.row_number().over(w))
        .filter(F.col("rk") <= k)
        .select(
            qid_col,
            F.col("vec_id").alias("cid"),
            F.round("adc", 6).alias("adc"),
            F.col("rk").cast("bigint").alias("rk"),
        )
    )


# --- incremental semantic dedup (daily ingest vs at-rest keepers) -------------

def incremental_semdedup(
    new_vecs: DataFrame,
    keeper_index: DataFrame,
    centroids: DataFrame,
    tau: float = 0.3,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    assign_fn=None,
) -> DataFrame:
    """SemDeDup for a NEW batch against the at-rest keeper set — the
    embedding-side twin of dedup.py's incremental LSH: work is
    new×(cell keepers) + new×new, never keeper×keeper, so daily cost
    scales with the batch, not the corpus.

    ``keeper_index`` is the surviving-vector table WITH its ``bucket``
    column (what d9 keeps / streaming/ann_ingest.py appends). A new
    vector is dropped iff its cell holds a keeper neighbor at
    cosine >= tau, or a lower-id NEW neighbor (d9's min-id policy
    within the batch). When keeper ids precede batch ids — the
    monotone-id ingest convention — this equals running full d9 over
    (keepers ∪ batch) restricted to the batch, EXACTLY (asserted by
    test); like any dedup-at-rest, a new vector near only a PREVIOUSLY
    DROPPED vector (not its keeper) passes — dropped vectors are gone,
    which is the production contract.

    Scale shape: one assignment projection for the batch, one equi-join on ``bucket`` against the (bucket-partitioned,
    pruned) keeper index, and the tiled within-batch near-dup stage.
    """
    # assign_fn: ivf_assign (SQL fold, small k — the oracle path) or
    # ivf_assign_arrow (matmul, large k deployments).
    # Owned-cache: a_new feeds the keeper join, the within-batch gram
    # stage, AND the final verdict join — uncached, the batch scan +
    # assignment projection runs three times (the d12 multi-consumer
    # recompute pattern). Batch-only operator (no streaming call
    # sites), so persist is safe.
    from .cache import replace_owned_cache

    a_new = replace_owned_cache(
        "incremental_semdedup_assigned",
        (assign_fn or ivf_assign)(
            new_vecs, centroids, id_col=id_col, vec_col=vec_col
        ),
    )
    dv = as_double_sql(vec_col)
    kv = keeper_index.select(
        F.col("bucket").alias("kb"),
        F.expr(dv).alias("kvec"),
        F.expr(norm_sql(dv)).alias("kn"),
    )
    nv = a_new.select(
        id_col,
        "bucket",
        F.expr(dv).alias("nvec"),
        F.expr(norm_sql(dv)).alias("nn_"),
    )
    near_keeper = (
        nv.join(kv, nv["bucket"] == kv["kb"])
        .withColumn(
            "cos",
            F.expr(f"{dot_sql('nvec', 'kvec')} / (nn_ * kn)"),
        )
        .filter(F.col("cos") >= tau)
        .select(id_col)
        .distinct()
    )
    near_lower_new = blocked_neardup_pairs(
        a_new, block_col="bucket", min_cosine=tau,
        id_col=id_col, vec_col=vec_col,
    ).select(F.col("vec_b").alias(id_col)).distinct()
    dropped = near_keeper.unionByName(near_lower_new).distinct().withColumn(
        "_dup", F.lit(1)
    )
    return (
        a_new.join(dropped, id_col, "left")
        .select(
            id_col,
            F.col("bucket").cast("bigint").alias("bucket"),
            F.when(F.col("_dup").isNull(), 1).otherwise(0).alias("kept"),
        )
    )
