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
  nearest centroid (broadcast centroids — IVF-Flat's cell assignment),
  persist partitioned by ``bucket``; queries then probe only
  their own cell(s), turning ANN into a partition-pruned equi-join.
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


def double_literal_sql(v: float) -> str:
    """ONE SQL double literal, shortest-repr round-trip.

    ``0.123D`` (Spark's double-literal suffix) parses straight to a
    double Literal node — verified bit-identical to the older
    ``CAST('<repr>' AS DOUBLE)`` form across subnormals, max-double,
    and exponent reprs ('1e-05', '1.5e+20') — at ~40% less parse text
    and HALF the expression nodes (no per-element Cast for the
    analyzer to resolve in the codebook/centroid literal tables). Non-finite values (never produced by the vector
    paths, but cheap to guard) fall back to the CAST form, which
    Spark parses for 'inf'/'nan'."""
    import math

    if math.isfinite(v):
        return f"{v!r}D"
    return f"CAST('{v!r}' AS DOUBLE)"


def double_array_sql(values) -> str:
    """SQL array literal of doubles (one JVM parse for the whole
    table instead of one py4j call per element — see ivf_assign)."""
    return "array(" + ",".join(double_literal_sql(v) for v in values) + ")"


def as_double_sql(vec: str) -> str:
    """SQL text: float[] -> double[] (see ``as_double``)."""
    return f"transform({vec}, x -> CAST(x AS DOUBLE))"


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
    return F.transform(vec, lambda x: x.cast("double"))


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


def ivf_assign(
    corpus: DataFrame,
    centroids: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    centroid_id: str = "centroid_id",
    centroid_vec: str = "cvec",
    crows: list[tuple[int, list[float]]] | None = None,
) -> DataFrame:
    """IVF cell assignment: nearest centroid by cosine (argmax,
    tie-break centroid id asc). Output adds ``bucket``.

    Centroids are tiny BY DEFINITION (they are the coarse quantizer),
    so they are collected once and inlined as literals: assignment
    becomes ONE narrow projection — per row, a fold-cosine against
    each centroid and an ``array_max`` over ``(csim, -id)`` structs
    (lexicographic struct max = argmax with min-id tie-break). Zero
    shuffle, zero row expansion, whole-stage codegen; the earlier
    join+window form materialized |corpus|x|centroids| rows and paid
    an exchange on ``id_col`` for the argmax window.

    Cross-engine fidelity: the per-element fold order is unchanged, and
    the centroid norm is precomputed with the same sequential fp64
    accumulation (plain left-to-right +=, NOT math.fsum) that both the
    Spark fold and DuckDB's list_sum use, so assignments stay
    bit-identical to the oracle's.

    ``crows`` short-circuits the collect: call sites that already hold
    the centroid rows (s6 collects centroids+codebook in ONE head scan)
    pass [(id, vec), ...] and no Spark job runs here.
    """
    if crows is None:
        crows = [
            (int(r[centroid_id]), [float(x) for x in r[centroid_vec]])
            for r in centroids.select(centroid_id, centroid_vec).collect()
        ]
    crows = sorted((int(i), [float(x) for x in v]) for i, v in crows)
    ids, vecs, norms = [], [], []
    for i, v in crows:
        ids.append(i)
        vecs.append(v)
        acc = 0.0
        for x in v:
            acc += x * x
        norms.append(acc ** 0.5)
    # three literals + ONE lambda body: unrolling a fold expression per
    # centroid instead compiles k x dim codegen units (~0.9s per plan
    # at 8x64); this form loops over centroids at runtime with a single
    # compiled fold, same element order.
    # Each literal is ONE F.expr over a SQL array string, not
    # F.lit(nested_list): pyspark expands a nested-list lit into one
    # blocking py4j call PER ELEMENT (8x64 = 512 round-trips, ~4.5 s of
    # driver time per construction, measured); the SQL text parses
    # JVM-side in one call. CAST('<repr>' AS DOUBLE) round-trips every
    # IEEE-754 double exactly (shortest-repr parse), so values are
    # bit-identical to the lit form.
    _darr = double_array_sql

    cvecs = "array(" + ",".join(_darr(vv) for vv in vecs) + ")"
    cnorms = _darr(norms)
    cids = "array(" + ",".join(f"{i}L" for i in ids) + ")"
    # the WHOLE projection is one server-parsed expression string
    # (the lambda-HOF form of this transform alone cost ~0.2 s of
    # py4j chatter per construction; the text parses in one call).
    # named_struct field order (s, negid) preserves the lexicographic
    # array_max argmax-with-min-id-tie-break.
    v = as_double_sql(vec_col)
    vnorm = norm_sql(v)
    entries = (
        f"transform(sequence(1, {len(crows)}), i -> named_struct("
        f"'s', {dot_sql(v, f'element_at({cvecs}, i)')}"
        f" / ({vnorm} * element_at({cnorms}, i)), "
        f"'negid', CAST(-element_at({cids}, i) AS BIGINT)))"
    )
    return corpus.select(
        "*",
        F.expr(
            f"CAST(-(array_max({entries}).negid) AS BIGINT)"
        ).alias("bucket"),
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

    The literal-expression form is the right shape for coarse-quantizer
    k ≤ ~16 (one codegen fold, zero Python) and is what every oracle
    query uses. But its runtime is a per-row interpreted loop over k
    centroids and its plan literal grows with k·dim — at k=100 the
    assignment alone dominated the d13 probe wall (45 s vs 19 s,
    measured). Cell-size-bounded deployments retrain k ∝ N
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

    crows = sorted(
        centroids.select(centroid_id, centroid_vec).collect(),
        key=lambda r: r[centroid_id],
    )
    ids = np.array([int(r[centroid_id]) for r in crows], dtype=np.int64)
    C = np.stack(
        [np.asarray(r[centroid_vec], dtype=np.float64) for r in crows]
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
    single nested SQL-array literal (the ivf_assign construction — a
    per-plane ``F.lit`` loop costs n_planes x dim blocking py4j calls,
    ~4 s of driver time at 12x64, measured) and the per-plane dot is
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

def _pq_best_structs_builder(
    codebook: DataFrame,
    m: int,
    vec_col: str,
    cb_id: str,
    cb_vec: str,
    crows: list[tuple[int, list[float]]] | None,
):
    """Shared core of pq_encode / pq_codes_column: returns the sorted
    codebook rows and ONE SQL-text expression producing the
    subspace-ordered ``array<struct<err,code>>`` of per-subspace argmin
    structs (loop over s = 1..m).

    The whole thing is ONE F.expr string parsed JVM-side: the original
    per-subspace pyspark lambda construction (transform/aggregate/
    zip_with per sub) cost ~1.5 s of py4j round-trips PER PLAN BUILD;
    one ANTLR parse of the equivalent SQL is ~50 ms. Loop form: the
    codebook is inlined ONCE as a k x dim nested array literal and
    sliced per subspace INSIDE the s-loop, instead of unrolling m copies of the argmin structure each
    carrying its own k x (dim/m) literal slice — same total literal
    count, but the fold/argmin expression tree appears once instead of
    m times, so the parsed text and analyzed tree shrink ~8x on the
    structure (s6's measured analyzer floor was 0.68 s/construct).
    Expression semantics: same literal encoding, same per-element
    subtraction order (slice commutes with the old pre-sliced
    literals element-for-element), same left-to-right fold, same
    (err, code) struct comparison for the argmin — so values and
    oracle hashes are unaffected."""
    if crows is None:
        crows = [
            (int(r[cb_id]), [float(x) for x in r[cb_vec]])
            for r in codebook.select(cb_id, cb_vec).collect()
        ]
    crows = sorted((int(i), [float(x) for x in v]) for i, v in crows)
    k = len(crows)
    dim = len(crows[0][1])
    sub = dim // m

    _darr = double_array_sql
    cids = "array(" + ",".join(f"{i}L" for i, _ in crows) + ")"
    cbfull = "array(" + ",".join(_darr(v) for _, v in crows) + ")"
    vd = f"transform({vec_col}, x -> CAST(x AS DOUBLE))"

    structs = (
        f"transform(sequence(1,{m}), s -> "
        f"array_min(transform(sequence(1,{k}), c -> named_struct("
        f"'err', aggregate(zip_with(slice({vd}, (s - 1) * {sub} + 1, {sub}),"
        f" slice(element_at({cbfull}, c), (s - 1) * {sub} + 1, {sub}),"
        f" (x, y) -> (x - y) * (x - y)),"
        f" CAST(0.0 AS DOUBLE), (acc, d) -> acc + d),"
        f" 'code', element_at({cids}, c)))))"
    )
    return crows, structs


def pq_codes_column(
    codebook: DataFrame,
    m: int = 8,
    vec_col: str = "embedding",
    cb_id: str = "code_id",
    cb_vec: str = "cvec",
    crows: list[tuple[int, list[float]]] | None = None,
):
    """Array-native PQ encoding: the same per-subspace argmin as
    ``pq_encode`` emitted as ONE ``array<bigint>`` Column
    (``codes[s]`` = subspace s's code, s = 1..m) instead of long-form
    rows. Lets an index builder FUSE coarse assignment and encoding
    into a single zero-shuffle projection over the corpus — no
    posexplode row expansion, no widen groupBy exchange, no vec_id
    self-join (s6's index build went from 3 exchanges + 1 join to a
    pure map stage). Code values are bit-identical to
    pq_encode -> pq_widen (same literals, same fold, same (err, code)
    tie-break)."""
    _, structs = _pq_best_structs_builder(
        codebook, m, vec_col, cb_id, cb_vec, crows
    )
    return F.expr(f"transform({structs}, b -> b.code)")


def pq_encode(
    vectors: DataFrame,
    codebook: DataFrame,
    m: int = 8,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    cb_id: str = "code_id",
    cb_vec: str = "cvec",
    crows: list[tuple[int, list[float]]] | None = None,
) -> DataFrame:
    """Product-quantization encoding (Jégou et al., TPAMI 2011): split
    each vector into ``m`` contiguous subvectors and replace each with
    the id of its nearest codebook entry's matching subvector (argmin
    squared L2, tie-break code id asc). A 64-dim fp32 vector becomes
    ``m`` small codes — the memory layout every billion-scale ANN
    index (IVF-PQ) stores instead of raw vectors.

    Long-form output (vec_id, sub, code, err): err is the subspace
    quantization error, whose sum estimates reconstruction MSE.

    Scale shape: the codebook is tiny BY DEFINITION (k entries x dim),
    so like ivf_assign it is collected once and inlined as ONE nested
    SQL-array literal; encoding is a single narrow projection (a
    ``transform`` over subspaces, a fold per code) followed by one
    posexplode — zero shuffle, zero joins, whole-stage codegen, and
    stream-safe. fp64 accumulation is sequential in element order so
    the DuckDB oracle reproduces distances bit-for-bit.

    ``crows`` = pre-collected [(code_id, vec), ...] to skip the collect
    job (see ivf_assign)."""
    crows, structs = _pq_best_structs_builder(
        codebook, m, vec_col, cb_id, cb_vec, crows
    )
    encoded = vectors.select(
        F.col(id_col),
        F.posexplode(F.expr(structs)).alias("pos", "e"),
    )
    return encoded.select(
        id_col,
        (F.col("pos") + 1).cast("bigint").alias("sub"),
        F.col("e.code").alias("code"),
        F.round(F.col("e.err"), 6).alias("err"),
    )


def pq_widen(codes_long: DataFrame, id_col: str = "vec_id") -> DataFrame:
    """Widen pq_encode's long form to one row per vector with a
    subspace-ordered ``codes`` array — the 8-byte-per-vector layout the
    at-rest IVF-PQ index stores. One groupBy shuffle."""
    return codes_long.groupBy(id_col).agg(
        F.transform(
            F.array_sort(
                F.collect_list(F.struct(F.col("sub"), F.col("code")))
            ),
            lambda s: s["code"],
        ).alias("codes")
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
    cb_rows: list[tuple[int, list[float]]] | None = None,
    centroid_rows: list[tuple[int, list[float]]] | None = None,
    queries_assigned: DataFrame | None = None,
) -> DataFrame:
    """ADC probe over an at-rest IVF-PQ index (Jégou et al. 2011):
    ``index`` is the (vec_id, bucket, codes) table — built in batch
    (s6) or grown by the streaming ingest (streaming/ann_ingest.py) —
    and is the ONLY corpus-sized input: candidate distances come from
    the m codes against the codebook literal, never the raw vectors.
    Each query searches its own cell (equi-join on bucket against
    broadcast queries); top-k by asymmetric distance, tie-break
    candidate id. Extracted from the s6 query so the batch query and
    the streaming-serving test drive ONE implementation.

    ``cb_rows`` / ``centroid_rows`` = pre-collected [(id, vec), ...]
    so a caller that already scanned the quantizers (s6 does one head
    scan for both) spawns no extra collect jobs here.
    ``queries_assigned`` = a pre-assigned (qid, qvec, qbucket) frame;
    when the caller already knows the query cells (s6 computes them on
    the driver from the same head collect — k-sized work, same
    sequential fp64 arithmetic as ivf_assign), the probe-side
    assignment expression (another centroid-literal tree for the
    analyzer) and its scan are skipped entirely."""
    if cb_rows is None:
        cb_rows = [
            (int(r[cb_id]), [float(x) for x in r[cb_vec]])
            for r in codebook.select(cb_id, cb_vec).collect()
        ]
    crows = sorted((int(i), [float(x) for x in v]) for i, v in cb_rows)
    dim = len(crows[0][1])
    sub = dim // m

    _darr = double_array_sql

    if queries_assigned is not None:
        qassigned = queries_assigned
    else:
        qassigned = ivf_assign(
            queries, centroids, id_col=qid_col, vec_col=qvec_col,
            crows=centroid_rows,
        ).select(qid_col, qvec_col, F.col("bucket").alias("qbucket"))
    # ADC as ONE parsed SQL expression (same py4j-chatter rationale as
    # pq_encode), loop form (see _pq_best_structs_builder): the
    # codebook is inlined ONCE as a k x dim literal and sliced per
    # subspace inside the s-loop instead of unrolling m pre-sliced
    # copies. Per-element subtraction order is unchanged and the outer
    # aggregate's left-to-right partial sum matches the previous
    # explicit (p1) + (p2) + ... chain exactly (0.0D + p1 == p1: every
    # partial is a sum of squares, +0.0 or positive, never -0.0), so
    # distances are bit-identical.
    qvd = f"transform({qvec_col}, x -> CAST(x AS DOUBLE))"
    cbfull = "array(" + ",".join(_darr(v) for _, v in crows) + ")"
    adc = F.expr(
        f"aggregate(transform(sequence(1,{m}), s -> "
        f"aggregate(zip_with(slice({qvd}, (s - 1) * {sub} + 1, {sub}),"
        f" slice(element_at({cbfull}, CAST(element_at(codes, s) + 1 AS INT)),"
        f" (s - 1) * {sub} + 1, {sub}),"
        f" (x, y) -> (x - y) * (x - y)),"
        f" CAST(0.0 AS DOUBLE), (acc, d) -> acc + d)),"
        f" CAST(0.0 AS DOUBLE), (acc, p) -> acc + p)"
    )
    scored = index.join(
        F.broadcast(qassigned),
        (F.col("bucket") == F.col("qbucket"))
        & (F.col("vec_id") != F.col(qid_col)),
    ).withColumn("adc", adc)
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

    Scale shape: one broadcast-literal assignment projection for the
    batch, one equi-join on ``bucket`` against the (bucket-partitioned,
    pruned) keeper index, and the tiled within-batch near-dup stage.
    """
    # assign_fn: ivf_assign (literal-expression, small k — the oracle
    # path) or ivf_assign_arrow (matmul, large k deployments).
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
