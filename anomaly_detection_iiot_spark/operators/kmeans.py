"""Lloyd's k-means over an embedding column — IVF/PQ codebook TRAINING.

Closes the loop on the ANN family: s2/s6's coarse quantizers and PQ
codebooks were fixed vectors picked from the corpus; this module trains
them. Reference parity: the reference has no clustering (its models are
autoencoders), so this sits in the extension family BASELINE.json
requires (embedding similarity / dedup machinery at 100 TB needs
trained coarse quantizers).

Execution model (the same one Spark MLlib KMeans uses):
- centroids are TINY by definition → they live on the driver between
  iterations; each TRAINING iteration is ONE fused Arrow pass over the
  corpus (``lloyd_update_stats``: per-batch dense-matmul assignment
  folded straight into per-bucket (count, sum) partials) followed by a
  <= tasks*k*(dim+1)-row exchange — MLlib's mapPartitions +
  treeAggregate shape. Corpora under ``LOCAL_TRAIN_ROWS`` skip the
  distributed loop entirely: one bounded collect, numpy Lloyd on the
  driver, identical math (the broadcast-join-threshold principle).
- SERVING assignment (``assign_centroids``) dispatches literal-fold
  (zero Python, oracle-exact fold order) vs Arrow matmul on codebook size.
- the corpus is persisted across iterations by the caller if it is
  worth it (at 100 TB: MEMORY_AND_DISK on the projected 2-column
  frame, ~pointer-free Tungsten rows).

Cross-engine determinism (DuckDB oracle = the same loop unrolled as
chained CTEs):
- assignment keys on squared L2 with min-centroid-id tie-break — an
  integer decision, robust to fp noise;
- updated centroids are rounded to 9 decimals in BOTH engines before
  the next iteration, so cross-engine summation-order noise (~1e-15)
  cannot compound across iterations;
- folds accumulate left-to-right in fp64 exactly like DuckDB's
  list_sum.
"""

from __future__ import annotations

import math
import warnings

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from .similarity import norm

# Above this many centroid doubles (k x dim), nearest-centroid
# assignment switches from the literal-expression fold to the Arrow
# matmul path: the literal plan's parse/codegen cost grows with k*dim
# (2.6 s compile at just k=8/dim=64 worth of per-iteration literals was
# the r8 s13 finding) and its runtime is an interpreted per-row loop
# over k, while the Arrow path is one dense numpy matmul per batch with
# a centroid matrix shipped once per task. k=8 coarse quantizers stay
# on the literal path (zero Python, oracle-exact fold order); k=4096
# quantizers get the matmul.
LITERAL_CENTROID_BUDGET = 4096


def _darr(values) -> str:
    """SQL array literal of doubles, one JVM parse instead of one py4j
    call per element. Each finite value is its shortest repr with
    Spark's ``D`` suffix, which parses to a bit-identical double Literal
    (subnormals, max-double and exponent reprs included); non-finite
    values fall back to ``CAST('<repr>' AS DOUBLE)``."""
    return "array(" + ",".join(
        f"{v!r}D" if math.isfinite(v) else f"CAST('{v!r}' AS DOUBLE)"
        for v in values
    ) + ")"


def assign_literal(
    corpus: DataFrame,
    centroids: list[tuple[int, list[float]]],
    vec_col: str = "embedding",
) -> DataFrame:
    """Nearest-centroid assignment (squared L2, min-id tie-break) as a
    narrow projection over literal centroids: adds ``bucket`` (long)
    and ``dist`` (double, squared L2 to the winning centroid). Zero
    shuffle, zero row expansion."""
    cents = sorted(centroids)
    cvecs = "array(" + ",".join(_darr(v) for _, v in cents) + ")"
    cids = "array(" + ",".join(f"{int(i)}L" for i, _ in cents) + ")"
    # ONE server-side-parsed expression (the s6/t16 pattern): the
    # Python-lambda HOF form cost hundreds of py4j round trips per
    # construction, and kmeans_train constructs this once per Lloyd
    # iteration. Fold order (left-to-right aggregate) and the
    # (dist, cid) lexicographic array_min tie-break are IDENTICAL to
    # the previous form — oracle-exact.
    best = F.expr(
        f"""array_min(transform(sequence(1, {len(cents)}),
  i -> named_struct(
    'd', aggregate(zip_with(transform(`{vec_col}`, x -> cast(x AS double)),
                            element_at({cvecs}, i),
                            (x, y) -> (x - y) * (x - y)),
                   cast(0 AS double), (acc, d) -> acc + d),
    'cid', element_at({cids}, i))))"""
    )
    return corpus.select(
        "*",
        best.getField("cid").alias("bucket"),
        best.getField("d").alias("dist"),
    )


def assign_arrow(
    corpus: DataFrame,
    centroids: list[tuple[int, list[float]]],
    vec_col: str = "embedding",
) -> DataFrame:
    """Large-k twin of ``assign_literal``: squared-L2 nearest centroid
    as one dense numpy computation per Arrow batch (mapInPandas, zero
    shuffle). Ids are sorted ascending and argmin takes the first
    minimum, so exact-distance ties break to the smallest centroid id —
    the same integer decision as the literal fold. fp summation is
    numpy's pairwise order instead of the fold's sequential order, so
    assignments can differ only on distances equal to within summation
    error (the dispatch test asserts agreement on the real corpus)."""
    import numpy as np
    import pandas as pd

    from pyspark.sql.types import DoubleType, LongType, StructField, StructType

    cents = sorted(centroids)
    ids = np.array([int(i) for i, _ in cents], dtype=np.int64)
    C = np.stack([np.asarray(v, dtype=np.float64) for _, v in cents])
    c_sq = (C * C).sum(axis=1)
    out_schema = StructType(
        list(corpus.schema.fields)
        + [StructField("bucket", LongType()), StructField("dist", DoubleType())]
    )

    def batches(it):
        for pdf in it:
            if len(pdf) == 0:
                continue
            V = np.stack(
                [np.asarray(v, dtype=np.float64) for v in pdf[vec_col]]
            )
            # ||v-c||^2 = ||v||^2 - 2 v.c + ||c||^2, argmin over c;
            # recompute the winner's exact distance with a direct
            # difference so the reported dist has no cancellation
            d2 = (V * V).sum(axis=1, keepdims=True) - 2.0 * (V @ C.T) + c_sq
            win = d2.argmin(axis=1)
            diff = V - C[win]
            out = pdf.copy()
            out["bucket"] = ids[win]
            out["dist"] = (diff * diff).sum(axis=1)
            yield out

    return corpus.mapInPandas(batches, schema=out_schema)


def assign_centroids(
    corpus: DataFrame,
    centroids: list[tuple[int, list[float]]],
    vec_col: str = "embedding",
) -> DataFrame:
    """Dispatch on codebook size: literal fold below
    ``LITERAL_CENTROID_BUDGET`` centroid doubles, Arrow matmul above
    (compile cost flat in k on that path)."""
    n_doubles = sum(len(v) for _, v in centroids)
    if n_doubles <= LITERAL_CENTROID_BUDGET:
        return assign_literal(corpus, centroids, vec_col=vec_col)
    return assign_arrow(corpus, centroids, vec_col=vec_col)


def kmeans_train(
    corpus: DataFrame,
    k: int,
    iters: int,
    dim: int,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    on_empty: str = "shrink",
) -> tuple[list[tuple[int, list[float]]], DataFrame]:
    """Train k centroids for ``iters`` Lloyd iterations, seeded from
    the first k rows by ``id_col`` (deterministic, engine-portable).

    Returns (final centroids, final assignment DataFrame with bucket +
    dist). Iterations execute EAGERLY at call time (each collects k
    tiny centroid rows — the driver round loop m9/FedAvg also uses);
    the returned assignment is lazy against the final centroids.
    Assignment dispatches literal-vs-Arrow on codebook size
    (``assign_centroids``), so compile cost stays flat at large k.

    ``on_empty`` controls what happens when an iteration leaves a
    cluster with no members: ``"shrink"`` (default) drops the centroid
    for all later iterations — the behavior the unrolled-CTE oracle
    mirrors — but WARNS, because a silently shrinking production
    codebook is a data-drift signal; ``"keep"`` retains the previous
    centroid for the empty bucket so k never shrinks (the MLlib-style
    guard; empty centroids can win members again in later rounds)."""
    if on_empty not in ("shrink", "keep"):
        raise ValueError(f"on_empty must be 'shrink' or 'keep': {on_empty!r}")
    # Size-dispatched training (r9 verdict item 4 — the same principle
    # as Catalyst's broadcast-join threshold): below LOCAL_TRAIN_ROWS
    # vectors the whole problem fits the driver (64k x dim64 x 8B =
    # 32 MB, the audited bounded-collect class), so ONE collect + a
    # numpy Lloyd loop replaces 2 distributed jobs per iteration whose
    # wall was ~90% task-launch + Python-worker round-trip overhead
    # (re-profiled r10: ~0.3 s/iteration for 2k rows of real work).
    # Above the gate, each iteration is lloyd_update_stats — one
    # fused assignment+partial-stats Arrow pass with a <= tasks*k*
    # (dim+1)-row exchange (the Spark MLlib KMeans shape). Both paths
    # run the SAME update math (numpy matmul, min-id tie-break,
    # sum/n quantized by _round9), asserted equal in tests.
    import numpy as np

    # ONE size probe instead of count()+collect(): CollectLimit runs
    # incremental partial jobs and stops as soon as it has
    # LOCAL_TRAIN_ROWS+1 rows, so on a 100 TB corpus this costs one
    # ~32 MB bounded read, and on a small corpus the probe IS the
    # training data — no second scan.
    probe = (
        corpus.select(
            F.col(id_col).cast("long").alias("_id"),
            F.transform(F.col(vec_col), lambda x: x.cast("double")).alias(
                "_v"
            ),
        )
        .limit(LOCAL_TRAIN_ROWS + 1)
        .collect()
    )
    if len(probe) <= LOCAL_TRAIN_ROWS:
        rows = probe
        V = np.array([r["_v"] for r in rows], dtype=np.float64)
        centroids = sorted(
            (int(r["_id"]), [float(x) for x in r["_v"]])
            for r in rows
            if r["_id"] < k
        )
        stats_fn = lambda cents: _local_stats(V, cents)  # noqa: E731
    else:
        init = (
            corpus.filter(F.col(id_col) < k)
            .select(
                F.col(id_col).cast("long"),
                F.transform(F.col(vec_col), lambda x: x.cast("double")),
            )
            .collect()
        )
        centroids = sorted(
            (int(r[0]), [float(x) for x in r[1]]) for r in init
        )
        stats_fn = lambda cents: lloyd_update_stats(  # noqa: E731
            corpus, cents, vec_col=vec_col
        )
    centroids = _lloyd_rounds(stats_fn, centroids, iters, on_empty)
    return centroids, assign_centroids(corpus, centroids, vec_col=vec_col)


# Below this many corpus vectors, Lloyd iterations run on the driver
# against one bounded collect (<= 32 MB at dim 64) instead of paying
# two distributed-job latencies per iteration; see kmeans_train.
LOCAL_TRAIN_ROWS = 65536


def _local_stats(V, centroids: list) -> dict:
    """Driver-local twin of ``lloyd_update_stats`` over a collected
    corpus matrix: identical assignment decision (sorted ids, argmin
    first-minimum => min-id tie-break) and identical (n, sums) output."""
    import numpy as np

    cents = sorted(centroids)
    ids = [int(i) for i, _ in cents]
    C = np.stack([np.asarray(v, dtype=np.float64) for _, v in cents])
    c_sq = (C * C).sum(axis=1)
    d2 = (V * V).sum(axis=1, keepdims=True) - 2.0 * (V @ C.T) + c_sq
    win = d2.argmin(axis=1)
    out = {}
    for j in np.unique(win):
        mask = win == j
        out[ids[int(j)]] = (
            int(mask.sum()),
            [float(s) for s in V[mask].sum(axis=0)],
        )
    return out


def _round9(x: float) -> float:
    """Spark SQL round(x, 9) exactly: BigDecimal(double) -> setScale(9,
    HALF_UP) -> double. Python's round() is banker's; Decimal(float) is
    the exact binary expansion, so this matches the JVM bit-for-bit."""
    from decimal import ROUND_HALF_UP, Decimal

    return float(Decimal(x).quantize(Decimal("1e-9"), rounding=ROUND_HALF_UP))


def lloyd_update_stats(
    corpus: DataFrame,
    centroids: list[tuple[int, list[float]]],
    vec_col: str = "embedding",
) -> dict:
    """ONE distributed pass per Lloyd iteration — the Spark MLlib
    KMeans shape (mapPartitions + tiny reduce): each Arrow batch does
    nearest-centroid assignment as a dense matmul and folds it straight
    into per-bucket partial (count, sum-vector) stats, so the exchange
    carries <= tasks x k x (dim+1) scalar rows instead of the corpus.
    Replaces the r8/r9 per-iteration literal-fold + 64-avg groupBy,
    whose interpreted HOF (rows x k x dim boxed lambda evals) was ~90%
    of s13's wall at bench scale and whose exchange carried the whole
    corpus at 100 TB. Returns {bucket_id: (n, [coordinate sums])}.

    Ties break to the smallest centroid id (ids sorted, argmin takes
    the first minimum) — the same integer decision as the literal
    fold; distances differ from the fold only by fp summation order
    (~1e-15 relative). The 9-decimal centroid quantization both
    engines apply between iterations makes the cross-engine agreement
    PROBABILISTIC, not absolute (ADVICE r10): a coordinate mean
    landing within summation error of a .5e-9 HALF_UP boundary can
    round differently across engines and then diverge in all later
    iterations. With ~1e-15 relative error against a 1e-9 grid that
    is ~1e-6 per rounding, ~1e-3 per full s13 run over its ~1.5k
    roundings — rare enough for the hash gate in practice, and no
    rounding scheme can eliminate it (every grid has boundaries; a
    finer pre-round only densifies them). A deployment that needs a
    hard guarantee must carry integer/DECIMAL coordinates end-to-end
    or gate on assignment counts instead of centroid values."""
    import numpy as np
    import pandas as pd

    cents = sorted(centroids)
    ids = [int(i) for i, _ in cents]
    C = np.stack([np.asarray(v, dtype=np.float64) for _, v in cents])
    c_sq = (C * C).sum(axis=1)
    dim = C.shape[1]

    def batches(it):
        n_acc = {}
        s_acc = {}
        for pdf in it:
            if len(pdf) == 0:
                continue
            V = np.stack(
                [np.asarray(v, dtype=np.float64) for v in pdf[vec_col]]
            )
            d2 = (V * V).sum(axis=1, keepdims=True) - 2.0 * (V @ C.T) + c_sq
            win = d2.argmin(axis=1)
            for j in np.unique(win):
                mask = win == j
                b = ids[int(j)]
                n_acc[b] = n_acc.get(b, 0) + int(mask.sum())
                s = V[mask].sum(axis=0)
                s_acc[b] = s_acc[b] + s if b in s_acc else s
        rows = []
        for b in sorted(n_acc):
            rows.append((b, -1, float(n_acc[b])))
            rows.extend((b, p, float(s_acc[b][p])) for p in range(dim))
        yield pd.DataFrame(rows, columns=["bucket", "pos", "s"])

    parts = (
        corpus.select(vec_col)
        .mapInPandas(batches, "bucket long, pos int, s double")
        .groupBy("bucket", "pos")
        .agg(F.sum("s").alias("s"))
        .collect()
    )
    out: dict = {}
    for r in parts:
        n, sums = out.setdefault(int(r["bucket"]), [0, [0.0] * dim])
        if r["pos"] < 0:
            out[int(r["bucket"])][0] = int(r["s"])
        else:
            sums[int(r["pos"])] = float(r["s"])
    return {b: (n, sums) for b, (n, sums) in out.items()}


def _lloyd_rounds(stats_fn, centroids, iters, on_empty):
    for it in range(iters):
        stats = stats_fn(centroids)
        updated = sorted(
            (b, [_round9(s / n) for s in sums])
            for b, (n, sums) in stats.items()
        )
        if len(updated) < len(centroids):
            got = {cid for cid, _ in updated}
            empty = [cid for cid, _ in centroids if cid not in got]
            if on_empty == "keep":
                updated = sorted(
                    updated
                    + [(cid, v) for cid, v in centroids if cid in set(empty)]
                )
            else:
                warnings.warn(
                    f"kmeans_train: cluster(s) {empty} received no members "
                    f"in iteration {it + 1}; k shrinks {len(centroids)} -> "
                    f"{len(updated)} for the remaining iterations "
                    "(pass on_empty='keep' to retain empty centroids)",
                    RuntimeWarning,
                    stacklevel=2,
                )
        centroids = updated
    return centroids


def cluster_report(
    spark,
    centroids: list[tuple[int, list[float]]],
    assigned: DataFrame,
) -> DataFrame:
    """Per-cluster audit: member count, inertia (sum of squared L2 to
    the final centroid), centroid head coordinate and L2 norm — the
    columns a codebook-drift monitor tracks."""
    cent_df = spark.createDataFrame(
        [(int(i), [float(x) for x in v]) for i, v in centroids],
        "cid long, cv array<double>",
    )
    return (
        assigned.groupBy("bucket")
        .agg(
            F.count(F.lit(1)).alias("n_members"),
            F.round(F.sum("dist"), 6).alias("inertia"),
        )
        .join(F.broadcast(cent_df), F.col("bucket") == F.col("cid"))
        .select(
            F.col("bucket").cast("long").alias("cluster"),
            "n_members",
            "inertia",
            F.round(F.element_at("cv", 1), 6).alias("c_head"),
            F.round(norm(F.col("cv")), 6).alias("c_norm"),
        )
        .orderBy("cluster")
    )
