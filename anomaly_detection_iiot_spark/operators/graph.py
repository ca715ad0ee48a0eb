"""Connected components over duplicate pairs (LLM-pipeline extension;
no reference equivalent).

Pair-level dedup (LSH + Jaccard verify) yields EDGES; an actual keeper
table needs the transitive closure: if A~B and B~C, then A, B, C are
one duplicate cluster even when A~C was never emitted. This is the
standard label-propagation / BSP connected-components loop (the same
algorithm GraphX and GraphFrames run):

    label(v) <- min(label(v), min over neighbors' labels)

iterated to fixpoint. Two execution paths, picked by measured edge
count: below ``MAX_DRIVER_EDGES`` (64k edges ≈ ~1 MB) an exact
driver-side union-find — duplicate-pair graphs are orders smaller than
their corpus, and a BSP round costs a scheduler round-trip that
dominates at that size; above it, the distributed label-propagation
loop. Each BSP iteration is one join + one aggregate —
shuffle volume O(|edges|) per round, rounds = graph diameter (duplicate
clusters are short chains in practice, so a handful). State per round
is the (node, label) frame, persisted; lineage is cut with
localCheckpoint every few rounds so the plan does not grow with the
iteration count (a 20-round loop would otherwise compile a 20-deep
join tree).

Convergence is detected with a driver-side scalar (sum of labels) — a
per-round KB-scale collect, the Spark-idiomatic shape for iterative
algorithms (SURVEY §4: "FedAvg — driver-side algorithm"). The sum trick
requires INTEGER node ids (strings sum to NULL and would fake instant
convergence; fractional float/decimal labels could round to an
unchanged decimal(38,0) sum and stop early), so any other id type
raises TypeError.
"""

from __future__ import annotations

import warnings

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

# Only INTEGER ids: the convergence scalar casts labels to
# decimal(38,0), so a fractional label change, e.g. 2.9 -> 2.6, could
# round to an unchanged sum and report convergence prematurely.
_INTEGER_TYPES = frozenset({"tinyint", "smallint", "int", "bigint"})
# Edge count below which the exact driver union-find replaces the BSP
# loop (64k edges ≈ 1 MB collected).
MAX_DRIVER_EDGES = 65536
# BSP rounds before giving up with a warning; a path of diameter d
# needs d rounds.
MAX_ITER = 30
# BSP rounds between localCheckpoint lineage cuts.
CHECKPOINT_EVERY = 5


def _driver_union_find(edges) -> dict:
    """Exact union-find (path-halving + union-by-min) over a collected
    edge list. Returns {node: min reachable node id} — the same label
    contract as the BSP loop. Pure Python; used only below the bounded
    ``MAX_DRIVER_EDGES`` threshold."""
    parent: dict = {}

    def find(x):
        root = x
        while parent[root] != root:
            root = parent[root]
        while parent[x] != root:  # path compression
            parent[x], x = root, parent[x]
        return root

    for u, v in edges:
        if u not in parent:
            parent[u] = u
        if v not in parent:
            parent[v] = v
        ru, rv = find(u), find(v)
        if ru != rv:
            # union by MIN so every root IS its component's smallest id
            if rv < ru:
                ru, rv = rv, ru
            parent[rv] = ru
    return {x: find(x) for x in parent}


def connected_components(pairs: DataFrame) -> DataFrame:
    """Min-label propagation over undirected ``(doc_a, doc_b)`` edges of
    integer node ids. Returns one ``(doc_id, cluster_id)`` row per node
    appearing in any pair, labeled with the smallest node id reachable
    from it. Deterministic. Raises TypeError for non-integer ids. Warns if
    ``MAX_ITER`` rounds elapse without reaching the fixpoint (labels
    then only partially propagated)."""
    # Probe BEFORE any checkpoint: limit(cap+1).collect() runs the pair
    # pipeline once and both decides the path and fetches the data for
    # the fast one — <= cap means "small graph, and these ARE all the
    # edges"; cap+1 means "large, take the BSP loop". Checkpointing
    # first would cost the (overwhelmingly common) driver path a block
    # materialization plus a second collect job; only the BSP loop has
    # several consumers that need frozen blocks, so only large graphs
    # re-run the pair pipeline once more to freeze it.
    fwd_plan = pairs.select(F.col("doc_a").alias("u"), F.col("doc_b").alias("v"))
    node_type = dict(fwd_plan.dtypes)["u"]
    if node_type not in _INTEGER_TYPES:
        raise TypeError(
            f"connected_components needs integer node ids, got {node_type}"
        )
    spark = fwd_plan.sparkSession
    _cap = MAX_DRIVER_EDGES // 2
    probe = fwd_plan.limit(_cap + 1).collect()
    if len(probe) <= _cap:
        # Driver fast path: duplicate-pair graphs are orders smaller
        # than the corpus that produced them (260 edges at sf0.1), and
        # each BSP round costs a full scheduler round-trip (~0.15 s/job
        # on local[32]) — ~2.2 s of pure overhead for a graph that fits
        # in one collect. Below the bound (64k edges ≈ ~1 MB) an exact
        # union-find on the driver is both faster and identical in
        # output (min-id labels). The same driver-side-when-k-sized
        # shape as the FedAvg/centroid collects (SURVEY §4). Large
        # graphs take the BSP loop below, whose shuffle volume is
        # O(|edges|)/round.
        # Result slices sized to the rows (~64k/slice), not to core
        # count: the default parallelize split scheduled 32 near-empty
        # tasks for a few hundred label rows in every downstream stage.
        labels = _driver_union_find([(r[0], r[1]) for r in probe])
        rows = sorted(labels.items())
        n_slices = max(1, -(-len(rows) // 65536))
        return spark.createDataFrame(
            spark.sparkContext.parallelize(rows, n_slices),
            schema=f"doc_id {node_type}, cluster_id {node_type}",
        )
    # Eager localCheckpoint for the BSP loop: fwd feeds both union
    # branches below — without freezing it, each re-executes the full
    # upstream pair pipeline (for the dedup chain, the tokenize→
    # shingle→self-join Jaccard plan ran twice; measured 3.5s→1.2s edge
    # setup at sf0.1).
    fwd = fwd_plan.localCheckpoint(eager=True)
    # Eager localCheckpoint, not persist: every loop action would
    # otherwise re-OPTIMIZE the full upstream lineage each round.
    # Checkpointing freezes edges into in-memory blocks with an empty
    # plan; the job is edge-count-sized (fwd is already frozen). Only
    # graphs above MAX_DRIVER_EDGES reach this loop, so it keeps the
    # session's partitioning and AQE skew handling.
    edges = fwd.unionByName(
        fwd.select(F.col("v").alias("u"), F.col("u").alias("v"))
    ).distinct().localCheckpoint(eager=True)
    labels = edges.select("u").distinct().withColumn("label", F.col("u"))
    labels = labels.persist()
    # Convergence scalar: labels are monotonically non-increasing per
    # node, so sum(label) is strictly decreasing until the fixpoint —
    # an equal sum between CHECKS is convergence. Summed as
    # decimal(38,0) so huge id spaces (e.g.
    # monotonically_increasing_id's partition-shifted longs) cannot
    # overflow bigint and corrupt the check. Checks run every TWO
    # propagation steps (equal sums over a double step ⟺ neither step
    # changed anything, since the sum is monotone): driver actions are
    # the dominant per-round cost for small label frames, and a check
    # per step would double them.
    def _label_sum(frame: DataFrame):
        return frame.agg(
            F.sum(F.col("label").cast("decimal(38,0)"))
        ).collect()[0][0]

    # No initial sum action: the first check compares against None
    # (never equal), saving one driver round-trip on every invocation.
    prev_sum = None
    converged = False
    steps_per_check = 2
    persisted = labels  # last MATERIALIZED label frame (cache anchor)

    for it in range(MAX_ITER):
        msgs = (
            edges.join(labels.withColumnRenamed("u", "v"), "v")
            .select("u", "label")
        )
        new_labels = (
            labels.unionByName(msgs)
            .groupBy("u")
            .agg(F.min("label").alias("label"))
        )
        if (it + 1) % CHECKPOINT_EVERY == 0:
            new_labels = new_labels.localCheckpoint(eager=False)
        if (it + 1) % steps_per_check == 0 or it == MAX_ITER - 1:
            new_labels = new_labels.persist()
            new_sum = _label_sum(new_labels)
            persisted.unpersist()
            persisted = labels = new_labels
            if new_sum == prev_sum:
                converged = True
                break
            prev_sum = new_sum
        else:
            labels = new_labels  # lazy intermediate; checked next step

    if not converged:
        warnings.warn(
            f"connected_components: no fixpoint after MAX_ITER={MAX_ITER} "
            "rounds; labels are only partially propagated (graph diameter "
            "exceeds MAX_ITER).",
            RuntimeWarning,
            stacklevel=2,
        )
    # edges/fwd are localCheckpoint blocks, not persist() caches:
    # there is no public eager-free API for them; the ContextCleaner GCs
    # the blocks once the frames fall out of scope after return.
    return labels.select(
        F.col("u").alias("doc_id"), F.col("label").alias("cluster_id")
    )


def pagerank(edges: DataFrame, iters: int, weight_col: str) -> DataFrame:
    """Weighted PageRank in integer micro-units (damping 0.85,
    rank_0 = 1.0 ≡ 1e9 units) over ``(src, dst, <weight_col>)`` edges
    of a SINK-FREE graph: every node must appear as a ``src`` (t17's
    undirected word graph lists each edge in both directions, so it
    holds by construction). Ranks cover the
    ``src`` set only, so a sink node would drop its rank row and leak
    its mass — a structural precondition on the caller, not a knob.

    Determinism (the t17 finding, queries/textsim.py): per-edge
    contribution is ``floor(weight * r_int / out_w)`` — one IEEE
    double division then floor, bit-identical across engines and plan
    shapes — and the per-node reduction is a BIGINT sum, order-free.
    No double is ever summed, so results don't depend on partitioning.

    Scale: each iteration is one edges⋈ranks equi-join plus one
    dst-keyed sum — O(|edges|) shuffle per round. The edge frame is
    localCheckpoint'ed lazily, so the corpus scan behind it runs once
    inside the caller's first action and every round reads the saved
    blocks; ``out_w`` is a vocab-sized groupBy over those blocks,
    recomputed per round. The plan grows one join per round, which is
    bounded for the small fixed round counts t17 runs. Bound:
    weight·r_int < 2^53, i.e. pair multiplicities up to ~1e5 at rank
    mass ≈ |nodes|.

    Returns (node, r_int) — callers scale by 1e-9 for display."""
    e = edges.select(
        "src", "dst", F.col(weight_col).alias("weight")
    ).localCheckpoint(eager=False)
    outw = e.groupBy("src").agg(F.sum("weight").alias("out_w"))
    nodes = outw.select(F.col("src").alias("node"))
    ranks = nodes.select(
        "node", F.lit(1_000_000_000).cast("long").alias("r_int")
    )
    # server-parsed loop expressions: floor on DOUBLE returns BIGINT,
    # 0.85D is a double literal, long/double division promotes to double
    contrib_x = (
        "CAST(sum(floor(CAST(weight * r_int AS DOUBLE) / out_w)) "
        "AS BIGINT) AS x"
    )
    for _ in range(iters):
        contrib = (
            e.join(outw, "src")
            .join(ranks.withColumnRenamed("node", "src"), "src")
            .groupBy("dst")
            .agg(F.expr(contrib_x))
        )
        ranks = nodes.join(contrib, nodes.node == contrib.dst, "left").select(
            F.col("node"),
            F.expr(
                "CAST(150000000 AS BIGINT) + floor(0.85D * "
                "CAST(coalesce(x, 0L) AS DOUBLE)) AS r_int"
            ),
        )
    return ranks


def orient_by_degree(und: DataFrame) -> DataFrame:
    """Orient an undirected edge list (u, v) by TOTAL (degree, id)
    rank: each edge points from the lower-ranked to the higher-ranked
    endpoint, carrying both endpoints' degrees. This is the
    'compact-forward' preparation step for triangle counting: wedges
    are enumerated at each edge's SOURCE (the lower-degree corner), so
    per-node wedge work is out-degree², and the degree ordering bounds
    every out-degree by sqrt(2m) — total wedge work O(m^1.5) on ANY
    degree distribution, where plain id-ordering degrades to
    O(Σ deg²) = O(n·max_deg²) the moment a hub gets a small id.
    Degrees come from one
    aggregate; the struct(deg, id) comparison is Spark's native
    lexicographic struct ordering, so no dense-rank window (which
    would be a single-partition sort at 100 TB) is ever built."""
    deg = (
        und.select(F.col("u").alias("node"))
        .unionAll(und.select(F.col("v").alias("node")))
        .groupBy("node")
        .agg(F.count(F.lit(1)).alias("deg"))
    )
    e = (
        und.join(deg.withColumnsRenamed({"node": "u", "deg": "du"}), "u")
        .join(deg.withColumnsRenamed({"node": "v", "deg": "dv"}), "v")
    )
    fwd = F.struct("du", "u") < F.struct("dv", "v")
    return e.select(
        F.when(fwd, F.col("u")).otherwise(F.col("v")).alias("a"),
        F.when(fwd, F.col("v")).otherwise(F.col("u")).alias("b"),
        F.when(fwd, F.col("dv")).otherwise(F.col("du")).alias("db"),
    )


def wedge_count(und: DataFrame, orientation: str = "degree"):
    """Number of wedges the triangle join would enumerate under the
    given orientation ('degree' = orient_by_degree, 'id' = low-id ->
    high-id). Σ C(out_deg, 2) — the probe/test surface for the skew
    claim; not part of any query plan."""
    if orientation == "degree":
        out = orient_by_degree(und).groupBy("a").agg(
            F.count(F.lit(1)).alias("d")
        )
    else:
        out = und.groupBy(F.col("u").alias("a")).agg(
            F.count(F.lit(1)).alias("d")
        )
    row = out.agg(
        F.sum(F.expr("d * (d - 1) DIV 2")).alias("w")
    ).collect()[0]
    return int(row["w"] or 0)


def triangles_per_node(und: DataFrame) -> DataFrame:
    """Per-node triangle participation over an undirected edge list
    (u, v), one row per edge, u != v, each edge listed once in either
    direction. Compact-forward enumeration: wedges fan out of each
    edge's lower-(degree, id) endpoint and are closed by one
    edge-existence semi-join, so every triangle materializes exactly
    once and the wedge volume is O(m^1.5) regardless of skew (see
    orient_by_degree). Returns (node, n_triangles)."""
    o = orient_by_degree(und).localCheckpoint(eager=True)
    e1, e2, e3 = o.alias("e1"), o.alias("e2"), o.alias("e3")
    tris = (
        e1.join(
            e2,
            (F.col("e1.a") == F.col("e2.a"))
            & (
                F.struct(F.col("e1.db"), F.col("e1.b"))
                < F.struct(F.col("e2.db"), F.col("e2.b"))
            ),
        )
        .join(
            e3,
            (F.col("e1.b") == F.col("e3.a"))
            & (F.col("e2.b") == F.col("e3.b")),
            "left_semi",
        )
        .select(
            F.col("e1.a").alias("na"),
            F.col("e1.b").alias("nb"),
            F.col("e2.b").alias("nc"),
        )
    )
    return (
        tris.selectExpr("na AS node")
        .unionAll(tris.selectExpr("nb AS node"))
        .unionAll(tris.selectExpr("nc AS node"))
        .groupBy("node")
        .agg(F.count(F.lit(1)).alias("n_triangles"))
    )
