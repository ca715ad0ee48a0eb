"""LSH band-bucket skew guard (VERDICT r1 item 7): a pathological band
key shared by hundreds of docs must expand through the two-phase
(posexplode + round-robin repartition) path with results identical to
the single-flatten path."""

from __future__ import annotations

import pandas as pd

from anomaly_detection_iiot_spark.operators import dedup
from anomaly_detection_iiot_spark.operators.dedup import lsh_candidate_pairs

N_HOT = 150  # one band bucket of 150 docs -> 11,175 pairs


def _signatures(spark):
    rows = []
    # hot cluster: identical signature -> every band collides
    for i in range(N_HOT):
        rows.append({"doc_id": f"hot{i:04d}", **{f"h{j}": "aaaa0000" for j in range(4)}})
    # normal docs: unique signatures -> no collisions
    for i in range(50):
        rows.append(
            {"doc_id": f"doc{i:04d}", **{f"h{j}": f"{i:04x}{j:04x}" for j in range(4)}}
        )
    # one small pair cluster (stays on the small-bucket path)
    for i in range(2):
        rows.append({"doc_id": f"pair{i}", **{f"h{j}": "bbbb1111" for j in range(4)}})
    return spark.createDataFrame(pd.DataFrame(rows))


def test_guarded_path_matches_unguarded(spark, monkeypatch):
    sigs = _signatures(spark)
    guarded = lsh_candidate_pairs(sigs)  # N_HOT > MAX_BUCKET_EXPAND
    monkeypatch.setattr(dedup, "MAX_BUCKET_EXPAND", 10**9)
    unguarded = lsh_candidate_pairs(sigs)
    a = sorted(map(tuple, guarded.collect()))
    b = sorted(map(tuple, unguarded.collect()))
    assert a == b
    assert len(a) == N_HOT * (N_HOT - 1) // 2 + 1  # hot pairs + the pair cluster


def test_big_bucket_expansion_is_spread(spark):
    """The oversized bucket's pair generation must run after a
    round-robin repartition (many tasks), not inside one flatten."""
    sigs = _signatures(spark)
    plan = lsh_candidate_pairs(sigs)._jdf.queryExecution().executedPlan().toString()
    assert "RoundRobinPartitioning" in plan


def test_ordering_invariant(spark):
    sigs = _signatures(spark)
    pairs = lsh_candidate_pairs(sigs).collect()
    assert all(r.doc_a < r.doc_b for r in pairs)


def test_connected_components_transitive_closure(spark):
    """Chain 1-2-3 collapses to one cluster (1~3 never emitted as a
    pair); 10-11 is separate; singletons absent from the pair set are
    not returned."""
    from anomaly_detection_iiot_spark.operators.graph import (
        connected_components,
    )

    pairs = spark.createDataFrame(
        [(1, 2), (2, 3), (10, 11), (5, 3)], "doc_a long, doc_b long"
    )
    got = {
        r.doc_id: r.cluster_id for r in connected_components(pairs).collect()
    }
    assert got == {1: 1, 2: 1, 3: 1, 5: 1, 10: 10, 11: 10}


def test_connected_components_random_graphs_match_union_find(spark, monkeypatch):
    """Randomized graphs vs an independent union-find reference."""
    import numpy as np

    from anomaly_detection_iiot_spark.operators import graph

    rng = np.random.default_rng(97)
    for _ in range(3):
        n, m = 60, 45
        edges = [
            (int(a), int(b))
            for a, b in rng.integers(0, n, size=(m, 2))
            if a != b
        ]
        parent = list(range(n))

        def find(x):
            while parent[x] != x:
                parent[x] = parent[parent[x]]
                x = parent[x]
            return x

        for a, b in edges:
            ra, rb = find(a), find(b)
            if ra != rb:
                parent[max(ra, rb)] = min(ra, rb)
        touched = {v for e in edges for v in e}
        expected = {v: find(v) for v in touched}

        pairs = spark.createDataFrame(edges, "doc_a long, doc_b long")
        # Both execution paths must agree with the reference: the
        # driver union-find fast path (default — graph is tiny) and
        # the distributed BSP loop (forced via MAX_DRIVER_EDGES = 0).
        for cap in (graph.MAX_DRIVER_EDGES, 0):
            monkeypatch.setattr(graph, "MAX_DRIVER_EDGES", cap)
            got = {
                r.doc_id: r.cluster_id
                for r in graph.connected_components(pairs).collect()
            }
            assert got == expected, f"MAX_DRIVER_EDGES={cap}"


def test_connected_components_string_ids(spark):
    """String node ids sum to NULL, which would fake instant
    convergence of the sum-of-labels check, so they are refused with a
    TypeError at construction, before any job."""
    import pytest

    from anomaly_detection_iiot_spark.operators.graph import (
        connected_components,
    )

    pairs = spark.createDataFrame(
        [("hot0001", "hot0002"), ("hot0002", "hot0003"), ("zz1", "zz2")],
        "doc_a string, doc_b string",
    )
    with pytest.raises(TypeError, match="integer node ids"):
        connected_components(pairs)


def test_connected_components_fractional_ids_fully_propagate(spark):
    """Double ids whose labels all round to the SAME decimal(38,0)
    value (3.0..3.3 -> 3) would fake sum-convergence and return a
    diameter-6 chain only partially propagated. No partial result may
    come back: double ids raise TypeError at construction."""
    import pytest

    from anomaly_detection_iiot_spark.operators.graph import (
        connected_components,
    )

    ids = [3.0, 3.05, 3.1, 3.15, 3.2, 3.25, 3.3]
    pairs = spark.createDataFrame(
        list(zip(ids, ids[1:])), "doc_a double, doc_b double"
    )
    with pytest.raises(TypeError, match="integer node ids"):
        connected_components(pairs)


def test_connected_components_warns_on_max_iter_exhaustion(spark, monkeypatch):
    """A diameter-21 path with MAX_ITER = 3 cannot converge; the partial
    result must be accompanied by a RuntimeWarning, not silence."""
    import warnings as _w

    from anomaly_detection_iiot_spark.operators import graph

    pairs = spark.createDataFrame(
        [(i, i + 1) for i in range(20)], "doc_a long, doc_b long"
    )
    monkeypatch.setattr(graph, "MAX_ITER", 3)
    # MAX_DRIVER_EDGES = 0: the union-find fast path always converges,
    # so the exhaustion warning only exists on the BSP loop.
    monkeypatch.setattr(graph, "MAX_DRIVER_EDGES", 0)
    with _w.catch_warnings(record=True) as rec:
        _w.simplefilter("always")
        graph.connected_components(pairs).collect()
    assert any(
        issubclass(w.category, RuntimeWarning) and "MAX_ITER" in str(w.message)
        for w in rec
    )


def test_lsh_pairs_match_bruteforce_banding(spark, monkeypatch):
    """Random signatures: lsh_candidate_pairs == the naive banded
    self-join computed in pandas."""
    import numpy as np

    rng = np.random.default_rng(13)
    rows = [
        {
            "doc_id": f"d{i:03d}",
            **{f"h{j}": f"{rng.integers(0, 6):08x}" for j in range(4)},
        }
        for i in range(80)
    ]
    import itertools

    expected = set()
    for a, b in itertools.combinations(rows, 2):
        for band in range(2):
            ka = (a[f"h{2*band}"], a[f"h{2*band+1}"])
            kb = (b[f"h{2*band}"], b[f"h{2*band+1}"])
            if ka == kb:
                expected.add(tuple(sorted((a["doc_id"], b["doc_id"]))))
                break
    monkeypatch.setattr(dedup, "MAX_BUCKET_EXPAND", 8)
    got = {
        (r.doc_a, r.doc_b)
        for r in lsh_candidate_pairs(spark.createDataFrame(pd.DataFrame(rows))).collect()
    }
    assert got == expected


def test_connected_components_long_chain_converges(spark, monkeypatch):
    """A 21-node path graph needs ~20 propagation rounds (min label
    moves one hop per round). Forced onto the BSP loop
    (MAX_DRIVER_EDGES = 0) this crosses the every-CHECKPOINT_EVERY-rounds
    localCheckpoint lineage cut several times over; the default path
    (20 edges, far below the bound) is the driver union-find."""
    from anomaly_detection_iiot_spark.operators import graph

    pairs = spark.createDataFrame(
        [(i, i + 1) for i in range(20)], "doc_a long, doc_b long"
    )
    for cap in (graph.MAX_DRIVER_EDGES, 0):
        monkeypatch.setattr(graph, "MAX_DRIVER_EDGES", cap)
        got = graph.connected_components(pairs).collect()
        assert len(got) == 21, f"MAX_DRIVER_EDGES={cap}"
        assert {r.cluster_id for r in got} == {0}, f"MAX_DRIVER_EDGES={cap}"
