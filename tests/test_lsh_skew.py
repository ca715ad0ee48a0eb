"""LSH band-bucket skew guard (VERDICT r1 item 7): a pathological band
key shared by hundreds of docs must expand through the two-phase
(posexplode + round-robin repartition) path with results identical to
the single-flatten path."""

from __future__ import annotations

import pandas as pd

from anomaly_detection_iiot_spark.operators.dedup import lsh_candidate_pairs

N_HOT = 150  # one band bucket of 150 docs -> 11,175 pairs


def _signatures(spark):
    rows = []
    # hot cluster: identical signature -> every band collides
    for i in range(N_HOT):
        rows.append({"doc_id": f"hot{i:04d}", **{f"h{j}": "aaaa0000" for j in range(8)}})
    # normal docs: unique signatures -> no collisions
    for i in range(50):
        rows.append(
            {"doc_id": f"doc{i:04d}", **{f"h{j}": f"{i:04x}{j:04x}" for j in range(8)}}
        )
    # one small pair cluster (stays on the small-bucket path)
    for i in range(2):
        rows.append({"doc_id": f"pair{i}", **{f"h{j}": "bbbb1111" for j in range(8)}})
    return spark.createDataFrame(pd.DataFrame(rows))


def test_guarded_path_matches_unguarded(spark):
    sigs = _signatures(spark)
    guarded = lsh_candidate_pairs(sigs, max_bucket_expand=16)
    unguarded = lsh_candidate_pairs(sigs, max_bucket_expand=10**9)
    a = sorted(map(tuple, guarded.collect()))
    b = sorted(map(tuple, unguarded.collect()))
    assert a == b
    assert len(a) == N_HOT * (N_HOT - 1) // 2 + 1  # hot pairs + the pair cluster


def test_big_bucket_expansion_is_spread(spark):
    """The oversized bucket's pair generation must run after a
    round-robin repartition (many tasks), not inside one flatten."""
    sigs = _signatures(spark)
    plan = lsh_candidate_pairs(sigs, max_bucket_expand=16)._jdf.queryExecution(
    ).executedPlan().toString()
    assert "RoundRobinPartitioning" in plan


def test_ordering_invariant(spark):
    sigs = _signatures(spark)
    pairs = lsh_candidate_pairs(sigs, max_bucket_expand=16).collect()
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


def test_connected_components_random_graphs_match_union_find(spark):
    """Randomized graphs vs an independent union-find reference."""
    import numpy as np

    from anomaly_detection_iiot_spark.operators.graph import (
        connected_components,
    )

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
        # the distributed BSP loop (forced via max_driver_edges=0).
        for force_bsp in (False, True):
            got = {
                r.doc_id: r.cluster_id
                for r in connected_components(
                    pairs, max_driver_edges=0 if force_bsp else 65536
                ).collect()
            }
            assert got == expected, f"force_bsp={force_bsp}"


def test_connected_components_string_ids(spark):
    """String node ids (the natural pairing with lsh_candidate_pairs'
    doc ids): summing a string column yields NULL, so the join-free
    sum-convergence check must route through the surrogate-id path —
    labels are the lexicographic min reachable id."""
    from anomaly_detection_iiot_spark.operators.graph import (
        connected_components,
    )

    pairs = spark.createDataFrame(
        [
            ("hot0001", "hot0002"),
            ("hot0002", "hot0003"),
            ("doc0005", "hot0003"),
            ("zz1", "zz2"),
        ],
        "doc_a string, doc_b string",
    )
    expected = {
        "hot0001": "doc0005",
        "hot0002": "doc0005",
        "hot0003": "doc0005",
        "doc0005": "doc0005",
        "zz1": "zz1",
        "zz2": "zz1",
    }
    # Default path = driver union-find (orderable ids directly);
    # max_driver_edges=0 forces the surrogate-long + BSP loop path.
    for force_bsp in (False, True):
        got = {
            r.doc_id: r.cluster_id
            for r in connected_components(
                pairs, max_driver_edges=0 if force_bsp else 65536
            ).collect()
        }
        assert got == expected, f"force_bsp={force_bsp}"


def test_connected_components_string_chain_matches_numeric(spark):
    """Same topology under string and long ids must produce the same
    clusters (after mapping labels back to node sets)."""
    from anomaly_detection_iiot_spark.operators.graph import (
        connected_components,
    )

    edges = [(0, 1), (1, 2), (4, 5), (7, 2)]
    num = connected_components(
        spark.createDataFrame(edges, "doc_a long, doc_b long")
    ).collect()
    s = connected_components(
        spark.createDataFrame(
            [(f"n{a}", f"n{b}") for a, b in edges], "doc_a string, doc_b string"
        )
    ).collect()

    def clusters(rows):
        by_label: dict = {}
        for r in rows:
            by_label.setdefault(r.cluster_id, set()).add(str(r.doc_id))
        return {frozenset(v) for v in by_label.values()}

    assert clusters(num) == {
        frozenset(s_mem) for s_mem in [{"0", "1", "2", "7"}, {"4", "5"}]
    }
    assert clusters(s) == {
        frozenset({"n0", "n1", "n2", "n7"}),
        frozenset({"n4", "n5"}),
    }


def test_connected_components_warns_on_max_iter_exhaustion(spark):
    """A diameter-21 path with max_iter=3 cannot converge; the partial
    result must be accompanied by a RuntimeWarning, not silence."""
    import warnings as _w

    from anomaly_detection_iiot_spark.operators.graph import (
        connected_components,
    )

    pairs = spark.createDataFrame(
        [(i, i + 1) for i in range(20)], "doc_a long, doc_b long"
    )
    with _w.catch_warnings(record=True) as rec:
        _w.simplefilter("always")
        # max_driver_edges=0: the union-find fast path always converges,
        # so the exhaustion warning only exists on the BSP loop.
        connected_components(pairs, max_iter=3, max_driver_edges=0).collect()
    assert any(
        issubclass(w.category, RuntimeWarning) and "max_iter" in str(w.message)
        for w in rec
    )


def test_lsh_pairs_match_bruteforce_banding(spark):
    """Random signatures: lsh_candidate_pairs == the naive banded
    self-join computed in pandas."""
    import numpy as np

    rng = np.random.default_rng(13)
    rows = [
        {
            "doc_id": f"d{i:03d}",
            **{f"h{j}": f"{rng.integers(0, 6):08x}" for j in range(8)},
        }
        for i in range(80)
    ]
    import itertools

    expected = set()
    for a, b in itertools.combinations(rows, 2):
        for band in range(4):
            ka = (a[f"h{2*band}"], a[f"h{2*band+1}"])
            kb = (b[f"h{2*band}"], b[f"h{2*band+1}"])
            if ka == kb:
                expected.add(tuple(sorted((a["doc_id"], b["doc_id"]))))
                break
    got = {
        (r.doc_a, r.doc_b)
        for r in lsh_candidate_pairs(
            spark.createDataFrame(pd.DataFrame(rows)), max_bucket_expand=8
        ).collect()
    }
    assert got == expected


def test_connected_components_long_chain_converges(spark):
    """A 21-node path graph needs ~20 propagation rounds (min label
    moves one hop per round). Forced onto the BSP loop
    (max_driver_edges=0) this crosses the every-5-rounds
    localCheckpoint lineage cut several times over; the default path
    (20 edges, far below the bound) is the driver union-find."""
    from anomaly_detection_iiot_spark.operators.graph import (
        connected_components,
    )

    pairs = spark.createDataFrame(
        [(i, i + 1) for i in range(20)], "doc_a long, doc_b long"
    )
    for force_bsp in (False, True):
        got = connected_components(
            pairs, max_driver_edges=0 if force_bsp else 65536
        ).collect()
        assert len(got) == 21, f"force_bsp={force_bsp}"
        assert {r.cluster_id for r in got} == {0}, f"force_bsp={force_bsp}"


def test_connected_components_fractional_ids_fully_propagate(spark):
    """Double ids whose labels all round to the SAME decimal(38,0)
    value (3.0..3.3 -> 3) would fake sum-convergence after two checks on
    a direct-numeric BSP loop, leaving a diameter-6 chain only partially
    propagated. Forced onto the BSP loop (max_driver_edges=0), doubles
    must route through the surrogate-long path and propagate exactly;
    the default path (6 edges) is the driver union-find."""
    from anomaly_detection_iiot_spark.operators.graph import (
        connected_components,
    )

    ids = [3.0, 3.05, 3.1, 3.15, 3.2, 3.25, 3.3]
    pairs = spark.createDataFrame(
        list(zip(ids, ids[1:])), "doc_a double, doc_b double"
    )
    for force_bsp in (False, True):
        got = {
            r.doc_id: r.cluster_id
            for r in connected_components(
                pairs, max_driver_edges=0 if force_bsp else 65536
            ).collect()
        }
        assert got == {i: 3.0 for i in ids}, f"force_bsp={force_bsp}"
