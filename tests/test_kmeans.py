"""k-means codebook training (operators/kmeans.py) vs an independent
numpy reference of the exact contract: squared-L2 argmin with min-id
tie-break, per-dim mean rounded to 9 decimals between iterations."""

from __future__ import annotations

import numpy as np
import pytest

from anomaly_detection_iiot_spark.operators import kmeans

SF_DIR = "/root/testdata/sf0.001"


def _numpy_kmeans(ids, X, k, iters):
    order = np.argsort(ids)
    ids, X = ids[order], X[order]
    cents = {int(i): X[ids == i][0].astype(np.float64) for i in ids if i < k}
    for _ in range(iters):
        C = np.array([cents[c] for c in sorted(cents)])
        cid = np.array(sorted(cents))
        d = ((X[:, None, :] - C[None, :, :]) ** 2).sum(axis=2)
        assign = cid[np.argmin(d, axis=1)]  # argmin takes first min = min id
        cents = {
            int(c): np.round(X[assign == c].mean(axis=0), 9)
            for c in np.unique(assign)
        }
    C = np.array([cents[c] for c in sorted(cents)])
    cid = np.array(sorted(cents))
    d = ((X[:, None, :] - C[None, :, :]) ** 2).sum(axis=2)
    j = np.argmin(d, axis=1)
    return cents, cid[j], d[np.arange(len(X)), j]


@pytest.fixture(scope="module")
def emb(spark):
    df = spark.read.parquet(f"{SF_DIR}/embeddings.parquet").select(
        "vec_id", "embedding"
    )
    rows = sorted(df.collect(), key=lambda r: r.vec_id)
    ids = np.array([r.vec_id for r in rows])
    X = np.array([[float(x) for x in r.embedding] for r in rows], np.float64)
    return df, ids, X


def test_kmeans_matches_numpy_reference(spark, emb):
    df, ids, X = emb
    k, iters, dim = 4, 3, X.shape[1]
    cents, assigned = kmeans.kmeans_train(df, k=k, iters=iters, dim=dim)
    ref_cents, ref_assign, ref_d = _numpy_kmeans(ids, X, k, iters)

    got = {c: np.array(v) for c, v in cents}
    assert set(got) == set(ref_cents)
    for c in got:
        np.testing.assert_allclose(got[c], ref_cents[c], atol=1e-9)

    rows = assigned.select("vec_id", "bucket", "dist").collect()
    by_id = {r.vec_id: r for r in rows}
    for i, vid in enumerate(ids):
        assert by_id[vid].bucket == ref_assign[i], vid
        assert abs(by_id[vid].dist - ref_d[i]) < 1e-9


def test_kmeans_inertia_decreases(spark, emb):
    df, ids, X = emb
    inertias = []
    for iters in (0, 1, 3):
        cents, assigned = kmeans.kmeans_train(df, k=4, iters=iters, dim=64)
        inertias.append(
            assigned.agg({"dist": "sum"}).collect()[0][0]
        )
    # Lloyd monotonicity (9-decimal quantization can't flip it at this
    # inertia magnitude)
    assert inertias[0] >= inertias[1] >= inertias[2]


def test_cluster_report_shape(spark, emb):
    df, _, _ = emb
    cents, assigned = kmeans.kmeans_train(df, k=4, iters=1, dim=64)
    rep = kmeans.cluster_report(spark, cents, assigned)
    rows = rep.collect()
    assert [r.cluster for r in rows] == sorted(r.cluster for r in rows)
    assert sum(r.n_members for r in rows) == df.count()
    assert all(r.inertia >= 0 for r in rows)


def test_empty_cluster_shrink_warns(spark):
    """Seeding centroid 2 at exactly centroid 1's position guarantees
    it gets zero members from iteration 1 on (distance ties break to
    the min centroid id): k shrinks WITH a warning."""
    rows = [(0, [0.0, 0.0]), (1, [10.0, 10.0]), (2, [10.0, 10.0])] + [
        (i, [float(i % 2) * 10.0 + 0.1, float(i % 2) * 10.0]) for i in range(3, 40)
    ]
    df = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    import warnings as w

    with w.catch_warnings(record=True) as caught:
        w.simplefilter("always")
        cents, assigned = kmeans.kmeans_train(df, k=3, iters=3, dim=2)
    assert len(cents) < 3
    assert any("received no members" in str(c.message) for c in caught)
    assert assigned.count() == len(rows)


def test_assign_arrow_agrees_with_literal(spark, emb):
    """The large-k Arrow matmul path and the literal fold agree on the
    real corpus (bucket exactly; dist to fp tolerance)."""
    df, ids, X = emb
    cents = [(int(i), [float(x) for x in X[list(ids).index(i)]]) for i in range(8)]
    lit = {
        r.vec_id: (r.bucket, r.dist)
        for r in kmeans.assign_literal(df, cents).collect()
    }
    arw = {
        r.vec_id: (r.bucket, r.dist)
        for r in kmeans.assign_arrow(df, cents).collect()
    }
    assert set(lit) == set(arw)
    for vid in lit:
        assert lit[vid][0] == arw[vid][0], vid
        assert abs(lit[vid][1] - arw[vid][1]) < 1e-9 * max(1.0, lit[vid][1])


def test_assign_dispatch_threshold(spark, emb):
    """assign_centroids picks the literal fold under the budget and the
    Arrow path above it (visible as mapInPandas in the plan)."""
    df, ids, X = emb
    small = [(int(i), [float(x) for x in X[list(ids).index(i)]]) for i in range(8)]
    big = [(j, [float(j % 7)] * 64) for j in range(80)]  # 5120 > 4096 budget
    plan_small = kmeans.assign_centroids(df, small)._jdf.queryExecution().toString()
    plan_big = kmeans.assign_centroids(df, big)._jdf.queryExecution().toString()
    assert "MapInPandas" not in plan_small
    assert "MapInPandas" in plan_big


def test_distributed_stats_agree_with_local(spark, emb, monkeypatch):
    """The two training paths (driver-local numpy below LOCAL_TRAIN_ROWS,
    fused Arrow stats pass above) produce identical per-bucket (n, sums)
    for one update, and identical final centroids for a full train."""
    df, ids, X = emb
    cents = [
        (int(i), [float(x) for x in X[list(ids).index(i)]]) for i in range(4)
    ]
    local = kmeans._local_stats(X, cents)
    dist = kmeans.lloyd_update_stats(df, cents)
    assert set(local) == set(dist)
    for b in local:
        assert local[b][0] == dist[b][0], b
        np.testing.assert_allclose(local[b][1], dist[b][1], rtol=1e-12)

    cents_small, _ = kmeans.kmeans_train(df, k=4, iters=3, dim=64)
    monkeypatch.setattr(kmeans, "LOCAL_TRAIN_ROWS", 0)
    cents_dist, _ = kmeans.kmeans_train(df, k=4, iters=3, dim=64)
    assert [c for c, _ in cents_small] == [c for c, _ in cents_dist]
    for (_, a), (_, b) in zip(cents_small, cents_dist):
        np.testing.assert_allclose(a, b, atol=1e-9)
