"""LSTM autoencoder kernel (SURVEY §2.7 M2/M4): numerical gradient
check of the full BPTT, training convergence + determinism, and the
Spark per-client training and FedAvg round."""

from __future__ import annotations

import numpy as np
import pytest

from anomaly_detection_iiot_spark.ml import lstm


def flatten(params):
    """Parameter set -> flat tensor list (sorted keys per layer), the
    form per-client weights take when exchanged as Spark rows."""
    return [v for layer in params for _, v in sorted(layer.items())]


def unflatten(flat, template):
    """Inverse of ``flatten`` against a template parameter set."""
    it = iter(flat)
    return [{k: next(it).copy() for k in sorted(layer)} for layer in template]


@pytest.fixture(scope="module")
def small_net():
    rng = np.random.default_rng(3)
    X = rng.normal(size=(4, 5, 2))
    p = lstm.init_params(
        input_dim=2, timesteps=5, outer_size=6, hidden_size=3, layers=1, seed=5
    )
    return X, p


def test_bptt_matches_numerical_gradient(small_net):
    """Central differences on sampled entries of every tensor. Tiny
    gradients (~1e-8) are finite-difference noise-floor territory, so
    accept EITHER relative agreement or absolute agreement."""
    X, p = small_net
    _, grads = lstm.gradients(X, p)
    rng = np.random.default_rng(0)
    eps = 1e-5
    for li, layer in enumerate(p):
        for k, arr in layer.items():
            for _ in range(6):
                idx = tuple(int(rng.integers(0, s)) for s in arr.shape)
                orig = arr[idx]
                arr[idx] = orig + eps
                lp, _ = lstm.gradients(X, p)
                arr[idx] = orig - eps
                lm, _ = lstm.gradients(X, p)
                arr[idx] = orig
                num = (lp - lm) / (2 * eps)
                ana = grads[li][k][idx]
                rel = abs(num - ana) / max(1e-10, abs(num) + abs(ana))
                assert rel < 1e-5 or abs(num - ana) < 1e-9, (li, k, idx)


def test_training_converges_and_is_deterministic(small_net):
    X, p = small_net
    _, losses_a = lstm.train(X, p, epochs=30, lr=1e-2)
    _, losses_b = lstm.train(X, p, epochs=30, lr=1e-2)
    assert losses_a == losses_b
    assert losses_a[-1] < losses_a[0]


def test_stacked_layers_gradcheck():
    """layers=2 exercises the multi-layer encoder/decoder backprop path
    (upstream dX threading between stacked LSTMs)."""
    rng = np.random.default_rng(9)
    X = rng.normal(size=(3, 4, 1))
    p = lstm.init_params(1, 4, outer_size=4, hidden_size=2, layers=2, seed=2)
    assert len(p) == 2 * 2 + 1 + 1  # enc stack + bottleneck + dec stack + out
    _, grads = lstm.gradients(X, p)
    eps = 1e-5
    for li, layer in enumerate(p):
        k = sorted(layer)[0]
        arr = layer[k]
        idx = (0,) * arr.ndim
        orig = arr[idx]
        arr[idx] = orig + eps
        lp, _ = lstm.gradients(X, p)
        arr[idx] = orig - eps
        lm, _ = lstm.gradients(X, p)
        arr[idx] = orig
        num = (lp - lm) / (2 * eps)
        ana = grads[li][k][idx]
        assert abs(num - ana) < 1e-8 or (
            abs(num - ana) / (abs(num) + abs(ana)) < 1e-5
        )


def test_reconstruction_mse_shape(small_net):
    X, p = small_net
    mse = lstm.reconstruction_mse(X, p)
    assert mse.shape == (X.shape[0],)
    assert np.all(mse >= 0)


def test_m2_query_runs(spark, sf_dir):
    from anomaly_detection_iiot_spark.queries import REGISTRY

    rows = REGISTRY["m2_lstm_train_loss"].fn(spark, sf_dir).collect()
    assert len(rows) >= 4  # >=1 epoch row per client
    by_client = {}
    for r in rows:
        by_client.setdefault(r.client_id, []).append(r)
    for client, cr in by_client.items():
        assert [r.epoch for r in sorted(cr, key=lambda r: r.epoch)] == list(
            range(len(cr))
        )
        assert all(r.loss is not None and r.loss >= 0 for r in cr)


def test_lstm_fedavg_round_distributed(spark):
    """One federated round with the LSTM kernel, clients = Spark groups:
    local train inside applyInPandas, weights exchanged as long-form
    (tensor_idx, pos, w) rows, A5 mean = groupBy average — the
    reference's federated topology (training.py:49-84) with its real
    model instead of the dense stand-in."""
    import pandas as pd

    T, D = 6, 1
    params0 = lstm.init_params(D, T, outer_size=4, hidden_size=2, seed=3)
    flat0 = flatten(params0)

    rng = np.random.default_rng(0)
    rows = [
        (int(c), i, [float(x) for x in rng.normal(size=T)])
        for c in (0, 1)
        for i in range(8)
    ]
    wins = spark.createDataFrame(
        rows, "client_id long, window_idx long, window array<double>"
    )

    def local(key, pdf):
        pdf = pdf.sort_values("window_idx", kind="mergesort")
        X = np.stack([np.asarray(w) for w in pdf["window"]])[:, :, None]
        trained, _ = lstm.train(X, params0, epochs=1, lr=5e-4)
        # inline flatten: a Python worker cannot import this test module
        flat = [v for layer in trained for _, v in sorted(layer.items())]
        return pd.DataFrame(
            {
                "client_id": int(key[0]),
                "tensor_idx": np.concatenate(
                    [np.full(a.size, i) for i, a in enumerate(flat)]
                ),
                "pos": np.concatenate([np.arange(a.size) for a in flat]),
                "w": np.concatenate([a.ravel() for a in flat]),
            }
        )

    from pyspark.sql import functions as F

    averaged = (
        wins.groupBy("client_id")
        .applyInPandas(local, "client_id long, tensor_idx long, pos long, w double")
        .groupBy("tensor_idx", "pos")
        .agg(F.avg("w").alias("w"), F.count("*").alias("n"))
        .collect()
    )
    assert all(r.n == 2 for r in averaged)
    assert len(averaged) == sum(a.size for a in flat0)

    # reassemble and check: same shapes, actually moved from init
    by_tensor = {}
    for r in averaged:
        by_tensor.setdefault(r.tensor_idx, {})[r.pos] = r.w
    reassembled = [
        np.array([vals[p] for p in range(len(vals))]).reshape(flat0[i].shape)
        for i, vals in sorted(by_tensor.items())
    ]
    moved = any(
        not np.allclose(a, b) for a, b in zip(reassembled, flat0)
    )
    assert moved
    avg_params = unflatten(reassembled, params0)
    mse = lstm.reconstruction_mse(np.zeros((2, T, D)), avg_params)
    assert mse.shape == (2,)
