"""Numpy-only autoencoder kernel tests (no Spark): gradient correctness
via finite differences, training convergence, determinism."""

from __future__ import annotations

import numpy as np
import pytest

from anomaly_detection_iiot_spark.ml import autoencoder as ae

SIZES = [8, 5, 3, 5, 8]


def _loss(X: np.ndarray, weights: ae.Weights) -> float:
    out = ae.forward(X, weights)[-1]
    return float(np.mean((out - X) ** 2))


def test_forward_shapes():
    X = np.random.default_rng(0).normal(size=(7, 8))
    acts = ae.forward(X, ae.init_weights(SIZES, seed=1))
    assert [a.shape[1] for a in acts] == SIZES
    assert all(a.shape[0] == 7 for a in acts)


def test_gradient_matches_finite_differences():
    """One GD step must move each weight opposite the numerical
    gradient: check the analytic gradient embedded in train() against
    central differences on a few coordinates."""
    rng = np.random.default_rng(3)
    X = rng.normal(size=(6, 8))
    w0 = ae.init_weights(SIZES, seed=2)
    lr = 1e-3
    w1, _ = ae.train(X, w0, epochs=1, lr=lr)
    eps = 1e-6
    for li in (0, len(SIZES) - 2):
        for flat_idx in (0, 3):
            for part in (0, 1):
                wp = ae.clone(w0)
                wm = ae.clone(w0)
                wp[li][part].ravel()[flat_idx] += eps
                wm[li][part].ravel()[flat_idx] -= eps
                num_grad = (_loss(X, wp) - _loss(X, wm)) / (2 * eps)
                applied = (
                    w0[li][part].ravel()[flat_idx]
                    - w1[li][part].ravel()[flat_idx]
                ) / lr
                assert applied == pytest.approx(num_grad, rel=1e-4, abs=1e-7)


def test_training_reduces_loss():
    rng = np.random.default_rng(5)
    X = rng.normal(size=(64, 8))
    w0 = ae.init_weights(SIZES, seed=4)
    _, losses = ae.train(X, w0, epochs=20, lr=1e-2)
    assert losses[-1] < losses[0]
    assert losses == sorted(losses, reverse=True) or losses[-1] < losses[0]


def test_determinism():
    rng = np.random.default_rng(6)
    X = rng.normal(size=(16, 8))
    a, la = ae.train(X, ae.init_weights(SIZES, seed=9), epochs=3, lr=1e-3)
    b, lb = ae.train(X, ae.init_weights(SIZES, seed=9), epochs=3, lr=1e-3)
    assert la == lb
    for (Wa, ba), (Wb, bb) in zip(a, b):
        np.testing.assert_array_equal(Wa, Wb)
        np.testing.assert_array_equal(ba, bb)


def test_reconstruction_mse_matches_manual():
    rng = np.random.default_rng(7)
    X = rng.normal(size=(5, 8))
    w = ae.init_weights(SIZES, seed=8)
    out = ae.forward(X, w)[-1]
    np.testing.assert_allclose(
        ae.reconstruction_mse(X, w), np.mean((out - X) ** 2, axis=1)
    )
