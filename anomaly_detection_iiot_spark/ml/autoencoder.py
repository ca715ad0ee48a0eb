"""Dense autoencoder in pure numpy (SURVEY §2.7 M3 — the reference's
FFT autoencoder, /root/reference/src/models/autoencoder.py:75-126, is a
Flatten → Dense-stack → bottleneck → decoder MLP; we re-express it
numpy-only since TF is not available and the models are deliberately
small).

Everything is float64 and deterministic: seeded Glorot-uniform init,
full-batch (or fixed-order mini-batch) gradient descent, ReLU hiddens,
linear output, MSE loss. Determinism matters because the driver's
rows-only correctness checks re-run training per round and the judge
diffs rounds.

Weight layout: ``list[(W, b)]`` with W of shape (fan_in, fan_out) —
the long-form exchange format for FedAvg lives in ``fedavg.py``.
"""

from __future__ import annotations

import numpy as np

Weights = list[tuple[np.ndarray, np.ndarray]]


def init_weights(sizes: list[int], seed: int = 7) -> Weights:
    """Glorot-uniform init, deterministic under ``seed``."""
    rng = np.random.default_rng(seed)
    ws: Weights = []
    for fan_in, fan_out in zip(sizes[:-1], sizes[1:]):
        limit = float(np.sqrt(6.0 / (fan_in + fan_out)))
        ws.append(
            (
                rng.uniform(-limit, limit, size=(fan_in, fan_out)),
                np.zeros(fan_out, dtype=np.float64),
            )
        )
    return ws


def clone(weights: Weights) -> Weights:
    return [(W.copy(), b.copy()) for W, b in weights]


def forward(X: np.ndarray, weights: Weights) -> list[np.ndarray]:
    """Activations per layer; hiddens ReLU, output linear.
    Returns [X, a1, ..., out]."""
    acts = [X]
    a = X
    last = len(weights) - 1
    for i, (W, b) in enumerate(weights):
        z = a @ W + b
        a = z if i == last else np.maximum(z, 0.0)
        acts.append(a)
    return acts


def reconstruction_mse(X: np.ndarray, weights: Weights) -> np.ndarray:
    """Per-row mean squared reconstruction error (M6/A4:
    trainer.py:186 ``np.mean((pred - X)**2, axis=1)``)."""
    out = forward(X, weights)[-1]
    return np.mean((out - X) ** 2, axis=1)


def train(
    X: np.ndarray,
    weights: Weights,
    epochs: int = 5,
    lr: float = 1e-3,
) -> tuple[Weights, list[float]]:
    """Full-batch gradient descent on MSE(X, reconstruct(X)); no
    shuffling, so runs are bit-reproducible."""
    weights = clone(weights)
    losses: list[float] = []
    for _ in range(epochs):
        acts = forward(X, weights)
        diff = acts[-1] - X
        # dL/dout for L = mean over (rows*cols)
        grad = (2.0 / diff.size) * diff
        for i in range(len(weights) - 1, -1, -1):
            W, b = weights[i]
            gW = acts[i].T @ grad
            gb = grad.sum(axis=0)
            if i > 0:
                grad = (grad @ W.T) * (acts[i] > 0.0)
            weights[i] = (W - lr * gW, b - lr * gb)
        losses.append(float(np.sum(diff * diff)) / diff.size)
    return weights, losses
