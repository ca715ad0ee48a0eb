"""Seq2seq LSTM autoencoder in pure numpy (SURVEY §2.7 M2/M4 — the
reference's main model, /root/reference/src/models/autoencoder.py:12-72:
encoder LSTM stack → hidden LSTM → RepeatVector(T) → decoder LSTM stack
→ TimeDistributed(Dense); Adam lr 5e-4 with clipnorm 1.0 / clipvalue
0.5, MSE loss; M4 at baseline.py:197-229 is the same topology with
bigger layers).

TF/keras is not in the environment, so the kernel is numpy with full
BPTT. Standard gate activations (sigmoid i/f/o, tanh candidate and cell
output) rather than the reference's `activation='relu'` keras quirk —
documented deviation: relu cell activations in keras LSTMs routinely
diverge without the exact init/clipping stack, and the engine's contract
is the architecture (seq2seq bottleneck AE), not bug-for-bug keras
parity. Everything is float64 and deterministic (seeded Glorot init,
fixed batch order) because the driver re-runs training per round and
diffs results.

Spark integration mirrors the dense AE (ml/autoencoder.py): training is
single-node numpy inside ``groupBy(client).applyInPandas`` — clients are
independent, so at 100 TB the parallelism axis is clients × windows (one
task per client), exactly the reference's federated topology.
"""

from __future__ import annotations

import numpy as np

# A parameter set is a list of per-layer dicts; LSTM layers carry
# Wx (fan_in, 4H), Wh (H, 4H), b (4H,); the output projection carries
# Wy (H, D), by (D,). Gate order in the 4H axis: i, f, g, o.
Params = list[dict[str, np.ndarray]]


def init_params(input_dim: int, seed: int = 11) -> Params:
    """The reference's layer geometry (autoencoder.py:37-38) at outer
    size 8, hidden size 4 and one layer per stack: encoder LSTM(8) →
    bottleneck LSTM(4) → decoder LSTM(8) → dense back to input_dim."""
    rng = np.random.default_rng(seed)

    def glorot(fan_in: int, fan_out: int) -> np.ndarray:
        limit = float(np.sqrt(6.0 / (fan_in + fan_out)))
        return rng.uniform(-limit, limit, size=(fan_in, fan_out))

    def lstm_layer(fan_in: int, h: int) -> dict[str, np.ndarray]:
        b = np.zeros(4 * h, dtype=np.float64)
        b[h : 2 * h] = 1.0  # forget-gate bias 1: standard stability init
        return {
            "Wx": glorot(fan_in, 4 * h),
            "Wh": glorot(h, 4 * h),
            "b": b,
        }

    return [
        lstm_layer(input_dim, 8),
        lstm_layer(8, 4),
        lstm_layer(4, 8),
        {"Wy": glorot(8, input_dim), "by": np.zeros(input_dim, dtype=np.float64)},
    ]


def clone(params: Params) -> Params:
    return [{k: v.copy() for k, v in layer.items()} for layer in params]


def _sigmoid(z: np.ndarray) -> np.ndarray:
    return 1.0 / (1.0 + np.exp(-z))


def _lstm_forward(X: np.ndarray, layer: dict[str, np.ndarray]):
    """X (N,T,Din) → H_seq (N,T,H); cache for BPTT."""
    N, T, _ = X.shape
    H = layer["Wh"].shape[0]
    h = np.zeros((N, H))
    c = np.zeros((N, H))
    H_seq = np.empty((N, T, H))
    cache = []
    for t in range(T):
        z = X[:, t, :] @ layer["Wx"] + h @ layer["Wh"] + layer["b"]
        i = _sigmoid(z[:, :H])
        f = _sigmoid(z[:, H : 2 * H])
        g = np.tanh(z[:, 2 * H : 3 * H])
        o = _sigmoid(z[:, 3 * H :])
        c_prev = c
        c = f * c_prev + i * g
        tc = np.tanh(c)
        h_prev_cache = h
        h = o * tc
        H_seq[:, t, :] = h
        cache.append((X[:, t, :], h_prev_cache, c_prev, i, f, g, o, tc))
    return H_seq, cache


def _lstm_backward(
    dH_seq: np.ndarray, cache, layer: dict[str, np.ndarray]
):
    """dH_seq (N,T,H) upstream grads per step → (grads, dX_seq)."""
    N, T, H = dH_seq.shape
    gWx = np.zeros_like(layer["Wx"])
    gWh = np.zeros_like(layer["Wh"])
    gb = np.zeros_like(layer["b"])
    dX_seq = np.empty((N, T, layer["Wx"].shape[0]))
    dh_next = np.zeros((N, H))
    dc_next = np.zeros((N, H))
    for t in range(T - 1, -1, -1):
        x_t, h_prev, c_prev, i, f, g, o, tc = cache[t]
        dh = dH_seq[:, t, :] + dh_next
        do = dh * tc
        dc = dh * o * (1.0 - tc * tc) + dc_next
        di = dc * g
        df = dc * c_prev
        dg = dc * i
        dz = np.concatenate(
            [
                di * i * (1.0 - i),
                df * f * (1.0 - f),
                dg * (1.0 - g * g),
                do * o * (1.0 - o),
            ],
            axis=1,
        )
        gWx += x_t.T @ dz
        gWh += h_prev.T @ dz
        gb += dz.sum(axis=0)
        dX_seq[:, t, :] = dz @ layer["Wx"].T
        dh_next = dz @ layer["Wh"].T
        dc_next = dc * f
    return {"Wx": gWx, "Wh": gWh, "b": gb}, dX_seq


def forward(X: np.ndarray, params: Params):
    """X (N,T,D) → (reconstruction (N,T,D), caches). Encoder stack over
    the sequence, bottleneck last hidden state repeated T times
    (RepeatVector), decoder stack, time-distributed linear output."""
    N, T, _ = X.shape
    n_lstm = len(params) - 1
    n_enc = (n_lstm + 1) // 2  # encoder layers incl. bottleneck
    caches = []
    h = X
    for li in range(n_enc):
        h, cache = _lstm_forward(h, params[li])
        caches.append(cache)
    context = h[:, -1, :]  # bottleneck state
    h = np.repeat(context[:, None, :], T, axis=1)  # RepeatVector
    for li in range(n_enc, n_lstm):
        h, cache = _lstm_forward(h, params[li])
        caches.append(cache)
    out_layer = params[-1]
    Y = h @ out_layer["Wy"] + out_layer["by"]
    caches.append(h)  # decoder top output, needed for dWy
    return Y, caches


def reconstruction_mse(X: np.ndarray, params: Params) -> np.ndarray:
    """Per-window mean squared reconstruction error over (T,D) — the
    LSTM-side M6 (trainer.py:186)."""
    Y, _ = forward(X, params)
    return np.mean((Y - X) ** 2, axis=(1, 2))


def gradients(X: np.ndarray, params: Params):
    """(loss, grads) for MSE over all of (N,T,D) — full BPTT."""
    N, T, D = X.shape
    Y, caches = forward(X, params)
    diff = Y - X
    loss = float(np.mean(diff * diff))
    dY = (2.0 / diff.size) * diff
    n_lstm = len(params) - 1
    n_enc = (n_lstm + 1) // 2
    H_top = caches[-1]
    grads: Params = [dict() for _ in params]
    grads[-1] = {
        "Wy": np.einsum("nth,ntd->hd", H_top, dY),
        "by": dY.sum(axis=(0, 1)),
    }
    dH = np.einsum("ntd,hd->nth", dY, params[-1]["Wy"])
    for li in range(n_lstm - 1, n_enc - 1, -1):  # decoder stack
        grads[li], dH = _lstm_backward(dH, caches[li], params[li])
    # dH is now (N,T,hidden) w.r.t. the repeated context: RepeatVector's
    # backward is a sum over timesteps, landing on the encoder's LAST step
    d_context = dH.sum(axis=1)
    for li in range(n_enc - 1, -1, -1):  # encoder stack
        T_enc = len(caches[li])
        H_li = params[li]["Wh"].shape[0]
        dH_enc = np.zeros((X.shape[0], T_enc, H_li))
        if li == n_enc - 1:
            dH_enc[:, -1, :] = d_context
        else:
            dH_enc = d_upstream
        grads[li], d_upstream = _lstm_backward(dH_enc, caches[li], params[li])
    return loss, grads


def _clip(grads: Params, clipnorm: float, clipvalue: float) -> Params:
    flat = [v for layer in grads for v in layer.values()]
    total = float(np.sqrt(sum(float(np.sum(v * v)) for v in flat)))
    scale = clipnorm / total if total > clipnorm else 1.0
    return [
        {k: np.clip(v * scale, -clipvalue, clipvalue) for k, v in layer.items()}
        for layer in grads
    ]


# The m2 query's Adam schedule (the reference's lr, autoencoder.py:24);
# tests monkeypatch EPOCHS and LR to train longer.
EPOCHS = 2
LR = 5e-4


def train(X: np.ndarray, params: Params) -> tuple[Params, list[float]]:
    """Adam + gradient clipping on MSE(X, reconstruct(X)): ``EPOCHS``
    epochs at ``LR``, fixed-order batches of 64 for bit-reproducibility,
    clipnorm 1.0 and clipvalue 0.5 as in the reference
    (autoencoder.py:41). Returns (trained params, mean loss per epoch)."""
    params = clone(params)
    n = X.shape[0]
    bs = min(64, n)
    m = [{k: np.zeros_like(v) for k, v in layer.items()} for layer in params]
    v = [{k: np.zeros_like(va) for k, va in layer.items()} for layer in params]
    b1, b2, eps = 0.9, 0.999, 1e-7  # keras Adam defaults
    step = 0
    losses: list[float] = []
    for _ in range(EPOCHS):
        epoch_losses: list[float] = []
        for start in range(0, n, bs):
            xb = X[start : start + bs]
            loss, grads = gradients(xb, params)
            epoch_losses.append(loss * xb.shape[0])
            grads = _clip(grads, 1.0, 0.5)
            step += 1
            bc = (1.0 - b1**step, 1.0 - b2**step)
            for li, layer in enumerate(grads):
                for k, g in layer.items():
                    m[li][k] = b1 * m[li][k] + (1 - b1) * g
                    v[li][k] = b2 * v[li][k] + (1 - b2) * g * g
                    mh = m[li][k] / bc[0]
                    vh = v[li][k] / bc[1]
                    params[li][k] = params[li][k] - LR * mh / (
                        np.sqrt(vh) + eps
                    )
        losses.append(float(np.sum(epoch_losses) / n))
    return params, losses
