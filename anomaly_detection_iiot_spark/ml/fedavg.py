"""Federated averaging (SURVEY §2.7 M9 + §2.3 A5).

Reference protocol (/root/reference/src/federated_learning/): K rounds
of 1-epoch local training per client, pickled weights over raw TCP
(communication.py:4-22), element-wise mean per layer on the aggregator
(aggregation.py:75-84), broadcast back.

Spark-first re-expression — no sockets, no sleeps:

- clients = groups: ``groupBy(client_col).applyInPandas(local_train)``
  runs each client's local epoch as one task (clients are independent;
  the reference's staggered sleeps, training.py:71-76, are replaced by
  the scheduler).
- weight exchange = long-form DataFrame ``(client_id, layer, part,
  idx, w)`` — a few K rows regardless of data scale.
- A5 FedAvg = ``groupBy(layer, part, idx).avg(w)`` — an ordinary hash
  aggregate, exactly the reference's element-wise mean.
- round loop = driver loop; the new global weights ship to executors in
  the next round's task closures (Spark's broadcast path).

At 100 TB the per-round data stays partitioned by client across
executors; only model weights (KBs) cross the driver per round.
"""

from __future__ import annotations

from collections.abc import Iterable

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from .autoencoder import Weights, clone, train

WEIGHT_ROW_SCHEMA = (
    "client_id bigint, layer int, part string, idx bigint, w double"
)


def weights_to_rows(client_id: int, weights: Weights) -> pd.DataFrame:
    rows: list[tuple[int, int, str, int, float]] = []
    for li, (W, b) in enumerate(weights):
        rows.extend(
            (client_id, li, "W", i, float(v)) for i, v in enumerate(W.ravel())
        )
        rows.extend((client_id, li, "b", i, float(v)) for i, v in enumerate(b))
    return pd.DataFrame(
        rows, columns=["client_id", "layer", "part", "idx", "w"]
    )


def rows_to_weights(rows: Iterable, sizes: list[int]) -> Weights:
    """Rebuild ``list[(W, b)]`` from (layer, part, idx, w) records."""
    shapes = list(zip(sizes[:-1], sizes[1:]))
    ws = [
        (np.zeros(s, dtype=np.float64), np.zeros(s[1], dtype=np.float64))
        for s in shapes
    ]
    for r in rows:
        li = int(r["layer"]) if isinstance(r, dict) else int(r.layer)
        part = r["part"] if isinstance(r, dict) else r.part
        idx = int(r["idx"]) if isinstance(r, dict) else int(r.idx)
        w = float(r["w"]) if isinstance(r, dict) else float(r.w)
        if part == "W":
            ws[li][0].ravel()[idx] = w
        else:
            ws[li][1][idx] = w
    return ws


def local_train_fn(
    global_weights: Weights,
    epochs: int,
    lr: float,
    window_col: str = "window",
    order_cols: tuple[str, ...] = ("user_id", "window_idx"),
):
    """Grouped-map body: deterministic row order, local GD from the
    round's global weights, long-form weights out."""
    frozen = clone(global_weights)

    def fn(key: tuple, pdf: pd.DataFrame) -> pd.DataFrame:
        pdf = pdf.sort_values(list(order_cols), kind="mergesort")
        X = np.stack(
            [np.asarray(w, dtype=np.float64) for w in pdf[window_col]]
        )
        trained, _ = train(X, frozen, epochs=epochs, lr=lr)
        return weights_to_rows(int(key[0]), trained)

    return fn


def fedavg_round(
    windows: DataFrame,
    global_weights: Weights,
    client_col: str = "client_id",
    epochs: int = 1,
    lr: float = 1e-3,
    window_col: str = "window",
) -> DataFrame:
    """One round: local train per client → long-form weights → A5
    element-wise mean. Returns the averaged (layer, part, idx, w)."""
    trained = windows.groupBy(client_col).applyInPandas(
        local_train_fn(global_weights, epochs, lr, window_col),
        WEIGHT_ROW_SCHEMA,
    )
    return trained.groupBy("layer", "part", "idx").agg(
        F.avg("w").alias("w")
    )
