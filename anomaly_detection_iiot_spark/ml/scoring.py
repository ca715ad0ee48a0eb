"""Model scoring (SURVEY §2.7 M6): reconstruction error over window
arrays via an Arrow-batched pandas UDF.

Reference: /root/reference/src/training/trainer.py:179-188 (predict →
per-sample squared-error mean A4 → per-period mean A2). The UDF is
stateless; weights travel in the serialized closure (a few KB — the
same payload the reference ships over TCP per FedAvg round). Filters
like the W2 stride (trainer.py:183) must be applied BEFORE this UDF —
Catalyst treats it as opaque (SURVEY §4).
"""

from __future__ import annotations

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from .autoencoder import Weights, clone, reconstruction_mse


def score_windows(df: DataFrame, weights: Weights) -> DataFrame:
    """Per-window mean squared reconstruction error (A4) as a new
    column. One Arrow batch = one numpy matmul chain."""
    frozen = clone(weights)

    @F.pandas_udf("double")
    def _mse(wins: pd.Series) -> pd.Series:
        if len(wins) == 0:
            return pd.Series([], dtype="float64")
        X = np.stack([np.asarray(w, dtype=np.float64) for w in wins])
        return pd.Series(reconstruction_mse(X, frozen))

    return df.withColumn("mse", _mse(F.col("window")))


def score_windows_lstm(df: DataFrame, params) -> DataFrame:
    """LSTM-side M6: per-window seq2seq reconstruction error. Same
    stateless Arrow-batch shape as :func:`score_windows` — the params
    ride the task closure, windows reshape to (N, T, 1) — so it drops
    into BOTH batch plans and Structured Streaming stages unchanged
    (stateless projections need no watermark or state store)."""
    from .lstm import clone as lstm_clone
    from .lstm import reconstruction_mse as lstm_mse

    frozen = lstm_clone(params)

    @F.pandas_udf("double")
    def _mse(wins: pd.Series) -> pd.Series:
        if len(wins) == 0:
            return pd.Series([], dtype="float64")
        X = np.stack([np.asarray(w, dtype=np.float64) for w in wins])[
            :, :, None
        ]
        return pd.Series(lstm_mse(X, frozen))

    return df.withColumn("mse", _mse(F.col("window")))
