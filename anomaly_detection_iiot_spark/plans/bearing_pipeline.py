"""End-to-end bearing anomaly pipeline over snapshot files — the full
SURVEY §7.2 slice on the reference's own data layout (the flagship in
``flagship.py`` runs the same chain on the driver's ``events`` corpus).

Chain (reference stages cited per operator module):
S1/S2 snapshot scan → canonical long table (S3/P11) → A1 resample →
M1 normalize → W1 windows → M6 score (Arrow UDF, fixed or trained
weights) → A2 per-period MSE → A3/M11 threshold from validation prefix
→ W5 rolling min → W8 first crossing. Per-channel everything: the
partitioning key is (experiment, channel) at every stage, so at 100 TB
the pipeline shards by channel × chunk with no global sort.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..ml.autoencoder import Weights
from ..ml.scoring import score_windows
from ..operators import normalize, resample, windowing
from ..operators.cache import replace_owned_cache
from ..sources import bearing
from .eval_tail import evaluation_tail

KEYS = ["experiment", "channel"]


def bearing_anomaly_report(
    spark: SparkSession,
    snapshot_dir: str,
    weights: Weights,
    n_cols: int = 4,
    channel_positions: list[int] | None = None,
    rows_per_file: int = 20480,
    resample_factor: int = 20,
    window_size: int = 16,
    window_step: int = 16,
    period: int = 4,
    n_std: float = 4.0,
    validation_fraction: float = 0.1,
    experiment: str = "experiment",
) -> DataFrame:
    """Per-channel (threshold, first anomalous period). Sentinel 0 =
    no anomaly (reference argmax semantics, calculations.py:89-90)."""
    raw = bearing.read_snapshot_dir(
        spark, snapshot_dir, n_cols, channel_positions, experiment
    )
    long = bearing.to_canonical_long(
        raw, n_channels=len(channel_positions or range(n_cols)),
        rows_per_file=rows_per_file,
    )
    resampled = resample.resample_mean(
        long, resample_factor, idx_col="global_idx",
        keys=KEYS,
    )
    # Persist the resampled intermediate: it is 1/resample_factor of the
    # raw data and feeds TWO consumers (the scaler's stats aggregate and
    # the transform) — without it Spark recomputes the scan→stack→
    # resample chain once per branch. This mirrors the reference, which
    # also persists its resampled table as a derived artifact
    # (resampler.py:27-39 writes "<exp>_<rate>.csv"; SURVEY §4).
    # Ownership: the next invocation releases this cache (cache.py).
    resampled = replace_owned_cache("bearing_resampled", resampled)
    normalized = normalize.standard_scale(
        resampled, "value", keys=KEYS, out="v",
    )
    wins = windowing.window_arrays(
        normalized, size=window_size, step=window_step,
        idx_col="chunk_idx", value_col="v", keys=KEYS,
    )
    scored = score_windows(wins, weights)
    periods = scored.groupBy(
        *KEYS,
        (F.col("window_idx") / period).cast("long").alias("period_idx"),
    ).agg(F.avg("mse").alias("mse"))
    # single-pass tail (see eval_tail: the join-based formulation made
    # the plan recompute the scan+score upstream once per branch)
    return evaluation_tail(
        periods, KEYS, n_std=n_std,
        validation_fraction=validation_fraction,
    ).select(
        *KEYS,
        F.round("threshold", 6).alias("threshold"),
        "first_anomaly_period",
    )
