"""Confusion matrix, P/R/F1, ROC/PR curves, AUC (SURVEY §2.7 M12, M13).

Reference semantics:
- M12: TP/FP/FN/TN via set algebra over index sets, then
  precision/recall/F1 with zero-guards
  (/root/reference/src/util/calculations.py:58-83).
- M13: O(n²) threshold sweep — every sorted MSE value becomes a
  candidate threshold, confusion recomputed per threshold, trapezoidal
  AUC (calculations.py:111-157).

Spark mapping: conditional aggregates for the confusion matrix (single
scan, no join), and the SINGLE-SORT cumulative form for the sweep: sort
score groups once, cumulative TP/FP via window sums → every candidate
threshold's (fpr, tpr, precision, recall) in one pass, trapezoid via lag.
This is the algorithmic substitution that makes a 100 TB sweep feasible
(SURVEY §4 item 4); ties are grouped by distinct score so the result is
deterministic across engines.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F


def confusion_matrix(
    df: DataFrame,
    pred_col: str,
    label_col: str,
    keys: list[str] = (),
) -> DataFrame:
    """Counts + precision/recall/F1 with the reference's zero-guards
    (calculations.py:74-83: 0 when denominator is 0)."""
    p = F.col(pred_col).cast("int")
    l = F.col(label_col).cast("int")
    agg = df.groupBy(*keys).agg(
        F.sum(p * l).cast("long").alias("tp"),
        F.sum(p * (1 - l)).cast("long").alias("fp"),
        F.sum((1 - p) * l).cast("long").alias("fn"),
        F.sum((1 - p) * (1 - l)).cast("long").alias("tn"),
    )
    precision = F.when(
        F.col("tp") + F.col("fp") > 0, F.col("tp") / (F.col("tp") + F.col("fp"))
    ).otherwise(F.lit(0.0))
    recall = F.when(
        F.col("tp") + F.col("fn") > 0, F.col("tp") / (F.col("tp") + F.col("fn"))
    ).otherwise(F.lit(0.0))
    out = agg.withColumn("precision", precision).withColumn("recall", recall)
    f1 = F.when(
        F.col("precision") + F.col("recall") > 0,
        2 * F.col("precision") * F.col("recall")
        / (F.col("precision") + F.col("recall")),
    ).otherwise(F.lit(0.0))
    return out.withColumn("f1", f1)


def roc_points(df: DataFrame, score_col: str, label_col: str) -> DataFrame:
    """One (cohort, threshold, tp, fp, tpr, fpr, precision, recall) row
    per cohort and DISTINCT score value, via the single-sort cumulative sweep.

    Threshold semantics follow the reference: predict anomaly iff
    score > threshold (calculations.py:94), so at threshold = a distinct
    score value v, TP = #positives with score > v = P - cum_pos(<=v).
    """
    l = F.col(label_col).cast("long")
    grouped = df.groupBy("cohort", F.col(score_col).alias("threshold")).agg(
        F.sum(l).alias("__pos"), F.count(F.lit(1)).alias("__cnt")
    )
    w = Window.partitionBy("cohort").orderBy("threshold").rowsBetween(
        Window.unboundedPreceding, 0
    )
    tot = Window.partitionBy("cohort")
    cum_pos = F.sum("__pos").over(w)
    cum_cnt = F.sum("__cnt").over(w)
    total_pos = F.sum("__pos").over(tot)
    total_cnt = F.sum("__cnt").over(tot)
    res = grouped.select(
        "cohort",
        "threshold",
        (total_pos - cum_pos).alias("tp"),
        ((total_cnt - cum_cnt) - (total_pos - cum_pos)).alias("fp"),
        total_pos.alias("__P"),
        (total_cnt - total_pos).alias("__N"),
    )
    tpr = F.when(F.col("__P") > 0, F.col("tp") / F.col("__P")).otherwise(F.lit(0.0))
    fpr = F.when(F.col("__N") > 0, F.col("fp") / F.col("__N")).otherwise(F.lit(0.0))
    precision = F.when(
        F.col("tp") + F.col("fp") > 0, F.col("tp") / (F.col("tp") + F.col("fp"))
    ).otherwise(F.lit(0.0))
    return (
        res.withColumn("tpr", tpr)
        .withColumn("fpr", fpr)
        .withColumn("precision", precision)
        .withColumn("recall", tpr)
        .drop("__P", "__N")
    )


def auc(
    df: DataFrame,
    score_col: str,
    label_col: str,
    keys: list[str] = (),
) -> DataFrame:
    """Exact ROC AUC via the Mann-Whitney rank-sum with average ranks for
    ties — equals the trapezoidal ROC integral, in ONE sort of distinct
    scores instead of the reference's O(n²) sweep.

    AUC = (sum over positives of avg_rank - P(P+1)/2) / (P*N), where
    avg_rank of a tie-group = cum_count - (cnt-1)/2.
    """
    l = F.col(label_col).cast("long")
    grouped = df.groupBy(*keys, F.col(score_col).alias("__s")).agg(
        F.sum(l).alias("__pos"), F.count(F.lit(1)).alias("__cnt")
    )
    w = Window.partitionBy(*keys).orderBy("__s").rowsBetween(
        Window.unboundedPreceding, 0
    )
    avg_rank = F.sum("__cnt").over(w) - (F.col("__cnt") - 1) / 2.0
    ranked = grouped.withColumn("__ranksum", F.col("__pos") * avg_rank)
    agg = ranked.groupBy(*keys).agg(
        F.sum("__ranksum").alias("__rs"),
        F.sum("__pos").alias("__P"),
        F.sum("__cnt").alias("__n"),
    )
    p, n_all = F.col("__P"), F.col("__n")
    n_neg = n_all - p
    value = F.when(
        (p > 0) & (n_neg > 0),
        (F.col("__rs") - p * (p + 1) / 2.0) / (p * n_neg),
    ).otherwise(F.lit(0.0))
    return agg.select(*keys, value.alias("auc_roc"))


def best_f1_threshold(df: DataFrame, score_col: str, label_col: str) -> DataFrame:
    """O4/M13: per cohort, the threshold maximizing F1 over the sweep,
    deterministic tie-break on smallest threshold."""
    pts = roc_points(df, score_col, label_col)
    f1 = F.when(
        F.col("precision") + F.col("recall") > 0,
        2 * F.col("precision") * F.col("recall")
        / (F.col("precision") + F.col("recall")),
    ).otherwise(F.lit(0.0))
    pts = pts.withColumn("f1", f1)
    w = Window.partitionBy("cohort").orderBy(F.desc("f1"), F.asc("threshold"))
    return (
        pts.withColumn("__rn", F.row_number().over(w))
        .filter(F.col("__rn") == 1)
        .select("cohort", "threshold", "f1")
    )
