"""As-of join (SURVEY §2.4 W9 generalized; no reference equivalent —
the reference does searchsorted lookups, calculations.py:19-26, which is
an as-of join with one probe row).

Spark has no ASOF JOIN operator; a naive theta-join
(``probe.ts >= build.ts`` + max) is O(n·m). We use the union-sort trick:
tag both sides, union, and take ``last(build_value, ignoreNulls)`` over
an ordered window per key — one shuffle by key, one partition-local sort,
linear in n+m. This is the standard scalable formulation (equivalent to
what Flink/QuestDB do with a merge join on time).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F


def asof_join(
    probe: DataFrame,
    build: DataFrame,
    on: str | list[str],
    probe_ts: str,
    build_ts: str,
    value_cols: list[str],
) -> DataFrame:
    """For each probe row, attach ``value_cols`` from the latest build row
    with build_ts <= probe_ts (per ``on`` key). Left-join semantics:
    probes with no earlier build row keep NULLs.
    """
    keys = [on] if isinstance(on, str) else list(on)
    probe_cols = [c for c in probe.columns if c not in keys]
    p = probe.select(
        *keys,
        F.col(probe_ts).alias("__ts"),
        F.lit(1).alias("__is_probe"),
        *[F.col(c) for c in probe_cols],
        *[F.lit(None).cast(build.schema[c].dataType).alias(f"__v_{c}") for c in value_cols],
    )
    b = build.select(
        *keys,
        F.col(build_ts).alias("__ts"),
        F.lit(0).alias("__is_probe"),
        *[F.lit(None).cast(probe.schema[c].dataType).alias(c) for c in probe_cols],
        *[F.col(c).alias(f"__v_{c}") for c in value_cols],
    )
    unioned = p.unionByName(b)
    # Build rows sort before probe rows at equal ts => "at or before" wins.
    w = (
        Window.partitionBy(*keys)
        .orderBy("__ts", "__is_probe")
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    filled = unioned.select(
        *keys,
        "__ts",
        "__is_probe",
        *probe_cols,
        *[
            F.last(f"__v_{c}", ignorenulls=True).over(w).alias(c)
            for c in value_cols
        ],
    )
    return filled.filter(F.col("__is_probe") == 1).drop("__is_probe", "__ts")


def interval_overlap_join(
    left: DataFrame,
    right: DataFrame,
    l_start: str,
    l_end: str,
    r_start: str,
    r_end: str,
    bin_width: float,
) -> DataFrame:
    """All (left, right) row pairs whose CLOSED intervals overlap
    (start_a <= end_b AND start_b <= end_a), via bin bucketing.

    A naive theta-join is a nested-loop over |L| x |R|. Instead each
    interval explodes to the fixed-width bins it spans and pairs meet
    through an EQUI-join on bin — shuffle volume is sum(span)/bin_width
    rows, tunable to the data's interval lengths. A pair sharing many
    bins would match once per shared bin; rather than a distinct, each
    pair is emitted only in its FIRST shared bin
    (bin == max(floor(start_a/W), floor(start_b/W))) — constant-memory
    dedup inside the join filter, no extra shuffle.

    Returns all left columns + all right columns (caller ensures
    disjoint names). Intervals are numeric (cast timestamps to epoch
    seconds first).
    """
    w = float(bin_width)
    lb = left.withColumn(
        "__bin",
        F.explode(
            F.sequence(
                F.floor(F.col(l_start) / w), F.floor(F.col(l_end) / w)
            )
        ),
    )
    rb = right.withColumn(
        "__bin",
        F.explode(
            F.sequence(
                F.floor(F.col(r_start) / w), F.floor(F.col(r_end) / w)
            )
        ),
    )
    joined = lb.join(rb, "__bin").filter(
        (F.col(l_start) <= F.col(r_end))
        & (F.col(r_start) <= F.col(l_end))
        & (
            F.col("__bin")
            == F.greatest(
                F.floor(F.col(l_start) / w), F.floor(F.col(r_start) / w)
            )
        )
    )
    return joined.drop("__bin")
