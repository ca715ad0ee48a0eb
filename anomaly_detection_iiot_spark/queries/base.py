"""Query registry plumbing for the driver contract (__spark_entry__.py).

Each named query pairs a Spark DataFrame builder with an equivalent ANSI
SQL string the driver runs on DuckDB over the same parquet tables.
Parity rules (so the driver's order-insensitive value-hash matches):

- alias every computed column identically on both sides;
- cast ambiguous types explicitly (BIGINT for counts/indexes, DOUBLE for
  math) — e.g. DuckDB ``floor()`` is DOUBLE while Spark's is BIGINT;
- round float aggregates to 6 digits on BOTH sides so cross-engine
  summation-order noise (~1e-12) cannot flip the hash;
- never rely on implicit row order or nondeterministic ties: every
  row_number/limit has a unique tie-breaker.
"""

from __future__ import annotations

import json
import os
from collections.abc import Callable
from dataclasses import dataclass, field

from pyspark.sql import DataFrame, SparkSession

QueryFn = Callable[[SparkSession, str], DataFrame]


@dataclass(frozen=True)
class QuerySpec:
    name: str
    fn: QueryFn
    oracle: str | None  # ANSI SQL for DuckDB; None -> rows-only check
    doc: str = ""
    tags: tuple[str, ...] = field(default_factory=tuple)


# Session-lifetime schema memo for the static input tables (r13, guide
# §6): every bare spark.read.parquet runs a 1-task footer-inference job
# at construct time — 1 per distinct table per query per measured run,
# 4-7 jobs (~0.3-0.5 s) for the snowflake-join queries. A catalog would
# serve these schemas without touching storage; this memo plays that
# role for the path-addressed testdata. Keyed by (path, mtime_ns, size)
# (ADVICE r13: a bare path key silently served a stale schema if the
# table was regenerated mid-process — the stat key invalidates on any
# rewrite, one ~µs os.stat per construct); caches the RAW inferred
# schema only (metadata — never rows, never results), so downstream
# normalization (_ltz, nanos handling) is unchanged.
_SCHEMA_CACHE: dict = {}


def _read_table(spark: SparkSession, path: str) -> DataFrame:
    try:
        st = os.stat(path)
        key = (path, st.st_mtime_ns, st.st_size)
    except OSError:
        key = (path, None, None)  # let spark.read surface the error
    sch = _SCHEMA_CACHE.get(key)
    if sch is not None:
        return spark.read.schema(sch).parquet(path)
    df = spark.read.parquet(path)
    _SCHEMA_CACHE[key] = df.schema
    return df


def _ts_is_nanos(path: str) -> bool:
    """True when the parquet footer types ``ts`` as TIMESTAMP(NANOS).
    Read in this process with pyarrow (one file's footer, ~3 ms). The
    parquet type, not the Arrow one: Arrow also maps Spark's INT96
    timestamps to ns, and Spark reads those natively. A path pyarrow
    cannot open is left to spark.read to report."""
    import pyarrow as pa
    import pyarrow.dataset as ds

    try:
        frag = next(ds.dataset(path, format="parquet").get_fragments(), None)
        if frag is None:
            return False
        schema = frag.metadata.schema
    except (OSError, pa.ArrowException):
        return False
    for i in range(len(schema)):
        col = schema.column(i)
        if col.path == "ts":
            unit = json.loads(col.logical_type.to_json()).get("timeUnit")
            return col.logical_type.type == "TIMESTAMP" and unit == "nanoseconds"
    return False


def t(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    path = os.path.join(sf_dir, f"{name}.parquet")
    if name == "events" and _ts_is_nanos(path):
        # Older testdata generations wrote ts as TIMESTAMP(NANOS), which
        # Spark cannot read natively; read nanos as long and integer-divide
        # to micros (same truncation DuckDB applies), keeping full precision
        # (ns-since-epoch exceeds double's 53-bit mantissa, so no float
        # division). The conf must stay set until the caller's action
        # runs, so it is set only for such files: a micros table (every
        # current generation) leaves the caller's session conf untouched.
        # (conf set BEFORE the first read so the memoized schema is the
        # nanos-as-long one; replaying it via .schema() is then
        # equivalent to re-inference under the same conf.)
        from pyspark.sql import functions as F

        spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
        df = _read_table(spark, path)
        return _ltz(df.withColumn("ts", F.timestamp_micros(F.expr("ts div 1000"))))
    return _ltz(_read_table(spark, path))


def _ltz(df: DataFrame) -> DataFrame:
    """Normalize TIMESTAMP_NTZ columns (Spark 4's inference for parquet
    timestamps written with isAdjustedToUTC=false) to TIMESTAMP_LTZ.

    Every driver-green correctness row in rounds 1-4 was produced with
    LTZ timestamps; NTZ additionally breaks direct double casts and
    interval comparisons in downstream operators, so pinning the type at
    the scan keeps all query code on one proven path.
    """
    ntz = [c for c, dt in df.dtypes if dt == "timestamp_ntz"]
    if not ntz:
        return df
    from pyspark.sql import functions as F

    return df.withColumns({c: F.col(c).cast("timestamp") for c in ntz})
