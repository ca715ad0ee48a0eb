"""SparkSession factory with scale-oriented defaults.

Local testing runs on ``local[$SPARK_GRAFT_CPUS]`` (default: the cores
this process may run on, as ``nproc`` counts them), but every config
here is chosen to also make sense on a large cluster:

- AQE on (runtime coalescing, skew-join splitting, dynamic join strategy);
- shuffle partitions sized to cores locally — on a real cluster AQE
  coalesces from a larger initial number;
- Arrow enabled so pandas UDF exchange is columnar;
- session timezone pinned to UTC so timestamp semantics are stable across
  the DuckDB oracle, Parquet files, and executors in any geography;
- Spark's generated-code cache sized to the engine's working set
  (``CODEGEN_CACHE_ENTRIES``), so a session compiles each class once.

Codegen cache: Spark keeps compiled whole-stage/expression classes in an
LRU of ``spark.sql.codegen.cache.maxEntries`` classes, default 100. One
perfbench ``iiot_anomaly`` pass alone generates 155 distinct classes, so
at the default every class is evicted before its next use and every
warm run recompiles -- and re-JITs -- everything. One pass over both
perfbench workloads plus ``bench.py``'s HEADLINE list at sf0.1 compiles
1,539 distinct classes; ``CODEGEN_CACHE_ENTRIES`` leaves ~30% headroom
over that, for ~11 MB more Metaspace than the default keeps. The conf is
static: it applies to sessions built here (``extra_conf`` still
overrides it) and cannot be set on a session that is already running,
so a vanilla session created by the caller of ``__spark_entry__``
keeps Spark's default of 100.
"""

from __future__ import annotations

import os
from contextlib import contextmanager

from pyspark.sql import SparkSession


# Classes in spark.sql.codegen.cache.maxEntries; also used by the test
# session (tests/conftest.py).
CODEGEN_CACHE_ENTRIES = 2000


def default_parallelism() -> int:
    return int(os.environ.get("SPARK_GRAFT_CPUS") or len(os.sched_getaffinity(0)))


@contextmanager
def scoped_conf(spark: SparkSession, conf: dict[str, str]):
    """Set ``conf`` on ``spark`` for the body of the ``with`` block. On
    exit each key gets back the value the caller had set explicitly, or
    is unset when the caller had not set it, so ``spark.conf.getAll`` is
    the same after the block as before it. Runtime SQL conf is
    session-wide: another thread sharing the session sees the scoped
    values while the block runs, so scope only single-threaded work."""
    before = spark.conf.getAll if conf else {}
    try:
        for key, value in conf.items():
            spark.conf.set(key, value)
        yield
    finally:
        for key in conf:
            if key in before:
                spark.conf.set(key, before[key])
            else:
                spark.conf.unset(key)


def get_spark(
    app_name: str = "anomaly-detection-iiot-spark",
    master: str | None = None,
    shuffle_partitions: int | None = None,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    cpus = default_parallelism()
    builder = (
        SparkSession.builder.master(master or f"local[{cpus}]")
        .appName(app_name)
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions or cpus))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.autoBroadcastJoinThreshold", str(64 * 1024 * 1024))
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        # pin Python-worker reuse explicitly (default true, but drift
        # here is invisible and costs a fork per task for every
        # pandas_udf stage — the r8 bench showed a transient 3x on the
        # Arrow-UDF family that this removes as a suspect), and never
        # idle-kill workers mid-suite
        .config("spark.python.worker.reuse", "true")
        .config("spark.python.worker.idleTimeoutSeconds", "0")
        .config("spark.sql.parquet.filterPushdown", "true")
        .config("spark.sql.files.maxPartitionBytes", str(128 * 1024 * 1024))
        .config("spark.driver.memory", os.environ.get("SPARK_GRAFT_DRIVER_MEM", "16g"))
        .config("spark.ui.showConsoleProgress", "false")
        .config("spark.ui.enabled", "false")
        .config("spark.sql.codegen.cache.maxEntries", str(CODEGEN_CACHE_ENTRIES))
    )
    for k, v in (extra_conf or {}).items():
        builder = builder.config(k, v)
    return builder.getOrCreate()
