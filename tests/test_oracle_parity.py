"""In-repo mirror of the driver's DuckDB-oracle gate (VERDICT r1 item 2).

For EVERY registered query with an oracle SQL string, run the Spark
DataFrame builder and the DuckDB oracle over the same sf0.001 parquet
tables and compare row count, column names, and order-insensitive
values.  This is the driver's CORRECTNESS check run locally, so an
oracle mismatch surfaces in ``pytest`` before the driver ever runs.
Each query must also leave ``spark.conf.getAll`` as it found it, and
its builder (``spec.fn(...)`` plus ``.schema``) must start no Spark job
unless it is listed in ``CONSTRUCT_JOBS_ALLOWED``. The builders written
as SQL text are also held to a py4j command budget
(``PY4J_COMMANDS_MAX``): a Python Column tree sends one command per
node, which is where a builder's construction time goes.

Comparison logic lives in ``tools/check_oracle.py`` and is imported,
not duplicated.
"""

from __future__ import annotations

import gc
import os
import sys
import threading

import pytest
from py4j.clientserver import ClientServerConnection

sys.path.insert(
    0, os.path.join(os.path.dirname(os.path.dirname(os.path.abspath(__file__))), "tools")
)

from check_oracle import compare, duck_con  # noqa: E402
from test_bearing_pipeline import ROWS_PER_FILE  # noqa: E402
from test_bearing_pipeline import snapshot_dir as bearing_snapshot_dir  # noqa: E402,F401

from anomaly_detection_iiot_spark.ml import autoencoder as ae  # noqa: E402
from anomaly_detection_iiot_spark.operators import textstats  # noqa: E402
from anomaly_detection_iiot_spark.plans.bearing_pipeline import (  # noqa: E402
    bearing_anomaly_report,
)
from anomaly_detection_iiot_spark.plans.flagship import (  # noqa: E402
    flagship_anomaly_report,
)
from anomaly_detection_iiot_spark.queries import REGISTRY  # noqa: E402
from anomaly_detection_iiot_spark.queries.base import t  # noqa: E402
from anomaly_detection_iiot_spark.streaming import curation_stream  # noqa: E402

ORACLE_NAMES = sorted(n for n, s in REGISTRY.items() if s.oracle is not None)
ROWS_ONLY_NAMES = sorted(n for n, s in REGISTRY.items() if s.oracle is None)

# Builders that still run Spark jobs before any action: roundtrip
# queries that write files by design, driver loops and size probes.
# A builder is lazy by default; a name leaves this list when its
# builder becomes lazy (the test fails until it does).
CONSTRUCT_JOBS_ALLOWED = frozenset({
    "d8_dup_clusters", "g1_triangle_count", "k1_kbm_roundtrip",
    "k2_kbm_quarantine", "m9_fedavg_weights", "mm3_audio_roundtrip",
    "mm4_image_roundtrip", "mm5_video_roundtrip", "mm6_jpeg_roundtrip",
    "mm7_audio_frames", "mm8_frame_tensor_stats", "o14_equal_freq_binning",
    "o2_threshold_grid", "s10_resource_roundtrip", "s12_orc_roundtrip",
    "s13_kmeans_codebook", "s14_upsert_roundtrip", "s15_pyds_roundtrip",
    "s16_incremental_agg", "s17_occ_committers", "s1_snapshot_roundtrip",
    "s5_csv_roundtrip", "s6_json_roundtrip", "t16_bpe_merges",
    "t17_textrank", "t19_bpe_encode", "w23_seasonal_anomalies",
})

# py4j commands a builder may send (``fn()`` plus ``.schema``, schema
# memo warm). As Column trees these builders sent 2,678 and 945.
PY4J_COMMANDS_MAX = {"d6_simhash": 150, "c1_corpus_curation": 150}


@pytest.fixture(scope="module")
def duck(sf_dir):
    con = duck_con(sf_dir)
    yield con
    con.close()


@pytest.fixture(scope="module")
def warm_schemas(spark, sf_dir):
    """The first read of a table in a process infers its schema with a
    Spark job, then ``t()`` memoizes it; read every table once so the
    job count below does not depend on test order."""
    for entry in sorted(os.listdir(sf_dir)):
        if entry.endswith(".parquet"):
            t(spark, sf_dir, entry[: -len(".parquet")])


def build_counting_jobs(spark, sf_dir, name):
    """Build ``name``'s DataFrame and resolve its schema under a job
    group; return the DataFrame and the number of jobs that started."""
    sc = spark.sparkContext
    group = f"construct-{name}"
    sc.setJobGroup(group, name)
    try:
        df = REGISTRY[name].fn(spark, sf_dir)
        df.schema
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    sc._jsc.sc().listenerBus().waitUntilEmpty()
    return df, len(sc.statusTracker().getJobIdsForGroup(group))


def check_construct_jobs(name, n_jobs):
    if name in CONSTRUCT_JOBS_ALLOWED:
        assert n_jobs >= 1, (
            f"{name} builds lazily now: drop it from CONSTRUCT_JOBS_ALLOWED"
        )
    else:
        assert n_jobs == 0, f"{name} ran {n_jobs} Spark jobs while building"


@pytest.mark.parametrize("name", ORACLE_NAMES)
def test_oracle_parity(spark, sf_dir, duck, warm_schemas, name):
    spec = REGISTRY[name]
    conf_before = spark.conf.getAll
    df, n_jobs = build_counting_jobs(spark, sf_dir, name)
    check_construct_jobs(name, n_jobs)
    spark_pd = df.toPandas()
    assert spark.conf.getAll == conf_before, f"{name} left session conf changed"
    duck_pd = duck.execute(spec.oracle).fetchdf()
    problems = compare(spark_pd, duck_pd)
    assert not problems, f"{name}: " + "; ".join(problems)


@pytest.mark.parametrize("name", ROWS_ONLY_NAMES)
def test_rows_only_queries_execute(spark, sf_dir, warm_schemas, name):
    conf_before = spark.conf.getAll
    df, n_jobs = build_counting_jobs(spark, sf_dir, name)
    check_construct_jobs(name, n_jobs)
    assert df.count() >= 0  # executes the full plan
    assert spark.conf.getAll == conf_before, f"{name} left session conf changed"


def count_py4j_commands(build) -> int:
    """py4j commands this thread sends while ``build()`` runs and its
    schema resolves. Releasing earlier garbage sends one command per JVM
    object, from py4j's own thread or from a cyclic GC pass; neither
    lands in the count."""
    sent = 0
    real = ClientServerConnection.send_command
    me = threading.get_ident()

    def counting(self, command):
        nonlocal sent
        sent += threading.get_ident() == me
        return real(self, command)

    gc.collect()
    gc.disable()
    with pytest.MonkeyPatch.context() as mp:
        mp.setattr(ClientServerConnection, "send_command", counting)
        try:
            build().schema
        finally:
            gc.enable()
    return sent


@pytest.mark.parametrize("name", sorted(PY4J_COMMANDS_MAX))
def test_builder_py4j_command_budget(spark, sf_dir, warm_schemas, name):
    sent = count_py4j_commands(lambda: REGISTRY[name].fn(spark, sf_dir))
    assert 0 < sent <= PY4J_COMMANDS_MAX[name], f"{name} sent {sent}"


def test_text_scores_py4j_command_budget(spark):
    """Both shared text scores on a bare frame: 619 commands as a
    Column tree."""
    bare = spark.createDataFrame([(1, "a b")], "doc_id bigint, text string")
    sent = count_py4j_commands(
        lambda: textstats.quality_scores(textstats.language_scores(bare))
    )
    assert 0 < sent <= 50, f"sent {sent}"


def test_bearing_report_py4j_command_budget(spark, bearing_snapshot_dir):
    """The bearing report on the end-to-end test's snapshot files:
    1,344 commands as Column trees."""
    sent = count_py4j_commands(
        lambda: bearing_anomaly_report(
            spark, bearing_snapshot_dir, ae.init_weights([8, 4, 2, 4, 8], seed=55),
            n_cols=2, rows_per_file=ROWS_PER_FILE, resample_factor=4,
            window_size=8, window_step=8, period=2,
        )
    )
    assert 0 < sent <= 400, f"sent {sent}"


def test_flagship_py4j_command_budget(spark, sf_dir, warm_schemas):
    """The flagship report: 640 commands as Column trees."""
    sent = count_py4j_commands(lambda: flagship_anomaly_report(spark, sf_dir))
    assert 0 < sent <= 160, f"sent {sent}"


def test_curation_stream_py4j_command_budget(spark, tmp_path):
    """The curation stream as perfbench builds it, over a file source:
    544 commands with the o6 cutoff and the verdict as a Column tree."""
    spark.createDataFrame(
        [(1, "en", "a b")], "doc_id bigint, lang string, text string"
    ).write.parquet(str(tmp_path / "docs"))
    sent = count_py4j_commands(
        lambda: curation_stream.curated_document_stream(
            spark.readStream.schema("doc_id bigint, lang string, text string")
            .option("maxFilesPerTrigger", 3)
            .parquet(str(tmp_path / "docs"))
        )
    )
    assert 0 < sent <= 150, f"sent {sent}"
