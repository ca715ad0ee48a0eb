"""Z-order layout: prove the 2-D skipping property from parquet footer
stats, not from documentation.

Layout A (linear): events sorted by user_id only — every file spans
the full ``value`` range, so a predicate on ``value`` overlaps ~all
files. Layout B (Morton): range-partitioned on the interleaved key —
files cover compact (user_id, value) boxes, so the same 2-D box
predicate overlaps only the files whose box intersects it.
"""

from __future__ import annotations

import glob
import os

import pyarrow.parquet as pq
import pytest
from pyspark.sql import functions as F

from anomaly_detection_iiot_spark.queries.base import t
from anomaly_detection_iiot_spark.sources import zorder

N_FILES = 16
V_LO, V_HI = 100.0, 150.0    # ~10% of the value range — 2nd dimension


def write_zordered(df, path, zkey, n_files):
    """Cluster ``df`` along a Morton key: range-partition into
    ``n_files`` contiguous key ranges, sort within each, write one file
    per range, so each file's footer min/max on the original dimension
    columns bound a compact box of the z-space."""
    (
        df.withColumn("__zkey", zkey)
        .repartitionByRange(n_files, "__zkey")
        .sortWithinPartitions("__zkey")
        .drop("__zkey")
        .write.mode("overwrite")
        .parquet(path)
    )


def _files_overlapping(path: str) -> tuple[int, int]:
    """(files whose [min,max] value stats intersect the band, total)."""
    hits, total = 0, 0
    for f in sorted(glob.glob(os.path.join(path, "*.parquet"))):
        md = pq.read_metadata(f)
        vmin, vmax = float("inf"), float("-inf")
        cols = {md.schema.column(i).name: i for i in range(md.num_columns)}
        for rg in range(md.num_row_groups):
            vs = md.row_group(rg).column(cols["value"]).statistics
            vmin, vmax = min(vmin, vs.min), max(vmax, vs.max)
        total += 1
        if vmax >= V_LO and vmin <= V_HI:
            hits += 1
    return hits, total


@pytest.fixture(scope="module")
def layouts(spark, sf_dir, tmp_path_factory):
    base = tmp_path_factory.mktemp("zorder")
    ev = t(spark, str(sf_dir), "events").select("event_id", "user_id", "value")
    linear = str(base / "linear")
    (
        ev.repartitionByRange(N_FILES, "user_id")
        .sortWithinPartitions("user_id")
        .write.mode("overwrite")
        .parquet(linear)
    )
    zed = str(base / "zed")
    ub = F.col("user_id").cast("long")
    vb = zorder.bucketize(F.col("value"), 0.0, 512.0)
    write_zordered(ev, zed, zorder.zorder_key([ub, vb]), n_files=N_FILES)
    return linear, zed


def test_zorder_layout_skips_files_linear_does_not(layouts):
    linear, zed = layouts
    # predicate on the SECOND dimension only: the user-sorted layout
    # cannot skip anything (each file spans the full value range), the
    # Morton layout skips most files
    lin_hits, lin_total = _files_overlapping(linear)
    z_hits, z_total = _files_overlapping(zed)
    assert lin_hits == lin_total > 1  # linear: zero skipping on dim 2
    assert z_total >= N_FILES // 2
    assert z_hits <= z_total // 2, (z_hits, z_total)


def test_zorder_layout_preserves_rows(spark, layouts):
    linear, zed = layouts
    a = spark.read.parquet(linear)
    b = spark.read.parquet(zed)
    assert a.count() == b.count()
    band = b.filter(F.col("value").between(V_LO, V_HI)).count()
    band_lin = a.filter(F.col("value").between(V_LO, V_HI)).count()
    assert band == band_lin > 0


def test_morton_key_bit_interleave_exact(spark):
    df = spark.createDataFrame(
        [(0b1010, 0b0101), (255, 0), (0, 255), (3, 3)], "x long, y long"
    )
    out = df.select(
        zorder.zorder_key([F.col("x"), F.col("y")]).alias("z")
    ).collect()

    def morton(x, y):
        z = 0
        for b in range(8):
            z |= ((x >> b) & 1) << (2 * b)
            z |= ((y >> b) & 1) << (2 * b + 1)
        return z

    assert [r["z"] for r in out] == [
        morton(0b1010, 0b0101),
        morton(255, 0),
        morton(0, 255),
        morton(3, 3),
    ]

