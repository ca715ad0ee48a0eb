"""Z-order (Morton-curve) clustered layout for multi-dimensional scans.

No reference equivalent (the reference reads whole directories). The
problem at 100 TB: parquet min/max skipping works on the SORT column
only — sort by ``user_id`` and every file still spans the full range of
``value``, so a predicate on the second dimension reads everything.
Interleaving the bits of both dimensions into one Morton key and
range-partitioning/sorting on it gives every file a tight bounding BOX
in (dim1, dim2) space: footer stats on BOTH original columns become
selective, and 2-D box predicates skip most files. This is the
clustering layout of Delta/Iceberg ``OPTIMIZE ZORDER BY``, built here
from plain Spark primitives.

Everything is JVM-side integer bit arithmetic (shiftleft/and/or), one
narrow projection + one range shuffle on the key — the same cost as the
ordered write a sorted layout needs anyway.
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F


def bucketize(col: Column, vmin: float, vmax: float, bits: int = 8) -> Column:
    """Scale a numeric column to an integer bucket in [0, 2^bits):
    floor((x - vmin) / (vmax - vmin) * 2^bits), clamped. Callers supply
    the range (at scale: from table stats), so the mapping is a pure
    projection — no extra pass over the data."""
    n = 1 << bits
    scaled = F.floor(
        (col.cast("double") - F.lit(float(vmin)))
        / F.lit(float(vmax) - float(vmin))
        * F.lit(n)
    )
    return F.least(F.lit(n - 1), F.greatest(F.lit(0), scaled)).cast("long")


def zorder_key(cols: list[Column], bits: int = 8) -> Column:
    """Morton interleave of ``len(cols)`` integer bucket columns
    (values must fit in ``bits`` bits): output bit ``b*ncols + c`` is
    bit ``b`` of column ``c``. Pure long arithmetic — whole-stage
    codegen, no UDF, and the identical formula runs on the DuckDB
    oracle (p13_zorder_key)."""
    ncols = len(cols)
    z = F.lit(0).cast("long")
    for b in range(bits):
        for c, col in enumerate(cols):
            bit = F.shiftright(col.cast("long"), b).bitwiseAND(F.lit(1))
            z = z.bitwiseOR(F.shiftleft(bit, b * ncols + c))
    return z


def zorder_sql(cols: list[str], bits: int = 8) -> str:
    """The same Morton interleave as ``zorder_key``, rendered as a
    DuckDB/ANSI bit-arithmetic expression over the given column
    names."""
    terms = [
        f"((({col} >> {b}) & 1) << {b * len(cols) + c})"
        for b in range(bits)
        for c, col in enumerate(cols)
    ]
    return " | ".join(terms)

