"""FFT feature transform (SURVEY §2.7 M7; reference
/root/reference/src/util/calculations.py:160-172 applies
``abs(np.fft.fft(window))`` per window per feature).

Spark has no builtin FFT, so this is the canonical "UDF only where
built-ins genuinely can't" case: an Arrow-batched pandas UDF over the
ArrayType window column. The UDF is stateless and embarrassingly
parallel — at 100 TB it scales linearly with window count; the
expensive part (window materialization) happens JVM-side before it.
"""

from __future__ import annotations

import numpy as np
import pandas as pd
from pyspark.sql import functions as F
from pyspark.sql.types import ArrayType, DoubleType


@F.pandas_udf(ArrayType(DoubleType()))
def fft_magnitude(windows: pd.Series) -> pd.Series:
    """|FFT(window)| per row. Input array<double>, output array<double>
    of the same length. Empty/null windows pass through as empty."""
    out = []
    for w in windows:
        if w is None or len(w) == 0:
            out.append([])
        else:
            out.append(np.abs(np.fft.fft(np.asarray(w, dtype=np.float64))).tolist())
    return pd.Series(out)


# Use this variant when the result feeds a Generate (posexplode etc.):
# deterministic UDFs can be duplicated by projection collapse — the
# executed plan then carries TWO ArrowEvalPython nodes computing the
# same FFT. Nondeterministic expressions are never duplicated.
fft_magnitude_once = fft_magnitude.asNondeterministic()
