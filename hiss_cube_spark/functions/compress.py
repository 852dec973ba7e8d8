"""float_compress (SURVEY.md F12): zero low mantissa bits for compressibility.

The reference keeps 10 significant mantissa bits, zeroing the low 13 of a
float32 (processors/data.py:7-49; test pins "low 13 mantissa bits zero,
relative error < 1%"). With Parquet+ZSTD this is optional, but kept for
numeric parity with golden outputs. Implemented as a vectorized Arrow-batched
pandas UDF (bit twiddling has no native Column form for floats).
"""

from __future__ import annotations

import numpy as np
import pandas as pd
from pyspark.sql import Column
from pyspark.sql import functions as F
from pyspark.sql.types import FloatType

_DROP_BITS = 13  # keep 10 significant bits of the 23-bit mantissa


def float_compress_np(x: np.ndarray, drop_bits: int = _DROP_BITS) -> np.ndarray:
    """Zero the low ``drop_bits`` mantissa bits of a float32 array."""
    mask = np.uint32(0xFFFFFFFF) << np.uint32(drop_bits)
    bits = np.asarray(x, dtype=np.float32).view(np.uint32)
    return (bits & mask).view(np.float32)


def float_compress(col: Column, drop_bits: int = _DROP_BITS) -> Column:
    """Column form of :func:`float_compress_np` (float → float)."""

    @F.pandas_udf(FloatType())
    def _udf(s: pd.Series) -> pd.Series:
        return pd.Series(float_compress_np(s.to_numpy(dtype=np.float32), drop_bits))

    return _udf(col)


from hiss_cube_spark._serde import register_self as _register_self  # noqa: E402

_register_self(__name__)
