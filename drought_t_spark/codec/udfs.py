"""Arrow-vectorized pandas UDFs wrapping the TSZ1 codec (SURVEY.md §2.9
GZ1/GZ2). The Python boundary is crossed once per Arrow batch; token
work inside is pure NumPy. Per-bucket iteration over a batch's rows is
the grouped shape of the data, not per-row Python in the hot path — the
hot loop (token bit/byte packing) is fully vectorized.
"""

from __future__ import annotations

import numpy as np
import pandas as pd
from pyspark.sql import functions as F
from pyspark.sql import types as T

from drought_t_spark.codec import tsz1


@F.pandas_udf(T.BinaryType())
def encode_tokens_udf(tokens: pd.Series) -> pd.Series:
    """array<int32> -> TSZ1 binary payload."""
    return tokens.map(lambda a: tsz1.encode_tokens(np.asarray(a, np.int32)))


@F.pandas_udf(T.ArrayType(T.IntegerType()))
def decode_tokens_udf(payload: pd.Series) -> pd.Series:
    """TSZ1 binary -> array<int32>; raises on CRC mismatch."""
    return payload.map(lambda b: tsz1.decode_tokens(b) if b is not None else None)


@F.pandas_udf(T.BinaryType())
def encode_floats_udf(values: pd.Series) -> pd.Series:
    """array<double> -> TSZ1 binary (Gorilla XOR path)."""
    return values.map(lambda a: tsz1.encode_floats(np.asarray(a, np.float64)))


@F.pandas_udf(T.ArrayType(T.DoubleType()))
def decode_floats_udf(payload: pd.Series) -> pd.Series:
    return payload.map(lambda b: tsz1.decode_floats(b) if b is not None else None)
