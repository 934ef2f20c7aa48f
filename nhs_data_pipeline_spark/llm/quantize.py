"""Embedding quantization: per-vector symmetric int8 scalar
quantization for embedding columns.

Why it matters at 100 TB: an ANN/dedup shuffle that carries
``array<float>`` moves 4 bytes/dim; int8 moves 1 — a 4x cut in
shuffle and storage bytes for the candidate-generation stages, with
the full-precision vectors joined back only for final re-ranking
(the same survivors-only discipline as the LSH paths). Cosine on
symmetric-quantized vectors needs NO dequantization at all: the
per-vector scale cancels, so candidate scoring is pure integer math.

Determinism contract: ``scale = max(|x|)/127`` and
``q_i = floor(x_i/scale + 0.5)`` are single-rounded IEEE double ops —
identical in numpy, Spark SQL, and DuckDB — so the quantized corpus
is bit-reproducible across engines (queries.py replays it in SQL).
"""

from __future__ import annotations

import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.functions import pandas_udf
from pyspark.sql.types import (
    ArrayType,
    ByteType,
    DoubleType,
    StructField,
    StructType,
)

_QSTRUCT = StructType(
    [
        StructField("scale", DoubleType()),
        StructField("qvec", ArrayType(ByteType())),
    ]
)


@pandas_udf(_QSTRUCT)
def _quantize_batch(v: pd.Series) -> pd.DataFrame:
    """Arrow-batched symmetric int8 quantization: one vstack + one
    rowwise max-abs per batch. Zero vectors (scale 0) quantize to
    NULL — there is no direction to preserve."""
    import numpy as np

    if len(v) == 0:
        return pd.DataFrame({"scale": pd.Series([], dtype="float64"), "qvec": []})
    X = np.vstack(v.to_numpy()).astype(float)
    scale = np.abs(X).max(axis=1) / 127.0
    with np.errstate(divide="ignore", invalid="ignore"):
        Q = np.floor(X / scale[:, None] + 0.5)
    qvecs = [
        None if s == 0.0 else q.astype(np.int8)
        for s, q in zip(scale, Q)
    ]
    return pd.DataFrame({"scale": scale, "qvec": qvecs})


def quantize_int8(
    df: DataFrame,
    vec_col: str = "embedding",
    scale_col: str = "scale",
    qvec_col: str = "qvec",
) -> DataFrame:
    """Add ``scale`` (double) and ``qvec`` (array<tinyint>) columns:
    per-vector symmetric int8 quantization, max-abs mapped to +/-127.
    The input column is cast to double first so float32 inputs
    quantize identically to their double-read twins (and to the SQL
    oracle's arithmetic)."""
    q = _quantize_batch(F.col(vec_col).cast("array<double>"))
    return df.withColumn("__q", q).select(
        *df.columns,
        F.col("__q.scale").alias(scale_col),
        F.col("__q.qvec").alias(qvec_col),
    )


