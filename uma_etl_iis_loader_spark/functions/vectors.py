"""Vector kit for embedding columns (`array<float>`/`array<double>`).

All JVM-side higher-order functions (`zip_with` + `aggregate`) — the dot
product never leaves whole-stage codegen, so brute-force scoring scales with
executor count. For 100 TB-scale ANN, the LSH/IVF operators in
``operators/similarity.py`` bucket first so the pairwise work is bounded.
"""

from __future__ import annotations

import numpy as np
import pandas as pd
from pyspark.sql import Column
from pyspark.sql import functions as F


def _as_col(col: Column | str) -> Column:
    return F.col(col) if isinstance(col, str) else col


def dot(a: Column | str, b: Column | str) -> Column:
    a, b = _as_col(a), _as_col(b)
    return F.aggregate(
        F.zip_with(a, b, lambda x, y: x.cast("double") * y.cast("double")),
        F.lit(0.0),
        lambda acc, x: acc + x,
    )


def norm(a: Column | str) -> Column:
    a = _as_col(a)
    return F.sqrt(
        F.aggregate(
            a,
            F.lit(0.0),
            lambda acc, x: acc + x.cast("double") * x.cast("double"),
        )
    )


def cosine(a: Column | str, b: Column | str) -> Column:
    """Cosine similarity; 0.0 when either vector has zero norm."""
    d = dot(a, b)
    na, nb = norm(a), norm(b)
    return F.when((na > 0) & (nb > 0), d / (na * nb)).otherwise(F.lit(0.0))


_cosine_arrow_udf = None


def cosine_arrow(a: Column | str, b: Column | str) -> Column:
    """Arrow-batched cosine over paired vector columns.

    Semantically identical to ``cosine`` (zero-norm → 0.0) but vectorized
    in numpy: use on the hot path when pair counts are large — the
    column-expression fold is interpreted per element (~µs/element), this
    is one einsum per Arrow batch. (Lazily built: pandas_udf needs an
    active session to parse its return type.)
    """
    global _cosine_arrow_udf
    if _cosine_arrow_udf is None:

        @F.pandas_udf("double")
        def _udf(x: pd.Series, y: pd.Series) -> pd.Series:
            av = np.stack([np.asarray(v, dtype=np.float64) for v in x])
            bv = np.stack([np.asarray(v, dtype=np.float64) for v in y])
            dots = np.einsum("ij,ij->i", av, bv)
            denom = np.linalg.norm(av, axis=1) * np.linalg.norm(bv, axis=1)
            out = np.where(
                denom > 0, dots / np.where(denom == 0, 1.0, denom), 0.0
            )
            return pd.Series(out)

        _cosine_arrow_udf = _udf
    return _cosine_arrow_udf(_as_col(a), _as_col(b))


def l2_normalize(a: Column | str) -> Column:
    """Unit-normalize a vector (zero vectors pass through unchanged) —
    pre-normalizing a corpus turns every cosine into a plain dot and
    lets ANN kernels skip per-row norms."""
    a = _as_col(a)
    n = norm(a)
    return F.when(
        n > 0, F.transform(a, lambda x: x.cast("double") / n)
    ).otherwise(F.transform(a, lambda x: x.cast("double")))


def quantize_int8(a: Column | str) -> Column:
    """Symmetric per-vector int8 quantization: struct(scale, q) with
    q[i] = round(a[i] / scale), scale = max|a| / 127. The 4x storage cut
    (and Arrow/network cut) for a 100 TB embedding store; reconstruction
    error is bounded by scale/2 per component. Zero vectors quantize to
    scale=0 with all-zero codes. JVM-side transform — no Python."""
    a = _as_col(a)
    max_abs = F.aggregate(
        a,
        F.lit(0.0),
        lambda acc, x: F.greatest(acc, F.abs(x.cast("double"))),
    )
    scale = max_abs / F.lit(127.0)
    q = F.when(
        max_abs > 0,
        F.transform(a, lambda x: F.round(x.cast("double") / scale).cast("tinyint")),
    ).otherwise(F.transform(a, lambda x: F.lit(0).cast("tinyint")))
    return F.struct(scale.alias("scale"), q.alias("q"))


def dequantize_int8(packed: Column | str) -> Column:
    """Inverse of quantize_int8: array<double> ≈ the original vector
    (max abs error scale/2 per component)."""
    p = _as_col(packed)
    return F.transform(
        p["q"], lambda x: x.cast("double") * p["scale"]
    )
