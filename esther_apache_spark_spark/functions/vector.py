"""Vector expressions over ``array<float>`` embedding columns.

Engine extension (SURVEY.md §7 M4): no reference citation — the
reference has no vector surface. Implemented as higher-order built-in
functions (``zip_with`` / ``aggregate``) so similarity math stays
JVM-side; the GEMM panel scan in ``operators.similarity`` (one
``mapInArrow`` kernel) is the vectorized alternative for wide top-k
scans.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F


def vector_dim(df: DataFrame, vec_col: str) -> int:
    """The width of ``vec_col``, read off the first row — one driver
    job, which callers skip when ``dim`` is passed."""
    first = df.select(F.size(vec_col).alias("d")).first()
    if first is None:
        raise ValueError("empty dataframe; pass dim explicitly")
    return first["d"]


def dot(a: Column, b: Column) -> Column:
    """Elementwise dot product of two array<numeric> columns."""
    return F.aggregate(
        F.zip_with(a, b, lambda x, y: x * y),
        F.lit(0.0),
        lambda acc, v: acc + v,
    )


def l2_norm(a: Column) -> Column:
    return F.sqrt(F.aggregate(a, F.lit(0.0), lambda acc, v: acc + v * v))


def cosine_similarity(a: Column, b: Column) -> Column:
    """Cosine similarity; NULL when either vector has zero norm."""
    denom = l2_norm(a) * l2_norm(b)
    return F.when(denom != 0, dot(a, b) / denom)


def is_valid_vector(a: Column) -> Column:
    """True iff the array is non-NULL with no NULL elements — the
    precondition every vector kernel assumes (cosine is undefined
    otherwise, and a ragged batch kills a GEMM kernel mid-job)."""
    return a.isNotNull() & ~F.exists(a, lambda x: x.isNull())


def maxabs(a: Column) -> Column:
    """Largest absolute element of an array<numeric> column."""
    return F.array_max(F.transform(a, lambda x: F.abs(x)))


def _q(x: Column, m: Column) -> Column:
    # floor(x+0.5) instead of round(): Spark HALF_UP vs DuckDB's rounding
    # mode would diverge at exact .5 ties; floor(+0.5) is one IEEE add +
    # floor in both engines, bit-identical. Range is [-127, 127] by
    # construction (|x| <= m), so no clamp is needed.
    return F.floor(x * 127.0 / m + F.lit(0.5))


def quantize_int8(a: Column, m: Column) -> Column:
    """Symmetric int8 quantization: q = floor(x*127/maxabs + 0.5).

    The scale-path representation for ANN at corpus scale — 8x smaller
    than float64 shuffle payloads, exact dequantization via
    q * (maxabs/127). All-zero vectors quantize to zeros."""
    return F.when(m == 0, F.transform(a, lambda x: F.lit(0).cast("long"))).otherwise(
        F.transform(a, lambda x: _q(x, m))
    )


def quantize_error(a: Column, m: Column) -> Column:
    """Mean absolute reconstruction error of int8 quantization.

    Folds |x - q*scale| left-to-right over the array (deterministic
    summation order — the DuckDB oracle's list_sum folds the same
    way), divided by the element count."""
    scale = m / 127.0
    return F.when(m == 0, F.lit(0.0)).otherwise(
        F.aggregate(
            a, F.lit(0.0), lambda acc, x: acc + F.abs(x - _q(x, m) * scale)
        )
        / F.size(a)
    )
