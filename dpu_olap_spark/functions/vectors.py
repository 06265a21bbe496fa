"""Vector (embedding) expression builders over array<float> columns.

Everything is built-in higher-order functions (zip_with / aggregate /
transform) evaluated JVM-side. Note the r8 finding (SCALE.md): HOF
expressions are CodegenFallback — interpreted per element, measured
~115k rows/s x 32 cores on 64-dim math — so these builders are the
ORACLE-EXACT BASELINE tier (brute-force knn, pair re-rank after LSH
pruning, where the row count is already cut or the op is the
reference answer). The scale tier — PQ/IVF index build and encode,
which scan every vector — uses the Arrow+numpy kernels in
llm/similarity.py instead. Elements are cast to DOUBLE before
multiply-accumulate so results are stable and comparable with the
DuckDB oracle (which also accumulates in double); final similarity
values are rounded to 4 decimals before any ranking to absorb
summation-order ULP differences.
"""

from __future__ import annotations

import math

from pyspark.sql import Column
from pyspark.sql import functions as F


def dot(a: Column, b: Column) -> Column:
    """Sequential-fold dot product in double precision."""
    return F.aggregate(
        F.zip_with(a, b, lambda x, y: x.cast("double") * y.cast("double")),
        F.lit(0.0),
        lambda acc, x: acc + x,
    )


def l2_norm(a: Column) -> Column:
    return F.sqrt(dot(a, a))


def cosine_sim(a: Column, b: Column, decimals: int = 4) -> Column:
    return F.round(dot(a, b) / (l2_norm(a) * l2_norm(b)), decimals)


def sign_bucket(a: Column, n_bits: int = 8) -> Column:
    """Sign-projection LSH bucket from the first n_bits dimensions:
    sum(2^d * [a[d] > 0]). A degenerate-but-deterministic hyperplane
    LSH (axis-aligned planes) — the bucketing pattern is the same as
    random-hyperplane SimHash, and it is expressible in ANSI SQL so the
    oracle can verify bucket assignment exactly."""
    bits = [
        F.when(F.element_at(a, d + 1) > 0.0, F.lit(2**d)).otherwise(F.lit(0))
        for d in range(n_bits)
    ]
    out = bits[0]
    for b in bits[1:]:
        out = out + b
    return out.cast("int")


def sign_bucket_value(values, n_bits: int = 8) -> int:
    """``sign_bucket`` of one vector, evaluated on the driver. Same
    semantics as the column expression: Spark orders NaN above every
    value, so NaN counts as positive; a null or missing element (past
    the end of the array) counts as 0."""
    return sum(
        2**d
        for d, x in enumerate(values[:n_bits])
        if x is not None and (x > 0 or math.isnan(x))
    )
