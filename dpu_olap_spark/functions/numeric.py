"""Exact sums of doubles by integer accumulation.

The reference sums uint32 into uint64 (shared/umq/kernels.h:49-51):
integer addition is exact and order-independent. `exact_sum(x, s)`
does the same for doubles with `s` decimals: each value becomes its
unscaled integer `u = round_half_up(x * 10^s)`, the `u`s are summed as
DECIMAL(18,0), and the sum is scaled back once by `10^-s` and returned
as DOUBLE. That is the value `SUM(CAST(x AS DECIMAL(18,s)))` reaches
(the DuckDB oracles' spelling), so the doubles are bit-identical.

Spark's double-to-decimal cast formats every value with
`Double.toString` and parses the string. The fast path skips that: the
decimal string lies within half an ulp of `x`, so `y = x * 10^s`
rounds to the same integer unless `y` sits within a few ulps of a
half-integer. Every other value (ties, NaN, +/-Inf, null, |y| >= 1e15)
takes the cast itself, which rounds HALF_UP and yields null exactly
where the cast does.
"""

from __future__ import annotations

from decimal import Decimal

from pyspark.sql import Column, WindowSpec
from pyspark.sql import functions as F

# Below this |y| a double resolves eighths and floor() fits in a long.
_FAST_LIMIT = 1e15


def fast_path(y: Column) -> Column:
    """True where `floor(y + 0.5)` is the half-up rounding of every
    decimal within a few ulps of `y`; false (or null) elsewhere."""
    return (F.abs(y) < _FAST_LIMIT) & (F.abs(y - F.floor(y) - 0.5) > F.abs(y) * 1e-14 + 1e-9)


def unscaled(col: Column, scale: int) -> Column:
    """`CAST(col AS DECIMAL(18,scale)) * 10^scale` as DECIMAL(18,0)."""
    y = col * float(10**scale)
    return F.when(fast_path(y), F.floor(y + 0.5).cast("decimal(18,0)")).otherwise(
        (col.cast(f"decimal(18,{scale})") * 10**scale).cast("decimal(18,0)")
    )


def exact_sum(col: Column, scale: int, over: WindowSpec | None = None) -> Column:
    """`CAST(SUM(CAST(col AS DECIMAL(18,scale))) AS DOUBLE)`, bit for bit;
    with `over`, the same sum over that window frame."""
    total = F.sum(unscaled(col, scale))
    if over is not None:
        total = total.over(over)
    return (total * F.lit(Decimal(1).scaleb(-scale))).cast("double")
