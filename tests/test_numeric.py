"""Differential tests of functions/numeric.py against the cast it
replaces: per row, `unscaled(x, s)` must equal
`CAST(x AS DECIMAL(18,s)) * 10^s` (HALF_UP ties, nulls, overflow and
all), and `exact_sum` must return the same double as
`CAST(SUM(CAST(x AS DECIMAL(18,s))) AS DOUBLE)`."""

from __future__ import annotations

import ast
import glob
import math
import os
import random

import pytest
from pyspark.sql import Window
from pyspark.sql import functions as F

from dpu_olap_spark.functions.numeric import exact_sum, fast_path, unscaled

SCALES = (2, 4, 6)

# Decimal strings halfway between two multiples of 10^-s: Spark's cast
# rounds them HALF_UP (away from zero), and most have no exact binary
# double, so x * 10^s lands a few ulps off the half.
_TIES = [0.125, 2.675, 1.005, -0.285, 0.5, -0.5, 0.015, -0.045, 0.00125,
         -3.00005, 1.0000005, -0.0000025, 1234567.125]
_SPECIALS = [0.0, -0.0, math.nan, math.inf, -math.inf, None, 1e-7, -1e-7,
             5e-324, -5e-324, 2.2250738585072014e-308, 1e20, -1e20,
             1.7976931348623157e308]


def _edges(s: int) -> list[float]:
    """Doubles next to the fast path's 1e15 / 10^s cutoff and to the
    DECIMAL(18,s) overflow bound 10^(18-s), on both sides and signs."""
    out = []
    for bound in (1e15 / 10**s, 10.0 ** (18 - s)):
        for v in (math.nextafter(bound, 0), bound, math.nextafter(bound, math.inf)):
            out += [v, -v]
    out += [10.0 ** (18 - s) - 10.0**-s, -(10.0 ** (18 - s) - 10.0**-s)]
    return out


def _random_decimals(rng: random.Random, n: int) -> list[float]:
    """Doubles parsed from decimal strings with 2, 4 and 6 decimals over
    several magnitudes, and products of them (the lineitem shapes:
    price * (1 - discount) * (1 + tax))."""
    out = []
    for _ in range(n):
        d = rng.choice((2, 4, 6))
        mag = 10 ** rng.randint(0, 9)
        out.append(float(f"{rng.randint(-mag * 10**d, mag * 10**d) / 10**d:.{d}f}"))
        price = rng.randint(90_000, 10_500_000) / 100
        disc, tax = rng.randint(0, 10) / 100, rng.randint(0, 8) / 100
        out += [price * (1 - disc), price * (1 - disc) * (1 + tax), price * disc]
    return out


def _values(s: int) -> list[float | None]:
    return _TIES + [-v for v in _TIES] + _SPECIALS + _edges(s) + _random_decimals(
        random.Random(s), 500
    )


@pytest.mark.parametrize("s", SCALES)
def test_unscaled_matches_decimal_cast_per_row(spark, s):
    values = _values(s)
    df = spark.createDataFrame([(i, v) for i, v in enumerate(values)], "i long, x double")
    rows = df.select(
        "i", unscaled(F.col("x"), s).alias("u"), F.col("x").cast(f"decimal(18,{s})").alias("d")
    ).collect()
    assert len(rows) == len(values)
    got = {r.i: r.u for r in rows}
    want = {r.i: None if r.d is None else r.d.scaleb(s) for r in rows}
    mismatches = {values[i]: (got[i], want[i]) for i in got if got[i] != want[i]}
    assert mismatches == {}


def test_fast_path_excludes_ties_specials_and_huge_values(spark):
    """Ties, NaN, +/-Inf, null and |y| >= 1e15 take the cast; ordinary
    values do not (so the cast's cost stays off the common row)."""
    slow = [12.5, -28.5, 267.49999999999997, -28.499999999999996, 0.5, math.nan,
            math.inf, -math.inf, None, 1e15, -1e15, 3e15, 1e20, -1e20, 1e300]
    fast = [0.0, -0.0, 1e-5, 1234.25, -1234.75, 8419704.0, 123456789012.3]
    df = spark.createDataFrame([(v,) for v in slow + fast], "y double")
    flags = [r.f for r in df.select(fast_path(F.col("y")).alias("f")).collect()]
    assert [bool(f) for f in flags] == [False] * len(slow) + [True] * len(fast)


def _old_sum(col, s):
    return F.sum(col.cast(f"decimal(18,{s})")).cast("double")


@pytest.mark.parametrize("s", SCALES)
def test_exact_sum_matches_decimal_cast_sum(spark, s):
    """Grouped, global, empty-input, all-null and windowed sums are the
    same doubles (compared by repr, so bit for bit) as the cast-and-sum
    spelling."""
    rng = random.Random(100 + s)
    rows = [(0, v) for v in _random_decimals(rng, 300)]
    rows += [(1, None)] * 5                                 # all-null group
    rows += [(2, v) for v in _TIES + [None, -0.0, 1e-7]]    # ties and nulls
    rows += [(3, v) for v in (10.0 ** (18 - s) - 1, 1.0)]   # at the cast's bound
    rows += [(4, 1.0), (4, math.nan)]                       # cast yields null
    df = spark.createDataFrame([(i, g, v) for i, (g, v) in enumerate(rows)], "i long, g int, x double")
    x = F.col("x")

    def pairs(frame):
        return [tuple(map(repr, r)) for r in frame.collect()]

    grouped = df.groupBy("g").agg(exact_sum(x, s).alias("new"), _old_sum(x, s).alias("old"))
    got = sorted(pairs(grouped.select("g", "new", "old")))
    assert len(got) == 5 and all(new == old for _, new, old in got), got

    empty = df.where(F.col("g") < 0)
    for frame in (df, empty):
        (new, old), = pairs(frame.agg(exact_sum(x, s), _old_sum(x, s)))
        assert new == old

    w = Window.partitionBy("g").orderBy("i").rowsBetween(Window.unboundedPreceding, 0)
    old_running = F.sum(x.cast(f"decimal(18,{s})")).over(w).cast("double")
    running = df.select(exact_sum(x, s, w).alias("new"), old_running.alias("old"))
    assert all(new == old for new, old in pairs(running))


def _decimal_sums(path: str) -> list[int]:
    """Lines where F.sum(...) is fed a cast that may be to DECIMAL: a
    `.cast("decimal(...)")` in its argument, a name assigned from one in
    the same function, or a cast to a non-literal type."""

    def decimal_casts(node) -> bool:
        for n in ast.walk(node):
            if isinstance(n, ast.Call) and getattr(n.func, "attr", None) == "cast" and n.args:
                arg = n.args[0]
                if not isinstance(arg, ast.Constant) or str(arg.value).startswith("decimal("):
                    return True
            if isinstance(n, ast.Name) and n.id in tainted:
                return True
        return False

    with open(path) as f:
        tree = ast.parse(f.read())
    lines = []
    for fn in [n for n in ast.walk(tree) if isinstance(n, ast.FunctionDef)] or [tree]:
        tainted: set[str] = set()
        for n in ast.walk(fn):
            if isinstance(n, ast.Assign) and decimal_casts(n.value):
                tainted |= {t.id for t in n.targets if isinstance(t, ast.Name)}
        lines += [
            n.lineno
            for n in ast.walk(fn)
            if isinstance(n, ast.Call)
            and getattr(n.func, "attr", None) == "sum"
            and any(decimal_casts(a) for a in n.args)
        ]
    return sorted(set(lines))


def test_every_exact_sum_goes_through_the_kernel(tmp_path):
    """Only functions/numeric.py sums a DECIMAL cast: any other module
    that does has re-grown the per-row string cast exact_sum replaces."""
    import dpu_olap_spark

    spellings = tmp_path / "spellings.py"
    spellings.write_text(
        "def q(F, col, scale):\n"
        "    rev = col.cast('decimal(18,4)')\n"
        "    return (F.sum(col.cast('decimal(18,2)')).cast('double'),\n"
        "            F.sum(rev), F.sum(col.cast(scale)), F.sum(col.cast('long')))\n"
    )
    assert _decimal_sums(str(spellings)) == [3, 4]

    root = os.path.dirname(dpu_olap_spark.__file__)
    kernel = os.path.join(root, "functions", "numeric.py")
    offenders = {}
    for path in glob.glob(os.path.join(root, "**", "*.py"), recursive=True):
        if path != kernel and (lines := _decimal_sums(path)):
            offenders[os.path.relpath(path, root)] = lines
    assert offenders == {}
