"""Small, pure statistics the benchmark reports (unit-tested)."""

from __future__ import annotations

import math
from collections.abc import Iterable

# An execution-latency tail is only reported when at least this many
# executions lie beyond it.
TAIL_BEYOND = 10


def median(xs: Iterable[float]) -> float:
    s = sorted(xs)
    if not s:
        raise ValueError("median of no values")
    m = len(s) // 2
    return s[m] if len(s) % 2 else (s[m - 1] + s[m]) / 2


def tail_percentile(n: int) -> int | None:
    """Highest whole percentile with at least TAIL_BEYOND of ``n``
    executions beyond it; None below 2 * TAIL_BEYOND + 1 executions,
    where that percentile would be the median or lower."""
    if n < 2 * TAIL_BEYOND + 1:
        return None
    return math.floor(100 * (n - TAIL_BEYOND) / n)


def percentile(xs: Iterable[float], p: float) -> float:
    """Nearest-rank percentile: the smallest value with at least p% of
    the sample at or below it."""
    s = sorted(xs)
    if not s:
        raise ValueError("percentile of no values")
    rank = max(1, math.ceil(p / 100 * len(s)))
    return s[rank - 1]


def failed_frac(outcomes: dict[str, list[bool]], oracle_ok: dict[str, bool]) -> tuple[int, int]:
    """(attempted, failed) over every execution in a run.

    ``outcomes`` maps a query to one flag per execution (True = it
    completed); an execution fails if it did not complete, or if its
    query's result differed from the oracle (every execution of such a
    query fails, since each produced that wrong result)."""
    attempted = failed = 0
    for name, runs in outcomes.items():
        attempted += len(runs)
        if not oracle_ok.get(name, False):
            failed += len(runs)
        else:
            failed += sum(1 for ok in runs if not ok)
    return attempted, failed


def quartile_spread(values: list[float]) -> float:
    """(Q3 - Q1) / median, with Python's default quartile method."""
    import statistics

    q1, _, q3 = statistics.quantiles(values, n=4)
    return (q3 - q1) / median(values)
