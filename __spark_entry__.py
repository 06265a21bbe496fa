"""Driver contract for the spark-graft builder (PySpark target).

The driver's verify runs ``entry(spark)`` as a smoke check, runs
each ``queries()[name]`` at sf=0.01 and compares it against the
matching ``oracle_sql()[name]`` via DuckDB (row-count + schema +
order-insensitive value-hash → CORRECTNESS_r{N}.json).

Implementation lives in the ``dpu_olap_spark`` package; this module
only adapts the registry to the driver's interface.
"""

from __future__ import annotations

import json
import os
import re
import sys
from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession

_HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, _HERE)

from dpu_olap_spark import session as _session
from dpu_olap_spark import registry as _registry


def entry(spark: SparkSession) -> DataFrame:
    """Flagship query (filter + 4-way join + grouped agg: revenue per
    nation) on /root/testdata/sf0.001; driver checks rows>0."""
    _session.tune(spark)
    flagship = _registry.get_query("join_agg")
    return flagship.build(spark, "/root/testdata/sf0.001")


def _wrap(build: Callable[[SparkSession, str], DataFrame]) -> Callable[[SparkSession, str], DataFrame]:
    def run(spark: SparkSession, sf_dir: str) -> DataFrame:
        _session.tune(spark)
        return build(spark, sf_dir)

    return run


_ARTIFACT = re.compile(r"CORRECTNESS_r(\d+)\.json")


def _ordered_names(artifact_dir: str = _HERE) -> list[str]:
    """Registered names, re-ranked by the driver's CORRECTNESS_r{N}.json.

    The driver checks only a window from the FRONT of queries(), so
    queries with no passing row lead (in registration order) and the
    rest follow oldest last check first.  A query's last check is
    (round, position in that round's file) of its newest passing row;
    rows-only queries pass with ``err == "no_oracle"``.
    """
    last: dict[str, tuple[int, int]] = {}
    for fname in os.listdir(artifact_dir):
        m = _ARTIFACT.fullmatch(fname)
        if not m:
            continue
        path = os.path.join(artifact_dir, fname)
        try:
            with open(path) as fh:
                rows = json.load(fh)
            for pos, (name, row) in enumerate(rows.items()):
                if row["err"] == "no_oracle" or all(
                    row[k] for k in ("rows_match", "schema_match", "hash_match")
                ):
                    last[name] = max(last.get(name, (0, 0)), (int(m[1]), pos))
        except (ValueError, AttributeError, KeyError, TypeError) as e:
            raise ValueError(f"malformed driver artifact {path}: {e!r}") from e
    names = list(_registry.all_queries())
    return sorted(names, key=lambda n: (n in last, last.get(n, (0, 0))))


def queries() -> dict[str, Callable[[SparkSession, str], DataFrame]]:
    """One entry per implemented operator from SURVEY.md §2."""
    all_q = _registry.all_queries()
    return {name: _wrap(all_q[name].build) for name in _ordered_names()}


def oracle_sql() -> dict[str, str]:
    """DuckDB-runnable ANSI SQL twin for each verifiable query."""
    return _registry.oracle_map()
