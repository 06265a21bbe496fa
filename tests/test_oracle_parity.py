"""Differential gate: every registered query with an oracle must match
DuckDB on the same parquet — the local twin of the driver's
CORRECTNESS check. Queries without oracles are smoke-checked
(runs, returns a stable schema, >= 0 rows).

Every query's DataFrame also passes the fleet plan lint after its
collect(), so the final (AQE) plan is the one checked and the lint
costs no extra query runs."""

from __future__ import annotations

import re

import pytest

from dpu_olap_spark.registry import all_queries
from tests.oracle import assert_matches_oracle

_QUERIES = all_queries()
_WITH_ORACLE = sorted(n for n, q in _QUERIES.items() if q.oracle)
_NO_ORACLE = sorted(n for n, q in _QUERIES.items() if not q.oracle)

# CartesianProduct sites that are provably bounded: scalar x scalar
# combines (1 row x 1 row).
_ALLOWED_CARTESIAN = {
    "funnel",          # events_analytics.py 1x1 scalar combine
    "session_funnel",  # same pre-aggregated scalar pattern
}

# GLOBAL (unpartitioned) windows move their whole input to ONE task.
# These are deliberate, with bounded inputs or documented scale
# alternatives; anything NEW flagging here needs the same justification.
_ALLOWED_GLOBAL_WINDOW = {
    "take",            # global index semantics (reference take.c parity)
    "tpch_q15",        # rank over per-supplier aggregates (dim-bounded)
    "gap_fill",        # last() over per-hour aggregates (time-bounded)
    "vocab_coverage",  # row_number over the vocabulary (token-bounded)
    "window_dist",     # documented: 100 TB path is `percentiles` two-pass
    "skyline_pareto",  # phase-2 merge sweep over per-bucket survivors
                       # (bounded by buckets x distinct sizes, never
                       # fact rows; phase-1 windows are bucketed)
    "tpcds_q51",       # cumulative splice over the month axis — both
                       # channels pre-aggregate to <=84 calendar rows
                       # before the FULL OUTER + window (plan-gated in
                       # test_tpcds_q51_channels_aggregate_before_full_outer)
}


def _has_global_window(plan: str) -> bool:
    """A windowspecdefinition whose FIRST argument is an ordering or a
    frame has an empty partition-by list -> single-task window."""
    for m in re.finditer(r"windowspecdefinition\(([^,)]*)[,)]", plan):
        head = m.group(1).strip()
        if head.startswith("specifiedwindowframe") or re.search(
            r"\b(ASC|DESC)\b", head
        ):
            return True
    return False


def plan_offenses(name: str, df) -> list[str]:
    """The fleet's scale-killers in ``df``'s executed plan:
    CartesianProduct (quadratic unless provably scalar x scalar),
    BatchEvalPython (row-at-a-time Python; the Arrow variants are the
    sanctioned Python seams) and single-task global windows."""
    plan = df._jdf.queryExecution().executedPlan().toString()
    hits = []
    if "CartesianProduct" in plan and name not in _ALLOWED_CARTESIAN:
        hits.append("CartesianProduct")
    if "BatchEvalPython" in plan:
        hits.append("BatchEvalPython (row-at-a-time UDF)")
    if _has_global_window(plan) and name not in _ALLOWED_GLOBAL_WINDOW:
        hits.append("global window (single-task)")
    return hits


@pytest.mark.parametrize("name", _WITH_ORACLE)
def test_matches_oracle(spark, sf_dir, name):
    q = _QUERIES[name]
    df = q.build(spark, sf_dir)
    assert_matches_oracle(name, df, q.oracle, sf_dir)
    assert not plan_offenses(name, df)


@pytest.mark.parametrize("name", _NO_ORACLE)
def test_runs_without_oracle(spark, sf_dir, name):
    df = _QUERIES[name].build(spark, sf_dir)
    rows = df.collect()
    assert rows is not None
    assert len(df.columns) > 0
    assert not plan_offenses(name, df)


def test_plan_lint_flags_injected_offenders(spark):
    """Each lint check fires on a minimal offender: a crossJoin too
    large to broadcast, an orderBy-only window, a row-at-a-time UDF."""
    from pyspark.sql import Window
    from pyspark.sql import functions as F

    big = spark.range(10**9)  # planned only: too large to broadcast
    cross = big.crossJoin(big.withColumnRenamed("id", "id2"))
    window = spark.range(10).withColumn(
        "rn", F.row_number().over(Window.orderBy("id"))
    )
    udf = spark.range(10).select(F.udf(lambda x: x, "long")("id"))
    assert plan_offenses("q", cross) == ["CartesianProduct"]
    assert plan_offenses("q", window) == ["global window (single-task)"]
    assert plan_offenses("q", udf) == ["BatchEvalPython (row-at-a-time UDF)"]
    assert plan_offenses("funnel", cross) == []
    assert plan_offenses("take", window) == []


def test_agg_collect_raw_arrays(spark, sf_dir):
    """The raw-array list-agg variant (unregistered: the driver's
    pandas canonicalizer can't sort array cells) checked through the
    fetchall() path, which compares list cells exactly."""
    from dpu_olap_spark.operators.relational import (
        AGG_COLLECT_RAW_ORACLE,
        q_agg_collect_raw,
    )
    from tests.oracle import _rows_to_multiset, run_oracle

    sdf = q_agg_collect_raw(spark, sf_dir)
    srows = [tuple(r) for r in sdf.collect()]
    orows, ocols = run_oracle(AGG_COLLECT_RAW_ORACLE, sf_dir)
    sset, scs = _rows_to_multiset(srows, list(sdf.columns))
    oset, ocs = _rows_to_multiset(orows, ocols)
    assert [c.lower() for c in scs] == [c.lower() for c in ocs]
    assert sset == oset
