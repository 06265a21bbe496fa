"""Central query registry.

Every operator/query the engine implements registers here with:
- a builder `(spark, sf_dir) -> DataFrame` (the Spark-first plan), and
- optionally an ANSI-SQL oracle string DuckDB can run on the same
  parquet tables (driver contract, `__spark_entry__.py`).

This mirrors the reference's differential-test scheme (DPU result vs
native Arrow result, host/filter/filter_test.cc:24-31) with DuckDB as
the second engine. Column names are the join key of the comparison:
alias every computed column identically in both builder and oracle.
"""

from __future__ import annotations

from collections.abc import Callable
from dataclasses import dataclass

from pyspark.sql import DataFrame, SparkSession

Builder = Callable[[SparkSession, str], DataFrame]


@dataclass(frozen=True)
class Query:
    name: str
    build: Builder
    oracle: str | None  # None => driver records weaker rows-only check
    doc: str = ""


QUERIES: dict[str, Query] = {}


def query(name: str, oracle: str | None = None) -> Callable[[Builder], Builder]:
    """Decorator registering a named query with its DuckDB oracle."""

    def wrap(fn: Builder) -> Builder:
        if name in QUERIES:
            raise ValueError(f"duplicate query name {name!r}")
        QUERIES[name] = Query(name=name, build=fn, oracle=oracle, doc=fn.__doc__ or "")
        return fn

    return wrap


def get_query(name: str) -> Query:
    _ensure_loaded()
    return QUERIES[name]


def all_queries() -> dict[str, Query]:
    _ensure_loaded()
    return dict(QUERIES)


def oracle_map() -> dict[str, str]:
    _ensure_loaded()
    return {q.name: q.oracle for q in QUERIES.values() if q.oracle is not None}


_LOADED = False


def _ensure_loaded() -> None:
    """Import every module that registers queries (idempotent)."""
    global _LOADED
    if _LOADED:
        return
    # Imports are for their registration side effects.  Registration
    # order is the driver window's order among queries that have no
    # passing CORRECTNESS row yet (__spark_entry__._ordered_names), so
    # newer families load later.
    from dpu_olap_spark.operators import advanced, events_analytics, functions_ext, reference, relational  # noqa: F401
    from dpu_olap_spark.llm import chunking, curation, dedup, multimodal, similarity, text_analysis  # noqa: F401
    from dpu_olap_spark.streaming import stateful, windows  # noqa: F401
    from dpu_olap_spark.sources import python_source, sink_queries  # noqa: F401
    from dpu_olap_spark.streaming import foreach  # noqa: F401
    from dpu_olap_spark.operators import tpch_full  # noqa: F401
    from dpu_olap_spark.operators import spark4_surface  # noqa: F401
    from dpu_olap_spark.sources import python_stream_source  # noqa: F401
    from dpu_olap_spark.operators import tpcds_lite  # noqa: F401
    from dpu_olap_spark.streaming import replay  # noqa: F401

    _LOADED = True
