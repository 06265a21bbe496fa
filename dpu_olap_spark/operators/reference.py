"""Reference operator parity — the five dataflow operators of
upmem/dpu_olap (SURVEY.md section 2.1) re-expressed as declarative
Spark plans, plus the composed flagship query.

Reference semantics (file:line cites into /root/reference/):
- filter:    keep rows where v < const       (host/filter/filter_native.cc:57-59)
- take:      out[i] = buffer[indices[i]]     (dpu/shared/kernels/take.c:12-47)
- sum:       whole-column SUM                (host/aggr/aggr_native.cc:67-73)
- partition: hash-scatter rows into buckets  (dpu/shared/kernels/partition.c:296-341)
- join:      PK-FK inner equi hash join      (host/join/join_dpu.cc:168-400)

Numeric discipline: the reference sums uint32 into uint64
(shared/umq/kernels.h:49-51); functions/numeric.exact_sum sums each
double's unscaled integer (x * 10^s half-up; ties and out-of-range
values take the exact DECIMAL cast) as DECIMAL(18,0) and scales the
total back once, so Spark and the DuckDB oracle agree bit-for-bit
regardless of accumulation order.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from dpu_olap_spark.functions.numeric import exact_sum
from dpu_olap_spark.registry import query
from dpu_olap_spark.sources.tables import load_table

# ---------------------------------------------------------------------------
# filter — reference predicate is `v < 2**30` over uint32
# (host/filter/filter_native.cc:57-59). Same shape here: a pushdown-able
# single-column comparison on the fact table. At 100 TB this predicate
# reaches the parquet scan (PushedFilters) and prunes row groups.
# ---------------------------------------------------------------------------


@query(
    "filter",
    oracle="""
    SELECT l_orderkey, l_linenumber, l_quantity, l_extendedprice
    FROM lineitem
    WHERE l_quantity < 25.0
    """,
)
def q_filter(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Selection with projection; Catalyst pushes both into the scan."""
    li = load_table(spark, sf_dir, "lineitem")
    return li.where(F.col("l_quantity") < 25.0).select(
        "l_orderkey", "l_linenumber", "l_quantity", "l_extendedprice"
    )


# ---------------------------------------------------------------------------
# sum — whole-column scalar aggregate (host/aggr/aggr_native.cc:67-73).
# Catalyst plans partial->final HashAggregate, the same tree-reduction the
# DPU code hand-rolls (dpu/aggr/main.c:81-88 + host/aggr/aggr_dpu.cc:80-85).
# ---------------------------------------------------------------------------


@query(
    "sum",
    oracle="""
    SELECT
      CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2))) AS DOUBLE) AS sum_price,
      CAST(SUM(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) AS sum_qty,
      COUNT(*) AS n_rows
    FROM lineitem
    """,
)
def q_sum(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load_table(spark, sf_dir, "lineitem")
    return li.agg(
        exact_sum(F.col("l_extendedprice"), 2).alias("sum_price"),
        exact_sum(F.col("l_quantity"), 2).alias("sum_qty"),
        F.count(F.lit(1)).alias("n_rows"),
    )


# ---------------------------------------------------------------------------
# take — positional gather by a selection-indices vector
# (dpu/shared/kernels/take.c:12-47; indices bounded by batch min/max
# metadata, host/take/take_benchmark.cc:90-93). Spark has no positional
# gather verb, and SURVEY.md section 7 flags zipWithIndex as
# partition-order-sensitive — so the row index is DERIVED FROM AN EXPLICIT
# SORT KEY (row_number over c_custkey), and the gather itself is a join
# against the index table: exactly how the reference uses take inside its
# join (payload fetch by selection vector, host/join/join_dpu.cc:303-368).
# At scale the index side is tiny -> broadcast join, no shuffle of the base.
# ---------------------------------------------------------------------------

_TAKE_BASE = 150  # customer rows at the smallest SF; keeps the query SF-stable
_TAKE_N = 64


@query(
    "take",
    oracle=f"""
    WITH base AS (
      SELECT c_custkey, c_name, c_acctbal
      FROM customer ORDER BY c_custkey LIMIT {_TAKE_BASE}
    ),
    numbered AS (
      SELECT c_custkey, c_name, c_acctbal,
             row_number() OVER (ORDER BY c_custkey) - 1 AS rn
      FROM base
    ),
    idx AS (
      SELECT i AS take_pos, (i * 37) % {_TAKE_BASE} AS rn
      FROM range(0, {_TAKE_N}) t(i)
    )
    SELECT idx.take_pos, numbered.c_custkey, numbered.c_name, numbered.c_acctbal
    FROM idx JOIN numbered USING (rn)
    """,
)
def q_take(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gather rows [ (i*37) % 150 for i in 0..63 ] from customer ordered
    by c_custkey — the reference's out[i] = buffer[indices[i]]."""
    cust = load_table(spark, sf_dir, "customer")
    base = cust.orderBy("c_custkey").limit(_TAKE_BASE)
    numbered = base.select(
        "c_custkey",
        "c_name",
        "c_acctbal",
        (F.row_number().over(Window.orderBy("c_custkey")) - 1).alias("rn"),
    )
    idx = spark.range(_TAKE_N).select(
        F.col("id").alias("take_pos"), ((F.col("id") * 37) % _TAKE_BASE).alias("rn")
    )
    return (
        F.broadcast(idx)
        .join(numbered, "rn")
        .select("take_pos", "c_custkey", "c_name", "c_acctbal")
    )


# ---------------------------------------------------------------------------
# partition — hash repartition with row/sum conservation invariants.
# The reference's partition kernel is Spark's shuffle Exchange; its own test
# checks only conservation + balance, not bucket identity
# (host/partition/partition_test.cc:38-57,80-91), so the verifiable result
# here is the conservation fingerprint computed AFTER a real repartition.
# ---------------------------------------------------------------------------

_N_PARTS = 32


@query(
    "partition",
    oracle="""
    SELECT
      COUNT(*) AS n_rows,
      CAST(SUM(l_orderkey) AS BIGINT) AS key_sum,
      CAST(SUM(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) AS qty_sum
    FROM lineitem
    """,
)
def q_partition(spark: SparkSession, sf_dir: str) -> DataFrame:
    """repartition(32, l_orderkey) then conservation stats (mirrors
    partition_test.cc:50-57 column-sum conservation)."""
    li = load_table(spark, sf_dir, "lineitem").repartition(_N_PARTS, F.col("l_orderkey"))
    return li.agg(
        F.count(F.lit(1)).alias("n_rows"),
        F.sum("l_orderkey").alias("key_sum"),
        exact_sum(F.col("l_quantity"), 2).alias("qty_sum"),
    )


# ---------------------------------------------------------------------------
# join — PK-FK inner equi join (host/join/join_native.cc:31-40). Output
# preserves FK-side cardinality, like the reference's 1:1 probe
# (dpu/shared/kernels/hash_probe.c:29-40). customer is the build side;
# small enough to broadcast at bench SF, shuffled-hash beyond — AQE picks.
# ---------------------------------------------------------------------------


@query(
    "join",
    oracle="""
    SELECT o.o_orderkey, o.o_custkey, o.o_totalprice, c.c_name, c.c_mktsegment
    FROM orders o JOIN customer c ON o.o_custkey = c.c_custkey
    """,
)
def q_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders = load_table(spark, sf_dir, "orders")
    cust = load_table(spark, sf_dir, "customer")
    return orders.join(cust, orders.o_custkey == cust.c_custkey, "inner").select(
        "o_orderkey", "o_custkey", "o_totalprice", "c_name", "c_mktsegment"
    )


# ---------------------------------------------------------------------------
# join_agg — the flagship: filter + multiway PK-FK join + grouped aggregate
# composed as one query (the reference benchmarks these pieces separately;
# composing them is what a real engine runs). Revenue per nation, TPC-H
# Q5-flavored. Join order: fact table joined to progressively smaller dims;
# nation is broadcast.
# ---------------------------------------------------------------------------


@query(
    "join_agg",
    oracle="""
    SELECT
      n.n_name,
      CAST(SUM(CAST(l.l_extendedprice * (1 - l.l_discount) AS DECIMAL(18,4)))
           AS DOUBLE) AS revenue,
      COUNT(*) AS n_items
    FROM lineitem l
    JOIN orders o ON l.l_orderkey = o.o_orderkey
    JOIN customer c ON o.o_custkey = c.c_custkey
    JOIN nation n ON c.c_nationkey = n.n_nationkey
    WHERE l.l_quantity < 30.0
    GROUP BY n.n_name
    """,
)
def q_join_agg(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load_table(spark, sf_dir, "lineitem").where(F.col("l_quantity") < 30.0)
    orders = load_table(spark, sf_dir, "orders")
    cust = load_table(spark, sf_dir, "customer")
    nation = load_table(spark, sf_dir, "nation")
    return (
        li.join(orders, li.l_orderkey == orders.o_orderkey)
        .join(cust, orders.o_custkey == cust.c_custkey)
        .join(F.broadcast(nation), cust.c_nationkey == nation.n_nationkey)
        .groupBy("n_name")
        .agg(
            exact_sum(F.col("l_extendedprice") * (1 - F.col("l_discount")), 4).alias("revenue"),
            F.count(F.lit(1)).alias("n_items"),
        )
    )


# ---------------------------------------------------------------------------
# fact_fact_join — the reference's flagship partitioned join: both sides
# too big to broadcast, hash-scattered on the join key and joined
# bucket-locally (host/join/join_dpu.cc:168-400, partitioned mode
# join_native.cc:94-111). Spark analog: SHUFFLE_HASH hint on the
# smaller fact (orders) so both sides exchange on orderkey and the
# probe is hash-local — never a broadcast, never a cartesian. The
# grouped aggregate afterwards drains the join the way the reference's
# benchmark materializes its output.
# ---------------------------------------------------------------------------


@query(
    "fact_fact_join",
    oracle="""
    SELECT o.o_orderpriority,
           COUNT(*) AS n_items,
           CAST(SUM(CAST(l.l_extendedprice * (1 - l.l_discount) AS DECIMAL(18,4)))
                AS DOUBLE) AS revenue
    FROM lineitem l JOIN orders o ON l.l_orderkey = o.o_orderkey
    GROUP BY o.o_orderpriority
    """,
)
def q_fact_fact_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load_table(spark, sf_dir, "lineitem")
    orders = load_table(spark, sf_dir, "orders").hint("shuffle_hash")
    return (
        li.join(orders, li.l_orderkey == orders.o_orderkey)
        .groupBy("o_orderpriority")
        .agg(
            F.count(F.lit(1)).alias("n_items"),
            exact_sum(F.col("l_extendedprice") * (1 - F.col("l_discount")), 4).alias("revenue"),
        )
    )
