"""Standard relational surface the reference omits (SURVEY.md section
2.9): grouped aggregation, distinct, top-k, windows, set ops, rollup,
semi/anti joins, scalar functions. All Spark built-ins — zero custom
code — each verified against the DuckDB oracle.

Determinism rules used throughout:
- money/quantity SUMs are exact integer sums of unscaled values
  (functions/numeric.exact_sum, order-independent) cast to DOUBLE;
- every ordering used by rank/limit is made total with a key tiebreak
  (lesson of the reference's own canonicalization,
  host/join/join_test.cc:27-38).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from dpu_olap_spark.functions.numeric import exact_sum
from dpu_olap_spark.registry import query
from dpu_olap_spark.sources.tables import load_table


@query(
    "group_agg",
    oracle="""
    SELECT
      l_returnflag,
      l_linestatus,
      CAST(SUM(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) AS sum_qty,
      CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2))) AS DOUBLE) AS sum_base_price,
      CAST(SUM(CAST(l_extendedprice * (1 - l_discount) AS DECIMAL(18,6))) AS DOUBLE)
        AS sum_disc_price,
      CAST(SUM(CAST(l_extendedprice * (1 - l_discount) * (1 + l_tax) AS DECIMAL(18,6)))
        AS DOUBLE) AS sum_charge,
      COUNT(*) AS count_order
    FROM lineitem
    WHERE l_shipdate <= TIMESTAMP '1998-09-02 00:00:00'
    GROUP BY l_returnflag, l_linestatus
    """,
)
def q_group_agg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q1-shaped pricing summary: multi-key groupBy, multiple
    aggregates. Partial aggregation (map-side combine) happens before the
    shuffle, so bytes shuffled ~ #groups, not #rows — the property that
    makes this scale to 100 TB."""
    li = load_table(spark, sf_dir, "lineitem")
    disc_price = F.col("l_extendedprice") * (1 - F.col("l_discount"))
    charge = disc_price * (1 + F.col("l_tax"))
    return (
        li.where(F.col("l_shipdate") <= F.lit("1998-09-02 00:00:00").cast("timestamp"))
        .groupBy("l_returnflag", "l_linestatus")
        .agg(
            exact_sum(F.col("l_quantity"), 2).alias("sum_qty"),
            exact_sum(F.col("l_extendedprice"), 2).alias("sum_base_price"),
            exact_sum(disc_price, 6).alias("sum_disc_price"),
            exact_sum(charge, 6).alias("sum_charge"),
            F.count(F.lit(1)).alias("count_order"),
        )
    )


@query(
    "distinct_agg",
    oracle="""
    SELECT
      COUNT(DISTINCT l_partkey) AS n_parts,
      COUNT(DISTINCT l_suppkey) AS n_supps,
      COUNT(DISTINCT l_returnflag) AS n_flags
    FROM lineitem
    """,
)
def q_distinct_agg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact distinct counts (expand + two-phase aggregate in Spark).
    The 100 TB path is approx_count_distinct (HLL, no expand) — exposed
    as `approx_distinct` with a rows-only check since sketches differ
    across engines."""
    li = load_table(spark, sf_dir, "lineitem")
    return li.agg(
        F.count_distinct(F.col("l_partkey")).alias("n_parts"),
        F.count_distinct(F.col("l_suppkey")).alias("n_supps"),
        F.count_distinct(F.col("l_returnflag")).alias("n_flags"),
    )


@query("approx_distinct")  # sketches are engine-specific -> rows-only check
def q_approx_distinct(spark: SparkSession, sf_dir: str) -> DataFrame:
    """HyperLogLog++ distinct estimate — the scale path for cardinality:
    one pass, fixed memory, no shuffle expand."""
    li = load_table(spark, sf_dir, "lineitem")
    return li.agg(
        F.approx_count_distinct("l_partkey", rsd=0.02).alias("approx_parts"),
        F.approx_count_distinct("l_orderkey", rsd=0.02).alias("approx_orders"),
    )


@query(
    "topk",
    oracle="""
    SELECT o_orderkey, o_custkey, o_totalprice
    FROM orders
    ORDER BY o_totalprice DESC, o_orderkey ASC
    LIMIT 10
    """,
)
def q_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-k: Spark plans TakeOrderedAndProject — per-partition heaps, only
    k rows to the driver stage; no global sort even at 100 TB."""
    orders = load_table(spark, sf_dir, "orders")
    return (
        orders.orderBy(F.col("o_totalprice").desc(), F.col("o_orderkey").asc())
        .limit(10)
        .select("o_orderkey", "o_custkey", "o_totalprice")
    )


@query(
    "window_rank",
    oracle="""
    SELECT * FROM (
      SELECT
        o_custkey, o_orderkey, o_totalprice,
        rank() OVER (PARTITION BY o_custkey
                     ORDER BY o_totalprice DESC, o_orderkey ASC) AS price_rank
      FROM orders
    ) WHERE price_rank <= 3
    """,
)
def q_window_rank(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-customer top-3 orders by ranking window. Partitioned by the
    grouping key, so state is per-customer — scales horizontally."""
    orders = load_table(spark, sf_dir, "orders")
    w = Window.partitionBy("o_custkey").orderBy(
        F.col("o_totalprice").desc(), F.col("o_orderkey").asc()
    )
    return (
        orders.select(
            "o_custkey", "o_orderkey", "o_totalprice", F.rank().over(w).alias("price_rank")
        )
        .where(F.col("price_rank") <= 3)
    )


@query(
    "window_running",
    oracle="""
    SELECT
      o_custkey, o_orderkey,
      CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) OVER (
        PARTITION BY o_custkey ORDER BY o_orderdate ASC, o_orderkey ASC
        ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW
      ) AS DOUBLE) AS running_spend,
      row_number() OVER (PARTITION BY o_custkey
                         ORDER BY o_orderdate ASC, o_orderkey ASC) AS order_seq
    FROM orders
    """,
)
def q_window_running(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Running per-customer spend: frame-based window aggregate. Exact
    integer accumulation (exact_sum over the frame) keeps the prefix
    sums engine-independent."""
    orders = load_table(spark, sf_dir, "orders")
    w = Window.partitionBy("o_custkey").orderBy(F.col("o_orderdate").asc(), F.col("o_orderkey").asc())
    return orders.select(
        "o_custkey",
        "o_orderkey",
        exact_sum(
            F.col("o_totalprice"), 2, w.rowsBetween(Window.unboundedPreceding, Window.currentRow)
        ).alias("running_spend"),
        F.row_number().over(w).alias("order_seq"),
    )


@query(
    "set_ops",
    oracle="""
    SELECT 'both' AS src, n FROM (
      SELECT c_nationkey AS n FROM customer
      INTERSECT
      SELECT s_nationkey AS n FROM supplier
    )
    UNION ALL
    SELECT 'cust_only' AS src, n FROM (
      SELECT c_nationkey AS n FROM customer
      EXCEPT
      SELECT s_nationkey AS n FROM supplier
    )
    """,
)
def q_set_ops(spark: SparkSession, sf_dir: str) -> DataFrame:
    """INTERSECT / EXCEPT / UNION ALL over nation-key sets."""
    cust = load_table(spark, sf_dir, "customer").select(F.col("c_nationkey").alias("n"))
    supp = load_table(spark, sf_dir, "supplier").select(F.col("s_nationkey").alias("n"))
    both = cust.intersect(supp).select(F.lit("both").alias("src"), "n")
    # subtract == SQL EXCEPT (set semantics); exceptAll would keep
    # surplus multiplicities
    cust_only = cust.subtract(supp).select(F.lit("cust_only").alias("src"), "n")
    return both.unionAll(cust_only)


@query(
    "rollup_agg",
    oracle="""
    SELECT
      l_returnflag, l_linestatus,
      COUNT(*) AS n_rows,
      CAST(SUM(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) AS sum_qty
    FROM lineitem
    GROUP BY ROLLUP (l_returnflag, l_linestatus)
    """,
)
def q_rollup_agg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ROLLUP grouping sets: subtotals + grand total in one pass."""
    li = load_table(spark, sf_dir, "lineitem")
    return li.rollup("l_returnflag", "l_linestatus").agg(
        F.count(F.lit(1)).alias("n_rows"),
        exact_sum(F.col("l_quantity"), 2).alias("sum_qty"),
    )


@query(
    "cube_agg",
    oracle="""
    SELECT
      o_orderstatus, o_orderpriority,
      COUNT(*) AS n_orders,
      CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS sum_price
    FROM orders
    GROUP BY CUBE (o_orderstatus, o_orderpriority)
    """,
)
def q_cube_agg(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders = load_table(spark, sf_dir, "orders")
    return orders.cube("o_orderstatus", "o_orderpriority").agg(
        F.count(F.lit(1)).alias("n_orders"),
        exact_sum(F.col("o_totalprice"), 2).alias("sum_price"),
    )


@query(
    "semi_join",
    oracle="""
    SELECT c_custkey, c_name
    FROM customer c
    WHERE EXISTS (
      SELECT 1 FROM orders o
      WHERE o.o_custkey = c.c_custkey AND o.o_totalprice > 300000.0
    )
    """,
)
def q_semi_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Left-semi join: customers having at least one big order. Semi joins
    never duplicate the probe side — cheaper than join+distinct."""
    cust = load_table(spark, sf_dir, "customer")
    big = load_table(spark, sf_dir, "orders").where(F.col("o_totalprice") > 300000.0)
    return cust.join(big, cust.c_custkey == big.o_custkey, "left_semi").select(
        "c_custkey", "c_name"
    )


@query(
    "anti_join",
    oracle="""
    SELECT c_custkey, c_name
    FROM customer c
    WHERE NOT EXISTS (
      SELECT 1 FROM orders o
      WHERE o.o_custkey = c.c_custkey AND o.o_totalprice > 400000.0
    )
    """,
)
def q_anti_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Left-anti join: customers who never placed a >400k order.
    (Anti against ALL orders returns nothing at test SFs — every
    customer has orders — so the build side is restricted to keep the
    query's behavior observable.)"""
    cust = load_table(spark, sf_dir, "customer")
    big = load_table(spark, sf_dir, "orders").where(F.col("o_totalprice") > 400000.0)
    return cust.join(big, cust.c_custkey == big.o_custkey, "left_anti").select(
        "c_custkey", "c_name"
    )


@query(
    "outer_join",
    oracle="""
    SELECT c.c_custkey, c.c_name, o.o_orderkey, o.o_totalprice
    FROM customer c LEFT JOIN orders o
      ON c.c_custkey = o.o_custkey AND o.o_totalprice > 450000.0
    """,
)
def q_outer_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Left outer join with a join-side predicate — exercises null
    production, which the reference's non-nullable engine cannot express
    (SURVEY.md section 1.2)."""
    cust = load_table(spark, sf_dir, "customer")
    orders = load_table(spark, sf_dir, "orders")
    cond = (cust.c_custkey == orders.o_custkey) & (orders.o_totalprice > 450000.0)
    return cust.join(orders, cond, "left").select(
        "c_custkey", "c_name", "o_orderkey", "o_totalprice"
    )


@query(
    "scalar_funcs",
    oracle="""
    SELECT
      p_partkey,
      upper(p_brand) AS brand_u,
      length(p_name) AS name_len,
      substr(p_type, 1, 5) AS type5,
      p_retailprice * 2.0 AS doubled_price,
      abs(p_size - 25) AS size_dev,
      p_size % 7 AS size_mod
    FROM part
    """,
)
def q_scalar_funcs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """String/math scalar function coverage — all JVM built-ins inside
    whole-stage codegen; no Python in the loop."""
    part = load_table(spark, sf_dir, "part")
    return part.select(
        "p_partkey",
        F.upper("p_brand").alias("brand_u"),
        F.length("p_name").alias("name_len"),
        F.substring("p_type", 1, 5).alias("type5"),
        # unrounded: *2.0 is exact in binary; round(x, 2) was the
        # only seam (a price of 1.3375 doubles to 2.675, which the two
        # engines round differently — r11 probe)
        (F.col("p_retailprice") * 2.0).alias("doubled_price"),
        F.abs(F.col("p_size") - 25).alias("size_dev"),
        (F.col("p_size") % 7).alias("size_mod"),
    )


@query(
    "date_funcs",
    oracle="""
    SELECT
      o_orderkey,
      CAST(year(o_orderdate) AS INT) AS order_year,
      CAST(month(o_orderdate) AS INT) AS order_month,
      CAST(dayofmonth(o_orderdate) AS INT) AS order_day,
      CAST(date_trunc('month', o_orderdate) AS TIMESTAMP) AS month_start
    FROM orders
    WHERE o_orderdate >= TIMESTAMP '1997-01-01 00:00:00'
    """,
)
def q_date_funcs(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders = load_table(spark, sf_dir, "orders")
    return orders.where(
        F.col("o_orderdate") >= F.lit("1997-01-01 00:00:00").cast("timestamp")
    ).select(
        "o_orderkey",
        F.year("o_orderdate").alias("order_year"),
        F.month("o_orderdate").alias("order_month"),
        F.dayofmonth("o_orderdate").alias("order_day"),
        F.date_trunc("month", F.col("o_orderdate")).alias("month_start"),
    )


@query(
    "json_funcs",
    oracle="""
    SELECT
      event_id,
      event_type,
      CAST(json_extract_string(props, '$.k') AS BIGINT) AS prop_k
    FROM events
    WHERE event_type IN ('purchase', 'signup')
    """,
)
def q_json_funcs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """JSON extraction from the events props column."""
    ev = load_table(spark, sf_dir, "events")
    return ev.where(F.col("event_type").isin("purchase", "signup")).select(
        "event_id",
        "event_type",
        F.get_json_object("props", "$.k").cast("bigint").alias("prop_k"),
    )


@query(
    "case_expr",
    oracle="""
    SELECT
      o_orderkey,
      CASE
        WHEN o_totalprice >= 300000.0 THEN 'large'
        WHEN o_totalprice >= 100000.0 THEN 'medium'
        ELSE 'small'
      END AS bucket,
      CASE WHEN o_orderstatus = 'F' THEN 1 ELSE 0 END AS is_final
    FROM orders
    """,
)
def q_case_expr(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders = load_table(spark, sf_dir, "orders")
    return orders.select(
        "o_orderkey",
        F.when(F.col("o_totalprice") >= 300000.0, "large")
        .when(F.col("o_totalprice") >= 100000.0, "medium")
        .otherwise("small")
        .alias("bucket"),
        F.when(F.col("o_orderstatus") == "F", 1).otherwise(0).alias("is_final"),
    )


@query(
    "multi_join_agg",
    oracle="""
    SELECT
      r.r_name AS region_name,
      CAST(year(o.o_orderdate) AS INT) AS order_year,
      COUNT(*) AS n_orders,
      CAST(SUM(CAST(o.o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS total_sales
    FROM orders o
    JOIN customer c ON o.o_custkey = c.c_custkey
    JOIN nation n ON c.c_nationkey = n.n_nationkey
    JOIN region r ON n.n_regionkey = r.r_regionkey
    GROUP BY r.r_name, CAST(year(o.o_orderdate) AS INT)
    """,
)
def q_multi_join_agg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Star-schema rollup through a 3-hop dimension chain; nation and
    region are broadcast so the fact table never shuffles for the join."""
    o = load_table(spark, sf_dir, "orders")
    c = load_table(spark, sf_dir, "customer")
    n = load_table(spark, sf_dir, "nation")
    r = load_table(spark, sf_dir, "region")
    return (
        o.join(c, o.o_custkey == c.c_custkey)
        .join(F.broadcast(n), c.c_nationkey == n.n_nationkey)
        .join(F.broadcast(r), n.n_regionkey == r.r_regionkey)
        .groupBy(F.col("r_name").alias("region_name"), F.year("o_orderdate").alias("order_year"))
        .agg(
            F.count(F.lit(1)).alias("n_orders"),
            exact_sum(F.col("o_totalprice"), 2).alias("total_sales"),
        )
    )


@query(
    "having_filter",
    oracle="""
    SELECT o_custkey, COUNT(*) AS n_orders,
           CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS spend
    FROM orders
    GROUP BY o_custkey
    HAVING COUNT(*) >= 12
    """,
)
def q_having_filter(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Post-aggregation predicate (HAVING)."""
    orders = load_table(spark, sf_dir, "orders")
    return (
        orders.groupBy("o_custkey")
        .agg(
            F.count(F.lit(1)).alias("n_orders"),
            exact_sum(F.col("o_totalprice"), 2).alias("spend"),
        )
        .where(F.col("n_orders") >= 12)
    )


@query("approx_percentile")  # sketch-based -> engine-specific, rows-only
def q_approx_percentile(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The 100 TB percentile path: one-pass sketch (no per-group sort,
    fixed memory). Engine-specific estimates -> rows-only check; the
    exact twin (`percentiles`) is the oracle-verified baseline."""
    li = load_table(spark, sf_dir, "lineitem")
    return li.groupBy("l_returnflag").agg(
        F.approx_percentile("l_extendedprice", F.lit(0.5), F.lit(10000)).alias("p50_est"),
        F.approx_percentile("l_extendedprice", F.lit(0.99), F.lit(10000)).alias("p99_est"),
    )


@query(
    "agg_collect",
    oracle="""
    SELECT o_custkey,
           md5(array_to_string(list_sort(list(o_orderkey)), ',')) AS keys_md5,
           CAST(SUM(o_orderkey) AS BIGINT) AS keys_sum,
           COUNT(*) AS n_orders
    FROM orders
    WHERE o_custkey % 10 = 0
    GROUP BY o_custkey
    """,
)
def q_agg_collect(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Array aggregation: per-customer order-key lists. collect_list is
    arrival-order nondeterministic, so the list is array_sort-ed, then
    shipped as an md5 fingerprint + order-insensitive bigint checksum —
    the driver's pandas canonicalizer cannot sort raw array cells
    (CORRECTNESS_r03/r04 crash), same recipe as embedding_quantize.
    The raw-array variant stays pytest-checked (agg_collect_raw)."""
    o = load_table(spark, sf_dir, "orders").where(F.col("o_custkey") % 10 == 0)
    return o.groupBy("o_custkey").agg(
        F.md5(
            F.concat_ws(
                ",",
                F.array_sort(F.collect_list("o_orderkey")).cast("array<string>"),
            )
        ).alias("keys_md5"),
        F.sum("o_orderkey").cast("bigint").alias("keys_sum"),
        F.count(F.lit(1)).alias("n_orders"),
    )


# Raw-array twin of agg_collect, NOT registered with the driver (its
# array column crashes the driver's pandas canonicalizer); the pytest
# differential in tests/test_oracle_parity.py checks it via DuckDB's
# fetchall() path, which handles list cells fine.
AGG_COLLECT_RAW_ORACLE = """
    SELECT o_custkey,
           list_sort(list(o_orderkey)) AS order_keys,
           len(list(o_orderkey)) AS n_orders
    FROM orders
    WHERE o_custkey % 10 = 0
    GROUP BY o_custkey
"""


def q_agg_collect_raw(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = load_table(spark, sf_dir, "orders").where(F.col("o_custkey") % 10 == 0)
    return o.groupBy("o_custkey").agg(
        F.array_sort(F.collect_list("o_orderkey")).alias("order_keys"),
        F.count(F.lit(1)).alias("n_orders"),
    )
