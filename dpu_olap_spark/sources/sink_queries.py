"""Registered driver queries for the source/sink layer, so every
connector has a CORRECTNESS row, not just a pytest.

Each query writes through a sink, reads the data back, and aggregates;
equality with a DuckDB oracle over the ORIGINAL table proves the
round-trip is lossless. The reference has no storage layer at all
(SURVEY.md section 2.9); these connectors are where a 100 TB
deployment lives or dies:

- partitioned parquet -> partition PRUNING (the filter must skip
  directories, asserted in tests/test_sinks.py and test_plans.py);
- bucketed tables -> shuffle-FREE co-partitioned joins, the persistent
  analog of the reference's radix-partition step
  (/root/reference/host/join/join_dpu.cc:200-233);
- CSV/JSON/ORC -> interchange, always schema-explicit (inferSchema
  would add a read pass and invite drift).

Sink directories are per-build paths from `tables.live_dir`, retired
by the next build of the same sink and deleted by the third or at
process exit; bucketed tables get unique names (`tables.unique_name`)
and are dropped after the read so repeated driver runs don't collide
or accumulate state.
"""

from __future__ import annotations

import os
import threading

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from dpu_olap_spark.registry import query
from dpu_olap_spark.sources import sinks
from dpu_olap_spark.sources.tables import live_dir, load_table, unique_name

_CONF_LOCK = threading.Lock()


@query(
    "sink_partitioned_prune",
    oracle="""
    SELECT year(o_orderdate) AS order_year,
           o_orderpriority,
           COUNT(*) AS n_orders,
           CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS total_price
    FROM orders
    WHERE year(o_orderdate) IN (1996, 1997)
    GROUP BY 1, 2
    """,
)
def q_sink_partitioned_prune(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Orders written hive-partitioned by order_year, read back with a
    partition filter (pruned scan — only the 1996/1997 directories are
    touched), then aggregated. Oracle equality over the original table
    proves the partitioned layout is lossless and the pruned read
    complete. Sums cast to decimal BEFORE aggregation (order-independent
    exact arithmetic) with a DOUBLE final cast; order_year cast to
    BIGINT because the hive-partition read-back infers INT while DuckDB
    year() is BIGINT."""
    orders = load_table(spark, sf_dir, "orders").withColumn(
        "order_year", F.year("o_orderdate")
    )
    path = live_dir("sinkq_orders_part")
    sinks.write_partitioned(orders, path, ["order_year"])
    back = sinks.read_partitioned(spark, path)
    return (
        back.where(F.col("order_year").isin(1996, 1997))
        .groupBy(
            F.col("order_year").cast("bigint").alias("order_year"),
            F.col("o_orderpriority"),
        )
        .agg(
            F.count(F.lit(1)).alias("n_orders"),
            F.sum(F.col("o_totalprice").cast("decimal(18,2)"))
            .cast("double")
            .alias("total_price"),
        )
    )


@query(
    "sink_csv_roundtrip",
    oracle="""
    SELECT n_regionkey,
           COUNT(*) AS n_nations,
           string_agg(n_name, ',' ORDER BY n_name) AS names_csv
    FROM nation
    GROUP BY n_regionkey
    """,
)
def q_sink_csv_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Nation through a headered CSV sink and a schema-explicit read
    (no inferSchema), aggregated per region with an order-pinned
    string_agg so any row loss, duplication, or value mangling in the
    text round-trip breaks the hash."""
    nation = load_table(spark, sf_dir, "nation")
    path = live_dir("sinkq_nation_csv")
    sinks.write_csv(nation, path)
    back = sinks.read_csv(spark, path, nation.schema)
    return back.groupBy("n_regionkey").agg(
        F.count(F.lit(1)).alias("n_nations"),
        F.array_join(F.array_sort(F.collect_list("n_name")), ",").alias("names_csv"),
    )


@query(
    "sink_json_roundtrip",
    oracle="""
    SELECT s_nationkey,
           COUNT(*) AS n_suppliers,
           CAST(SUM(CAST(s_acctbal AS DECIMAL(18,2))) AS DOUBLE) AS sum_acctbal
    FROM supplier
    GROUP BY s_nationkey
    """,
)
def q_sink_json_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Supplier through a JSON-lines sink and schema-explicit read,
    aggregated per nation. Decimal account balances survive the text
    representation exactly (decimal-typed schema on the read path)."""
    supplier = load_table(spark, sf_dir, "supplier")
    path = live_dir("sinkq_supp_json")
    sinks.write_json(supplier, path)
    back = sinks.read_json(spark, path, supplier.schema)
    return back.groupBy("s_nationkey").agg(
        F.count(F.lit(1)).alias("n_suppliers"),
        F.sum(F.col("s_acctbal").cast("decimal(18,2)")).cast("double").alias("sum_acctbal"),
    )


@query(
    "sink_orc_roundtrip",
    oracle="""
    SELECT p_brand,
           COUNT(*) AS n_parts,
           CAST(SUM(CAST(p_retailprice AS DECIMAL(18,2))) AS DOUBLE) AS sum_price
    FROM part
    GROUP BY p_brand
    """,
)
def q_sink_orc_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Part through an ORC sink (schema travels in the file footer) and
    back, aggregated per brand."""
    part = load_table(spark, sf_dir, "part")
    path = live_dir("sinkq_part_orc")
    sinks.write_orc(part, path)
    back = sinks.read_orc(spark, path)
    return back.groupBy("p_brand").agg(
        F.count(F.lit(1)).alias("n_parts"),
        F.sum(F.col("p_retailprice").cast("decimal(18,2)")).cast("double").alias("sum_price"),
    )


@query(
    "sink_xml_roundtrip",
    oracle="""
    SELECT c_mktsegment,
           COUNT(*) AS n_customers,
           CAST(SUM(CAST(c_acctbal AS DECIMAL(18,2))) AS DOUBLE) AS sum_acctbal
    FROM customer
    GROUP BY c_mktsegment
    """,
)
def q_sink_xml_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Customer through Spark 4's NATIVE XML sink (built-in since 4.0,
    no external package) and a schema-explicit read back, aggregated
    per market segment. XML is the interchange format that carries no
    type information at all, so the explicit read schema is what makes
    the round-trip lossless; decimal sums follow the cast-before-sum
    discipline every other sink query uses."""
    customer = load_table(spark, sf_dir, "customer")
    path = live_dir("sinkq_cust_xml")
    sinks.write_xml(customer, path)
    back = sinks.read_xml(spark, path, customer.schema)
    return back.groupBy("c_mktsegment").agg(
        F.count(F.lit(1)).alias("n_customers"),
        F.sum(F.col("c_acctbal").cast("decimal(18,2)"))
        .cast("double")
        .alias("sum_acctbal"),
    )


@query(
    "bucketed_join",
    oracle="""
    SELECT c_mktsegment,
           COUNT(*) AS n_orders,
           CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS total_price
    FROM orders JOIN customer ON o_custkey = c_custkey
    GROUP BY c_mktsegment
    """,
)
def q_bucketed_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Co-bucketed orders⋈customer with broadcast disabled: both sides
    pre-hashed into 8 buckets on the customer key at write time, so the
    join runs with ZERO Exchange (asserted in tests/test_sinks.py) —
    the persistent form of the reference's radix-partitioned join
    (/root/reference/host/join/join_dpu.cc:200-233), paid once at write
    time instead of per query. At 100 TB this is how repeated fact⋈dim
    joins on a stable key skip the shuffle entirely."""
    t_orders, t_customer = unique_name("bq_orders"), unique_name("bq_customer")
    orders = load_table(spark, sf_dir, "orders")
    customer = load_table(spark, sf_dir, "customer")
    sinks.write_bucketed(orders, t_orders, "o_custkey", 8)
    sinks.write_bucketed(customer, t_customer, "c_custkey", 8)
    bo, bc = spark.table(t_orders), spark.table(t_customer)
    # conf toggle + eager materialization under a lock: a concurrent
    # caller must not plan against the disabled-broadcast value or
    # restore a stale one
    _CONF_LOCK.acquire()
    prev = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try:
        joined = bo.join(bc, bo.o_custkey == bc.c_custkey)
        out = joined.groupBy("c_mktsegment").agg(
            F.count(F.lit(1)).alias("n_orders"),
            F.sum(F.col("o_totalprice").cast("decimal(18,2)"))
            .cast("double")
            .alias("total_price"),
        )
        # materialize under the no-broadcast conf, then restore; the
        # bucketed source tables outlive the call only until the next
        # run's overwrite (unique names avoid concurrent collisions)
        out = out.localCheckpoint(eager=True)
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prev)
        _CONF_LOCK.release()
        spark.sql(f"DROP TABLE IF EXISTS {t_orders}")
        spark.sql(f"DROP TABLE IF EXISTS {t_customer}")
    return out


@query(
    "sink_range_cluster",
    oracle="""
    SELECT CAST(date_trunc('month', l_shipdate) AS TIMESTAMP) AS ship_month,
           COUNT(*) AS n_items,
           CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2))) AS DOUBLE) AS sum_price
    FROM lineitem
    WHERE l_shipdate >= TIMESTAMP '1996-01-01'
      AND l_shipdate <  TIMESTAMP '1997-01-01'
    GROUP BY 1
    """,
)
def q_sink_range_cluster(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Range-clustered parquet layout: lineitem written with
    repartitionByRange + sortWithinPartitions on l_shipdate, so each
    file covers a narrow, sorted date span and a date-range read skips
    whole files / row groups via parquet min-max stats — the
    data-clustering play for time-series at 100 TB (partition
    boundaries come from reservoir sampling, so the LAYOUT varies
    between writes; the read-back CONTENT, which the oracle pins, does
    not). Aggregation over a pruned one-year read proves losslessness."""
    li = load_table(spark, sf_dir, "lineitem").select(
        "l_shipdate", "l_extendedprice"
    )
    path = live_dir("sinkq_li_range")
    (
        li.repartitionByRange(8, "l_shipdate")
        .sortWithinPartitions("l_shipdate")
        .write.mode("overwrite")
        .parquet(path)
    )
    back = spark.read.schema(li.schema).parquet(path)
    return (
        back.where(
            (F.col("l_shipdate") >= "1996-01-01")
            & (F.col("l_shipdate") < "1997-01-01")
        )
        .groupBy(F.date_trunc("month", "l_shipdate").alias("ship_month"))
        .agg(
            F.count(F.lit(1)).alias("n_items"),
            F.sum(F.col("l_extendedprice").cast("decimal(18,2)"))
            .cast("double")
            .alias("sum_price"),
        )
    )


@query(
    "sink_compaction",
    oracle="""
    SELECT event_type,
           COUNT(*) AS n_events,
           CAST(SUM(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS sum_value,
           CAST(SUM(event_id) AS BIGINT) AS id_checksum
    FROM events
    GROUP BY event_type
    """,
)
def q_sink_compaction(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Small-file compaction — the OPTIMIZE-style maintenance pass
    every large lake needs: a fragmented table (64 small files, the
    shape streaming ingest leaves behind) is rewritten into few
    right-sized files, and the aggregate over the COMPACTED copy must
    equal the oracle over the original — lossless rewrite proof,
    including an order-insensitive id checksum. Compaction target:
    ceil(bytes / 128 MiB) files via coalesce (no shuffle — coalesce
    only merges read splits; repartition would pay a full exchange
    just to rearrange bytes). At 100 TB this runs per partition-dir
    incrementally, never over the whole table at once."""
    import math

    ev = load_table(spark, sf_dir, "events")
    frag = live_dir("sinkq_frag")
    ev.repartition(64).write.mode("overwrite").parquet(frag)

    fragmented = spark.read.schema(ev.schema).parquet(frag)
    n_bytes = sum(
        os.path.getsize(os.path.join(frag, f))
        for f in os.listdir(frag)
        if f.endswith(".parquet")
    )
    target_files = max(1, math.ceil(n_bytes / (128 << 20)))
    compacted = live_dir("sinkq_compact")
    fragmented.coalesce(target_files).write.mode("overwrite").parquet(compacted)

    out = spark.read.schema(ev.schema).parquet(compacted)
    return out.groupBy("event_type").agg(
        F.count(F.lit(1)).alias("n_events"),
        F.sum(F.col("value").cast("decimal(18,2)")).cast("double").alias("sum_value"),
        F.sum("event_id").cast("bigint").alias("id_checksum"),
    )


def _zvalue(x, y, bits: int = 16):
    """Bit-interleaved Morton/Z value of two non-negative ints: x's
    bit i lands at position 2i, y's at 2i+1. Pure column expression —
    whole-stage codegen, no UDF."""
    z = F.lit(0).cast("long")
    for i in range(bits):
        z = z.bitwiseOR(
            F.shiftleft(F.shiftright(x, i).bitwiseAND(F.lit(1)).cast("long"), 2 * i)
        ).bitwiseOR(
            F.shiftleft(F.shiftright(y, i).bitwiseAND(F.lit(1)).cast("long"), 2 * i + 1)
        )
    return z


@query(
    "sink_zorder",
    oracle="""
    SELECT CAST(l_suppkey % 8 AS BIGINT) AS supp_bucket,
           COUNT(*) AS n_items,
           CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2))) AS DOUBLE)
             AS sum_price
    FROM lineitem
    WHERE l_partkey BETWEEN 100 AND 300
    GROUP BY 1
    """,
)
def q_sink_zorder(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Z-ORDER clustered layout: lineitem written ordered by the
    Morton interleave of (l_partkey, l_suppkey), so files cover small
    RECTANGLES of the two-key space and a selective filter on EITHER
    key skips most files via parquet min-max stats — the
    multi-dimensional data-skipping play (single-key range clustering,
    sink_range_cluster, can only serve one predicate column; Z-order
    serves both at ~sqrt locality each). The Z value is a pure bit
    expression (no UDF), computed only at WRITE time; readers filter
    on the natural columns. tests/test_sinks.py asserts both-dim file
    pruning via distinct input_file_name counts. Oracle pins the
    read-back CONTENT (lossless layout change), independent of file
    boundaries."""
    li = load_table(spark, sf_dir, "lineitem").select(
        "l_partkey", "l_suppkey", "l_extendedprice"
    )
    path = live_dir("sinkq_li_zorder")
    # normalize both keys to a COMMON bit width before interleaving:
    # raw keys have unequal ranges (partkey ~20x suppkey), and the
    # wider key's high bits would dominate the Z top bits, collapsing
    # Z-order into single-key clustering (measured: suppkey pruning
    # 16/16 files unnormalized vs <=1/2 after). The two maxes come
    # from parquet FOOTER statistics when available (r18 optimization
    # round, guide §6: integer min/max stats are exact, so this is the
    # same value as the agg without the full-table scan job); the agg
    # remains as the fallback for stat-less inputs.
    from dpu_olap_spark.sources.tables import parquet_int_column_max, table_path

    src = table_path(sf_dir, "lineitem")
    mxp = parquet_int_column_max(src, "l_partkey")
    mxs = parquet_int_column_max(src, "l_suppkey")
    if mxp is None or mxs is None:
        mxp, mxs = li.agg(F.max("l_partkey"), F.max("l_suppkey")).first()
    xs = F.floor(F.col("l_partkey") * 1024 / F.lit(int(mxp) + 1)).cast("int")
    ys = F.floor(F.col("l_suppkey") * 1024 / F.lit(int(mxs) + 1)).cast("int")
    z = _zvalue(xs, ys, bits=10)
    (
        li.withColumn("_z", z)
        .repartitionByRange(16, "_z")
        .sortWithinPartitions("_z")
        .drop("_z")
        .write.mode("overwrite")
        .parquet(path)
    )
    back = spark.read.schema(li.schema).parquet(path)
    return (
        back.where(F.col("l_partkey").between(100, 300))
        .groupBy((F.col("l_suppkey") % 8).cast("bigint").alias("supp_bucket"))
        .agg(
            F.count(F.lit(1)).alias("n_items"),
            F.sum(F.col("l_extendedprice").cast("decimal(18,2)"))
            .cast("double")
            .alias("sum_price"),
        )
    )
