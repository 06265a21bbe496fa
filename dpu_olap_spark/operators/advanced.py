"""Advanced relational operators the reference lacks entirely
(SURVEY.md section 2.9): as-of join, range join, pivot, scalar +
decorrelated subqueries, grouping sets, exact percentiles,
moment-based statistics, deterministic hash sampling, and the SQL
entry path (spark.sql over registered views).

Exactness discipline: any predicate or measure involving an aggregate
is algebraically rearranged to avoid engine-specific float summation
(exact_sum, multiply-through instead of divide) so Spark and DuckDB
agree bit-for-bit.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from dpu_olap_spark.functions.numeric import exact_sum
from dpu_olap_spark.registry import query
from dpu_olap_spark.sources.tables import load_table

EVENT_TYPES = ("click", "error", "purchase", "signup", "view")


@query(
    "asof_join",
    oracle="""
    WITH ordered AS (
      SELECT event_id, user_id, CAST(ts AS TIMESTAMP) AS ts, event_type,
        last_value(CASE WHEN event_type = 'signup' THEN CAST(ts AS TIMESTAMP) END
                   IGNORE NULLS)
          OVER (PARTITION BY user_id ORDER BY ts ASC, event_id ASC
                ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS last_signup_ts
      FROM events
    )
    SELECT event_id, user_id, ts, last_signup_ts
    FROM ordered WHERE event_type = 'purchase'
    """,
)
def q_asof_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """As-of join: each purchase event matched to the most recent signup
    of the same user at-or-before it. Expressed as a running `last()
    ignore-nulls` window over the event stream — one shuffle on
    user_id, one in-partition sort; no join materialization at all.
    (The classic backward as-of join; the reference has no analog.)"""
    ev = load_table(spark, sf_dir, "events")
    w = (
        Window.partitionBy("user_id")
        .orderBy(F.col("ts").asc(), F.col("event_id").asc())
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    last_signup = F.last(
        F.when(F.col("event_type") == "signup", F.col("ts")), ignorenulls=True
    ).over(w)
    return (
        ev.select("event_id", "user_id", "ts", "event_type", last_signup.alias("last_signup_ts"))
        .where(F.col("event_type") == "purchase")
        .drop("event_type")
    )


@query(
    "range_join",
    oracle="""
    SELECT a.user_id,
           a.event_id AS ev_a,
           b.event_id AS ev_b,
           epoch_us(CAST(b.ts AS TIMESTAMP)) - epoch_us(CAST(a.ts AS TIMESTAMP))
             AS gap_us
    FROM events a
    JOIN events b
      ON a.user_id = b.user_id
     AND CAST(b.ts AS TIMESTAMP) > CAST(a.ts AS TIMESTAMP)
     AND CAST(b.ts AS TIMESTAMP) <= CAST(a.ts AS TIMESTAMP) + INTERVAL '5 minutes'
    """,
)
def q_range_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bounded-interval range self-join: pairs of events by the same
    user within 5 minutes. The user_id equality makes this a hash join
    with the range as residual predicate — never a cartesian. At 100 TB
    the band condition also admits time-bucket bucketing (join on
    (user, bucket) with one-bucket overlap)."""
    ev = load_table(spark, sf_dir, "events")
    a = ev.select(
        F.col("user_id"), F.col("event_id").alias("ev_a"), F.col("ts").alias("ts_a")
    )
    b = ev.select(
        F.col("user_id").alias("user_b"), F.col("event_id").alias("ev_b"), F.col("ts").alias("ts_b")
    )
    joined = a.join(
        b,
        (F.col("user_id") == F.col("user_b"))
        & (F.col("ts_b") > F.col("ts_a"))
        & (F.col("ts_b") <= F.col("ts_a") + F.expr("INTERVAL 5 MINUTES")),
    )
    return joined.select(
        "user_id",
        "ev_a",
        "ev_b",
        (F.unix_micros("ts_b") - F.unix_micros("ts_a")).alias("gap_us"),
    )


_PIVOT_CASES = ",\n      ".join(
    f"COUNT(CASE WHEN event_type = '{t}' THEN 1 END) AS n_{t}" for t in EVENT_TYPES
)


@query(
    "pivot",
    oracle=f"""
    SELECT user_id,
      {_PIVOT_CASES}
    FROM events GROUP BY user_id
    """,
)
def q_pivot(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pivot event counts to one column per event type. Explicit value
    list => single-pass plan (no extra distinct-values job) and a
    deterministic column set."""
    ev = load_table(spark, sf_dir, "events")
    out = ev.groupBy("user_id").pivot("event_type", list(EVENT_TYPES)).count()
    renamed = out.select(
        "user_id", *[F.coalesce(F.col(t), F.lit(0)).alias(f"n_{t}") for t in EVENT_TYPES]
    )
    return renamed


@query(
    "grouping_sets",
    oracle="""
    SELECT l_returnflag, l_linestatus,
           CAST(grouping(l_returnflag) AS INT) AS g_flag,
           CAST(grouping(l_linestatus) AS INT) AS g_status,
           COUNT(*) AS n_rows
    FROM lineitem
    GROUP BY GROUPING SETS ((l_returnflag), (l_linestatus), ())
    """,
)
def q_grouping_sets(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Explicit GROUPING SETS with grouping() indicators — the general
    form of rollup/cube, via the SQL entry path."""
    load_table(spark, sf_dir, "lineitem").createOrReplaceTempView("lineitem")
    return spark.sql(
        """
        SELECT l_returnflag, l_linestatus,
               CAST(grouping(l_returnflag) AS INT) AS g_flag,
               CAST(grouping(l_linestatus) AS INT) AS g_status,
               COUNT(*) AS n_rows
        FROM lineitem
        GROUP BY GROUPING SETS ((l_returnflag), (l_linestatus), ())
        """
    )


@query(
    "scalar_subquery",
    oracle="""
    SELECT o_orderkey, o_totalprice
    FROM orders
    WHERE o_totalprice * (SELECT COUNT(*) FROM orders)
          > 1.5 * (SELECT CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE)
                   FROM orders)
    """,
)
def q_scalar_subquery(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Orders above 1.5x the mean price. The mean is rearranged to
    price * n > 1.5 * sum — DECIMAL sum, no division — so both engines
    evaluate the identical exact predicate."""
    load_table(spark, sf_dir, "orders").createOrReplaceTempView("orders")
    return spark.sql(
        """
        SELECT o_orderkey, o_totalprice
        FROM orders
        WHERE o_totalprice * (SELECT COUNT(*) FROM orders)
              > 1.5 * (SELECT CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE)
                       FROM orders)
        """
    )


@query(
    "decorrelated_subquery",
    oracle="""
    WITH per_part AS (
      SELECT l_partkey,
             COUNT(*) AS cnt,
             CAST(SUM(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) AS sum_qty
      FROM lineitem GROUP BY l_partkey
    )
    SELECT l.l_orderkey, l.l_partkey, l.l_quantity
    FROM lineitem l
    JOIN per_part p ON l.l_partkey = p.l_partkey
    WHERE l.l_quantity * p.cnt * 2.0 < p.sum_qty
    """,
)
def q_decorrelated_subquery(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q17 pattern: rows below half their group's mean, written as
    an aggregate-join (the decorrelated form an optimizer produces).
    qty < avg/2 is multiplied through to qty * cnt * 2 < sum."""
    li = load_table(spark, sf_dir, "lineitem")
    per_part = li.groupBy("l_partkey").agg(
        F.count(F.lit(1)).alias("cnt"),
        exact_sum(F.col("l_quantity"), 2).alias("sum_qty"),
    )
    return (
        li.join(per_part, "l_partkey")
        .where(F.col("l_quantity") * F.col("cnt") * 2.0 < F.col("sum_qty"))
        .select("l_orderkey", "l_partkey", "l_quantity")
    )


@query(
    "stats_agg",
    oracle="""
    WITH s AS (
      SELECT COUNT(*) AS n,
        CAST(SUM(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) AS sq,
        CAST(SUM(CAST(l_quantity * l_quantity AS DECIMAL(18,4))) AS DOUBLE) AS sqq
      FROM lineitem
    )
    SELECT n,
      sq / n AS mean_qty,
      (sqq - sq * sq / n) / (n - 1) AS var_qty,
      sqrt((sqq - sq * sq / n) / (n - 1)) AS std_qty
    FROM s
    """,
)
def q_stats_agg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Variance/stddev from exact decimal moments (sum, sum-of-squares)
    — order-independent, unlike streaming variance aggregates whose
    accumulation order differs per engine."""
    li = load_table(spark, sf_dir, "lineitem")
    s = li.agg(
        F.count(F.lit(1)).alias("n"),
        exact_sum(F.col("l_quantity"), 2).alias("sq"),
        exact_sum(F.col("l_quantity") * F.col("l_quantity"), 4).alias("sqq"),
    )
    n, sq, sqq = F.col("n"), F.col("sq"), F.col("sqq")
    # UNROUNDED (r11): every operand (decimal-exact sums as double,
    # counts) is bit-identical across engines and the expression tree
    # is evaluated in the same order, so the doubles agree exactly.
    # round() was the only divergence risk — Spark rounds the shortest
    # decimal STRING half-up, DuckDB rounds the BINARY value, so an
    # exact-rational mean like 3/20000 (repr '0.00015') would
    # hash-mismatch. Same reasoning as dedup_jaccard.
    return s.select(
        "n",
        (sq / n).alias("mean_qty"),
        ((sqq - sq * sq / n) / (n - 1)).alias("var_qty"),
        F.sqrt((sqq - sq * sq / n) / (n - 1)).alias("std_qty"),
    )


@query(
    "recursive_cte",
    oracle="""
    WITH RECURSIVE chain AS (
      SELECT s_suppkey AS node, CAST(0 AS BIGINT) AS depth
      FROM supplier WHERE s_suppkey = 1
      UNION ALL
      SELECT s.s_suppkey, c.depth + 1
      FROM supplier s JOIN chain c
        ON CAST(floor(s.s_suppkey / 2.0) AS BIGINT) = c.node
      WHERE s.s_suppkey > 1
    )
    SELECT depth, COUNT(*) AS n_nodes, CAST(SUM(node) AS BIGINT) AS sum_nodes
    FROM chain GROUP BY depth
    """,
)
def q_recursive_cte(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Recursive CTE (new in Spark 4): iterative self-referencing
    traversal — here a binary-tree hierarchy implicit in the supplier
    keys (parent = floor(key/2)), walked root-to-leaves computing each
    node's depth, aggregated to per-level counts. The recursion is the
    capability SQL engines use for org charts, BOM explosions, and
    graph reachability; Spark executes it as iterated joins with a
    recursion limit, each iteration a narrow broadcast-able join
    against the frontier (the same iterate-until-fixpoint shape as
    dedup_clusters' connected components, which remains the 100 TB
    path for DATA-sized graphs — recursion depth here is log2(keys),
    parameter-sized frontiers). floor(x/2.0) is spelled identically in
    both engines because integer '/' truncates in Spark but yields
    DECIMAL division in DuckDB."""
    load_table(spark, sf_dir, "supplier").select(
        "s_suppkey"
    ).createOrReplaceTempView("rc_supplier")
    return spark.sql(
        """
        WITH RECURSIVE chain AS (
          SELECT s_suppkey AS node, CAST(0 AS BIGINT) AS depth
          FROM rc_supplier WHERE s_suppkey = 1
          UNION ALL
          SELECT s.s_suppkey, c.depth + 1
          FROM rc_supplier s JOIN chain c
            ON CAST(floor(s.s_suppkey / 2.0) AS BIGINT) = c.node
          WHERE s.s_suppkey > 1
        )
        SELECT depth, COUNT(*) AS n_nodes,
               CAST(SUM(node) AS BIGINT) AS sum_nodes
        FROM chain GROUP BY depth
        """
    )


@query(
    "tvf_range_join",
    oracle="""
    SELECT t.id, n.n_name, CAST(t.id * 2 AS BIGINT) AS double_id
    FROM range(0, 25) t(id)
    JOIN nation n ON t.id = n.n_nationkey
    """,
)
def q_tvf_range_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Table-valued function as a FROM-clause relation: range() is the
    SQL-standard generator relation (the in-plan row source both
    engines share), joined against a real dimension. Generated
    relations are how spines, calendars, and synthetic keys enter a
    plan WITHOUT reading storage — at scale range() parallelizes into
    splits like any scan (see gap_fill for the DataFrame-side
    sequence+explode twin, pysource_scan for the custom-source
    generalization)."""
    load_table(spark, sf_dir, "nation").createOrReplaceTempView("tvf_nation")
    return spark.sql(
        """
        SELECT t.id, n.n_name, CAST(t.id * 2 AS BIGINT) AS double_id
        FROM range(0, 25) t
        JOIN tvf_nation n ON t.id = n.n_nationkey
        """
    )


@query(
    "listagg_stats",
    oracle="""
    SELECT o_custkey,
           string_agg(o_orderstatus, '' ORDER BY o_orderdate, o_orderkey)
             AS status_seq,
           COUNT(*) AS n_orders,
           round(quantile_cont(o_totalprice, 0.5), 4) AS med_price
    FROM orders
    WHERE o_custkey % 50 = 0
    GROUP BY o_custkey
    """,
)
def q_listagg_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Ordered string aggregation (listagg WITHIN GROUP, new in Spark
    4) + median: each customer's order-status history concatenated in
    order-date order — the per-entity event-sequence encoding used for
    pattern mining (compare session_funnel, which matches the pattern
    instead of exporting it). Deterministic because the WITHIN GROUP
    order key (o_orderdate, o_orderkey) is a total order; bounded
    because per-customer order counts are bounded. DuckDB twin is
    string_agg(... ORDER BY ...)."""
    o = load_table(spark, sf_dir, "orders").where(F.col("o_custkey") % 50 == 0)
    return o.groupBy("o_custkey").agg(
        F.expr(
            "listagg(o_orderstatus, '') WITHIN GROUP "
            "(ORDER BY o_orderdate, o_orderkey)"
        ).alias("status_seq"),
        F.count(F.lit(1)).alias("n_orders"),
        F.round(F.median("o_totalprice"), 4).alias("med_price"),
    )


@query(
    "percentiles",
    oracle="""
    SELECT l_returnflag,
      round(quantile_cont(l_quantity, 0.5), 4) AS p50_qty,
      round(quantile_cont(l_quantity, 0.9), 4) AS p90_qty,
      round(quantile_cont(l_extendedprice, 0.25), 4) AS p25_price
    FROM lineitem GROUP BY l_returnflag
    """,
)
def q_percentiles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact interpolated percentiles per group (Spark `percentile` and
    DuckDB `quantile_cont` share the (n-1)p interpolation rule —
    verified empirically). The 100 TB path is approx_percentile
    (t-digest/KLL-style sketch, one pass, fixed memory)."""
    li = load_table(spark, sf_dir, "lineitem")
    return li.groupBy("l_returnflag").agg(
        F.round(F.expr("percentile(l_quantity, 0.5)"), 4).alias("p50_qty"),
        F.round(F.expr("percentile(l_quantity, 0.9)"), 4).alias("p90_qty"),
        F.round(F.expr("percentile(l_extendedprice, 0.25)"), 4).alias("p25_price"),
    )


@query(
    "hash_sample",
    oracle="""
    SELECT l_orderkey, l_linenumber, l_quantity
    FROM lineitem
    WHERE substr(md5(l_orderkey || ':' || l_linenumber), 1, 1) IN ('0', '1')
    """,
)
def q_hash_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic ~12.5% Bernoulli sample keyed on content hash —
    reproducible across engines, runs, and cluster sizes (unlike
    df.sample, whose RNG is partition-dependent). The standard trick
    for stable train/eval splits over a moving corpus."""
    li = load_table(spark, sf_dir, "lineitem")
    h = F.md5(F.concat_ws(":", "l_orderkey", "l_linenumber"))
    return li.where(F.substring(h, 1, 1).isin("0", "1")).select(
        "l_orderkey", "l_linenumber", "l_quantity"
    )


@query(
    "string_funcs2",
    oracle="""
    SELECT p_partkey,
      regexp_extract(p_name, '([a-z]+)', 1) AS first_word,
      lpad(p_brand, 12, '*') AS brand_pad,
      translate(p_type, 'aeiou', 'AEIOU') AS type_tr,
      reverse(p_name) AS name_rev,
      split_part(p_type, ' ', 1) AS type_head,
      concat(p_brand, '#', CAST(p_size AS VARCHAR)) AS brand_size
    FROM part
    """,
)
def q_string_funcs2(spark: SparkSession, sf_dir: str) -> DataFrame:
    part = load_table(spark, sf_dir, "part")
    return part.select(
        "p_partkey",
        F.regexp_extract("p_name", "([a-z]+)", 1).alias("first_word"),
        F.lpad("p_brand", 12, "*").alias("brand_pad"),
        F.translate("p_type", "aeiou", "AEIOU").alias("type_tr"),
        F.reverse("p_name").alias("name_rev"),
        F.split_part(F.col("p_type"), F.lit(" "), F.lit(1)).alias("type_head"),
        F.concat(F.col("p_brand"), F.lit("#"), F.col("p_size").cast("string")).alias(
            "brand_size"
        ),
    )


@query(
    "null_funcs",
    oracle="""
    SELECT o_orderkey,
      coalesce(nullif(o_orderstatus, 'O'), 'open') AS status_x,
      greatest(o_totalprice, 250000.0) AS floor_price,
      least(o_totalprice, 250000.0) AS cap_price,
      CASE WHEN o_orderstatus = 'P' THEN NULL ELSE o_totalprice END AS price_or_null
    FROM orders
    """,
)
def q_null_funcs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """NULL-handling scalar surface (coalesce/nullif/greatest/least) —
    three-valued logic the reference's non-nullable engine cannot
    express (SURVEY.md section 1.2)."""
    o = load_table(spark, sf_dir, "orders")
    return o.select(
        "o_orderkey",
        F.coalesce(F.nullif(F.col("o_orderstatus"), F.lit("O")), F.lit("open")).alias(
            "status_x"
        ),
        F.greatest(F.col("o_totalprice"), F.lit(250000.0)).alias("floor_price"),
        F.least(F.col("o_totalprice"), F.lit(250000.0)).alias("cap_price"),
        F.when(F.col("o_orderstatus") == "P", F.lit(None).cast("double"))
        .otherwise(F.col("o_totalprice"))
        .alias("price_or_null"),
    )


_TPCH_Q3 = """
    SELECT
      l.l_orderkey,
      CAST(SUM(CAST(l.l_extendedprice * (1 - l.l_discount) AS DECIMAL(18,4)))
           AS DOUBLE) AS revenue,
      o.o_orderdate,
      o.o_orderpriority
    FROM customer c
    JOIN orders o ON c.c_custkey = o.o_custkey
    JOIN lineitem l ON l.l_orderkey = o.o_orderkey
    WHERE c.c_mktsegment = 'BUILDING'
      AND o.o_orderdate < TIMESTAMP '1998-03-15 00:00:00'
      AND l.l_shipdate > TIMESTAMP '1998-03-15 00:00:00'
    GROUP BY l.l_orderkey, o.o_orderdate, o.o_orderpriority
    ORDER BY revenue DESC, l_orderkey ASC
    LIMIT 10
"""


@query("tpch_q3", oracle=_TPCH_Q3)
def q_tpch_q3(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q3 (shipping priority), via the SQL entry path — parser,
    analyzer, and optimizer all exercised on the identical text the
    oracle runs."""
    for t in ("customer", "orders", "lineitem"):
        load_table(spark, sf_dir, t).createOrReplaceTempView(t)
    return spark.sql(_TPCH_Q3)


@query(
    "tpch_q6",
    oracle="""
    SELECT
      CAST(SUM(CAST(l_extendedprice * l_discount AS DECIMAL(18,4))) AS DOUBLE)
        AS revenue,
      COUNT(*) AS n_rows
    FROM lineitem
    WHERE l_shipdate >= TIMESTAMP '1996-01-01 00:00:00'
      AND l_shipdate < TIMESTAMP '1997-01-01 00:00:00'
      AND l_discount BETWEEN 0.05 AND 0.07
      AND l_quantity < 24.0
    """,
)
def q_tpch_q6(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q6 (forecast revenue change): the purest scan-filter-agg
    workload — all four predicates push to the parquet scan, zero
    shuffle before the partial aggregate."""
    li = load_table(spark, sf_dir, "lineitem")
    return (
        li.where(
            (F.col("l_shipdate") >= F.lit("1996-01-01 00:00:00").cast("timestamp"))
            & (F.col("l_shipdate") < F.lit("1997-01-01 00:00:00").cast("timestamp"))
            & (F.col("l_discount") >= 0.05)
            & (F.col("l_discount") <= 0.07)
            & (F.col("l_quantity") < 24.0)
        )
        .agg(
            exact_sum(F.col("l_extendedprice") * F.col("l_discount"), 4).alias("revenue"),
            F.count(F.lit(1)).alias("n_rows"),
        )
    )


@query(
    "tpch_q10",
    oracle="""
    SELECT
      c.c_custkey, c.c_name, n.n_name,
      CAST(SUM(CAST(l.l_extendedprice * (1 - l.l_discount) AS DECIMAL(18,4)))
           AS DOUBLE) AS revenue
    FROM customer c
    JOIN orders o ON c.c_custkey = o.o_custkey
    JOIN lineitem l ON l.l_orderkey = o.o_orderkey
    JOIN nation n ON c.c_nationkey = n.n_nationkey
    WHERE o.o_orderdate >= TIMESTAMP '1996-01-01 00:00:00'
      AND o.o_orderdate < TIMESTAMP '1996-07-01 00:00:00'
      AND l.l_returnflag = 'R'
    GROUP BY c.c_custkey, c.c_name, n.n_name
    ORDER BY revenue DESC, c_custkey ASC
    LIMIT 20
    """,
)
def q_tpch_q10(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q10 (returned-item reporting): selective fact filters,
    3-way join, grouped revenue, top-20. Date + returnflag predicates
    reach both scans before any join."""
    c = load_table(spark, sf_dir, "customer")
    o = load_table(spark, sf_dir, "orders").where(
        (F.col("o_orderdate") >= F.lit("1996-01-01 00:00:00").cast("timestamp"))
        & (F.col("o_orderdate") < F.lit("1996-07-01 00:00:00").cast("timestamp"))
    )
    li = load_table(spark, sf_dir, "lineitem").where(F.col("l_returnflag") == "R")
    n = load_table(spark, sf_dir, "nation")
    return (
        c.join(o, c.c_custkey == o.o_custkey)
        .join(li, li.l_orderkey == o.o_orderkey)
        .join(F.broadcast(n), c.c_nationkey == n.n_nationkey)
        .groupBy("c_custkey", "c_name", "n_name")
        .agg(
            exact_sum(F.col("l_extendedprice") * (1 - F.col("l_discount")), 4).alias("revenue")
        )
        .orderBy(F.col("revenue").desc(), F.col("c_custkey").asc())
        .limit(20)
    )


@query(
    "tpch_q14",
    oracle="""
    WITH s AS (
      SELECT
        CAST(SUM(CASE WHEN p.p_type LIKE 'PROMO%'
                 THEN CAST(l.l_extendedprice * (1 - l.l_discount) AS DECIMAL(18,4))
                 ELSE CAST(0 AS DECIMAL(18,4)) END) AS DOUBLE) AS promo_rev,
        CAST(SUM(CAST(l.l_extendedprice * (1 - l.l_discount) AS DECIMAL(18,4)))
             AS DOUBLE) AS total_rev
      FROM lineitem l JOIN part p ON l.l_partkey = p.p_partkey
      WHERE l.l_shipdate >= TIMESTAMP '1997-01-01 00:00:00'
        AND l.l_shipdate < TIMESTAMP '1997-04-01 00:00:00'
    )
    SELECT promo_rev, total_rev,
           100.0 * promo_rev / total_rev AS promo_pct
    FROM s
    """,
)
def q_tpch_q14(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q14 (promotion effect): conditional aggregation ratio over
    a fact-dim join. Both sums are exact decimals; the single final
    division is the only float op, so the ratio is engine-identical."""
    li = load_table(spark, sf_dir, "lineitem").where(
        (F.col("l_shipdate") >= F.lit("1997-01-01 00:00:00").cast("timestamp"))
        & (F.col("l_shipdate") < F.lit("1997-04-01 00:00:00").cast("timestamp"))
    )
    part = load_table(spark, sf_dir, "part")
    rev = F.col("l_extendedprice") * (1 - F.col("l_discount"))
    s = (
        li.join(part, li.l_partkey == part.p_partkey)
        .agg(
            exact_sum(F.when(F.col("p_type").like("PROMO%"), rev).otherwise(0.0), 4)
            .alias("promo_rev"),
            exact_sum(rev, 4).alias("total_rev"),
        )
    )
    return s.select(
        "promo_rev",
        "total_rev",
        # unrounded: identical doubles both engines (see stats_agg)
        (100.0 * F.col("promo_rev") / F.col("total_rev")).alias("promo_pct"),
    )


@query(
    "tpch_q18",
    oracle="""
    WITH big AS (
      SELECT l_orderkey
      FROM lineitem
      GROUP BY l_orderkey
      HAVING CAST(SUM(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) > 200.0
    )
    SELECT c.c_name, o.o_orderkey, o.o_totalprice,
           CAST(SUM(CAST(l.l_quantity AS DECIMAL(18,2))) AS DOUBLE) AS total_qty
    FROM orders o
    JOIN big ON o.o_orderkey = big.l_orderkey
    JOIN customer c ON o.o_custkey = c.c_custkey
    JOIN lineitem l ON l.l_orderkey = o.o_orderkey
    GROUP BY c.c_name, o.o_orderkey, o.o_totalprice
    ORDER BY o.o_totalprice DESC, o.o_orderkey ASC
    LIMIT 20
    """,
)
def q_tpch_q18(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q18 (large-volume customers): aggregate-derived semi-filter
    (HAVING subquery) composed with a 3-way join and re-aggregation —
    the 'filter by aggregate of the same fact table' pattern."""
    li = load_table(spark, sf_dir, "lineitem")
    big = (
        li.groupBy("l_orderkey")
        .agg(exact_sum(F.col("l_quantity"), 2).alias("tq"))
        .where(F.col("tq") > 200.0)
        .select("l_orderkey")
    )
    o = load_table(spark, sf_dir, "orders")
    c = load_table(spark, sf_dir, "customer")
    return (
        o.join(big, o.o_orderkey == big.l_orderkey)
        .join(c, o.o_custkey == c.c_custkey)
        .join(li.select(F.col("l_orderkey").alias("lk"), "l_quantity"), F.col("lk") == o.o_orderkey)
        .groupBy("c_name", "o_orderkey", "o_totalprice")
        .agg(
            exact_sum(F.col("l_quantity"), 2).alias("total_qty")
        )
        .orderBy(F.col("o_totalprice").desc(), F.col("o_orderkey").asc())
        .limit(20)
    )


@query(
    "tpch_q4",
    oracle="""
    SELECT o_orderpriority, COUNT(*) AS order_count
    FROM orders o
    WHERE o.o_orderdate >= TIMESTAMP '1997-07-01 00:00:00'
      AND o.o_orderdate < TIMESTAMP '1997-10-01 00:00:00'
      AND EXISTS (
        SELECT 1 FROM lineitem l
        WHERE l.l_orderkey = o.o_orderkey AND l.l_shipdate > o.o_orderdate
      )
    GROUP BY o_orderpriority
    """,
)
def q_tpch_q4(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q4 (order priority checking): EXISTS decorrelates to a
    left-semi join; the fact-side filter prunes before the join."""
    o = load_table(spark, sf_dir, "orders").where(
        (F.col("o_orderdate") >= F.lit("1997-07-01 00:00:00").cast("timestamp"))
        & (F.col("o_orderdate") < F.lit("1997-10-01 00:00:00").cast("timestamp"))
    )
    li = load_table(spark, sf_dir, "lineitem")
    cond = (li.l_orderkey == o.o_orderkey) & (li.l_shipdate > o.o_orderdate)
    return (
        o.join(li, cond, "left_semi")
        .groupBy("o_orderpriority")
        .agg(F.count(F.lit(1)).alias("order_count"))
    )


@query(
    "tpch_q15",
    oracle="""
    WITH revenue AS (
      SELECT l_suppkey AS supplier_no,
             CAST(SUM(CAST(l_extendedprice * (1 - l_discount) AS DECIMAL(18,4)))
                  AS DOUBLE) AS total_revenue
      FROM lineitem
      WHERE l_shipdate >= TIMESTAMP '1997-01-01 00:00:00'
        AND l_shipdate < TIMESTAMP '1997-04-01 00:00:00'
      GROUP BY l_suppkey
    )
    SELECT s.s_suppkey, s.s_name, r.total_revenue
    FROM supplier s JOIN revenue r ON s.s_suppkey = r.supplier_no
    WHERE r.total_revenue = (SELECT MAX(total_revenue) FROM revenue)
    """,
)
def q_tpch_q15(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q15 (top supplier): CTE revenue aggregate + scalar-subquery
    max filter, expressed as ONE plan with no driver round-trip: a
    rank() over the aggregated revenue frame keeps the max rows (ties
    kept, like the SQL `= (SELECT MAX ...)`), so lineitem is scanned
    and aggregated exactly once. The global window sorts only the
    post-aggregation frame (|suppliers| rows, << fact table)."""
    li = load_table(spark, sf_dir, "lineitem").where(
        (F.col("l_shipdate") >= F.lit("1997-01-01 00:00:00").cast("timestamp"))
        & (F.col("l_shipdate") < F.lit("1997-04-01 00:00:00").cast("timestamp"))
    )
    revenue = li.groupBy(F.col("l_suppkey").alias("supplier_no")).agg(
        exact_sum(F.col("l_extendedprice") * (1 - F.col("l_discount")), 4).alias("total_revenue")
    )
    top = (
        revenue.withColumn(
            "rnk", F.rank().over(Window.orderBy(F.desc("total_revenue")))
        )
        .where(F.col("rnk") == 1)
        .drop("rnk")
    )
    s = load_table(spark, sf_dir, "supplier")
    return (
        s.join(top, s.s_suppkey == top.supplier_no)
        .select("s_suppkey", "s_name", "total_revenue")
    )


@query(
    "bitmap_presence",
    oracle="""
    SELECT c_nationkey,
           bit_or(CAST(1 AS BIGINT) << CAST(substr(o_orderpriority, 1, 1) AS INT))
             AS prio_bitmap,
           CAST(bit_count(bit_or(CAST(1 AS BIGINT)
                << CAST(substr(o_orderpriority, 1, 1) AS INT))) AS BIGINT)
             AS n_prios
    FROM orders JOIN customer ON o_custkey = c_custkey
    GROUP BY c_nationkey
    """,
)
def q_bitmap_presence(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Mergeable presence bitmap: per customer nation, a 64-bit bitmap
    of which order priorities occur, built as bit_or over 1<<idx. The
    Spark side deliberately aggregates in TWO levels — partial bitmaps
    per (nation, mktsegment), then bit_or-merged per nation — while
    the oracle aggregates directly; their equality proves the sketch
    is re-aggregable (bit_or is associative+commutative), which is the
    whole point of bitmap presence at 100 TB: partial bitmaps roll up
    across partitions, days, or tiers without rescanning. Exact
    distinct-presence in 8 bytes per group, versus a set-union's
    unbounded state."""
    orders = load_table(spark, sf_dir, "orders").select("o_custkey", "o_orderpriority")
    cust = load_table(spark, sf_dir, "customer").select(
        "c_custkey", "c_nationkey", "c_mktsegment"
    )
    joined = orders.join(cust, orders.o_custkey == cust.c_custkey)
    bit = F.expr("shiftleft(CAST(1 AS BIGINT), CAST(substr(o_orderpriority, 1, 1) AS INT))")
    partial = joined.groupBy("c_nationkey", "c_mktsegment").agg(
        F.expr("bit_or(shiftleft(CAST(1 AS BIGINT), CAST(substr(o_orderpriority, 1, 1) AS INT)))").alias("pb")
    )
    return partial.groupBy("c_nationkey").agg(
        F.expr("bit_or(pb)").alias("prio_bitmap"),
        F.expr("CAST(bit_count(bit_or(pb)) AS BIGINT)").alias("n_prios"),
    )


@query(
    "group_size_hist",
    oracle="""
    WITH per_key AS (
      SELECT o_custkey, COUNT(*) AS group_size FROM orders GROUP BY o_custkey
    )
    SELECT group_size,
           COUNT(*) AS n_keys,
           CAST(SUM(group_size) AS BIGINT) AS n_rows
    FROM per_key
    GROUP BY group_size
    """,
)
def q_group_size_hist(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Key-distribution (skew) diagnostic: the histogram of join/agg
    group sizes for orders.o_custkey — two stacked exact aggregations
    (per-key counts, then counts-of-counts). This is the query you run
    BEFORE choosing a join strategy at 100 TB: a long tail of
    group_size=1 keys with a few 10^6-row whales is the signature that
    says salt or AQE-skew-split; both aggregations partial-combine
    map-side, and the second one's input is already one row per key,
    so the diagnostic costs one shuffle over keys, not data."""
    orders = load_table(spark, sf_dir, "orders")
    per_key = orders.groupBy("o_custkey").agg(F.count(F.lit(1)).alias("group_size"))
    return per_key.groupBy("group_size").agg(
        F.count(F.lit(1)).alias("n_keys"),
        F.sum("group_size").alias("n_rows"),
    )


@query(
    "skyline_pareto",
    oracle="""
    WITH pts AS (
      SELECT p_partkey,
             CAST(floor(p_retailprice * 100 + 0.5) AS BIGINT) AS price_cents,
             CAST(p_size AS BIGINT) AS size_v
      FROM part
    ),
    sweep AS (
      SELECT p_partkey, price_cents, size_v,
             MAX(size_v) OVER (ORDER BY price_cents
               RANGE BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING)
               AS m_strict,
             MAX(size_v) OVER (PARTITION BY price_cents) AS m_tie
      FROM pts
    )
    SELECT p_partkey, price_cents, size_v
    FROM sweep
    WHERE (m_strict IS NULL OR size_v > m_strict) AND size_v = m_tie
    """,
)
def q_skyline_pareto(spark: SparkSession, sf_dir: str) -> DataFrame:
    """2-D skyline (Pareto frontier): the parts not DOMINATED on
    (minimize price, maximize size) — a dominates b iff a.price <=
    b.price, a.size >= b.size and at least one is strict; equal points
    are mutually non-dominated and all kept.  A preference-query
    operator class the reference engine has no analog for (its join/
    filter kernels are equality-only; SURVEY.md section 2.9).

    Exact sweep formulation (no quadratic dominance join): sort by
    price; a point survives iff its size exceeds the max size over all
    STRICTLY cheaper points (RANGE .. 1 PRECEDING on integer cents
    handles price ties exactly) AND it carries the max size within its
    own price (a same-price larger size dominates).  Prices go through
    the house cents cast so both engines sweep identical integers.

    Scale: the classic two-phase distributed skyline — phase 1 runs
    the sweep WITHIN each of 32 hash buckets (partitioned window, no
    global order), eliminating locally-dominated points; dominance is
    transitive, so any point dominated by ANYTHING is dominated by a
    member of its bucket's local skyline and global-skyline membership
    is decidable among survivors.  Phase 2 re-sweeps the survivors —
    bounded by buckets x distinct sizes (32 x 50 here), NOT by fact
    rows — in a single-partition global window (same justification as
    tpch_q15's dim-bounded rank; allowlisted in the plan lint of
    tests/test_oracle_parity.py).
    The survivor count is what a 1000-executor run ships to one task,
    which is why phase 1 must partition-prune the fact table first."""
    pts = load_table(spark, sf_dir, "part").select(
        "p_partkey",
        F.floor(F.col("p_retailprice") * 100 + 0.5)
        .cast("bigint")
        .alias("price_cents"),
        F.col("p_size").cast("bigint").alias("size_v"),
    )

    def sweep(df: DataFrame, bucketed: bool) -> DataFrame:
        part_cols = ["bucket"] if bucketed else []
        w_strict = (
            Window.partitionBy(*part_cols)
            .orderBy("price_cents")
            .rangeBetween(Window.unboundedPreceding, -1)
        )
        w_tie = Window.partitionBy(*(part_cols + ["price_cents"]))
        return (
            df.withColumn("m_strict", F.max("size_v").over(w_strict))
            .withColumn("m_tie", F.max("size_v").over(w_tie))
            .where(
                (F.col("m_strict").isNull()
                 | (F.col("size_v") > F.col("m_strict")))
                & (F.col("size_v") == F.col("m_tie"))
            )
            .drop("m_strict", "m_tie")
        )

    local = sweep(
        pts.withColumn("bucket", F.pmod(F.hash("p_partkey"), F.lit(32))),
        bucketed=True,
    ).drop("bucket")
    return sweep(local, bucketed=False)


@query(
    "ntile_deciles",
    oracle="""
    WITH b AS (
      SELECT c_mktsegment,
             CAST(floor(c_acctbal * 100 + 0.5) AS BIGINT) AS cents,
             NTILE(10) OVER (PARTITION BY c_mktsegment
               ORDER BY CAST(floor(c_acctbal * 100 + 0.5) AS BIGINT),
                        c_custkey) AS decile
      FROM customer
    )
    SELECT c_mktsegment, decile,
           COUNT(*) AS n_rows,
           CAST(SUM(cents) AS BIGINT) AS sum_cents,
           MIN(cents) AS lo_cents,
           MAX(cents) AS hi_cents
    FROM b
    GROUP BY c_mktsegment, decile
    """,
)
def q_ntile_deciles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """NTILE bucketing: per-segment account-balance deciles with
    per-bucket count/sum/bounds — the equi-depth histogram an
    optimizer or a quality report builds per group.  NTILE's bucket
    rule (equal sizes, remainder distributed to the LEADING buckets)
    is deterministic only under a TOTAL order, so the window orders by
    (cents, c_custkey) — the house tiebreak — and both engines must
    place every row in the same decile or the per-bucket sums diverge.

    Scale: the window partitions by segment (parallel across groups;
    within-group sort is the cost, same as any ranking), and the
    decile aggregation reuses the segment shuffle's locality.  Skewed
    group sizes degrade to per-group sort cost, not a global one."""
    from pyspark.sql import Window as W

    cust = load_table(spark, sf_dir, "customer").select(
        "c_mktsegment",
        "c_custkey",
        F.floor(F.col("c_acctbal") * 100 + 0.5).cast("bigint").alias("cents"),
    )
    w = W.partitionBy("c_mktsegment").orderBy("cents", "c_custkey")
    return (
        cust.withColumn("decile", F.ntile(10).over(w))
        .groupBy("c_mktsegment", "decile")
        .agg(
            F.count(F.lit(1)).alias("n_rows"),
            F.sum("cents").cast("bigint").alias("sum_cents"),
            F.min("cents").alias("lo_cents"),
            F.max("cents").alias("hi_cents"),
        )
    )


@query(
    "mad_outliers",
    oracle="""
    WITH cents AS (
      SELECT o_orderpriority,
             CAST(floor(o_totalprice * 100 + 0.5) AS BIGINT) AS c
      FROM orders
    ),
    med AS (
      SELECT o_orderpriority,
             CAST(quantile_cont(c * 2, 0.5) AS BIGINT) AS med2
      FROM cents GROUP BY o_orderpriority
    ),
    dev AS (
      SELECT cents.o_orderpriority, c, med2,
             abs(2 * c - med2) AS dev2
      FROM cents JOIN med ON cents.o_orderpriority = med.o_orderpriority
    ),
    mad AS (
      SELECT o_orderpriority,
             CAST(quantile_cont(dev2 * 2, 0.5) AS BIGINT) AS mad4
      FROM dev GROUP BY o_orderpriority
    )
    SELECT dev.o_orderpriority,
           COUNT(*) AS n_orders,
           CAST(SUM(CASE WHEN 2 * dev2 > 3 * mad4 THEN 1 ELSE 0 END)
                AS BIGINT) AS n_outliers,
           MIN(med2) AS med2,
           MIN(mad4) AS mad4
    FROM dev JOIN mad ON dev.o_orderpriority = mad.o_orderpriority
    GROUP BY dev.o_orderpriority
    """,
)
def q_mad_outliers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Robust outlier detection: per-group median absolute deviation,
    flagging orders with |price - median| > 3 x MAD — the
    outlier-resistant alternative to z-scores (one whale moves a mean
    and stddev arbitrarily; it moves a median by one rank), the
    standard quality gate for skewed pipeline data.

    EXACT across engines by multiplying through the two interpolation
    halvings: the median of EVEN integers (cents x 2) interpolates to
    an INTEGER midpoint (med2 = 2 x median), deviations 2|c - med| are
    integers, and the same trick yields mad4 = 4 x MAD; the flag
    compares 2 x dev2 > 3 x mad4 in pure BIGINTs — no float ever
    carries a non-representable value (Spark `percentile` and DuckDB
    `quantile_cont` share the (n-1)p rule, `percentiles` precedent).

    Scale: two grouped exact medians (per-group sort cost — the 100 TB
    path swaps in a bounded-shuffle median, realized as the oracled
    histogram_median operator below, or approx_percentile's sketch;
    same join-back shape either way) plus
    BROADCAST joins of one-row-per-group scalars back onto the fact;
    the fact table shuffles on the group key once per median pass.
    The dev projection is deliberately NOT materialized, so Catalyst
    re-derives it under the mad branch (one extra fact scan + a reused
    broadcast — cheaper than persisting the fact at scan-bound scale;
    checkpoint dev instead if the cents projection is compute-bound)."""
    return mad_outliers_df(spark, sf_dir)


def mad_outliers_df(
    spark: SparkSession, sf_dir: str, materialize_dev: bool = False
) -> DataFrame:
    """q_mad_outliers' body with the re-derivation knob exposed for
    tools/scale_probe.py: the shipped path (False) lets Catalyst
    re-derive the unmaterialized dev subtree under the mad branch (one
    extra fact scan, reused broadcast); True localCheckpoints dev so
    both branches read the materialized rows — the crossover the
    docstring reasons about, now measured instead of argued."""
    cents = load_table(spark, sf_dir, "orders").select(
        "o_orderpriority",
        F.floor(F.col("o_totalprice") * 100 + 0.5).cast("bigint").alias("c"),
    )
    med = cents.groupBy("o_orderpriority").agg(
        F.expr("CAST(percentile(c * 2, 0.5) AS BIGINT)").alias("med2")
    )
    dev = cents.join(F.broadcast(med), "o_orderpriority").withColumn(
        "dev2", F.abs(2 * F.col("c") - F.col("med2"))
    )
    if materialize_dev:
        dev = dev.localCheckpoint()
    mad = dev.groupBy("o_orderpriority").agg(
        F.expr("CAST(percentile(dev2 * 2, 0.5) AS BIGINT)").alias("mad4")
    )
    return (
        dev.join(F.broadcast(mad), "o_orderpriority")
        .groupBy("o_orderpriority")
        .agg(
            F.count(F.lit(1)).alias("n_orders"),
            F.sum(
                F.when(2 * F.col("dev2") > 3 * F.col("mad4"), 1).otherwise(0)
            )
            .cast("bigint")
            .alias("n_outliers"),
            F.min("med2").alias("med2"),
            F.min("mad4").alias("mad4"),
        )
    )


@query(
    "null_safe_join",
    oracle="""
    WITH l AS (
      SELECT CASE WHEN o_custkey % 11 = 0 THEN NULL
                  ELSE o_custkey % 100 END AS k,
             CAST(floor(o_totalprice * 100 + 0.5) AS BIGINT) AS cents
      FROM orders
    ),
    r AS (
      SELECT CASE WHEN c_custkey % 13 = 0 THEN NULL
                  ELSE c_custkey % 100 END AS k,
             COUNT(*) AS n_cust
      FROM customer
      GROUP BY 1
    )
    SELECT l.k AS k, COUNT(*) AS n_orders,
           CAST(SUM(l.cents) AS BIGINT) AS sum_cents,
           MIN(r.n_cust) AS n_cust
    FROM l JOIN r ON l.k IS NOT DISTINCT FROM r.k
    GROUP BY l.k
    """,
)
def q_null_safe_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """NULL-SAFE equality join (Spark `<=>` / standard IS NOT DISTINCT
    FROM): NULL keys MATCH each other instead of dropping — the
    semantics a pipeline needs when NULL is a legitimate key value
    (unknown-source bucket, catch-all partition) rather than absence.
    Plain `=` silently drops every NULL pair (fuzzed as nullkeyjoin);
    this registers the complementary operator.  Both sides derive a
    deterministically-NULL key (every 11th order, every 13th
    customer), and the dim side is PRE-AGGREGATED to one row per key
    so the NULL-key match stays 1:N, never a NULL x NULL blowup —
    the same pre-aggregate-then-join discipline as funnel.

    Scale: EqualNullSafe is a hash-join key in Spark (the plan gate
    pins a real hash join, broadcast or shuffled — never
    BroadcastNestedLoopJoin, which is what you get if the null-safe
    condition degrades to a residual filter); one shuffle on the
    derived key at most."""
    orders = load_table(spark, sf_dir, "orders").select(
        F.when(F.col("o_custkey") % 11 == 0, None)
        .otherwise(F.col("o_custkey") % 100)
        .alias("k"),
        F.floor(F.col("o_totalprice") * 100 + 0.5)
        .cast("bigint")
        .alias("cents"),
    )
    cust = (
        load_table(spark, sf_dir, "customer")
        .select(
            F.when(F.col("c_custkey") % 13 == 0, None)
            .otherwise(F.col("c_custkey") % 100)
            .alias("k")
        )
        .groupBy("k")
        .agg(F.count(F.lit(1)).alias("n_cust"))
    )
    return (
        orders.join(
            F.broadcast(cust), orders["k"].eqNullSafe(cust["k"]), "inner"
        )
        .select(orders["k"].alias("k"), "cents", "n_cust")
        .groupBy("k")
        .agg(
            F.count(F.lit(1)).alias("n_orders"),
            F.sum("cents").cast("bigint").alias("sum_cents"),
            F.min("n_cust").alias("n_cust"),
        )
    )


@query(
    "topk_cumshare",
    oracle="""
    WITH ranked AS (
      -- window SUM(BIGINT) is HUGEINT in DuckDB (float64 through the
      -- pandas view) — CAST both, per the pinned house rule
      SELECT c_mktsegment,
             CAST(floor(c_acctbal * 100 + 0.5) AS BIGINT) AS cents,
             CAST(SUM(CAST(floor(c_acctbal * 100 + 0.5) AS BIGINT))
               OVER (PARTITION BY c_mktsegment
                     ORDER BY CAST(floor(c_acctbal * 100 + 0.5) AS BIGINT)
                              DESC, c_custkey
                     ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
               AS BIGINT) AS run_sum,
             CAST(SUM(CAST(floor(c_acctbal * 100 + 0.5) AS BIGINT))
               OVER (PARTITION BY c_mktsegment) AS BIGINT) AS total
      FROM customer
    )
    SELECT c_mktsegment,
           COUNT(*) AS n_kept,
           CAST(SUM(cents) AS BIGINT) AS kept_cents,
           MIN(total) AS total_cents
    FROM ranked
    WHERE (run_sum - cents) * 5 < total * 4
    GROUP BY c_mktsegment
    """,
)
def q_topk_cumshare(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cumulative-share head selection (the Pareto 80/20 cut): per
    segment, the SMALLEST prefix of customers — richest first under
    the house total order — whose balance sum reaches 80% of the
    segment total; i.e. keep a row iff the coverage BEFORE it is
    still under 80%.  The training-data twin is "the smallest set of
    documents covering 80% of corpus tokens"; unlike a fixed top-k,
    the cut adapts to each group's concentration.

    Exact: the 80% test multiplies through ((run - c) * 5 < total * 4
    in BIGINT cents) so no engine ever divides; the running sum is
    frame-exact under the (cents DESC, custkey) total order.  Negative
    balances make the prefix sum non-monotone in places — the rule
    stays deterministic and identical on both engines because it
    tests the PREFIX-BEFORE sum, not a monotone threshold crossing.

    Scale: one exchange on the segment key serves the running-sum
    window, the per-group total (window aggregate over the same
    partitioning), and the final aggregation — plan-gated ==1
    Exchange like ntile_deciles."""
    from pyspark.sql import Window as W

    cust = load_table(spark, sf_dir, "customer").select(
        "c_mktsegment",
        "c_custkey",
        F.floor(F.col("c_acctbal") * 100 + 0.5).cast("bigint").alias("cents"),
    )
    w_run = (
        W.partitionBy("c_mktsegment")
        .orderBy(F.col("cents").desc(), F.col("c_custkey"))
        .rowsBetween(W.unboundedPreceding, W.currentRow)
    )
    w_all = W.partitionBy("c_mktsegment")
    ranked = cust.select(
        "c_mktsegment",
        "cents",
        F.sum("cents").over(w_run).alias("run_sum"),
        F.sum("cents").over(w_all).alias("total"),
    )
    return (
        ranked.where(
            (F.col("run_sum") - F.col("cents")) * 5 < F.col("total") * 4
        )
        .groupBy("c_mktsegment")
        .agg(
            F.count(F.lit(1)).alias("n_kept"),
            F.sum("cents").cast("bigint").alias("kept_cents"),
            F.min("total").alias("total_cents"),
        )
    )


_HIST_BUCKET_CENTS = 200_000  # $2,000-wide buckets over o_totalprice


@query(
    "histogram_median",
    oracle="""
    WITH c0 AS (
      SELECT o_orderpriority,
             CAST(floor(o_totalprice * 100 + 0.5) AS BIGINT) AS c
      FROM orders
    ),
    h AS (
      -- FLOOR-division bucketing (r14 ADVICE): subtract the
      -- positive-mod remainder first so the numerator is an exact
      -- multiple of the width — truncating division (// here, DIV in
      -- Spark) then equals floor on ANY sign, and the
      -- [b*W, (b+1)*W - 1] bracket contract holds on negative domains
      SELECT o_orderpriority,
             (c - (((c % 200000) + 200000) % 200000)) // 200000 AS b,
             COUNT(*) AS cnt
      FROM c0
      GROUP BY 1, 2
    ),
    cum AS (
      SELECT o_orderpriority, b, cnt,
             CAST(SUM(cnt) OVER (PARTITION BY o_orderpriority ORDER BY b ASC
                   ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
                  AS BIGINT) AS run,
             CAST(SUM(cnt) OVER (PARTITION BY o_orderpriority)
                  AS BIGINT) AS tot
      FROM h
    )
    SELECT o_orderpriority,
           MIN(tot) AS n_orders,
           MIN(CASE WHEN 2 * run >= tot THEN b END) AS med_bucket,
           MIN(CASE WHEN 2 * run >= tot THEN b END) * 200000 AS med_lo_cents,
           (MIN(CASE WHEN 2 * run >= tot THEN b END) + 1) * 200000 - 1
             AS med_hi_cents
    FROM cum
    GROUP BY o_orderpriority
    """,
)
def q_histogram_median(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Grouped approximate median via FIXED-BUCKET histogram — the
    100 TB path mad_outliers' docstring promises, now a real oracled
    operator: where the exact per-group median pays a full fact
    shuffle + per-group sort, this collapses the fact into a bounded
    (group, bucket) histogram FIRST, so the only fact-scale work is a
    map-side-combinable count.

    Semantics (deterministic, engine-exact): bucket = FLOOR(cents /
    200000) ($2,000 buckets), spelled as exact-integer arithmetic —
    subtract the positive-mod remainder, then truncating division
    (Spark DIV, DuckDB //) of the now-exact multiple equals floor on
    ANY sign (r14 ADVICE: plain trunc-div buckets made the reported
    [med_lo_cents, med_hi_cents] bracket miss a negative bucket's
    elements; with floor buckets the bracket contract holds on every
    domain, forced in the differential).  The median bucket is the
    smallest b whose cumulative count reaches half the group
    (2*run >= tot in BIGINTs — the bucket CONTAINING the lower-median
    element, so the exact median lies inside the bracket by
    construction; asserted against a pure-Python exact median in the
    differential).  The driver fixtures are all-positive (attested),
    where floor and the previous trunc bucketing coincide.

    Scale: exchange 1 is the (group, bucket) count — partial
    aggregation combines map-side, so the shuffle carries at most
    groups x buckets rows no matter the fact size (~250 buckets/group
    here).  Exchange 2 re-keys that bounded histogram by group for the
    cumulative window, and the final per-group aggregation reuses the
    window's partitioning (plan-gated ==2 Exchanges).  At 100 TB the
    second exchange moves kilobytes; the exact-median alternative
    moves the fact table."""
    cents = load_table(spark, sf_dir, "orders").select(
        "o_orderpriority",
        F.floor(F.col("o_totalprice") * 100 + 0.5).cast("bigint").alias("c"),
    )
    W = _HIST_BUCKET_CENTS
    h = cents.groupBy(
        "o_orderpriority",
        F.expr(f"(c - (((c % {W}) + {W}) % {W})) DIV {W}").alias("b"),
    ).agg(F.count(F.lit(1)).alias("cnt"))
    w_run = (
        Window.partitionBy("o_orderpriority")
        .orderBy("b")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    w_all = Window.partitionBy("o_orderpriority")
    cum = h.select(
        "o_orderpriority",
        "b",
        F.sum("cnt").over(w_run).alias("run"),
        F.sum("cnt").over(w_all).alias("tot"),
    )
    med = cum.groupBy("o_orderpriority").agg(
        F.min("tot").alias("n_orders"),
        F.min(F.when(2 * F.col("run") >= F.col("tot"), F.col("b"))).alias(
            "med_bucket"
        ),
    )
    return med.select(
        "o_orderpriority",
        "n_orders",
        "med_bucket",
        (F.col("med_bucket") * _HIST_BUCKET_CENTS).alias("med_lo_cents"),
        ((F.col("med_bucket") + 1) * _HIST_BUCKET_CENTS - 1).alias(
            "med_hi_cents"
        ),
    )


_PCTL_BUCKET_CENTS = 100_000  # $1,000-wide buckets over l_extendedprice


@query(
    "histogram_percentile",
    oracle="""
    WITH c0 AS (
      SELECT l_returnflag,
             CAST(floor(l_extendedprice * 100 + 0.5) AS BIGINT) AS c
      FROM lineitem
    ),
    h AS (
      -- FLOOR-division buckets (the histogram_median spelling): the
      -- positive-mod subtraction makes the numerator an exact
      -- multiple, so truncating // equals floor on any sign
      SELECT l_returnflag,
             (c - (((c % 100000) + 100000) % 100000)) // 100000 AS b,
             COUNT(*) AS cnt
      FROM c0
      GROUP BY 1, 2
    ),
    cum AS (
      SELECT l_returnflag, b, cnt,
             CAST(SUM(cnt) OVER (PARTITION BY l_returnflag ORDER BY b ASC
                   ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
                  AS BIGINT) AS run,
             CAST(SUM(cnt) OVER (PARTITION BY l_returnflag)
                  AS BIGINT) AS tot
      FROM h
    )
    SELECT l_returnflag,
           MIN(tot) AS n_items,
           MIN(CASE WHEN 4 * run >= tot THEN b END) AS p25_bucket,
           MIN(CASE WHEN 2 * run >= tot THEN b END) AS p50_bucket,
           MIN(CASE WHEN 4 * run >= 3 * tot THEN b END) AS p75_bucket,
           MIN(CASE WHEN 4 * run >= tot THEN b END) * 100000
             AS p25_lo_cents,
           (MIN(CASE WHEN 4 * run >= 3 * tot THEN b END) + 1) * 100000 - 1
             AS p75_hi_cents
    FROM cum
    GROUP BY l_returnflag
    """,
)
def q_histogram_percentile(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Grouped p25/p50/p75 via the SAME bounded (group, bucket)
    histogram as histogram_median — the full quartile/IQR sketch at a
    single fact-scale map-side-combinable count (the r14 verdict's
    suggested generalization; one histogram serves all three
    percentiles, where three exact percentile_disc calls would each
    pay a per-group sort of the fact).

    Semantics (deterministic, engine-exact, all BIGINT): bucket =
    FLOOR(cents / 100000), spelled positive-mod-then-truncating-DIV on
    both engines (exact on any sign — the histogram_median r14-ADVICE
    discipline); the pX bucket is the smallest b whose cumulative
    count reaches fraction X of the group, tested as an integer
    cross-multiplication (4*run >= tot, 2*run >= tot, 4*run >= 3*tot —
    only binary-exact fractions, per the rule-9 discipline, and no
    engine ever divides or interpolates).  The pX bucket CONTAINS the
    percentile_disc(X) element (rank ceil(X*n)) by construction, so
    [p25_lo_cents, p75_hi_cents] brackets the true interquartile range
    to one bucket width per side — asserted against a pure-Python
    exact replay in the differential, including negative domains.

    Scale: identical shape to histogram_median — exchange 1 carries
    the map-side-combined (group, bucket) counts (bounded by groups x
    buckets regardless of fact size), exchange 2 re-keys the bounded
    histogram by group for the cumulative window, and the final
    aggregation reuses that partitioning (plan-gated ==2 Exchanges).
    Reference parity: the reference's aggregate kernel computes only
    SUM (host/aggr/aggr_native.cc:67-73); this is the
    partial->final pattern applied to a distribution sketch."""
    W = _PCTL_BUCKET_CENTS
    cents = load_table(spark, sf_dir, "lineitem").select(
        "l_returnflag",
        F.floor(F.col("l_extendedprice") * 100 + 0.5)
        .cast("bigint")
        .alias("c"),
    )
    h = cents.groupBy(
        "l_returnflag",
        F.expr(f"(c - (((c % {W}) + {W}) % {W})) DIV {W}").alias("b"),
    ).agg(F.count(F.lit(1)).alias("cnt"))
    w_run = (
        Window.partitionBy("l_returnflag")
        .orderBy("b")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    w_all = Window.partitionBy("l_returnflag")
    cum = h.select(
        "l_returnflag",
        "b",
        F.sum("cnt").over(w_run).alias("run"),
        F.sum("cnt").over(w_all).alias("tot"),
    )
    run, tot, b = F.col("run"), F.col("tot"), F.col("b")
    pct = cum.groupBy("l_returnflag").agg(
        F.min(tot).alias("n_items"),
        F.min(F.when(4 * run >= tot, b)).alias("p25_bucket"),
        F.min(F.when(2 * run >= tot, b)).alias("p50_bucket"),
        F.min(F.when(4 * run >= 3 * tot, b)).alias("p75_bucket"),
    )
    return pct.select(
        "l_returnflag",
        "n_items",
        "p25_bucket",
        "p50_bucket",
        "p75_bucket",
        (F.col("p25_bucket") * W).alias("p25_lo_cents"),
        ((F.col("p75_bucket") + 1) * W - 1).alias("p75_hi_cents"),
    )


@query(
    "exact_median_refine",
    oracle="""
    SELECT o_orderpriority,
           COUNT(*) AS n_orders,
           CAST(median(CAST(floor(o_totalprice * 100 + 0.5) AS BIGINT) * 2)
                AS BIGINT) AS med2_cents
    FROM orders
    GROUP BY o_orderpriority
    """,
)
def q_exact_median_refine(spark: SparkSession, sf_dir: str) -> DataFrame:
    """EXACT grouped median in two bounded-shuffle passes — the
    refinement path histogram_median's bracket points at, now a real
    operator that matches the engines' own median() bit-for-bit
    (med2 = both middle elements' sum, the even-trick integer):

    Pass 1 (the histogram_median machinery): bounded (group, bucket)
    counts -> cumulative window -> for the two middle ranks
    k1 = (n+1) DIV 2 and k2 = n DIV 2 + 1, the TARGET buckets
    b1/b2 (smallest bucket whose cumulative count reaches each rank)
    and the count of elements BEFORE each (run_before is monotone in
    b within a group, so MIN(CASE WHEN run >= k THEN run_before END)
    fetches the right one without a struct-min — min(struct) would
    plan a SortAggregate, the pinned hard-won note).

    Pass 2: re-scan the fact, broadcast-join the one-row-per-group
    targets, keep ONLY rows whose bucket is b1 or b2 (per group —
    everything else is pruned before any shuffle), rank within
    (group, bucket) by value, and pick the (k - run_before)-th
    element of each target bucket.  Ties are safe: row_number among
    equal values is arbitrary but the VALUE at a fixed position in a
    sorted multiset is deterministic.  For odd groups b1==b2 and
    o1==o2 — the single middle row contributes to BOTH sums, giving
    med2 = 2*c exactly as DuckDB's median interpolation does.

    Scale: the exact alternative shuffles and sorts the whole fact
    per group; this shuffles (a) bounded histogram counts and (b)
    ONLY the two target buckets' rows (~2/n_buckets of the fact,
    here ~1%), at the price of a second scan — the classic
    scan-cheap/shuffle-expensive trade at 100 TB.  Plan-gated: the
    pass-2 join must be a BroadcastHashJoin (never a shuffled join)
    and partial counts must precede the first fact-scale exchange.

    Reference parity: SURVEY.md section 2.4's partial->final SUM
    discipline (host/aggr/aggr_native.cc:67-73) applied twice —
    first to counts, then to a rank-pruned exact selection."""
    W = _HIST_BUCKET_CENTS
    cents = load_table(spark, sf_dir, "orders").select(
        "o_orderpriority",
        F.floor(F.col("o_totalprice") * 100 + 0.5).cast("bigint").alias("c"),
    )
    bucket = f"(c - (((c % {W}) + {W}) % {W})) DIV {W}"
    h = cents.groupBy(
        "o_orderpriority", F.expr(bucket).alias("b")
    ).agg(F.count(F.lit(1)).alias("cnt"))
    w_run = (
        Window.partitionBy("o_orderpriority")
        .orderBy("b")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    w_all = Window.partitionBy("o_orderpriority")
    cum = h.select(
        "o_orderpriority",
        "b",
        F.sum("cnt").over(w_run).alias("run"),
        (F.sum("cnt").over(w_run) - F.col("cnt")).alias("run_before"),
        F.sum("cnt").over(w_all).alias("tot"),
    ).select(
        "*",
        F.expr("(tot + 1) DIV 2").alias("k1"),
        F.expr("tot DIV 2 + 1").alias("k2"),
    )
    run, b, rb = F.col("run"), F.col("b"), F.col("run_before")
    targets = cum.groupBy("o_orderpriority").agg(
        F.min("tot").alias("n_orders"),
        F.min("k1").alias("k1"),
        F.min("k2").alias("k2"),
        F.min(F.when(run >= F.col("k1"), b)).alias("b1"),
        F.min(F.when(run >= F.col("k1"), rb)).alias("rb1"),
        F.min(F.when(run >= F.col("k2"), b)).alias("b2"),
        F.min(F.when(run >= F.col("k2"), rb)).alias("rb2"),
    )
    fact = cents.select(
        "o_orderpriority", "c", F.expr(bucket).alias("cb")
    )
    pruned = fact.join(
        F.broadcast(targets), "o_orderpriority", "inner"
    ).where((F.col("cb") == F.col("b1")) | (F.col("cb") == F.col("b2")))
    w_rank = Window.partitionBy("o_orderpriority", "cb").orderBy("c")
    ranked = pruned.select(
        "*", F.row_number().over(w_rank).alias("rn")
    )
    lower_hit = (F.col("cb") == F.col("b1")) & (
        F.col("rn") == F.col("k1") - F.col("rb1")
    )
    upper_hit = (F.col("cb") == F.col("b2")) & (
        F.col("rn") == F.col("k2") - F.col("rb2")
    )
    return ranked.groupBy("o_orderpriority").agg(
        F.min("n_orders").alias("n_orders"),
        (
            F.sum(F.when(lower_hit, F.col("c")).otherwise(F.lit(0)))
            + F.sum(F.when(upper_hit, F.col("c")).otherwise(F.lit(0)))
        )
        .cast("bigint")
        .alias("med2_cents"),
    )


@query(
    "weighted_median",
    oracle="""
    WITH c0 AS (
      SELECT l_linestatus,
             CAST(floor(l_extendedprice * 100 + 0.5) AS BIGINT) AS c,
             CAST(floor(l_quantity + 0.5) AS BIGINT) AS w
      FROM lineitem
    ),
    h AS (
      -- FLOOR-division buckets (the histogram_median spelling), but
      -- the histogram accumulates WEIGHT, not count
      SELECT l_linestatus,
             (c - (((c % 100000) + 100000) % 100000)) // 100000 AS b,
             CAST(SUM(w) AS BIGINT) AS wsum,
             COUNT(*) AS n
      FROM c0
      GROUP BY 1, 2
    ),
    cum AS (
      SELECT l_linestatus, b,
             CAST(SUM(wsum) OVER (PARTITION BY l_linestatus ORDER BY b ASC
                   ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
                  AS BIGINT) AS runw,
             CAST(SUM(wsum) OVER (PARTITION BY l_linestatus)
                  AS BIGINT) AS totw,
             CAST(SUM(n) OVER (PARTITION BY l_linestatus)
                  AS BIGINT) AS n_items
      FROM h
    )
    SELECT l_linestatus,
           MIN(n_items) AS n_items,
           MIN(totw) AS total_units,
           MIN(CASE WHEN 2 * runw >= totw THEN b END) AS wmed_bucket,
           MIN(CASE WHEN 2 * runw >= totw THEN b END) * 100000
             AS wmed_lo_cents,
           (MIN(CASE WHEN 2 * runw >= totw THEN b END) + 1) * 100000 - 1
             AS wmed_hi_cents
    FROM cum
    GROUP BY l_linestatus
    """,
)
def q_weighted_median(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Grouped WEIGHTED median — per line status, the price at which
    half the shipped UNITS (not half the line items) are cheaper: the
    weighted-quantile class (the training-data twin is the
    token-weighted median document length, where long documents count
    by their token mass).  Same bounded (group, bucket) histogram as
    histogram_median/histogram_percentile, but the histogram
    accumulates integer WEIGHT (l_quantity units) instead of row
    counts.

    Semantics (deterministic, engine-exact, all BIGINT): bucket =
    FLOOR(cents / 100000) via the positive-mod-then-truncating-DIV
    spelling (sign-exact); the weighted-median bucket is the smallest
    b whose cumulative unit weight reaches half the group's total
    (2*runw >= totw in BIGINTs — the bucket CONTAINING the smallest
    value v with 2*cumweight(v) >= totw, i.e. the weighted
    lower-median element, so it lies inside [wmed_lo_cents,
    wmed_hi_cents] by construction; asserted against a pure-Python
    exact weighted median in the differential).  Weights are exact
    integers (l_quantity is integral; floor(q + 0.5) pins the double
    representation).

    Scale: identical to the unweighted histogram — exchange 1 carries
    map-side partial-combined (group, bucket) weight sums (bounded by
    groups x buckets regardless of fact size), exchange 2 re-keys the
    bounded histogram for the cumulative window (plan-gated ==2
    Exchanges).  A per-group exact weighted median would instead sort
    the full fact per group — there is no built-in weighted
    percentile in either engine, so the histogram is not just the
    cheap path but the only bounded-shuffle one."""
    W = _PCTL_BUCKET_CENTS
    rows = load_table(spark, sf_dir, "lineitem").select(
        "l_linestatus",
        F.floor(F.col("l_extendedprice") * 100 + 0.5)
        .cast("bigint")
        .alias("c"),
        F.floor(F.col("l_quantity") + 0.5).cast("bigint").alias("w"),
    )
    h = rows.groupBy(
        "l_linestatus",
        F.expr(f"(c - (((c % {W}) + {W}) % {W})) DIV {W}").alias("b"),
    ).agg(
        F.sum("w").cast("bigint").alias("wsum"),
        F.count(F.lit(1)).alias("n"),
    )
    w_run = (
        Window.partitionBy("l_linestatus")
        .orderBy("b")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    w_all = Window.partitionBy("l_linestatus")
    cum = h.select(
        "l_linestatus",
        "b",
        F.sum("wsum").over(w_run).alias("runw"),
        F.sum("wsum").over(w_all).alias("totw"),
        F.sum("n").over(w_all).alias("n_items"),
    )
    med = cum.groupBy("l_linestatus").agg(
        F.min("n_items").alias("n_items"),
        F.min("totw").alias("total_units"),
        F.min(
            F.when(2 * F.col("runw") >= F.col("totw"), F.col("b"))
        ).alias("wmed_bucket"),
    )
    return med.select(
        "l_linestatus",
        "n_items",
        "total_units",
        "wmed_bucket",
        (F.col("wmed_bucket") * W).alias("wmed_lo_cents"),
        ((F.col("wmed_bucket") + 1) * W - 1).alias("wmed_hi_cents"),
    )


@query(
    "exact_quartiles_refine",
    oracle="""
    WITH c0 AS (
      SELECT o_orderpriority,
             CAST(floor(o_totalprice * 100 + 0.5) AS BIGINT) AS c
      FROM orders
    ),
    q AS (
      SELECT o_orderpriority,
             COUNT(*) AS n_orders,
             CAST(percentile_disc(0.25) WITHIN GROUP (ORDER BY c)
                  AS BIGINT) AS q25_cents,
             CAST(percentile_disc(0.75) WITHIN GROUP (ORDER BY c)
                  AS BIGINT) AS q75_cents
      FROM c0
      GROUP BY o_orderpriority
    )
    SELECT o_orderpriority, n_orders, q25_cents, q75_cents,
           q75_cents - q25_cents AS iqr_cents
    FROM q
    """,
)
def q_exact_quartiles_refine(spark: SparkSession, sf_dir: str) -> DataFrame:
    """EXACT grouped p25/p75 (percentile_disc semantics: the element
    at 1-based rank ceil(p*n) of the sorted multiset) in two
    bounded-shuffle passes — the exact_median_refine machinery
    generalized from the two middle ranks to ARBITRARY order
    statistics, closing the loop histogram_percentile's bracket
    points at: the histogram names the quartile buckets, the refine
    pass fetches the exact elements inside them.

    Ranks in exact integer arithmetic: k25 = ceil(n/4) = (n+3) DIV 4,
    k75 = ceil(3n/4) = (3n+3) DIV 4 — percentile_disc never
    interpolates, so unlike median there is no multiply-through or
    even/odd split; the answer IS a member of the multiset (which is
    why the rule-9 lint sanctions bare CAST(percentile_disc(..))).

    Pass 1 (bounded): (group, bucket) counts -> cumulative window ->
    per rank k the target bucket (smallest b with run >= k) and
    run_before, fetched via MIN(CASE WHEN run >= k ..) on the
    monotone run — never min(struct) (SortAggregate trap).  Pass 2:
    re-scan, broadcast-join the one-row-per-group targets, prune to
    the <=2 target buckets BEFORE any shuffle, rank within (group,
    bucket) by value, and keep the (k - run_before)-th element of
    each target bucket (ties: row_number among equal values is
    arbitrary but the VALUE at a fixed rank of a sorted multiset is
    deterministic).  When both quartiles land in ONE bucket the two
    hit-predicates select two (or, with k25==k75, one) rows of the
    same bucket — MIN over the when-guarded column is exact either
    way.

    Scale: identical contract to exact_median_refine — the only
    fact-scale exchange-free work is the map-side-combined histogram
    and the ~2/n_buckets pruned slice; plan-gated ==4 Exchanges, the
    pass-2 join a BroadcastHashJoin, both scans pruned to 2 columns.
    Reference parity: the partial->final discipline of
    host/aggr/aggr_native.cc:67-73 applied to rank selection."""
    W = _HIST_BUCKET_CENTS
    cents = load_table(spark, sf_dir, "orders").select(
        "o_orderpriority",
        F.floor(F.col("o_totalprice") * 100 + 0.5).cast("bigint").alias("c"),
    )
    bucket = f"(c - (((c % {W}) + {W}) % {W})) DIV {W}"
    h = cents.groupBy(
        "o_orderpriority", F.expr(bucket).alias("b")
    ).agg(F.count(F.lit(1)).alias("cnt"))
    w_run = (
        Window.partitionBy("o_orderpriority")
        .orderBy("b")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    w_all = Window.partitionBy("o_orderpriority")
    cum = h.select(
        "o_orderpriority",
        "b",
        F.sum("cnt").over(w_run).alias("run"),
        (F.sum("cnt").over(w_run) - F.col("cnt")).alias("run_before"),
        F.sum("cnt").over(w_all).alias("tot"),
    ).select(
        "*",
        F.expr("(tot + 3) DIV 4").alias("k25"),
        F.expr("(3 * tot + 3) DIV 4").alias("k75"),
    )
    run, b, rb = F.col("run"), F.col("b"), F.col("run_before")
    targets = cum.groupBy("o_orderpriority").agg(
        F.min("tot").alias("n_orders"),
        F.min("k25").alias("k25"),
        F.min("k75").alias("k75"),
        F.min(F.when(run >= F.col("k25"), b)).alias("b25"),
        F.min(F.when(run >= F.col("k25"), rb)).alias("rb25"),
        F.min(F.when(run >= F.col("k75"), b)).alias("b75"),
        F.min(F.when(run >= F.col("k75"), rb)).alias("rb75"),
    )
    fact = cents.select(
        "o_orderpriority", "c", F.expr(bucket).alias("cb")
    )
    pruned = fact.join(
        F.broadcast(targets), "o_orderpriority", "inner"
    ).where((F.col("cb") == F.col("b25")) | (F.col("cb") == F.col("b75")))
    w_rank = Window.partitionBy("o_orderpriority", "cb").orderBy("c")
    ranked = pruned.select(
        "*", F.row_number().over(w_rank).alias("rn")
    )
    hit25 = (F.col("cb") == F.col("b25")) & (
        F.col("rn") == F.col("k25") - F.col("rb25")
    )
    hit75 = (F.col("cb") == F.col("b75")) & (
        F.col("rn") == F.col("k75") - F.col("rb75")
    )
    out = ranked.groupBy("o_orderpriority").agg(
        F.min("n_orders").alias("n_orders"),
        F.min(F.when(hit25, F.col("c"))).alias("q25_cents"),
        F.min(F.when(hit75, F.col("c"))).alias("q75_cents"),
    )
    return out.select(
        "o_orderpriority",
        "n_orders",
        "q25_cents",
        "q75_cents",
        (F.col("q75_cents") - F.col("q25_cents")).alias("iqr_cents"),
    )


@query(
    "group_mode",
    oracle="""
    WITH c AS (
      SELECT source, lang, COUNT(*) AS cnt
      FROM documents
      WHERE lang IS NOT NULL
      GROUP BY source, lang
    ),
    r AS (
      SELECT source, lang, cnt,
             ROW_NUMBER() OVER (PARTITION BY source
                                ORDER BY cnt DESC, lang ASC) AS rn,
             CAST(SUM(cnt) OVER (PARTITION BY source) AS BIGINT) AS tot
      FROM c
    )
    SELECT source, tot AS n_docs, lang AS mode_lang, cnt AS mode_cnt,
           (1000000 * cnt) // tot AS mode_share_ppm
    FROM r
    WHERE rn = 1
    """,
)
def q_group_mode(spark: SparkSession, sf_dir: str) -> DataFrame:
    """EXACT grouped MODE (most frequent value) with a fully
    deterministic tie-break — the dominant language per document
    source (the training-data use: routing a source to its majority
    language before per-language sampling, cf. weighted_sample /
    corpus_mix).  Neither engine's built-in mode() specifies a
    tie-break, so BOTH sides spell the selection as a window rank
    over (count DESC, value ASC) — ties go to the lexicographically
    smallest value, pinned by the forced-tie differential.

    Semantics: NULL langs are excluded on both sides (a NULL sort key
    would hit the NULLS FIRST/LAST seam — oracle_lint rule 1 — and a
    NULL "mode" is meaningless for routing); share is integer ppm via
    truncating division of non-negative BIGINTs (floor-equal, the
    sanctioned `//`/DIV regime).

    Scale: exchange 1 carries map-side partial-combined (source,
    lang) counts — bounded by sources x languages regardless of
    corpus size; exchange 2 re-keys that bounded table on source for
    the rank + total windows (one sort serves the rank; the total is
    partition-only).  Plan-gated ==2 Exchanges, scan pruned to
    (source, lang) — document text never leaves parquet.  The exact
    alternative (per-group sort of the fact by frequency) is
    precisely what the bounded histogram family avoids."""
    docs = load_table(spark, sf_dir, "documents").where(
        F.col("lang").isNotNull()
    ).select("source", "lang")
    counts = docs.groupBy("source", "lang").agg(
        F.count(F.lit(1)).alias("cnt")
    )
    w_rank = Window.partitionBy("source").orderBy(
        F.col("cnt").desc(), F.col("lang").asc()
    )
    w_all = Window.partitionBy("source")
    ranked = counts.select(
        "source",
        "lang",
        "cnt",
        F.row_number().over(w_rank).alias("rn"),
        F.sum("cnt").over(w_all).alias("tot"),
    )
    return ranked.where(F.col("rn") == 1).select(
        "source",
        F.col("tot").alias("n_docs"),
        F.col("lang").alias("mode_lang"),
        F.col("cnt").alias("mode_cnt"),
        F.expr("(1000000 * cnt) DIV tot").alias("mode_share_ppm"),
    )


@query(
    "exact_weighted_median",
    oracle="""
    WITH c0 AS (
      SELECT l_linestatus,
             CAST(floor(l_extendedprice * 100 + 0.5) AS BIGINT) AS c,
             CAST(floor(l_quantity + 0.5) AS BIGINT) AS w
      FROM lineitem
    ),
    -- the oracle may afford the full per-group sort the operator
    -- exists to avoid: per-VALUE weight totals, then the global
    -- cumulative walk
    v AS (
      SELECT l_linestatus, c, CAST(SUM(w) AS BIGINT) AS vw,
             COUNT(*) AS n
      FROM c0 GROUP BY 1, 2
    ),
    s AS (
      SELECT l_linestatus, c,
             CAST(SUM(vw) OVER (PARTITION BY l_linestatus ORDER BY c ASC
                   ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
                  AS BIGINT) AS cum,
             CAST(SUM(vw) OVER (PARTITION BY l_linestatus)
                  AS BIGINT) AS totw,
             CAST(SUM(n) OVER (PARTITION BY l_linestatus)
                  AS BIGINT) AS n_items
      FROM v
    )
    SELECT l_linestatus,
           MIN(n_items) AS n_items,
           MIN(totw) AS total_units,
           MIN(CASE WHEN 2 * cum >= totw THEN c END) AS wmed_cents
    FROM s
    GROUP BY l_linestatus
    """,
)
def q_exact_weighted_median(spark: SparkSession, sf_dir: str) -> DataFrame:
    """EXACT grouped WEIGHTED median — the element (not the bucket)
    at which cumulative unit weight first reaches half the group's
    total: weighted percentile_disc(0.5), which neither engine has
    built in.  Completes the quantile family's refine story:
    weighted_median names the bucket, this fetches the exact element
    inside it — the weighted twin of exact_median_refine.

    Semantics (deterministic, engine-exact, all BIGINT): weights are
    exact integers (l_quantity); the answer is the smallest value c
    with 2 * cumweight(<= c) >= total_weight.  Pass 2 walks PER ROW
    in value order — row-level running sums under tied values depend
    on an arbitrary tie order, but the SELECTED VALUE does not: a
    row of value c* crosses the threshold iff the full per-value
    cumulative at c* crosses and no earlier value already did (the
    tie-safety argument in the differential, forced with zero-weight
    and split-tie rows at the crossing point).  Zero weights never
    flip the crossing (they add nothing); an all-zero-weight group
    degenerates to the smallest value on both engines (2*0 >= 0).

    Scale: pass 1 is the weighted_median bounded histogram (fact-
    scale exchange = map-side-combined (group, bucket) weight sums);
    pass 2 re-scans, broadcast-joins the one-row-per-group targets
    (weight_before + total), prunes to the ONE target bucket per
    group BEFORE any shuffle, and needs only a group-keyed exchange
    whose partitioning the final aggregation reuses — ==3 Exchanges
    total, strictly leaner than exact_median_refine's 4 (one rank
    target instead of two, and no (group, bucket) rank re-key).  The
    naive exact alternative sorts the whole fact per group.
    Reference parity: host/aggr/aggr_native.cc:67-73's
    partial->final SUM discipline applied to weight mass."""
    W = _PCTL_BUCKET_CENTS
    rows = load_table(spark, sf_dir, "lineitem").select(
        "l_linestatus",
        F.floor(F.col("l_extendedprice") * 100 + 0.5)
        .cast("bigint")
        .alias("c"),
        F.floor(F.col("l_quantity") + 0.5).cast("bigint").alias("w"),
    )
    bucket = f"(c - (((c % {W}) + {W}) % {W})) DIV {W}"
    h = rows.groupBy(
        "l_linestatus", F.expr(bucket).alias("b")
    ).agg(
        F.sum("w").cast("bigint").alias("wsum"),
        F.count(F.lit(1)).alias("n"),
    )
    w_run = (
        Window.partitionBy("l_linestatus")
        .orderBy("b")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    w_all = Window.partitionBy("l_linestatus")
    cum = h.select(
        "l_linestatus",
        "b",
        F.sum("wsum").over(w_run).alias("runw"),
        (F.sum("wsum").over(w_run) - F.col("wsum")).alias("runw_before"),
        F.sum("wsum").over(w_all).alias("totw"),
        F.sum("n").over(w_all).alias("n_items"),
    )
    runw, b, rb = F.col("runw"), F.col("b"), F.col("runw_before")
    targets = cum.groupBy("l_linestatus").agg(
        F.min("n_items").alias("n_items"),
        F.min("totw").alias("totw"),
        F.min(F.when(2 * runw >= F.col("totw"), b)).alias("tb"),
        F.min(F.when(2 * runw >= F.col("totw"), rb)).alias("wb"),
    )
    fact = rows.select(
        "l_linestatus", "c", "w", F.expr(bucket).alias("cb")
    )
    pruned = fact.join(
        F.broadcast(targets), "l_linestatus", "inner"
    ).where(F.col("cb") == F.col("tb"))
    w_walk = (
        Window.partitionBy("l_linestatus")
        .orderBy("c")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    walked = pruned.select(
        "*", F.sum("w").over(w_walk).alias("cumw")
    )
    hit = 2 * (F.col("wb") + F.col("cumw")) >= F.col("totw")
    return walked.groupBy("l_linestatus").agg(
        F.min("n_items").alias("n_items"),
        F.min("totw").alias("total_units"),
        F.min(F.when(hit, F.col("c"))).alias("wmed_cents"),
    )
