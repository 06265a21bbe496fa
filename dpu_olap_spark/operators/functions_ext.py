"""Extended function coverage: navigation & distribution windows,
IN-subquery, full outer join, array functions, date arithmetic,
union-by-name, and the UDF surfaces (vectorized pandas UDF + SQL UDF).

UDF policy (SURVEY.md section 2.8): built-ins everywhere they can
express the semantics; the UDF demos exist to cover the extension
seam itself and use pure-arithmetic bodies so the DuckDB oracle can
inline the same expression exactly.
"""

from __future__ import annotations

import pandas as pd

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F
from pyspark.sql.functions import pandas_udf

from dpu_olap_spark.functions.numeric import exact_sum
from dpu_olap_spark.registry import query
from dpu_olap_spark.sources.tables import load_table


@query(
    "window_nav",
    oracle="""
    SELECT o_custkey, o_orderkey,
      lag(o_totalprice) OVER w AS prev_price,
      lead(o_totalprice) OVER w AS next_price,
      first_value(o_totalprice) OVER (w ROWS BETWEEN UNBOUNDED PRECEDING
                                      AND CURRENT ROW) AS first_price,
      nth_value(o_totalprice, 2) OVER (w ROWS BETWEEN UNBOUNDED PRECEDING
                                       AND CURRENT ROW) AS second_price
    FROM orders
    WINDOW w AS (PARTITION BY o_custkey ORDER BY o_orderdate ASC, o_orderkey ASC)
    """,
)
def q_window_nav(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Navigation window functions (lag/lead/first/nth) over the
    per-customer order history."""
    o = load_table(spark, sf_dir, "orders")
    w = Window.partitionBy("o_custkey").orderBy(F.col("o_orderdate").asc(), F.col("o_orderkey").asc())
    wf = w.rowsBetween(Window.unboundedPreceding, Window.currentRow)
    return o.select(
        "o_custkey",
        "o_orderkey",
        F.lag("o_totalprice").over(w).alias("prev_price"),
        F.lead("o_totalprice").over(w).alias("next_price"),
        F.first("o_totalprice").over(wf).alias("first_price"),
        F.nth_value("o_totalprice", 2).over(wf).alias("second_price"),
    )


@query(
    "window_dist",
    oracle="""
    SELECT o_orderkey,
      ntile(4) OVER w AS quartile,
      percent_rank() OVER w AS pct_rank,
      cume_dist() OVER w AS cume
    FROM orders
    WINDOW w AS (ORDER BY o_totalprice ASC, o_orderkey ASC)
    """,
)
def q_window_dist(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Distribution window functions over a total order. A global
    (unpartitioned) window is inherently single-task — acceptable for
    ranking reports; at 100 TB the pattern is a two-pass percentile
    (approx quantiles then bucket join), which `percentiles` shows."""
    o = load_table(spark, sf_dir, "orders")
    w = Window.orderBy(F.col("o_totalprice").asc(), F.col("o_orderkey").asc())
    return o.select(
        "o_orderkey",
        F.ntile(4).over(w).alias("quartile"),
        # unrounded: both engines define these as the same integer
        # ratios ((rank-1)/(n-1), rows<=cur/n) over identical frames,
        # so the doubles are bit-identical (r11; see stats_agg)
        F.percent_rank().over(w).alias("pct_rank"),
        F.cume_dist().over(w).alias("cume"),
    )


@query(
    "in_subquery",
    oracle="""
    SELECT o_orderkey, o_custkey, o_totalprice
    FROM orders
    WHERE o_custkey IN (SELECT c_custkey FROM customer WHERE c_acctbal > 5000.0)
      AND o_orderstatus = 'O'
    """,
)
def q_in_subquery(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IN-subquery (planned as a left-semi join)."""
    for t in ("orders", "customer"):
        load_table(spark, sf_dir, t).createOrReplaceTempView(t)
    return spark.sql(
        """
        SELECT o_orderkey, o_custkey, o_totalprice
        FROM orders
        WHERE o_custkey IN (SELECT c_custkey FROM customer WHERE c_acctbal > 5000.0)
          AND o_orderstatus = 'O'
        """
    )


@query(
    "full_outer_join",
    oracle="""
    SELECT c.c_custkey, c.c_name, o.o_orderkey, o.o_totalprice
    FROM customer c
    FULL OUTER JOIN (SELECT * FROM orders WHERE o_totalprice > 400000.0) o
      ON c.c_custkey = o.o_custkey
    """,
)
def q_full_outer_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Full outer join: nulls produced on both sides."""
    c = load_table(spark, sf_dir, "customer")
    o = load_table(spark, sf_dir, "orders").where(F.col("o_totalprice") > 400000.0)
    return c.join(o, c.c_custkey == o.o_custkey, "full_outer").select(
        "c_custkey", "c_name", "o_orderkey", "o_totalprice"
    )


@query(
    "array_funcs",
    oracle="""
    SELECT vec_id,
      len(embedding) AS n_dims,
      CAST(embedding[1] AS DOUBLE) AS first_dim,
      CAST(embedding[64] AS DOUBLE) AS last_dim,
      CAST(list_max(embedding) AS DOUBLE) AS max_dim,
      CAST(list_min(embedding) AS DOUBLE) AS min_dim,
      len(list_filter(embedding, x -> x > 0)) AS n_positive
    FROM embeddings
    """,
)
def q_array_funcs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Array function surface over the embedding column — selection ops
    only (element_at/min/max/filter), so values pass through exactly."""
    e = load_table(spark, sf_dir, "embeddings")
    emb = F.col("embedding")
    return e.select(
        "vec_id",
        F.size(emb).alias("n_dims"),
        F.element_at(emb, 1).cast("double").alias("first_dim"),
        F.element_at(emb, 64).cast("double").alias("last_dim"),
        F.array_max(emb).cast("double").alias("max_dim"),
        F.array_min(emb).cast("double").alias("min_dim"),
        F.size(F.filter(emb, lambda x: x > 0)).alias("n_positive"),
    )


@query(
    "date_arith",
    oracle="""
    SELECT o_orderkey,
      CAST(o_orderdate AS DATE) + 30 AS due_date,
      CAST(date_trunc('quarter', o_orderdate) AS TIMESTAMP) AS quarter_start,
      last_day(CAST(o_orderdate AS DATE)) AS month_end,
      CAST(date_diff('day', CAST(o_orderdate AS DATE), DATE '2000-01-01') AS INT)
        AS days_to_y2k,
      CAST(dayofweek(o_orderdate) AS INT) AS dow
    FROM orders
    WHERE o_orderkey % 7 = 0
    """,
)
def q_date_arith(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Date arithmetic: offsets, truncation, month boundaries, diffs.
    (DuckDB dayofweek = Sunday 0; Spark dayofweek = Sunday 1 — aligned
    by subtracting 1.)"""
    o = load_table(spark, sf_dir, "orders").where(F.col("o_orderkey") % 7 == 0)
    d = F.col("o_orderdate")
    return o.select(
        "o_orderkey",
        F.date_add(d.cast("date"), 30).alias("due_date"),
        F.date_trunc("quarter", d).alias("quarter_start"),
        F.last_day(d.cast("date")).alias("month_end"),
        F.datediff(F.lit("2000-01-01").cast("date"), d.cast("date")).alias("days_to_y2k"),
        (F.dayofweek(d) - 1).cast("int").alias("dow"),
    )


@query(
    "union_by_name",
    oracle="""
    SELECT n AS entity_key, kind FROM (
      SELECT c_custkey AS n, 'customer' AS kind FROM customer WHERE c_acctbal > 9000.0
      UNION ALL
      SELECT s_suppkey AS n, 'supplier' AS kind FROM supplier
    )
    """,
)
def q_union_by_name(spark: SparkSession, sf_dir: str) -> DataFrame:
    """unionByName: schema-aligned union regardless of column order."""
    c = load_table(spark, sf_dir, "customer").where(F.col("c_acctbal") > 9000.0).select(
        F.col("c_custkey").alias("entity_key"), F.lit("customer").alias("kind")
    )
    # deliberately reversed column order; unionByName aligns by name
    s = load_table(spark, sf_dir, "supplier").select(
        F.lit("supplier").alias("kind"), F.col("s_suppkey").alias("entity_key")
    )
    return c.unionByName(s)


def _poly_score_udf():
    """Vectorized (Arrow-batched) scalar UDF; pure double arithmetic so
    the oracle can inline the identical expression. Built lazily —
    pandas_udf needs an active session to resolve its return type."""

    @pandas_udf("double")
    def poly_score(x: pd.Series) -> pd.Series:
        return (x * 3.0 + 1.0) / 7.0

    return poly_score


@query(
    "pandas_udf_demo",
    oracle="""
    SELECT o_orderkey, (o_totalprice * 3.0 + 1.0) / 7.0 AS poly_score
    FROM orders WHERE o_orderkey % 5 = 0
    """,
)
def q_pandas_udf_demo(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The vectorized-UDF seam (reference analog: the compile-time
    filter predicate, dpu/shared/kernels/filter.c:25). Arrow batches in
    and out — this is the ONLY sanctioned Python hot path; row-at-a-time
    udf() is banned in this codebase."""
    o = load_table(spark, sf_dir, "orders").where(F.col("o_orderkey") % 5 == 0)
    return o.select(
        "o_orderkey", _poly_score_udf()(F.col("o_totalprice")).alias("poly_score")
    )


@query(
    "sql_udf",
    oracle="""
    SELECT o_orderkey, o_totalprice * 0.9 + 50.0 AS discounted
    FROM orders WHERE o_orderstatus = 'F'
    """,
)
def q_sql_udf(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SQL scalar UDF (CREATE TEMPORARY FUNCTION ... RETURN expr):
    declarative function body, inlined by Catalyst — zero runtime cost,
    the preferred UDF form at scale."""
    load_table(spark, sf_dir, "orders").createOrReplaceTempView("orders")
    spark.sql(
        "CREATE OR REPLACE TEMPORARY FUNCTION apply_discount(p DOUBLE) "
        "RETURNS DOUBLE RETURN p * 0.9 + 50.0"
    )
    return spark.sql(
        """
        SELECT o_orderkey, apply_discount(o_totalprice) AS discounted
        FROM orders WHERE o_orderstatus = 'F'
        """
    )


@query(
    "merge_upsert",
    oracle="""
    WITH updates AS (
      SELECT o_orderkey AS k, o_totalprice + 1000.0 AS price, 'updated' AS src
      FROM orders WHERE o_orderkey % 7 = 0
      UNION ALL
      SELECT o_orderkey + 10000000 AS k, o_totalprice AS price, 'inserted' AS src
      FROM orders WHERE o_orderkey % 97 = 0
    ),
    target AS (
      SELECT o_orderkey AS k, o_totalprice AS price, 'existing' AS src FROM orders
    )
    SELECT
      coalesce(u.k, t.k) AS o_orderkey,
      coalesce(u.price, t.price) AS price,
      coalesce(u.src, t.src) AS row_origin
    FROM target t FULL OUTER JOIN updates u ON t.k = u.k
    """,
)
def q_merge_upsert(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MERGE/upsert semantics (update-matched + insert-new) expressed as
    full-outer join + coalesce — the engine-level algebra under MERGE
    INTO (a lakehouse table format would add transactionality on top;
    the plan is identical). Update rows win; unmatched target rows pass
    through."""
    o = load_table(spark, sf_dir, "orders")
    target = o.select(
        F.col("o_orderkey").alias("k"),
        F.col("o_totalprice").alias("price"),
        F.lit("existing").alias("src"),
    )
    updates = o.where(F.col("o_orderkey") % 7 == 0).select(
        F.col("o_orderkey").alias("uk"),
        (F.col("o_totalprice") + 1000.0).alias("uprice"),
        F.lit("updated").alias("usrc"),
    ).unionAll(
        o.where(F.col("o_orderkey") % 97 == 0).select(
            (F.col("o_orderkey") + 10000000).alias("uk"),
            F.col("o_totalprice").alias("uprice"),
            F.lit("inserted").alias("usrc"),
        )
    )
    merged = target.join(updates, target.k == updates.uk, "full_outer")
    return merged.select(
        F.coalesce(F.col("uk"), F.col("k")).alias("o_orderkey"),
        F.coalesce(F.col("uprice"), F.col("price")).alias("price"),
        F.coalesce(F.col("usrc"), F.col("src")).alias("row_origin"),
    )


@query(
    "interval_arith",
    oracle="""
    SELECT event_id,
      CAST(ts AS TIMESTAMP) + INTERVAL '90 minutes' AS deadline,
      CAST(hour(ts) AS INT) AS h,
      CAST(minute(ts) AS INT) AS m,
      CAST(floor(epoch(CAST(ts AS TIMESTAMP))) AS BIGINT) AS epoch_s,
      make_timestamp(2024, 6, 15, 12, 30, 0.0) AS fixed_ts
    FROM events WHERE event_id % 11 = 0
    """,
)
def q_interval_arith(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Timestamp interval arithmetic, field extraction, epoch
    conversion, and literal timestamp construction."""
    ev = load_table(spark, sf_dir, "events").where(F.col("event_id") % 11 == 0)
    return ev.select(
        "event_id",
        (F.col("ts") + F.expr("INTERVAL 90 MINUTES")).alias("deadline"),
        F.hour("ts").alias("h"),
        F.minute("ts").alias("m"),
        F.unix_timestamp("ts").alias("epoch_s"),
        F.expr("make_timestamp(2024, 6, 15, 12, 30, 0)").alias("fixed_ts"),
    )


@query(
    "explode_outer_demo",
    oracle="""
    WITH t AS (
      SELECT doc_id,
             list_filter(string_split(text, ' '), x -> x LIKE 'z%') AS ztoks
      FROM documents WHERE doc_id % 25 = 0
    )
    SELECT doc_id,
           unnest(CASE WHEN len(ztoks) = 0 THEN [NULL] ELSE ztoks END) AS ztoken
    FROM t
    """,
)
def q_explode_outer_demo(spark: SparkSession, sf_dir: str) -> DataFrame:
    """explode_outer: rows with empty arrays survive with NULL — the
    left-join flavor of unnesting (plain explode drops them)."""
    docs = load_table(spark, sf_dir, "documents").where(F.col("doc_id") % 25 == 0)
    ztoks = F.filter(F.split(F.col("text"), " "), lambda x: x.like("z%"))
    return docs.select("doc_id", F.explode_outer(ztoks).alias("ztoken"))


@query(
    "map_funcs",
    oracle="""
    WITH m AS (
      SELECT o_orderkey,
             MAP {'status': o_orderstatus, 'priority': o_orderpriority} AS props
      FROM orders WHERE o_orderkey % 50 = 0
    )
    SELECT o_orderkey,
           props['status'][1] AS status_val,
           props['priority'][1] AS priority_val,
           cardinality(props) AS n_props,
           array_to_string(map_keys(props), ',') AS keys_csv
    FROM m
    """,
)
def q_map_funcs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Map-typed columns: construct (map_from_arrays), probe
    (element_at), measure (size), and enumerate (map_keys) — the map
    op family over plain-typed outputs so the DuckDB comparison stays
    on scalar columns (cross-engine map VALUE comparison is
    representation-sensitive; the probes pin the same content)."""
    o = load_table(spark, sf_dir, "orders").where(F.col("o_orderkey") % 50 == 0)
    props = F.map_from_arrays(
        F.array(F.lit("status"), F.lit("priority")),
        F.array(F.col("o_orderstatus"), F.col("o_orderpriority")),
    )
    m = o.select("o_orderkey", props.alias("props"))
    return m.select(
        "o_orderkey",
        F.element_at("props", "status").alias("status_val"),
        F.element_at("props", "priority").alias("priority_val"),
        F.size("props").cast("bigint").alias("n_props"),
        F.array_join(F.map_keys("props"), ",").alias("keys_csv"),
    )


@query(
    "grouped_ols",
    oracle="""
    WITH e AS (
      SELECT user_id,
             epoch_us(CAST(ts AS TIMESTAMP)) // 86400000000 AS x,
             CAST(floor(value * 100.0) AS BIGINT) AS y
      FROM events
    ),
    s AS (
      SELECT user_id, COUNT(*) AS n,
             CAST(SUM(x) AS BIGINT) AS sx, CAST(SUM(y) AS BIGINT) AS sy,
             CAST(SUM(x * x) AS BIGINT) AS sxx, CAST(SUM(x * y) AS BIGINT) AS sxy
      FROM e GROUP BY user_id
    )
    SELECT user_id, n AS n_events,
           (n * sxy - sx * sy) * 1.0 / (n * sxx - sx * sx) AS slope,
           (sy * 1.0 - ((n * sxy - sx * sy) * 1.0 / (n * sxx - sx * sx)) * sx) / n
             AS intercept
    FROM s
    WHERE n * sxx - sx * sx <> 0
    """,
)
def q_grouped_ols(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-group Python aggregation done the way that survives high key
    cardinality: repartition on the key, then ONE mapInPandas pass that
    streams Arrow batches and accumulates four OLS moments per user in
    a dict (per-partition state = one tuple per live key). Output: each
    user's value-vs-time regression.

    The obvious API — groupBy().applyInPandas() — was measured and
    REJECTED: Spark's grouped-map path emits one Arrow batch and one
    Python call per GROUP (~17 ms/group on this box: 10/150/1000 groups
    -> 0.5/2.7/16.5 s for a trivial function), i.e. cost is linear in
    group count and would be hours at 1M users. The repartition+
    mapInPandas form computes the identical result in ~0.5 s here and
    scales with ROWS, not groups. (applyInPandasWithState remains the
    right seam for *streaming* keyed state — stateful_user_stats.)

    Bit-exact against the DuckDB regression oracle by construction:
    both engines accumulate the four moments in EXACT integers (x =
    whole days, y = floor(value*100) cents — floor, not cast: DuckDB's
    double->int cast rounds while Spark's truncates; Python ints are
    arbitrary-precision), then derive slope/intercept with the same
    IEEE op sequence, so the doubles are identical, not merely close.
    """
    ev = load_table(spark, sf_dir, "events").select(
        "user_id",
        # all-positive epochs: integer `div` (truncating) == floor here
        F.expr("unix_micros(ts) div 86400000000").alias("x"),
        F.floor(F.col("value") * 100.0).cast("bigint").alias("y"),
    )

    def ols_partition(batches) -> "pd.DataFrame":
        state: dict[int, list[int]] = {}
        for pdf in batches:
            pdf = pdf.assign(xx=pdf["x"] * pdf["x"], xy=pdf["x"] * pdf["y"])
            part = pdf.groupby("user_id", sort=False).agg(
                n=("x", "size"), sx=("x", "sum"), sy=("y", "sum"),
                sxx=("xx", "sum"), sxy=("xy", "sum"),
            )
            for uid, row in part.iterrows():
                s = state.setdefault(int(uid), [0, 0, 0, 0, 0])
                s[0] += int(row["n"]); s[1] += int(row["sx"]); s[2] += int(row["sy"])
                s[3] += int(row["sxx"]); s[4] += int(row["sxy"])
        out = {"user_id": [], "n_events": [], "slope": [], "intercept": []}
        for uid, (n, sx, sy, sxx, sxy) in state.items():
            num, den = n * sxy - sx * sy, n * sxx - sx * sx
            if den == 0:
                continue
            slope = float(num) / float(den)
            out["user_id"].append(uid)
            out["n_events"].append(n)
            out["slope"].append(slope)
            out["intercept"].append((float(sy) - slope * float(sx)) / n)
        # explicit dtypes: an all-empty partition would otherwise yield
        # object columns that Arrow can't map to the declared schema
        yield pd.DataFrame(out).astype(
            {"user_id": "int64", "n_events": "int64",
             "slope": "float64", "intercept": "float64"}
        )

    return ev.repartition(F.col("user_id")).mapInPandas(
        ols_partition,
        schema="user_id long, n_events long, slope double, intercept double",
    )


@query("hll_mergeable")  # DataSketches binary sketches are engine-specific -> rows-only
def q_hll_mergeable(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MERGEABLE distinct-count sketches (DataSketches HLL): build one
    sketch per order-priority, then hll_union_agg them into the global
    estimate — the pre-aggregation pattern that makes distinct counts
    re-aggregable at 100 TB (store per-partition/day sketch bytes, merge
    at query time; never re-scan raw data). approx_distinct covers the
    one-shot estimator; this covers re-aggregation.

    tests/test_sketch_tolerance.py gates both levels against DuckDB's
    exact COUNT(DISTINCT) and pins merge consistency (union of the
    per-group sketches == sketch of the whole)."""
    o = load_table(spark, sf_dir, "orders")
    per_group = o.groupBy("o_orderpriority").agg(
        F.hll_sketch_agg("o_custkey").alias("sk"),
        F.count(F.lit(1)).alias("n_orders"),
    )
    per_group_est = per_group.select(
        "o_orderpriority",
        "n_orders",
        F.hll_sketch_estimate("sk").alias("approx_customers"),
    )
    total = per_group.agg(
        F.lit("ALL").alias("o_orderpriority"),
        F.sum("n_orders").alias("n_orders"),
        F.hll_sketch_estimate(F.hll_union_agg("sk")).alias("approx_customers"),
    )
    return per_group_est.unionByName(total)


@query(
    "variant_json",
    oracle="""
    SELECT event_id,
           CAST(json_extract_string(props, '$.k') AS BIGINT) AS k_typed,
           CAST(json_extract_string(props, '$.missing') AS BIGINT) AS k_missing
    FROM events
    WHERE event_type = 'click' AND event_id % 3 = 0
    """,
)
def q_variant_json(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Semi-structured columns via VARIANT (Spark 4): parse_json ONCE
    into the binary variant encoding, then typed variant_get probes.
    At 100 TB this beats per-probe get_json_object (json_funcs), which
    re-parses the string for every extraction; variant parses at scan
    and every subsequent probe is a cheap binary traversal. Missing
    paths yield NULL (try semantics), matching SQL JSON extraction."""
    ev = load_table(spark, sf_dir, "events")
    v = F.parse_json("props")
    return ev.where((F.col("event_type") == "click") & (F.col("event_id") % 3 == 0)).select(
        "event_id",
        F.try_variant_get(v, "$.k", "bigint").alias("k_typed"),
        F.try_variant_get(v, "$.missing", "bigint").alias("k_missing"),
    )


@query(
    "unpivot_metrics",
    oracle="""
    SELECT l_orderkey, l_linenumber, metric, CAST(value AS DOUBLE) AS value
    FROM (
      SELECT l_orderkey, l_linenumber,
             CAST(l_quantity AS DOUBLE) AS quantity,
             CAST(l_extendedprice AS DOUBLE) AS extendedprice,
             CAST(l_discount AS DOUBLE) AS discount
      FROM lineitem WHERE l_orderkey % 100 = 0
    )
    UNPIVOT (value FOR metric IN (quantity, extendedprice, discount))
    """,
)
def q_unpivot_metrics(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Unpivot (melt): wide per-lineitem metrics to long (metric, value)
    rows — the inverse of `pivot`, and the standard shape for
    metric-store ingestion. Pure projection: 3x rows, no shuffle."""
    li = load_table(spark, sf_dir, "lineitem").where(F.col("l_orderkey") % 100 == 0)
    wide = li.select(
        "l_orderkey",
        "l_linenumber",
        F.col("l_quantity").cast("double").alias("quantity"),
        F.col("l_extendedprice").cast("double").alias("extendedprice"),
        F.col("l_discount").cast("double").alias("discount"),
    )
    return wide.unpivot(
        ["l_orderkey", "l_linenumber"],
        ["quantity", "extendedprice", "discount"],
        "metric",
        "value",
    )


@query(
    "lateral_topn",
    oracle="""
    SELECT r.r_name, t.n_name, t.n_customers
    FROM region r, LATERAL (
      SELECT n.n_name, COUNT(*) AS n_customers
      FROM nation n JOIN customer c ON c.c_nationkey = n.n_nationkey
      WHERE n.n_regionkey = r.r_regionkey
      GROUP BY n.n_name
      ORDER BY n_customers DESC, n_name ASC
      LIMIT 2
    ) t
    """,
)
def q_lateral_topn(spark: SparkSession, sf_dir: str) -> DataFrame:
    """LATERAL correlated subquery: top-2 nations by customer count per
    region. Catalyst decorrelates this into a window-rank over one
    grouped aggregate — per-group top-n without a per-region loop
    (plan-checked: no cartesian, single aggregation)."""
    for t in ("region", "nation", "customer"):
        load_table(spark, sf_dir, t).createOrReplaceTempView(t)
    return spark.sql(
        """
        SELECT r.r_name, t.n_name, t.n_customers
        FROM region r, LATERAL (
          SELECT n.n_name, COUNT(*) AS n_customers
          FROM nation n JOIN customer c ON c.c_nationkey = n.n_nationkey
          WHERE n.n_regionkey = r.r_regionkey
          GROUP BY n.n_name
          ORDER BY n_customers DESC, n_name ASC
          LIMIT 2
        ) t
        """
    )


@query(
    "fuzzy_join",
    oracle="""
    SELECT n.n_name, m.probe, levenshtein(n.n_name, m.probe) AS dist
    FROM nation n
    JOIN (VALUES ('NATON_1'), ('NATIONN_5'), ('NTION_19'), ('NATION-7'),
                 ('MATION_12'), ('NOWHERELAND')) m(probe)
      ON levenshtein(n.n_name, m.probe) <= 2
    """,
)
def q_fuzzy_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Fuzzy (edit-distance) string join: misspelled probe names matched
    to the nation dimension within Levenshtein distance 2. The probe
    side is a small literal relation, BROADCAST — so the plan is a
    map-side nested-loop over probes per nation row, linear in the big
    side. At 100 TB the same shape holds whenever one side is bounded
    (entity resolution against a reference list); for fuzzy joins of
    two BIG sides the scale path is q-gram blocking first (the same
    banding idea as dedup_minhash_pairs), never an all-pairs distance."""
    nation = load_table(spark, sf_dir, "nation")
    # Arrow-table parameter relation (not a Python row list): avoids
    # the applySchemaToPythonRDD scan that spins a Python worker to
    # deserialize pickled rows — same fix as bloom_filter_join's words
    # relation (r18 optimization round, guide §4.1)
    import pyarrow as pa

    probes = spark.createDataFrame(
        pa.table(
            {
                "probe": pa.array(
                    ["NATON_1", "NATIONN_5", "NTION_19", "NATION-7",
                     "MATION_12", "NOWHERELAND"],
                    pa.string(),
                )
            }
        )
    )
    return (
        nation.join(
            F.broadcast(probes),
            F.levenshtein(F.col("n_name"), F.col("probe")) <= 2,
        )
        .select(
            "n_name",
            "probe",
            F.levenshtein(F.col("n_name"), F.col("probe")).cast("int").alias("dist"),
        )
    )


# ---------------------------------------------------------------------------
# Python UDTF (user-defined TABLE function, Spark 3.5+/4): the row ->
# rows seam the reference's aggregator-fn-pointer family never had.
# Run-length encoding is the demonstrator because it is genuinely
# STATEFUL per input row (a linear scan carrying the current run) —
# one Python line per word, vs the unnest + lag + running-sum + group
# window gymnastics the SQL oracle below needs for the same answer.


def _word_runs_udtf():
    """Build the UDTF class lazily (decorator needs a live pyspark)."""
    from pyspark.sql.functions import udtf

    @udtf(returnType="word: string, run_len: int, start_pos: int")
    class WordRuns:
        def eval(self, text: str):
            if text is None:
                return
            cur, n, start = None, 0, 0
            for i, w in enumerate(text.split(" ")):
                if w == cur:
                    n += 1
                else:
                    if cur is not None:
                        yield (cur, n, start)
                    cur, n, start = w, 1, i
            if cur is not None:
                yield (cur, n, start)

    return WordRuns


@query(
    "udtf_word_runs",
    oracle="""
    WITH w AS (
      SELECT doc_id, unnest(string_split(text, ' ')) AS word,
             generate_subscripts(string_split(text, ' '), 1) - 1 AS pos
      FROM documents WHERE doc_id % 20 = 0
    ),
    flagged AS (
      SELECT doc_id, word, pos,
             CASE WHEN lag(word) OVER (PARTITION BY doc_id ORDER BY pos)
                       IS DISTINCT FROM word
                  THEN 1 ELSE 0 END AS brk
      FROM w
    ),
    grp AS (
      SELECT doc_id, word, pos,
             SUM(brk) OVER (PARTITION BY doc_id ORDER BY pos
                            ROWS UNBOUNDED PRECEDING) AS g
      FROM flagged
    )
    SELECT doc_id, word,
           CAST(COUNT(*) AS INT) AS run_len,
           CAST(MIN(pos) AS INT) AS start_pos
    FROM grp GROUP BY doc_id, word, g
    """,
)
def q_udtf_word_runs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Python UDTF + LATERAL: run-length encode each document's word
    sequence (consecutive repeats collapsed to word/run_len/start_pos
    rows). The UDTF is a per-row generator running in the Arrow-batched
    Python worker — the right tool for stateful row expansion; the
    oracle proves the exact same relation out of unnest + lag +
    running-sum windows. Scale: map-side only (each doc expands
    independently, no shuffle before the output), parallel in the
    scan's partitioning — same shape as chunk_documents."""
    spark.udtf.register("word_runs", _word_runs_udtf())
    load_table(spark, sf_dir, "documents").where(
        F.col("doc_id") % 20 == 0
    ).select("doc_id", "text").createOrReplaceTempView("udtf_docs")
    return spark.sql(
        """
        SELECT d.doc_id, s.word, s.run_len, s.start_pos
        FROM udtf_docs d, LATERAL word_runs(d.text) s
        """
    )


@query(
    "cogroup_asof",
    oracle="""
    WITH tagged AS (
      SELECT e.user_id,
             (SELECT max(CAST(o.o_orderdate AS DATE))
                FROM orders o
               WHERE o.o_custkey = e.user_id
                 AND CAST(o.o_orderdate AS DATE) <= CAST(e.ts AS DATE)) AS epoch_date
      FROM events e
      WHERE e.user_id % 50 = 0
    )
    SELECT user_id, epoch_date, COUNT(*) AS n_events
    FROM tagged GROUP BY user_id, epoch_date
    """,
)
def q_cogroup_asof(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cogrouped as-of merge via groupBy().cogroup().applyInPandas —
    the canonical use of Spark's cogroup seam (two relations shuffled
    to the SAME key partitioning, each key's slices handed to one
    Arrow-batched pandas call). Per user: every event is attributed to
    the most recent order date at-or-before it (pd.merge_asof,
    direction='backward'), then counted per (user, epoch). Events with
    no prior order keep a NULL epoch.

    This exists to cover the cogroup API surface; the relational
    `asof_join` operator (operators/advanced.py) is the hot-path
    formulation of the same semantics (union + window, no Python).
    Like udtf_word_runs, the input is pre-filtered (user_id % 50) —
    Spark's grouped-map path costs ~17 ms per GROUP (measured,
    grouped_ols docstring; measured ~30 ms/key here with merge_asof —
    300 keys cost 9.5 s), so per-key Python must never see an
    unbounded key set. Dates travel as exact int epoch-days in both
    directions so the Arrow round-trip carries no timezone or dtype
    ambiguity; ties on order date are exact duplicates (deduped) so
    merge_asof's last-match == the oracle's max()."""
    epoch0 = F.to_date(F.lit("1970-01-01"))
    ev = (
        load_table(spark, sf_dir, "events")
        .where(F.col("user_id") % 50 == 0)
        .select("user_id", F.datediff(F.to_date("ts"), epoch0).alias("eday"))
    )
    orders = (
        load_table(spark, sf_dir, "orders")
        .where(F.col("o_custkey") % 50 == 0)
        .select(
            F.col("o_custkey").alias("user_id"),
            F.datediff(F.to_date("o_orderdate"), epoch0).alias("oday"),
        )
        # repartition by user_id BEFORE the dedup: hash(user_id)
        # satisfies both the dedup aggregate's (user_id, oday)
        # clustering (subset rule) and the cogroup's user_id
        # requirement, so the orders side pays ONE exchange instead of
        # two (dedup shuffle + cogroup re-shuffle; r18 plan audit —
        # guide §2.4 "two operations keyed the same way can share one
        # exchange"). Map-side partial dedup is no loss: (user_id,
        # oday) duplicates are rare in orders, so the partial agg was
        # shipping ~everything anyway.
        .repartition("user_id")
        .dropDuplicates(["user_id", "oday"])
    )

    def merge(evp: pd.DataFrame, op: pd.DataFrame) -> pd.DataFrame:
        if evp.empty:  # orders-only key: no events to attribute
            return pd.DataFrame({"user_id": [], "epoch_day": [], "n_events": []}).astype(
                {"user_id": "int64", "epoch_day": "Int64", "n_events": "int64"}
            )
        m = pd.merge_asof(
            evp.sort_values("eday"),
            op[["oday"]].sort_values("oday"),
            left_on="eday",
            right_on="oday",
            direction="backward",
        )
        g = (
            m.groupby(["user_id", "oday"], dropna=False)
            .size()
            .reset_index(name="n_events")
        )
        g["oday"] = g["oday"].astype("Int64")
        return g.rename(columns={"oday": "epoch_day"})

    out = (
        ev.groupBy("user_id")
        .cogroup(orders.groupBy("user_id"))
        .applyInPandas(merge, "user_id long, epoch_day long, n_events long")
    )
    return out.select(
        "user_id",
        F.date_add(F.to_date(F.lit("1970-01-01")), F.col("epoch_day").cast("int")).alias(
            "epoch_date"
        ),
        "n_events",
    )


@query(
    "map_in_arrow",
    oracle="""
    SELECT l_returnflag,
           CAST(SUM(CAST(l_extendedprice * (1 - l_discount) * (1 + l_tax)
                         AS DECIMAL(18,6))) AS DOUBLE) AS sum_charge,
           COUNT(*) AS n_items
    FROM lineitem WHERE l_quantity < 25
    GROUP BY l_returnflag
    """,
)
def q_map_in_arrow(spark: SparkSession, sf_dir: str) -> DataFrame:
    """mapInArrow: the zero-copy columnar extension seam — the Python
    function receives pyarrow.RecordBatch objects straight off the
    Arrow IPC stream (no pandas conversion, no per-row anything) and
    computes the TPC-H charge expression with pyarrow.compute kernels.
    This is the seam for Arrow-native libraries (tokenizers, vector
    kernels, image codecs) at 100 TB: cost is per-BATCH, columns stay
    in Arrow buffers end-to-end.

    The quantity filter sits BEFORE the Python node so it reaches the
    parquet scan (plan-gated: PushedFilters carries l_quantity), and
    the aggregation runs AFTER it Spark-side, so Python only maps.
    Bit-exactness: pc.subtract/multiply/add are the same IEEE doubles
    in the same order as both engines' `price*(1-disc)*(1+tax)`; the
    exact-decimal sum pattern is tpch_q1's."""
    li = (
        load_table(spark, sf_dir, "lineitem")
        .where(F.col("l_quantity") < 25)
        .select("l_returnflag", "l_extendedprice", "l_discount", "l_tax")
    )

    def charge_batches(batches):
        import pyarrow as pa
        import pyarrow.compute as pc

        for b in batches:
            disc = pc.multiply(
                b.column("l_extendedprice"),
                pc.subtract(pa.scalar(1.0), b.column("l_discount")),
            )
            charge = pc.multiply(disc, pc.add(pa.scalar(1.0), b.column("l_tax")))
            yield pa.RecordBatch.from_arrays(
                [b.column("l_returnflag"), charge], ["l_returnflag", "charge"]
            )

    out = li.mapInArrow(charge_batches, "l_returnflag string, charge double")
    return out.groupBy("l_returnflag").agg(
        exact_sum(F.col("charge"), 6).alias("sum_charge"),
        F.count(F.lit(1)).alias("n_items"),
    )


@query(
    "arrow_udf",
    oracle="""
    SELECT l_orderkey,
           CAST(SUM(CAST(l_extendedprice * (1 - l_discount) AS DECIMAL(18,4)))
                AS DOUBLE) AS revenue
    FROM lineitem
    WHERE l_shipdate >= TIMESTAMP '1995-06-01'
      AND l_shipdate <  TIMESTAMP '1995-07-01'
    GROUP BY l_orderkey
    """,
)
def q_arrow_udf(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Arrow-optimized Python UDF (@udf(useArrow=True), Spark 4): same
    registration surface as a classic Python UDF but batched over
    Arrow instead of pickled row-at-a-time — the drop-in upgrade for
    legacy UDF code. The function body is still per-row Python, so
    this remains the EXTENSION seam, not the hot path (pandas_udf /
    built-ins stay the perf rule; input pre-filtered to one ship
    month, filter pushed to the scan). Same IEEE multiply order as
    both engines' inline expression, then the exact-decimal sum, so
    the oracle is bit-for-bit."""
    from pyspark.sql.functions import udf

    @udf("double", useArrow=True)
    def disc_price(p, d):
        return p * (1 - d)

    li = load_table(spark, sf_dir, "lineitem").where(
        (F.col("l_shipdate") >= "1995-06-01") & (F.col("l_shipdate") < "1995-07-01")
    )
    return li.groupBy("l_orderkey").agg(
        exact_sum(disc_price("l_extendedprice", "l_discount"), 4).alias("revenue")
    )


@query(
    "pandas_udaf",
    oracle="""
    WITH c AS (
      SELECT event_type, CAST(floor(value * 100 + 0.5) AS BIGINT) AS cents
      FROM events
    )
    SELECT event_type,
           sqrt(CAST(SUM(cents * cents) AS DOUBLE) / COUNT(*)) AS rms_cents,
           COUNT(*) AS n_events
    FROM c GROUP BY event_type
    """,
)
def q_pandas_udaf(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Grouped-aggregate pandas UDF — the custom-UDAF seam (Series in,
    scalar out per group). Accumulates sum-of-squares in int64 (exact;
    bounded by cents^2 x rows << 2^63) and applies the SAME two-step
    rounding as the oracle (int -> double, then double divide, then
    sqrt), so equality is bit-for-bit.

    Scale warning carried in the plan: a grouped-agg pandas UDF has NO
    partial-aggregation form — every row shuffles to its group's
    reducer before Python sees it (ObjectHashAggregate over the full
    exchange), unlike built-in aggregates whose map-side partials
    shrink the shuffle to #groups. Use this seam only for aggregation
    logic with no distributive decomposition; anything expressible as
    built-ins (this RMS included — the oracle IS the built-in form)
    belongs JVM-side. The group count here is 5, so the demo's shuffle
    is the honest cost of the API, stated rather than hidden."""
    import math

    @pandas_udf("double")
    def rms(cents: pd.Series) -> float:
        ssq = int((cents * cents).sum())
        return math.sqrt(float(ssq) / float(len(cents)))

    # grouped-agg pandas UDFs cannot mix with non-pandas aggregates in
    # one agg() (INVALID_PANDAS_UDF_PLACEMENT), so the row count rides
    # as a second pandas aggregate
    @pandas_udf("long")
    def n_rows(cents: pd.Series) -> int:
        return len(cents)

    ev = load_table(spark, sf_dir, "events").select(
        "event_type",
        F.floor(F.col("value") * 100 + 0.5).cast("bigint").alias("cents"),
    )
    return ev.groupBy("event_type").agg(
        rms("cents").alias("rms_cents"),
        n_rows("cents").alias("n_events"),
    )


@query(
    "window_range_frame",
    oracle="""
    WITH o AS (
      SELECT o_orderkey, o_custkey,
             datediff('day', DATE '1970-01-01', CAST(o_orderdate AS DATE)) AS dayn,
             CAST(floor(o_totalprice * 100 + 0.5) AS BIGINT) AS cents
      FROM orders
    )
    SELECT o_orderkey, o_custkey,
           CAST(SUM(cents) OVER (PARTITION BY o_custkey ORDER BY dayn
                                 RANGE BETWEEN 30 PRECEDING AND CURRENT ROW)
                AS BIGINT) AS cents_30d
    FROM o
    """,
)
def q_window_range_frame(spark: SparkSession, sf_dir: str) -> DataFrame:
    """VALUE-based window frame (RANGE BETWEEN): each order's trailing
    30-day spend for its customer — the frame is defined by the ORDER
    key's VALUE distance, not row offsets, so same-day orders (peers)
    all see the identical frame and gaps in the calendar shrink it.
    This is the rolling-window-by-time shape ROWS frames cannot
    express (window_running covers those). Order key is exact integer
    epoch-days and the measure exact cents, so frame membership and
    sums are bit-identical across engines. One hash partition by
    customer, in-partition sort — the same single-shuffle plan as
    every other window here."""
    o = load_table(spark, sf_dir, "orders").select(
        "o_orderkey",
        "o_custkey",
        F.datediff(F.to_date("o_orderdate"), F.to_date(F.lit("1970-01-01"))).alias(
            "dayn"
        ),
        F.floor(F.col("o_totalprice") * 100 + 0.5).cast("bigint").alias("cents"),
    )
    w = (
        Window.partitionBy("o_custkey")
        .orderBy("dayn")
        .rangeBetween(-30, Window.currentRow)
    )
    return o.select(
        "o_orderkey", "o_custkey", F.sum("cents").over(w).alias("cents_30d")
    )
