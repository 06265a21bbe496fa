"""Spark-4 surface coverage: columnar cache, polymorphic UDTF
(analyze()), VARIANT array-path extraction.

These extend the reference's scalar/UDF seam inventory (SURVEY.md
§2.7-2.8; reference host/function/function_test.cc exercises its
fn-pointer seams the same way: one query per API shape) with the
engine-level facilities a resident Spark deployment actually uses:
an in-memory columnar cache shared by plan branches, table functions
whose OUTPUT SCHEMA is computed from their arguments at plan time,
and binary-encoded semi-structured traversal.
"""

from __future__ import annotations

import itertools

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from dpu_olap_spark.functions.numeric import exact_sum
from dpu_olap_spark.registry import query
from dpu_olap_spark.sources.tables import load_table

_CACHE_VIEW = "cache_scan_src"


@query(
    "cache_scan",
    oracle="""
    SELECT l_returnflag, l_linestatus, COUNT(*) AS n_rows,
           CAST(SUM(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) AS sum_qty
    FROM lineitem WHERE l_quantity < 30
    GROUP BY l_returnflag, l_linestatus
    UNION ALL
    SELECT 'ALL', 'ALL', COUNT(*),
           CAST(SUM(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE)
    FROM lineitem WHERE l_quantity < 30
    """,
)
def q_cache_scan(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Columnar cache reuse: a filtered projection of lineitem is
    cached ONCE (InMemoryRelation — Spark's compressed columnar
    batches) and consumed by TWO plan branches (per-flag rollup and
    global total), each reading InMemoryTableScan instead of
    re-scanning parquet. This is the iterative-workload play (a
    warmed dashboard, a feature table probed by many queries): pay
    the scan+filter once, serve every consumer from executor-local
    columnar batches with column pruning intact. The previous cache
    entry for the view name is dropped first, so repeated builds
    (bench passes) hold exactly one copy; tests/test_plans.py pins
    >=2 InMemoryTableScans and at most one parquet scan in the plan."""
    try:
        spark.catalog.uncacheTable(_CACHE_VIEW)
    except Exception:
        pass  # not cached yet in this session
    li = load_table(spark, sf_dir, "lineitem")
    src = li.where(F.col("l_quantity") < 30).select(
        "l_returnflag", "l_linestatus", "l_quantity"
    )
    src.createOrReplaceTempView(_CACHE_VIEW)
    spark.catalog.cacheTable(_CACHE_VIEW)
    cached = spark.table(_CACHE_VIEW)
    agg = [
        F.count(F.lit(1)).alias("n_rows"),
        exact_sum(F.col("l_quantity"), 2).alias("sum_qty"),
    ]
    per_flag = cached.groupBy("l_returnflag", "l_linestatus").agg(*agg)
    total = cached.agg(
        F.lit("ALL").alias("l_returnflag"), F.lit("ALL").alias("l_linestatus"), *agg
    ).select("l_returnflag", "l_linestatus", "n_rows", "sum_qty")
    return per_flag.unionByName(total)


_UDTF_K = 3  # constant-foldable arg analyze() reads to shape the output


def _first_words_udtf():
    """Build the polymorphic UDTF lazily (needs a live pyspark).

    analyze() runs at PLAN time on the constant arguments and returns
    the output schema — here w0..w{k-1} string fields — so one
    function serves any k with full Catalyst schema knowledge
    (projection pruning over its outputs works like any column).
    eval() then pads short token lists with NULL."""
    from pyspark.sql.functions import udtf
    from pyspark.sql.types import StringType, StructField, StructType
    from pyspark.sql.udtf import AnalyzeArgument, AnalyzeResult

    class FirstWords:
        @staticmethod
        def analyze(text: AnalyzeArgument, k: AnalyzeArgument) -> AnalyzeResult:
            n = int(k.value)
            return AnalyzeResult(
                StructType(
                    [StructField(f"w{i}", StringType()) for i in range(n)]
                )
            )

        def eval(self, text: str, k: int):
            toks = [] if text is None else text.split(" ")
            yield tuple(
                (toks[i] if toks[i] != "" else None) if i < len(toks) else None
                for i in range(int(k))
            )

    return udtf(FirstWords)


@query(
    "udtf_analyze",
    oracle=f"""
    SELECT doc_id,
           NULLIF(split_part(text, ' ', 1), '') AS w0,
           NULLIF(split_part(text, ' ', 2), '') AS w1,
           NULLIF(split_part(text, ' ', 3), '') AS w2
    FROM documents WHERE doc_id % 25 = 0
    """,
)
def q_udtf_analyze(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Python UDTF with analyze(): the output schema (w0..w{k-1}) is
    COMPUTED FROM the constant argument k at plan time — the
    polymorphic-table-function shape (completes the UDTF story past
    udtf_word_runs' static schema). The demonstrator extracts each
    document's first k whitespace tokens as k typed columns; the
    oracle proves the relation with split_part. Scale note: like all
    per-row Python, this is the demonstration of the API seam, not a
    hot-path pattern — the input is pre-filtered to 4% of docs and
    the built-in twin (split + element_at) is what a pipeline would
    ship."""
    spark.udtf.register("first_words", _first_words_udtf())
    load_table(spark, sf_dir, "documents").where(
        F.col("doc_id") % 25 == 0
    ).select("doc_id", "text").createOrReplaceTempView("udtf_analyze_docs")
    return spark.sql(
        f"""
        SELECT d.doc_id, s.*
        FROM udtf_analyze_docs d, LATERAL first_words(d.text, {_UDTF_K}) s
        """
    )


@query(
    "variant_paths",
    oracle="""
    SELECT event_id,
           CAST(json_extract_string(j, '$.a.b[1]') AS BIGINT) AS b1,
           CAST(json_extract_string(j, '$.a.b[2]') AS BIGINT) AS b2,
           json_extract_string(j, '$.tag[0]') AS tag0,
           CAST(json_extract_string(j, '$.a.b[9]') AS BIGINT) AS b_miss
    FROM (
      SELECT event_id,
             concat('{"a":{"b":[', CAST(event_id AS VARCHAR), ',',
                    CAST(event_id * 2 AS VARCHAR), ',',
                    CAST(event_id * 3 AS VARCHAR), ']},"tag":["x","y"]}') AS j
      FROM events WHERE event_id % 11 = 0
    )
    """,
)
def q_variant_paths(spark: SparkSession, sf_dir: str) -> DataFrame:
    """VARIANT array-path traversal (deeper than variant_json's
    scalar probes): nested-array JSON is parsed ONCE into the binary
    variant encoding, then array-subscript paths ($.a.b[1],
    $.tag[0]) and an out-of-bounds index ($.a.b[9] -> NULL, try
    semantics) are extracted as typed columns. The JSON is
    constructed deterministically from event_id IDENTICALLY in both
    engines (the redact_pii injection pattern) because the testdata
    props column holds no arrays. At 100 TB the variant encoding is
    the semi-structured scan strategy: parse once at ingest, every
    downstream path probe is a binary traversal, never a re-parse."""
    ev = load_table(spark, sf_dir, "events").where(F.col("event_id") % 11 == 0)
    j = F.concat(
        F.lit('{"a":{"b":['),
        F.col("event_id").cast("string"),
        F.lit(","),
        (F.col("event_id") * 2).cast("string"),
        F.lit(","),
        (F.col("event_id") * 3).cast("string"),
        F.lit(']},"tag":["x","y"]}'),
    )
    v = F.parse_json(j)
    return ev.select(
        "event_id",
        F.try_variant_get(v, "$.a.b[1]", "bigint").alias("b1"),
        F.try_variant_get(v, "$.a.b[2]", "bigint").alias("b2"),
        F.try_variant_get(v, "$.tag[0]", "string").alias("tag0"),
        F.try_variant_get(v, "$.a.b[9]", "bigint").alias("b_miss"),
    )


@query(
    "variant_explode_arr",
    oracle="""
    SELECT event_id, CAST(p AS INT) AS pos,
           CAST(event_id * (p + 1) AS BIGINT) AS elem
    FROM events, range(3) t(p)
    WHERE event_id % 13 = 0
    """,
)
def q_variant_explode_arr(spark: SparkSession, sf_dir: str) -> DataFrame:
    """variant_explode as a LATERAL generator: the nested array inside
    a VARIANT value ($.a.b) becomes rows (pos, value) without ever
    re-parsing JSON text — completing the variant story
    (variant_json: scalar probes; variant_paths: array subscripts;
    here: full array expansion). The JSON is constructed
    deterministically from event_id (elem i = event_id*(i+1)) so the
    oracle regenerates the relation from range(3) — exact. Scale:
    map-side Generate over the scan, zero exchanges; at 100 TB this
    is the explode path for semi-structured event payloads (tags,
    item lists) where the per-probe binary traversal replaces a
    per-row JSON parse."""
    ev = load_table(spark, sf_dir, "events").where(F.col("event_id") % 13 == 0)
    j = F.concat(
        F.lit('{"a":{"b":['),
        F.col("event_id").cast("string"),
        F.lit(","),
        (F.col("event_id") * 2).cast("string"),
        F.lit(","),
        (F.col("event_id") * 3).cast("string"),
        F.lit(']}}'),
    )
    ev.select(
        "event_id", F.try_variant_get(F.parse_json(j), "$.a.b", "variant").alias("arr")
    ).createOrReplaceTempView("variant_explode_src")
    return spark.sql(
        """
        SELECT s.event_id, v.pos, CAST(v.value AS BIGINT) AS elem
        FROM variant_explode_src s, LATERAL variant_explode(s.arr) v
        """
    )


@query(
    "transpose_metrics",
    oracle="""
    SELECT 'n_events' AS key,
           CAST(COUNT(*) FILTER (event_type = 'click') AS DOUBLE) AS click,
           CAST(COUNT(*) FILTER (event_type = 'error') AS DOUBLE) AS error,
           CAST(COUNT(*) FILTER (event_type = 'purchase') AS DOUBLE) AS purchase,
           CAST(COUNT(*) FILTER (event_type = 'signup') AS DOUBLE) AS signup,
           CAST(COUNT(*) FILTER (event_type = 'view') AS DOUBLE) AS view
    FROM events
    UNION ALL
    SELECT 'sum_cents' AS key,
           CAST(SUM(CAST(floor(value * 100 + 0.5) AS BIGINT))
                FILTER (event_type = 'click') AS DOUBLE) AS click,
           CAST(SUM(CAST(floor(value * 100 + 0.5) AS BIGINT))
                FILTER (event_type = 'error') AS DOUBLE) AS error,
           CAST(SUM(CAST(floor(value * 100 + 0.5) AS BIGINT))
                FILTER (event_type = 'purchase') AS DOUBLE) AS purchase,
           CAST(SUM(CAST(floor(value * 100 + 0.5) AS BIGINT))
                FILTER (event_type = 'signup') AS DOUBLE) AS signup,
           CAST(SUM(CAST(floor(value * 100 + 0.5) AS BIGINT))
                FILTER (event_type = 'view') AS DOUBLE) AS view
    FROM events
    """,
)
def q_transpose_metrics(spark: SparkSession, sf_dir: str) -> DataFrame:
    """DataFrame.transpose (Spark 4): flip a metrics-per-group frame so
    groups become COLUMNS and metric names become rows — the
    wide-report shape. Transpose EXECUTES its input at the driver when
    the transposed frame is constructed (the result is a local
    relation; plan-gated), so it is strictly a small-result operator:
    always aggregate FIRST (here: 5 event types
    x 2 metrics from one events scan with partial aggregation), never
    transpose a fact table. Metrics ride as exact integer counts/cents
    cast to double (transpose requires one common value type); the
    oracle is the same pivot written as filtered aggregates."""
    ev = load_table(spark, sf_dir, "events")
    agg = ev.groupBy("event_type").agg(
        F.count(F.lit(1)).cast("double").alias("n_events"),
        F.sum(F.floor(F.col("value") * 100 + 0.5)).cast("double").alias("sum_cents"),
    )
    return agg.transpose()


@query(
    "param_sql",
    oracle="""
    SELECT o_orderpriority, COUNT(*) AS n_orders,
           CAST(SUM(CAST(floor(o_totalprice * 100 + 0.5) AS BIGINT)) AS BIGINT)
             AS sum_cents
    FROM orders
    WHERE o_orderdate >= TIMESTAMP '1995-01-01'
      AND o_orderdate <  TIMESTAMP '1996-01-01'
    GROUP BY o_orderpriority
    """,
)
def q_param_sql(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Parameterized SQL (Spark 4): named `:start`/`:end` parameters
    bound server-side through spark.sql(..., args=...) — injection-
    proof by construction (values never enter the SQL text, so no
    quoting/escaping path exists) — plus `{orders}` DataFrame
    interpolation, which templates a python DataFrame into the query
    as a relation without registering a temp view. Parameter markers
    fold to literals at plan time, so the date range still prunes at
    the parquet scan exactly like a hand-inlined predicate."""
    orders = load_table(spark, sf_dir, "orders")
    return spark.sql(
        """
        SELECT o_orderpriority, COUNT(*) AS n_orders,
               CAST(SUM(CAST(floor(o_totalprice * 100 + 0.5) AS BIGINT)) AS BIGINT)
                 AS sum_cents
        FROM {orders}
        WHERE o_orderdate >= :start AND o_orderdate < :end
        GROUP BY o_orderpriority
        """,
        orders=orders,
        args={"start": "1995-01-01", "end": "1996-01-01"},
    )


@query(
    "identifier_sql",
    oracle="""
    SELECT o_orderstatus, COUNT(*) AS n_orders,
           CAST(SUM(CAST(floor(o_totalprice * 100 + 0.5) AS BIGINT)) AS BIGINT)
             AS sum_cents
    FROM orders
    GROUP BY o_orderstatus
    """,
)
def q_identifier_sql(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IDENTIFIER() clause: a table/column NAME arrives as a bound
    parameter instead of string-spliced SQL — the injection-safe form
    of dynamic-identifier queries (a value parameter cannot name a
    relation; IDENTIFIER promotes a parameter to an identifier under
    the parser's quoting rules, so `orders; DROP ...` never parses as
    two statements). Pairs with param_sql (which binds VALUES); with
    GROUP BY ALL resolving the grouping from the select list. The
    plan is ordinary after resolution: identifier binding happens at
    parse time and costs nothing at execution."""
    load_table(spark, sf_dir, "orders").createOrReplaceTempView("identifier_sql_src")
    return spark.sql(
        """
        SELECT o_orderstatus, COUNT(*) AS n_orders,
               CAST(SUM(CAST(floor(o_totalprice * 100 + 0.5) AS BIGINT)) AS BIGINT)
                 AS sum_cents
        FROM IDENTIFIER(:tbl)
        GROUP BY ALL
        """,
        args={"tbl": "identifier_sql_src"},
    )


@query(
    "pipe_sql",
    oracle="""
    SELECT c_mktsegment, COUNT(*) AS n_orders,
           CAST(SUM(CAST(floor(o_totalprice * 100 + 0.5) AS BIGINT)) AS BIGINT)
             AS sum_cents,
           CAST(floor(
             CAST(CAST(SUM(CAST(floor(o_totalprice * 100 + 0.5) AS BIGINT))
                       AS BIGINT) AS DOUBLE) / COUNT(*)) AS BIGINT)
             AS avg_cents
    FROM orders JOIN customer ON o_custkey = c_custkey
    WHERE o_orderstatus = 'O'
    GROUP BY c_mktsegment
    HAVING COUNT(*) > 5
    """,
)
def q_pipe_sql(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SQL pipe syntax (Spark 4, SQL:2023-era `|>` operators): the
    same relational program as a linear stage chain — FROM |> WHERE
    |> JOIN |> AGGREGATE..GROUP BY |> EXTEND |> WHERE — exercising
    the pipe-specific surface (AGGREGATE as a stage, EXTEND computing
    over aggregate outputs, a post-aggregation WHERE standing in for
    HAVING) with {df} templating instead of temp views. Pipe stages
    are pure parser sugar: Catalyst receives the identical logical
    plan as the nested-SELECT form, so filter pushdown, the
    broadcastable dim join, and partial aggregation all apply
    unchanged at 100 TB. Money stays in exact integer cents
    (floor(x*100+0.5)); the per-segment average is floored to whole
    cents through the same float64 division path on both engines
    (exact below 2**53)."""
    orders = load_table(spark, sf_dir, "orders")
    customer = load_table(spark, sf_dir, "customer")
    return spark.sql(
        """
        FROM {orders}
        |> WHERE o_orderstatus = 'O'
        |> JOIN {customer} ON o_custkey = c_custkey
        |> AGGREGATE COUNT(*) AS n_orders,
                     CAST(SUM(CAST(floor(o_totalprice * 100 + 0.5) AS BIGINT))
                          AS BIGINT) AS sum_cents
           GROUP BY c_mktsegment
        |> EXTEND CAST(floor(CAST(sum_cents AS DOUBLE) / n_orders) AS BIGINT)
             AS avg_cents
        |> WHERE n_orders > 5
        """,
        orders=orders,
        customer=customer,
    )


@query(
    "try_arith",
    oracle="""
    SELECT o_orderkey,
           CASE WHEN o_orderkey = 0
                THEN CAST(9223372036854775807 AS BIGINT) END AS add_ovf,
           CASE WHEN o_orderkey = 0
                THEN CAST(-9223372036854775807 - 1 AS BIGINT) END AS sub_ovf,
           CASE WHEN o_orderkey <= 1
                THEN CAST(o_orderkey * 4611686018427387904 AS BIGINT)
           END AS mul_ovf,
           CASE WHEN o_orderkey % 3 <> 0
                THEN o_totalprice / (o_orderkey % 3) END AS div0,
           CASE WHEN (o_orderkey % 5) - 2 <> 0
                THEN CAST(o_orderkey % ((o_orderkey % 5) - 2) AS BIGINT)
           END AS mod0
    FROM orders
    WHERE o_orderkey >= 0
    """,
)
def q_try_arith(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ANSI-safe arithmetic (try_add/try_subtract/try_multiply/
    try_divide/try_mod): overflow and division-by-zero yield NULL
    instead of failing the job — the semantics a 100 TB pipeline
    wants, where one poisoned row must not kill a million-task stage
    and a silent two's-complement wraparound (legacy non-ANSI mode)
    would corrupt aggregates undetected. Probes: BIGINT max + k and
    min - k (NULL for every k >= 1), multiply across the 2**63
    boundary, divide and mod by data-dependent zero/negative
    divisors (both engines use C-style sign-of-dividend modulo). The
    oracle encodes the expected NULL-on-overflow semantics as CASE
    guards since DuckDB's checked arithmetic ERRORS on overflow
    rather than returning NULL. Those CASE guards are only the
    overflow predicate for NON-NEGATIVE keys (try_add(MAX, key) is
    non-NULL for key < 0 where the guard would claim NULL), so both
    sides carry an explicit o_orderkey >= 0 filter (r8 ADVICE) — a
    no-op on TPC-H data, where keys start at 1, but it keeps the
    query/oracle pair symmetric under any future synthetic or
    randomized orders source. Plan: pure map-side projection, zero
    exchanges, whole-stage codegen."""
    orders = load_table(spark, sf_dir, "orders")
    key = F.col("o_orderkey")
    return orders.where(key >= 0).select(
        "o_orderkey",
        F.try_add(F.lit(9223372036854775807).cast("bigint"), key).alias("add_ovf"),
        F.try_subtract(
            F.lit(-9223372036854775807 - 1).cast("bigint"), key
        ).alias("sub_ovf"),
        F.try_multiply(key, F.lit(4611686018427387904).cast("bigint")).alias(
            "mul_ovf"
        ),
        F.try_divide(F.col("o_totalprice"), key % 3).alias("div0"),
        F.try_mod(key, (key % 5) - 2).alias("mod0"),
    )


@query(
    "collated_join_agg",
    oracle="""
    WITH fact AS (
        SELECT lower(p_brand) AS b,
               CAST(floor(p_retailprice * 100 + 0.5) AS BIGINT) AS cents
        FROM part WHERE p_partkey % 2 = 0
    ),
    dim AS (
        SELECT lower(p_brand) AS b, COUNT(*) AS n_odd,
               CAST(SUM(CAST(floor(p_retailprice * 100 + 0.5) AS BIGINT))
                    AS BIGINT) AS odd_cents
        FROM part WHERE p_partkey % 2 = 1
        GROUP BY 1
    )
    SELECT f.b AS brand_ci, COUNT(*) AS n_even,
           CAST(SUM(f.cents) AS BIGINT) AS even_cents,
           d.n_odd, d.odd_cents
    FROM fact f JOIN dim d ON f.b = d.b
    WHERE f.b LIKE 'brand#1%'
    GROUP BY f.b, d.n_odd, d.odd_cents
    """,
)
def q_collated_join_agg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Collation-aware processing (Spark 4.0 COLLATE): the engine-level
    generalization of the reference's per-type comparison kernels
    (SURVEY.md section 2.7; host/function dispatches eq/lt per column
    type) — here string equality, grouping, and prefix matching all
    resolve under UTF8_LCASE, so differently-cased spellings of a key
    hash-join, group, and prefix-filter as ONE value without any
    lower() rewrite of the data. The two sides deliberately disagree
    on case (facts UPPERCASE even-key brands, the dim lowercases odd-
    key ones) and the startswith needle is mixed-case; all three match
    only because the collation says so. The output key is CAST back to
    a default-collation string (deterministic lower-case form) so the
    result schema carries no collation and any dominant-case
    representative ambiguity dies at the boundary. Plan shape for a
    100 TB run: the dim is a 25-row grouped aggregate pinned to the
    BROADCAST side with a hint (without it, local stats at test SF
    pick BuildLeft and would ship the FACT side; the join hashes
    through collationkey(), so the broadcast lookup is collation-
    aware), and the fact side is one scan + map-side projection with
    the final aggregation as its only exchange. Two honest collation
    costs, visible in the plan and inherent to Spark 4.1: collated
    predicates do NOT reach parquet PushedFilters (row-group stats
    are binary-order; keep a binary-collation partition column for
    pruning at scale), and collated grouping keys plan SortAggregate
    instead of hash aggregation — still partial/final and fully
    distributed, just sort-based within partitions. Oracle: DuckDB
    has no per-column collation, so the case-insensitive semantics are
    encoded as lower() on both sides — exactly the rewrite collation
    makes unnecessary engine-side."""
    load_table(spark, sf_dir, "part").createOrReplaceTempView(
        "collated_join_src"
    )
    return spark.sql(
        """
        WITH fact AS (
            SELECT upper(p_brand) COLLATE UTF8_LCASE AS b,
                   CAST(floor(p_retailprice * 100 + 0.5) AS BIGINT) AS cents
            FROM collated_join_src WHERE p_partkey % 2 = 0
        ),
        dim AS (
            SELECT lower(p_brand) COLLATE UTF8_LCASE AS b,
                   COUNT(*) AS n_odd,
                   CAST(SUM(CAST(floor(p_retailprice * 100 + 0.5) AS BIGINT))
                        AS BIGINT) AS odd_cents
            FROM collated_join_src WHERE p_partkey % 2 = 1
            GROUP BY 1
        )
        SELECT /*+ BROADCAST(d) */
               CAST(lower(f.b) AS STRING) AS brand_ci, COUNT(*) AS n_even,
               CAST(SUM(f.cents) AS BIGINT) AS even_cents,
               d.n_odd, d.odd_cents
        FROM fact f JOIN dim d ON f.b = d.b
        WHERE startswith(f.b, 'bRaNd#1')
        GROUP BY f.b, d.n_odd, d.odd_cents
        """
    )


_SQL_SCRIPT_RUN = itertools.count(1)  # thread-safe run suffix


def _sql_script_text(orders: str, hist: str, thr: str) -> str:
    """The BEGIN..END block for q_sql_script over view/variable names
    `orders`/`hist`/`thr`.  Exposed as a function so tests can gate
    the scan structure: `orders` must appear in EXACTLY two statements
    (the thr assignment and the histogram CACHE TABLE build) and never
    inside the WHILE body — the loop reads only the cached ≤(5
    priorities × 11 buckets)-row histogram.

    `thr` must be a SESSION variable (declared by the caller): a
    script-LOCAL variable baked into the cached view's plan makes the
    view unresolvable after the block ends, so UNCACHE/isCached would
    raise and the cache entry could never be released (probed on
    Spark 4.1)."""
    return f"""
        BEGIN
          DECLARE total BIGINT DEFAULT 0;
          DECLARE k INT DEFAULT 1;
          DECLARE n BIGINT DEFAULT 0;
          SET {thr} = (SELECT SUM(CAST(floor(o_totalprice * 100 + 0.5)
                                       AS BIGINT)) DIV COUNT(*)
                       FROM {orders});
          -- FAIL LOUDLY on a negative mean: for thr < 0 an order's
          -- survival set over k is an UPPER range (d > k*thr flips
          -- when dividing by negative thr), so the kmax prefix
          -- bucketing below would silently return wrong counts.
          -- Individual NEGATIVE cents are fine as long as thr >= 0
          -- (d <= 0 rows land in bucket 0 exactly as the original
          -- per-round predicate decides) — boundary-pinned.
          SELECT assert_true({thr} >= 0,
                             'sql_script: negative mean cents');
          -- ONE more scan of orders: bucket every order by the
          -- LARGEST k in [0,10] it survives (c*10 > (10+k)*thr, i.e.
          -- d > k*thr for d = c*10 - 10*thr; largest such k is
          -- (d-1) DIV thr for d,thr >= 1 — exact integers), rolled up
          -- per (priority, kmax).  Eagerly cached in ONE partition
          -- (<=55 rows at any scale; without COALESCE the cache keeps
          -- the agg's shuffle partitioning and every loop round
          -- schedules spark.sql.shuffle.partitions tasks to read it —
          -- measured 2.9s vs 1.7s at sf0.1/local[32]).  Every WHILE
          -- round and the final statement read this tiny relation,
          -- never the fact table again.
          CACHE TABLE {hist} AS
            SELECT /*+ COALESCE(1) */ o_orderpriority,
                   CASE WHEN c * 10 - 10 * {thr} <= 0 THEN 0
                        WHEN {thr} = 0 THEN 10
                        ELSE CAST(LEAST(CAST(10 AS BIGINT),
                                        (c * 10 - 10 * {thr} - 1)
                                        DIV {thr}) AS INT)
                   END AS kmax,
                   COUNT(*) AS cnt,
                   CAST(SUM(c) AS BIGINT) AS sum_cents
            FROM (SELECT o_orderpriority,
                         CAST(floor(o_totalprice * 100 + 0.5) AS BIGINT)
                             AS c
                  FROM {orders})
            GROUP BY ALL;
          SET total = (SELECT SUM(cnt) FROM {hist});
          SET n = (SELECT COALESCE(SUM(cnt), 0) FROM {hist}
                   WHERE kmax >= k);
          WHILE n * 5 >= total AND k < 10 DO
            SET k = k + 1;
            SET n = (SELECT COALESCE(SUM(cnt), 0) FROM {hist}
                     WHERE kmax >= k);
          END WHILE;
          SELECT o_orderpriority, CAST(SUM(cnt) AS BIGINT) AS n_orders,
                 CAST(SUM(sum_cents) AS BIGINT) AS sum_cents,
                 CAST(k AS INT) AS k_cut
          FROM {hist}
          WHERE kmax >= k
          GROUP BY o_orderpriority;
        END
        """


@query(
    "sql_script",
    oracle="""
    WITH cents AS (
      SELECT CAST(floor(o_totalprice * 100 + 0.5) AS BIGINT) AS c,
             o_orderpriority
      FROM orders
    ),
    stats AS (SELECT SUM(c) // COUNT(*) AS thr, COUNT(*) AS total FROM cents),
    counts AS (
      SELECT s.k AS k,
             (SELECT COUNT(*) FROM cents, stats
              WHERE c * 10 > (10 + s.k) * thr) AS n,
             (SELECT total FROM stats) AS total
      FROM generate_series(1, 10) AS s(k)
    ),
    chosen AS (
      SELECT CAST(COALESCE(MIN(k), 10) AS INT) AS k
      FROM counts WHERE n * 5 < total
    )
    SELECT o_orderpriority, COUNT(*) AS n_orders,
           CAST(SUM(c) AS BIGINT) AS sum_cents,
           (SELECT k FROM chosen) AS k_cut
    FROM cents, stats, chosen
    WHERE c * 10 > (10 + chosen.k) * stats.thr
    GROUP BY o_orderpriority
    """,
)
def q_sql_script(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SQL scripting (Spark 4.1 BEGIN..END compound): a procedural
    threshold search — DECLARE local variables, assign from scalar
    subqueries, then a WHILE loop raises a tenths multiplier k until
    fewer than 20% of orders price above (1 + k/10) x the mean, and
    the final statement (the block's return relation) aggregates the
    survivors.  The reference has no procedural layer at all; this is
    the control-flow seam its host driver loop hand-codes in C++
    (host/aggr/aggr_native.cc:67-73 re-dispatches kernels per step).

    Every step is EXACT integer arithmetic (cents, DIV, counts) so the
    loop exits after the same iteration on any engine — the DuckDB
    oracle replays the search declaratively (generate_series + MIN(k)
    with the same n*5 < total cut, COALESCE to the same k=10
    exhaustion bound the loop guard enforces) and k_cut rides in the
    output so a divergence in WHICH iteration terminated cannot hide
    behind value coincidence.

    Scale: orders is scanned exactly TWICE — once for the mean
    (thr), once to build an eagerly-CACHEd per-(priority, kmax)
    histogram (≤ 5×11 rows) where kmax is the largest k an order
    survives.  Every WHILE round and the final statement then read
    the cached histogram (n(k) = Σ cnt over kmax ≥ k is exactly the
    original per-round count), so the 10-round worst case costs 10
    in-memory scans of ≤55 rows instead of 10 fact-table scans — the
    r12 SCALE.md mitigation, now implemented and structurally gated
    (tests/test_plans.py asserts the loop body never references the
    orders view).  The loop is driver-side CONTROL only; data never
    leaves the cluster.  The block executes EAGERLY: every statement
    runs as its own distributed job and the block's return relation is
    the materialized final result (LocalTableScan — plan-gated), so
    the contract is aggregate-first: the final statement must reduce
    to a SMALL relation (here: 5 priority groups), never fact-table
    rows.  View/variable names are run-suffixed (concurrent runs in
    one session stay isolated) and the cache is released in a finally
    block (UNCACHE fully empties the CacheManager — dropTempView
    alone does NOT)."""
    run_id = next(_SQL_SCRIPT_RUN)  # itertools.count: thread-safe
    orders = f"sql_script_orders_{run_id}"
    hist = f"sql_script_hist_{run_id}"
    thr = f"sql_script_thr_{run_id}"
    load_table(spark, sf_dir, "orders").createOrReplaceTempView(orders)
    spark.sql(f"DECLARE OR REPLACE VARIABLE {thr} BIGINT DEFAULT 0")
    try:
        return spark.sql(_sql_script_text(orders, hist, thr))
    finally:
        # the returned relation is already materialized (LocalTableScan),
        # so the scaffolding can go: release the histogram cache (must
        # happen while the view still resolves), then the views/variable.
        spark.sql(f"UNCACHE TABLE IF EXISTS {hist}")
        spark.catalog.dropTempView(hist)
        spark.catalog.dropTempView(orders)
        spark.sql(f"DROP TEMPORARY VARIABLE IF EXISTS {thr}")


@query(
    "exec_immediate",
    oracle="""
    SELECT o_orderpriority AS grp, COUNT(*) AS n_orders,
           CAST(SUM(CAST(floor(o_totalprice * 100 + 0.5) AS BIGINT))
                AS BIGINT) AS sum_cents
    FROM orders
    WHERE o_orderdate >= TIMESTAMP '1995-01-01'
      AND o_orderdate <  TIMESTAMP '1996-01-01'
    GROUP BY o_orderpriority
    """,
)
def q_exec_immediate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """EXECUTE IMMEDIATE (Spark 4 dynamic SQL): the statement TEXT
    lives in a STRING session variable (DECLARE OR REPLACE keeps
    repeated runs in one session legal) and executes with positional
    `?` binds — the grouping COLUMN arrives through IDENTIFIER(?) (a
    bound parameter promoted to an identifier under the parser's
    quoting rules, so a malicious name never parses as SQL) and the
    date bounds arrive as value binds.  Completes the dynamic-SQL
    surface next to param_sql (named args into a static text) and
    identifier_sql (IDENTIFIER over spark.sql args): here the text
    itself is data.  After binding, the plan is ordinary — the bound
    date range reaches the parquet scan as PushedFilters exactly like
    a hand-inlined predicate (plan-gated in tests/test_plans.py)."""
    load_table(spark, sf_dir, "orders").createOrReplaceTempView(
        "exec_imm_orders"
    )
    spark.sql("DECLARE OR REPLACE VARIABLE exec_imm_stmt STRING")
    spark.sql(
        """
        SET VAR exec_imm_stmt =
          'SELECT IDENTIFIER(?) AS grp, COUNT(*) AS n_orders,
                  CAST(SUM(CAST(floor(o_totalprice * 100 + 0.5) AS BIGINT))
                       AS BIGINT) AS sum_cents
           FROM exec_imm_orders
           WHERE o_orderdate >= ? AND o_orderdate < ?
           GROUP BY ALL'
        """
    )
    return spark.sql(
        "EXECUTE IMMEDIATE exec_imm_stmt "
        "USING 'o_orderpriority', TIMESTAMP '1995-01-01', "
        "TIMESTAMP '1996-01-01'"
    )
