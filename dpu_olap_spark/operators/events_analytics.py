"""Event-analytics workloads over the events table: funnel conversion
and cohort retention — the composed patterns an OLAP engine serves
daily (sequence-constrained aggregation; self-relative date bucketing).

Scale shape: both queries aggregate BEFORE joining (per-user firsts,
per-user-week distincts), so the joins see one row per user — never an
event-level self-join. Everything is built-ins inside whole-stage
codegen; the only shuffles are the per-user aggregations.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from dpu_olap_spark.functions.numeric import exact_sum
from dpu_olap_spark.registry import query
from dpu_olap_spark.sources.tables import load_table


@query(
    "funnel",
    oracle="""
    WITH c AS (
      SELECT user_id, MIN(CAST(ts AS TIMESTAMP)) AS first_click
      FROM events WHERE event_type = 'click' GROUP BY user_id
    ),
    p AS (
      SELECT e.user_id
      FROM events e JOIN c ON e.user_id = c.user_id
      WHERE e.event_type = 'purchase' AND CAST(e.ts AS TIMESTAMP) > c.first_click
      GROUP BY e.user_id
    )
    SELECT (SELECT COUNT(*) FROM c) AS n_clicked,
           (SELECT COUNT(*) FROM p) AS n_converted,
           CAST((SELECT COUNT(*) FROM p) AS DOUBLE)
             / (SELECT COUNT(*) FROM c) AS conversion
    """,
)
def q_funnel(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Two-step funnel: users whose first click is later followed by a
    purchase. Per-user firsts are aggregated before the join, so the
    join input is one row per user (pre-aggregate-then-join — the
    funnel pattern that survives event tables of any size)."""
    ev = load_table(spark, sf_dir, "events")
    clicks = (
        ev.where(F.col("event_type") == "click")
        .groupBy("user_id")
        .agg(F.min("ts").alias("first_click"))
    )
    purchases = ev.where(F.col("event_type") == "purchase").select("user_id", "ts")
    converted = (
        purchases.join(clicks, "user_id")
        .where(F.col("ts") > F.col("first_click"))
        .select("user_id")
        .distinct()
    )
    n_clicked = clicks.agg(F.count(F.lit(1)).alias("n")).select("n")
    n_converted = converted.agg(F.count(F.lit(1)).alias("n")).select("n")
    return (
        n_clicked.crossJoin(n_converted.withColumnRenamed("n", "m"))
        .select(
            F.col("n").alias("n_clicked"),
            F.col("m").alias("n_converted"),
            # unrounded int ratio: identical doubles both engines
            (F.col("m") / F.col("n")).cast("double").alias("conversion"),
        )
    )


_SESS_GAP_US = 30 * 60 * 1_000_000  # 30-min inactivity closes a session
# Sessionization time-chunk (6 h of event time). MUST stay >= the gap:
# then an empty chunk between two events proves >gap silence, so local
# sessions can only ever merge across ADJACENT chunks and the chain
# pass needs no special cases.
_SESS_CHUNK_US = 6 * 3600 * 1_000_000


def chunked_sessions(
    ev: DataFrame,
    gap_us: int = _SESS_GAP_US,
    chunk_us: int = _SESS_CHUNK_US,
) -> DataFrame:
    """Skew-proof 30-min-gap sessionization of (user_id, event_id,
    event_type, tus) rows: one row per session with the opening row
    as `first_touch` (the opening row's event type), `n_events`, and the
    first view/click/purchase micros. See q_session_funnel for the
    full design narrative; tools/scale_probe.py reuses this exact
    builder so probe numbers measure the shipped plan."""
    from pyspark.sql import Window as W

    if chunk_us < gap_us:
        raise ValueError(
            f"chunk_us ({chunk_us}) must be >= gap_us ({gap_us}): an "
            "empty chunk must prove a session break"
        )
    ev = ev.withColumn("chunk", F.floor(F.col("tus") / F.lit(chunk_us)))
    wc = W.partitionBy("user_id", "chunk").orderBy("tus", "event_id")
    lag = F.lag("tus").over(wc)
    flagged = ev.withColumn(
        "new_loc",
        F.when(lag.isNull() | ((F.col("tus") - lag) > gap_us), 1).otherwise(0),
    )
    local = flagged.withColumn(
        "lsess",
        F.sum("new_loc").over(wc.rowsBetween(W.unboundedPreceding, W.currentRow)),
    )
    t_of = lambda t: F.min(  # noqa: E731
        F.when(F.col("event_type") == t, F.col("tus"))
    )
    # One row per (user, chunk, local session). Every aggregate is a
    # plain min/max/sum — NOT min(struct(...)) — so Catalyst plans
    # HashAggregate inside whole-stage codegen (a struct-min forces
    # SortAggregate, which measured ~5x slower over the corpus). The
    # opening row's event type rides on the new_loc==1 marker (exactly
    # one per local run, its first row), the same trick the rollup
    # uses for first-touch.
    summaries = local.groupBy("user_id", "chunk", "lsess").agg(
        F.min("tus").alias("first_tus"),
        F.max("tus").alias("last_tus"),
        F.max(F.when(F.col("new_loc") == 1, F.col("event_type"))).alias(
            "first_type"
        ),
        F.count(F.lit(1)).alias("n_events"),
        t_of("view").alias("t_view"),
        t_of("click").alias("t_click"),
        t_of("purchase").alias("t_purchase"),
    )
    # Chain boundary-adjacent local sessions per user. Local sessions
    # are contiguous runs of the user's time-ordered events, so the
    # summary order by first_tus is the run order (ties are
    # impossible: two runs in one chunk are separated by >gap, and
    # chunk time ranges are disjoint) and the oracle's >gap test
    # between consecutive runs is exact. Within one chunk consecutive
    # runs are already separated by >gap (that is what split them), so
    # the test only ever fuses across a chunk boundary — no
    # chunk-adjacency condition needed.
    wm = W.partitionBy("user_id").orderBy("first_tus")
    prev_last = F.lag("last_tus").over(wm)
    chained = summaries.withColumn(
        "new_chain",
        F.when(
            prev_last.isNull() | ((F.col("first_tus") - prev_last) > gap_us),
            1,
        ).otherwise(0),
    ).withColumn(
        "chain",
        F.sum("new_chain").over(wm.rowsBetween(W.unboundedPreceding, W.currentRow)),
    )
    return chained.groupBy("user_id", "chain").agg(
        F.max(F.when(F.col("new_chain") == 1, F.col("first_type"))).alias(
            "first_touch"
        ),
        F.min("first_tus").alias("first_tus"),
        F.sum("n_events").alias("n_events"),
        F.min("t_view").alias("t_view"),
        F.min("t_click").alias("t_click"),
        F.min("t_purchase").alias("t_purchase"),
    )


@query(
    "session_funnel",
    oracle=f"""
    WITH ev AS (
      SELECT user_id, event_id, event_type,
             CAST(epoch_us(CAST(ts AS TIMESTAMP)) AS BIGINT) AS tus
      FROM events
    ),
    flagged AS (
      SELECT user_id, event_id, event_type, tus,
             CASE WHEN LAG(tus) OVER w IS NULL
                       OR tus - LAG(tus) OVER w > {_SESS_GAP_US}
                  THEN 1 ELSE 0 END AS new_sess
      FROM ev
      WINDOW w AS (PARTITION BY user_id ORDER BY tus, event_id)
    ),
    sess AS (
      SELECT user_id, event_id, event_type, tus, new_sess,
             SUM(new_sess) OVER (PARTITION BY user_id ORDER BY tus, event_id
                                 ROWS UNBOUNDED PRECEDING) AS sess_id
      FROM flagged
    ),
    per_sess AS (
      SELECT user_id, sess_id,
             MAX(CASE WHEN new_sess = 1 THEN event_type END) AS first_touch,
             COUNT(*) AS n_events,
             MIN(CASE WHEN event_type = 'view' THEN tus END) AS t_view,
             MIN(CASE WHEN event_type = 'click' THEN tus END) AS t_click,
             MIN(CASE WHEN event_type = 'purchase' THEN tus END) AS t_purchase
      FROM sess GROUP BY user_id, sess_id
    )
    SELECT first_touch,
           COUNT(*) AS n_sessions,
           CAST(SUM(CASE WHEN t_view IS NOT NULL
                              AND t_click > t_view
                              AND t_purchase > t_click
                         THEN 1 ELSE 0 END) AS BIGINT) AS n_converted,
           CAST(SUM(n_events) AS BIGINT) AS n_events
    FROM per_sess GROUP BY first_touch
    """,
)
def q_session_funnel(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Session-funnel attribution: events sessionize per user by
    30-minute inactivity gaps, each session checks the ordered
    view -> click -> purchase funnel, and conversions attribute to the
    session's FIRST TOUCH (the event type of the session-opening row).
    Timestamps compare as integer epoch-micros (unix_micros /
    epoch_us), exact on both engines.

    TIME-CHUNKED for hot keys (VERDICT r6 "What's wrong" #1): a plain
    per-user window serializes a bot-like user's entire history
    through one task — the r6 Zipfian probe measured a ~6x throughput
    collapse with one user holding 50% of rows, and AQE cannot split a
    window partition. Instead:

      1. events partition by (user_id, time_chunk) — chunk = 6 h of
         event time, >= the 30-min gap — and sessionize LOCALLY with
         the lag + running-sum windows. A hot user now spreads over
         #chunks tasks; per-task rows are bounded by the user's
         per-chunk rate, not their lifetime total.
      2. per (user, chunk, local session) collapse to ONE summary row
         (first/last event micros, opening event type, funnel-step
         minima, count). Runs of consecutive events land in time
         order, so the true session relation survives: two adjacent
         summaries belong to one session iff the gap between the
         earlier one's last event and the later one's first event is
         <= 30 min. Summaries per user are bounded by timespan/gap +
         timespan/chunk (session breaks need >30 min of silence;
         chunk splits add <= 1 per chunk) — INDEPENDENT of the user's
         event count, so the merge window cannot inherit the skew.
      3. a per-user window over summaries chains boundary-adjacent
         local sessions (lag + running sum again, now on bounded
         input), a groupBy(user, chain) merges them (mins/sums — all
         order-insensitive), and the tiny first_touch rollup closes.

    Exchanges: one corpus shuffle on hash(user_id, chunk) — the
    sessionize + summary agg share it via the subset rule — plus one
    summary-sized shuffle on user_id (also shared with the chain
    merge) and the rollup. The plan gate pins this 3-exchange shape
    and tools/scale_probe.py's Zipfian section measures the hot-user
    behavior on this same builder (chunked_sessions above)."""
    ev = load_table(spark, sf_dir, "events").select(
        "user_id",
        "event_id",
        "event_type",
        F.unix_micros("ts").alias("tus"),
    )
    per_sess = chunked_sessions(ev)
    converted = (
        F.col("t_view").isNotNull()
        & (F.col("t_click") > F.col("t_view"))
        & (F.col("t_purchase") > F.col("t_click"))
    )
    return per_sess.groupBy("first_touch").agg(
        F.count(F.lit(1)).alias("n_sessions"),
        F.sum(F.when(converted, 1).otherwise(0)).cast("bigint").alias("n_converted"),
        F.sum("n_events").cast("bigint").alias("n_events"),
    )


@query(
    "cohort_retention",
    oracle="""
    WITH firsts AS (
      SELECT user_id,
             CAST(date_trunc('week', MIN(CAST(ts AS TIMESTAMP))) AS TIMESTAMP)
               AS cohort_week
      FROM events GROUP BY user_id
    ),
    activity AS (
      SELECT DISTINCT user_id,
             CAST(date_trunc('week', CAST(ts AS TIMESTAMP)) AS TIMESTAMP)
               AS active_week
      FROM events
    )
    SELECT f.cohort_week,
           CAST(date_diff('day', CAST(f.cohort_week AS DATE),
                          CAST(a.active_week AS DATE)) // 7 AS INT) AS week_offset,
           COUNT(*) AS n_users
    FROM activity a JOIN firsts f ON a.user_id = f.user_id
    GROUP BY 1, 2
    """,
)
def q_cohort_retention(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cohort retention: users bucketed by first-seen week, counted per
    subsequent active week offset. activity is deduplicated to
    (user, week) BEFORE the cohort join — the join and final
    aggregation operate on user-week granularity, not raw events."""
    ev = load_table(spark, sf_dir, "events")
    firsts = ev.groupBy("user_id").agg(
        F.date_trunc("week", F.min("ts")).alias("cohort_week")
    )
    activity = ev.select(
        "user_id", F.date_trunc("week", F.col("ts")).alias("active_week")
    ).distinct()
    return (
        activity.join(firsts, "user_id")
        .groupBy(
            "cohort_week",
            (
                F.datediff(
                    F.col("active_week").cast("date"),
                    F.col("cohort_week").cast("date"),
                )
                / 7
            )
            .cast("int")
            .alias("week_offset"),
        )
        .agg(F.count(F.lit(1)).alias("n_users"))
    )


@query(
    "gap_fill",
    oracle="""
    WITH bounds AS (
      SELECT CAST(date_trunc('hour', MIN(CAST(ts AS TIMESTAMP))) AS TIMESTAMP) AS lo,
             CAST(date_trunc('hour', MAX(CAST(ts AS TIMESTAMP))) AS TIMESTAMP) AS hi
      FROM events WHERE event_type = 'purchase'
    ),
    hours AS (
      SELECT CAST(unnest(generate_series(lo, hi, INTERVAL 1 HOUR)) AS TIMESTAMP)
               AS hour FROM bounds
    ),
    actual AS (
      SELECT CAST(date_trunc('hour', CAST(ts AS TIMESTAMP)) AS TIMESTAMP) AS hour,
             COUNT(*) AS n_events,
             CAST(SUM(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS sum_value
      FROM events WHERE event_type = 'purchase' GROUP BY 1
    )
    SELECT h.hour,
           COALESCE(a.n_events, 0) AS n_events,
           COALESCE(a.sum_value,
                    last_value(a.sum_value IGNORE NULLS)
                      OVER (ORDER BY h.hour
                            ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING))
             AS filled_value
    FROM hours h LEFT JOIN actual a ON a.hour = h.hour
    """,
)
def q_gap_fill(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Time-series gap filling: the dense hourly spine is GENERATED
    (sequence + explode — never materialized from data, so empty hours
    appear), sparse aggregates left-join onto it, and missing values
    carry the last observation forward (LOCF) with an ignore-nulls
    window. The spine generation is a single tiny row expanded
    worker-side; at 100 TB you generate per (entity, window) spines
    the same way and the join stays key-local."""
    ev = load_table(spark, sf_dir, "events").where(
        F.col("event_type") == "purchase"
    )
    bounds = ev.agg(
        F.date_trunc("hour", F.min("ts")).alias("lo"),
        F.date_trunc("hour", F.max("ts")).alias("hi"),
    )
    hours = bounds.select(
        F.explode(F.sequence("lo", "hi", F.expr("INTERVAL 1 HOUR"))).alias("hour")
    )
    actual = ev.groupBy(F.date_trunc("hour", "ts").alias("hour")).agg(
        F.count(F.lit(1)).alias("n_events"),
        exact_sum(F.col("value"), 2).alias("sum_value"),
    )
    from pyspark.sql import Window as W

    locf = (
        W.orderBy("hour").rowsBetween(W.unboundedPreceding, -1)
    )
    return (
        hours.join(actual, "hour", "left")
        .select(
            "hour",
            F.coalesce("n_events", F.lit(0)).alias("n_events"),
            F.coalesce(
                "sum_value", F.last("sum_value", ignorenulls=True).over(locf)
            ).alias("filled_value"),
        )
    )


_BLOOM_K = 4  # hash functions
_BLOOM_MIN_WORDS = 256  # 16 Ki bits floor — below this the literal is noise
_BLOOM_MAX_WORDS = 4096  # 256 Ki bits cap — the bitmap ships as a
# ~32 KB one-row BROADCAST relation (a Catalyst array literal was
# measured ~2.8 s of driver-side conversion per build at this width,
# and an expression-text literal would approach janino's 64 KB
# codegen limit; SCALE.md round-7 profile). At the cap, k=4 holds
# FPR<=2^-4 up to ~45K distinct build keys; beyond that FPR degrades
# gracefully (the exact join still corrects it) but the prefilter
# loses selectivity — at cluster scale raise the cap with executor
# memory or switch to spark.sql.optimizer.runtime.bloomFilter.


def _bloom_words(n_build_distinct: int) -> int:
    """Bitmap size in 64-bit words for a build side of ``n`` distinct
    keys: m = n*k/ln2 bits sets ~50% of bits, giving FPR ~= 2^-k
    (VERDICT r5 "What's wrong" #3 — a static size means FPR -> 1 as
    the build side grows and the prefilter silently degrades to a
    no-op scan cost). Rounded up to a power of two, clamped to
    [_BLOOM_MIN_WORDS, _BLOOM_MAX_WORDS]."""
    import math

    target_words = max(1, math.ceil(n_build_distinct * _BLOOM_K / math.log(2) / 64))
    pow2 = 1 << (target_words - 1).bit_length()
    return max(_BLOOM_MIN_WORDS, min(pow2, _BLOOM_MAX_WORDS))


@query(
    "bloom_filter_join",
    oracle="""
    SELECT o.o_orderpriority,
           COUNT(*) AS n_rows,
           CAST(SUM(CAST(l.l_extendedprice AS DECIMAL(18,2))) AS DOUBLE)
             AS sum_price
    FROM lineitem l
    JOIN orders o ON l.l_orderkey = o.o_orderkey
    WHERE o.o_orderpriority = '1-URGENT'
    GROUP BY o.o_orderpriority
    """,
)
def q_bloom_filter_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bloom-filter-accelerated join, built from Spark built-ins (the
    sandbox lacks the spark-avro-style packaged variant and
    bloom_filter_agg is not public SQL): ONE pass over the selective
    build side (urgent orders) aggregates a bloom bitmap at the cap
    size — k=4 xxhash64 seeds, bits OR-merged into longs via bit_or,
    a MERGEABLE map-side aggregate. The bitmap is then sized to the
    build's cardinality WITHOUT a second job: distinct count is
    estimated from the bitmap's own popcount
    (n ~= -(m/k)·ln(1 - X/m), the standard bloom cardinality
    estimator) and the cap bitmap FOLDS down to the target
    power-of-two size by OR-ing word i into i mod n_words — exact,
    because for pow2 moduli h mod 2^a mod 2^b == h mod 2^b, so the
    folded bitmap is bit-identical to one built at n_words directly
    (tests/test_skew.py proves the fold property). The sized bitmap
    ships to the probe side as a ~32 KB BROADCAST 1-row relation (a
    SQL-literal array costs ~0.5 s of driver parse/codegen at 4096
    words, and a forall lambda would break whole-stage codegen on
    the probe filter — both measured); probe rows failing any of the
    4 inlined bit tests drop in a Filter BEFORE the join's
    shuffle/broadcast — at 100 TB that is the entire value: the
    bloom cuts probe-side exchange volume by the build side's
    selectivity with zero extra shuffles (this is also exactly what
    Spark's own runtime bloom filter,
    spark.sql.optimizer.runtime.bloomFilter, injects for shuffle
    joins — spelled out here as a first-class operator). False
    positives survive the bloom but die in the real join, so the
    result — and the oracle — is the exact plain join."""
    orders = load_table(spark, sf_dir, "orders")
    build = orders.where(F.col("o_orderpriority") == "1-URGENT").select(
        "o_orderkey", "o_orderpriority"
    )

    # ONE pass over the build side, at cap size: all k bit positions
    # per key computed in an exploded array (a unionAll per seed would
    # scan the dimension k times; a separate count job would double
    # the build-side jobs)
    cap_bits = _BLOOM_MAX_WORDS * 64

    def word_bit(seed: int):
        h = F.pmod(F.xxhash64(F.col("o_orderkey"), F.lit(seed)), F.lit(cap_bits))
        return F.struct(
            (h / 64).cast("int").alias("w"), (h % 64).cast("int").alias("b")
        )

    bits = build.select(
        F.explode(F.array(*[word_bit(s) for s in range(_BLOOM_K)])).alias("e")
    ).select("e.w", "e.b")
    words_rows = (
        bits.groupBy("w")
        .agg(F.expr("bit_or(shiftleft(CAST(1 AS BIGINT), b))").alias("m"))
        .collect()
    )
    cap_words = [0] * _BLOOM_MAX_WORDS
    for r in words_rows:
        cap_words[int(r.w)] = int(r.m)

    # cardinality from popcount, then fold cap bitmap -> sized bitmap
    import math

    x_set = sum(w.bit_count() for w in cap_words)
    fill = min(x_set / cap_bits, 0.999)
    n_est = -(cap_bits / _BLOOM_K) * math.log(1.0 - fill)
    n_words = _bloom_words(int(n_est))
    words = [0] * n_words
    for i, w in enumerate(cap_words):
        words[i % n_words] |= w

    # one-row parameter relation via an Arrow table, NOT a Python list:
    # the list path plans applySchemaToPythonRDD (a Python worker spins
    # up to deserialize pickled rows — measured 1.5 s of task time in
    # this query's broadcast collect); the Arrow path crosses as one
    # columnar batch, ~10x faster end-to-end (r18 optimization round,
    # guide §4.1: control HOW data crosses the boundary)
    import pyarrow as pa

    wdf = spark.createDataFrame(
        pa.table({"bloom_words": pa.array([words], pa.list_(pa.int64()))})
    )
    li = load_table(spark, sf_dir, "lineitem")
    tests = []
    for seed in range(_BLOOM_K):
        h = f"pmod(xxhash64(l_orderkey, {seed}), {n_words * 64})"
        tests.append(
            f"(shiftright(element_at(bloom_words, CAST({h} / 64 AS INT) + 1),"
            f" CAST({h} % 64 AS INT)) & 1) = 1"
        )
    candidates = (
        li.join(F.broadcast(wdf))
        .where(F.expr(" AND ".join(tests)))
        .select("l_orderkey", "l_extendedprice")
    )
    return (
        candidates.join(
            F.broadcast(build), candidates.l_orderkey == build.o_orderkey
        )
        .groupBy("o_orderpriority")
        .agg(
            F.count(F.lit(1)).alias("n_rows"),
            exact_sum(F.col("l_extendedprice"), 2).alias("sum_price"),
        )
    )


@query(
    "salted_join",
    oracle="""
    WITH probe AS (
      SELECT CASE WHEN l_orderkey % 4 = 0 THEN l_orderkey ELSE 0 END AS sk,
             l_extendedprice
      FROM lineitem
    ),
    build AS (
      SELECT o_orderkey AS bk, o_orderpriority FROM orders WHERE o_orderkey % 4 = 0
      UNION ALL
      SELECT 0, 'HOT-KEY'
    )
    SELECT b.o_orderpriority,
           COUNT(*) AS n_rows,
           CAST(SUM(CAST(p.l_extendedprice AS DECIMAL(18,2))) AS DOUBLE) AS sum_price
    FROM probe p JOIN build b ON p.sk = b.bk
    GROUP BY b.o_orderpriority
    """,
)
def q_salted_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Skew-mitigated join as a first-class query: ~75% of probe rows
    collapse onto one hot key (the pathological single-key case AQE
    alone can't split past build-side granularity), and the join runs
    through plans/skew.py::salted_join — probe rows scatter across 8
    salts, the build side replicates, so the hot key's work spreads
    over 8 tasks. The result is salt-invariant, which is exactly what
    the plain-join oracle proves. Reference analog: the random output
    shifts in /root/reference/host/partition/partitioner.cc:47-54."""
    from dpu_olap_spark.plans.skew import salted_join

    li = load_table(spark, sf_dir, "lineitem")
    probe = li.select(
        F.when(F.col("l_orderkey") % 4 == 0, F.col("l_orderkey"))
        .otherwise(F.lit(0))
        .alias("sk"),
        "l_extendedprice",
    )
    orders = load_table(spark, sf_dir, "orders")
    build = (
        orders.where(F.col("o_orderkey") % 4 == 0)
        .select(F.col("o_orderkey").alias("bk"), "o_orderpriority")
        .unionAll(
            orders.limit(1).select(
                F.lit(0).cast("bigint").alias("bk"),
                F.lit("HOT-KEY").alias("o_orderpriority"),
            )
        )
    )
    return (
        salted_join(probe, build, "sk", "bk", n_salts=8)
        .groupBy("o_orderpriority")
        .agg(
            F.count(F.lit(1)).alias("n_rows"),
            exact_sum(F.col("l_extendedprice"), 2).alias("sum_price"),
        )
    )


@query(
    "time_weighted_avg",
    oracle="""
    WITH spans AS (
      SELECT user_id,
             CAST(floor(value * 100 + 0.5) AS BIGINT) AS cents,
             (epoch_us(lead(CAST(ts AS TIMESTAMP))
                OVER (PARTITION BY user_id
                      ORDER BY CAST(ts AS TIMESTAMP), event_id))
              - epoch_us(CAST(ts AS TIMESTAMP))) // 1000000 AS dur_s
      FROM events
    )
    SELECT user_id,
           COUNT(*) AS n_spans,
           CAST(SUM(dur_s) AS BIGINT) AS total_dur_s,
           CAST(SUM(cents * dur_s) AS BIGINT) AS weighted_cents_s,
           CAST(SUM(cents * dur_s) // SUM(dur_s) AS BIGINT) AS twa_cents
    FROM spans
    WHERE dur_s IS NOT NULL
    GROUP BY user_id
    HAVING SUM(dur_s) > 0
    """,
)
def q_time_weighted_avg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Time-weighted average over an IRREGULARLY-sampled series: each
    event's value holds until the user's next event, so the per-user
    mean weights every reading by how long it was current — the
    standard aggregation for sensor/metric streams, which a plain AVG
    silently mis-states whenever sampling is bursty.  The reference
    has no time-series operator at all (its aggregate kernel is plain
    SUM, host/aggr/aggr_native.cc:67-73).

    Exactness: values go through the house cents cast, durations are
    floor-of-microseconds seconds (non-negative by the window order),
    and the final ratio is Spark DIV vs DuckDB // — BOTH truncate
    toward zero, so the engines agree for negative weighted sums too
    (probed -7 DIV 2 = -3 in both; pinned cross-engine by
    test_time_weighted_avg_negative_values_regime, which also attests
    min(events.value) >= 0 in every driver fixture via parquet
    statistics — r13 ADVICE).  Zero total durations are HAVING'd out
    on both sides, sidestepping the //0-raise vs DIV-0-NULL edge.  Each user's LAST event carries no duration
    (lead is NULL) and drops from the weighting on both engines.

    Scale: one shuffle on user_id for the lead() window, then the
    aggregation reuses that partitioning (no second exchange); state
    is two BIGINTs per user.  Never a self-join — the naive
    event-to-next-event pairing is the range_join pattern, 10x the
    shuffle width for the same answer."""
    from pyspark.sql import Window as W

    ev = load_table(spark, sf_dir, "events")
    w = W.partitionBy("user_id").orderBy(F.col("ts"), F.col("event_id"))
    spans = ev.select(
        "user_id",
        F.floor(F.col("value") * 100 + 0.5).cast("bigint").alias("cents"),
        (
            F.unix_micros(F.lead("ts", 1).over(w))
            - F.unix_micros(F.col("ts"))
        ).alias("dur_us"),
    ).select(
        "user_id",
        "cents",
        F.expr("dur_us DIV 1000000").alias("dur_s"),
    )
    return (
        spans.where(F.col("dur_s").isNotNull())
        .groupBy("user_id")
        .agg(
            F.count(F.lit(1)).alias("n_spans"),
            F.sum("dur_s").cast("bigint").alias("total_dur_s"),
            F.sum(F.col("cents") * F.col("dur_s"))
            .cast("bigint")
            .alias("weighted_cents_s"),
            F.expr(
                "CAST(SUM(cents * dur_s) DIV SUM(dur_s) AS BIGINT)"
            ).alias("twa_cents"),
        )
        .where(F.col("total_dur_s") > 0)
    )


@query(
    "heavy_hitters",
    oracle="""
    WITH c AS (
      SELECT CAST(date_trunc('day', CAST(ts AS TIMESTAMP)) AS TIMESTAMP)
               AS day,
             event_type,
             COUNT(*) AS cnt
      FROM events
      GROUP BY 1, 2
    ),
    t AS (
      SELECT day, event_type, cnt,
             CAST(SUM(cnt) OVER (PARTITION BY day) AS BIGINT) AS day_total
      FROM c
    )
    SELECT day, event_type, cnt, day_total,
           (1000000 * cnt) // day_total AS share_ppm
    FROM t
    WHERE 5 * cnt > day_total
    """,
)
def q_heavy_hitters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """EXACT heavy hitters — event types holding a STRICT >1/5 share
    of their day's traffic (the exact-verification pass of the
    Misra-Gries / SpaceSaving frequent-items scheme: a streaming
    sketch admits at most k-1 = 4 candidates above threshold 1/k;
    this operator IS the exact count that confirms them, and at any
    k its output is bounded to < k rows per group BY CONSTRUCTION —
    strictly-greater than tot/5 can hold for at most 4 types).

    Semantics (deterministic, engine-exact): the threshold is the
    integer cross-multiplication 5*cnt > day_total — no division, no
    floats (the rule-9 discipline); share_ppm is truncating division
    of non-negative BIGINTs (floor-equal on both engines); day is
    date_trunc('day') kept as TIMESTAMP on both sides (the rule-4
    coarse-date_trunc seam spelling).  At least one type always
    reaches cnt >= tot/5, so a day drops out entirely only under an
    exact five-way tie — the all-tied and one-dominant regimes are
    both forced in the differential.

    Scale: exchange 1 carries map-side partial-combined (day, type)
    counts — bounded by days x types regardless of event volume;
    exchange 2 re-keys that bounded table on day for the
    partition-total window; the filter and ppm projection run on
    window output.  Plan-gated ==2 Exchanges, scan pruned to
    (ts, event_type).  The naive alternative (join each event row
    against its day total) would shuffle the fact twice."""
    from pyspark.sql import Window as W

    ev = load_table(spark, sf_dir, "events").select(
        F.date_trunc("day", F.col("ts")).alias("day"), "event_type"
    )
    counts = ev.groupBy("day", "event_type").agg(
        F.count(F.lit(1)).alias("cnt")
    )
    w_all = W.partitionBy("day")
    with_tot = counts.select(
        "day",
        "event_type",
        "cnt",
        F.sum("cnt").over(w_all).alias("day_total"),
    )
    return with_tot.where(
        5 * F.col("cnt") > F.col("day_total")
    ).select(
        "day",
        "event_type",
        "cnt",
        "day_total",
        F.expr("(1000000 * cnt) DIV day_total").alias("share_ppm"),
    )
