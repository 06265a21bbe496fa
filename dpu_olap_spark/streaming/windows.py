"""Structured Streaming over the `events` table: tumbling-window
aggregation executed as a real stream (file source, availableNow
trigger, memory sink), plus batch sliding windows.

The reference is purely batch (SURVEY.md section 2.9); this module is
the streaming slice of the engine. Correctness strategy: run the
stream in COMPLETE output mode so the final state equals the batch
windowed GROUP BY — which is exactly the DuckDB oracle (time_bucket).
Watermark semantics (append mode, late-data eviction) are covered by
pytest (tests/test_streaming.py) where we control batch boundaries.

Scale notes: windowed streaming aggregation keys state by (window,
group); watermarks bound state size. On a cluster this runs unchanged
against kafka/file sources with checkpointing.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from dpu_olap_spark.registry import query
from dpu_olap_spark.sources.tables import (
    events_state_partitions,
    join_replay_partitions,
    load_events_stream,
    load_table,
    run_to_memory_sink,
)


def interval_join_pipeline(
    spark: SparkSession,
    sf_dir: str,
    how: str = "inner",
    watermark: str = "1 hour",
    source=None,
) -> DataFrame:
    """The purchases x clicks 30-minute interval join shared by
    stream_stream_join / stream_left_outer_join /
    stream_full_outer_join and the replay entry point
    (streaming.replay) — ONE definition, so the replay levers
    measured on it (SCALE.md, round-16 stream-stream join replay)
    apply to the registered pipeline verbatim.  ``source`` is
    an optional zero-arg factory returning a fresh streaming events
    DF (the chunked-replay variants); default = the single-file
    loader.  ``watermark`` parametrizes the eviction horizon (both
    sides always share it).

    Both sides derive from ONE shared streaming source (a stream
    self-join) instead of each building its own readStream (r19,
    guide §1.2): the two sources consumed identical batches but the
    engine paid source discovery (latestOffset), getBatch, and offset
    bookkeeping per source per micro-batch — measured on the 5-batch
    chunked replay at sf0.1: latestOffset 320→170 ms, getBatch
    58→32 ms, queryPlanning ~−10%, identical 39,705 emitted rows and
    value checksum (OPTIMIZATION_r19.md, "Shared streaming source").
    Each side still scans its own branch; watermarks stay per-branch
    (Spark's min-watermark policy across the two, unchanged by
    sharing)."""
    shared = source() if source is not None else load_events_stream(spark, sf_dir)

    def side(kind: str, id_alias: str, ts_alias: str) -> DataFrame:
        return shared.where(F.col("event_type") == kind).select(
            F.col("user_id").alias(f"{kind}_user"),
            F.col("event_id").alias(id_alias),
            F.col("ts").alias(ts_alias),
        )

    p = side("purchase", "purchase_id", "pts").withWatermark("pts", watermark)
    c = side("click", "click_id", "cts").withWatermark("cts", watermark)
    joined = p.join(
        c,
        F.expr(
            "purchase_user = click_user AND "
            "cts BETWEEN pts - INTERVAL 30 MINUTES AND pts"
        ),
        how,
    )
    user = (
        F.coalesce("purchase_user", "click_user")
        if how == "fullOuter"
        else F.col("purchase_user")
    )
    return joined.select(user.alias("user_id"), "purchase_id", "click_id")


def tumbling_agg(events: DataFrame, window: str = "1 hour") -> DataFrame:
    """The windowed aggregation, applicable to a batch OR streaming DF
    (same code path — Structured Streaming's core design point)."""
    return (
        events.withWatermark("ts", "10 minutes")
        .groupBy(F.window("ts", window).alias("w"), F.col("event_type"))
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.sum(F.col("value").cast("decimal(18,2)")).cast("double").alias("sum_value"),
        )
        .select(
            F.col("w.start").alias("window_start"),
            "event_type",
            "n_events",
            "sum_value",
        )
    )


@query(
    "stream_static_join",
    oracle="""
    SELECT c.c_mktsegment,
           COUNT(*) AS n_events,
           CAST(SUM(CAST(e.value AS DECIMAL(18,2))) AS DOUBLE) AS sum_value
    FROM events e JOIN customer c ON e.user_id = c.c_custkey
    GROUP BY 1
    """,
)
def q_stream_static_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Stream-static join — the most common production streaming
    shape: each micro-batch of the events stream enriches against the
    STATIC customer dimension (broadcast per batch, no state, no
    watermark needed on the static side — Spark re-plans the batch
    side each trigger, which is also how slowly-changing dims pick up
    updates), then aggregates per market segment in complete mode.
    The static side must stay broadcast: a shuffled stream-static
    join would re-shuffle every micro-batch. Oracle = the same join
    as one batch query."""
    stream = load_events_stream(spark, sf_dir)
    cust = load_table(spark, sf_dir, "customer").select("c_custkey", "c_mktsegment")
    joined = stream.join(F.broadcast(cust), stream.user_id == cust.c_custkey)
    agg = joined.groupBy("c_mktsegment").agg(
        F.count(F.lit(1)).alias("n_events"),
        F.sum(F.col("value").cast("decimal(18,2)")).cast("double").alias("sum_value"),
    )
    return run_to_memory_sink(agg, "stream_static_join_sink", "complete",
                              state_partitions=events_state_partitions(spark, sf_dir))


@query(
    "stream_tumbling",
    oracle="""
    SELECT
      time_bucket(INTERVAL '1 hour', CAST(ts AS TIMESTAMP)) AS window_start,
      event_type,
      COUNT(*) AS n_events,
      CAST(SUM(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS sum_value
    FROM events
    GROUP BY 1, 2
    """,
)
def q_stream_tumbling(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hourly tumbling counts/sums per event_type, executed as a real
    Structured Streaming job (parquet file source, availableNow trigger,
    complete-mode memory sink) and returned as the final result table."""
    stream = load_events_stream(spark, sf_dir)
    return run_to_memory_sink(
        tumbling_agg(stream), "stream_tumbling_sink", "complete",
        state_partitions=events_state_partitions(spark, sf_dir),
    )


@query(
    "window_sliding",
    oracle="""
    WITH slid AS (
      SELECT
        time_bucket(INTERVAL '30 minutes', CAST(ts AS TIMESTAMP))
          - (INTERVAL '30 minutes' * k) AS window_start,
        event_type
      FROM events, (SELECT unnest([0, 1]) AS k) offs
    )
    SELECT window_start, event_type, COUNT(*) AS n_events
    FROM slid GROUP BY 1, 2
    """,
)
def q_window_sliding(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sliding windows (1 h width, 30 min slide): each event lands in 2
    overlapping windows. The oracle reproduces Spark's window set via
    time_bucket minus k slides."""
    ev = load_table(spark, sf_dir, "events")
    return (
        ev.groupBy(F.window("ts", "1 hour", "30 minutes").alias("w"), "event_type")
        .agg(F.count(F.lit(1)).alias("n_events"))
        .select(F.col("w.start").alias("window_start"), "event_type", "n_events")
    )


@query(
    "session_window",
    oracle="""
    WITH us AS (
      SELECT user_id, event_id, CAST(ts AS TIMESTAMP) AS ts FROM events
    ),
    ordered AS (
      SELECT user_id, event_id, ts,
             lag(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS prev_ts
      FROM us
    ),
    marked AS (
      SELECT user_id, event_id, ts,
        CASE WHEN prev_ts IS NULL
                  OR ts - prev_ts > INTERVAL '30 minutes' THEN 1 ELSE 0 END AS new_sess
      FROM ordered
    ),
    sess AS (
      SELECT user_id, ts,
             SUM(new_sess) OVER (PARTITION BY user_id ORDER BY ts, event_id
                                 ROWS UNBOUNDED PRECEDING) AS sess_id
      FROM marked
    )
    SELECT user_id, CAST(sess_id AS BIGINT) AS sess_id, COUNT(*) AS n_events,
           CAST(min(ts) AS TIMESTAMP) AS sess_start
    FROM sess GROUP BY user_id, sess_id
    """,
)
def q_session_window(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sessionization (30-minute inactivity gap) via the classic
    lag/flag/prefix-sum window composition. Spark also offers
    F.session_window for the streaming path (tests/test_streaming.py);
    this batch formulation is oracle-verifiable and shuffle-optimal:
    one hash partition by user_id, in-partition sort, no extra passes.

    Note: `ts` is truncated to whole microseconds on both engines (the
    parquet column is ns; Spark reads us) so the gap comparison agrees.
    """
    ev = load_table(spark, sf_dir, "events")
    from pyspark.sql import Window as W

    order = W.partitionBy("user_id").orderBy("ts", "event_id")
    marked = ev.select(
        "user_id",
        "event_id",
        "ts",
        F.when(
            F.lag("ts").over(order).isNull()
            # exact integer microseconds, not epoch-seconds doubles: a
            # double carries ~0.2us representation error at modern
            # epochs, enough to misclassify a gap within a ULP of
            # exactly 30 minutes differently than the oracle
            | (
                F.unix_micros("ts") - F.unix_micros(F.lag("ts").over(order))
                > 1_800_000_000
            ),
            1,
        )
        .otherwise(0)
        .alias("new_sess"),
    )
    # same (ts, event_id) total order as the flag window — a ts tie must
    # not reorder accumulation between engines
    acc = W.partitionBy("user_id").orderBy("ts", "event_id").rowsBetween(W.unboundedPreceding, W.currentRow)
    sess = marked.select(
        "user_id", "ts", F.sum("new_sess").over(acc).cast("bigint").alias("sess_id")
    )
    return sess.groupBy("user_id", "sess_id").agg(
        F.count(F.lit(1)).alias("n_events"), F.min("ts").alias("sess_start")
    )


@query(
    "stream_stream_join",
    oracle="""
    WITH p AS (
      SELECT user_id, event_id AS purchase_id, CAST(ts AS TIMESTAMP) AS pts
      FROM events WHERE event_type = 'purchase'
    ),
    c AS (
      SELECT user_id, event_id AS click_id, CAST(ts AS TIMESTAMP) AS cts
      FROM events WHERE event_type = 'click'
    )
    SELECT p.user_id, p.purchase_id, c.click_id
    FROM p JOIN c
      ON p.user_id = c.user_id
     AND c.cts BETWEEN p.pts - INTERVAL '30 minutes' AND p.pts
    """,
)
def q_stream_stream_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Stream-stream interval join run as a real stream: purchases
    joined to same-user clicks in the preceding 30 minutes, both sides
    watermarked (bounded state). Inner interval joins emit matches as
    they occur, so the availableNow run over a finite source equals
    the batch join — the oracle."""
    joined = interval_join_pipeline(spark, sf_dir, how="inner")
    return run_to_memory_sink(joined, "stream_ss_join", "append",
                              state_partitions=join_replay_partitions(spark, sf_dir))


@query(
    "stream_dedup",
    oracle="""
    SELECT event_type,
           COUNT(*) AS n_events,
           COUNT(DISTINCT user_id) AS n_users,
           CAST(SUM(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS sum_value
    FROM events
    GROUP BY event_type
    """,
)
def q_stream_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming exact deduplication: the event stream UNIONED WITH
    ITSELF (every event_id arrives twice) flows through
    dropDuplicatesWithinWatermark on the key, append-mode, into a
    memory sink; a batch aggregation over the sink then matches the
    oracle computed on the ORIGINAL (duplicate-free) table — doubled
    counts or sums would break the hash, so the equality proves the
    dedup state actually dropped every duplicate. This is the
    ingest-time guard against at-least-once sources (kafka replays,
    file redeliveries); WithinWatermark is what bounds the key state
    at 100 TB/day — keys older than the watermark are evicted instead
    of accumulating forever, the difference between a dedup that runs
    for months and one that OOMs in an hour."""
    stream = load_events_stream(spark, sf_dir)
    doubled = stream.unionAll(stream)
    deduped = doubled.withWatermark("ts", "10 minutes").dropDuplicatesWithinWatermark(
        ["event_id"]
    )
    return (
        run_to_memory_sink(deduped, "stream_dedup_sink", "append",
                           state_partitions=events_state_partitions(spark, sf_dir))
        .groupBy("event_type")
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.count_distinct("user_id").alias("n_users"),
            F.sum(F.col("value").cast("decimal(18,2)"))
            .cast("double")
            .alias("sum_value"),
        )
    )


@query(
    "stream_dedup_unbounded",
    oracle="""
    SELECT event_type, COUNT(DISTINCT user_id) AS n_users
    FROM events GROUP BY event_type
    """,
)
def q_stream_dedup_unbounded(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming dropDuplicates WITHOUT a watermark — the other half
    of the dedup API surface (stream_dedup covers the
    watermark-bounded WithinWatermark variant): every (user_id,
    event_type) pair is kept exactly once with the key set held in
    state FOREVER. That unbounded retention is precisely what makes
    this the right tool only for finite backfills or small key
    domains (here: users x 5 event types) and the WRONG tool for an
    infinite 100 TB/day stream — the docs of both queries point at
    each other so the trade-off is explicit. First-occurrence
    semantics make the deduped set order-independent, so the batch
    COUNT(DISTINCT) oracle is exact."""
    stream = load_events_stream(spark, sf_dir).select("user_id", "event_type")
    deduped = stream.dropDuplicates(["user_id", "event_type"])
    return (
        run_to_memory_sink(deduped, "stream_dedup_unb", "append",
                           state_partitions=events_state_partitions(spark, sf_dir))
        .groupBy("event_type")
        .agg(F.count(F.lit(1)).alias("n_users"))
    )


@query(
    "stream_left_outer_join",
    oracle="""
    WITH p AS (
      SELECT user_id, event_id AS purchase_id, CAST(ts AS TIMESTAMP) AS pts
      FROM events WHERE event_type = 'purchase'
    ),
    c AS (
      SELECT user_id, event_id AS click_id, CAST(ts AS TIMESTAMP) AS cts
      FROM events WHERE event_type = 'click'
    ),
    wm AS (
      SELECT least((SELECT date_trunc('milliseconds', max(pts)) FROM p),
                   (SELECT date_trunc('milliseconds', max(cts)) FROM c))
             - INTERVAL '1 hour' AS w
    ),
    j AS (
      SELECT p.user_id, p.purchase_id, p.pts, c.click_id
      FROM p LEFT JOIN c ON p.user_id = c.user_id
       AND c.cts BETWEEN p.pts - INTERVAL '30 minutes' AND p.pts
    )
    SELECT user_id, purchase_id, click_id
    FROM j
    WHERE click_id IS NOT NULL OR pts < (SELECT w FROM wm)
    """,
)
def q_stream_left_outer_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Stream-stream LEFT OUTER interval join: every purchase emits —
    joined to same-user clicks in the preceding 30 minutes when they
    exist, null-extended otherwise. Matches emit as they occur (the
    inner path); a null-extended row emits only when the GLOBAL
    watermark proves no future click can match, i.e. the purchase's
    state entry is evicted.

    The oracle encodes the eviction rule exactly, empirically pinned
    (probe, this round): the global watermark is the MIN over both
    withWatermark operators of (that side's max event time, truncated
    to Spark's millisecond watermark domain, minus the 1 h delay) —
    NOT the overall max ts, because each side's watermark tracks only
    the rows that survive its own upstream filter. Unmatched purchases
    with pts >= that watermark are still in state when the availableNow
    drain ends and are correctly withheld (they'd emit on the next
    batch of a live stream). At 100 TB the same rule is why outer
    results trail the watermark delay in production: state is bounded
    by (delay + range) per side, sharded by the join key."""
    joined = interval_join_pipeline(spark, sf_dir, how="leftOuter")
    return run_to_memory_sink(joined, "stream_lo_join", "append",
                              state_partitions=join_replay_partitions(spark, sf_dir))


@query(
    "stream_session_append",
    oracle="""
    WITH us AS (
      SELECT user_id, event_id, CAST(ts AS TIMESTAMP) AS ts FROM events
    ),
    ordered AS (
      SELECT user_id, event_id, ts,
             lag(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS prev_ts
      FROM us
    ),
    marked AS (
      SELECT user_id, event_id, ts,
        -- STRICTLY greater: session_window merges an event arriving
        -- exactly at the previous session's end (r11 differential)
        CASE WHEN prev_ts IS NULL
                  OR ts - prev_ts > INTERVAL '30 minutes' THEN 1 ELSE 0 END AS new_sess
      FROM ordered
    ),
    sess AS (
      SELECT user_id, ts,
             SUM(new_sess) OVER (PARTITION BY user_id ORDER BY ts, event_id
                                 ROWS UNBOUNDED PRECEDING) AS sid
      FROM marked
    ),
    g AS (
      SELECT user_id,
             CAST(MIN(ts) AS TIMESTAMP) AS sess_start,
             CAST(MAX(ts) + INTERVAL '30 minutes' AS TIMESTAMP) AS sess_end,
             COUNT(*) AS n_events
      FROM sess GROUP BY user_id, sid
    ),
    wm AS (
      SELECT date_trunc('milliseconds', max(CAST(ts AS TIMESTAMP)))
             - INTERVAL '2 hours' AS w
      FROM events
    )
    SELECT user_id, sess_start, sess_end, n_events
    FROM g WHERE sess_end <= (SELECT w FROM wm)
    """,
)
def q_stream_session_append(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming sessionization in APPEND mode: each session row is
    emitted exactly once, when the watermark passes its end (last
    event + 30 min gap) and the merge operator evicts it — the
    complement of statestore_session_read, which reads the sessions
    still OPEN in state. Together they account for every session: at
    100 TB this pair is the session pipeline's delivery contract
    (closed sessions flow downstream once; in-flight ones are
    inspectable, never lost).

    The oracle is the batch gaps-and-islands sessionization filtered
    to sessions closed at the final watermark = ms-truncated max event
    time minus the 2 h delay (single source, so no min-across-sides
    here), emission boundary sess_end <= watermark — INCLUSIVE, unlike
    the join-state eviction's strict < (r11 forced-boundary
    differential: a session ending exactly AT the watermark emits;
    earlier probes at sf0.001 could not distinguish <= from < because
    no session end ever hit the watermark exactly)."""
    stream = load_events_stream(spark, sf_dir)
    agg = (
        stream.withWatermark("ts", "2 hours")
        .groupBy(F.session_window("ts", "30 minutes").alias("sw"), F.col("user_id"))
        .agg(F.count(F.lit(1)).alias("n_events"))
        .select(
            "user_id",
            F.col("sw.start").alias("sess_start"),
            F.col("sw.end").alias("sess_end"),
            "n_events",
        )
    )
    return run_to_memory_sink(agg, "stream_sess_app", "append",
                              state_partitions=events_state_partitions(spark, sf_dir))


@query(
    "stream_full_outer_join",
    oracle="""
    WITH p AS (
      SELECT user_id, event_id AS purchase_id, CAST(ts AS TIMESTAMP) AS pts
      FROM events WHERE event_type = 'purchase'
    ),
    c AS (
      SELECT user_id, event_id AS click_id, CAST(ts AS TIMESTAMP) AS cts
      FROM events WHERE event_type = 'click'
    ),
    wm AS (
      SELECT least((SELECT date_trunc('milliseconds', max(pts)) FROM p),
                   (SELECT date_trunc('milliseconds', max(cts)) FROM c))
             - INTERVAL '1 hour' AS w
    ),
    j AS (
      SELECT COALESCE(p.user_id, c.user_id) AS user_id,
             p.purchase_id, p.pts, c.click_id, c.cts
      FROM p FULL JOIN c ON p.user_id = c.user_id
       AND c.cts BETWEEN p.pts - INTERVAL '30 minutes' AND p.pts
    )
    SELECT user_id, purchase_id, click_id
    FROM j
    WHERE (purchase_id IS NOT NULL AND click_id IS NOT NULL)
       OR (click_id IS NULL AND pts < (SELECT w FROM wm))
       OR (purchase_id IS NULL AND cts < (SELECT w FROM wm) - INTERVAL '30 minutes')
    """,
)
def q_stream_full_outer_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Stream-stream FULL OUTER interval join — both sides' unmatched
    rows emit null-extended when their state evicts, completing the
    streaming outer-join family (inner: stream_stream_join, left:
    stream_left_outer_join). The oracle applies BOTH eviction rules at
    once, each already pinned empirically: unmatched purchases emit
    while pts < global watermark; unmatched clicks emit while
    cts < watermark - 30 min (the range bound — a future purchase at
    the watermark can still reach 30 min back; same bound the
    joinstate_read state rows obey). Global watermark = min across
    both withWatermark operators of (ms-truncated post-filter max
    event time - 1 h)."""
    joined = interval_join_pipeline(spark, sf_dir, how="fullOuter")
    return run_to_memory_sink(joined, "stream_fo_join", "append",
                              state_partitions=join_replay_partitions(spark, sf_dir))
