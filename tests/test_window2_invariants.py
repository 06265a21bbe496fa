"""Behavioral invariants for the round-6 second-window operators —
the properties that make them right at scale, beyond oracle equality."""

from __future__ import annotations

from hypothesis import given, settings
from hypothesis import strategies as st

from pyspark.sql import functions as F

from dpu_olap_spark.registry import all_queries
from dpu_olap_spark.sources.tables import load_table

SF = "/root/testdata/sf0.001"


def _py_zvalue(x: int, y: int, bits: int = 16) -> int:
    z = 0
    for i in range(bits):
        z |= ((x >> i) & 1) << (2 * i)
        z |= ((y >> i) & 1) << (2 * i + 1)
    return z


@given(
    st.lists(
        st.tuples(
            st.integers(min_value=0, max_value=(1 << 16) - 1),
            st.integers(min_value=0, max_value=(1 << 16) - 1),
        ),
        min_size=1,
        max_size=50,
    )
)
@settings(max_examples=10, deadline=None)
def test_zvalue_matches_python_reference(spark, pairs):
    """The column-expression Morton interleave is bit-exact vs a plain
    Python reference for arbitrary 16-bit inputs."""
    from dpu_olap_spark.sources.sink_queries import _zvalue

    df = spark.createDataFrame(pairs, "x int, y int")
    got = [r.z for r in df.select(_zvalue(F.col("x"), F.col("y")).alias("z")).collect()]
    want = [_py_zvalue(x, y) for x, y in pairs]
    assert got == want


def test_zvalue_quadrant_locality(spark):
    """Z-order's point: points sharing high key bits share high Z bits
    — each (x-half, y-half) quadrant of the key space maps to one
    contiguous quarter of the Z range. That is what lets min-max file
    stats prune on either dimension."""
    from dpu_olap_spark.sources.sink_queries import _zvalue

    pts = [(x, y) for x in (0, 1, 2**15 - 1, 2**15, 2**16 - 1) for y in (0, 3, 2**15 - 1, 2**15, 2**16 - 1)]
    df = spark.createDataFrame(pts, "x int, y int")
    rows = df.select("x", "y", _zvalue(F.col("x"), F.col("y")).alias("z")).collect()
    for r in rows:
        # top two Z bits are exactly (y_msb, x_msb)
        assert (r.z >> 31) & 1 == (r.y >> 15) & 1
        assert (r.z >> 30) & 1 == (r.x >> 15) & 1


def test_corpus_mix_local_filter_is_superset(spark):
    """Phase-1's local-budget candidates must be a SUPERSET of the
    final selection (the two-phase rewrite is only correct because a
    row's local prefix sum never exceeds its global one) — and the
    realized per-source chars never exceed budget + one document."""
    from dpu_olap_spark.llm.curation import _MIX_BUDGET_CHARS

    out = {r.source: r for r in all_queries()["corpus_mix"].build(spark, SF).collect()}
    docs = load_table(spark, SF, "documents")
    max_chars = {
        r.source: r.m for r in docs.groupBy("source").agg(F.max("n_chars").alias("m")).collect()
    }
    for src, r in out.items():
        assert r.chars_taken < _MIX_BUDGET_CHARS + max_chars[src], (src, r)
        assert r.n_docs >= 1


def test_quality_sample_growth_stable(spark):
    """A document's retention decision is a pure function of its own
    (doc_id, tier): running the operator on the FULL corpus and on a
    half corpus must agree on every doc present in both — the property
    that makes the sample stable as the corpus grows."""
    full = {
        r.doc_id for r in all_queries()["quality_sample"].build(spark, SF).collect()
    }
    docs = load_table(spark, SF, "documents").where(F.col("doc_id") % 2 == 0)
    h1 = F.substring(F.md5(F.col("doc_id").cast("string")), 1, 1)
    keep = (
        F.when(F.col("n_chars") >= 1500, F.lit(True))
        .when(F.col("n_chars") >= 500, h1 < "8")
        .otherwise(h1.isin("0", "1"))
    )
    half = {r.doc_id for r in docs.where(keep).collect()}
    all_even = {r.doc_id for r in docs.collect()}
    assert half == {d for d in full if d in all_even}


def test_changefeed_history_is_monotone(spark):
    """The change feed's per-key value history must be monotonically
    non-decreasing counts (update-mode counting never shrinks) and end
    at the final aggregate — the audit property the feed exists for."""
    from dpu_olap_spark.sources.tables import _LIVE_DIRS

    final = {
        (r.user_id): r.n_events
        for r in all_queries()["statestore_changefeed"].build(spark, SF).collect()
    }
    feed = (
        spark.read.format("statestore")
        .option("readChangeFeed", "true")
        .option("changeStartBatchId", "0")
        .load(_LIVE_DIRS["cf_ckpt"])
        .select(
            F.col("batch_id"),
            F.col("key.user_id").alias("user_id"),
            F.col("value.count").alias("n"),
        )
        .collect()
    )
    hist: dict[int, list[tuple[int, int]]] = {}
    for r in feed:
        hist.setdefault(r.user_id, []).append((r.batch_id, r.n))
    for uid, h in hist.items():
        h.sort()
        assert all(a[1] <= b[1] for a, b in zip(h, h[1:])), (uid, h)
        assert h[-1][1] == final[uid]


def test_session_pair_accounts_for_every_session(spark, tmp_path):
    """The delivery contract claimed by stream_session_append +
    statestore_session_read, proven on ONE pipeline (same 2 h delay):
    sessions EMITTED in append mode and sessions REMAINING in state
    are disjoint and together equal the batch sessionization."""
    from dpu_olap_spark.sources.tables import _STATE_CONF_LOCK, load_events_stream

    sf = "/root/testdata/sf0.001"
    stream = load_events_stream(spark, sf)
    agg = (
        stream.withWatermark("ts", "2 hours")
        .groupBy(F.session_window("ts", "30 minutes").alias("sw"), F.col("user_id"))
        .agg(F.count(F.lit(1)).alias("n_events"))
        .select("user_id", F.col("sw.start").alias("sess_start"), "n_events")
    )
    ckpt = str(tmp_path / "sess_pair")
    with _STATE_CONF_LOCK:
        prev = spark.conf.get("spark.sql.shuffle.partitions", None)
        spark.conf.set("spark.sql.shuffle.partitions", "8")
        try:
            q = (
                agg.writeStream.outputMode("append")
                .format("memory")
                .queryName("sess_pair_sink")
                .option("checkpointLocation", ckpt)
                .trigger(availableNow=True)
                .start()
            )
        finally:
            if prev is None:
                spark.conf.unset("spark.sql.shuffle.partitions")
            else:
                spark.conf.set("spark.sql.shuffle.partitions", prev)
    assert q.awaitTermination(180)
    q.stop()
    emitted = {
        (r.user_id, r.sess_start, r.n_events)
        for r in spark.table("sess_pair_sink").collect()
    }
    in_state = {
        (r.user_id, r.sess_start, r.n)
        for r in spark.read.format("statestore")
        .load(ckpt)
        .select(
            F.col("key.user_id").alias("user_id"),
            F.col("value.session_window.start").alias("sess_start"),
            F.col("value.count").alias("n"),
        )
        .collect()
    }
    assert emitted.isdisjoint(in_state)

    from pyspark.sql import Window as W

    ev = spark.read.parquet(f"{sf}/events.parquet")
    order = W.partitionBy("user_id").orderBy("ts", "event_id")
    marked = ev.select(
        "user_id",
        "ts",
        F.when(
            F.lag("ts").over(order).isNull()
            | (
                F.unix_micros("ts") - F.unix_micros(F.lag("ts").over(order))
                >= 1_800_000_000
            ),
            1,
        )
        .otherwise(0)
        .alias("ns"),
    )
    acc = W.partitionBy("user_id").orderBy("ts").rowsBetween(W.unboundedPreceding, W.currentRow)
    sess = marked.select("user_id", "ts", F.sum("ns").over(acc).alias("sid"))
    batch = {
        (r.user_id, r.sess_start, r.n)
        for r in sess.groupBy("user_id", "sid")
        .agg(F.min("ts").alias("sess_start"), F.count(F.lit(1)).alias("n"))
        .select("user_id", "sess_start", "n")
        .collect()
    }
    assert emitted | in_state == batch


def test_left_outer_join_accounts_for_every_purchase(spark, tmp_path):
    """stream_left_outer_join completeness: every UNMATCHED purchase is
    either emitted null-extended or still held in left join state —
    disjointly, with nothing lost."""
    from dpu_olap_spark.sources.tables import _STATE_CONF_LOCK, load_events_stream

    sf = "/root/testdata/sf0.001"

    def side(kind, id_alias, ts_alias):
        s = load_events_stream(spark, sf)
        return s.where(F.col("event_type") == kind).select(
            F.col("user_id").alias(f"{kind}_user"),
            F.col("event_id").alias(id_alias),
            F.col("ts").alias(ts_alias),
        )

    p = side("purchase", "purchase_id", "pts").withWatermark("pts", "1 hour")
    c = side("click", "click_id", "cts").withWatermark("cts", "1 hour")
    joined = p.join(
        c,
        F.expr(
            "purchase_user = click_user AND "
            "cts BETWEEN pts - INTERVAL 30 MINUTES AND pts"
        ),
        "leftOuter",
    ).select(F.col("purchase_user").alias("user_id"), "purchase_id", "click_id")
    ckpt = str(tmp_path / "lo_acct")
    with _STATE_CONF_LOCK:
        prev = spark.conf.get("spark.sql.shuffle.partitions", None)
        spark.conf.set("spark.sql.shuffle.partitions", "8")
        try:
            q = (
                joined.writeStream.outputMode("append")
                .format("memory")
                .queryName("lo_acct_sink")
                .option("checkpointLocation", ckpt)
                .trigger(availableNow=True)
                .start()
            )
        finally:
            if prev is None:
                spark.conf.unset("spark.sql.shuffle.partitions")
            else:
                spark.conf.set("spark.sql.shuffle.partitions", prev)
    assert q.awaitTermination(180)
    q.stop()
    out = spark.table("lo_acct_sink")
    null_emitted = {r.purchase_id for r in out.where(F.col("click_id").isNull()).collect()}
    matched = {r.purchase_id for r in out.where(F.col("click_id").isNotNull()).collect()}
    in_state = {
        r.pid
        for r in spark.read.format("statestore")
        .option("joinSide", "left")
        .load(ckpt)
        .select(F.col("value.purchase_id").alias("pid"))
        .collect()
    }

    ev = spark.read.parquet(f"{sf}/events.parquet")
    pb = ev.where(F.col("event_type") == "purchase").select(
        F.col("user_id").alias("pu"), F.col("event_id").alias("purchase_id"),
        F.col("ts").alias("pts"),
    )
    cb = ev.where(F.col("event_type") == "click").select(
        F.col("user_id").alias("cu"), F.col("event_id").alias("click_id"),
        F.col("ts").alias("cts"),
    )
    jb = pb.join(
        cb,
        F.expr("pu = cu AND cts BETWEEN pts - INTERVAL 30 MINUTES AND pts"),
        "left",
    )
    unmatched = {r.purchase_id for r in jb.where(F.col("click_id").isNull()).collect()}

    assert null_emitted.isdisjoint(in_state)
    assert null_emitted | (in_state & unmatched) == unmatched
    # matched purchases emitted as pairs are exactly the batch-matched set
    assert matched == {r.purchase_id for r in jb.where(F.col("click_id").isNotNull()).collect()}


def test_corpus_mix_partition_invariance(spark):
    """The r7 mapInPandas phase-1 fold must select the SAME mix no
    matter how the input is partitioned (and therefore no matter how
    Arrow batches split): the per-partition candidate supersets
    differ, but the phase-2 global prefix must converge to one
    answer. This is the invariant that makes the operator safe to
    run after any upstream repartition/coalesce at 100 TB.

    Arrow batch size is forced tiny so every partition yields MANY
    pandas batches (sf0.001 documents is 500 rows, under the 10k
    default — one batch per partition would leave the fold's
    cross-batch `state` carry untested; r7 ADVICE)."""
    from dpu_olap_spark.llm.curation import budget_mix

    docs = load_table(spark, SF, "documents").select(
        "doc_id", "source", "n_chars"
    )
    batch_key = "spark.sql.execution.arrow.maxRecordsPerBatch"
    prev = spark.conf.get(batch_key, None)
    spark.conf.set(batch_key, "32")
    try:
        results = []
        for parts in (1, 3, 17):
            out = {
                r.source: (r.n_docs, r.chars_taken)
                for r in budget_mix(docs.repartition(parts), 50_000).collect()
            }
            results.append(out)
    finally:
        if prev is None:
            spark.conf.unset(batch_key)
        else:
            spark.conf.set(batch_key, prev)
    assert results[0] == results[1] == results[2], results
