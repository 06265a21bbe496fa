"""Streaming semantics beyond the oracle-checked complete-mode query:
append-mode watermark eviction and batch/stream equivalence, plus a
stateful custom operator test (applyInPandasWithState analog domain).
"""

from __future__ import annotations

import os
import tempfile

from pyspark.sql import functions as F

from dpu_olap_spark.sources.tables import load_table
from dpu_olap_spark.streaming.windows import tumbling_agg
from tests.jfr import commands, process_starts as _process_starts, start_marker

SF = "/root/testdata/sf0.001"


def _stream_events(spark, sf_dir):
    from dpu_olap_spark.sources.tables import load_events_stream

    return load_events_stream(spark, sf_dir)


def test_stream_complete_equals_batch(spark):
    """Complete-mode stream over a finite source == batch aggregation —
    Structured Streaming's unified-API contract."""
    batch = {
        (r.window_start, r.event_type): (r.n_events, r.sum_value)
        for r in tumbling_agg(load_table(spark, SF, "events")).collect()
    }
    stream = _stream_events(spark, SF)
    with tempfile.TemporaryDirectory() as ckpt:
        q = (
            tumbling_agg(stream)
            .writeStream.outputMode("complete")
            .format("memory")
            .queryName("t_complete_eq")
            .option("checkpointLocation", ckpt)
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination(120)
        q.stop()
    streamed = {
        (r.window_start, r.event_type): (r.n_events, r.sum_value)
        for r in spark.table("t_complete_eq").collect()
    }
    assert streamed == batch


def test_append_mode_emits_only_closed_windows(spark):
    """Append mode + watermark: emitted windows are closed (window_end <=
    final watermark); late state is bounded. With availableNow over one
    file the final window(s) may be withheld — that is the semantics,
    not a bug."""
    stream = _stream_events(spark, SF)
    with tempfile.TemporaryDirectory() as ckpt:
        q = (
            tumbling_agg(stream)
            .writeStream.outputMode("append")
            .format("memory")
            .queryName("t_append_wm")
            .option("checkpointLocation", ckpt)
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination(120)
        q.stop()
    appended = spark.table("t_append_wm").collect()
    complete = tumbling_agg(load_table(spark, SF, "events")).collect()
    # append output must be a subset of the batch result
    batch_map = {(r.window_start, r.event_type): (r.n_events, r.sum_value) for r in complete}
    for r in appended:
        assert batch_map[(r.window_start, r.event_type)] == (r.n_events, r.sum_value)
    assert len(appended) <= len(complete)


def test_session_window_streaming_api(spark):
    """F.session_window works on the events stream (complete mode)."""
    stream = _stream_events(spark, SF)
    agg = (
        stream.withWatermark("ts", "10 minutes")
        .groupBy(F.session_window("ts", "30 minutes").alias("w"), "user_id")
        .agg(F.count(F.lit(1)).alias("n_events"))
    )
    with tempfile.TemporaryDirectory() as ckpt:
        q = (
            agg.writeStream.outputMode("complete")
            .format("memory")
            .queryName("t_sess_win")
            .option("checkpointLocation", ckpt)
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination(120)
        q.stop()
    rows = spark.table("t_sess_win").collect()
    assert rows, "session windows produced no rows"
    # session windows for a user never overlap
    by_user: dict = {}
    for r in rows:
        by_user.setdefault(r.user_id, []).append((r.w.start, r.w.end))
    for user, spans in by_user.items():
        spans.sort()
        for (s1, e1), (s2, _e2) in zip(spans, spans[1:]):
            assert e1 <= s2, f"overlapping sessions for user {user}"


def test_stream_stream_join(spark):
    """Windowed stream-stream inner join: purchases joined to the same
    user's clicks within [-30min, 0] — both sides watermarked, so state
    is bounded. Result must equal the equivalent batch join."""
    ev = load_table(spark, SF, "events")

    def split(df, kind):
        out = df.where(F.col("event_type") == kind)
        return out.select(
            F.col("user_id").alias(f"{kind}_user"),
            F.col("ts").alias(f"{kind}_ts"),
            F.col("event_id").alias(f"{kind}_id"),
        )

    batch = (
        split(ev, "purchase")
        .join(
            split(ev, "click"),
            F.expr(
                "purchase_user = click_user AND "
                "click_ts BETWEEN purchase_ts - INTERVAL 30 MINUTES AND purchase_ts"
            ),
        )
        .count()
    )

    s = _stream_events(spark, SF)
    p = split(s, "purchase").withWatermark("purchase_ts", "1 hour")
    c = split(s, "click").withWatermark("click_ts", "1 hour")
    joined = p.join(
        c,
        F.expr(
            "purchase_user = click_user AND "
            "click_ts BETWEEN purchase_ts - INTERVAL 30 MINUTES AND purchase_ts"
        ),
    )
    import tempfile

    with tempfile.TemporaryDirectory() as ckpt:
        q = (
            joined.writeStream.outputMode("append")
            .format("memory")
            .queryName("t_ss_join")
            .option("checkpointLocation", ckpt)
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination(180)
        q.stop()
    streamed = spark.table("t_ss_join").count()
    assert streamed == batch


def test_stateful_state_survives_multiple_microbatches(spark, tmp_path):
    """Split events into 3 time-ordered files and feed them one per
    micro-batch (maxFilesPerTrigger=1): the keyed state must accumulate
    ACROSS batches to the same totals as the single-batch run — the
    actual contract of applyInPandasWithState. Slices are chronological
    (realistic arrival order) because the operator's watermark drops
    rows later than its delay — an out-of-time-order slicing would be
    testing late-data drops, not state carry-over."""
    import time

    from dpu_olap_spark.streaming.stateful import user_running_stats

    ev = load_table(spark, SF, "events")
    src = str(tmp_path / "events_split")
    # tertile boundaries on ts -> three chronological slices, written
    # oldest-first with distinct mtimes (file-source batch order)
    b1, b2 = ev.selectExpr(
        "percentile_approx(ts, 0.3333) AS b1", "percentile_approx(ts, 0.6667) AS b2"
    ).first()
    slices = [
        ev.where(F.col("ts") <= F.lit(b1)),
        ev.where((F.col("ts") > F.lit(b1)) & (F.col("ts") <= F.lit(b2))),
        ev.where(F.col("ts") > F.lit(b2)),
    ]
    for s in slices:
        s.coalesce(1).write.mode("append").parquet(src)
        time.sleep(1.1)

    batch_totals = {
        (r.user_id): (r.n, round(r.s, 2))
        for r in ev.groupBy("user_id")
        .agg(
            F.count(F.lit(1)).alias("n"),
            (
                F.sum(F.expr("CAST(floor(value * 100 + 0.5) AS BIGINT)")) / 100.0
            ).alias("s"),
        )
        .collect()
    }

    schema = spark.read.parquet(src).schema
    stream = (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", "1")
        .parquet(src)
    )
    out = user_running_stats(stream.select("user_id", "value", "ts"))
    import tempfile

    with tempfile.TemporaryDirectory() as ckpt:
        q = (
            out.writeStream.outputMode("update")
            .format("memory")
            .queryName("t_multi_batch_state")
            .option("checkpointLocation", ckpt)
            .trigger(availableNow=True)
            .start()
        )
        assert q.awaitTermination(180), "stream did not finish"
        n_batches = len(q.recentProgress)
        q.stop()
    from dpu_olap_spark.streaming.stateful import finalize_user_stats

    final = finalize_user_stats(spark.table("t_multi_batch_state")).collect()
    got = {r.user_id: (r.n_events, round(r.sum_value, 2)) for r in final}
    assert got == batch_totals
    assert n_batches >= 3, f"expected >=3 micro-batches, saw {n_batches}"


def test_stateful_idle_keys_evicted_and_reaggregate(spark, tmp_path):
    """Watermark-based idle-key eviction (EventTimeTimeout): users whose
    last-seen event time falls more than the idle gap behind the
    watermark are flushed and removed, then reappear later and
    accumulate in a FRESH segment. finalize_user_stats must still
    reproduce the exact batch totals, and the evicted users must show
    >1 segment — proof state was actually dropped, not retained."""
    import datetime as dt
    import tempfile
    import time

    from pyspark.sql import types as T

    from dpu_olap_spark.streaming.stateful import finalize_user_stats, user_running_stats

    schema = T.StructType(
        [
            T.StructField("user_id", T.LongType(), False),
            T.StructField("value", T.DoubleType(), False),
            T.StructField("ts", T.TimestampType(), False),
        ]
    )
    t0 = dt.datetime(2024, 1, 1, 0, 0, 0)

    def mk(rows):
        return spark.createDataFrame(rows, schema)

    h = dt.timedelta
    # batch 1: everyone @ t0; batches 2-3: only user 1, event time jumps
    # 2h ahead so the watermark passes users 2/3's (t0 + 30min gap)
    # deadline -> they are evicted in batch 3 (no data for them there);
    # batch 4: users 2/3 reappear 3h in -> fresh segments.
    files = [
        mk([(1, 1.00, t0), (2, 2.00, t0), (3, 3.00, t0),
            (2, 2.25, t0 + h(minutes=1)), (3, 3.25, t0 + h(minutes=1))]),
        mk([(1, 1.50, t0 + h(hours=2))]),
        mk([(1, 1.75, t0 + h(hours=2, minutes=10))]),
        mk([(2, 2.50, t0 + h(hours=3)), (3, 3.50, t0 + h(hours=3))]),
    ]
    src = str(tmp_path / "events_evict")
    for f in files:
        f.coalesce(1).write.mode("append").parquet(src)
        time.sleep(1.1)  # distinct mtimes => file-source batch order

    stream = (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", "1")
        .parquet(src)
    )
    out = user_running_stats(stream, idle_gap_ms=30 * 60 * 1000)

    with tempfile.TemporaryDirectory() as ckpt:
        q = (
            out.writeStream.outputMode("update")
            .format("memory")
            .queryName("t_evict_state")
            .option("checkpointLocation", ckpt)
            .trigger(availableNow=True)
            .start()
        )
        assert q.awaitTermination(180), "stream did not finish"
        n_batches = len(q.recentProgress)
        q.stop()
    t = spark.table("t_evict_state")
    final = finalize_user_stats(t).collect()
    got = {r.user_id: (r.n_events, round(r.sum_value, 2)) for r in final}
    assert got == {
        1: (3, 4.25),
        2: (3, 6.75),
        3: (3, 9.75),
    }, f"totals diverged after eviction + reappearance: {got}"
    assert n_batches >= 4, f"expected >=4 micro-batches, saw {n_batches}"
    n_segs = {
        r.user_id: r.n
        for r in t.groupBy("user_id").agg(F.countDistinct("seg").alias("n")).collect()
    }
    assert n_segs[2] > 1 and n_segs[3] > 1, (
        f"users 2/3 were never evicted — timeout path never fired: {n_segs}"
    )
    assert n_segs[1] == 1, "always-active key should keep one segment"


def test_foreach_batch_sink_roundtrip_and_replay(spark):
    """foreachBatch parquet sink: every source row lands exactly once,
    and re-running from a fresh checkpoint (batch ids restart at 0 —
    the replay case) overwrites the batch's own partition via dynamic
    partition overwrite instead of duplicating rows."""
    from dpu_olap_spark.streaming.foreach import run_foreach_batch_parquet
    from dpu_olap_spark.sources.tables import load_events_stream

    n_src = load_table(spark, SF, "events").count()
    with tempfile.TemporaryDirectory() as out_root:
        out = os.path.join(out_root, "sink")
        stream = load_events_stream(spark, SF).select("event_id", "event_type")
        run_foreach_batch_parquet(stream, out)
        first = spark.read.parquet(out)
        assert first.count() == n_src
        assert first.select("event_id").distinct().count() == n_src
        assert "_batch_id" in first.columns

        # replay: same sink path, fresh checkpoint -> same batch ids
        run_foreach_batch_parquet(
            load_events_stream(spark, SF).select("event_id", "event_type"), out
        )
        replayed = spark.read.parquet(out)
        assert replayed.count() == n_src, "replayed batch must overwrite, not append"


def test_checkpoint_resume_exactly_once(spark):
    """Kill-and-resume contract: a second run from the SAME checkpoint
    must process ONLY files added since the first run — no reprocessing
    (counts would inflate), no loss (counts would fall short). This is
    the recovery property a production ingest relies on; availableNow +
    file source + complete mode makes it decidable: after run 2 the
    sink equals the batch aggregate over BOTH files."""
    import shutil

    from pyspark.sql import functions as F  # noqa: F811

    src_small = os.path.join(SF, "events.parquet")
    src_big = "/root/testdata/sf0.01/events.parquet"
    with tempfile.TemporaryDirectory() as d:
        indir = os.path.join(d, "in")
        ckpt = os.path.join(d, "ckpt")
        os.makedirs(indir)
        shutil.copy(src_small, os.path.join(indir, "a.parquet"))

        schema = spark.read.parquet(src_small).schema

        def run_once(qname):
            from dpu_olap_spark.sources.tables import _restore_nano_ts

            stream = _restore_nano_ts(
                spark.readStream.format("parquet").schema(schema).load(indir),
                "events",
            )
            agg = stream.groupBy("event_type").agg(
                F.count(F.lit(1)).alias("n"),
                F.sum(F.col("value").cast("decimal(18,2)"))
                .cast("double")
                .alias("sv"),
            )
            q = (
                agg.writeStream.outputMode("complete")
                .format("memory")
                .queryName(qname)
                .option("checkpointLocation", ckpt)
                .trigger(availableNow=True)
                .start()
            )
            assert q.awaitTermination(120), "stream did not finish"
            q.stop()

        run_once("t_resume_1")  # processes a.parquet, commits offsets
        shutil.copy(src_big, os.path.join(indir, "b.parquet"))
        run_once("t_resume_2")  # must pick up ONLY b.parquet

        got = {
            r.event_type: (r.n, r.sv) for r in spark.table("t_resume_2").collect()
        }
        both = spark.read.schema(schema).parquet(indir)
        want = {
            r.event_type: (r.n, r.sv)
            for r in both.groupBy("event_type")
            .agg(
                F.count(F.lit(1)).alias("n"),
                F.sum(F.col("value").cast("decimal(18,2)"))
                .cast("double")
                .alias("sv"),
            )
            .collect()
        }
        assert got == want


def test_events_ts_reads_as_session_tz_timestamp(spark):
    """Regression guard for the r4 breakage class: the testdata's
    tz-naive parquet timestamps must load as session-tz TIMESTAMP
    (never TIMESTAMP_NTZ, which withWatermark rejects and which
    diverges from the DuckDB comparison path) — in BOTH the batch
    loader and the streaming source."""
    assert dict(load_table(spark, SF, "events").dtypes)["ts"] == "timestamp"
    assert dict(_stream_events(spark, SF).dtypes)["ts"] == "timestamp"


def test_transform_with_state_real_path(spark):
    """Runs ONLY where google.protobuf exists (absent in this sandbox,
    so the transformWithStateInPandas branch of user_profiles ships
    otherwise-unexercised — r5 ADVICE). In a protobuf-bearing
    deployment this exercises the ValueState tuple round-trip,
    timeMode='None', and the RocksDB provider swap end-to-end and
    checks the result against the batch GROUP BY."""
    import pytest

    from dpu_olap_spark.registry import all_queries
    from dpu_olap_spark.streaming.stateful import transform_with_state_available

    if not transform_with_state_available():
        pytest.skip("google.protobuf absent — transformWithState cannot init")

    sf = "/root/testdata/sf0.001"
    got = {
        r.user_id: r
        for r in all_queries()["stateful_profile"].build(spark, sf).collect()
    }
    ev = load_table(spark, sf, "events")
    exact = ev.groupBy("user_id").agg(
        F.count(F.lit(1)).alias("n_events"),
        F.countDistinct("event_type").alias("n_types"),
    )
    for r in exact.collect():
        assert got[r.user_id].n_events == r.n_events
        assert got[r.user_id].n_types == r.n_types


def test_udtf_analyze_polymorphic_schema(spark):
    """analyze() must shape the output schema from the constant k:
    k=2 -> (w0, w1); k=5 -> (w0..w4). This is the polymorphism the
    query exists to demonstrate."""
    from dpu_olap_spark.operators.spark4_surface import _first_words_udtf

    spark.udtf.register("first_words_t", _first_words_udtf())
    two = spark.sql("SELECT s.* FROM VALUES ('a b c') t(x), LATERAL first_words_t(x, 2) s")
    five = spark.sql("SELECT s.* FROM VALUES ('a b c') t(x), LATERAL first_words_t(x, 5) s")
    assert two.columns == ["w0", "w1"]
    assert five.columns == ["w0", "w1", "w2", "w3", "w4"]
    r = five.first()
    assert (r.w0, r.w1, r.w2, r.w3, r.w4) == ("a", "b", "c", None, None)


def test_statestore_metadata_lists_aggregation(spark):
    """After statestore_read runs, the state-metadata source over the
    SAME checkpoint must list the aggregation operator
    (stateStoreSave) with the volume-adaptive state partition count
    the query pinned — the discovery half of the state-reader
    surface."""
    from dpu_olap_spark.registry import all_queries
    from dpu_olap_spark.sources.tables import _LIVE_DIRS

    from dpu_olap_spark.sources.tables import events_state_partitions

    all_queries()["statestore_read"].build(spark, "/root/testdata/sf0.001").collect()
    expected = events_state_partitions(spark, "/root/testdata/sf0.001")
    md = spark.read.format("state-metadata").load(_LIVE_DIRS["ckpt"]).collect()
    ops = {r.operatorName for r in md}
    assert "stateStoreSave" in ops, ops
    assert all(r.numPartitions == expected for r in md)


def test_stream_dedup_unbounded_sink_has_no_duplicates(spark):
    """The sink rows ARE the deduped set: no (user_id, event_type)
    pair may appear twice even though the source stream delivers
    every pair many times."""
    from dpu_olap_spark.registry import all_queries

    all_queries()["stream_dedup_unbounded"].build(spark, "/root/testdata/sf0.001").collect()
    sinks = [t.name for t in spark.catalog.listTables() if t.name.startswith("stream_dedup_unb_")]
    tbl = spark.table(sorted(sinks)[-1])
    assert tbl.count() == tbl.dropDuplicates(["user_id", "event_type"]).count()


def test_pystream_exactly_once_and_resume(spark, tmp_path):
    """The Python streaming source must deliver every offset slice
    exactly once (distinct ids == N == total rows), and a SECOND run
    on the SAME checkpoint must emit zero new rows — the committed
    offset, not the source, owns progress across restarts."""
    from dpu_olap_spark.sources.python_stream_source import (
        _N_ROWS,
        run_stream_to_sink,
    )

    ckpt = str(tmp_path / "ckpt")
    out = str(tmp_path / "out")
    run_stream_to_sink(spark, "pystream_eo_1", ckpt, path=out)
    t1 = spark.read.parquet(out)
    assert t1.count() == _N_ROWS
    assert t1.select("id").distinct().count() == _N_ROWS

    run_stream_to_sink(spark, "pystream_eo_2", ckpt, path=out)
    assert spark.read.parquet(out).count() == _N_ROWS, (
        "resume from a drained checkpoint replayed rows"
    )


def test_session_state_reader_matches_batch_sessionization(spark):
    """statestore_session_read: (a) the state-metadata source lists the
    session-window operator (sessionWindowStateStoreSaveExec) at the 8
    pinned partitions; (b) with the beyond-data-span watermark nothing
    is evicted, so the state row count equals the batch gaps-and-islands
    sessionization (Spark-boundary: a gap of exactly the 30-min window
    starts a new session)."""
    from pyspark.sql import Window as W
    from pyspark.sql import functions as F

    from dpu_olap_spark.registry import all_queries
    from dpu_olap_spark.sources.tables import _LIVE_DIRS

    state = all_queries()["statestore_session_read"].build(
        spark, "/root/testdata/sf0.001"
    )
    n_state = state.count()

    from dpu_olap_spark.sources.tables import events_state_partitions

    md = spark.read.format("state-metadata").load(_LIVE_DIRS["sess_ckpt"]).collect()
    ops = {r.operatorName for r in md}
    assert "sessionWindowStateStoreSaveExec" in ops, ops
    expected = events_state_partitions(spark, "/root/testdata/sf0.001")
    assert all(r.numPartitions == expected for r in md)

    ev = spark.read.parquet("/root/testdata/sf0.001/events.parquet")
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
    sess = marked.select("user_id", F.sum("ns").over(acc).alias("sid"))
    n_batch = sess.groupBy("user_id", "sid").count().count()
    assert n_state == n_batch, (n_state, n_batch)


def test_cogroup_asof_handles_one_sided_keys(spark):
    """A key present on only ONE side of the cogroup must not crash or
    fabricate rows: orders-only users contribute nothing; events-only
    users get NULL epochs. Built directly on tiny in-memory frames so
    the edge case is explicit rather than dataset-dependent."""
    from dpu_olap_spark.operators.functions_ext import q_cogroup_asof  # noqa: F401  (import proves registration)
    import pandas as pd
    from pyspark.sql import functions as F

    ev = spark.createDataFrame(
        [(5, 100), (5, 200), (10, 50)], "user_id long, eday long"
    )
    od = spark.createDataFrame(
        [(5, 150), (15, 10)], "user_id long, oday long"
    )

    def merge(evp, op):
        if evp.empty:
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
        g = m.groupby(["user_id", "oday"], dropna=False).size().reset_index(name="n_events")
        g["oday"] = g["oday"].astype("Int64")
        return g.rename(columns={"oday": "epoch_day"})

    out = (
        ev.groupBy("user_id")
        .cogroup(od.groupBy("user_id"))
        .applyInPandas(merge, "user_id long, epoch_day long, n_events long")
        .collect()
    )
    rows = {(r.user_id, r.epoch_day): r.n_events for r in out}
    # user 5: event@100 before the order@150 -> NULL epoch; event@200 after -> epoch 150
    # user 10: no orders -> NULL epoch; user 15: no events -> absent
    assert rows == {(5, None): 1, (5, 150): 1, (10, None): 1}, rows


def test_retired_checkpoints_bounded_per_key():
    """tables.live_dir keeps at most RETIRED_KEEP retired dirs per key,
    eagerly deleting older ones, so long bench loops cannot grow
    tempdir usage without bound — while the most recent retirees
    survive for any still-lazy reader. Pure bookkeeping, no Spark."""
    from dpu_olap_spark.sources import tables

    saved_live = dict(tables._LIVE_DIRS)
    saved_retired = {k: list(v) for k, v in tables._RETIRED_DIRS.items()}
    tables._LIVE_DIRS.clear()
    tables._RETIRED_DIRS.clear()
    try:
        dirs = []
        for _ in range(6):
            d = tables.live_dir("k")
            os.mkdir(d)
            dirs.append(d)
        keep = tables.RETIRED_KEEP
        retired = tables._RETIRED_DIRS["k"]
        # live = dirs[5]; retired list holds the newest `keep` retirees
        assert retired == dirs[5 - keep : 5]
        assert tables._LIVE_DIRS["k"] == dirs[5]

        for d in dirs[: 5 - keep]:
            assert not os.path.exists(d), f"old retiree {d} not deleted"
        for d in dirs[5 - keep :]:
            assert os.path.exists(d), f"recent dir {d} wrongly deleted"
    finally:
        tables._LIVE_DIRS.clear()
        tables._LIVE_DIRS.update(saved_live)
        tables._RETIRED_DIRS.clear()
        tables._RETIRED_DIRS.update(saved_retired)


def test_stream_histogram_pctl_state_bounded_and_batch_exact(spark):
    """The r16 streaming bounded-histogram percentile: (a) the state
    key set is the HISTOGRAM CELL set — distinct (event_type, bucket)
    pairs in the update stream equal the batch histogram's cells, the
    'state tracks cells, not events' invariant (10,000 events at
    sf0.01 collapse to ~125 state entries); (b) the finalized
    percentiles equal the batch twin (q_histogram_percentile's algebra
    over the same rows) bit-for-bit; (c) each percentile bucket
    CONTAINS the corresponding exact percentile element (the bracket
    contract)."""
    from dpu_olap_spark.sources.tables import load_events_stream, load_table
    from dpu_olap_spark.streaming import stateful as st

    sf = "/root/testdata/sf0.01"
    out = st.streaming_bucket_counts(load_events_stream(spark, sf))
    from dpu_olap_spark.sources.tables import run_to_memory_sink

    emitted = run_to_memory_sink(out, "hist_pctl_test", "update", state_partitions=8)

    W = st.HIST_BUCKET_CENTS_STREAM
    events = load_table(spark, sf, "events").where(F.col("value").isNotNull())
    batch_cells = (
        events.select(
            "event_type",
            F.floor(F.col("value") * 100 + 0.5).cast("bigint").alias("c"),
        )
        .select(
            "event_type",
            F.expr(f"(c - (((c % {W}) + {W}) % {W})) DIV {W}").alias("b"),
        )
        .groupBy("event_type", "b")
        .agg(F.count(F.lit(1)).alias("cnt"))
    )
    # (a) state boundedness: the update stream's key set == cell set
    stream_cells = emitted.select("event_type", "b").distinct()
    n_stream, n_batch = stream_cells.count(), batch_cells.count()
    n_events = events.count()
    assert n_stream == n_batch, (n_stream, n_batch)
    assert n_stream < n_events / 10, (
        f"state cells ({n_stream}) should be far below events "
        f"({n_events}) — the histogram is not bounded"
    )
    # (b) state-built counts == batch counts, cell by cell
    final_counts = emitted.groupBy("event_type", "b").agg(
        F.max("cnt").alias("cnt")
    )
    assert final_counts.exceptAll(batch_cells).count() == 0
    assert batch_cells.exceptAll(final_counts).count() == 0
    # (c) bracket contract: the exact p25/p50/p75 elements (1-based
    # rank ceil(p*n) over sorted cents) land inside their buckets
    result = {
        r["event_type"]: r
        for r in st.finalize_histogram_percentiles(emitted).collect()
    }
    import math

    cents_by_type: dict[str, list[int]] = {}
    for row in events.select(
        "event_type",
        F.floor(F.col("value") * 100 + 0.5).cast("bigint").alias("c"),
    ).collect():
        cents_by_type.setdefault(row["event_type"], []).append(row["c"])
    for et, cents in cents_by_type.items():
        cents.sort()
        n = len(cents)
        r = result[et]
        assert r["n_items"] == n
        for p, bcol in ((1, "p25_bucket"), (2, "p50_bucket"),
                        (3, "p75_bucket")):
            exact = cents[math.ceil(p * n / 4) - 1]
            lo = r[bcol] * W
            assert lo <= exact <= lo + W - 1, (et, p, exact, r[bcol])


import pytest


@pytest.mark.parametrize(
    "n_chunks,watermark",
    [(5, "1 hour"), (3, "10 minutes"), (8, "1 hour")],
)
def test_time_ordered_chunked_replay_matches_single_batch(
        spark, tmp_path, n_chunks, watermark):
    """SCALE.md r16 replay lever #2, pinned: draining history as
    EVENT-TIME-ORDERED chunk files (watermark advances between
    micro-batches, join state evicts progressively) must emit exactly
    the single-giant-batch row multiset — the 10M sweep showed 3.5x
    throughput with identical emitted rows; this pins the equivalence
    at test scale ACROSS chunk counts and eviction horizons (both
    sides always share the watermark; a shorter horizon evicts more
    null-extensions earlier but the final multiset is invariant).
    Ordering is what makes it safe: each chunk's min event time
    exceeds the previous chunk's max (exact repartitionByRange
    boundaries), so no row ever arrives below the advanced
    watermark — with ANY delay."""
    import glob
    import os
    import shutil
    import time as _time
    from collections import Counter

    from dpu_olap_spark.sources.tables import raw_schema, run_to_memory_sink
    from dpu_olap_spark.streaming.replay import chunked_events_source
    from dpu_olap_spark.streaming.windows import interval_join_pipeline

    sf = "/root/testdata/sf0.001"

    def drain(source):
        joined = interval_join_pipeline(spark, sf, how="fullOuter",
                                        source=source, watermark=watermark)
        sunk = run_to_memory_sink(joined, "chunkeq", "append", state_partitions=8)
        return Counter(tuple(r) for r in sunk.collect())

    single = drain(None)

    # time-ordered chunk fixture in tmp_path (the testdata dir is
    # read-only; chunk boundaries are exact repartitionByRange splits)
    chunk_dir = str(tmp_path / "chunks")
    os.makedirs(chunk_dir)
    multi = str(tmp_path / "_multi")
    (spark.read.parquet(os.path.join(sf, "events.parquet"))
     .repartitionByRange(n_chunks, "ts").sortWithinPartitions("ts")
     .write.mode("overwrite").parquet(multi))
    now = _time.time() - 1_000
    parts = sorted(glob.glob(os.path.join(multi, "part-*.parquet")))
    assert len(parts) == n_chunks
    for i, part in enumerate(parts):
        tgt = os.path.join(chunk_dir, f"chunk_{i:04d}.parquet")
        shutil.move(part, tgt)
        os.utime(tgt, (now + i, now + i))

    events = os.path.join(sf, "events.parquet")
    chunked = drain(
        chunked_events_source(spark, chunk_dir, raw_schema(spark, events))
    )
    assert chunked == single and sum(single.values()) > 0, (
        f"chunked replay diverged: {sum(chunked.values())} rows vs "
        f"{sum(single.values())}"
    )


# --- r17: the measured replay rules as code paths (SCALE.md §r16) ----------


def test_replay_partition_rules_match_sweep_measurements():
    """The two partition rules pin the sweep's measured knees exactly:
    volume rule min(cores, rows/300k) floored at the r18 join-state
    knee of 4 (p32 best at 10M on 32 cores; fixtures <=1.2M floor at
    4 — the optimization-round sweep: the join commits 4 state stores
    per partition per batch, p4 halves the fixture wall vs p8 with
    identical emitted rows), chunked rule cores/2 capped at 16 (p16 +
    10 chunks was the best sweep row; p32 + chunks over-pays commit
    cost)."""
    from dpu_olap_spark.sources.tables import replay_state_partitions
    from dpu_olap_spark.streaming.replay import chunked_replay_partitions

    # volume rule
    assert replay_state_partitions(10_000_000, 32) == 32  # sweep best
    assert replay_state_partitions(10_000_000, 16) == 16  # cores cap
    assert replay_state_partitions(3_000_000, 32) == 10
    assert replay_state_partitions(100_000, 32) == 4      # fixture floor
    assert replay_state_partitions(0, 32) == 4
    # chunked rule
    assert chunked_replay_partitions(32) == 16            # sweep best
    assert chunked_replay_partitions(64) == 16            # knee cap
    assert chunked_replay_partitions(8) == 4              # floor
    # the entry point caps the chunked knee by the volume rule: at
    # fixture scale (<= 300k rows) the join-state floor of 4 wins
    # (per-batch store-commit cost dominates; measured r18: 4 chunks x
    # p4 = 2.9s vs p8 = 4.9s at 100k rows, identical emitted rows)
    assert min(chunked_replay_partitions(32),
               replay_state_partitions(100_000, 32)) == 4
    assert min(chunked_replay_partitions(32),
               replay_state_partitions(10_000_000, 32)) == 16


def test_registered_join_queries_keep_fixture_default():
    """At every driver/bench fixture SF the adaptive rule resolves to
    the r18-measured join-state floor of 4 (events <= 1.2M rows), so
    the registered join queries' state layout is fixture-invariant at
    test scale — the volume term only bites at replay volume."""
    from dpu_olap_spark.sources.tables import (
        parquet_row_count,
        replay_state_partitions,
    )

    for sf in ("sf0.001", "sf0.01", "sf0.1"):
        n = parquet_row_count(f"/root/testdata/{sf}/events.parquet")
        assert replay_state_partitions(n, 32) == 4, (sf, n)


def test_replay_entry_point_matches_registered_query(spark, tmp_path):
    """replay_interval_join (the r17 entry point applying the measured
    levers) must emit exactly the registered query's row multiset:
    here the history is forced through the chunked path (rows_per_chunk
    small enough for 5 ordered chunks at sf0.001) and compared against
    q_stream_full_outer_join's single-batch result at the same SF."""
    from collections import Counter

    from dpu_olap_spark.registry import get_query
    from dpu_olap_spark.streaming.replay import replay_interval_join

    sf = "/root/testdata/sf0.001"
    registered = Counter(
        tuple(r)
        for r in get_query("stream_full_outer_join").build(spark, sf).collect()
    )
    replayed_df = replay_interval_join(
        spark, sf, how="fullOuter",
        scratch_dir=str(tmp_path), rows_per_chunk=200,
    )
    replayed = Counter(tuple(r) for r in replayed_df.collect())
    assert sum(registered.values()) > 0
    assert replayed == registered, (
        f"replay diverged: {sum(replayed.values())} rows vs "
        f"{sum(registered.values())}"
    )


def test_replay_entry_point_left_outer_matches_registered_query(spark, tmp_path):
    """The LEFT OUTER leg of the chunked==single equivalence (r18:
    stream_replay_chunked_lo registers this path): ordered chunked
    replay ends at the same final watermark horizon, so every
    null-extension decision matches the single-batch registered
    query's."""
    from collections import Counter

    from dpu_olap_spark.registry import get_query
    from dpu_olap_spark.streaming.replay import replay_interval_join

    sf = "/root/testdata/sf0.001"
    registered = Counter(
        tuple(r)
        for r in get_query("stream_left_outer_join").build(spark, sf).collect()
    )
    replayed_df = replay_interval_join(
        spark, sf, how="leftOuter",
        scratch_dir=str(tmp_path), rows_per_chunk=200,
    )
    replayed = Counter(tuple(r) for r in replayed_df.collect())
    assert sum(registered.values()) > 0
    assert replayed == registered, (
        f"leftOuter replay diverged: {sum(replayed.values())} rows vs "
        f"{sum(registered.values())}"
    )


def test_disordered_replay_negatives_and_filter_lag(spark, tmp_path):
    """The chunked-replay fuzz family's pinned negatives
    (tools/fuzz_replay.py): replaying history OUT of event-time order
    with a short watermark must LOSE rows — and the loss obeys the
    one-batch filter lag this round's instrumentation surfaced
    (numRowsDroppedByWatermark stays 0 for the batch immediately
    after the watermark-advancing chunk; drops begin at the second
    post-advance batch).  Pinned: (a) dedup with 3 max-first chunks
    drops late keys (strictly fewer rows); (b) the SAME disorder with
    only 2 chunks drops NOTHING (there is no second post-advance
    batch — output equals the baseline); (c) the watermark-free
    histogram op is invariant under any order."""
    import os
    import sys

    sys.path.insert(0, os.path.join(os.path.dirname(__file__), "..", "tools"))
    import fuzz_replay as fr

    from dpu_olap_spark.sources.tables import raw_schema
    from dpu_olap_spark.streaming.replay import (
        chunked_events_source,
        ordered_event_chunks,
    )

    sf = "/root/testdata/sf0.001"
    scratch = str(tmp_path)
    wm = "10 minutes"
    events = os.path.join(sf, "events.parquet")

    def run(name, source):
        return fr._run(spark, sf, name, wm, source)

    def disordered(k):
        od = ordered_event_chunks(
            spark, events, os.path.join(scratch, f"k{k}"), k)
        return chunked_events_source(
            spark, fr._disordered_dir(od, scratch), raw_schema(spark, events))

    # (a) k=3 dedup: late keys genuinely dropped
    base_dedup = run("dedup", None)
    late3 = run("dedup", disordered(3))
    assert sum(late3.values()) < sum(base_dedup.values()), (
        "3-chunk max-first dedup failed to drop late keys"
    )
    # (b) k=2 full outer: the filter lag means NO drop — equality
    base_fo = run("join_fullouter", None)
    late2 = run("join_fullouter", disordered(2))
    assert late2 == base_fo, (
        "2-chunk disorder dropped rows — the one-batch filter lag "
        "assumption no longer holds; re-derive NEG_CHUNK_COUNTS"
    )
    # (c) histogram: watermark-free, order-invariant
    base_h = run("hist_pctl", None)
    late_h = run("hist_pctl", disordered(3))
    assert late_h == base_h and sum(base_h.values()) > 0


def test_equal_mtime_ties_scramble_replay(spark, tmp_path):
    """The r18 tie-fuzz catch, pinned: a chunked replay's order under
    EQUAL mtimes is the directory LISTING order, not the lexicographic
    path order — so equal-mtime chunk sets are order-UNSPECIFIED and
    ordered_event_chunks MUST stamp strictly increasing mtimes.

    Pinned facts: (a) the strictly-increasing-mtime replay at k=8 is
    exactly the single-batch baseline; (b) across the two equal-mtime
    naming variants at k=8 (original names, reversed names) at least
    one LOSES rows to the late filter — proving mtime ties genuinely
    break replay order on this box — and neither ever EXCEEDS the
    baseline (dedup's monotone bound); (c) the watermark-free
    histogram op is invariant under every one of these orders."""
    import os
    import sys

    sys.path.insert(0, os.path.join(os.path.dirname(__file__), "..", "tools"))
    import fuzz_replay as fr

    from dpu_olap_spark.sources.tables import raw_schema
    from dpu_olap_spark.streaming.replay import (
        chunked_events_source,
        ordered_event_chunks,
    )

    sf = "/root/testdata/sf0.001"
    scratch = str(tmp_path)
    wm = "10 minutes"
    events = os.path.join(sf, "events.parquet")
    od = ordered_event_chunks(spark, events, os.path.join(scratch, "k8"), 8)

    def source(cdir):
        return chunked_events_source(spark, cdir, raw_schema(spark, events))

    base = fr._run(spark, sf, "dedup", wm, None)
    ordered = fr._run(spark, sf, "dedup", wm, source(od))
    assert ordered == base, "strictly-increasing-mtime replay diverged"

    tied = fr._run(
        spark, sf, "dedup", wm, source(fr._tied_dir(od, scratch, False)))
    tied_rev = fr._run(
        spark, sf, "dedup", wm, source(fr._tied_dir(od, scratch, True)))
    n_base = sum(base.values())
    n_tied, n_rev = sum(tied.values()), sum(tied_rev.values())
    assert 0 < n_tied <= n_base and 0 < n_rev <= n_base, (
        "dedup monotone bound violated under ties"
    )
    assert min(n_tied, n_rev) < n_base, (
        "equal-mtime ties never scrambled replay order — if the file "
        "stream now sorts ties by path, update the tie-fuzz flavors"
    )

    # (c) order-invariant op: exact equality under every order above
    hb = fr._run(spark, sf, "hist_pctl", wm, None)
    for cdir in (od, fr._tied_dir(od, scratch, False),
                 fr._tied_dir(od, scratch, True)):
        got = fr._run(spark, sf, "hist_pctl", wm, source(cdir))
        assert got == hb, "histogram op not order-invariant"


# --- the finite-stream runner (sources/tables.run_available_now) -----------

_SHUFFLE = "spark.sql.shuffle.partitions"
_PROVIDER = "spark.sql.streaming.stateStore.providerClass"
_STATE_PKG = "org.apache.spark.sql.execution.streaming.state."
_CKPT_MANAGER = "spark.sql.streaming.checkpointFileManagerClass"
_CKPT_PKG = "org.apache.spark.sql.execution.streaming.checkpointing."


@pytest.mark.parametrize(
    "checkpoint, local",
    [
        ("/tmp/ckpt", True),
        ("relative/ckpt", True),
        ("file:/tmp/ckpt", True),
        ("file:///tmp/ckpt", True),
        ("hdfs://nn/x", False),
        ("s3a://b/x", False),
    ],
    ids=["bare", "relative", "file_path", "file_url", "hdfs", "s3a"],
)
def test_checkpoint_confs_override_only_local_paths(checkpoint, local):
    """A local checkpoint gets the FileSystem-API manager; a remote one
    keeps Spark's default (no override)."""
    from dpu_olap_spark.sources.tables import _checkpoint_confs

    expected = (
        {_CKPT_MANAGER: _CKPT_PKG + "FileSystemBasedCheckpointFileManager"}
        if local
        else {}
    )
    assert _checkpoint_confs(checkpoint) == expected


def test_local_checkpoint_renames_fork_no_readlink(spark, tmp_path):
    """An aggregation stream through the runner on a local checkpoint
    forks no `readlink` for its offset, commit or state files: the
    FileSystem-API manager renames without resolving paths, where
    Spark's default FileContext manager forks two per rename when the
    native Hadoop library is absent. The file source's own log under
    sources/ is built from the caller's session and is not counted."""
    from dpu_olap_spark.sources.tables import run_available_now

    ckpt = str(tmp_path / "ckpt")
    agg = _stream_events(spark, SF).groupBy("user_id").count()
    jvm = spark._jvm

    def run():
        run_available_now(
            agg.writeStream.outputMode("update").format("noop"),
            ckpt, "fork_count_probe", {_SHUFFLE: "4"},
        )
        # a known process start: proves the recording sees them
        marker = spark.sparkContext._gateway.new_array(jvm.String, 1)
        marker[0] = "true"
        jvm.java.lang.ProcessBuilder(marker).start().waitFor()

    forks = _process_starts(spark, run)
    assert forks["true"] == 1, forks
    assert os.path.isdir(os.path.join(ckpt, "state"))
    readlinks = [
        cmd for cmd in forks.elements()
        if cmd.startswith("readlink ")
        and any(f"{ckpt}/{sub}/" in cmd for sub in ("offsets", "commits", "state"))
    ]
    assert readlinks == [], readlinks


def test_local_stream_forks_no_chmod_or_readlink(spark, tmp_path):
    """An aggregation stream through the runner on a local checkpoint
    forks neither `chmod` nor `readlink`, the file source's log
    included: the engine's session binds the "file" scheme to
    NoForkLocalFileSystem for both the FileSystem and the FileContext
    API, which set modes and read links through java.nio. Hadoop's own
    local file system forks about 40 `chmod` per such stream without
    its native library."""
    from dpu_olap_spark.sources.tables import run_available_now

    ckpt = str(tmp_path / "ckpt")
    agg = _stream_events(spark, SF).groupBy("user_id").count()

    def run():
        run_available_now(
            agg.writeStream.outputMode("update").format("noop"),
            ckpt, "nofork_probe", {_SHUFFLE: "4"},
        )
        start_marker(spark)

    # a session's first task fetches the shipped package and Spark
    # marks it executable with a forked `chmod a+x`
    spark.range(1).count()
    forks = _process_starts(spark, run)
    assert forks["true"] == 1, forks
    assert os.path.isdir(os.path.join(ckpt, "sources"))
    assert commands(forks, "chmod") == []
    assert commands(forks, "readlink") == []


def test_runner_timeout_raises_naming_the_stream(spark, tmp_path):
    """A stream that does not finish in time raises, naming itself, and
    is stopped, not left running behind the error."""
    from dpu_olap_spark.sources.tables import run_available_now

    agg = _stream_events(spark, SF).groupBy("user_id").count()
    writer = agg.writeStream.outputMode("update").format("noop")
    with pytest.raises(RuntimeError, match="runner_timeout_probe"):
        run_available_now(
            writer, str(tmp_path / "ckpt"), "runner_timeout_probe", timeout_s=0.001
        )
    assert spark.streams.active == []


@pytest.mark.parametrize("preset", [False, True], ids=["unset_before", "set_before"])
def test_runner_restores_confs(spark, tmp_path, preset):
    """The confs the runner sets for planning, and the checkpoint manager
    it sets for a local checkpoint, read the same afterwards as before
    it — whether they were set or unset before, and also when start()
    itself raises (complete mode without an aggregation)."""
    from pyspark.errors import AnalysisException

    from dpu_olap_spark.sources.tables import run_available_now

    keys = (_SHUFFLE, _PROVIDER, _CKPT_MANAGER)
    saved = {k: spark.conf.get(k, None) for k in keys}

    def current():
        return {k: spark.conf.get(k, None) for k in keys}

    confs = {_SHUFFLE: "3", _PROVIDER: _STATE_PKG + "RocksDBStateStoreProvider"}
    try:
        for k in keys:
            spark.conf.unset(k)
        if preset:
            spark.conf.set(_SHUFFLE, "7")
            spark.conf.set(_PROVIDER, _STATE_PKG + "HDFSBackedStateStoreProvider")
            spark.conf.set(_CKPT_MANAGER, _CKPT_PKG + "FileContextBasedCheckpointFileManager")
        before = current()
        agg = _stream_events(spark, SF).groupBy("user_id").count()
        run_available_now(
            agg.writeStream.outputMode("update").format("noop"),
            str(tmp_path / "ok"), "runner_conf_ok", confs,
        )
        assert current() == before

        bad = _stream_events(spark, SF).select("user_id")
        with pytest.raises(AnalysisException, match="(?i)complete"):
            run_available_now(
                bad.writeStream.outputMode("complete").format("noop"),
                str(tmp_path / "bad"), "runner_conf_bad", confs,
            )
        assert current() == before
        assert spark.streams.active == []
    finally:
        for k, v in saved.items():
            if v is None:
                spark.conf.unset(k)
            else:
                spark.conf.set(k, v)


def test_statestore_read_leaves_no_temp_view(spark):
    """statestore_read reads its state from the checkpoint and runs its
    stream to a noop sink: rebuilding it registers no sink table."""
    from dpu_olap_spark.registry import all_queries

    def temp_views():
        return {t.name for t in spark.catalog.listTables() if t.isTemporary}

    before = temp_views()
    for _ in range(3):
        all_queries()["statestore_read"].build(spark, SF).collect()
    assert temp_views() - before == set()


def _stream_runner_calls(path):
    """(call, line) for each call in a module that starts, triggers or
    awaits a stream by hand: .awaitTermination(...), .trigger(...) or
    .option("checkpointLocation", ...)."""
    import ast

    with open(path) as f:
        tree = ast.parse(f.read())
    calls = []
    for node in ast.walk(tree):
        if not (isinstance(node, ast.Call) and isinstance(node.func, ast.Attribute)):
            continue
        attr = node.func.attr
        ckpt_option = attr == "option" and node.args and (
            isinstance(node.args[0], ast.Constant)
            and node.args[0].value == "checkpointLocation"
        )
        if attr in ("awaitTermination", "trigger") or ckpt_option:
            calls.append((attr, node.lineno))
    return calls


def test_every_finite_stream_goes_through_the_runner():
    """Only sources/tables.py starts a finite stream by hand, and it does
    so once (run_available_now): any other module that sets a
    checkpoint, a trigger or awaits a stream has re-grown its own
    runner."""
    import glob

    import dpu_olap_spark

    root = os.path.dirname(dpu_olap_spark.__file__)
    runner = os.path.join(root, "sources", "tables.py")
    offenders = {}
    for path in glob.glob(os.path.join(root, "**", "*.py"), recursive=True):
        if path != runner and (calls := _stream_runner_calls(path)):
            offenders[os.path.relpath(path, root)] = calls
    assert offenders == {}
    assert sorted(a for a, _ in _stream_runner_calls(runner)) == [
        "awaitTermination", "option", "trigger",
    ]


def test_one_module_owns_the_tempdir():
    """Only sources/tables.py (the per-process root that live_dir hands
    out directories under) and streaming/replay.py (its chunk cache,
    shared across processes and checked by content) look up the
    tempdir: any other module that calls tempfile.gettempdir names and
    retires its own output again."""
    import ast
    import glob

    import dpu_olap_spark

    root = os.path.dirname(dpu_olap_spark.__file__)
    owners = {os.path.join("sources", "tables.py"), os.path.join("streaming", "replay.py")}
    offenders = {}
    for path in glob.glob(os.path.join(root, "**", "*.py"), recursive=True):
        with open(path) as f:
            tree = ast.parse(f.read())
        lines = [
            node.lineno
            for node in ast.walk(tree)
            if isinstance(node, ast.Call)
            and "gettempdir" in (getattr(node.func, "attr", None), getattr(node.func, "id", None))
        ]
        if lines and os.path.relpath(path, root) not in owners:
            offenders[os.path.relpath(path, root)] = lines
    assert offenders == {}
