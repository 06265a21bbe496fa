"""Custom stateful streaming operator via applyInPandasWithState:
per-user running session stats (event count, value sum, last seen)
maintained as explicit keyed state across micro-batches.

This is the seam the reference's aggregator-function-pointer hints at
but never fills (aggregator_fn_t with opaque state,
/root/reference/dpu/shared/kernels/aggr.h:9) — generalized to keyed,
fault-tolerant, watermark-aware state.

Scale notes: state is keyed by user_id and partitioned with the
stream, so it shards across executors. Idle keys are evicted by
WATERMARK-BASED timeout (EventTimeTimeout): each key's deadline is its
last-seen event time plus an idle gap; when the stream's watermark
passes the deadline the segment's totals are flushed downstream and
the state entry is removed, so state size tracks the *active* key set,
not the all-time key set. (ProcessingTimeTimeout was rejected: Spark's
FlatMapGroupsWithStateExec.shouldRunAnotherBatch is unconditionally
true for processing-time timers, so a Trigger.AvailableNow run never
terminates — measured 45+ empty micro-batches on a 3-file source.)

Because eviction may be followed by the same key reappearing (a fresh
segment starting from zero), every emitted row carries a segment id
and exact integer-cents totals; finalize_user_stats sums the
per-segment maxima, which is correct under any eviction/reappearance
interleaving. Arrow batches keep the Python hop amortized.
"""

from __future__ import annotations

import os
import shutil
import tempfile
import time
from collections.abc import Iterator
from typing import Any

import pandas as pd

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T
from pyspark.sql.streaming.state import GroupState, GroupStateTimeout

from dpu_olap_spark.registry import query
from dpu_olap_spark.sources.tables import (
    events_state_partitions,
    join_replay_partitions,
    live_dir,
    load_events_stream,
    load_table,
    run_available_now,
    run_to_memory_sink,
)

# A key idle for this much EVENT time (watermark domain) is evicted.
# 30 min matches the session gap used by session_window.
DEFAULT_IDLE_GAP_MS = 30 * 60 * 1000

# Watermark delay for the event-time timers; totals are unaffected
# (update mode processes late rows as a fresh segment).
WATERMARK_DELAY_MS = 10 * 1000
WATERMARK_DELAY = "10 seconds"

# Rows are per-(user, segment) cumulative snapshots; `seg` is the
# EVENT-time ms of the segment's first event, which is collision-proof
# across eviction/recreation whenever idle_gap > watermark delay:
# eviction requires watermark > last_ts + gap, and any post-eviction
# event the watermark admits has ts >= last_ts + gap - delay > last_ts,
# so each new segment's first event strictly exceeds every prior
# segment's. (Processing-time ms was rejected: two micro-batches CAN
# share a millisecond, silently merging two segments under the
# per-segment max.) `cents` keeps the sum exact for cross-segment adds.
OUTPUT_SCHEMA = T.StructType(
    [
        T.StructField("user_id", T.LongType(), False),
        T.StructField("seg", T.LongType(), False),
        T.StructField("n_events", T.LongType(), False),
        T.StructField("cents", T.LongType(), False),
    ]
)

STATE_SCHEMA = T.StructType(
    [
        T.StructField("n_events", T.LongType(), False),
        T.StructField("sum_value_cents", T.LongType(), False),
        T.StructField("seg_start", T.LongType(), False),
        T.StructField("last_ts_ms", T.LongType(), False),
    ]
)


def _make_track_user(idle_gap_ms: int):
    """Build the state function as a closure so the gap rides along in
    the pickled closure cell (a module-level attribute would be
    re-imported at its default on the worker side)."""

    def _track_user(
        key: tuple[Any, ...], pdfs: Iterator[pd.DataFrame], state: GroupState
    ) -> Iterator[pd.DataFrame]:
        # Accumulate per-user totals across micro-batches in integer
        # cents so the result is exact regardless of batch boundaries
        # or arrival order. On idle timeout (watermark passed last-seen
        # + gap): flush the segment's totals one final time and evict.
        (user_id,) = key

        if state.hasTimedOut:
            n, cents, seg, _last = state.get
            state.remove()
            yield pd.DataFrame(
                {"user_id": [user_id], "seg": [seg], "n_events": [n], "cents": [cents]}
            )
            return

        if state.exists:
            n, cents, seg, last_ts_ms = state.get
        else:
            # seg assigned from the first event time below; -1 marks
            # "not yet assigned" (event times are epoch-ms positive)
            n, cents, seg, last_ts_ms = 0, 0, -1, 0
        import numpy as np

        for pdf in pdfs:
            n += len(pdf)
            # floor(x*100 + 0.5): half-up like the oracle's floor(...+0.5);
            # pandas .round() is half-to-even and would diverge on exact
            # half-cent values
            cents += int(np.floor(pdf["value"].astype(float).mul(100).add(0.5)).sum())
            batch_max = pdf["ts"].max()
            if pd.notna(batch_max):
                last_ts_ms = max(last_ts_ms, int(batch_max.value // 1_000_000))
            if seg < 0:
                batch_min = pdf["ts"].min()
                if pd.notna(batch_min):
                    # first event time = the collision-proof segment id
                    # (see OUTPUT_SCHEMA comment for the proof)
                    seg = int(batch_min.value // 1_000_000)
        if seg < 0:
            # no usable event time in the creating batch (all-null ts):
            # fall back to processing time rather than fail the stream
            seg = state.getCurrentProcessingTimeMs()
        state.update((n, cents, seg, last_ts_ms))
        # Deadline must stay ahead of the current watermark or Spark
        # rejects it; a late-arriving segment just gets the minimum
        # extension past the watermark.
        deadline = max(last_ts_ms + idle_gap_ms, state.getCurrentWatermarkMs() + 1)
        state.setTimeoutTimestamp(deadline)
        yield pd.DataFrame(
            {"user_id": [user_id], "seg": [seg], "n_events": [n], "cents": [cents]}
        )

    return _track_user


def user_running_stats(
    events_stream: DataFrame, idle_gap_ms: int = DEFAULT_IDLE_GAP_MS
) -> DataFrame:
    """events_stream needs (user_id, value, ts); ts drives the
    watermark that expires idle keys."""
    if idle_gap_ms <= WATERMARK_DELAY_MS:
        # the first-event-time segment id is only collision-proof when
        # the gap exceeds the watermark delay (see OUTPUT_SCHEMA)
        raise ValueError(
            f"idle_gap_ms ({idle_gap_ms}) must exceed the watermark "
            f"delay ({WATERMARK_DELAY_MS} ms) for unique segment ids"
        )
    return (
        events_stream.select("user_id", "value", "ts")
        .withWatermark("ts", WATERMARK_DELAY)
        .groupBy("user_id")
        .applyInPandasWithState(
            _make_track_user(idle_gap_ms),
            outputStructType=OUTPUT_SCHEMA,
            stateStructType=STATE_SCHEMA,
            outputMode="update",
            timeoutConf=GroupStateTimeout.EventTimeTimeout,
        )
    )


def finalize_user_stats(emitted: DataFrame) -> DataFrame:
    """Collapse the update-mode row stream to final per-user totals.

    Each (user, seg) group's rows are cumulative snapshots, so its
    total is the max; a user's grand total is the sum over segments.
    Correct whether or not any key was evicted and recreated."""
    per_seg = emitted.groupBy("user_id", "seg").agg(
        F.max(F.struct("n_events", "cents")).alias("s")
    )
    return per_seg.groupBy("user_id").agg(
        F.sum("s.n_events").alias("n_events"),
        (F.sum("s.cents").cast("double") / F.lit(100.0)).alias("sum_value"),
    )


# ---------------------------------------------------------------------------
# transformWithStateInPandas (Spark 4's successor stateful API): typed
# state handles (ValueState here; ListState/MapState/timers available),
# RocksDB-backed state store. Second stateful operator so both keyed
# APIs have a driver row.

PROFILE_SCHEMA = T.StructType(
    [
        T.StructField("user_id", T.LongType(), False),
        T.StructField("n_events", T.LongType(), False),
        T.StructField("cents", T.LongType(), False),
        T.StructField("first_ts_us", T.LongType(), False),
        T.StructField("last_ts_us", T.LongType(), False),
        T.StructField("type_mask", T.LongType(), False),
    ]
)

# bit per event type: mask is mergeable across batches with OR, and
# bit_count(mask) == COUNT(DISTINCT event_type) for the oracle
_TYPE_BITS = {"signup": 1, "error": 2, "click": 4, "view": 8, "purchase": 16}

PROFILE_STATE_SCHEMA = T.StructType(
    [
        T.StructField("n_events", T.LongType(), False),
        T.StructField("cents", T.LongType(), False),
        T.StructField("first_ts_us", T.LongType(), False),
        T.StructField("last_ts_us", T.LongType(), False),
        T.StructField("type_mask", T.LongType(), False),
    ]
)


def transform_with_state_available() -> bool:
    """transformWithStateInPandas talks to the JVM state server over
    protobuf; without google.protobuf the streaming runner dies at
    init. Capability probe, same pattern as the multimodal codec
    seam (llm/multimodal.py)."""
    import importlib.util

    try:
        # find_spec raises (not returns None) when the parent package
        # "google" itself is absent
        return importlib.util.find_spec("google.protobuf") is not None
    except ModuleNotFoundError:
        return False


def _accumulate_profile(pdfs, n, cents, first_us, last_us, mask):
    """Shared per-batch accumulation for both stateful APIs."""
    import numpy as np

    for pdf in pdfs:
        n += len(pdf)
        # half-up cents, exactly as stateful_user_stats/the oracle
        cents += int(np.floor(pdf["value"].astype(float).mul(100).add(0.5)).sum())
        ts_us = pdf["ts"].astype("int64") // 1000  # ns -> us
        bmin, bmax = int(ts_us.min()), int(ts_us.max())
        first_us = bmin if first_us is None else min(first_us, bmin)
        last_us = bmax if last_us is None else max(last_us, bmax)
        for t in pdf["event_type"].unique():
            mask |= _TYPE_BITS.get(t, 0)
    return n, cents, first_us, last_us, mask


def _profile_track(key, pdfs, state):
    """applyInPandasWithState fallback body: identical accumulation,
    GroupState instead of ValueState, NoTimeout (profiles are
    all-time, not sessionized — eviction semantics live in
    stateful_user_stats)."""
    import pandas as pd

    (user_id,) = key
    if state.exists:
        n, cents, first_us, last_us, mask = state.get
    else:
        n, cents, first_us, last_us, mask = 0, 0, None, None, 0
    n, cents, first_us, last_us, mask = _accumulate_profile(
        pdfs, n, cents, first_us, last_us, mask
    )
    state.update((n, cents, first_us, last_us, mask))
    yield pd.DataFrame(
        {
            "user_id": [user_id],
            "n_events": [n],
            "cents": [cents],
            "first_ts_us": [first_us],
            "last_ts_us": [last_us],
            "type_mask": [mask],
        }
    )


def _make_profile_processor():
    """Per-user activity profile as a single ValueState row, updated
    per micro-batch. Emitted rows are cumulative snapshots (update
    mode); n_events strictly increases per key, so the final profile
    is the max-by-n_events snapshot — finalize_user_profile.

    The class is defined INSIDE this factory on purpose: the
    transformWithState streaming Python runner initializes before
    sc.addPyFile modules are importable, so the processor must
    cloudpickle BY VALUE (locally defined class), never by reference
    to this module."""
    from pyspark.sql.streaming.stateful_processor import StatefulProcessor

    type_bits = dict(_TYPE_BITS)

    class UserProfileProcessor(StatefulProcessor):
        def init(self, handle):
            self._state = handle.getValueState(
                "profile",
                "n_events BIGINT, cents BIGINT, first_ts_us BIGINT, "
                "last_ts_us BIGINT, type_mask BIGINT",
            )

        def handleInputRows(self, key, rows, timerValues):
            import numpy as np
            import pandas as pd

            (user_id,) = key
            if self._state.exists():
                n, cents, first_us, last_us, mask = self._state.get()
            else:
                n, cents, first_us, last_us, mask = 0, 0, None, None, 0
            for pdf in rows:
                n += len(pdf)
                # half-up cents, exactly as stateful_user_stats/oracle
                cents += int(
                    np.floor(pdf["value"].astype(float).mul(100).add(0.5)).sum()
                )
                ts_us = pdf["ts"].astype("int64") // 1000  # ns -> us
                bmin, bmax = int(ts_us.min()), int(ts_us.max())
                first_us = bmin if first_us is None else min(first_us, bmin)
                last_us = bmax if last_us is None else max(last_us, bmax)
                for t in pdf["event_type"].unique():
                    mask |= type_bits.get(t, 0)
            self._state.update((n, cents, first_us, last_us, mask))
            yield pd.DataFrame(
                {
                    "user_id": [user_id],
                    "n_events": [n],
                    "cents": [cents],
                    "first_ts_us": [first_us],
                    "last_ts_us": [last_us],
                    "type_mask": [mask],
                }
            )

        def close(self):
            pass

    return UserProfileProcessor()


def user_profiles(stream: DataFrame) -> DataFrame:
    """Keyed profile stream through whichever typed-state API the
    environment supports: transformWithStateInPandas (Spark 4 typed
    state, RocksDB-backed) when protobuf is present, else
    applyInPandasWithState with identical accumulation — both emit
    cumulative per-user snapshots in update mode.

    CAVEAT (r5 ADVICE): this sandbox has no google.protobuf, so the
    transformWithStateInPandas branch — the ValueState tuple
    round-trip, timeMode='None' casing, and the RocksDB provider swap
    in q_stateful_profile — has never executed here; treat it as
    EXPERIMENTAL until tests/test_streaming.py::
    test_transform_with_state_real_path (skipif-gated on the probe)
    has run green in a protobuf-bearing deployment. The fallback
    branch is the driver-verified one."""
    keyed = stream.select("user_id", "value", "ts", "event_type").groupBy(
        "user_id"
    )
    if transform_with_state_available():
        return keyed.transformWithStateInPandas(
            statefulProcessor=_make_profile_processor(),
            outputStructType=PROFILE_SCHEMA,
            outputMode="Update",
            timeMode="None",
        )
    return keyed.applyInPandasWithState(
        _profile_track,
        outputStructType=PROFILE_SCHEMA,
        stateStructType=PROFILE_STATE_SCHEMA,
        outputMode="update",
        timeoutConf=GroupStateTimeout.NoTimeout,
    )


def finalize_user_profile(emitted: DataFrame) -> DataFrame:
    """Update-mode snapshots -> final profile: n_events strictly
    increases per key, so max(struct(n_events, ...)) is the last
    snapshot; derived columns are computed on that row."""
    last = emitted.groupBy("user_id").agg(
        F.max(
            F.struct("n_events", "cents", "first_ts_us", "last_ts_us", "type_mask")
        ).alias("s")
    )
    return last.select(
        "user_id",
        F.col("s.n_events").alias("n_events"),
        (F.col("s.cents").cast("double") / F.lit(100.0)).alias("sum_value"),
        F.col("s.first_ts_us").alias("first_ts_us"),
        F.col("s.last_ts_us").alias("last_ts_us"),
        F.bit_count("s.type_mask").cast("bigint").alias("n_types"),
    )


@query(
    "stateful_profile",
    oracle="""
    SELECT user_id,
           COUNT(*) AS n_events,
           CAST(CAST(SUM(CAST(floor(value * 100 + 0.5) AS BIGINT)) AS DOUBLE) / 100.0
                AS DOUBLE) AS sum_value,
           CAST(MIN(epoch_us(ts)) AS BIGINT) AS first_ts_us,
           CAST(MAX(epoch_us(ts)) AS BIGINT) AS last_ts_us,
           CAST(COUNT(DISTINCT event_type) AS BIGINT) AS n_types
    FROM events GROUP BY user_id
    """,
)
def q_stateful_profile(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-user activity profile (count, exact cents sum, first/last
    event time, distinct-type bitmask) through a typed-state keyed
    operator run as a real availableNow stream into a memory sink.
    Uses transformWithStateInPandas (Spark 4's typed-state API,
    RocksDB-backed) when the env has protobuf — this sandbox does not,
    so the applyInPandasWithState fallback with IDENTICAL accumulation
    runs instead (capability probe:
    transform_with_state_available()). State is one fixed row per
    user (bounded by the active key set, sharded with the stream's
    key partitioning); the distinct-type set rides as a bitmask so
    merging is a constant-size OR, never a growing set."""
    stream = load_events_stream(spark, sf_dir)
    out = user_profiles(stream)
    extra = None
    if transform_with_state_available():
        # transformWithState requires the RocksDB state store; set for
        # this query only and restored after
        extra = {
            "spark.sql.streaming.stateStore.providerClass":
                "org.apache.spark.sql.execution.streaming.state."
                "RocksDBStateStoreProvider"
        }
    return finalize_user_profile(
        run_to_memory_sink(
            out, "stateful_profile", "update", state_partitions=8, extra_confs=extra
        )
    )


@query(
    "stateful_user_stats",
    oracle="""
    SELECT user_id,
           COUNT(*) AS n_events,
           CAST(CAST(SUM(CAST(floor(value * 100 + 0.5) AS BIGINT)) AS DOUBLE) / 100.0
                AS DOUBLE) AS sum_value
    FROM events GROUP BY user_id
    """,
)
def q_stateful_user_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Run the stateful operator as a real stream (availableNow, update
    mode, memory sink) and return the final per-user rows. With a
    finite source the summed per-segment totals equal the batch
    GROUP BY — the oracle. Exact integer-cents accumulation makes the
    equality bit-for-bit even if an idle key is evicted mid-run."""
    stream = load_events_stream(spark, sf_dir)
    out = user_running_stats(stream)
    # state partitions sized to the ~150-user active key set (see
    # run_to_memory_sink docstring; 4x fewer state-store commits/batch)
    return finalize_user_stats(
        run_to_memory_sink(
            out, "stateful_user_stats", "update", state_partitions=8
        )
    )


# The provider swap and changelog flag a deployment flips for RocksDB
# state; changelog checkpointing is also what makes the change feed
# readable.
_ROCKSDB_CONFS = {
    "spark.sql.streaming.stateStore.providerClass":
        "org.apache.spark.sql.execution.streaming.state."
        "RocksDBStateStoreProvider",
    "spark.sql.streaming.stateStore.rocksdb.changelogCheckpointing.enabled":
        "true",
}


def _run_for_state(
    stream_df: DataFrame,
    output_mode: str,
    name: str,
    key: str,
    state_partitions: int,
    extra_confs: dict[str, str] | None = None,
) -> str:
    """Run a state reader's finite stream to a noop sink on a fresh
    live checkpoint for ``key``: the reader reads the operator's state
    from the checkpoint, never a sink."""
    ckpt = live_dir(key)
    confs = {"spark.sql.shuffle.partitions": str(state_partitions), **(extra_confs or {})}
    writer = stream_df.writeStream.outputMode(output_mode).format("noop")
    run_available_now(writer, ckpt, name, confs)
    return ckpt


def _user_counts(state: DataFrame) -> DataFrame:
    """(user_id, n_events) from the state rows of a per-user count."""
    return state.select(
        F.col("key.user_id").alias("user_id"),
        F.col("value.count").cast("bigint").alias("n_events"),
    )


@query(
    "statestore_read",
    oracle="""
    SELECT user_id, COUNT(*) AS n_events
    FROM events GROUP BY user_id
    """,
)
def q_statestore_read(spark: SparkSession, sf_dir: str) -> DataFrame:
    """State-store reader source (Spark 4): run a streaming per-user
    count to a checkpoint, then read the operator's STATE directly as
    a batch DataFrame with format('statestore') — key struct, value
    struct (the aggregation buffer), partition_id. After an
    availableNow run consumes the finite source, the state IS the
    full aggregation, so the reshaped (user_id, n_events) rows carry
    an exact batch oracle. This is the production debugging/repair
    surface for stateful pipelines at 100 TB: inspect skewed keys,
    audit state size per partition, or bulk-fix corrupt state without
    replaying the stream (pair with the state-metadata source, which
    tests/test_streaming.py asserts lists this operator). The
    stream runs to a noop sink (the reader needs only its checkpoint,
    so no sink table is registered); the checkpoint persists for the
    read, one live per process, retired on rebuild (`tables.live_dir`)."""
    stream = load_events_stream(spark, sf_dir)
    agg = stream.groupBy("user_id").agg(F.count(F.lit(1)).alias("n_events"))
    ckpt = _run_for_state(
        agg, "update", "statestore_read", "ckpt",
        events_state_partitions(spark, sf_dir),
    )
    return _user_counts(spark.read.format("statestore").load(ckpt))


@query(
    "statestore_session_read",
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
        -- STRICTLY greater: Spark's session_window merges an event
        -- arriving exactly at the previous session's end (gap ==
        -- 30 min continues), same rule as the batch formulation —
        -- pinned by the r11 exact-gap differential
        CASE WHEN prev_ts IS NULL
                  OR ts - prev_ts > INTERVAL '30 minutes' THEN 1 ELSE 0 END AS new_sess
      FROM ordered
    ),
    sess AS (
      SELECT user_id, ts,
             SUM(new_sess) OVER (PARTITION BY user_id ORDER BY ts, event_id
                                 ROWS UNBOUNDED PRECEDING) AS sid
      FROM marked
    )
    SELECT user_id, CAST(MIN(ts) AS TIMESTAMP) AS sess_start, COUNT(*) AS n_events
    FROM sess GROUP BY user_id, sid
    """,
)
def q_statestore_session_read(spark: SparkSession, sf_dir: str) -> DataFrame:
    """State-store reader over a SESSION-WINDOW operator: run a
    streaming session_window aggregation (30-min gap, per user) to a
    checkpoint, then read the merge operator's state directly with
    format('statestore'). The operator is sessionWindowStateStoreSaveExec;
    its key is (user_id, sessionStartTime) and its value carries the
    merged session_window struct plus the running count — so the state
    IS the sessionization, one row per merged session.

    The watermark delay is set far beyond the data span ON PURPOSE: in
    append mode an availableNow drain EVICTS watermark-closed sessions
    from state (they flush to the sink and vanish), so a short delay
    would leave only the tail sessions readable. With nothing evicted
    the state equals the full batch sessionization — the exact oracle
    (same gaps-and-islands SQL as session_window, but with Spark's
    boundary: a gap of EXACTLY 30 minutes starts a new session, since
    session windows are [start, start+gap) and merge only on overlap).

    At 100 TB this is the ops surface for session pipelines: audit
    in-flight sessions per key/partition, find the skewed user holding
    open a giant session, or bulk-repair state without replaying — the
    same production story as statestore_read, on the operator whose
    state is hardest to reason about from the outside. State shards by
    the stream's key partitioning (8 here, pinned like statestore_read
    so the reader sees a stable layout)."""
    stream = load_events_stream(spark, sf_dir)
    agg = (
        stream.withWatermark("ts", "3650 days")
        .groupBy(F.session_window("ts", "30 minutes").alias("sw"), F.col("user_id"))
        .agg(F.count(F.lit(1)).alias("n_events"))
    )
    ckpt = _run_for_state(
        agg, "append", "statestore_session_read", "sess_ckpt",
        events_state_partitions(spark, sf_dir),
    )
    state = spark.read.format("statestore").load(ckpt)
    return state.select(
        F.col("key.user_id").alias("user_id"),
        F.col("value.session_window.start").alias("sess_start"),
        F.col("value.count").cast("bigint").alias("n_events"),
    )


@query(
    "joinstate_read",
    oracle="""
    WITH p AS (
      SELECT user_id, event_id, CAST(ts AS TIMESTAMP) AS pts
      FROM events WHERE event_type = 'purchase'
    ),
    c AS (
      SELECT user_id, event_id, CAST(ts AS TIMESTAMP) AS cts
      FROM events WHERE event_type = 'click'
    ),
    wm AS (
      SELECT least((SELECT date_trunc('milliseconds', max(pts)) FROM p),
                   (SELECT date_trunc('milliseconds', max(cts)) FROM c))
             - INTERVAL '1 hour' AS w
    )
    SELECT 'left' AS side, user_id, event_id AS ev_id
    FROM p WHERE pts >= (SELECT w FROM wm)
    UNION ALL
    SELECT 'right' AS side, user_id, event_id AS ev_id
    FROM c WHERE cts >= (SELECT w FROM wm) - INTERVAL '30 minutes'
    """,
)
def q_joinstate_read(spark: SparkSession, sf_dir: str) -> DataFrame:
    """State reader over a STREAM-STREAM JOIN: run the watermarked
    inner interval join (purchases x same-user clicks within 30 min)
    to a checkpoint, then read BOTH sides' symmetric-hash-join state
    with format('statestore').option('joinSide', 'left'/'right').

    What remains in state after the availableNow drain is exactly what
    watermark-based eviction has not yet removed, matched or not —
    symmetric hash join retains every input row until no FUTURE row on
    the other side could match it. The oracle pins both eviction
    rules: the left (purchase) side survives while pts >= the global
    watermark (a future click can have cts up to pts); the right
    (click) side survives while cts >= watermark - 30 min (a future
    purchase at the watermark can reach clicks up to 30 min older —
    Spark's StreamingJoinHelper derives precisely this bound from the
    range condition). Global watermark = min over both sides of
    (ms-truncated side max event time - 1 h delay), as pinned by the
    stream_left_outer_join probe.

    The production surface this covers at 100 TB: join state is the
    least observable stateful operator (two stores per side); this
    reads it as a DataFrame to audit per-key growth, find the entity
    whose clicks never evict, or right-size watermark delays."""
    from dpu_olap_spark.streaming.windows import interval_join_pipeline

    # The shared pipeline's output projection only shapes the noop
    # sink; the state reader below reads the JOIN STATE
    # (value.purchase_user etc.), whose schema is the side inputs —
    # identical to the pre-refactor inline construction.
    joined = interval_join_pipeline(spark, sf_dir, how="inner")
    ckpt = _run_for_state(
        joined, "append", "joinstate_read", "join_ckpt",
        join_replay_partitions(spark, sf_dir),
    )
    left = (
        spark.read.format("statestore")
        .option("joinSide", "left")
        .load(ckpt)
        .select(
            F.lit("left").alias("side"),
            F.col("value.purchase_user").alias("user_id"),
            F.col("value.purchase_id").alias("ev_id"),
        )
    )
    right = (
        spark.read.format("statestore")
        .option("joinSide", "right")
        .load(ckpt)
        .select(
            F.lit("right").alias("side"),
            F.col("value.click_user").alias("user_id"),
            F.col("value.click_id").alias("ev_id"),
        )
    )
    return left.unionAll(right)


@query(
    "rocksdb_state_agg",
    oracle="""
    SELECT user_id, event_type,
           COUNT(*) AS n_events,
           CAST(CAST(SUM(CAST(floor(value * 100 + 0.5) AS BIGINT)) AS DOUBLE) / 100.0
                AS DOUBLE) AS sum_value
    FROM events GROUP BY user_id, event_type
    """,
)
def q_rocksdb_state_agg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming aggregation on the ROCKSDB state store provider — the
    state backend that actually holds at 100 TB. The default HDFS-
    backed provider keeps every key in executor heap, so state is
    bounded by JVM memory; RocksDB spills to local SSD, bounds memory
    via block cache, and ships changelogs/snapshots to the checkpoint
    — which is why it (with changelog checkpointing, also enabled
    here) is the production choice for high-cardinality keyed state.
    Provider swap + changelog flag are exactly the two confs a
    deployment flips; the aggregation itself is unchanged Spark.

    Finite availableNow run in update mode; per-(user,type) final
    snapshot rows equal the batch GROUP BY — the exact oracle (same
    integer-cents pattern as stateful_user_stats)."""
    stream = load_events_stream(spark, sf_dir)
    agg = stream.groupBy("user_id", "event_type").agg(
        F.count(F.lit(1)).alias("n_events"),
        F.sum(F.floor(F.col("value") * 100 + 0.5).cast("bigint")).alias("cents"),
    )
    snap = run_to_memory_sink(
        agg,
        "rocksdb_state_agg",
        "update",
        state_partitions=events_state_partitions(spark, sf_dir),
        extra_confs=_ROCKSDB_CONFS,
    )
    # update-mode sinks may hold multiple snapshots per key (one per
    # micro-batch that touched it); keep the LAST snapshot per key —
    # with a finite source it equals the batch aggregate
    from pyspark.sql import Window as W

    w = W.partitionBy("user_id", "event_type").orderBy(F.col("n_events").desc())
    last = snap.withColumn("rn", F.row_number().over(w)).where(F.col("rn") == 1)
    return last.select(
        "user_id",
        "event_type",
        "n_events",
        (F.col("cents").cast("double") / 100.0).alias("sum_value"),
    )


@query(
    "statestore_changefeed",
    oracle="""
    SELECT user_id, COUNT(*) AS n_events
    FROM events GROUP BY user_id
    """,
)
def q_statestore_changefeed(spark: SparkSession, sf_dir: str) -> DataFrame:
    """State CHANGE FEED reader: run the per-user count on the RocksDB
    provider with changelog checkpointing (the changelog IS what makes
    the feed readable), then read the state's change history with
    format('statestore').option('readChangeFeed', true) from batch 0 —
    (batch_id, change_type, key, value) rows, the state-store analog
    of a CDC stream. The production use at 100 TB: audit WHEN a key's
    state changed and replay state evolution without re-running the
    pipeline (pair with snapshotStartBatchId time travel).

    The reshape keeps only each key's LAST change (max batch_id), so
    the result equals the final aggregation — the exact oracle —
    regardless of how availableNow split the source into micro-batches
    (per-batch change counts would be split-dependent; final state is
    not). update-mode aggregation never deletes, so the last change
    per key is its final value."""
    stream = load_events_stream(spark, sf_dir)
    agg = stream.groupBy("user_id").agg(F.count(F.lit(1)).alias("n_events"))
    ckpt = _run_for_state(
        agg, "update", "statestore_changefeed", "cf_ckpt",
        events_state_partitions(spark, sf_dir), _ROCKSDB_CONFS,
    )
    feed = (
        spark.read.format("statestore")
        .option("readChangeFeed", "true")
        .option("changeStartBatchId", "0")
        .load(ckpt)
    )
    from pyspark.sql import Window as W

    w = W.partitionBy("key.user_id").orderBy(F.col("batch_id").desc())
    last = feed.withColumn("rn", F.row_number().over(w)).where(F.col("rn") == 1)
    return _user_counts(last)


@query(
    "statestore_timetravel",
    oracle="""
    SELECT user_id, COUNT(*) AS n_events
    FROM events
    WHERE event_id % 3 <= 1
    GROUP BY user_id
    """,
)
def q_statestore_timetravel(spark: SparkSession, sf_dir: str) -> DataFrame:
    """State TIME TRAVEL: read an operator's state AS OF an earlier
    micro-batch with format('statestore').option('batchId', b) — the
    recovery/audit surface for "what did this key hold before the bad
    deploy". To make history deterministic, the source is split into
    3 slices (event_id % 3) written as separate files with strictly
    increasing mtimes; the file stream (oldest-first listing,
    maxFilesPerTrigger=1) then commits exactly one slice per batch, so
    state at batchId=1 equals the aggregation over slices 0-1 — the
    exact oracle. At 100 TB the same read answers point-in-time state
    questions directly from checkpoint snapshots+changelogs without
    replaying the pipeline (snapshotStartBatchId/snapshotPartitionId
    narrow the scan to one partition's snapshot lineage for targeted
    repair). The slice files are deleted as soon as the stream has
    run: the state reader reads only the checkpoint, which is retired
    on rebuild like its siblings'."""
    ev = load_table(spark, sf_dir, "events")

    src = tempfile.mkdtemp(prefix="tt_src_")
    try:
        now = time.time()
        # ONE pass builds all three slice files (r18 optimization round,
        # guide §1.2: the previous per-slice loop scanned events three
        # times in three jobs).  partitionBy splits the single write task
        # into one file per slice value; repartition(1) is what guarantees
        # EXACTLY one file per slice — a multi-task write could emit
        # several part files per slice dir and maxFilesPerTrigger=1 would
        # then split a slice across batches, breaking the batchId=1 ==
        # slices 0-1 contract the oracle encodes.  The partitioning column
        # is synthetic, so the data files keep exactly the original schema.
        staging = os.path.join(src, "_staged")
        (
            ev.withColumn("slice", (F.col("event_id") % 3).cast("int"))
            .repartition(1)
            .write.mode("overwrite")
            .partitionBy("slice")
            .parquet(staging)
        )
        for k in range(3):
            sdir = os.path.join(staging, f"slice={k}")
            parts = [f for f in os.listdir(sdir) if f.endswith(".parquet")]
            assert len(parts) == 1, (
                f"expected exactly one part file for slice {k}, got {parts}"
            )
            dst = os.path.join(src, f"{k:02d}.parquet")
            os.rename(os.path.join(sdir, parts[0]), dst)
            # strictly increasing mtimes pin the oldest-first batch order
            os.utime(dst, (now - 300 + k * 60, now - 300 + k * 60))
        shutil.rmtree(staging, ignore_errors=True)

        stream = (
            spark.readStream.schema(ev.schema)
            .option("maxFilesPerTrigger", "1")
            .option("latestFirst", "false")
            .parquet(src)
        )
        agg = stream.groupBy("user_id").agg(F.count(F.lit(1)).alias("n_events"))
        ckpt = _run_for_state(
            agg, "update", "statestore_timetravel", "tt_ckpt",
            events_state_partitions(spark, sf_dir),
        )
    finally:
        shutil.rmtree(src, ignore_errors=True)
    return _user_counts(
        spark.read.format("statestore").option("batchId", "1").load(ckpt)
    )


# ---------------------------------------------------------------------------
# Streaming bounded-histogram percentile (r15 verdict #4): the round-15
# histogram sketch meets the keyed-state machinery.  State is keyed by
# (group, bucket) — each key holds ONE BIGINT count — so the state
# store IS the bounded (group, bucket) histogram: #groups x #buckets
# entries no matter how many events stream through, the same
# "state tracks keys, not events" invariant SCALE_PROBE.md attests for
# the agg/join state families.  The batch twin (histogram_percentile's
# algebra over the same events) is the exact oracle.

HIST_BUCKET_CENTS_STREAM = 2_000  # $20 buckets over events.value cents

HIST_OUTPUT_SCHEMA = T.StructType(
    [
        T.StructField("event_type", T.StringType(), False),
        T.StructField("b", T.LongType(), False),
        T.StructField("cnt", T.LongType(), False),
    ]
)

HIST_STATE_SCHEMA = T.StructType([T.StructField("cnt", T.LongType(), False)])


def _track_bucket(
    key: tuple[Any, ...], pdfs: Iterator[pd.DataFrame], state: GroupState
) -> Iterator[pd.DataFrame]:
    """One histogram cell: accumulate this (group, bucket) key's event
    count across micro-batches and emit the cumulative snapshot.  No
    timeout: a histogram cell never expires — the state is bounded by
    construction (cells, not events), so eviction would only lose
    counts."""
    event_type, b = key
    cnt = state.get[0] if state.exists else 0
    for pdf in pdfs:
        cnt += len(pdf)
    state.update((cnt,))
    yield pd.DataFrame({"event_type": [event_type], "b": [b], "cnt": [cnt]})


def streaming_bucket_counts(events_stream: DataFrame) -> DataFrame:
    """events_stream needs (event_type, value); rows are bucketed by
    exact-integer cents FLOOR division (the sanctioned positive-mod
    spelling — sign-exact on any domain) BEFORE the keyed state op, so
    the per-key work is a length count, never value math."""
    W = HIST_BUCKET_CENTS_STREAM
    bucketed = (
        events_stream.where(F.col("value").isNotNull())
        .select(
            "event_type",
            F.floor(F.col("value") * 100 + 0.5).cast("bigint").alias("c"),
        )
        .select(
            "event_type",
            F.expr(f"(c - (((c % {W}) + {W}) % {W})) DIV {W}").alias("b"),
        )
    )
    return bucketed.groupBy("event_type", "b").applyInPandasWithState(
        _track_bucket,
        outputStructType=HIST_OUTPUT_SCHEMA,
        stateStructType=HIST_STATE_SCHEMA,
        outputMode="update",
        timeoutConf=GroupStateTimeout.NoTimeout,
    )


def finalize_histogram_percentiles(emitted: DataFrame) -> DataFrame:
    """Collapse the update-mode snapshots (max per cell = the final
    count) into the final bounded histogram, then read p25/p50/p75 off
    the cumulative walk — the identical algebra, thresholds, and
    bracket arithmetic as q_histogram_percentile (operators/
    advanced.py), applied to state-built counts instead of a batch
    groupBy."""
    from pyspark.sql import Window

    W = HIST_BUCKET_CENTS_STREAM
    h = emitted.groupBy("event_type", "b").agg(F.max("cnt").alias("cnt"))
    w_run = (
        Window.partitionBy("event_type")
        .orderBy("b")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    w_all = Window.partitionBy("event_type")
    cum = h.select(
        "event_type",
        "b",
        F.sum("cnt").over(w_run).alias("run"),
        F.sum("cnt").over(w_all).alias("tot"),
    )
    run, b, tot = F.col("run"), F.col("b"), F.col("tot")
    out = cum.groupBy("event_type").agg(
        F.min("tot").alias("n_items"),
        F.min(F.when(4 * run >= tot, b)).alias("p25_bucket"),
        F.min(F.when(2 * run >= tot, b)).alias("p50_bucket"),
        F.min(F.when(4 * run >= 3 * tot, b)).alias("p75_bucket"),
    )
    return out.select(
        "event_type",
        "n_items",
        "p25_bucket",
        "p50_bucket",
        "p75_bucket",
        (F.col("p25_bucket") * W).alias("p25_lo_cents"),
        ((F.col("p75_bucket") + 1) * W - 1).alias("p75_hi_cents"),
    )


@query(
    "stream_histogram_pctl",
    oracle="""
    WITH c0 AS (
      SELECT event_type,
             CAST(floor(value * 100 + 0.5) AS BIGINT) AS c
      FROM events WHERE value IS NOT NULL
    ),
    h AS (
      -- FLOOR-division buckets (the sanctioned positive-mod spelling:
      -- the numerator becomes an exact multiple, so truncating //
      -- equals floor on any sign)
      SELECT event_type,
             (c - (((c % 2000) + 2000) % 2000)) // 2000 AS b,
             COUNT(*) AS cnt
      FROM c0
      GROUP BY 1, 2
    ),
    cum AS (
      SELECT event_type, b,
             CAST(SUM(cnt) OVER (PARTITION BY event_type ORDER BY b ASC
                   ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
                  AS BIGINT) AS run,
             CAST(SUM(cnt) OVER (PARTITION BY event_type)
                  AS BIGINT) AS tot
      FROM h
    )
    SELECT event_type,
           MIN(tot) AS n_items,
           MIN(CASE WHEN 4 * run >= tot THEN b END) AS p25_bucket,
           MIN(CASE WHEN 2 * run >= tot THEN b END) AS p50_bucket,
           MIN(CASE WHEN 4 * run >= 3 * tot THEN b END) AS p75_bucket,
           MIN(CASE WHEN 4 * run >= tot THEN b END) * 2000
             AS p25_lo_cents,
           (MIN(CASE WHEN 4 * run >= 3 * tot THEN b END) + 1) * 2000 - 1
             AS p75_hi_cents
    FROM cum
    GROUP BY event_type
    """,
)
def q_stream_histogram_pctl(spark: SparkSession, sf_dir: str) -> DataFrame:
    """STREAMING bounded-histogram percentile: p25/p50/p75 value
    brackets per event type, maintained incrementally by a keyed-state
    operator while events stream in (availableNow, update mode,
    memory sink), then finalized with the exact cumulative-walk
    algebra of q_histogram_percentile.

    Why this shape at 100 TB: a streaming percentile normally needs
    either a mergeable sketch (approximate) or full retention (
    unbounded).  The bounded histogram is the third way — keying the
    STATE STORE by (group, bucket) makes each state entry one BIGINT
    counter, so state size is #groups x #buckets (here 5 x ~25)
    FOREVER, independent of stream length; every micro-batch touches
    only the cells its rows land in, and the per-cell update is a
    row-count (no value math inside the Python hop).  The finalize
    walk runs over ~125 rows.  Integer thresholds (4*run >= tot etc.)
    are the binary-exact rule-9 discipline; the emitted snapshot is
    cumulative so max-per-cell is eviction/replay-safe.

    Batch-twin oracle: the same histogram algebra computed by DuckDB
    directly over events — with a finite source, streamed state-built
    counts equal the batch GROUP BY bit-for-bit.

    Reference parity: generalizes the aggregator-function-pointer seam
    (/root/reference/dpu/shared/kernels/aggr.h:9) to keyed,
    fault-tolerant streaming state, composed with SURVEY §2.4's
    partial->final discipline (the snapshot max IS the final merge)."""
    stream = load_events_stream(spark, sf_dir)
    out = streaming_bucket_counts(stream)
    # ~125 active (group, bucket) cells: 8 state partitions (see
    # run_to_memory_sink's sizing note)
    return finalize_histogram_percentiles(
        run_to_memory_sink(
            out, "stream_histogram_pctl", "update", state_partitions=8
        )
    )
