"""Parquet table loader for the driver-provided TPC-H-ish testdata.

The reference has no storage layer at all — data is generated in
memory per benchmark (host/generator/generator.cc:22-71). Our scan is
`spark.read.parquet`, which at 100 TB gives us predicate pushdown,
column pruning, and partition pruning for free; tests assert the
pushdown actually reaches the scan (tests/test_plans.py).

Every reader is handed a schema derived from the file's parquet footer
(`footer_schema`, a driver-side metadata read), so loading a table
launches no Spark job; without a schema `spark.read.parquet` runs a
one-task inference job per call. Files whose footer types this module
does not map (nanosecond or INT96 timestamps, decimals, structs,
Spark-written files, directories) fall back to Spark's inference.
The footer readers (`footer_schema`, `parquet_row_count`,
`parquet_int_column_max`) share one memo keyed by per-file
fingerprint, so a file rewritten in place is read afresh.

The module also owns the engine's one runner for finite streams
(`run_available_now`): every availableNow stream, whatever its sink,
is started, awaited and stopped there, with its confs set and restored
under one lock, and raises if it does not finish in time.
`run_to_memory_sink` is the memory-sink front end to it.

It is also the one owner of what a build leaves behind. Builders pass
only a family or key: `unique_name` makes every per-build name
(`<family>_<n>` from one counter; memory-sink tables, bucketed tables),
and `live_dir(key)` hands out every output directory a build returns a
DataFrame over (state checkpoints, sink outputs, the PQ index, the
shipped package) under one per-process root made on first use. A key's
previous directory is retired, the oldest retirees are deleted, and the
root is removed at process exit.
"""

from __future__ import annotations

import atexit
import glob
import itertools
import os
import shutil
import tempfile
import threading
from urllib.parse import urlparse

import pyarrow as pa
import pyarrow.parquet as pq
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import types as T

TABLES = (
    "region",
    "nation",
    "customer",
    "supplier",
    "part",
    "orders",
    "lineitem",
    "events",
    "documents",
    "embeddings",
)

# Dimensions small enough to broadcast at any realistic scale factor.
# (region/nation are bounded by geography; supplier/part/customer grow
# with SF but stay << fact tables — at 100 TB those three would be
# bucketed instead; see plans/notes.md.)
BROADCAST_DIMS = ("region", "nation", "supplier")


# Older testdata wrote events.ts as parquet TIMESTAMP(NANOS) (today it
# is TIMESTAMP(MICROS)); Spark's vectorized reader rejects nanos. We
# read them as long (spark.sql.legacy.parquet.nanosAsLong, set in
# session._CONFS) and truncate to microseconds — the same floor the
# DuckDB oracle applies when casting TIMESTAMP_NS -> TIMESTAMP.
_NANO_TS_COLS = {"events": ("ts",)}


def table_path(sf_dir: str, name: str) -> str:
    return os.path.join(sf_dir, f"{name}.parquet")


def load_table(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    if name not in TABLES:
        raise KeyError(f"unknown table {name!r}; known: {TABLES}")
    path = table_path(sf_dir, name)
    schema = footer_schema(path)
    reader = spark.read if schema is None else spark.read.schema(schema)
    return _restore_nano_ts(reader.parquet(path), name)


# --- parquet footer reads (driver-side metadata, no Spark job) -------------

# (path) -> (fingerprint, FileMetaData). One entry per file, replaced
# when the file's fingerprint changes.
_FOOTERS: dict[str, tuple[tuple, pq.FileMetaData]] = {}


def _parts(path: str) -> list[str]:
    """A single file, or every part file of a directory."""
    if os.path.isdir(path):
        return sorted(glob.glob(os.path.join(path, "*.parquet")))
    return [path]


def fingerprint(path: str) -> tuple[tuple[int, int], ...]:
    """(mtime_ns, size) of each part of a parquet file or directory:
    changes whenever any part is rewritten, so caches of anything
    derived from the table's contents can key on it."""
    return tuple((st.st_mtime_ns, st.st_size) for st in map(os.stat, _parts(path)))


def _footer(path: str) -> pq.FileMetaData:
    fp = fingerprint(path)
    hit = _FOOTERS.get(path)
    if hit is None or hit[0] != fp:
        hit = (fp, pq.read_metadata(path))
        _FOOTERS[path] = hit
    return hit[1]


def _footers(path: str) -> list[pq.FileMetaData]:
    """Footers of a single file, or of every part file of a directory."""
    return [_footer(f) for f in _parts(path)]


# Arrow types whose Spark inference is fixed under session._CONFS. A
# tz-naive timestamp[us] reads as TIMESTAMP because
# inferTimestampNTZ=false; timestamp[ns] is absent because nanosAsLong
# reads it as bigint, and INT96 footers surface as timestamp[ns].
_SPARK_TYPES = {
    pa.int32(): T.IntegerType(),
    pa.int64(): T.LongType(),
    pa.float32(): T.FloatType(),
    pa.float64(): T.DoubleType(),
    pa.string(): T.StringType(),
    pa.bool_(): T.BooleanType(),
    pa.timestamp("us"): T.TimestampType(),
    pa.timestamp("us", tz="UTC"): T.TimestampType(),
}

# Spark writes its own schema into this footer key and infers from it
# in preference to the parquet types, so the map above does not apply.
_SPARK_SCHEMA_KEY = b"org.apache.spark.sql.parquet.row.metadata"


def _spark_type(t: pa.DataType) -> T.DataType | None:
    if pa.types.is_list(t):
        elem = _SPARK_TYPES.get(t.value_type)
        return None if elem is None else T.ArrayType(elem, containsNull=True)
    return _SPARK_TYPES.get(t)


def footer_schema(path: str) -> T.StructType | None:
    """The schema Spark would infer for one parquet file, derived from
    its footer on the driver (no Spark job), or None when any column's
    type is outside the known map, the file was written by Spark, or
    ``path`` is not a single file — the caller then lets Spark infer."""
    if not os.path.isfile(path):
        return None
    md = _footer(path)
    if _SPARK_SCHEMA_KEY in (md.metadata or {}):
        return None
    fields = []
    for f in md.schema.to_arrow_schema():
        st = _spark_type(f.type)
        if st is None:
            return None
        fields.append(T.StructField(f.name, st, nullable=True))
    return T.StructType(fields)


def parquet_row_count(path: str) -> int:
    """Row count from the parquet footer. Accepts a single file or a
    directory of part files; each part is memoized by its own
    fingerprint, so an in-place overwrite of a part (directory mtime
    unchanged) still refreshes the count."""
    return sum(md.num_rows for md in _footers(path))


def parquet_int_column_max(path: str, column: str) -> int | None:
    """Exact MAX of an integer column from parquet footer statistics
    (guide §6: make readers use statistics). Integer min/max stats are
    exact (no truncation, unlike strings), so this equals the agg
    result whenever every row group carries stats; returns None
    otherwise and the caller falls back to the scan. Accepts a single
    file or a directory of part files, same as parquet_row_count."""
    mds = _footers(path)
    if not mds:
        return None
    best: int | None = None
    for md in mds:
        try:
            idx = next(
                i for i in range(len(md.schema))
                if md.schema.column(i).name == column
            )
        except StopIteration:
            return None
        for rg in range(md.num_row_groups):
            st = md.row_group(rg).column(idx).statistics
            if st is None or not st.has_min_max:
                return None
            mx = st.max
            if not isinstance(mx, int):
                return None
            best = mx if best is None else max(best, mx)
    return best


# --- replay-volume-adaptive state partitioning (SCALE.md §r16) -------------

# The sweep's measured knee: symmetric-join replay pushes EVERY input
# row through a per-partition state map, so partitions track VOLUME
# (rows/300k, capped at cores), not key count; per-key AGG state keeps
# the r12 key-sized default (8) because per-batch commit cost dominates
# under ~100k events.
REPLAY_ROWS_PER_PARTITION = 300_000
STATE_PARTITIONS_DEFAULT = 8
# r18 optimization-round re-measurement (guide §2.4: fewer, larger
# state partitions when per-partition overhead dominates): a
# symmetric stream-stream join commits FOUR state stores per
# partition per batch (left/right x keyToNumValues/keyWithIndex), and
# each store commit paid a near-fixed cost (~100ms task time even for
# a 63-row batch, via StreamingQueryProgress commitTimeMs), so at
# fixture volumes the 8-partition floor paid 4x8 store commits per
# batch for ~40k state rows.  Sweep on the registered interval join at
# sf0.1 (200k events, identical 183 emitted rows at every setting):
# p8 3.4s / p4 2.1s / p2 1.9s / p1 2.0s medians — the knee was 4.
# Most of that per-store cost was not the store itself but processes
# forked by Hadoop's local filesystem without its native library: a
# `readlink` for each side of every checkpoint rename and a `chmod`
# for each created file.  Local checkpoints now rename without forking
# (run_available_now), and the engine's sessions create files without
# forking (session.py binds the "file" scheme to NoForkLocalFileSystem);
# the knees (4 here, 8 for the Python-state AGG queries) were measured
# with the forks and are not re-tuned.  The single-store AGG queries keep
# STATE_PARTITIONS_DEFAULT=8 (their sweep showed p2 = 5.0s vs
# p8 = 3.1s: pandas-worker parallelism dominates there).  At replay
# scale nothing changes: rows/300k takes over above 1.2M.
JOIN_STATE_PARTITIONS_FLOOR = 4

def replay_state_partitions(n_rows: int, cores: int) -> int:
    """The r16 sweep rule for stream-stream JOIN state partitions:
    ``max(4, min(cores, n_rows // 300_000))``.  Measured at 10M events
    (SCALE.md §r16): p8 = 105.9s, p32 = 32.1s (3.3x) on 32 cores with
    identical emitted rows; p64 regressed at 1M, so cores is the cap.
    At driver/bench fixture sizes (<= 1.2M events) the rule floors at
    4 — the r18 optimization-round knee (see the comment above
    JOIN_STATE_PARTITIONS_FLOOR): the join's 4-stores-per-partition
    commit cost, then mostly forked processes, made the old floor of 8
    pay ~1s/query for no parallelism gain at fixture volumes; emitted
    rows are invariant."""
    return max(
        JOIN_STATE_PARTITIONS_FLOOR,
        min(cores, n_rows // REPLAY_ROWS_PER_PARTITION),
    )


def join_replay_partitions(spark: SparkSession, sf_dir: str) -> int:
    """Volume-adaptive state partitions for the registered
    stream-stream join queries: events row count from the parquet
    footer, cores from the local scheduler."""
    n = parquet_row_count(table_path(sf_dir, "events"))
    return replay_state_partitions(n, spark.sparkContext.defaultParallelism)


def events_state_partitions(spark: SparkSession, sf_dir: str) -> int:
    """Volume-adaptive state partitions for the JVM-side stateful
    streams over the events table (aggregations, dedup, session
    windows, time-travel) — the same rows/300k volume rule as the
    join streams.  r18 optimization-round measurement (identical
    output rows at every setting): a JVM agg stream over sf0.1's 200k
    events ran 0.63s at p8 vs 0.53s at p4; the doubled-stream dedup
    (200k state keys) 0.93s at p8 vs 0.79s at p4 — a per-partition
    store-commit cost dominated under ~1.2M rows, so the floor of 4
    won; above it the volume term takes over exactly as for the
    joins.  That commit cost was mostly forked `readlink`/`chmod`
    processes (see the comment above JOIN_STATE_PARTITIONS_FLOOR);
    in the engine's sessions both are gone for local checkpoints, and
    the knee was measured with them and is not re-tuned.
    Python-stateful streams (applyInPandasWithState) deliberately KEEP
    state_partitions=8: their sweep showed p2 regressing 3.1s -> 5.0s
    because pandas-worker parallelism, not commit cost, dominates
    there."""
    return join_replay_partitions(spark, sf_dir)


def _restore_nano_ts(df: DataFrame, name: str) -> DataFrame:
    from pyspark.sql import functions as F

    for col in _NANO_TS_COLS.get(name, ()):
        dtype = dict(df.dtypes).get(col)
        if dtype == "timestamp_ntz":
            # Testdata regenerated with tz-naive TIMESTAMP(MICROS): if
            # the session missed inferTimestampNTZ=false (session.py),
            # cast to session-tz TIMESTAMP here — watermarks require it
            # and the session tz is pinned UTC, so the cast is
            # value-preserving.
            df = df.withColumn(col, F.col(col).cast("timestamp"))
        elif dtype == "bigint":
            # floor division, not `div` (which truncates toward zero):
            # a pre-epoch nanosecond instant belongs to the EARLIER
            # microsecond (the us interval containing it) — the
            # time-correct semantic. NOTE (r11 differential): DuckDB
            # 1.0's TIMESTAMP_NS -> TIMESTAMP cast truncates toward
            # zero instead (-1 ns -> the epoch), so the two engines
            # diverge on pre-epoch sub-microsecond values; the legacy
            # ns testdata was all post-epoch, where floor == truncate.
            # pmod keeps the arithmetic exact in int64 (the ns
            # epoch magnitude overflows a double's 53-bit mantissa).
            df = df.withColumn(
                col,
                F.expr(f"timestamp_micros(({col} - pmod({col}, 1000)) div 1000)"),
            )
    return df


def load_tables(spark: SparkSession, sf_dir: str) -> dict[str, DataFrame]:
    return {name: load_table(spark, sf_dir, name) for name in TABLES}


def register_views(spark: SparkSession, sf_dir: str) -> None:
    """Register every table as a temp view so spark.sql() queries work."""
    for name in TABLES:
        load_table(spark, sf_dir, name).createOrReplaceTempView(name)


def raw_schema(spark: SparkSession, path: str) -> T.StructType:
    """The schema to hand a reader of ``path`` before any restoration:
    from the footer (no job), or from Spark's inference (one job) when
    the footer has a type `footer_schema` does not map (e.g.
    TIMESTAMP(NANOS), read as a nano-epoch long)."""
    schema = footer_schema(path)
    return spark.read.parquet(path).schema if schema is None else schema


def load_events_stream(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming source for the events table: raw-schema file stream
    with the nano->micro restoration applied on the streaming DF.
    Single point of truth for every streaming query and test."""
    path = table_path(sf_dir, "events")
    return _restore_nano_ts(
        spark.readStream.format("parquet")
        .schema(raw_schema(spark, path))
        .option("pathGlobFilter", "events.parquet")
        .load(sf_dir),
        "events",
    )


# --- what a build leaves behind ----------------------------------------------

# One counter names every per-build resource: memory-sink tables, the
# bucketed tables of bucketed_join, and output directories.
_names = itertools.count()


def unique_name(family: str) -> str:
    """``<family>_<n>``, unique in this process."""
    return f"{family}_{next(_names)}"


_LIVE_SINKS: dict[str, str] = {}

# Directories a builder writes and returns a lazy DataFrame over (state
# checkpoints, sink outputs, the PQ index, the shipped package): one
# live directory per key, all under one per-process root. A rebuild
# retires the previous one instead of deleting it at once, as a prior
# DataFrame may still be unevaluated; a reader two rebuilds stale has
# been evaluated or dropped, so only the newest RETIRED_KEEP retirees
# per key are kept and older ones are deleted. The root goes at process
# exit. Deletion is Python's rmtree: Spark's Utils.deleteRecursively
# forks `rm -rf`.
_ROOT: str | None = None
_LIVE_DIRS: dict[str, str] = {}
_RETIRED_DIRS: dict[str, list[str]] = {}
RETIRED_KEEP = 2
_DIRS_LOCK = threading.Lock()


def live_dir(key: str) -> str:
    """A fresh path ``<root>/<key>_<n>`` that does not exist yet, made
    the live directory for ``key``; the previous one is retired (deleted
    after RETIRED_KEEP newer retirements of the same key, or with the
    root at process exit, whichever comes first). The root is made on
    the first call, so importing this module creates nothing."""
    global _ROOT
    with _DIRS_LOCK:
        if _ROOT is None:
            _ROOT = tempfile.mkdtemp(prefix="dpu_olap_spark_")
        path = os.path.join(_ROOT, unique_name(key))
        old = _LIVE_DIRS.get(key)
        _LIVE_DIRS[key] = path
        if old is None:
            return path
        retired = _RETIRED_DIRS.setdefault(key, [])
        retired.append(old)
        doomed = retired[:-RETIRED_KEEP]
        del retired[:-RETIRED_KEEP]
    for d in doomed:
        shutil.rmtree(d, ignore_errors=True)
    return path


@atexit.register
def _remove_root() -> None:
    # no reader outlives the interpreter, so every directory goes here
    if _ROOT is not None:
        shutil.rmtree(_ROOT, ignore_errors=True)


_STATE_CONF_LOCK = threading.Lock()

# Python Data Source registration is NOT safe against concurrent
# register calls: a register() in one thread can transiently hide
# other Python sources from a lookup (save/load) in flight in another
# (measured: bench's 8-thread phase failed pycsv_sink lookup while a
# sibling source re-registered). Register each source ONCE per session
# under one shared lock; after that no further register calls race
# with reads/writes. WeakKeyDictionary so a torn-down session's entry
# dies with it (and an id()-reused new session never inherits it).
import weakref

_PY_SRC_LOCK = threading.Lock()
_PY_SRC_REGISTERED: "weakref.WeakKeyDictionary" = weakref.WeakKeyDictionary()


def register_python_sources_once(spark: SparkSession) -> None:
    """Register ALL Python data sources in one locked block on first
    touch. Serializing individual register calls is NOT enough: the
    JVM-side registry put can break a CONCURRENT lookup for a
    different, already-registered name (measured: 8-thread cold start
    lost pycsv_sink while synth_metrics registered), so the only safe
    schedule is every registration strictly before any save/load. One
    thread registers the trio; the rest wait on the lock and find the
    session marked done."""
    with _PY_SRC_LOCK:
        if _PY_SRC_REGISTERED.get(spark):
            return
        from dpu_olap_spark.sources.python_source import _make_sink, _make_source
        from dpu_olap_spark.sources.python_stream_source import _make_stream_source

        spark.dataSource.register(_make_source())
        spark.dataSource.register(_make_sink())
        spark.dataSource.register(_make_stream_source())
        _PY_SRC_REGISTERED[spark] = True


# Spark's default checkpoint manager goes through Hadoop's FileContext,
# whose rename-with-overwrite resolves both paths first; without the
# native Hadoop library the local filesystem forks a `readlink` for each
# (two per state-store delta, offset entry and commit entry). The
# FileSystem-API manager renames a local file with File.renameTo, an
# atomic POSIX rename that forks nothing. Spark still wraps it in its
# checksum manager, so checkpoint checksums are written and verified.
# Sessions from session.get_spark bind FileContext's "file" scheme to a
# local file system that reads links without forking; this override
# still serves sessions the engine did not build (the driver's own).
_LOCAL_CHECKPOINT_MANAGER = (
    "org.apache.spark.sql.execution.streaming.checkpointing."
    "FileSystemBasedCheckpointFileManager"
)
_CHECKPOINT_MANAGER_CONF = "spark.sql.streaming.checkpointFileManagerClass"


def _checkpoint_confs(checkpoint: str) -> dict[str, str]:
    """The confs a stream on ``checkpoint`` needs for its checkpoint
    files: the FileSystem-API manager for a local path (bare or
    ``file:``), none for a remote one (``hdfs://``, ``s3a://``, ...),
    which keeps Spark's default."""
    if urlparse(checkpoint).scheme in ("", "file"):
        return {_CHECKPOINT_MANAGER_CONF: _LOCAL_CHECKPOINT_MANAGER}
    return {}


def run_available_now(
    writer,
    checkpoint: str,
    name: str,
    confs: dict[str, str] | None = None,
    timeout_s: float = 180,
) -> None:
    """Run a finite stream to completion: the one place the engine
    starts, awaits and stops an availableNow stream.

    ``writer`` is a DataStreamWriter with its sink and output mode set;
    this adds the checkpoint and the availableNow trigger. ``confs``
    (e.g. state partitions or the state-store provider) matter only
    while the stream PLANS — state partitioning is pinned at first
    start — so they are set, the stream started, and the previous
    values restored under one lock: concurrent callers (bench's
    thread-pool phase) never plan against another stream's value or
    restore a stale one. The long await runs outside the lock. The
    stream is stopped whatever happens, and a stream that did not
    finish in time raises — a timed-out stream would otherwise leave
    partial results behind.

    A local checkpoint (a bare or ``file:`` path) is written through
    the FileSystem-API checkpoint manager (``_checkpoint_confs``),
    which renames without forking a process; remote ones keep Spark's
    default. That manager's no-overwrite create checks ``exists`` and
    then renames, so it does not guard against a second concurrent
    writer. Every checkpoint in the engine has one writer: a fresh
    ``live_dir`` path or ``TemporaryDirectory``, or a caller-owned path.
    """
    spark = writer._spark
    confs = {**(confs or {}), **_checkpoint_confs(checkpoint)}
    with _STATE_CONF_LOCK:
        prev = {k: spark.conf.get(k, None) for k in confs}
        try:
            for k, v in confs.items():
                spark.conf.set(k, v)
            q = (
                writer.option("checkpointLocation", checkpoint)
                .trigger(availableNow=True)
                .start()
            )
        finally:
            for k, v in prev.items():
                if v is None:
                    spark.conf.unset(k)
                else:
                    spark.conf.set(k, v)
    try:
        finished = q.awaitTermination(timeout_s)
    finally:
        q.stop()
    if not finished:
        raise RuntimeError(
            f"stream {name!r} did not finish within {timeout_s}s; "
            "refusing to return partial results"
        )


def run_to_memory_sink(
    stream_df,
    family: str,
    output_mode: str,
    timeout_s: int = 180,
    state_partitions: int | None = None,
    extra_confs: dict[str, str] | None = None,
) -> DataFrame:
    """Run a finite stream into a memory sink named ``<family>_<n>``
    (``run_available_now``) and return the sink table. The family's
    previous sink table is dropped so repeated builds don't accumulate
    result copies on the driver.

    ``state_partitions`` sizes the stateful operator's state store: a
    streaming query pins spark.sql.shuffle.partitions at FIRST start
    for the checkpoint's lifetime, and every micro-batch pays a
    per-partition state-store commit, so the right number tracks the
    active key cardinality, not the batch-shuffle default (measured at
    sf0.1: 150 user keys, 32 partitions -> 7.9 s, 8 -> 2.9 s). The
    conf is restored after the start; a concurrently *planned* batch
    query would at worst coalesce through AQE, not break.
    """
    spark = stream_df.sparkSession
    sink_name = unique_name(family)
    prev = _LIVE_SINKS.get(family)
    if prev is not None:
        try:
            spark.catalog.dropTempView(prev)
        except Exception:
            pass
    _LIVE_SINKS[family] = sink_name

    confs = dict(extra_confs or {})
    if state_partitions is not None:
        confs["spark.sql.shuffle.partitions"] = str(state_partitions)
    writer = stream_df.writeStream.outputMode(output_mode).format("memory")
    with tempfile.TemporaryDirectory(prefix=f"ckpt_{sink_name}_") as ckpt:
        run_available_now(
            writer.queryName(sink_name), ckpt, sink_name, confs, timeout_s
        )
    return spark.table(sink_name)
