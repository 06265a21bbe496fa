"""SparkSession factory tuned for the local[32] test harness but with
settings that carry to a 1000-executor cluster (AQE, skew join,
broadcast thresholds).

The reference hand-tunes device parallelism (NR_DPUS x 16 tasklets,
host/system/system.h:14-16); here parallelism is tasks x partitions and
the knobs are declarative configs.
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession

try:  # py4j is absent under Spark Connect-only installs
    from py4j.protocol import Py4JError
except ImportError:  # pragma: no cover - connect-only environment

    class Py4JError(Exception):
        """Placeholder so the except clause below stays valid."""

# Scale-oriented defaults. On a real cluster these are the same knobs,
# sized to executor memory; AQE coalesces/splits at runtime either way.
_CONFS: dict[str, str] = {
    "spark.sql.adaptive.enabled": "true",
    "spark.sql.adaptive.coalescePartitions.enabled": "true",
    "spark.sql.adaptive.skewJoin.enabled": "true",
    "spark.sql.execution.arrow.pyspark.enabled": "true",
    # Python UDTFs plan BatchEvalPythonUDTF (row-at-a-time pickling) by
    # default; the Arrow path batches like every other Python seam in
    # this engine. Found by the fleet plan lint — the only two
    # row-at-a-time nodes in the 190-query registry were the UDTFs.
    "spark.sql.execution.pythonUDTF.arrow.enabled": "true",
    # Deterministic timestamp semantics vs the DuckDB oracle.
    "spark.sql.session.timeZone": "UTC",
    # Keep shuffle fan-out proportional to local cores; AQE coalesces.
    "spark.sql.shuffle.partitions": "32",
    "spark.sql.autoBroadcastJoinThreshold": str(64 * 1024 * 1024),
    # ANSI off: mirror the reference's permissive arithmetic (wraparound
    # is avoided by widening instead, SURVEY.md section 1.2).
    "spark.sql.ansi.enabled": "false",
    # events.ts is parquet TIMESTAMP(NANOS); read as long, converted in
    # sources/tables.py. Without this the parquet reader throws.
    "spark.sql.legacy.parquet.nanosAsLong": "true",
    # Testdata timestamps are tz-naive parquet TIMESTAMP(MICROS); by
    # default Spark 4 infers TIMESTAMP_NTZ for those, which
    # withWatermark rejects and which diverges from the DuckDB oracle
    # comparison path. Read them as session-tz TIMESTAMP (UTC above)
    # instead; sources/tables.py also casts defensively.
    "spark.sql.parquet.inferTimestampNTZ.enabled": "false",
}

_NOFORK_FS = "dpu_olap_spark.jvm.NoForkLocalFileSystem"

# Static confs: only applicable at JVM launch (tune() on a running
# session skips them via its try/except). local[32] defaults to a 1 GiB
# driver heap, which in local mode is ALSO all 32 executor threads'
# working memory — the 64-lane MinHash aggregate OOMs there at probe
# scale. On a cluster this is spark.executor.memory sizing instead.
_STATIC_CONFS: dict[str, str] = {
    "spark.driver.memory": os.environ.get("SPARK_GRAFT_DRIVER_MEM", "24g"),
    # Without the native Hadoop library, Hadoop's local file system
    # forks a `chmod` for every file and directory it creates and a
    # `readlink` for every FileContext rename; jvm/ holds a local file
    # system that makes the same system calls through java.nio (its
    # source beside the jar; tests/test_local_fs.py prints the rebuild
    # command). The jar must be on the classpath when the JVM starts, so
    # the binding is static: tune() never sets it, and a session built
    # elsewhere keeps Hadoop's binding.
    "spark.driver.extraClassPath": os.path.join(
        os.path.dirname(os.path.abspath(__file__)), "jvm", "nofork-localfs.jar"
    ),
    "spark.hadoop.fs.file.impl": _NOFORK_FS,
    "spark.hadoop.fs.AbstractFileSystem.file.impl": _NOFORK_FS + "$Fs",
}


def get_spark(app_name: str = "dpu-olap-spark") -> SparkSession:
    """Build (or fetch) the tuned session for tests / bench runs."""
    cpus = os.environ.get("SPARK_GRAFT_CPUS", "32")
    builder = SparkSession.builder.appName(app_name).master(f"local[{cpus}]")
    for k, v in {**_CONFS, **_STATIC_CONFS}.items():
        builder = builder.config(k, v)
    return tune(builder.getOrCreate())


def tune(spark: SparkSession) -> SparkSession:
    """Apply runtime-settable configs to an externally provided session
    (the driver owns the session for `__spark_entry__` calls)."""
    for k, v in _CONFS.items():
        try:
            spark.conf.set(k, v)
        except Exception:
            # Static confs (master, etc.) can't be set post-start; the
            # runtime-settable ones above all succeed.
            pass
    _ship_package(spark)
    ensure_thread_active(spark)
    return spark


def ensure_thread_active(spark: SparkSession) -> None:
    """Bind `spark` as the JVM ACTIVE session for the calling thread.

    Python threads map to distinct py4j connections and therefore
    distinct JVM threads; a JVM thread that never had a session set
    has an EMPTY active session, and the Python Data Source lookup
    path resolves through the active session's dataSourceManager —
    so a registered source (e.g. pycsv_sink) "disappears" in fresh
    worker threads (measured in bench's thread-pool phase as
    DATA_SOURCE_NOT_FOUND). Any code running registry queries from a
    thread pool must call this (tune() does) in each worker thread."""
    try:
        spark._jvm.org.apache.spark.sql.classic.SparkSession.setActiveSession(
            spark._jsparkSession
        )
    except AttributeError as exc:
        # Spark Connect sessions have no _jvm / _jsparkSession; there is
        # no thread-local JVM active session to bind there. Anything
        # else would silently re-expose the DATA_SOURCE_NOT_FOUND
        # failure this binding prevents — warn once so it is
        # diagnosable (r6 ADVICE: don't swallow all).
        _warn_binding_skipped(f"no JVM session handle ({exc})")
    except TypeError as exc:
        # a missing/renamed JVM class path resolves to a py4j
        # JavaPackage, and calling it raises TypeError ("'JavaPackage'
        # object is not callable") — measured, not AttributeError
        _warn_binding_skipped(f"JVM class path unresolved ({exc})")
    except Py4JError as exc:
        _warn_binding_skipped(f"JVM setActiveSession failed ({exc})")


_BINDING_WARNED = False


def _warn_binding_skipped(detail: str) -> None:
    global _BINDING_WARNED
    if _BINDING_WARNED:
        return
    _BINDING_WARNED = True
    import warnings

    warnings.warn(
        "ensure_thread_active: skipped JVM active-session binding "
        f"({detail}); Python Data Source lookups from fresh threads "
        "may fail with DATA_SOURCE_NOT_FOUND",
        RuntimeWarning,
        stacklevel=3,
    )


def _ship_package(spark: SparkSession) -> None:
    """Make this package importable on executor Python workers.

    Cloudpickled functions (mapInPandas / applyInPandasWithState) are
    serialized BY REFERENCE to their defining module, so workers must
    import dpu_olap_spark — but the driver process may run from any
    cwd with the repo only on its own sys.path. Shipping a zip via
    addPyFile puts the package on every worker's path (works on a real
    cluster, not just local mode). The zip lives in a ``tables.live_dir``
    directory, so it goes with the process."""
    sc = spark.sparkContext
    if getattr(sc, "_dpu_olap_spark_shipped", False):
        return
    import zipfile

    from dpu_olap_spark.sources.tables import live_dir

    pkg_dir = os.path.dirname(os.path.abspath(__file__))
    zdir = live_dir("dpu_olap_spark_pkg")
    os.makedirs(zdir)
    zpath = os.path.join(zdir, "dpu_olap_spark_pkg.zip")
    with zipfile.ZipFile(zpath, "w") as zf:
        for dirpath, _dirnames, filenames in os.walk(pkg_dir):
            for fn in filenames:
                if fn.endswith(".py"):
                    full = os.path.join(dirpath, fn)
                    rel = os.path.join(
                        "dpu_olap_spark", os.path.relpath(full, pkg_dir)
                    )
                    zf.write(full, rel)
    sc.addPyFile(zpath)
    sc._dpu_olap_spark_shipped = True
