"""Streaming custom connector via the Python Data Source API (Spark
4): the STREAMING half of the extensibility seam python_source.py
demonstrates for batch — a partition-planned DataSourceStreamReader
with offsets, checkpointable progress, and exactly-once delivery into
a streaming sink.

The reference generates benchmark batches in memory per run
(host/generator/generator.cc:22-71) and its README sketches a
device-feed loop (host/filter/filter_dpu.cc:128); this source is that
feed re-expressed as a real Spark streaming source: the driver plans
InputPartitions between (start, end] offsets, executors materialize
slices in parallel, and the checkpoint owns the committed offset — a
stop/restart resumes PAST already-delivered rows instead of
re-emitting them (tests/test_streaming.py asserts both the
exactly-once count and the no-replay-on-resume property).

Determinism contract: row content is a pure function of the row id
(same multiplicative-hash trick as pysource_scan), so the DuckDB
oracle regenerates the relation from range() and the comparison is
exact — equality proves every offset range was delivered exactly
once across micro-batch and restart boundaries.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from dpu_olap_spark.registry import query
from dpu_olap_spark.sources.tables import (
    register_python_sources_once,
    run_available_now,
    run_to_memory_sink,
)

_N_ROWS = 40_000
_N_PARTS = 16
_MULT = 2654435761  # Knuth multiplicative hash; exact in int64 here
_MOD = 997


def _make_stream_source():
    """Build the DataSource class lazily (import needs pyspark 4) and
    define it locally so cloudpickle ships it BY VALUE — executors may
    not have this module on their import path."""
    from pyspark.sql.datasource import (
        DataSource,
        DataSourceStreamReader,
        InputPartition,
    )

    n_rows, n_parts, mult, mod = _N_ROWS, _N_PARTS, _MULT, _MOD

    class SynthStreamReader(DataSourceStreamReader):
        def initialOffset(self):
            return {"pos": 0}

        def latestOffset(self):
            # finite source: everything is available; availableNow
            # snapshots this and drains it, then terminates
            return {"pos": n_rows}

        def partitions(self, start, end):
            lo, hi = start["pos"], end["pos"]
            step = max(1, (hi - lo) // n_parts)
            return [
                InputPartition((i, min(i + step, hi)))
                for i in range(lo, hi, step)
            ]

        def read(self, partition):
            # Arrow RecordBatch instead of pickled tuples, same as the
            # batch source (guide §4.2); values identical to the tuple
            # path (i*mult < 2^47 for i < 40k, exact in int64).
            import numpy as np
            import pyarrow as pa

            lo, hi = partition.value
            ids = np.arange(lo, hi, dtype=np.int64)
            yield pa.RecordBatch.from_arrays(
                [
                    pa.array(ids, pa.int64()),
                    pa.array((ids % 16).astype(np.int32), pa.int32()),
                    pa.array(ids * mult % mod, pa.int64()),
                ],
                names=["id", "bucket", "metric"],
            )

        def commit(self, end):
            # offsets live in the checkpoint; nothing external to ack
            pass

    class SynthStreamSource(DataSource):
        @classmethod
        def name(cls):
            return "synth_stream"

        def schema(self):
            return "id bigint, bucket int, metric bigint"

        def streamReader(self, schema):
            return SynthStreamReader()

    return SynthStreamSource


def _synth_stream(spark: SparkSession) -> DataFrame:
    register_python_sources_once(spark)
    return spark.readStream.format("synth_stream").load()


def run_stream_to_sink(
    spark: SparkSession, sink: str, checkpoint: str, path: str
) -> None:
    """availableNow run of the synth stream into a parquet sink at
    ``path`` on an explicit checkpoint — checkpoint-recoverable, which
    is what the resume-semantics test relies on."""
    writer = (
        _synth_stream(spark).writeStream.outputMode("append")
        .format("parquet").option("path", path)
    )
    run_available_now(writer, checkpoint, sink)


@query(
    "pystream_scan",
    oracle=f"""
    SELECT CAST(id % 16 AS INT) AS bucket,
           COUNT(*) AS n_rows,
           CAST(SUM((id * {_MULT}) % {_MOD}) AS BIGINT) AS sum_metric
    FROM range({_N_ROWS}) t(id)
    GROUP BY 1
    """,
)
def q_pystream_scan(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming scan over the custom Python streaming source: 16
    InputPartitions per offset range read in parallel, offsets
    committed through the checkpoint, availableNow drains the finite
    source and terminates. The batch aggregation over the sink then
    matches the range()-regenerated oracle — equality proves
    exactly-once delivery of every offset slice (duplicated or
    dropped slices would shift counts and sums).
    tests/test_streaming.py additionally proves the RESUME property:
    a second run on the same checkpoint emits zero new rows."""
    return (
        run_to_memory_sink(_synth_stream(spark), "pystream_scan", "append")
        .groupBy("bucket")
        .agg(
            F.count(F.lit(1)).alias("n_rows"),
            F.sum("metric").cast("bigint").alias("sum_metric"),
        )
    )
