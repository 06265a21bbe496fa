"""Custom connector via the Python Data Source API (Spark 4): the
extensibility seam for reading systems Spark has no built-in source
for (internal services, bespoke formats, synthetic generators).

The reference generates all of its data in memory per benchmark
(host/generator/generator.cc:22-71); this source is that generator
re-expressed as a PARTITIONED, schema-declared Spark source: the
driver plans one InputPartition per slice and executors materialize
rows in parallel — the same batch-per-device round-robin the
reference's host loop hand-schedules (host/filter/filter_dpu.cc:128).

Determinism contract: row content is a pure function of the row id
(multiplicative hashing), so the DuckDB oracle regenerates the same
relation from range() and the comparison is exact.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from dpu_olap_spark.registry import query

_N_ROWS = 40_000
_N_PARTS = 8
# Knuth multiplicative hash constant; products stay < 2^47 for
# id < 40k, exact in int64 on both engines.
_MULT = 2654435761
_MOD = 997


def _make_source():
    """Build the DataSource class lazily (import needs pyspark 4) and
    define it locally so cloudpickle ships it BY VALUE — the reader
    runs on executors that may not have this module imported yet."""
    from pyspark.sql.datasource import (
        DataSource,
        DataSourceReader,
        InputPartition,
    )

    n_rows, n_parts, mult, mod = _N_ROWS, _N_PARTS, _MULT, _MOD

    class SynthMetricsReader(DataSourceReader):
        def partitions(self):
            step = n_rows // n_parts
            return [
                InputPartition((i * step, min((i + 1) * step, n_rows)))
                for i in range(n_parts)
            ]

        def read(self, partition):
            # One Arrow RecordBatch per partition instead of yielding
            # pickled tuples (guide §4.2: hand whole batches to
            # vectorized code): the generator arithmetic runs in numpy
            # and the rows cross the Python->JVM boundary as a single
            # columnar batch. Values are identical to the tuple path —
            # i*mult < 2^47 for i < 40k, exact in int64.
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

    class SynthMetricsSource(DataSource):
        @classmethod
        def name(cls):
            return "synth_metrics"

        def schema(self):
            return "id bigint, bucket int, metric bigint"

        def reader(self, schema):
            return SynthMetricsReader()

    return SynthMetricsSource


@query(
    "pysource_scan",
    oracle=f"""
    SELECT CAST(id % 16 AS INT) AS bucket,
           COUNT(*) AS n_rows,
           CAST(SUM((id * {_MULT}) % {_MOD}) AS BIGINT) AS sum_metric,
           CAST(MAX((id * {_MULT}) % {_MOD}) AS BIGINT) AS max_metric
    FROM range({_N_ROWS}) t(id)
    GROUP BY 1
    """,
)
def q_pysource_scan(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Scan + aggregate over the custom Python data source: 8 planned
    InputPartitions read in parallel on executors (the connector's
    scale contract — partition count is the parallelism, exactly like
    parquet splits), rows flow through Arrow into the JVM, and the
    aggregation is ordinary partial+final over the scan. The oracle
    regenerates the deterministic content from range(): equality
    proves the connector delivers every partition exactly once —
    the reference's generator-vs-engine differential
    (host/generator/generator.cc:22-71) in Spark terms."""
    from dpu_olap_spark.sources.tables import register_python_sources_once

    register_python_sources_once(spark)
    df = spark.read.format("synth_metrics").load()
    return df.groupBy("bucket").agg(
        F.count(F.lit(1)).alias("n_rows"),
        F.sum("metric").cast("bigint").alias("sum_metric"),
        F.max("metric").cast("bigint").alias("max_metric"),
    )


def _make_sink():
    """Python Data Source WRITER half (the reader half is
    SynthMetricsSource above): a CSV sink with the classic two-phase
    commit protocol. Executors stream rows into UNIQUELY-NAMED staging
    files and return a WriterCommitMessage naming theirs; the driver's
    commit() publishes exactly the named files into the final dir and
    writes a _MANIFEST listing them, so a retried/zombie task's orphan
    staging file is never published — the same task-attempt/job-commit
    split as the Hadoop FileOutputCommitter. Defined locally so
    cloudpickle ships it by value to executors. On a cluster the paths
    would live on shared storage; the protocol is identical."""
    import dataclasses

    from pyspark.sql.datasource import (
        DataSource,
        DataSourceArrowWriter,
        WriterCommitMessage,
    )

    @dataclasses.dataclass
    class PartCommit(WriterCommitMessage):
        fname: str
        n_rows: int

    class CsvSinkWriter(DataSourceArrowWriter):
        """Arrow variant of the writer seam (guide §4.2): rows arrive
        as columnar RecordBatches instead of pickled Row objects, and
        each batch is serialized by pyarrow's native CSV writer —
        byte-identical output ("k,cents\\n" lines, no header) to the
        former per-row f-string loop."""

        def __init__(self, path: str) -> None:
            self.path = path

        def write(self, iterator):
            import os
            import uuid

            from pyarrow import csv as pacsv
            from pyspark import TaskContext

            pid = TaskContext.get().partitionId()
            fname = f"part-{pid:05d}-{uuid.uuid4().hex}.csv"
            staging = os.path.join(self.path, "_staging")
            os.makedirs(staging, exist_ok=True)
            n = 0
            opts = pacsv.WriteOptions(include_header=False)
            with open(os.path.join(staging, fname), "wb") as f:
                for batch in iterator:
                    pacsv.write_csv(batch, f, opts)
                    n += batch.num_rows
            return PartCommit(fname=fname, n_rows=n)

        def commit(self, messages):
            import os
            import shutil

            final = os.path.join(self.path, "committed")
            os.makedirs(final, exist_ok=True)
            names = []
            for m in messages:
                if m is None:
                    continue
                shutil.move(
                    os.path.join(self.path, "_staging", m.fname),
                    os.path.join(final, m.fname),
                )
                names.append(m.fname)
            with open(os.path.join(final, "_MANIFEST"), "w") as f:
                f.write("\n".join(sorted(names)))
            shutil.rmtree(os.path.join(self.path, "_staging"), ignore_errors=True)

        def abort(self, messages):
            import shutil

            shutil.rmtree(os.path.join(self.path, "_staging"), ignore_errors=True)

    class CsvSinkSource(DataSource):
        @classmethod
        def name(cls):
            return "pycsv_sink"

        def writer(self, schema, overwrite):
            return CsvSinkWriter(self.options["path"])

    return CsvSinkSource


@query(
    "pysink_write",
    oracle="""
    SELECT CAST(o_orderkey % 8 AS BIGINT) AS bucket,
           COUNT(*) AS n_rows,
           CAST(SUM(CAST(floor(o_totalprice * 100 + 0.5) AS BIGINT)) AS BIGINT)
             AS sum_cents
    FROM orders
    WHERE o_orderpriority = '1-URGENT'
    GROUP BY 1
    """,
)
def q_pysink_write(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Write through the custom Python Data Source SINK, then read the
    committed files back and aggregate: urgent orders flow as exact
    integer cents into per-partition staging CSVs, the two-phase commit
    publishes them, and the read-back scan sees ONLY manifest-committed
    files. Equality with the oracle (the same aggregate straight off
    the orders table) proves every partition committed exactly once —
    the writer-side twin of pysource_scan's read differential. The
    filter is pushed to the parquet scan before the Python writer; the
    read-back aggregation is ordinary partial+final over the CSV
    scan."""
    import os

    from dpu_olap_spark.sources.tables import (
        live_dir,
        load_table,
        register_python_sources_once,
    )

    register_python_sources_once(spark)
    out_dir = live_dir("pysink_write")
    urgent = (
        load_table(spark, sf_dir, "orders")
        .where(F.col("o_orderpriority") == "1-URGENT")
        .select(
            F.col("o_orderkey"),
            F.floor(F.col("o_totalprice") * 100 + 0.5).cast("bigint").alias("cents"),
        )
    )
    urgent.write.format("pycsv_sink").mode("append").option("path", out_dir).save()
    back = spark.read.schema("o_orderkey bigint, cents bigint").csv(
        os.path.join(out_dir, "committed")
    )
    return back.groupBy((F.col("o_orderkey") % 8).alias("bucket")).agg(
        F.count(F.lit(1)).alias("n_rows"),
        F.sum("cents").alias("sum_cents"),
    )
