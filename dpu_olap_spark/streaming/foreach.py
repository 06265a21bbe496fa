"""foreachBatch sink: the arbitrary-sink escape hatch of Structured
Streaming, here writing each micro-batch to a hive-partitioned parquet
directory keyed by batch_id.

Why this shape at scale: foreachBatch hands the sink a plain batch
DataFrame plus a monotonically increasing batch_id. Partitioning the
output BY batch_id and writing with dynamic partition overwrite makes
a replayed batch (after driver failure + checkpoint recovery) simply
rewrite its own partition — the standard exactly-once recipe for sinks
without transactions. The reference has no streaming or storage layer
at all (SURVEY.md section 2.9); this is part of the streaming slice a
real deployment needs.
"""

from __future__ import annotations

import tempfile

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from dpu_olap_spark.functions.numeric import exact_sum
from dpu_olap_spark.registry import query
from dpu_olap_spark.sources.tables import (
    live_dir,
    load_events_stream,
    run_available_now,
)


def run_foreach_batch_parquet(stream_df: DataFrame, path: str, timeout_s: int = 180) -> None:
    """Run a finite (availableNow) stream through a foreachBatch sink.

    Each micro-batch lands under ``path/_batch_id=<id>/``; dynamic
    partition overwrite means re-delivery of a batch after recovery
    overwrites that batch's partition instead of duplicating rows
    (idempotent sink). Fails loudly on timeout — a timed-out stream
    would otherwise silently leave a partial directory.
    """

    def write_batch(batch_df: DataFrame, batch_id: int) -> None:
        (
            batch_df.withColumn("_batch_id", F.lit(batch_id))
            .write.mode("overwrite")
            .option("partitionOverwriteMode", "dynamic")
            .partitionBy("_batch_id")
            .parquet(path)
        )

    writer = stream_df.writeStream.foreachBatch(write_batch)
    with tempfile.TemporaryDirectory(prefix="ckpt_feb_") as ckpt:
        run_available_now(writer, ckpt, f"foreachBatch to {path}", timeout_s=timeout_s)


@query(
    "stream_foreach_batch",
    oracle="""
    SELECT event_type,
           COUNT(*) AS n_events,
           CAST(SUM(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS sum_value
    FROM events
    GROUP BY event_type
    """,
)
def q_stream_foreach_batch(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Events streamed through a foreachBatch parquet sink (idempotent
    batch_id-partitioned layout), then read back and aggregated per
    event_type. Equality with the batch oracle proves the sink
    delivered every row exactly once across micro-batches."""
    out = live_dir("feb_sink")
    stream = load_events_stream(spark, sf_dir).select("event_id", "event_type", "value")
    run_foreach_batch_parquet(stream, out)
    sunk = spark.read.parquet(out)
    return sunk.groupBy("event_type").agg(
        F.count(F.lit(1)).alias("n_events"),
        exact_sum(F.col("value"), 2).alias("sum_value"),
    )
