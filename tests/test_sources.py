"""Footer-derived reader schemas (sources/tables.py): the schema handed
to every parquet reader must equal what Spark would infer, unmapped
footers must fall back to inference, and loading a table must launch
no Spark job."""

from __future__ import annotations

import glob
import itertools
import os
import time

import pyarrow as pa
import pyarrow.parquet as pq
import pytest
from pyspark.sql.types import TimestampNTZType

from dpu_olap_spark.functions.vectors import sign_bucket, sign_bucket_value
from dpu_olap_spark.registry import all_queries
from dpu_olap_spark.sources.tables import (
    TABLES,
    footer_schema,
    load_events_stream,
    load_table,
    parquet_int_column_max,
    table_path,
)
from tests.conftest import SF_SMALL as SF

SF_DIRS = [os.path.join(os.path.dirname(SF), sf) for sf in ("sf0.001", "sf0.01", "sf0.1")]

_groups = itertools.count()


def _jobs_launched(spark, fn) -> int:
    """Number of Spark jobs ``fn()`` launches in the calling thread.

    The status tracker is fed asynchronously, in job order, so a marker
    job run afterwards in its own group is waited for: once it is
    visible, every job ``fn`` launched before it is visible too."""
    sc = spark.sparkContext
    n = next(_groups)
    group, marker = f"test_sources_{n}", f"test_sources_marker_{n}"
    try:
        sc.setJobGroup(group, group)
        fn()
        sc.setJobGroup(marker, marker)
        sc.parallelize([0], 1).count()
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    tracker = sc.statusTracker()
    deadline = time.monotonic() + 60
    while not tracker.getJobIdsForGroup(marker):
        assert time.monotonic() < deadline, "marker job never reached the tracker"
        time.sleep(0.05)
    return len(tracker.getJobIdsForGroup(group))


def test_job_counter_sees_an_inference_job(spark):
    """The counter is not vacuous: a reader with no schema infers one
    in a Spark job."""
    path = table_path(SF, "region")
    assert _jobs_launched(spark, lambda: spark.read.parquet(path)) >= 1


@pytest.mark.parametrize("sf_dir", SF_DIRS, ids=os.path.basename)
def test_footer_schema_equals_spark_inference(spark, sf_dir):
    for name in TABLES:
        path = table_path(sf_dir, name)
        derived = footer_schema(path)
        assert derived is not None, f"{path}: footer type not mapped"
        inferred = spark.read.parquet(path).schema
        assert derived == inferred, f"{path}: {derived} != {inferred}"
        assert spark.read.schema(derived).parquet(path).schema == inferred


def test_load_table_launches_no_job(spark):
    for name in TABLES:
        assert _jobs_launched(spark, lambda: load_table(spark, SF, name)) == 0, name


def test_int64_ts_events_file_keeps_long_ts(spark, tmp_path):
    """The legacy nano-epoch events form (ts as int64) gets a bigint ts
    from the footer, the same as inference, and load_table restores it."""
    pq.write_table(
        pa.table({"event_id": pa.array([1], pa.int64()), "ts": pa.array([1000], pa.int64())}),
        str(tmp_path / "events.parquet"),
    )
    path = table_path(str(tmp_path), "events")
    assert footer_schema(path) == spark.read.parquet(path).schema
    assert dict(load_table(spark, str(tmp_path), "events").dtypes)["ts"] == "timestamp"


def test_unmapped_footers_fall_back_to_inference(spark, tmp_path):
    ns = str(tmp_path / "ns.parquet")
    pq.write_table(pa.table({"ts": pa.array([1, 2], pa.timestamp("ns"))}), ns)
    assert footer_schema(ns) is None

    dec = str(tmp_path / "dec.parquet")
    pq.write_table(pa.table({"d": pa.array([1], pa.decimal128(10, 2))}), dec)
    assert footer_schema(dec) is None

    out = str(tmp_path / "int96")
    prev = spark.conf.get("spark.sql.parquet.outputTimestampType")
    spark.conf.set("spark.sql.parquet.outputTimestampType", "INT96")
    try:
        spark.range(3).selectExpr("timestamp_seconds(id) AS ts").coalesce(1).write.parquet(out)
    finally:
        spark.conf.set("spark.sql.parquet.outputTimestampType", prev)
    (part,) = glob.glob(os.path.join(out, "part-*.parquet"))
    assert pq.read_metadata(part).schema.column(0).physical_type == "INT96"
    assert footer_schema(part) is None

    assert footer_schema(out) is None  # a directory
    assert footer_schema(str(tmp_path / "missing.parquet")) is None

    # Spark infers from the schema it wrote into the footer, not from
    # the parquet types: a TIMESTAMP(MICROS) column written from
    # timestamp_ntz reads back as timestamp_ntz, which the map would get
    # wrong, so every Spark-written file falls back.
    ntz = str(tmp_path / "ntz")
    spark.conf.set("spark.sql.parquet.outputTimestampType", "TIMESTAMP_MICROS")
    try:
        spark.range(1).selectExpr("timestamp_ntz'2020-01-01 00:00:00' AS t").coalesce(
            1
        ).write.parquet(ntz)
    finally:
        spark.conf.set("spark.sql.parquet.outputTimestampType", prev)
    (part,) = glob.glob(os.path.join(ntz, "part-*.parquet"))
    assert pq.read_schema(part).field("t").type == pa.timestamp("us")
    assert spark.read.parquet(part).schema["t"].dataType == TimestampNTZType()
    assert footer_schema(part) is None


def test_footer_memo_sees_a_rewrite_at_the_same_path(spark, tmp_path):
    """A file rewritten in place gets its new schema, in the batch and
    the stream reader alike."""
    path = table_path(str(tmp_path), "events")
    pq.write_table(pa.table({"event_id": pa.array([1], pa.int64())}), path)
    assert footer_schema(path).names == ["event_id"]
    pq.write_table(
        pa.table({"event_id": pa.array([1, 2], pa.int64()), "value": [1.0, 2.0]}), path
    )
    assert footer_schema(path).names == ["event_id", "value"]
    assert load_events_stream(spark, str(tmp_path)).columns == ["event_id", "value"]


def test_int_column_max_reads_the_footer(tmp_path):
    path = str(tmp_path / "t.parquet")
    pq.write_table(pa.table({"k": list(range(100)), "s": ["a"] * 100}), path, row_group_size=10)
    assert parquet_int_column_max(path, "k") == 99
    assert parquet_int_column_max(path, "s") is None  # not an integer column
    assert parquet_int_column_max(path, "missing") is None
    pq.write_table(pa.table({"k": list(range(7))}), path, write_statistics=False)
    assert parquet_int_column_max(path, "k") is None  # stat-less: caller scans


def test_supplied_schema_keeps_pushdown(spark):
    path = table_path(SF, "orders")
    assert footer_schema(path) is not None
    df = load_table(spark, SF, "orders").where("o_orderdate >= '1995-01-01'")
    plan = df._jdf.queryExecution().explainString(
        spark._jvm.org.apache.spark.sql.execution.ExplainMode.fromString("formatted")
    )
    pushed = plan.split("PushedFilters", 1)[1].split("]", 1)[0]
    assert "o_orderdate" in pushed, plan


def test_sign_bucket_value_matches_the_column_expression(spark):
    nan = float("nan")
    vecs = [
        [1.0, -1.0, 0.0, -0.0, nan, 2.0, None, 3.0, 5.0],
        [None] * 8,
        [nan] * 8,
        [0.5, 0.5],  # shorter than n_bits: missing elements count 0
        [-1.0] * 8,
    ]
    df = spark.createDataFrame([(v,) for v in vecs], "v array<float>")
    got = [r[0] for r in df.select(sign_bucket(df.v, 8)).collect()]
    assert got == [sign_bucket_value(v, 8) for v in vecs]
    assert got[0] == 1 + 16 + 32 + 128 and got[2] == 255 and got[3] == 3


def test_ann_lsh_build_runs_no_job(spark):
    """ann_lsh's build reads the query vector on the driver and computes
    its bucket there, and the tables load job-free."""
    q = all_queries()["ann_lsh"]
    assert _jobs_launched(spark, lambda: q.build(spark, SF)) == 0


def test_chunked_events_source_runs_no_job(spark, tmp_path):
    """A chunked replay source is handed the raw schema of the events
    file its chunks were cut from, which equals what Spark infers over
    the chunks, so building the source and its stream runs no job."""
    from dpu_olap_spark.sources.tables import raw_schema
    from dpu_olap_spark.streaming.replay import (
        chunked_events_source,
        ordered_event_chunks,
    )

    events = table_path(SF, "events")
    chunk_dir = ordered_event_chunks(spark, events, str(tmp_path), 2)
    schema = raw_schema(spark, events)
    assert schema == spark.read.parquet(chunk_dir).schema
    assert _jobs_launched(spark, lambda: chunked_events_source(spark, chunk_dir, schema)()) == 0
