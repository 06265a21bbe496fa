"""Source/sink round-trips and the bucketed-join shuffle elimination."""

from __future__ import annotations

import os
import tempfile

import pytest

from pyspark.sql import functions as F

from dpu_olap_spark.sources import sinks
from dpu_olap_spark.sources.tables import _LIVE_DIRS, load_table

SF = "/root/testdata/sf0.001"


def _multiset(df, cols):
    return sorted([tuple(r[c] for c in cols) for r in df.collect()])


def test_partitioned_parquet_roundtrip_and_pruning(spark):
    orders = load_table(spark, SF, "orders").withColumn(
        "order_year", F.year("o_orderdate")
    )
    with tempfile.TemporaryDirectory() as d:
        path = os.path.join(d, "orders_part")
        sinks.write_partitioned(orders, path, ["order_year"])
        back = sinks.read_partitioned(spark, path)
        assert back.count() == orders.count()
        # partition pruning: filter on the partition column must reduce
        # the files read to one directory
        pruned = back.where(F.col("order_year") == 1997)
        plan = pruned._jdf.queryExecution().executedPlan().toString()
        assert pruned.count() == orders.where(F.col("order_year") == 1997).count()
        assert "PartitionFilters: [isnotnull(order_year" in plan


def test_csv_roundtrip(spark):
    nation = load_table(spark, SF, "nation")
    with tempfile.TemporaryDirectory() as d:
        path = os.path.join(d, "nation_csv")
        sinks.write_csv(nation, path)
        back = sinks.read_csv(spark, path, nation.schema)
        assert _multiset(back, nation.columns) == _multiset(nation, nation.columns)


def test_csv_sentinel_guard_fails_loudly(spark):
    """A data value equal to the literal NULL sentinel '\\N' would read
    back as NULL — write_csv must REFUSE it at write time (r11 ADVICE),
    not corrupt the round-trip; validate_sentinel=False restores the
    documented corpus-contract opt-out; a clean frame passes the guard
    and still round-trips losslessly."""
    poisoned = spark.createDataFrame(
        [(1, "\\N"), (2, "ok")], "id int, s string"
    )
    with tempfile.TemporaryDirectory() as d:
        path = os.path.join(d, "poison_csv")
        with pytest.raises(ValueError, match="NULL sentinel"):
            sinks.write_csv(poisoned, path)
        assert not os.path.exists(path), "guard must fire BEFORE the write"
        # opt-out still writes (and documents the silent corruption:
        # the sentinel cell reads back as NULL — exactly the hazard)
        sinks.write_csv(poisoned, path, validate_sentinel=False)
        back = sinks.read_csv(spark, path, poisoned.schema)
        assert _multiset(back, ["id", "s"]) == [(1, None), (2, "ok")]
        # clean frame with NULLs and empties passes the guard unchanged
        clean = spark.createDataFrame(
            [(1, None), (2, ""), (3, "x\\Ny")], "id int, s string"
        )
        path2 = os.path.join(d, "clean_csv")
        sinks.write_csv(clean, path2)
        back2 = sinks.read_csv(spark, path2, clean.schema)
        assert _multiset(back2, ["id", "s"]) == [(1, None), (2, ""), (3, "x\\Ny")]


def test_csv_sentinel_probe_persists_only_nondeterministic(spark, monkeypatch):
    """The sentinel probe materializes (persist) ONLY when the plan is
    nondeterministic — for a deterministic plan, probe and write see
    the same rows by definition, so the r12-review persist would add a
    silent spill cost on frames beyond storage memory (r12 ADVICE).  A
    rand()-derived frame must still take the persist path: a sampling
    upstream could otherwise pass a sentinel-free probe and
    re-evaluate to a poisoned write."""
    det = spark.range(10).selectExpr("CAST(id AS STRING) AS s")
    # patch the CONCRETE class (pyspark.sql.classic...): persist is
    # overridden there, so patching the pyspark.sql.DataFrame base
    # would never intercept
    cls = type(det)
    calls = []
    orig = cls.persist

    def counting_persist(self, *a, **k):
        calls.append(1)
        return orig(self, *a, **k)

    monkeypatch.setattr(cls, "persist", counting_persist)
    nondet = spark.range(10).selectExpr(
        "CAST(CASE WHEN rand(7) < 2 THEN id END AS STRING) AS s"
    )
    with tempfile.TemporaryDirectory() as d:
        sinks.write_csv(det, os.path.join(d, "det_csv"))
        assert not calls, "deterministic plan must not persist"
        sinks.write_csv(nondet, os.path.join(d, "nondet_csv"))
        assert calls, "nondeterministic plan must persist across probe+write"
        # row-SET nondeterminism without any nondeterministic
        # expression (r13 ADVICE): Catalyst's plan-level flag reports
        # LIMIT and SAMPLE plans deterministic, yet both may evaluate
        # to different rows between probe and write — they must take
        # the persist path too.
        calls.clear()
        sinks.write_csv(det.limit(3), os.path.join(d, "limit_csv"))
        assert calls, "LIMIT plan must persist across probe+write"
        calls.clear()
        sinks.write_csv(
            det.sample(fraction=0.5, seed=7), os.path.join(d, "sample_csv")
        )
        assert calls, "SAMPLE plan must persist across probe+write"
        # ...and a sorted limit still persists: ties on a non-unique
        # sort key leave the picked rows unpinned.
        calls.clear()
        tied = spark.range(10).selectExpr("CAST(id % 2 AS STRING) AS s")
        sinks.write_csv(tied.orderBy("s").limit(3), os.path.join(d, "slim_csv"))
        assert calls, "sorted-LIMIT plan must persist across probe+write"
        # Deduplicate (dropDuplicates) and Offset are the same hole
        # class (r14 ADVICE): every expression is deterministic, but
        # the kept representative / skipped rows may differ between
        # the probe and the write — persist path required.
        calls.clear()
        two_col = spark.range(10).selectExpr(
            "CAST(id % 2 AS STRING) AS s", "CAST(id AS STRING) AS v"
        )
        sinks.write_csv(
            two_col.dropDuplicates(["s"]), os.path.join(d, "dedup_csv")
        )
        assert calls, "Deduplicate plan must persist across probe+write"
        calls.clear()
        sinks.write_csv(det.offset(2), os.path.join(d, "offset_csv"))
        assert calls, "Offset plan must persist across probe+write"


def test_json_roundtrip(spark):
    supplier = load_table(spark, SF, "supplier")
    with tempfile.TemporaryDirectory() as d:
        path = os.path.join(d, "supp_json")
        sinks.write_json(supplier, path)
        back = sinks.read_json(spark, path, supplier.schema)
        assert _multiset(back, supplier.columns) == _multiset(supplier, supplier.columns)


def test_bucketed_join_skips_shuffle(spark):
    """Two tables bucketed on the join key: the join plan must contain
    no Exchange — the persistent form of the reference's co-partitioned
    join (host/join/join_dpu.cc:200-233)."""
    # bucketed tables land in the session's default warehouse dir
    # (spark.sql.warehouse.dir is static); dropped in finally
    orders = load_table(spark, SF, "orders")
    customer = load_table(spark, SF, "customer")
    try:
        sinks.write_bucketed(orders, "b_orders", "o_custkey", 8)
        sinks.write_bucketed(customer, "b_customer", "c_custkey", 8)
        bo = spark.table("b_orders")
        bc = spark.table("b_customer")
        # disable broadcast so the test exercises the bucketed path
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
        joined = bo.join(bc, bo.o_custkey == bc.c_custkey)
        plan = joined._jdf.queryExecution().executedPlan().toString()
        assert "Exchange" not in plan, f"bucketed join still shuffles:\n{plan[:800]}"
        assert joined.count() == orders.join(customer, orders.o_custkey == customer.c_custkey).count()
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", str(64 * 1024 * 1024))
        spark.sql("DROP TABLE IF EXISTS b_orders")
        spark.sql("DROP TABLE IF EXISTS b_customer")


def test_orc_roundtrip(spark):
    part = load_table(spark, SF, "part")
    with tempfile.TemporaryDirectory() as d:
        path = os.path.join(d, "part_orc")
        sinks.write_orc(part, path)
        back = sinks.read_orc(spark, path)
        assert _multiset(back, part.columns) == _multiset(part, part.columns)


def test_run_pipeline_cli_writes_partitioned_corpus(spark):
    """The runnable pipeline writes a (subset, lang)-partitioned corpus
    whose totals match the oracle-verified pipeline_corpus query."""
    import subprocess, sys, json

    from dpu_olap_spark.registry import all_queries

    with tempfile.TemporaryDirectory() as d:
        out = os.path.join(d, "corpus")
        proc = subprocess.run(
            [sys.executable, "/root/repo/tools/run_pipeline.py", SF, out],
            capture_output=True, text=True, timeout=300,
        )
        assert proc.returncode == 0, proc.stderr[-500:]
        line = [l for l in proc.stdout.splitlines() if l.startswith("{")][-1]
        stats = json.loads(line)["subsets"]
        q = all_queries()["pipeline_corpus"].build(spark, SF).collect()
        expected_docs = sum(r.n_docs for r in q)
        assert sum(s["docs"] for s in stats.values()) == expected_docs
        # layout exists: subset=/lang= directories
        assert any(p.startswith("subset=") for p in os.listdir(out))


def test_compaction_file_count_contract(spark, sf_dir):
    """sink_compaction must actually compact: 64 fragment files in,
    ceil(bytes/128MiB) files out (1 at test scale) — and the query's
    oracle equality proves the rewrite is lossless."""
    from dpu_olap_spark.registry import all_queries

    all_queries()["sink_compaction"].build(spark, sf_dir).collect()
    frag = _LIVE_DIRS["sinkq_frag"]
    comp = _LIVE_DIRS["sinkq_compact"]
    n_frag = len([f for f in os.listdir(frag) if f.endswith(".parquet")])
    n_comp = len([f for f in os.listdir(comp) if f.endswith(".parquet")])
    assert n_frag == 64
    assert n_comp == 1


def test_pysink_commit_protocol(spark, tmp_path):
    """The custom Python sink's two-phase commit: (a) the committed dir
    holds exactly the manifest-listed part files and no staging dir
    survives; (b) a failed write job ABORTS — staging is cleaned and
    nothing is published."""
    import os

    from dpu_olap_spark.registry import all_queries
    from dpu_olap_spark.sources.python_source import _make_sink

    all_queries()["pysink_write"].build(spark, "/root/testdata/sf0.001").collect()
    out = _LIVE_DIRS["pysink_write"]
    committed = os.path.join(out, "committed")
    with open(os.path.join(committed, "_MANIFEST")) as f:
        listed = {line for line in f.read().splitlines() if line}
    on_disk = {f for f in os.listdir(committed) if f.endswith(".csv")}
    assert listed == on_disk and listed, (listed, on_disk)
    assert not os.path.exists(os.path.join(out, "_staging"))

    # abort path: a row that explodes mid-write must clean staging and
    # publish nothing
    from pyspark.sql import functions as F

    spark.dataSource.register(_make_sink())
    bad_dir = str(tmp_path)
    bad = spark.range(100).select(
        "id", F.assert_true(F.col("id") < 50).cast("string").alias("boom")
    )
    try:
        bad.write.format("pycsv_sink").mode("append").option("path", bad_dir).save()
        raised = False
    except Exception:
        raised = True
    assert raised
    # the publication invariant: an aborted job must never produce a
    # committed dir or manifest. (Staging may transiently hold orphans
    # — task cancellation is async and a still-running task can
    # recreate it after abort()'s cleanup; published output is what
    # downstream readers see, and there must be none.)
    assert not os.path.exists(os.path.join(bad_dir, "committed"))


def test_zorder_prunes_both_dimensions(spark):
    """sink_zorder: a selective filter on EITHER interleaved key must
    touch a strict minority of the written files (distinct
    input_file_name under filter vs total) — the property single-key
    range clustering cannot provide for the second key. Uses sf0.01 so
    there are enough rows for 16 meaningfully distinct files."""
    import pyspark.sql.functions as F

    from dpu_olap_spark.registry import all_queries

    all_queries()["sink_zorder"].build(spark, "/root/testdata/sf0.01").collect()
    path = _LIVE_DIRS["sinkq_li_zorder"]
    back = spark.read.parquet(path)
    total = back.select(F.input_file_name()).distinct().count()
    part_files = (
        back.where(F.col("l_partkey").between(100, 300))
        .select(F.input_file_name())
        .distinct()
        .count()
    )
    supp_files = (
        back.where(F.col("l_suppkey").between(10, 20))
        .select(F.input_file_name())
        .distinct()
        .count()
    )
    assert total >= 8, f"too few files for a meaningful pruning test: {total}"
    assert part_files <= total // 2, (part_files, total)
    assert supp_files <= total // 2, (supp_files, total)


# query -> the live_dir key of the output directory its build returns
_OUTPUT_KEYS = {
    "sink_zorder": "sinkq_li_zorder",
    "pysink_write": "pysink_write",
    "stream_foreach_batch": "feb_sink",
    "statestore_read": "ckpt",
}


@pytest.mark.parametrize("name", _OUTPUT_KEYS)
def test_sink_builds_retire_old_output_dirs(spark, name):
    """Each build writes a fresh directory and retires the previous
    one: after five builds at most three of the key's directories are
    left (the live one and two retirees), and the live one exists."""
    import re

    from dpu_olap_spark.registry import all_queries
    from dpu_olap_spark.sources import tables

    key = _OUTPUT_KEYS[name]
    for _ in range(5):
        all_queries()[name].build(spark, SF).collect()
    mine = [d for d in os.listdir(tables._ROOT) if re.fullmatch(rf"{key}_\d+", d)]
    assert 1 <= len(mine) <= 3, mine
    assert os.path.isdir(tables._LIVE_DIRS[key])


def test_process_exit_leaves_nothing_behind(tmp_path):
    """A process that gets a session, builds a parquet sink and a
    Python-sink query and exits normally leaves nothing in its tempdir:
    the shipped package, the sink outputs and the root they live in go
    at exit."""
    import subprocess
    import sys

    root = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    script = (
        "from dpu_olap_spark.registry import all_queries\n"
        "from dpu_olap_spark.session import get_spark\n"
        "spark = get_spark('exit-cleanup')\n"
        "for name in ('sink_zorder', 'pysink_write'):\n"
        f"    all_queries()[name].build(spark, {SF!r}).collect()\n"
    )
    env = {**os.environ, "TMPDIR": str(tmp_path), "PYTHONPATH": root}
    subprocess.run([sys.executable, "-c", script], env=env, cwd=root, check=True,
                   timeout=600)
    assert os.listdir(tmp_path) == []


def test_sink_build_forks_no_chmod(spark):
    """A sink_zorder build writes parquet part files, their `.crc`
    sidecars and the committer's directories without forking `chmod`:
    the engine's session binds the "file" scheme to
    NoForkLocalFileSystem, which sets modes through java.nio. Hadoop's
    own local file system forks one `chmod` per created file and
    directory without its native library (54 per build). The build is
    warmed first: a session's first task fetches the shipped package
    and Spark marks it executable with a forked `chmod a+x`."""
    from dpu_olap_spark.registry import all_queries
    from tests.jfr import commands, process_starts, start_marker

    def run():
        all_queries()["sink_zorder"].build(spark, SF).collect()
        start_marker(spark)

    run()
    forks = process_starts(spark, run)
    assert forks["true"] == 1, forks
    written = os.listdir(_LIVE_DIRS["sinkq_li_zorder"])
    assert any(f.endswith(".parquet.crc") for f in written), written
    assert commands(forks, "chmod") == []
