"""Per-layer metrics of the traced run.

Every count and time is per traced pass (the total over the run's
traced passes divided by their number); set-up times are medians of the
run's set-up samples. The wall-clock pass and execution medians, and
the share of CPU time the hypervisor stole, come from the run's
untraced passes (too few executions for a tail). Jobs are attributed to spans by job group
(``trace.Tracer``); streaming micro-batch jobs run on the stream's own
thread under the stream's run id as job group, so they are matched to
the streams the listener saw start during traced passes.
"""

from __future__ import annotations

import re
import time

import observe
import stats
import trace

PY_SENT = "data sent to Python workers"
PY_RETURNED = "data returned from Python workers"
_UNITS = {"B": 1, "KiB": 1 << 10, "MiB": 1 << 20, "GiB": 1 << 30, "TiB": 1 << 40}
_SIZE_RE = re.compile(r"([\d.,]+)\s*(B|KiB|MiB|GiB|TiB)\b")


class Hooks:
    """What a traced pass switches on: spans around the sources layer's
    public functions, and the streaming listener."""

    def __init__(self, spark, tracer: trace.Tracer, events: observe.StreamEvents) -> None:
        self.spark, self.tracer, self.events = spark, tracer, events

    def enter(self):
        from dpu_olap_spark.sources import tables

        undo = [
            trace.instrument(self.tracer, tables, "load_table", "sources.load_table", "dpu_olap_spark"),
            trace.instrument(self.tracer, tables, "run_to_memory_sink", "sources.run_to_memory_sink", "dpu_olap_spark"),
        ]
        self.spark.streams.addListener(self.events)
        self.events.owner = "traced"

        def leave() -> None:
            self.events.settle(quiet_s=0.3)
            self.spark.streams.removeListener(self.events)
            self.events.owner = None
            for u in undo:
                u()

        return leave


def record_catalyst(tracer: trace.Tracer, df) -> None:
    """Add the DataFrame's Catalyst phase times (analysis, optimization,
    physical planning) to ``tracer.notes``; forcing the physical plan of
    the query's own QueryExecution re-plans what the write planned."""
    qe = df._jdf.queryExecution()
    qe.executedPlan()
    it = qe.tracker().phases().iterator()
    ms = 0
    while it.hasNext():
        ms += it.next()._2().durationMs()
    tracer.notes["catalyst.plan_s"] += ms / 1000.0


def size_bytes(value: str) -> float:
    """A SQL size metric as the UI renders it ('1.5 MiB', or 'total (min,
    med, max ...)\\n1.5 MiB (...)') in bytes."""
    m = _SIZE_RE.search(value.splitlines()[-1] if value else "")
    return float(m.group(1).replace(",", "")) * _UNITS[m.group(2)] if m else 0.0


def floor_s(spark, n: int = 5) -> float:
    """Median wall of a trivial 2-stage job (scan + exchange + agg), the
    fixed cost every job pays (as in bench.py)."""
    samples = []
    for _ in range(n):
        t0 = time.perf_counter()
        spark.range(10_000).repartition(32).agg({"id": "sum"}).write.format("noop").mode("overwrite").save()
        samples.append(time.perf_counter() - t0)
    return stats.median(samples)


def _attribute_jobs(tracer, events, jobs):
    """{jobId: span} for traced jobs; stream micro-batch jobs map to None."""
    stream_runs = {s["run_id"] for s in events.started if s["owner"] == "traced"}
    out = {}
    for j in jobs:
        g = j.get("jobGroup")
        s = tracer.group_of(g)
        if s is not None:
            out[j["jobId"]] = s
        elif g in stream_runs:
            out[j["jobId"]] = None
    return out


def per_query_jobs(tracer: trace.Tracer, rest) -> dict[str, float]:
    """Median jobs per traced execution of each query (stream jobs excluded)."""
    per_exec: dict[int, int] = {}
    for j in rest.jobs():
        s = tracer.group_of(j.get("jobGroup"))
        if s is not None:
            per_exec[s.exec_id] = per_exec.get(s.exec_id, 0) + 1
    by_query: dict[str, list[int]] = {}
    for s in tracer.spans:
        if s.parent is None:
            by_query.setdefault(s.name, []).append(per_exec.get(s.exec_id, 0))
    return {n: stats.median(v) for n, v in by_query.items()}


def per_layer(spark, tracer, events, rest, runs, samples, cores, attempted, failed):
    """{metric: (value, unit)} in BENCHMARK.json's per_layer order."""
    n = len(runs["traced"]["passes"])
    pass_s = stats.median(runs["plain"]["passes"])
    events.settle()
    jobs = observe.wait_for_jobs(rest, set())
    attributed = _attribute_jobs(tracer, events, jobs)
    by_id = {j["jobId"]: j for j in jobs}

    def jobs_under(name: str) -> int:
        return sum(
            1 for s in attributed.values()
            if s is not None and any(a.name == name for a in tracer.ancestors(s))
        )

    stage_ids = {sid for jid in attributed for sid in by_id[jid]["stageIds"]}
    stages = [s for s in rest.stages() if s["stageId"] in stage_ids and s["status"] == "COMPLETE"]

    def stage_sum(key: str) -> float:
        return sum(s.get(key, 0) for s in stages)

    py_sent = py_ret = 0.0
    for ex in rest.sql():
        ids = ex.get("successJobIds", []) + ex.get("failedJobIds", []) + ex.get("runningJobIds", [])
        if not any(i in attributed for i in ids):
            continue
        for node in ex.get("nodes", ()):
            for m in node.get("metrics", ()):
                if m["name"] == PY_SENT:
                    py_sent += size_bytes(m["value"])
                elif m["name"] == PY_RETURNED:
                    py_ret += size_bytes(m["value"])

    tot = trace.totals(tracer.spans)
    calls = lambda name: tot.get(name, (0, 0.0))[0]  # noqa: E731
    secs = lambda name: tot.get(name, (0, 0.0))[1]  # noqa: E731
    runs_traced = {s["run_id"] for s in events.started if s["owner"] == "traced"}
    prog = [p for p in events.progress if p["run_id"] in runs_traced]
    last_state: dict[str, int] = {}
    for p in prog:
        last_state[p["run_id"]] = p["state_rows"]
    dur = lambda *keys: sum(p["duration_ms"].get(k, 0) for p in prog for k in keys) / 1000.0  # noqa: E731
    batches = len(prog)
    spark_jobs = len(attributed) / n
    floor = floor_s(spark)
    run_s = stage_sum("executorRunTime") / 1000.0 / n
    overhead = stats.median(runs["traced"]["passes_net"]) - stats.median(runs["plain"]["passes_net"])
    return {
        "wall.pass_s": (pass_s, "s"),
        "wall.query_p50_s": (stats.median(runs["plain"]["lat"]), "s"),
        "host.stolen_frac": (stats.median(
            1.0 - net / wall for net, wall in zip(runs["plain"]["passes_net"], runs["plain"]["passes"])
        ), "ratio"),
        "session.get_spark_s": (stats.median(s["get_spark_s"] for s in samples), "s"),
        "registry.load_s": (stats.median(s["registry_s"] for s in samples), "s"),
        "sources.load_table.calls": (calls("sources.load_table") / n, "count"),
        "sources.load_table.s": (secs("sources.load_table") / n, "s"),
        "sources.load_table.jobs": (jobs_under("sources.load_table") / n, "count"),
        "sources.memory_sink.s": (secs("sources.run_to_memory_sink") / n, "s"),
        "build.s": (secs("build") / n, "s"),
        "build.jobs": (jobs_under("build") / n, "count"),
        "action.s": (secs("action") / n, "s"),
        "action.jobs": (jobs_under("action") / n, "count"),
        "catalyst.plan_s": (tracer.notes["catalyst.plan_s"] / n, "s"),
        "spark.jobs": (spark_jobs, "count"),
        "spark.stages": (len(stages) / n, "count"),
        "spark.tasks": (stage_sum("numCompleteTasks") / n, "count"),
        "spark.floor_s": (floor, "s"),
        "spark.fixed_cost_frac": (spark_jobs * floor / pass_s, "ratio"),
        "executor.run_s": (run_s, "s"),
        "executor.cpu_s": (stage_sum("executorCpuTime") / 1e9 / n, "s"),
        "executor.gc_s": (stage_sum("jvmGcTime") / 1000.0 / n, "s"),
        "executor.spill_bytes": ((stage_sum("memoryBytesSpilled") + stage_sum("diskBytesSpilled")) / n, "bytes"),
        "executor.busy_frac": (run_s / (pass_s * cores), "ratio"),
        "scan.input_rows": (stage_sum("inputRecords") / n, "count"),
        "scan.input_bytes": (stage_sum("inputBytes") / n, "bytes"),
        "exchange.shuffle_write_bytes": (stage_sum("shuffleWriteBytes") / n, "bytes"),
        "exchange.shuffle_read_bytes": (stage_sum("shuffleReadBytes") / n, "bytes"),
        "python.bytes_sent": (py_sent / n, "bytes"),
        "python.bytes_returned": (py_ret / n, "bytes"),
        "stream.batches": (batches / n, "count"),
        "stream.empty_batch_frac": (sum(1 for p in prog if p["input_rows"] == 0) / batches if batches else 0.0, "ratio"),
        "stream.input_rows": (sum(p["input_rows"] for p in prog) / n, "count"),
        "stream.add_batch_s": (dur("addBatch") / n, "s"),
        "stream.planning_s": (dur("queryPlanning") / n, "s"),
        "stream.offsets_s": (dur("latestOffset", "getBatch") / n, "s"),
        "stream.wal_commit_s": (dur("walCommit", "commitOffsets") / n, "s"),
        "stream.state_commit_s": (sum(p["state_commit_ms"] for p in prog) / 1000.0 / n, "s"),
        "stream.state_rows": (sum(last_state.values()) / n, "count"),
        "sink.output_bytes": (stage_sum("outputBytes") / n, "bytes"),
        "jvm.peak_rss_mb": (observe.jvm_peak_rss_mb(spark), "MB"),
        "trace.overhead_s": (overhead, "s"),  # net of steal, as the end-to-end times
        "failed_frac": (failed / attempted, "ratio"),
    }
