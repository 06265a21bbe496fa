"""The repository's benchmark: closed-loop workloads over registered queries.

    python3 perfbench/run.py --workload interactive --seed 1 --seconds 10 --trace 0

One run, in one process on ``local[nproc]``:
1. pins the engine's environment (``env.py``) and echoes it;
2. generates the workload's input tables from the seed (``gen.py``);
3. measures set-up (``session.get_spark()`` + ``registry.all_queries()``)
   in this fresh process and in ``SETUP_SAMPLES - 1`` more;
4. runs one untimed pass that warms the session, checks every query's
   result against its DuckDB oracle (``check.py``) and observes whether
   each query's ``build()`` starts a stream or writes files, then one
   more untimed warm-up pass;
5. runs the closed loop for ``--seconds`` (and at least MIN_PASSES
   passes and the workload's ``min_execs`` executions), the query order
   shuffled by the seed on every pass. Each execution is
   ``Query.build()`` plus a noop-sink write, the discipline of
   ``bench.py``;
6. stops the session's JVM and ends every process the run started,
   waiting for each (``procs.py``), on every path out.

Every end-to-end time is wall time net of steal: the wall time of the
interval times one minus the share of the guest's wanted CPU time that
the hypervisor gave to other guests meanwhile (``observe.stolen_share``).
On a shared 4-vCPU guest that share drifted between 0% and 50% from
minute to minute; over eight runs of the same code it moved the median
raw wall-clock pass from 2.0 s to 4.3 s, and the same passes net of
steal from 1.8 s to 2.4 s (the rest of a busy host's drag, on caches and
on threads waiting for a descheduled one, is not removed). The raw
wall-clock figures and the stolen share are per-layer metrics.

With ``--trace 0`` the last stdout line carries the end-to-end metrics;
with ``--trace 1`` untraced and traced passes alternate and it carries
the per-layer metrics (``layers.py``), including the tracing overhead.
Either way the run writes its drill-down (per-query medians, set-up
samples, generated table sizes, and in traced runs every span) to
``.perfbench_out/`` at the repository root.

The inputs are derived from ``bench.py``'s sf0.1 tables
(``$SPARK_GRAFT_SF_DIR``), which are only read; everything the run
writes stays under ``.perfbench_work/`` and ``.perfbench_out/``.
"""

from __future__ import annotations

import argparse
import json
import os
import random
import shutil
import signal
import subprocess
import sys
import threading
import time
from collections import defaultdict

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, HERE)

import env  # noqa: E402
import gen  # noqa: E402
import observe  # noqa: E402
import procs  # noqa: E402
import stats  # noqa: E402
from workloads import WORKLOADS  # noqa: E402

SETUP_SAMPLES = 2
MIN_PASSES = 2
EXEC_LIMIT_S = 60.0  # an execution slower than this is cancelled and fails
MEASURE_DEADLINE_S = 140.0  # stop starting passes this long after launch
SUBMIT_CONFS = {
    # keep every job, stage and SQL execution of a run in the UI store
    "spark.ui.retainedJobs": "100000",
    "spark.ui.retainedStages": "100000",
    "spark.sql.ui.retainedExecutions": "100000",
    "spark.ui.showConsoleProgress": "false",
}
T0 = time.perf_counter()


def log(msg: str) -> None:
    print(f"[perfbench {time.perf_counter() - T0:6.1f}s] {msg}", file=sys.stderr, flush=True)


def parse_args(argv):
    p = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    p.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    return p.parse_args(argv)


class Runner:
    """Executes registered queries: build() + noop write, with a watchdog."""

    def __init__(self, spark, queries, data_dir: str) -> None:
        self.spark, self.queries, self.data_dir = spark, queries, data_dir

    def _cancel(self) -> None:
        log("execution over time limit: cancelling")
        self.spark.sparkContext.cancelAllJobs()
        for q in self.spark.streams.active:
            q.stop()

    def run(self, name: str, tracer=None, sink=None):
        """(ok, build_s, action_s, error); ``sink(df)`` replaces the noop write."""
        timer = threading.Timer(EXEC_LIMIT_S, self._cancel)
        timer.daemon = True
        timer.start()
        t0 = time.perf_counter()
        t1 = t2 = None
        try:
            if tracer is None:
                df = self.queries[name].build(self.spark, self.data_dir)
                t1 = time.perf_counter()
                (sink or _noop)(df)
                t2 = time.perf_counter()
            else:
                import layers

                with tracer.span(name, new_exec=True):
                    with tracer.span("build"):
                        df = self.queries[name].build(self.spark, self.data_dir)
                    t1 = time.perf_counter()
                    with tracer.span("action"):
                        _noop(df)
                    t2 = time.perf_counter()
                    with tracer.span("catalyst"):
                        layers.record_catalyst(tracer, df)
            return True, t1 - t0, t2 - t1, None
        except Exception as exc:  # an execution that raises fails
            t = time.perf_counter()
            return False, (t1 or t) - t0, t - (t1 or t), f"{type(exc).__name__}: {str(exc)[:300]}"
        finally:
            timer.cancel()


def _noop(df) -> None:
    df.write.format("noop").mode("overwrite").save()


def check_pass(spark, runner, names, workload, work_dir, events, rest):
    """Untimed warm-up: run each query once with its result written to
    parquet, compare with the oracle in DuckDB, and observe its class.
    Returns {name: None | reason}."""
    import check
    from dpu_olap_spark.registry import oracle_map

    oracles = oracle_map()
    con = check.connect(runner.data_dir, gen.TABLES)
    tmp = os.environ["TMPDIR"]
    sc = spark.sparkContext
    reasons: dict[str, str | None] = {}
    wrote_files: set[str] = set()
    for name in names:
        c0 = time.perf_counter()
        out = os.path.join(work_dir, "results", name)
        events.owner = name
        before = _tree(tmp)

        def sink(df, out=out, name=name):
            sc.setJobGroup(f"pbcheck:action:{name}", name)
            df.write.mode("overwrite").parquet(out)

        sc.setJobGroup(f"pbcheck:build:{name}", name)
        ok, _, _, err = runner.run(name, sink=sink)
        sc.setLocalProperty("spark.jobGroup.id", None)
        if _tree(tmp) - before:
            wrote_files.add(name)
        if not ok:
            reasons[name] = f"raised: {err}"
        elif name not in oracles:
            reasons[name] = "no oracle"
        else:
            try:
                reasons[name] = check.compare(con, out, oracles[name])
            except Exception as exc:
                reasons[name] = f"compare failed: {type(exc).__name__}: {str(exc)[:300]}"
        shutil.rmtree(out, ignore_errors=True)
        log(f"check {name}: {time.perf_counter() - c0:.2f}s")
    con.close()
    events.owner = None
    # file writes the UI saw during build(), by job group
    jobs = observe.wait_for_jobs(rest, set())
    group = {j["jobId"]: j.get("jobGroup") or "" for j in jobs}
    for ex in rest.sql():
        if observe.writes_files(ex):
            for jid in ex.get("successJobIds", []) + ex.get("failedJobIds", []):
                if group.get(jid, "").startswith("pbcheck:build:"):
                    wrote_files.add(group[jid].split(":", 2)[2])
    streamed = {s["owner"] for s in events.started}
    for name in names:
        observed = "stream" if name in streamed else "files" if name in wrote_files else "batch"
        if observed not in workload.classes and reasons.get(name) is None:
            reasons[name] = f"build() observed as {observed}, workload takes {workload.classes}"
    return reasons


def _tree(root: str) -> set[str]:
    return {os.path.join(d, f) for d, ds, fs in os.walk(root) for f in ds + fs}


def closed_loop(runner, names, seconds, min_execs, rng, alternate_tracer=None, on_traced=None):
    """Run passes until ``seconds`` have passed and there are MIN_PASSES
    passes and ``min_execs`` executions; with a tracer, untraced and
    traced passes alternate and two of each end the loop instead."""
    runs = {k: {"passes": [], "passes_net": [], "lat": [], "lat_net": [], "build": defaultdict(list),
                "action": defaultdict(list), "ok": defaultdict(list), "errors": []}
            for k in ("plain", "traced")}
    start = time.perf_counter()
    i = 0
    while True:
        traced = alternate_tracer is not None and i % 2 == 1
        r = runs["traced" if traced else "plain"]
        order = list(names)
        rng.shuffle(order)
        ctx = on_traced() if traced else None
        p0 = time.perf_counter()
        host0 = host = observe.host_ticks()
        for name in order:
            ok, b, a, err = runner.run(name, tracer=alternate_tracer if traced else None)
            prev, host = host, observe.host_ticks()
            r["lat"].append(b + a)
            r["lat_net"].append((b + a) * (1.0 - observe.stolen_share(prev, host)))
            r["build"][name].append(b)
            r["action"][name].append(a)
            r["ok"][name].append(ok)
            if err:
                r["errors"].append(f"{name}: {err}")
        r["passes"].append(time.perf_counter() - p0)
        r["passes_net"].append(r["passes"][-1] * (1.0 - observe.stolen_share(host0, host)))
        if ctx is not None:
            ctx()
        i += 1
        plain, tr = runs["plain"], runs["traced"]
        if alternate_tracer is None:
            enough = len(plain["passes"]) >= MIN_PASSES and len(plain["lat"]) >= min_execs
        else:
            enough = len(plain["passes"]) >= 2 and len(tr["passes"]) >= 2
        if time.perf_counter() - start >= seconds and enough:
            return runs
        if time.perf_counter() - T0 > MEASURE_DEADLINE_S:
            raise RuntimeError(f"measurement incomplete after {MEASURE_DEADLINE_S:.0f} s")


def main(argv=None) -> int:
    args = parse_args(argv)
    workload = WORKLOADS[args.workload]
    work_dir = os.path.join(ROOT, ".perfbench_work", f"run-{os.getpid()}")
    out_dir = os.path.join(ROOT, ".perfbench_out")
    src_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    if not os.path.isfile(os.path.join(ROOT, "dpu_olap_spark", "registry.py")):
        log(f"no engine package under {ROOT}")
        return 2
    if not all(os.path.isfile(os.path.join(src_dir, f"{t}.parquet")) for t in gen.TABLES):
        log(f"source tables missing under {src_dir}")
        return 2
    pinned = env.pin(work_dir)
    os.environ["PYSPARK_SUBMIT_ARGS"] = " ".join(
        [f"--conf {k}={v}" for k, v in SUBMIT_CONFS.items()] + [os.environ["PYSPARK_SUBMIT_ARGS"]]
    )
    procs.become_subreaper()
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))  # run the clean-up below
    try:
        return _run(args, workload, work_dir, out_dir, src_dir, pinned)
    finally:
        left = procs.end_descendants()
        if left:
            log(f"ended {len(left)} leftover processes: {left}")
        shutil.rmtree(work_dir, ignore_errors=True)


def _run(args, workload, work_dir, out_dir, src_dir, pinned) -> int:
    data_dir = os.path.join(work_dir, "data")
    manifest = gen.generate(src_dir, data_dir, args.seed)
    log(f"generated inputs in {manifest['gen_s']:.2f}s")

    samples = []
    for _ in range(SETUP_SAMPLES - 1):
        proc = subprocess.run(
            [sys.executable, os.path.join(HERE, "setup_probe.py"), ROOT],
            capture_output=True, text=True, timeout=120, cwd=ROOT,
        )
        if proc.returncode != 0:
            raise RuntimeError(f"setup probe failed: {proc.stderr[-2000:]}")
        samples.append(json.loads(proc.stdout.strip().splitlines()[-1]))
    sys.path.insert(0, ROOT)
    from setup_probe import timed_setup

    spark, queries, own = timed_setup("perfbench")
    samples.append(own)
    spark.sparkContext.setLogLevel("ERROR")
    log(f"set-up samples {[(round(s['get_spark_s'] + s['registry_s'], 3), round(s['stolen_share'], 3)) for s in samples]}")
    try:
        return _measure(args, workload, work_dir, out_dir, pinned, manifest, samples, spark, queries, data_dir)
    finally:
        t0 = time.perf_counter()
        procs.stop_spark(spark)
        log(f"stopped the session and its JVM in {time.perf_counter() - t0:.2f}s")


def _measure(args, workload, work_dir, out_dir, pinned, manifest, samples, spark, queries, data_dir) -> int:
    import layers
    import trace

    runner = Runner(spark, queries, data_dir)
    names = list(workload.queries)
    events = observe.StreamEvents()
    rest = observe.SparkRest(spark)
    spark.streams.addListener(events)
    reasons = check_pass(spark, runner, names, workload, work_dir, events, rest)
    spark.streams.removeListener(events)
    bad = {n: r for n, r in reasons.items() if r}
    log(f"checked {len(names)} queries against their oracles; {len(bad)} differ {bad}")

    rng = random.Random(args.seed)
    # one more untimed pass: right after the check, passes still speed up
    # by 20-30% as the JVM compiles the hot paths
    for name in rng.sample(names, len(names)):
        runner.run(name)
    tracer = trace.Tracer(spark.sparkContext) if args.trace else None
    traced_events = observe.StreamEvents()
    hooks = layers.Hooks(spark, tracer, traced_events) if tracer else None
    runs = closed_loop(
        runner, names, args.seconds, workload.min_execs, rng,
        alternate_tracer=tracer, on_traced=hooks.enter if hooks else None,
    )
    plain = runs["plain"]
    log(f"measured {len(plain['passes'])} passes, {len(plain['lat'])} executions: "
        f"wall {[round(x, 2) for x in plain['passes']]} net of steal {[round(x, 2) for x in plain['passes_net']]}")

    oracle_ok = {n: reasons.get(n) is None for n in names}
    outcomes = {n: plain["ok"][n] + runs["traced"]["ok"][n] for n in names}
    attempted, failed = stats.failed_frac(outcomes, oracle_ok)
    setup_net = [(s["get_spark_s"] + s["registry_s"]) * (1.0 - s["stolen_share"]) for s in samples]
    tail_p = stats.tail_percentile(workload.min_execs)
    if args.trace:
        metrics = layers.per_layer(
            spark, tracer, traced_events, rest, runs, samples,
            int(pinned["SPARK_GRAFT_CPUS"]), attempted, failed,
        )
    else:
        metrics = {
            "setup_s": (stats.median(setup_net), "s"),
            "pass_s": (stats.median(plain["passes_net"]), "s"),
            "query_p50_s": (stats.median(plain["lat_net"]), "s"),
            "query_tail_s": (stats.percentile(plain["lat_net"], tail_p), "s"),
        }
    drill = {
        n: {
            "build_s": stats.median(plain["build"][n]),
            "action_s": stats.median(plain["action"][n]),
            "executions": len(plain["ok"][n]),
        }
        for n in names
    }
    if args.trace:
        for n, row in layers.per_query_jobs(tracer, rest).items():
            drill[n]["jobs"] = row
    artifact = {
        "workload": workload.name, "seed": args.seed, "seconds": args.seconds, "trace": args.trace,
        "env": pinned, "inputs": manifest, "setup_samples": samples,
        "tail_percentile": tail_p, "min_execs": workload.min_execs,
        "oracle": {n: reasons.get(n) for n in names}, "errors": plain["errors"] + runs["traced"]["errors"],
        "passes": {k: v["passes"] for k, v in runs.items()},
        "passes_net": {k: v["passes_net"] for k, v in runs.items()}, "per_query": drill,
        "metrics": {k: v[0] for k, v in metrics.items()},
    }
    if tracer:
        artifact["spans"] = tracer.dump()
        artifact["self_s"] = trace.self_times(tracer.spans)
    os.makedirs(out_dir, exist_ok=True)
    path = os.path.join(out_dir, f"{workload.name}_seed{args.seed}_trace{args.trace}.json")
    with open(path, "w") as fh:
        json.dump(artifact, fh, indent=1)
    print(json.dumps({
        "env": {k: pinned[k] for k in ("SPARK_GRAFT_CPUS", "SPARK_GRAFT_DRIVER_MEM", "SPARK_LOCAL_DIRS")},
        "gen_s": manifest["gen_s"],
        "tables": manifest["tables"],
        "tail_percentile": tail_p,
        "failed_frac": failed / attempted,
        "oracle_failures": bad,
        "artifact": os.path.relpath(path, ROOT),
    }))
    print(json.dumps({
        "correct": not bad and failed == 0,
        "attempted": attempted,
        "failed": failed,
        "metrics": {k: {"value": v, "unit": u} for k, (v, u) in metrics.items()},
    }))
    return 0


if __name__ == "__main__":
    sys.exit(main())
