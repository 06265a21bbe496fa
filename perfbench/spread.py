"""Run the benchmark once per seed and report each metric's median and
quartile spread ((Q3 - Q1) / median), the figure a bound must cover.

    python3 perfbench/spread.py --workload streaming --seeds 1 2 3 4 5 [--trace 0]

Runs are sequential, from the repository root, with ``run_seconds``
from BENCHMARK.json; a run that fails, prints no result or leaves a
process running after it exits stops the tool.
"""

from __future__ import annotations

import argparse
import json
import os
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, HERE)

import procs  # noqa: E402
import stats  # noqa: E402


def main() -> int:
    p = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    p.add_argument("--workload", required=True)
    p.add_argument("--seeds", type=int, nargs="+", required=True)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = p.parse_args()
    with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
        bench = json.load(fh)
    bounds = {m["name"]: m.get("bound") for m in bench["end_to_end"] + bench["per_layer"]}
    values: dict[str, list[float]] = {}
    procs.become_subreaper()  # a run's orphans stay visible below this process
    for seed in args.seeds:
        cmd = bench["command"] + [
            "--workload", args.workload, "--seed", str(seed),
            "--seconds", str(bench["run_seconds"]), "--trace", str(args.trace),
        ]
        t0 = time.perf_counter()
        proc = subprocess.run(cmd, cwd=ROOT, capture_output=True, text=True, timeout=900)
        wall = time.perf_counter() - t0
        left = [procs.describe(pid) for pid in procs.descendants()]
        if left:
            procs.end_descendants()
            print(f"seed {seed}: processes left running after the run: {left}", file=sys.stderr)
            return 1
        lines = proc.stdout.strip().splitlines()
        if proc.returncode != 0 or not lines:
            print(f"seed {seed}: exit {proc.returncode}\n{proc.stderr[-3000:]}", file=sys.stderr)
            return 1
        result = json.loads(lines[-1])
        print(f"seed {seed}: {wall:.1f}s correct={result['correct']} failed={result['failed']}"
              f"/{result['attempted']} " + " ".join(
                  f"{k}={v['value']:.4g}" for k, v in result["metrics"].items()), flush=True)
        for k, v in result["metrics"].items():
            values.setdefault(k, []).append(v["value"])
    if len(args.seeds) >= 2:
        for k, xs in values.items():
            spread = stats.quartile_spread(xs)
            bound = bounds.get(k)
            note = f" bound {bound} (a third: {bound / 3:.3f})" if bound else ""
            print(f"{k}: median {stats.median(xs):.4g} spread {spread:.3f}{note}")
    return 0


if __name__ == "__main__":
    sys.exit(main())
