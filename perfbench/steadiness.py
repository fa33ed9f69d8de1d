"""Run a workload once per seed and report each end-to-end metric's median
and spread (interquartile distance / median), the test BENCHMARK.json's
bounds are held to.

    python3 perfbench/steadiness.py --workload query_serving --seeds 1-10

Runs are sequential, each in its own process, from the checkout root, for
BENCHMARK.json's `run_seconds` and untraced.  Each run's line also shows
the host's steal share over its timed phase, from the run's detail file.
"""

from __future__ import annotations

import argparse
import json
import os
import statistics
import subprocess
import sys
import time

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def seeds(spec: str) -> list[int]:
    lo, _, hi = spec.partition("-")
    return list(range(int(lo), int(hi or lo) + 1))


def spread(values: list[float]) -> float:
    q1, _, q3 = statistics.quantiles(values, n=4)
    return (q3 - q1) / statistics.median(values)


def main() -> int:
    p = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    p.add_argument("--workload", required=True)
    p.add_argument("--seeds", default="1-10")
    args = p.parse_args()
    with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
        bench = json.load(fh)
    bounds = {m["name"]: m["bound"] for m in bench["end_to_end"]}

    runs = []
    for seed in seeds(args.seeds):
        t = time.perf_counter()
        proc = subprocess.run(
            [*bench["command"], "--workload", args.workload, "--seed", str(seed),
             "--seconds", str(bench["run_seconds"]), "--trace", "0"],
            cwd=ROOT, capture_output=True, text=True, timeout=600,
        )
        wall = time.perf_counter() - t
        if proc.returncode != 0:
            print(f"seed {seed}: exit {proc.returncode}\n{proc.stderr[-2000:]}", file=sys.stderr)
            return 1
        res = json.loads(proc.stdout.strip().splitlines()[-1])
        runs.append(res)
        detail = os.path.join(ROOT, "perfbench", "out", f"{args.workload}-seed{seed}-trace0.json")
        with open(detail) as fh:
            steal = json.load(fh)["host"]["steal_frac"]
        vals = " ".join(f"{k}={v['value']:.4g}" for k, v in res["metrics"].items())
        print(f"seed {seed}: wall {wall:.1f} s steal {steal:.3f} correct={res['correct']} "
              f"attempted={res['attempted']} failed={res['failed']} {vals}", flush=True)
    if len(runs) < 2:
        return 0
    print(f"{'metric':<40} {'median':>12} {'spread':>8} {'bound':>6}")
    for name in runs[0]["metrics"]:
        values = [r["metrics"][name]["value"] for r in runs]
        s = spread(values) if statistics.median(values) else float("nan")
        print(f"{name:<40} {statistics.median(values):>12.5g} {s:>8.3f} {bounds[name]:>6}")
    return 0


if __name__ == "__main__":
    sys.exit(main())
