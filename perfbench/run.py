"""Benchmark entry point.

    python3 perfbench/run.py --workload query_serving --seed 1 --seconds 20 --trace 0

Runs one workload from the root of a checkout and prints, as the last
line of standard output, one JSON object with the keys `correct`,
`attempted`, `failed` and `metrics`: the end-to-end metrics with
`--trace 0`, the per-layer metrics with `--trace 1`.  Exits non-zero,
printing no result, when the run cannot complete.
"""

import time

T_START = time.perf_counter()

import argparse  # noqa: E402
import json  # noqa: E402
import os  # noqa: E402
import signal  # noqa: E402
import sys  # noqa: E402

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def main(argv=None) -> int:
    p = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    p.add_argument("--workload", required=True,
                   choices=["query_serving", "etl_lakehouse"])
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=int, required=True)
    p.add_argument("--trace", type=int, choices=[0, 1], default=0)
    args = p.parse_args(argv)

    needed = ["nyc_bikeshare_datawarehouse_spark", os.path.join("tools", "check_correctness.py")]
    missing = [n for n in needed if not os.path.exists(os.path.join(ROOT, n))]
    if missing:
        print(f"not a checkout of the engine: {', '.join(missing)} missing", file=sys.stderr)
        return 2
    sys.path.insert(0, ROOT)
    os.chdir(ROOT)
    from perfbench import procs

    procs.adopt_orphans()
    # a SIGTERM unwinds through the `finally` blocks that stop the JVM
    # (runner.run) and end every remaining child (here)
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))
    try:
        from perfbench.runner import run

        result = run(args.workload, args.seed, args.seconds, bool(args.trace), ROOT, T_START)
    finally:
        procs.reap_all()
    sys.stdout.flush()
    print(json.dumps(result))
    return 0


if __name__ == "__main__":
    sys.exit(main())
