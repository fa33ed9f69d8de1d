"""Time a subset of declared queries with bench.py's exact methodology.

Usage:
    python tools/bench_some.py q_jaccard_prefix q_dedup_pipeline [--repeats N]
                               [--sf DIR] [--raw] [--tag LABEL]

Reuses bench.py's corpus prep (multi-file .benchdata copy), JVM + Arrow
python-worker warm-ups, and the noop-sink best-of-N timing, so numbers
here are directly comparable to BENCH_DETAIL.json rows. Prints one line
per query (best seconds, and Spark jobs per execution: the member's
jobs, read from the status tracker under its own job group, over the
repeats) plus a total; nothing here feeds the driver contract. The total
line carries the host's busy and steal CPU fractions over the timed phase:
on a shared VM, steal says whether two runs are comparable at all.
"""

from __future__ import annotations

import argparse
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

import bench
from perfbench.host import cpu_fractions, cpu_times
from nyc_bikeshare_datawarehouse_spark.plans.queries import QUERIES
from nyc_bikeshare_datawarehouse_spark.session import get_spark


def main() -> None:
    ap = argparse.ArgumentParser(description=__doc__)
    ap.add_argument("names", nargs="+", help="query names")
    ap.add_argument("--repeats", type=int, default=2)
    ap.add_argument("--sf", default=os.environ.get(
        "SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1"))
    ap.add_argument("--raw", action="store_true",
                    help="bench the raw single-file corpus")
    ap.add_argument("--tag", default="", help="label echoed in the output")
    args = ap.parse_args()

    unknown = [n for n in args.names if n not in QUERIES]
    if unknown:
        ap.error(f"unknown queries: {unknown}")

    spark = get_spark("bench-some")
    sf_dir = args.sf
    if not args.raw:
        sf_dir, prep = bench.prepare_parallel_corpus(spark, sf_dir)
        if prep:
            spark.stop()
            spark = get_spark("bench-some")
    bench.run_query(spark, "q_star_join", sf_dir, repeats=1)
    spark.range(64).repartition(32).mapInPandas(lambda it: it, "id long").count()

    total = 0.0
    ticks0 = cpu_times()
    t0 = time.perf_counter()
    sc = spark.sparkContext
    for name in args.names:
        group = f"bench-some-{name}"
        sc.setJobGroup(group, name)
        sec = round(bench.run_query(spark, name, sf_dir, repeats=args.repeats), 3)
        sc.setJobGroup("", "")
        jobs = len(sc.statusTracker().getJobIdsForGroup(group)) / args.repeats
        total += sec
        print(f"{args.tag}{name:36s} {sec:8.3f}s {jobs:6g} jobs", flush=True)
    wall = time.perf_counter() - t0
    host = cpu_fractions(ticks0, cpu_times())
    print(
        f"{args.tag}TOTAL {total:8.3f}s  wall {wall:.1f}s  "
        f"busy {host['busy_frac']:.3f}  steal {host['steal_frac']:.3f}"
    )


if __name__ == "__main__":
    main()
