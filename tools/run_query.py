"""Run any declared query by name from the command line.

Usage:
    python tools/run_query.py q_star_join [--sf DIR] [--limit N]
                              [--explain] [--list [PATTERN]]

`--list` prints the inventory (optionally filtered by substring) with
each query's first docstring line; `--explain` prints the formatted
physical plan instead of rows. The session pins the same confs as the
test/bench harness (sources/readers.load_table handles the events
ns-timestamp and UTC pinning internally, so any SparkSession works).
"""

from __future__ import annotations

import argparse
import os
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))


def main() -> None:
    ap = argparse.ArgumentParser(description=__doc__)
    ap.add_argument("name", nargs="?", help="query name (see --list)")
    ap.add_argument("--sf", default="/root/testdata/sf0.01", help="corpus dir")
    ap.add_argument("--limit", type=int, default=20, help="rows to show")
    ap.add_argument("--explain", action="store_true", help="print the plan")
    ap.add_argument("--list", nargs="?", const="", default=None, metavar="PATTERN",
                    help="list queries (optionally filtered)")
    args = ap.parse_args()

    from nyc_bikeshare_datawarehouse_spark.plans.queries import QUERIES

    if args.list is not None:
        for name, fn in QUERIES.items():
            if args.list in name:
                doc = (fn.__doc__ or "").strip().splitlines()
                print(f"{name:32s} {doc[0] if doc else ''}")
        return
    if not args.name:
        ap.error("provide a query name or --list")
    if args.name not in QUERIES:
        matches = [n for n in QUERIES if args.name in n]
        hint = f" (did you mean: {', '.join(matches[:5])}?)" if matches else ""
        ap.error(f"unknown query {args.name!r}{hint}")

    from nyc_bikeshare_datawarehouse_spark.session import get_spark

    spark = get_spark("run-query")
    df = QUERIES[args.name](spark, args.sf)
    if args.explain:
        df.explain("formatted")
    else:
        df.show(args.limit, truncate=False)
        print(f"[{args.name}] {df.count()} rows total at {args.sf}")


if __name__ == "__main__":
    main()
