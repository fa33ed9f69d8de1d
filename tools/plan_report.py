"""Generate PLANS.md — physical-plan evidence for every declared query.

For each query: join strategies chosen, number of shuffle exchanges,
whole-stage-codegen presence, and per-scan column pruning / pushed filters.
This is the reviewable artifact for the scale-design claims (filters reach
the scan, dims broadcast, aggregates are partial before exchange).

Usage: python tools/plan_report.py [sf_dir] > PLANS.md
"""

from __future__ import annotations

import os
import re
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from nyc_bikeshare_datawarehouse_spark.plans.queries import QUERIES
from nyc_bikeshare_datawarehouse_spark.session import get_spark


def summarize(plan: str) -> dict:
    joins = []
    for m in re.finditer(
        r"(BroadcastHashJoin|SortMergeJoin|ShuffledHashJoin|BroadcastNestedLoopJoin)[^\n]*",
        plan,
    ):
        jtype = re.search(r"\b(Inner|LeftOuter|LeftSemi|LeftAnti|FullOuter|Cross)\b", m.group(0))
        joins.append(f"{m.group(1)}({jtype.group(1)})" if jtype else m.group(1))
    scans = []
    for m in re.finditer(r"FileScan parquet [^\n]*", plan):
        s = m.group(0)
        table = re.search(r"testdata/[^/]+/(\w+)\.parquet", s)
        read = re.search(r"ReadSchema: struct<([^>]*)", s)
        pushed = re.search(r"PushedFilters: \[([^\]]*)\]", s)
        part = re.search(r"PartitionFilters: \[([^\]]*)\]", s)
        ncols = len(read.group(1).split(",")) if read and read.group(1) else 0
        if table is None:
            # non-corpus scans (lifecycle temp layouts, e.g. the IVF
            # partitionBy('cell') probe) — label by the last path segment
            seg = re.search(r"Location: [^\[]*\[[^\]]*/([\w.-]+)\]?", s)
            label = seg.group(1) if seg else "?"
        else:
            label = table.group(1)
        scans.append(
            f"{label}: {ncols} cols"
            + (f", pushed [{pushed.group(1)}]" if pushed and pushed.group(1) else "")
            + (f", partition-pruned [{part.group(1)}]" if part and part.group(1) else "")
        )
    return {
        "joins": joins,
        "exchanges": len(re.findall(r"\bExchange hashpartitioning", plan)),
        "partial_agg": "partial_" in plan or "merge_" in plan,
        "scans": scans,
    }


def main() -> None:
    sf_dir = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.01"
    spark = get_spark("plan-report")
    print("# PLANS — physical-plan evidence per declared query\n")
    print(f"Generated by tools/plan_report.py over `{sf_dir}` "
          "(initial plans, pre-AQE; AQE further coalesces exchanges at runtime).\n")
    for name in sorted(QUERIES):
        try:
            df = QUERIES[name](spark, sf_dir)
            plan = df._jdf.queryExecution().executedPlan().toString()
        except Exception as e:  # pragma: no cover
            print(f"## {name}\n\nERROR: {e}\n")
            continue
        s = summarize(plan)
        print(f"## {name}\n")
        print(f"- joins: {', '.join(s['joins']) if s['joins'] else 'none'}")
        print(f"- shuffle exchanges: {s['exchanges']}; partial aggregation: {s['partial_agg']}")
        for scan in s["scans"]:
            print(f"- scan {scan}")
        print()


if __name__ == "__main__":
    main()
