"""Metric declarations and the statistics the benchmark reports.

`END_TO_END` and `per_layer()` are the single source of metric names,
units and directions; `python3 perfbench/metrics.py` prints them in the
form `BENCHMARK.json` lists them, and a test keeps the two in step.
"""

from __future__ import annotations

import json
import math
import statistics

#: (name, unit, better, bound): measured with tracing off, on every workload
END_TO_END = [
    ("setup_s", "s", "lower", 0.25),
    ("wall_s", "s", "lower", 0.25),
    ("latency_p50_s", "s", "lower", 0.25),
    ("latency_p90_s", "s", "lower", 0.25),
]

#: the counters every span reports
COUNTERS = ("self_s", "jobs", "task_s", "cpu_s", "shuffle_bytes")

#: span name -> the extras it reports beside COUNTERS
SPANS = {
    "session.start": (),
    "plans.queries.build": (),
    "plans.queries.execute": ("core_util",),
    "sources.readers.scan": ("input_bytes",),
    "functions.dedup.minhash_candidates": ("pairs_out",),
    "functions.dedup.minhash_engine": ("pairs_out",),
    "functions.dedup.verify": ("verify_yield",),
    "functions.dedup.prefix_candidates": ("pairs_out",),
    "functions.dedup.prefix_verify": ("verify_yield",),
    "functions.dedup.cluster": ("core_util",),
    "functions.graph.two_star": ("core_util",),
    "functions.dedup.apply": (),
    "sources.readers.read_csv": ("input_bytes",),
    "sources.sinks.write_parquet": ("output_bytes",),
    "warehouse.quality.gates": ("input_bytes",),
    "sources.versioned.commit": ("bytes_written", "files_written"),
    "sources.versioned.read": ("files_scanned_frac",),
}

_UNITS = {
    "self_s": ("s", "lower"),
    "jobs": ("count", "lower"),
    "task_s": ("s", "lower"),
    "cpu_s": ("s", "lower"),
    "shuffle_bytes": ("B", "lower"),
    "core_util": ("ratio", "higher"),
    "input_bytes": ("B", "lower"),
    "output_bytes": ("B", "lower"),
    "pairs_out": ("count", "lower"),
    "verify_yield": ("ratio", "higher"),
    "bytes_written": ("B", "lower"),
    "files_written": ("count", "lower"),
    "files_scanned_frac": ("ratio", "lower"),
}

#: run-level per-layer metrics: (name, unit, better)
RUN_LEVEL = [
    ("session.jvm_hwm_mb", "MB", "lower"),
    ("etl.etl_s", "s", "lower"),
    ("etl.commit_p50_s", "s", "lower"),
    ("etl.snapshot_read_p50_s", "s", "lower"),
    ("etl.write_amp", "ratio", "lower"),
    ("etl.space_amp", "ratio", "lower"),
    ("run.failed_ops_frac", "ratio", "lower"),
    ("trace.overhead_frac", "ratio", "lower"),
]


def per_layer() -> list[tuple[str, str, str]]:
    """Every per-layer metric as (name, unit, better)."""
    out = []
    for span, extras in SPANS.items():
        for key in (*COUNTERS, *extras):
            unit, better = _UNITS[key]
            out.append((f"{span}.{key}", unit, better))
    return out + RUN_LEVEL


def percentile(values: list[float], q: float) -> float:
    """Linear-interpolated percentile, q in [0, 100]."""
    if not values:
        return math.nan
    xs = sorted(values)
    pos = (len(xs) - 1) * q / 100.0
    lo = math.floor(pos)
    hi = min(lo + 1, len(xs) - 1)
    return xs[lo] + (xs[hi] - xs[lo]) * (pos - lo)


def median(values: list[float]) -> float:
    return statistics.median(values) if values else math.nan


def declared() -> dict:
    """The metric part of BENCHMARK.json."""
    return {
        "end_to_end": [
            {"name": n, "unit": u, "better": b, "bound": bound}
            for n, u, b, bound in END_TO_END
        ],
        "per_layer": [{"name": n, "unit": u, "better": b} for n, u, b in per_layer()],
    }


if __name__ == "__main__":
    print(json.dumps(declared(), indent=1))
