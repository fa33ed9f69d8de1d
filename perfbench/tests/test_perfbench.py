"""Tests for the benchmark's own code.

    python3 -m pytest perfbench/tests -q

Run from the repository root.  The status-store test starts a one-core
local Spark session; the rest are pure Python.
"""

from __future__ import annotations

import json
import os
import re
import subprocess
import sys
import time

import pytest

from perfbench import procs
from perfbench.etl_inputs import write_trips, write_weather
from perfbench.metrics import END_TO_END, declared, per_layer
from perfbench.tracing import Span, StatusStore, Tracer, interval_union_s

ROOT = os.path.dirname(os.path.dirname(os.path.dirname(os.path.abspath(__file__))))


@pytest.fixture(scope="module")
def spark():
    from pyspark.sql import SparkSession

    s = (SparkSession.builder.master("local[1]").appName("perfbench-tests")
         .config("spark.ui.enabled", "false").getOrCreate())
    yield s
    s.stop()
    procs.stop_gateway()


def test_status_store_counts_jobs_of_known_actions(spark):
    sc = spark.sparkContext
    tracer = Tracer(sc, StatusStore(sc))
    with tracer.span("outer") as outer:
        sc.parallelize(range(100), 2).count()  # one job, one stage
        with tracer.span("inner"):
            rdd = sc.parallelize(range(100), 2).map(lambda x: (x % 3, 1))
            rdd.reduceByKey(lambda a, b: a + b).collect()  # one job, two stages
            sc.parallelize(range(10), 1).sum()  # one job
    with tracer.span("outer"):  # a reused name gets a fresh job group
        sc.parallelize(range(10), 1).count()
    tracer.resolve()
    first, second = (s for s in tracer.spans if s.name == "outer")
    inner = next(s for s in tracer.spans if s.name == "inner")
    assert first is outer
    assert len(first.job_ids) == 1 and len(first.stages) == 1
    assert len(inner.job_ids) == 2 and len(inner.stages) == 3
    assert inner.totals()["shuffle_bytes"] > 0
    assert len(second.job_ids) == 1
    assert not set(first.job_ids) & set(inner.job_ids) | set(second.job_ids) & set(first.job_ids)


def test_disabled_tracer_yields_none():
    tracer = Tracer()
    with tracer.span("x") as sp:
        pass
    tracer.resolve()
    assert sp is None and tracer.spans == []


def test_self_time_subtracts_children():
    parent = Span("p", "g0", start=10.0, end=20.0)
    a = Span("a", "g1", start=11.0, end=13.5, parent=parent)
    b = Span("b", "g2", start=15.0, end=16.0, parent=parent)
    parent.children += [a, b]
    assert parent.duration == pytest.approx(10.0)
    assert parent.self_s == pytest.approx(6.5)
    assert a.self_s == pytest.approx(2.5)


def test_interval_union_counts_overlap_once():
    assert interval_union_s([(0, 1000), (500, 1500), (3000, 3500)]) == pytest.approx(2.0)
    assert interval_union_s([(2000, 2500), (0, 100)]) == pytest.approx(0.6)
    assert interval_union_s([]) == 0.0


def test_typical_pass_takes_each_ops_median():
    from perfbench.runner import Sample, typical_pass

    samples = [
        Sample("q", "query", 3.0, 0, False), Sample("r", "query", 1.0, 0, False),
        Sample("r", "query", 1.2, 0, False),  # r runs twice a pass
        Sample("q", "query", 1.0, 1, False), Sample("q", "query", 2.0, 2, False),
        Sample("r", "query", 9.0, 1, False, failed=True),
    ]
    assert sorted(typical_pass(samples)) == pytest.approx([1.1, 1.1, 2.0])


class _FakeVersioned:
    """Stands in for `sources.versioned` at check time: reads back the
    rows and metadata the test says each version holds."""

    def __init__(self, versions: dict[int, tuple[int, dict]]):
        self.versions = versions

    def read_snapshot(self, spark, table, version=None):
        rows = self.versions[version][0]
        return type("Frame", (), {"count": lambda self: rows})()

    def manifest_metadata(self, table, version):
        return self.versions[version][1]


def test_wrong_read_back_fails_only_its_own_op(tmp_path):
    from perfbench.etl_inputs import expected_trip_counts
    from perfbench.runner import Context, failed_ops_frac
    from perfbench.workloads import EtlLakehouse

    trips = tmp_path / "trips.csv"
    write_trips(str(trips), 2000, 3)
    by_month = expected_trip_counts(str(trips))
    jan, jan_feb = by_month[1], by_month[1] + by_month[2]

    wl = EtlLakehouse()
    wl.trips = str(trips)
    wl.versioned = _FakeVersioned({1: (jan, {"month": 1}), 2: (jan_feb + 1, {"month": 2})})
    ctx = Context(None, ROOT, str(tmp_path), 3, 1, Tracer())
    for version, month in ((1, 1), (2, 2)):
        sample, _ = ctx.op("append", "commit", lambda: version)
        wl.commits.append((sample, "t", version, ("months", month), {"month": month}))
    for n in (jan, jan + 5):  # the same label; only the second is wrong
        sample, _ = ctx.op("read_asof", "read", lambda: n)
        wl.reads.append((sample, n, ("months", 1)))

    wl.check(ctx)
    assert [s.failed for s in ctx.samples] == [False, True, False, True]
    assert failed_ops_frac(ctx.samples) == pytest.approx(0.5)
    assert len(ctx.reasons) == 2


def test_metric_names_are_valid_and_declared():
    with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
        bench = json.load(fh)
    names = [n for n, *_ in END_TO_END] + [n for n, _, _ in per_layer()]
    assert len(names) == len(set(names))
    for n in names:
        assert re.fullmatch(r"[A-Za-z0-9_.-]+", n), n
    assert bench["end_to_end"] == declared()["end_to_end"]
    assert bench["per_layer"] == declared()["per_layer"]
    assert any(m["name"] == "setup_s" for m in bench["end_to_end"])


def _bytes(path: str) -> bytes:
    with open(path, "rb") as fh:
        return fh.read()


def test_etl_generator_is_seeded(tmp_path):
    def gen(tag: str, seed: int) -> tuple[bytes, bytes]:
        trips, weather = tmp_path / f"t{tag}.csv", tmp_path / f"w{tag}.csv"
        write_trips(str(trips), 2000, seed)
        write_weather(str(weather), seed)
        return _bytes(trips), _bytes(weather)

    one, again, other = gen("a", 7), gen("b", 7), gen("c", 8)
    assert one == again
    assert one[0] != other[0] and one[1] != other[1]


def test_reap_all_ends_orphaned_grandchildren():
    """A grandchild whose parent exits is re-parented to the run, which
    stops and reaps it instead of leaving it running."""
    script = (
        "import subprocess, sys\n"
        "from perfbench import procs\n"
        "procs.adopt_orphans()\n"
        "subprocess.run(['sh', '-c', 'sleep 60 & echo $!'], stdout=sys.stdout)\n"
        "procs.reap_all(grace=0.2)\n"
        "print(len(procs.children()))\n"
    )
    t = time.monotonic()
    out = subprocess.run([sys.executable, "-c", script], cwd=ROOT, capture_output=True,
                         text=True, timeout=30, check=True).stdout.split()
    assert time.monotonic() - t < 20
    grandchild, left = int(out[0]), int(out[1])
    assert left == 0
    assert not os.path.exists(f"/proc/{grandchild}")
