"""Runner tests: ordering, retries, gate abort, downstream skip — plus a
real Spark pipeline composed through it."""

from __future__ import annotations

import os
import time

import pytest

from nyc_bikeshare_datawarehouse_spark.warehouse.runner import PipelineRunner, Stage

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def test_dependency_order_and_context():
    log = []
    stages = [
        Stage("b", lambda ctx: log.append("b") or ctx["a"] + 1, depends_on=["a"]),
        Stage("a", lambda ctx: log.append("a") or 1),
        Stage("c", lambda ctx: log.append("c") or ctx["b"] + 1, depends_on=["b"]),
    ]
    results = PipelineRunner(stages).run()
    assert log == ["a", "b", "c"]
    assert [r.ok for r in results] == [True, True, True]
    assert results[2].output == 3  # context flows downstream


def test_retry_then_success():
    calls = {"n": 0}

    def flaky(ctx):
        calls["n"] += 1
        if calls["n"] < 2:
            raise RuntimeError("transient")
        return "ok"

    [r] = PipelineRunner([Stage("s", flaky, retries=2, retry_delay_s=0)]).run()
    assert r.ok and r.attempts == 2


def test_gate_abort_skips_downstream():
    stages = [
        Stage("build", lambda ctx: "tables"),
        Stage("gate", lambda ctx: False, depends_on=["build"], is_gate=True, retries=0),
        Stage("publish", lambda ctx: "published", depends_on=["gate"]),
    ]
    results = {r.name: r for r in PipelineRunner(stages).run()}
    assert results["build"].ok
    assert not results["gate"].ok and results["gate"].error == "gate returned falsy"
    assert not results["publish"].ok and results["publish"].error == "upstream failed"


def test_cycle_and_unknown_dep_rejected():
    with pytest.raises(ValueError, match="cycle"):
        PipelineRunner([
            Stage("a", lambda c: 1, depends_on=["b"]),
            Stage("b", lambda c: 1, depends_on=["a"]),
        ]).run()
    with pytest.raises(ValueError, match="unknown"):
        PipelineRunner([Stage("a", lambda c: 1, depends_on=["zzz"])])


def test_real_spark_pipeline_through_runner(spark, sf_dir, tmp_path):
    from nyc_bikeshare_datawarehouse_spark.sources.readers import load_table
    from nyc_bikeshare_datawarehouse_spark.warehouse import quality

    out = str(tmp_path / "mart")

    def build(ctx):
        return load_table(spark, sf_dir, "orders").groupBy("o_orderpriority").count()

    def gate(ctx):
        return quality.expect_non_empty(ctx["build"], "mart").passed

    def publish(ctx):
        ctx["build"].write.mode("overwrite").parquet(out)
        return out

    results = PipelineRunner([
        Stage("build", build),
        Stage("gate", gate, depends_on=["build"], is_gate=True),
        Stage("publish", publish, depends_on=["gate"]),
    ]).run()
    assert all(r.ok for r in results)
    assert spark.read.parquet(out).count() == 5


def test_run_query_cli_list_and_errors():
    import subprocess
    import sys

    out = subprocess.run(
        [sys.executable, "tools/run_query.py", "--list", "tpch"],
        capture_output=True, text=True, cwd=ROOT,
    )
    assert out.returncode == 0
    assert out.stdout.count("q_tpch_") == 22  # the full TPC-H set listed
    bad = subprocess.run(
        [sys.executable, "tools/run_query.py", "star_join"],
        capture_output=True, text=True, cwd=ROOT,
    )
    assert bad.returncode != 0
    assert "did you mean" in bad.stderr


def test_tools_and_tests_do_not_hard_code_the_checkout_path():
    # tools and tests derive the repo root from __file__: a checkout
    # anywhere else must import, check and write its own tree
    offenders = []
    for sub in ("tools", "tests"):
        for dirpath, dirnames, files in os.walk(os.path.join(ROOT, sub)):
            dirnames[:] = [d for d in dirnames if d != "__pycache__"]
            for name in files:
                path = os.path.join(dirpath, name)
                with open(path, encoding="utf-8", errors="replace") as fh:
                    if ROOT in fh.read():
                        offenders.append(os.path.relpath(path, ROOT))
    assert offenders == []


def test_stage_results_record_elapsed_time():
    calls = {"n": 0}

    def flaky(ctx):
        calls["n"] += 1
        time.sleep(0.02)
        if calls["n"] < 2:
            raise RuntimeError("transient")
        return 1

    def broken(ctx):
        raise RuntimeError("down")

    results = PipelineRunner([
        Stage("flaky", flaky, retries=1, retry_delay_s=0.05),
        Stage("broken", broken, retries=0),
        Stage("after", lambda ctx: 1, depends_on=["broken"]),
    ]).run()
    flaky_r, broken_r, after_r = results
    # both attempts and the backoff between them count
    assert flaky_r.ok and flaky_r.elapsed_s >= 2 * 0.02 + 0.05
    assert not broken_r.ok and broken_r.elapsed_s < flaky_r.elapsed_s
    assert after_r.error == "upstream failed" and after_r.elapsed_s == 0.0
