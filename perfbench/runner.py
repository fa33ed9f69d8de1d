"""One benchmark run: set-up, the timed closed loop, output checks and
the metrics the run reports.

Load model: one closed-loop client in one process on local[<cores>].  A
pass runs the workload's ops once, in a seed-shuffled order; whole passes
repeat until `seconds` have elapsed.
A traced run alternates untraced and traced passes, so the tracing
overhead is measured in the same process.
"""

from __future__ import annotations

import json
import math
import os
import random
import shutil
import sys
import time
import traceback
from collections import Counter
from dataclasses import dataclass

from perfbench import host, procs
from perfbench.metrics import (
    COUNTERS, END_TO_END, RUN_LEVEL, SPANS, median, per_layer, percentile,
)
from perfbench.tracing import Span, StatusStore, Tracer

@dataclass
class Sample:
    name: str
    kind: str
    latency: float
    pass_no: int
    traced: bool
    failed: bool = False


class Context:
    """What a workload's ops see: the session, the tracer of the current
    pass, the run's seeded RNG and the record of ops attempted."""

    def __init__(self, spark, root: str, work: str, seed: int, cores: int, tracer: Tracer):
        self.spark = spark
        self.root = root
        self.work = work
        self.corpus = os.path.join(root, "perfbench", "corpus")
        self.seed = seed
        self.rng = random.Random(seed)
        self.cores = cores
        self.tracer = tracer
        self._off = Tracer()
        self.traced = False
        self.pass_no = 0
        self.samples: list[Sample] = []
        self.reasons: list[str] = []
        self.frame_signature = None
        self.oracles = None

    @property
    def spans(self) -> Tracer:
        return self.tracer if self.traced else self._off

    def op(self, name: str, kind: str, fn) -> tuple[Sample, object]:
        """Run and time one op; an exception marks it failed.  Returns the
        op's sample and what `fn` returned (None if it raised)."""
        t = time.perf_counter()
        try:
            value = fn()
        except Exception:
            traceback.print_exc(file=sys.stderr)
            sample = Sample(name, kind, math.nan, self.pass_no, self.traced, True)
            self.samples.append(sample)
            self.reasons.append(f"{name}: exception")
            return sample, None
        sample = Sample(name, kind, time.perf_counter() - t, self.pass_no, self.traced)
        self.samples.append(sample)
        return sample, value

    def fail(self, samples: list[Sample], reason: str) -> None:
        """Mark op executions failed: a check found their output wrong."""
        for s in samples:
            s.failed = True
        self.reasons.append(reason)
        print(f"CHECK FAILED {reason}", file=sys.stderr)


def failed_ops_frac(samples: list[Sample]) -> float:
    return sum(s.failed for s in samples) / max(len(samples), 1)


def _session(cores: int, work: str, trace: bool):
    from nyc_bikeshare_datawarehouse_spark.session import get_spark

    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    conf = {
        "spark.local.dir": tmp,
        "spark.driver.extraJavaOptions": f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData",
        "spark.ui.showConsoleProgress": "false",
    }
    if trace:
        # deferred span resolution needs every job of the run retained
        conf.update({"spark.ui.retainedJobs": "100000", "spark.ui.retainedStages": "100000"})
    return get_spark("perfbench", master=f"local[{cores}]", extra_conf=conf)


def _warm_up(spark) -> None:
    """One small shuffle job: the session's first job pays for starting
    the scheduler and loading its classes."""
    spark.range(100000).selectExpr("id % 7 AS k").groupBy("k").count().collect()


def _timed_phase(ctx: Context, wl, seconds: float, trace: bool):
    """Whole passes until `seconds` have elapsed and `wl.min_passes` have
    run, or until `wl.max_passes` have, where a workload sets it.  A
    traced run alternates untraced and traced passes and runs at
    least three, so that one traced pass has an untraced one after the
    first, which is the slowest while the JIT compiles.  Returns the wall
    times of complete passes, untraced and traced, without the first."""
    t0 = time.perf_counter()
    walls: dict[bool, list[float]] = {False: [], True: []}
    while True:
        ctx.traced = trace and ctx.pass_no % 2 == 1
        tp = time.perf_counter()
        if wl.run_pass(ctx) and ctx.pass_no > 0:
            walls[ctx.traced].append(time.perf_counter() - tp)
        ctx.pass_no += 1
        if ctx.pass_no >= getattr(wl, "max_passes", math.inf) and not trace:
            break
        if (time.perf_counter() - t0 >= seconds and ctx.pass_no >= wl.min_passes
                and (ctx.pass_no >= 3 or not trace)):
            break
    ctx.traced = False
    return walls


def typical_pass(samples: list[Sample]) -> list[float]:
    """One pass's op latencies, each op at its median over the timed phase
    and listed as often as a pass runs it.  Medians keep one slow
    execution (a GC pause, a noisy neighbour) from moving the result."""
    ok = [s for s in samples if not s.failed and s.pass_no >= 0]
    by_name: dict[str, list[float]] = {}
    for s in ok:
        by_name.setdefault(s.name, []).append(s.latency)
    per_pass = Counter(s.name for s in ok if s.pass_no == 0)
    return [median(by_name[n]) for n, k in per_pass.items() for _ in range(k)]


def _end_to_end(ctx: Context, setup_s: float) -> dict[str, float]:
    lat = typical_pass(ctx.samples)
    return {
        "setup_s": setup_s,
        "wall_s": sum(lat),
        "latency_p50_s": percentile(lat, 50),
        "latency_p90_s": percentile(lat, 90),
    }


def _span_metrics(spans: list[Span], traced_passes: int, cores: int) -> dict[str, float]:
    """Per-pass totals of every declared span's counters and extras."""
    run_level = {name for name, _, _ in RUN_LEVEL}
    out = {name: 0.0 for name, _, _ in per_layer() if name not in run_level}
    acc: dict[str, dict[str, list[float]]] = {}
    for sp in spans:
        a = acc.setdefault(sp.name, {})
        a.setdefault("self_s", []).append(sp.self_s)
        for k, v in sp.totals().items():
            a.setdefault(k, []).append(v)
        for k, v in sp.extras.items():
            a.setdefault("x." + k, []).append(v)
    for name, extras in SPANS.items():
        a = acc.get(name)
        if not a:
            continue
        per = 1 if name == "session.start" else max(traced_passes, 1)
        for k in COUNTERS:
            out[f"{name}.{k}"] = sum(a[k]) / per
        for x in extras:
            if x == "core_util":
                busy = sum(a["self_s"]) * cores
                val = sum(a["task_s"]) / busy if busy > 0 else 0.0
            elif x in ("input_bytes", "output_bytes"):
                val = sum(a[x]) / per
            elif x in ("bytes_written", "files_written"):
                val = sum(a.get("x." + x, [0.0])) / per
            else:  # per-call values: pairs_out, verify_yield, files_scanned_frac
                val = sum(a.get("x." + x, [0.0])) / max(len(a.get("x." + x, [])), 1)
            out[f"{name}.{x}"] = val
    return out


def _per_layer(ctx: Context, wl, walls, spans, rss_mb: float) -> dict[str, float]:
    out = _span_metrics(spans, len(walls[True]), ctx.cores)
    ok = [s for s in ctx.samples if not s.failed]

    def p50(kind):
        return median([s.latency for s in ok if s.kind == kind] or [0.0])

    out.update({
        "session.jvm_hwm_mb": rss_mb,
        "etl.etl_s": p50("etl"),
        "etl.commit_p50_s": p50("commit"),
        "etl.snapshot_read_p50_s": p50("read"),
        "etl.write_amp": 0.0,
        "etl.space_amp": 0.0,
        "run.failed_ops_frac": failed_ops_frac(ctx.samples),
        "trace.overhead_frac": (median(walls[True]) / median(walls[False]) - 1.0
                                if walls[True] and walls[False] else 0.0),
    })
    if hasattr(wl, "run_level"):
        out.update(wl.run_level())
    return out


def _print_table(title: str, rows: list[tuple[str, float, str]]) -> None:
    print(f"--- {title}")
    for name, value, unit in rows:
        print(f"{name:<52} {value:>16.6g} {unit}")


def run(workload: str, seed: int, seconds: int, trace: bool, root: str, t_start: float) -> dict:
    """Run one workload and return the result object the CLI prints."""
    from perfbench.workloads import WORKLOADS

    wl = WORKLOADS[workload]()  # imports the engine: fails fast without it
    cores = len(os.sched_getaffinity(0))
    work = os.path.join(root, "perfbench", ".work", f"{workload}-{seed}-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(work)
    os.environ["TMPDIR"] = os.path.join(work, "tmp")
    os.environ["SPARK_LOCAL_DIRS"] = os.environ["TMPDIR"]
    # the inputs are a few MB; a smaller heap than the engine's default
    # keeps the run's footprint small on a shared host
    os.environ["SPARK_GRAFT_DRIVER_MEM"] = "3g"
    spark = None
    try:
        spark = _session(cores, work, trace)
        sc = spark.sparkContext
        tracer = Tracer(sc, StatusStore(sc)) if trace else Tracer()
        ctx = Context(spark, root, work, seed, cores, tracer)
        session_s = time.perf_counter() - t_start

        t = time.perf_counter()
        with tracer.span("session.start", start=t_start):
            _warm_up(spark)
        warm_s = time.perf_counter() - t

        t = time.perf_counter()
        wl.build_inputs(ctx, os.path.join(work, "inputs"))
        inputs_s = time.perf_counter() - t
        setup_s = session_s + warm_s + inputs_s

        from perfbench.checks import OracleCache, load_check_module

        ctx.frame_signature = load_check_module(root).frame_signature
        ctx.oracles = OracleCache(
            os.path.join(root, "perfbench", ".cache", "oracles.json"),
            ctx.corpus, ctx.frame_signature,
        )
        t = time.perf_counter()
        early = wl.check_before(ctx) if hasattr(wl, "check_before") else {}
        check_s = time.perf_counter() - t

        # passes that let the JIT settle before the timed phase; their ops
        # are checked and counted like the others but not timed
        ctx.pass_no = -1
        for _ in range(getattr(wl, "warm_passes", 0)):
            wl.run_pass(ctx)
        ctx.pass_no = 0

        load_before, cpu_before = host.load1(), host.cpu_times()
        t_phase = time.perf_counter()
        walls = _timed_phase(ctx, wl, seconds, trace)
        phase_s = time.perf_counter() - t_phase
        ctx_host = {
            "load1_before": load_before,
            "load1_after": host.load1(),
            **host.cpu_fractions(cpu_before, host.cpu_times()),
        }
        rss_mb = host.peak_rss_mb(sc._gateway.proc.pid)
        tracer.resolve()

        t = time.perf_counter()
        for q, why in early.items():
            # the check ran once, outside the timed phase; every timed
            # execution of the query computes the same wrong result
            ctx.fail([s for s in ctx.samples if s.name == q], f"{q}: {why}")
        try:
            if hasattr(wl, "check"):
                wl.check(ctx)
        finally:
            ctx.oracles.close()
        check_s += time.perf_counter() - t

        if trace:
            metrics = _per_layer(ctx, wl, walls, tracer.spans, rss_mb)
            units = {n: u for n, u, _ in per_layer()}
        else:
            metrics = _end_to_end(ctx, setup_s)
            units = {n: u for n, u, _, _ in END_TO_END}
        if hasattr(wl, "cleanup"):
            wl.cleanup()
        failed = sum(s.failed for s in ctx.samples)
        detail = {
            "workload": workload, "seed": seed, "seconds": seconds, "trace": trace,
            "cores": cores, "phase_s": phase_s, "host": ctx_host, "jvm_hwm_mb": rss_mb,
            "setup": {"session_s": session_s, "warm_up_s": warm_s, "inputs_s": inputs_s},
            "check_s": check_s,
            "passes": {"untraced_s": walls[False], "traced_s": walls[True]},
            "samples": [s.__dict__ for s in ctx.samples],
            "failures": ctx.reasons,
            "spans": [
                {"name": s.name, "parent": s.parent.name if s.parent else None,
                 "duration_s": s.duration, "self_s": s.self_s, "jobs": s.job_ids,
                 **s.totals(), **s.extras}
                for s in tracer.spans
            ],
            "metrics": metrics,
        }
        out_dir = os.path.join(root, "perfbench", "out")
        os.makedirs(out_dir, exist_ok=True)
        with open(os.path.join(out_dir, f"{workload}-seed{seed}-trace{int(trace)}.json"), "w") as fh:
            json.dump(detail, fh, indent=1, default=str)

        print(f"host {json.dumps(ctx_host)}")
        print(f"ops {len(ctx.samples)} attempted, {failed} failed, "
              f"{ctx.pass_no} passes, timed phase {phase_s:.2f} s, checks {check_s:.2f} s")
        _print_table(
            "per-layer (per traced pass)" if trace else "end-to-end",
            [(n, v, units[n]) for n, v in metrics.items()],
        )
        return {
            "correct": failed == 0 and not ctx.reasons,
            "attempted": len(ctx.samples),
            "failed": failed,
            "metrics": {n: {"value": v, "unit": units[n]} for n, v in metrics.items()},
        }
    finally:
        try:
            if spark is not None:
                spark.stop()
        finally:
            procs.stop_gateway()
            shutil.rmtree(work, ignore_errors=True)
