"""Thin pipeline runner — the reference's Airflow DAG surface (SURVEY
§3.2) as dependency-ordered plain Python.

The reference orchestrated download → upload → EMR spark-submit →
Redshift DDL → per-table COPY → quality checks with Airflow (retries=1,
5-minute delay, etl_dag.py:104-105, 286-293). In this engine the compute
is one lazy Spark program, so orchestration collapses to: run stages in
topological order, retry transient failures with backoff, stop the run
when a gate stage fails. That contract — and nothing more — lives here;
real deployments wanting cron/backfill UI can wrap these stages in any
scheduler without changing the engine.
"""

from __future__ import annotations

import time
from collections.abc import Callable
from dataclasses import dataclass, field


@dataclass
class Stage:
    name: str
    fn: Callable[[dict], object]          # receives the shared context dict
    depends_on: list[str] = field(default_factory=list)
    retries: int = 1                       # reference default (etl_dag.py:104)
    retry_delay_s: float = 1.0             # reference used 300s; keep injectable
    is_gate: bool = False                  # gate stages abort the run on falsy result


@dataclass
class StageResult:
    name: str
    ok: bool
    attempts: int
    error: str | None = None
    output: object = None
    elapsed_s: float = 0.0                 # all attempts and retry delays; 0 if skipped


class PipelineRunner:
    """Sequential topological runner with per-stage retry and gate
    semantics. Deterministic order: stages run in dependency order,
    ties broken by declaration order."""

    def __init__(self, stages: list[Stage]):
        self._stages = stages
        self._validate()

    def _validate(self) -> None:
        names = [s.name for s in self._stages]
        if len(set(names)) != len(names):
            raise ValueError("duplicate stage names")
        known = set(names)
        for s in self._stages:
            missing = set(s.depends_on) - known
            if missing:
                raise ValueError(f"stage {s.name} depends on unknown: {sorted(missing)}")

    def _ordered(self) -> list[Stage]:
        done: list[Stage] = []
        remaining = list(self._stages)
        while remaining:
            progressed = False
            for s in list(remaining):
                if all(d in {x.name for x in done} for d in s.depends_on):
                    done.append(s)
                    remaining.remove(s)
                    progressed = True
            if not progressed:
                raise ValueError(f"dependency cycle among: {[s.name for s in remaining]}")
        return done

    def run(self, context: dict | None = None) -> list[StageResult]:
        ctx = context if context is not None else {}
        results: list[StageResult] = []
        failed_or_skipped: set[str] = set()
        for stage in self._ordered():
            if failed_or_skipped & set(stage.depends_on):
                results.append(StageResult(stage.name, False, 0, error="upstream failed"))
                failed_or_skipped.add(stage.name)
                continue
            attempts, err, out = 0, None, None
            t0 = time.perf_counter()
            for attempt in range(stage.retries + 1):
                attempts = attempt + 1
                try:
                    out = stage.fn(ctx)
                    err = None
                    break
                except Exception as e:  # noqa: BLE001 — stage errors are data here
                    err = f"{type(e).__name__}: {e}"
                    if attempt < stage.retries:
                        time.sleep(stage.retry_delay_s)
            ok = err is None and (bool(out) if stage.is_gate else True)
            if err is None and stage.is_gate and not ok:
                err = "gate returned falsy"
            results.append(StageResult(
                stage.name, ok, attempts, error=err, output=out,
                elapsed_s=time.perf_counter() - t0,
            ))
            if not ok:
                failed_or_skipped.add(stage.name)
            else:
                ctx[stage.name] = out
        return results
