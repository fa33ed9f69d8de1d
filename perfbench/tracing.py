"""Per-layer spans read from Spark's in-process status store.

A span times one call into an engine layer and runs it under a fresh
Spark job group, so the jobs it triggered can be found afterwards in the
status store that the (disabled) web UI would read.  Spans are kept in
memory; `Tracer.resolve` reads the store once, after the traced phase, so
no store reads land inside a timed call.
"""

from __future__ import annotations

import itertools
import time
from contextlib import contextmanager
from dataclasses import dataclass, field

from py4j.protocol import Py4JJavaError

GROUP_KEY = "spark.jobGroup.id"


@dataclass
class StageMetrics:
    """One stage attempt's totals as the status store reports them."""

    stage_id: int
    task_s: float
    cpu_s: float
    input_bytes: int
    output_bytes: int
    shuffle_bytes: int
    start_ms: int | None
    end_ms: int | None


@dataclass
class Span:
    name: str
    group: str
    start: float
    end: float = 0.0
    parent: Span | None = None
    children: list[Span] = field(default_factory=list)
    job_ids: list[int] = field(default_factory=list)
    stages: list[StageMetrics] = field(default_factory=list)
    extras: dict[str, float] = field(default_factory=dict)
    #: split the stages that read files into a derived child span
    split_scan: bool = False

    @property
    def duration(self) -> float:
        return self.end - self.start

    @property
    def self_s(self) -> float:
        """Duration minus the time covered by child spans."""
        return self.duration - sum(c.duration for c in self.children)

    def totals(self) -> dict[str, float]:
        return {
            "jobs": len(self.job_ids),
            "task_s": sum(s.task_s for s in self.stages),
            "cpu_s": sum(s.cpu_s for s in self.stages),
            "shuffle_bytes": sum(s.shuffle_bytes for s in self.stages),
            "input_bytes": sum(s.input_bytes for s in self.stages),
            "output_bytes": sum(s.output_bytes for s in self.stages),
        }


def interval_union_s(intervals: list[tuple[int, int]]) -> float:
    """Length in seconds of the union of [start_ms, end_ms] intervals
    (concurrent stages must not be counted twice)."""
    total = 0
    cur_start = cur_end = None
    for start, end in sorted(intervals):
        if cur_end is None or start > cur_end:
            if cur_end is not None:
                total += cur_end - cur_start
            cur_start, cur_end = start, end
        else:
            cur_end = max(cur_end, end)
    if cur_end is not None:
        total += cur_end - cur_start
    return total / 1000.0


class StatusStore:
    """Reads job and stage metrics from the SparkContext's AppStatusStore."""

    def __init__(self, sc):
        self._sc = sc
        self._jsc = sc._jsc.sc()
        self._store = self._jsc.statusStore()
        self._no_tasks = sc._jvm.java.util.ArrayList()
        self._no_quantiles = sc._gateway.new_array(sc._jvm.double, 0)

    def drain(self) -> None:
        """Wait until the listener bus has delivered every event, so the
        store reflects all jobs that have finished."""
        self._jsc.listenerBus().waitUntilEmpty()

    def job_ids(self, group: str) -> list[int]:
        return sorted(self._sc.statusTracker().getJobIdsForGroup(group))

    def stage_ids(self, job_id: int) -> list[int]:
        seq = self._store.job(job_id).stageIds()
        return [seq.apply(i) for i in range(seq.length())]

    def stage(self, stage_id: int) -> list[StageMetrics]:
        try:
            seq = self._store.stageData(
                stage_id, False, self._no_tasks, False, self._no_quantiles
            )
        except Py4JJavaError:  # evicted from the store: nothing to charge
            return []
        out = []
        for i in range(seq.length()):
            sd = seq.apply(i)
            sub, done = sd.submissionTime(), sd.completionTime()
            out.append(StageMetrics(
                stage_id=stage_id,
                task_s=sd.executorRunTime() / 1e3,
                cpu_s=sd.executorCpuTime() / 1e9,
                input_bytes=sd.inputBytes(),
                output_bytes=sd.outputBytes(),
                shuffle_bytes=sd.shuffleReadBytes() + sd.shuffleWriteBytes(),
                start_ms=sub.get().getTime() if sub.isDefined() else None,
                end_ms=done.get().getTime() if done.isDefined() else None,
            ))
        return out


class Tracer:
    """Records spans around engine calls.  Disabled (`store=None`), every
    `span` is a no-op that yields None, so untraced runs pay nothing."""

    def __init__(self, sc=None, store: StatusStore | None = None):
        self._sc = sc
        self._store = store
        self._ids = itertools.count()
        self._stack: list[Span] = []
        self.spans: list[Span] = []

    @property
    def enabled(self) -> bool:
        return self._store is not None

    @contextmanager
    def span(self, name: str, split_scan: bool = False, start: float | None = None):
        """Time the body as span `name`, under a fresh job group; `start`
        backdates the span (perf_counter seconds)."""
        if not self.enabled:
            yield None
            return
        # a fresh group per call: getJobIdsForGroup accumulates across
        # reuses of one name
        group = f"perfbench-{next(self._ids)}"
        parent = self._stack[-1] if self._stack else None
        sp = Span(name, group, time.perf_counter() if start is None else start,
                  parent=parent, split_scan=split_scan)
        if parent is not None:
            parent.children.append(sp)
        self._stack.append(sp)
        self._sc.setLocalProperty(GROUP_KEY, group)
        try:
            yield sp
        finally:
            sp.end = time.perf_counter()
            self._stack.pop()
            self._sc.setLocalProperty(GROUP_KEY, parent.group if parent else None)
            self.spans.append(sp)

    def resolve(self) -> None:
        """Attach jobs and stage metrics to every recorded span.

        A shuffle stage reused by a later job shows up in that job's
        stage list too; each stage is charged once, to the span owning
        the lowest-numbered job that lists it (the job that ran it)."""
        if not self.enabled:
            return
        self._store.drain()
        stages_of: dict[int, list[int]] = {}
        for sp in self.spans:
            sp.job_ids = self._store.job_ids(sp.group)
            for j in sp.job_ids:
                stages_of[j] = self._store.stage_ids(j)
        owner: dict[int, int] = {}
        for j in sorted(stages_of):
            for s in stages_of[j]:
                owner.setdefault(s, j)
        for sp in list(self.spans):
            mine = set(sp.job_ids)
            for s in sorted({s for j in sp.job_ids for s in stages_of[j]}):
                if owner[s] in mine:
                    sp.stages.extend(self._store.stage(s))
            if sp.split_scan:
                self._split_scan(sp, stages_of)

    def _split_scan(self, sp: Span, stages_of: dict[int, list[int]]) -> None:
        """Move the stages that read files into a derived child span
        `sources.readers.scan`, timed by the union of their intervals."""
        scans = [s for s in sp.stages if s.input_bytes > 0]
        if not scans:
            return
        child = Span("sources.readers.scan", sp.group, sp.start, parent=sp)
        child.stages = scans
        scan_ids = {s.stage_id for s in scans}
        child.job_ids = [j for j in sp.job_ids if scan_ids & set(stages_of[j])]
        child.end = child.start + min(sp.duration, interval_union_s(
            [(s.start_ms, s.end_ms) for s in scans
             if s.start_ms is not None and s.end_ms is not None]
        ))
        sp.stages = [s for s in sp.stages if s.input_bytes == 0]
        sp.children.append(child)
        self.spans.append(child)
