"""Spans and Spark counters for the traced run, read from outside the engine.

A span wraps one public engine call made by the benchmark; the call's output
is forced before the span closes.  Each span runs its jobs under a Spark job
group of its own, so after the op the jobs, stages, tasks, executor time,
GC and shuffle bytes of the span come from ``statusTracker`` and the status
store.  Codegen counts come from ``CodegenMetrics`` and
``CodeGenerator.compileTime``.  Spans stay in memory until ``dump``.
"""

from __future__ import annotations

import json
import time
from contextlib import contextmanager
from dataclasses import asdict, dataclass, field


@dataclass
class Span:
    id: int
    name: str
    parent: int | None
    op: int
    start: float  # epoch seconds, comparable with Spark's stage timestamps
    end: float = 0.0
    group: str = ""
    compiles: int = 0
    compile_s: float = 0.0
    counts: dict = field(default_factory=dict)
    stages: list = field(default_factory=list)  # per-stage counter dicts


class CountingDecode:
    """A scene decode function that counts the files it decodes and their
    bytes in Spark accumulators, where the decode runs: on the executors."""

    def __init__(self, sc, fn):
        self.fn = fn
        self.files = sc.accumulator(0)
        self.bytes = sc.accumulator(0)

    def __call__(self, name, payload, variables):
        self.files.add(1)
        self.bytes.add(len(payload))
        return self.fn(name, payload, variables)


class Tracer:
    def __init__(self, spark):
        self.sc = spark.sparkContext
        jvm = self.sc._jvm
        self._codegen = jvm.org.apache.spark.sql.catalyst.expressions.codegen.CodeGenerator
        self._compiles = jvm.org.apache.spark.metrics.source.CodegenMetrics.METRIC_COMPILATION_TIME()
        self._jsc = self.sc._jsc.sc()
        self._empty = jvm.java.util.Collections.emptyList()
        self._no_quantiles = self.sc._gateway.new_array(jvm.double, 0)
        self.spans: list[Span] = []
        self._stack: list[Span] = []

    def _codegen_now(self) -> tuple[int, float]:
        return self._compiles.getCount(), self._codegen.compileTime() / 1e9

    @contextmanager
    def span(self, name: str, op: int):
        parent = self._stack[-1] if self._stack else None
        s = Span(len(self.spans), name, parent.id if parent else None, op, time.time())
        s.group = f"scenebench-span-{s.id}"
        self.spans.append(s)
        self._stack.append(s)
        self.sc.setJobGroup(s.group, name)
        c0, t0 = self._codegen_now()
        try:
            yield s
        finally:
            c1, t1 = self._codegen_now()
            s.end = time.time()
            s.compiles, s.compile_s = c1 - c0, t1 - t0
            self._stack.pop()
            if parent is not None:
                self.sc.setJobGroup(parent.group, parent.name)
            else:
                self.sc.setLocalProperty("spark.jobGroup.id", None)
                self.sc.setLocalProperty("spark.job.description", None)

    def collect(self, op: int) -> None:
        """Attach the stage counters of every span of ``op`` (after the op,
        outside its timed region)."""
        self._jsc.listenerBus().waitUntilEmpty()
        tracker = self.sc.statusTracker()
        store = self._jsc.statusStore()
        for s in self.spans:
            if s.op != op:
                continue
            for job in tracker.getJobIdsForGroup(s.group):
                info = tracker.getJobInfo(job)
                s.counts["jobs"] = s.counts.get("jobs", 0) + 1
                for sid in info.stageIds if info else []:
                    it = store.stageData(sid, False, self._empty, False, self._no_quantiles).iterator()
                    while it.hasNext():
                        d = it.next()
                        sub, comp = d.submissionTime(), d.completionTime()
                        if not sub.isDefined():
                            continue  # skipped: its shuffle output was reused
                        s.stages.append({
                            "stage": sid,
                            "start": sub.get().getTime() / 1e3,
                            "end": comp.get().getTime() / 1e3 if comp.isDefined() else s.end,
                            "tasks": d.numTasks(),
                            "failed_tasks": d.numFailedTasks(),
                            "run_s": d.executorRunTime() / 1e3,
                            "cpu_s": d.executorCpuTime() / 1e9,
                            "gc_s": d.jvmGcTime() / 1e3,
                            "shuffle_write_mb": d.shuffleWriteBytes() / 1e6,
                            "shuffle_read_mb": d.shuffleReadBytes() / 1e6,
                        })

    def dump(self, path: str) -> None:
        with open(path, "w") as f:
            json.dump([asdict(s) for s in self.spans], f)


def self_time(spans: list[Span], s: Span) -> float:
    """Span duration minus the part its child spans cover."""
    kids = sum(c.end - c.start for c in spans if c.parent == s.id)
    return (s.end - s.start) - kids


def _covered(intervals: list[tuple[float, float]], lo: float, hi: float) -> float:
    """Length of the union of ``intervals`` clipped to [lo, hi]."""
    total, cur_lo, cur_hi = 0.0, None, None
    for a, b in sorted((max(a, lo), min(b, hi)) for a, b in intervals):
        if b <= a:
            continue
        if cur_hi is None or a > cur_hi:
            if cur_hi is not None:
                total += cur_hi - cur_lo
            cur_lo, cur_hi = a, b
        else:
            cur_hi = max(cur_hi, b)
    if cur_hi is not None:
        total += cur_hi - cur_lo
    return total


def session_metrics(spans: list[Span], op_span: Span, cores: int) -> dict:
    """The ``session.*`` counters of one op: every span below ``op_span``."""
    ids = {op_span.id}
    for s in spans:  # spans are appended parent-first
        if s.parent in ids:
            ids.add(s.id)
    mine = [s for s in spans if s.id in ids]
    stages = [st for s in mine for st in s.stages]
    wall = op_span.end - op_span.start
    cpu = sum(st["cpu_s"] for st in stages)
    busy = _covered([(st["start"], st["end"]) for st in stages], op_span.start, op_span.end)
    return {
        "session.jobs": sum(s.counts.get("jobs", 0) for s in mine),
        "session.stages": len(stages),
        "session.tasks": sum(st["tasks"] for st in stages),
        "session.failed_tasks": sum(st["failed_tasks"] for st in stages),
        "session.executor_run_s": sum(st["run_s"] for st in stages),
        "session.executor_cpu_s": cpu,
        "session.cpu_util": cpu / (wall * cores) if wall > 0 else 0.0,
        "session.no_stage_s": wall - busy,
        "session.gc_s": sum(st["gc_s"] for st in stages),
        "session.shuffle_write_mb": sum(st["shuffle_write_mb"] for st in stages),
        "session.shuffle_read_mb": sum(st["shuffle_read_mb"] for st in stages),
        "session.codegen_compiles": op_span.compiles,
        "session.codegen_s": op_span.compile_s,
    }
