"""Spans at the engine's layer boundaries, and the reduction of Spark's
event log to per-phase and per-span metrics. Used by traced runs only.

Every harness call of a phase runs under its own Spark job group
``pb|<phase>|<n>``; every span inside it (a runner call) under
``pb|<phase>|<n>|<k>``. Spark tags each stage with the group that was set
when its job was submitted, so the event log attributes every stage and
task to exactly one span or, failing that, to the call itself.

``truncate_lazy`` runs no job: the work it defers executes in whichever
job later materializes the result (the kernel's final ``count`` or the
harness's ``toPandas``). Those jobs carry the call's own group, so the
deferred chain is booked to the call, not to the lazy-cut spans, whose
wall time covers only plan construction.
"""

from __future__ import annotations

import json
import os
import statistics
import time
from contextlib import contextmanager
from dataclasses import dataclass, field
from typing import Callable, Optional

from pyspark.sql import DataFrame, SparkSession

from combblas_spark.plans.superstep import SuperstepRunner

SEP = "|"


@dataclass
class Span:
    name: str
    phase: str
    group: str
    start: float
    end: float = 0.0
    iteration: Optional[int] = None
    parent: Optional[str] = None
    job_ids: list = field(default_factory=list)
    bytes: int = 0  # checkpoint bytes written (save) or read back (resume)
    result: object = None

    @property
    def wall(self) -> float:
        return self.end - self.start


class Tracer:
    """Keeps spans in memory; the harness reads them after the run."""

    def __init__(self, spark: SparkSession):
        self.sc = spark.sparkContext
        self.spans: list[Span] = []
        self._call: Optional[Span] = None
        self._calls = 0

    def _jobs(self, group: str) -> list:
        return sorted(self.sc.statusTracker().getJobIdsForGroup(group))

    @contextmanager
    def call(self, phase: str):
        self._calls += 1
        span = Span("call", phase, f"pb{SEP}{phase}{SEP}{self._calls}", time.time())
        self._call = span
        self.sc.setJobGroup(span.group, phase)
        try:
            yield span
        finally:
            span.end = time.time()
            span.job_ids = self._jobs(span.group)
            self.spans.append(span)
            self._call = None
            self.sc.setLocalProperty("spark.jobGroup.id", None)

    def span(self, name: str, fn: Callable, iteration: Optional[int] = None) -> Span:
        """Runs ``fn`` under its own job group; returns the recorded span
        with ``fn``'s result in ``span.result``."""
        parent = self._call
        phase = parent.phase if parent else "none"
        base = parent.group if parent else f"pb{SEP}none{SEP}0"
        span = Span(name, phase, f"{base}{SEP}{len(self.spans)}", time.time(),
                    iteration=iteration, parent=parent.group if parent else None)
        self.sc.setJobGroup(span.group, name)
        try:
            span.result = fn()
            return span
        finally:
            span.end = time.time()
            span.job_ids = self._jobs(span.group)
            self.spans.append(span)
            if parent is not None:
                self.sc.setJobGroup(parent.group, parent.phase)
            else:
                self.sc.setLocalProperty("spark.jobGroup.id", None)


class TracedRunner(SuperstepRunner):
    """SuperstepRunner that records a span per truncate / truncate_agg /
    truncate_lazy / save / resume call. Cut spans carry the cut's ordinal
    as ``iteration`` (0 = the initial state), saves the saved iteration."""

    def __init__(self, spark, tracer: Tracer, checkpoint_dir=None, every=1):
        super().__init__(spark, checkpoint_dir, every)
        self.tracer = tracer
        self.cuts = 0

    def _cut_span(self, name: str, fn: Callable):
        self.cuts += 1
        return self.tracer.span(name, fn, iteration=self.cuts - 1).result

    def truncate(self, df: DataFrame) -> DataFrame:
        return self._cut_span("truncate", lambda: SuperstepRunner.truncate(self, df))

    def truncate_lazy(self, df: DataFrame) -> DataFrame:
        return self._cut_span(
            "truncate_lazy", lambda: SuperstepRunner.truncate_lazy(self, df)
        )

    def truncate_agg(self, df: DataFrame, *aggs):
        return self._cut_span(
            "truncate_agg", lambda: SuperstepRunner.truncate_agg(self, df, *aggs)
        )

    def save(self, iteration: int, states: dict, metrics: dict) -> None:
        if self.dir is None or iteration % self.every:
            return  # nothing is written
        span = self.tracer.span(
            "save",
            lambda: SuperstepRunner.save(self, iteration, states, metrics),
            iteration=iteration,
        )
        span.bytes = du(self._iter_dir(iteration))

    def resume(self):
        span = self.tracer.span("resume", lambda: SuperstepRunner.resume(self))
        if span.result is not None:
            span.iteration = span.result[0]
            span.bytes = du(self._iter_dir(span.iteration))
        return span.result


def du(path: str) -> int:
    """Bytes of the regular files under ``path``."""
    return sum(
        os.path.getsize(os.path.join(d, f)) for d, _, files in os.walk(path) for f in files
    )


# -- event log ----------------------------------------------------------------

# metric name -> (scale, paths into "Task Metrics" that are summed)
_TASK_SUMS = {
    "executor_run_s": (1e-3, [("Executor Run Time",)]),
    "executor_cpu_s": (1e-9, [("Executor CPU Time",)]),
    "gc_s": (1e-3, [("JVM GC Time",)]),
    # one local executor reads back exactly what it wrote, so the written
    # bytes stand for both sides of the shuffle
    "shuffle_write_bytes": (1, [("Shuffle Write Metrics", "Shuffle Bytes Written")]),
}


def _metric(tm: dict, scale: float, paths: list) -> float:
    total = 0.0
    for path in paths:
        v = tm
        for k in path:
            v = v.get(k, 0) if isinstance(v, dict) else 0
        total += float(v or 0)
    return total * scale


@dataclass
class Stage:
    group: str
    submitted: int = 0
    completed: int = 0
    task_ms: list = field(default_factory=list)
    sums: dict = field(default_factory=dict)
    peak_heap: int = 0  # bytes of JVM heap in use, peak while the stage ran


def _event_files(log_dir: str) -> list[list[str]]:
    """Plain event-log files, or the parts of rolling ``eventlog_v2_*``
    directories, in application order."""
    out = []
    for name in sorted(os.listdir(log_dir)):
        path = os.path.join(log_dir, name)
        if os.path.isdir(path):
            parts = [p for p in os.listdir(path) if p.startswith("events_")]
            parts.sort(key=lambda p: int(p.split("_")[1]))
            out.append([os.path.join(path, p) for p in parts])
        else:
            out.append([path])
    return out


def read_stages(log_dir: str) -> list[Stage]:
    """Every completed stage in the log directory, tagged with its job
    group and carrying its tasks' durations and summed metrics."""
    stages: list[Stage] = []
    for app in _event_files(log_dir):
        live: dict = {}
        for path in app:
            with open(path) as f:
                for line in f:
                    ev = json.loads(line)
                    kind = ev.get("Event")
                    if kind == "SparkListenerStageSubmitted":
                        info = ev["Stage Info"]
                        group = (ev.get("Properties") or {}).get("spark.jobGroup.id") or ""
                        live[(info["Stage ID"], info["Stage Attempt ID"])] = Stage(
                            group, sums={k: 0.0 for k in _TASK_SUMS}
                        )
                    elif kind == "SparkListenerTaskEnd":
                        st = live.get((ev["Stage ID"], ev["Stage Attempt ID"]))
                        if st is None:
                            continue
                        ti = ev.get("Task Info") or {}
                        st.task_ms.append(ti.get("Finish Time", 0) - ti.get("Launch Time", 0))
                        tm = ev.get("Task Metrics") or {}
                        for k, (scale, paths) in _TASK_SUMS.items():
                            st.sums[k] += _metric(tm, scale, paths)
                    elif kind == "SparkListenerStageExecutorMetrics":
                        st = live.get((ev["Stage ID"], ev["Stage Attempt ID"]))
                        if st is not None:
                            heap = (ev.get("Executor Metrics") or {}).get("JVMHeapMemory", 0)
                            st.peak_heap = max(st.peak_heap, heap)
                    elif kind == "SparkListenerStageCompleted":
                        info = ev["Stage Info"]
                        st = live.get((info["Stage ID"], info["Stage Attempt ID"]))
                        if st is not None:
                            st.submitted = info.get("Submission Time", 0)
                            st.completed = info.get("Completion Time", 0)
                            stages.append(st)
    return stages


def rollup(stages: list[Stage]) -> dict:
    """Counts and sums over a set of stages; ``task_skew`` is max/median
    task time in the longest of them."""
    out = {"stages": len(stages), "tasks": sum(len(s.task_ms) for s in stages)}
    for k in _TASK_SUMS:
        out[k] = sum(s.sums[k] for s in stages)
    out["peak_heap_mb"] = max((s.peak_heap for s in stages), default=0) / 2**20
    longest = max(stages, key=lambda s: s.completed - s.submitted, default=None)
    if longest is not None and longest.task_ms:
        med = statistics.median(longest.task_ms)
        out["task_skew"] = max(longest.task_ms) / med if med > 0 else 1.0
    else:
        out["task_skew"] = 1.0
    return out


def phase_of(group: str) -> str:
    parts = group.split(SEP)
    return parts[1] if len(parts) > 1 and parts[0] == "pb" else ""
