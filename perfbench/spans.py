"""Span collector with Spark counters read from outside the program.

A span wraps one of the benchmark's own calls into a layer of the engine.
Spark jobs are attributed to a span by job id: the DAG scheduler numbers
jobs in submission order, and the benchmark runs one operation at a time,
so the jobs of a span are exactly the ids handed out between its start and
its end.  That also catches jobs a streaming drain launches from its own
threads, which a job group would miss.  Stage metrics are read from the
status store when each span ends -- the store keeps only the last ~1000
jobs and stages -- and need no Spark UI.
"""

from __future__ import annotations

from collections import defaultdict
from contextlib import contextmanager
from dataclasses import dataclass, field
from time import perf_counter

from py4j.protocol import Py4JJavaError

MB = 1024 * 1024
COUNTERS = ("jobs", "stages", "tasks", "executor_run_s", "input_mb",
            "output_mb", "shuffle_write_mb", "spill_mb")


@dataclass
class Span:
    layer: str          # "<module>.<call>", e.g. "sources.writers.write_silver"
    phase: str          # construct | plan | execute | op | call
    trace_id: int       # one per operation: a pipeline run, serving or suite query
    span_id: int
    parent_id: int | None
    start: float
    end: float = 0.0
    counters: dict = field(default_factory=dict)

    @property
    def seconds(self) -> float:
        return self.end - self.start

    def as_dict(self) -> dict:
        return {"layer": self.layer, "phase": self.phase, "trace": self.trace_id,
                "span": self.span_id, "parent": self.parent_id,
                "start": self.start, "end": self.end, **self.counters}


class Tracer:
    """Keeps spans in memory; :meth:`dump` writes them out at the end."""

    def __init__(self, spark):
        sc = spark.sparkContext
        self._sc = sc._jsc.sc()
        self._jobs = sc.statusTracker()
        self._store = self._sc.statusStore()
        self.spans: list[Span] = []
        self._stack: list[Span] = []
        self._next_trace = 0
        self._next_span = 0
        self.bookkeeping_s = 0.0

    def _job_cursor(self) -> int:
        return self._sc.dagScheduler().nextJobId()

    @contextmanager
    def operation(self, layer: str):
        """Root span of one operation; its children share its trace id."""
        self._next_trace += 1
        with self.span(layer, "op") as s:
            yield s

    @contextmanager
    def span(self, layer: str, phase: str):
        t0 = perf_counter()
        parent = self._stack[-1] if self._stack else None
        first_job = self._job_cursor()
        self._next_span += 1
        s = Span(layer, phase, self._next_trace, self._next_span,
                 parent.span_id if parent else None, 0.0)
        self._stack.append(s)
        self.bookkeeping_s += perf_counter() - t0
        s.start = perf_counter()
        try:
            yield s
        finally:
            s.end = perf_counter()
            self._stack.pop()
            s.counters = self._counters(first_job, self._job_cursor())
            self.spans.append(s)
            self.bookkeeping_s += perf_counter() - s.end

    def _counters(self, first_job: int, end_job: int) -> dict:
        # job-end events reach the status store through the listener bus
        self._sc.listenerBus().waitUntilEmpty()
        c = dict.fromkeys(COUNTERS, 0)
        c["jobs"] = end_job - first_job
        stages = set()
        for job in range(first_job, end_job):
            info = self._jobs.getJobInfo(job)
            if info is not None:
                stages.update(info.stageIds)
        for stage in sorted(stages):
            try:
                d = self._store.lastStageAttempt(stage)
            except Py4JJavaError:  # a stage that was never submitted
                continue
            if d.status().toString() != "COMPLETE":
                continue
            c["stages"] += 1
            c["tasks"] += d.numCompleteTasks()
            c["executor_run_s"] += d.executorRunTime() / 1000
            c["input_mb"] += d.inputBytes() / MB
            c["output_mb"] += d.outputBytes() / MB
            c["shuffle_write_mb"] += d.shuffleWriteBytes() / MB
            c["spill_mb"] += d.diskBytesSpilled() / MB
        return c

    def dump(self, path: str) -> None:
        import json

        with open(path, "w") as f:
            for s in self.spans:
                f.write(json.dumps(s.as_dict()) + "\n")


def plan(df) -> None:
    """Force physical planning of ``df`` (analysis, optimisation, planning)."""
    df._jdf.queryExecution().executedPlan()


def op_totals(spans: list[Span], trace_ids: list[int]) -> list[dict[str, float]]:
    """Per operation, the sums over its child spans, keyed

    ``<layer>.<phase>_s`` (``<layer>.s`` for a plain call), ``<layer>.<counter>``
    over all phases and ``<layer>.<phase>_<counter>``; plus ``op_s``, the
    operation's wall time, and ``gap_s``, the part no child span covers.
    """
    by_trace = defaultdict(list)
    for s in spans:
        by_trace[s.trace_id].append(s)
    out = []
    for tid in trace_ids:
        members = by_trace[tid]
        root = next(s for s in members if s.parent_id is None)
        d = defaultdict(float)
        for s in members:
            if s is root:
                continue
            d[f"{s.layer}.s" if s.phase == "call" else f"{s.layer}.{s.phase}_s"] += s.seconds
            for k, v in s.counters.items():
                d[f"{s.layer}.{k}"] += v
                d[f"{s.layer}.{s.phase}_{k}"] += v
        d["op_s"] = root.seconds
        d["gap_s"] = self_seconds(members)[root.span_id]
        out.append(d)
    return out


def self_seconds(spans: list[Span]) -> dict[int, float]:
    """Per span id: its duration minus the part its children cover."""
    child = defaultdict(float)
    for s in spans:
        if s.parent_id is not None:
            child[s.parent_id] += s.seconds
    return {s.span_id: s.seconds - child[s.span_id] for s in spans}
