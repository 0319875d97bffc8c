"""Spans around the benchmark's calls into the engine's layers, with the
Spark work each span launched.

A span is opened by the benchmark, never by the engine: the engine's
code is measured unchanged. In a traced run every span sets a Spark job
group; after the measured phase the tracer reads the jobs, stages and
tasks of each group from Spark's status store (populated with
``spark.ui.enabled=false`` too) and turns them into counters. Spans stay
in memory until then, so the measured phase pays only ``setJobGroup``.

Streaming micro-batches cannot be wrapped from outside: Spark itself
runs each batch's jobs under the query's ``runId`` job group with
``batch = N`` in the job description, so :meth:`Tracer.add_batch`
records those spans after the fact from the query progress.

In an untraced run spans are still recorded, but they touch Spark not
at all.
"""

from __future__ import annotations

import json
import re
import statistics
import time
from contextlib import contextmanager
from dataclasses import dataclass, field

SPAN_COUNTERS = (
    "wall_s",
    "jobs",
    "stages",
    "tasks",
    "shuffle_write_bytes",
    "spill_bytes",
    "exec_run_s",
    "driver_gap_s",
)

_BATCH_RE = re.compile(r"batch = (\d+)")


@dataclass
class Span:
    name: str
    start: float  # epoch seconds
    end: float
    run_id: str
    parent: str | None = None
    group: str | None = None  # Spark job group holding this span's jobs
    batch: int | None = None  # streaming batch id within ``group``
    counters: dict = field(default_factory=dict)

    @property
    def wall_s(self) -> float:
        return self.end - self.start


class Tracer:
    """Records spans; ``enabled`` decides whether Spark work is attributed."""

    def __init__(self, spark, run_id: str, enabled: bool):
        self.spark = spark
        self.run_id = run_id
        self.enabled = enabled
        self.spans: list[Span] = []
        self.overhead_s = 0.0
        self._stack: list[str] = []

    @contextmanager
    def span(self, name: str, jobs: bool = True):
        """Time the body as a span, child of the enclosing span. With
        ``jobs`` (a leaf span around one call into a layer) a traced run
        tags the body's Spark jobs with the span's own job group."""
        sc = self.spark.sparkContext
        group = None
        if self.enabled and jobs:
            t = time.perf_counter()
            group = f"{self.run_id}/{len(self.spans)}/{name}"
            sc.setJobGroup(group, name)
            self.overhead_s += time.perf_counter() - t
        parent = self._stack[-1] if self._stack else None
        self._stack.append(name)
        start = time.time()
        try:
            yield
        finally:
            end = time.time()
            self._stack.pop()
            if group is not None:
                t = time.perf_counter()
                sc.setLocalProperty("spark.jobGroup.id", None)
                sc.setLocalProperty("spark.job.description", None)
                self.overhead_s += time.perf_counter() - t
            self.spans.append(Span(name, start, end, self.run_id, parent, group))

    def add_batch(self, name: str, start: float, end: float, group: str, batch: int, parent: str) -> None:
        self.spans.append(Span(name, start, end, self.run_id, parent, group, batch))

    def attribute(self, skew_for: set[str] = frozenset()) -> None:
        """Fill every span's counters from the status store. Spans named
        in ``skew_for`` also get ``fetch_wait_s`` and ``task_skew``."""
        if not self.enabled:
            return
        t = time.perf_counter()
        store = _StatusStore(self.spark)
        for span in self.spans:
            if span.group is None:  # a phase: its children carry the work
                span.counters = {"wall_s": span.wall_s}
                continue
            jobs = store.jobs(span.group, span.batch)
            span.counters = _span_counters(span, jobs, store, span.name in skew_for)
        self.overhead_s += time.perf_counter() - t

    def dump(self) -> list[dict]:
        return [
            {
                "name": s.name,
                "start": s.start,
                "end": s.end,
                "parent": s.parent,
                "run_id": s.run_id,
                "batch": s.batch,
                **s.counters,
            }
            for s in self.spans
        ]


class _StatusStore:
    """Jobs and stages of the live application, read once as JSON
    (one py4j call each instead of one per field)."""

    def __init__(self, spark):
        sc = spark.sparkContext
        jsc, jvm = sc._jsc.sc(), sc._jvm
        # the status listener is fed asynchronously: drain it first
        jsc.listenerBus().waitUntilEmpty()
        self._store = jsc.statusStore()
        self._mapper = jvm.com.fasterxml.jackson.databind.ObjectMapper()
        self._mapper.registerModule(jvm.com.fasterxml.jackson.module.scala.DefaultScalaModule())
        self._all_jobs = self._json(self._store.jobsList(None))
        stages = self._json(
            self._store.stageList(
                None, False, False, sc._gateway.new_array(jvm.double, 0), jvm.java.util.ArrayList()
            )
        )
        self.stages: dict[int, list[dict]] = {}
        for st in stages:
            self.stages.setdefault(st["stageId"], []).append(st)

    def _json(self, obj):
        return json.loads(self._mapper.writeValueAsString(obj))

    def jobs(self, group: str, batch: int | None) -> list[dict]:
        out = [j for j in self._all_jobs if j.get("jobGroup") == group]
        if batch is not None:
            out = [
                j for j in out
                if (m := _BATCH_RE.search(j.get("description") or "")) and int(m.group(1)) == batch
            ]
        return out

    def task_durations(self, stage: dict) -> list[int]:
        tasks = self._json(self._store.taskList(stage["stageId"], stage["attemptId"], 1 << 30))
        return [t["duration"] for t in tasks if t.get("duration") is not None]


def _covered_s(intervals: list[tuple[float, float]]) -> float:
    """Length of the union of [start, end) intervals."""
    total, cur_s, cur_e = 0.0, None, None
    for s, e in sorted(intervals):
        if cur_e is None or s > cur_e:
            if cur_e is not None:
                total += cur_e - cur_s
            cur_s, cur_e = s, e
        else:
            cur_e = max(cur_e, e)
    if cur_e is not None:
        total += cur_e - cur_s
    return total


def _span_counters(span: Span, jobs: list[dict], store: _StatusStore, skew: bool) -> dict:
    ran = [
        st
        for j in jobs
        for sid in j["stageIds"]
        for st in store.stages.get(sid, ())
        if st["status"] != "SKIPPED"
    ]
    intervals = [
        (j["submissionTime"] / 1000.0, j["completionTime"] / 1000.0)
        for j in jobs
        if j.get("submissionTime") and j.get("completionTime")
    ]
    c = {
        "wall_s": span.wall_s,
        "jobs": len(jobs),
        "stages": len(ran),
        "tasks": sum(st["numCompleteTasks"] for st in ran),
        "shuffle_write_bytes": sum(st["shuffleWriteBytes"] for st in ran),
        "spill_bytes": sum(st["diskBytesSpilled"] for st in ran),
        "exec_run_s": sum(st["executorRunTime"] for st in ran) / 1000.0,
        "driver_gap_s": max(0.0, span.wall_s - _covered_s(intervals)),
    }
    if skew:
        c["fetch_wait_s"] = sum(st["shuffleFetchWaitTime"] for st in ran) / 1000.0
        c["task_skew"] = _task_skew(ran, store)
    return c


def _task_skew(stages: list[dict], store: _StatusStore) -> float:
    """Max over median task time per stage, averaged over the stages
    with at least two tasks, each weighted by its executor run time —
    so a skewed heavy stage counts and a skewed 5 ms stage does not.
    1.0 means perfectly even tasks."""
    num = den = 0.0
    for st in stages:
        if st["numCompleteTasks"] < 2:
            continue
        d = store.task_durations(st)
        if len(d) < 2:
            continue
        med = statistics.median(d)
        weight = max(st["executorRunTime"], 1)
        num += weight * (max(d) / max(med, 1))
        den += weight
    return num / den if den else 1.0
