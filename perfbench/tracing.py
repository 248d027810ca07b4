"""Spans recorded around calls into the engine, and the Spark event-log
reader that turns each span's tagged jobs into per-op counters.

A span is (name, start, end, parent, op). With tracing on, entering a
span also sets a Spark job group ``"<op>|<name>"`` so every job the call
runs can be read back from the event log by span and by op. With tracing
off, spans still time their body (the benchmark needs the op latency)
but set no job group and keep no record.
"""

from __future__ import annotations

import contextlib
import json
import time
from collections import defaultdict
from dataclasses import dataclass, field, fields

GROUP_SEP = "|"


@dataclass
class Span:
    name: str
    start: float
    end: float
    parent: str | None
    op: str


@dataclass
class Tracer:
    sc: object | None = None          # SparkContext, or None for no tagging
    enabled: bool = False
    spans: list[Span] = field(default_factory=list)
    _stack: list[tuple[str, str]] = field(default_factory=list)  # (op, name)

    @contextlib.contextmanager
    def span(self, name: str, op: str | None = None):
        """Time the body; ``op`` defaults to the enclosing span's op."""
        parent = self._stack[-1] if self._stack else None
        op = op if op is not None else (parent[0] if parent else "-")
        self._stack.append((op, name))
        self._tag(op, name)
        t0 = time.time()
        try:
            yield
        finally:
            t1 = time.time()
            self._stack.pop()
            if parent is not None:
                self._tag(*parent)
            elif self.enabled and self.sc is not None:
                self.sc.setLocalProperty("spark.jobGroup.id", None)
            if self.enabled:
                self.spans.append(Span(name, t0, t1, parent[1] if parent else None, op))

    def _tag(self, op: str, name: str) -> None:
        if self.enabled and self.sc is not None:
            self.sc.setJobGroup(f"{op}{GROUP_SEP}{name}", name)

    def durations(self, name: str) -> list[float]:
        return [s.end - s.start for s in self.spans if s.name == name]

    def per_op(self, name: str) -> dict[str, float]:
        """Summed duration of ``name`` spans per op."""
        out: dict[str, float] = defaultdict(float)
        for s in self.spans:
            if s.name == name:
                out[s.op] += s.end - s.start
        return dict(out)


# -- event log ----------------------------------------------------------------

@dataclass
class Job:
    id: int
    group: str | None
    start_ms: int
    end_ms: int | None = None
    stages: list[int] = field(default_factory=list)


@dataclass
class TaskTotals:
    tasks: int = 0
    run_ms: float = 0.0
    cpu_ns: float = 0.0
    gc_ms: float = 0.0
    shuffle_write: int = 0
    spill: int = 0

    def add(self, other: "TaskTotals") -> None:
        for f in fields(self):
            setattr(self, f.name, getattr(self, f.name) + getattr(other, f.name))


def parse_event_log(path: str) -> tuple[dict[int, Job], dict[str, TaskTotals]]:
    """Jobs by id, and task totals by job group, from one uncompressed,
    non-rolling Spark event log (JSON lines). Tasks are attributed to the
    group of the stage that ran them."""
    jobs: dict[int, Job] = {}
    stage_group: dict[int, str | None] = {}
    totals: dict[str, TaskTotals] = defaultdict(TaskTotals)
    with open(path) as fh:
        for line in fh:
            ev = json.loads(line)
            kind = ev.get("Event")
            if kind == "SparkListenerJobStart":
                group = (ev.get("Properties") or {}).get("spark.jobGroup.id")
                job = Job(ev["Job ID"], group, ev["Submission Time"],
                          stages=list(ev.get("Stage IDs", [])))
                jobs[job.id] = job
                for s in job.stages:
                    stage_group.setdefault(s, group)
            elif kind == "SparkListenerJobEnd":
                if ev["Job ID"] in jobs:
                    jobs[ev["Job ID"]].end_ms = ev["Completion Time"]
            elif kind == "SparkListenerStageSubmitted":
                props = ev.get("Properties") or {}
                if "spark.jobGroup.id" in props:
                    stage_group[ev["Stage Info"]["Stage ID"]] = props["spark.jobGroup.id"]
            elif kind == "SparkListenerTaskEnd":
                m = ev.get("Task Metrics") or {}
                totals[stage_group.get(ev["Stage ID"]) or ""].add(TaskTotals(
                    tasks=1,
                    run_ms=m.get("Executor Run Time", 0),
                    cpu_ns=m.get("Executor CPU Time", 0),
                    gc_ms=m.get("JVM GC Time", 0),
                    shuffle_write=(m.get("Shuffle Write Metrics") or {}).get(
                        "Shuffle Bytes Written", 0),
                    spill=m.get("Memory Bytes Spilled", 0) + m.get("Disk Bytes Spilled", 0),
                ))
    return jobs, dict(totals)


def union_seconds(intervals: list[tuple[float, float]]) -> float:
    """Length of the union of [start, end] intervals (jobs overlap, so
    summing their durations would double-count)."""
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


def op_of(group: str | None) -> str | None:
    return group.split(GROUP_SEP, 1)[0] if group else None


def span_of(group: str | None) -> str | None:
    return group.split(GROUP_SEP, 1)[1] if group and GROUP_SEP in group else None


def spark_counters(jobs: dict[int, Job], totals: dict[str, TaskTotals],
                   op_walls: dict[str, float]) -> dict[str, dict[str, float]]:
    """Per-op Spark counters for every op in ``op_walls`` (op -> wall s)."""
    by_op: dict[str, list[Job]] = defaultdict(list)
    for j in jobs.values():
        if j.end_ms is not None:
            by_op[op_of(j.group)].append(j)
    tot_by_op: dict[str, TaskTotals] = defaultdict(TaskTotals)
    for g, t in totals.items():
        tot_by_op[op_of(g)].add(t)
    out = {}
    for op, wall in op_walls.items():
        js = by_op.get(op, [])
        busy = union_seconds([(j.start_ms / 1e3, j.end_ms / 1e3) for j in js])
        t = tot_by_op.get(op, TaskTotals())
        out[op] = {
            "spark.jobs_per_op": len(js),
            "spark.tasks_per_op": t.tasks,
            "spark.busy_s_per_op": busy,
            "spark.gap_s_per_op": max(0.0, wall - busy),
            "spark.task_run_s_per_op": t.run_ms / 1e3,
            "spark.task_cpu_s_per_op": t.cpu_ns / 1e9,
            "spark.shuffle_write_bytes_per_op": t.shuffle_write,
            "spark.spill_bytes_per_op": t.spill,
            "spark.gc_s_per_op": t.gc_ms / 1e3,
        }
    return out


def jobs_in_span(jobs: dict[int, Job], name: str) -> dict[str, int]:
    """Number of jobs tagged with span ``name``, per op."""
    out: dict[str, int] = defaultdict(int)
    for j in jobs.values():
        if span_of(j.group) == name:
            out[op_of(j.group)] += 1
    return dict(out)
