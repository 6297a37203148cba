"""Spans around layer calls, and Spark counters attributed to them.

A span is (id, name, parent, start, end, run id), kept in memory and
written out when the benchmark ends. While a span is open its id is the
Spark job group (``setJobGroup``), so every job, stage and task in the
event log belongs to exactly one span. Counters are attributed per stage
ATTEMPT from the attempt's own StageSubmitted properties: a skipped
stage is never submitted and so never counted, and a retried attempt is
counted as its own stage.
"""

from __future__ import annotations

import json
import os
import statistics
import time
from contextlib import contextmanager
from dataclasses import asdict, dataclass, field


@dataclass
class Span:
    id: str
    name: str
    parent: str | None
    start: float            # time.time(), comparable with event-log stamps
    end: float = 0.0
    run: str = ""

    @property
    def wall(self) -> float:
        return self.end - self.start


class Tracer:
    """Opens spans and tags Spark jobs with them; only an ``enabled``
    tracer keeps the spans. ``own_s`` is the time spent in the tracer's
    own calls (the job-group round trips to the JVM) inside spans."""

    def __init__(self, spark_context, run_id: str, enabled: bool) -> None:
        self.sc = spark_context
        self.run = run_id
        self.enabled = enabled
        self.spans: list[Span] = []
        self._stack: list[Span] = []
        self._opened = 0
        self.own_s = 0.0

    @contextmanager
    def span(self, name: str):
        parent = self._stack[-1].id if self._stack else None
        s = Span(f"{self.run}:{self._opened}", name, parent, time.time(), run=self.run)
        self._opened += 1
        if self.enabled:
            self.spans.append(s)
        self.sc.setJobGroup(s.id, name)
        self._stack.append(s)
        self.own_s += time.time() - s.start
        try:
            yield s
        finally:
            t0 = time.time()
            self._stack.pop()
            if self._stack:
                self.sc.setJobGroup(self._stack[-1].id, self._stack[-1].name)
            else:
                self.sc.setLocalProperty("spark.jobGroup.id", None)
            s.end = time.time()
            self.own_s += s.end - t0

    def children(self, span: Span) -> list[Span]:
        return [s for s in self.spans if s.parent == span.id]

    def subtree(self, span: Span) -> list[Span]:
        out, todo = [], [span]
        while todo:
            s = todo.pop()
            out.append(s)
            todo.extend(self.children(s))
        return out

    def self_time(self, span: Span) -> float:
        return span.wall - _union([(c.start, c.end) for c in self.children(span)])

    def write(self, path: str) -> None:
        with open(path, "w") as fh:
            for s in self.spans:
                fh.write(json.dumps(asdict(s)) + "\n")


def _union(intervals: list[tuple[float, float]]) -> float:
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


@dataclass
class GroupCounters:
    jobs: int = 0
    stages: int = 0
    tasks: int = 0
    shuffle_bytes: int = 0
    executor_cpu_s: float = 0.0
    gc_s: float = 0.0
    spill_bytes: int = 0
    tasks_per_stage: list = field(default_factory=list)
    job_intervals: list = field(default_factory=list)  # (start_s, end_s)

    def add(self, other: "GroupCounters") -> None:
        for k in ("jobs", "stages", "tasks", "shuffle_bytes", "executor_cpu_s",
                  "gc_s", "spill_bytes"):
            setattr(self, k, getattr(self, k) + getattr(other, k))
        self.tasks_per_stage += other.tasks_per_stage
        self.job_intervals += other.job_intervals


class EventLog:
    """One pass over a Spark event-log directory -> counters per job group.

    Job and stage ids restart with every SparkContext, so ids are keyed by
    the log file that holds them."""

    def __init__(self, event_dir: str) -> None:
        self.groups: dict[str, GroupCounters] = {}
        stage_group: dict[tuple, str] = {}
        stage_tasks: dict[tuple, int] = {}
        job_group: dict[tuple, str] = {}
        job_start: dict[tuple, float] = {}
        paths = sorted(os.path.join(root, f) for root, _, files in os.walk(event_dir)
                       for f in files if not f.startswith(".") and "appstatus" not in f)
        for app, path in enumerate(paths):
            with open(path) as fh:
                for line in fh:
                    try:
                        ev = json.loads(line)
                    except ValueError:  # a line cut short when the log closed
                        continue
                    kind = ev.get("Event")
                    if kind == "SparkListenerJobStart":
                        jid = (app, ev["Job ID"])
                        job_group[jid] = (ev.get("Properties") or {}).get("spark.jobGroup.id") or ""
                        job_start[jid] = ev["Submission Time"] / 1000.0
                        self._g(job_group[jid]).jobs += 1
                    elif kind == "SparkListenerJobEnd":
                        jid = (app, ev["Job ID"])
                        if jid in job_start:
                            self._g(job_group[jid]).job_intervals.append(
                                (job_start[jid], ev["Completion Time"] / 1000.0))
                    elif kind == "SparkListenerStageSubmitted":
                        si = ev["Stage Info"]
                        key = (app, si["Stage ID"], si.get("Stage Attempt ID", 0))
                        grp = (ev.get("Properties") or {}).get("spark.jobGroup.id") or ""
                        stage_group[key] = grp
                        stage_tasks[key] = 0
                        self._g(grp).stages += 1
                    elif kind == "SparkListenerTaskEnd":
                        key = (app, ev["Stage ID"], ev.get("Stage Attempt ID", 0))
                        g = self._g(stage_group.get(key, ""))
                        m = ev.get("Task Metrics") or {}
                        g.tasks += 1
                        stage_tasks[key] = stage_tasks.get(key, 0) + 1
                        sw = m.get("Shuffle Write Metrics") or {}
                        g.shuffle_bytes += int(sw.get("Shuffle Bytes Written", 0) or 0)
                        g.executor_cpu_s += (m.get("Executor CPU Time", 0) or 0) / 1e9
                        g.gc_s += (m.get("JVM GC Time", 0) or 0) / 1000.0
                        g.spill_bytes += int(m.get("Memory Bytes Spilled", 0) or 0)
                        g.spill_bytes += int(m.get("Disk Bytes Spilled", 0) or 0)
        for key, n in stage_tasks.items():
            self._g(stage_group[key]).tasks_per_stage.append(n)

    def _g(self, group: str) -> GroupCounters:
        return self.groups.setdefault(group, GroupCounters())

    def for_spans(self, spans: list[Span]) -> GroupCounters:
        total = GroupCounters()
        for s in spans:
            if s.id in self.groups:
                total.add(self.groups[s.id])
        return total


def driver_gap(span: Span, counters: GroupCounters) -> float:
    """Span wall minus the union of its Spark jobs' intervals."""
    inside = [(max(a, span.start), min(b, span.end)) for a, b in counters.job_intervals]
    return max(0.0, span.wall - _union([iv for iv in inside if iv[1] > iv[0]]))


def p50(values: list) -> float:
    return float(statistics.median(values)) if values else 0.0
