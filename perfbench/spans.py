"""Spans recorded by the benchmark around calls into engine layers, and the
Spark event log of the benchmark's own session, grouped by those spans.

Spans live in memory (name, start, end, parent, operation id) and are
written out once, at the end of a traced run. With tracing off, `span`
still times its block (the workloads need the wall times) but records
nothing.
"""

from __future__ import annotations

import glob
import json
import os
import statistics
import time
from contextlib import contextmanager
from dataclasses import dataclass, field


@dataclass
class Span:
    name: str
    start: float
    end: float
    parent: int | None
    op: int
    idx: int


@dataclass
class Tracer:
    enabled: bool
    spans: list[Span] = field(default_factory=list)
    _stack: list[int] = field(default_factory=list)
    _op: int = 0

    def next_op(self) -> int:
        self._op += 1
        return self._op

    @contextmanager
    def span(self, name: str, op: int | None = None):
        """Time the block; the yielded dict gets its wall seconds in 's'
        and its epoch start and end in 'start' and 'end'."""
        out = {}
        parent = self._stack[-1] if self._stack else None
        idx = len(self.spans)
        if self.enabled:
            self._stack.append(idx)
            self.spans.append(Span(name, 0.0, 0.0, parent, op or self._op, idx))
        start = time.time()
        try:
            yield out
        finally:
            end = time.time()
            out.update(s=end - start, start=start, end=end)
            if self.enabled:
                self._stack.pop()
                sp = self.spans[idx]
                sp.start, sp.end = start, end

    def total(self, name: str) -> float:
        return sum(s.end - s.start for s in self.spans if s.name == name)

    def dump(self, stream) -> None:
        """Write the spans out, one JSON object a line."""
        for s in self.spans:
            stream.write(json.dumps({"span": s.__dict__}) + "\n")


@dataclass
class Task:
    stage: int
    job: int | None
    run_s: float
    shuffle_write: int
    spill: int
    records_in: int


@dataclass
class EventLog:
    jobs: dict[int, float]  # job id -> submission time (epoch s)
    tasks: list[Task]

    @classmethod
    def read(cls, directory: str) -> "EventLog":
        jobs: dict[int, float] = {}
        stage_job: dict[int, int] = {}
        raw = []
        for path in glob.glob(os.path.join(directory, "**"), recursive=True):
            if not os.path.isfile(path):
                continue
            with open(path) as f:
                for line in f:
                    if not line.startswith("{"):
                        continue
                    ev = json.loads(line)
                    kind = ev.get("Event")
                    if kind == "SparkListenerJobStart":
                        jobs[ev["Job ID"]] = ev["Submission Time"] / 1000.0
                        for sid in ev.get("Stage IDs", []):
                            stage_job[sid] = ev["Job ID"]
                    elif kind == "SparkListenerTaskEnd":
                        raw.append(ev)
        tasks = []
        for ev in raw:
            m = ev.get("Task Metrics") or {}
            sid = ev["Stage ID"]
            tasks.append(
                Task(
                    stage=sid,
                    job=stage_job.get(sid),
                    run_s=m.get("Executor Run Time", 0) / 1000.0,
                    shuffle_write=(m.get("Shuffle Write Metrics") or {}).get(
                        "Shuffle Bytes Written", 0
                    ),
                    spill=m.get("Memory Bytes Spilled", 0)
                    + m.get("Disk Bytes Spilled", 0),
                    records_in=(m.get("Input Metrics") or {}).get("Records Read", 0),
                )
            )
        return cls(jobs, tasks)

    def window(self, start: float, end: float) -> "EventLog":
        """Jobs submitted inside [start, end] and their tasks."""
        jobs = {j: t for j, t in self.jobs.items() if start <= t <= end}
        return EventLog(jobs, [t for t in self.tasks if t.job in jobs])

    def summary(self, wall_s: float, cores: int) -> dict:
        task_s = sum(t.run_s for t in self.tasks)
        by_stage: dict[int, list[float]] = {}
        for t in self.tasks:
            by_stage.setdefault(t.stage, []).append(t.run_s)
        skew = 1.0
        if by_stage:
            heavy = max(by_stage.values(), key=sum)
            med = statistics.median(heavy)
            skew = max(heavy) / med if med > 0 else 1.0
        return {
            "task_s": task_s,
            "busy_frac": task_s / (cores * wall_s) if wall_s > 0 else 0.0,
            "jobs": len(self.jobs),
            "tasks": len(self.tasks),
            "shuffle_write_bytes": sum(t.shuffle_write for t in self.tasks),
            "spill_bytes": sum(t.spill for t in self.tasks),
            "input_records": sum(t.records_in for t in self.tasks),
            "task_skew": skew,
        }
