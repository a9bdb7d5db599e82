"""Spans recorded around the benchmark's calls into each layer, and the
Spark event-log reader that attributes jobs, tasks and shuffle bytes to
them.

A span holds its name, wall-clock start and end, parent span and run id.
Spans are kept in memory and written out when the run ends; a disabled
tracer still times (callers need the duration) but stores nothing.
Self time is a span's duration minus the part its children cover.
"""

from __future__ import annotations

import glob
import json
import os
import statistics
import threading
import time
from contextlib import contextmanager
from dataclasses import dataclass, field


@dataclass
class Span:
    name: str
    start: float  # time.time() seconds
    end: float = 0.0
    parent: int | None = None
    id: int = 0
    attrs: dict = field(default_factory=dict)

    @property
    def dur(self) -> float:
        return self.end - self.start


class Tracer:
    def __init__(self, enabled: bool, run_id: str):
        self.enabled = enabled
        self.run_id = run_id
        self.spans: list[Span] = []
        self._lock = threading.Lock()
        self._local = threading.local()

    def _stack(self) -> list[int]:
        st = getattr(self._local, "stack", None)
        if st is None:
            st = self._local.stack = []
        return st

    def current(self) -> int | None:
        st = self._stack()
        return st[-1] if st else None

    @contextmanager
    def span(self, name: str, parent: int | None = None, **attrs):
        """Time the block. ``parent`` overrides the calling thread's
        current span (for callbacks that run on another thread)."""
        stack = self._stack()
        sp = Span(name, time.time(), parent=parent if parent is not None else self.current(),
                  attrs=attrs)
        if self.enabled:
            with self._lock:
                sp.id = len(self.spans) + 1
                self.spans.append(sp)
            stack.append(sp.id)
        try:
            yield sp
        finally:
            sp.end = time.time()
            if self.enabled:
                stack.pop()

    def dump(self, path: str) -> None:
        with open(path, "w") as f:
            for s in self.spans:
                f.write(json.dumps({
                    "run_id": self.run_id, "id": s.id, "parent": s.parent,
                    "name": s.name, "start": s.start, "end": s.end, **s.attrs,
                }) + "\n")


def covered(intervals: list[tuple[float, float]]) -> float:
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


def self_times(spans: list[Span]) -> dict[int, float]:
    """span id -> duration minus the union of its children's intervals
    (clipped to the span)."""
    kids: dict[int, list[tuple[float, float]]] = {}
    by_id = {s.id: s for s in spans}
    for s in spans:
        if s.parent in by_id:
            p = by_id[s.parent]
            kids.setdefault(p.id, []).append((max(s.start, p.start), min(s.end, p.end)))
    return {s.id: max(0.0, s.dur - covered(kids.get(s.id, []))) for s in spans}


@dataclass
class Job:
    id: int
    submitted: float  # seconds since the epoch
    stages: list[int]


@dataclass
class StageTasks:
    run_ms: list[int] = field(default_factory=list)
    shuffle_write: int = 0


class EventLog:
    """Jobs and per-stage task metrics from a Spark event log directory."""

    def __init__(self, log_dir: str):
        self.jobs: list[Job] = []
        self.stages: dict[int, StageTasks] = {}
        for path in glob.glob(f"{log_dir}/**", recursive=True):
            if not os.path.isfile(path) or os.path.basename(path).startswith("appstatus"):
                continue
            with open(path) as f:
                for line in f:
                    ev = json.loads(line)
                    kind = ev.get("Event")
                    if kind == "SparkListenerJobStart":
                        self.jobs.append(Job(ev["Job ID"], ev["Submission Time"] / 1000.0,
                                             list(ev.get("Stage IDs", []))))
                    elif kind == "SparkListenerTaskEnd":
                        m = ev.get("Task Metrics") or {}
                        st = self.stages.setdefault(ev["Stage ID"], StageTasks())
                        st.run_ms.append(int(m.get("Executor Run Time", 0)))
                        st.shuffle_write += int(
                            (m.get("Shuffle Write Metrics") or {}).get("Shuffle Bytes Written", 0)
                        )
        self.jobs.sort(key=lambda j: j.id)

    def jobs_in(self, start: float, end: float) -> list[Job]:
        # event-log times have millisecond resolution
        return [j for j in self.jobs if start - 0.001 <= j.submitted <= end + 0.001]

    def counts(self, jobs: list[Job]) -> dict[str, int]:
        stages = [s for j in jobs for s in j.stages if s in self.stages]
        return {
            "jobs": len(jobs),
            "stages": len(stages),
            "tasks": sum(len(self.stages[s].run_ms) for s in stages),
            "shuffle_bytes": sum(self.stages[s].shuffle_write for s in stages),
        }

    def heaviest_stage_skew(self, jobs: list[Job]) -> float:
        """max/median task run time of the stage with the most total task
        time among ``jobs`` (the write stage of a data-plane apply)."""
        stages = [self.stages[s] for j in jobs for s in j.stages if s in self.stages]
        stages = [s for s in stages if s.run_ms]
        if not stages:
            return 0.0
        heavy = max(stages, key=lambda s: sum(s.run_ms))
        med = statistics.median(heavy.run_ms)
        return max(heavy.run_ms) / med if med > 0 else 1.0

    def skew(self, jobs: list[Job], min_tasks: int) -> float:
        """Median over stages with at least ``min_tasks`` tasks of the
        stage's max/median task run time (1.0 = perfectly even)."""
        vals = []
        for j in jobs:
            for s in j.stages:
                st = self.stages.get(s)
                if st and len(st.run_ms) >= min_tasks:
                    med = statistics.median(st.run_ms)
                    vals.append(max(st.run_ms) / med if med > 0 else 1.0)
        return statistics.median(vals) if vals else 1.0
