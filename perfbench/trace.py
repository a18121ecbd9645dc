"""Spans from the benchmark's own code, and their attribution to Spark work.

A span is recorded around each call the benchmark makes into the engine:
name, start, end, parent and run id. Spans live in memory and are written
out once, when the run ends.

Spark's event log gives jobs, stages and tasks. A job belongs to the
innermost span whose interval contains the job's submission time. Jobs
launched from the engine's thread pools (motifs, labels, groups, FSM) do
not inherit the caller's job group, so attribution goes by time, never by
group. A stage's tasks belong to the job that first listed the stage.
"""

from __future__ import annotations

import json
import statistics
import time
import uuid
from contextlib import contextmanager
from dataclasses import asdict, dataclass, field
from pathlib import Path


@dataclass
class Span:
    span_id: int
    name: str
    start: float  # epoch seconds, the clock Spark stamps its events with
    end: float
    parent: int | None
    run_id: str


@dataclass
class Tracer:
    run_id: str = field(default_factory=lambda: uuid.uuid4().hex[:12])
    spans: list[Span] = field(default_factory=list)
    _stack: list[int] = field(default_factory=list)

    @contextmanager
    def span(self, name: str):
        sid = len(self.spans)
        parent = self._stack[-1] if self._stack else None
        s = Span(sid, name, time.time(), float("nan"), parent, self.run_id)
        self.spans.append(s)
        self._stack.append(sid)
        try:
            yield s
        finally:
            self._stack.pop()
            s.end = time.time()

    def write(self, path: Path) -> None:
        path.write_text("\n".join(json.dumps(asdict(s)) for s in self.spans) + "\n")


# ------------------------------------------------------------ event log --
def read_event_log(path: Path) -> list[dict]:
    with open(path) as f:
        return [json.loads(line) for line in f if line.strip()]


@dataclass
class Task:
    stage: int
    launch: float  # epoch seconds
    finish: float
    run_s: float  # executorRunTime
    gc_s: float
    shuffle_write_bytes: int
    spill_bytes: int
    failed: bool


@dataclass
class Job:
    job_id: int
    submitted: float
    stages: list[int]


def parse(events: list[dict]) -> tuple[list[Job], list[Task]]:
    jobs: list[Job] = []
    tasks: list[Task] = []
    for e in events:
        kind = e.get("Event")
        if kind == "SparkListenerJobStart":
            jobs.append(
                Job(e["Job ID"], e["Submission Time"] / 1000.0, list(e["Stage IDs"]))
            )
        elif kind == "SparkListenerTaskEnd":
            info = e["Task Info"]
            m = e.get("Task Metrics") or {}
            sw = m.get("Shuffle Write Metrics") or {}
            tasks.append(
                Task(
                    stage=e["Stage ID"],
                    launch=info["Launch Time"] / 1000.0,
                    finish=info["Finish Time"] / 1000.0,
                    run_s=m.get("Executor Run Time", 0) / 1000.0,
                    gc_s=m.get("JVM GC Time", 0) / 1000.0,
                    shuffle_write_bytes=sw.get("Shuffle Bytes Written", 0),
                    spill_bytes=m.get("Disk Bytes Spilled", 0)
                    + m.get("Memory Bytes Spilled", 0),
                    failed=bool(info.get("Failed")) or bool(info.get("Killed")),
                )
            )
    return jobs, tasks


def owning_span(spans: list[Span], t: float) -> Span | None:
    """The innermost span whose [start, end] contains t."""
    best = None
    for s in spans:
        if s.start <= t <= s.end and (best is None or s.end - s.start < best.end - best.start):
            best = s
    return best


def _covered(intervals: list[tuple[float, float]], lo: float, hi: float) -> float:
    """Length of the union of intervals, clipped to [lo, hi]."""
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


@dataclass
class SpanStats:
    wall_s: float
    jobs: int = 0
    task_s: float = 0.0
    shuffle_write_bytes: int = 0
    driver_s: float = 0.0
    tasks: list[Task] = field(default_factory=list)


def attribute(spans: list[Span], jobs: list[Job], tasks: list[Task]) -> dict[int, SpanStats]:
    """Per-span Spark work: jobs submitted inside the span, and the tasks of
    those jobs' stages. driver_s is the span's wall minus the time any of
    its tasks was running."""
    stats = {s.span_id: SpanStats(wall_s=s.end - s.start) for s in spans}
    stage_owner: dict[int, int] = {}
    for j in sorted(jobs, key=lambda j: j.job_id):
        owner = owning_span(spans, j.submitted)
        if owner is None:
            continue
        stats[owner.span_id].jobs += 1
        for st in j.stages:
            stage_owner.setdefault(st, owner.span_id)
    for t in tasks:
        sid = stage_owner.get(t.stage)
        if sid is None:
            continue
        st = stats[sid]
        st.tasks.append(t)
        st.task_s += t.run_s
        st.shuffle_write_bytes += t.shuffle_write_bytes
    for s in spans:
        st = stats[s.span_id]
        busy = _covered([(t.launch, t.finish) for t in st.tasks], s.start, s.end)
        st.driver_s = st.wall_s - busy
    return stats


def stage_skew(tasks: list[Task], min_tasks: int) -> float:
    """Largest max/median task run time over stages with at least
    ``min_tasks`` successful tasks (1.0 when no stage qualifies)."""
    by_stage: dict[int, list[float]] = {}
    for t in tasks:
        if not t.failed:
            by_stage.setdefault(t.stage, []).append(t.run_s)
    worst = 1.0
    for runs in by_stage.values():
        med = statistics.median(runs) if len(runs) >= min_tasks else 0.0
        if med > 0:
            worst = max(worst, max(runs) / med)
    return worst
