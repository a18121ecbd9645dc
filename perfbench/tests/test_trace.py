"""Attribution of Spark jobs and tasks to the benchmark's spans.

Run: python3 -m pytest perfbench/tests -q

``fixtures/eventlog_threadpool.jsonl`` is a recorded local[2] event log
(trimmed to the events attribution reads) of two calls inside one pass: a
main-thread aggregation, and a count submitted from a thread pool while
the caller thread held a job group; ``fixtures/spans_threadpool.jsonl``
holds the spans recorded with it.
"""

from __future__ import annotations

import json
import sys
from pathlib import Path

import pytest

sys.path.insert(0, str(Path(__file__).resolve().parents[2]))

from perfbench import trace  # noqa: E402

DATA = Path(__file__).parent / "fixtures"


@pytest.fixture
def recorded():
    spans = [
        trace.Span(**json.loads(line))
        for line in (DATA / "spans_threadpool.jsonl").read_text().splitlines()
    ]
    jobs, tasks = trace.parse(trace.read_event_log(DATA / "eventlog_threadpool.jsonl"))
    return {s.name: s for s in spans}, spans, jobs, tasks


def test_pooled_job_lacks_group_and_is_attributed_by_time(recorded):
    by_name, spans, jobs, tasks = recorded
    events = trace.read_event_log(DATA / "eventlog_threadpool.jsonl")
    pooled = [
        e for e in events
        if e["Event"] == "SparkListenerJobStart"
        and by_name["pooled_call"].start * 1000 <= e["Submission Time"] <= by_name["pooled_call"].end * 1000
    ]
    assert pooled, "the recording has a job inside the pooled call"
    # the pool thread does not inherit the caller's job group ...
    assert all(e["Properties"].get("spark.jobGroup.id") != "caller-group" for e in pooled)
    # ... yet its job and tasks land on the pooled call by submission time
    stats = trace.attribute(spans, jobs, tasks)
    pooled_stats = stats[by_name["pooled_call"].span_id]
    assert pooled_stats.jobs == len(pooled)
    assert pooled_stats.tasks and pooled_stats.task_s >= 0


def test_every_job_and_task_is_attributed_once(recorded):
    by_name, spans, jobs, tasks = recorded
    stats = trace.attribute(spans, jobs, tasks)
    assert sum(s.jobs for s in stats.values()) == len(jobs)
    assert sum(len(s.tasks) for s in stats.values()) == len(tasks)
    main = stats[by_name["main_call"].span_id]
    assert main.jobs >= 1 and main.shuffle_write_bytes > 0  # the groupBy shuffles
    assert stats[by_name["pass"].span_id].jobs == 0  # innermost span wins


def test_driver_time_is_wall_minus_task_cover():
    spans = [trace.Span(0, "call", 10.0, 20.0, None, "r")]
    jobs = [trace.Job(0, 10.5, [0, 1])]
    t = dict(gc_s=0.0, shuffle_write_bytes=0, spill_bytes=0, failed=False)
    tasks = [
        trace.Task(stage=0, launch=11.0, finish=13.0, run_s=2.0, **t),
        trace.Task(stage=0, launch=12.0, finish=14.0, run_s=2.0, **t),  # overlaps
        trace.Task(stage=1, launch=19.0, finish=21.0, run_s=2.0, **t),  # clipped
        trace.Task(stage=7, launch=15.0, finish=16.0, run_s=1.0, **t),  # other job
    ]
    st = trace.attribute(spans, jobs, tasks)[0]
    assert st.jobs == 1 and st.task_s == pytest.approx(6.0)
    assert st.driver_s == pytest.approx(10.0 - 3.0 - 1.0)


def test_skipped_stage_belongs_to_the_job_that_ran_it():
    spans = [
        trace.Span(0, "first", 0.0, 5.0, None, "r"),
        trace.Span(1, "second", 5.0, 10.0, None, "r"),
    ]
    jobs = [trace.Job(0, 1.0, [0]), trace.Job(1, 6.0, [0, 1])]  # stage 0 reused
    t = dict(gc_s=0.0, shuffle_write_bytes=0, spill_bytes=0, failed=False)
    tasks = [
        trace.Task(stage=0, launch=1.0, finish=2.0, run_s=1.0, **t),
        trace.Task(stage=1, launch=6.0, finish=8.0, run_s=2.0, **t),
    ]
    st = trace.attribute(spans, jobs, tasks)
    assert (st[0].task_s, st[1].task_s) == (1.0, 2.0)


def test_stage_skew_ignores_small_stages():
    t = dict(launch=0.0, finish=1.0, gc_s=0.0, shuffle_write_bytes=0, spill_bytes=0, failed=False)
    tasks = [trace.Task(stage=0, run_s=r, **t) for r in (1.0, 1.0, 1.0, 5.0)]
    tasks += [trace.Task(stage=1, run_s=r, **t) for r in (1.0, 100.0)]
    assert trace.stage_skew(tasks, min_tasks=4) == pytest.approx(5.0)
