"""Tests of the benchmark's span bookkeeping and event-log roll-up.

Run from the repository root: python3 -m pytest perfbench -q
The recorded log comes from testdata/record_eventlog.py: one pass span
with three children (a grouped aggregate, a mapInPandas to a noop sink,
two counts on pool threads that carry no job group).
"""

from __future__ import annotations

import json
import os
import sys

import pytest

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)

from spans import (  # noqa: E402
    Span,
    _union_len,
    inclusive,
    job_gap_s,
    job_time_s,
    read_events,
    rollup,
    self_times,
)

DATA = os.path.join(HERE, "testdata")


def _span(sid, name, start, end, parent=None):
    return Span(name, start, end, parent, 1, sid)


def test_union_len_merges_overlaps():
    assert _union_len([(0, 2), (1, 3), (5, 6)]) == 4
    assert _union_len([]) == 0


def test_self_time_subtracts_covered_children_once():
    spans = [
        _span(0, "pass", 0.0, 10.0),
        _span(1, "a", 1.0, 4.0, 0),
        _span(2, "b", 3.0, 6.0, 0),  # overlaps a: counted once
        _span(3, "a.x", 1.5, 2.0, 1),
    ]
    st = self_times(spans)
    assert st[0] == pytest.approx(10.0 - 5.0)
    assert st[1] == pytest.approx(3.0 - 0.5)
    assert st[2] == pytest.approx(3.0)
    assert st[3] == pytest.approx(0.5)


def test_self_time_clips_children_to_parent():
    spans = [_span(0, "p", 0.0, 2.0), _span(1, "c", 1.0, 5.0, 0)]
    assert self_times(spans)[0] == pytest.approx(1.0)


@pytest.fixture(scope="module")
def recorded():
    with open(os.path.join(DATA, "spans_small.json")) as fh:
        spans = [Span(**d) for d in json.load(fh)]
    events = list(read_events(os.path.join(DATA, "eventlog_small.jsonl")))
    return spans, events, rollup(events, spans)


def _by_name(spans):
    return {s.name: s for s in spans}


def test_every_job_and_task_is_attributed_once(recorded):
    spans, events, stats = recorded
    n_jobs = sum(e["Event"] == "SparkListenerJobStart" for e in events)
    n_tasks = sum(e["Event"] == "SparkListenerTaskEnd" for e in events)
    root = _by_name(spans)["pass"].sid
    total = inclusive(stats, spans, root)
    assert None not in stats  # nothing ran outside the pass span
    assert total.jobs == n_jobs
    assert total.tasks == n_tasks
    run_ms = sum(e["Task Metrics"]["Executor Run Time"] for e in events
                 if e["Event"] == "SparkListenerTaskEnd")
    assert total.executor_run_s == pytest.approx(run_ms / 1000.0)


def test_grouped_jobs_land_on_their_span(recorded):
    spans, events, stats = recorded
    by = _by_name(spans)
    groups = {e["Properties"].get("spark.jobGroup.id") for e in events
              if e["Event"] == "SparkListenerJobStart"}
    assert f"pqcbench-span-{by['agg'].sid}" in groups
    agg = stats[by["agg"].sid]
    assert agg.jobs >= 1 and agg.tasks >= 4
    assert agg.python_run_s == 0.0
    assert agg.shuffle_write_mb > 0.0  # the groupBy exchange


def test_python_stage_time_only_where_python_ran(recorded):
    spans, _events, stats = recorded
    by = _by_name(spans)
    py = stats[by["python"].sid]
    assert py.python_run_s == pytest.approx(py.executor_run_s)
    assert py.python_run_s > 0.0
    assert stats[by["threads"].sid].python_run_s == 0.0


def test_ungrouped_thread_jobs_fall_back_to_the_open_span(recorded):
    spans, events, stats = recorded
    by = _by_name(spans)
    ungrouped = sum(
        1 for e in events
        if e["Event"] == "SparkListenerJobStart"
        and not e["Properties"].get("spark.jobGroup.id")
    )
    assert ungrouped >= 2
    assert stats[by["threads"].sid].jobs == ungrouped


def test_job_time_and_gap_partition_the_span(recorded):
    spans, _events, stats = recorded
    for s in spans:
        st = inclusive(stats, spans, s.sid)
        busy = job_time_s(s, st)
        assert 0.0 <= busy <= s.dur + 1e-9
        assert job_gap_s(s, st) == pytest.approx(s.dur - busy)


def test_children_account_for_the_pass(recorded):
    spans, _events, _stats = recorded
    root = _by_name(spans)["pass"]
    assert self_times(spans)[root.sid] < 0.05 * root.dur


def test_jobs_carry_the_caller_call_site(recorded):
    spans, _events, stats = recorded
    by = _by_name(spans)
    agg = by["agg"]
    sites = [site for _s, _e, site in stats[agg.sid].job_intervals]
    assert sites and all(s.startswith("collect at perfbench/testdata/record_eventlog.py") for s in sites)
    py = by["python"]
    assert job_time_s(py, stats[py.sid], lambda s: s.startswith("save at")) > 0.0
    assert job_time_s(agg, stats[agg.sid], lambda s: s.startswith("save at")) == 0.0
