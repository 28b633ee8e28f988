"""Spans and Spark event-log roll-up for the benchmark's traced run.

Spans are recorded from the benchmark's own code, around its calls into
pqc; nothing inside pqc is instrumented. Every span carries a name,
wall-clock start and end (epoch seconds, the clock Spark's event log
uses), its parent and the pass it belongs to.

The event log (``spark.eventLog.enabled=true``, uncompressed, not
rolled) gives one JSON object per line. ``rollup`` attributes every
finished job, with its stages and tasks, to a span: by the job group
the benchmark set around the call when the job carries one, otherwise
to the innermost span open at the job's submission (pqc runs the suite
branches on helper threads, and Spark local properties such as the
job group do not reach threads created from Python).
"""

from __future__ import annotations

import json
import time
from contextlib import contextmanager
from dataclasses import asdict, dataclass, field


@dataclass
class Span:
    name: str
    start: float
    end: float
    parent: int | None
    pass_id: int
    sid: int = 0

    @property
    def dur(self) -> float:
        return self.end - self.start


GROUP_KEY = "spark.jobGroup.id"


@dataclass
class Tracer:
    """In-memory span recorder; ``spans`` is written out at the end."""

    spark: object | None = None
    enabled: bool = True
    pass_id: int = 0
    spans: list[Span] = field(default_factory=list)
    _stack: list[int] = field(default_factory=list)

    @contextmanager
    def span(self, name: str):
        if not self.enabled:
            yield
            return
        sid = len(self.spans)
        parent = self._stack[-1] if self._stack else None
        sp = Span(name, time.time(), 0.0, parent, self.pass_id, sid)
        self.spans.append(sp)
        self._stack.append(sid)
        sc = self.spark.sparkContext if self.spark is not None else None
        # only the group id: a job description would replace the call
        # site that the SQL execution events carry
        if sc is not None:
            sc.setLocalProperty(GROUP_KEY, group_id(sid))
        try:
            yield sp
        finally:
            sp.end = time.time()
            self._stack.pop()
            if sc is not None:
                outer = group_id(self._stack[-1]) if self._stack else None
                sc.setLocalProperty(GROUP_KEY, outer)

    def dump(self) -> list[dict]:
        return [asdict(s) for s in self.spans]


def group_id(sid: int) -> str:
    return f"pqcbench-span-{sid}"


def _union_len(intervals: list[tuple[float, float]]) -> float:
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
    """Span id -> duration minus the part of it its children cover."""
    children: dict[int, list[tuple[float, float]]] = {}
    for s in spans:
        if s.parent is not None:
            p = spans[s.parent]
            children.setdefault(s.parent, []).append(
                (max(s.start, p.start), min(s.end, p.end))
            )
    return {s.sid: s.dur - _union_len(children.get(s.sid, [])) for s in spans}


@dataclass
class JobStats:
    job_id: int
    group: str | None
    submit: float
    callsite: str = ""
    end: float = 0.0


@dataclass
class LayerStats:
    """Spark work attributed to one span (its own jobs, not children's)."""

    jobs: int = 0
    stages: int = 0
    tasks: int = 0
    executor_run_s: float = 0.0
    executor_cpu_s: float = 0.0
    gc_s: float = 0.0
    shuffle_write_mb: float = 0.0
    spill_mb: float = 0.0
    python_run_s: float = 0.0  # executor run time of stages with a Python operator
    job_intervals: list = field(default_factory=list)  # (submit, end, call site)

    def add(self, other: "LayerStats") -> None:
        for k in ("jobs", "stages", "tasks", "executor_run_s", "executor_cpu_s",
                  "gc_s", "shuffle_write_mb", "spill_mb",
                  "python_run_s"):
            setattr(self, k, getattr(self, k) + getattr(other, k))
        self.job_intervals += other.job_intervals


MB = 1024.0 * 1024.0
SQL_START = "org.apache.spark.sql.execution.ui.SparkListenerSQLExecutionStart"
PYTHON_SCOPES = (
    "MapInPandas", "MapInArrow", "ArrowEvalPython", "BatchEvalPython",
    "FlatMapGroupsInPandas", "FlatMapCoGroupsInPandas", "AggregateInPandas",
    "WindowInPandas", "PythonRDD",
)


def _is_python_stage(info: dict) -> bool:
    for rdd in info.get("RDD Info", []):
        scope = json.loads(rdd["Scope"]).get("name", "") if rdd.get("Scope") else ""
        if any(p in scope or p in rdd.get("Name", "") for p in PYTHON_SCOPES):
            return True
    return False


def read_events(path: str):
    with open(path, encoding="utf-8") as fh:
        for line in fh:
            line = line.strip()
            if line:
                yield json.loads(line)


def rollup(events, spans: list[Span]) -> dict[int | None, LayerStats]:
    """Span id (None for work outside every span) -> LayerStats."""
    jobs: dict[int, JobStats] = {}
    stage_job: dict[int, int] = {}
    stage_tasks: dict[int, list] = {}
    completed_stages: dict[int, bool] = {}  # stage id -> runs Python
    sql_site: dict[str, str] = {}  # SQL execution id -> call site
    for ev in events:
        kind = ev.get("Event")
        if kind == SQL_START:
            sql_site[str(ev["executionId"])] = ev.get("description", "")
        elif kind == "SparkListenerJobStart":
            props = ev.get("Properties") or {}
            infos = ev.get("Stage Infos") or [{}]
            job = JobStats(
                ev["Job ID"],
                props.get(GROUP_KEY),
                ev["Submission Time"] / 1000.0,
                # AQE runs a query's shuffle stages as jobs of their own;
                # the SQL execution they belong to names the caller
                sql_site.get(str(props.get("spark.sql.execution.id")))
                or props.get("callSite.short")
                or infos[0].get("Stage Name", ""),
            )
            jobs[job.job_id] = job
            for sid in ev.get("Stage IDs", []):
                stage_job.setdefault(sid, job.job_id)
        elif kind == "SparkListenerJobEnd":
            if ev["Job ID"] in jobs:
                jobs[ev["Job ID"]].end = ev["Completion Time"] / 1000.0
        elif kind == "SparkListenerStageCompleted":
            info = ev["Stage Info"]
            if "Completion Time" in info and "Submission Time" in info:
                completed_stages[info["Stage ID"]] = _is_python_stage(info)
        elif kind == "SparkListenerTaskEnd":
            stage_tasks.setdefault(ev["Stage ID"], []).append(ev.get("Task Metrics") or {})

    by_group = {group_id(s.sid): s.sid for s in spans}
    ordered = sorted(spans, key=lambda s: (s.start, -s.end))

    def owner(job: JobStats) -> int | None:
        if job.group in by_group:
            return by_group[job.group]
        best = None
        for s in ordered:  # innermost open span: latest start that covers it
            if s.start <= job.submit <= s.end:
                best = s.sid
        return best

    out: dict[int | None, LayerStats] = {}
    job_owner = {}
    for job in jobs.values():
        sid = owner(job)
        job_owner[job.job_id] = sid
        st = out.setdefault(sid, LayerStats())
        st.jobs += 1
        if job.end:
            st.job_intervals.append((job.submit, job.end, job.callsite))
    for stage_id, python in completed_stages.items():
        jid = stage_job.get(stage_id)
        if jid is None:
            continue
        st = out.setdefault(job_owner[jid], LayerStats())
        st.stages += 1
        for tm in stage_tasks.get(stage_id, []):
            st.tasks += 1
            run_s = tm.get("Executor Run Time", 0) / 1000.0
            st.executor_run_s += run_s
            if python:
                st.python_run_s += run_s
            st.executor_cpu_s += tm.get("Executor CPU Time", 0) / 1e9
            st.gc_s += tm.get("JVM GC Time", 0) / 1000.0
            sw = tm.get("Shuffle Write Metrics") or {}
            st.shuffle_write_mb += sw.get("Shuffle Bytes Written", 0) / MB
            st.spill_mb += tm.get("Disk Bytes Spilled", 0) / MB
    return out


def subtree(spans: list[Span], root: int) -> list[int]:
    """Ids of ``root`` and every span below it."""
    kids: dict[int, list[int]] = {}
    for s in spans:
        if s.parent is not None:
            kids.setdefault(s.parent, []).append(s.sid)
    out, todo = [], [root]
    while todo:
        sid = todo.pop()
        out.append(sid)
        todo += kids.get(sid, [])
    return out


def inclusive(stats: dict, spans: list[Span], root: int) -> LayerStats:
    """Spark work of ``root`` and every span below it."""
    total = LayerStats()
    for sid in subtree(spans, root):
        if sid in stats:
            total.add(stats[sid])
    return total


def job_time_s(span: Span, st: LayerStats, where=lambda callsite: True) -> float:
    """Time inside ``span`` during which at least one of its jobs whose
    call site passes ``where`` was running."""
    return _union_len([
        (max(s, span.start), min(e, span.end))
        for s, e, site in st.job_intervals
        if e > span.start and s < span.end and where(site)
    ])


def job_gap_s(span: Span, st: LayerStats) -> float:
    """Time inside ``span`` during which none of its jobs was running:
    driver-side planning, Python and waiting between jobs."""
    return span.dur - job_time_s(span, st)
