"""Spans recorded around calls into the program, and the fold of a Spark
event log into per-span counters.

A span has a name, a start, an end, a parent and the run id. The
tracer keeps spans in memory; when enabled it also tags every Spark job
started inside a span with ``setJobGroup(<span id>)``, so the event log
can be folded back onto spans afterwards. Streaming micro-batch jobs
run on the stream's own thread, which carries the stream's query id
instead of the caller's job group; a span that drives a stream records
that query id and claims those jobs by it.

Everything below ``Tracer`` is pure Python over plain data, so it is
tested without Spark (``perfbench/trace_tests/test_spans.py``).
"""

from __future__ import annotations

import json
import time
from contextlib import contextmanager
from dataclasses import dataclass, field

#: event-log property carrying the caller's job group
JOB_GROUP_KEY = "spark.jobGroup.id"
#: event-log property set on every job a streaming query runs
STREAM_QUERY_KEY = "sql.streaming.queryId"


@dataclass
class Span:
    id: str
    name: str
    start: float  # epoch seconds
    end: float = 0.0
    parent: str | None = None
    run_id: str = ""
    attrs: dict = field(default_factory=dict)

    @property
    def wall(self) -> float:
        return self.end - self.start


class Tracer:
    """Records spans; a disabled tracer records nothing and costs one
    context-manager entry per call."""

    def __init__(self, run_id: str, enabled: bool, spark=None):
        self.run_id = run_id
        self.enabled = enabled
        self.spark = spark
        self.spans: list[Span] = []
        self._stack: list[Span] = []

    @contextmanager
    def span(self, name: str, **attrs):
        if not self.enabled:
            yield None
            return
        parent = self._stack[-1] if self._stack else None
        sp = Span(
            id=f"{self.run_id}:{len(self.spans)}",
            name=name,
            start=time.time(),
            parent=parent.id if parent else None,
            run_id=self.run_id,
            attrs=dict(attrs),
        )
        self.spans.append(sp)
        self._stack.append(sp)
        self._set_group(sp)
        try:
            yield sp
        finally:
            sp.end = time.time()
            self._stack.pop()
            self._set_group(self._stack[-1] if self._stack else None)

    def _set_group(self, sp: Span | None) -> None:
        if self.spark is None:
            return
        sc = self.spark.sparkContext
        if sp is None:
            sc.setLocalProperty(JOB_GROUP_KEY, None)
        else:
            sc.setJobGroup(sp.id, sp.name)


# ---------------------------------------------------------------- self time


def _union_length(intervals: list[tuple[float, float]]) -> float:
    total, cur_s, cur_e = 0.0, None, None
    for s, e in sorted(intervals):
        if e <= s:
            continue
        if cur_e is None or s > cur_e:
            if cur_e is not None:
                total += cur_e - cur_s
            cur_s, cur_e = s, e
        else:
            cur_e = max(cur_e, e)
    if cur_e is not None:
        total += cur_e - cur_s
    return total


def _clip(iv: tuple[float, float], lo: float, hi: float) -> tuple[float, float]:
    return max(iv[0], lo), min(iv[1], hi)


def self_times(spans: list[Span]) -> dict[str, float]:
    """Span id -> its wall time minus the part of it its children cover.
    Over a tree rooted at one span, the self times sum to the root's
    wall time exactly (children are clipped to their parent)."""
    kids: dict[str, list[Span]] = {}
    for sp in spans:
        if sp.parent is not None:
            kids.setdefault(sp.parent, []).append(sp)
    return {
        sp.id: sp.wall
        - _union_length(
            [_clip((c.start, c.end), sp.start, sp.end) for c in kids.get(sp.id, [])]
        )
        for sp in spans
    }


# ----------------------------------------------------------- event-log fold


@dataclass
class Job:
    id: int
    group: str | None
    query_id: str | None
    submit: float  # epoch seconds
    end: float = 0.0
    stages: list[int] = field(default_factory=list)
    tasks: int = 0
    executor_run_s: float = 0.0
    shuffle_write_bytes: int = 0
    spill_bytes: int = 0


def fold_event_log(lines) -> dict[int, Job]:
    """Fold JSON-lines Spark listener events into jobs carrying their
    task counters (tasks, executor run time, shuffle bytes written,
    memory + disk bytes spilled). Unparseable lines (a torn last line of
    a log still being written) are skipped."""
    jobs: dict[int, Job] = {}
    stage_job: dict[int, int] = {}
    for line in lines:
        try:
            ev = json.loads(line)
        except ValueError:
            continue
        kind = ev.get("Event")
        if kind == "SparkListenerJobStart":
            props = ev.get("Properties") or {}
            job = Job(
                id=ev["Job ID"],
                group=props.get(JOB_GROUP_KEY),
                query_id=props.get(STREAM_QUERY_KEY),
                submit=ev.get("Submission Time", 0) / 1000.0,
                stages=list(ev.get("Stage IDs") or []),
            )
            jobs[job.id] = job
            for sid in job.stages:
                stage_job[sid] = job.id
        elif kind == "SparkListenerJobEnd":
            job = jobs.get(ev.get("Job ID"))
            if job is not None:
                job.end = ev.get("Completion Time", 0) / 1000.0
        elif kind == "SparkListenerTaskEnd":
            job = jobs.get(stage_job.get(ev.get("Stage ID")))
            if job is None:
                continue
            m = ev.get("Task Metrics") or {}
            job.tasks += 1
            job.executor_run_s += m.get("Executor Run Time", 0) / 1000.0
            job.shuffle_write_bytes += (m.get("Shuffle Write Metrics") or {}).get(
                "Shuffle Bytes Written", 0
            )
            job.spill_bytes += m.get("Memory Bytes Spilled", 0) + m.get(
                "Disk Bytes Spilled", 0
            )
    return jobs


def attribute(jobs: dict[int, Job], spans: list[Span]) -> dict[str, list[Job]]:
    """Span id -> the jobs it caused. A job tagged with a span's id as
    its job group belongs to that span. A job from a stream's thread
    carries no such group; it belongs to the span that recorded the
    stream's query id (``attrs["query_ids"]``) and whose interval holds
    the job's submission. Jobs matching no span are returned under
    ``None``."""
    by_id = {sp.id: sp for sp in spans}
    by_query: dict[str, list[Span]] = {}
    for sp in spans:
        for q in sp.attrs.get("query_ids", ()):
            by_query.setdefault(q, []).append(sp)
    out: dict[str | None, list[Job]] = {}
    for job in sorted(jobs.values(), key=lambda j: j.id):
        owner = job.group if job.group in by_id else None
        if owner is None and job.query_id is not None:
            for sp in by_query.get(job.query_id, ()):
                if sp.start <= job.submit <= sp.end:
                    owner = sp.id
                    break
        out.setdefault(owner, []).append(job)
    return out


def span_counters(spans: list[Span], owned: dict[str, list[Job]]) -> dict[str, dict]:
    """Span id -> counters of the jobs the span and its descendants
    caused: jobs, tasks, executor run seconds, shuffle bytes written,
    bytes spilled, and ``driver_only_s`` — the span's wall time not
    covered by any of those jobs (driver-side Python, metadata and
    manifest work)."""
    kids: dict[str, list[str]] = {}
    for sp in spans:
        if sp.parent is not None:
            kids.setdefault(sp.parent, []).append(sp.id)

    def subtree_jobs(sid: str) -> list[Job]:
        got = list(owned.get(sid, ()))
        for k in kids.get(sid, ()):
            got.extend(subtree_jobs(k))
        return got

    out = {}
    for sp in spans:
        js = subtree_jobs(sp.id)
        covered = _union_length(
            [_clip((j.submit, j.end or sp.end), sp.start, sp.end) for j in js]
        )
        out[sp.id] = {
            "jobs": len(js),
            "tasks": sum(j.tasks for j in js),
            "executor_run_s": sum(j.executor_run_s for j in js),
            "shuffle_write_bytes": sum(j.shuffle_write_bytes for j in js),
            "spill_bytes": sum(j.spill_bytes for j in js),
            "driver_only_s": sp.wall - covered,
        }
    return out
