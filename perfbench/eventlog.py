"""Spark event-log parsing and span arithmetic for the traced run.

The traced run records one span per layer call (perfbench.trace) and sets
the Spark job group of the calling thread to the innermost open span id.
Spark's event log (uncompressed, not rolling) then tells which jobs and
stages ran under which span. This module turns the two into per-span
numbers:

  self_s           span duration minus the part its child spans cover
  outside_stage_s  the part of the span's self time during which none of
                   its own stages ran (driver work, planning, round trips)
  jobs, stages     jobs and stages submitted under the span itself
  shuffle_bytes    shuffle bytes written by the span's own tasks
  gc_s             JVM GC time of the span's own tasks

Everything here is pure Python over JSON lines, so it is unit-tested on a
small recorded log without Spark.
"""

from __future__ import annotations

import json
from collections.abc import Iterable
from dataclasses import dataclass, field

Interval = tuple[float, float]


@dataclass(frozen=True)
class Span:
    id: str
    name: str
    parent: str | None
    start: float  # epoch seconds
    end: float


@dataclass
class Stage:
    stage_id: int
    group: str | None
    start: float
    end: float
    shuffle_bytes: int = 0
    gc_s: float = 0.0
    tasks: int = 0


@dataclass
class Job:
    job_id: int
    group: str | None
    start: float
    end: float | None = None
    stage_ids: list[int] = field(default_factory=list)


@dataclass
class EventLog:
    jobs: dict[int, Job]
    stages: dict[int, Stage]


def parse(lines: Iterable[str]) -> EventLog:
    """Jobs and completed stages (with task totals) from event-log lines.

    A stage's group comes from its submission properties, falling back to
    the group of the job that listed it. Skipped stages (never submitted)
    have no completion event and are left out."""
    jobs: dict[int, Job] = {}
    stages: dict[int, Stage] = {}
    stage_group: dict[int, str | None] = {}
    task_totals: dict[int, list] = {}
    for line in lines:
        if not line.strip():
            continue
        ev = json.loads(line)
        kind = ev.get("Event")
        if kind == "SparkListenerJobStart":
            group = (ev.get("Properties") or {}).get("spark.jobGroup.id")
            job = Job(
                ev["Job ID"], group, ev["Submission Time"] / 1000.0,
                stage_ids=list(ev.get("Stage IDs", [])),
            )
            jobs[job.job_id] = job
            for sid in job.stage_ids:
                stage_group.setdefault(sid, group)
        elif kind == "SparkListenerJobEnd":
            if ev["Job ID"] in jobs:
                jobs[ev["Job ID"]].end = ev["Completion Time"] / 1000.0
        elif kind == "SparkListenerStageSubmitted":
            props = ev.get("Properties") or {}
            if "spark.jobGroup.id" in props:
                stage_group[ev["Stage Info"]["Stage ID"]] = props["spark.jobGroup.id"]
        elif kind == "SparkListenerTaskEnd":
            m = ev.get("Task Metrics") or {}
            tot = task_totals.setdefault(ev["Stage ID"], [0, 0.0, 0])
            tot[0] += int((m.get("Shuffle Write Metrics") or {}).get("Shuffle Bytes Written", 0))
            tot[1] += m.get("JVM GC Time", 0) / 1000.0
            tot[2] += 1
        elif kind == "SparkListenerStageCompleted":
            info = ev["Stage Info"]
            if "Submission Time" not in info or "Completion Time" not in info:
                continue
            sid = info["Stage ID"]
            stages[sid] = Stage(
                sid, None, info["Submission Time"] / 1000.0,
                info["Completion Time"] / 1000.0,
            )
    for sid, st in stages.items():
        st.group = stage_group.get(sid)
        shuffle, gc, n = task_totals.get(sid, (0, 0.0, 0))
        st.shuffle_bytes, st.gc_s, st.tasks = shuffle, gc, n
    return EventLog(jobs, stages)


def union(intervals: Iterable[Interval]) -> list[Interval]:
    """Sorted, non-overlapping cover of ``intervals`` (empty ones dropped)."""
    out: list[list[float]] = []
    for a, b in sorted(iv for iv in intervals if iv[1] > iv[0]):
        if out and a <= out[-1][1]:
            out[-1][1] = max(out[-1][1], b)
        else:
            out.append([a, b])
    return [(a, b) for a, b in out]


def subtract(base: Iterable[Interval], cut: Iterable[Interval]) -> list[Interval]:
    """The parts of ``base`` that no interval of ``cut`` covers."""
    cuts = union(cut)
    out: list[Interval] = []
    for a, b in union(base):
        cur = a
        for c, d in cuts:
            if d <= cur or c >= b:
                continue
            if c > cur:
                out.append((cur, c))
            cur = max(cur, d)
        if cur < b:
            out.append((cur, b))
    return out


def length(intervals: Iterable[Interval]) -> float:
    return sum(b - a for a, b in union(intervals))


@dataclass
class SpanStats:
    span: Span
    self_s: float
    outside_stage_s: float
    jobs: int
    stages: int
    shuffle_bytes: int
    gc_s: float


def span_stats(spans: list[Span], log: EventLog) -> list[SpanStats]:
    """Per-span numbers as described in the module docstring."""
    children: dict[str, list[Span]] = {}
    for s in spans:
        if s.parent is not None:
            children.setdefault(s.parent, []).append(s)
    jobs_of: dict[str | None, int] = {}
    for j in log.jobs.values():
        jobs_of[j.group] = jobs_of.get(j.group, 0) + 1
    stages_of: dict[str | None, list[Stage]] = {}
    for st in log.stages.values():
        stages_of.setdefault(st.group, []).append(st)
    out = []
    for s in spans:
        own = subtract([(s.start, s.end)], [(c.start, c.end) for c in children.get(s.id, [])])
        sts = stages_of.get(s.id, [])
        outside = subtract(own, [(st.start, st.end) for st in sts])
        out.append(SpanStats(
            s, length(own), length(outside), jobs_of.get(s.id, 0), len(sts),
            sum(st.shuffle_bytes for st in sts), sum(st.gc_s for st in sts),
        ))
    return out


def unattributed_jobs(spans: list[Span], log: EventLog) -> int:
    """Jobs whose group names no recorded span (run outside any layer)."""
    ids = {s.id for s in spans}
    return sum(1 for j in log.jobs.values() if j.group not in ids)


def stage_time_within(log: EventLog, window: Interval) -> float:
    """Seconds of ``window`` during which any stage (of any group) ran."""
    a, b = window
    return length((max(a, st.start), min(b, st.end)) for st in log.stages.values())


def jobs_within(log: EventLog, window: Interval) -> int:
    a, b = window
    return sum(1 for j in log.jobs.values() if a <= j.start <= b)
