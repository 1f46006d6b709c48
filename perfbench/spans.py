"""Spans around the benchmark's calls into each layer, and attribution
of Spark job counters to them.

A span is kept in memory (name, start, end, parent, run id) and the
whole list is written out when the run ends. While a span is open,
jobs launched from the benchmark thread carry the span's Spark job
group, so the event log ties them to it. Jobs launched from other
threads (a streaming query's micro-batches run on Spark's own
threads) carry no benchmark group; they go to the innermost span
whose interval holds their submission time.

Counters are inclusive: a span's jobs are those launched inside it,
child spans included. Self time excludes the children's intervals;
driver gap excludes the union of the span's job intervals.
"""

from __future__ import annotations

import json
import time
import uuid
from contextlib import contextmanager
from dataclasses import asdict, dataclass

#: job counters every span reports, with their units
JOB_COUNTERS = {
    "jobs": "count",
    "tasks": "count",
    "shuffle_write_bytes": "B",
    "shuffle_read_bytes": "B",
    "spill_bytes": "B",
    "executor_cpu_s": "s",
    "driver_gap_s": "s",
}

_GROUP_PREFIX = "perfbench:"


@dataclass
class Span:
    name: str
    span_id: int
    parent: int | None
    run_id: str
    start: float
    end: float | None = None

    @property
    def group(self) -> str:
        return f"{_GROUP_PREFIX}{self.run_id}:{self.span_id}"


class Tracer:
    """Span recorder. A disabled tracer records nothing and never
    touches the SparkContext, so untraced runs execute the same
    workload code with no tracing cost."""

    def __init__(self, enabled: bool, sc=None):
        self.enabled = enabled
        self.sc = sc
        self.run_id = uuid.uuid4().hex[:12]
        self.spans: list[Span] = []
        self._stack: list[Span] = []

    @contextmanager
    def span(self, name: str):
        if not self.enabled:
            yield None
            return
        parent = self._stack[-1] if self._stack else None
        s = Span(name, len(self.spans), parent.span_id if parent else None,
                 self.run_id, time.time())
        self.spans.append(s)
        self._stack.append(s)
        self._set_group(s)
        try:
            yield s
        finally:
            s.end = time.time()
            self._stack.pop()
            self._set_group(parent)

    def _set_group(self, s: Span | None) -> None:
        if self.sc is None:
            return
        if s is None:
            self.sc.setLocalProperty("spark.jobGroup.id", None)
            self.sc.setLocalProperty("spark.job.description", None)
        else:
            self.sc.setJobGroup(s.group, s.name)

    def dump(self, path: str) -> None:
        with open(path, "w") as f:
            for s in self.spans:
                f.write(json.dumps(asdict(s)) + "\n")


# ------------------------------------------------------------ event log

@dataclass
class Job:
    job_id: int
    start: float
    end: float
    group: str | None
    tasks: int = 0
    shuffle_write_bytes: int = 0
    shuffle_read_bytes: int = 0
    spill_bytes: int = 0
    executor_cpu_s: float = 0.0


def parse_event_log(path: str) -> list[Job]:
    """Jobs with their task counters from one uncompressed,
    non-rolling Spark event log file."""
    jobs: dict[int, Job] = {}
    stage_job: dict[int, int] = {}
    ends: dict[int, float] = {}
    tasks: list[dict] = []
    with open(path) as f:
        for line in f:
            ev = json.loads(line)
            kind = ev.get("Event")
            if kind == "SparkListenerJobStart":
                jid = ev["Job ID"]
                props = ev.get("Properties") or {}
                jobs[jid] = Job(
                    jid, ev["Submission Time"] / 1000.0, 0.0,
                    props.get("spark.jobGroup.id"),
                )
                for sid in ev.get("Stage IDs", []):
                    stage_job.setdefault(sid, jid)
            elif kind == "SparkListenerJobEnd":
                ends[ev["Job ID"]] = ev["Completion Time"] / 1000.0
            elif kind == "SparkListenerTaskEnd":
                tasks.append(ev)
    for jid, t in ends.items():
        if jid in jobs:
            jobs[jid].end = t
    for ev in tasks:
        job = jobs.get(stage_job.get(ev.get("Stage ID"), -1))
        if job is None:
            continue
        m = ev.get("Task Metrics") or {}
        rd = m.get("Shuffle Read Metrics") or {}
        wr = m.get("Shuffle Write Metrics") or {}
        job.tasks += 1
        job.executor_cpu_s += m.get("Executor CPU Time", 0) / 1e9
        job.shuffle_write_bytes += wr.get("Shuffle Bytes Written", 0)
        job.shuffle_read_bytes += rd.get("Remote Bytes Read", 0) + rd.get(
            "Local Bytes Read", 0
        )
        job.spill_bytes += m.get("Memory Bytes Spilled", 0) + m.get(
            "Disk Bytes Spilled", 0
        )
    return [j for j in jobs.values() if j.end >= j.start > 0]


# ------------------------------------------------------------ attribution

def union_length(intervals: list[tuple[float, float]]) -> float:
    """Total length covered by possibly overlapping intervals."""
    total = 0.0
    cur_start = cur_end = None
    for a, b in sorted(intervals):
        if cur_end is None or a > cur_end:
            if cur_end is not None:
                total += cur_end - cur_start
            cur_start, cur_end = a, b
        else:
            cur_end = max(cur_end, b)
    if cur_end is not None:
        total += cur_end - cur_start
    return total


def _clip(a: float, b: float, lo: float, hi: float) -> tuple[float, float]:
    return max(a, lo), max(min(b, hi), max(a, lo))


def assign_jobs(spans: list[Span], jobs: list[Job]) -> dict[int, list[Job]]:
    """Owning span id -> jobs: by job group when the job carries one
    of these spans' groups, else the innermost span (latest start)
    whose interval holds the submission time. Unowned jobs are
    dropped."""
    by_group = {s.group: s.span_id for s in spans}
    owned: dict[int, list[Job]] = {s.span_id: [] for s in spans}
    for j in jobs:
        sid = by_group.get(j.group)
        if sid is None:
            holders = [s for s in spans if s.start <= j.start <= s.end]
            if not holders:
                continue
            sid = max(holders, key=lambda s: s.start).span_id
        owned[sid].append(j)
    return owned


def span_metrics(spans: list[Span], jobs: list[Job]) -> dict[int, dict]:
    """Per span: wall, self time and the inclusive job counters."""
    owned = assign_jobs(spans, jobs)
    children: dict[int, list[Span]] = {s.span_id: [] for s in spans}
    for s in spans:
        if s.parent is not None:
            children[s.parent].append(s)

    def subtree_jobs(sid: int) -> list[Job]:
        out = list(owned[sid])
        for c in children[sid]:
            out += subtree_jobs(c.span_id)
        return out

    out = {}
    for s in spans:
        wall = s.end - s.start
        js = subtree_jobs(s.span_id)
        covered = union_length(
            [_clip(j.start, j.end, s.start, s.end) for j in js]
        )
        kids = union_length(
            [_clip(c.start, c.end, s.start, s.end) for c in children[s.span_id]]
        )
        out[s.span_id] = {
            "wall_s": wall,
            "self_s": wall - kids,
            "jobs": len(js),
            "tasks": sum(j.tasks for j in js),
            "shuffle_write_bytes": sum(j.shuffle_write_bytes for j in js),
            "shuffle_read_bytes": sum(j.shuffle_read_bytes for j in js),
            "spill_bytes": sum(j.spill_bytes for j in js),
            "executor_cpu_s": sum(j.executor_cpu_s for j in js),
            "driver_gap_s": wall - covered,
        }
    return out
