"""Spans for the traced run, the Spark event-log parser, and the
self-time and job-attribution arithmetic.

Spans come from the benchmark's own files only: :meth:`Tracer.wrap`
replaces a module attribute with a timing wrapper for the life of the
traced process, so nothing inside the package is edited. Spans are kept
in memory and reduced at the end of the run.

A span's parent is the innermost span that contains it in time. That is
sound here because each flow has one driver thread of control: the
benchmark loop blocks while the streaming engine calls back into
``foreachBatch`` on another thread, so the callback's spans sit inside
the round that caused them.
"""

from __future__ import annotations

import functools
import glob
import json
import time
from dataclasses import dataclass, field


@dataclass
class Span:
    name: str
    start: float
    end: float
    children: list["Span"] = field(default_factory=list)
    jobs: list["Job"] = field(default_factory=list)

    @property
    def dur(self) -> float:
        return self.end - self.start


@dataclass
class Job:
    """One Spark job from the event log; times in epoch seconds."""

    start: float
    end: float
    tasks: int = 0
    task_s: float = 0.0
    task_cpu_s: float = 0.0
    gc_s: float = 0.0
    shuffle_bytes: int = 0
    spill_bytes: int = 0


class Tracer:
    """In-memory span recorder with attribute wrapping."""

    def __init__(self) -> None:
        self.spans: list[Span] = []
        self._patched: list[tuple[object, str, object]] = []

    def add(self, name: str, start: float, end: float) -> None:
        self.spans.append(Span(name, start, end))

    def wrap(self, owner: object, attr: str, name: str) -> None:
        """Replace ``owner.attr`` with a wrapper recording a span named
        ``name`` around every call."""
        fn = getattr(owner, attr)

        @functools.wraps(fn)
        def timed(*args, **kwargs):
            t0 = time.time()
            try:
                return fn(*args, **kwargs)
            finally:
                self.add(name, t0, time.time())

        self.replace(owner, attr, timed)

    def replace(self, owner: object, attr: str, new: object) -> None:
        """Set ``owner.attr`` to ``new`` until :meth:`restore`."""
        self._patched.append((owner, attr, getattr(owner, attr)))
        setattr(owner, attr, new)

    def restore(self) -> None:
        for owner, attr, fn in reversed(self._patched):
            setattr(owner, attr, fn)
        self._patched.clear()


def build_tree(spans: list[Span]) -> list[Span]:
    """Nest spans by time containment; returns the roots. Ties in start
    time put the longer span outside."""
    roots: list[Span] = []
    stack: list[Span] = []
    for s in sorted(spans, key=lambda s: (s.start, -s.end)):
        s.children = []
        while stack and not (s.start >= stack[-1].start and s.end <= stack[-1].end):
            stack.pop()
        (stack[-1].children if stack else roots).append(s)
        stack.append(s)
    return roots


def _covered(lo: float, hi: float, intervals: list[tuple[float, float]]) -> float:
    """Length of ``[lo, hi]`` covered by the union of ``intervals``."""
    total, cur = 0.0, lo
    for a, b in sorted(intervals):
        a, b = max(a, cur), min(b, hi)
        if b > a:
            total += b - a
            cur = b
    return total


def self_times(roots: list[Span]) -> dict[str, float]:
    """Per span name: Σ(duration − the part of it its children cover)."""
    out: dict[str, float] = {}

    def walk(s: Span) -> None:
        own = s.dur - _covered(s.start, s.end, [(c.start, c.end) for c in s.children])
        out[s.name] = out.get(s.name, 0.0) + own
        for c in s.children:
            walk(c)

    for r in roots:
        walk(r)
    return out


def attach_jobs(roots: list[Span], jobs: list[Job]) -> None:
    """Attribute each job to the innermost span that contains its start
    (the span that submitted it). A job that outlives its span stays
    with that span; its tail is not double-counted, because
    :func:`driver_self_s` clips every job to the span it measures."""

    def innermost(spans: list[Span], t: float) -> Span | None:
        for s in spans:
            if s.start <= t <= s.end:
                return innermost(s.children, t) or s
        return None

    for j in jobs:
        s = innermost(roots, j.start)
        if s is not None:
            s.jobs.append(j)


def subtree_jobs(s: Span) -> list[Job]:
    out = list(s.jobs)
    for c in s.children:
        out.extend(subtree_jobs(c))
    return out


def driver_self_s(span: Span, jobs: list[Job]) -> float:
    """Wall time of ``span`` covered by no Spark job: plan building,
    py4j, file renames."""
    return span.dur - _covered(span.start, span.end, [(j.start, j.end) for j in jobs])


def parse_event_logs(log_dir: str) -> list[Job]:
    """Jobs with their task counters from every Spark event log under
    ``log_dir`` (uncompressed JSON lines, one ``events_*`` file per
    application or rolled segment). A stage's tasks belong to the
    first job that lists the stage; later jobs only skip it."""
    jobs: list[Job] = []
    for path in sorted(glob.glob(f"{log_dir}/**/events_*", recursive=True)):
        by_id: dict[int, Job] = {}
        stage_job: dict[int, Job] = {}
        with open(path) as f:
            for line in f:
                ev = json.loads(line)
                kind = ev.get("Event")
                if kind == "SparkListenerJobStart":
                    j = Job(ev["Submission Time"] / 1e3, ev["Submission Time"] / 1e3)
                    by_id[ev["Job ID"]] = j
                    for sid in ev.get("Stage IDs", []):
                        stage_job.setdefault(sid, j)
                elif kind == "SparkListenerJobEnd":
                    j = by_id.get(ev["Job ID"])
                    if j is not None:
                        j.end = ev["Completion Time"] / 1e3
                elif kind == "SparkListenerTaskEnd":
                    j = stage_job.get(ev["Stage ID"])
                    m = ev.get("Task Metrics")
                    if j is None or not m:
                        continue
                    j.tasks += 1
                    j.task_s += m.get("Executor Run Time", 0) / 1e3
                    j.task_cpu_s += m.get("Executor CPU Time", 0) / 1e9
                    j.gc_s += m.get("JVM GC Time", 0) / 1e3
                    sw = m.get("Shuffle Write Metrics", {})
                    j.shuffle_bytes += sw.get("Shuffle Bytes Written", 0)
                    j.spill_bytes += m.get("Memory Bytes Spilled", 0) + m.get(
                        "Disk Bytes Spilled", 0
                    )
        jobs.extend(by_id.values())
    return jobs


def spark_counters(ops: list[Span], cores: int) -> dict[str, float]:
    """Spark execution counters summed over the timed operations' spans
    (rounds or repeats), with their jobs attached."""
    jobs = [j for s in ops for j in subtree_jobs(s)]
    wall = sum(s.dur for s in ops)
    task_s = sum(j.task_s for j in jobs)
    return {
        "spark.jobs": len(jobs),
        "spark.tasks": sum(j.tasks for j in jobs),
        "spark.task_s": task_s,
        "spark.task_cpu_s": sum(j.task_cpu_s for j in jobs),
        "spark.gc_s": sum(j.gc_s for j in jobs),
        "spark.shuffle_bytes": sum(j.shuffle_bytes for j in jobs),
        "spark.spill_bytes": sum(j.spill_bytes for j in jobs),
        "spark.busy_share": task_s / (cores * wall) if wall else 0.0,
        "driver.self_s": sum(driver_self_s(s, subtree_jobs(s)) for s in ops),
    }
