"""Spans, self time, Spark event-log parsing and summary statistics.

The traced run records spans from outside the package: :class:`Tracer`
replaces public functions *as they are bound in their calling modules* (for
example ``plans.pipeline.expression_wide_to_long``) with wrappers that open a
span, and restores them afterwards. Every span sets its own Spark job group,
so each Spark job -- and through it each stage and task in the event log --
belongs to exactly one span. Spans are kept in memory and read after the run.
"""
from __future__ import annotations

import contextlib
import dataclasses
import functools
import json
import math
import pathlib
import time
from collections.abc import Callable, Iterable, Iterator
from typing import Any

# -- summary statistics --------------------------------------------------------


def percentile(values: Iterable[float], q: float) -> float:
    """Linear-interpolated percentile (numpy's default method), q in [0, 100]."""
    xs = sorted(values)
    if not xs:
        raise ValueError("percentile of an empty sample")
    pos = (len(xs) - 1) * q / 100.0
    lo = math.floor(pos)
    hi = min(lo + 1, len(xs) - 1)
    return xs[lo] + (xs[hi] - xs[lo]) * (pos - lo)


def median(values: Iterable[float]) -> float:
    return percentile(values, 50.0)


def tail_percentile(n: int) -> int | None:
    """Highest whole percentile with at least ten samples beyond it, or None
    when the sample is too small to support any tail above the median."""
    if n <= 10:
        return None
    p = math.floor(100.0 * (n - 10) / n)
    return p if p > 50 else None


# -- spans ---------------------------------------------------------------------


@dataclasses.dataclass
class Span:
    sid: int
    parent: int | None
    name: str
    op: int
    start: float  # epoch seconds, comparable with event-log timestamps
    end: float
    group: str
    result: Any = None

    @property
    def duration(self) -> float:
        return self.end - self.start


def _union_length(intervals: list[tuple[float, float]]) -> float:
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
    """Span id -> duration minus the part of it its child spans cover."""
    children: dict[int, list[tuple[float, float]]] = {}
    for s in spans:
        if s.parent is not None:
            children.setdefault(s.parent, []).append((s.start, s.end))
    return {
        s.sid: max(0.0, s.duration - _union_length(children.get(s.sid, [])))
        for s in spans
    }


def subtree(spans: list[Span], root: int) -> set[int]:
    """Ids of ``root`` and every span below it."""
    below: dict[int, list[int]] = {}
    for s in spans:
        if s.parent is not None:
            below.setdefault(s.parent, []).append(s.sid)
    out, todo = set(), [root]
    while todo:
        sid = todo.pop()
        out.add(sid)
        todo.extend(below.get(sid, []))
    return out


class Tracer:
    """In-memory span recorder that tags Spark jobs with per-span groups."""

    def __init__(self, spark_context, prefix: str = "pb"):
        self._sc = spark_context
        self._prefix = prefix
        self._stack: list[Span] = []
        self._patches: list[tuple[Any, str, Any]] = []
        self.spans: list[Span] = []
        self.op = -1

    def _set_group(self, span: Span | None) -> None:
        if span is None:
            self._sc.setLocalProperty("spark.jobGroup.id", None)
            self._sc.setLocalProperty("spark.job.description", None)
        else:
            self._sc.setJobGroup(span.group, span.name)

    @contextlib.contextmanager
    def span(self, name: str) -> Iterator[Span]:
        sid = len(self.spans)
        parent = self._stack[-1] if self._stack else None
        s = Span(
            sid, parent.sid if parent else None, name, self.op,
            time.time(), 0.0, f"{self._prefix}-{self.op}-{sid}",
        )
        self.spans.append(s)
        self._stack.append(s)
        self._set_group(s)
        try:
            yield s
        finally:
            s.end = time.time()
            self._stack.pop()
            self._set_group(parent)

    def wrap(self, owner: Any, attr: str, name: str) -> None:
        """Replace ``owner.attr`` by a spanned wrapper until :meth:`unwrap`.
        The wrapped call's return value is kept on the span."""
        original = getattr(owner, attr)

        @functools.wraps(original)
        def traced(*args, **kwargs):
            with self.span(name) as s:
                s.result = original(*args, **kwargs)
                return s.result

        self._patches.append((owner, attr, original))
        setattr(owner, attr, traced)

    def unwrap(self) -> None:
        while self._patches:
            owner, attr, original = self._patches.pop()
            setattr(owner, attr, original)

    @contextlib.contextmanager
    def installed(self, targets: list[tuple[Any, str, str]], op: int) -> Iterator[None]:
        self.op = op
        for owner, attr, name in targets:
            self.wrap(owner, attr, name)
        try:
            yield
        finally:
            self.unwrap()


# -- Spark event log -----------------------------------------------------------


@dataclasses.dataclass
class StageRecord:
    stage_id: int
    group: str | None
    submitted: float
    completed: float
    scopes: set[str]
    tasks: int = 0
    tasks_failed: int = 0
    run_s: float = 0.0
    cpu_s: float = 0.0
    gc_s: float = 0.0
    input_bytes: int = 0
    shuffle_write_bytes: int = 0
    spill_bytes: int = 0
    longest_task_s: float = 0.0

    @property
    def wall(self) -> float:
        return self.completed - self.submitted


@dataclasses.dataclass
class JobRecord:
    job_id: int
    group: str | None
    submitted: float
    completed: float = 0.0


@dataclasses.dataclass
class EventLog:
    jobs: dict[int, JobRecord]
    stages: dict[int, StageRecord]
    #: peak bytes of cached RDD blocks while jobs of each group ran
    peak_cached_bytes: dict[str | None, int]


def _scope_name(rdd_info: dict) -> str | None:
    scope = rdd_info.get("Scope")
    if not scope:
        return None
    try:
        return json.loads(scope).get("name", "").strip()
    except ValueError:
        return None


def parse_event_log(lines: Iterable[str]) -> EventLog:
    """Fold a Spark JSON event log into per-job and per-stage records.

    Times become epoch seconds. A stage belongs to the job group of the first
    job that listed it; cached-block sizes are attributed to the group of the
    most recent job start, since block updates carry no timestamp."""
    jobs: dict[int, JobRecord] = {}
    stage_group: dict[int, str | None] = {}
    stages: dict[int, StageRecord] = {}
    tasks: dict[int, list[dict]] = {}
    blocks: dict[str, int] = {}
    cached = 0
    current: str | None = None
    peak: dict[str | None, int] = {}
    for line in lines:
        if not line.strip():
            continue
        e = json.loads(line)
        kind = e.get("Event")
        if kind == "SparkListenerJobStart":
            group = (e.get("Properties") or {}).get("spark.jobGroup.id")
            jobs[e["Job ID"]] = JobRecord(e["Job ID"], group, e["Submission Time"] / 1e3)
            for sid in e.get("Stage IDs", []):
                stage_group.setdefault(sid, group)
            current = group
            peak[current] = max(peak.get(current, 0), cached)
        elif kind == "SparkListenerJobEnd":
            job = jobs.get(e["Job ID"])
            if job is not None:
                job.completed = e["Completion Time"] / 1e3
        elif kind == "SparkListenerTaskEnd":
            tasks.setdefault(e["Stage ID"], []).append(e)
        elif kind == "SparkListenerStageCompleted":
            info = e["Stage Info"]
            sid = info["Stage ID"]
            rec = StageRecord(
                sid,
                stage_group.get(sid),
                info.get("Submission Time", 0) / 1e3,
                info.get("Completion Time", 0) / 1e3,
                {n for n in map(_scope_name, info.get("RDD Info", [])) if n},
            )
            for t in tasks.pop(sid, []):
                ti = t.get("Task Info", {})
                tm = t.get("Task Metrics") or {}
                rec.tasks += 1
                rec.tasks_failed += bool(ti.get("Failed"))
                rec.run_s += tm.get("Executor Run Time", 0) / 1e3
                rec.cpu_s += tm.get("Executor CPU Time", 0) / 1e9
                rec.gc_s += tm.get("JVM GC Time", 0) / 1e3
                rec.input_bytes += (tm.get("Input Metrics") or {}).get("Bytes Read", 0)
                rec.shuffle_write_bytes += (tm.get("Shuffle Write Metrics") or {}).get(
                    "Shuffle Bytes Written", 0
                )
                rec.spill_bytes += tm.get("Memory Bytes Spilled", 0) + tm.get(
                    "Disk Bytes Spilled", 0
                )
                rec.longest_task_s = max(
                    rec.longest_task_s,
                    (ti.get("Finish Time", 0) - ti.get("Launch Time", 0)) / 1e3,
                )
            stages[sid] = rec
        elif kind == "SparkListenerBlockUpdated":
            info = e["Block Updated Info"]
            block = info["Block ID"]
            if block.startswith("rdd_"):
                size = info.get("Memory Size", 0) + info.get("Disk Size", 0)
                cached += size - blocks.get(block, 0)
                blocks[block] = size
                peak[current] = max(peak.get(current, 0), cached)
    return EventLog(jobs, stages, peak)


def read_event_log(directory: pathlib.Path) -> EventLog:
    """Parse the single uncompressed, non-rolling log a stopped app leaves."""
    files = sorted(p for p in directory.iterdir() if p.is_file())
    if len(files) != 1:
        raise RuntimeError(f"expected one event log in {directory}, found {len(files)}")
    with open(files[0]) as f:
        return parse_event_log(f)


# -- span x event-log aggregation ---------------------------------------------


@dataclasses.dataclass
class SparkTotals:
    jobs: int = 0
    job_s: float = 0.0
    stages: int = 0
    tasks: int = 0
    tasks_failed: int = 0
    run_s: float = 0.0
    cpu_s: float = 0.0
    gc_s: float = 0.0
    input_bytes: int = 0
    shuffle_write_bytes: int = 0
    spill_bytes: int = 0


def totals(log: EventLog, groups: set[str], stage_filter: Callable[[StageRecord], bool] | None = None) -> SparkTotals:
    out = SparkTotals()
    for job in log.jobs.values():
        if job.group in groups:
            out.jobs += 1
            out.job_s += max(0.0, job.completed - job.submitted)
    for st in log.stages.values():
        if st.group in groups and (stage_filter is None or stage_filter(st)):
            out.stages += 1
            out.tasks += st.tasks
            out.tasks_failed += st.tasks_failed
            out.run_s += st.run_s
            out.cpu_s += st.cpu_s
            out.gc_s += st.gc_s
            out.input_bytes += st.input_bytes
            out.shuffle_write_bytes += st.shuffle_write_bytes
            out.spill_bytes += st.spill_bytes
    return out


def stages_of(log: EventLog, groups: set[str]) -> list[StageRecord]:
    return [st for st in log.stages.values() if st.group in groups]
