"""Spans around calls into the program, and Spark telemetry per span.

The tracer patches public functions of the program at the names their
callers look up, records one span per call (name, start, end, parent,
op id) in memory, and tags the Spark jobs each span runs with a job
group of its own. After the run, ``read_event_log`` turns Spark's event
log into per-job, per-stage and per-task records, and ``op_layers``
folds spans and jobs into per-op layer figures.

Nothing here imports Spark at module level, so the span arithmetic is
testable on its own.
"""

from __future__ import annotations

import contextlib
import functools
import importlib
import json
import os
import threading
import time
from dataclasses import asdict, dataclass, field


@dataclass
class Span:
    sid: int
    name: str
    op: int
    parent: int | None
    start: float
    end: float = 0.0
    group: str | None = None

    @property
    def dur(self) -> float:
        return self.end - self.start


class Tracer:
    """In-memory span recorder.

    ``set_group`` is called with a job-group id on span entry and with
    the parent's id on exit; it is only called from the thread that
    opened the op, because Spark job groups are thread-local. A span
    opened on another thread with nothing open there (a streaming
    query's ``foreachBatch`` runs on a callback thread) is a child of
    the span the main thread has open.
    """

    def __init__(self, set_group=None):
        self.spans: list[Span] = []
        self.op = 0
        self._stack = threading.local()
        self._main = threading.get_ident()
        self._main_frames = self._frames()
        self._set_group = set_group
        self._patches: list[tuple[object, str, object]] = []
        self.missing: list[str] = []

    def _frames(self) -> list[Span]:
        if not hasattr(self._stack, "frames"):
            self._stack.frames = []
        return self._stack.frames

    def open(self, name: str) -> Span:
        frames = self._frames()
        outer = frames or self._main_frames
        parent = outer[-1].sid if outer else None
        span = Span(len(self.spans), name, self.op, parent, time.time())
        self.spans.append(span)
        if self._set_group and threading.get_ident() == self._main:
            span.group = f"perfbench-{span.sid}"
            self._set_group(span.group)
        frames.append(span)
        return span

    def close(self, span: Span) -> None:
        span.end = time.time()
        frames = self._frames()
        frames.pop()
        if span.group is not None:
            outer = next((f.group for f in reversed(frames) if f.group), None)
            self._set_group(outer or "")

    @contextlib.contextmanager
    def span(self, name: str):
        s = self.open(name)
        try:
            yield s
        finally:
            self.close(s)

    def wrap(self, target: str, name: str) -> None:
        """Patch ``module.attr`` or ``module.Class.attr`` so each call
        records a span ``name``. A target that no longer exists is
        recorded in ``missing`` and reads as a zero-call span."""
        mod_name, _, rest = target.partition(":")
        try:
            owner = importlib.import_module(mod_name)
            *path, attr = rest.split(".")
            for part in path:
                owner = getattr(owner, part)
            orig = getattr(owner, attr)
        except (ImportError, AttributeError):
            if target not in self.missing:
                self.missing.append(target)
            return

        @functools.wraps(orig)
        def wrapper(*args, **kwargs):
            with self.span(name):
                return orig(*args, **kwargs)

        setattr(owner, attr, wrapper)
        self._patches.append((owner, attr, orig))

    def unpatch(self) -> None:
        for owner, attr, orig in reversed(self._patches):
            setattr(owner, attr, orig)
        self._patches.clear()

    def dump(self) -> list[dict]:
        return [asdict(s) for s in self.spans]


def self_time(span: Span, children: list[Span]) -> float:
    """``span``'s duration minus the part of it its children cover."""
    ivs = sorted(
        (max(c.start, span.start), min(c.end, span.end))
        for c in children
        if c.end > span.start and c.start < span.end
    )
    return span.dur - union_length(ivs)


def union_length(ivs) -> float:
    total, cur_s, cur_e = 0.0, None, None
    for s, e in sorted(ivs):
        if cur_e is None or s > cur_e:
            if cur_e is not None:
                total += cur_e - cur_s
            cur_s, cur_e = s, e
        else:
            cur_e = max(cur_e, e)
    if cur_e is not None:
        total += cur_e - cur_s
    return total


# ------------------------------------------------------------ event log


@dataclass
class Job:
    jid: int
    group: str
    submit: float  # epoch seconds
    end: float = 0.0
    stages: list[int] = field(default_factory=list)


@dataclass
class EventLog:
    jobs: dict[int, Job] = field(default_factory=dict)
    # stage id -> job group of the stage's submission
    stage_group: dict[int, str] = field(default_factory=dict)
    # per-task rows: (stage id, run s, gc s, shuffle write B, shuffle read B, spill B)
    tasks: list[tuple] = field(default_factory=list)


def read_event_log(log_dir: str) -> EventLog:
    """Parse every uncompressed event-log file under ``log_dir``."""
    out = EventLog()
    for base, _, names in sorted(os.walk(log_dir)):
        for name in sorted(names):
            with open(os.path.join(base, name), encoding="utf-8") as fh:
                for line in fh:
                    try:
                        ev = json.loads(line)
                    except ValueError:  # a line cut short by a crash
                        continue
                    _fold(out, ev)
    return out


def _fold(out: EventLog, ev: dict) -> None:
    kind = ev.get("Event")
    if kind == "SparkListenerJobStart":
        props = ev.get("Properties") or {}
        jid = ev["Job ID"]
        out.jobs[jid] = Job(
            jid,
            props.get("spark.jobGroup.id") or "",
            ev.get("Submission Time", 0) / 1000.0,
            stages=list(ev.get("Stage IDs", [])),
        )
    elif kind == "SparkListenerJobEnd":
        job = out.jobs.get(ev["Job ID"])
        if job is not None:
            job.end = ev.get("Completion Time", 0) / 1000.0
    elif kind == "SparkListenerStageSubmitted":
        props = ev.get("Properties") or {}
        sid = ev["Stage Info"]["Stage ID"]
        out.stage_group[sid] = props.get("spark.jobGroup.id") or ""
    elif kind == "SparkListenerTaskEnd":
        m = ev.get("Task Metrics") or {}
        sw = m.get("Shuffle Write Metrics") or {}
        sr = m.get("Shuffle Read Metrics") or {}
        out.tasks.append(
            (
                ev["Stage ID"],
                m.get("Executor Run Time", 0) / 1000.0,
                m.get("JVM GC Time", 0) / 1000.0,
                sw.get("Shuffle Bytes Written", 0),
                sr.get("Remote Bytes Read", 0) + sr.get("Local Bytes Read", 0),
                m.get("Disk Bytes Spilled", 0),
            )
        )


def spark_figures(log: EventLog, groups: set[str], t0: float, t1: float) -> dict:
    """Job, stage and task figures for the jobs whose group is in
    ``groups``, plus the part of [t0, t1] with no such job running."""
    jobs = [j for j in log.jobs.values() if j.group in groups]
    stages = {s for s, g in log.stage_group.items() if g in groups}
    tasks = [t for t in log.tasks if t[0] in stages]
    busy = union_length(
        (max(j.submit, t0), min(j.end or t1, t1)) for j in jobs if (j.end or t1) > t0 and j.submit < t1
    )
    mb = 1024.0 * 1024.0
    return {
        "spark.jobs": len(jobs),
        "spark.stages": len(stages),
        "spark.tasks": len(tasks),
        "spark.driver_gap_s": (t1 - t0) - busy,
        "spark.executor_run_s": sum(t[1] for t in tasks),
        "spark.gc_s": sum(t[2] for t in tasks),
        "spark.shuffle_write_mb": sum(t[3] for t in tasks) / mb,
        "spark.shuffle_read_mb": sum(t[4] for t in tasks) / mb,
        "spark.spill_mb": sum(t[5] for t in tasks) / mb,
    }


def subtree(spans: list[Span], root: Span) -> list[Span]:
    """``root`` and every span below it."""
    kids: dict[int, list[Span]] = {}
    for s in spans:
        if s.parent is not None:
            kids.setdefault(s.parent, []).append(s)
    out, todo = [], [root]
    while todo:
        s = todo.pop()
        out.append(s)
        todo.extend(kids.get(s.sid, []))
    return out


def layer_figures(spans: list[Span], log: EventLog, root: Span) -> dict:
    """Per-name call time, self time and job count over one op's spans.

    Returns ``{name: {"calls", "s", "self_s", "jobs"}}`` where ``s`` is
    the summed duration of the name's calls, ``self_s`` that minus the
    time their child spans cover, and ``jobs`` the Spark jobs run under
    the name's calls and their children.
    """
    mine = subtree(spans, root)
    kids: dict[int, list[Span]] = {}
    for s in mine:
        if s.parent is not None:
            kids.setdefault(s.parent, []).append(s)
    jobs_by_group: dict[str, int] = {}
    for j in log.jobs.values():
        jobs_by_group[j.group] = jobs_by_group.get(j.group, 0) + 1
    out: dict[str, dict] = {}
    for s in mine:
        row = out.setdefault(s.name, {"calls": 0, "s": 0.0, "self_s": 0.0, "jobs": 0})
        row["calls"] += 1
        row["s"] += s.dur
        row["self_s"] += self_time(s, kids.get(s.sid, []))
        row["jobs"] += sum(jobs_by_group.get(x.group, 0) for x in subtree(mine, s) if x.group)
    return out
