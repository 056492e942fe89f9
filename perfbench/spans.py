"""Traced mode: spans around the engine's public calls, Spark's event log,
and the attribution of Spark work to spans.

Spans are recorded from the benchmark's own files by wrapping module
attributes for the duration of a traced run (``Tracer.patch``); the
engine itself is not modified. ``foreachBatch`` bodies run on the
stream's own thread, so the span stack is shared by all threads rather
than thread-local: every loop here is closed and issues one call at a
time, so at most one thread is inside a span at any moment.

Spark jobs are assigned to the innermost span whose interval contains
the job's submission time; stages and tasks follow their job. Job groups
cannot be used instead, because a group set by the caller never reaches
the stream thread's jobs.
"""

from __future__ import annotations

import json
import os
import threading
import time
from dataclasses import dataclass, field
from pathlib import Path

# ---------------------------------------------------------------------------
# Spans
# ---------------------------------------------------------------------------


@dataclass
class Span:
    name: str
    start: float  # epoch seconds
    end: float = 0.0
    parent: int | None = None
    step: int | None = None  # index of the timed step it belongs to
    counts: dict[str, float] = field(default_factory=dict)

    @property
    def wall(self) -> float:
        return self.end - self.start


class Tracer:
    """In-memory span recorder; spans are aggregated when the run ends."""

    def __init__(self) -> None:
        self.spans: list[Span] = []
        self._stack: list[int] = []
        self._lock = threading.Lock()
        self.step: int | None = None

    def begin(self, name: str) -> int:
        with self._lock:
            parent = self._stack[-1] if self._stack else None
            self.spans.append(Span(name, time.time(), parent=parent, step=self.step))
            idx = len(self.spans) - 1
            self._stack.append(idx)
            return idx

    def end(self, idx: int) -> None:
        with self._lock:
            self.spans[idx].end = time.time()
            self._stack.remove(idx)

    def add(self, idx: int, key: str, value: float) -> None:
        c = self.spans[idx].counts
        c[key] = c.get(key, 0) + value

    def wrap(self, name: str, fn, after=None):
        """``fn`` recorded as span ``name``; ``after(idx, args, kwargs,
        result)`` may attach counts once the call returns."""

        def wrapped(*args, **kwargs):
            idx = self.begin(name)
            try:
                out = fn(*args, **kwargs)
            finally:
                self.end(idx)
            if after is not None:
                after(idx, args, kwargs, out)
            return out

        wrapped.__wrapped__ = fn
        return wrapped

    def patch(self, targets: list[tuple[object, str, str, object]]) -> "Patches":
        """Replace ``module.attr`` with a recording wrapper for each
        ``(module, attr, span name, after)``; undo with ``Patches.undo``."""
        saved = []
        for mod, attr, name, after in targets:
            orig = getattr(mod, attr)
            saved.append((mod, attr, orig))
            setattr(mod, attr, self.wrap(name, orig, after))
        return Patches(saved)


@dataclass
class Patches:
    saved: list

    def undo(self) -> None:
        for mod, attr, orig in reversed(self.saved):
            setattr(mod, attr, orig)
        self.saved = []


def self_time(spans: list[Span], idx: int) -> float:
    """Span wall time minus the part of it that its child spans cover."""
    s = spans[idx]
    kids = [(c.start, c.end) for c in spans if c.parent == idx]
    return s.wall - union_length(kids, s.start, s.end)


def union_length(intervals, lo: float, hi: float) -> float:
    """Length of the union of ``intervals`` clipped to ``[lo, hi]``."""
    total, cur_s, cur_e = 0.0, None, None
    for s, e in sorted((max(s, lo), min(e, hi)) for s, e in intervals):
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


# ---------------------------------------------------------------------------
# Event log
# ---------------------------------------------------------------------------


@dataclass
class Job:
    job_id: int
    submit: float  # epoch seconds
    end: float = 0.0
    stage_ids: list[int] = field(default_factory=list)


@dataclass
class StageWork:
    tasks: int = 0
    run_s: float = 0.0
    cpu_s: float = 0.0
    gc_s: float = 0.0
    shuffle_bytes: int = 0  # shuffle bytes written
    bytes_written: int = 0
    records_written: int = 0


@dataclass
class EventLog:
    jobs: dict[int, Job] = field(default_factory=dict)
    stages: dict[int, StageWork] = field(default_factory=dict)  # executed stages only


def event_files(log_dir: str | Path, app_id: str) -> list[Path]:
    """The files of one application's uncompressed event log, in order:
    a single file, or the parts of a rolling log directory."""
    log_dir = Path(log_dir)
    rolled = log_dir / f"eventlog_v2_{app_id}"
    if rolled.is_dir():
        parts = [p for p in rolled.iterdir() if p.name.startswith("events_")]
        return sorted(parts, key=lambda p: int(p.name.split("_")[1]))
    return [p for p in (log_dir / app_id, log_dir / f"{app_id}.inprogress") if p.exists()]


def parse_event_log(files: list[Path]) -> EventLog:
    """Jobs, executed stages and per-stage task totals from JSON-lines
    event log files. Unknown events and fields are ignored."""
    log = EventLog()
    for path in files:
        with open(path, encoding="utf-8") as f:
            for line in f:
                ev = json.loads(line)
                kind = ev.get("Event")
                if kind == "SparkListenerJobStart":
                    jid = ev["Job ID"]
                    log.jobs[jid] = Job(jid, ev["Submission Time"] / 1000, stage_ids=list(ev.get("Stage IDs", [])))
                elif kind == "SparkListenerJobEnd":
                    if ev["Job ID"] in log.jobs:
                        log.jobs[ev["Job ID"]].end = ev["Completion Time"] / 1000
                elif kind == "SparkListenerStageCompleted":
                    log.stages.setdefault(ev["Stage Info"]["Stage ID"], StageWork())
                elif kind == "SparkListenerTaskEnd":
                    m = ev.get("Task Metrics") or {}
                    w = log.stages.setdefault(ev["Stage ID"], StageWork())
                    w.tasks += 1
                    w.run_s += m.get("Executor Run Time", 0) / 1000
                    w.cpu_s += m.get("Executor CPU Time", 0) / 1e9
                    w.gc_s += m.get("JVM GC Time", 0) / 1000
                    w.shuffle_bytes += (m.get("Shuffle Write Metrics") or {}).get("Shuffle Bytes Written", 0)
                    out = m.get("Output Metrics") or {}
                    w.bytes_written += out.get("Bytes Written", 0)
                    w.records_written += out.get("Records Written", 0)
    return log


@dataclass
class SparkWork:
    """Spark work attributed to one span (its own jobs only)."""

    jobs: int = 0
    stages: int = 0
    intervals: list[tuple[float, float]] = field(default_factory=list)
    work: StageWork = field(default_factory=StageWork)

    def absorb(self, other: "SparkWork") -> None:
        self.jobs += other.jobs
        self.stages += other.stages
        self.intervals += other.intervals
        for k in vars(self.work):
            setattr(self.work, k, getattr(self.work, k) + getattr(other.work, k))


def attribute(spans: list[Span], log: EventLog) -> list[SparkWork]:
    """Per span, the Spark work it caused *inclusive* of its child spans.
    A job belongs to the innermost span open at its submission time."""
    own = [SparkWork() for _ in spans]
    # a reused shuffle stage is listed by every later job that reads it,
    # but it ran once: give it to the first job that lists it
    stage_job: dict[int, int] = {}
    for jid in sorted(log.jobs):
        for sid in log.jobs[jid].stage_ids:
            stage_job.setdefault(sid, jid)
    for job in log.jobs.values():
        best = None
        for i, s in enumerate(spans):
            if s.start <= job.submit <= s.end and (
                best is None or s.start >= spans[best].start
            ):
                best = i
        if best is None:
            continue
        w = own[best]
        w.jobs += 1
        w.intervals.append((job.submit, job.end or job.submit))
        for sid in job.stage_ids:
            # skipped stages never complete, so have no recorded work
            if sid in log.stages and stage_job[sid] == job.job_id:
                w.stages += 1
                w.absorb(SparkWork(work=log.stages[sid]))
    inclusive = [SparkWork() for _ in spans]
    for i in range(len(spans)):
        j: int | None = i
        while j is not None:  # add own work to every ancestor
            inclusive[j].absorb(own[i])
            j = spans[j].parent
    return inclusive


def driver_time(span: Span, work: SparkWork) -> float:
    """Span wall time outside every Spark job it caused."""
    return span.wall - union_length(work.intervals, span.start, span.end)


def spark_conf(log_dir: str | Path) -> dict[str, str]:
    """Session settings that turn the event log on. zstd, the default
    codec, needs a module this benchmark cannot rely on, so the log is
    written uncompressed."""
    os.makedirs(log_dir, exist_ok=True)
    return {
        "spark.eventLog.enabled": "true",
        "spark.eventLog.dir": str(log_dir),
        "spark.eventLog.compress": "false",
    }
