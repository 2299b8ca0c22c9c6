"""Benchmark-side tracing: spans around the package's layer entry points.

Every span runs under its own Spark job group, so the jobs, stages and
tasks it launched can be read back from ``SparkContext.statusTracker()``
(counts) and from Spark's uncompressed event log (task busy time, GC,
shuffle and spill). Spans are kept in memory and folded into per-layer
metrics after the run; nothing here edits or imports-time-patches the
package: ``Tracer.install`` swaps module attributes and ``uninstall``
restores them.
"""

from __future__ import annotations

import contextlib
import functools
import json
import os
import statistics
import threading
import time
from dataclasses import dataclass, field

GROUP_PROP = "spark.jobGroup.id"
DESC_PROP = "spark.job.description"


@dataclass
class Span:
    name: str
    gid: str
    parent: "Span | None"
    start: float
    end: float = 0.0
    children: list = field(default_factory=list)
    tail: "Span | None" = None  # phase opened when a call returned, see Tracer.wrap
    info: dict = field(default_factory=dict)
    jobs: list = field(default_factory=list)  # job ids launched under this span's own group

    @property
    def seconds(self) -> float:
        return self.end - self.start

    def walk(self):
        yield self
        for c in self.children:
            yield from c.walk()

    def all_jobs(self) -> list:
        return [j for s in self.walk() for j in s.jobs]


class Tracer:
    """Span stack bound to one SparkContext. Not thread-safe: the benchmark
    issues one call at a time."""

    def __init__(self, sc):
        self.sc = sc
        self.stack: list[Span] = []
        self._n = 0
        self._patched: list[tuple[object, str, object]] = []

    # -- spans ------------------------------------------------------------
    def _open(self, name: str) -> Span:
        parent = self.stack[-1] if self.stack else None
        if parent is not None:
            self._close_tail(parent)
        self._n += 1
        span = Span(name, f"perfbench-{self._n}-{name}", parent, time.perf_counter())
        if parent is not None:
            parent.children.append(span)
        self.stack.append(span)
        self.sc.setLocalProperty(GROUP_PROP, span.gid)
        self.sc.setLocalProperty(DESC_PROP, name)
        return span

    def _close(self, span: Span) -> None:
        self._close_tail(span)
        span.end = time.perf_counter()
        self.stack.pop()
        parent = self.stack[-1] if self.stack else None
        self.sc.setLocalProperty(GROUP_PROP, parent.gid if parent else None)
        self.sc.setLocalProperty(DESC_PROP, parent.name if parent else None)

    def _close_tail(self, span: Span) -> None:
        if span.tail is not None:
            tail, span.tail = span.tail, None
            self.stack.append(tail)
            self._close(tail)

    @contextlib.contextmanager
    def span(self, name: str):
        s = self._open(name)
        try:
            yield s
        finally:
            self._close(s)

    def wrap(self, fn, name: str, tail: str | None = None):
        """Span around every call of ``fn``. With ``tail``, a second span
        named ``tail`` opens when the call returns and stays open, as a
        sibling, until the caller's span starts another child or ends: it
        times the work the caller does with the returned value."""

        @functools.wraps(fn)
        def traced(*args, **kwargs):
            span = self._open(name)
            try:
                out = fn(*args, **kwargs)
                span.info["result"] = out
                return out
            finally:
                self._close(span)
                parent = self.stack[-1] if self.stack else None
                if tail is not None and parent is not None:
                    t = self._open(tail)
                    self.stack.pop()  # stays open, but not on the stack
                    parent.tail = t
                    self.sc.setLocalProperty(GROUP_PROP, t.gid)
                    self.sc.setLocalProperty(DESC_PROP, tail)

        return traced

    def install(self, module, attr: str, name: str, tail: str | None = None) -> None:
        orig = getattr(module, attr)
        self._patched.append((module, attr, orig))
        setattr(module, attr, self.wrap(orig, name, tail))

    def uninstall(self) -> None:
        for module, attr, orig in reversed(self._patched):
            setattr(module, attr, orig)
        self._patched.clear()

    # -- job/stage/task counts from the status tracker ---------------------
    def drain(self) -> None:
        """Wait until the listener bus has delivered every event, so the
        status tracker and the event log describe all finished jobs."""
        self.sc._jsc.sc().listenerBus().waitUntilEmpty()

    def collect_jobs(self, root: Span) -> None:
        self.drain()
        tracker = self.sc.statusTracker()
        for s in root.walk():
            s.jobs = sorted(tracker.getJobIdsForGroup(s.gid))
            tasks = 0
            for jid in s.jobs:
                job = tracker.getJobInfo(jid)
                for sid in job.stageIds if job else ():
                    st = tracker.getStageInfo(sid)
                    if st is not None:  # skipped stages ran no tasks
                        tasks += st.numCompletedTasks + st.numFailedTasks
            s.info["own_tasks"] = tasks

    @staticmethod
    def counts(span: Span) -> tuple[int, int]:
        """(jobs, tasks) of a span including its children."""
        spans = list(span.walk())
        return (
            sum(len(s.jobs) for s in spans),
            sum(s.info.get("own_tasks", 0) for s in spans),
        )


# -- Spark event log --------------------------------------------------------


@dataclass
class TaskRec:
    stage: int
    run_ms: int
    gc_ms: int
    shuffle_write: int
    spill: int


@dataclass
class JobRec:
    job: int
    submit: int = 0
    complete: int = 0


class EventLog:
    """Task and job records parsed from one uncompressed event log file."""

    def __init__(self, path: str):
        self.jobs: dict[int, JobRec] = {}
        self.stage_job: dict[int, int] = {}
        self.tasks: list[TaskRec] = []
        with open(path, encoding="utf-8") as f:
            for line in f:
                ev = json.loads(line)
                kind = ev.get("Event")
                if kind == "SparkListenerJobStart":
                    rec = JobRec(ev["Job ID"], ev.get("Submission Time", 0))
                    self.jobs[rec.job] = rec
                    for sid in ev.get("Stage IDs", []):
                        self.stage_job[sid] = rec.job
                elif kind == "SparkListenerJobEnd":
                    if ev["Job ID"] in self.jobs:
                        self.jobs[ev["Job ID"]].complete = ev.get("Completion Time", 0)
                elif kind == "SparkListenerTaskEnd":
                    m = ev.get("Task Metrics") or {}
                    sw = m.get("Shuffle Write Metrics") or {}
                    self.tasks.append(
                        TaskRec(
                            ev["Stage ID"],
                            m.get("Executor Run Time", 0),
                            m.get("JVM GC Time", 0),
                            sw.get("Shuffle Bytes Written", 0),
                            m.get("Disk Bytes Spilled", 0),
                        )
                    )

    def tasks_of(self, job_ids) -> list[TaskRec]:
        want = set(job_ids)
        return [t for t in self.tasks if self.stage_job.get(t.stage) in want]


def median(values) -> float:
    values = list(values)
    return statistics.median(values) if values else 0.0


# -- resident memory of the process tree -----------------------------------


def _children_map() -> dict[int, list[int]]:
    kids: dict[int, list[int]] = {}
    for entry in os.listdir("/proc"):
        if not entry.isdigit():
            continue
        try:
            with open(f"/proc/{entry}/stat", encoding="ascii", errors="replace") as f:
                ppid = int(f.read().rsplit(")", 1)[1].split()[1])
        except (OSError, IndexError, ValueError):
            continue
        kids.setdefault(ppid, []).append(int(entry))
    return kids


def descendants(pid: int) -> list[int]:
    kids = _children_map()
    out, todo = [], [pid]
    while todo:
        p = todo.pop()
        for c in kids.get(p, ()):
            out.append(c)
            todo.append(c)
    return out


def _rss_kib(pid: int) -> int:
    try:
        with open(f"/proc/{pid}/status", encoding="ascii", errors="replace") as f:
            for line in f:
                if line.startswith("VmRSS:"):
                    return int(line.split()[1])
    except OSError:
        pass
    return 0


def tree_cpu_s() -> float:
    """CPU seconds (user and system) this process and its descendants have
    used, those that exited included: a live process's ``cutime`` and
    ``cstime`` hold the time of the children it has waited for."""
    total = 0
    me = os.getpid()
    for pid in [me, *descendants(me)]:
        try:
            with open(f"/proc/{pid}/stat", encoding="ascii", errors="replace") as f:
                fields = f.read().rsplit(")", 1)[1].split()
        except OSError:
            continue
        total += sum(int(x) for x in fields[11:15])  # utime stime cutime cstime
    return total / os.sysconf("SC_CLK_TCK")


class RssSampler:
    """Peak summed RSS of this process and all its descendants (the JVM,
    Python workers and child commands), sampled every ``interval`` s."""

    def __init__(self, interval: float = 0.2):
        self.interval = interval
        self.peak_kib = 0
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._run, daemon=True)

    def _sample(self) -> None:
        me = os.getpid()
        total = sum(_rss_kib(p) for p in [me, *descendants(me)])
        self.peak_kib = max(self.peak_kib, total)

    def _run(self) -> None:
        while not self._stop.is_set():
            self._sample()
            self._stop.wait(self.interval)

    def __enter__(self):
        self._thread.start()
        return self

    def __exit__(self, *exc):
        self._stop.set()
        self._thread.join(timeout=10)
        self._sample()
        return False

    @property
    def peak_mib(self) -> float:
        return self.peak_kib / 1024.0
