"""Spans, Spark job tags and event-log attribution for the traced run.

A :class:`Tracer` records spans (name, start, end, parent, thread) around
the benchmark's calls into each layer. When tracing is on, entering a
span adds a Spark job tag ``pb<span id>`` on the calling thread, so every
job the span launches carries the tags of all its enclosing spans; the
innermost one owns the job. After the session stops, :func:`attribute`
reads the Spark event log (enabled only in the traced run) and sums,
per span, the jobs, stages and task metrics (run/CPU/GC time, shuffle,
spill, input/output, Python-boundary bytes, peak execution memory).

With tracing off every span is a no-op, no job tag is set and no event
log is written.
"""

from __future__ import annotations

import glob
import json
import os
import threading
import time
from contextlib import contextmanager
from dataclasses import dataclass, field

COUNTERS = (
    "jobs", "stages", "tasks", "executor_run_ms", "executor_cpu_ns", "gc_ms",
    "shuffle_write_bytes", "shuffle_read_bytes", "spill_bytes", "input_bytes",
    "input_records", "output_bytes", "output_records", "python_bytes",
)
PYTHON_ACCUMS = ("data sent to Python workers", "data returned from Python workers")


@dataclass
class Span:
    id: int
    name: str
    parent: int | None
    thread: str
    t0: float  # epoch seconds
    t1: float = 0.0
    attrs: dict = field(default_factory=dict)
    counters: dict = field(default_factory=lambda: dict.fromkeys(COUNTERS, 0))
    peak_memory: int = 0
    job_intervals: list = field(default_factory=list)  # (submit_s, end_s)

    @property
    def seconds(self) -> float:
        return self.t1 - self.t0


class Tracer:
    """Span recorder. ``enabled=False`` makes every span a no-op; when
    enabled, :meth:`bind` gives the SparkContext whose jobs get tagged."""

    def __init__(self, enabled: bool) -> None:
        self.enabled = enabled
        self.sc = None
        self.spans: list[Span] = []
        self._lock = threading.Lock()
        self._local = threading.local()

    def bind(self, sc) -> None:
        self.sc = sc

    def _stack(self) -> list[Span]:
        if not hasattr(self._local, "stack"):
            self._local.stack = []
        return self._local.stack

    def open(self, name: str, **attrs) -> Span | None:
        if not self.enabled:
            return None
        stack = self._stack()
        with self._lock:
            sp = Span(len(self.spans), name, stack[-1].id if stack else None,
                      threading.current_thread().name, time.time(), attrs=attrs)
            self.spans.append(sp)
        stack.append(sp)
        self.sc.addJobTag(f"pb{sp.id}")
        return sp

    def close(self, sp: Span | None) -> None:
        if sp is None:
            return
        self.sc.removeJobTag(f"pb{sp.id}")
        sp.t1 = time.time()
        stack = self._stack()
        if stack and stack[-1] is sp:
            stack.pop()

    @contextmanager
    def span(self, name: str, **attrs):
        sp = self.open(name, **attrs)
        try:
            yield sp
        finally:
            self.close(sp)

    def named(self, name: str) -> list[Span]:
        return [s for s in self.spans if s.name == name]

    def children(self, sp: Span) -> list[Span]:
        return [s for s in self.spans if s.parent == sp.id]

    def dump(self, path: str) -> None:
        os.makedirs(os.path.dirname(path), exist_ok=True)
        with open(path, "w") as fh:
            json.dump([{
                "id": s.id, "name": s.name, "parent": s.parent, "thread": s.thread,
                "t0": s.t0, "t1": s.t1, "seconds": round(s.seconds, 6),
                "self_seconds": round(self_seconds(self, s), 6), "attrs": s.attrs,
                "counters": s.counters, "peak_memory": s.peak_memory,
                "inclusive": inclusive(self, s),
            } for s in self.spans], fh, indent=1, default=str)


class ModelTagger:
    """Wraps model builders so the jobs of each model's materialization
    carry a span of their own. The runner calls a model's ``build`` at the
    start of its materialization; the wrapper opens a span there and
    leaves it open until the next top-level build (or :meth:`finish`).
    Nested builds (upstream views resolved lazily) do not switch spans."""

    def __init__(self, tracer: Tracer) -> None:
        self.tracer = tracer
        self.current: Span | None = None
        self.depth = 0
        self.opened: list[Span] = []

    def wrap(self, model):
        import dataclasses
        import functools

        build = model.build

        @functools.wraps(build)
        def traced_build(resolve, ctx):
            if self.depth == 0:
                self.finish()
                self.current = self.tracer.open(f"model:{model.name}", layer=model.layer)
                self.opened.append(self.current)
            self.depth += 1
            try:
                return build(resolve, ctx)
            finally:
                self.depth -= 1

        return dataclasses.replace(model, build=traced_build)

    def finish(self, results: list | None = None) -> None:
        """Close the open model span. With the runner's ``results``, end
        each model span where its model's run ended, so jobs launched
        after it (the runner's meta writes) count as the runner's own."""
        if self.current is not None:
            self.tracer.close(self.current)
            self.current = None
        seconds = {r.model: r.seconds for r in results or []}
        for sp in self.opened:
            model = sp.name.split(":", 1)[1]
            if model in seconds:
                sp.t1 = sp.t0 + seconds[model]


# -- event log ------------------------------------------------------------


def event_logs(log_dir: str) -> list[list[str]]:
    """Event-log files grouped per application (one SparkContext each),
    in order. A rolling log is a directory of ``events_<n>_*`` files."""
    apps: dict[str, list[str]] = {}
    for p in glob.glob(os.path.join(log_dir, "**", "*"), recursive=True):
        name = os.path.basename(p)
        if os.path.isfile(p) and not name.startswith("appstatus"):
            key = os.path.dirname(p) if name.startswith("events_") else p
            apps.setdefault(key, []).append(p)
    order = lambda p: int(os.path.basename(p).split("_")[1]) if os.path.basename(p).startswith("events_") else 0  # noqa: E731
    return [sorted(files, key=order) for _, files in sorted(apps.items())]


def _task_counters(ev: dict) -> dict:
    m = ev.get("Task Metrics") or {}
    sr = m.get("Shuffle Read Metrics") or {}
    sw = m.get("Shuffle Write Metrics") or {}
    inp = m.get("Input Metrics") or {}
    out = m.get("Output Metrics") or {}
    py = sum(
        int(a.get("Update") or 0)
        for a in (ev.get("Task Info") or {}).get("Accumulables", [])
        if a.get("Name") in PYTHON_ACCUMS
    )
    return {
        "executor_run_ms": m.get("Executor Run Time", 0),
        "executor_cpu_ns": m.get("Executor CPU Time", 0),
        "gc_ms": m.get("JVM GC Time", 0),
        "shuffle_write_bytes": sw.get("Shuffle Bytes Written", 0),
        "shuffle_read_bytes": sr.get("Remote Bytes Read", 0) + sr.get("Local Bytes Read", 0),
        "spill_bytes": m.get("Memory Bytes Spilled", 0) + m.get("Disk Bytes Spilled", 0),
        "input_bytes": inp.get("Bytes Read", 0),
        "input_records": inp.get("Records Read", 0),
        "output_bytes": out.get("Bytes Written", 0),
        "output_records": out.get("Records Written", 0),
        "python_bytes": py,
        "peak_memory": m.get("Peak Execution Memory", 0),
    }


def _events(files: list[str]):
    for path in files:
        with open(path) as fh:
            for line in fh:
                yield json.loads(line)


def attribute(tracer: Tracer, log_dir: str) -> dict:
    """Sum event-log job/stage/task counters into the innermost span that
    tagged each job. Returns whole-log totals (every job, tagged or not)."""
    by_id = {s.id: s for s in tracer.spans}
    depth: dict[int, int] = {}

    def span_depth(s: Span) -> int:
        if s.id not in depth:
            depth[s.id] = 0 if s.parent is None else span_depth(by_id[s.parent]) + 1
        return depth[s.id]

    totals = dict.fromkeys(COUNTERS, 0)
    totals["peak_memory"] = 0
    for files in event_logs(log_dir):
        # job and stage ids restart with every SparkContext
        job_span: dict[int, Span | None] = {}
        job_submit: dict[int, float] = {}
        stage_job: dict[int, int] = {}
        for ev in _events(files):
            kind = ev.get("Event")
            if kind == "SparkListenerJobStart":
                tags = (ev.get("Properties") or {}).get("spark.job.tags", "")
                ids = [int(t[2:]) for t in tags.split(",") if t.startswith("pb") and t[2:].isdigit()]
                owners = [by_id[i] for i in ids if i in by_id]
                sp = max(owners, key=span_depth) if owners else None
                submit = ev.get("Submission Time", 0) / 1000
                # a job submitted after its span's recorded end (see
                # ModelTagger.finish) belongs to the enclosing span
                while sp is not None and sp.t1 and submit > sp.t1 and sp.parent is not None:
                    sp = by_id[sp.parent]
                jid = ev["Job ID"]
                job_span[jid], job_submit[jid] = sp, submit
                for sid in ev.get("Stage IDs", []):
                    stage_job[sid] = jid
                totals["jobs"] += 1
                if sp is not None:
                    sp.counters["jobs"] += 1
            elif kind == "SparkListenerJobEnd":
                jid = ev["Job ID"]
                sp = job_span.get(jid)
                if sp is not None:
                    sp.job_intervals.append((job_submit[jid], ev["Completion Time"] / 1000))
            elif kind == "SparkListenerStageCompleted":
                totals["stages"] += 1
                sp = job_span.get(stage_job.get(ev["Stage Info"]["Stage ID"]))
                if sp is not None:
                    sp.counters["stages"] += 1
            elif kind == "SparkListenerTaskEnd":
                c = _task_counters(ev)
                peak = c.pop("peak_memory")
                totals["tasks"] += 1
                totals["peak_memory"] = max(totals["peak_memory"], peak)
                for k, v in c.items():
                    totals[k] += v
                sp = job_span.get(stage_job.get(ev["Stage ID"]))
                if sp is not None:
                    sp.counters["tasks"] += 1
                    sp.peak_memory = max(sp.peak_memory, peak)
                    for k, v in c.items():
                        sp.counters[k] += v
    return totals


def inclusive(tracer: Tracer, sp: Span) -> dict:
    """Counters of ``sp`` plus all its descendants."""
    out = dict(sp.counters)
    out["peak_memory"] = sp.peak_memory
    for c in tracer.children(sp):
        sub = inclusive(tracer, c)
        for k in COUNTERS:
            out[k] += sub[k]
        out["peak_memory"] = max(out["peak_memory"], sub["peak_memory"])
    return out


def union_seconds(intervals: list[tuple[float, float]], lo: float, hi: float) -> float:
    """Length of the union of ``intervals`` clipped to [lo, hi]."""
    total, end = 0.0, lo
    for a, b in sorted(intervals):
        a, b = max(a, end), min(b, hi)
        if b > a:
            total += b - a
            end = b
    return total


def self_seconds(tracer: Tracer, sp: Span) -> float:
    """Span duration minus the part its child spans cover."""
    kids = [(c.t0, c.t1) for c in tracer.children(sp)]
    return sp.seconds - union_seconds(kids, sp.t0, sp.t1)


def all_job_intervals(tracer: Tracer, sp: Span) -> list:
    out = list(sp.job_intervals)
    for c in tracer.children(sp):
        out.extend(all_job_intervals(tracer, c))
    return out


# -- process memory -----------------------------------------------------------


def _status_kb(pid: int, key: str) -> int:
    try:
        with open(f"/proc/{pid}/status") as fh:
            for line in fh:
                if line.startswith(key + ":"):
                    return int(line.split()[1])
    except OSError:
        pass
    return 0


def _children(pid: int) -> list[int]:
    out = []
    for task in glob.glob(f"/proc/{pid}/task/*/children"):
        try:
            with open(task) as fh:
                out.extend(int(x) for x in fh.read().split())
        except OSError:
            pass
    return out


def reset_peak_rss() -> None:
    """Reset this process's VmHWM to its current resident size."""
    with open("/proc/self/clear_refs", "w") as fh:
        fh.write("5")


def nonheap_rss_mb(jvm_pid: int, heap_mb: int) -> dict:
    """Peak resident memory in MB outside the Java heap: the driver JVM's
    VmHWM minus its heap (fixed and pre-touched, so resident in full),
    and VmHWM of this Python process and of the Python worker processes
    the JVM started (its live descendants). Their sum is ``total``."""
    workers, todo = set(), [jvm_pid]
    while todo:
        for c in _children(todo.pop()):
            if c not in workers:
                workers.add(c)
                todo.append(c)
    mb = lambda pid: _status_kb(pid, "VmHWM") / 1024  # noqa: E731
    out = {"jvm_beyond_heap": mb(jvm_pid) - heap_mb, "driver": mb(os.getpid()),
           "workers": sum(mb(p) for p in workers), "n_workers": len(workers)}
    out["total"] = out["jvm_beyond_heap"] + out["driver"] + out["workers"]
    return out
