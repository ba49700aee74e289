"""Per-layer tracing for the traced benchmark run.

Spans are recorded from the benchmark's own files: ``ModuleTracer`` wraps
the public functions of each engine module from the outside, so the engine
itself carries no tracing code. Spark-side numbers (jobs, stages, tasks,
task run time, shuffle and spill bytes) come from the Spark event log,
which ``parse_event_log`` reads after the session has stopped.

Everything here is off in the untraced run: nothing is patched unless a
``ModuleTracer`` is installed.
"""

from __future__ import annotations

import functools
import importlib
import inspect
import json
import sys
import threading
import time
from collections import defaultdict
from dataclasses import dataclass, field

_MB = 1024.0 * 1024.0


@dataclass
class Span:
    """One call into a layer: ``[start, end)`` in ``time.perf_counter()``
    seconds."""

    layer: str
    start: float
    end: float = 0.0
    parent: int | None = None  # index of the parent span, None at the root


def merge_intervals(intervals: list[tuple[float, float]]) -> list[tuple[float, float]]:
    """Union of half-open intervals, sorted and non-overlapping."""
    out: list[tuple[float, float]] = []
    for s, e in sorted(i for i in intervals if i[1] > i[0]):
        if out and s <= out[-1][1]:
            out[-1] = (out[-1][0], max(out[-1][1], e))
        else:
            out.append((s, e))
    return out


def subtract_intervals(
    span: tuple[float, float], holes: list[tuple[float, float]]
) -> list[tuple[float, float]]:
    """The parts of ``span`` that no interval in ``holes`` covers."""
    s, e = span
    out: list[tuple[float, float]] = []
    cur = s
    for hs, he in merge_intervals([(max(hs, s), min(he, e)) for hs, he in holes]):
        if hs > cur:
            out.append((cur, hs))
        cur = max(cur, he)
    if cur < e:
        out.append((cur, e))
    return out


def self_intervals(spans: list[Span]) -> list[list[tuple[float, float]]]:
    """For each span, the part of its interval its child spans do not cover.

    Children that overlap each other (sink writers running in a thread
    pool) are merged first, so overlapping children are not subtracted
    twice.
    """
    children: dict[int, list[tuple[float, float]]] = defaultdict(list)
    for sp in spans:
        if sp.parent is not None:
            children[sp.parent].append((sp.start, sp.end))
    return [
        subtract_intervals((sp.start, sp.end), children.get(i, []))
        for i, sp in enumerate(spans)
    ]


class SpanRecorder:
    """Keeps spans in memory. Each thread has its own stack; a span opened
    on a thread with an empty stack (a worker of a pool the traced code
    started) is parented to the innermost span open on the thread that
    created the recorder, which is the thread that made the call."""

    def __init__(self) -> None:
        self.spans: list[Span] = []
        self._lock = threading.Lock()
        self._local = threading.local()
        self._main = threading.get_ident()
        self._stacks: dict[int, list[int]] = {}

    def _stack(self) -> list[int]:
        st = getattr(self._local, "stack", None)
        if st is None:
            st = self._local.stack = []
            with self._lock:
                self._stacks[threading.get_ident()] = st
        return st

    def open(self, layer: str) -> int:
        st = self._stack()
        parent = st[-1] if st else None
        if parent is None and threading.get_ident() != self._main:
            main = self._stacks.get(self._main) or []
            parent = main[-1] if main else None
        with self._lock:
            self.spans.append(Span(layer, time.perf_counter(), parent=parent))
            idx = len(self.spans) - 1
        st.append(idx)
        return idx

    def close(self, idx: int) -> None:
        self.spans[idx].end = time.perf_counter()
        self._stack().pop()

    def reset(self) -> list[Span]:
        with self._lock:
            out, self.spans = self.spans, []
        return out


def _wrap(fn, layer: str, rec: SpanRecorder):
    @functools.wraps(fn)
    def traced(*args, **kwargs):
        idx = rec.open(layer)
        try:
            return fn(*args, **kwargs)
        finally:
            rec.close(idx)

    traced.__perfbench_original__ = fn
    return traced


@dataclass
class ModuleTracer:
    """Wraps public functions of engine modules with spans.

    ``layers`` maps a layer name to ``(module, names)``; ``names`` None
    means every public function defined in the module. Every reference to
    a wrapped function held by a loaded module of ``package`` is replaced,
    so ``from x import f`` call sites are traced too. ``uninstall``
    restores every replaced reference.
    """

    layers: dict[str, tuple[str, tuple[str, ...] | None]]
    package: str = "ram_datapipeline_spark"
    recorder: SpanRecorder = field(default_factory=SpanRecorder)
    _undo: list[tuple[object, str, object]] = field(default_factory=list)

    def _targets(self, modname: str, names: tuple[str, ...] | None):
        mod = importlib.import_module(modname)
        if names is None:
            names = tuple(
                n for n, v in vars(mod).items()
                if not n.startswith("_") and inspect.isfunction(v)
                and v.__module__ == modname
            )
        for name in names:
            owner, attr = mod, name
            if "." in name:  # Class.method
                cls_name, attr = name.split(".", 1)
                owner = getattr(mod, cls_name)
            yield owner, attr, getattr(owner, attr)

    def install(self) -> None:
        originals: dict[int, object] = {}
        for layer, (modname, names) in self.layers.items():
            for owner, attr, fn in self._targets(modname, names):
                wrapped = _wrap(fn, layer, self.recorder)
                originals[id(fn)] = wrapped
                self._undo.append((owner, attr, fn))
                setattr(owner, attr, wrapped)
        # rebind `from module import fn` copies held by other modules
        for modname, mod in list(sys.modules.items()):
            if mod is None or not modname.startswith(self.package):
                continue
            for attr, val in list(vars(mod).items()):
                wrapped = originals.get(id(val))
                if wrapped is not None and val is getattr(wrapped, "__perfbench_original__", None):
                    self._undo.append((mod, attr, val))
                    setattr(mod, attr, wrapped)

    def uninstall(self) -> None:
        for owner, attr, fn in reversed(self._undo):
            setattr(owner, attr, fn)
        self._undo.clear()


class MaterializeCounter:
    """Counts ``DataFrame.persist/cache`` and ``localCheckpoint/checkpoint``
    calls by wrapping the DataFrame class methods."""

    PERSIST = ("persist", "cache")
    CHECKPOINT = ("localCheckpoint", "checkpoint")

    def __init__(self) -> None:
        self.persist_calls = 0
        self.checkpoint_calls = 0
        self._lock = threading.Lock()
        self._undo: list[tuple[type, str, object]] = []

    def install(self) -> None:
        try:  # the class sessions actually return; it overrides these methods
            from pyspark.sql.classic.dataframe import DataFrame
        except ImportError:
            from pyspark.sql import DataFrame

        for names, counter in ((self.PERSIST, "persist_calls"),
                               (self.CHECKPOINT, "checkpoint_calls")):
            for name in names:
                orig = getattr(DataFrame, name)
                self._undo.append((DataFrame, name, orig))
                setattr(DataFrame, name, self._counting(orig, counter))

    def _counting(self, orig, counter: str):
        @functools.wraps(orig)
        def counted(*args, **kwargs):
            with self._lock:
                setattr(self, counter, getattr(self, counter) + 1)
            return orig(*args, **kwargs)

        return counted

    def take(self) -> tuple[int, int]:
        with self._lock:
            out = (self.persist_calls, self.checkpoint_calls)
            self.persist_calls = self.checkpoint_calls = 0
        return out

    def uninstall(self) -> None:
        for cls, name, orig in reversed(self._undo):
            setattr(cls, name, orig)
        self._undo.clear()


@dataclass
class SparkJob:
    job_id: int
    submit: float  # seconds since the epoch, until shifted
    end: float
    stages: list[int]
    stages_run: list[int] = field(default_factory=list)  # skipped ones excluded
    tasks: int = 0


@dataclass
class EventLog:
    """What the benchmark reads from one Spark event log."""

    jobs: list[SparkJob]
    # per task: (launch, finish, executor run s, shuffle read B, shuffle
    # write B, spilled B)
    tasks: list[tuple[float, float, float, int, int, int]]

    def shifted(self, offset: float) -> EventLog:
        """The same log with ``offset`` seconds taken off every timestamp:
        maps wall-clock times onto the clock the spans were taken with."""
        return EventLog(
            [SparkJob(j.job_id, j.submit - offset, j.end - offset if j.end else 0.0, j.stages,
                      j.stages_run, j.tasks) for j in self.jobs],
            [(a - offset, b - offset, *rest) for a, b, *rest in self.tasks],
        )


def parse_event_log(path: str) -> EventLog:
    """Jobs and finished tasks from a Spark JSON event log."""
    jobs: dict[int, SparkJob] = {}
    stage_tasks: dict[int, int] = {}
    tasks = []
    with open(path, encoding="utf-8") as fh:
        for line in fh:
            ev = json.loads(line)
            kind = ev.get("Event")
            if kind == "SparkListenerJobStart":
                jobs[ev["Job ID"]] = SparkJob(
                    ev["Job ID"], ev["Submission Time"] / 1000.0, 0.0,
                    list(ev.get("Stage IDs", [])),
                )
            elif kind == "SparkListenerJobEnd":
                jobs[ev["Job ID"]].end = ev["Completion Time"] / 1000.0
            elif kind == "SparkListenerStageCompleted":
                info = ev["Stage Info"]
                stage_tasks[info["Stage ID"]] = info["Number of Tasks"]
            elif kind == "SparkListenerTaskEnd":
                ti, tm = ev["Task Info"], ev.get("Task Metrics") or {}
                sr = tm.get("Shuffle Read Metrics") or {}
                sw = tm.get("Shuffle Write Metrics") or {}
                tasks.append((
                    ti["Launch Time"] / 1000.0,
                    ti["Finish Time"] / 1000.0,
                    tm.get("Executor Run Time", 0) / 1000.0,
                    sr.get("Remote Bytes Read", 0) + sr.get("Local Bytes Read", 0),
                    sw.get("Shuffle Bytes Written", 0),
                    tm.get("Memory Bytes Spilled", 0) + tm.get("Disk Bytes Spilled", 0),
                ))
    for job in jobs.values():
        # skipped stages (shuffle reuse) never complete and run no tasks
        job.stages_run = [s for s in job.stages if s in stage_tasks]
        job.tasks = sum(stage_tasks[s] for s in job.stages_run)
    return EventLog(sorted(jobs.values(), key=lambda j: j.job_id), tasks)


def jobs_in(jobs: list[SparkJob], intervals: list[tuple[float, float]]) -> list[SparkJob]:
    """Jobs submitted inside any of ``intervals``."""
    return [j for j in jobs if any(s <= j.submit < e for s, e in intervals)]


def window_stats(log: EventLog, start: float, end: float, cores: int) -> dict[str, float]:
    """Task and driver-only figures for one timed unit ``[start, end)``."""
    run_s = shuffle_r = shuffle_w = spill = 0
    for launch, _finish, run, sr, sw, sp in log.tasks:
        if start <= launch < end:
            run_s += run
            shuffle_r += sr
            shuffle_w += sw
            spill += sp
    busy = merge_intervals([
        (max(j.submit, start), min(j.end or end, end))
        for j in log.jobs if j.submit < end and (j.end or end) > start
    ])
    wall = end - start
    return {
        "task_run_s": run_s,
        "no_job_s": wall - sum(e - s for s, e in busy),
        "core_busy_frac": run_s / (wall * cores) if wall > 0 else 0.0,
        "shuffle_read_mb": shuffle_r / _MB,
        "shuffle_write_mb": shuffle_w / _MB,
        "spill_mb": spill / _MB,
    }
