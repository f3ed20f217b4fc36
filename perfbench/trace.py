"""Tracing for the benchmark's traced run (``--trace 1``).

Three parts, all living in the benchmark and none in the engine:

- ``Tracer``: an in-memory span recorder. A span has a name, start,
  end and the span that was open when it began; spans of one operation
  share ``op``. ``self_times`` subtracts the time child spans cover.
- ``Instrumenter``: wraps the engine's public functions so each call
  records a span, and wraps the Spark actions (writes, collects,
  counts) so each Spark job carries a description naming the span and
  the action's output directory or calling ``file:line``. Without the
  label a write or AQE stage shows only a JVM call site such as
  ``parquet at NativeMethodAccessorImpl.java:0``.
- ``read_event_log`` / ``attribute``: parse Spark's uncompressed JSON
  event log and sum task metrics per job description and job group.
"""

from __future__ import annotations

import contextlib
import functools
import json
import os
import sys
import time
import traceback
from collections import defaultdict
from dataclasses import dataclass, field

PACKAGE = "job_searchengine_project_spark"


@dataclass
class Span:
    sid: int
    parent: int | None
    name: str
    start: float
    end: float | None = None
    op: int | None = None


class Tracer:
    """Spans and counters, kept in memory until the run ends."""

    def __init__(self) -> None:
        self.spans: list[Span] = []
        self.counters: dict[str, float] = defaultdict(float)
        self.active = True
        self.op: int | None = None
        self._stack: list[Span] = []

    def current(self) -> Span | None:
        return self._stack[-1] if self._stack else None

    @contextlib.contextmanager
    def span(self, name: str):
        parent = self.current()
        sp = Span(
            sid=len(self.spans),
            parent=parent.sid if parent else None,
            name=name,
            start=time.time(),
            op=self.op,
        )
        self.spans.append(sp)
        self._stack.append(sp)
        try:
            yield sp
        finally:
            sp.end = time.time()
            self._stack.pop()

    def count(self, name: str, n: float = 1) -> None:
        if self.active:
            self.counters[name] += n


def union_length(intervals: list[tuple[float, float]]) -> float:
    """Total length covered by possibly overlapping intervals."""
    total = 0.0
    cur_s = cur_e = None
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


def clip(intervals, lo: float, hi: float) -> list[tuple[float, float]]:
    return [(max(s, lo), min(e, hi)) for s, e in intervals if e > lo and s < hi]


def self_times(spans: list[Span]) -> dict[int, float]:
    """Span id -> its duration minus the part of it its children cover."""
    children: dict[int, list[tuple[float, float]]] = defaultdict(list)
    for sp in spans:
        if sp.parent is not None and sp.end is not None:
            children[sp.parent].append((sp.start, sp.end))
    out = {}
    for sp in spans:
        if sp.end is None:
            continue
        covered = union_length(clip(children[sp.sid], sp.start, sp.end))
        out[sp.sid] = (sp.end - sp.start) - covered
    return out


def _caller_site() -> str:
    """file:line of the innermost engine frame on the stack."""
    for fr in reversed(traceback.extract_stack()):
        if PACKAGE in fr.filename:
            rel = fr.filename.split(PACKAGE + os.sep, 1)[-1]
            return f"{rel}:{fr.lineno}"
    return "?"


def _write_target(path) -> str:
    """The last component of a write's output dir, e.g.
    ``<index>/segments`` -> ``segments``."""
    p = str(path).rstrip("/")
    return os.path.basename(p)


class Instrumenter:
    """Installs span wrappers and Spark job labels; ``restore`` undoes
    every patch."""

    def __init__(self, tracer: Tracer, sc) -> None:
        self.tracer = tracer
        self.sc = sc
        self._undo: list[tuple[object, str, object]] = []

    # -- generic patching ------------------------------------------------
    def replace(self, owner, attr: str, new) -> None:
        """Set ``owner.attr`` to ``new``; ``restore`` puts the old value back."""
        self._undo.append((owner, attr, getattr(owner, attr)))
        setattr(owner, attr, new)

    def patch_function(self, module, attr: str, span_name: str, on_result=None) -> None:
        """Wrap ``module.attr`` and every engine module that bound the
        same function object by name at import time."""
        orig = getattr(module, attr)
        wrapper = self._wrap(orig, span_name, on_result)
        for mod in list(sys.modules.values()):
            if mod is None or not getattr(mod, "__name__", "").startswith(PACKAGE):
                continue
            if getattr(mod, attr, None) is orig:
                self.replace(mod, attr, wrapper)

    def patch_method(self, cls, attr: str, span_name: str, on_result=None) -> None:
        self.replace(cls, attr, self._wrap(getattr(cls, attr), span_name, on_result))

    def _wrap(self, fn, span_name: str, on_result):
        tracer = self.tracer
        labeler = self

        @functools.wraps(fn)
        def wrapper(*args, **kwargs):
            if not tracer.active:
                return fn(*args, **kwargs)
            try:
                with tracer.span(span_name):
                    labeler._label(None)
                    res = fn(*args, **kwargs)
            finally:
                # the enclosing span, if any, labels the Spark work after
                labeler._label(None)
            if on_result is not None:
                on_result(args, kwargs, res)
            return res

        return wrapper

    # -- Spark job labels ------------------------------------------------
    def _label(self, action: str | None) -> None:
        sp = self.tracer.current()
        name = sp.name if sp else "-"
        self.sc.setJobDescription(f"{name}|{action}" if action else name)

    def label_actions(self) -> None:
        from pyspark.sql import DataFrame, DataFrameWriter

        tracer = self.tracer
        labeler = self

        def wrap_action(cls, attr, describe):
            orig = getattr(cls, attr)

            @functools.wraps(orig)
            def wrapper(self_, *args, **kwargs):
                if not tracer.active:
                    return orig(self_, *args, **kwargs)
                labeler._label(describe(args, kwargs))
                try:
                    return orig(self_, *args, **kwargs)
                finally:
                    labeler._label(None)

            self.replace(cls, attr, wrapper)

        def write_desc(args, kwargs):
            path = args[0] if args else kwargs.get("path")
            return f"write:{_write_target(path)}"

        wrap_action(DataFrameWriter, "parquet", write_desc)
        for attr in ("collect", "count", "toPandas", "take", "first", "head"):
            if hasattr(DataFrame, attr):
                wrap_action(
                    DataFrame, attr,
                    lambda a, k, _attr=attr: f"{_attr}@{_caller_site()}",
                )

    def restore(self) -> None:
        while self._undo:
            owner, attr, orig = self._undo.pop()
            setattr(owner, attr, orig)


# -- event log ----------------------------------------------------------


@dataclass
class JobInfo:
    job_id: int
    desc: str
    group: str
    start_ms: int
    end_ms: int | None = None


@dataclass
class StageAgg:
    desc: str = ""
    group: str = ""
    submit_ms: int = 0
    run_ms: float = 0.0
    gc_ms: float = 0.0
    spill_bytes: float = 0.0
    shuffle_write_bytes: float = 0.0
    tasks: int = 0
    failed_tasks: int = 0


@dataclass
class EventLog:
    jobs: dict[int, JobInfo] = field(default_factory=dict)
    stages: dict[tuple[int, int], StageAgg] = field(default_factory=dict)


def parse_events(lines) -> EventLog:
    """Fold event-log JSON lines into per-job and per-stage records.

    A stage is attributed to the description and group of the job that
    submitted it (``SparkListenerStageSubmitted`` carries that job's
    properties), so stages a later job skips are not counted twice."""
    log = EventLog()
    for line in lines:
        line = line.strip()
        if not line:
            continue
        ev = json.loads(line)
        kind = ev.get("Event")
        if kind == "SparkListenerJobStart":
            props = ev.get("Properties") or {}
            log.jobs[ev["Job ID"]] = JobInfo(
                job_id=ev["Job ID"],
                desc=props.get("spark.job.description") or "",
                group=props.get("spark.jobGroup.id") or "",
                start_ms=ev["Submission Time"],
            )
        elif kind == "SparkListenerJobEnd":
            job = log.jobs.get(ev["Job ID"])
            if job is not None:
                job.end_ms = ev["Completion Time"]
        elif kind == "SparkListenerStageSubmitted":
            info = ev["Stage Info"]
            props = ev.get("Properties") or {}
            key = (info["Stage ID"], info.get("Stage Attempt ID", 0))
            agg = log.stages.setdefault(key, StageAgg())
            agg.desc = props.get("spark.job.description") or ""
            agg.group = props.get("spark.jobGroup.id") or ""
            agg.submit_ms = info.get("Submission Time") or 0
        elif kind == "SparkListenerTaskEnd":
            key = (ev["Stage ID"], ev.get("Stage Attempt ID", 0))
            agg = log.stages.setdefault(key, StageAgg())
            agg.tasks += 1
            reason = (ev.get("Task End Reason") or {}).get("Reason", "Success")
            if reason != "Success":
                agg.failed_tasks += 1
            m = ev.get("Task Metrics") or {}
            agg.run_ms += m.get("Executor Run Time", 0)
            agg.gc_ms += m.get("JVM GC Time", 0)
            agg.spill_bytes += m.get("Memory Bytes Spilled", 0) + m.get(
                "Disk Bytes Spilled", 0
            )
            sw = m.get("Shuffle Write Metrics") or {}
            agg.shuffle_write_bytes += sw.get("Shuffle Bytes Written", 0)
    return log


def read_event_log(log_dir: str) -> EventLog:
    """Every event file under ``log_dir``: a rolling log is a directory
    of ``events_<n>_<app>`` files, in order of n. Hidden checksum files
    and the empty ``appstatus`` marker are skipped."""
    def order(path):
        name = os.path.basename(path)
        parts = name.split("_")
        return (os.path.dirname(path), int(parts[1]) if name.startswith("events_") else 0)

    paths = [
        os.path.join(d, f)
        for d, _dirs, files in os.walk(log_dir)
        for f in files
        if not f.startswith((".", "appstatus"))
    ]
    lines: list[str] = []
    for path in sorted(paths, key=order):
        with open(path, encoding="utf-8") as f:
            lines.extend(f)
    return parse_events(lines)


@dataclass
class Attribution:
    jobs: int = 0
    run_s: float = 0.0
    gc_s: float = 0.0
    spill_bytes: float = 0.0
    shuffle_write_bytes: float = 0.0
    failed_tasks: int = 0
    intervals: list[tuple[float, float]] = field(default_factory=list)


def attribute(log: EventLog, match) -> Attribution:
    """Sum the stages and jobs for which ``match(desc, group,
    submitted_ms)`` holds. Job intervals are returned in epoch seconds."""
    out = Attribution()
    for agg in log.stages.values():
        if match(agg.desc, agg.group, agg.submit_ms):
            out.run_s += agg.run_ms / 1000.0
            out.gc_s += agg.gc_ms / 1000.0
            out.spill_bytes += agg.spill_bytes
            out.shuffle_write_bytes += agg.shuffle_write_bytes
            out.failed_tasks += agg.failed_tasks
    for job in log.jobs.values():
        if match(job.desc, job.group, job.start_ms):
            out.jobs += 1
            if job.end_ms is not None:
                out.intervals.append((job.start_ms / 1000.0, job.end_ms / 1000.0))
    return out
