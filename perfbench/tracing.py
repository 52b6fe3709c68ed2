"""Spans and Spark counters for the traced run.

Spans are recorded at layer boundaries from outside the program: a timing
proxy around the ``WeatherService`` handed to ``http_app.serve`` and a
wrapper around ``http_app.route`` (matched to the HTTP client's own request
times by a ``_rid`` query parameter), and per-query ``toPandas()`` calls; the
stream reports through ``recentProgress``.  Each span that calls into Spark runs
under its own job group, so job and task counts (``statusTracker``) and
input, shuffle, spill and GC figures (the event log) are tied to it.
Spans stay in memory until :meth:`Tracer.dump`.
"""

from __future__ import annotations

import glob
import itertools
import json
import threading
import time
from collections import defaultdict


class Tracer:
    def __init__(self, spark=None):
        self.sc = spark.sparkContext if spark is not None else None
        self.spans: list[dict] = []
        self._ids = itertools.count(1)
        self._lock = threading.Lock()
        self._open = threading.local()  # per thread: stack of open span ids

    def span(self, name: str, **attrs) -> "_Span":
        """A span whose parent is the innermost span open in this thread."""
        return _Span(self, name, attrs)

    def _stack(self) -> list[int]:
        if not hasattr(self._open, "ids"):
            self._open.ids = []
        return self._open.ids

    def _record(self, rec: dict) -> None:
        with self._lock:
            self.spans.append(rec)

    def job_counts(self, group: str) -> tuple[int, int]:
        """(jobs, completed tasks) run under one job group."""
        tracker = self.sc.statusTracker()
        jobs = tracker.getJobIdsForGroup(group)
        tasks = 0
        for jid in jobs:
            info = tracker.getJobInfo(jid)
            for sid in info.stageIds if info else ():
                stage = tracker.getStageInfo(sid)
                if stage is not None:
                    tasks += stage.numCompletedTasks
        return len(jobs), tasks

    def by_name(self, name: str) -> list[dict]:
        return [s for s in self.spans if s["name"] == name]

    def dump(self, path: str) -> None:
        with open(path, "w", encoding="utf-8") as f:
            for s in self.spans:
                f.write(json.dumps(s, default=str, ensure_ascii=False) + "\n")


class _Span:
    def __init__(self, tracer: Tracer, name: str, attrs: dict):
        self.tracer, self.name, self.attrs = tracer, name, attrs
        self.id = next(tracer._ids)
        self.group = f"span-{self.id}"

    def __enter__(self) -> "_Span":
        stack = self.tracer._stack()
        self.parent = stack[-1] if stack else None
        stack.append(self.id)
        if self.tracer.sc is not None:
            self.tracer.sc.setJobGroup(self.group, self.name)
        self.start = time.perf_counter()
        return self

    def __exit__(self, *exc) -> None:
        end = time.perf_counter()
        rec = {
            "id": self.id, "name": self.name, "parent": self.parent,
            "start": self.start, "end": end, "ms": (end - self.start) * 1000.0,
            "group": self.group, **self.attrs,
        }
        if self.tracer.sc is not None:
            rec["jobs"], rec["tasks"] = self.tracer.job_counts(self.group)
            self.tracer.sc.setLocalProperty("spark.jobGroup.id", None)
        self.tracer._stack().pop()
        self.tracer._record(rec)


class TimedService:
    """Stands in for a ``WeatherService``: every public method call becomes a
    span named ``service.<label>``; ``recent_with_step`` is labelled by regime
    (hourly 24/1, daily 168/24, generic otherwise)."""

    def __init__(self, service, tracer: Tracer):
        self._service, self._tracer = service, tracer

    def __getattr__(self, name: str):
        target = getattr(self._service, name)
        if name.startswith("_") or not callable(target):
            return target

        def call(*args, **kwargs):
            label = name
            if name == "get_recent_history_with_step":
                regime = (kwargs.get("hours", 24), kwargs.get("step", 1))
                label = {(24, 1): "recent_hourly", (168, 24): "recent_daily"}.get(regime, "recent_generic")
            with self._tracer.span(f"service.{label}"):
                return target(*args, **kwargs)

        return call


def timed_route(route, tracer: Tracer):
    """Wrap ``http_app.route``: a span per request, keyed by the client's
    ``_rid`` query parameter (which ``route`` ignores)."""

    def wrapped(service, path, query, *args, **kwargs):
        rid = (query.get("_rid") or [None])[0]
        with tracer.span("http_app.route", rid=rid):
            return route(service, path, query, *args, **kwargs)

    return wrapped


def route_self_ms(tracer: Tracer) -> list[float]:
    """``route()`` time minus the time of the service spans it caused."""
    inner: dict[int, float] = defaultdict(float)
    for s in tracer.spans:
        if s["parent"] is not None:
            inner[s["parent"]] += s["ms"]
    return [r["ms"] - inner[r["id"]] for r in tracer.by_name("http_app.route")]


def event_log_metrics(log_dir: str) -> dict[str, dict[str, float]]:
    """Per job group: input, shuffle-write and spilled bytes, GC ms and task
    count, from the Spark event log (complete once the context stopped)."""
    stage_group: dict[int, str] = {}
    out: dict[str, dict[str, float]] = defaultdict(lambda: defaultdict(float))
    for path in glob.glob(f"{log_dir}/*"):
        with open(path, encoding="utf-8") as f:
            for line in f:
                ev = json.loads(line)
                kind = ev.get("Event")
                if kind == "SparkListenerJobStart":
                    group = (ev.get("Properties") or {}).get("spark.jobGroup.id")
                    for sid in ev.get("Stage IDs", []):
                        stage_group[sid] = group
                elif kind == "SparkListenerTaskEnd":
                    group = stage_group.get(ev.get("Stage ID"))
                    m = ev.get("Task Metrics") or {}
                    g = out[group]
                    g["tasks"] += 1
                    g["input_bytes"] += (m.get("Input Metrics") or {}).get("Bytes Read", 0)
                    g["shuffle_write_bytes"] += (m.get("Shuffle Write Metrics") or {}).get("Shuffle Bytes Written", 0)
                    g["spill_bytes"] += m.get("Memory Bytes Spilled", 0) + m.get("Disk Bytes Spilled", 0)
                    g["gc_ms"] += m.get("JVM GC Time", 0)
    return out
