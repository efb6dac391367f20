"""Outside-in tracing: in-memory spans, module wrappers, event-log reader.

Spans carry (name, start, end, parent, run_id) on the epoch clock, the
same clock Spark stamps its listener events with, so a span and the Spark
jobs that ran inside it line up without any hook in the package. They are
kept in memory and written out once, when the run ends.

``wrap_modules`` replaces the functions of ``io.warehouse`` and
``io.snapshots`` (module attributes, looked up at call time by their
callers) with timed wrappers for the length of a ``with`` block, and
``commit_lock`` with a subclass that records how long ``__enter__``
waited for the lock.
"""

from __future__ import annotations

import contextlib
import functools
import inspect
import json
import os
import statistics
import threading
import time
import uuid

from bench_metrics import clip, interval_union


class Tracer:
    def __init__(self):
        self.run_id = uuid.uuid4().hex[:12]
        self.spans: list[dict] = []
        self._lock = threading.Lock()
        self._local = threading.local()

    def _stack(self) -> list[int]:
        st = getattr(self._local, "stack", None)
        if st is None:
            st = self._local.stack = []
        return st

    def begin(self, name: str) -> int:
        stack = self._stack()
        span = {"name": name, "start": time.time(), "end": None,
                "parent": stack[-1] if stack else None,
                "run_id": self.run_id}
        with self._lock:
            span["id"] = len(self.spans)
            self.spans.append(span)
        stack.append(span["id"])
        return span["id"]

    def end(self, sid: int) -> None:
        self.spans[sid]["end"] = time.time()
        stack = self._stack()
        if stack and stack[-1] == sid:
            stack.pop()

    @contextlib.contextmanager
    def span(self, name: str):
        sid = self.begin(name)
        try:
            yield self.spans[sid]
        finally:
            self.end(sid)

    def find(self, prefix: str, within: dict | None = None) -> list[dict]:
        out = [s for s in self.spans
               if s["name"].startswith(prefix) and s["end"] is not None]
        if within is not None:
            out = [s for s in out if s["start"] >= within["start"]
                   and s["end"] <= within["end"]]
        return out

    def write(self, path: str) -> None:
        os.makedirs(os.path.dirname(path), exist_ok=True)
        with open(path, "w") as f:
            for s in self.spans:
                f.write(json.dumps(s) + "\n")


def _timed_fn(tracer: Tracer, label: str, fn):
    @functools.wraps(fn)
    def wrapper(*args, **kw):
        with tracer.span(label):
            return fn(*args, **kw)
    return wrapper


def _timed_lock(tracer: Tracer, label: str, cls):
    class TimedLock(cls):
        def __enter__(self):
            with tracer.span(label + ".wait"):
                out = super().__enter__()
            self._held = tracer.begin(label + ".held")
            return out

        def __exit__(self, *exc):
            try:
                return super().__exit__(*exc)
            finally:
                tracer.end(self._held)
    TimedLock.__name__ = cls.__name__
    return TimedLock


@contextlib.contextmanager
def wrap_modules(tracer: Tracer, modules: dict):
    """``modules``: span prefix -> module. Wraps every function the module
    defines, and ``commit_lock`` when present; restores on exit."""
    saved = []
    try:
        for prefix, mod in modules.items():
            for name, obj in list(vars(mod).items()):
                if inspect.isfunction(obj) and obj.__module__ == mod.__name__:
                    saved.append((mod, name, obj))
                    setattr(mod, name, _timed_fn(tracer, f"{prefix}.{name}",
                                                 obj))
                elif name == "commit_lock" and inspect.isclass(obj):
                    saved.append((mod, name, obj))
                    setattr(mod, name, _timed_lock(tracer, f"{prefix}.{name}",
                                                   obj))
        yield
    finally:
        for mod, name, obj in reversed(saved):
            setattr(mod, name, obj)


@contextlib.contextmanager
def wrap_attr(tracer: Tracer, owner, name: str, label: str):
    orig = getattr(owner, name)
    setattr(owner, name, _timed_fn(tracer, label, orig))
    try:
        yield
    finally:
        setattr(owner, name, orig)


# --------------------------------------------------------------------------
# Spark event log


class EventLog:
    """The parts of a Spark event log the ledger needs, on the epoch clock
    (seconds)."""

    def __init__(self):
        # keys carry the application's index in the log dir
        self.jobs: dict[tuple, dict] = {}    # -> start, end, stages
        self.stages: dict[tuple, dict] = {}  # -> start, end, accums, tasks
        self.python_accums: dict[tuple, str] = {}  # MapInPandas metrics

    @classmethod
    def read_dir(cls, log_dir: str) -> "EventLog":
        """Every application log in ``log_dir``; ids are keyed per file
        because a traced run may restart its SparkContext."""
        log = cls()
        for app, fn in enumerate(sorted(os.listdir(log_dir))):
            with open(os.path.join(log_dir, fn)) as f:
                for line in f:
                    log._add(json.loads(line), app)
        return log

    def _add(self, ev: dict, app: int) -> None:
        kind = ev.get("Event", "")
        if kind == "SparkListenerJobStart":
            self.jobs[(app, ev["Job ID"])] = {
                "start": ev["Submission Time"] / 1000.0, "end": None,
                "stages": [(app, s) for s in ev.get("Stage IDs", [])]}
        elif kind == "SparkListenerJobEnd":
            job = self.jobs.get((app, ev["Job ID"]))
            if job is not None:
                job["end"] = ev["Completion Time"] / 1000.0
        elif kind == "SparkListenerStageCompleted":
            info = ev["Stage Info"]
            st = self._stage((app, info["Stage ID"]),
                             info.get("Stage Attempt ID", 0))
            st["start"] = info.get("Submission Time", 0) / 1000.0
            st["end"] = info.get("Completion Time", 0) / 1000.0
            st["accums"] = {a["ID"]: a.get("Value")
                            for a in info.get("Accumulables", [])}
        elif kind == "SparkListenerTaskEnd":
            st = self._stage((app, ev["Stage ID"]),
                             ev.get("Stage Attempt ID", 0))
            ti = ev.get("Task Info", {})
            tm = ev.get("Task Metrics") or {}
            sw = tm.get("Shuffle Write Metrics") or {}
            st["tasks"].append({
                "dur": (ti.get("Finish Time", 0)
                        - ti.get("Launch Time", 0)) / 1000.0,
                "gc": tm.get("JVM GC Time", 0) / 1000.0,
                "shuffle": sw.get("Shuffle Bytes Written", 0),
                "spill": (tm.get("Disk Bytes Spilled", 0)
                          + tm.get("Memory Bytes Spilled", 0)),
            })
        elif kind.endswith(("SparkListenerSQLExecutionStart",
                            "SparkListenerSQLAdaptiveExecutionUpdate")):
            self._scan_plan(ev.get("sparkPlanInfo") or {}, app)

    def _stage(self, sid: tuple, attempt: int) -> dict:
        key = (*sid, attempt)
        st = self.stages.get(key)
        if st is None:
            st = self.stages[key] = {"id": sid, "start": None, "end": None,
                                     "accums": {}, "tasks": []}
        return st

    def _scan_plan(self, node: dict, app: int) -> None:
        if "MapInPandas" in node.get("nodeName", ""):
            for m in node.get("metrics", []):
                self.python_accums[(app, m["accumulatorId"])] = m["name"]
        for child in node.get("children", []):
            self._scan_plan(child, app)

    # ---- queries over a time window ------------------------------------

    def jobs_in(self, lo: float, hi: float) -> list[dict]:
        return [j for j in self.jobs.values()
                if j["end"] is not None and lo <= j["start"] <= hi]

    def stages_of(self, jobs: list[dict]) -> list[dict]:
        ids = {s for j in jobs for s in j["stages"]}
        return [st for st in self.stages.values()
                if st["id"] in ids and st["end"] is not None]

    def udf_stages(self, stages: list[dict]) -> list[dict]:
        return [st for st in stages
                if any((st["id"][0], a) in self.python_accums
                       for a in st["accums"])]

    def python_bytes(self, stages: list[dict]) -> tuple[int, int]:
        sent = recv = 0
        for st in stages:
            for aid, val in st["accums"].items():
                name = self.python_accums.get((st["id"][0], aid), "")
                try:
                    v = int(val)
                except (TypeError, ValueError):
                    continue
                if "sent to Python" in name:
                    sent += v
                elif "returned from Python" in name:
                    recv += v
        return sent, recv


def window_stats(log: EventLog, lo: float, hi: float) -> dict:
    """Spark-side facts of everything submitted inside [lo, hi]."""
    jobs = log.jobs_in(lo, hi)
    stages = log.stages_of(jobs)
    tasks = [t for st in stages for t in st["tasks"]]
    udf = log.udf_stages(stages)
    skew = 0.0
    udf_tasks = [t["dur"] for st in udf for t in st["tasks"]]
    if udf_tasks:
        p50 = statistics.median(udf_tasks)
        skew = max(udf_tasks) / p50 if p50 > 0 else 0.0
    sent, recv = log.python_bytes(udf)
    intervals = clip([(j["start"], j["end"]) for j in jobs], lo, hi)
    return {
        "job_intervals": intervals,
        "spark_s": interval_union(intervals),
        "spark_jobs": len(jobs),
        "tasks": len(tasks),
        "udf_task_skew": skew,
        "shuffle_bytes": sum(t["shuffle"] for t in tasks),
        "spill_bytes": sum(t["spill"] for t in tasks),
        "gc_s": sum(t["gc"] for t in tasks),
        "python_bytes_sent": sent,
        "python_bytes_received": recv,
    }
