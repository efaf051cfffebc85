"""Spans, Spark job tagging, event-log roll-up and the percentile helper.

A span is opened by the benchmark around each call into a layer. In a
traced run every span also tags the Spark jobs it launches with
``sc.setJobGroup`` so the uncompressed event log can be rolled up per span.
Streaming micro-batch jobs run on stream threads that do not inherit the
job group; they are attributed to the innermost span whose wall-clock
window contains the job's submission time.
"""

from __future__ import annotations

import glob
import json
import math
import os
import time
from contextlib import contextmanager

MB = 1024 * 1024


def tail_percentile(samples: list[float], ladder=(99.9, 99, 95, 90, 75, 50)):
    """Highest percentile of ``ladder`` with at least ten samples above it.

    Returns ``(percentile, value, n)`` (nearest-rank value) or
    ``(None, None, n)`` when even the median lacks ten samples beyond it.
    """
    xs = sorted(samples)
    n = len(xs)
    for p in ladder:
        rank = max(1, math.ceil(p / 100 * n))
        if n - rank >= 10:
            return p, xs[rank - 1], n
    return None, None, n


def median(xs: list[float]) -> float:
    s = sorted(xs)
    m = len(s) // 2
    return s[m] if len(s) % 2 else (s[m - 1] + s[m]) / 2


class Tracer:
    """In-memory spans; job-group tagging only when ``tag_jobs``."""

    def __init__(self, tag_jobs: bool):
        self.tag_jobs = tag_jobs
        self.spans: list[dict] = []
        self._stack: list[int] = []

    def _set_group(self, sid: int | None) -> None:
        from pyspark import SparkContext

        sc = SparkContext._active_spark_context
        if sc is None:
            return
        if sid is None:
            sc.setLocalProperty("spark.jobGroup.id", None)
            sc.setLocalProperty("spark.job.description", None)
        else:
            sc.setJobGroup(f"pb{sid}", self.spans[sid]["name"])

    @contextmanager
    def span(self, name: str, op: int | None = None):
        sid = len(self.spans)
        parent = self._stack[-1] if self._stack else None
        rec = {"id": sid, "name": name, "parent": parent, "op": op,
               "start_ms": time.time() * 1000, "t0": time.perf_counter()}
        self.spans.append(rec)
        self._stack.append(sid)
        if self.tag_jobs:
            self._set_group(sid)
        try:
            yield rec
        finally:
            rec["dur_s"] = time.perf_counter() - rec["t0"]
            rec["end_ms"] = time.time() * 1000
            self._stack.pop()
            if self.tag_jobs:
                self._set_group(self._stack[-1] if self._stack else None)

    def wrap(self, owner, attr: str, name: str) -> None:
        """Replace ``owner.attr`` with a spanned version of itself."""
        fn = getattr(owner, attr)
        tracer = self

        def spanned(*a, **kw):
            with tracer.span(name):
                return fn(*a, **kw)

        setattr(owner, attr, spanned)

    def wrap_function(self, module: str, attr: str) -> None:
        """Span every call of ``module.attr`` under the name
        ``<module without the package>.<attr>``, wherever the package
        refers to it: the module itself and every loaded package module
        that imported the function by name."""
        import importlib
        import sys

        mod = importlib.import_module(module)
        fn = getattr(mod, attr)
        name = f"{module.split('.', 1)[1]}.{attr}"
        tracer = self

        def spanned(*a, **kw):
            with tracer.span(name):
                return fn(*a, **kw)

        pkg = module.split(".", 1)[0] + "."
        for m in list(sys.modules.values()):
            if getattr(m, "__name__", "").startswith(pkg) and getattr(m, attr, None) is fn:
                setattr(m, attr, spanned)

    def dump(self, path: str) -> None:
        with open(path, "w") as f:
            for s in self.spans:
                f.write(json.dumps({k: v for k, v in s.items() if k != "t0"}) + "\n")


# the Spark counters rolled up per span, with their units
COUNTERS = {"jobs": "count", "tasks": "count", "exec_run_s": "s", "exec_cpu_s": "s",
            "gc_s": "s", "input_mb": "MB", "shuffle_mb": "MB", "output_mb": "MB",
            "spill_mb": "MB"}


def rollup(event_dir: str, spans: list[dict]) -> tuple[dict[int, dict], dict]:
    """Per-span inclusive Spark counters from every event log in
    ``event_dir``, plus the run totals (all jobs, attributed or not)."""
    jobs: dict[tuple, dict] = {}
    stage_job: dict[tuple, tuple] = {}
    task_rows: list[tuple] = []
    for n, path in enumerate(sorted(glob.glob(os.path.join(event_dir, "*")))):
        with open(path) as f:
            for line in f:
                ev = json.loads(line)
                kind = ev.get("Event")
                if kind == "SparkListenerJobStart":
                    key = (n, ev["Job ID"])
                    props = ev.get("Properties") or {}
                    jobs[key] = {"group": props.get("spark.jobGroup.id"),
                                 "t_ms": ev.get("Submission Time", 0)}
                    for st in ev.get("Stage IDs", []):
                        stage_job.setdefault((n, st), key)
                elif kind == "SparkListenerTaskEnd":
                    task_rows.append(((n, ev["Stage ID"]), ev.get("Task Metrics") or {}))

    by_group = {f"pb{s['id']}": s["id"] for s in spans}
    closed = [s for s in spans if "end_ms" in s]

    def owner(job: dict) -> int | None:
        if job["group"] in by_group:
            return by_group[job["group"]]
        inside = [s for s in closed if s["start_ms"] <= job["t_ms"] <= s["end_ms"]]
        return max(inside, key=lambda s: s["start_ms"])["id"] if inside else None

    parent = {s["id"]: s["parent"] for s in spans}
    per_span: dict[int, dict] = {}
    totals = dict.fromkeys(COUNTERS, 0.0)

    def chain(sid):
        while sid is not None:
            yield per_span.setdefault(sid, dict.fromkeys(COUNTERS, 0.0))
            sid = parent[sid]

    job_owner = {key: owner(j) for key, j in jobs.items()}
    for key, sid in job_owner.items():
        totals["jobs"] += 1
        for acc in chain(sid):
            acc["jobs"] += 1
    for stage, tm in task_rows:
        sr = tm.get("Shuffle Read Metrics") or {}
        row = {
            "tasks": 1,
            "exec_run_s": tm.get("Executor Run Time", 0) / 1e3,
            "exec_cpu_s": tm.get("Executor CPU Time", 0) / 1e9,
            "gc_s": tm.get("JVM GC Time", 0) / 1e3,
            "input_mb": (tm.get("Input Metrics") or {}).get("Bytes Read", 0) / MB,
            "shuffle_mb": (sr.get("Remote Bytes Read", 0) + sr.get("Local Bytes Read", 0)) / MB,
            "output_mb": (tm.get("Output Metrics") or {}).get("Bytes Written", 0) / MB,
            "spill_mb": (tm.get("Memory Bytes Spilled", 0) + tm.get("Disk Bytes Spilled", 0)) / MB,
        }
        sid = job_owner.get(stage_job.get(stage))
        for acc in [totals, *chain(sid)]:
            for k, v in row.items():
                acc[k] += v
    return per_span, totals
