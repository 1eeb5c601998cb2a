"""Tracing for the per-layer run: spans around the engine's public
functions, and a reducer for Spark's event log.

Spans are recorded in memory by wrappers the benchmark installs over the
engine's public entry points (the engine itself is not modified).  A
wrapper replaces the name where callers look it up: the class attribute
for methods, and every ``dlt_iceberg_spark`` module attribute bound to the
function for module-level functions.  Spark jobs are tagged per operation
with ``setJobGroup("<workload>:<op#>:<kind>")`` and reduced from the
uncompressed event log after the session stops.
"""

from __future__ import annotations

import functools
import glob
import json
import os
import sys
import time
from dataclasses import dataclass, field
from typing import Any, Callable

PACKAGE = "dlt_iceberg_spark"


@dataclass
class Span:
    name: str
    start: float
    parent: int | None
    end: float = 0.0
    error: str | None = None
    children: list[int] = field(default_factory=list)


def union_length(intervals: list[tuple[float, float]]) -> float:
    """Total length covered by possibly overlapping intervals."""
    total, cur_lo, cur_hi = 0.0, None, None
    for lo, hi in sorted(intervals):
        if cur_hi is None or lo > cur_hi:
            if cur_hi is not None:
                total += cur_hi - cur_lo
            cur_lo, cur_hi = lo, hi
        else:
            cur_hi = max(cur_hi, hi)
    if cur_hi is not None:
        total += cur_hi - cur_lo
    return total


class Tracer:
    """In-memory span recorder plus counters.  One per traced run."""

    def __init__(self) -> None:
        self.spans: list[Span] = []
        self.counters: dict[str, float] = {}
        self._stack: list[int] = []
        self._patches: list[tuple[Any, str, Any]] = []
        self.paused = False
        #: time spent in the wrappers' own bookkeeping (tracing overhead)
        self.bookkeeping_s = 0.0

    # -- recording --------------------------------------------------------

    def open(self, name: str) -> int:
        parent = self._stack[-1] if self._stack else None
        idx = len(self.spans)
        self.spans.append(Span(name, time.perf_counter(), parent))
        if parent is not None:
            self.spans[parent].children.append(idx)
        self._stack.append(idx)
        return idx

    def close(self, idx: int, error: str | None = None) -> None:
        span = self.spans[idx]
        span.end = time.perf_counter()
        span.error = error
        self._stack.pop()

    def count(self, name: str, n: float = 1) -> None:
        self.counters[name] = self.counters.get(name, 0) + n

    # -- derived times ----------------------------------------------------

    def self_time(self, idx: int) -> float:
        """A span's duration minus the part its child spans cover."""
        span = self.spans[idx]
        kids = [(self.spans[c].start, self.spans[c].end) for c in span.children]
        return (span.end - span.start) - union_length(kids)

    def _outermost(self, names: set[str]) -> list[Span]:
        """Spans named in ``names`` with no ancestor also named there, so a
        layer that calls itself is not counted twice."""
        out = []
        for s in self.spans:
            p = s.parent
            while p is not None and self.spans[p].name not in names:
                p = self.spans[p].parent
            if s.name in names and p is None:
                out.append(s)
        return out

    def inclusive_s(self, *names: str) -> float:
        return sum(s.end - s.start for s in self._outermost(set(names)))

    def self_s(self, name: str) -> float:
        return sum(self.self_time(i) for i, s in enumerate(self.spans) if s.name == name)

    def n_spans(self, name: str, error: str | None = None) -> int:
        """Spans named ``name``; with ``error``, only those that raised it."""
        return sum(1 for s in self.spans if s.name == name and (error is None or s.error == error))

    def innermost_at(self, t: float) -> Span | None:
        """Deepest span whose interval holds perf-counter time ``t``."""
        best = None
        for s in self.spans:
            if s.start <= t <= s.end and (best is None or s.start >= best.start):
                best = s
        return best

    # -- patching ---------------------------------------------------------

    def _wrap(self, fn: Callable, name: str, on_return: Callable | None) -> Callable:
        tracer = self

        @functools.wraps(fn)
        def wrapper(*args, **kwargs):
            if tracer.paused:
                return fn(*args, **kwargs)
            idx = tracer.open(name)
            try:
                out = fn(*args, **kwargs)
            except BaseException as exc:
                tracer.close(idx, type(exc).__name__)
                raise
            tracer.close(idx)
            if on_return is not None:
                t0 = time.perf_counter()
                tracer.paused = True
                try:
                    on_return(tracer, args, kwargs, out)
                finally:
                    tracer.paused = False
                    tracer.bookkeeping_s += time.perf_counter() - t0
            return out

        return wrapper

    def patch_method(self, cls: type, attr: str, name: str, on_return=None) -> None:
        orig = cls.__dict__[attr]
        self._patches.append((cls, attr, orig))
        setattr(cls, attr, self._wrap(orig, name, on_return))

    def patch_function(self, module: str, attr: str, name: str, on_return=None) -> None:
        """Wrap a module-level function under every name it is bound to in
        the package, so callers that imported it by name see the wrapper."""
        orig = getattr(sys.modules[module], attr)
        wrapped = self._wrap(orig, name, on_return)
        for mod_name, mod in list(sys.modules.items()):
            if mod is None or not mod_name.startswith(PACKAGE):
                continue
            for key, val in list(vars(mod).items()):
                if val is orig:
                    self._patches.append((mod, key, orig))
                    setattr(mod, key, wrapped)

    def unpatch(self) -> None:
        for owner, attr, orig in reversed(self._patches):
            setattr(owner, attr, orig)
        self._patches.clear()


# ---------------------------------------------------------------------------
# event log reduction

SPARK_METRICS = (
    "jobs", "stages", "tasks", "job_wall_s", "executor_run_s", "executor_cpu_s",
    "gc_s", "shuffle_read_bytes", "shuffle_write_bytes", "spill_bytes",
    "input_bytes", "output_bytes", "python_udf_rows",
)

_PYTHON_NODES = ("Python", "InPandas", "InArrow")


def read_event_log(log_dir: str) -> list[dict]:
    """Events of the single application logged under ``log_dir`` — plain
    JSON lines, either one file or Spark's rolling ``eventlog_v2_*`` dir."""
    # rolled files are events_<n>_<app>: order by n, not lexically
    files = sorted(
        glob.glob(os.path.join(log_dir, "eventlog_v2_*", "events_*")),
        key=lambda f: int(os.path.basename(f).split("_")[1]),
    )
    if not files:
        files = sorted(
            f for f in glob.glob(os.path.join(log_dir, "*")) if os.path.isfile(f)
        )
    events = []
    for path in files:
        with open(path, encoding="utf-8") as fh:
            events.extend(json.loads(line) for line in fh if line.strip())
    return events


@dataclass
class Job:
    job_id: int
    group: str | None
    call_site: str | None
    start_ms: int
    end_ms: int = 0
    stage_ids: list[int] = field(default_factory=list)


def _python_accumulators(plan: dict, out: set[int]) -> None:
    if any(tag in plan.get("nodeName", "") for tag in _PYTHON_NODES):
        for m in plan.get("metrics", []):
            if m.get("name") == "number of output rows":
                out.add(m["accumulatorId"])
    for child in plan.get("children", []):
        _python_accumulators(child, out)


def reduce_events(events: list[dict]) -> tuple[dict[int, Job], dict[str, dict[str, float]]]:
    """(jobs by id, spark metrics summed per job group)."""
    jobs: dict[int, Job] = {}
    stage_job: dict[int, int] = {}
    py_accs: set[int] = set()
    per_group: dict[str, dict[str, float]] = {}

    def bucket(job_id: int | None) -> dict[str, float] | None:
        job = jobs.get(job_id) if job_id is not None else None
        if job is None or job.group is None:
            return None
        return per_group.setdefault(job.group, {k: 0.0 for k in SPARK_METRICS})

    for ev in events:
        kind = ev.get("Event", "")
        if kind == "SparkListenerJobStart":
            props = ev.get("Properties") or {}
            job = Job(
                ev["Job ID"], props.get("spark.jobGroup.id"), props.get("callSite.short"),
                ev["Submission Time"], stage_ids=list(ev.get("Stage IDs", [])),
            )
            jobs[job.job_id] = job
            for sid in job.stage_ids:
                stage_job[sid] = job.job_id
            b = bucket(job.job_id)
            if b is not None:
                b["jobs"] += 1
        elif kind == "SparkListenerJobEnd":
            job = jobs.get(ev["Job ID"])
            if job is not None:
                job.end_ms = ev["Completion Time"]
                b = bucket(job.job_id)
                if b is not None:
                    b["job_wall_s"] += (job.end_ms - job.start_ms) / 1e3
        elif kind == "SparkListenerStageCompleted":
            b = bucket(stage_job.get(ev["Stage Info"]["Stage ID"]))
            if b is not None:
                b["stages"] += 1
        elif kind == "SparkListenerTaskEnd":
            b = bucket(stage_job.get(ev["Stage ID"]))
            m = ev.get("Task Metrics")
            if b is None or not m:
                continue
            b["tasks"] += 1
            b["executor_run_s"] += m.get("Executor Run Time", 0) / 1e3
            b["executor_cpu_s"] += m.get("Executor CPU Time", 0) / 1e9
            b["gc_s"] += m.get("JVM GC Time", 0) / 1e3
            sr = m.get("Shuffle Read Metrics") or {}
            b["shuffle_read_bytes"] += sr.get("Remote Bytes Read", 0) + sr.get("Local Bytes Read", 0)
            b["shuffle_write_bytes"] += (m.get("Shuffle Write Metrics") or {}).get("Shuffle Bytes Written", 0)
            b["spill_bytes"] += m.get("Memory Bytes Spilled", 0) + m.get("Disk Bytes Spilled", 0)
            b["input_bytes"] += (m.get("Input Metrics") or {}).get("Bytes Read", 0)
            b["output_bytes"] += (m.get("Output Metrics") or {}).get("Bytes Written", 0)
            for acc in (ev.get("Task Info") or {}).get("Accumulables", []):
                if acc.get("ID") in py_accs:
                    b["python_udf_rows"] += float(acc.get("Update") or 0)
        elif kind.endswith("SQLExecutionStart") or kind.endswith("SQLAdaptiveExecutionUpdate"):
            _python_accumulators(ev.get("sparkPlanInfo") or {}, py_accs)
    return jobs, per_group


def call_site_layer(call_site: str | None) -> str | None:
    """``collect at /x/dlt_iceberg_spark/lake/state.py:211`` → ``lake.state``;
    None for call sites outside the package (or absent)."""
    if not call_site:
        return None
    marker = f"/{PACKAGE}/"
    at = call_site.rfind(marker)
    if at < 0:
        return None
    path = call_site[at + len(marker):].split(":")[0]
    parts = path[:-3].split("/") if path.endswith(".py") else path.split("/")
    return ".".join(parts)
