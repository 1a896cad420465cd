"""Spans around the benchmark's calls into each layer, plus Spark's own
counters read back from the event log.

A span records name, start, end and its parent.  Entering a span sets the
Spark local property ``bench.span`` on the calling thread, so every job
that thread submits carries the span id in its ``SparkListenerJobStart``
properties; jobs submitted from threads that never set it (the streaming
engine's own planning jobs) fall back to the innermost span open at their
submission time.

``Tracer.wrap`` replaces a module's public functions with span-recording
wrappers for the length of a traced run, so calls the program makes
between its own layers (``pipeline.run`` → ``icelite.write_partitioned``)
are spanned too.  The untraced run installs nothing: ``NullTracer``'s
spans are no-ops.
"""

from __future__ import annotations

import contextlib
import functools
import glob
import itertools
import json
import os
import re
import threading
import time
from dataclasses import dataclass, field
from typing import Any, Callable

SPAN_PROPERTY = "bench.span"
PYTHON_NODES = ("ArrowEvalPython", "MapInPandas", "FlatMapGroupsInPandas")
_PY_NODE = re.compile(r"\(\d+\) (?:%s)$" % "|".join(PYTHON_NODES))

# accumulable name → counter; Python-worker timings are millisecond metrics
_PY_ACCUMS = {
    "data sent to Python workers": "udf_bytes_sent",
    "data returned from Python workers": "udf_bytes_received",
    "time to start Python workers": "udf_boot_ms",
    "time to initialize Python workers": "udf_init_ms",
    "time to run Python workers": "python_run_ms",
}


@dataclass
class Span:
    id: int
    name: str
    parent: int | None
    start: float
    end: float | None = None
    attrs: dict[str, Any] = field(default_factory=dict)

    @property
    def wall_s(self) -> float:
        return self.end - self.start


class NullTracer:
    @contextlib.contextmanager
    def span(self, name: str):
        yield None

    def unwrap(self) -> None:
        pass


class Tracer:
    def __init__(self, sc):
        self._sc = sc
        self.spans: list[Span] = []
        self._ids = itertools.count(1)
        self._lock = threading.Lock()
        self._main = threading.get_ident()
        self._main_stack: list[Span] = []
        self._local = threading.local()
        self._patched: list[tuple[Any, str, Callable]] = []

    def _stack(self) -> list[Span]:
        if threading.get_ident() == self._main:
            return self._main_stack
        if not hasattr(self._local, "stack"):
            self._local.stack = []
        return self._local.stack

    @contextlib.contextmanager
    def span(self, name: str):
        stack = self._stack()
        # a span opened on a callback thread (foreachBatch) hangs under
        # whatever the main thread is blocked in
        outer = stack or self._main_stack
        sp = Span(next(self._ids), name, outer[-1].id if outer else None, time.time())
        with self._lock:
            self.spans.append(sp)
        stack.append(sp)
        self._sc.setLocalProperty(SPAN_PROPERTY, str(sp.id))
        try:
            yield sp
        finally:
            sp.end = time.time()
            stack.pop()
            self._sc.setLocalProperty(SPAN_PROPERTY, str(stack[-1].id) if stack else None)

    def wrap(self, module, layer: str, names: list[str], on_call: Callable | None = None) -> None:
        """Span every call to ``module.<name>`` as ``<layer>.<name>``.
        ``on_call(name, args, kwargs)`` may return a finisher called with
        (span, result) to attach attributes."""
        for name in names:
            fn = getattr(module, name)
            setattr(module, name, self._wrapped(fn, f"{layer}.{name}", name, on_call))
            self._patched.append((module, name, fn))

    def _wrapped(self, fn: Callable, span_name: str, name: str, on_call: Callable | None):
        @functools.wraps(fn)
        def call(*args, **kwargs):
            finish = on_call(name, args, kwargs) if on_call else None
            with self.span(span_name) as sp:
                out = fn(*args, **kwargs)
            # after the span closes, so the finisher's own file listing
            # is not counted in the span's time
            if finish is not None:
                finish(sp, out)
            return out

        return call

    def unwrap(self) -> None:
        for module, name, fn in reversed(self._patched):
            setattr(module, name, fn)
        self._patched.clear()


# ---------------------------------------------------------------------------
# event log
# ---------------------------------------------------------------------------


@dataclass
class Job:
    id: int
    submit: float
    end: float
    span: int | None
    execution: int | None
    stages: list[int]
    counters: dict[str, float] = field(default_factory=dict)


def read_event_log(log_dir: str) -> tuple[list[Job], dict[int, set[str]]]:
    """Jobs with their summed task counters, and the names of the Python
    UDFs each SQL execution runs in a Python plan node (initial and
    adaptive plans)."""
    files = glob.glob(os.path.join(log_dir, "*"))
    if len(files) != 1:
        raise RuntimeError(f"expected one event log in {log_dir}, found {files}")
    jobs: dict[int, Job] = {}
    stage_job: dict[int, int] = {}
    nodes: dict[int, set[str]] = {}
    with open(files[0]) as f:
        for line in f:
            e = json.loads(line)
            kind = e["Event"]
            if kind == "SparkListenerJobStart":
                props = e.get("Properties") or {}
                sid = props.get(SPAN_PROPERTY)
                eid = props.get("spark.sql.execution.id")
                job = Job(
                    e["Job ID"],
                    e["Submission Time"] / 1000.0,
                    e["Submission Time"] / 1000.0,
                    int(sid) if sid else None,
                    int(eid) if eid not in (None, "") else None,
                    list(e.get("Stage IDs", [])),
                )
                jobs[job.id] = job
                for s in job.stages:
                    stage_job[s] = job.id
            elif kind == "SparkListenerJobEnd":
                if e["Job ID"] in jobs:
                    jobs[e["Job ID"]].end = e["Completion Time"] / 1000.0
            elif kind == "SparkListenerTaskEnd":
                jid = stage_job.get(e["Stage ID"])
                if jid is not None:
                    _add_task(jobs[jid].counters, e)
            elif kind.endswith("SQLExecutionStart") or kind.endswith(
                "SQLAdaptiveExecutionUpdate"
            ):
                nodes.setdefault(e["executionId"], set()).update(
                    python_udfs(e.get("physicalPlanDescription", ""))
                )
    return sorted(jobs.values(), key=lambda j: j.id), nodes


def python_udfs(plan: str) -> set[str]:
    """UDF names in the ``Arguments`` of each Python node of a formatted
    physical plan ("(14) ArrowEvalPython ... Arguments: [_ov(...)#561]")."""
    found: set[str] = set()
    for block in plan.split("\n\n"):
        lines = block.strip().splitlines()
        if lines and _PY_NODE.match(lines[0]):
            for line in lines[1:]:
                if line.startswith("Arguments:"):
                    found.update(re.findall(r"(\w+)\(", line))
    return found


def _add_task(c: dict[str, float], e: dict) -> None:
    m = e.get("Task Metrics") or {}
    sw = m.get("Shuffle Write Metrics") or {}
    sr = m.get("Shuffle Read Metrics") or {}
    vals = {
        "tasks": 1,
        "executor_cpu_s": m.get("Executor CPU Time", 0) / 1e9,
        "gc_s": m.get("JVM GC Time", 0) / 1e3,
        "spill_bytes": m.get("Memory Bytes Spilled", 0),
        "shuffle_bytes": sw.get("Shuffle Bytes Written", 0),
        "shuffle_records": sw.get("Shuffle Records Written", 0),
        "fetch_wait_s": sr.get("Fetch Wait Time", 0) / 1e3,
        "input_records": (m.get("Input Metrics") or {}).get("Records Read", 0),
        "output_records": (m.get("Output Metrics") or {}).get("Records Written", 0),
    }
    for a in (e.get("Task Info") or {}).get("Accumulables", []):
        key = _PY_ACCUMS.get(a.get("Name"))
        if key is not None:
            vals[key] = vals.get(key, 0) + float(a.get("Update") or 0)
    for k, v in vals.items():
        c[k] = c.get(k, 0) + v


class Trace:
    """Spans joined with the jobs each one started."""

    def __init__(self, spans: list[Span], jobs: list[Job], nodes: dict[int, set[str]]):
        self.spans = {s.id: s for s in spans}
        self.nodes = nodes
        self.children: dict[int | None, list[int]] = {}
        for s in spans:
            self.children.setdefault(s.parent, []).append(s.id)
        self.jobs_of: dict[int, list[Job]] = {}
        for j in jobs:
            sid = j.span if j.span in self.spans else self._innermost_at(j.submit)
            if sid is not None:
                self.jobs_of.setdefault(sid, []).append(j)

    def _innermost_at(self, t: float) -> int | None:
        best = None
        for s in self.spans.values():
            if s.start <= t <= s.end and (best is None or s.start >= best.start):
                best = s
        return None if best is None else best.id

    def subtree(self, sid: int) -> list[int]:
        out, todo = [], [sid]
        while todo:
            cur = todo.pop()
            out.append(cur)
            todo.extend(self.children.get(cur, []))
        return out

    def named(self, name: str) -> list[Span]:
        return [s for s in self.spans.values() if s.name == name]

    def jobs_under(self, spans: list[Span]) -> list[Job]:
        seen: dict[int, Job] = {}
        for s in spans:
            for sid in self.subtree(s.id):
                for j in self.jobs_of.get(sid, []):
                    seen[j.id] = j
        return list(seen.values())

    @staticmethod
    def counters(jobs: list[Job]) -> dict[str, float]:
        out: dict[str, float] = {"jobs": len(jobs)}
        for j in jobs:
            for k, v in j.counters.items():
                out[k] = out.get(k, 0) + v
        return out

    def python_udfs(self, spans: list[Span]) -> set[str]:
        found: set[str] = set()
        for j in self.jobs_under(spans):
            if j.execution is not None:
                found |= self.nodes.get(j.execution, set())
        return found

    @staticmethod
    def job_union_s(jobs: list[Job]) -> float:
        total, cur_s, cur_e = 0.0, None, None
        for j in sorted(jobs, key=lambda j: j.submit):
            if cur_e is None or j.submit > cur_e:
                if cur_e is not None:
                    total += cur_e - cur_s
                cur_s, cur_e = j.submit, j.end
            else:
                cur_e = max(cur_e, j.end)
        if cur_e is not None:
            total += cur_e - cur_s
        return total
