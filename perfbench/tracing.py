"""Driver-side spans, Spark REST harvesting, and the small statistics the
benchmark reports.

Spans are recorded by the benchmark around its calls into the engine's
modules; the engine itself is not instrumented.  Spark's own per-node SQL
metrics and per-stage task metrics are read from the driver's REST API
(``<uiWebUrl>/api/v1/applications/<id>/...``) after each operation.
"""

from __future__ import annotations

import json
import math
import os
import re
import time
import urllib.request
from contextlib import contextmanager
from dataclasses import dataclass


# ---------------------------------------------------------------- spans ---

@dataclass
class Span:
    id: int
    name: str
    start: float
    end: float | None
    parent: int | None
    op: str | None
    cpu_s: float | None = None  # process-tree CPU over the span, when asked for

    @property
    def duration(self) -> float:
        return (self.end if self.end is not None else self.start) - self.start


class Tracer:
    """In-memory span recorder.  ``span()`` nests: a span opened inside
    another becomes its child.  All spans of one operation share ``op``."""

    def __init__(self) -> None:
        self.spans: list[Span] = []
        self._stack: list[Span] = []

    @contextmanager
    def span(self, name: str, op: str | None = None, cpu: bool = False):
        """Open a span; with ``cpu`` it also records the CPU time this
        process and its descendants spent while it was open."""
        parent = self._stack[-1] if self._stack else None
        if op is None and parent is not None:
            op = parent.op
        cpu0 = process_tree_cpu_s() if cpu else None
        s = Span(len(self.spans), name, time.perf_counter(), None,
                 parent.id if parent else None, op)
        self.spans.append(s)
        self._stack.append(s)
        try:
            yield s
        finally:
            s.end = time.perf_counter()
            if cpu0 is not None:
                s.cpu_s = process_tree_cpu_s() - cpu0
            self._stack.pop()

    def children(self, span: Span) -> list[Span]:
        return [s for s in self.spans if s.parent == span.id]

    def self_time(self, span: Span) -> float:
        return self_time(span, self.children(span))

    def to_json(self, origin: float) -> list[dict]:
        """Spans with times relative to ``origin`` (seconds)."""
        return [{"id": s.id, "name": s.name, "parent": s.parent, "op": s.op,
                 "start": s.start - origin,
                 "end": (s.end if s.end is not None else s.start) - origin}
                for s in self.spans]


def process_tree_cpu_s(root: int | None = None) -> float:
    """CPU seconds (user + system) used so far by process ``root`` (this
    process by default) and every live descendant, plus what their exited
    children left to them.  In one benchmark run that is the driver, the
    Spark JVM, the Python worker daemon and its workers.  The kernel keeps
    hypervisor-stolen time out of these counters, so on a shared host they
    do not grow with the time the VM waited for a core."""
    root = os.getpid() if root is None else root
    parent: dict[int, int] = {}
    ticks: dict[int, int] = {}
    for entry in os.listdir("/proc"):
        if not entry.isdigit():
            continue
        try:
            with open(f"/proc/{entry}/stat") as f:
                fields = f.read().rsplit(")", 1)[1].split()
        except OSError:  # the process ended while the table was read
            continue
        pid = int(entry)
        # after the command name: state, ppid, ... utime stime cutime cstime
        parent[pid] = int(fields[1])
        ticks[pid] = sum(int(v) for v in fields[11:15])
    children: dict[int, list[int]] = {}
    for pid, ppid in parent.items():
        children.setdefault(ppid, []).append(pid)
    total, stack = 0, [root]
    while stack:
        pid = stack.pop()
        total += ticks.get(pid, 0)
        stack.extend(children.get(pid, []))
    return total / os.sysconf("SC_CLK_TCK")


def union_length(intervals: list[tuple[float, float]]) -> float:
    """Total length covered by possibly overlapping ``(start, end)``
    intervals."""
    total = 0.0
    cur_lo = cur_hi = None
    for lo, hi in sorted(intervals):
        if hi <= lo:
            continue
        if cur_hi is None or lo > cur_hi:
            if cur_hi is not None:
                total += cur_hi - cur_lo
            cur_lo, cur_hi = lo, hi
        else:
            cur_hi = max(cur_hi, hi)
    if cur_hi is not None:
        total += cur_hi - cur_lo
    return total


def self_time(span: Span, children: list[Span]) -> float:
    """A span's duration minus the part of its interval its children cover
    (children clipped to the parent, overlaps counted once)."""
    end = span.end if span.end is not None else span.start
    clipped = [(max(c.start, span.start), min(c.end if c.end is not None else c.start, end))
               for c in children]
    return (end - span.start) - union_length(clipped)


# ------------------------------------------------------ metric strings ---

_DURATION_S = {"ns": 1e-9, "us": 1e-6, "ms": 1e-3, "s": 1.0, "m": 60.0,
               "min": 60.0, "h": 3600.0}
_SIZE_B = {"B": 1.0, "KiB": 2.0**10, "MiB": 2.0**20, "GiB": 2.0**30,
           "TiB": 2.0**40, "PiB": 2.0**50, "EiB": 2.0**60}
_VALUE_RE = re.compile(r"^\s*(-?[\d,]*\.?\d+(?:[eE][-+]?\d+)?)\s*([A-Za-z]*)")


def parse_metric(value: str) -> float:
    """Spark SQL metric string -> number in base units (seconds, bytes or
    a plain count).

    Accepts the plain forms (``"20.5 KiB"``, ``"14 ms"``, ``"1,234"``) and
    the per-task summary form, whose total follows a header line:
    ``"total (min, med, max (stageId: taskId))\\n6.1 s (1.0 s, ...)"``.
    """
    text = value.strip()
    if "\n" in text:
        text = text.split("\n", 1)[1]
    m = _VALUE_RE.match(text)
    if not m:
        raise ValueError(f"unparseable Spark metric value: {value!r}")
    number = float(m.group(1).replace(",", ""))
    unit = m.group(2)
    if not unit:
        return number
    if unit in _DURATION_S:
        return number * _DURATION_S[unit]
    if unit in _SIZE_B:
        return number * _SIZE_B[unit]
    raise ValueError(f"unknown unit {unit!r} in Spark metric value {value!r}")


# ------------------------------------------------------------ percentiles ---

STANDARD_PERCENTILES = (50.0, 75.0, 90.0, 95.0, 99.0, 99.9)


def tail_percentile(n: int, percentiles=STANDARD_PERCENTILES) -> float | None:
    """The highest percentile that has at least ten of ``n`` samples beyond
    it, or None when even the median has fewer than ten above it."""
    best = None
    for p in percentiles:
        if n * (1.0 - p / 100.0) >= 10.0 - 1e-9:
            best = p if best is None else max(best, p)
    return best


def percentile(values: list[float], p: float) -> float:
    """Linear-interpolated percentile (the same rule as NumPy's default)."""
    if not values:
        raise ValueError("percentile of an empty sample")
    xs = sorted(values)
    pos = (len(xs) - 1) * p / 100.0
    lo = math.floor(pos)
    hi = min(lo + 1, len(xs) - 1)
    return xs[lo] + (xs[hi] - xs[lo]) * (pos - lo)


def median(values: list[float]) -> float:
    return percentile(values, 50.0)


# ------------------------------------------------------------ REST API ---

#: SQL node metric name -> (layer key, kind).  Names as Spark 4.1 reports
#: them on the per-execution node list.
NODE_METRICS = {
    "time to initialize Python workers": "python.init_s",
    "time to start Python workers": "python.init_s",
    "time to run Python workers": "python.run_s",
    "data sent to Python workers": "arrow.sent_bytes",
    "data returned from Python workers": "arrow.returned_bytes",
    "shuffle bytes written": "shuffle.write_bytes",
    "number of files read": "scan.files_read",
}


class SparkRest:
    """Reads the driver's REST API incrementally: each ``harvest()``
    returns only the SQL executions (and their jobs' stages) created since
    the previous call, using the API's ``offset`` so the cost stays flat
    over a long run."""

    def __init__(self, spark, timeout_s: float = 5.0):
        sc = spark.sparkContext
        port = sc.uiWebUrl.rsplit(":", 1)[1]
        self.base = f"http://localhost:{port}/api/v1/applications/{sc.applicationId}"
        self.status = sc.statusTracker()
        self.timeout_s = timeout_s
        self.sql_offset = 0
        self.seen_stages: set[int] = set()  # a stage shared by jobs counts once

    def get(self, path: str):
        with urllib.request.urlopen(self.base + path, timeout=self.timeout_s) as r:
            return json.load(r)

    def storage_bytes(self) -> tuple[int, int]:
        """(memory bytes, disk bytes) summed over cached RDDs."""
        rdds = self.get("/storage/rdd")
        return (sum(int(r.get("memoryUsed", 0)) for r in rdds),
                sum(int(r.get("diskUsed", 0)) for r in rdds))

    def skip_to_end(self) -> None:
        """Move the offset past every execution recorded so far, and mark
        every stage run so far as seen."""
        self.sql_offset += len(self._settled_executions(details=False))
        self.seen_stages.update(s["stageId"] for s in self.get("/stages?details=false"))

    def _settled_executions(self, details: bool = True) -> list[dict]:
        """New executions, polled until the listener has recorded every one
        of them as finished and two polls agree on the count."""
        deadline = time.perf_counter() + self.timeout_s
        prev = None
        while True:
            while self.status.getActiveJobsIds() and time.perf_counter() < deadline:
                time.sleep(0.005)
            execs = self.get(f"/sql?details={str(details).lower()}"
                            f"&offset={self.sql_offset}&length=1000")
            done = all(e.get("status") != "RUNNING" for e in execs)
            if done and prev is not None and len(execs) == prev:
                return execs
            if time.perf_counter() > deadline:
                return execs
            prev = len(execs) if done else None
            time.sleep(0.02)

    def harvest(self) -> dict:
        """Layer totals over the executions since the last harvest."""
        execs = self._settled_executions()
        self.sql_offset += len(execs)
        out = {k: 0.0 for k in set(NODE_METRICS.values())}
        out.update({"jvm.wscg_task_s": 0.0, "shuffle.exchanges": 0.0,
                    "spark.jobs": 0.0, "spark.tasks": 0.0, "spark.sql": float(len(execs)),
                    "executor.run_s": 0.0, "executor.cpu_s": 0.0, "executor.gc_s": 0.0})
        job_ids: list[int] = []
        for e in execs:
            job_ids += list(e.get("successJobIds", [])) + list(e.get("failedJobIds", []))
            for node in e.get("nodes", []):
                name = node.get("nodeName", "")
                metrics = {m["name"]: m["value"] for m in node.get("metrics", [])}
                # the run time of the fused (whole-stage-codegen) JVM
                # operators, summed over tasks; not the time spent compiling
                if name.startswith("WholeStageCodegen") and "duration" in metrics:
                    out["jvm.wscg_task_s"] += parse_metric(metrics["duration"])
                if name == "Exchange" and parse_metric(metrics.get("shuffle bytes written", "0")) > 0:
                    out["shuffle.exchanges"] += 1
                for mname, key in NODE_METRICS.items():
                    if mname in metrics:
                        out[key] += parse_metric(metrics[mname])
        out["spark.jobs"] = float(len(job_ids))
        for jid in job_ids:
            for sid in self.get(f"/jobs/{jid}")["stageIds"]:
                if sid in self.seen_stages:
                    continue
                self.seen_stages.add(sid)
                for attempt in self.get(f"/stages/{sid}?details=false"):
                    if attempt.get("status") == "SKIPPED":
                        continue
                    out["spark.tasks"] += attempt.get("numCompleteTasks", 0)
                    out["executor.run_s"] += attempt.get("executorRunTime", 0) / 1e3
                    out["executor.cpu_s"] += attempt.get("executorCpuTime", 0) / 1e9
                    out["executor.gc_s"] += attempt.get("jvmGcTime", 0) / 1e3
        out["_executions"] = execs
        return out
