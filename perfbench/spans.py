"""Spans recorded around the benchmark's calls into the engine, and the
Spark event-log parser of the traced run.

Spans stay in memory while the benchmark runs and are written out once
at the end. A layer's self time is its span's duration minus the part
of that interval its child spans cover.
"""

from __future__ import annotations

import json
import statistics
import threading
import time
from collections import defaultdict
from contextlib import contextmanager
from dataclasses import asdict, dataclass


@dataclass
class Span:
    span_id: int
    trace_id: str
    parent: int | None
    name: str
    start: float
    end: float = 0.0


class Tracer:
    """Records spans when ``enabled``; otherwise ``span`` is a no-op, so the
    untraced run pays one attribute test per call. Each thread keeps its
    own open-span stack and trace id: streaming sinks run on the query
    threads, concurrently with each other."""

    def __init__(self, enabled: bool):
        self.enabled = enabled
        self.spans: list[Span] = []
        self._lock = threading.Lock()
        self._local = threading.local()

    @property
    def trace_id(self) -> str:
        return getattr(self._local, "trace_id", "")

    @contextmanager
    def trace(self, trace_id: str, name: str):
        """A root span: every span opened inside it shares ``trace_id``."""
        self._local.trace_id = trace_id
        with self.span(name):
            yield

    @contextmanager
    def span(self, name: str):
        if not self.enabled:
            yield
            return
        stack = self._local.__dict__.setdefault("stack", [])
        parent = stack[-1].span_id if stack else None
        with self._lock:
            s = Span(len(self.spans), self.trace_id, parent, name, time.perf_counter())
            self.spans.append(s)
        stack.append(s)
        try:
            yield
        finally:
            s.end = time.perf_counter()
            stack.pop()

    def write(self, path: str) -> None:
        with open(path, "w") as f:
            for s in self.spans:
                f.write(json.dumps(asdict(s)) + "\n")


def self_times(spans: list[Span]) -> dict[int, float]:
    """Self time of every span: its duration minus the union of its
    children's intervals, each clipped to the parent."""
    children: dict[int, list[Span]] = defaultdict(list)
    for s in spans:
        if s.parent is not None:
            children[s.parent].append(s)
    out = {}
    for s in spans:
        covered = 0.0
        cur_lo = cur_hi = None
        for c in sorted(children[s.span_id], key=lambda c: c.start):
            lo, hi = max(c.start, s.start), min(c.end, s.end)
            if hi <= lo:
                continue
            if cur_hi is None or lo > cur_hi:
                if cur_hi is not None:
                    covered += cur_hi - cur_lo
                cur_lo, cur_hi = lo, hi
            else:
                cur_hi = max(cur_hi, hi)
        if cur_hi is not None:
            covered += cur_hi - cur_lo
        out[s.span_id] = (s.end - s.start) - covered
    return out


def layer_table(spans: list[Span]) -> dict[str, dict[str, float]]:
    """Per span name: count, median self ms and median total ms."""
    st = self_times(spans)
    by: dict[str, list[Span]] = defaultdict(list)
    for s in spans:
        by[s.name].append(s)
    return {
        name: {
            "count": len(ss),
            "self_ms_p50": statistics.median(st[s.span_id] for s in ss) * 1e3,
            "total_ms_p50": statistics.median(s.end - s.start for s in ss) * 1e3,
        }
        for name, ss in sorted(by.items())
    }


PYTHON_SENT = "data sent to Python workers"
PYTHON_RECEIVED = "data returned from Python workers"


def parse_event_log(lines, groups) -> dict[str, float]:
    """Totals over the jobs whose job group is in ``groups``, from a
    Spark event log (one JSON event per line, uncompressed).

    Shuffle, spill and task figures come from the task-end metrics; the
    Python boundary bytes from the SQL metrics of the Arrow/pandas exec
    nodes, which ride along as task accumulables. ``task.skew`` is the
    max ÷ median task run time of the slowest stage."""
    groups = set(groups)
    stage_job: dict[int, int] = {}
    job_group: dict[int, str] = {}
    stage_span: dict[int, float] = {}
    tasks: dict[int, list[dict]] = defaultdict(list)
    for line in lines:
        e = json.loads(line)
        ev = e["Event"]
        if ev == "SparkListenerJobStart":
            job_group[e["Job ID"]] = (e.get("Properties") or {}).get("spark.jobGroup.id")
            for sid in e["Stage IDs"]:
                stage_job[sid] = e["Job ID"]
        elif ev == "SparkListenerStageCompleted":
            si = e["Stage Info"]
            if "Completion Time" in si and "Submission Time" in si:
                stage_span[si["Stage ID"]] = si["Completion Time"] - si["Submission Time"]
        elif ev == "SparkListenerTaskEnd":
            tasks[e["Stage ID"]].append(e)
    out = defaultdict(float)
    jobs = {j for j, g in job_group.items() if g in groups}
    slowest, slowest_ms = None, -1.0
    for sid, evs in tasks.items():
        if stage_job.get(sid) not in jobs:
            continue
        out["stages"] += 1
        if stage_span.get(sid, 0.0) > slowest_ms:
            slowest, slowest_ms = sid, stage_span.get(sid, 0.0)
        for e in evs:
            m = e.get("Task Metrics") or {}
            sr = m.get("Shuffle Read Metrics", {})
            out["tasks"] += 1
            out["shuffle.write_bytes"] += m.get("Shuffle Write Metrics", {}).get(
                "Shuffle Bytes Written", 0
            )
            out["shuffle.read_bytes"] += sr.get("Remote Bytes Read", 0) + sr.get(
                "Local Bytes Read", 0
            )
            out["shuffle.fetch_wait_ms"] += sr.get("Fetch Wait Time", 0)
            out["spill.disk_bytes"] += m.get("Disk Bytes Spilled", 0)
            out["task.run_ms"] += m.get("Executor Run Time", 0)
            out["task.cpu_ms"] += m.get("Executor CPU Time", 0) / 1e6
            out["task.gc_ms"] += m.get("JVM GC Time", 0)
            for a in e["Task Info"].get("Accumulables", []):
                if a.get("Name") == PYTHON_SENT:
                    out["python.bytes_sent"] += float(a["Update"])
                elif a.get("Name") == PYTHON_RECEIVED:
                    out["python.bytes_received"] += float(a["Update"])
    out["jobs"] = float(len(jobs))
    if slowest is not None:
        run = [
            (e.get("Task Metrics") or {}).get("Executor Run Time", 0)
            for e in tasks[slowest]
        ]
        med = statistics.median(run)
        out["task.skew"] = max(run) / med if med > 0 else 1.0
    return dict(out)
