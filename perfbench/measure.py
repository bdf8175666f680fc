"""Measurement helpers: percentiles, spans and self time, the Spark event
log, and process memory from /proc.  Nothing here imports the engine."""

from __future__ import annotations

import glob
import json
import math
import os
import statistics
import time
from collections import defaultdict
from contextlib import contextmanager


def median(values) -> float:
    return statistics.median(values) if values else 0.0


def tail(values, beyond: int = 10) -> tuple[float, float, int]:
    """The highest percentile with at least `beyond` samples above it, never
    below the median.  Returns (value, percentile, samples above it)."""
    xs = sorted(values)
    n = len(xs)
    if n == 0:
        return 0.0, 0.0, 0
    i = max(n - 1 - beyond, n // 2)
    return xs[i], 100.0 * (i + 1) / n, n - 1 - i


# ---------------------------------------------------------------------------
# Spans
# ---------------------------------------------------------------------------


class Span:
    __slots__ = ("sid", "name", "start", "end", "parent", "op")

    def __init__(self, sid, name, start, parent, op):
        self.sid, self.name, self.start, self.end = sid, name, start, None
        self.parent, self.op = parent, op

    @property
    def dur(self) -> float:
        return self.end - self.start


class Tracer:
    """Spans kept in memory.  One client thread opens spans as a stack; a
    span opened from a callback thread while the client waits (the
    foreachBatch sink) nests under the span the client has open.  A root
    span starts an op; its descendants carry its id as `op`.  Times are
    wall-clock seconds, comparable with event-log timestamps."""

    def __init__(self):
        self.spans: list[Span] = []
        self._stack: list[Span] = []

    @contextmanager
    def span(self, name: str, op: int | None = None):
        parent = self._stack[-1] if self._stack else None
        sid = len(self.spans)
        if op is None:
            op = parent.op if parent is not None else sid
        s = Span(sid, name, time.time(), None if parent is None else parent.sid, op)
        self.spans.append(s)
        self._stack.append(s)
        try:
            yield s
        finally:
            s.end = time.time()
            self._stack.remove(s)


class NoTracer:
    """Stand-in with the Tracer interface that records nothing."""

    @contextmanager
    def span(self, name: str, op: int | None = None):
        yield None


def covered(intervals) -> float:
    """Total length of the union of (start, end) intervals."""
    total, cur_s, cur_e = 0.0, None, None
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


def self_times(spans) -> dict[int, float]:
    """Span id -> duration minus the part of its interval that its children
    cover (children may overlap each other or stick out of the parent)."""
    kids = defaultdict(list)
    for s in spans:
        if s.parent is not None:
            kids[s.parent].append(s)
    out = {}
    for s in spans:
        clipped = [
            (max(c.start, s.start), min(c.end, s.end))
            for c in kids[s.sid]
            if c.end > s.start and c.start < s.end
        ]
        out[s.sid] = s.dur - covered(clipped)
    return out


def innermost(spans, t: float):
    """The deepest span whose interval contains time `t` (None if none)."""
    best = None
    for s in spans:
        if s.start <= t <= s.end and (best is None or s.start >= best.start):
            best = s
    return best


# ---------------------------------------------------------------------------
# Spark event log
# ---------------------------------------------------------------------------


def read_event_log(log_dir: str) -> dict:
    """Jobs and per-stage task totals from the newest event log in
    `log_dir`.  Times are converted to seconds since the epoch."""
    paths = sorted(glob.glob(os.path.join(log_dir, "*")), key=os.path.getmtime)
    jobs: dict[int, dict] = {}
    stage_job: dict[int, int] = {}
    stages: dict[int, dict] = defaultdict(
        lambda: {
            "tasks": 0, "run_s": 0.0, "input_bytes": 0,
            "shuffle_write": 0, "shuffle_read": 0, "spill": 0,
        }
    )
    if not paths:
        return {"jobs": jobs, "stages": {}, "stage_job": stage_job}
    with open(paths[-1]) as f:
        for line in f:
            ev = json.loads(line)
            kind = ev.get("Event")
            if kind == "SparkListenerJobStart":
                jid = ev["Job ID"]
                jobs[jid] = {
                    "submit": ev["Submission Time"] / 1000.0,
                    "group": (ev.get("Properties") or {}).get("spark.jobGroup.id"),
                }
                for sid in ev.get("Stage IDs", []):
                    stage_job.setdefault(sid, jid)
            elif kind == "SparkListenerTaskEnd":
                m = ev.get("Task Metrics") or {}
                st = stages[ev["Stage ID"]]
                st["tasks"] += 1
                st["run_s"] += m.get("Executor Run Time", 0) / 1000.0
                st["input_bytes"] += (m.get("Input Metrics") or {}).get("Bytes Read", 0)
                sr = m.get("Shuffle Read Metrics") or {}
                st["shuffle_read"] += sr.get("Remote Bytes Read", 0) + sr.get(
                    "Local Bytes Read", 0
                )
                st["shuffle_write"] += (m.get("Shuffle Write Metrics") or {}).get(
                    "Shuffle Bytes Written", 0
                )
                st["spill"] += m.get("Memory Bytes Spilled", 0) + m.get(
                    "Disk Bytes Spilled", 0
                )
    return {"jobs": jobs, "stages": dict(stages), "stage_job": stage_job}


# ---------------------------------------------------------------------------
# Memory
# ---------------------------------------------------------------------------


def cpu_steal() -> tuple[int, int]:
    """(steal, total) CPU ticks of the whole machine, from /proc/stat."""
    with open("/proc/stat") as f:
        ticks = [int(x) for x in f.readline().split()[1:]]
    return ticks[7], sum(ticks)


def _children_map() -> dict[int, list[int]]:
    kids = defaultdict(list)
    for d in os.listdir("/proc"):
        if not d.isdigit():
            continue
        try:
            with open(f"/proc/{d}/stat") as f:
                stat = f.read()
        except OSError:
            continue
        ppid = int(stat[stat.rfind(")") + 2 :].split()[1])
        kids[ppid].append(int(d))
    return kids


def running(pid: int) -> bool:
    """True while `pid` exists and is not a zombie."""
    try:
        with open(f"/proc/{pid}/stat") as f:
            stat = f.read()
    except OSError:
        return False
    return stat[stat.rfind(")") + 2] != "Z"


def descendants(pid: int) -> list[int]:
    kids, out, todo = _children_map(), [], [pid]
    while todo:
        for c in kids.get(todo.pop(), []):
            out.append(c)
            todo.append(c)
    return out


def rss_mb(pids) -> float:
    """Summed resident set size of `pids`, in MiB."""
    total = 0
    for pid in pids:
        try:
            with open(f"/proc/{pid}/status") as f:
                for line in f:
                    if line.startswith("VmRSS:"):
                        total += int(line.split()[1])
                        break
        except OSError:
            continue
    return total / 1024.0


def fmt(x) -> str:
    if isinstance(x, float):
        return f"{x:.4g}" if math.isfinite(x) else str(x)
    return str(x)
