"""Measurement helpers: spans and self time, the tail-percentile rule,
the Spark event-log parser and the /proc readers (RSS, CPU steal).

Everything here is plain Python so the tests can run it without a
Spark session."""

from __future__ import annotations

import json
import math
import os
import time
from contextlib import contextmanager
from dataclasses import dataclass

# --- spans ---------------------------------------------------------------


@dataclass
class Span:
    name: str
    start: float
    end: float
    parent: int | None  # index of the enclosing span, None at the root
    request: str | None


class Tracer:
    """Records spans in memory. A disabled tracer records nothing, so
    the untraced run pays one attribute check per boundary."""

    def __init__(self, enabled: bool):
        self.enabled = enabled
        self.spans: list[Span] = []
        self._stack: list[int] = []
        self.request: str | None = None

    @contextmanager
    def span(self, name: str):
        if not self.enabled:
            yield
            return
        idx = len(self.spans)
        parent = self._stack[-1] if self._stack else None
        self.spans.append(Span(name, time.perf_counter(), 0.0, parent, self.request))
        self._stack.append(idx)
        try:
            yield
        finally:
            self._stack.pop()
            self.spans[idx].end = time.perf_counter()

    def dump(self, path: str) -> None:
        with open(path, "w") as f:
            for i, s in enumerate(self.spans):
                f.write(
                    json.dumps(
                        {
                            "id": i,
                            "name": s.name,
                            "start": s.start,
                            "end": s.end,
                            "parent": s.parent,
                            "request": s.request,
                        }
                    )
                    + "\n"
                )


def _covered(intervals: list[tuple[float, float]]) -> float:
    """Length of the union of ``intervals``."""
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


def self_times(spans: list[Span]) -> dict[str, float]:
    """Seconds per span name of time not covered by a child span: a
    span's duration minus the union of its direct children's
    intervals (clipped to the span)."""
    children: dict[int, list[tuple[float, float]]] = {}
    for s in spans:
        if s.parent is not None:
            children.setdefault(s.parent, []).append((s.start, s.end))
    out: dict[str, float] = {}
    for i, s in enumerate(spans):
        kids = [
            (max(a, s.start), min(b, s.end))
            for a, b in children.get(i, [])
            if min(b, s.end) > max(a, s.start)
        ]
        out[s.name] = out.get(s.name, 0.0) + (s.end - s.start) - _covered(kids)
    return out


def total_times(spans: list[Span]) -> dict[str, float]:
    out: dict[str, float] = {}
    for s in spans:
        out[s.name] = out.get(s.name, 0.0) + (s.end - s.start)
    return out


# --- summary statistics --------------------------------------------------

TAIL_LADDER = (99.0, 95.0, 90.0, 75.0, 50.0)
TAIL_BEYOND = 10


def percentile(values: list[float], p: float) -> float:
    """Linear interpolation between the closest ranks (numpy's default
    method); percentile 50 is the median."""
    xs = sorted(values)
    pos = (len(xs) - 1) * p / 100.0
    lo = math.floor(pos)
    hi = min(lo + 1, len(xs) - 1)
    return xs[lo] + (xs[hi] - xs[lo]) * (pos - lo)


def tail(values: list[float]) -> tuple[float, float]:
    """(percentile, value) for the highest percentile of
    :data:`TAIL_LADDER` with at least :data:`TAIL_BEYOND` samples above
    its rank. Under 20 samples no step qualifies, and the maximum is
    reported, with percentile 100: a short run shows its slowest
    operation rather than pass its median off as a tail."""
    n = len(values)
    for p in TAIL_LADDER:
        if n - math.ceil(p / 100.0 * n) >= TAIL_BEYOND:
            return p, percentile(values, p)
    return 100.0, max(values)


def median(values: list[float]) -> float:
    return percentile(values, 50.0)


# --- Spark event log -----------------------------------------------------


def parse_event_log(path: str) -> dict[str, dict[str, float]]:
    """Per job group: jobs, tasks, task CPU seconds, shuffle read and
    write bytes, spill bytes and GC seconds, from an uncompressed
    Spark event log. Jobs without a group fall under ``""``."""
    stage_group: dict[int, str] = {}
    out: dict[str, dict[str, float]] = {}

    def bucket(g: str) -> dict[str, float]:
        return out.setdefault(
            g,
            {
                "jobs": 0,
                "tasks": 0,
                "task_cpu_s": 0.0,
                "shuffle_read_bytes": 0,
                "shuffle_write_bytes": 0,
                "spill_bytes": 0,
                "gc_s": 0.0,
            },
        )

    with open(path) as f:
        for line in f:
            ev = json.loads(line)
            kind = ev.get("Event")
            if kind == "SparkListenerJobStart":
                props = ev.get("Properties") or {}
                g = props.get("spark.jobGroup.id") or ""
                bucket(g)["jobs"] += 1
                for sid in ev.get("Stage IDs", []):
                    stage_group[sid] = g
            elif kind == "SparkListenerTaskEnd":
                m = ev.get("Task Metrics")
                if not m:
                    continue
                b = bucket(stage_group.get(ev.get("Stage ID"), ""))
                b["tasks"] += 1
                b["task_cpu_s"] += m.get("Executor CPU Time", 0) / 1e9
                sr = m.get("Shuffle Read Metrics", {})
                b["shuffle_read_bytes"] += sr.get("Remote Bytes Read", 0) + sr.get(
                    "Local Bytes Read", 0
                )
                sw = m.get("Shuffle Write Metrics", {})
                b["shuffle_write_bytes"] += sw.get("Shuffle Bytes Written", 0)
                b["spill_bytes"] += m.get("Memory Bytes Spilled", 0) + m.get(
                    "Disk Bytes Spilled", 0
                )
                b["gc_s"] += m.get("JVM GC Time", 0) / 1e3
    return out


# --- /proc readers -------------------------------------------------------


def read_cpu_jiffies() -> tuple[float, float]:
    """(steal, total) jiffies from /proc/stat."""
    with open("/proc/stat") as f:
        vals = [float(x) for x in f.readline().split()[1:]]
    return vals[7], sum(vals)


def steal_pct(before: tuple[float, float], after: tuple[float, float]) -> float:
    dt = after[1] - before[1]
    return 100.0 * (after[0] - before[0]) / dt if dt > 0 else 0.0


def tree_cpu_s(root: int) -> float:
    """CPU seconds, user plus system, of process ``root`` and all its
    descendants (for the benchmark: the JVM and Spark's Python workers),
    reaped children included. Time the host stole from the machine is
    not in it."""
    procs: dict[int, tuple[int, int]] = {}
    for d in os.listdir("/proc"):
        if not d.isdigit():
            continue
        try:
            with open(f"/proc/{d}/stat") as f:
                # after the command name: state, ppid, ...; fields 11-14
                # are utime, stime, cutime, cstime in clock ticks
                rest = f.read().rsplit(")", 1)[1].split()
        except OSError:
            continue
        procs[int(d)] = (int(rest[1]), sum(int(x) for x in rest[11:15]))
    children: dict[int, list[int]] = {}
    for pid, (ppid, _) in procs.items():
        children.setdefault(ppid, []).append(pid)
    ticks, todo = 0, [root]
    while todo:
        pid = todo.pop()
        ticks += procs.get(pid, (0, 0))[1]
        todo.extend(children.get(pid, []))
    return ticks / os.sysconf("SC_CLK_TCK")


def peak_rss_mb(pid: int | str = "self") -> float:
    """VmHWM (peak resident set) of a process in MiB."""
    with open(f"/proc/{pid}/status") as f:
        for line in f:
            if line.startswith("VmHWM:"):
                return int(line.split()[1]) / 1024.0
    return 0.0


def tree_bytes(path: str) -> int:
    total = 0
    for root, _dirs, files in os.walk(path):
        for name in files:
            try:
                total += os.path.getsize(os.path.join(root, name))
            except OSError:
                pass
    return total
