"""Shared helpers for the benchmark: process and host counters read from
/proc, order statistics, and the in-memory span recorder of traced runs."""

from __future__ import annotations

import json
import os
import threading
import time

CLK_TCK = os.sysconf("SC_CLK_TCK")


def quantile(values, q: float) -> float:
    """Linear-interpolated quantile (numpy's default method); 0.0 if empty."""
    xs = sorted(values)
    if not xs:
        return 0.0
    pos = (len(xs) - 1) * q
    lo = int(pos)
    hi = min(lo + 1, len(xs) - 1)
    return xs[lo] + (xs[hi] - xs[lo]) * (pos - lo)


def median(values) -> float:
    return quantile(values, 0.5)


def p95_supported(n: int) -> bool:
    """A p95 over ``n`` samples has at least ten samples beyond it."""
    return n * 0.05 >= 10


def _children(pid: int) -> list[int]:
    try:
        with open(f"/proc/{pid}/task/{pid}/children") as fh:
            return [int(c) for c in fh.read().split()]
    except OSError:
        return []


def process_tree(pid: int) -> list[int]:
    """``pid`` and every live descendant (the JVM that pyspark launches
    and any Python workers it forks)."""
    out, todo = [], [pid]
    while todo:
        p = todo.pop()
        out.append(p)
        todo.extend(_children(p))
    return out


def cpu_seconds(pids) -> float:
    """User + system CPU seconds of the given processes (utime + stime)."""
    total = 0
    for p in pids:
        try:
            with open(f"/proc/{p}/stat") as fh:
                fields = fh.read().rsplit(")", 1)[1].split()
        except OSError:
            continue
        total += int(fields[11]) + int(fields[12])
    return total / CLK_TCK


def peak_rss_mb(pids) -> float:
    """Sum of VmHWM (peak resident set) over the given processes, in MB."""
    total_kb = 0
    for p in pids:
        try:
            with open(f"/proc/{p}/status") as fh:
                for line in fh:
                    if line.startswith("VmHWM:"):
                        total_kb += int(line.split()[1])
        except OSError:
            continue
    return total_kb / 1024.0


def host_cpu_ticks() -> tuple[int, int]:
    """(steal, total) jiffies from the aggregate line of /proc/stat."""
    with open("/proc/stat") as fh:
        vals = [int(v) for v in fh.readline().split()[1:]]
    # user nice system idle iowait irq softirq steal guest guest_nice;
    # guest time is already counted in user/nice
    return vals[7], sum(vals[:8])


def steal_frac(before: tuple[int, int], after: tuple[int, int]) -> float:
    total = after[1] - before[1]
    return (after[0] - before[0]) / total if total > 0 else 0.0


class Meter:
    """CPU and steal over a phase of the run, for the worker's process tree."""

    def __init__(self):
        self.pid = os.getpid()
        self.cpu0 = cpu_seconds(process_tree(self.pid))
        self.host0 = host_cpu_ticks()
        self.t0 = time.time()

    def stop(self) -> dict:
        return {
            "cpu_s": cpu_seconds(process_tree(self.pid)) - self.cpu0,
            "steal_frac": steal_frac(self.host0, host_cpu_ticks()),
            "wall_s": time.time() - self.t0,
        }


class Tracer:
    """Spans recorded around the benchmark's calls into program layers.

    A span is (name, start, end, parent, unit id); they stay in memory and
    are written once at the end.  With ``enabled`` false every method is a
    no-op, so untraced runs pay nothing."""

    def __init__(self, enabled: bool):
        self.enabled = enabled
        self.spans: list[dict] = []
        self._lock = threading.Lock()

    def span(self, name: str, unit: int, parent: int | None = None):
        return _Span(self, name, unit, parent)

    def add(self, name, start, end, unit, parent=None) -> int | None:
        if not self.enabled:
            return None
        with self._lock:
            self.spans.append(
                {"id": len(self.spans), "name": name, "start": start, "end": end,
                 "parent": parent, "unit": unit}
            )
            return len(self.spans) - 1

    def self_times(self, name: str) -> list[float]:
        """Per-span self time of ``name``: duration minus the part of its
        interval that its child spans cover."""
        out = []
        for s in self.spans:
            if s["name"] != name:
                continue
            kids = sorted(
                (c["start"], c["end"]) for c in self.spans if c["parent"] == s["id"]
            )
            covered, cur_s, cur_e = 0.0, None, None
            for a, b in kids:
                a, b = max(a, s["start"]), min(b, s["end"])
                if b <= a:
                    continue
                if cur_e is None or a > cur_e:
                    if cur_e is not None:
                        covered += cur_e - cur_s
                    cur_s, cur_e = a, b
                else:
                    cur_e = max(cur_e, b)
            if cur_e is not None:
                covered += cur_e - cur_s
            out.append(s["end"] - s["start"] - covered)
        return out

    def write(self, path: str) -> None:
        if self.enabled:
            os.makedirs(os.path.dirname(path), exist_ok=True)
            with open(path, "w") as fh:
                json.dump(self.spans, fh)


class _Span:
    def __init__(self, tracer: Tracer, name: str, unit: int, parent):
        self.tracer, self.name, self.unit, self.parent = tracer, name, unit, parent
        self.id = None

    def __enter__(self):
        self.start = time.time()
        if self.tracer.enabled:
            # reserve the id now so children opened inside can point at it
            self.id = self.tracer.add(self.name, self.start, self.start, self.unit, self.parent)
        return self

    def __exit__(self, *exc):
        if self.id is not None:
            self.tracer.spans[self.id]["end"] = time.time()
        return False
