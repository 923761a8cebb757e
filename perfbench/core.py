"""Measurement primitives: spans, percentiles, /proc readers and the
contention sentinel. Nothing here imports Spark."""

from __future__ import annotations

import contextlib
import json
import math
import os
import statistics
import threading
import time
from typing import Iterable, Sequence

#: Percentiles a tail may be reported at, highest last.
TAIL_PERCENTILES = (50.0, 90.0, 95.0, 99.0, 99.9)


def percentile(values: Sequence[float], p: float) -> float:
    """Linear-interpolated percentile ``p`` (0-100) of a non-empty sample."""
    xs = sorted(values)
    if not xs:
        raise ValueError("percentile of an empty sample")
    k = (len(xs) - 1) * p / 100.0
    lo = math.floor(k)
    hi = min(lo + 1, len(xs) - 1)
    return xs[lo] + (xs[hi] - xs[lo]) * (k - lo)


def tail_percentile(values: Sequence[float]) -> tuple[float, float] | None:
    """The highest of :data:`TAIL_PERCENTILES` with at least ten samples
    beyond it, as ``(p, value)``; ``None`` when even the median lacks ten
    samples above it."""
    n = len(values)
    best = None
    for p in TAIL_PERCENTILES:
        if round(n * (100.0 - p) / 100.0, 9) >= 10.0:
            best = p
    if best is None:
        return None
    return best, percentile(values, best)


def median(values: Sequence[float]) -> float:
    return statistics.median(values)


def spread(values: Sequence[float]) -> tuple[float, float, float]:
    """``(median, q1, q3)`` as ``statistics.quantiles(n=4)`` gives them."""
    q1, q2, q3 = statistics.quantiles(values, n=4)
    return q2, q1, q3


# ------------------------------------------------------------------ spans


class Tracer:
    """In-memory span recorder. Each span holds a name, start, end, its
    parent span's index and the op id it belongs to; parents come from a
    per-thread stack, so concurrent clients nest correctly. A disabled
    tracer records nothing and costs one attribute check per span."""

    def __init__(self, enabled: bool) -> None:
        self.enabled = enabled
        self.spans: list[dict] = []
        self._lock = threading.Lock()
        self._local = threading.local()
        self._t0 = time.perf_counter()

    @contextlib.contextmanager
    def span(self, name: str, op_id: int | None = None):
        if not self.enabled:
            yield
            return
        stack = self._local.__dict__.setdefault("stack", [])
        parent = stack[-1] if stack else None
        if op_id is None and parent is not None:
            op_id = self.spans[parent]["op"]
        rec = {
            "name": name,
            "start": self.now(),
            "end": None,
            "parent": parent,
            "op": op_id,
            "thread": threading.get_ident(),
        }
        with self._lock:
            idx = len(self.spans)
            self.spans.append(rec)
        stack.append(idx)
        try:
            yield
        finally:
            stack.pop()
            rec["end"] = self.now()

    def now(self) -> float:
        """The clock spans are stamped with."""
        return time.perf_counter() - self._t0

    def durations(self, name: str, parent_name: str | None = None,
                  since: float = 0.0) -> list[float]:
        """Durations (s) of finished spans called ``name`` that started at or
        after ``since``, optionally only those whose parent is called
        ``parent_name``."""
        out = []
        for s in self.spans:
            if s["name"] != name or s["end"] is None or s["start"] < since:
                continue
            if parent_name is not None:
                if s["parent"] is None or self.spans[s["parent"]]["name"] != parent_name:
                    continue
            out.append(s["end"] - s["start"])
        return out

    def write(self, path: str) -> None:
        with open(path, "w") as fh:
            json.dump({"spans": self.spans}, fh)


def self_times(spans: Sequence[dict]) -> list[float]:
    """Per span: its duration minus the part of its interval that its
    children cover (overlapping children are counted once)."""
    children: dict[int, list[int]] = {}
    for i, s in enumerate(spans):
        if s["parent"] is not None:
            children.setdefault(s["parent"], []).append(i)
    out = []
    for i, s in enumerate(spans):
        covered = 0.0
        cur_lo = cur_hi = None
        for lo, hi in sorted(
            (max(spans[c]["start"], s["start"]), min(spans[c]["end"], s["end"]))
            for c in children.get(i, ())
        ):
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
        out.append((s["end"] - s["start"]) - covered)
    return out


def self_time_by_name(spans: Sequence[dict]) -> dict[str, float]:
    """Total self time (s) per span name; every span must be finished."""
    totals: dict[str, float] = {}
    for s, st in zip(spans, self_times(spans)):
        totals[s["name"]] = totals.get(s["name"], 0.0) + st
    return totals


# ------------------------------------------------------------------ /proc


def _status_kb(pid: int | str, key: str) -> int:
    with open(f"/proc/{pid}/status") as fh:
        for line in fh:
            if line.startswith(key + ":"):
                return int(line.split()[1])
    raise KeyError(key)


def peak_rss_mb(pids: Iterable[int | str]) -> float:
    """Sum of ``VmHWM`` (peak resident set) over ``pids``, in MB."""
    return sum(_status_kb(p, "VmHWM") for p in pids) / 1024.0


def cpu_seconds(pid: int | str) -> float:
    """User plus system CPU time consumed so far by ``pid``."""
    with open(f"/proc/{pid}/stat") as fh:
        fields = fh.read().rsplit(")", 1)[1].split()
    # Fields after the command name start at field 3 (state); utime and
    # stime are fields 14 and 15.
    utime, stime = int(fields[11]), int(fields[12])
    return (utime + stime) / os.sysconf("SC_CLK_TCK")


def cpu_steal_jiffies() -> tuple[int, int]:
    """Machine-wide ``(steal, total)`` CPU jiffies from ``/proc/stat``;
    steal is time the hypervisor gave this machine's CPUs to others."""
    with open("/proc/stat") as fh:
        fields = [int(x) for x in fh.readline().split()[1:]]
    return fields[7] if len(fields) > 7 else 0, sum(fields[:8])


# --------------------------------------------------------------- sentinel

_SPIN_ITERATIONS = 300_000


def sentinel_ms(samples: int = 3) -> list[float]:
    """Time a fixed pure-Python spin ``samples`` times, in ms. Taken only
    at a run's edges, never while the subject works: spinning beside it
    would measure the subject's own load, not outside contention."""
    out = []
    for _ in range(samples):
        t0 = time.perf_counter()
        acc = 0
        for i in range(_SPIN_ITERATIONS):
            acc ^= i * 2654435761
        out.append((time.perf_counter() - t0) * 1e3)
    return out
