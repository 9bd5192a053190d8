"""Measurement helpers: order statistics, the process-tree sampler,
the host control loop and in-memory spans."""

from __future__ import annotations

import functools
import math
import os
import statistics
import threading
import time

CLK_TCK = os.sysconf("SC_CLK_TCK")


# ------------------------------------------------------------ statistics
def median(xs) -> float:
    return float(statistics.median(xs))


def percentile(xs, p: float) -> float:
    """Nearest-rank percentile (p in [0, 100])."""
    s = sorted(xs)
    k = max(1, math.ceil(p / 100.0 * len(s)))
    return float(s[k - 1])


def tail_percentile(n: int, min_beyond: int = 10) -> float | None:
    """The highest whole percentile p whose nearest-rank value has at
    least ``min_beyond`` of ``n`` samples strictly above it, or None
    when no percentile at or above the median qualifies."""
    for p in range(99, 49, -1):
        k = max(1, math.ceil(p / 100.0 * n))
        if n - k >= min_beyond:
            return float(p)
    return None


def timing_summary(ms: list[float]) -> dict:
    """Median plus the tail percentile the sample count supports."""
    out = {"n": len(ms), "p50": median(ms) if ms else None}
    p = tail_percentile(len(ms))
    out["tail_pct"] = p
    out["tail"] = percentile(ms, p) if p is not None else None
    return out


# ------------------------------------------------------ process tree
def _children() -> dict[int, list[int]]:
    kids: dict[int, list[int]] = {}
    for name in os.listdir("/proc"):
        if not name.isdigit():
            continue
        try:
            with open(f"/proc/{name}/stat") as f:
                fields = f.read().rsplit(")", 1)[1].split()
        except OSError:
            continue
        kids.setdefault(int(fields[1]), []).append(int(name))
    return kids


def process_tree() -> list[int]:
    """This process and all its descendants (itself first)."""
    kids = _children()
    out, todo = [], [os.getpid()]
    while todo:
        p = todo.pop()
        out.append(p)
        todo.extend(kids.get(p, ()))
    return out


def tree_cpu_s() -> float:
    """User+system CPU of the tree, including reaped children."""
    total = 0
    for p in process_tree():
        try:
            with open(f"/proc/{p}/stat") as f:
                fields = f.read().rsplit(")", 1)[1].split()
        except OSError:
            continue
        total += sum(int(x) for x in fields[11:15])  # utime stime cutime cstime
    return total / CLK_TCK


def host_steal_s() -> float:
    """CPU time the hypervisor took from this VM, summed over its CPUs."""
    with open("/proc/stat") as f:
        return int(f.readline().split()[8]) / CLK_TCK


def tree_pss_mb() -> float:
    kb = 0
    for p in process_tree():
        try:
            with open(f"/proc/{p}/smaps_rollup") as f:
                for line in f:
                    if line.startswith("Pss:"):
                        kb += int(line.split()[1])
                        break
        except OSError:
            continue
    return kb / 1024.0


class PssSampler:
    """Background sampler of the process tree's PSS; ``peak_mb`` is the
    largest sample since the last ``reset``."""

    def __init__(self, interval_s: float = 0.2):
        self.interval_s = interval_s
        self.peak_mb = 0.0
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._loop, daemon=True)

    def _loop(self) -> None:
        while not self._stop.is_set():
            self.peak_mb = max(self.peak_mb, tree_pss_mb())
            self._stop.wait(self.interval_s)

    def reset(self) -> None:
        self.peak_mb = tree_pss_mb()

    def __enter__(self) -> "PssSampler":
        self._thread.start()
        return self

    def __exit__(self, *exc) -> None:
        self._stop.set()
        self._thread.join(timeout=5)


# ------------------------------------------------------ host control
def host_ops_per_s(seconds: float = 0.3) -> float:
    """A fixed integer loop that uses no repo code: a slow host window
    shows as a slow control, not as a regression."""
    n, t0 = 0, time.perf_counter()
    while True:
        acc = 0
        for i in range(20_000):
            acc = (acc * 31 + i) & 0xFFFF
        n += 20_000
        dt = time.perf_counter() - t0
        if dt >= seconds:
            return n / dt


# ------------------------------------------------------------- spans
class Spans:
    """In-memory spans (name, start, end, parent, attrs), written at exit.

    ``wrap`` replaces a method on a class, for the rest of the process,
    with a recording shim, so the program's public calls are traced
    without touching program code. Recording is off until ``enabled`` is
    set."""

    def __init__(self):
        self.records: list[dict] = []
        self.enabled = False
        self._local = threading.local()
        self._lock = threading.Lock()
        self._ids = 0

    def _stack(self) -> list[int]:
        if not hasattr(self._local, "stack"):
            self._local.stack = []
        return self._local.stack

    def span(self, name: str, **attrs):
        return _SpanCtx(self, name, attrs)

    def wrap(self, cls, method: str, name: str, attrs=None) -> None:
        orig = getattr(cls, method)
        spans = self

        @functools.wraps(orig)
        def shim(*args, **kwargs):
            if not spans.enabled:
                return orig(*args, **kwargs)
            with spans.span(name, **(attrs(*args, **kwargs) if attrs else {})):
                return orig(*args, **kwargs)

        setattr(cls, method, shim)

    def named(self, name: str, since: float = 0.0) -> list[dict]:
        return [r for r in self.records if r["name"] == name and r["start"] >= since]


class _SpanCtx:
    def __init__(self, spans: Spans, name: str, attrs: dict):
        self.spans, self.name, self.attrs = spans, name, attrs

    def __enter__(self):
        s = self.spans
        with s._lock:
            s._ids += 1
            self.id = s._ids
        stack = s._stack()
        self.parent = stack[-1] if stack else None
        stack.append(self.id)
        self.start = time.perf_counter()
        return self

    def __exit__(self, *exc):
        end = time.perf_counter()
        self.spans._stack().pop()
        with self.spans._lock:
            self.spans.records.append(
                {
                    "id": self.id,
                    "name": self.name,
                    "start": self.start,
                    "end": end,
                    "parent": self.parent,
                    **self.attrs,
                }
            )
