"""Spark-free helpers of the engine benchmark: timing statistics, spans,
metric-name validation, process-tree RSS sampling and the box canary.

Everything here is pure Python + numpy so the helpers can be unit tested
without a SparkSession (see enginebench/tests/test_benchlib.py).
"""

from __future__ import annotations

import json
import os
import re
import statistics
import threading
import time
from dataclasses import dataclass, field

# a metric name starts with a letter or digit, then letters, digits, `_`,
# `.` and `-`, at most 64 characters in all
METRIC_NAME_RE = re.compile(r"[A-Za-z0-9][A-Za-z0-9_.-]{0,63}")
TAIL_BEYOND = 10


def valid_metric_name(name: str) -> bool:
    return isinstance(name, str) and METRIC_NAME_RE.fullmatch(name) is not None


def check_metric_names(names) -> None:
    """Raise ValueError on the first malformed or repeated metric name."""
    seen = set()
    for n in names:
        if not valid_metric_name(n):
            raise ValueError(f"invalid metric name {n!r}")
        if n in seen:
            raise ValueError(f"metric name {n!r} used twice")
        seen.add(n)


def median(samples: list[float]) -> float:
    if not samples:
        raise ValueError("median of no samples")
    return float(statistics.median(samples))


def tail_rule(samples: list[float], beyond: int = TAIL_BEYOND):
    """The highest percentile that has at least ``beyond`` samples above it.

    Returns ``(value, percentile)`` for the order statistic with exactly
    ``beyond`` samples ranked after it, or ``None`` when there are too few
    samples for any such percentile."""
    n = len(samples)
    if n <= beyond:
        return None
    k = n - beyond - 1
    return float(sorted(samples)[k]), 100.0 * (k + 1) / n


def tail(samples: list[float], beyond: int = TAIL_BEYOND) -> dict:
    """Tail latency as reported by the benchmark.

    The rule value is used when it lies at or above the median (at least
    ``2 * beyond`` samples); with fewer samples the rule can only name a
    percentile below the median, so the maximum is reported instead and
    ``rule_met`` says so."""
    n = len(samples)
    rule = tail_rule(samples, beyond)
    if rule is not None and rule[1] >= 50.0:
        return {"value": rule[0], "percentile": rule[1], "n": n,
                "rule_met": True}
    return {"value": float(max(samples)), "percentile": 100.0, "n": n,
            "rule_met": False}


def quartile_spread(values: list[float]) -> float:
    """(Q3 - Q1) / median, with the quartiles of statistics.quantiles."""
    q1, _, q3 = statistics.quantiles(values, n=4)
    return (q3 - q1) / statistics.median(values)


# ------------------------------------------------------------------ spans

@dataclass
class Span:
    sid: int
    name: str
    start: float
    end: float | None = None
    parent: int | None = None
    workload: str = ""
    attrs: dict = field(default_factory=dict)


class Tracer:
    """In-memory span recorder. Spans nest through a stack (the benchmark
    drives the engine from one thread); ``enabled=False`` makes ``span``
    a near no-op so untraced runs pay nothing."""

    def __init__(self, workload: str, enabled: bool):
        self.workload = workload
        self.enabled = enabled
        self.spans: list[Span] = []
        self._stack: list[int] = []

    def span(self, name: str, **attrs):
        return _SpanCtx(self, name, attrs)

    def write(self, path: str) -> None:
        with open(path, "w") as f:
            for s in self.spans:
                f.write(json.dumps({
                    "id": s.sid, "name": s.name, "start": s.start,
                    "end": s.end, "parent": s.parent,
                    "workload": s.workload, **s.attrs}) + "\n")


class _SpanCtx:
    __slots__ = ("tracer", "name", "attrs", "span")

    def __init__(self, tracer: Tracer, name: str, attrs: dict):
        self.tracer, self.name, self.attrs = tracer, name, attrs
        self.span = None

    def __enter__(self):
        t = self.tracer
        if t.enabled:
            parent = t._stack[-1] if t._stack else None
            self.span = Span(len(t.spans), self.name, time.perf_counter(),
                             None, parent, t.workload, self.attrs)
            t.spans.append(self.span)
            t._stack.append(self.span.sid)
        return self

    def __exit__(self, *exc):
        if self.span is not None:
            self.span.end = time.perf_counter()
            self.tracer._stack.pop()
        return False


def _covered(intervals: list[tuple[float, float]], lo: float,
             hi: float) -> float:
    """Length of [lo, hi] covered by the union of ``intervals``."""
    clipped = sorted((max(a, lo), min(b, hi)) for a, b in intervals
                     if min(b, hi) > max(a, lo))
    total, cur_a, cur_b = 0.0, None, None
    for a, b in clipped:
        if cur_b is None or a > cur_b:
            if cur_b is not None:
                total += cur_b - cur_a
            cur_a, cur_b = a, b
        else:
            cur_b = max(cur_b, b)
    if cur_b is not None:
        total += cur_b - cur_a
    return total


def self_times(spans: list[Span]) -> dict[int, float]:
    """Span id -> its duration minus the part its children cover
    (overlapping children count once)."""
    kids: dict[int, list[tuple[float, float]]] = {}
    for s in spans:
        if s.parent is not None and s.end is not None:
            kids.setdefault(s.parent, []).append((s.start, s.end))
    return {s.sid: (s.end - s.start) - _covered(kids.get(s.sid, []),
                                                 s.start, s.end)
            for s in spans if s.end is not None}


def self_time_table(spans: list[Span]) -> list[dict]:
    """Per span name: count, total and self seconds, largest self first."""
    st = self_times(spans)
    rows: dict[str, dict] = {}
    for s in spans:
        if s.end is None:
            continue
        r = rows.setdefault(s.name, {"name": s.name, "count": 0,
                                     "total_s": 0.0, "self_s": 0.0})
        r["count"] += 1
        r["total_s"] += s.end - s.start
        r["self_s"] += st[s.sid]
    return sorted(rows.values(), key=lambda r: -r["self_s"])


def format_table(rows: list[dict], cols: list[str]) -> str:
    def cell(v):
        return f"{v:.4g}" if isinstance(v, float) else str(v)
    body = [[cell(r.get(c, "")) for c in cols] for r in rows]
    widths = [max([len(c)] + [len(b[i]) for b in body])
              for i, c in enumerate(cols)]
    lines = ["  ".join(c.ljust(w) for c, w in zip(cols, widths))]
    lines += ["  ".join(v.ljust(w) for v, w in zip(b, widths)) for b in body]
    return "\n".join(lines)


# ------------------------------------------------------ process-tree RSS

_PAGE = os.sysconf("SC_PAGE_SIZE") if hasattr(os, "sysconf") else 4096


def process_tree(root: int) -> list[int]:
    """``root`` and all its live descendants, from /proc."""
    children: dict[int, list[int]] = {}
    for d in os.listdir("/proc"):
        if not d.isdigit():
            continue
        try:
            with open(f"/proc/{d}/stat", "rb") as f:
                stat = f.read()
        except OSError:
            continue
        # the command name may hold spaces: fields follow the last ')'
        ppid = int(stat[stat.rindex(b")") + 2:].split()[1])
        children.setdefault(ppid, []).append(int(d))
    out, todo = [], [root]
    while todo:
        p = todo.pop()
        out.append(p)
        todo.extend(children.get(p, []))
    return out


def tree_rss_bytes(root: int) -> int:
    total = 0
    for p in process_tree(root):
        try:
            with open(f"/proc/{p}/statm") as f:
                total += int(f.read().split()[1]) * _PAGE
        except OSError:
            continue
    return total


class RssSampler:
    """Background thread tracking the peak RSS summed over a process
    tree (the Spark driver, the JVM and its Python workers)."""

    def __init__(self, root: int, interval_s: float = 0.5):
        self.root, self.interval_s = root, interval_s
        self.peak = 0
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._loop, daemon=True)

    def _loop(self):
        while not self._stop.is_set():
            self.peak = max(self.peak, tree_rss_bytes(self.root))
            self._stop.wait(self.interval_s)

    def __enter__(self):
        self._thread.start()
        return self

    def __exit__(self, *exc):
        self._stop.set()
        self._thread.join(timeout=5)
        return False


# ------------------------------------------------------------ box canary

def cpu_steal_counters() -> tuple[int, int]:
    """(steal, total) jiffies of all CPUs from /proc/stat. Steal is time a
    virtual CPU was ready but the host ran something else: on a shared box
    it tells a slow phase of the box from a slow change to the code."""
    with open("/proc/stat") as f:
        fields = [int(x) for x in f.readline().split()[1:]]
    # user nice system idle iowait irq softirq steal [guest guest_nice];
    # guest time is already counted in user/nice
    return fields[7], sum(fields[:8])


def box_canary_mbps(mib: int = 32, repeats: int = 3) -> float:
    """bench.py's box canary at a smaller size: memcpy + random gather over
    a fixed int64 array, best of ``repeats``. Depends only on the box's
    memory subsystem and load, never on engine code."""
    import numpy as np
    src = np.arange((mib << 20) // 8, dtype=np.int64)
    dst = np.empty_like(src)
    idx = (src * 2654435761 % len(src)).astype(np.int64)
    best = float("inf")
    for _ in range(repeats):
        t0 = time.perf_counter()
        np.copyto(dst, src)
        gathered = src[idx]
        best = min(best, time.perf_counter() - t0)
    del gathered
    return src.nbytes * 2 / best / 1e6
