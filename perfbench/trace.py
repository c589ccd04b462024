"""Spans, self time and host diagnostics for the benchmark.

Spans are recorded from the benchmark's own files around calls into the
program's modules: name, start, end, parent span and a run id shared by
one operation (a job, a request, a page). They stay in memory and are
written once at exit. A disabled tracer still times its spans, so the
untraced run measures with the same code, but stores nothing.
"""

from __future__ import annotations

import itertools
import json
import os
import statistics
import threading
import time


class Span:
    __slots__ = ("tracer", "id", "name", "run_id", "parent", "start", "end")

    def __init__(self, tracer, name, run_id):
        self.tracer, self.name, self.run_id = tracer, name, run_id

    @property
    def dur(self) -> float:
        return self.end - self.start

    def __enter__(self):
        tr = self.tracer
        stack = tr._stack()
        self.parent = stack[-1] if stack else None
        if self.run_id is None and self.parent is not None:
            self.run_id = self.parent.run_id
        self.id = next(tr._ids)
        stack.append(self)
        self.start = time.perf_counter()
        return self

    def __exit__(self, *exc):
        self.end = time.perf_counter()
        tr = self.tracer
        tr._stack().pop()
        if tr.enabled:
            tr.spans.append((self.id, self.name, self.start, self.end,
                             self.parent.id if self.parent else None, self.run_id))
        return False


class Tracer:
    """Span recorder; ``enabled=False`` times spans but keeps none."""

    def __init__(self, enabled: bool):
        self.enabled = enabled
        self.spans: list[tuple] = []
        self._ids = itertools.count(1)
        self._local = threading.local()

    def _stack(self) -> list:
        st = getattr(self._local, "stack", None)
        if st is None:
            st = self._local.stack = []
        return st

    def span(self, name: str, run_id: str | None = None) -> Span:
        return Span(self, name, run_id)

    def durations(self, name: str) -> list[float]:
        return [s[3] - s[2] for s in self.spans if s[1] == name]

    def self_times(self) -> dict[str, dict]:
        """Per span name: count, total seconds, and self seconds (total
        minus the time its direct children cover)."""
        child = {}
        for sid, _n, st, en, parent, _r in self.spans:
            if parent is not None:
                child[parent] = child.get(parent, 0.0) + (en - st)
        table: dict[str, dict] = {}
        for sid, name, st, en, _p, _r in self.spans:
            row = table.setdefault(name, dict(count=0, total_s=0.0, self_s=0.0))
            row["count"] += 1
            row["total_s"] += en - st
            row["self_s"] += max(0.0, (en - st) - child.get(sid, 0.0))
        return table

    def write(self, path: str, extra: dict) -> None:
        os.makedirs(os.path.dirname(path), exist_ok=True)
        keys = ("id", "name", "start", "end", "parent", "run_id")
        with open(path, "w") as fh:
            json.dump(dict(extra, self_time=self.self_times(),
                           spans=[dict(zip(keys, s)) for s in self.spans]), fh)


def span_cost_s(n: int = 20000) -> float:
    """Seconds one recorded span costs, timed on throwaway spans."""
    probe = Tracer(True)
    t0 = time.perf_counter()
    for _ in range(n):
        with probe.span("probe"):
            pass
    return (time.perf_counter() - t0) / n


def format_self_times(table: dict[str, dict]) -> str:
    lines = [f"{'span':44} {'count':>7} {'total_s':>10} {'self_s':>10}"]
    for name, r in sorted(table.items(), key=lambda kv: -kv[1]["self_s"]):
        lines.append(f"{name:44} {r['count']:7d} {r['total_s']:10.3f} {r['self_s']:10.3f}")
    return "\n".join(lines)


def host_speed(reps: int = 7) -> float:
    """Iterations per second of a fixed pure-Python loop (median of
    ``reps``): a slow host episode shows here, a regression does not."""
    def once() -> float:
        t0 = time.perf_counter()
        acc = 0
        for i in range(200_000):
            acc += i * i % 7
        return time.perf_counter() - t0

    return 1.0 / statistics.median(once() for _ in range(reps))


def _proc_stats() -> dict[int, tuple[int, int]]:
    """pid -> (parent pid, resident KB) of every process in /proc."""
    page_kb = os.sysconf("SC_PAGE_SIZE") // 1024
    stats: dict[int, tuple[int, int]] = {}
    for d in os.listdir("/proc"):
        if not d.isdigit():
            continue
        try:
            with open(f"/proc/{d}/stat") as fh:
                fields = fh.read().rsplit(")", 1)[1].split()
        except OSError:
            continue
        stats[int(d)] = (int(fields[1]), int(fields[21]) * page_kb)
    return stats


def child_pids(pid: int) -> list[int]:
    return [p for p, (ppid, _) in _proc_stats().items() if ppid == pid]


def _tree_rss_kb(root: int) -> int:
    stats = _proc_stats()
    children: dict[int, list[int]] = {}
    for pid, (ppid, _) in stats.items():
        children.setdefault(ppid, []).append(pid)
    total, todo = 0, [root]
    while todo:
        p = todo.pop()
        total += stats.get(p, (0, 0))[1]
        todo.extend(children.get(p, ()))
    return total


class RssSampler:
    """Peak resident memory of this process and all its descendants,
    sampled on a background thread when ``enabled`` (traced runs only:
    the sampler costs CPU the untraced run should not pay)."""

    def __init__(self, enabled: bool, interval_s: float = 0.5):
        self.enabled = enabled
        self.interval_s = interval_s
        self.peak_kb = 0
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._run, daemon=True)

    def _run(self):
        while not self._stop.is_set():
            self.peak_kb = max(self.peak_kb, _tree_rss_kb(os.getpid()))
            self._stop.wait(self.interval_s)

    def __enter__(self):
        if self.enabled:
            self._thread.start()
        return self

    def __exit__(self, *exc):
        if self.enabled:
            self._stop.set()
            self._thread.join(timeout=10)
        return False
