"""Measurement plumbing: spans, worker-side fetch timing, Spark job counts
and resident memory of the process tree.

Spans are ``(id, name, start, end, parent, op)`` tuples kept in memory and
written as JSON lines when the run ends. Fetches run in Spark's Python
workers, so ``TimedFetcher`` appends its spans to one file per worker
process under a spool directory; the benchmark process folds them into the
op's span tree afterwards. All clocks are ``time.monotonic`` (system-wide on Linux).
"""

from __future__ import annotations

import json
import os
import statistics
import threading
import time
from contextlib import contextmanager


class Tracer:
    def __init__(self, enabled: bool) -> None:
        self.enabled = enabled
        self.spans: list[tuple] = []
        self.op: int | None = None
        self._stack: list[int] = []
        self.overhead_s = 0.0  # time spent in span bookkeeping itself

    @contextmanager
    def span(self, name: str):
        if not self.enabled:
            yield
            return
        t0 = time.monotonic()
        sid = len(self.spans)
        parent = self._stack[-1] if self._stack else None
        self.spans.append((sid, name, 0.0, 0.0, parent, self.op))
        self._stack.append(sid)
        start = time.monotonic()
        self.overhead_s += start - t0
        try:
            yield
        finally:
            end = time.monotonic()
            self._stack.pop()
            self.spans[sid] = (sid, name, start, end, parent, self.op)
            self.overhead_s += time.monotonic() - end

    def add(self, name: str, start: float, end: float, parent: int | None) -> None:
        self.spans.append((len(self.spans), name, start, end, parent, self.op))

    def find(self, name: str, op: int | None = None) -> list[tuple]:
        return [s for s in self.spans if s[1] == name and (op is None or s[5] == op)]

    def children(self, sid: int) -> list[tuple]:
        return [s for s in self.spans if s[4] == sid]

    def self_time(self, sid: int) -> float:
        """Span duration minus the part of it its children cover."""
        _, _, start, end, _, _ = self.spans[sid]
        return (end - start) - covered([(c[2], c[3]) for c in self.children(sid)], start, end)

    def write(self, path: str) -> None:
        os.makedirs(os.path.dirname(path), exist_ok=True)
        keys = ("id", "name", "start", "end", "parent", "op")
        with open(path, "w") as f:
            for s in self.spans:
                f.write(json.dumps(dict(zip(keys, s))) + "\n")


def covered(intervals: list[tuple[float, float]], lo: float, hi: float) -> float:
    """Length of the union of ``intervals`` clipped to [lo, hi]."""
    total, cur_s, cur_e = 0.0, None, None
    for s, e in sorted((max(s, lo), min(e, hi)) for s, e in intervals):
        if e <= s:
            continue
        if cur_e is None or s > cur_e:
            if cur_e is not None:
                total += cur_e - cur_s
            cur_s, cur_e = s, e
        else:
            cur_e = max(cur_e, e)
    if cur_e is not None:
        total += cur_e - cur_s
    return total


class TimedFetcher:
    """Picklable wrapper around a fetcher callable: appends
    ``start end bytes`` per fetched file to ``<spool>/<pid>.tsv``."""

    def __init__(self, inner, spool: str) -> None:
        self.inner = inner
        self.spool = spool

    def __call__(self, url: str, dest: str) -> None:
        start = time.monotonic()
        self.inner(url, dest)
        end = time.monotonic()
        with open(os.path.join(self.spool, f"{os.getpid()}.tsv"), "a") as f:
            f.write(f"{start}\t{end}\t{os.path.getsize(dest)}\n")


def drain_spool(spool: str) -> list[tuple[float, float, int]]:
    rows = []
    for name in os.listdir(spool):
        path = os.path.join(spool, name)
        with open(path) as f:
            for line in f:
                s, e, n = line.split("\t")
                rows.append((float(s), float(e), int(n)))
        os.remove(path)
    return rows


def _pss_kb(pid: int) -> int:
    with open(f"/proc/{pid}/smaps_rollup") as f:
        for line in f:
            if line.startswith("Pss:"):
                return int(line.split()[1])
    return 0


def _stat_fields(pid: int) -> list[str]:
    """Fields of /proc/<pid>/stat after the command name: state, ppid, ..."""
    with open(f"/proc/{pid}/stat") as f:
        return f.read().rsplit(")", 1)[1].split()


def descendants(root: int) -> list[int]:
    """Live processes below ``root`` (children, their children, ...)."""
    children: dict[int, list[int]] = {}
    for name in os.listdir("/proc"):
        if name.isdigit():
            try:
                children.setdefault(int(_stat_fields(int(name))[1]), []).append(int(name))
            except OSError:
                continue  # exited since the listing
    out, todo = [], list(children.get(root, []))
    while todo:
        pid = todo.pop()
        out.append(pid)
        todo.extend(children.get(pid, []))
    return out


def alive(pid: int) -> bool:
    try:
        return _stat_fields(pid)[0] != "Z"
    except OSError:
        return False


def _tree_pss_kb(root: int) -> int:
    """Summed proportional set size of ``root`` and its descendants. PSS
    splits pages shared between processes (Spark forks its Python workers
    from one daemon) among them, so the sum counts each page once."""
    total = 0
    for pid in [root, *descendants(root)]:
        try:
            total += _pss_kb(pid)
        except OSError:
            pass  # exited since the listing
    return total


class RssSampler:
    """Peak resident memory (summed PSS) of this process and all its
    descendants (the JVM and Spark's Python workers), sampled every
    ``period_s``."""

    def __init__(self, period_s: float = 0.25) -> None:
        self.period_s = period_s
        self.peak_kb = 0
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._run, daemon=True)

    def _run(self) -> None:
        while not self._stop.is_set():
            self.sample()
            self._stop.wait(self.period_s)

    def sample(self) -> None:
        self.peak_kb = max(self.peak_kb, _tree_pss_kb(os.getpid()))

    def __enter__(self) -> "RssSampler":
        self._thread.start()
        return self

    def __exit__(self, *exc) -> None:
        self._stop.set()
        self._thread.join()
        self.sample()


class JobCounter:
    """Spark job and task counts per op, by job group."""

    def __init__(self, spark) -> None:
        self.sc = spark.sparkContext
        self.tracker = self.sc.statusTracker()

    def start(self, group: str) -> None:
        self.sc.setJobGroup(group, group)

    def counts(self, group: str) -> dict:
        jobs = self.tracker.getJobIdsForGroup(group)
        tasks = 0
        for j in jobs:
            info = self.tracker.getJobInfo(j)
            for sid in info.stageIds if info else []:
                st = self.tracker.getStageInfo(sid)
                tasks += st.numTasks if st is not None else 0
        return {"jobs": len(jobs), "tasks": tasks}


def median(values: list[float]) -> float:
    """Median of ``values``; 0 for a layer that recorded none."""
    return statistics.median(values) if values else 0.0
