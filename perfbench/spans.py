"""In-memory span tracer, latency statistics and process-tree memory.

A span is (name, start, end, parent, run id).  Spans are kept in memory
while the benchmark runs and written out once at the end, so recording
one costs two clock reads and a list append.
"""

from __future__ import annotations

import contextlib
import json
import os
import threading
import time


class Tracer:
    def __init__(self, run_id: str) -> None:
        self.run_id = run_id
        self.spans: list[dict] = []
        self._stack: list[int] = []
        self._lock = threading.Lock()

    @contextlib.contextmanager
    def span(self, name: str, **attrs):
        """Record the wrapped block as a child of the innermost open span.

        The parent stack is shared by all threads on purpose: Spark calls
        a ``foreachBatch`` sink on a callback thread while the thread that
        started the query blocks in ``awaitTermination``, and the sink's
        spans belong under that waiting span."""
        with self._lock:
            sid = len(self.spans)
            parent = self._stack[-1] if self._stack else None
            rec = {"id": sid, "name": name, "parent": parent,
                   "run_id": self.run_id, "start": time.perf_counter(),
                   "end": None, **attrs}
            self.spans.append(rec)
            self._stack.append(sid)
        try:
            yield rec
        finally:
            rec["end"] = time.perf_counter()
            with self._lock:
                self._stack.remove(sid)

    def durations(self, name: str) -> list[float]:
        return [s["end"] - s["start"] for s in self.spans
                if s["name"] == name and s["end"] is not None]

    def self_time(self, span: dict) -> float:
        """Span duration minus the part of it its children cover."""
        kids = sorted((c["start"], c["end"]) for c in self.spans
                      if c["parent"] == span["id"] and c["end"] is not None)
        covered, cur_s, cur_e = 0.0, None, None
        for s, e in kids:
            if cur_e is None or s > cur_e:
                if cur_e is not None:
                    covered += cur_e - cur_s
                cur_s, cur_e = s, e
            else:
                cur_e = max(cur_e, e)
        if cur_e is not None:
            covered += cur_e - cur_s
        return (span["end"] - span["start"]) - covered

    def write(self, path: str) -> None:
        os.makedirs(os.path.dirname(path), exist_ok=True)
        with open(path, "w") as f:
            for s in self.spans:
                f.write(json.dumps({**s, "self": self.self_time(s)}) + "\n")


def tail(samples: list[float], beyond: int = 10) -> tuple[float, float, int]:
    """The highest percentile with at least ``beyond`` samples above it.

    Returns ``(value, percentile, samples_beyond)`` by nearest rank: the
    sample at sorted rank ``n - beyond`` has exactly ``beyond`` samples
    above it and sits at percentile ``100 * (n - beyond) / n``.  With
    ``beyond`` samples or fewer no percentile qualifies; the maximum is
    returned at percentile 100 with the count of samples above it (0),
    so the reader can see the rule was not met."""
    if not samples:
        raise ValueError("tail of an empty sample")
    xs = sorted(samples)
    n = len(xs)
    if n <= beyond:
        return xs[-1], 100.0, 0
    return xs[n - beyond - 1], 100.0 * (n - beyond) / n, beyond


def _children() -> dict[int, list[int]]:
    kids: dict[int, list[int]] = {}
    for d in os.listdir("/proc"):
        if not d.isdigit():
            continue
        try:
            with open(f"/proc/{d}/stat") as f:
                # the command name may hold spaces; ppid follows its ')'
                ppid = int(f.read().rsplit(")", 1)[1].split()[1])
        except (OSError, IndexError, ValueError):
            continue
        kids.setdefault(ppid, []).append(int(d))
    return kids


def tree_peak_rss_mb(root: int | None = None) -> float:
    """Largest VmHWM (peak resident set) of any process in the tree under
    ``root`` (this process by default): the driver, the JVM it launched
    and the JVM's Python workers."""
    kids = _children()
    todo, peak = [root or os.getpid()], 0
    while todo:
        pid = todo.pop()
        todo.extend(kids.get(pid, []))
        try:
            with open(f"/proc/{pid}/status") as f:
                for line in f:
                    if line.startswith("VmHWM:"):
                        peak = max(peak, int(line.split()[1]))
        except OSError:
            continue
    return peak / 1024.0


def cpu_canary() -> float:
    """Seconds for a fixed pure-Python loop: a reading of how much CPU the
    host gives this process, recorded with the run as metadata."""
    t = time.perf_counter()
    acc = 0
    for i in range(2_000_000):
        acc += i * i
    return time.perf_counter() - t
