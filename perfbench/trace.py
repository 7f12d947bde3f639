"""In-memory spans for the traced run.

A span records its name, start, end, parent and thread. Spans opened with
``counters=True`` also record the deltas of Spark's stage metrics over the
span, read from the application status store (which Spark keeps even with
the UI disabled). Spans stay in memory and are written out once, at exit.
"""

from __future__ import annotations

import functools
import threading
import time
from contextlib import contextmanager

COUNTERS = ("jobs", "tasks", "executor_run_s", "executor_cpu_s", "gc_ms", "shuffle_write_bytes", "spill_bytes")


class StageCounters:
    """Cumulative totals over every finished stage attempt of the session."""

    def __init__(self, spark):
        self._sc = spark.sparkContext._jsc.sc()
        self._gw = spark.sparkContext._gateway
        self._seen: dict[tuple[int, int], tuple] = {}

    def snapshot(self) -> dict:
        self._sc.listenerBus().waitUntilEmpty()  # stage-end events are async
        store = self._sc.statusStore()
        stages = store.stageList(None, False, False, self._gw.new_array(self._gw.jvm.double, 0), None)
        it = stages.iterator()
        while it.hasNext():
            s = it.next()
            key = (s.stageId(), s.attemptId())
            if key in self._seen or s.status().toString() not in ("COMPLETE", "FAILED"):
                continue
            self._seen[key] = (
                s.numCompleteTasks(),
                s.executorRunTime() / 1e3,
                s.executorCpuTime() / 1e9,
                s.jvmGcTime(),
                s.shuffleWriteBytes(),
                s.memoryBytesSpilled() + s.diskBytesSpilled(),
            )
        tot = [sum(v[i] for v in self._seen.values()) for i in range(6)]
        return dict(zip(COUNTERS, [store.jobsList(None).size(), *tot]))


class Tracer:
    def __init__(self, spark=None):
        self.spans: list[dict] = []
        self._local = threading.local()
        self._lock = threading.Lock()
        self._counters = StageCounters(spark) if spark is not None else None

    def _stack(self) -> list[int]:
        if not hasattr(self._local, "stack"):
            self._local.stack = []
        return self._local.stack

    @contextmanager
    def span(self, name: str, counters: bool = False, parent: int | None = None):
        """Record a span. ``parent`` defaults to the innermost open span of
        this thread; pass it for work handed to other threads."""
        stack = self._stack()
        with self._lock:
            sid = len(self.spans)
            rec = {"id": sid, "name": name, "parent": stack[-1] if stack else parent,
                   "thread": threading.get_ident()}
            self.spans.append(rec)
        before = self._counters.snapshot() if counters and self._counters else None
        stack.append(sid)
        rec["start"] = time.perf_counter()
        try:
            yield rec
        finally:
            rec["end"] = time.perf_counter()
            stack.pop()
            if before is not None:
                after = self._counters.snapshot()
                rec["counters"] = {k: after[k] - before[k] for k in COUNTERS}

    def wrap(self, name: str, fn, parent: int | None = None):
        """``fn`` with every call recorded as a span named ``name``."""

        @functools.wraps(fn)
        def traced(*args, **kwargs):
            with self.span(name, parent=parent):
                return fn(*args, **kwargs)

        return traced

    # -------------------------------------------------------- queries

    def wall(self, name: str, parent: int) -> float:
        """Wall time covered by the children of ``parent`` with this name
        (overlapping spans from several threads counted once)."""
        return _union([(s["start"], s["end"]) for s in self.spans if s["parent"] == parent and s["name"] == name])

    def self_time(self, span: dict) -> float:
        """Duration minus the part of it covered by child spans."""
        kids = [(c["start"], c["end"]) for c in self.spans if c["parent"] == span["id"]]
        return (span["end"] - span["start"]) - _union(kids)

    def to_json(self) -> list[dict]:
        t0 = min((s["start"] for s in self.spans), default=0.0)
        out = []
        for s in self.spans:
            rec = {k: v for k, v in s.items() if k not in ("start", "end", "thread")}
            rec["start_s"] = round(s["start"] - t0, 6)
            rec["dur_s"] = round(s["end"] - s["start"], 6)
            rec["self_s"] = round(self.self_time(s), 6)
            out.append(rec)
        return out


def _union(intervals: list[tuple[float, float]]) -> float:
    total, end = 0.0, float("-inf")
    for a, b in sorted(intervals):
        if b <= end:
            continue
        total += b - max(a, end)
        end = b
    return total
