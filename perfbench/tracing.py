"""Outside-in tracer: spans around calls into the package's public functions,
with Spark counter deltas taken at the same boundaries.

A span records name, start, end, parent and trace id. At each boundary the
tracer drains the listener bus and folds every newly finished stage from the
status store into running totals, so a span's counters are the delta of
those totals over its interval. Spans stay in memory until ``dump``.

Self time is a span's duration minus the part of it its child spans cover.
With tracing off, ``NullTracer`` makes every span a no-op.
"""

from __future__ import annotations

import contextlib
import itertools
import json
import threading
import time
from dataclasses import dataclass, field

COUNTERS = (
    "jobs", "stages", "tasks", "executor_run_s", "executor_cpu_s", "gc_s",
    "shuffle_read_bytes", "shuffle_write_bytes", "fetch_wait_s", "spill_bytes",
    "input_records",
)
_TERMINAL = {"COMPLETE", "SKIPPED", "FAILED"}


@dataclass
class Span:
    name: str
    start: float
    parent: int | None
    trace: int
    id: int
    end: float = 0.0
    counters: dict = field(default_factory=dict)
    tracer_s: float = 0.0  # the tracer's own boundary work inside [start, end]

    @property
    def duration(self) -> float:
        return self.end - self.start


class SparkCounters:
    """Cumulative task metrics of every finished stage, read from the
    status store. Only stages in a terminal state are folded in, in id
    order, so a stage still running is counted once it finishes."""

    def __init__(self, spark):
        sc = spark._jsc.sc()
        self._store = sc.statusStore()
        self._bus = sc.listenerBus()
        self._next_stage = 0
        self._next_job = 0
        self._lock = threading.Lock()
        self.totals = dict.fromkeys(COUNTERS, 0.0)
        self.snapshot()  # start from the session's current state

    def snapshot(self) -> dict:
        with self._lock:
            self._bus.waitUntilEmpty()
            while True:
                try:
                    job = self._store.job(self._next_job)
                except Exception:  # Py4JJavaError(NoSuchElementException): no such job yet
                    break
                if str(job.status()) in ("RUNNING", "UNKNOWN"):
                    break
                self._next_job += 1
                self.totals["jobs"] += 1
            while True:
                try:
                    sd = self._store.lastStageAttempt(self._next_stage)
                except Exception:  # Py4JJavaError(NoSuchElementException): no such stage yet
                    break
                status = str(sd.status())
                if status not in _TERMINAL:
                    break
                self._next_stage += 1
                if status == "SKIPPED":
                    continue
                t = self.totals
                t["stages"] += 1
                t["tasks"] += sd.numCompleteTasks()
                t["executor_run_s"] += sd.executorRunTime() / 1e3
                t["executor_cpu_s"] += sd.executorCpuTime() / 1e9
                t["gc_s"] += sd.jvmGcTime() / 1e3
                t["shuffle_read_bytes"] += sd.shuffleReadBytes()
                t["shuffle_write_bytes"] += sd.shuffleWriteBytes()
                t["fetch_wait_s"] += sd.shuffleFetchWaitTime() / 1e3
                t["spill_bytes"] += sd.diskBytesSpilled()
                t["input_records"] += sd.inputRecords()
            return dict(self.totals)


class Tracer:
    enabled = True

    def __init__(self, spark):
        self.counters = SparkCounters(spark)
        self.spans: list[Span] = []
        self._ids = itertools.count()
        self._local = threading.local()

    def _stack(self) -> list[Span]:
        if not hasattr(self._local, "stack"):
            self._local.stack = []
            self._local.snap_s = 0.0
        return self._local.stack

    def _snapshot(self) -> dict:
        t0 = time.perf_counter()
        totals = self.counters.snapshot()
        self._local.snap_s += time.perf_counter() - t0
        return totals

    @contextlib.contextmanager
    def span(self, name: str):
        stack = self._stack()
        parent = stack[-1] if stack else None
        sid = next(self._ids)
        before = self._snapshot()
        snap0 = self._local.snap_s
        sp = Span(name, time.perf_counter(), parent.id if parent else None,
                  parent.trace if parent else sid, sid)
        stack.append(sp)
        try:
            yield sp
        finally:
            sp.end = time.perf_counter()
            sp.tracer_s = self._local.snap_s - snap0
            stack.pop()
            after = self._snapshot()
            sp.counters = {k: after[k] - before[k] for k in COUNTERS}
            self.spans.append(sp)

    def self_times(self) -> dict[int, float]:
        """span id -> duration minus the time covered by its children."""
        covered: dict[int, list[tuple[float, float]]] = {}
        for sp in self.spans:
            if sp.parent is not None:
                covered.setdefault(sp.parent, []).append((sp.start, sp.end))
        out = {}
        for sp in self.spans:
            busy, last = 0.0, sp.start
            for a, b in sorted(covered.get(sp.id, [])):
                a, b = max(a, last), min(b, sp.end)
                if b > a:
                    busy += b - a
                    last = b
            out[sp.id] = sp.duration - busy
        return out

    def named(self, name: str) -> list[Span]:
        return [sp for sp in self.spans if sp.name == name]

    def dump(self, path: str) -> None:
        selfs = self.self_times()
        with open(path, "w") as fh:
            for sp in sorted(self.spans, key=lambda s: s.start):
                fh.write(json.dumps({
                    "name": sp.name, "id": sp.id, "parent": sp.parent,
                    "trace": sp.trace, "start": sp.start, "end": sp.end,
                    "self_s": selfs[sp.id], "tracer_s": sp.tracer_s,
                    "counters": sp.counters,
                }) + "\n")


class NullTracer:
    """Tracing off: spans cost one context-manager entry and record nothing."""

    enabled = False

    def span(self, name: str):
        return contextlib.nullcontext()
