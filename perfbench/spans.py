"""Outside-in trace recorder for the benchmark.

Spans are recorded by the benchmark around its calls into the engine's
public functions (nothing inside the engine is instrumented). Each span
holds ``(name, start, end, parent, op)``; spans of one operation share
an op id. Spans stay in memory and are written once, when the run ends.

Alongside spans the recorder reads two kinds of counters from outside
the engine:

- Spark's executor counters (``statusStore().executorList(true)``)
  and per-stage task time (``statusStore().stageList``), as deltas
  around a block;
- the growth of the engine's session memo, via a callable the caller
  supplies (it reads ``len(cache._MEMO[spark])``).

The recorder's own bookkeeping (clock reads, listener-bus drains,
counter reads) is timed and reported as ``overhead_s``.
"""

from __future__ import annotations

import json
import time
from contextlib import contextmanager
from dataclasses import dataclass, field
from typing import Callable, Iterator

#: executor counter fields read from the status store, by output name
SPARK_COUNTERS = (
    ("tasks", "totalTasks"),
    ("failed_tasks", "failedTasks"),
    ("input_bytes", "totalInputBytes"),
    ("shuffle_read_bytes", "totalShuffleRead"),
    ("shuffle_write_bytes", "totalShuffleWrite"),
)
#: per-stage task-time sums; an executor's ``totalDuration`` counts the
#: time any of its tasks ran, not the sum over concurrent tasks
STAGE_COUNTERS = (("task_run_ms", "executorRunTime"), ("task_cpu_ns", "executorCpuTime"))


def spark_counters(spark) -> dict[str, int]:
    """Sum of each executor counter over every executor, dead ones too,
    and of each task-time counter over every retained stage, after the
    listener bus has delivered every pending event."""
    sc = spark.sparkContext._jsc.sc()
    sc.listenerBus().waitUntilEmpty()
    store = sc.statusStore()
    totals = dict.fromkeys((k for k, _ in SPARK_COUNTERS + STAGE_COUNTERS), 0)
    executors = store.executorList(True)
    for i in range(executors.size()):
        e = executors.apply(i)
        for key, getter in SPARK_COUNTERS:
            totals[key] += int(getattr(e, getter)())
    # every status, no details or summaries, every task status
    stages = store.stageList(None, False, False, getattr(store, "stageList$default$4")(), None)
    for i in range(stages.size()):
        st = stages.apply(i)
        for key, getter in STAGE_COUNTERS:
            totals[key] += int(getattr(st, getter)())
    return totals


@dataclass
class Span:
    name: str
    start: float
    end: float
    parent: int | None
    op: int | None
    counts: dict[str, int] = field(default_factory=dict)


class Recorder:
    """Records spans and counter deltas; a disabled recorder records
    nothing and costs one branch per span."""

    def __init__(self, enabled: bool) -> None:
        self.enabled = enabled
        self.spans: list[Span] = []
        self.overhead_s = 0.0
        self._stack: list[int] = []
        self._op = 0

    def next_op(self) -> int:
        self._op += 1
        return self._op

    @contextmanager
    def span(
        self,
        name: str,
        op: int | None = None,
        spark=None,
        memo: Callable[[], int] | None = None,
    ) -> Iterator[Span | None]:
        """Time the enclosed block as span ``name``. With ``spark`` the
        span also carries executor-counter deltas, with ``memo`` the
        growth of the session memo."""
        if not self.enabled:
            yield None
            return
        t0 = time.perf_counter()
        before = spark_counters(spark) if spark is not None else None
        memo0 = memo() if memo is not None else None
        parent = self._stack[-1] if self._stack else None
        s = Span(name, 0.0, 0.0, parent, op)
        self.spans.append(s)
        self._stack.append(len(self.spans) - 1)
        s.start = time.perf_counter()
        self.overhead_s += s.start - t0
        try:
            yield s
        finally:
            s.end = time.perf_counter()
            self._stack.pop()
            if before is not None:
                after = spark_counters(spark)
                s.counts.update({k: after[k] - before[k] for k in after})
            if memo0 is not None:
                s.counts["memo_builds"] = memo() - memo0
            self.overhead_s += time.perf_counter() - s.end

    def durations(self, name: str) -> list[float]:
        return [s.end - s.start for s in self.spans if s.name == name]

    def self_times(self) -> dict[str, float]:
        """Total self time per span name: a span's duration minus the
        part of it its direct children cover."""
        child = [0.0] * len(self.spans)
        for s in self.spans:
            if s.parent is not None:
                child[s.parent] += s.end - s.start
        out: dict[str, float] = {}
        for i, s in enumerate(self.spans):
            out[s.name] = out.get(s.name, 0.0) + (s.end - s.start) - child[i]
        return out

    def write(self, path: str) -> None:
        t0 = self.spans[0].start if self.spans else 0.0
        rows = [
            {
                "name": s.name,
                "start": s.start - t0,
                "end": s.end - t0,
                "parent": s.parent,
                "op": s.op,
                **({"counts": s.counts} if s.counts else {}),
            }
            for s in self.spans
        ]
        with open(path, "w", encoding="utf-8") as fh:
            json.dump({"spans": rows, "self_s": self.self_times()}, fh)
