"""Tracing from outside the program: spans, Spark stage counters, memory.

Spans are kept in memory and written out once, when the run ends. Stage
counters come from Spark's status store, which is populated with the UI
off; each call collects only the stages created since the previous call.
"""

from __future__ import annotations

import itertools
import json
import statistics
import time
from contextlib import contextmanager

STAGE_FIELDS = (
    "numTasks", "executorRunTime", "executorCpuTime", "shuffleWriteBytes",
    "memoryBytesSpilled", "diskBytesSpilled", "peakExecutionMemory",
)


class Tracer:
    """Records spans ``(id, parent, pass, name, start, end)``; spans of one
    pass share its ``pass`` id."""

    def __init__(self) -> None:
        self.spans: list[dict] = []
        self._ids = itertools.count(1)
        self._stack: list[int] = []
        self.pass_id: str | None = None

    @contextmanager
    def span(self, name: str):
        sid = next(self._ids)
        rec = {"id": sid, "parent": self._stack[-1] if self._stack else None,
               "pass": self.pass_id, "name": name}
        self._stack.append(sid)
        rec["start"] = time.perf_counter()
        try:
            yield rec
        finally:
            rec["end"] = time.perf_counter()
            self._stack.pop()
            self.spans.append(rec)

    def write(self, path: str) -> None:
        with open(path, "w") as fh:
            json.dump(self.spans, fh)


class StageCounters:
    """Sums of status-store stage metrics over stages created since the
    last :meth:`take`. The store lists stages newest first."""

    def __init__(self, spark) -> None:
        sc = spark.sparkContext
        self._jvm = sc._jvm
        self._store = sc._jsc.sc().statusStore()
        self._bus = sc._jsc.sc().listenerBus()
        self._no_quantiles = sc._gateway.new_array(self._jvm.double, 0)
        self._seen = self._latest_id()

    def _stages(self):
        empty = self._jvm.java.util.ArrayList
        return self._store.stageList(empty(), False, False, self._no_quantiles, empty())

    def _latest_id(self) -> int:
        seq = self._stages()
        return seq.apply(0).stageId() if seq.size() else -1

    def take(self) -> dict:
        # Stage events reach the store through the asynchronous listener
        # bus; drain it so the finished call's last stage is counted.
        self._bus.waitUntilEmpty(10_000)
        seq = self._stages()
        tot = dict.fromkeys(STAGE_FIELDS, 0)
        peak = 0
        newest = self._seen
        for i in range(seq.size()):
            st = seq.apply(i)
            sid = st.stageId()
            if sid <= self._seen:
                break
            newest = max(newest, sid)
            for f in STAGE_FIELDS:
                tot[f] += getattr(st, f)()
            peak = max(peak, st.peakExecutionMemory())
        self._seen = newest
        tot["peakExecutionMemory"] = peak  # the largest stage, not a sum
        return tot


def jvm_gc_ms(spark) -> int:
    """Total collection time of every JVM garbage collector, in ms."""
    beans = spark.sparkContext._jvm.java.lang.management.ManagementFactory.getGarbageCollectorMXBeans()
    return sum(max(0, beans.get(i).getCollectionTime()) for i in range(beans.size()))


def jvm_pid(spark) -> int:
    return int(spark.sparkContext._jvm.java.lang.ProcessHandle.current().pid())


def peak_rss_mb(pids) -> float:
    """Sum of ``VmHWM`` (peak resident set) over ``pids``, in MiB."""
    total_kb = 0
    for pid in pids:
        with open(f"/proc/{pid}/status") as fh:
            for line in fh:
                if line.startswith("VmHWM:"):
                    total_kb += int(line.split()[1])
    return total_kb / 1024.0


def median_of(per_pass: list[dict]) -> dict:
    """Per key, the median over the passes that report it."""
    keys = {k for d in per_pass for k in d}
    return {k: statistics.median(d[k] for d in per_pass if k in d) for k in sorted(keys)}
