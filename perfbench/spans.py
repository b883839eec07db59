"""Outside-in spans around public calls, with per-span Spark counters.

Each span sets a Spark job group, so every job an API call starts is
attributable to it even with the Spark UI disabled: the job ids come
from ``statusTracker().getJobIdsForGroup`` and the per-stage task
metrics from the driver's status store (``lastStageAttempt``).  CPU of
the process tree (driver, JVM, Python workers) comes from ``/proc``.

Spans live in memory and are written out once, when the run ends.
"""

from __future__ import annotations

import json
import time

from py4j.protocol import Py4JJavaError

import proctree

# stage-metric fields summed per span: (span key, StageData getter, scale)
_STAGE_FIELDS = (
    ("tasks", "numTasks", 1),
    ("failed_tasks", "numFailedTasks", 1),
    ("exec_run_s", "executorRunTime", 1e-3),
    ("exec_cpu_s", "executorCpuTime", 1e-9),
    ("gc_s", "jvmGcTime", 1e-3),
    ("shuffle_write_mb", "shuffleWriteBytes", 1 / 2 ** 20),
    ("shuffle_read_mb", "shuffleReadBytes", 1 / 2 ** 20),
    ("spill_mb", "diskBytesSpilled", 1 / 2 ** 20),
)


class Span:
    __slots__ = ("name", "op", "parent", "start", "end", "counters",
                 "group", "cpu0")

    def __init__(self, name, op, parent, start, group):
        self.name = name
        self.op = op
        self.parent = parent
        self.start = start
        self.end = start
        self.counters: dict[str, float] = {}
        self.group = group
        self.cpu0 = proctree.snapshot()

    @property
    def wall_s(self) -> float:
        return self.end - self.start

    def as_dict(self) -> dict:
        return {"name": self.name, "op": self.op, "parent": self.parent,
                "start": self.start, "end": self.end, **self.counters}


class Tracer:
    """Records spans when enabled; a disabled tracer runs the body and
    records nothing (no job group, no /proc read, no listener drain)."""

    def __init__(self, spark, enabled: bool):
        self.enabled = enabled
        self.spark = spark
        self.spans: list[Span] = []
        self._stack: list[Span] = []
        self._seq = 0

    def span(self, name: str, op: int):
        return _SpanCtx(self, name, op)

    def _open(self, name, op):
        parent = self._stack[-1].name if self._stack else None
        self._seq += 1
        group = f"perfbench-{self._seq}-{name}"
        self.spark.sparkContext.setJobGroup(group, name)
        s = Span(name, op, parent, time.perf_counter(), group)
        self._stack.append(s)
        return s

    def _close(self, s: Span):
        s.end = time.perf_counter()
        cpu = proctree.snapshot() - s.cpu0
        s.counters.update(stage_counters(self.spark, s.group))
        s.counters["pyworker_cpu_s"] = cpu.pyworker_s
        s.counters["tree_cpu_s"] = cpu.total_s
        self._stack.pop()
        sc = self.spark.sparkContext
        if self._stack:
            # back to the enclosing span's group
            outer = self._stack[-1]
            sc.setJobGroup(outer.group, outer.name)
        else:
            sc._jsc.clearJobGroup()
        self.spans.append(s)

    def write(self, path: str, extra: dict) -> None:
        with open(path, "w") as f:
            json.dump({**extra, "spans": [s.as_dict() for s in self.spans]},
                      f, indent=1)


class _SpanCtx:
    def __init__(self, tracer, name, op):
        self.tracer, self.name, self.op = tracer, name, op
        self.span = None

    def __enter__(self):
        if self.tracer.enabled:
            self.span = self.tracer._open(self.name, self.op)
        return self.span

    def __exit__(self, *exc):
        if self.span is not None:
            self.tracer._close(self.span)
        return False


def stage_counters(spark, group: str) -> dict:
    """Jobs, tasks and summed stage task metrics of one job group."""
    sc = spark.sparkContext
    # the status store is fed by the listener bus: drain it first
    sc._jsc.sc().listenerBus().waitUntilEmpty(10_000)
    tracker = sc.statusTracker()
    store = sc._jsc.sc().statusStore()
    jobs = tracker.getJobIdsForGroup(group)
    out = {k: 0.0 for k, _, _ in _STAGE_FIELDS}
    out["jobs"] = float(len(jobs))
    seen = set()
    for j in jobs:
        info = tracker.getJobInfo(j)
        for sid in (info.stageIds if info is not None else ()):
            if sid in seen:
                continue
            seen.add(sid)
            try:
                sd = store.lastStageAttempt(sid)
            except Py4JJavaError:  # evicted from the store, or never attempted
                continue
            if str(sd.status()) == "SKIPPED":
                continue
            for key, getter, scale in _STAGE_FIELDS:
                out[key] += float(getattr(sd, getter)()) * scale
    return out
