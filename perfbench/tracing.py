"""In-memory spans around the benchmark's calls into the engine.

A span has a name, start, end, parent span and op id. With tracing on,
a span opened with ``jobs=True`` runs its body under a Spark job group
of its own and, on exit, reads that group's stage counters from the
Spark driver's AppStatusStore: jobs, tasks, executor run/CPU/GC time,
shuffle bytes, spill and peak execution memory. Attribution is by job
group, so nothing else running in the session can leak into a span.

With tracing off, ``span`` only yields; the timed run measures the
end-to-end metrics this way, and the difference to a traced run is the
tracing overhead (``Tracer.self_s`` counts the reader's own time).
"""

from __future__ import annotations

import itertools
import json
import time
from contextlib import contextmanager


class Span:
    __slots__ = ("id", "name", "parent", "op", "start", "end", "counters")

    def __init__(self, sid: int, name: str, parent: int | None,
                 op: int | None):
        self.id, self.name, self.parent, self.op = sid, name, parent, op
        self.start = time.perf_counter()
        self.end = None
        self.counters: dict = {}

    @property
    def ms(self) -> float:
        return (self.end - self.start) * 1e3

    def as_dict(self) -> dict:
        return {"id": self.id, "name": self.name, "parent": self.parent,
                "op": self.op, "start": self.start, "end": self.end,
                **({"counters": self.counters} if self.counters else {})}


class Tracer:
    def __init__(self, spark, enabled: bool):
        self.enabled = enabled
        self.spans: list[Span] = []
        self.self_s = 0.0
        self._sc = spark.sparkContext
        self._ids = itertools.count()
        self._stack: list[Span] = []

    @contextmanager
    def span(self, name: str, op: int | None = None, jobs: bool = False):
        if not self.enabled:
            yield None
            return
        parent = self._stack[-1] if self._stack else None
        if op is None and parent is not None:
            op = parent.op
        s = Span(next(self._ids), name, parent and parent.id, op)
        group = f"perfbench-{s.id}"
        outer = self._sc.getLocalProperty("spark.jobGroup.id")
        if jobs:
            self._sc.setJobGroup(group, name, False)
        self._stack.append(s)
        try:
            yield s
        finally:
            s.end = time.perf_counter()
            self._stack.pop()
            if jobs:
                self._sc.setLocalProperty("spark.jobGroup.id", outer)
                t0 = time.perf_counter()
                s.counters = self._group_counters(group)
                self.self_s += time.perf_counter() - t0
            self.spans.append(s)

    def _group_counters(self, group: str) -> dict:
        jsc = self._sc._jsc.sc()
        # the status store is fed asynchronously by the listener bus
        jsc.listenerBus().waitUntilEmpty()
        store = jsc.statusStore()
        c = dict.fromkeys(("jobs", "tasks", "run_ms", "cpu_ms", "gc_ms",
                           "shuffle_write_bytes", "shuffle_read_bytes",
                           "spill_bytes", "peak_exec_mem_bytes"), 0)
        for job_id in self._sc.statusTracker().getJobIdsForGroup(group):
            c["jobs"] += 1
            it = store.job(job_id).stageIds().iterator()
            while it.hasNext():
                st = store.lastStageAttempt(it.next())
                if st.status().toString() == "SKIPPED":
                    continue
                c["tasks"] += st.numCompleteTasks()
                c["run_ms"] += st.executorRunTime()
                c["cpu_ms"] += st.executorCpuTime() / 1e6
                c["gc_ms"] += st.jvmGcTime()
                c["shuffle_write_bytes"] += st.shuffleWriteBytes()
                c["shuffle_read_bytes"] += st.shuffleReadBytes()
                c["spill_bytes"] += (st.memoryBytesSpilled()
                                     + st.diskBytesSpilled())
                c["peak_exec_mem_bytes"] = max(c["peak_exec_mem_bytes"],
                                               st.peakExecutionMemory())
        return c

    def write(self, path: str, workload: str) -> None:
        with open(path, "w") as f:
            for s in self.spans:
                f.write(json.dumps({"workload": workload, **s.as_dict()})
                        + "\n")


def non_jvm_share(c: dict) -> float:
    """Share of task time spent outside JVM CPU and GC: the Python
    kernels, the Arrow hand-off and waiting."""
    run = c["run_ms"]
    return (run - c["cpu_ms"] - c["gc_ms"]) / run if run else 0.0
