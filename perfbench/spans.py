"""Spans around calls into the program's layers, with Spark status-store
deltas attached.

A span records its name, start, end, parent and pass id. While a span is
open the Spark job group is set to its name, and on close the span carries
the change in the status store's stage totals (task run time, task CPU,
GC, shuffle bytes, spill, tasks) and in the number of jobs. The status
store is read with the UI off, through ``statusStore().stageList``.
"""

from __future__ import annotations

import time
from contextlib import contextmanager

STAGE_FIELDS = {
    "run_s": ("executorRunTime", 1e-3),
    "task_cpu_s": ("executorCpuTime", 1e-9),
    "gc_s": ("jvmGcTime", 1e-3),
    "shuffle_write_mb": ("shuffleWriteBytes", 1e-6),
    "shuffle_read_mb": ("shuffleReadBytes", 1e-6),
    "spill_mb": (None, 1e-6),
    "tasks": ("numCompleteTasks", 1),
}


class SparkCounters:
    """Totals over every stage and job the status store holds."""

    def __init__(self, spark) -> None:
        self.sc = spark.sparkContext
        self.jvm = self.sc._jvm
        self.store = self.sc._jsc.sc().statusStore()

    def _drain(self) -> None:
        # listener events arrive asynchronously; wait until the store has
        # seen every finished task before reading it
        self.sc._jsc.sc().listenerBus().waitUntilEmpty()

    def totals(self) -> dict:
        self._drain()
        out = {k: 0.0 for k in STAGE_FIELDS}
        stages = self.store.stageList(
            None, False, False,
            self.sc._gateway.new_array(self.jvm.double, 0),
            self.jvm.java.util.ArrayList(),
        )
        for i in range(stages.length()):
            st = stages.apply(i)
            for k, (field, scale) in STAGE_FIELDS.items():
                if field is None:
                    v = st.memoryBytesSpilled() + st.diskBytesSpilled()
                else:
                    v = getattr(st, field)()
                out[k] += v * scale
        jobs = self.store.jobsList(None)
        out["jobs"] = float(jobs.length())
        job_wall = 0.0
        for i in range(jobs.length()):
            j = jobs.apply(i)
            if j.submissionTime().isDefined() and j.completionTime().isDefined():
                job_wall += (j.completionTime().get().getTime()
                             - j.submissionTime().get().getTime()) / 1e3
        out["job_wall_s"] = job_wall
        return out


class Tracer:
    """Collects spans in memory; ``spans`` is written out at the end."""

    def __init__(self, spark) -> None:
        self.spans: list[dict] = []
        self._stack: list[int] = []
        self.counters = SparkCounters(spark)

    @contextmanager
    def span(self, name: str, pass_id: int):
        parent = self.spans[self._stack[-1]]["name"] if self._stack else None
        rec = {"name": name, "parent": parent, "pass": pass_id}
        sc = self.counters.sc
        before = self.counters.totals()
        sc.setJobGroup(name, name)
        self.spans.append(rec)
        self._stack.append(len(self.spans) - 1)
        rec["start"] = time.time()
        try:
            yield rec
        finally:
            rec["end"] = time.time()
            rec["wall_s"] = rec["end"] - rec["start"]
            self._stack.pop()
            if parent:
                sc.setJobGroup(parent, parent)
            else:
                sc._jsc.clearJobGroup()
            after = self.counters.totals()
            rec["spark"] = {k: after[k] - before[k] for k in after}

    def get(self, name: str) -> dict:
        return next(s for s in self.spans if s["name"] == name)
