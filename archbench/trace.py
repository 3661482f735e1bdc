"""In-memory spans around the benchmark's calls into the program's layers.

A span records name, start, end and parent, plus counts taken at the same
boundary: the Spark jobs its calls launched (one job group per span) and
the change in the status store's executor summary (tasks, task time, GC
time, input and shuffle bytes). Spark is lazy, so traced workloads force
each layer's output at its span boundary; that changes the plan, which is
why end-to-end metrics come only from untraced runs. Spans stay in memory
and are written out once, by ``Tracer.dump``.
"""

from __future__ import annotations

import json
import time
from contextlib import contextmanager

EXEC_FIELDS = (
    "tasks",
    "task_time_ms",
    "gc_ms",
    "input_bytes",
    "shuffle_read_bytes",
    "shuffle_write_bytes",
)


class ExecutorSummary:
    """Totals of the live status store's executor summaries."""

    def __init__(self, spark):
        jsc = spark.sparkContext._jsc.sc()
        self._store = jsc.statusStore()
        self._bus = jsc.listenerBus()

    def snapshot(self) -> dict[str, int]:
        # task-end events reach the status store through the async
        # listener bus; drain it so the totals include every finished task
        self._bus.waitUntilEmpty()
        execs = self._store.executorList(True)
        tot = dict.fromkeys(EXEC_FIELDS, 0)
        for i in range(execs.size()):
            e = execs.apply(i)
            tot["tasks"] += e.totalTasks()
            tot["task_time_ms"] += e.totalDuration()
            tot["gc_ms"] += e.totalGCTime()
            tot["input_bytes"] += e.totalInputBytes()
            tot["shuffle_read_bytes"] += e.totalShuffleRead()
            tot["shuffle_write_bytes"] += e.totalShuffleWrite()
        return tot


class Tracer:
    def __init__(self, spark):
        self._sc = spark.sparkContext
        self._execs = ExecutorSummary(spark)
        self.spans: list[dict] = []
        self._stack: list[dict] = []

    @contextmanager
    def span(self, name: str, spark: bool = True):
        """Record a span; the caller may add counts to the yielded dict's
        ``counts``. Jobs launched inside belong to this span only (nested
        spans switch the job group and restore it on exit). ``spark=False``
        skips the Spark counters for calls that launch no job."""
        rec = {
            "id": len(self.spans),
            "parent": self._stack[-1]["id"] if self._stack else None,
            "name": name,
            "spark": spark,
            "counts": {},
            "exec": dict.fromkeys(EXEC_FIELDS, 0),
            "jobs": 0,
        }
        self.spans.append(rec)
        group = f"archbench-{rec['id']}"
        if spark:
            before = self._execs.snapshot()
            self._sc.setJobGroup(group, name)
        self._stack.append(rec)
        rec["start"] = time.perf_counter()
        try:
            yield rec
        finally:
            rec["end"] = time.perf_counter()
            self._stack.pop()
            if spark:
                outer = [s for s in self._stack if s["spark"]]
                if outer:
                    self._sc.setJobGroup(f"archbench-{outer[-1]['id']}", outer[-1]["name"])
                else:
                    self._sc.setJobGroup("", "")
                after = self._execs.snapshot()
                rec["exec"] = {k: after[k] - before[k] for k in EXEC_FIELDS}
                rec["jobs"] = len(self._sc.statusTracker().getJobIdsForGroup(group))

    def _children(self, rec: dict) -> list[dict]:
        return [s for s in self.spans if s["parent"] == rec["id"]]

    def self_time(self, rec: dict) -> float:
        """Duration minus the part its (sequential) children cover."""
        own = rec["end"] - rec["start"]
        return own - sum(c["end"] - c["start"] for c in self._children(rec))

    def self_exec(self, rec: dict) -> dict[str, int]:
        out = dict(rec["exec"])
        for c in self._children(rec):
            for k in EXEC_FIELDS:
                out[k] -= c["exec"][k]
        return out

    def layer(self, name: str) -> dict:
        """Self time, job count, executor deltas and counts summed over
        every span of one layer."""
        spans = [s for s in self.spans if s["name"] == name]
        tot = {"spans": len(spans), "self_s": 0.0, "jobs": 0, "counts": {}}
        tot.update(dict.fromkeys(EXEC_FIELDS, 0))
        for s in spans:
            tot["self_s"] += self.self_time(s)
            tot["jobs"] += s["jobs"]
            for k, v in self.self_exec(s).items():
                tot[k] += v
            for k, v in s["counts"].items():
                tot["counts"][k] = tot["counts"].get(k, 0) + v
        return tot

    def totals(self, skip: tuple[str, ...] = ("bench.count",)) -> dict:
        """Jobs and executor deltas of the top-level spans that run Spark
        jobs (``calls`` of them), less the spans named in ``skip``: work
        the benchmark adds, such as counting for a figure, is not the
        program's."""
        calls = [s for s in self.spans if s["parent"] is None and s["spark"]]
        skipped = [s for s in self.spans if s["name"] in skip]
        tot = {
            "calls": len(calls),
            "jobs": sum(s["jobs"] for s in self.spans if s["name"] not in skip),
        }
        for k in EXEC_FIELDS:
            tot[k] = sum(s["exec"][k] for s in calls) - sum(s["exec"][k] for s in skipped)
        return tot

    def dump(self, path: str, extra: dict) -> None:
        with open(path, "w") as f:
            json.dump({"spans": self.spans, **extra}, f, indent=1, default=str)
