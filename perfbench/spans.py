"""Spans and Spark status-store readings, taken from outside the library.

Spans (name, start, end, parent, pass id) are kept in memory and written
as JSON when the run ends.  Stage metrics come from Spark's own status
store (the store behind the web UI, live even with the UI disabled),
read between passes so reading costs the timed region nothing.
"""

from __future__ import annotations

import json
import statistics
import time
from contextlib import contextmanager
from typing import Dict, List, Optional


class Tracer:
    def __init__(self) -> None:
        self.t0 = time.perf_counter()
        self.spans: List[Dict] = []

    @contextmanager
    def span(self, name: str, parent: Optional[str] = None, pass_id: Optional[str] = None):
        rec = {"name": name, "parent": parent, "pass_id": pass_id,
               "start": time.perf_counter() - self.t0}
        try:
            yield rec
        finally:
            rec["end"] = time.perf_counter() - self.t0
            self.spans.append(rec)

    def dump(self, path: str, extra: Dict) -> None:
        with open(path, "w") as fh:
            json.dump(dict(extra, spans=self.spans), fh, indent=1)


class SparkStats:
    """Job/stage/task metrics of the jobs run since a ``mark()``."""

    def __init__(self, spark) -> None:
        self.store = spark.sparkContext._jsc.sc().statusStore()
        self.gw = spark.sparkContext._gateway

    def mark(self) -> int:
        jobs = self.store.jobsList(None)
        return max((jobs.apply(i).jobId() for i in range(jobs.size())), default=-1)

    def jobs_since(self, mark: int) -> List:
        jobs = self.store.jobsList(None)
        return [j for j in (jobs.apply(i) for i in range(jobs.size())) if j.jobId() > mark]

    def _stages(self, jobs: List) -> List:
        ids = set()
        for j in jobs:
            sids = j.stageIds()
            ids.update(sids.apply(k) for k in range(sids.size()))
        empty = self.gw.new_array(self.gw.jvm.double, 0)
        stages = self.store.stageList(None, False, False, empty, None)
        return [
            s for s in (stages.apply(i) for i in range(stages.size()))
            if s.stageId() in ids and str(s.status()) == "COMPLETE"
        ]

    @staticmethod
    def busy_s(jobs: List) -> float:
        """Length of the union of the jobs' submit->complete intervals."""
        spans = []
        for j in jobs:
            if j.submissionTime().isDefined() and j.completionTime().isDefined():
                spans.append((j.submissionTime().get().getTime(),
                              j.completionTime().get().getTime()))
        total, end = 0, None
        for a, b in sorted(spans):
            if end is None or a > end:
                total += b - a
                end = b
            elif b > end:
                total += b - end
                end = b
        return total / 1000.0

    def totals(self, jobs: List) -> Dict[str, float]:
        out = {"executor_run_s": 0.0, "executor_cpu_s": 0.0, "gc_s": 0.0,
               "shuffle_read_mb": 0.0, "shuffle_write_mb": 0.0, "spill_mb": 0.0,
               "tasks": 0, "failed_tasks": 0}
        for s in self._stages(jobs):
            out["executor_run_s"] += s.executorRunTime() / 1e3
            out["executor_cpu_s"] += s.executorCpuTime() / 1e9
            out["gc_s"] += s.jvmGcTime() / 1e3
            out["shuffle_read_mb"] += s.shuffleReadBytes() / 1e6
            out["shuffle_write_mb"] += s.shuffleWriteBytes() / 1e6
            out["spill_mb"] += (s.memoryBytesSpilled() + s.diskBytesSpilled()) / 1e6
            out["tasks"] += s.numTasks()
            out["failed_tasks"] += s.numFailedTasks()
        return out

    def task_skew(self, jobs: List) -> float:
        """max/median task time of the busiest stage that reads a shuffle."""
        readers = [s for s in self._stages(jobs) if s.shuffleReadBytes() > 0]
        if not readers:
            return 0.0
        top = max(readers, key=lambda s: s.executorRunTime())
        tasks = self.store.taskList(top.stageId(), top.attemptId(), 100000)
        times = [
            t.duration().get() for t in (tasks.apply(i) for i in range(tasks.size()))
            if t.duration().isDefined()
        ]
        med = statistics.median(times) if times else 0
        return max(times) / med if med else 0.0
