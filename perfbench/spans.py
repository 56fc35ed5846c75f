"""Spans around the benchmark's calls into the library.

The library itself carries no tracing: each span wraps one public call
made from the benchmark's own code and records its name, start, end,
parent span and op id, plus the Spark jobs and tasks it caused.  Jobs
are counted by the delta of the scheduler's job-id counter (ids only
increase), so jobs submitted from worker threads or under a streaming
query's job group are counted too; tasks are the completed tasks of
those jobs' stages as the status tracker reports them.

With tracing off ``span`` only yields, so the untraced run pays nothing.
"""

from __future__ import annotations

import json
import time
from contextlib import contextmanager


class Tracer:
    def __init__(self, sc, enabled: bool):
        self.sc = sc
        self.enabled = enabled
        self.spans: list[dict] = []
        self._stack: list[int] = []
        #: seconds spent in span bookkeeping (status-tracker queries)
        self.overhead_s = 0.0

    @contextmanager
    def off(self):
        """Record nothing inside the block (warm-up ops)."""
        enabled, self.enabled = self.enabled, False
        try:
            yield
        finally:
            self.enabled = enabled

    def _next_job_id(self) -> int:
        return int(self.sc._jsc.sc().dagScheduler().nextJobId())

    def _tasks(self, first_job: int, end_job: int) -> int:
        tracker = self.sc.statusTracker()
        stages = set()
        for j in range(first_job, end_job):
            info = tracker.getJobInfo(j)
            if info is not None:
                stages.update(info.stageIds)
        total = 0
        for s in stages:
            st = tracker.getStageInfo(s)
            if st is not None:
                total += st.numCompletedTasks
        return total

    @contextmanager
    def span(self, name: str, op: int | None = None):
        """Record one span; yields its dict so callers can attach counts."""
        if not self.enabled:
            yield {}
            return
        b0 = time.perf_counter()
        rec = {
            "name": name,
            "op": op,
            "parent": self._stack[-1] if self._stack else None,
            "id": len(self.spans),
        }
        self.spans.append(rec)
        self._stack.append(rec["id"])
        job0 = self._next_job_id()
        start = time.perf_counter()
        self.overhead_s += start - b0
        try:
            yield rec
        finally:
            end = time.perf_counter()
            job1 = self._next_job_id()
            self._stack.pop()
            rec.update(
                start=start,
                end=end,
                dur_s=end - start,
                spark_jobs=job1 - job0,
                spark_tasks=self._tasks(job0, job1),
            )
            self.overhead_s += time.perf_counter() - end

    def write(self, path: str) -> None:
        with open(path, "w") as f:
            json.dump({"spans": self.spans, "overhead_s": self.overhead_s}, f, indent=1)
