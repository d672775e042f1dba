"""Spans around calls into the engine, with Spark's own counters per span.

Each span runs its calls under a job group of its own. When the span
closes, the benchmark reads the group's jobs back through Spark's status
tracker and each stage's task metrics through the application status
store (both work with the web UI off), outside the span's timed window.
The status store is filled asynchronously from the listener bus, so the
bus is drained first: otherwise a job's last events may not have reached
the store yet and its jobs, stages and task metrics read short.
Spans stay in memory; the caller writes them out when the run ends.
"""

from __future__ import annotations

import time
from contextlib import contextmanager

COUNTERS = (
    "jobs",
    "stages",
    "tasks",
    "shuffle_write_bytes",
    "spill_bytes",
    "executor_run_s",
    "input_bytes",
)


def zero_counters() -> dict[str, float]:
    return {k: 0 for k in COUNTERS}


def add_counters(acc: dict[str, float], more: dict[str, float]) -> None:
    for k in COUNTERS:
        acc[k] += more[k]


def stage_metrics(sc, stage_id: int) -> dict[str, float] | None:
    """Task metrics of a stage's attempts, or None if it never ran."""
    attempts = sc._jsc.sc().statusStore().stageData(stage_id, False, None, False, None)
    out = zero_counters()
    ran = False
    for i in range(attempts.size()):
        s = attempts.apply(i)
        if str(s.status()) == "SKIPPED":
            continue
        ran = True
        out["stages"] += 1
        out["tasks"] += s.numCompleteTasks()
        out["shuffle_write_bytes"] += s.shuffleWriteBytes()
        out["spill_bytes"] += s.memoryBytesSpilled() + s.diskBytesSpilled()
        out["executor_run_s"] += s.executorRunTime() / 1000.0
        out["input_bytes"] += s.inputBytes()
    return out if ran else None


class Tracer:
    """Records named spans; each span's jobs form one Spark job group."""

    def __init__(self, spark):
        self.sc = spark.sparkContext
        self.spans: list[dict] = []

    @contextmanager
    def span(self, name: str, parent: str | None = None):
        group = f"perfbench-{len(self.spans)}"
        self.sc.setJobGroup(group, name)
        start = time.perf_counter()
        try:
            yield
        finally:
            end = time.perf_counter()
            self.sc._jsc.sc().clearJobGroup()
            record = {"name": name, "parent": parent, "start": start, "end": end,
                      "s": end - start}
            record.update(self.group_counters(group))
            self.spans.append(record)

    def drain(self) -> None:
        """Wait until the listener bus has delivered every event posted so
        far. A job posts its end event before its action returns, so after
        this the store holds the final figures of every finished job."""
        self.sc._jsc.sc().listenerBus().waitUntilEmpty()

    def group_counters(self, group: str) -> dict[str, float]:
        self.drain()
        tracker = self.sc.statusTracker()
        out = zero_counters()
        stage_ids: set[int] = set()
        for job_id in tracker.getJobIdsForGroup(group):
            info = tracker.getJobInfo(job_id)
            if info is None:
                continue
            out["jobs"] += 1
            # a job that reuses another job's shuffle lists that stage too
            stage_ids.update(info.stageIds)
        for stage_id in sorted(stage_ids):
            m = stage_metrics(self.sc, stage_id)
            if m is not None:
                add_counters(out, m)
        return out

    def last(self) -> dict:
        return self.spans[-1]
