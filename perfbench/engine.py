"""Jobs and stages from Spark's ``AppStatusStore``, attributed to phases.

The status store is filled by Spark's listener bus whether or not the UI is
enabled. Each workload runs one query at a time, so every job submitted
inside a (query, phase) window belongs to that phase; the runner records
the windows and ``attribute`` assigns jobs to them by submission time. Job
groups would not work: thread pools inside the query layer do not carry
them.
"""

from __future__ import annotations

import json
from dataclasses import dataclass, field


@dataclass
class Window:
    """One phase of one query execution, in epoch milliseconds."""

    query: str
    phase: str  # "build" or "exec"
    pass_no: int
    start_ms: float
    end_ms: float
    jobs: list = field(default_factory=list)


class StatusStore:
    """Reads the session's status store as JSON, one py4j call per list."""

    def __init__(self, spark) -> None:
        jvm = spark._jvm
        self._sc = spark.sparkContext._jsc.sc()
        self._store = self._sc.statusStore()
        self._gateway = spark.sparkContext._gateway
        self._double = jvm.double
        self._mapper = jvm.com.fasterxml.jackson.databind.ObjectMapper()
        scala = getattr(jvm.com.fasterxml.jackson.module.scala, "DefaultScalaModule$")
        self._mapper.registerModule(scala.__getattr__("MODULE$"))

    def drain(self) -> None:
        """Wait until every posted job and stage event is in the store."""
        self._sc.listenerBus().waitUntilEmpty(60_000)

    def jobs(self) -> list[dict]:
        return json.loads(self._mapper.writeValueAsString(self._store.jobsList(None)))

    def stages(self) -> list[dict]:
        no_quantiles = self._gateway.new_array(self._double, 0)
        seq = self._store.stageList(None, False, False, no_quantiles, None)
        return json.loads(self._mapper.writeValueAsString(seq))


def _union_s(intervals: list[tuple[float, float]]) -> float:
    total, end = 0.0, float("-inf")
    for a, b in sorted(intervals):
        if b > end:
            total += b - max(a, end)
            end = b
    return total / 1000.0


def attribute(windows: list[Window], jobs: list[dict]) -> list[dict]:
    """Put each job into the window whose [start, end] holds its submission
    time; return the jobs that fall into none. Jobs are stamped in whole
    milliseconds, so window edges are widened by 1 ms."""
    ordered = sorted(windows, key=lambda w: w.start_ms)
    orphans = []
    for job in jobs:
        t = job.get("submissionTime")
        home = None
        if t is not None:
            for w in ordered:
                if w.start_ms - 1 <= t <= w.end_ms + 1:
                    home = w
                    break
        if home is None:
            orphans.append(job)
        else:
            home.jobs.append(job)
    return orphans


def phase_stats(windows: list[Window], stages: list[dict]) -> dict:
    """Engine totals over ``windows``: jobs, stages (run and skipped), tasks,
    bytes, spill, executor time, and the wall time with no job running."""
    by_stage: dict[int, list[dict]] = {}
    for s in stages:
        by_stage.setdefault(s["stageId"], []).append(s)
    out = dict.fromkeys(
        (
            "jobs", "stages", "stages_skipped", "tasks", "input_mb",
            "shuffle_write_mb", "shuffle_read_mb", "spill_mb",
            "executor_run_s", "executor_cpu_s", "gc_s", "no_job_s", "job_s",
        ),
        0.0,
    )
    seen: set[int] = set()
    for w in windows:
        spans = []
        for job in w.jobs:
            out["jobs"] += 1
            out["stages_skipped"] += job.get("numSkippedStages", 0)
            end = job.get("completionTime") or w.end_ms
            spans.append((job["submissionTime"], end))
            for sid in job["stageIds"]:
                if sid in seen:
                    continue
                seen.add(sid)
                for s in by_stage.get(sid, ()):
                    if s["status"] not in ("COMPLETE", "FAILED"):
                        continue
                    out["stages"] += 1
                    out["tasks"] += s["numTasks"]
                    out["input_mb"] += s["inputBytes"] / 2**20
                    out["shuffle_write_mb"] += s["shuffleWriteBytes"] / 2**20
                    out["shuffle_read_mb"] += s["shuffleReadBytes"] / 2**20
                    out["spill_mb"] += (
                        s["memoryBytesSpilled"] + s["diskBytesSpilled"]
                    ) / 2**20
                    out["executor_run_s"] += s["executorRunTime"] / 1e3
                    out["executor_cpu_s"] += s["executorCpuTime"] / 1e9
                    out["gc_s"] += s["jvmGcTime"] / 1e3
        busy = _union_s(spans)
        out["job_s"] += busy
        out["no_job_s"] += max(0.0, (w.end_ms - w.start_ms) / 1000.0 - busy)
    return out
