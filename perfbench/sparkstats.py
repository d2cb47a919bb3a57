"""Spark's own job and stage counters, read after each workload operation.

Jobs and stages come from the UI REST API of the running application; the
status tracker confirms that no job is still running before they are read,
and the listener bus is drained first so the store holds every finished job.
Each operation's counters cover the jobs submitted since the previous read,
so the counts of one operation never include another's.
"""

from __future__ import annotations

import json
import time
import urllib.request
from datetime import datetime, timezone

from perfbench import stats

#: counters summed per operation and per workload (all but the time shares)
COUNTERS = ("spark.jobs", "spark.stages", "spark.tasks", "spark.failed_tasks",
            "spark.executor_cpu_s", "spark.executor_run_s", "spark.jvm_gc_s",
            "spark.shuffle_write_bytes", "spark.shuffle_write_records",
            "spark.shuffle_read_bytes", "spark.spill_bytes", "spark.input_bytes",
            "spark.output_bytes", "spark.job_covered_s",
            "spark.driver_gap_s", "spark.wall_s")

#: the counts that must repeat exactly between two runs of one seed
EXACT = ("spark.jobs", "spark.stages", "spark.tasks", "spark.shuffle_write_records")


def _ts(s: str) -> float:
    # "2026-08-18T12:34:56.789GMT"
    return datetime.strptime(s.replace("GMT", "+0000"), "%Y-%m-%dT%H:%M:%S.%f%z") \
        .astimezone(timezone.utc).timestamp()


class SparkCounters:
    """Reads per-operation counters from one SparkContext."""

    def __init__(self, spark) -> None:
        self.sc = spark.sparkContext
        self.base = f"{self.sc.uiWebUrl}/api/v1/applications/{self.sc.applicationId}"
        self.seen_job = self._max_job_id()

    def skip(self) -> None:
        """Leave out every job submitted so far (checks between operations)."""
        self.seen_job = self._max_job_id()

    def _get(self, path: str):
        with urllib.request.urlopen(self.base + path, timeout=60) as r:
            return json.load(r)

    def _quiesce(self, timeout: float = 60.0) -> None:
        deadline = time.time() + timeout
        tracker = self.sc.statusTracker()
        while tracker.getActiveJobsIds() and time.time() < deadline:
            time.sleep(0.05)
        self.sc._jsc.sc().listenerBus().waitUntilEmpty()

    def _max_job_id(self) -> int:
        self._quiesce()
        jobs = self._get("/jobs")
        return max((j["jobId"] for j in jobs), default=-1)

    def read(self, wall: tuple[float, float]) -> dict:
        """Counters of the jobs submitted since the last read.  ``wall`` is
        the operation's (start, end) in epoch seconds."""
        self._quiesce()
        jobs = [j for j in self._get("/jobs") if j["jobId"] > self.seen_job]
        self.seen_job = max([self.seen_job] + [j["jobId"] for j in jobs])
        stage_ids = {s for j in jobs for s in j["stageIds"]}
        stages = [s for s in self._get("/stages")
                  if s["stageId"] in stage_ids and s["status"] != "SKIPPED"]
        intervals = [(_ts(j["submissionTime"]), _ts(j["completionTime"]))
                     for j in jobs if "completionTime" in j]
        groups: dict[str, int] = {}
        for j in jobs:
            g = j.get("jobGroup") or ""
            groups[g] = groups.get(g, 0) + 1

        def total(key: str) -> int:
            return sum(s.get(key, 0) for s in stages)

        ms, ns = 1e-3, 1e-9
        out = {
            "spark.jobs": len(jobs),
            "spark.stages": len(stages),
            "spark.tasks": total("numCompleteTasks") + total("numFailedTasks"),
            "spark.failed_tasks": total("numFailedTasks"),
            "spark.executor_cpu_s": total("executorCpuTime") * ns,
            "spark.executor_run_s": total("executorRunTime") * ms,
            "spark.jvm_gc_s": total("jvmGcTime") * ms,
            "spark.shuffle_write_bytes": total("shuffleWriteBytes"),
            "spark.shuffle_write_records": total("shuffleWriteRecords"),
            "spark.shuffle_read_bytes": total("shuffleReadBytes"),
            "spark.spill_bytes": total("memoryBytesSpilled") + total("diskBytesSpilled"),
            "spark.input_bytes": total("inputBytes"),
            "spark.output_bytes": total("outputBytes"),
            "spark.job_covered_s": stats.covered(intervals, within=wall),
            "spark.driver_gap_s": stats.driver_gap(wall, intervals),
            "spark.wall_s": wall[1] - wall[0],
        }
        out["job_groups"] = groups
        return out


def summed(per_op: list[dict], cores: int) -> dict[str, float]:
    """Workload totals of the per-operation counters, plus slot utilisation:
    executor run time over cores times the operations' wall time."""
    tot = {k: sum(op.get(k, 0) for op in per_op) for k in COUNTERS}
    wall = tot["spark.wall_s"]
    tot["spark.slot_utilisation"] = (tot["spark.executor_run_s"] / (cores * wall)
                                     if wall > 0 else 0.0)
    return tot
