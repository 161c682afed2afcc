"""Spark execution numbers as deltas of the Spark driver's status store.

Jobs and stages are read from ``AppStatusStore.jobsList`` /
``stageList``, serialised to JSON inside the JVM in one call each (a
py4j round trip per field would cost more than the jobs it measures).
``ExecutorSummary.totalDuration`` is deliberately not used: in local
mode it follows wall time, not task time.
"""

from __future__ import annotations

import json
from typing import Any

from .tracing import union_length


class StatusStore:
    def __init__(self, spark) -> None:
        self._sc = spark.sparkContext
        jvm = spark._jvm
        self._store = self._sc._jsc.sc().statusStore()
        self._mapper = jvm.com.fasterxml.jackson.databind.ObjectMapper()
        scala_module = getattr(jvm.com.fasterxml.jackson.module.scala, "DefaultScalaModule$")
        self._mapper.registerModule(getattr(scala_module, "MODULE$"))
        self._no_quantiles = self._sc._gateway.new_array(jvm.double, 0)
        self.last_job_id = self._max_job_id()

    def _jobs(self) -> list[dict[str, Any]]:
        return json.loads(self._mapper.writeValueAsString(self._store.jobsList(None)))

    def _max_job_id(self) -> int:
        return max((j["jobId"] for j in self._jobs()), default=-1)

    def mark(self) -> None:
        """Start a new delta window at the newest job."""
        self.last_job_id = self._max_job_id()

    def delta(self) -> dict[str, Any]:
        """Jobs submitted since :meth:`mark`, and the stages they ran."""
        jobs = [j for j in self._jobs() if j["jobId"] > self.last_job_id]
        stage_ids = {sid for j in jobs for sid in j["stageIds"]}
        stages = [
            s for s in json.loads(self._mapper.writeValueAsString(self._store.stageList(
                None, False, False, self._no_quantiles, None)))
            if s["stageId"] in stage_ids and s["status"] in ("COMPLETE", "FAILED")
        ]
        return {"jobs": jobs, "stages": stages}


def delta_metrics(delta: dict[str, Any], makespan_s: float, cores: int) -> dict[str, float]:
    jobs, stages = delta["jobs"], delta["stages"]
    intervals = [(j["submissionTime"], j["completionTime"]) for j in jobs
                 if j.get("submissionTime") and j.get("completionTime")]
    job_busy_s = union_length(intervals) / 1000.0
    run_s = sum(s["executorRunTime"] for s in stages) / 1000.0
    return {
        "spark.jobs": len(jobs),
        "spark.ms_per_job": 1000.0 * makespan_s / len(jobs) if jobs else 0.0,
        "spark.job_busy_s": job_busy_s,
        "driver.gap_s": makespan_s - job_busy_s,
        "spark.stages": len(stages),
        "spark.tasks": sum(s["numCompleteTasks"] for s in stages),
        "spark.tasks_failed": sum(s["numFailedTasks"] for s in stages),
        "spark.executor_run_s": run_s,
        "spark.executor_cpu_s": sum(s["executorCpuTime"] for s in stages) / 1e9,
        "spark.shuffle_write_mb": sum(s["shuffleWriteBytes"] for s in stages) / 1e6,
        "spark.spill_mb": sum(s["memoryBytesSpilled"] + s["diskBytesSpilled"] for s in stages) / 1e6,
        "spark.gc_s": sum(s["jvmGcTime"] for s in stages) / 1000.0,
        "spark.slot_utilization": run_s / (makespan_s * cores) if makespan_s else 0.0,
    }


def by_job_group(delta: dict[str, Any]) -> dict[str, dict[str, float]]:
    """Jobs and executor run time per job group: each benchmark model
    tags its own jobs with its class name."""
    group_of_stage = {}
    out: dict[str, dict[str, float]] = {}
    for j in delta["jobs"]:
        group = j.get("jobGroup") or "(none)"
        out.setdefault(group, {"jobs": 0, "executor_run_s": 0.0})["jobs"] += 1
        for sid in j["stageIds"]:
            group_of_stage.setdefault(sid, group)
    for s in delta["stages"]:
        group = group_of_stage.get(s["stageId"], "(none)")
        out.setdefault(group, {"jobs": 0, "executor_run_s": 0.0})
        out[group]["executor_run_s"] += s["executorRunTime"] / 1000.0
    return out
