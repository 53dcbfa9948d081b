"""Engine counters read from Spark's own status REST API (the driver UI's
``/api/v1``), after the timed phase."""

from __future__ import annotations

import json
import statistics
import urllib.request


def _get(base: str, path: str):
    with urllib.request.urlopen(f"{base}{path}", timeout=30) as r:
        return json.loads(r.read())


class EngineStatus:
    def __init__(self, spark):
        sc = spark.sparkContext
        self.base = f"{sc.uiWebUrl}/api/v1/applications/{sc.applicationId}"
        self.cores = sc.defaultParallelism

    def last_stage_id(self) -> int:
        stages = _get(self.base, "/stages")
        return max((s["stageId"] for s in stages), default=-1)

    def collect(self, after_stage: int, wall_s: float) -> tuple[dict[str, float], dict[str, float]]:
        """Totals over every stage newer than ``after_stage``, plus task
        seconds per job group (one group per benchmark operation)."""
        stages = [s for s in _get(self.base, "/stages?details=true&taskStatus=SUCCESS")
                  if s["stageId"] > after_stage]
        jobs = [j for j in _get(self.base, "/jobs") if any(sid > after_stage for sid in j["stageIds"])]
        run_ms = [s["executorRunTime"] for s in stages]
        durations = [t.get("duration", 0) for s in stages for t in (s.get("tasks") or {}).values()]
        task_s = sum(run_ms) / 1e3
        med = statistics.median(durations) if durations else 0.0
        m = {
            "engine.jobs": len(jobs),
            "engine.stages": len(stages),
            "engine.tasks": sum(s["numCompleteTasks"] for s in stages),
            "engine.task_s": task_s,
            "engine.task_cpu_s": sum(s["executorCpuTime"] for s in stages) / 1e9,
            "engine.gc_s": sum(s.get("jvmGcTime", 0) for s in stages) / 1e3,
            "engine.shuffle_read_bytes": sum(s["shuffleReadBytes"] for s in stages),
            "engine.shuffle_write_bytes": sum(s["shuffleWriteBytes"] for s in stages),
            "engine.spill_bytes": sum(s["memoryBytesSpilled"] + s["diskBytesSpilled"] for s in stages),
            "engine.input_bytes": sum(s["inputBytes"] for s in stages),
            "engine.failed_tasks": sum(s["numFailedTasks"] for s in stages),
            "engine.core_busy_ratio": task_s / (wall_s * self.cores) if wall_s > 0 else 0.0,
            "engine.max_task_over_median": (max(durations) / med) if med > 0 else 0.0,
        }
        stage_ms = {s["stageId"]: s["executorRunTime"] for s in stages}
        per_group: dict[str, float] = {}
        for j in jobs:
            g = j.get("jobGroup") or "-"
            per_group[g] = per_group.get(g, 0.0) + sum(stage_ms.get(sid, 0) for sid in j["stageIds"]) / 1e3
        return m, per_group
