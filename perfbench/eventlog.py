"""Task-level Spark metrics per job group, from a Spark event log.

The traced run enables the event log (``spark.eventLog.*`` through
``build_session(extra_conf=...)``) and parses it after the session has
stopped. Every job carries the job group of the span that submitted it;
a stage belongs to the first job that lists it, and a task to its stage.

Input bytes are the sizes of the files the SQL scans read (their
``size of files read`` metric, after partition pruning), and belong to
the group of the first job of their SQL execution. Spark's task-level
``Bytes Read`` is not used: in local mode it counts only a few KB per
parquet scan.
"""

from __future__ import annotations

import json
import os
from collections import defaultdict
from dataclasses import dataclass, field

#: RDD scope names of the stages that cross the JVM/Python boundary
PYTHON_SCOPES = (
    "ArrowEvalPython",
    "MapInPandas",
    "FlatMapGroupsInPandas",
    "MapInArrow",
    "BatchEvalPython",
)


@dataclass
class GroupStats:
    jobs: int = 0
    stages: int = 0
    tasks: int = 0
    task_s: float = 0.0
    cpu_s: float = 0.0
    gc_s: float = 0.0
    python_task_s: float = 0.0
    input_bytes: int = 0
    input_records: int = 0
    shuffle_write_bytes: int = 0
    shuffle_read_bytes: int = 0
    spill_bytes: int = 0
    job_times: list[float] = field(default_factory=list)  # submission, epoch s

    def add(self, other: "GroupStats") -> None:
        for k, v in vars(other).items():
            if k == "job_times":
                self.job_times.extend(v)
            else:
                setattr(self, k, getattr(self, k) + v)


def _is_python_stage(info: dict) -> bool:
    for rdd in info.get("RDD Info", []):
        scope = rdd.get("Scope") or ""
        name = rdd.get("Name") or ""
        if any(s in scope or s in name for s in PYTHON_SCOPES):
            return True
    return False


def parse(path: str) -> dict[str | None, GroupStats]:
    """{job group (None for jobs outside any group): stats}."""
    stats: dict[str | None, GroupStats] = defaultdict(GroupStats)
    stage_group: dict[int, str | None] = {}
    python_stage: set[int] = set()
    size_metrics: set[int] = set()  # accumulator ids of "size of files read"
    scan_bytes: dict[str, int] = defaultdict(int)  # SQL execution id -> bytes
    execution_group: dict[str, str | None] = {}
    with open(path) as f:
        for line in f:
            ev = json.loads(line)
            kind = ev["Event"]
            if kind == "SparkListenerJobStart":
                props = ev.get("Properties") or {}
                group = props.get("spark.jobGroup.id")
                s = stats[group]
                s.jobs += 1
                s.job_times.append(ev["Submission Time"] / 1000.0)
                for sid in ev["Stage IDs"]:
                    stage_group.setdefault(sid, group)
                if "spark.sql.execution.id" in props:
                    execution_group.setdefault(props["spark.sql.execution.id"], group)
            elif kind.endswith((".SparkListenerSQLExecutionStart", ".SparkListenerSQLAdaptiveExecutionUpdate")):
                _size_metrics(ev["sparkPlanInfo"], size_metrics)
            elif kind.endswith(".SparkListenerDriverAccumUpdates"):
                for acc, value in ev["accumUpdates"]:
                    if acc in size_metrics:
                        scan_bytes[str(ev["executionId"])] += value
            elif kind == "SparkListenerStageSubmitted":
                info = ev["Stage Info"]
                if _is_python_stage(info):
                    python_stage.add(info["Stage ID"])
            elif kind == "SparkListenerStageCompleted":
                info = ev["Stage Info"]
                if info.get("Submission Time") is not None:
                    stats[stage_group.get(info["Stage ID"])].stages += 1
            elif kind == "SparkListenerTaskEnd":
                m = ev.get("Task Metrics")
                if not m:
                    continue
                sid = ev["Stage ID"]
                s = stats[stage_group.get(sid)]
                run_s = m["Executor Run Time"] / 1000.0
                s.tasks += 1
                s.task_s += run_s
                s.cpu_s += m["Executor CPU Time"] / 1e9
                s.gc_s += m["JVM GC Time"] / 1000.0
                if sid in python_stage:
                    s.python_task_s += run_s
                s.input_records += m["Input Metrics"]["Records Read"]
                sr = m["Shuffle Read Metrics"]
                s.shuffle_read_bytes += sr["Remote Bytes Read"] + sr["Local Bytes Read"]
                s.shuffle_write_bytes += m["Shuffle Write Metrics"]["Shuffle Bytes Written"]
                s.spill_bytes += m["Disk Bytes Spilled"]
    for execution, size in scan_bytes.items():
        stats[execution_group.get(execution)].input_bytes += size
    return stats


def _size_metrics(plan: dict, out: set[int]) -> None:
    for m in plan.get("metrics", []):
        if m["name"] == "size of files read":
            out.add(m["accumulatorId"])
    for child in plan.get("children", []):
        _size_metrics(child, out)


def find_log(log_dir: str, app_id: str) -> str:
    for name in os.listdir(log_dir):
        if name.startswith(app_id) and not name.endswith(".inprogress"):
            return os.path.join(log_dir, name)
    raise FileNotFoundError(f"no finished event log for {app_id} in {log_dir}")
