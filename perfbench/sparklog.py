"""Read Spark's event log after a traced run.

Jobs are attributed to benchmark spans through the job group the
tracer set while the span was open (``spark.jobGroup.id``). Task metrics
come from ``SparkListenerTaskEnd`` events, and executed plans from the
SQL execution events, whose last adaptive update is the final plan.
"""

from __future__ import annotations

import glob
import json
import os
from dataclasses import dataclass, field

MIB = 1024 * 1024


@dataclass
class Job:
    job_id: int
    group: str | None
    execution_id: str | None
    submit_ms: float
    end_ms: float = 0.0
    ran_stages: set = field(default_factory=set)
    tasks: int = 0
    failed_tasks: int = 0
    task_run_ms: float = 0.0
    task_cpu_ns: float = 0.0
    gc_ms: float = 0.0
    shuffle_write: float = 0.0
    shuffle_read: float = 0.0
    spill: float = 0.0


def _count_nodes(info: dict, name: str) -> int:
    n = int(info.get("nodeName") == name)
    return n + sum(_count_nodes(c, name) for c in info.get("children", []))


def read_event_log(directory: str) -> tuple[dict[int, Job], dict[str, int]]:
    """Jobs by id, and ReusedExchange nodes per SQL execution id."""
    files = [f for f in glob.glob(os.path.join(directory, "*")) if not f.endswith(".inprogress")]
    if len(files) != 1:
        raise RuntimeError(f"expected one finished event log in {directory}, found {files}")
    jobs: dict[int, Job] = {}
    stage_job: dict[int, int] = {}
    plans: dict[str, dict] = {}
    with open(files[0]) as fh:
        for line in fh:
            ev = json.loads(line)
            kind = ev["Event"]
            if kind == "SparkListenerJobStart":
                props = ev.get("Properties") or {}
                job = Job(
                    ev["Job ID"],
                    props.get("spark.jobGroup.id"),
                    props.get("spark.sql.execution.id"),
                    float(ev["Submission Time"]),
                )
                for sid in ev.get("Stage IDs", []):
                    stage_job[sid] = job.job_id
                jobs[job.job_id] = job
            elif kind == "SparkListenerJobEnd":
                jobs[ev["Job ID"]].end_ms = float(ev["Completion Time"])
            elif kind == "SparkListenerTaskEnd":
                job = jobs.get(stage_job.get(ev["Stage ID"], -1))
                if job is None:
                    continue
                job.tasks += 1
                job.ran_stages.add(ev["Stage ID"])
                if (ev.get("Task End Reason") or {}).get("Reason") != "Success":
                    job.failed_tasks += 1
                m = ev.get("Task Metrics") or {}
                job.task_run_ms += m.get("Executor Run Time", 0)
                job.task_cpu_ns += m.get("Executor CPU Time", 0)
                job.gc_ms += m.get("JVM GC Time", 0)
                sr = m.get("Shuffle Read Metrics") or {}
                job.shuffle_read += sr.get("Remote Bytes Read", 0) + sr.get("Local Bytes Read", 0)
                job.shuffle_write += (m.get("Shuffle Write Metrics") or {}).get("Shuffle Bytes Written", 0)
                job.spill += m.get("Memory Bytes Spilled", 0) + m.get("Disk Bytes Spilled", 0)
            elif kind.endswith("SparkListenerSQLExecutionStart") or kind.endswith(
                "SparkListenerSQLAdaptiveExecutionUpdate"
            ):
                plans[str(ev["executionId"])] = ev["sparkPlanInfo"]
    reused = {eid: _count_nodes(info, "ReusedExchange") for eid, info in plans.items()}
    return jobs, reused
