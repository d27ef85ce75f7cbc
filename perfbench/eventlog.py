"""Spark event-log reader: per-stage task metrics from the uncompressed JSON
event log (``spark.eventLog.enabled=true``, ``spark.eventLog.compress=false``).

Jobs carry the ``spark.job.description`` that was current when they were
submitted, which the tracer sets to the innermost open span, so task time
can be attributed to the span that caused it.
"""

from __future__ import annotations

import glob
import json
import os
import statistics
from dataclasses import dataclass, field


@dataclass
class Stage:
    attempts: int = 0
    tasks: int = 0
    run_ms: float = 0.0
    cpu_ns: float = 0.0
    gc_ms: float = 0.0
    shuffle_write_bytes: float = 0.0
    spill_bytes: float = 0.0
    input_bytes: float = 0.0
    output_bytes: float = 0.0
    output_records: float = 0.0
    task_run_ms: list = field(default_factory=list)
    scans: set = field(default_factory=set)  # e.g. {"json", "parquet"}


@dataclass
class Job:
    job_id: int
    submit_ms: int
    description: str = ""
    stage_ids: list = field(default_factory=list)


@dataclass
class EventLog:
    jobs: dict = field(default_factory=dict)  # job id -> Job
    stages: dict = field(default_factory=dict)  # stage id -> Stage


def find_log(log_dir: str) -> str:
    """The event log of the one application logged under ``log_dir``, as
    written with ``spark.eventLog.rolling.enabled=false``."""
    paths = [p for p in glob.glob(os.path.join(log_dir, "*")) if os.path.isfile(p)]
    if len(paths) != 1:
        raise RuntimeError(f"expected one event log file in {log_dir}, found {len(paths)}")
    return paths[0]


def parse(path: str) -> EventLog:
    log = EventLog()
    with open(path) as f:
        for line in f:
            ev = json.loads(line)
            kind = ev.get("Event")
            if kind == "SparkListenerJobStart":
                props = ev.get("Properties") or {}
                log.jobs[ev["Job ID"]] = Job(
                    ev["Job ID"], int(ev.get("Submission Time", 0)),
                    props.get("spark.job.description") or "", list(ev.get("Stage IDs", [])),
                )
            elif kind == "SparkListenerStageCompleted":
                info = ev["Stage Info"]
                st = log.stages.setdefault(info["Stage ID"], Stage())
                st.attempts += 1
                for rdd in info.get("RDD Info", []):
                    scope = json.loads(rdd.get("Scope") or "{}").get("name", "")
                    if scope.startswith("Scan "):
                        st.scans.add(scope.split()[1])
            elif kind == "SparkListenerTaskEnd":
                m = ev.get("Task Metrics") or {}
                st = log.stages.setdefault(ev["Stage ID"], Stage())
                run = float(m.get("Executor Run Time", 0))
                st.tasks += 1
                st.run_ms += run
                st.task_run_ms.append(run)
                st.cpu_ns += float(m.get("Executor CPU Time", 0))
                st.gc_ms += float(m.get("JVM GC Time", 0))
                st.shuffle_write_bytes += float((m.get("Shuffle Write Metrics") or {}).get("Shuffle Bytes Written", 0))
                st.spill_bytes += float(m.get("Memory Bytes Spilled", 0)) + float(m.get("Disk Bytes Spilled", 0))
                st.input_bytes += float((m.get("Input Metrics") or {}).get("Bytes Read", 0))
                out = m.get("Output Metrics") or {}
                st.output_bytes += float(out.get("Bytes Written", 0))
                st.output_records += float(out.get("Records Written", 0))
    return log


def stage_owners(log: EventLog) -> dict[int, int]:
    """Stage id -> id of the first job that lists it. A reused shuffle stage
    is listed again, skipped, by later jobs; its tasks ran for the first."""
    owner: dict[int, int] = {}
    for job_id in sorted(log.jobs):
        for sid in log.jobs[job_id].stage_ids:
            owner.setdefault(sid, job_id)
    return owner


def stages_of(log: EventLog, job_ids) -> list[Stage]:
    """Executed stages owned by the given jobs."""
    wanted = set(job_ids)
    owner = stage_owners(log)
    return [st for sid, st in log.stages.items() if st.tasks and owner.get(sid) in wanted]


def jobs_between(log: EventLog, start_ms: float, end_ms: float) -> list[int]:
    return [j.job_id for j in log.jobs.values() if start_ms <= j.submit_ms <= end_ms]


def task_skew(stages: list[Stage], min_tasks: int = 2) -> float:
    """Worst stage's max task time over its median task time (1.0 when no
    stage has ``min_tasks`` tasks with a non-zero median)."""
    worst = 1.0
    for st in stages:
        if st.tasks < min_tasks:
            continue
        med = statistics.median(st.task_run_ms)
        if med > 0:
            worst = max(worst, max(st.task_run_ms) / med)
    return worst


def summary(log: EventLog, job_ids) -> dict[str, float]:
    """The ``spark.*`` per-layer metrics of the given jobs."""
    job_ids = list(job_ids)
    stages = stages_of(log, job_ids)
    run_s = sum(st.run_ms for st in stages) / 1e3
    cpu_s = sum(st.cpu_ns for st in stages) / 1e9
    return {
        "spark.jobs": len(job_ids),
        "spark.stages": sum(st.attempts for st in stages),
        "spark.tasks": sum(st.tasks for st in stages),
        "spark.task_run_s": run_s,
        "spark.task_cpu_s": cpu_s,
        "spark.task_gc_s": sum(st.gc_ms for st in stages) / 1e3,
        "spark.task_noncpu_s": max(run_s - cpu_s, 0.0),
        "spark.shuffle_write_mb": sum(st.shuffle_write_bytes for st in stages) / 2**20,
        "spark.spill_mb": sum(st.spill_bytes for st in stages) / 2**20,
        "spark.task_skew": task_skew(stages),
    }


def json_scan_bytes(stages: list[Stage]) -> float:
    """Input bytes of stages that scan JSON and nothing else."""
    return sum(st.input_bytes for st in stages if st.scans == {"json"})
