"""Spark event-log parser: jobs, stages and task outcomes with their metrics.

Reads the JSON-lines log Spark writes with ``spark.eventLog.enabled`` (the
same events ``scripts/profile_query.py`` reads) and keeps, per job, its
submission window, local properties and stage ids, and per stage its
window, task counts and the accumulables the benchmark reports.
"""

from __future__ import annotations

import json
import os
from collections.abc import Iterable
from dataclasses import dataclass, field

from perfbench.spans import union_length

# per-layer metric -> (accumulable names summed, scale to the metric's unit)
STAGE_METRICS = {
    "executor_run_s": (("internal.metrics.executorRunTime",), 1e-3),
    "executor_cpu_s": (("internal.metrics.executorCpuTime",), 1e-9),
    "gc_s": (("internal.metrics.jvmGCTime",), 1e-3),
    "input_mb": (("internal.metrics.input.bytesRead",), 1e-6),
    "spill_mb": (("internal.metrics.diskBytesSpilled",), 1e-6),
    "shuffle_write_mb": (("internal.metrics.shuffle.write.bytesWritten",), 1e-6),
    "shuffle_read_mb": (
        (
            "internal.metrics.shuffle.read.localBytesRead",
            "internal.metrics.shuffle.read.remoteBytesRead",
        ),
        1e-6,
    ),
    "py_sent_mb": (("data sent to Python workers",), 1e-6),
    "py_recv_mb": (("data returned from Python workers",), 1e-6),
}


@dataclass
class Stage:
    stage_id: int
    attempt: int
    submit: float | None = None  # epoch seconds
    complete: float | None = None
    tasks: int = 0
    tasks_failed: int = 0
    metrics: dict[str, float] = field(default_factory=dict)


@dataclass
class Job:
    job_id: int
    submit: float
    end: float | None = None
    properties: dict[str, str] = field(default_factory=dict)
    stage_ids: list[int] = field(default_factory=list)


@dataclass
class EventLog:
    jobs: dict[int, Job] = field(default_factory=dict)
    stages: dict[tuple[int, int], Stage] = field(default_factory=dict)

    def job_stages(self, job: Job) -> list[Stage]:
        """Every attempt of the job's stages that actually ran (skipped
        stages never complete and are left out)."""
        ids = set(job.stage_ids)
        return [s for (sid, _a), s in self.stages.items() if sid in ids and s.complete]

    def idle_s(self, job: Job) -> float:
        """Seconds inside the job's window during which none of its stages ran."""
        if job.end is None:
            return 0.0
        covered = union_length(
            (max(s.submit, job.submit), min(s.complete, job.end))
            for s in self.job_stages(job)
            if s.submit is not None
        )
        return max(0.0, (job.end - job.submit) - covered)


def _stage(log: EventLog, info: dict) -> Stage:
    key = (info["Stage ID"], info.get("Stage Attempt ID", 0))
    if key not in log.stages:
        log.stages[key] = Stage(*key)
    return log.stages[key]


def _num(v) -> float:
    try:
        return float(v)
    except (TypeError, ValueError):
        return 0.0


def parse(lines: Iterable[str]) -> EventLog:
    log = EventLog()
    for line in lines:
        try:
            e = json.loads(line)
        except json.JSONDecodeError:
            continue  # a log cut short by a crash ends mid-line
        kind = e.get("Event")
        if kind == "SparkListenerJobStart":
            log.jobs[e["Job ID"]] = Job(
                job_id=e["Job ID"],
                submit=e.get("Submission Time", 0) / 1000.0,
                properties=dict(e.get("Properties") or {}),
                stage_ids=list(e.get("Stage IDs") or []),
            )
        elif kind == "SparkListenerJobEnd":
            job = log.jobs.get(e["Job ID"])
            if job is not None:
                job.end = e.get("Completion Time", 0) / 1000.0
        elif kind == "SparkListenerTaskEnd":
            st = _stage(log, {"Stage ID": e["Stage ID"],
                              "Stage Attempt ID": e.get("Stage Attempt ID", 0)})
            st.tasks += 1
            if (e.get("Task End Reason") or {}).get("Reason") != "Success":
                st.tasks_failed += 1
        elif kind == "SparkListenerStageCompleted":
            info = e["Stage Info"]
            st = _stage(log, info)
            if info.get("Submission Time") is not None:
                st.submit = info["Submission Time"] / 1000.0
            if info.get("Completion Time") is not None:
                st.complete = info["Completion Time"] / 1000.0
            acc: dict[str, float] = {}
            for a in info.get("Accumulables") or []:
                acc[a.get("Name")] = acc.get(a.get("Name"), 0.0) + _num(a.get("Value"))
            st.metrics = {
                metric: sum(acc.get(n, 0.0) for n in names) * scale
                for metric, (names, scale) in STAGE_METRICS.items()
            }
    return log


def read_dir(path: str) -> list[EventLog]:
    """Parse every event-log file under ``path``: one per SparkContext, each
    with its own job and stage numbering."""
    logs = []
    for root, _dirs, files in os.walk(path):
        for name in sorted(files):
            if not name.startswith("."):
                with open(os.path.join(root, name)) as fh:
                    logs.append(parse(fh))
    return logs
