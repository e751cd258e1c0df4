"""Spark JSON event log: per-job task metrics and job -> trigger attribution.

The traced run launches the engine with ``spark.eventLog.enabled`` writing
an uncompressed, unrolled log into its work directory (the Spark UI is off
in ``session.py``, so the log is where stage metrics live). This module
turns that log into one record per job and assigns jobs to the streaming
triggers or benchmark spans they ran in.
"""

from __future__ import annotations

import json
import os
from dataclasses import dataclass, field

from stats import union_length

# SQL metrics the Python/Arrow boundary reports per task (Spark 4 names).
PY_SENT = "data sent to Python workers"
PY_RETURNED = "data returned from Python workers"
PY_RUN_MS = "time to run Python workers"
# driver-side SQL metric of every file scan
FILES_READ = "number of files read"


@dataclass
class Job:
    """One Spark job with the task metrics summed over its stages."""

    job_id: int
    submit_ms: int
    end_ms: int | None = None
    stage_ids: list = field(default_factory=list)
    query_id: str | None = None
    batch_id: int | None = None
    execution_id: int | None = None
    tasks: int = 0
    executor_run_ms: float = 0.0
    executor_cpu_ms: float = 0.0
    gc_ms: float = 0.0
    shuffle_write_bytes: float = 0.0
    spill_bytes: float = 0.0
    python_run_ms: float = 0.0
    python_bytes_sent: float = 0.0
    python_bytes_returned: float = 0.0


def find_event_log(log_dir: str) -> str:
    """The single application log under ``log_dir``."""
    names = [n for n in os.listdir(log_dir) if not n.startswith(".")]
    if len(names) != 1:
        raise ValueError(f"expected one event log in {log_dir}, found {names}")
    path = os.path.join(log_dir, names[0])
    if os.path.isdir(path):
        raise ValueError(f"{path} is a rolled or compressed log; launch with "
                         "spark.eventLog.rolling.enabled=false")
    return path


@dataclass
class EventLog:
    """Jobs in submission order, plus files read per SQL execution."""

    jobs: list
    files_read: dict

    def files_read_by(self, jobs) -> int:
        """Files opened by the scans of the SQL executions behind ``jobs``."""
        ids = {j.execution_id for j in jobs if j.execution_id is not None}
        return sum(self.files_read.get(i, 0) for i in ids)


def _plan_metric_ids(node: dict, name: str, out: set) -> None:
    for m in node.get("metrics", []):
        if m.get("name") == name:
            out.add(m["accumulatorId"])
    for child in node.get("children", []):
        _plan_metric_ids(child, name, out)


def parse_event_log(path: str) -> EventLog:
    """Parse one application's JSON-lines event log."""
    jobs: dict[int, Job] = {}
    stage_job: dict[int, int] = {}
    files_acc: set = set()
    files_read: dict[int, int] = {}
    with open(path) as fh:
        for line in fh:
            ev = json.loads(line)
            kind = ev.get("Event", "")
            if kind == "SparkListenerJobStart":
                props = ev.get("Properties") or {}
                batch = props.get("streaming.sql.batchId")
                exec_id = props.get("spark.sql.execution.id")
                job = Job(
                    job_id=ev["Job ID"],
                    submit_ms=ev["Submission Time"],
                    stage_ids=list(ev.get("Stage IDs", [])),
                    query_id=props.get("sql.streaming.queryId"),
                    batch_id=int(batch) if batch is not None else None,
                    execution_id=int(exec_id) if exec_id is not None else None,
                )
                jobs[job.job_id] = job
                for s in job.stage_ids:
                    stage_job[s] = job.job_id
            elif kind == "SparkListenerJobEnd":
                if ev["Job ID"] in jobs:
                    jobs[ev["Job ID"]].end_ms = ev["Completion Time"]
            elif kind == "SparkListenerTaskEnd":
                job = jobs.get(stage_job.get(ev.get("Stage ID")))
                if job is not None:
                    _add_task(job, ev)
            elif kind.endswith("SparkListenerSQLExecutionStart") or kind.endswith(
                "SparkListenerSQLAdaptiveExecutionUpdate"
            ):
                _plan_metric_ids(ev.get("sparkPlanInfo") or {}, FILES_READ, files_acc)
            elif kind.endswith("SparkListenerDriverAccumUpdates"):
                for acc_id, value in ev.get("accumUpdates", []):
                    if acc_id in files_acc:
                        eid = ev["executionId"]
                        files_read[eid] = files_read.get(eid, 0) + int(value)
    return EventLog(
        jobs=sorted(jobs.values(), key=lambda j: (j.submit_ms, j.job_id)),
        files_read=files_read,
    )


def _add_task(job: Job, ev: dict) -> None:
    tm = ev.get("Task Metrics") or {}
    job.tasks += 1
    job.executor_run_ms += tm.get("Executor Run Time", 0)
    job.executor_cpu_ms += tm.get("Executor CPU Time", 0) / 1e6
    job.gc_ms += tm.get("JVM GC Time", 0)
    job.spill_bytes += tm.get("Memory Bytes Spilled", 0) + tm.get("Disk Bytes Spilled", 0)
    job.shuffle_write_bytes += (tm.get("Shuffle Write Metrics") or {}).get(
        "Shuffle Bytes Written", 0
    )
    for acc in (ev.get("Task Info") or {}).get("Accumulables", []):
        name = acc.get("Name")
        if name not in (PY_SENT, PY_RETURNED, PY_RUN_MS):
            continue
        val = float(acc.get("Update") or 0)
        if name == PY_SENT:
            job.python_bytes_sent += val
        elif name == PY_RETURNED:
            job.python_bytes_returned += val
        else:
            job.python_run_ms += val


@dataclass
class Interval:
    """A trigger or benchmark span that jobs can be attributed to.

    ``query_id``/``batch_id`` identify a streaming trigger; a plain span
    leaves them ``None`` and matches by time only.
    """

    key: object
    start_ms: float
    end_ms: float
    query_id: str | None = None
    batch_id: int | None = None
    jobs: list = field(default_factory=list)


def attribute_jobs(jobs: list[Job], intervals: list[Interval]) -> list[Job]:
    """Assign each job to one interval; returns the jobs left unassigned.

    A job that carries micro-batch properties (``sql.streaming.queryId`` and
    ``streaming.sql.batchId``) goes to that trigger. Jobs launched from a
    helper thread inside a trigger carry no properties; they go to the
    interval whose time range contains their submission. When several
    contain it, the earliest interval in ``intervals`` wins, so callers list
    the intervals whose code starts helper threads first.
    """
    by_batch = {
        (iv.query_id, iv.batch_id): iv
        for iv in intervals
        if iv.query_id is not None and iv.batch_id is not None
    }
    left = []
    for job in jobs:
        iv = by_batch.get((job.query_id, job.batch_id)) if job.query_id else None
        if iv is None and job.query_id is None:
            iv = next(
                (c for c in intervals if c.start_ms <= job.submit_ms <= c.end_ms),
                None,
            )
        if iv is None:
            left.append(job)
        else:
            iv.jobs.append(job)
    return left


def job_union_ms(jobs: list[Job], lo: float | None = None, hi: float | None = None) -> float:
    """Wall time covered by at least one of ``jobs`` (clipped to [lo, hi])."""
    return union_length(
        [(j.submit_ms, j.end_ms) for j in jobs if j.end_ms is not None], lo, hi
    )
