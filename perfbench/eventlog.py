"""Slice a Spark event log (JSON lines) into per-job totals.

Every span the trace times runs its Spark jobs under one job group, so the
jobs of that group are exactly the work the span caused. Streaming
micro-batches run under the query's own group (its run id) and are sliced
by submission time instead. A stage is charged to the first job that lists
it (a stage reused by a later job runs no new tasks).
"""

from __future__ import annotations

import json

# SQL metrics of the Arrow/Python operators, as named in task accumulables
PY_SENT = "data sent to Python workers"
PY_RECEIVED = "data returned from Python workers"

FIELDS = (
    "jobs",
    "tasks",
    "task_failures",
    "executor_run_s",
    "executor_cpu_s",
    "gc_s",
    "shuffle_write_bytes",
    "shuffle_write_records",
    "spill_bytes",
    "output_bytes",
    "output_records",
    "python_bytes_sent",
    "python_bytes_received",
)


def read_events(path: str):
    with open(path) as f:
        for line in f:
            line = line.strip()
            if line:
                yield json.loads(line)


def jobs(events) -> list[dict]:
    """One record per job: group, submission time (epoch ms) and the
    summed metrics of its tasks."""
    out: list[dict] = []
    stage_job: dict[int, dict] = {}
    for ev in events:
        kind = ev.get("Event")
        if kind == "SparkListenerJobStart":
            job = {k: 0 for k in FIELDS}
            job["jobs"] = 1
            job["group"] = (ev.get("Properties") or {}).get("spark.jobGroup.id") or ""
            job["submit_ms"] = ev.get("Submission Time", 0)
            out.append(job)
            for sid in ev.get("Stage IDs", []):
                stage_job.setdefault(sid, job)
        elif kind == "SparkListenerTaskEnd":
            job = stage_job.get(ev.get("Stage ID"))
            if job is None:
                continue
            _add_task(job, ev)
    return out


def _add_task(acc: dict, ev: dict) -> None:
    info = ev.get("Task Info") or {}
    acc["tasks"] += 1
    if info.get("Failed") or (ev.get("Task End Reason") or {}).get("Reason", "Success") != "Success":
        acc["task_failures"] += 1
    for a in info.get("Accumulables", []):
        if a.get("Name") == PY_SENT:
            acc["python_bytes_sent"] += int(a.get("Update") or 0)
        elif a.get("Name") == PY_RECEIVED:
            acc["python_bytes_received"] += int(a.get("Update") or 0)
    m = ev.get("Task Metrics") or {}
    acc["executor_run_s"] += m.get("Executor Run Time", 0) / 1e3
    acc["executor_cpu_s"] += m.get("Executor CPU Time", 0) / 1e9
    acc["gc_s"] += m.get("JVM GC Time", 0) / 1e3
    acc["spill_bytes"] += m.get("Disk Bytes Spilled", 0)
    sw = m.get("Shuffle Write Metrics") or {}
    acc["shuffle_write_bytes"] += sw.get("Shuffle Bytes Written", 0)
    acc["shuffle_write_records"] += sw.get("Shuffle Records Written", 0)
    om = m.get("Output Metrics") or {}
    acc["output_bytes"] += om.get("Bytes Written", 0)
    acc["output_records"] += om.get("Records Written", 0)


def total(job_list: list[dict], prefix: str, t0_ms: float | None = None, t1_ms: float | None = None) -> dict:
    """Sum over the jobs whose group starts with ``prefix`` and, when given,
    were submitted within [t0_ms, t1_ms]."""
    acc = {k: 0 for k in FIELDS}
    for j in job_list:
        if not j["group"].startswith(prefix):
            continue
        if t0_ms is not None and not (t0_ms <= j["submit_ms"] <= t1_ms):
            continue
        for k in FIELDS:
            acc[k] += j[k]
    return acc
