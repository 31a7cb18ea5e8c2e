"""Spans recorded around calls into the engine, and Spark event-log
task metrics summed per job and per span.

Each span sets its own Spark job group (its span id), so every job,
stage and task that the call triggers can be attributed to the span
when the uncompressed JSON-lines event log is read back after the
session stops.
"""

from __future__ import annotations

import json
import os
import time
from contextlib import contextmanager

# Task-metric fields of SparkListenerTaskEnd, summed per job.
_TASK_FIELDS = {
    "run_ms": ("Executor Run Time",),
    "cpu_ns": ("Executor CPU Time",),
    "gc_ms": ("JVM GC Time",),
    "bytes_written": ("Output Metrics", "Bytes Written"),
    "shuffle_bytes": ("Shuffle Write Metrics", "Shuffle Bytes Written"),
}
# SQL plan metrics the driver updates (file scans and file writes);
# they name the plan node's accumulator, so they are resolved through
# the plan of their SQL execution and credited to its last job.
_DRIVER_METRICS = {"size of files read": "bytes_read",
                   "number of written files": "files"}

# SQL plan metrics that arrive as named task accumulables.
PYTHON_TIME = "time to run Python workers"
PYTHON_SENT = "data sent to Python workers"
PYTHON_RETURNED = "data returned from Python workers"
HASH_PROBES = "avg hash probes per key"
_ACCUMS = (PYTHON_TIME, PYTHON_SENT, PYTHON_RETURNED)
# Spark stores an "average" SQL metric as its value times 10.
_AVG_METRIC_BASE = 10.0


class Tracer:
    """Spans kept in memory; ``dump`` writes them when the run ends."""

    def __init__(self, sc):
        self._sc = sc
        self.spans: list[dict] = []
        self._stack: list[dict] = []

    @contextmanager
    def span(self, name: str):
        parent = self._stack[-1] if self._stack else None
        rec = {"id": f"{name}#{len(self.spans)}", "name": name,
               "parent": parent["id"] if parent else None,
               "start": time.time(), "end": None}
        self.spans.append(rec)
        self._stack.append(rec)
        self._sc.setJobGroup(rec["id"], name)
        try:
            yield rec
        finally:
            rec["end"] = time.time()
            self._stack.pop()
            if parent is not None:
                self._sc.setJobGroup(parent["id"], parent["name"])
            else:
                self._sc.setLocalProperty("spark.jobGroup.id", None)
                self._sc.setLocalProperty("spark.job.description", None)

    def durations(self, name: str) -> list[float]:
        return [s["end"] - s["start"] for s in self.spans
                if s["name"] == name and s["end"] is not None]

    def ids(self, name: str) -> list[str]:
        return [s["id"] for s in self.spans if s["name"] == name]

    def dump(self, path: str) -> None:
        with open(path, "w") as f:
            json.dump(self.spans, f, indent=1)


def _dig(d: dict, keys: tuple[str, ...]) -> float:
    for k in keys:
        d = d.get(k) if isinstance(d, dict) else None
        if d is None:
            return 0.0
    return float(d)


def _empty(group: str) -> dict:
    out = {"group": group, "submit": None, "end": None}
    out.update({k: 0.0 for k in _TASK_FIELDS})
    out.update({a: 0.0 for a in (*_ACCUMS, *_DRIVER_METRICS.values())})
    out.update(jobs=0, tasks=0, write_tasks=0, probe_sum=0.0, probe_n=0)
    return out


def read_jobs(paths: list[str]) -> list[dict]:
    """One raw record per job that ran inside a job group, in log order.

    Each record holds ``group``, ``submit`` and ``end`` (seconds since
    the epoch) and the job's task metrics summed over its tasks. SQL
    metrics the driver updates are credited to the last job of their
    SQL execution; an execution with no job gets a record of its own
    with ``jobs`` 0 and no times. Work outside any group is ignored.
    Pass records to ``summarize`` for seconds, bytes and counts.
    """
    out: list[dict] = []
    for path in paths:
        jobs: dict[int, dict] = {}
        stage_job: dict[int, dict] = {}
        exec_group: dict[int, str] = {}
        exec_jobs: dict[int, list[dict]] = {}
        plan_metric: dict[int, str] = {}
        driver_updates: list = []
        with open(path) as f:
            for line in f:
                ev = json.loads(line)
                kind = ev.get("Event", "")
                if kind.endswith(("SQLExecutionStart", "SQLAdaptiveExecutionUpdate")):
                    if ev.get("jobGroupId"):
                        exec_group[ev["executionId"]] = ev["jobGroupId"]
                    _plan_metric_names(ev.get("sparkPlanInfo") or {}, plan_metric)
                elif kind.endswith("SparkListenerDriverAccumUpdates"):
                    driver_updates += [(ev["executionId"], a, v)
                                       for a, v in ev.get("accumUpdates", [])]
                elif kind == "SparkListenerJobStart":
                    props = ev.get("Properties") or {}
                    group = props.get("spark.jobGroup.id")
                    if group is None:
                        continue
                    job = _empty(group)
                    job["jobs"] = 1
                    job["submit"] = ev.get("Submission Time", 0) / 1e3
                    jobs[ev["Job ID"]] = job
                    out.append(job)
                    for sid in ev.get("Stage IDs", []):
                        stage_job[sid] = job
                    if props.get("spark.sql.execution.id") is not None:
                        exec_jobs.setdefault(int(props["spark.sql.execution.id"]),
                                             []).append(job)
                elif kind == "SparkListenerJobEnd":
                    if ev.get("Job ID") in jobs:
                        jobs[ev["Job ID"]]["end"] = ev.get("Completion Time", 0) / 1e3
                elif kind == "SparkListenerTaskEnd":
                    job = stage_job.get(ev.get("Stage ID"))
                    if job is None:
                        continue
                    job["tasks"] += 1
                    tm = ev.get("Task Metrics") or {}
                    for key, path_keys in _TASK_FIELDS.items():
                        job[key] += _dig(tm, path_keys)
                    if _dig(tm, ("Output Metrics", "Bytes Written")) > 0:
                        job["write_tasks"] += 1
                    for a in (ev.get("Task Info") or {}).get("Accumulables", []):
                        name = a.get("Name")
                        if name not in _ACCUMS and name != HASH_PROBES:
                            continue
                        upd = float(a.get("Update") or 0)
                        if name in _ACCUMS:
                            job[name] += upd
                        elif upd > 0:
                            job["probe_sum"] += upd / _AVG_METRIC_BASE
                            job["probe_n"] += 1
        jobless: dict[int, dict] = {}
        for execution, acc_id, value in driver_updates:
            key = _DRIVER_METRICS.get(plan_metric.get(acc_id))
            if key is None:
                continue
            if exec_jobs.get(execution):
                exec_jobs[execution][-1][key] += float(value)
            elif execution in exec_group:
                if execution not in jobless:
                    jobless[execution] = _empty(exec_group[execution])
                    out.append(jobless[execution])
                jobless[execution][key] += float(value)
    return out


def summarize(jobs: list[dict]) -> dict:
    """Fold raw job records into seconds (``run_s``, ``cpu_s``,
    ``gc_s``, ``wait_s``, ``python_s``), bytes (``bytes_read`` = size
    of the files scanned, ``bytes_written``, ``shuffle_bytes``,
    ``python_bytes``) and counts (``jobs``, ``tasks``, ``write_tasks``,
    ``files`` written), plus ``hash_probes_avg`` (mean over the tasks
    that report it, 0.0 when none do)."""
    acc = _empty("")
    for job in jobs:
        for k, v in job.items():
            if k not in ("group", "submit", "end"):
                acc[k] += v
    run_s, cpu_s = acc["run_ms"] / 1e3, acc["cpu_ns"] / 1e9
    return {
        "jobs": acc["jobs"], "tasks": acc["tasks"],
        "write_tasks": acc["write_tasks"],
        "run_s": run_s, "cpu_s": cpu_s, "wait_s": run_s - cpu_s,
        "gc_s": acc["gc_ms"] / 1e3,
        "bytes_read": acc["bytes_read"],
        "bytes_written": acc["bytes_written"],
        "shuffle_bytes": acc["shuffle_bytes"],
        "python_s": acc[PYTHON_TIME] / 1e3,
        "python_bytes": acc[PYTHON_SENT] + acc[PYTHON_RETURNED],
        "files": acc["files"],
        "hash_probes_avg": (acc["probe_sum"] / acc["probe_n"]
                            if acc["probe_n"] else 0.0),
    }


def summarize_groups(jobs: list[dict]) -> dict[str, dict]:
    """``{group_id: summarize(the jobs of that group)}``."""
    by_group: dict[str, list[dict]] = {}
    for job in jobs:
        by_group.setdefault(job["group"], []).append(job)
    return {g: summarize(js) for g, js in by_group.items()}


def _plan_metric_names(plan: dict, out: dict[int, str]) -> None:
    for m in plan.get("metrics", []):
        out[m["accumulatorId"]] = m["name"]
    for child in plan.get("children", []):
        _plan_metric_names(child, out)


def event_log_files(log_dir: str) -> list[str]:
    return sorted(os.path.join(log_dir, n) for n in os.listdir(log_dir)
                  if not n.startswith(".") and not n.endswith(".inprogress"))
