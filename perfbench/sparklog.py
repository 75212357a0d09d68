"""Fold a Spark event log into per-job task metrics.

The traced run starts Spark with ``spark.eventLog.enabled`` (through
``PYSPARK_SUBMIT_ARGS``, so untraced runs are unaffected). After the
session stops, :func:`read_jobs` reads the log: each job gets its wall
interval and the summed metrics of its tasks. Jobs are then attributed to
the benchmark's spans by time window (:func:`jobs_in`).
"""
from __future__ import annotations

import json
import os

_FIELDS = ("tasks", "run_s", "cpu_s", "gc_s", "input_bytes",
           "shuffle_read_bytes", "shuffle_write_bytes", "spill_bytes",
           "peak_exec_mem_bytes")


def submit_args(log_dir: str) -> str:
    """``PYSPARK_SUBMIT_ARGS`` value that turns the event log on."""
    return (f"--conf spark.eventLog.enabled=true "
            f"--conf spark.eventLog.dir=file://{log_dir} "
            f"--conf spark.eventLog.compress=false "
            f"--conf spark.eventLog.rolling.enabled=false pyspark-shell")


def read_jobs(log_dir: str) -> list[dict]:
    """All jobs of every event log in ``log_dir``, ordered by submission.
    Times are epoch seconds (the same clock as the spans)."""
    jobs: dict = {}
    stage_job: dict = {}
    for name in sorted(os.listdir(log_dir)):
        with open(os.path.join(log_dir, name)) as f:
            for line in f:
                ev = json.loads(line)
                kind = ev.get("Event")
                if kind == "SparkListenerJobStart":
                    j = {"id": ev["Job ID"],
                         "start": ev["Submission Time"] / 1e3, "end": None}
                    j.update({k: 0 for k in _FIELDS})
                    jobs[(name, ev["Job ID"])] = j
                    for sid in ev.get("Stage IDs", []):
                        stage_job[(name, sid)] = j
                elif kind == "SparkListenerJobEnd":
                    j = jobs.get((name, ev["Job ID"]))
                    if j is not None:
                        j["end"] = ev["Completion Time"] / 1e3
                elif kind == "SparkListenerTaskEnd":
                    j = stage_job.get((name, ev["Stage ID"]))
                    tm = ev.get("Task Metrics")
                    if j is None or not tm:
                        continue
                    _add_task(j, tm)
    out = [j for j in jobs.values() if j["end"] is not None]
    out.sort(key=lambda j: j["start"])
    return out


def _add_task(j: dict, tm: dict):
    sr = tm.get("Shuffle Read Metrics", {})
    sw = tm.get("Shuffle Write Metrics", {})
    j["tasks"] += 1
    j["run_s"] += tm.get("Executor Run Time", 0) / 1e3
    j["cpu_s"] += tm.get("Executor CPU Time", 0) / 1e9
    j["gc_s"] += tm.get("JVM GC Time", 0) / 1e3
    j["input_bytes"] += tm.get("Input Metrics", {}).get("Bytes Read", 0)
    j["shuffle_read_bytes"] += (sr.get("Remote Bytes Read", 0)
                                + sr.get("Local Bytes Read", 0))
    j["shuffle_write_bytes"] += sw.get("Shuffle Bytes Written", 0)
    j["spill_bytes"] += (tm.get("Memory Bytes Spilled", 0)
                         + tm.get("Disk Bytes Spilled", 0))
    j["peak_exec_mem_bytes"] = max(j["peak_exec_mem_bytes"],
                                   tm.get("Peak Execution Memory", 0))


def jobs_in(jobs: list, spans: list) -> list:
    """Jobs submitted inside any of the (start, end) windows of ``spans``."""
    return [j for j in jobs
            if any(s.start <= j["start"] <= s.end for s in spans)]


def total(jobs: list) -> dict:
    """Summed metrics over ``jobs`` (peak memory is a max), plus the job
    count and the union of their wall intervals (``busy_s``)."""
    from .trace import union_length
    out = {k: 0 for k in _FIELDS}
    for j in jobs:
        for k in _FIELDS:
            if k == "peak_exec_mem_bytes":
                out[k] = max(out[k], j[k])
            else:
                out[k] += j[k]
    out["jobs"] = len(jobs)
    out["busy_s"] = union_length((j["start"], j["end"]) for j in jobs)
    return out
