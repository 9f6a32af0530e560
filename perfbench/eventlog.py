"""Fold a Spark event log into per-operation execution statistics.

The log is Spark's own public record of a run (``spark.eventLog.enabled``,
uncompressed): job, stage and task events plus the SQL plans whose metric
accumulators carry the mapInPandas Python-worker timings.  An operation is
a wall-clock interval; its jobs are the jobs submitted inside it (the
benchmark's loop is closed with one client, so operations never overlap).
"""

from __future__ import annotations

import glob
import json
import os
import statistics
from dataclasses import dataclass, field

from spans import union_ms

# SQL-metric display names of the mapInPandas node (PythonSQLMetrics)
PY_METRICS = {
    "time to run Python workers": "run_ms",
    "time to start Python workers": "boot_ms",
    "time to initialize Python workers": "init_ms",
    "data sent to Python workers": "bytes_sent",
    "data returned from Python workers": "bytes_received",
    "number of output rows": "rows",
}


@dataclass
class Task:
    stage: int
    launch: int
    finish: int
    run_ms: int
    cpu_ns: int
    gc_ms: int
    records_read: int
    shuffle_read: int
    shuffle_write: int
    spill: int
    python: dict[str, dict[str, int]] = field(default_factory=dict)  # codec -> metric -> sum


@dataclass
class Job:
    submit: int
    end: int
    stages: list[int]


@dataclass
class Log:
    jobs: dict[int, Job] = field(default_factory=dict)
    tasks: list[Task] = field(default_factory=list)


def log_files(path: str) -> list[str]:
    """Event files of one application, in write order.  ``path`` is the
    event-log directory Spark was pointed at, a rolling ``eventlog_v2_*``
    directory, or a single uncompressed log file."""
    if os.path.isfile(path):
        return [path]
    rolled = glob.glob(os.path.join(path, "**", "events_*"), recursive=True)
    if rolled:
        return sorted(rolled, key=lambda p: int(os.path.basename(p).split("_")[1]))
    return sorted(p for p in glob.glob(os.path.join(path, "*")) if os.path.isfile(p))


def _walk(plan: dict):
    yield plan
    for child in plan.get("children", []):
        yield from _walk(child)


def _codec(node: dict) -> str | None:
    """Classify a mapInPandas node: the Avro encoder emits the wire
    ``value`` column, the decoder consumes it."""
    if node.get("nodeName") != "MapInPandas":
        return None
    out = node["simpleString"].rsplit("[", 1)[-1]
    return "encode" if "value#" in out else "decode"


def fold(path: str) -> Log:
    log = Log()
    py_acc: dict[int, tuple[str, str]] = {}  # accumulator id -> (codec, metric)
    stage_job: dict[int, int] = {}
    for fname in log_files(path):
        with open(fname) as fh:
            for line in fh:
                e = json.loads(line)
                kind = e["Event"]
                if kind.endswith(("SQLExecutionStart", "SQLAdaptiveExecutionUpdate")):
                    for node in _walk(e["sparkPlanInfo"]):
                        codec = _codec(node)
                        if codec:
                            for m in node["metrics"]:
                                if m["name"] in PY_METRICS:
                                    py_acc[m["accumulatorId"]] = (codec, PY_METRICS[m["name"]])
                elif kind == "SparkListenerJobStart":
                    job = Job(e["Submission Time"], e["Submission Time"], list(e["Stage IDs"]))
                    log.jobs[e["Job ID"]] = job
                    for s in job.stages:
                        stage_job[s] = e["Job ID"]
                elif kind == "SparkListenerJobEnd":
                    log.jobs[e["Job ID"]].end = e["Completion Time"]
                elif kind == "SparkListenerTaskEnd":
                    info, m = e["Task Info"], e.get("Task Metrics") or {}
                    sr = m.get("Shuffle Read Metrics", {})
                    python: dict[str, dict[str, int]] = {}
                    for acc in info.get("Accumulables", []):
                        hit = py_acc.get(acc["ID"])
                        if hit and "Update" in acc:
                            d = python.setdefault(hit[0], {})
                            d[hit[1]] = d.get(hit[1], 0) + int(acc["Update"])
                    log.tasks.append(
                        Task(
                            stage=e["Stage ID"],
                            launch=info["Launch Time"],
                            finish=info["Finish Time"],
                            run_ms=m.get("Executor Run Time", 0),
                            cpu_ns=m.get("Executor CPU Time", 0),
                            gc_ms=m.get("JVM GC Time", 0),
                            records_read=m.get("Input Metrics", {}).get("Records Read", 0),
                            shuffle_read=sr.get("Local Bytes Read", 0) + sr.get("Remote Bytes Read", 0),
                            shuffle_write=m.get("Shuffle Write Metrics", {}).get("Shuffle Bytes Written", 0),
                            spill=m.get("Disk Bytes Spilled", 0),
                            python=python,
                        )
                    )
    return log


def window(log: Log, start_ms: float, end_ms: float) -> dict:
    """Execution statistics of the jobs submitted in ``[start_ms, end_ms]``."""
    jobs = [j for j in log.jobs.values() if start_ms <= j.submit <= end_ms]
    stages = {s for j in jobs for s in j.stages}
    tasks = [t for t in log.tasks if t.stage in stages]
    by_stage: dict[int, list[Task]] = {}
    for t in tasks:
        by_stage.setdefault(t.stage, []).append(t)
    skew = 1.0
    if by_stage:
        heavy = max(by_stage.values(), key=lambda ts: sum(t.finish - t.launch for t in ts))
        durs = [t.finish - t.launch for t in heavy]
        med = statistics.median(durs)
        skew = max(durs) / med if med > 0 else 1.0
    python: dict[str, dict[str, int]] = {}
    for t in tasks:
        for codec, d in t.python.items():
            acc = python.setdefault(codec, {})
            for k, v in d.items():
                acc[k] = acc.get(k, 0) + v
    covered = union_ms([(max(j.submit, start_ms), min(j.end, end_ms)) for j in jobs])
    return {
        "jobs": len(jobs),
        "stages": len(by_stage),
        "tasks": len(tasks),
        "executor_run_ms": sum(t.run_ms for t in tasks),
        "executor_cpu_ms": sum(t.cpu_ns for t in tasks) / 1e6,
        "gc_ms": sum(t.gc_ms for t in tasks),
        "records_read": sum(t.records_read for t in tasks),
        "shuffle_read_bytes": sum(t.shuffle_read for t in tasks),
        "shuffle_write_bytes": sum(t.shuffle_write for t in tasks),
        "spill_bytes": sum(t.spill for t in tasks),
        "task_skew": skew,
        "driver_gap_ms": (end_ms - start_ms) - covered,
        "python": python,
    }
