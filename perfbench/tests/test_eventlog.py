"""The event-log fold on a small checked-in log: a two-core run that
Avro-encodes 40 rows, checkpoints them, decodes them and groups them
(data/eventlog_v2_local-fixture, trimmed to the fields the fold reads)."""

import json
import os

import pytest

import eventlog

DATA = os.path.join(os.path.dirname(os.path.abspath(__file__)), "data")


def events() -> list[dict]:
    (path,) = eventlog.log_files(DATA)
    with open(path) as fh:
        return [json.loads(line) for line in fh]


def test_log_files_finds_the_rolling_directory():
    files = eventlog.log_files(DATA)
    assert [os.path.basename(f) for f in files] == ["events_1_local-fixture"]
    assert eventlog.log_files(files[0]) == files


def test_fold_counts_every_job_and_task():
    evs = events()
    log = eventlog.fold(DATA)
    assert len(log.jobs) == sum(e["Event"] == "SparkListenerJobStart" for e in evs) == 4
    assert len(log.tasks) == sum(e["Event"] == "SparkListenerTaskEnd" for e in evs) == 7
    for e in evs:
        if e["Event"] == "SparkListenerJobEnd":
            assert log.jobs[e["Job ID"]].end == e["Completion Time"]


def test_python_worker_metrics_split_by_codec():
    w = eventlog.window(eventlog.fold(DATA), 0, 2**62)
    assert w["python"]["encode"]["rows"] == 40
    assert w["python"]["decode"]["rows"] == 40
    for codec in ("encode", "decode"):
        d = w["python"][codec]
        assert d["run_ms"] > 0 and d["bytes_sent"] > 0 and d["bytes_received"] > 0


def test_window_selects_jobs_by_submission_and_measures_the_gap():
    log = eventlog.fold(DATA)
    jobs = sorted(log.jobs.values(), key=lambda j: j.submit)
    first, last = jobs[0].submit, jobs[-1].end
    whole = eventlog.window(log, first, last)
    assert whole["jobs"] == 4 and whole["tasks"] == 7
    assert whole["executor_run_ms"] == sum(t.run_ms for t in log.tasks)
    assert whole["executor_cpu_ms"] == pytest.approx(sum(t.cpu_ns for t in log.tasks) / 1e6)
    assert whole["shuffle_read_bytes"] == whole["shuffle_write_bytes"] > 0
    assert whole["task_skew"] >= 1.0
    covered = 0.0
    cur_s = cur_e = None
    for j in jobs:  # jobs of one client run one after another
        if cur_e is None or j.submit > cur_e:
            covered += 0 if cur_e is None else cur_e - cur_s
            cur_s, cur_e = j.submit, j.end
        else:
            cur_e = max(cur_e, j.end)
    covered += cur_e - cur_s
    assert whole["driver_gap_ms"] == pytest.approx((last - first) - covered)
    # only the first job
    one = eventlog.window(log, first, first)
    assert one["jobs"] == 1 and 1 <= one["stages"] <= len(jobs[0].stages)
    assert one["driver_gap_ms"] == 0
    # before any job
    none = eventlog.window(log, 0, first - 1)
    assert none["jobs"] == none["tasks"] == 0 and none["python"] == {}
    assert none["driver_gap_ms"] == first - 1
