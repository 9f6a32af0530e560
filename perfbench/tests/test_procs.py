"""The /proc readings behind the CPU and memory metrics."""

import os
import time

import procs


def test_cpu_counts_this_process_and_no_jit_outside_a_jvm():
    w0, j0 = procs.cpu_s()
    t = time.process_time()
    while time.process_time() - t < 0.3:
        pass
    w1, j1 = procs.cpu_s()
    assert 0.25 <= w1 - w0 <= 1.0  # clock-tick granularity
    assert j0 == j1 == 0.0


def test_cpu_by_process_names_this_process():
    with open(f"/proc/{os.getpid()}/comm") as fh:
        me = fh.read().strip()
    by = procs.cpu_by_process()
    assert by[me] > 0 and by["jit"] == 0.0


def test_peak_rss_names_this_process():
    with open(f"/proc/{os.getpid()}/comm") as fh:
        me = fh.read().strip()
    assert procs.peak_rss_mb()[me] > 0
