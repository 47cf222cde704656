"""Self-test of the /proc process-tree accounting."""

import os
import subprocess
import sys
import time

import numpy as np

from perfbench.proctree import cpu_by_kind, cpu_delta, peak_rss_mb, tree_pids


def test_matches_process_time_without_spark():
    a = np.random.default_rng(0).random(1 << 21)
    before, p0 = cpu_by_kind(), time.process_time()
    t_end = time.perf_counter() + 0.5
    while time.perf_counter() < t_end:
        a = np.sqrt(a * a + 1.0)
    used = time.process_time() - p0
    delta = cpu_delta(before, cpu_by_kind())
    # one clock tick per field of slack
    assert abs(delta["total"] - used) < 0.05
    assert abs(delta["main"] - used) < 0.05
    assert delta["jvm"] == 0 and delta["python"] == 0


def test_counts_children_and_their_memory():
    child = subprocess.Popen([sys.executable, "-c", "import time; time.sleep(30)"])
    try:
        deadline = time.time() + 10
        while child.pid not in tree_pids() and time.time() < deadline:
            time.sleep(0.05)
        assert child.pid in tree_pids()
        assert peak_rss_mb() > peak_rss_mb(child.pid) > 0
    finally:
        child.kill()
        child.wait(timeout=10)
    assert child.pid not in tree_pids()
    assert os.getpid() in tree_pids()
