"""Process-tree CPU and RSS sampling from /proc, checked against a child
process that burns a known amount of CPU and holds a known amount of
memory."""

import os
import subprocess
import sys
import time

from perfbench.procfs import (
    PeakRss,
    host_steal_s,
    process_age_s,
    process_tree,
    read_stat,
    sample_tree,
)

# Holds 200 MB, burns CPU for 0.6 s, then waits for stdin to close.
CHILD = """
import sys, time
block = bytearray(200 * 2**20)
for i in range(0, len(block), 4096):
    block[i] = 1
t = time.process_time()
while time.process_time() - t < 0.6:
    pass
print("ready", flush=True)
sys.stdin.read()
"""


def _child():
    return subprocess.Popen(
        [sys.executable, "-c", CHILD], stdin=subprocess.PIPE, stdout=subprocess.PIPE, text=True
    )


def _finish(proc):
    proc.stdin.close()
    proc.wait(timeout=30)
    assert proc.poll() is not None


def test_read_stat_of_self():
    st = read_stat(os.getpid())
    assert st.pid == os.getpid() and st.ppid == os.getppid()
    assert st.cpu_s >= 0 and st.rss_bytes > 0
    assert read_stat(2**22 + 1) is None  # above pid_max: never a live process


def test_tree_sees_child_cpu_and_memory():
    before = sample_tree(os.getpid())
    proc = _child()
    try:
        assert proc.stdout.readline().strip() == "ready"
        pids = {p.pid for p in process_tree(os.getpid())}
        assert {os.getpid(), proc.pid} <= pids
        after = sample_tree(os.getpid())
        assert after.cpu_s - before.cpu_s >= 0.5
        assert after.rss_bytes - before.rss_bytes >= 150 * 2**20
        # a Python child of a Python root is not a JVM worker
        assert after.py_worker_cpu_s == 0.0
    finally:
        _finish(proc)


def test_reaped_child_cpu_stays_in_the_tree():
    before = sample_tree(os.getpid()).cpu_s
    proc = _child()
    assert proc.stdout.readline().strip() == "ready"
    _finish(proc)  # waited for: its time moves to our cutime
    assert sample_tree(os.getpid()).cpu_s - before >= 0.5


def test_python_below_a_foreign_parent_counts_as_worker():
    # sh -> python: the Python grandchild sits below a non-Python process
    proc = subprocess.Popen(
        ["sh", "-c", f'"{sys.executable}" -c \'{CHILD}\'; true'],
        stdin=subprocess.PIPE, stdout=subprocess.PIPE, text=True,
    )
    try:
        assert proc.stdout.readline().strip() == "ready"
        assert sample_tree(os.getpid()).py_worker_cpu_s >= 0.5
    finally:
        _finish(proc)


def test_peak_rss_keeps_the_maximum():
    with PeakRss(os.getpid(), interval_s=0.05) as rss:
        proc = _child()
        assert proc.stdout.readline().strip() == "ready"
        time.sleep(0.2)
        _finish(proc)
    assert rss.peak_bytes - read_stat(os.getpid()).rss_bytes >= 150 * 2**20


def test_host_steal_never_falls():
    a = host_steal_s()
    assert 0 <= a <= host_steal_s()


def test_process_age_is_positive_and_grows():
    a = process_age_s()
    time.sleep(0.05)
    assert 0 < a <= process_age_s()
