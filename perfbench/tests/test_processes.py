"""Teardown: every process a run starts has gone when it ends."""

import os
import subprocess
import sys
import time

from perfbench import harness


def test_end_processes_kills_a_tree_and_leaves_nothing():
    # a shell waiting on a long sleep: a child and a grandchild
    sh = subprocess.Popen(["sh", "-c", "sleep 60 & wait"])
    deadline = time.time() + 5
    while not harness.descendants(sh.pid) and time.time() < deadline:
        time.sleep(0.01)
    tree = [sh.pid, *harness.descendants(sh.pid)]
    assert len(tree) == 2
    t0 = time.time()
    harness.end_processes(tree, grace=0.1)
    assert not any(os.path.exists(f"/proc/{p}") for p in tree)
    assert time.time() - t0 < 10  # killed, not waited out


def test_end_processes_lets_a_process_exit_by_itself():
    p = subprocess.Popen([sys.executable, "-c", "import time; time.sleep(0.2)"])
    t0 = time.time()
    harness.end_processes([p.pid], grace=30)
    assert not os.path.exists(f"/proc/{p.pid}")
    assert time.time() - t0 < 10  # not killed at the end of the grace
