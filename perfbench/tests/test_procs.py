"""stop_all ends every process started under this one, including those
that ignore SIGTERM, and returns only once they have ended."""

import os
import subprocess
import time

from perfbench import procs


def test_stop_all_ends_the_tree():
    # A shell whose children outlive it unless stopped; one ignores SIGTERM.
    sh = subprocess.Popen(["sh", "-c", "sleep 60 & (trap '' TERM; sleep 60) & wait"])
    deadline = time.monotonic() + 10
    while len(procs.descendants(os.getpid())) < 3 and time.monotonic() < deadline:
        time.sleep(0.05)
    tree = procs.descendants(os.getpid())
    assert sh.pid in tree and len(tree) >= 3

    t0 = time.monotonic()
    procs.stop_all(timeout=0.5)
    assert time.monotonic() - t0 < 15
    assert not [p for p in tree if procs._alive(p)]
    assert procs.descendants(os.getpid()) == []
