"""Stop the processes a run starts.

PySpark launches the driver JVM as a child of this process, and the JVM
starts the Python worker daemon and its workers.  Stopping the
SparkContext leaves the JVM alive until this process exits; it then ends
on its own a few seconds later, after the run has returned.  ``stop_all``
ends the whole tree before the run returns and waits until every process
in it has ended.
"""

from __future__ import annotations

import os
import signal
import subprocess
import time


def _children() -> dict:
    """ppid -> [pid] for every process visible in /proc."""
    out = {}
    for name in os.listdir("/proc"):
        if not name.isdigit():
            continue
        try:
            with open(f"/proc/{name}/stat") as f:
                fields = f.read().rsplit(")", 1)[1].split()
        except (OSError, IndexError):
            continue
        out.setdefault(int(fields[1]), []).append(int(name))
    return out


def descendants(pid: int) -> list:
    kids = _children()
    out, todo = [], [pid]
    while todo:
        for c in kids.get(todo.pop(), []):
            out.append(c)
            todo.append(c)
    return out


def _alive(pid: int) -> bool:
    """True while ``pid`` runs; a zombie has ended."""
    try:
        with open(f"/proc/{pid}/stat") as f:
            return f.read().rsplit(")", 1)[1].split()[0] != "Z"
    except (OSError, IndexError):
        return False


def _wait_gone(pids, timeout: float) -> list:
    deadline = time.monotonic() + timeout
    left = [p for p in pids if _alive(p)]
    while left and time.monotonic() < deadline:
        time.sleep(0.05)
        left = [p for p in left if _alive(p)]
    return left


def _signal(pids, sig) -> None:
    for p in pids:
        try:
            os.kill(p, sig)
        except OSError:
            pass


def _stop_gateway(timeout: float) -> None:
    """Close the JVM's stdin, which makes it exit; terminate or kill it
    if it has not exited within ``timeout``."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    if gateway is None:
        return
    proc = getattr(gateway, "proc", None)
    try:
        gateway.close()
    except Exception:  # a connection cut off mid-call; the JVM is stopped below
        pass
    SparkContext._gateway = None
    SparkContext._jvm = None
    if proc is None:
        return
    try:
        proc.stdin.close()
    except (AttributeError, OSError):
        pass
    for stop in (None, proc.terminate, proc.kill):
        if stop is not None:
            stop()
        try:
            proc.wait(timeout)
            return
        except subprocess.TimeoutExpired:
            continue
    proc.wait()


def stop_all(timeout: float = 10.0) -> None:
    """Stop the Spark JVM and every other process started under this one,
    and return once all of them have ended.  Call after the SparkContext
    is stopped."""
    tree = descendants(os.getpid())
    _stop_gateway(timeout)
    tree = sorted(set(tree) | set(descendants(os.getpid())))
    left = _wait_gone(tree, timeout)
    if left:
        _signal(left, signal.SIGTERM)
        left = _wait_gone(left, 5.0)
    if left:
        _signal(left, signal.SIGKILL)
        left = _wait_gone(left, 5.0)
    for p in tree:  # reap those that were our own children
        try:
            os.waitpid(p, os.WNOHANG)
        except ChildProcessError:
            pass


def tree_cpu_s() -> float:
    """CPU seconds (user + system, including reaped children) used so far
    by this process and every process under it: the driver, the JVM and
    the Python workers."""
    tick = os.sysconf("SC_CLK_TCK")
    total = 0
    for pid in [os.getpid()] + descendants(os.getpid()):
        try:
            with open(f"/proc/{pid}/stat") as f:
                fields = f.read().rsplit(")", 1)[1].split()
        except (OSError, IndexError):
            continue
        total += sum(int(v) for v in fields[11:15])
    return total / tick
