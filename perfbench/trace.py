"""Benchmark-side spans and the Spark event-log parser.

Spans are recorded from the benchmark's own files around each public
call it makes (name, start, end, parent, workload, seed) and kept in
memory until the run ends.  The event log is Spark's own JSON-lines
listener log; the traced run writes it uncompressed because no Python
zstd module is available to read Spark's default codec.
"""

from __future__ import annotations

import itertools
import json
import os
import threading
import time
from contextlib import contextmanager
from statistics import median


class Tracer:
    def __init__(self, workload: str, seed: int):
        self.workload = workload
        self.seed = seed
        self.spans: list = []
        self._ids = itertools.count(1)
        self._local = threading.local()
        self._lock = threading.Lock()

    def current(self):
        stack = getattr(self._local, "stack", None)
        return stack[-1] if stack else None

    @contextmanager
    def span(self, name: str, parent=None, **attrs):
        """Time the block as one span.  ``parent`` defaults to the
        innermost open span of this thread; pass it explicitly for work
        handed to another thread."""
        stack = getattr(self._local, "stack", None)
        if stack is None:
            stack = self._local.stack = []
        sid = next(self._ids)
        if parent is None:
            parent = stack[-1] if stack else None
        rec = dict(id=sid, name=name, parent=parent, workload=self.workload,
                   seed=self.seed, start=time.time(), end=None, **attrs)
        stack.append(sid)
        try:
            yield rec
        finally:
            rec["end"] = time.time()
            stack.pop()
            with self._lock:
                self.spans.append(rec)

    def durations(self, name: str) -> list:
        return [s["end"] - s["start"] for s in self.spans if s["name"] == name]

    def named(self, name: str) -> list:
        return [s for s in self.spans if s["name"] == name]

    def write(self, path: str, extra: dict) -> None:
        with open(path, "w") as f:
            json.dump(dict(extra, spans=sorted(self.spans, key=lambda s: s["start"])), f)


def union_s(intervals) -> float:
    """Total length of the union of (start, end) intervals."""
    total = 0.0
    cur_s = cur_e = None
    for s, e in sorted(intervals):
        if cur_e is None or s > cur_e:
            if cur_e is not None:
                total += cur_e - cur_s
            cur_s, cur_e = s, e
        else:
            cur_e = max(cur_e, e)
    if cur_e is not None:
        total += cur_e - cur_s
    return total


def coverage(spans: list, t0: float, t1: float) -> float:
    """Share of [t0, t1] covered by the given spans."""
    clipped = [(max(s["start"], t0), min(s["end"], t1)) for s in spans]
    return union_s([(a, b) for a, b in clipped if b > a]) / max(t1 - t0, 1e-9)


# ------------------------------------------------------------- event log


def event_log_files(log_dir: str) -> list:
    """Event files under ``log_dir``: plain single-file logs and the
    ``events_<n>_<app>`` parts of rolling (v2) log directories, in order."""
    found = []
    for dirpath, _dirs, files in os.walk(log_dir):
        for fn in files:
            if fn.endswith(".crc") or fn.startswith("appstatus"):
                continue
            part = int(fn.split("_")[1]) if fn.startswith("events_") else 0
            found.append((dirpath, part, os.path.join(dirpath, fn)))
    return [p for _d, _n, p in sorted(found)]


def read_events(paths) -> list:
    events = []
    for p in paths:
        with open(p) as f:
            for line in f:
                line = line.strip()
                if line:
                    events.append(json.loads(line))
    return events


def parse_events(events: list) -> dict:
    """Jobs, stages and tasks of one Spark event log.

    Returns ``jobs`` [(id, start_s, end_s)], ``stages`` [(id, attempt,
    start_s, end_s, n_tasks)] and ``tasks`` [dict(start, end, run_s,
    gc_s, shuffle_write, shuffle_read, spill)], times in epoch seconds and
    bytes as integers."""
    jobs, job_start, stages, tasks = [], {}, [], []
    for ev in events:
        kind = ev.get("Event")
        if kind == "SparkListenerJobStart":
            job_start[ev["Job ID"]] = ev["Submission Time"] / 1000.0
        elif kind == "SparkListenerJobEnd":
            jid = ev["Job ID"]
            if jid in job_start:
                jobs.append((jid, job_start.pop(jid), ev["Completion Time"] / 1000.0))
        elif kind == "SparkListenerStageCompleted":
            info = ev["Stage Info"]
            if "Submission Time" in info and "Completion Time" in info:
                stages.append((
                    info["Stage ID"], info.get("Stage Attempt ID", 0),
                    info["Submission Time"] / 1000.0,
                    info["Completion Time"] / 1000.0, info["Number of Tasks"],
                ))
        elif kind == "SparkListenerTaskEnd":
            info = ev.get("Task Info", {})
            m = ev.get("Task Metrics") or {}
            sw = m.get("Shuffle Write Metrics", {})
            sr = m.get("Shuffle Read Metrics", {})
            tasks.append(dict(
                start=info.get("Launch Time", 0) / 1000.0,
                end=info.get("Finish Time", 0) / 1000.0,
                run_s=m.get("Executor Run Time", 0) / 1000.0,
                gc_s=m.get("JVM GC Time", 0) / 1000.0,
                shuffle_write=sw.get("Shuffle Bytes Written", 0),
                shuffle_read=sr.get("Remote Bytes Read", 0) + sr.get("Local Bytes Read", 0),
                spill=m.get("Memory Bytes Spilled", 0) + m.get("Disk Bytes Spilled", 0),
            ))
    return dict(jobs=jobs, stages=stages, tasks=tasks)


def jobs_in(parsed: dict, t0: float, t1: float) -> list:
    return [j for j in parsed["jobs"] if j[1] >= t0 and j[2] <= t1]


def spark_metrics(parsed: dict, t0: float, t1: float, cores: int) -> dict:
    """The ``spark.*`` layer metrics over the window [t0, t1]."""
    mb = 1024.0 * 1024.0
    jobs = jobs_in(parsed, t0, t1)
    stages = [s for s in parsed["stages"] if s[2] >= t0 and s[3] <= t1]
    tasks = [t for t in parsed["tasks"] if t["start"] >= t0 and t["end"] <= t1]
    wall = max(t1 - t0, 1e-9)
    task_s = sum(t["run_s"] for t in tasks)
    busy = union_s([(j[1], j[2]) for j in jobs])
    return {
        "spark.jobs": len(jobs),
        "spark.stages": len(stages),
        "spark.tasks": len(tasks),
        "spark.driver_gap_s": wall - busy,
        "spark.core_utilization": sum(t["end"] - t["start"] for t in tasks) / (wall * cores),
        "spark.task_s": task_s,
        "spark.gc_s": sum(t["gc_s"] for t in tasks),
        "spark.shuffle_write_mb": sum(t["shuffle_write"] for t in tasks) / mb,
        "spark.shuffle_read_mb": sum(t["shuffle_read"] for t in tasks) / mb,
        "spark.spill_mb": sum(t["spill"] for t in tasks) / mb,
    }


def jobs_per_span(parsed: dict, spans: list) -> float:
    """Median number of Spark jobs that ran inside each span."""
    if not spans:
        return 0.0
    return float(median(len(jobs_in(parsed, s["start"], s["end"])) for s in spans))
