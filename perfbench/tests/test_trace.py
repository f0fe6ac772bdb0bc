"""Spans, interval unions and the event-log parser (on a small log
recorded from a local[2] Spark session: a plain collect, then two
aggregations with a shuffle each)."""

import os

from perfbench import trace

DATA = os.path.join(os.path.dirname(os.path.abspath(__file__)), "data")


def test_union_and_coverage():
    assert trace.union_s([(0, 2), (1, 3), (5, 6)]) == 4
    assert trace.union_s([]) == 0
    spans = [dict(start=0.0, end=4.0), dict(start=6.0, end=12.0)]
    assert abs(trace.coverage(spans, 0.0, 10.0) - 0.8) < 1e-9


def test_spans_nest_and_cross_threads():
    import threading

    tr = trace.Tracer("w", 1)

    def child(parent):
        with tr.span("child", parent=parent):
            pass

    with tr.span("outer") as outer:
        with tr.span("inner") as inner:
            pass
        t = threading.Thread(target=child, args=(outer["id"],))
        t.start()
        t.join()
    assert inner["parent"] == outer["id"]
    assert tr.named("child")[0]["parent"] == outer["id"]
    assert outer["parent"] is None
    assert tr.durations("inner")[0] >= 0


def _parsed():
    files = trace.event_log_files(os.path.join(DATA, "eventlog"))
    assert len(files) == 1
    return trace.parse_events(trace.read_events(files))


def test_parse_recorded_log():
    p = _parsed()
    assert len(p["jobs"]) == 3
    assert [j[0] for j in p["jobs"]] == [0, 1, 2]
    assert len(p["stages"]) == 5  # each aggregation has a map and a reduce stage
    assert sum(s[4] for s in p["stages"]) == len(p["tasks"])
    assert all(t["end"] >= t["start"] for t in p["tasks"])
    assert sum(t["shuffle_write"] for t in p["tasks"]) > 0
    assert sum(t["shuffle_read"] for t in p["tasks"]) == sum(t["shuffle_write"] for t in p["tasks"])


def test_spark_metrics_window():
    p = _parsed()
    t0 = min(j[1] for j in p["jobs"]) - 1.0
    t1 = max(j[2] for j in p["jobs"]) + 1.0
    m = trace.spark_metrics(p, t0, t1, cores=2)
    assert m["spark.jobs"] == 3 and m["spark.stages"] == 5
    assert m["spark.tasks"] == len(p["tasks"])
    busy = trace.union_s([(j[1], j[2]) for j in p["jobs"]])
    assert abs(m["spark.driver_gap_s"] - ((t1 - t0) - busy)) < 1e-6
    assert 0 < m["spark.core_utilization"] <= 1
    assert m["spark.shuffle_write_mb"] > 0
    # a window that ends before the last job excludes it
    assert trace.spark_metrics(p, t0, p["jobs"][2][1], cores=2)["spark.jobs"] == 2


def test_jobs_per_span():
    p = _parsed()
    spans = [dict(start=j[1] - 0.001, end=j[2] + 0.001) for j in p["jobs"]]
    assert trace.jobs_per_span(p, spans) == 1.0
    assert trace.jobs_per_span(p, []) == 0.0
