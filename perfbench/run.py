"""Run one benchmark workload and print one JSON result line.

    python3 perfbench/run.py --workload pyramid --seed 1 --seconds 8 --trace 0

Run from the root of a checkout of the repository.  The engine is
imported from that checkout only (see guard.py); everything the run
writes goes under ``.perfbench/`` in the checkout.  With ``--trace 0`` the
result carries the end-to-end metrics; with ``--trace 1`` it carries the
per-layer metrics of a traced run (Spark event log on, spans written to
``.perfbench/traces/``).  To report the tracing overhead, a traced run
compares itself with untraced runs of the same workload and code that
saved their results under ``.perfbench/results/`` (see
``_untraced_baseline``).  Before it returns, a run stops the Spark JVM
and every process under it (``procs.py``).  The last line of standard
output is the result; the exit code is 0 only when it was printed.
"""

from __future__ import annotations

import argparse
import glob
import hashlib
import json
import os
import shutil
import signal
import subprocess
import sys
import tempfile
import time
from statistics import fmean, median

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
SETUP_REPS = 3


def _parse(argv):
    p = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    p.add_argument("--workload", required=True)
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    return p.parse_args(argv)


class Ctx:
    def __init__(self, seed, seconds, work, cores, tracer, event_dir=None):
        self.seed = seed
        self.seconds = seconds
        self.work = work
        self.cores = cores
        self.tracer = tracer
        self.event_dir = event_dir
        self.spark = None


def _warm_python_workers(spark, cores: int) -> None:
    """Start the Python worker pool: one tiny Arrow batch per worker
    imports numpy, pandas and the tiling kernels."""

    def k(batches):
        from geojson_vt_rs_spark.core.tiler import GeoJSONVT  # noqa: F401
        from geojson_vt_rs_spark.operators.pipeline import render_split_stage  # noqa: F401

        yield from batches

    n = cores * 2
    spark.range(0, n, 1, n).mapInPandas(k, schema="id long").count()


def _start_session(ctx):
    from geojson_vt_rs_spark.operators.session import get_spark

    conf = {
        "spark.ui.showConsoleProgress": "false",
        "spark.sql.warehouse.dir": os.path.join(ctx.work, "warehouse"),
        "spark.driver.extraJavaOptions": f"-Djava.io.tmpdir={os.path.join(ctx.work, 'tmp')}",
    }
    if ctx.event_dir:
        os.makedirs(ctx.event_dir, exist_ok=True)
        conf.update({
            "spark.eventLog.enabled": "true",
            "spark.eventLog.dir": "file://" + ctx.event_dir,
            "spark.eventLog.compress": "false",  # no zstd reader in Python
        })
    ctx.spark = get_spark(app_name="perfbench", cpus=ctx.cores, extra_conf=conf)
    ctx.spark.sparkContext.setLogLevel("ERROR")
    _warm_python_workers(ctx.spark, ctx.cores)
    return ctx.spark


def _setup(ctx, wl_cls, guard) -> tuple:
    """Session and workers, executor guard, inputs (median of
    SETUP_REPS builds), reference results, warm-up pass."""
    t = time.perf_counter()
    _start_session(ctx)
    guard.check_executor(ctx.spark, ROOT)
    parts = {"setup.session_s": time.perf_counter() - t}
    wl = wl_cls(ctx)
    reps = []
    for _ in range(SETUP_REPS):
        t = time.perf_counter()
        wl.inputs()
        reps.append(time.perf_counter() - t)
    parts["setup.inputs_s"] = median(reps)
    t = time.perf_counter()
    wl.reference()
    parts["setup.reference_s"] = time.perf_counter() - t
    t = time.perf_counter()
    if wl.warmup_pass:
        wl.warmup()
    parts["setup.warmup_s"] = time.perf_counter() - t
    return wl, parts


def _source_digest() -> str:
    """Hash of the engine's and the benchmark's sources, so a saved result
    is reused only by the same code."""
    h = hashlib.sha1()
    for top in ("geojson_vt_rs_spark", "perfbench", "__spark_entry__.py", "BENCHMARK.json"):
        p = os.path.join(ROOT, top)
        files = [p] if os.path.isfile(p) else sorted(
            os.path.join(d, f) for d, _dirs, fs in os.walk(p) for f in fs if f.endswith(".py"))
        for f in files:
            h.update(os.path.relpath(f, ROOT).encode())
            with open(f, "rb") as fh:
                h.update(fh.read())
    return h.hexdigest()[:16]


def _result_path(base, args, seed=None) -> str:
    seed = args.seed if seed is None else seed
    return os.path.join(base, "results",
                        f"{args.workload}-{seed}-{args.seconds:g}-{_source_digest()}.json")


def _untraced_baseline(args, base) -> tuple:
    """The untraced op_mean_s of the same workload and code, to compare
    the traced run with, and the (attempted, failed) counts of an
    untraced run this call made.  It is the saved result of the same
    seed, else the median over saved results of other seeds, else a run
    made first in a child process: the engine keeps per-session state in
    module globals, so a second Spark context in this process would not
    be a clean comparison."""
    path = _result_path(base, args)
    if not os.path.exists(path):
        others = sorted(glob.glob(_result_path(base, args, seed="*")))
        if others:
            op_means = []
            for p in others:
                with open(p) as f:
                    op_means.append(json.load(f)["metrics"]["op_mean_s"]["value"])
            return median(op_means), (0, 0)
        cmd = [sys.executable, os.path.abspath(__file__), "--workload", args.workload,
               "--seed", str(args.seed), "--seconds", str(args.seconds), "--trace", "0"]
        child = subprocess.Popen(cmd, cwd=ROOT, stdout=subprocess.DEVNULL)
        try:
            child.wait()
        finally:
            if child.poll() is None:  # interrupted: let the child stop its own JVM
                child.terminate()
                child.wait()
        if child.returncode != 0:
            raise subprocess.CalledProcessError(child.returncode, cmd)
        with open(path) as f:
            r = json.load(f)
        return r["metrics"]["op_mean_s"]["value"], (r["attempted"], r["failed"])
    with open(path) as f:
        return json.load(f)["metrics"]["op_mean_s"]["value"], (0, 0)


def _layers(ctx, wl, t0, t1, base) -> dict:
    """After the traced window: the probes, then the event log (complete
    once the context stops), then the layer values."""
    from perfbench.trace import coverage, event_log_files, parse_events, read_events, spark_metrics

    top = [s for s in ctx.tracer.spans if s["parent"] is None and t0 <= s["start"] <= t1]
    values = {"wall_s": t1 - t0, "trace.span_coverage": coverage(top, t0, t1)}
    wl.after_window()
    wl.check()
    values.update(wl.layers())
    wl.release()
    ctx.spark.stop()
    ctx.spark = None
    parsed = parse_events(read_events(event_log_files(ctx.event_dir)))
    values.update(wl.span_jobs(parsed))
    values.update(spark_metrics(parsed, t0, t1, ctx.cores))
    values.update(wl.props)
    task_s = values["spark.task_s"]
    values["core.kernel_share"] = values.get("core.kernel_s", 0.0) / task_s if task_s else 0.0
    os.makedirs(os.path.join(base, "traces"), exist_ok=True)
    ctx.tracer.write(os.path.join(base, "traces", f"{wl.name}-{ctx.seed}.json"),
                     dict(window=[t0, t1], metrics=values))
    return values


def _exit_on_sigterm(signum, frame):
    sys.exit(128 + signum)  # unwinds through main's finally, which stops the JVM


def main(argv=None) -> int:
    args = _parse(argv)
    signal.signal(signal.SIGTERM, _exit_on_sigterm)
    sys.path.insert(0, ROOT)
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        spec = json.load(f)
    from perfbench import guard

    try:
        guard.import_engine(ROOT)
    except guard.ForeignTreeError as e:
        print(f"perfbench: {e}", file=sys.stderr)
        return 2

    from perfbench import host, procs
    from perfbench.trace import Tracer
    from perfbench.workloads import WORKLOADS

    if args.workload not in WORKLOADS:
        print(f"perfbench: unknown workload {args.workload!r}; one of {sorted(WORKLOADS)}", file=sys.stderr)
        return 2

    base = os.path.join(ROOT, ".perfbench")
    work = os.path.join(base, f"work-{args.workload}-{args.seed}-{os.getpid()}")
    for d in ("local", "tmp"):
        os.makedirs(os.path.join(work, d), exist_ok=True)
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(work, "local")
    os.environ["TMPDIR"] = tempfile.tempdir = os.path.join(work, "tmp")

    event_dir = os.path.join(work, "eventlog") if args.trace else None
    ctx = Ctx(args.seed, args.seconds, work, host.nproc(), Tracer(args.workload, args.seed), event_dir)
    try:
        untraced = _untraced_baseline(args, base) if args.trace else None
        wl, setup = _setup(ctx, WORKLOADS[args.workload], guard)

        control_pre = host.control_kernel_s() if args.trace else None
        ticks0 = host.cpu_ticks()
        cpu0 = procs.tree_cpu_s()
        t0 = time.time()
        wl.window(ctx.seconds)
        t1 = time.time()
        cpu1 = procs.tree_cpu_s()
        ticks1 = host.cpu_ticks()
        control_post = host.control_kernel_s() if args.trace else None
        op_mean = fmean(wl.pass_latencies())
        if args.trace:
            layer = _layers(ctx, wl, t0, t1, base)
            untraced_op_mean, (child_attempted, child_failed) = untraced
            attempted = len(wl.records) + child_attempted
            failed = sum(not r["ok"] for r in wl.records) + child_failed
            layer.update(setup)
            layer.update({
                "error_rate": failed / attempted,
                "host.nproc": ctx.cores,
                "host.steal_frac": host.steal_frac(ticks0, ticks1),
                "host.control_s_pre": control_pre,
                "host.control_s_post": control_post,
                "trace.overhead_frac": op_mean / untraced_op_mean - 1.0,
            })
            metrics = {m["name"]: (layer.get(m["name"], 0.0), m["unit"]) for m in spec["per_layer"]}
        else:
            wl.check()
            attempted = len(wl.records)
            failed = sum(not r["ok"] for r in wl.records)
            e2e = {
                "setup_s": sum(setup.values()),
                "op_mean_s": op_mean,
                "throughput_per_s": wl.items() / (t1 - t0),
                "window_cpu_s": cpu1 - cpu0,
                "driver_peak_rss_mb": host.peak_rss_mb(),
            }
            metrics = {m["name"]: (e2e[m["name"]], m["unit"]) for m in spec["end_to_end"]}
    finally:
        signal.signal(signal.SIGTERM, signal.SIG_IGN)  # let the clean-up finish
        try:
            if ctx.spark is not None:
                ctx.spark.stop()
        except Exception as e:  # e.g. a gateway call cut off by SIGTERM
            print(f"perfbench: stopping the session failed: {e!r}", file=sys.stderr)
        procs.stop_all()
        shutil.rmtree(work, ignore_errors=True)

    print("perfbench: " + " ".join(f"{k} {v:.3f}s" for k, v in setup.items()), file=sys.stderr)
    for r in wl.records:
        print(f"perfbench: {r['name']} {r['latency_s']:.3f}s {'ok' if r['ok'] else 'FAILED'}", file=sys.stderr)
        if not r["ok"]:
            print(f"perfbench: {str(r['out'])[:300]}", file=sys.stderr)
    result = {
        "correct": failed == 0,
        "attempted": attempted,
        "failed": failed,
        "metrics": {k: {"value": float(v), "unit": u} for k, (v, u) in metrics.items()},
    }
    if not args.trace:
        os.makedirs(os.path.join(base, "results"), exist_ok=True)
        with open(_result_path(base, args), "w") as f:
            json.dump(result, f)
    print(json.dumps(result))
    return 0


if __name__ == "__main__":
    sys.exit(main())
