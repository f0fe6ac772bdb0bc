"""The workloads.

Each workload is a closed loop driven by one client: the next operation
starts only after the previous one returned.  A workload provides

- ``inputs()``: generate and materialise its seeded inputs (set-up);
- ``reference()``: the Spark-free or DuckDB results the checks use;
- ``warmup()``: one small untimed pass (JIT, Python workers, codegen);
- ``window(seconds)``: the timed closed loop.  It runs a fixed number
  of operations, sized from ``seconds`` by the operation's typical
  latency on a 4-core host, so both sides of a comparison do the same
  work;
- ``check()``: compare every recorded output with the reference;
- ``layers()`` / ``span_jobs(parsed)``: per-layer metrics (traced run).

Op records are dicts ``name, latency_s, ok, out`` and every op runs
inside a tracer span of the same name.
"""

from __future__ import annotations

import json
import os
import shutil
import time
from statistics import median

import numpy as np
import pandas as pd

from perfbench import gen
from perfbench.trace import jobs_per_span

# --------------------------------------------------------------- helpers


def quota(seconds: float, op_s: float) -> int:
    """Operations of typical length ``op_s`` that fill ``seconds``."""
    return max(1, int(np.ceil(seconds / op_s - 0.25)))


def quantile(xs, q: float) -> float:
    return float(np.quantile(np.asarray(xs, dtype=float), q)) if xs else 0.0


def canon(df: pd.DataFrame) -> pd.DataFrame:
    """Sorted columns, sorted rows (as in tests/test_oracle_parity.py)."""
    df = df[sorted(df.columns)]
    return df.sort_values(by=list(df.columns), ignore_index=True).reset_index(drop=True)


def frames_equal(got: pd.DataFrame, want: pd.DataFrame) -> bool:
    got, want = canon(got), canon(want)
    if list(got.columns) != list(want.columns) or len(got) != len(want):
        return False
    for c in got.columns:
        a, b = got[c], want[c]
        if a.dtype.kind != b.dtype.kind:
            return False
        if a.dtype.kind == "f":
            if not np.array_equal(a.to_numpy(float), b.to_numpy(float), equal_nan=True):
                return False
        elif a.astype(object).tolist() != b.astype(object).tolist():
            return False
    return True


def dir_size(path: str) -> tuple:
    """(bytes, files) under ``path``."""
    nbytes = nfiles = 0
    for dirpath, _dirs, files in os.walk(path):
        for fn in files:
            nbytes += os.path.getsize(os.path.join(dirpath, fn))
            nfiles += 1
    return nbytes, nfiles


class Workload:
    name = ""
    warmup_pass = True

    def __init__(self, ctx):
        self.ctx = ctx
        self.spark = ctx.spark
        self.tr = ctx.tracer
        self.records: list = []
        self.props: dict = {}

    def op(self, name: str, fn, parent=None):
        """Run one timed operation inside a span; record its latency and
        output.  An exception counts as a failed operation."""
        with self.tr.span(name, parent=parent) as sp:
            t0 = time.perf_counter()
            try:
                out, ok = fn(), True
            except Exception as e:  # noqa: BLE001 — a failed op is a result
                out, ok = repr(e), False
            lat = time.perf_counter() - t0
        rec = dict(name=name, latency_s=lat, ok=ok, out=out, span=sp["id"])
        self.records.append(rec)
        return rec

    def inputs(self):
        raise NotImplementedError

    def reference(self):
        pass

    def warmup(self):
        pass

    def window(self, seconds: float):
        raise NotImplementedError

    def after_window(self):
        """Traced run: extra untimed-for-e2e operations after the window."""

    def check(self) -> None:
        """Mark each record ``ok=False`` whose output does not match."""

    def layers(self) -> dict:
        return {}

    def span_jobs(self, parsed: dict) -> dict:
        """Layer metrics that count Spark jobs inside spans."""
        return {}

    def release(self):
        pass

    def pass_latencies(self) -> list:
        raise NotImplementedError

    def items(self) -> int:
        raise NotImplementedError


# ------------------------------------------------------------ sf_queries

# the 29 fixture-free queries bench.py times, plus ngram_jaccard
QUERIES = [
    "cell_assign", "minhash_pairs", "ann_topk", "knn_join", "ngram_jaccard",
    "ann_lsh_topk", "ann_ivf_topk", "ann_pq_topk", "cosine_near_dup",
    "simhash_near_pairs", "phash_near_dups", "frame_sample", "winnow_pairs",
    "semantic_dedup", "importance_topk", "lm_perplexity", "kmv_distinct",
    "asof_attribution", "group_quantiles", "dup_spans", "kmeans_clusters",
    "bm25_topk", "sessionize", "range_join", "topk_ngrams", "chunk_pack",
    "rolling_stats", "zorder_blocks", "audio_stats", "top_revenue_orders",
]
QUERY_S = 1.5  # typical first-run query latency after the warm-up
WARMUP_QUERIES = ("split_stop", "winnow_fingerprints_batch")
SF_SCALE = 0.01
SF_TABLES = ("nation", "customer", "orders", "lineitem", "events",
             "documents", "embeddings")


class SfQueries(Workload):
    """The queries of ``__spark_entry__``, each run once per
    session to a full-column result (``toPandas``), in a fixed order."""

    name = "sf_queries"

    def inputs(self):
        self.sf_dir = os.path.join(self.ctx.work, "sf")
        counts = gen.write_sf_tables(self.ctx.seed, SF_SCALE, self.sf_dir)
        self.props = {"inputs.rows": sum(counts.values())}

    def warmup(self):
        """Two ``__spark_entry__`` queries outside the measured set (one
        JVM-only, one with a pandas UDF): they ship the package to the
        executors and warm the JVM, so no measured query runs cold."""
        for name in WARMUP_QUERIES:
            self._run_query(name)

    def _run_query(self, name: str):
        import __spark_entry__ as em

        return em.queries()[name](self.spark, self.sf_dir).toPandas()

    def window(self, seconds: float):
        for name in QUERIES[:quota(seconds, QUERY_S)]:
            self.op(f"entry.{name}", lambda n=name: self._run_query(n))

    def after_window(self):
        """The queries the window did not reach, so the trace has all 30."""
        done = {r["name"] for r in self.records}
        for name in QUERIES:
            if f"entry.{name}" not in done:
                rec = self.op(f"entry.{name}", lambda n=name: self._run_query(n))
                rec["in_window"] = False

    def check(self):
        import duckdb

        import __spark_entry__ as em

        con = duckdb.connect()
        for t in SF_TABLES:
            path = os.path.join(self.sf_dir, f"{t}.parquet")
            con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{path}')")
        sql = em.oracle_sql()
        for r in self.records:
            if r["ok"]:
                want = con.execute(sql[r["name"].split(".", 1)[1]]).df()
                r["ok"] = frames_equal(r["out"], want)
        con.close()

    def pass_latencies(self):
        return [r["latency_s"] for r in self.window_records()]

    def window_records(self):
        return [r for r in self.records if r.get("in_window", True)]

    def items(self):
        return len(self.window_records())

    def layers(self):
        lat = {r["name"]: r["latency_s"] for r in self.records}
        out = {f"entry.{q}_s": lat.get(f"entry.{q}", 0.0) for q in QUERIES}
        out["query_p50_s"] = median(self.pass_latencies())
        out.update(self._sources_probe())
        return out

    def _sources_probe(self) -> dict:
        """Spark-free ``decode_audio`` over the clips ``audio_stats``
        decodes, built with the engine's own generator functions."""
        import __spark_entry__ as em
        from geojson_vt_rs_spark.sources.audio import clip_spec, decode_audio, encode_wav, make_samples

        clips = []
        for i in range(em._N_AUDIO):
            fmt, ns = clip_spec(i)
            samples = make_samples(i, ns)
            clips.append((encode_wav(samples) if fmt == "wav" else samples.tobytes(), fmt, ns))
        with self.tr.span("sources.decode"):
            t0 = time.perf_counter()
            for buf, fmt, ns in clips:
                decode_audio(buf, fmt, ns)
            decode_s = time.perf_counter() - t0
        return {"sources.avg_row_bytes": float(np.mean([len(c[0]) for c in clips])),
                "sources.decode_s": decode_s}


# -------------------------------------------------------------- pyramid

N_POINTS = 10_000
# index_max_points and fuse_max_points scaled with the input (the
# defaults are 100k for 250k-point inputs), so the build still takes the
# distributed level loop and splits into the same 4-level index
POINT_SPLIT = 4_000
TARGET = (12, 1171, 1566)
REGION_OPTS = dict(max_zoom=14, index_max_zoom=7, index_max_points=200)
# Warm lookups read the store's z0 and z1 tiles (5 at every seed: world-wide
# points fill all four z1 quadrants), LOOKUP_ROUNDS times each.  The first
# read of a tile scans the store and ranks its features; a repeated read hits
# the engine's per-tile memo.  With 3 rounds the p50 is a memo hit and the p90
# a first read.  Reading all 13 tiles costs 8 s more per run for the same
# two regimes
LOOKUP_MAX_Z = 1
LOOKUP_ROUNDS = 3
CYCLE_S = 30.0  # typical build + drill + lookups + index cycle


def _feature_rows(feats) -> list:
    return [(f["type"], json.dumps(f["geometry"])) for f in feats]


def _store_rows(pdf: pd.DataFrame) -> list:
    pdf = pdf.sort_values("feature_idx")
    return [(int(t), json.dumps(json.loads(g))) for t, g in zip(pdf["type"], pdf["geometry_json"])]


class Pyramid(Workload):
    """(a) CheckpointedPyramid build over seeded points, a cold drill to
    tile 12/1171/1566, then warm lookups of tiles already in the store;
    (b) a distributed SparkGeoJSONVT index over the region layer plus
    one drill below its index_max_zoom."""

    name = "pyramid"
    # no warm-up pass: the window's build is the first in the JVM, as for
    # a batch job, and a warm-up build would cost as much as the build
    warmup_pass = False

    def options(self):
        from geojson_vt_rs_spark.config import Options

        return Options(index_max_points=POINT_SPLIT, fuse_max_points=POINT_SPLIT)

    def inputs(self):
        from geojson_vt_rs_spark.operators.pipeline import read_geojson_features

        self.release()
        seed = self.ctx.seed
        self.points = gen.points_table(self.spark, seed, N_POINTS, self.ctx.cores).persist()
        self.points.count()
        self.region_fc = gen.region_geojson(seed)
        self.region = read_geojson_features(self.spark, self.region_fc).persist()
        self.region.count()
        st = gen.layer_stats(self.region_fc)
        self.props = {"inputs.points": N_POINTS, "inputs.polygons": st["polygons"],
                      "inputs.vertices": st["vertices"]}

    def release(self):
        for attr in ("points", "region"):
            df = getattr(self, attr, None)
            if df is not None:
                df.unpersist()

    def _region_drill_tile(self) -> tuple:
        """A z10 tile under the first region's first vertex (below the
        index's max zoom 7, so the lookup drills)."""
        lon, lat = self.region_fc["features"][0]["geometry"]["coordinates"][0][5]
        z2 = 1 << 10
        x = int((lon + 180.0) / 360.0 * z2)
        s = np.sin(np.radians(lat))
        y = int((0.5 - 0.25 * np.log((1 + s) / (1 - s)) / np.pi) * z2)
        return 10, x, y

    def reference(self):
        """The local core tiler on the same inputs."""
        from geojson_vt_rs_spark.config import Options
        from geojson_vt_rs_spark.core.tiler import GeoJSONVT
        from geojson_vt_rs_spark.operators.schema import pdf_to_features
        from geojson_vt_rs_spark.sources.geojson import load_geojson

        feats = list(pdf_to_features(gen.points_pdf(self.ctx.seed, np.arange(N_POINTS))))
        region = load_geojson(self.region_fc)
        t0 = time.perf_counter()
        idx = GeoJSONVT(feats, self.options())
        self.ref_total = idx.total
        self.ref_keys = sorted(
            (t.emitter.z, t.emitter.x, t.emitter.y) for t in idx.get_internal_tiles().values()
        )
        self.ref_target = _feature_rows(idx.get_tile(*TARGET).features)
        self.ref_tiles = {k: _feature_rows(idx.get_tile(*k).features) for k in self.ref_keys}
        ridx = GeoJSONVT(region, Options(**REGION_OPTS))
        self.ref_region_total = ridx.total
        self.drill_tile = self._region_drill_tile()
        self.ref_region_drill = _feature_rows(ridx.get_tile(*self.drill_tile).features)
        self.kernel_s = time.perf_counter() - t0
        self.lookup_keys = [k for k in self.ref_keys if k[0] <= LOOKUP_MAX_Z] * LOOKUP_ROUNDS

    def window(self, seconds: float):
        from geojson_vt_rs_spark.config import Options
        from geojson_vt_rs_spark.plans.checkpoint import CheckpointedPyramid
        from geojson_vt_rs_spark.plans.pyramid import SparkGeoJSONVT

        for cycle in range(quota(seconds, CYCLE_S)):
            store = os.path.join(self.ctx.work, f"store_{cycle}")
            shutil.rmtree(store, ignore_errors=True)
            cp = CheckpointedPyramid(self.spark, self.options())
            with self.tr.span("pyramid.cycle"):
                self.op("plans.build", lambda: cp.run(self.points, store, raw_npts=N_POINTS))
                self.op("plans.drill_cold", lambda: _store_rows(cp.get_tile(store, *TARGET).toPandas()))
                for key in self.lookup_keys:
                    rec = self.op("plans.lookup", lambda k=key: _store_rows(cp.get_tile(store, *k).toPandas()))
                    rec["key"] = key
                holder = {}

                def build_index():
                    holder["idx"] = SparkGeoJSONVT(
                        self.spark, self.region, Options(**REGION_OPTS), prefer_local=False
                    )
                    return holder["idx"].total

                self.op("plans.index_build", build_index)
                self.op("plans.index_drill",
                        lambda: _feature_rows(holder["idx"].get_tile(*self.drill_tile).features))
            self.last_store = store

    def check(self):
        want = {
            "plans.drill_cold": lambda r: r["out"] == self.ref_target,
            "plans.lookup": lambda r: r["out"] == self.ref_tiles[r["key"]],
            "plans.index_build": lambda r: r["out"] == self.ref_region_total,
            "plans.index_drill": lambda r: r["out"] == self.ref_region_drill,
            "plans.build": lambda r: r["out"]["total_tiles"] == self.ref_total,
        }
        for r in self.records:
            if r["ok"]:
                r["ok"] = bool(want[r["name"]](r))

    def pass_latencies(self):
        """Serving latency: warm lookups of tiles already in the store."""
        return [r["latency_s"] for r in self.records if r["name"] == "plans.lookup"]

    def items(self):
        return len(self.records)

    def span_jobs(self, parsed):
        return {
            "plans.drill_jobs": jobs_per_span(parsed, self.tr.named("plans.drill_cold")),
            "plans.lookup_jobs": jobs_per_span(parsed, self.tr.named("plans.lookup")),
        }

    def layers(self):
        lat = lambda n: [r["latency_s"] for r in self.records if r["name"] == n]  # noqa: E731
        warm = self.pass_latencies()
        builds = [r for r in self.records if r["name"] == "plans.build"]
        manifests = builds[-1]["out"]["manifests"] if builds and builds[-1]["ok"] else []
        store_bytes, store_files = dir_size(self.last_store)
        out = {
            "build_s": median(lat("plans.build")),
            "drill_cold_s": median(lat("plans.drill_cold")),
            "lookup_warm_p50_s": quantile(warm, 0.5),
            "lookup_warm_p90_s": quantile(warm, 0.9),
            "index_build_s": median(lat("plans.index_build")),
            "plans.levels": len(manifests),
            "plans.level_wall_s": sum(m.get("wall_sec", 0.0) for m in manifests),
            "plans.store_mb": store_bytes / 2**20,
            "plans.store_files": store_files,
            "core.kernel_s": self.kernel_s,
        }
        out.update(self._noop_probe(manifests))
        return out

    def _noop_probe(self, manifests) -> dict:
        """The first wave's Arrow boundary: an identity pandas kernel of
        the input schema over the same input plan."""
        from geojson_vt_rs_spark.operators.schema import FEATURE_SCHEMA

        def identity(batches):
            yield from batches

        with self.tr.span("operators.noop"):
            t0 = time.perf_counter()
            self.points.mapInPandas(identity, schema=FEATURE_SCHEMA).write.format("noop").mode("overwrite").save()
            noop = time.perf_counter() - t0
        level0 = manifests[0].get("wall_sec", 0.0) if manifests else 0.0
        return {"operators.noop_s": noop,
                "operators.boundary_share": noop / level0 if level0 else 0.0}


WORKLOADS = {w.name: w for w in (SfQueries, Pyramid)}
