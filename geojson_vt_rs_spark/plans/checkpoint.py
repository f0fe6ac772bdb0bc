"""Checkpointed, resumable production pipelines.

Two write paths, both idempotent-resume via per-partition JSON manifests
carrying lineage + row-count metrics (north_rule: "checkpoints per-tile-
partition progress with lineage + row-count metrics for resumability"):

* CheckpointedPyramid — the distributed tile pyramid writing tiles /
  leaf-features / next-level frontiers as parquet per level; a level's
  manifest is written only after all its outputs land, so a killed job
  resumes from the first level without a manifest, re-reading the last
  persisted frontier (no recompute of completed levels).

* checkpointed_mosaic — the raster mosaic sharded into hash buckets of
  cells; completed buckets are skipped on resume.

Everything is written with deterministic content, so a resumed run
produces byte-identical outputs to an uninterrupted one.
"""

from __future__ import annotations

import json
import os
import shutil
import time
from typing import Optional

import pandas as pd
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

from geojson_vt_rs_spark.config import Options
from geojson_vt_rs_spark.operators.pipeline import convert_wrap_stage
from geojson_vt_rs_spark.operators.schema import (
    TILE_STORE_DDL,
    TILED_FEATURE_SCHEMA,
)
from geojson_vt_rs_spark.plans.pyramid import (
    K_LEAF,
    K_STATS,
    K_TILE,
    STEP_SCHEMA,
    TILED_COLS,
    _level_kernel,
    decisions_df,
)


def _frontier_parts(n_rows: int, spark: SparkSession) -> int:
    """Partition count for a level frontier of known size: enough to use
    every core, capped so late (small) levels stop paying per-task
    scheduling + Python-worker round-trip overhead for 100-row tasks.
    Applied with coalesce() — a NARROW merge of cached partitions, no
    shuffle — so the partition count tracks the data as the pyramid
    thins out (measured: 32-core 1M build 90s -> 65s when tiny levels
    stop running 128-task jobs)."""
    cores = spark.sparkContext.defaultParallelism
    return max(1, min(2 * cores, int(n_rows // 4000) + 1))


def _cpu_ticks() -> tuple:
    """(steal_ticks, total_ticks) from /proc/stat; (0, 0) off-Linux.
    Each level manifest records its window's steal fraction so a slow
    level is classifiable from the store alone (a 32-core z1 was
    observed bimodal 9-17s across sessions — the slow runs track
    elevated hypervisor steal, not GC; this pins that per level)."""
    try:
        with open("/proc/stat") as f:
            vals = [int(v) for v in f.readline().split()[1:]]
        return (vals[7] if len(vals) > 7 else 0), sum(vals)
    except (OSError, ValueError, IndexError):
        return 0, 0


def _steal_frac(t0: tuple, t1: tuple) -> float:
    d = t1[1] - t0[1]
    return round((t1[0] - t0[0]) / d, 4) if d > 0 else 0.0


def _manifest_path(out_dir: str, name: str) -> str:
    return os.path.join(out_dir, "_manifests", f"{name}.json")


def _write_manifest(out_dir: str, name: str, payload: dict) -> None:
    path = _manifest_path(out_dir, name)
    os.makedirs(os.path.dirname(path), exist_ok=True)
    tmp = path + ".tmp"
    with open(tmp, "w") as fh:
        json.dump(payload, fh, sort_keys=True)
    os.replace(tmp, path)  # atomic completion marker


def _sweep_drill_orphans(out_dir: str) -> list:
    """Remove leaves/level=drill_* dirs whose matching tiles/level=drill_*
    commit never landed.  get_tile publishes leaves FIRST (the tiles rename
    is the commit point), so a crash in between strands orphan leaf rows
    that any reader scanning the leaves root would otherwise see until that
    exact tile is re-drilled.  Returns the swept dir names."""
    leaves_root = os.path.join(out_dir, "leaves")
    tiles_root = os.path.join(out_dir, "tiles")
    swept = []
    if not os.path.isdir(leaves_root):
        return swept
    for d in os.listdir(leaves_root):
        if not d.startswith("level=drill_"):
            continue
        if not os.path.isdir(os.path.join(tiles_root, d)):
            shutil.rmtree(os.path.join(leaves_root, d), ignore_errors=True)
            swept.append(d)
    return swept


def _read_manifest(out_dir: str, name: str) -> Optional[dict]:
    path = _manifest_path(out_dir, name)
    if not os.path.exists(path):
        return None
    with open(path) as fh:
        return json.load(fh)


# the order keys the level writers persist in place of feature_idx
_ORDER_KEYS = ("world_copy", "feature_seq", "slice_path", "sub_idx")
_KEY_SCHEMA = T.StructType(
    [T.StructField(c, T.IntegerType()) for c in ("x", "y", "feature_idx")]
)


def _visible(path: str) -> list:
    """Sorted entries of ``path`` that Spark's file index would list."""
    if not os.path.isdir(path):
        return []
    return sorted(n for n in os.listdir(path) if not n.startswith((".", "_")))


def _read_store(root: str, schema: T.StructType, where, zs=None):
    """Published rows of one store table (``tiles/`` or ``leaves/``), read
    on the driver with pyarrow instead of a Spark scan job.

    Prunes by path: walks ``root/level=*/z=Z/`` (only the ``z`` in ``zs``
    when given), streams each file's row groups with only ``schema``'s
    columns, and keeps the rows where ``where(batch, z)`` is true (null
    counts as false, as in a Spark filter).  Returns a pyarrow Table of
    ``schema``'s columns, cast to its types, then ``level`` (string) and
    ``z`` (int) taken from the path.

    Read contract:

    * It sees only ``level=*/z=*`` directories, and it skips every name
      starting with ``.`` or ``_`` as Spark's reader does: the drill
      sink's ``.part-*.tmp*`` files, ``_SUCCESS`` and ``.crc`` files.
      ``_staging/`` sits beside the tables, outside ``root``.
    * It relies on the staged-rename commit: a level or drill directory
      appears under ``root`` complete, or not at all.  That rename is
      atomic only on one POSIX volume; it does not hold on object stores.
    * Its driver memory is the matching rows of ``schema``'s columns,
      plus one row group's columns while they are filtered: one tile's
      rows for ``read_tile``, and only key columns for the key scans (one
      row per tile, or per retained feature of the probed ancestors).
    """
    import pyarrow as pa
    import pyarrow.parquet as pq
    from pyspark.sql.pandas.types import to_arrow_schema

    cols = to_arrow_schema(schema)
    out = cols.append(pa.field("level", pa.string())).append(
        pa.field("z", pa.int32())
    )
    batches = []
    for ldir in _visible(root):
        if not ldir.startswith("level="):
            continue
        for zdir in _visible(os.path.join(root, ldir)):
            if not zdir.startswith("z="):
                continue
            z = int(zdir[2:])
            if zs is not None and z not in zs:
                continue
            zpath = os.path.join(root, ldir, zdir)
            for fn in _visible(zpath):
                with pq.ParquetFile(os.path.join(zpath, fn)) as pf:
                    for b in pf.iter_batches(columns=cols.names):
                        b = b.filter(where(b, z))
                        if b.num_rows:
                            n = b.num_rows
                            batches.append(pa.RecordBatch.from_arrays(
                                b.cast(cols).columns + [
                                    pa.array([ldir[len("level="):]] * n,
                                             pa.string()),
                                    pa.array([z] * n, pa.int32()),
                                ],
                                schema=out,
                            ))
    return pa.Table.from_batches(batches, out)


def _key_set(table) -> set:
    """The distinct (z, x, y) keys of a ``_read_store`` table."""
    return set(zip(*(table[c].to_pylist() for c in ("z", "x", "y"))))


class CheckpointedPyramid:
    """Distributed pyramid with per-level parquet checkpoints.

    Layout under ``out_dir``:
      tiles/level=*/z=*/   rendered tile rows plus one stats row per tile
                           (feature_idx == -1)
      leaves/level=*/z=*/  retained leaf source features (drill-down input)
      frontier/level_N/    the N-th level's input features (resume point)
      _manifests/level_N.json  lineage: row counts per kind, wall time

    ``level`` is ``L<N>`` for a build level and ``drill_<z>_<x>_<y>`` for
    a drill.  Writes are EXACTLY-ONCE per level and per drill: every write
    lands in ``_staging/`` first, then one atomic directory rename
    publishes it, and a level's manifest is written last.  On resume,
    staging leftovers and published level dirs without a manifest are
    removed before the level recomputes (deterministic content), so
    readers never see duplicates and need no dedupe.  With
    ``iceberg=True`` (optional pyiceberg) a snapshot commit subsumes the
    JSON manifest as the commit point (plans/iceberg_sink.py).

    Building and drilling run as Spark jobs.  The point reads — a tile's
    rows (``read_tile``), the tile-key set (``_tile_keys``) and the
    ancestor-leaf probe in ``get_tile`` — read the published parquet on
    the driver (``_read_store``): each is one tile or one key column set,
    so a Spark job would cost more in scheduling than in work.
    """

    def __init__(
        self,
        spark: SparkSession,
        options: Optional[Options] = None,
        iceberg: bool = False,
        catalog_kwargs: Optional[dict] = None,
    ):
        """``iceberg=True`` layers real snapshot commits over the level
        publishes (plans/iceberg_sink.py): files are still written
        distributed + renamed into place, but the Iceberg snapshot is
        the commit point and carries the manifest; the JSON manifest
        becomes a read cache written after the commit.  Requires
        pyiceberg (ImportError otherwise — absent in this container, so
        the staged-rename protocol below is the tested default)."""
        self.spark = spark
        self.options = options or Options()
        self._iceberg = iceberg
        self._catalog_kwargs = catalog_kwargs
        self._sinks: dict = {}
        # per-store memo of existing tile keys (the reference's in-memory
        # tile memo, lib.rs:145-150): loaded with ONE stats-row job,
        # invalidated on every publish by THIS object.  Exists purely to
        # avoid re-scanning per lookup; external writers are out of scope
        # (same single-writer contract as the staged-rename protocol).
        self._keys: dict = {}
        # warm-lookup memo: (out_dir, z, x, y) -> persisted ranked tile DF
        # (the reference's warm get_tile is a dict hit, lib.rs:193-195;
        # without this every repeat read pays the one-tile rank window).
        # Bounded LRU; invalidated with _keys on every publish.
        self._tile_dfs: dict = {}
        self._tile_dfs_cap = 256

    def _sink(self, out_dir: str):
        if not self._iceberg:
            return None
        if out_dir not in self._sinks:
            from geojson_vt_rs_spark.plans.iceberg_sink import IcebergTileSink

            self._sinks[out_dir] = IcebergTileSink(
                out_dir, self._catalog_kwargs
            )
        return self._sinks[out_dir]

    def _commit_manifest(
        self, out_dir: str, name: str, payload: dict,
        tiles_dir: str = "", leaves_dir: str = "",
    ) -> None:
        sink = self._sink(out_dir)
        if sink is not None:
            # snapshot commit FIRST (the commit point); JSON after (cache)
            if leaves_dir and os.path.isdir(leaves_dir):
                sink.commit_level(
                    "leaves", leaves_dir, dict(payload, table="leaves")
                )
            sink.commit_level(
                "tiles",
                tiles_dir if os.path.isdir(tiles_dir) else "",
                payload,
            )
        _write_manifest(out_dir, name, payload)
        self._invalidate_memos(out_dir)  # tile set changed; reload lazily

    def _invalidate_memos(self, out_dir: str) -> None:
        self._keys.pop(out_dir, None)
        for k in [k for k in self._tile_dfs if k[0] == out_dir]:
            self._tile_dfs.pop(k).unpersist()

    def _get_manifest(self, out_dir: str, name: str) -> Optional[dict]:
        m = _read_manifest(out_dir, name)
        if m is None and self._iceberg and name.startswith("level_"):
            sink = self._sink(out_dir)
            m = sink.read_manifest("tiles", int(name.split("_")[1]))
            if m is not None:
                _write_manifest(out_dir, name, m)  # restore the cache
        return m

    def run(
        self, features_df: DataFrame, out_dir: str,
        raw_npts: Optional[int] = None,
    ) -> dict:
        """``raw_npts`` (optional): the input's total RAW point count —
        lets the fresh level-0 turn skip BOTH the raw gate agg and the
        converted decision agg.  When absent it is computed with one
        cheap JVM sum over ``features_df`` (no Python kernels).  The
        gate mirrors SparkGeoJSONVT._run: raw <= fuse_bound fuses the
        root outright; larger inputs render+split z0 OPTIMISTICALLY and
        finish the decision from parent partials emitted inside the
        same wave — the z0 ingest pass no longer materializes the whole
        convert+wrap output once for the agg and again for the render."""
        o = self.options
        spark = self.spark
        kernel = _level_kernel(o, 0, 0, 0, force_subtree=True)
        os.makedirs(out_dir, exist_ok=True)
        _sweep_drill_orphans(out_dir)

        level = 0
        frontier = None
        resumed_pending: list = []
        # resume: find the first level without a manifest
        while self._get_manifest(out_dir, f"level_{level}") is not None:
            level += 1
        if level > 0:
            m = self._get_manifest(out_dir, f"level_{level - 1}")
            resumed_pending = [tuple(c) for c in m.get("pending_children", [])]
            if m["n_children"] == 0:
                if not resumed_pending:
                    return self.summary(out_dir)
                # all children were empty: one recording turn remains
                frontier = spark.createDataFrame([], TILED_FEATURE_SCHEMA)
            else:
                frontier = spark.read.parquet(
                    os.path.join(out_dir, "frontier", f"level_{level}")
                )
        first_mode = None
        first_wave = None
        if level == 0:
            z2 = 1 << o.max_zoom
            cw_args = (
                (o.tile.tolerance / o.tile.extent) / z2,
                o.generate_id,
                o.tile.buffer / o.tile.extent,
                o.tile.line_metrics,
            )
            wrapped = convert_wrap_stage(features_df, *cw_args)
            frontier = wrapped.select(
                F.lit(0).alias("z"), F.lit(0).alias("x"), F.lit(0).alias("y"), "*"
            )
            # lazy fused convert+wrap+render+split plan for the
            # optimistic first turn (one Arrow pass instead of two);
            # `frontier` stays the mispredicted-leaf recovery source
            from geojson_vt_rs_spark.operators.pipeline import (
                convert_wrap_render_split_stage,
            )

            first_wave = convert_wrap_render_split_stage(
                features_df, *cw_args, options=o
            )
            if raw_npts is None:
                raw_npts = int(
                    features_df.agg(F.sum("num_points")).collect()[0][0] or 0
                )
            first_mode = "gate"  # resolved to fuse/optimistic below

        from concurrent.futures import ThreadPoolExecutor

        from geojson_vt_rs_spark.operators.pipeline import (
            RS_CAGG,
            RS_CHILD,
            RS_RENDER,
            render_split_stage,
        )
        from geojson_vt_rs_spark.plans.pyramid import fuse_bound

        tiles_path = os.path.join(out_dir, "tiles")
        leaves_path = os.path.join(out_dir, "leaves")
        fuse_max = fuse_bound(o, 0)
        if first_mode is not None:
            # fresh level-0 gate (mirrors SparkGeoJSONVT._run): tiny
            # inputs fuse outright, everything else splits optimistically
            first_mode = "fuse" if raw_npts <= fuse_max else "optimistic"
        pending_children: list = resumed_pending

        def _level_dirs(lvl):
            """(staging, final) dir pairs for one level's tile/leaf writes,
            pre-cleaned of any un-committed leftovers from a crashed
            attempt (no manifest => safe to discard and recompute)."""
            stg_t = os.path.join(out_dir, "_staging", f"tiles_level_{lvl}")
            stg_l = os.path.join(out_dir, "_staging", f"leaves_level_{lvl}")
            fin_t = os.path.join(tiles_path, f"level=L{lvl}")
            fin_l = os.path.join(leaves_path, f"level=L{lvl}")
            for p in (stg_t, stg_l, fin_t, fin_l):
                shutil.rmtree(p, ignore_errors=True)
            return stg_t, stg_l, fin_t, fin_l

        def _publish(stg, fin):
            if os.path.exists(stg):
                os.makedirs(os.path.dirname(fin), exist_ok=True)
                os.rename(stg, fin)  # atomic commit of the level's rows

        def _decide(z, x, y, tnp):
            if z == o.index_max_zoom or tnp <= o.index_max_points:
                return "leaf"
            return "fuse" if tnp <= fuse_max else "split"

        # next level's per-tile num_points from the render pass's RS_CAGG
        # map-side partials (see plans/pyramid.py) — only the first level
        # (and a resume entry) pays a separate Spark agg job
        next_np = None
        # previous level's checkpointed pass: the next frontier reads its
        # cached RS_CHILD rows directly — the frontier parquet is written
        # for DURABILITY (resume re-reads it) but not re-read in the hot
        # loop (a full decode of every row per level otherwise)
        prev_step2 = None
        while True:
            t0 = time.time()
            tick0 = _cpu_ticks()
            stg_tiles, stg_leaves, fin_tiles, fin_leaves = _level_dirs(level)
            turn_mode = first_mode if level == 0 else None
            first_mode = None
            # The frontier is cached ONLY when two consumers exist (the
            # decision agg on resume entries + the fr build).  Everywhere
            # else it has exactly one reader — the wave on gated first
            # turns, fr's cache build on steady-state levels (whose rows
            # already live in prev_step2's checkpoint) — and caching it
            # was pure peak-memory cost: a 4M-point build OOM'd an 8g
            # heap carrying prev_step2 + frontier + fr + step2 copies of
            # the same features at once.  The rare optimistic-leaf
            # recovery recomputes the (small) frontier instead.
            if turn_mode is not None:
                np_pdf = None
                if turn_mode == "fuse":
                    decisions = [(0, 0, 0, "fuse", int(raw_npts))]
                else:
                    decisions = [(0, 0, 0, "split", None)]
                observed = {(0, 0, 0)}
            elif next_np is not None:
                np_pdf = next_np
                next_np = None
            else:
                frontier = frontier.persist()
                np_pdf = (
                    frontier.groupBy("z", "x", "y")
                    .agg(F.sum("num_points").alias("tnp"))
                    .toPandas()
                )
            if np_pdf is not None:
                observed = {
                    (int(r.z), int(r.x), int(r.y))
                    for r in np_pdf.itertuples()
                }
                decisions = [
                    (int(r.z), int(r.x), int(r.y),
                     _decide(int(r.z), int(r.x), int(r.y), int(r.tnp)),
                     int(r.tnp))
                    for r in np_pdf.itertuples(index=False)
                ]
            tiles_schema = TILE_STORE_DDL
            # empty children of the previous level's split parents
            empty_rows = [
                (z, x, y, -1, None, None, None, None, None, None, None,
                 0, 0, "empty", None, None, None, None)
                for z, x, y in pending_children
                if (z, x, y) not in observed
            ]
            if np_pdf is not None and np_pdf.empty:
                if prev_step2 is not None:
                    prev_step2.unpersist()
                    prev_step2 = None
                if empty_rows:
                    spark.createDataFrame(empty_rows, tiles_schema).write.mode(
                        "append"
                    ).partitionBy("z").parquet(stg_tiles)
                _publish(stg_tiles, fin_tiles)
                self._commit_manifest(
                    out_dir,
                    f"level_{level}",
                    dict(level=level, n_tiles=len(empty_rows),
                         n_tile_feature_rows=0, n_leaf_feature_rows=0,
                         n_children=0, pending_children=[],
                         wall_sec=round(time.time() - t0, 3),
                         steal_frac=_steal_frac(tick0, _cpu_ticks())),
                    fin_tiles,
                )
                frontier.unpersist()
                return self.summary(out_dir)

            ddf = decisions_df(
                spark, [(z, x, y, a) for z, x, y, a, _ in decisions]
            )
            fr = frontier.join(F.broadcast(ddf), ["z", "x", "y"])
            if turn_mode != "optimistic":
                # optimistic turns feed fr to exactly one consumer (the
                # wave) — same no-cache reasoning as the frontier above
                fr = fr.persist()

            # ONE fused per-row pass renders non-fused tiles AND clips
            # split children (see plans/pyramid.py).  feature_idx is NOT
            # ranked here: a Window.partitionBy(z,x,y) at z0 has ONE
            # partition, serializing the whole dataset through a single
            # task (54s of the 76s 1M build; 8->32 efficiency 0.236).
            # Instead the deterministic order-key columns are persisted
            # and read_tile derives feature_idx per tile (trivial there —
            # one tile's rows).
            if turn_mode == "optimistic" and first_wave is not None:
                # fused convert+wrap+render+split plan over the RAW input
                # (one Arrow pass; fr is bypassed on this turn)
                step2 = first_wave.localCheckpoint(eager=False)
            else:
                step2 = render_split_stage(
                    fr.filter(F.col("action") != "fuse"), o,
                    emit_parent_cagg=(turn_mode == "optimistic"),
                ).localCheckpoint(eager=False)  # truncate cross-level lineage
            rend = step2.filter(F.col("row_kind") == RS_RENDER)
            split_parents = [
                (z, x, y) for z, x, y, a, _ in decisions if a == "split"
            ]
            # wave 1 — the heavy write; materializes fr and step2 so the
            # follow-up collections scan cached data
            rend.filter(F.col("sub_idx") >= 0).select(
                "z", "x", "y",
                F.lit(None).cast("int").alias("feature_idx"),
                "type", "kind", "geometry_json", "tags_json",
                F.col("id_str").alias("tile_id_str"),
                F.col("id_num").alias("tile_id_num"),
                F.col("id_float").alias("tile_id_float"),
                F.lit(None).cast("int").alias("tile_num_points"),
                F.lit(None).cast("int").alias("tile_num_simplified"),
                F.lit("feature").alias("action"),
                "world_copy", "feature_seq", "slice_path", "sub_idx",
            ).write.mode("append").partitionBy("z").parquet(stg_tiles)

            # wave 2 — independent actions over the cached step2 run as
            # concurrent jobs: per-tile render counters, the next level's
            # decision partials, and the children frontier write (its own
            # directory, so no committer interference with stg_tiles)
            def _collect_ns():
                return (
                    rend.groupBy("z", "x", "y")
                    .agg(
                        F.sum("n_emitted").alias("ns"),
                        F.sum((F.col("sub_idx") >= 0).cast("long")).alias("nf"),
                    )
                    .toPandas()
                )

            def _collect_cagg():
                return (
                    step2.filter(F.col("row_kind") == RS_CAGG)
                    .select("z", "x", "y", "num_points", "n_emitted",
                            "sub_idx")
                    .toPandas()
                )

            def _write_children():
                step2.filter(F.col("row_kind") == RS_CHILD).select(
                    *TILED_COLS
                ).write.mode("overwrite").parquet(
                    os.path.join(out_dir, "frontier", f"level_{level + 1}")
                )

            with ThreadPoolExecutor(3) as _ex:
                ns_f = _ex.submit(_collect_ns)
                cagg_f = _ex.submit(_collect_cagg) if split_parents else None
                ch_f = _ex.submit(_write_children) if split_parents else None
                agg = ns_f.result()
                cagg = cagg_f.result() if cagg_f is not None else None
                if ch_f is not None:
                    ch_f.result()
            if prev_step2 is not None:
                # this level's outputs are materialized; the previous
                # checkpointed pass is no longer referenced
                prev_step2.unpersist()
                prev_step2 = None
            opt_leaf_src = None
            if turn_mode == "optimistic":
                # finish the deferred root decision from the wave's own
                # parent partials (sub_idx == -1 RS_CAGG rows)
                saw_root, tnp_root = False, 0
                if cagg is not None and not cagg.empty:
                    pm = cagg["sub_idx"] == -1
                    saw_root = bool(pm.any())
                    tnp_root = int(cagg.loc[pm, "num_points"].sum())
                    cagg = cagg.loc[~pm]
                if not saw_root:
                    # empty / fully-dropped input: commit the empty level
                    # exactly like the decision-first path (no tile dirs)
                    for p in (
                        stg_tiles, stg_leaves,
                        os.path.join(out_dir, "frontier",
                                     f"level_{level + 1}"),
                    ):
                        shutil.rmtree(p, ignore_errors=True)
                    self._commit_manifest(
                        out_dir, f"level_{level}",
                        dict(level=level, n_tiles=0, n_tile_feature_rows=0,
                             n_leaf_feature_rows=0, n_children=0,
                             pending_children=[],
                             wall_sec=round(time.time() - t0, 3),
                         steal_frac=_steal_frac(tick0, _cpu_ticks())),
                        fin_tiles,
                    )
                    frontier.unpersist()
                    fr.unpersist()
                    step2.unpersist()
                    return self.summary(out_dir)
                action = _decide(0, 0, 0, tnp_root)
                if action == "fuse":
                    # the wave already rendered+split; run the children as
                    # a real level (they will fuse on the next turn)
                    action = "split"
                decisions = [(0, 0, 0, action, tnp_root)]
                if action == "leaf":
                    # mispredicted: the root is really a leaf — keep its
                    # render rows, retain the source features from the
                    # persisted frontier, drop the wasted child clips
                    split_parents = []
                    cagg = None
                    opt_leaf_src = frontier.select(*TILED_COLS)
                    shutil.rmtree(
                        os.path.join(out_dir, "frontier",
                                     f"level_{level + 1}"),
                        ignore_errors=True,
                    )
            if opt_leaf_src is None:
                frontier.unpersist()
            n_children = 0
            if cagg is not None and not cagg.empty:
                # finish the map-side partials driver-side: decision table
                # for the next level + the exact written child row count
                n_children = int(cagg["n_emitted"].sum())
                next_np = (
                    cagg.groupby(["z", "x", "y"], as_index=False)["num_points"]
                    .sum()
                    .rename(columns={"num_points": "tnp"})
                )
            elif split_parents:
                next_np = pd.DataFrame(columns=["z", "x", "y", "tnp"])
            ns_map = {
                (int(r.z), int(r.x), int(r.y)): (int(r.ns), int(r.nf))
                for r in agg.itertuples(index=False)
            }
            n_tile_rows = sum(v[1] for v in ns_map.values())
            # per-tile stats rows (num_points from the agg, num_simplified
            # from the render counters); fused roots get theirs from the
            # subtree kernel's K_STATS rows instead
            stats_rows = empty_rows + [
                (z, x, y, -1, None, None, None, None, None, None, None, tnp,
                 ns_map.get((z, x, y), (0, 0))[0], a, None, None, None, None)
                for z, x, y, a, tnp in decisions
                if a != "fuse"
            ]
            n_tiles = len(stats_rows)
            if stats_rows:
                spark.createDataFrame(stats_rows, tiles_schema).write.mode(
                    "append"
                ).partitionBy("z").parquet(stg_tiles)

            # fused subtrees (bounded groups)
            has_fuse = any(a == "fuse" for _, _, _, a, _ in decisions)
            if has_fuse:
                step = (
                    fr.filter(F.col("action") == "fuse")
                    .drop("action")
                    .groupBy("z", "x", "y")
                    .applyInPandas(kernel, schema=STEP_SCHEMA)
                    .persist()
                )
                is_tile = F.col("row_kind") == K_TILE
                step.filter(F.col("row_kind").isin(K_TILE, K_STATS)).select(
                    "z", "x", "y",
                    # keep only the -1 stats marker; feature rows derive
                    # feature_idx at read time from synthesized order keys
                    # (0, kernel_idx, '', 0) — the read-time rank over
                    # (world_copy, feature_seq, slice_path, sub_idx)
                    # reproduces the kernel's order exactly
                    F.when(~is_tile, F.col("feature_idx")).alias("feature_idx"),
                    "type", "kind",
                    "geometry_json", "tags_json", "tile_id_str", "tile_id_num",
                    "tile_id_float",
                    "tile_num_points", "tile_num_simplified",
                    F.coalesce(F.col("action"), F.lit("feature")).alias("action"),
                    F.when(is_tile, F.lit(0)).alias("world_copy"),
                    F.when(is_tile, F.col("feature_idx").cast("long")).alias("feature_seq"),
                    F.when(is_tile, F.lit("")).alias("slice_path"),
                    F.when(is_tile, F.lit(0)).alias("sub_idx"),
                ).write.mode("append").partitionBy("z").parquet(stg_tiles)
                step.filter(F.col("row_kind") == K_LEAF).select(
                    *TILED_COLS
                ).write.mode("append").partitionBy("z").parquet(stg_leaves)
                n_tiles += int(
                    step.filter(F.col("row_kind") == K_STATS).count()
                )
                step.unpersist()

            # leaf tiles retain source features (the optimistic-leaf
            # recovery reads them from the persisted frontier — fr's
            # action column says 'split' there)
            n_leaf = 0
            if any(a == "leaf" for _, _, _, a, _ in decisions):
                leaf_df = (
                    opt_leaf_src
                    if opt_leaf_src is not None
                    else fr.filter(F.col("action") == "leaf").select(*TILED_COLS)
                )
                leaf_df.write.mode("append").partitionBy("z").parquet(stg_leaves)
                if opt_leaf_src is not None:
                    # opt_leaf_src is deliberately UNPERSISTED (the 4M-OOM
                    # fix): a second action would re-run the whole
                    # convert+wrap recompute.  The optimistic wave ran the
                    # root as 'split', so it emitted no K_LEAF rows — the
                    # rows just staged are the only leaves this level, and
                    # counting the parquet is a metadata-cheap re-read.
                    n_leaf = int(spark.read.parquet(stg_leaves).count())
                else:
                    n_leaf = int(leaf_df.count())
            if opt_leaf_src is not None:
                frontier.unpersist()

            pending_children = [
                (z + 1, 2 * x + dx, 2 * y + dy)
                for z, x, y in split_parents
                for dx in (0, 1)
                for dy in (0, 1)
            ]
            _publish(stg_tiles, fin_tiles)
            _publish(stg_leaves, fin_leaves)
            self._commit_manifest(
                out_dir,
                f"level_{level}",
                dict(
                    level=level,
                    n_tiles=n_tiles,
                    n_tile_feature_rows=int(n_tile_rows),
                    n_leaf_feature_rows=n_leaf,
                    n_children=int(n_children),
                    pending_children=pending_children,
                    wall_sec=round(time.time() - t0, 3),
                    steal_frac=_steal_frac(tick0, _cpu_ticks()),
                ),
                fin_tiles,
                fin_leaves,
            )
            fr.unpersist()
            if not n_children and not pending_children:
                step2.unpersist()
                return self.summary(out_dir)
            if not n_children:
                # all children empty: one more loop turn records them
                frontier = spark.createDataFrame([], frontier.schema)
                step2.unpersist()
            else:
                # continue from the cached pass; the parquet twin of these
                # rows is already durable for resume.  Coalesce to a
                # size-aware partition count (row count known driver-side
                # from the cagg partials) so shrinking levels run
                # proportionally fewer tasks.
                frontier = step2.filter(F.col("row_kind") == RS_CHILD).select(
                    *TILED_COLS
                ).coalesce(_frontier_parts(n_children, spark))
                prev_step2 = step2
            level += 1

    def summary(self, out_dir: str) -> dict:
        levels = []
        i = 0
        while (m := self._get_manifest(out_dir, f"level_{i}")) is not None:
            levels.append(m)
            i += 1
        return dict(
            levels=len(levels),
            total_tiles=sum(m["n_tiles"] for m in levels),
            total_tile_rows=sum(m["n_tile_feature_rows"] for m in levels),
            manifests=levels,
        )

    def read_tile(self, out_dir: str, z: int, x: int, y: int) -> DataFrame:
        """One tile's feature rows, ordered by feature_idx (the warm
        get_tile path, lib.rs:193-195).

        The rows are read on the driver (``_read_store``) from the
        ``z=<z>`` directories only.  feature_idx is derived here: the
        writers persist the order keys (world_copy, feature_seq,
        slice_path, sub_idx) instead, because ranking at write time would
        funnel a whole level through one task per tile at z0/z1.  The
        rows are ranked by those keys in Arrow and numbered 0..n-1.

        Returns a persisted DataFrame with the columns and types Spark's
        partition discovery gives the stored rows without the order keys:
        the stored columns, then ``level`` and ``z``.  It is kept in a
        bounded LRU memo per (out_dir, z, x, y), which every publish by
        this object clears, so a repeat read is a dict hit."""
        import pyarrow as pa
        import pyarrow.compute as pc

        key = (out_dir, z, x, y)
        cached = self._tile_dfs.get(key)
        if cached is not None:
            # refresh LRU position
            self._tile_dfs[key] = self._tile_dfs.pop(key)
            return cached
        stored = T.StructType([
            f for f in T.StructType.fromDDL(TILE_STORE_DDL).fields
            if f.name != "z"
        ])
        t = _read_store(
            os.path.join(out_dir, "tiles"), stored,
            lambda b, _: pc.and_(
                pc.and_(pc.equal(b["x"], x), pc.equal(b["y"], y)),
                pc.is_valid(b["type"]),
            ),
            zs=(z,),
        )
        t = t.take(pc.sort_indices(
            t, [(k, "ascending") for k in _ORDER_KEYS],
            null_placement="at_start",
        )).drop_columns(list(_ORDER_KEYS))
        t = t.set_column(
            t.schema.get_field_index("feature_idx"), "feature_idx",
            pa.array(range(t.num_rows), pa.int32()),
        )
        schema = T.StructType(
            [T.StructField(f.name, f.dataType, f.name != "feature_idx")
             for f in stored if f.name not in _ORDER_KEYS]
            + [T.StructField("level", T.StringType()),
               T.StructField("z", T.IntegerType())]
        )
        df = self.spark.createDataFrame(t, schema).persist()
        while len(self._tile_dfs) >= self._tile_dfs_cap:
            old = next(iter(self._tile_dfs))
            self._tile_dfs.pop(old).unpersist()
        self._tile_dfs[key] = df
        return df

    def _tile_keys(self, out_dir: str) -> set:
        """All tile keys (z, x, y) in the store: one per stats row
        (feature_idx == -1, exactly one per tile), read on the driver
        (``_read_store``).  Kept until this object publishes new tiles;
        external writers are out of scope, as for the staged-rename
        commit."""
        keys = self._keys.get(out_dir)
        if keys is None:
            import pyarrow.compute as pc

            keys = _key_set(_read_store(
                os.path.join(out_dir, "tiles"), _KEY_SCHEMA,
                lambda b, _: pc.equal(b["feature_idx"], -1),
            ))
            self._keys[out_dir] = keys
        return keys

    def get_tile(self, out_dir: str, z: int, x_: int, y: int) -> DataFrame:
        """Full get_tile semantics on the parquet store (lib.rs:184-223):
        memo-hit -> pruned read; miss -> drill down from the nearest
        ancestor's retained leaf features, append the newly created tiles
        (and updated leaves) to the store, then read.  Returns the tile's
        feature rows (possibly empty = EMPTY_TILE)."""
        import pyarrow.compute as pc

        o = self.options
        if z > o.max_zoom:
            raise ValueError(f"Requested zoom higher than maxZoom: {z}")
        _sweep_drill_orphans(out_dir)
        z2 = 1 << z
        x = ((x_ % z2) + z2) % z2
        tile_keys = self._tile_keys(out_dir)
        if (z, x, y) in tile_keys:
            return self.read_tile(out_dir, z, x, y)

        # find the nearest memoized ancestor with retained leaf features:
        # one driver-side read of the ancestor path's z directories
        # (one ancestor per z)
        leaves_path = os.path.join(out_dir, "leaves")
        path = []
        az, ax, ay = z, x, y
        while az != 0:
            az -= 1
            ax //= 2
            ay //= 2
            path.append((az, ax, ay))
        want = {pz: (px, py) for pz, px, py in path}
        leaf_set = _key_set(_read_store(
            leaves_path, T.StructType(_KEY_SCHEMA.fields[:2]),  # x, y
            lambda b, bz: pc.and_(
                pc.equal(b["x"], want[bz][0]), pc.equal(b["y"], want[bz][1])
            ),
            zs=want,
        ))
        leaf = None
        for pz, px, py in path:
            if (pz, px, py) in leaf_set:
                leaf = self.spark.read.parquet(leaves_path).filter(
                    (F.col("z") == pz) & (F.col("x") == px) & (F.col("y") == py)
                )
                az, ax, ay = pz, px, py
                break
            if (pz, px, py) in tile_keys:
                break  # memoized but feature-less ancestor -> EMPTY
        if leaf is None:
            return self.read_tile(out_dir, z, x, y)  # empty result

        # drill DISTRIBUTED: the same decision-first level loop as run(),
        # with target-aware decisions — tiles and leaves stream from the
        # executors straight into the staging dirs.  (The previous
        # in-memory drill collected every sibling leaf through the driver
        # and shipped it back — a driver-memory ceiling at scale.)
        drill_tag = f"drill_{z}_{x}_{y}"
        stg_t = os.path.join(out_dir, "_staging", f"tiles_{drill_tag}")
        stg_l = os.path.join(out_dir, "_staging", f"leaves_{drill_tag}")
        fin_t = os.path.join(out_dir, "tiles", f"level={drill_tag}")
        fin_l = os.path.join(leaves_path, f"level={drill_tag}")
        for p in (stg_t, stg_l, fin_t, fin_l):
            shutil.rmtree(p, ignore_errors=True)
        self._drill_levels(
            out_dir, leaf, (az, ax, ay), (z, x, y), stg_t, stg_l, tile_keys
        )
        # staged + renamed like run()'s level commits; leaves publish FIRST
        # so the tiles rename is the commit point (a crash in between only
        # leaves an orphan leaves dir the entry sweep removes)
        if os.path.isdir(stg_l):
            os.makedirs(leaves_path, exist_ok=True)
            os.rename(stg_l, fin_l)
        if os.path.isdir(stg_t):
            os.makedirs(os.path.join(out_dir, "tiles"), exist_ok=True)
            os.rename(stg_t, fin_t)
        self._invalidate_memos(out_dir)  # new tiles published
        return self.read_tile(out_dir, z, x, y)

    def _drill_levels(
        self, out_dir: str, frontier: DataFrame, root: tuple, target: tuple,
        stg_tiles: str, stg_leaves: str, existing: set,
    ) -> None:
        """Target-directed descent from the ancestor's retained leaves:
        non-path tiles stop and retain (lib.rs:324-338), the path tile
        splits until the target.  The WHOLE descent is ONE feature-
        parallel pass (drill_descend_stage) — drill decisions are purely
        structural, so no per-level driver round-trip exists and the
        former 5-7 sequential level jobs collapse into a single wave;
        stats rows are finished driver-side from the pass's per-tile
        partials.  Tiles already in the store (the re-split ancestor;
        cousins from prior drills) are excluded via a broadcast anti-join
        on ``existing`` — the caller's index-sized tile-key set (one
        stats-row scan, _tile_keys)."""
        from concurrent.futures import ThreadPoolExecutor

        from geojson_vt_rs_spark.operators.pipeline import (
            RS_CAGG,
            RS_LEAF,
            drill_descend_stage,
        )
        from geojson_vt_rs_spark.plans.pyramid import TILED_COLS

        spark = self.spark
        o = self.options
        az, ax, ay = root
        cz, cx, cy = target
        exist_df = F.broadcast(
            spark.createDataFrame(
                [(a, b, c) for a, b, c in existing] or [(-1, -1, -1)],
                "z int, x int, y int",
            )
        )

        # the ancestor's leaf rows may sit in one parquet file; spread
        # them so the descent renders on every core.  The rendered tile
        # features (~85 % of the pass's output rows) sink to the staging
        # parquet IN-KERNEL (drill_descend_stage tile_sink: idempotent
        # per-task files, existing-tile exclusion in-kernel) — they
        # never cross the Python->JVM boundary and need no write job.
        par = spark.sparkContext.defaultParallelism
        step = drill_descend_stage(
            frontier.select(*TILED_COLS).repartition(par), o,
            (az, ax, ay), (cz, cx, cy),
            tile_sink=dict(path=stg_tiles, existing=existing),
        ).persist()

        # one wave: leaf write + partials collection run as concurrent
        # jobs over the cached pass (the tile files appear as a side
        # effect of whichever job computes it first; duplicated
        # concurrent compute re-writes identical files atomically)
        def _write_leaves():
            step.filter(F.col("row_kind") == RS_LEAF).join(
                exist_df, ["z", "x", "y"], "left_anti"
            ).select(*TILED_COLS).write.mode("append").partitionBy(
                "z"
            ).parquet(stg_leaves)

        def _collect_stats():
            return (
                step.filter(F.col("row_kind") == RS_CAGG)
                .select("z", "x", "y", "num_points", "n_emitted")
                .toPandas()
            )

        with ThreadPoolExecutor(2) as ex:
            lf = ex.submit(_write_leaves)
            sf = ex.submit(_collect_stats)
            lf.result()
            partials = sf.result()
        step.unpersist()

        # finish the per-tile (tnp, ns) stats from the partials; then
        # walk the path driver-side to find the memoized-empty children
        # (split children that received no features), matching the level
        # loop's pending_children semantics
        agg: dict = {}
        for r in partials.itertuples(index=False):
            key = (int(r.z), int(r.x), int(r.y))
            old = agg.get(key, (0, 0))
            agg[key] = (old[0] + int(r.num_points), old[1] + int(r.n_emitted))
        stats_rows = [
            (tz, tx, ty, -1, None, None, None, None, None, None, None,
             tnp, ns, "drill", None, None, None, None)
            for (tz, tx, ty), (tnp, ns) in agg.items()
            if (tz, tx, ty) not in existing
        ]
        pz, px, py = az, ax, ay
        while pz < cz and pz < o.max_zoom and agg.get((pz, px, py), (0,))[0] > 0:
            for dx in (0, 1):
                for dy in (0, 1):
                    ch = (pz + 1, 2 * px + dx, 2 * py + dy)
                    if ch not in agg and ch not in existing:
                        stats_rows.append(
                            ch + (-1, None, None, None, None, None, None,
                                  None, 0, 0, "drill", None, None, None, None)
                        )
            m = 1 << (cz - (pz + 1))
            pz, px, py = pz + 1, cx // m, cy // m
        if stats_rows:
            spark.createDataFrame(stats_rows, TILE_STORE_DDL).write.mode(
                "append"
            ).partitionBy("z").parquet(stg_tiles)


def checkpointed_mosaic(
    images_pts: DataFrame,
    zoom: int,
    out_dir: str,
    n_buckets: int = 8,
) -> dict:
    """Raster mosaic sharded into hash buckets of tiles; each bucket is a
    separately-committed unit of progress with row-count lineage."""
    from geojson_vt_rs_spark.plans.spatial import mosaic_tiles

    os.makedirs(out_dir, exist_ok=True)
    done = []
    for b in range(n_buckets):
        name = f"mosaic_bucket_{b}"
        m = _read_manifest(out_dir, name)
        if m is not None:
            done.append(m)
            continue
        t0 = time.time()
        part = images_pts.filter(
            F.pmod(F.col("cx") * 31 + F.col("cy"), F.lit(n_buckets)) == b
        )
        tiles = mosaic_tiles(part, zoom).persist()
        stats = tiles.agg(
            F.count(F.lit(1)).alias("n_tiles"),
            F.coalesce(F.sum("n_images"), F.lit(0)).alias("n_images"),
            F.coalesce(F.sum("src_bytes"), F.lit(0)).alias("src_bytes"),
        ).collect()[0]
        tiles.write.mode("overwrite").parquet(
            os.path.join(out_dir, f"bucket={b}")
        )
        tiles.unpersist()
        m = dict(
            bucket=b,
            n_tiles=int(stats["n_tiles"]),
            n_images=int(stats["n_images"]),
            src_bytes=int(stats["src_bytes"]),
            wall_sec=round(time.time() - t0, 3),
        )
        _write_manifest(out_dir, name, m)
        done.append(m)
    return dict(
        buckets=len(done),
        n_tiles=sum(m["n_tiles"] for m in done),
        n_images=sum(m["n_images"] for m in done),
        manifests=done,
    )
