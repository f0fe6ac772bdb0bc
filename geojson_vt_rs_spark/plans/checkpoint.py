"""Checkpointed, resumable production pipelines.

* CheckpointedPyramid — the distributed tile pyramid as a parquet store.
  The shared level driver (plans/levels.py) builds it into
  ``_StoreSink``: each level's tiles and leaf features are staged and
  published together, and the level's manifest (row counts, the
  children still to record, wall time) is written last.  The next
  level's input (``frontier/level_N``) is written for resume only, so a
  killed build resumes at the first level without a manifest, from that
  frontier, and recomputes no completed level.

* checkpointed_mosaic — the raster mosaic sharded into hash buckets of
  cells; completed buckets are skipped on resume.

Every directory is published through ``StagedCommit`` (write under
``_staging/``, then rename into place), and all content is
deterministic, so a resumed run gives the same outputs as an
uninterrupted one and readers never see a partial unit.
"""

from __future__ import annotations

import json
import os
import shutil
import time
from concurrent.futures import ThreadPoolExecutor
from typing import Optional

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

from geojson_vt_rs_spark.config import Options
from geojson_vt_rs_spark.operators.pipeline import (
    RS_CAGG,
    RS_CHILD,
    RS_LEAF,
    RS_RENDER,
    drill_descend_stage,
)
from geojson_vt_rs_spark.operators.schema import (
    TILE_STORE_DDL,
    TILED_FEATURE_SCHEMA,
)
from geojson_vt_rs_spark.plans.levels import (
    K_LEAF,
    K_STATS,
    K_TILE,
    TILED_COLS,
    build_levels,
    drill_stats,
)


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


class StagedCommit:
    """Stage-and-commit for one unit of store output: a pyramid level,
    a drill, a mosaic bucket.

    ``finals`` maps a table name to the unit's published directory, in
    publish order.  Writers fill ``staging[name]`` (``_staging/<name>_<tag>``
    under ``out_dir``); ``publish()`` renames each staging directory onto
    its final path, and the last rename is the commit point.  Creating
    the object removes the leftovers of an attempt that never committed:
    staging directories, and final directories the caller has no
    completion record for (a level or bucket without its manifest).

    Contract: a directory rename is atomic only within one POSIX volume,
    so ``_staging/`` lives beside the tables and readers see a unit
    complete or not at all.  This does not hold on object stores (S3,
    GCS, ABFS), where a rename is a copy and a delete; there a table
    format commit is needed instead (plans/iceberg_sink.py).
    """

    def __init__(self, out_dir: str, tag: str, finals: dict):
        self.finals = finals
        self.staging = {
            name: os.path.join(out_dir, "_staging", f"{name}_{tag}") for name in finals
        }
        for name, fin in finals.items():
            shutil.rmtree(self.staging[name], ignore_errors=True)
            shutil.rmtree(fin, ignore_errors=True)

    def publish(self) -> None:
        for name, fin in self.finals.items():
            if os.path.isdir(self.staging[name]):
                os.makedirs(os.path.dirname(fin), exist_ok=True)
                os.rename(self.staging[name], fin)


def _staged_counts(path: str) -> tuple:
    """(rows, rows with a null ``type``) of the parquet files under
    ``path``, from their footers: no data is read where the writer kept
    null-count statistics.  In a tiles table the null-type rows are the
    per-tile stats rows and the rest are tile features."""
    import pyarrow.parquet as pq

    rows = nulls = 0
    for root, _dirs, files in os.walk(path):
        for fn in files:
            if fn.startswith((".", "_")):
                continue
            pf = pq.ParquetFile(os.path.join(root, fn))
            md = pf.metadata
            rows += md.num_rows
            if "type" not in md.schema.names:
                continue
            col = md.schema.names.index("type")
            for rg in range(md.num_row_groups):
                st = md.row_group(rg).column(col).statistics
                if st is not None and st.has_null_count:
                    nulls += st.null_count
                else:
                    col_t = pf.read_row_group(rg, columns=["type"]).column(0)
                    nulls += col_t.null_count
    return rows, nulls


def _stats_row(z, x, y, tnp, ns, action) -> tuple:
    """A TILE_STORE_DDL stats row: one per tile, feature_idx == -1."""
    return (z, x, y, -1, None, None, None, None, None, None, None,
            tnp, ns, action, None, None, None, None)


class CheckpointedPyramid:
    """Distributed pyramid with per-level parquet checkpoints.

    Layout under ``out_dir``:
      tiles/level=*/z=*/   rendered tile rows plus one stats row per tile
                           (feature_idx == -1)
      leaves/level=*/z=*/  retained leaf source features (drill-down input)
      frontier/level_N/    the N-th level's input features (resume point)
      _manifests/level_N.json  lineage: row counts per kind, wall time

    ``level`` is ``L<N>`` for a build level and ``drill_<z>_<x>_<y>`` for
    a drill.  Writes are EXACTLY-ONCE per level and per drill: every
    write lands in ``_staging/`` first and ``StagedCommit`` publishes it,
    and a level's manifest is written last.  On resume, staging leftovers
    and published level dirs without a manifest are removed before the
    level recomputes (deterministic content), so readers never see
    duplicates and need no dedupe.  With ``iceberg=True`` (optional
    pyiceberg) a snapshot commit subsumes the JSON manifest as the commit
    point (plans/iceberg_sink.py).

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
        """Build (or resume) the store of ``features_df`` under
        ``out_dir`` and return ``summary(out_dir)``.  ``raw_npts``, the
        input's raw point sum, saves the one JVM sum that routes the
        first level when given."""
        os.makedirs(out_dir, exist_ok=True)
        _sweep_drill_orphans(out_dir)
        build_levels(
            self.spark, self.options, features_df, _StoreSink(self, out_dir), raw_npts
        )
        return self.summary(out_dir)

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
        for root in path:
            if root in leaf_set:
                break
            if root in tile_keys:
                # memoized but feature-less ancestor -> EMPTY
                return self.read_tile(out_dir, z, x, y)
        else:
            return self.read_tile(out_dir, z, x, y)
        leaf = self.spark.read.parquet(leaves_path).filter(
            (F.col("z") == root[0]) & (F.col("x") == root[1]) & (F.col("y") == root[2])
        )
        drill_tag = f"drill_{z}_{x}_{y}"
        # leaves publish FIRST so the tiles rename is the commit point (a
        # crash in between only leaves an orphan leaves dir the entry
        # sweep removes)
        commit = StagedCommit(out_dir, drill_tag, {
            "leaves": os.path.join(leaves_path, f"level={drill_tag}"),
            "tiles": os.path.join(out_dir, "tiles", f"level={drill_tag}"),
        })
        self._drill(leaf, root, (z, x, y), commit.staging, tile_keys)
        commit.publish()
        self._invalidate_memos(out_dir)  # new tiles published
        return self.read_tile(out_dir, z, x, y)

    def _drill(
        self, frontier: DataFrame, root: tuple, target: tuple,
        staging: dict, existing: set,
    ) -> None:
        """Target-directed descent from the ancestor's retained leaves:
        non-path tiles stop and retain (lib.rs:324-338), the path tile
        splits until the target.  The WHOLE descent is ONE feature-
        parallel pass (drill_descend_stage): drill decisions are purely
        structural, so no per-level driver round-trip exists.  Rendered
        tile features (~85 % of the pass's rows) are written to staging
        from the tasks themselves (the stage's tile sink); retained
        leaves are written by one Spark job and the per-tile stats rows
        are finished on the driver from the pass's partials.  Tiles
        already in the store (``existing``: the re-split ancestor,
        cousins of earlier drills) are left out of all three."""
        spark = self.spark
        exist_df = F.broadcast(
            spark.createDataFrame(
                [(a, b, c) for a, b, c in existing] or [(-1, -1, -1)],
                "z int, x int, y int",
            )
        )
        # the ancestor's leaf rows may sit in one parquet file; spread
        # them so the descent renders on every core
        par = spark.sparkContext.defaultParallelism
        step = drill_descend_stage(
            frontier.select(*TILED_COLS).repartition(par), self.options,
            root, target,
            tile_sink=dict(path=staging["tiles"], existing=existing),
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
            ).parquet(staging["leaves"])

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
        stats_rows = [
            _stats_row(*t, "drill")
            for t in drill_stats(
                partials, root, target, existing, self.options.max_zoom
            )
        ]
        if stats_rows:
            spark.createDataFrame(stats_rows, TILE_STORE_DDL).write.mode(
                "append"
            ).partitionBy("z").parquet(staging["tiles"])


class _StoreSink:
    """Level-driver sink of CheckpointedPyramid: a level's rows go to
    parquet in staging from Spark jobs (render rows never reach the
    driver), the level publishes through ``StagedCommit`` and its
    manifest is written last; ``resume`` starts at the first level
    without a manifest."""

    def __init__(self, cp: CheckpointedPyramid, out_dir: str):
        self.cp = cp
        self.out = out_dir

    def _frontier_dir(self, level: int) -> str:
        return os.path.join(self.out, "frontier", f"level_{level}")

    def resume(self):
        level = 0
        while self.cp._get_manifest(self.out, f"level_{level}") is not None:
            level += 1
        if level == 0:
            return 0, None, []
        m = self.cp._get_manifest(self.out, f"level_{level - 1}")
        pending = [tuple(c) for c in m.get("pending_children", [])]
        if m["n_children"]:
            frontier = self.cp.spark.read.parquet(self._frontier_dir(level))
            return level, frontier, pending
        if pending:
            # all children were empty: one recording turn remains
            empty = self.cp.spark.createDataFrame([], TILED_FEATURE_SCHEMA)
            return level, empty, pending
        return None  # complete

    def begin(self, level: int) -> None:
        self.level = level
        self.t0, self.tick0 = time.time(), _cpu_ticks()
        self.staged = StagedCommit(self.out, f"level_{level}", {
            "tiles": os.path.join(self.out, "tiles", f"level=L{level}"),
            "leaves": os.path.join(self.out, "leaves", f"level=L{level}"),
        })
        self.stg = self.staged.staging

    def _append(self, df: DataFrame, table: str) -> None:
        df.write.mode("append").partitionBy("z").parquet(self.stg[table])

    def wave(self, render, fused, leaves, split: bool):
        ns, cagg, n_fused = {}, None, 0
        if render is not None:
            # the heavy write first: it materializes the checkpointed wave
            # (and the decided frontier) for the jobs after it.  Stored
            # feature rows keep their order keys; read_tile ranks them
            # per tile, because ranking here funnels a level through one
            # task per tile (54 s of a 76 s 1M-point build at z0)
            rend = render.filter(F.col("row_kind") == RS_RENDER)
            self._append(rend.filter(F.col("sub_idx") >= 0).select(
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
            ), "tiles")

            # then concurrent jobs over the cached wave: per-tile render
            # counters, the next level's partials, the children for resume
            def _collect_ns():
                return rend.groupBy("z", "x", "y").agg(
                    F.sum("n_emitted").alias("ns")
                ).toPandas()

            def _collect_cagg():
                return render.filter(F.col("row_kind") == RS_CAGG).select(
                    "z", "x", "y", "num_points", "n_emitted", "sub_idx"
                ).toPandas()

            def _write_children():
                render.filter(F.col("row_kind") == RS_CHILD).select(
                    *TILED_COLS
                ).write.mode("overwrite").parquet(
                    self._frontier_dir(self.level + 1)
                )

            with ThreadPoolExecutor(3) as ex:
                ns_f = ex.submit(_collect_ns)
                cagg_f = ex.submit(_collect_cagg) if split else None
                ch_f = ex.submit(_write_children) if split else None
                ns = {
                    (int(r.z), int(r.x), int(r.y)): int(r.ns)
                    for r in ns_f.result().itertuples(index=False)
                }
                cagg = cagg_f.result() if cagg_f is not None else None
                if ch_f is not None:
                    ch_f.result()
        if fused is not None:
            n_fused = self._fused(fused)
        if leaves is not None:
            self.leaves(leaves)
        return ns, cagg, n_fused

    def _fused(self, fused: DataFrame) -> int:
        """Stage the fused subtrees' tiles and leaves; return the number
        of tiles they made."""
        step = fused.persist()  # two writes read it
        before = _staged_counts(self.stg["tiles"])[1]
        is_tile = F.col("row_kind") == K_TILE
        tiles = step.filter(F.col("row_kind").isin(K_TILE, K_STATS))
        self._append(tiles.select(
            "z", "x", "y",
            # keep only the -1 stats marker; feature rows get the order
            # keys (0, kernel_idx, '', 0), whose read-time rank over
            # (world_copy, feature_seq, slice_path, sub_idx) reproduces
            # the kernel's order exactly
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
        ), "tiles")
        self._append(
            step.filter(F.col("row_kind") == K_LEAF).select(*TILED_COLS), "leaves"
        )
        step.unpersist()
        return _staged_counts(self.stg["tiles"])[1] - before

    def leaves(self, df: DataFrame) -> None:
        self._append(df, "leaves")

    def drop_children(self) -> None:
        shutil.rmtree(self._frontier_dir(self.level + 1), ignore_errors=True)

    def tiles(self, stats) -> None:
        if stats:
            rows = [_stats_row(*t) for t in stats]
            self._append(
                self.cp.spark.createDataFrame(rows, TILE_STORE_DDL), "tiles"
            )

    def commit(self, pending_children, n_children: int) -> None:
        # row counts of what was staged, from the parquet footers
        rows, n_tiles = _staged_counts(self.stg["tiles"])
        n_leaf = _staged_counts(self.stg["leaves"])[0]
        self.staged.publish()
        fin = self.staged.finals
        self.cp._commit_manifest(
            self.out, f"level_{self.level}",
            dict(
                level=self.level,
                n_tiles=n_tiles,
                n_tile_feature_rows=rows - n_tiles,
                n_leaf_feature_rows=n_leaf,
                n_children=n_children,
                pending_children=pending_children,
                wall_sec=round(time.time() - self.t0, 3),
                steal_frac=_steal_frac(self.tick0, _cpu_ticks()),
            ),
            fin["tiles"], fin["leaves"],
        )


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
        commit = StagedCommit(
            out_dir, name, {"mosaic": os.path.join(out_dir, f"bucket={b}")}
        )
        tiles.write.parquet(commit.staging["mosaic"])
        tiles.unpersist()
        commit.publish()
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
