"""The distributed in-memory tile index: SparkGeoJSONVT.

The first-pass index is built by the shared level driver
(plans/levels.py) into ``_IndexSink``, which collects each level's
output to the driver in one concurrent wave: rendered tiles are
registered lazily (``SparkTile`` parses its rows on first access) and
leaf tiles keep their retained source features in ``leaf_features``,
the reference's source_features (lib.rs:311,324,335).

A ``get_tile`` miss drills from the nearest memoized ancestor's retained
features (lib.rs:184-245) in one feature-parallel pass
(``drill_descend_stage``); the ancestor drops its features once it has
split (lib.rs:430-433).  Tiles created empty along the way count in
``stats`` and ``total``, as in the reference (tests.rs:430).

Inputs below ``LOCAL_THRESHOLD_POINTS`` run the core tiler on the driver
instead, unless the caller passes ``prefer_local=False``.  The parquet
variant with checkpoint manifests is plans/checkpoint.py.
"""

from __future__ import annotations

import json
from concurrent.futures import ThreadPoolExecutor
from typing import Dict, Optional

import pandas as pd
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from geojson_vt_rs_spark.config import Options
from geojson_vt_rs_spark.core.tiler import to_id
from geojson_vt_rs_spark.operators.pipeline import (
    RS_CAGG,
    RS_LEAF,
    RS_RENDER,
    drill_descend_stage,
)
from geojson_vt_rs_spark.operators.schema import (
    TILED_FEATURE_SCHEMA,
    create_feature_df,
    pdf_to_features,
)
from geojson_vt_rs_spark.plans.levels import (
    K_LEAF,
    K_STATS,
    K_TILE,
    TILED_COLS,
    build_levels,
    drill_stats,
)


class SparkTile:
    """One memoized tile.  ``features`` (canonical tile-feature dicts)
    is LAZY when built from collected render rows: the driver keeps the
    raw rows and defers the per-row JSON parse to first access — a
    1M-point build touches millions of rows but a typical consumer reads
    a handful of tiles, so eager parsing was the dominant driver-side
    cost per level."""

    __slots__ = ("z", "x", "y", "num_points", "num_simplified",
                 "_features", "_lazy")

    def __init__(self, z, x, y, features, num_points, num_simplified,
                 lazy=None):
        self.z = z
        self.x = x
        self.y = y
        self._features = features  # list, or None when lazy
        self._lazy = lazy  # (pdf, parser) when _features is None
        self.num_points = num_points
        self.num_simplified = num_simplified

    @property
    def features(self):
        if self._features is None:
            pdf, parser = self._lazy
            self._features = parser(pdf)
            self._lazy = None
        return self._features


EMPTY_TILE = SparkTile(0, 0, 0, [], 0, 0)

# the render-row columns the index keeps per tile (plus RS_CAGG partials)
_REND_COLS = [
    "row_kind", "z", "x", "y", "world_copy", "feature_seq", "slice_path",
    "sub_idx", "type", "kind", "geometry_json", "tags_json",
    "id_str", "id_num", "id_float", "n_emitted", "num_points",
]


class SparkGeoJSONVT:
    """Tile index built by Spark jobs; memoized tiles + leaf features.

    ``features_df`` must be a raw lon/lat features DataFrame
    (FEATURE_SCHEMA, see operators.pipeline.read_geojson_features).
    """

    # inputs below this many raw points run the core tiler on the driver
    # outright (adaptive local execution — the distributed loop's fixed
    # per-level cost only pays off on big frontiers); results identical
    LOCAL_THRESHOLD_POINTS = 1_000_000

    def __init__(
        self,
        spark: SparkSession,
        features_df: DataFrame,
        options: Optional[Options] = None,
        prefer_local: Optional[bool] = None,
    ):
        self.spark = spark
        self.options = options or Options()
        self.tiles: Dict[int, SparkTile] = {}
        self.leaf_features: Dict[int, pd.DataFrame] = {}
        self.stats: Dict[int, int] = {}
        self.total = 0
        self._local = None

        # raw JVM sum over the input (no Python kernels): picks local
        # execution, and the level driver reuses it to route the root
        npts = None
        if prefer_local is None:
            npts = features_df.agg(F.sum("num_points")).collect()[0][0] or 0
            prefer_local = npts <= self.LOCAL_THRESHOLD_POINTS
        if prefer_local:
            self._init_local(features_df)
            return
        build_levels(spark, self.options, features_df, _IndexSink(self), npts)

    # ------------------------------------------------------------------
    def _init_local(self, features_df: DataFrame) -> None:
        """Adaptive local execution: collect the (small) input and run the
        core tiler on the driver; the public surface stays identical."""
        from geojson_vt_rs_spark.core.tiler import GeoJSONVT as CoreTiler

        feats = list(pdf_to_features(features_df.toPandas()))
        feats.sort(key=lambda f: f.feature_seq)
        self._local = CoreTiler(feats, self.options)
        self._sync_local()

    def _sync_local(self) -> None:
        lt = self._local
        self.stats = dict(lt.stats)
        self.total = lt.total
        for tid, it in lt.tiles.items():
            em = it.emitter
            self.tiles[tid] = SparkTile(
                em.z, em.x, em.y, em.features, em.num_points, em.num_simplified
            )

    # ------------------------------------------------------------------
    def _register(self, z: int, x: int, y: int, np_: int, ns: int,
                  rows: Optional[pd.DataFrame] = None, parser=None):
        """Memoize a new tile (a known key is left as it is); its features
        are parsed from ``rows`` on first access, or empty without."""
        tid = to_id(z, x, y)
        if tid in self.tiles:
            return
        if rows is None:
            self.tiles[tid] = SparkTile(z, x, y, [], np_, ns)
        else:
            self.tiles[tid] = SparkTile(
                z, x, y, None, np_, ns, lazy=(rows, parser)
            )
        self.stats[z] = self.stats.get(z, 0) + 1
        self.total += 1

    def _retain(self, leaf_rows: pd.DataFrame, skip=frozenset()) -> None:
        """Leaf tiles keep their source features (lib.rs:311,324,335)."""
        for (z, x, y), grp in leaf_rows.groupby(["z", "x", "y"], sort=False):
            key = (int(z), int(x), int(y))
            if key not in skip:
                self.leaf_features[to_id(*key)] = grp[TILED_COLS].reset_index(
                    drop=True
                )

    # ------------------------------------------------------------------
    def find_parent(self, z, x, y):
        while z != 0:
            z -= 1
            x //= 2
            y //= 2
            tid = to_id(z, x, y)
            if tid in self.tiles:
                return z, x, y
        return None

    def get_tile(self, z: int, x_: int, y: int) -> SparkTile:
        o = self.options
        if z > o.max_zoom:
            raise ValueError(f"Requested zoom higher than maxZoom: {z}")
        z2 = 1 << z
        x = ((x_ % z2) + z2) % z2
        tid = to_id(z, x, y)
        if self._local is not None:
            self._local.get_tile(z, x, y)
            self._sync_local()
            if tid in self.tiles:
                return self.tiles[tid]
            return EMPTY_TILE
        if tid in self.tiles:
            return self.tiles[tid]
        parent = self.find_parent(z, x, y)
        if parent is None:
            raise LookupError("Parent tile not found")
        leaf = self.leaf_features.get(to_id(*parent))
        if leaf is not None and not leaf.empty:
            self._drill(leaf, parent, (z, x, y))
        # a feature-less ancestor creates nothing new (split_tile(parent,
        # empty)), so the tile may still be missing
        return self.tiles.get(tid, EMPTY_TILE)

    def _drill(self, leaf: pd.DataFrame, root: tuple, target: tuple) -> None:
        """One feature-parallel pass from ``root``'s retained features to
        ``target`` (drill_descend_stage), collected in one job: render
        rows, retained leaves and per-tile partials.  Tiles already in
        the memo (the re-split ancestor) keep their entries."""
        existing = {(t.z, t.x, t.y) for t in self.tiles.values()}
        frontier = create_feature_df(self.spark, leaf[TILED_COLS], TILED_FEATURE_SCHEMA)
        rows = drill_descend_stage(frontier, self.options, root, target).toPandas()
        kind = rows["row_kind"]
        groups = dict(list(
            rows[kind == RS_RENDER].groupby(["z", "x", "y"], sort=False)
        ))
        for z, x, y, tnp, ns in drill_stats(
            rows[kind == RS_CAGG], root, target, existing, self.options.max_zoom
        ):
            self._register(z, x, y, tnp, ns, groups.get((z, x, y)),
                           _render_group_to_features)
        self._retain(rows[kind == RS_LEAF], skip=existing)
        self.leaf_features.pop(to_id(*root), None)  # sliced (lib.rs:430-433)

    def get_internal_tiles(self):
        return self.tiles


class _IndexSink:
    """Level-driver sink of SparkGeoJSONVT: each level's render rows,
    fused subtrees and leaf features are collected to the driver by
    concurrent jobs (one wave per level) and memoized in the index."""

    def __init__(self, index: SparkGeoJSONVT):
        self.index = index
        self.groups: dict = {}  # (z, x, y) -> the level's render rows

    def resume(self):
        return 0, None, []

    def begin(self, level: int) -> None:
        self.groups = {}

    def wave(self, render, fused, leaves, split: bool):
        # independent Spark actions: the level pays one job latency, not
        # three; the RS_CAGG partials ride along with the render rows
        if render is not None:
            render = render.filter(
                F.col("row_kind").isin(RS_RENDER, RS_CAGG)
            ).select(*_REND_COLS)
        if fused is not None:
            fused = fused.filter(F.col("row_kind").isin(K_TILE, K_STATS, K_LEAF))
        with ThreadPoolExecutor(3) as ex:
            jobs = [
                None if df is None else ex.submit(df.toPandas)
                for df in (render, fused, leaves)
            ]
            got = [None if job is None else job.result() for job in jobs]
        merged, meta, leaf_rows = got
        ns, cagg, n_fused = {}, None, 0
        if merged is not None:
            is_cagg = (merged["row_kind"] == RS_CAGG).to_numpy()
            cagg = merged.loc[is_cagg]
            self.groups = dict(list(
                merged.loc[~is_cagg].groupby(["z", "x", "y"], sort=False)
            ))
            ns = {k: int(g["n_emitted"].sum()) for k, g in self.groups.items()}
        if meta is not None:
            tiles = meta[meta.row_kind.isin([K_TILE, K_STATS])]
            for (z, x, y), grp in tiles.groupby(["z", "x", "y"], sort=False):
                st = grp[grp.row_kind == K_STATS].iloc[0]
                self.index._register(
                    int(z), int(x), int(y), int(st["tile_num_points"]),
                    int(st["tile_num_simplified"]), grp, _fused_group_to_features,
                )
                n_fused += 1
            self.index._retain(meta[meta.row_kind == K_LEAF])
        if leaf_rows is not None:
            self.index._retain(leaf_rows)
        return ns, cagg, n_fused

    def leaves(self, df: DataFrame) -> None:
        self.index._retain(df.toPandas())

    def drop_children(self) -> None:
        pass  # the index never holds a level's children

    def tiles(self, stats) -> None:
        for z, x, y, tnp, ns, _action in stats:
            self.index._register(z, x, y, tnp, ns, self.groups.get((z, x, y)),
                                 _render_group_to_features)

    def commit(self, pending_children, n_children: int) -> None:
        pass  # registered as it arrives


def _render_group_to_features(grp: pd.DataFrame) -> list:
    """One tile's collected render rows -> ordered canonical features
    (the deferred half of _register's lazy payload)."""
    sub = grp[grp["sub_idx"] >= 0].sort_values(
        ["world_copy", "feature_seq", "slice_path", "sub_idx"],
        kind="stable",
    )
    return _parse_features(sub, "id_")


def _fused_group_to_features(grp: pd.DataFrame) -> list:
    sub = grp[grp.row_kind == K_TILE].sort_values("feature_idx")
    return _parse_features(sub, "tile_id_")


def _parse_features(sub: pd.DataFrame, ids: str) -> list:
    """Tile-feature rows (already sorted) -> canonical tile features; the
    feature id columns are ``<ids>str``, ``<ids>num`` and ``<ids>float``."""
    feats = []
    for r in sub.to_dict("records"):
        id_str, id_num, id_float = (r[ids + k] for k in ("str", "num", "float"))
        feats.append(
            dict(
                type=int(r["type"]),
                kind=int(r["kind"]),
                geometry=json.loads(r["geometry_json"]),
                tags=None if r["tags_json"] is None else json.loads(r["tags_json"]),
                id_str=id_str if isinstance(id_str, str) else None,
                id_num=int(id_num) if pd.notna(id_num) else None,
                id_float=float(id_float) if pd.notna(id_float) else None,
            )
        )
    return feats
