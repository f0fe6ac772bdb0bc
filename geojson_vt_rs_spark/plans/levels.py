"""The pyramid build's level driver, shared by the in-memory index
(plans/pyramid.py) and the parquet tile store (plans/checkpoint.py).

The reference builds its index with one recursive split_tile
(lib.rs:251-434).  Its stop conditions are per tile, so a breadth-first
walk visits the same tiles and every tile sees the same features (clip
bands depend on (z, x, y) only).  ``build_levels`` runs that walk as one
loop turn per zoom level:

1. the per-tile point sums of the level (the only state the stop rule
   needs, lib.rs:305-313) come from the previous level's in-wave RS_CAGG
   partials, or from one JVM aggregate on a resumed level;
2. the driver decides every tile: leaf (stop and retain), split, or
   fuse (a small split tile whose whole subtree runs in one task);
3. one wave renders the level's tiles and clips split children per row
   (mapInPandas), runs the fused subtrees as bounded groups, and reads
   the leaves' retained features.

The first level needs no aggregate: the raw input point sum routes the
root either into one fused task (small inputs) or into an optimistic
split whose decision finishes from parent partials emitted in the same
wave.  Tiles created empty (children of a split that got no features)
count in ``total`` like the reference's (tests.rs:430).

The driver owns every decision.  A sink owns every output; it is given
lazy DataFrames and decides where their rows go and which Spark jobs
run, in this order per level::

    resume() -> (level, frontier, pending_children) | None
    begin(level)
    wave(render, fused, leaves, split) -> (ns, cagg, n_fused)
    leaves(df)            # the root's features, if it was really a leaf
    drop_children()       # the wave's children, if the root was not split
    tiles(stats)          # [(z, x, y, num_points, num_simplified, action)]
    commit(pending_children, n_children)

``render`` holds RS_RENDER/RS_CHILD/RS_CAGG rows, ``fused`` STEP_SCHEMA
rows and ``leaves`` TILED rows; ``ns`` maps a rendered tile to its
num_simplified and ``n_fused`` counts the tiles the fused rows made.
"""

from __future__ import annotations

import json

import pandas as pd
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

from geojson_vt_rs_spark.config import Options
from geojson_vt_rs_spark.operators.pipeline import (
    RS_CHILD,
    _convert_wrap_kernel,
    convert_wrap_render_split_stage,
    convert_wrap_stage,
    render_split_stage,
)
from geojson_vt_rs_spark.operators.schema import (
    FEATURE_FIELDS,
    TILED_FEATURE_SCHEMA,
    feature_to_row,
    local_relation_df,
    pdf_to_features,
)

TILED_COLS = [f.name for f in TILED_FEATURE_SCHEMA.fields]

# row_kind values of the fused subtree kernel's output
K_TILE = 0  # rendered tile feature row
K_STATS = 1  # per-tile stats row (always present)
K_LEAF = 2  # retained source feature of a stopped tile

STEP_SCHEMA = T.StructType(
    [
        T.StructField("row_kind", T.IntegerType(), False),
        T.StructField("z", T.IntegerType(), False),
        T.StructField("x", T.IntegerType(), False),
        T.StructField("y", T.IntegerType(), False),
        # rendered tile rows
        T.StructField("feature_idx", T.IntegerType()),
        T.StructField("type", T.IntegerType()),
        T.StructField("kind", T.IntegerType()),
        T.StructField("geometry_json", T.StringType()),
        T.StructField("tags_json", T.StringType()),
        T.StructField("tile_id_str", T.StringType()),
        T.StructField("tile_id_num", T.LongType()),
        T.StructField("tile_id_float", T.DoubleType()),
        T.StructField("tile_num_points", T.IntegerType()),
        T.StructField("tile_num_simplified", T.IntegerType()),
        T.StructField("action", T.StringType()),  # on stats rows
    ]
    + FEATURE_FIELDS
)

STEP_COLS = [f.name for f in STEP_SCHEMA.fields]
_NULLS = dict.fromkeys(STEP_COLS)
# the RS_CAGG partial columns a sink returns from a level's wave
_CAGG_COLS = ["z", "x", "y", "num_points", "n_emitted", "sub_idx"]

# decisions tables above this row count fall back to createDataFrame
# (bounded VALUES plan text; below it the LocalRelation needs no job)
_VALUES_DDF_MAX = 4096


def decisions_df(spark: SparkSession, decisions) -> DataFrame:
    """(z, x, y, action) rows as a LocalRelation-backed DataFrame.

    ``spark.createDataFrame(list)`` parallelizes into defaultParallelism
    slices, so BROADCASTING the index-sized decisions table ran a 32-task
    Python-roundtrip job per pyramid level (event-log: 0.3-1.3 s/level).
    A literal VALUES scan is a LocalTableScan: the broadcast materializes
    driver-side with NO job.  Falls back to createDataFrame for huge
    decision tables (bounded plan text)."""
    return local_relation_df(
        spark, list(decisions), "z int, x int, y int, action string",
        max_rows=_VALUES_DDF_MAX,
    )


def fuse_bound(options: Options) -> int:
    """Max num_points for which a split tile's WHOLE subtree runs in one
    task.  Serial subtree work ~ tnp * depth, and depth grows while
    children stay above index_max_points, so the bound is
    max(index_max_points, 8192), capped by ``fuse_max_points``."""
    return min(options.fuse_max_points, max(options.index_max_points, 8192))


def decide(options: Options, z: int, tnp: int) -> str:
    """The build's stop rule (lib.rs:305-313): 'leaf' (stop and retain)
    at index_max_zoom or at most index_max_points, else 'split' — or
    'fuse' when the whole subtree fits one task."""
    if z == options.index_max_zoom or tnp <= options.index_max_points:
        return "leaf"
    return "fuse" if tnp <= fuse_bound(options) else "split"


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


def _subtree_kernel(options: Options):
    """Group kernel for a tile routed to 'fuse': the core tiler's
    recursion over the group's features, rooted at the group key, in one
    task.  Emits K_TILE and K_STATS rows for every tile of the subtree
    and K_LEAF rows for the features each stopped tile retains."""

    def run(key, pdf: pd.DataFrame) -> pd.DataFrame:
        from geojson_vt_rs_spark.core.tiler import GeoJSONVT as CoreTiler

        ordered = pdf.sort_values(
            ["world_copy", "feature_seq", "slice_path"], kind="stable"
        )
        feats = list(pdf_to_features(ordered[TILED_COLS[3:]]))
        rows: list = []
        sub = CoreTiler.subtree(feats, options, *(int(k) for k in key))
        for it in sub.tiles.values():
            em = it.emitter
            tile = dict(_NULLS, z=em.z, x=em.x, y=em.y)
            for idx, tf in enumerate(em.features):
                rows.append(dict(
                    tile,
                    row_kind=K_TILE,
                    feature_idx=idx,
                    type=tf["type"],
                    kind=tf["kind"],
                    geometry_json=json.dumps(tf["geometry"], separators=(",", ":")),
                    tags_json=(
                        None if tf["tags"] is None
                        else json.dumps(tf["tags"], separators=(",", ":"))
                    ),
                    tile_id_str=tf["id_str"],
                    tile_id_num=tf["id_num"],
                    tile_id_float=tf["id_float"],
                ))
            rows.append(dict(
                tile,
                row_kind=K_STATS,
                feature_idx=-1,
                tile_num_points=em.num_points,
                tile_num_simplified=em.num_simplified,
                action="leaf" if it.source_features else "stop",
            ))
            for f in it.source_features:
                rows.append(dict(tile, **feature_to_row(f), row_kind=K_LEAF))
        return pd.DataFrame(rows, columns=STEP_COLS)

    return run


def _fuse_wave_kernel(cw_kernel, group_kernel, key):
    """Raw feature batches -> convert+wrap -> the (key, pdf) subtree
    group kernel, all inside ONE mapInPandas invocation (the raw-gated
    fuse build).  The group kernel sorts its rows itself, so batch order
    is irrelevant; the group key's (z, x, y) never appear as columns."""

    def run(batches):
        pdfs = [p for p in cw_kernel(batches) if len(p)]
        if not pdfs:
            return
        pdf = pd.concat(pdfs, ignore_index=True) if len(pdfs) > 1 else pdfs[0]
        yield group_kernel(key, pdf)

    return run


def build_levels(
    spark: SparkSession, options: Options, features_df: DataFrame, sink,
    raw_npts: int | None = None,
) -> None:
    """Build the first-pass index of ``features_df`` (raw lon/lat,
    FEATURE_SCHEMA) level by level into ``sink``, from the level the sink
    resumes at.  ``raw_npts``, the input's raw point sum, saves the one
    JVM sum that routes the first level when given."""
    o = options
    state = sink.resume()
    if state is None:
        return
    level, frontier, pending = state
    # first-level route: 'fuse' (one task builds everything) or
    # 'optimistic' (render and split the root, decide afterwards); a
    # resumed level is decided from its frontier instead
    first = None
    if level == 0:
        if raw_npts is None:
            raw_npts = int(features_df.agg(F.sum("num_points")).collect()[0][0] or 0)
        cw_args = (
            (o.tile.tolerance / o.tile.extent) / (1 << o.max_zoom),
            o.generate_id,
            o.tile.buffer / o.tile.extent,
            o.tile.line_metrics,
        )
        if raw_npts <= fuse_bound(o):
            # the whole build in one task: convert+wrap chained into the
            # subtree kernel over ONE coalesced input partition (converted
            # tnp <= 3*raw: wrap at most triples dateline-straddling
            # features, so the task stays within ~3x the fuse budget)
            first = "fuse"
            first_wave = features_df.coalesce(1).mapInPandas(
                _fuse_wave_kernel(
                    _convert_wrap_kernel(*cw_args), _subtree_kernel(o), (0, 0, 0)
                ),
                schema=STEP_SCHEMA,
            )
            decisions = [(0, 0, 0, "fuse", raw_npts)]
        else:
            # convert+wrap+render+split in one Arrow pass over the raw
            # input; `frontier` stays the mispredicted-leaf source
            first = "optimistic"
            first_wave = convert_wrap_render_split_stage(
                features_df, *cw_args, options=o
            )
            frontier = convert_wrap_stage(features_df, *cw_args).select(
                F.lit(0).alias("z"), F.lit(0).alias("x"), F.lit(0).alias("y"), "*"
            )
            decisions = [(0, 0, 0, "split", None)]
    # next level's per-tile point sums, finished from this level's RS_CAGG
    # partials: only a resumed level pays a separate aggregate job
    next_np = None
    prev = None  # previous level's checkpointed wave, read by `frontier`
    while True:
        sink.begin(level)
        fr = None
        empties = []
        if first is None:
            if next_np is None:
                # the only frontier with two readers (this aggregate and
                # the level's wave); everywhere else it is read once and
                # caching it only adds peak memory (a 4M-point build
                # OOM'd an 8g heap holding four copies of one level)
                frontier = frontier.persist()
                next_np = (
                    frontier.groupBy("z", "x", "y")
                    .agg(F.sum("num_points").alias("tnp"))
                    .toPandas()
                )
            decisions = [
                (z, x, y, decide(o, z, tnp), tnp)
                for z, x, y, tnp in (
                    (int(r.z), int(r.x), int(r.y), int(r.tnp))
                    for r in next_np.itertuples(index=False)
                )
            ]
            # children of the previous level's split parents that got no
            # features: memoized empty tiles (lib.rs:344-428)
            observed = {d[:3] for d in decisions}
            empties = [(*ck, 0, 0, "empty") for ck in pending if ck not in observed]
            actions = {d[3] for d in decisions}
            fr = frontier.join(
                F.broadcast(decisions_df(spark, [d[:4] for d in decisions])),
                ["z", "x", "y"],
            )
            has_fuse, has_leaf = "fuse" in actions, "leaf" in actions
            has_render = bool(actions - {"fuse"})
            if has_render + has_fuse + has_leaf >= 2:
                fr = fr.persist()
            render = (
                render_split_stage(fr.filter(F.col("action") != "fuse"), o)
                if has_render else None
            )
            fused = (
                fr.filter(F.col("action") == "fuse").drop("action")
                .groupBy("z", "x", "y")
                .applyInPandas(_subtree_kernel(o), schema=STEP_SCHEMA)
                if has_fuse else None
            )
            leaves = (
                fr.filter(F.col("action") == "leaf").select(*TILED_COLS)
                if has_leaf else None
            )
        else:
            render = first_wave if first == "optimistic" else None
            fused = first_wave if first == "fuse" else None
            leaves = None
        if render is not None:
            # truncate the per-level lineage: without it each level's plan
            # embeds every previous level's and analysis cost compounds
            render = render.localCheckpoint(eager=False)
        split = [d[:3] for d in decisions if d[3] == "split"]
        ns, cagg, n_fused = sink.wave(render, fused, leaves, bool(split))
        if cagg is None:
            cagg = pd.DataFrame(columns=_CAGG_COLS)
        if prev is not None:
            prev.unpersist()
            prev = None

        if first is not None:
            if first == "optimistic":
                # finish the root decision from the wave's own parent
                # partials (sub_idx == -1 RS_CAGG rows)
                pm = (cagg["sub_idx"] == -1).to_numpy()
                seen, tnp_root = bool(pm.any()), int(cagg.loc[pm, "num_points"].sum())
                cagg = cagg.loc[~pm]
            else:
                seen = n_fused > 0
            if not seen:
                # empty (or fully-dropped) input: the root tile still
                # exists (lib.rs:265-295)
                sink.drop_children()
                decisions, split, empties = [], [], [(0, 0, 0, 0, 0, "empty")]
            elif first == "optimistic":
                action = decide(o, 0, tnp_root)
                if action == "fuse":
                    action = "split"  # the wave has split it already
                decisions = [(0, 0, 0, action, tnp_root)]
                if action == "leaf":
                    # mispredicted: the root is really a leaf — keep its
                    # render rows, retain its source features from the
                    # (recomputed) frontier, drop the child clips
                    sink.leaves(frontier.select(*TILED_COLS))
                    sink.drop_children()
                    split = []
            first = None
        if frontier is not None:
            frontier.unpersist()
        if fr is not None:
            fr.unpersist()

        sink.tiles(empties + [
            (z, x, y, tnp, ns.get((z, x, y), 0), a)
            for z, x, y, a, tnp in decisions if a != "fuse"
        ])
        cagg = cagg if split else cagg.iloc[:0]
        n_children = int(cagg["n_emitted"].sum())
        next_np = (
            cagg.groupby(["z", "x", "y"], as_index=False)["num_points"].sum()
            .rename(columns={"num_points": "tnp"})
        )
        pending = [
            (z + 1, 2 * x + dx, 2 * y + dy)
            for z, x, y in split for dx in (0, 1) for dy in (0, 1)
        ]
        sink.commit(pending, n_children)
        if not split:
            if render is not None:
                render.unpersist()
            return
        # continue from the checkpointed wave (the store also wrote these
        # rows for resume); coalesce so shrinking levels run fewer tasks
        frontier = render.filter(F.col("row_kind") == RS_CHILD).select(
            *TILED_COLS
        ).coalesce(_frontier_parts(n_children, spark))
        prev = render
        level += 1


def drill_stats(partials: pd.DataFrame, root: tuple, target: tuple,
                existing: set, max_zoom: int) -> list:
    """(z, x, y, num_points, num_simplified) of every tile a drill from
    ``root`` to ``target`` creates, finished from drill_descend_stage's
    RS_CAGG partials: the tiles that got rows, then the empty children of
    the split path tiles (lib.rs:344-428).  Tiles in ``existing`` (the
    re-split ancestor, cousins of earlier drills) are left out."""
    agg: dict = {}
    for r in partials.itertuples(index=False):
        key = (int(r.z), int(r.x), int(r.y))
        old = agg.get(key, (0, 0))
        agg[key] = (old[0] + int(r.num_points), old[1] + int(r.n_emitted))
    out = [k + v for k, v in agg.items() if k not in existing]
    cz, cx, cy = target
    pz, px, py = root
    while pz < cz and pz < max_zoom and agg.get((pz, px, py), (0,))[0] > 0:
        for dx in (0, 1):
            for dy in (0, 1):
                ch = (pz + 1, 2 * px + dx, 2 * py + dy)
                if ch not in agg and ch not in existing:
                    out.append(ch + (0, 0))
        m = 1 << (cz - (pz + 1))
        pz, px, py = pz + 1, cx // m, cy // m
    return out
