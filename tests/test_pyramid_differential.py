"""The distributed pyramid against the local core tiler, fixture-free.

``core/tiler.py`` is the semantic reference (it passed the golden corpus
whenever the corpus was present), so every distributed route must give
the same tiles as it on the same input, feature by feature:

* ``SparkGeoJSONVT(prefer_local=False)``: tile set, every tile's
  features, point counts, ``total`` and ``stats``, before and after one
  drill below the index;
* ``CheckpointedPyramid``: ``read_tile`` of every stored key, the
  manifest row counts, one drill, and a resume after a kill right after
  level 0 (the later manifests are deleted and the build is rerun).

Inputs are built in-process: ``generate_features`` (polygons and lines
with metro skew) plus a few hand shapes (an antimeridian-straddling
line, a polygon with a hole, a near-pole point), and ``generate_points``.
The cases cover the three first-level routes (fused root, optimistic
split, optimistic split that turns out to be a leaf) and ``line_metrics``
on and off.  The pattern is the grouped-map differential check: the
distributed result against the local function on the same data.
"""

import glob
import json
import math
import os

import pandas as pd
import pytest

from geojson_vt_rs_spark.config import Options, TileOptions
from geojson_vt_rs_spark.core.tiler import GeoJSONVT as CoreTiler
from geojson_vt_rs_spark.core.tiler import to_id
from geojson_vt_rs_spark.operators.schema import (
    FEATURE_SCHEMA,
    create_feature_df,
    features_to_pdf,
    pdf_to_features,
)
from geojson_vt_rs_spark.plans.checkpoint import CheckpointedPyramid
from geojson_vt_rs_spark.plans.pyramid import SparkGeoJSONVT
from geojson_vt_rs_spark.sources.geojson import load_geojson
from geojson_vt_rs_spark.sources.synth_features import (
    generate_features,
    generate_points,
)

N_FEATURES = 300  # ~3.2k raw points: below the default fuse bound (8192)
N_POINTS = 3000

HAND = {
    "type": "FeatureCollection",
    "features": [
        {  # crosses the antimeridian (wrap copies it into both worlds)
            "type": "Feature",
            "id": "dateline",
            "geometry": {"type": "LineString",
                         "coordinates": [[170.0, 10.0], [184.0, 14.0], [195.0, 11.0]]},
            "properties": {"name": "dateline"},
        },
        {  # polygon with a hole
            "type": "Feature",
            "id": 7.5,
            "geometry": {"type": "Polygon", "coordinates": [
                [[-10.0, -10.0], [10.0, -10.0], [10.0, 10.0], [-10.0, 10.0], [-10.0, -10.0]],
                [[-3.0, -3.0], [-3.0, 3.0], [3.0, 3.0], [3.0, -3.0], [-3.0, -3.0]],
            ]},
            "properties": {"hole": True},
        },
        {  # near the pole: projected past the mercator clamp
            "type": "Feature",
            "id": 42,
            "geometry": {"type": "Point", "coordinates": [45.0, 89.9]},
            "properties": None,
        },
    ],
}


def _tile_at(z, lon, lat):
    n = 1 << z
    s = math.sin(math.radians(lat))
    y = (0.5 - 0.25 * math.log((1 + s) / (1 - s)) / math.pi) * n
    return z, int((lon + 180.0) / 360.0 * n), int(y)


# name -> (input, options, drill target); the input's raw point count
# against fuse_bound picks the first-level route
CASES = {
    # raw <= fuse_bound: the whole build is one fused subtree task
    "fused_root": (
        "features",
        Options(max_zoom=10, index_max_zoom=4, index_max_points=100),
        _tile_at(7, -74.0, 40.7),
    ),
    # optimistic split, then leaf, fuse and split tiles in later levels
    "optimistic_line_metrics": (
        "features",
        Options(max_zoom=10, index_max_zoom=4, index_max_points=100,
                fuse_max_points=400, tile=TileOptions(line_metrics=True)),
        _tile_at(7, 139.7, 35.7),
    ),
    # optimistic split with no fusing at all: every level is distributed
    "optimistic_points": (
        "points",
        Options(max_zoom=14, index_max_zoom=5, index_max_points=300,
                fuse_max_points=1),
        _tile_at(9, -77.03, 38.9),
    ),
    # optimistic split whose root is really a leaf (tnp <= index_max_points)
    "mispredicted_leaf": (
        "points",
        Options(max_zoom=14, index_max_zoom=5, fuse_max_points=1),
        _tile_at(4, -77.03, 38.9),
    ),
}


@pytest.fixture(scope="module")
def inputs(spark):
    hand = load_geojson(HAND)
    for i, f in enumerate(hand):
        f.feature_seq = N_FEATURES + i
    feats = generate_features(spark, N_FEATURES, 4).unionByName(
        create_feature_df(spark, features_to_pdf(hand), FEATURE_SCHEMA)
    ).persist()
    points = generate_points(spark, N_POINTS, 4).persist()
    out = {}
    for name, df in (("features", feats), ("points", points)):
        local = sorted(pdf_to_features(df.toPandas()),
                       key=lambda f: f.feature_seq)
        out[name] = (df, local)
    yield out
    feats.unpersist()
    points.unpersist()


def _canon(f):
    return (f["type"], f["kind"], json.dumps(f["geometry"]),
            json.dumps(f["tags"], sort_keys=True),
            f["id_str"], f["id_num"], f["id_float"])


def _canon_rows(pdf):
    def opt(v, cast):
        return None if v is None or pd.isna(v) else cast(v)

    return [
        (int(r.type), int(r.kind), json.dumps(json.loads(r.geometry_json)),
         json.dumps(json.loads(r.tags_json) if r.tags_json else None,
                    sort_keys=True),
         opt(r.tile_id_str, str), opt(r.tile_id_num, int),
         opt(r.tile_id_float, float))
        for r in pdf.itertuples(index=False)
    ]


def _local_keys(ref):
    return {(t.emitter.z, t.emitter.x, t.emitter.y) for t in ref.tiles.values()}


def _assert_same_index(idx, ref):
    assert set(idx.tiles) == set(ref.tiles)
    for tid, it in ref.tiles.items():
        em, got = it.emitter, idx.tiles[tid]
        key = (em.z, em.x, em.y)
        assert (got.z, got.x, got.y) == key
        assert [_canon(f) for f in got.features] == [
            _canon(f) for f in em.features
        ], key
        assert (got.num_points, got.num_simplified) == (
            em.num_points, em.num_simplified
        ), key
    assert idx.total == ref.total
    assert idx.stats == ref.stats


@pytest.mark.parametrize("case", sorted(CASES))
def test_index_matches_local_tiler(spark, inputs, case):
    src, opts, target = CASES[case]
    df, local = inputs[src]
    ref = CoreTiler(local, opts)
    idx = SparkGeoJSONVT(spark, df, opts, prefer_local=False)
    _assert_same_index(idx, ref)
    assert idx.leaf_features.keys() == {
        tid for tid, t in ref.tiles.items() if t.source_features
    }

    got = idx.get_tile(*target)
    want = ref.get_tile(*target)
    assert want.features  # the target holds data: the lookup drills
    assert [_canon(f) for f in got.features] == [_canon(f) for f in want.features]
    _assert_same_index(idx, ref)
    # the re-split ancestor gives up its retained features (lib.rs:430-433)
    assert idx.leaf_features.keys() == {
        tid for tid, t in ref.tiles.items() if t.source_features
    }


def _stored_rows(out):
    """(feature rows, stats rows) of every published tiles file."""
    files = glob.glob(os.path.join(out, "tiles", "level=*", "z=*", "part-*"))
    pdf = pd.concat(
        [pd.read_parquet(p).assign(z=int(p.split(os.sep)[-2][2:])) for p in files],
        ignore_index=True,
    )
    return pdf[pdf["type"].notna()], pdf[pdf["type"].isna()]


def _assert_same_store(cp, out, ref):
    keys = cp._tile_keys(out)
    assert keys == _local_keys(ref)
    for z, x, y in sorted(keys):
        pdf = cp.read_tile(out, z, x, y).toPandas()
        want = ref.tiles[to_id(z, x, y)].emitter
        assert _canon_rows(pdf) == [_canon(f) for f in want.features], (z, x, y)
        assert list(pdf["feature_idx"]) == list(range(len(pdf)))


def _sorted_rows(pdf):
    return pdf.sort_values(list(pdf.columns), ignore_index=True)


@pytest.mark.parametrize("case", sorted(CASES))
def test_store_matches_local_tiler(spark, inputs, case, tmp_path):
    src, opts, target = CASES[case]
    df, local = inputs[src]
    ref = CoreTiler(local, opts)
    out = str(tmp_path / "store")
    cp = CheckpointedPyramid(spark, opts)
    s1 = cp.run(df, out)
    assert (s1["levels"] > 1) == case.startswith("optimistic")
    assert s1["total_tiles"] == ref.total
    _assert_same_store(cp, out, ref)
    feature_rows, stats_rows = _stored_rows(out)
    assert len(stats_rows) == ref.total
    assert not stats_rows.duplicated(["z", "x", "y"]).any()
    # the manifests count every staged row, fused subtrees included
    assert s1["total_tile_rows"] == len(feature_rows)
    leaf_rows = sum(len(pd.read_parquet(p)) for p in glob.glob(
        os.path.join(out, "leaves", "level=*", "z=*", "part-*")))
    assert sum(m["n_leaf_feature_rows"] for m in s1["manifests"]) == leaf_rows

    # killed after level 0: later manifests gone, their dirs left behind
    for lvl in range(1, s1["levels"]):
        os.remove(os.path.join(out, "_manifests", f"level_{lvl}.json"))
    cp = CheckpointedPyramid(spark, opts)
    s2 = cp.run(df, out)
    assert (s2["levels"], s2["total_tiles"]) == (
        s1["levels"], s1["total_tiles"]
    )
    resumed_rows, resumed_stats = _stored_rows(out)
    for before, after in ((feature_rows, resumed_rows),
                          (stats_rows, resumed_stats)):
        pd.testing.assert_frame_equal(_sorted_rows(after), _sorted_rows(before))

    got = cp.get_tile(out, *target).toPandas()
    want = ref.get_tile(*target)
    assert want.features
    assert _canon_rows(got) == [_canon(f) for f in want.features]
    assert cp._tile_keys(out) == _local_keys(ref)
