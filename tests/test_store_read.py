"""CheckpointedPyramid point reads against Spark and the local tiler.

Builds a tile store from deterministic synthetic points (no external
fixtures), small enough limits that the distributed level loop runs,
then drills one tile.  Every tile read back through ``get_tile`` must
equal a plain Spark scan of the store ranked by the persisted order keys
(values, columns, dtypes, schema) and the local ``core/tiler.py``
feature by feature.  Files the store's readers must not see (in-flight
``.part-*.tmp*`` files, ``_staging/`` leftovers) are planted first, so
every comparison runs with them present.
"""

import glob
import json
import os
import shutil

import pandas as pd
import pytest
from pyspark.sql import Window
from pyspark.sql import functions as F

from geojson_vt_rs_spark.config import Options
from geojson_vt_rs_spark.core.tiler import GeoJSONVT
from geojson_vt_rs_spark.operators.schema import pdf_to_features
from geojson_vt_rs_spark.plans.checkpoint import CheckpointedPyramid
from geojson_vt_rs_spark.sources.synth_features import generate_points

N_POINTS = 10_000
# index_max_points and fuse_max_points scaled down with the input, so the
# build takes the distributed level loop rather than fusing the root
OPTS = dict(index_max_points=4000, fuse_max_points=4000)
DRILL = (12, 1171, 1566)  # inside the generator's dense cluster
ORDER_KEYS = ("world_copy", "feature_seq", "slice_path", "sub_idx")
ARROW = "spark.sql.execution.arrow.pyspark.enabled"


def _spark_tile(spark, out, z, x, y):
    """The tile as a Spark scan of the store, ranked by the order keys."""
    w = Window.partitionBy("z", "x", "y").orderBy(*ORDER_KEYS)
    return (
        spark.read.parquet(os.path.join(out, "tiles"))
        .filter((F.col("z") == z) & (F.col("x") == x) & (F.col("y") == y))
        .filter(F.col("type").isNotNull())
        .withColumn("feature_idx", F.row_number().over(w) - 1)
        .drop(*ORDER_KEYS)
        .orderBy("feature_idx")
    )


def _spark_keys(spark, out):
    return {
        (r.z, r.x, r.y)
        for r in spark.read.parquet(os.path.join(out, "tiles"))
        .filter(F.col("feature_idx") == -1)
        .select("z", "x", "y")
        .collect()
    }


def _assert_same_tile(spark, cp, out, key):
    got = cp.get_tile(out, *key)
    want = _spark_tile(spark, out, *key)
    assert got.schema == want.schema
    pd.testing.assert_frame_equal(got.toPandas(), want.toPandas())


def _plant_invisible(out):
    """Copies of real store files under names every reader must skip."""
    z0 = sorted(glob.glob(os.path.join(out, "tiles", "level=L0", "z=0", "part-*")))
    assert z0
    planted = [os.path.join(os.path.dirname(z0[0]), ".part-00000.tmp7")]
    for name in ("tiles_level_9", "tiles_drill_13_0_0"):
        planted.append(os.path.join(out, "_staging", name, "z=0", "part-00000.parquet"))
    for p in planted:
        os.makedirs(os.path.dirname(p), exist_ok=True)
        shutil.copy(z0[0], p)
    return planted


@pytest.fixture(scope="module")
def store(spark, tmp_path_factory):
    out = str(tmp_path_factory.mktemp("store_read") / "store")
    pts = generate_points(spark, N_POINTS, 4).persist()
    cp = CheckpointedPyramid(spark, Options(**OPTS))
    summary = cp.run(pts, out, raw_npts=N_POINTS)
    assert summary["levels"] > 1  # the level loop ran, not one fused root
    cp.get_tile(out, *DRILL)
    assert any(d.startswith("level=drill_") for d in os.listdir(os.path.join(out, "tiles")))
    planted = _plant_invisible(out)
    cp._invalidate_memos(out)
    local = GeoJSONVT(list(pdf_to_features(pts.toPandas())), Options(**OPTS))
    local.get_tile(*DRILL)
    pts.unpersist()
    yield dict(out=out, cp=cp, local=local, planted=planted)


def test_tile_keys_match_spark_scan(spark, store):
    keys = store["cp"]._tile_keys(store["out"])
    assert keys == _spark_keys(spark, store["out"])
    assert DRILL in keys
    assert all(os.path.exists(p) for p in store["planted"])


def test_every_tile_matches_spark_read(spark, store):
    cp, out = store["cp"], store["out"]
    for key in sorted(cp._tile_keys(out)):
        _assert_same_tile(spark, cp, out, key)


def test_every_tile_matches_local_tiler(store):
    cp, out, local = store["cp"], store["out"], store["local"]
    n_rows = 0
    for key in sorted(cp._tile_keys(out)):
        pdf = cp.get_tile(out, *key).toPandas()
        got = [
            (int(t), json.loads(g), json.loads(tags) if tags else None)
            for t, g, tags in zip(pdf["type"], pdf["geometry_json"], pdf["tags_json"])
        ]
        want = [
            (f["type"], json.loads(json.dumps(f["geometry"])), f["tags"] or None)
            for f in local.get_tile(*key).features
        ]
        assert got == want, key
        assert list(pdf["feature_idx"]) == list(range(len(pdf)))
        n_rows += len(pdf)
    assert n_rows > N_POINTS  # the z0 tile alone holds every point


def test_empty_tiles(spark, store):
    cp, out = store["cp"], store["out"]
    empty_in_store = [
        k for k in sorted(cp._tile_keys(out))
        if not store["local"].get_tile(*k).features
    ]
    assert empty_in_store
    z, x, y = empty_in_store[0]
    _assert_same_tile(spark, cp, out, (z, x, y))
    assert cp.get_tile(out, z, x, y).count() == 0
    # below a feature-less stored tile: empty, and nothing is drilled
    below = (z + 1, 2 * x, 2 * y)
    before = set(os.listdir(os.path.join(out, "tiles")))
    _assert_same_tile(spark, cp, out, below)
    assert cp.get_tile(out, *below).count() == 0
    assert set(os.listdir(os.path.join(out, "tiles"))) == before


def test_arrow_disabled(spark, store):
    out = store["out"]
    keys = sorted(store["cp"]._tile_keys(out))
    empty = next(k for k in keys if not store["local"].get_tile(*k).features)
    spark.conf.set(ARROW, "false")
    try:
        cp = CheckpointedPyramid(spark, Options(**OPTS))
        assert cp._tile_keys(out) == set(keys)
        for key in ((0, 0, 0), DRILL, empty, keys[len(keys) // 2]):
            _assert_same_tile(spark, cp, out, key)
    finally:
        spark.conf.set(ARROW, "true")


def test_memo_identity_and_invalidation(store):
    cp, out = store["cp"], store["out"]
    first = cp.read_tile(out, 1, 0, 0)
    assert cp.read_tile(out, 1, 0, 0) is first
    assert cp.get_tile(out, 1, 0, 0) is first
    rows = first.toPandas()
    assert out in cp._keys
    cp._invalidate_memos(out)
    assert out not in cp._keys
    fresh = cp.read_tile(out, 1, 0, 0)
    assert fresh is not first
    pd.testing.assert_frame_equal(fresh.toPandas(), rows)
