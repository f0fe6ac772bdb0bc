"""Seeded generators: deterministic per seed, different across seeds."""

import numpy as np
import pandas as pd

from perfbench import gen


def test_points_deterministic_and_seeded():
    ids = np.arange(2000)
    a, b, c = gen.points_pdf(1, ids), gen.points_pdf(1, ids), gen.points_pdf(2, ids)
    assert np.array_equal(np.concatenate(a["xs"].tolist()), np.concatenate(b["xs"].tolist()))
    assert not np.array_equal(np.concatenate(a["xs"].tolist()), np.concatenate(c["xs"].tolist()))


def test_points_mix():
    lon, lat = gen.points_lonlat(7, np.arange(50_000))
    dc = (np.abs(lon + 77.03) <= 0.1) & (np.abs(lat - 38.9) <= 0.075)
    assert 0.18 < dc.mean() < 0.23  # 20 % in the DC cluster (plus a few strays)
    assert lon.min() >= -179.0 and lon.max() <= 179.0


def test_region_layer_shape():
    fc = gen.region_geojson(3)
    st = gen.layer_stats(fc)
    assert st["polygons"] == 50
    assert 7500 <= st["vertices"] <= 8500
    assert st["holes"] > 0
    assert gen.region_geojson(3) == fc
    assert gen.region_geojson(4) != fc


def _area(ring):
    xy = np.asarray(ring)
    return 0.5 * np.sum(xy[:-1, 0] * xy[1:, 1] - xy[1:, 0] * xy[:-1, 1])


def test_region_layer_tiles_bbox_without_overlap():
    """Outer rings are counter-clockwise and their areas add up to the
    bounding box: neighbours share edges, so there is no gap or overlap."""
    fc = gen.region_geojson(5)
    x0, y0, x1, y1 = gen.REGION_BBOX
    areas = [_area(f["geometry"]["coordinates"][0]) for f in fc["features"]]
    assert min(areas) > 0
    assert abs(sum(areas) - (x1 - x0) * (y1 - y0)) < 1e-3


def test_sf_tables_seeded():
    a, b, c = gen.sf_frames(1, 0.001), gen.sf_frames(1, 0.001), gen.sf_frames(2, 0.001)
    assert set(a) == {"nation", "customer", "orders", "lineitem", "events",
                      "documents", "embeddings"}
    for name in a:
        pd.testing.assert_frame_equal(a[name].drop(columns="embedding", errors="ignore"),
                                      b[name].drop(columns="embedding", errors="ignore"))
    assert not a["documents"]["text"].equals(c["documents"]["text"])
    assert not a["orders"]["o_totalprice"].equals(c["orders"]["o_totalprice"])
