import json
import os
import sys

import pytest

# the checkout under test, wherever it is: its package and
# __spark_entry__ import ahead of any installed copy
sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

FIXTURES = "/root/reference/fixtures"
DATA = "/root/reference/data"


def fixture_path(name: str) -> str:
    return os.path.join(FIXTURES, name)


def load_fixture_text(name: str) -> str:
    with open(fixture_path(name)) as fh:
        return fh.read()


def parse_jsontile(tile_features: list) -> list:
    """Parse one expected tile (list of tile-feature dicts) into canonical
    tuples (type, geometry, tags, id_str, id_num), mirroring the reference
    test harness (/root/reference/src/tests.rs:67-177): empty tags -> None;
    type 1 with one point -> Point; type 2 with one part stays a single
    line; type 3 geometry is a list of rings (MultiPolygons arrive
    pre-flattened in the JS-produced fixtures)."""
    out = []
    for feat in tile_features:
        tags = feat.get("tags")
        if tags is not None and not tags:
            tags = None
        fid = feat.get("id")
        id_str = fid if isinstance(fid, str) else None
        id_num = fid if isinstance(fid, (int, float)) and not isinstance(fid, bool) else None
        t = feat["type"]
        geom = feat["geometry"]
        geom = _normalize_coords(geom, t)
        out.append((t, geom, tags, id_str, id_num))
    return out


def _normalize_coords(geom, t):
    if t == 1:  # list of [x,y]
        return [[float(p[0]), float(p[1])] for p in geom]
    return [[[float(p[0]), float(p[1])] for p in part] for part in geom]


def parse_jsontiles(path: str) -> dict:
    with open(path) as fh:
        tiles = json.load(fh)
    return {k: parse_jsontile(v) for k, v in tiles.items()}


def emitted_to_canonical(em) -> list:
    """Convert a TileEmitter's features to the fixture-comparable form:
    MultiPolygon flattened to one ring list (tests.rs:797-815)."""
    from geojson_vt_rs_spark.core.geom import GEOM_MULTIPOLYGON

    out = []
    for f in em.features:
        geom = f["geometry"]
        if f["kind"] == GEOM_MULTIPOLYGON:
            geom = [ring for poly in geom for ring in poly]
        geom = _normalize_coords(geom, f["type"])
        out.append((f["type"], geom, f["tags"], f["id_str"], f["id_num"]))
    return out


@pytest.fixture(scope="session")
def spark():
    from geojson_vt_rs_spark.operators.session import get_spark

    s = get_spark()
    yield s
