"""Seeded input generators: every input is a pure function of (seed, size).

- ``points_table`` / ``points_pdf``: single-Point features in the
  ``generate_points`` mix (20 % in a tight Washington-DC cluster that
  covers tile 12/1171/1566, 50 % CONUS, 30 % world-wide).
- ``region_geojson``: a non-overlapping polygon layer shaped like
  us-states: a jittered grid of cells over CONUS whose shared edges are
  the same wiggly polyline on both sides, some cells with a lake hole.
- ``write_sf_tables``: the orders / customer / nation / lineitem /
  documents / embeddings / events tables the ``__spark_entry__`` queries read.
"""

from __future__ import annotations

import json
import os
from typing import Iterator

import numpy as np
import pandas as pd

_M64 = (1 << 64) - 1


def mix64(seed: int, ids: np.ndarray, stream: int) -> np.ndarray:
    """splitmix64 of (seed, id, stream) -> uniform floats in [0, 1)."""
    with np.errstate(over="ignore"):
        h = ids.astype(np.uint64) * np.uint64(0x9E3779B97F4A7C15)
        h += np.uint64((seed * 0xD1B54A32D192ED03 + stream * 0xBF58476D1CE4E5B9) & _M64)
        h ^= h >> np.uint64(30)
        h *= np.uint64(0xBF58476D1CE4E5B9)
        h ^= h >> np.uint64(27)
        h *= np.uint64(0x94D049BB133111EB)
        h ^= h >> np.uint64(31)
    return (h >> np.uint64(11)).astype(np.float64) / float(1 << 53)


def rng(seed: int, stream: int) -> np.random.Generator:
    return np.random.default_rng([int(seed), int(stream)])


# ------------------------------------------------------------------ points


def points_lonlat(seed: int, ids: np.ndarray) -> tuple:
    r1, r2, r3 = mix64(seed, ids, 1), mix64(seed, ids, 2), mix64(seed, ids, 3)
    mode = (r3 * 10).astype(np.int64)
    lon = np.where(
        mode < 2, -77.03 + (r1 - 0.5) * 0.2,
        np.where(mode < 7, -124.0 + r1 * 57.0, -179.0 + r1 * 358.0),
    )
    lat = np.where(
        mode < 2, 38.9 + (r2 - 0.5) * 0.15,
        np.where(mode < 7, 26.0 + r2 * 22.0, -75.0 + r2 * 150.0),
    )
    return lon, lat


def points_pdf(seed: int, ids: np.ndarray) -> pd.DataFrame:
    """Single-Point features for ``ids`` as a FEATURE_SCHEMA frame (the
    column layout ``generate_points`` builds)."""
    from geojson_vt_rs_spark.core.geom import GEOM_POINT
    from geojson_vt_rs_spark.operators.schema import FEATURE_SCHEMA

    ids = np.asarray(ids, dtype=np.int64)
    m = len(ids)
    lon, lat = points_lonlat(seed, ids)
    zero1 = np.zeros(1)
    po = np.array([0, 1], dtype=np.int32)
    data = {k: [None] * m for k in
            ("id_str", "id_num", "id_float", "props_json",
             "ring_offsets", "gc_kinds", "gc_part_offsets")}
    data.update(
        feature_seq=ids,
        world_copy=np.ones(m, dtype=np.int32),
        slice_path=[""] * m,
        geom_type=np.full(m, GEOM_POINT, dtype=np.int32),
        xs=[lon[i:i + 1] for i in range(m)],
        ys=[lat[i:i + 1] for i in range(m)],
        zs=[zero1] * m,
        part_offsets=[po] * m,
        part_dist=[zero1] * m,
        part_seg_start=[zero1] * m,
        part_seg_end=[zero1] * m,
        part_area=[zero1] * m,
        bbox_min_x=np.minimum(2.0, lon),
        bbox_min_y=np.minimum(1.0, lat),
        bbox_max_x=np.maximum(-1.0, lon),
        bbox_max_y=np.maximum(0.0, lat),
        num_points=np.ones(m, dtype=np.int32),
    )
    return pd.DataFrame(data, columns=[f.name for f in FEATURE_SCHEMA.fields])


def points_table(spark, seed: int, n: int, partitions: int):
    from geojson_vt_rs_spark.operators.schema import FEATURE_SCHEMA

    def gen(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            yield points_pdf(seed, pdf["id"].to_numpy())

    return spark.range(0, n, 1, partitions).mapInPandas(gen, schema=FEATURE_SCHEMA)


# ------------------------------------------------------------- region layer

REGION_BBOX = (-124.0, 25.0, -67.0, 49.0)


def region_geojson(
    seed: int, cols: int = 10, rows: int = 5, pts_per_edge: int = 40,
    hole_every: int = 6,
) -> dict:
    """``cols * rows`` polygons tiling REGION_BBOX without overlap.

    Grid corners are jittered; every interior edge is one seeded wiggly
    polyline shared (reversed) by its two cells, so neighbours meet
    exactly.  Every ``hole_every``-th cell gets a hexagonal lake hole
    around its centre.  Defaults give 50 polygons and ~8k vertices."""
    g = rng(seed, 10)
    x0, y0, x1, y1 = REGION_BBOX
    gx = np.linspace(x0, x1, cols + 1)
    gy = np.linspace(y0, y1, rows + 1)
    cx = np.tile(gx, (rows + 1, 1))
    cy = np.tile(gy[:, None], (1, cols + 1))
    dx, dy = (x1 - x0) / cols, (y1 - y0) / rows
    inner = (slice(1, rows), slice(1, cols))
    cx[inner] += g.uniform(-0.2, 0.2, (rows - 1, cols - 1)) * dx
    cy[inner] += g.uniform(-0.2, 0.2, (rows - 1, cols - 1)) * dy

    def edge(a: tuple, b: tuple, border: bool) -> np.ndarray:
        t = np.linspace(0.0, 1.0, pts_per_edge + 1)
        xs = a[0] + (b[0] - a[0]) * t
        ys = a[1] + (b[1] - a[1]) * t
        if not border:
            # wiggle perpendicular to the edge, pinned at both corners
            nx, ny = -(b[1] - a[1]), b[0] - a[0]
            amp = g.uniform(-0.04, 0.04, pts_per_edge + 1) * np.sin(np.pi * t)
            xs, ys = xs + nx * amp, ys + ny * amp
        return np.column_stack([xs, ys])

    h_edges = {}  # (r, c) -> edge from corner (r, c) to (r, c+1)
    v_edges = {}  # (r, c) -> edge from corner (r, c) to (r+1, c)
    for r in range(rows + 1):
        for c in range(cols):
            h_edges[r, c] = edge((cx[r, c], cy[r, c]), (cx[r, c + 1], cy[r, c + 1]),
                                 r in (0, rows))
    for r in range(rows):
        for c in range(cols + 1):
            v_edges[r, c] = edge((cx[r, c], cy[r, c]), (cx[r + 1, c], cy[r + 1, c]),
                                 c in (0, cols))

    feats = []
    for r in range(rows):
        for c in range(cols):
            # counter-clockwise: bottom, right, top (reversed), left (reversed)
            ring = np.vstack([
                h_edges[r, c][:-1], v_edges[r, c + 1][:-1],
                h_edges[r + 1, c][::-1][:-1], v_edges[r, c][::-1],
            ])
            rings = [np.round(ring, 6).tolist()]
            k = r * cols + c
            if k % hole_every == hole_every // 2:
                mx = (cx[r, c] + cx[r, c + 1] + cx[r + 1, c] + cx[r + 1, c + 1]) / 4
                my = (cy[r, c] + cy[r, c + 1] + cy[r + 1, c] + cy[r + 1, c + 1]) / 4
                a = np.linspace(0, 2 * np.pi, 7)[::-1]
                rad = 0.15 * min(dx, dy)
                hole = np.column_stack([mx + rad * np.cos(a), my + rad * np.sin(a)])
                hole[-1] = hole[0]
                rings.append(np.round(hole, 6).tolist())
            feats.append({
                "type": "Feature",
                "id": f"R{k:02d}",
                "properties": {"name": f"region_{k:02d}"},
                "geometry": {"type": "Polygon", "coordinates": rings},
            })
    return {"type": "FeatureCollection", "features": feats}


def layer_stats(fc: dict) -> dict:
    polys = verts = holes = 0
    for f in fc["features"]:
        g = f["geometry"]
        if g["type"] == "Polygon":
            polys += 1
            holes += len(g["coordinates"]) - 1
            verts += sum(len(r) for r in g["coordinates"])
        else:
            verts += 1
    return dict(features=len(fc["features"]), polygons=polys,
                vertices=verts, holes=holes)


# --------------------------------------------------------------- sf tables

_WORDS = (
    "a the data table row column key value part order line customer query "
    "scan join filter group sort merge hash window batch stream agg spark "
    "fast slow big small vector index tile zoom point polygon map cell"
).split()
_LANGS = ("en", "en", "en", "de", "fr", "es", "zh")
_EVENT_TYPES = ("click", "view", "purchase", "signup", "error")
_SEGMENTS = ("AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY")
_PRIORITIES = ("1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW")


def _documents(g: np.random.Generator, n: int) -> pd.DataFrame:
    texts = []
    for i in range(n):
        if i >= 10 and i % 7 == 3:
            # near-duplicate of an earlier document: a few words edited
            words = texts[int(g.integers(0, i))].split()
            for j in g.integers(0, len(words), max(1, len(words) // 20)):
                words[j] = _WORDS[int(g.integers(0, len(_WORDS)))]
        else:
            words = [_WORDS[j] for j in g.integers(0, len(_WORDS), int(g.integers(10, 90)))]
        texts.append(" ".join(words))
    return pd.DataFrame({
        "doc_id": np.arange(n, dtype=np.int64),
        "text": texts,
        "lang": [_LANGS[j] for j in g.integers(0, len(_LANGS), n)],
        "source": [f"src{i % 20}" for i in range(n)],
        "n_chars": np.array([len(t) for t in texts], dtype=np.int64),
    })


def _embeddings(g: np.random.Generator, n: int, dim: int = 64) -> pd.DataFrame:
    centers = g.normal(size=(10, dim))
    labels = g.integers(0, 10, n).astype(np.int32)
    v = centers[labels] + 0.6 * g.normal(size=(n, dim))
    v /= np.linalg.norm(v, axis=1, keepdims=True)
    return pd.DataFrame({
        "vec_id": np.arange(n, dtype=np.int64),
        "embedding": list(v.astype(np.float32)),
        "label": labels,
    })


def sf_frames(seed: int, scale: float) -> dict:
    """Pandas frames of the sf tables at ``scale`` (1.0 ~ TPC-H sf1 rows
    for the TPC-H tables)."""
    g = rng(seed, 20)
    n_cust = max(100, int(150_000 * scale))
    n_ord = max(1000, int(1_500_000 * scale))
    n_line = n_ord * 4
    day0 = np.datetime64("1995-01-01", "us")
    nation = pd.DataFrame({
        "n_nationkey": np.arange(25, dtype=np.int32),
        "n_name": [f"NATION_{i}" for i in range(25)],
        "n_regionkey": (np.arange(25) % 5).astype(np.int32),
    })
    customer = pd.DataFrame({
        "c_custkey": np.arange(n_cust, dtype=np.int64),
        "c_name": [f"Customer#{i:09d}" for i in range(n_cust)],
        "c_nationkey": g.integers(0, 25, n_cust).astype(np.int32),
        "c_acctbal": np.round(g.uniform(-999.99, 9999.99, n_cust), 2),
        "c_mktsegment": [_SEGMENTS[j] for j in g.integers(0, 5, n_cust)],
    })
    orders = pd.DataFrame({
        "o_orderkey": np.arange(n_ord, dtype=np.int64),
        "o_custkey": g.integers(0, n_cust, n_ord).astype(np.int64),
        "o_orderstatus": [("O", "F", "P")[j] for j in g.integers(0, 3, n_ord)],
        "o_totalprice": np.round(g.uniform(900.0, 500_000.0, n_ord), 2),
        "o_orderdate": day0 + g.integers(0, 7 * 365, n_ord).astype("timedelta64[D]"),
        "o_orderpriority": [_PRIORITIES[j] for j in g.integers(0, 5, n_ord)],
    })
    lineitem = pd.DataFrame({
        "l_orderkey": g.integers(0, n_ord, n_line).astype(np.int64),
        "l_partkey": g.integers(0, max(200, n_ord // 75), n_line).astype(np.int64),
        "l_suppkey": g.integers(0, 100, n_line).astype(np.int64),
        "l_linenumber": g.integers(1, 8, n_line).astype(np.int32),
        "l_quantity": g.integers(1, 51, n_line).astype(np.float64),
        "l_extendedprice": np.round(g.uniform(900.0, 100_000.0, n_line), 2),
        "l_discount": g.integers(0, 11, n_line) / 100.0,
        "l_tax": g.integers(0, 9, n_line) / 100.0,
        "l_returnflag": [("A", "N", "R")[j] for j in g.integers(0, 3, n_line)],
        "l_linestatus": [("O", "F")[j] for j in g.integers(0, 2, n_line)],
        "l_shipdate": day0 + g.integers(0, 7 * 365, n_line).astype("timedelta64[D]"),
    })
    n_ev = max(1000, int(1_000_000 * scale))
    ts0 = np.datetime64("2024-01-01T00:00:00", "us")
    events = pd.DataFrame({
        "event_id": np.arange(n_ev, dtype=np.int64),
        "ts": ts0 + np.sort(g.integers(0, 30 * 86_400_000_000, n_ev)).astype("timedelta64[us]"),
        "user_id": g.integers(0, max(20, n_ev // 60), n_ev).astype(np.int64),
        "event_type": [_EVENT_TYPES[j] for j in g.integers(0, 5, n_ev)],
        "value": np.round(g.uniform(0.0, 20.0, n_ev), 2),
        "props": [json.dumps({"k": int(j)}) for j in g.integers(0, 100, n_ev)],
    })
    n_docs = max(100, int(50_000 * scale))
    return dict(
        nation=nation, customer=customer, orders=orders, lineitem=lineitem,
        events=events, documents=_documents(g, n_docs),
        embeddings=_embeddings(g, max(100, int(20_000 * scale))),
    )


def write_sf_tables(seed: int, scale: float, out_dir: str) -> dict:
    """Write the sf tables as parquet under ``out_dir``; returns row counts."""
    os.makedirs(out_dir, exist_ok=True)
    counts = {}
    for name, df in sf_frames(seed, scale).items():
        df.to_parquet(os.path.join(out_dir, f"{name}.parquet"), index=False)
        counts[name] = len(df)
    return counts
