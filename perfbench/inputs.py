"""Seeded input generators.  Every input the program sees is made here
from ``--seed``; the same seed gives the same arrays and files.

Two layouts share every size (see README.md); only positions, ids and
shapes vary with the seed:

* ``clustered``: most points sit in urban clusters (hot tiles), the
  polygons lie over the clusters, the features crowd a small area;
* ``spread``: points are uniform over the region, the features spread
  over four times the area.
"""

from __future__ import annotations

import json
import os

import numpy as np

# Region the point table and the polygon dimension live in (lon0, lat0,
# lon1, lat1): a continent-sized box, so background points spread over
# many z14 tiles while clusters pile thousands of points into few.
REGION = (-10.0, 35.0, 30.0, 60.0)

N_POINTS = 6_000
N_CLUSTERS = 24
URBAN_SHARE = {"clustered": 0.7, "spread": 0.0}
DELTA_MOVED = 0.004
DELTA_ADDED = 0.003
DELTA_REMOVED = 0.003

N_POLYGONS = 150
N_QUERIES = 24

N_FEATURES = 40
N_GEOJSON_FILES = 4
FEATURE_ZOOM = 12
# (across, down) z12 tiles of the features' box
FEATURE_TILES = {"clustered": (4, 3), "spread": (8, 6)}


def _ids(rng, n: int, taken=None) -> np.ndarray:
    """Unique integer ids (``image_ids`` formats them) in an order that
    differs from generation order."""
    draw = rng.choice(10 ** 9, size=n * 2 + 16, replace=False)
    if taken is not None:
        draw = draw[~np.isin(draw, taken)]
    return draw[:n]


def _clusters(rng):
    """Cluster centres (seeded) and their sigmas (the same every seed)."""
    lon0, lat0, lon1, lat1 = REGION
    cx = rng.uniform(lon0 + 2, lon1 - 2, N_CLUSTERS)
    cy = rng.uniform(lat0 + 2, lat1 - 2, N_CLUSTERS)
    sigma = np.linspace(0.02, 0.12, N_CLUSTERS)
    return cx, cy, sigma


def _scatter(rng, n: int, clusters, layout: str):
    """n points: URBAN_SHARE around the cluster centres, the rest uniform."""
    cx, cy, sigma = clusters
    lon0, lat0, lon1, lat1 = REGION
    n_urban = int(round(n * URBAN_SHARE[layout]))
    which = np.arange(n_urban) % len(cx)
    ulon = cx[which] + rng.normal(0, 1, n_urban) * sigma[which]
    ulat = cy[which] + rng.normal(0, 1, n_urban) * sigma[which] * 0.7
    blon = rng.uniform(lon0, lon1, n - n_urban)
    blat = rng.uniform(lat0, lat1, n - n_urban)
    lon = np.concatenate([ulon, blon])
    lat = np.concatenate([ulat, blat])
    order = rng.permutation(n)
    return lon[order], lat[order]


def points(seed: int, layout: str) -> dict:
    """The clustered point table, its ~1% delta and the new point set.

    ``delta`` holds the rows ``refresh_dirty_tiles`` expects: inserted
    rows, deleted rows at their old positions and both positions of
    moved rows."""
    rng = np.random.default_rng([seed, 1])
    clusters = _clusters(rng)
    n = N_POINTS
    ids = _ids(rng, n)
    lon, lat = _scatter(rng, n, clusters, layout)

    n_mv = int(n * DELTA_MOVED)
    n_add = int(n * DELTA_ADDED)
    n_rm = int(n * DELTA_REMOVED)
    pick = rng.permutation(n)
    mv, rm = pick[:n_mv], pick[n_mv:n_mv + n_rm]
    new_lon, new_lat = lon.copy(), lat.copy()
    new_lon[mv] += rng.normal(0, 0.01, n_mv)
    new_lat[mv] += rng.normal(0, 0.01, n_mv)
    add_ids = _ids(rng, n_add, taken=ids)
    add_lon, add_lat = _scatter(rng, n_add, clusters, layout)
    keep = np.ones(n, dtype=bool)
    keep[rm] = False
    new = {
        "id": np.concatenate([ids[keep], add_ids]),
        "lon": np.concatenate([new_lon[keep], add_lon]),
        "lat": np.concatenate([new_lat[keep], add_lat]),
    }
    delta = {
        "id": np.concatenate([ids[mv], ids[mv], ids[rm], add_ids]),
        "lon": np.concatenate([lon[mv], new_lon[mv], lon[rm], add_lon]),
        "lat": np.concatenate([lat[mv], new_lat[mv], lat[rm], add_lat]),
    }
    return {"old": {"id": ids, "lon": lon, "lat": lat}, "new": new,
            "delta": delta, "clusters": clusters}


def image_ids(ids: np.ndarray) -> list:
    return [f"img{int(i):09d}" for i in ids]


def _star(rng, cx, cy, r, k, aspect=1.0):
    """Closed star-shaped ring (counter-clockwise in lon/lat)."""
    ang = np.sort(rng.uniform(0, 2 * np.pi, k))
    rad = r * rng.uniform(0.55, 1.0, k)
    xs = cx + rad * np.cos(ang)
    ys = cy + rad * np.sin(ang) * aspect
    ring = np.stack([xs, ys], axis=1)
    return np.concatenate([ring, ring[:1]], axis=0)


def polygons(seed: int, clusters) -> list:
    """Polygon dimension laid over the dense clusters: each polygon sits
    within two sigmas of a cluster centre, every fifth carries a hole.
    Sizes and vertex counts repeat every seed; positions do not."""
    rng = np.random.default_rng([seed, 2])
    cx, cy, sigma = clusters
    out = []
    for i in range(N_POLYGONS):
        c = i % len(cx)
        px = cx[c] + rng.normal(0, 1) * sigma[c]
        py = cy[c] + rng.normal(0, 1) * sigma[c] * 0.7
        r = sigma[c] * (0.1 + 0.4 * ((i * 7) % 11) / 10)
        rings = [_star(rng, px, py, r, 8 + (i * 13) % 33, 0.7)]
        if i % 5 == 0:
            hole = _star(rng, px, py, r * 0.3, 6, 0.7)[::-1]
            rings.append(hole)
        ext = rings[0]
        out.append({
            "polygon_id": f"poly{i:05d}", "name": f"zone-{c}",
            "rings": [r_.tolist() for r_ in rings],
            "min_lon": float(ext[:, 0].min()), "min_lat": float(ext[:, 1].min()),
            "max_lon": float(ext[:, 0].max()), "max_lat": float(ext[:, 1].max()),
        })
    return out


def queries(seed: int, clusters) -> dict:
    """kNN query points: half near cluster centres, half anywhere."""
    rng = np.random.default_rng([seed, 3])
    cx, cy, sigma = clusters
    h = N_QUERIES // 2
    c = np.arange(h) % len(cx)
    lon0, lat0, lon1, lat1 = REGION
    lon = np.concatenate([cx[c] + rng.normal(0, 1, h) * sigma[c],
                          rng.uniform(lon0, lon1, N_QUERIES - h)])
    lat = np.concatenate([cy[c] + rng.normal(0, 1, h) * sigma[c] * 0.7,
                          rng.uniform(lat0, lat1, N_QUERIES - h)])
    return {"query_id": np.arange(N_QUERIES, dtype=np.int64), "lon": lon, "lat": lat}


def _tile_lon(tx: float) -> float:
    return tx / 2 ** FEATURE_ZOOM * 360.0 - 180.0


def _tile_lat(ty: float) -> float:
    return float(np.degrees(np.arctan(np.sinh(np.pi * (1 - 2 * ty / 2 ** FEATURE_ZOOM)))))


def features(seed: int, layout: str) -> list:
    """LineString and Polygon features (with ids and properties) drawn in
    a unit square and laid over a box of FEATURE_TILES z12 tiles that is
    aligned to the tile grid, so the tiled set does not depend on where
    the seed puts the box.  Vertex counts and sizes repeat every seed."""
    rng = np.random.default_rng([seed, 4])
    w, h = FEATURE_TILES[layout]
    tx0 = int(rng.integers(2000, 2400))
    ty0 = int(rng.integers(1300, 1500))
    lon_a, lon_b = _tile_lon(tx0 + 0.2), _tile_lon(tx0 + w - 0.2)
    lat_a, lat_b = _tile_lat(ty0 + h - 0.2), _tile_lat(ty0 + 0.2)

    def to_lonlat(uv):
        return np.round(np.stack([lon_a + uv[:, 0] * (lon_b - lon_a),
                                  lat_a + uv[:, 1] * (lat_b - lat_a)], axis=1), 7).tolist()

    kinds = ["road", "rail", "river", "park", "lake", "building"]
    fid_pool = rng.choice(10 ** 7, size=N_FEATURES, replace=False) + 1
    out = []
    for i in range(N_FEATURES):
        props = {"name": f"feature {i}", "kind": kinds[i % len(kinds)],
                 "rank": int(rng.integers(0, 10)),
                 "width": round(float(rng.uniform(1, 30)), 3),
                 "major": bool(rng.uniform() < 0.3)}
        if i % 2 == 0:
            k = 20 + (i * 37) % 131
            step = rng.normal(0, 0.01, (k, 2)) + rng.uniform(-0.006, 0.006, 2)
            line = np.clip(np.cumsum(step, axis=0) + rng.uniform(0.1, 0.9, 2), 0.0, 1.0)
            geom = {"type": "LineString", "coordinates": to_lonlat(line)}
        else:
            r = 0.03 + 0.12 * ((i * 5) % 19) / 18
            cx, cy = rng.uniform(r, 1 - r, 2)
            rings = [to_lonlat(_star(rng, cx, cy, r, 16 + (i * 29) % 105))]
            if i % 8 == 1:
                rings.append(to_lonlat(_star(rng, cx, cy, r * 0.3, 12)[::-1]))
            geom = {"type": "Polygon", "coordinates": rings}
        out.append({"type": "Feature", "id": int(fid_pool[i]),
                    "properties": props, "geometry": geom})
    return out


def write_geojson(feats: list, directory: str) -> list:
    """Split the features over N_GEOJSON_FILES FeatureCollection files."""
    os.makedirs(directory, exist_ok=True)
    paths = []
    for f in range(N_GEOJSON_FILES):
        p = os.path.join(directory, f"part-{f}.geojson")
        doc = {"type": "FeatureCollection", "features": feats[f::N_GEOJSON_FILES]}
        with open(p, "w") as fh:
            json.dump(doc, fh)
        paths.append(p)
    return paths
