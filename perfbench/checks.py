"""Independent output checks.  Everything here is numpy or plain Python
written from the specifications (Web Mercator tiling, MVT 2.1, even-odd
ray casting, haversine); nothing imports ``zellige_spark``.

Each ``check_*`` returns a list of error strings: empty means the
output is correct.
"""

from __future__ import annotations

import math

import numpy as np

import mvtread

R_MERC = 6378137.0
MAX_EXT = 20037508.342789244
R_EARTH_KM = 6371.0


# ---------------------------------------------------------------------------
# tiling arithmetic
# ---------------------------------------------------------------------------

def mercator(lon, lat):
    lon = np.asarray(lon, dtype=np.float64)
    lat = np.asarray(lat, dtype=np.float64)
    x = np.minimum(R_MERC * np.radians(lon), MAX_EXT)
    y = np.maximum(R_MERC * np.log(np.tan(np.pi / 4 + 0.5 * np.radians(lat))), -MAX_EXT)
    return x, y


def buffered_assignment(lon, lat, zoom: int, extent: int = 4096, buffer: int = 128):
    """Every (point, tile) pair at ``zoom`` whose tile's buffered window
    holds the point.  Returns (point index, tile x, tile y, px, py) with
    px/py the unrounded tile-local pixels."""
    x, y = mercator(lon, lat)
    n = 2 ** zoom
    res = 2.0 * MAX_EXT / n
    fx = (x + MAX_EXT) / res
    fy = (MAX_EXT - y) / res
    bx = np.minimum(np.floor(fx), n - 1)
    by = np.minimum(np.floor(fy), n - 1)
    pad = buffer / extent
    idx, txs, tys = [], [], []
    for sx in (-1, 0, 1):
        for sy in (-1, 0, 1):
            tx, ty = bx + sx, by + sy
            ok = ((tx >= 0) & (ty >= 0) & (tx < n) & (ty < n)
                  & (fx >= tx - pad) & (fx <= tx + 1 + pad)
                  & (fy >= ty - pad) & (fy <= ty + 1 + pad))
            k = np.nonzero(ok)[0]
            idx.append(k)
            txs.append(tx[k])
            tys.append(ty[k])
    idx = np.concatenate(idx)
    tx = np.concatenate(txs)
    ty = np.concatenate(tys)
    px = (x[idx] - (-MAX_EXT + tx * res)) * extent / res
    py = (y[idx] - (MAX_EXT - ty * res)) * extent / (-res)
    keep = (px >= -buffer) & (px <= extent + buffer) & (py >= -buffer) & (py <= extent + buffer)
    return idx[keep], tx[keep].astype(np.int64), ty[keep].astype(np.int64), px[keep], py[keep]


def pyramid_counts(lon, lat, zooms, extent=4096, buffer=128) -> dict:
    """{zoom: (tile count, feature sum)} of a buffered point pyramid."""
    out = {}
    for z in zooms:
        idx, tx, ty, _, _ = buffered_assignment(lon, lat, z, extent, buffer)
        out[z] = (len(np.unique(tx * (1 << 28) + ty)), len(idx))
    return out


def tile_keys(lon, lat, zooms, extent=4096, buffer=128) -> set:
    keys = set()
    for z in zooms:
        _, tx, ty, _, _ = buffered_assignment(lon, lat, z, extent, buffer)
        keys.update(zip([z] * len(tx), tx.tolist(), ty.tolist()))
    return keys


def expected_point_tile(ids, lon, lat, z: int, x: int, y: int,
                        extent=4096, buffer=128):
    """(image ids in image_id order, px, py) of one tile's features."""
    idx, tx, ty, px, py = buffered_assignment(lon, lat, z, extent, buffer)
    sel = (tx == x) & (ty == y)
    idx, px, py = idx[sel], px[sel], py[sel]
    order = sorted(range(len(idx)), key=lambda j: ids[idx[j]])
    return [ids[idx[j]] for j in order], px[order], py[order]


# ---------------------------------------------------------------------------
# pyramid checks
# ---------------------------------------------------------------------------

def _pixel_ok(got: int, want: float) -> bool:
    """Half-even rounding of the expected pixel; a value within 1e-6 of
    a .5 boundary may round either way (1-ulp transcendental spread)."""
    r = float(np.rint(want))
    if got == r:
        return True
    frac = abs(want - math.floor(want) - 0.5)
    return frac < 1e-6 and abs(got - want) <= 0.5 + 1e-6


def check_point_tile(tile: bytes, want_ids, want_px, want_py,
                     layer: str = "images", extent: int = 4096) -> list:
    """A decoded point tile holds exactly the expected points: feature i
    (1-based id) is the i-th image id in image_id order, placed at its
    tile-local pixel, tagged image_id=<id>."""
    try:
        layers = mvtread.decode(tile)
    except mvtread.MvtFormatError as e:
        return [f"undecodable tile: {e}"]
    if list(layers) != [layer]:
        return [f"layers {list(layers)} != [{layer}]"]
    lay = layers[layer]
    errs = []
    if lay["extent"] != extent or lay["version"] != 2:
        errs.append(f"extent/version {lay['extent']}/{lay['version']}")
    feats = lay["features"]
    if len(feats) != len(want_ids):
        return errs + [f"{len(feats)} features, expected {len(want_ids)}"]
    for i, f in enumerate(feats):
        if f["id"] != i + 1:
            errs.append(f"feature {i} id {f['id']} != {i + 1}")
        if f["type"] != 1 or len(f["paths"]) != 1 or len(f["paths"][0]) != 1:
            errs.append(f"feature {i} is not a single point")
            continue
        if f["props"] != {"image_id": want_ids[i]}:
            errs.append(f"feature {i} props {f['props']} != image_id {want_ids[i]}")
        gx, gy = f["paths"][0][0]
        if not (_pixel_ok(gx, want_px[i]) and _pixel_ok(gy, want_py[i])):
            errs.append(f"feature {i} at ({gx},{gy}), expected "
                        f"({want_px[i]:.3f},{want_py[i]:.3f})")
        if len(errs) > 20:
            break
    return errs


def check_counts(got: dict, want: dict) -> list:
    """Per-zoom (tile count, feature sum) equality."""
    errs = []
    for z in sorted(set(got) | set(want)):
        if got.get(z) != want.get(z):
            errs.append(f"zoom {z}: got {got.get(z)}, expected {want.get(z)}")
    return errs


def check_same_tiles(got: dict, want: dict, what: str) -> list:
    """Two {tile key: crc} maps are equal."""
    errs = []
    missing = set(want) - set(got)
    extra = set(got) - set(want)
    diff = [k for k in set(got) & set(want) if got[k] != want[k]]
    if missing:
        errs.append(f"{what}: {len(missing)} tiles missing, e.g. {sorted(missing)[:3]}")
    if extra:
        errs.append(f"{what}: {len(extra)} extra tiles, e.g. {sorted(extra)[:3]}")
    if diff:
        errs.append(f"{what}: {len(diff)} tiles differ, e.g. {sorted(diff)[:3]}")
    return errs


def check_changed_within_dirty(before: dict, after: dict, dirty: set) -> list:
    """A refresh may change only dirty tiles."""
    changed = {k for k in set(before) | set(after) if before.get(k) != after.get(k)}
    outside = changed - dirty
    if outside:
        return [f"{len(outside)} changed tiles outside the dirty set, e.g. {sorted(outside)[:3]}"]
    return []


# ---------------------------------------------------------------------------
# feature tile checks
# ---------------------------------------------------------------------------

def feature_bboxes(features: list) -> dict:
    """{feature id: (min_lon, min_lat, max_lon, max_lat)} of GeoJSON features."""
    out = {}
    for f in features:
        g = f["geometry"]
        c = g["coordinates"]
        pts = np.asarray(c if g["type"] == "LineString" else [p for ring in c for p in ring],
                         dtype=np.float64)
        out[f["id"]] = (pts[:, 0].min(), pts[:, 1].min(), pts[:, 0].max(), pts[:, 1].max())
    return out


def bbox_tile_fanout(bboxes: dict, zoom: int, extent=4096, buffer=128) -> set:
    """Tiles each feature bbox (padded by the buffer) covers at ``zoom``."""
    n = 2 ** zoom
    res = 2.0 * MAX_EXT / n
    pad = buffer / extent
    tiles = set()
    for b in bboxes.values():
        x0, y1 = mercator(b[0], b[1])
        x1, y0 = mercator(b[2], b[3])
        fx0 = math.floor((x0 + MAX_EXT) / res - pad)
        fx1 = math.floor((x1 + MAX_EXT) / res + pad)
        fy0 = math.floor((MAX_EXT - y0) / res - pad)
        fy1 = math.floor((MAX_EXT - y1) / res + pad)
        for tx in range(max(0, fx0), min(n - 1, fx1) + 1):
            for ty in range(max(0, fy0), min(n - 1, fy1) + 1):
                tiles.add((zoom, tx, ty))
    return tiles


def _bbox_in_tile(b, z, x, y, extent):
    """Input lon/lat bbox as tile-local pixel bounds of tile (z, x, y)."""
    res = 2.0 * MAX_EXT / 2 ** z
    mx0, my0 = mercator(b[0], b[1])
    mx1, my1 = mercator(b[2], b[3])
    px0 = (mx0 - (-MAX_EXT + x * res)) * extent / res
    px1 = (mx1 - (-MAX_EXT + x * res)) * extent / res
    py0 = (my1 - (MAX_EXT - y * res)) * extent / (-res)
    py1 = (my0 - (MAX_EXT - y * res)) * extent / (-res)
    return px0, py0, px1, py1


def check_feature_tiles(tiles: dict, bboxes: dict, kinds: dict, zoom: int,
                        layer: str = "layer", extent: int = 4096,
                        buffer: int = 128) -> list:
    """tiles: {(z, x, y): mvt bytes}.  The tile set is the bbox fan-out;
    every decoded vertex lies inside the buffered window; every decoded
    feature comes from an input whose bbox meets the tile's window and
    keeps its geometry kind; polygon rings alternate exterior/hole
    orientation consistently (see ``ring_signs``)."""
    errs = []
    want = bbox_tile_fanout(bboxes, zoom, extent, buffer)
    if set(tiles) != want:
        errs.append(f"tile set: {len(set(tiles) - want)} extra, "
                    f"{len(want - set(tiles))} missing")
    lo, hi = -buffer, extent + buffer
    gtype = {"LineString": 2, "Polygon": 3}
    for key in sorted(tiles):
        try:
            layers = mvtread.decode(tiles[key])
        except mvtread.MvtFormatError as e:
            errs.append(f"{key}: undecodable: {e}")
            continue
        for lay in layers.values():
            for f in lay["features"]:
                fid = f["id"]
                if fid not in bboxes:
                    errs.append(f"{key}: feature id {fid} not in the input")
                    continue
                if f["type"] != gtype[kinds[fid]]:
                    errs.append(f"{key}: feature {fid} type {f['type']} for {kinds[fid]}")
                for path in f["paths"]:
                    for vx, vy in path:
                        if not (lo <= vx <= hi and lo <= vy <= hi):
                            errs.append(f"{key}: feature {fid} vertex ({vx},{vy}) "
                                        f"outside the buffered window")
                            break
                px0, py0, px1, py1 = _bbox_in_tile(bboxes[fid], *key, extent)
                if px1 < lo or px0 > hi or py1 < lo or py0 > hi:
                    errs.append(f"{key}: feature {fid} bbox misses the tile window")
        if len(errs) > 20:
            break
    return errs


def ring_signs(tiles: dict) -> list:
    """(exterior area sign, [hole area signs]) of every decoded polygon
    feature: its first ring is the exterior, the rest are holes."""
    out = []
    for key in sorted(tiles):
        for lay in mvtread.decode(tiles[key]).values():
            for f in lay["features"]:
                if f["type"] != 3 or not f["paths"]:
                    continue
                signs = [np.sign(mvtread.ring_area(r)) for r in f["paths"]]
                out.append((key, f["id"], signs[0], signs[1:]))
    return out


def check_ring_orientation(tiles: dict) -> list:
    """Every exterior ring has one non-zero area sign, every hole the
    opposite sign."""
    signs = ring_signs(tiles)
    ext = {s for _, _, s, _ in signs}
    errs = []
    if 0 in ext:
        errs.append("a polygon exterior ring has zero area")
    if len(ext - {0}) > 1:
        errs.append("polygon exterior rings wind both ways")
    for key, fid, s, holes in signs:
        if any(h != -s for h in holes):
            errs.append(f"{key}: feature {fid} hole winds like its exterior")
    return errs


def check_spec_winding(tile: bytes) -> list:
    """MVT 2.1 section 4.3.4.4: an exterior ring has positive area by the
    surveyor's formula in tile coordinates, an interior ring negative."""
    errs = []
    for lay in mvtread.decode(tile).values():
        for f in lay["features"]:
            if f["type"] != 3:
                continue
            for i, r in enumerate(f["paths"]):
                a = mvtread.ring_area(r)
                if (i == 0 and a <= 0) or (i > 0 and a >= 0):
                    errs.append(f"feature {f['id']} ring {i} area {a}")
    return errs


# ---------------------------------------------------------------------------
# join checks
# ---------------------------------------------------------------------------

def even_odd_inside(px, py, rings) -> np.ndarray:
    """Even-odd ray cast of points against one polygon's closed rings."""
    px = np.asarray(px, dtype=np.float64)
    py = np.asarray(py, dtype=np.float64)
    inside = np.zeros(len(px), dtype=bool)
    for ring in rings:
        r = np.asarray(ring, dtype=np.float64)
        for (xa, ya), (xb, yb) in zip(r[:-1], r[1:]):
            if ya == yb:
                continue
            span = (ya > py) != (yb > py)
            xc = xa + (py - ya) * (xb - xa) / (yb - ya)
            inside ^= span & (px < xc)
    return inside


def pip_pairs(ids, lon, lat, polygons: list) -> set:
    """{(image id, polygon id)} by bbox filter then even-odd ray cast."""
    pairs = set()
    lon = np.asarray(lon)
    lat = np.asarray(lat)
    for p in polygons:
        k = np.nonzero((lon >= p["min_lon"]) & (lon <= p["max_lon"])
                       & (lat >= p["min_lat"]) & (lat <= p["max_lat"]))[0]
        if len(k) == 0:
            continue
        hit = k[even_odd_inside(lon[k], lat[k], p["rings"])]
        pairs.update((ids[i], p["polygon_id"]) for i in hit)
    return pairs


def bbox_candidates(lon, lat, polygons: list) -> int:
    lon = np.asarray(lon)
    lat = np.asarray(lat)
    return int(sum(((lon >= p["min_lon"]) & (lon <= p["max_lon"])
                    & (lat >= p["min_lat"]) & (lat <= p["max_lat"])).sum()
                   for p in polygons))


def check_pairs(got: set, want: set) -> list:
    errs = []
    if got - want:
        errs.append(f"{len(got - want)} extra PIP pairs, e.g. {sorted(got - want)[:3]}")
    if want - got:
        errs.append(f"{len(want - got)} missing PIP pairs, e.g. {sorted(want - got)[:3]}")
    return errs


def haversine_km(lon1, lat1, lon2, lat2):
    r1, r2 = np.radians(lat1), np.radians(lat2)
    dlat = r2 - r1
    dlon = np.radians(lon2) - np.radians(lon1)
    a = np.sin(dlat / 2) ** 2 + np.cos(r1) * np.cos(r2) * np.sin(dlon / 2) ** 2
    return 2.0 * R_EARTH_KM * np.arcsin(np.sqrt(a))


def check_knn(rows: list, queries: dict, data_ids: list, data_lon, data_lat,
              k: int, rtol: float = 1e-9) -> list:
    """rows: (query_id, neighbor_id, dist_km, rank).  Each query gets k
    distinct neighbours ranked 1..k; each reported distance is the
    neighbour's true haversine distance; the k distances equal numpy's
    brute-force top-k."""
    errs = []
    pos = {d: i for i, d in enumerate(data_ids)}
    by_q = {}
    for q, nb, d, rank in rows:
        by_q.setdefault(int(q), []).append((int(rank), nb, float(d)))
    data_lon = np.asarray(data_lon)
    data_lat = np.asarray(data_lat)
    for qi, q in enumerate(queries["query_id"]):
        got = sorted(by_q.get(int(q), []))
        qlon, qlat = queries["lon"][qi], queries["lat"][qi]
        if [r for r, _, _ in got] != list(range(1, k + 1)):
            errs.append(f"query {q}: ranks {[r for r, _, _ in got]}")
            continue
        nbs = [nb for _, nb, _ in got]
        if len(set(nbs)) != k or any(nb not in pos for nb in nbs):
            errs.append(f"query {q}: neighbours not {k} distinct data ids")
            continue
        idx = np.array([pos[nb] for nb in nbs])
        true_d = haversine_km(qlon, qlat, data_lon[idx], data_lat[idx])
        rep_d = np.array([d for _, _, d in got])
        if not np.allclose(true_d, rep_d, rtol=rtol, atol=1e-9):
            errs.append(f"query {q}: reported distances are not the neighbours' distances")
        brute = np.sort(haversine_km(qlon, qlat, data_lon, data_lat))[:k]
        if not np.allclose(np.sort(true_d), brute, rtol=rtol, atol=1e-9):
            errs.append(f"query {q}: distances {np.sort(true_d)} != brute force {brute}")
    return errs
