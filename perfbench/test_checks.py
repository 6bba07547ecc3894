"""The benchmark's checkers must reject corrupted outputs.

    python3 -m pytest perfbench/test_checks.py -q

Tiles are written here with a minimal protobuf writer, so these tests
need neither Spark nor zellige_spark.
"""

from __future__ import annotations

import os
import sys

import numpy as np
import pytest

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

import checks  # noqa: E402
import mvtread  # noqa: E402


def _varint(n: int) -> bytes:
    out = bytearray()
    while True:
        b = n & 0x7F
        n >>= 7
        out.append(b | (0x80 if n else 0))
        if not n:
            return bytes(out)


def _len(num: int, payload: bytes) -> bytes:
    return _varint(num << 3 | 2) + _varint(len(payload)) + payload


def _int(num: int, v: int) -> bytes:
    return _varint(num << 3) + _varint(v)


def _packed(num: int, vals) -> bytes:
    return _len(num, b"".join(_varint(v) for v in vals))


def _zig(n: int) -> int:
    return (n << 1) ^ (n >> 63)


def _geometry(paths, closed: bool) -> list:
    out, cx, cy = [], 0, 0
    for path in paths:
        pts = path[:-1] if closed else path
        for j, (x, y) in enumerate(pts):
            if j == 0:
                out.append(1 | 1 << 3)
            elif j == 1:
                out.append(2 | (len(pts) - 1) << 3)
            out += [_zig(x - cx), _zig(y - cy)]
            cx, cy = x, y
        if closed:
            out.append(7 | 1 << 3)
    return out


def _tile(features, keys=(), values=(), name="images", extent=4096) -> bytes:
    """features: (id, tags, type, paths)."""
    body = _int(15, 2) + _len(1, name.encode())
    for fid, tags, gtype, paths in features:
        body += _len(2, _int(1, fid) + _packed(2, tags) + _int(3, gtype)
                     + _packed(4, _geometry(paths, gtype == 3)))
    for k in keys:
        body += _len(3, k.encode())
    for v in values:
        body += _len(4, _len(1, v.encode()))
    body += _int(5, extent)
    return _len(3, body)


def _point_tile(ids, xs, ys) -> bytes:
    return _tile([(i + 1, [0, i], 1, [[(x, y)]]) for i, (x, y) in enumerate(zip(xs, ys))],
                 keys=["image_id"], values=ids)


# -- pyramid ----------------------------------------------------------------------

def _expected_tile():
    rng = np.random.default_rng(5)
    lon = 8.5 + rng.uniform(0, 0.02, 40)
    lat = 47.3 + rng.uniform(0, 0.02, 40)
    ids = [f"img{i:09d}" for i in rng.choice(10 ** 9, 40, replace=False)]
    idx, tx, ty, _, _ = checks.buffered_assignment(lon, lat, 12)
    key = (12, int(tx[0]), int(ty[0]))
    return checks.expected_point_tile(ids, lon, lat, *key)


def test_point_tile_accepts_the_expected_tile():
    wid, px, py = _expected_tile()
    tile = _point_tile(wid, np.rint(px).astype(int), np.rint(py).astype(int))
    assert checks.check_point_tile(tile, wid, px, py) == []


def test_point_tile_rejects_a_moved_point():
    wid, px, py = _expected_tile()
    xs = np.rint(px).astype(int)
    xs[3] += 1
    tile = _point_tile(wid, xs, np.rint(py).astype(int))
    errs = checks.check_point_tile(tile, wid, px, py)
    assert any("feature 3 at" in e for e in errs)


def test_point_tile_rejects_ids_out_of_image_id_order():
    wid, px, py = _expected_tile()
    swapped = list(wid)
    swapped[0], swapped[1] = swapped[1], swapped[0]
    tile = _point_tile(swapped, np.rint(px).astype(int), np.rint(py).astype(int))
    assert checks.check_point_tile(tile, wid, px, py)


def test_counts_reject_a_lost_feature():
    lon = np.array([8.5, 8.6, 8.7])
    lat = np.array([47.3, 47.4, 47.5])
    want = checks.pyramid_counts(lon, lat, range(15))
    assert want[0] == (1, 3)
    got = dict(want)
    got[14] = (got[14][0], got[14][1] - 1)
    assert checks.check_counts(want, want) == []
    assert checks.check_counts(got, want)


def test_refresh_changes_outside_the_dirty_set_are_rejected():
    before = {(1, 0, 0): 11, (1, 1, 0): 12}
    after = {(1, 0, 0): 11, (1, 1, 0): 13}
    assert checks.check_changed_within_dirty(before, after, {(1, 1, 0)}) == []
    assert checks.check_changed_within_dirty(before, after, {(1, 0, 0)})


# -- features -----------------------------------------------------------------

def _feature_case():
    z, x, y = 12, 2145, 1434
    res = 2 * checks.MAX_EXT / 2 ** z
    x0 = -checks.MAX_EXT + x * res
    y0 = checks.MAX_EXT - y * res
    # a line across the tile's middle, as lon/lat
    mx = x0 + np.array([0.2, 0.8]) * res
    my = y0 - np.array([0.5, 0.5]) * res
    lon = np.degrees(mx / checks.R_MERC)
    lat = np.degrees(2 * np.arctan(np.exp(my / checks.R_MERC)) - np.pi / 2)
    feat = {"type": "Feature", "id": 9, "properties": {},
            "geometry": {"type": "LineString",
                         "coordinates": [[lon[0], lat[0]], [lon[1], lat[1]]]}}
    bboxes = checks.feature_bboxes([feat])
    tiles = {t: _tile([], name="layer") for t in checks.bbox_tile_fanout(bboxes, z)}
    tiles[(z, x, y)] = _tile([(9, [], 2, [[(819, 2048), (3277, 2048)]])], name="layer")
    return tiles, bboxes, {9: "LineString"}


def test_feature_tiles_accept_the_expected_tiles():
    tiles, bboxes, kinds = _feature_case()
    assert checks.check_feature_tiles(tiles, bboxes, kinds, 12) == []


def test_feature_tiles_reject_a_vertex_outside_the_buffered_window():
    tiles, bboxes, kinds = _feature_case()
    tiles[(12, 2145, 1434)] = _tile([(9, [], 2, [[(819, 2048), (4500, 2048)]])], name="layer")
    errs = checks.check_feature_tiles(tiles, bboxes, kinds, 12)
    assert any("outside the buffered window" in e for e in errs)


def test_feature_tiles_reject_a_missing_tile_and_a_foreign_feature():
    tiles, bboxes, kinds = _feature_case()
    far = (12, 2000, 1400)
    tiles[far] = _tile([(9, [], 2, [[(10, 10), (20, 20)]])], name="layer")
    errs = checks.check_feature_tiles(tiles, bboxes, kinds, 12)
    assert any("tile set" in e for e in errs)
    assert any("bbox misses" in e for e in errs)


def test_ring_orientation_and_spec_winding():
    cw = [(0, 0), (10, 0), (10, 10), (0, 10), (0, 0)]      # positive area
    hole = [(2, 2), (2, 4), (4, 4), (4, 2), (2, 2)]        # negative area
    good = _tile([(1, [], 3, [cw, hole])], name="layer")
    flipped = _tile([(1, [], 3, [cw[::-1], hole[::-1]])], name="layer")
    same = _tile([(1, [], 3, [cw, cw])], name="layer")
    assert mvtread.ring_area(cw) > 0
    assert checks.check_spec_winding(good) == []
    assert checks.check_spec_winding(flipped)
    assert checks.check_ring_orientation({(1, 0, 0): good}) == []
    assert checks.check_ring_orientation({(1, 0, 0): flipped}) == []
    assert checks.check_ring_orientation({(1, 0, 0): good, (1, 1, 0): flipped})
    assert checks.check_ring_orientation({(1, 0, 0): same})


# -- joins --------------------------------------------------------------------

def _pip_case():
    rng = np.random.default_rng(3)
    lon = rng.uniform(0, 10, 500)
    lat = rng.uniform(0, 10, 500)
    ids = [f"p{i}" for i in range(500)]
    square = [[2, 2], [8, 2], [8, 8], [2, 8], [2, 2]]
    hole = [[4, 4], [4, 6], [6, 6], [6, 4], [4, 4]]
    polys = [{"polygon_id": "a", "rings": [square, hole],
              "min_lon": 2, "min_lat": 2, "max_lon": 8, "max_lat": 8}]
    return ids, lon, lat, polys


def test_pip_reference_is_even_odd():
    ids, lon, lat, polys = _pip_case()
    want = checks.pip_pairs(ids, lon, lat, polys)
    inside = {ids[i] for i in range(len(ids))
              if 2 < lon[i] < 8 and 2 < lat[i] < 8 and not (4 < lon[i] < 6 and 4 < lat[i] < 6)}
    assert {p for p, _ in want} == inside


def test_pip_rejects_a_dropped_pair():
    ids, lon, lat, polys = _pip_case()
    want = checks.pip_pairs(ids, lon, lat, polys)
    assert checks.check_pairs(set(want), want) == []
    got = set(want)
    got.pop()
    assert checks.check_pairs(got, want)


def _knn_case(k=3):
    rng = np.random.default_rng(4)
    dlon = rng.uniform(0, 5, 300)
    dlat = rng.uniform(40, 45, 300)
    ids = [f"d{i}" for i in range(300)]
    q = {"query_id": np.arange(4), "lon": rng.uniform(0, 5, 4), "lat": rng.uniform(40, 45, 4)}
    rows = []
    for qi in range(4):
        d = checks.haversine_km(q["lon"][qi], q["lat"][qi], dlon, dlat)
        for rank, j in enumerate(np.argsort(d)[:k], start=1):
            rows.append((qi, ids[j], float(d[j]), rank))
    return rows, q, ids, dlon, dlat


def test_knn_accepts_brute_force():
    rows, q, ids, dlon, dlat = _knn_case()
    assert checks.check_knn(rows, q, ids, dlon, dlat, 3) == []


def test_knn_rejects_a_swapped_neighbour():
    rows, q, ids, dlon, dlat = _knn_case()
    used = {r[1] for r in rows}
    other = next(i for i in ids if i not in used)
    qid, _, dist, rank = rows[1]
    rows[1] = (qid, other, dist, rank)
    errs = checks.check_knn(rows, q, ids, dlon, dlat, 3)
    assert any("query 0" in e for e in errs)


def test_knn_rejects_a_wrong_distance():
    rows, q, ids, dlon, dlat = _knn_case()
    qid, nb, dist, rank = rows[2]
    rows[2] = (qid, nb, dist * 1.01, rank)
    assert checks.check_knn(rows, q, ids, dlon, dlat, 3)


def test_mvt_reader_rejects_truncated_tiles():
    tile = _point_tile(["a"], [1], [2])
    with pytest.raises(mvtread.MvtFormatError):
        mvtread.decode(tile[:-3])
