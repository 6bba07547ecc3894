"""CLI parity (the reference's only user-facing entry point) and
generic line/polygon feature tiling through Spark."""

import json
import os
import subprocess
import sys

import pytest
from pyspark.sql import functions as F

from zellige_spark import io_geojson
from zellige_spark.kernel import mvt as kmvt
from zellige_spark.operators import feature_tiles as FT

GOLDEN = "/root/reference/dump/small.mvt"
SMALL = "/root/reference/test/integration/small.json"
T10056 = "/root/reference/test/integration/10056.json"


def _needs(*paths):
    """Skip where the reference checkout lacks a file the test reads."""
    missing = [p for p in paths if not os.path.exists(p)]
    return pytest.mark.skipif(
        bool(missing), reason=f"reference file absent: {', '.join(missing)}")


@_needs(SMALL, GOLDEN)
def test_cli_reproduces_reference_golden(tmp_path):
    """The reference CLI example (README.md:8 / bench/Bench.hs:206-210)
    through OUR cli produces the golden bytes, end-to-end via Spark."""
    out = tmp_path / "small.mvt"
    cmd = [sys.executable, "-m", "zellige_spark.cli",
           "--layer-input", SMALL, "--layer-output", str(out),
           "--layer-name", "demo", "--layer-zoom", "15",
           "--layer-x", "28999", "--layer-y", "19781",
           "--layer-buffer", "128", "--layer-extent", "2048",
           "--layer-quantize-pixels", "1", "--master", "local[2]"]
    res = subprocess.run(cmd, capture_output=True, text=True, timeout=300,
                         cwd="/root/repo")
    assert res.returncode == 0, res.stderr[-2000:]
    assert out.read_bytes() == open(GOLDEN, "rb").read()


@pytest.mark.parametrize("features,n_out", [
    ([], 0),
    ([{"type": "Feature", "properties": {"k": 1},
       "geometry": {"type": "Point", "coordinates": [0, 0]}}], 1),
], ids=["empty", "int-point"])
def test_cli_empty_and_integer_coordinate_inputs(tmp_path, features, n_out):
    """An empty FeatureCollection still writes the requested tile (an
    empty layer), and integer coordinates parse as doubles."""
    src = tmp_path / "in.json"
    src.write_text(json.dumps({"type": "FeatureCollection",
                               "features": features}))
    out = tmp_path / "out.mvt"
    code = ("import sys; from zellige_spark import cli; "
            "raise SystemExit(cli.main(sys.argv[1:]))")
    cmd = [sys.executable, "-c", code,
           "--layer-input", str(src), "--layer-output", str(out),
           "--layer-name", "pts", "--layer-zoom", "0",
           "--layer-x", "0", "--layer-y", "0",
           "--layer-extent", "2048", "--master", "local[2]"]
    res = subprocess.run(cmd, capture_output=True, text=True, timeout=300,
                         cwd=os.path.dirname(os.path.dirname(__file__)))
    assert res.returncode == 0, res.stderr[-2000:]
    layer = kmvt.decode_tile(out.read_bytes())["pts"]
    assert layer["name"] == "pts" and layer["extent"] == 2048
    assert len(layer["features"]) == n_out


@_needs(SMALL)
def test_read_geojson_roundtrip(spark):
    df = io_geojson.read_geojson_distributed(spark, SMALL)
    rows = df.collect()
    assert len(rows) == 1
    assert rows[0]["geom_type"] == "MultiLineString"
    assert rows[0]["fid"] == 357
    props = json.loads(rows[0]["props_json"])
    assert props["road_no"] == "05610"


@_needs(T10056)
def test_feature_tiles_multipolygon(spark):
    feats = io_geojson.read_geojson_distributed(spark, T10056)
    assigned = FT.assign_feature_tiles(feats, zoom=15, extent=2048)
    tiles = FT.assemble_feature_tiles(assigned, layer_name="demo",
                                      extent=2048).toPandas()
    nonempty = tiles[tiles["feature_count"] > 0]
    assert len(nonempty) >= 1
    # the known central tile decodes with polygon features
    hit = nonempty[(nonempty["tile_x"] == 29585) & (nonempty["tile_y"] == 20113)]
    assert len(hit) == 1
    layer = kmvt.decode_tile(bytes(hit.iloc[0]["mvt"]))["demo"]
    assert all(f["type"] == kmvt.GEOM_POLYGON for f in layer["features"])


@_needs(SMALL)
def test_feature_tiles_bbox_assignment_covers_kernel_tile(spark):
    feats = io_geojson.read_geojson_distributed(spark, SMALL)
    assigned = FT.assign_feature_tiles(feats, zoom=15, extent=2048)
    keys = {(r["tile_x"], r["tile_y"]) for r in assigned.collect()}
    assert (28999, 19781) in keys
