"""Round-2 structural regressions: generic-feature tile byte-identity
against the driver-side kernel reference, distributed GeoJSON parity,
streaming-refresh replay idempotency."""

import json
import os
import shutil
from functools import reduce

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from zellige_spark import io_geojson
from zellige_spark.kernel import pipeline as kpipe
from zellige_spark.operators import feature_tiles as FT

from .tile_reference import assert_same_tiles, feature_tiles_reference

SMALL = "/root/reference/test/integration/small.json"
T10056 = "/root/reference/test/integration/10056.json"
DATA = os.path.join(os.path.dirname(__file__), "data")
# committed line + polygon fixtures, plus the reference integration
# inputs wherever that checkout is present
GEOJSON_INPUTS = [os.path.join(DATA, "lines.geojson"),
                  os.path.join(DATA, "polygons.geojson"),
                  *(p for p in (SMALL, T10056) if os.path.exists(p))]


def _mixed_features(spark):
    """Line + polygon fixtures with globally unique fids (a total order,
    so the Spark path and the driver reference see the same feature
    sequence)."""
    feats = reduce(DataFrame.unionByName,
                   (io_geojson.read_geojson_distributed(spark, p)
                    for p in GEOJSON_INPUTS))
    w = Window.orderBy("geom_type", "props_json")
    return feats.withColumn("fid", F.row_number().over(w).cast("long"))


def test_feature_tiles_streaming_matches_grouped(spark):
    """The grouped Spark feature path is byte-identical to the
    driver-side kernel reference, tile for tile."""
    feats = _mixed_features(spark)
    assigned = FT.assign_feature_tiles(feats, zoom=15, extent=2048)
    grouped = FT.assemble_feature_tiles(assigned, layer_name="demo",
                                        extent=2048).toPandas()
    assert_same_tiles(grouped, feature_tiles_reference(
        assigned, layer_name="demo", extent=2048))


def _double_parts(parts):
    """Kernel parts with every coordinate as a double (the schema type)."""
    return [[[[float(c) for c in pt] for pt in ring] for ring in part]
            for part in parts]


def test_read_geojson_distributed_parity(spark):
    for path in GEOJSON_INPUTS:
        with open(path) as fh:
            kernel = {(f["fid"], f["geom_type"], json.dumps(_double_parts(f["parts"])),
                       json.dumps(f["props"], sort_keys=True))
                      for f in kpipe.geojson_to_features(json.load(fh))}
        dist = {(r["fid"], r["geom_type"], json.dumps(r["parts"]), r["props_json"])
                for r in io_geojson.read_geojson_distributed(spark, path).collect()}
        assert kernel == dist and len(kernel) > 0


def test_stream_tile_refresh_semijoin_fallback(spark, tmp_path):
    """touched_cap=1 forces the broadcast semi-join path (no driver
    collect of tile keys); tiles must still equal the batch recompute."""
    from zellige_spark import synth
    from zellige_spark.operators import encode as E
    from zellige_spark.operators import tiles as T
    from zellige_spark.streaming.tiles import read_latest_tiles, stream_tile_refresh

    src = str(tmp_path / "src")
    os.makedirs(src)
    rows = synth.gen_images_pandas(0, 120)[["image_id", "lon", "lat"]]
    spark.createDataFrame(rows).coalesce(1).write.mode("append").parquet(src)

    q, store = stream_tile_refresh(spark, src, str(tmp_path / "work"),
                                   zoom=4, touched_cap=1)
    q.awaitTermination(240)
    latest = read_latest_tiles(spark, store).toPandas() \
        .sort_values(["tile_x", "tile_y"], ignore_index=True)
    expected = E.assemble_point_tiles_streaming(
        T.assign_tiles_buffered(spark.read.parquet(src), zoom=4)).toPandas() \
        .sort_values(["tile_x", "tile_y"], ignore_index=True)
    assert len(latest) == len(expected) > 1
    assert (latest["mvt"] == expected["mvt"]).all()


def test_pyfiles_zip_is_self_contained(tmp_path):
    """The spark-submit --py-files deployment unit imports standalone
    (kernel runs from the zip with no repo checkout on sys.path)."""
    import subprocess
    import sys

    out = str(tmp_path / "zellige_spark.zip")
    subprocess.run([sys.executable, "scripts/build_pyfiles.py", out],
                   check=True, cwd="/root/repo", capture_output=True)
    code = (
        f"import sys; sys.path.insert(0, {out!r});\n"
        "import numpy as np\n"
        "from zellige_spark.kernel import mvt, mercator\n"
        "cmds = mvt.point_feature_commands(np.array([[3, 4]]))\n"
        "t = mvt.encode_tile([mvt.encode_layer('l', "
        "[mvt.encode_feature(1, [], mvt.GEOM_POINT, cmds)], [], [], 4096)])\n"
        "assert mvt.decode_tile(t)['l']['features'][0]['geometry'] == [(3, 4)]\n"
        "print('zip-ok')\n")
    res = subprocess.run([sys.executable, "-c", code], capture_output=True,
                         text=True, cwd=str(tmp_path))
    assert res.returncode == 0, res.stderr[-1500:]
    assert "zip-ok" in res.stdout


def test_stream_tile_refresh_replay_is_idempotent(spark, tmp_path):
    from zellige_spark import synth
    from zellige_spark.operators import encode as E
    from zellige_spark.operators import tiles as T
    from zellige_spark.streaming.tiles import read_latest_tiles, stream_tile_refresh

    src = str(tmp_path / "src")
    os.makedirs(src)
    a = synth.gen_images_pandas(0, 150)[["image_id", "lon", "lat"]]
    b = synth.gen_images_pandas(150, 300)[["image_id", "lon", "lat"]]
    spark.createDataFrame(a).coalesce(1).write.mode("append").parquet(src)
    spark.createDataFrame(b).coalesce(1).write.mode("append").parquet(src)

    work = str(tmp_path / "work")
    q, store = stream_tile_refresh(spark, src, work, zoom=5)
    q.awaitTermination(240)
    # simulate an at-least-once replay of EVERY batch: wipe the stream
    # checkpoint (not the staging/store) and run the stream again
    shutil.rmtree(os.path.join(work, "ckpt"))
    q2, store2 = stream_tile_refresh(spark, src, work, zoom=5)
    q2.awaitTermination(240)

    latest = read_latest_tiles(spark, store2).toPandas() \
        .sort_values(["tile_x", "tile_y"], ignore_index=True)
    expected = E.assemble_point_tiles_streaming(
        T.assign_tiles_buffered(spark.read.parquet(src), zoom=5)).toPandas() \
        .sort_values(["tile_x", "tile_y"], ignore_index=True)
    assert len(latest) == len(expected)
    assert (latest["feature_count"].to_numpy()
            == expected["feature_count"].to_numpy()).all()
    assert (latest["mvt"] == expected["mvt"]).all()  # no double counting
