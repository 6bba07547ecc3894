"""Spark operator tests: tile assignment, MVT tile assembly (streaming
fold byte-identical to the driver-side reference), PIP join (broadcast
== bucketed == numpy oracle), kNN (k-ring == brute force).  Runs on
local[4] with 500-2000 synthetic rows."""

import numpy as np
import pytest
from pyspark.sql import functions as F

from zellige_spark import synth
from zellige_spark.kernel import mercator as km
from zellige_spark.kernel import mvt as kmvt
from zellige_spark.operators import encode as E
from zellige_spark.operators import knn as KNN
from zellige_spark.operators import pip as PIP
from zellige_spark.operators import tiles as T

from .tile_reference import assert_same_tiles, point_tiles_reference


@pytest.fixture(scope="module")
def images(spark):
    return synth.images_df(spark, 600).cache()


def test_assignment_matches_numpy_kernel(spark, images):
    pdf = images.select("image_id", "lon", "lat").toPandas()
    a = T.assign_tiles(images.select("image_id", "lon", "lat"), [0, 4, 9, 14])
    got = {(r["image_id"], r["zoom"]): (r["tile_x"], r["tile_y"]) for r in a.collect()}
    X = km.lon_to_x(pdf["lon"].to_numpy())
    Y = km.lat_to_y(pdf["lat"].to_numpy())
    for z in (0, 4, 9, 14):
        tx, ty = km.xy3857_to_tile(X, Y, z)
        for i, img in enumerate(pdf["image_id"]):
            assert got[(img, z)] == (tx[i], ty[i])


def test_assignment_row_count(spark, images):
    a = T.assign_tiles(images, range(0, 15))
    assert a.count() == images.count() * 15


def test_assignment_plan_no_shuffle_no_udf(spark, images):
    a = T.assign_tiles(images.select("lon", "lat"), range(0, 15))
    plan = a._jdf.queryExecution().executedPlan().toString()
    assert "Exchange" not in plan  # no shuffle
    assert "BatchEvalPython" not in plan and "ArrowEvalPython" not in plan  # no UDF


def test_buffered_assignment_superset(spark, images):
    plain = T.assign_tiles(images.select("image_id", "lon", "lat"), [8])
    buf = T.assign_tiles_buffered(images.select("image_id", "lon", "lat"), zoom=8)
    p = {(r["image_id"], r["tile_x"], r["tile_y"]) for r in plain.collect()}
    b = {(r["image_id"], r["tile_x"], r["tile_y"]) for r in buf.collect()}
    assert p <= b
    assert len(b) < 2 * len(p)  # edge band only, not 9x fan-out


def test_encode_strategies_byte_identical(spark, images):
    ab = T.assign_tiles_buffered(images.select("image_id", "lon", "lat"), zoom=6).cache()
    got = E.assemble_point_tiles_streaming(ab).toPandas()
    assert_same_tiles(got, point_tiles_reference(ab))
    assert got["feature_count"].sum() == ab.count()


def test_streaming_fold_across_tiny_arrow_batches(spark, images):
    # force tiles to span many Arrow batches so the pending-tile
    # continuation logic in the streaming fold is exercised
    ab = T.assign_tiles_buffered(images.select("image_id", "lon", "lat"), zoom=3)
    ref = point_tiles_reference(ab)
    spark.conf.set("spark.sql.execution.arrow.maxRecordsPerBatch", "7")
    try:
        got = E.assemble_point_tiles_streaming(ab, num_partitions=2).toPandas()
    finally:
        spark.conf.set("spark.sql.execution.arrow.maxRecordsPerBatch", "65536")
    assert_same_tiles(got, ref)


def test_encoded_tile_decodes_and_matches_kernel(spark, images):
    ab = T.assign_tiles_buffered(images.select("image_id", "lon", "lat"), zoom=6)
    tiles = E.assemble_point_tiles_streaming(ab).toPandas()
    assert_same_tiles(tiles, point_tiles_reference(ab))
    row = tiles.iloc[tiles["feature_count"].idxmax()]
    layer = kmvt.decode_tile(bytes(row["mvt"]))["images"]
    assert layer["version"] == 2 and layer["extent"] == 4096
    assert len(layer["features"]) == row["feature_count"]
    # ids are the 1..n counter in image_id order (convertId semantics)
    assert [f["id"] for f in layer["features"]] == list(range(1, len(layer["features"]) + 1))
    metas = [f["metadata"]["image_id"][1] for f in layer["features"]]
    assert metas == sorted(metas)
    # geometry values: re-derive one feature's pixel from the kernel
    f0 = layer["features"][0]
    img_id = metas[0]
    r = images.filter(F.col("image_id") == img_id).collect()[0]
    bbox = km.tile_bbox(int(row["zoom"]), int(row["tile_x"]), int(row["tile_y"]))
    px, py = km.lonlat_to_tile_local(np.array([r["lon"]]), np.array([r["lat"]]), 4096, 1, bbox)
    assert f0["geometry"][0] == (int(np.rint(px[0])), int(np.rint(py[0])))


def _numpy_pip_oracle(points_pdf, polys):
    out = set()
    for p in polys:
        rings = [np.asarray(r) for r in p["rings"]]
        mask = PIP.ray_cast_mask(points_pdf["lon"].to_numpy(), points_pdf["lat"].to_numpy(), rings)
        bbox = ((points_pdf["lon"].to_numpy() >= p["min_lon"]) & (points_pdf["lon"].to_numpy() <= p["max_lon"])
                & (points_pdf["lat"].to_numpy() >= p["min_lat"]) & (points_pdf["lat"].to_numpy() <= p["max_lat"]))
        for img in points_pdf.loc[mask & bbox, "image_id"]:
            out.add((img, p["polygon_id"]))
    return out


def test_pip_broadcast_matches_oracle_and_bucketed(spark, images):
    polys = synth.gen_coverage_polygons(30)
    polys_df = synth.coverage_polygons_df(spark, 30)
    pts = images.select("image_id", "lon", "lat")
    got_b = {(r["image_id"], r["polygon_id"])
             for r in PIP.pip_join_broadcast(pts, polys_df).collect()}
    got_c = {(r["image_id"], r["polygon_id"])
             for r in PIP.pip_join_bucketed(pts, polys_df, index_zoom=6).collect()}
    oracle = _numpy_pip_oracle(pts.toPandas(), polys)
    assert got_b == oracle
    assert got_c == oracle
    assert len(oracle) > 0  # clusters guarantee hits


def test_knn_kring_matches_bruteforce(spark, images):
    queries = spark.createDataFrame(
        [(f"q{i}", float(c[0]), float(c[1]))
         for i, c in enumerate(synth.cluster_centers()[:8])],
        "query_id string, lon double, lat double")
    data = images.select("image_id", "lon", "lat")
    brute = KNN.knn_bruteforce(queries, data, k=5).toPandas()
    ring = KNN.knn_kring(queries, data, k=5, index_zoom=4, max_ring=2).toPandas()
    b = brute.sort_values(["query_id", "rank"], ignore_index=True)
    r = ring.sort_values(["query_id", "rank"], ignore_index=True)
    assert b[["query_id", "neighbor_id", "rank"]].equals(r[["query_id", "neighbor_id", "rank"]])
    assert np.allclose(b["dist_km"], r["dist_km"])


def test_distributed_generation_matches_local(spark):
    df = synth.images_df(spark, 50, partitions=7).toPandas().sort_values("image_id", ignore_index=True)
    local = synth.gen_images_pandas(0, 50).sort_values("image_id", ignore_index=True)
    assert (df["image_id"] == local["image_id"]).all()
    assert (df["caption"] == local["caption"]).all()
    assert (df["phash"] == local["phash"]).all()
    assert [bytes(b) for b in df["bytes"]] == [bytes(b) for b in local["bytes"]]


def test_tile_moments_decomposable_and_match_numpy(spark, images):
    """The moment sketch must (a) merge: moments of two disjoint halves
    sum to the whole corpus' moments per tile, and (b) agree with an
    independent numpy recompute of the quantized offsets."""
    import pandas as pd

    pts = images.select("image_id", "lon", "lat")
    whole = T.tile_moments(pts, 5).toPandas() \
        .set_index(["tile_x", "tile_y"]).sort_index()

    # (a) decomposability
    h1 = T.tile_moments(pts.filter(F.col("image_id") < "img-000300"), 5) \
        .toPandas().set_index(["tile_x", "tile_y"])
    h2 = T.tile_moments(pts.filter(F.col("image_id") >= "img-000300"), 5) \
        .toPandas().set_index(["tile_x", "tile_y"])
    cols = ["n", "sum_dx", "sum_dy", "sum_xx", "sum_yy", "sum_xy"]
    merged = h1[cols].add(h2[cols], fill_value=0).astype("int64").sort_index()
    assert merged.equals(whole[cols])

    # (b) numpy oracle on the offsets
    pdf = pts.toPandas()
    R = 6378137.0
    x = R * np.radians(pdf["lon"].to_numpy())
    y = R * np.log(np.tan(0.25 * np.pi + 0.5 * np.radians(pdf["lat"].to_numpy())))
    MAXE = 20037508.342789244
    x = np.minimum(x, MAXE)
    y = np.maximum(y, -MAXE)
    n = 32
    res = 2.0 * MAXE / n
    tx = np.clip(np.floor((x + MAXE) / res), 0, n - 1).astype(np.int64)
    ty = np.clip(np.floor((MAXE - y) / res), 0, n - 1).astype(np.int64)
    dx = np.floor((x + MAXE - tx * res) / 10).astype(np.int64)
    dy = np.floor((MAXE - y - ty * res) / 10).astype(np.int64)
    brute = (pd.DataFrame({"tile_x": tx, "tile_y": ty, "dx": dx, "dy": dy})
             .groupby(["tile_x", "tile_y"])
             .agg(n=("dx", "size"), sum_dx=("dx", "sum"),
                  sum_dy=("dy", "sum")).sort_index())
    assert (whole["n"].to_numpy() == brute["n"].to_numpy()).all()
    assert (whole["sum_dx"].to_numpy() == brute["sum_dx"].to_numpy()).all()
    assert (whole["sum_dy"].to_numpy() == brute["sum_dy"].to_numpy()).all()
    # derived mean is the integer div of the sums
    assert (whole["mean_dx"].to_numpy()
            == whole["sum_dx"].to_numpy() // whole["n"].to_numpy()).all()


def test_pip_holes_excludes_hole_interior(spark):
    """The multi-ring even-odd path: matches(holed) == matches(outer)
    minus points inside the hole ring, and the excluded set is
    non-empty at the fixture scale."""
    from zellige_spark.queries import (PIP_HOLE, q_pip_holes,
                                       q_pip_polygon, _customer_points)

    # sf0.01: the hole actually swallows points (sf0.001 has none there)
    sf = "/root/testdata/sf0.01"
    outer = {r.c_custkey for r in q_pip_polygon(spark, sf).collect()}
    holed = {r.c_custkey for r in q_pip_holes(spark, sf).collect()}
    assert holed <= outer
    # numpy ray cast of the hole ring over the outer matches
    pdf = (_customer_points(spark, sf)
           .filter(F.col("c_custkey").isin(list(outer)))
           .select("c_custkey", F.col("lon").cast("double").alias("lon"),
                   F.col("lat").cast("double").alias("lat")).toPandas())
    verts = np.asarray(PIP_HOLE)
    cross = np.zeros(len(pdf), dtype=np.int64)
    lon = pdf["lon"].to_numpy()
    lat = pdf["lat"].to_numpy()
    for (x1, y1), (x2, y2) in zip(verts[:-1], verts[1:]):
        if y1 == y2:
            continue
        t = (lat - y1) / (y2 - y1)
        xint = x1 + t * (x2 - x1)
        cross += ((lat >= min(y1, y2)) & (lat < max(y1, y2))
                  & (xint > lon)).astype(np.int64)
    in_hole = set(pdf["c_custkey"].to_numpy()[(cross % 2) == 1].tolist())
    assert in_hole, "fixture hole should contain some matched points"
    assert holed == outer - in_hole
