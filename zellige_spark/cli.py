"""CLI with the reference's exact flag surface
(/root/reference/app/Main.hs:9-14, Types/LayerConfig.hs:27-68):

    python -m zellige_spark.cli \
        --layer-input f.json --layer-output f.mvt --layer-name n \
        --layer-zoom z --layer-x x --layer-y y [--layer-buffer 128] \
        [--layer-extent 4096] [--layer-quantize-pixels 1] \
        [--layer-simplification none|visvalingam|douglas-peucker]

A zellige user can run the same command shape against this engine and
get the same bytes (byte-for-byte on the reference's golden fixture).
Runs through Spark (the distributed path via spark-submit --py-files
works identically: the module only uses the SparkSession API).
"""

from __future__ import annotations

import argparse


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(prog="zellige-spark")
    ap.add_argument("--layer-input", required=True)
    ap.add_argument("--layer-output", required=True)
    ap.add_argument("--layer-name", required=True)
    ap.add_argument("--layer-zoom", type=int, required=True)
    ap.add_argument("--layer-x", type=int, required=True)
    ap.add_argument("--layer-y", type=int, required=True)
    ap.add_argument("--layer-buffer", type=int, default=128)
    ap.add_argument("--layer-extent", type=int, default=4096)
    ap.add_argument("--layer-quantize-pixels", type=int, default=1)
    ap.add_argument("--layer-simplification", default="none",
                    choices=["none", "visvalingam", "douglas-peucker"])
    ap.add_argument("--master", default=None, help="Spark master override")
    args = ap.parse_args(argv)

    from . import io_geojson
    from .kernel import pipeline as kpipe
    from .operators import feature_tiles as FT
    from .session import get_spark

    spark = get_spark(app="zellige-cli", master=args.master)
    spark.sparkContext.setLogLevel("ERROR")
    feats = io_geojson.read_geojson_distributed(spark, args.layer_input)
    # single-tile config: assign everything to the requested tile
    from pyspark.sql import functions as F

    assigned = (feats.withColumn("zoom", F.lit(args.layer_zoom))
                     .withColumn("tile_x", F.lit(args.layer_x).cast("long"))
                     .withColumn("tile_y", F.lit(args.layer_y).cast("long")))
    tiles = FT.assemble_feature_tiles(
        assigned, layer_name=args.layer_name, extent=args.layer_extent,
        buffer=args.layer_buffer, quantize=args.layer_quantize_pixels,
        simplify=args.layer_simplification)
    rows = tiles.collect()
    if rows:
        mvt, n_feats = bytes(rows[0]["mvt"]), rows[0]["feature_count"]
    else:  # no feature reached the encode: write the empty-layer tile
        mvt, n_feats = kpipe.encode_features([], kpipe.TileConfig(
            name=args.layer_name, z=args.layer_zoom, x=args.layer_x,
            y=args.layer_y, buffer=args.layer_buffer,
            extent=args.layer_extent, quantize=args.layer_quantize_pixels,
            simplify=args.layer_simplification)), 0
    with open(args.layer_output, "wb") as f:
        f.write(mvt)
    print(f"wrote {len(mvt)} bytes, {n_feats} features -> {args.layer_output}")
    spark.stop()
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
