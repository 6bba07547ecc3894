"""spark-submit entry point: the flagship pipeline as a cluster job.

    python scripts/build_pyfiles.py        # builds dist/zellige_spark.zip
    spark-submit --master <master> --py-files dist/zellige_spark.zip \
        scripts/submit_job.py --sf-dir /root/testdata/sf0.001 --out /tmp/out

The zip is not committed; build it first, from the same checkout.

Imports resolve from the shipped zip (no repo checkout on the
executors), runs tile assignment -> streaming MVT assembly plus an S2
cell assignment over the customer-derived points, writes the tiles
through the lineage store (resumable snapshot commit), and prints one
JSON result line.  `tests/test_spark_submit.py` runs this for real
against local[2].
"""

from __future__ import annotations

import argparse
import json


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("--sf-dir", default="/root/testdata/sf0.001")
    ap.add_argument("--out", default=None, help="lineage store root (optional)")
    ap.add_argument("--zoom", type=int, default=5)
    args = ap.parse_args()

    # plain builder: spark-submit owns master/conf; --py-files ships the pkg
    from pyspark.sql import SparkSession
    from pyspark.sql import functions as F

    spark = SparkSession.builder.appName("zellige-submit").getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")

    from zellige_spark.operators import encode as E
    from zellige_spark.operators import s2cells as S2C
    from zellige_spark.operators import tiles as T

    pts = (spark.read.parquet(f"{args.sf_dir}/customer.parquet")
           .select(F.col("c_custkey").cast("string").alias("image_id"),
                   F.expr("(c_custkey * 7919 % 360000) / 1000.0 - 180.0").alias("lon"),
                   F.expr("((c_custkey * 104729 + 13) % 170000) / 1000.0 - 85.0").alias("lat")))

    assigned = T.assign_tiles_buffered(pts, zoom=args.zoom)
    tiles = E.assemble_point_tiles_streaming(assigned)

    if args.out:
        from zellige_spark.plans.lineage import TileStore

        store = TileStore(args.out)
        sid = store.commit_tiles(tiles, input_desc=f"{args.sf_dir} z{args.zoom}")
        totals = store.manifest(sid)["metrics"]
    else:
        row = tiles.agg(F.count(F.lit(1)).alias("tiles"),
                        F.sum("feature_count").alias("features")).collect()[0]
        sid = None
        totals = {"tiles_out": int(row["tiles"]),
                  "features_out": int(row["features"] or 0)}

    s2_cells = (S2C.with_s2_cell(pts, 10)
                .agg(F.countDistinct("s2_cid").alias("n")).collect()[0]["n"])

    print(json.dumps({"ok": True, "snapshot": sid, "s2_distinct_cells": int(s2_cells),
                      **{k: v for k, v in totals.items() if v is not None}}))
    spark.stop()


if __name__ == "__main__":
    main()
