"""Generic (any-geometry) feature tiling: assign line/polygon features
to every tile their bbox touches, then encode each tile's features
through the full reference pipeline (project -> clip -> simplify ->
MVT) with one Spark path, ``groupBy(tile).applyInPandas``.  Each
tile's bytes equal ``kernel.pipeline.encode_features`` over that tile's
features in miss-first fid order (tested).

This is the distributed form of zellige's whole program for arbitrary
geometry; the point fast-path lives in operators/encode.py.
"""

from __future__ import annotations

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..kernel import mercator as km
from ..kernel import pipeline as kpipe
from .. import io_geojson

TILE_SCHEMA = ("zoom int, tile_x long, tile_y long, mvt binary, "
               "feature_count long, bytes_len long")


def _split_exact_fid(df: DataFrame) -> DataFrame:
    """Split the nullable ``fid`` into (``_fid_miss``, non-null fid)
    BEFORE any pandas boundary: Arrow→pandas widens a top-level
    nullable long to float64 whenever a batch holds a null, silently
    rounding ids >= 2^53 — corrupting both the fid sort (arrival-order
    ties) and the encoded MVT feature id itself.  A non-nullable long
    column stays exact int64 in pandas."""
    return (df.withColumn("_fid_miss", F.col("fid").isNull())
              .withColumn("fid", F.coalesce(F.col("fid"), F.lit(0)).cast("long")))


def _restore_exact_fid(pdf: pd.DataFrame, sort: bool) -> pd.DataFrame:
    """Rebuild ``fid`` as exact Python ints (None for misses); with
    ``sort``, first apply the miss-first exact-int order (the grouped
    contract, na_position='first'; lexsort is stable like the old
    kind='stable' sort)."""
    miss = pdf["_fid_miss"].to_numpy(dtype=bool)
    vals = pdf["fid"].to_numpy(dtype=np.int64)
    if sort:
        order = np.lexsort((vals, (~miss).astype(np.int8)))
        pdf = pdf.iloc[order]
        miss, vals = miss[order], vals[order]
    # dtype=object keeps Python ints: a plain list with a None would
    # make pandas re-infer float64 and round >=2^53 ids again
    fid_obj = pd.Series([None if m else int(v) for m, v in zip(miss, vals)],
                        index=pdf.index, dtype=object)
    return pdf.assign(fid=fid_obj)


# Single-pass feature bbox over the 4-level parts nesting — pure JVM
# Column math (least/greatest fold over the flattened point list), no
# Python in the assignment path.  Delivered through F.inline (a
# generator, evaluated ONCE per row) rather than 4 struct-field
# projections, which Catalyst's project collapsing would inline into 4
# separate O(points) folds.
_BBOX_EXPR = """aggregate(
  flatten(flatten(parts)),
  named_struct('min_lon', double('Infinity'),  'min_lat', double('Infinity'),
               'max_lon', double('-Infinity'), 'max_lat', double('-Infinity')),
  (acc, pt) -> named_struct(
      'min_lon', least(acc.min_lon, pt[0]), 'min_lat', least(acc.min_lat, pt[1]),
      'max_lon', greatest(acc.max_lon, pt[0]), 'max_lat', greatest(acc.max_lat, pt[1])))"""


def assign_feature_tiles(features: DataFrame, zoom: int,
                         extent: int = 4096, buffer: int = 128) -> DataFrame:
    """Fan each feature out to the tiles its lon/lat bbox (expanded by
    the buffer fraction) covers at ``zoom``.  Everything — the bbox
    fold, the mercator tile-fraction math, the fan-out explode — is
    JVM Column code inside whole-stage codegen."""
    pad_frac = float(buffer) / float(extent)

    fb = features.select(*features.columns,
                         F.inline(F.array(F.expr(_BBOX_EXPR))))

    n = 2 ** zoom
    # tile range covered by the bbox (+ buffer margin in tile fractions)
    def frac(col, is_x):
        if is_x:
            return (F.lit(km.WGS84_MAJOR_RADIUS) * F.radians(col) + F.lit(km.MAX_EXTENTS)) \
                / F.lit(2.0 * km.MAX_EXTENTS / n)
        y = F.lit(km.WGS84_MAJOR_RADIUS) * F.log(F.tan(F.lit(np.pi / 4) + F.lit(0.5) * F.radians(col)))
        return (F.lit(km.MAX_EXTENTS) - y) / F.lit(2.0 * km.MAX_EXTENTS / n)

    fb = (fb.withColumn("_x0", F.floor(frac(F.col("min_lon"), True) - pad_frac))
            .withColumn("_x1", F.floor(frac(F.col("max_lon"), True) + pad_frac))
            .withColumn("_y0", F.floor(frac(F.col("max_lat"), False) - pad_frac))
            .withColumn("_y1", F.floor(frac(F.col("min_lat"), False) + pad_frac)))
    fb = (fb.withColumn("tile_x", F.explode(F.sequence(
              F.greatest(F.lit(0), F.col("_x0")), F.least(F.lit(n - 1), F.col("_x1")))))
            .withColumn("tile_y", F.explode(F.sequence(
              F.greatest(F.lit(0), F.col("_y0")), F.least(F.lit(n - 1), F.col("_y1")))))
            .withColumn("zoom", F.lit(zoom))
            .drop("_x0", "_x1", "_y0", "_y1",
                  "min_lon", "min_lat", "max_lon", "max_lat"))
    return fb


def assemble_feature_tiles(assigned: DataFrame, layer_name: str = "layer",
                           extent: int = 4096, buffer: int = 128,
                           quantize: int = 1, simplify: str = "none") -> DataFrame:
    """groupBy(tile).applyInPandas over the full reference pipeline —
    clip drops the parts outside each tile's buffered window, so the
    bbox over-assignment self-corrects (tiles that clip to nothing
    still emit an empty layer; filter on feature_count if undesired)."""

    def encode(pdf: pd.DataFrame) -> pd.DataFrame:
        pdf = _restore_exact_fid(pdf, sort=True)
        feats = io_geojson.rows_to_features(pdf)
        z = int(pdf["zoom"].iloc[0])
        tx = int(pdf["tile_x"].iloc[0])
        ty = int(pdf["tile_y"].iloc[0])
        cfg = kpipe.TileConfig(name=layer_name, z=z, x=tx, y=ty,
                               buffer=buffer, extent=extent,
                               quantize=quantize, simplify=simplify)
        mvt = kpipe.encode_features(feats, cfg)
        return pd.DataFrame({
            "zoom": [z], "tile_x": [tx], "tile_y": [ty], "mvt": [mvt],
            "feature_count": [_count_features(mvt)],
            "bytes_len": [len(mvt)],
        })

    return (_split_exact_fid(assigned).groupBy("zoom", "tile_x", "tile_y")
            .applyInPandas(encode, TILE_SCHEMA))


def _count_features(tile_bytes: bytes) -> int:
    from ..kernel import mvt as kmvt

    layers = kmvt.decode_tile(tile_bytes)
    return sum(len(l["features"]) for l in layers.values())
