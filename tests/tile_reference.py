"""Driver-side tile references for the Spark tile-path parity tests.

Each helper collects the assigned rows to the driver and encodes every
tile with the numpy code the Spark paths wrap, one tile at a time and
without any shuffle, sort-within-partition or Arrow fold.  A Spark tile
path must produce the same bytes, tile for tile.
"""

import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from zellige_spark import io_geojson
from zellige_spark.kernel import mvt as kmvt
from zellige_spark.kernel import pipeline as kpipe
from zellige_spark.operators import encode as E
from zellige_spark.operators import feature_tiles as FT
from zellige_spark.operators import tiles as T

KEYS = ["zoom", "tile_x", "tile_y"]
COLUMNS = KEYS + ["mvt", "feature_count", "bytes_len"]


def point_tiles_reference(assigned: DataFrame, layer_name: str = "images",
                          extent: int = 4096, quantize: int = 1,
                          buffer: int = 128) -> pd.DataFrame:
    """Point tiles: the rows inside each tile's buffered window, sorted
    by ``image_id``, through ``encode._finish_point_tile``."""
    w = float(buffer)
    pdf = (T.tile_local_px(assigned, extent, quantize)
           .filter((F.col("px") >= -w) & (F.col("px") <= extent + w)
                   & (F.col("py") >= -w) & (F.col("py") <= extent + w))
           .select(*KEYS, "image_id", "px", "py").toPandas())
    rows = []
    for (z, tx, ty), g in pdf.groupby(KEYS, sort=True):
        g = g.sort_values("image_id", kind="stable")
        mvt = E._finish_point_tile(g["image_id"].tolist(), g["px"].to_numpy(),
                                   g["py"].to_numpy(), layer_name, extent)
        rows.append((int(z), int(tx), int(ty), mvt, len(g), len(mvt)))
    return pd.DataFrame(rows, columns=COLUMNS)


def feature_tiles_reference(assigned: DataFrame, layer_name: str = "layer",
                            extent: int = 4096, buffer: int = 128,
                            quantize: int = 1,
                            simplify: str = "none") -> pd.DataFrame:
    """Generic feature tiles: each tile's features in the miss-first
    exact fid order through ``kernel.pipeline.encode_features``.  The
    fid crosses to pandas as the (miss, non-null int64) split, so ids
    >= 2^53 stay exact here too."""
    pdf = FT._split_exact_fid(assigned).toPandas()
    rows = []
    for (z, tx, ty), g in pdf.groupby(KEYS, sort=True):
        feats = io_geojson.rows_to_features(FT._restore_exact_fid(g, sort=True))
        cfg = kpipe.TileConfig(name=layer_name, z=int(z), x=int(tx),
                               y=int(ty), buffer=buffer, extent=extent,
                               quantize=quantize, simplify=simplify)
        mvt = kpipe.encode_features(feats, cfg)
        n = sum(len(l["features"]) for l in kmvt.decode_tile(mvt).values())
        rows.append((int(z), int(tx), int(ty), mvt, n, len(mvt)))
    return pd.DataFrame(rows, columns=COLUMNS)


def assert_same_tiles(got: pd.DataFrame, ref: pd.DataFrame) -> None:
    """Same tile keys, feature counts and bytes, tile for tile."""
    got = got.sort_values(KEYS, ignore_index=True)
    ref = ref.sort_values(KEYS, ignore_index=True)
    assert len(got) == len(ref) > 0
    assert got[KEYS].values.tolist() == ref[KEYS].values.tolist()
    assert got["feature_count"].tolist() == ref["feature_count"].tolist()
    for a, b in zip(got["mvt"], ref["mvt"]):
        assert bytes(a) == bytes(b)
