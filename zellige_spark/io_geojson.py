"""GeoJSON source: FeatureCollection file(s) -> normalized feature
DataFrame (readGeoJson equivalent,
/root/reference/src/Data/Geometry/MapnikVectorTile.hs:43-48).

The normalized schema is SURVEY.md §1.1's 4-level nesting:
    fid long, geom_type string,
    parts array<array<array<array<double>>>>,   -- part/ring/point/xy
    props map<string,string>                    -- JSON-encoded values

Property values keep their JSON type through a json-encoded string map
(decoded back to str/number/bool at encode time), because MVT property
values are a 7-way union that Spark maps can't hold natively.
"""

from __future__ import annotations

import json
from typing import List

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import types as T

from .kernel import pipeline as kpipe

FEATURES_SCHEMA = T.StructType([
    T.StructField("fid", T.LongType()),
    T.StructField("geom_type", T.StringType()),
    T.StructField("parts", T.ArrayType(T.ArrayType(T.ArrayType(T.ArrayType(T.DoubleType()))))),
    T.StructField("props_json", T.StringType()),
])


def read_geojson_distributed(spark: SparkSession, path: str) -> DataFrame:
    """GeoJSON source: each FeatureCollection document is read whole
    (``spark.read.text(wholetext=True)``, one row per file) and parsed
    EXECUTOR-side in an Arrow-batched pass — the driver never holds a
    document.  For a directory of many files this parallelizes across
    files; within one file the features keep their document order."""
    import pandas as pd

    txt = spark.read.text(path, wholetext=True)

    def parse(batches):
        for pdf in batches:
            rows = []
            for doc_str in pdf["value"]:
                doc = json.loads(doc_str)
                for feat in kpipe.geojson_to_features(doc):
                    rows.append((feat["fid"], feat["geom_type"], feat["parts"],
                                 json.dumps(feat["props"], sort_keys=True)))
            yield pd.DataFrame(rows, columns=["fid", "geom_type", "parts",
                                              "props_json"])

    return txt.mapInPandas(parse, FEATURES_SCHEMA)


def rows_to_features(pdf) -> List[dict]:
    """pandas rows (fid, geom_type, parts, props_json) -> kernel feature
    dicts."""
    out = []
    for r in pdf.itertuples(index=False):
        try:
            fid = None if r.fid is None or r.fid != r.fid else int(r.fid)
        except (TypeError, ValueError):
            fid = None
        out.append({"fid": fid, "geom_type": r.geom_type,
                    "parts": r.parts, "props": json.loads(r.props_json)})
    return out
