"""Point-in-polygon join (NEW operator per SURVEY.md §2.10 / north rule).

Two physical strategies, chosen by polygon-table size:

* ``pip_join_broadcast`` — polygons broadcast to every task (the common
  case: coverage/district tables are thousands of rows).  Plan:
  bbox-prefilter equi-free broadcast nested-loop is avoided by first
  doing a broadcast range join on bboxes, then an Arrow-batched numpy
  ray-cast refine.  No shuffle of the fact table at all.

* ``pip_join_bucketed`` — for big polygon tables: both sides get XYZ
  cell ids at an index zoom (polygons: explode over the cells their
  bbox covers), then a plain shuffle equi-join on cell_key + refine +
  dedup.  Co-locates by cell, so each task only sees local candidates.

Boundary convention: the refine is even-odd ray casting; the reference's
only boundary statement is the Sutherland-Hodgman half-plane test being
inclusive (>=, PolygonSutherlandHodgman.hs:101-102); points exactly on
polygon edges are inside-by-convention here as well (we count edges
touching the ray as crossings per the standard asymmetric rule, so
on-edge results are float-determined; synthetic data avoids exact hits).
"""

from __future__ import annotations

from typing import Iterator, List

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from . import tiles as T


def _rings_to_arrays(rr) -> List[np.ndarray]:
    """Arrow hands nested list columns back as object arrays of object
    arrays; normalize each ring to a dense (k,2) float array."""
    return [np.array([np.asarray(p, dtype=np.float64) for p in ring]) for ring in rr]


def ray_cast_mask(px: np.ndarray, py: np.ndarray, rings: List[np.ndarray]) -> np.ndarray:
    """Vectorized even-odd point-in-polygon over all rings (holes flip
    parity).  px/py are (n,) point arrays; rings are closed (k,2) arrays."""
    inside = np.zeros(len(px), dtype=bool)
    for ring in rings:
        r = np.asarray(ring, dtype=np.float64)
        x1, y1 = r[:-1, 0], r[:-1, 1]
        x2, y2 = r[1:, 0], r[1:, 1]
        for i in range(len(x1)):
            a_y, b_y = y1[i], y2[i]
            if a_y == b_y:
                continue
            cond = (py >= min(a_y, b_y)) & (py < max(a_y, b_y))
            if not cond.any():
                continue
            t = (py - a_y) / (b_y - a_y)
            xs = x1[i] + t * (x2[i] - x1[i])
            inside ^= cond & (xs > px)
    return inside


class _EdgeTable:
    """Driver-side preprocessed polygon edge table (CSR layout): all
    rings' edges concatenated with per-polygon offsets.  Captured in
    the refine UDF's closure, so candidate rows never carry geometry
    through the shuffle/Arrow boundary — only a small int polygon index."""

    def __init__(self, poly_rows):
        xs1, ys1, xs2, ys2 = [], [], [], []
        counts = []
        for row in poly_rows:
            c = 0
            for ring in row["rings"]:
                r = np.array([np.asarray(p, dtype=np.float64) for p in ring])
                x1, y1 = r[:-1, 0], r[:-1, 1]
                x2, y2 = r[1:, 0], r[1:, 1]
                keep = y1 != y2  # horizontal edges never cross the ray
                xs1.append(x1[keep]); ys1.append(y1[keep])
                xs2.append(x2[keep]); ys2.append(y2[keep])
                c += int(keep.sum())
            counts.append(c)
        self.x1 = np.concatenate(xs1) if xs1 else np.empty(0)
        self.y1 = np.concatenate(ys1) if ys1 else np.empty(0)
        self.x2 = np.concatenate(xs2) if xs2 else np.empty(0)
        self.y2 = np.concatenate(ys2) if ys2 else np.empty(0)
        self.offsets = np.zeros(len(poly_rows) + 1, dtype=np.int64)
        np.cumsum(counts, out=self.offsets[1:])
        self.counts = np.asarray(counts, dtype=np.int64)

    def contains(self, pidx: np.ndarray, px: np.ndarray, py: np.ndarray,
                 chunk: int = 2_000_000) -> np.ndarray:
        """Even-odd ray cast for N (polygon_idx, point) pairs — fully
        vectorized via CSR expansion, processed in bounded chunks.

        Round-6 optimization (same DRAM-traffic treatment as the encode
        fold): ONE repeat builds the edge index (arange + per-pair
        shift), the pair index is int32, the y-window test is the
        branchless (a_y <= y) != (b_y <= y) form (no min/max passes,
        identical selection set), and the crossing-x division runs only
        on the ~10-15% of (pair, edge) tests whose y-window passes."""
        n = len(pidx)
        out = np.zeros(n, dtype=bool)
        counts = self.counts[pidx]
        # chunk by pairs so the expanded edge workload stays bounded
        start = 0
        while start < n:
            end = start
            total = 0
            while end < n and total + counts[end] <= chunk:
                total += counts[end]
                end += 1
            end = max(end, start + 1)
            sl = slice(start, end)
            c = counts[sl]
            m = end - start
            tot = int(c.sum())
            reps = np.repeat(np.arange(m, dtype=np.int32), c)  # pair per test
            excl = np.zeros(m, dtype=np.int64)
            np.cumsum(c[:-1], out=excl[1:])
            e = (np.arange(tot, dtype=np.int64)
                 + np.repeat(self.offsets[pidx[sl]] - excl, c))
            ppy = py[sl][reps]
            a_y = self.y1[e]; b_y = self.y2[e]
            selm = (a_y <= ppy) != (b_y <= ppy)   # == min<=y<max (y1!=y2)
            si = np.nonzero(selm)[0]
            es = e[si]; rs = reps[si]; ys = ppy[si]
            ay = a_y[si]; by = b_y[si]
            t = (ys - ay) / (by - ay)
            xs = self.x1[es] + t * (self.x2[es] - self.x1[es])
            crossing = xs > px[sl][rs]
            parity = np.bincount(rs[crossing], minlength=m) % 2
            out[sl] = parity.astype(bool)
            start = end
        return out


def pip_join_broadcast(points: DataFrame, polygons: DataFrame,
                       lon_col: str = "lon", lat_col: str = "lat",
                       index_zoom: int = None,
                       strategy: str = "auto") -> DataFrame:
    """points x polygons where point in polygon (inner join semantics);
    polygons broadcast.

    polygons schema: polygon_id, name, rings array<array<array<double>>>,
    min_lon/min_lat/max_lon/max_lat (bbox prefilter columns).
    Output: point columns + polygon_id, name.

    The polygon dim is collected driver-side once (small by contract)
    and preprocessed into a CSR edge table captured in the refine
    closure.  Candidate generation has two physical strategies:

    * ``bnl``  — broadcast nested-loop on the bbox range condition.
      Per-point cost is P codegen comparisons: CONSTANT per row, so it
      is scale-viable (linear in N) and measured fastest for small dims
      (P <= ~5000) where the comparisons are cheaper than the cell
      join's probe+materialize overhead.
    * ``cells`` — broadcast HASH equi-join on an XYZ cell id (each
      polygon exploded driver-side over the cells its bbox covers at
      ``index_zoom``), then the exact bbox filter in codegen.  Per-point
      cost is ~1 hash probe: the right plan when P is large enough that
      P-comparisons-per-row dominate.

    ``auto`` picks bnl for P <= 5000, cells above.
    """
    poly_rows = polygons.select("polygon_id", "name", "rings",
                                "min_lon", "min_lat", "max_lon", "max_lat").collect()
    edges = _EdgeTable(poly_rows)
    spark = points.sparkSession
    if strategy == "auto":
        strategy = "bnl" if len(poly_rows) <= 5000 else "cells"
    if strategy == "bnl":
        # pandas -> Arrow path: list-of-Rows createDataFrame costs
        # ~0.5 s of driver py4j serialization per call, a pure serial
        # term in every job that uses this operator
        meta_pdf = pd.DataFrame({
            "_pidx": np.arange(len(poly_rows), dtype=np.int32),
            "polygon_id": [r["polygon_id"] for r in poly_rows],
            "name": [r["name"] for r in poly_rows],
            "min_lon": np.array([r["min_lon"] for r in poly_rows], dtype=np.float64),
            "min_lat": np.array([r["min_lat"] for r in poly_rows], dtype=np.float64),
            "max_lon": np.array([r["max_lon"] for r in poly_rows], dtype=np.float64),
            "max_lat": np.array([r["max_lat"] for r in poly_rows], dtype=np.float64),
        })
        meta = spark.createDataFrame(meta_pdf)
        cond = ((F.col(lon_col) >= F.col("min_lon")) & (F.col(lon_col) <= F.col("max_lon"))
                & (F.col(lat_col) >= F.col("min_lat")) & (F.col(lat_col) <= F.col("max_lat")))
        cand = points.join(F.broadcast(meta), cond, how="inner")
        return _pip_refine(points, cand, edges, lon_col, lat_col)
    if index_zoom is None:
        import math
        spans = sorted(max(r["max_lon"] - r["min_lon"], r["max_lat"] - r["min_lat"])
                       for r in poly_rows) or [1.0]
        med = max(spans[len(spans) // 2], 1e-6)
        # cells ~4x finer than the median bbox: keeps the per-polygon
        # cell fan-out tiny (~25-40 cells) while making a cell-match a
        # tight superset of a bbox-match — a coarser grid lets every
        # point in a dense cluster cell-match all the stacked polygons
        # and bloats the pre-filter intermediate
        index_zoom = int(min(14, max(0, math.floor(math.log2(360.0 / med)) + 2)))
    # explode each polygon over its covered cells (driver side; dim is small)
    meta_rows = []
    for i, r in enumerate(poly_rows):
        for ck in _polygon_cells(r["min_lon"], r["min_lat"],
                                 r["max_lon"], r["max_lat"], index_zoom, pad=1):
            meta_rows.append((ck, i, r["polygon_id"], r["name"],
                              r["min_lon"], r["min_lat"], r["max_lon"], r["max_lat"]))
    meta = spark.createDataFrame(
        meta_rows,
        "cell_key long, _pidx int, polygon_id string, name string, "
        "min_lon double, min_lat double, max_lon double, max_lat double")
    pts = T.with_web_mercator(points, lon_col, lat_col)
    tx, ty = T.tile_xy(F.col("x3857"), F.col("y3857"), F.lit(index_zoom))
    pts = pts.withColumn("cell_key", T.tile_key(F.lit(index_zoom), tx, ty))
    cand = pts.join(F.broadcast(meta), "cell_key", how="inner")
    cand = cand.filter(
        (F.col(lon_col) >= F.col("min_lon")) & (F.col(lon_col) <= F.col("max_lon"))
        & (F.col(lat_col) >= F.col("min_lat")) & (F.col(lat_col) <= F.col("max_lat")))
    return _pip_refine(points, cand, edges, lon_col, lat_col)


def _pip_refine(points: DataFrame, cand: DataFrame, edges: _EdgeTable,
                lon_col: str, lat_col: str) -> DataFrame:
    """Exact ray-cast refine as a scalar Arrow UDF filter: Spark projects
    ONLY (_pidx, lon, lat) into the Python runner — candidate string
    columns never cross the JVM<->Python boundary (3-4x less Arrow
    traffic than a mapInPandas refine carrying whole rows)."""
    from pyspark.sql.functions import pandas_udf

    point_cols = points.columns

    @pandas_udf("boolean")
    def inside_udf(pidx: pd.Series, lon: pd.Series, lat: pd.Series) -> pd.Series:
        mask = edges.contains(pidx.to_numpy(),
                              lon.to_numpy(dtype=np.float64),
                              lat.to_numpy(dtype=np.float64))
        return pd.Series(mask)

    return (cand.filter(inside_udf(F.col("_pidx"), F.col(lon_col), F.col(lat_col)))
                .select(*point_cols, "polygon_id", "name"))


def _polygon_cells(min_lon, min_lat, max_lon, max_lat, zoom: int, pad: int = 0):
    """All XYZ cells a bbox covers at ``zoom`` (numpy helper).  ``pad``
    grows the range by whole cells — used to stay conservative when the
    point side computes its cell with different (JVM) float transcendental
    implementations than this (numpy/libm) side."""
    from ..kernel import mercator as km

    n = (1 << zoom) - 1
    x0, y0 = km.xy3857_to_tile(km.lon_to_x(min_lon), km.lat_to_y(max_lat), zoom)
    x1, y1 = km.xy3857_to_tile(km.lon_to_x(max_lon), km.lat_to_y(min_lat), zoom)
    cells = []
    for tx in range(max(0, int(x0) - pad), min(n, int(x1) + pad) + 1):
        for ty in range(max(0, int(y0) - pad), min(n, int(y1) + pad) + 1):
            cells.append((zoom << 56) | (tx << 28) | ty)
    return cells


def pip_join_bucketed(points: DataFrame, polygons: DataFrame, index_zoom: int = 7,
                      lon_col: str = "lon", lat_col: str = "lat") -> DataFrame:
    """Cell-bucketed equi-join for large polygon tables: no broadcast,
    both sides shuffle once on cell_key, AQE handles residual skew."""
    pts = T.with_web_mercator(points, lon_col, lat_col)
    tx, ty = T.tile_xy(F.col("x3857"), F.col("y3857"), F.lit(index_zoom))
    pts = pts.withColumn("cell_key", T.tile_key(F.lit(index_zoom), tx, ty)).drop("x3857", "y3857")

    cells_udf_schema = "array<long>"

    def cells_of(pdf: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for batch in pdf:
            batch = batch.copy()
            # pad=1, mirroring the broadcast 'cells' strategy: the point
            # side computes its cell with JVM tan/log, which can differ
            # from this numpy path by one cell at tile boundaries
            batch["cell_keys"] = [
                _polygon_cells(a, b, c, d, index_zoom, pad=1)
                for a, b, c, d in zip(batch["min_lon"], batch["min_lat"],
                                      batch["max_lon"], batch["max_lat"])
            ]
            yield batch

    from pyspark.sql import types as SqlT

    poly_schema = SqlT.StructType(list(polygons.schema.fields)
                                  + [SqlT.StructField("cell_keys", SqlT.ArrayType(SqlT.LongType()))])
    polys = polygons.mapInPandas(cells_of, poly_schema)
    polys = polys.withColumn("cell_key", F.explode("cell_keys")).drop("cell_keys")

    cand = pts.join(polys, "cell_key", "inner")
    cand = cand.filter((F.col(lon_col) >= F.col("min_lon")) & (F.col(lon_col) <= F.col("max_lon"))
                       & (F.col(lat_col) >= F.col("min_lat")) & (F.col(lat_col) <= F.col("max_lat")))

    point_cols = [c for c in points.columns]

    def refine(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            if len(pdf) == 0:
                continue
            mask = np.zeros(len(pdf), dtype=bool)
            pos = pdf.reset_index(drop=True)
            px = pos[lon_col].to_numpy(dtype=np.float64)
            py = pos[lat_col].to_numpy(dtype=np.float64)
            # vectorize per polygon: one ray-cast over all its candidate points
            for _, idx in pos.groupby("polygon_id").indices.items():
                rings = _rings_to_arrays(pos["rings"].iloc[idx[0]])
                mask[idx] = ray_cast_mask(px[idx], py[idx], rings)
            out = pos.loc[mask, point_cols + ["polygon_id", "name"]]
            if len(out):
                yield out

    out_schema = cand.select(*point_cols, "polygon_id", "name").schema
    # a polygon can cover several cells but each point lives in exactly
    # one cell at index_zoom, so no dedup needed post-refine
    return cand.mapInPandas(refine, out_schema)
