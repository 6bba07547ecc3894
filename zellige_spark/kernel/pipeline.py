"""Per-tile encode pipeline: project -> clip -> simplify -> MVT bytes.

This is the Python/numpy equivalent of the reference's ``createMvt``
(/root/reference/src/Data/Geometry/MapnikVectorTile.hs:60-68): a pure
function over one tile's worth of features.  In Spark it runs inside a
``groupBy(tile_id).applyInPandas`` kernel — zellige's whole single-file
program becomes the per-group function (the reference is single-threaded
end-to-end, MapnikVectorTile.hs:30-33, which is why tile-parallelism is
free).

Feature model (normalized 4-level nesting, SURVEY.md §1.1):

    {"fid": Optional[int], "geom_type": <GeoJSON type str>,
     "parts": [part][ring][pt][x,y], "props": dict}

* Point            -> parts = [[[ [x,y] ]]]
* MultiPoint       -> parts = [[[ [x,y], ... ]]]
* LineString       -> parts = [[[ pts... ]]]
* MultiLineString  -> parts = [[L1],[L2],...]
* Polygon          -> parts = [[ring0, ring1, ...]]  (rings closed)
* MultiPolygon     -> parts = [[rings of P1], [rings of P2], ...]

Intentional, documented divergences from the reference batch path:
* key/value dictionaries use deterministic first-seen order with
  per-feature sorted-key iteration (matches the golden
  /root/reference/dump/small.mvt; the batch HashSet order,
  Internal.hs:369-377, is not portable).
* features whose geometry becomes empty after int-conversion are not
  emitted (the reference streaming path's checkAndAdd,
  Types/MvtFeatures.hs:102-106); feature-id assignment still happens
  before the drop, as in the batch path (GeoJsonToMvt.hs:54-60).
"""

from __future__ import annotations

from dataclasses import dataclass
from typing import Iterable, List, Optional, Sequence

import numpy as np

from . import clip as kclip
from . import mercator as kmerc
from . import mvt as kmvt
from . import simplify as ksimp


@dataclass(frozen=True)
class TileConfig:
    """Per-tile config (Types/Config.hs:26-38); defaults per
    Geography.hs:23-30 and the proto default extent 4096 (Layer.hs:31)."""
    name: str
    z: int
    x: int
    y: int
    buffer: int = 128
    extent: int = 4096
    quantize: int = 1
    simplify: str = ksimp.NO_ALGORITHM
    version: int = 2


POINT_KINDS = ("Point", "MultiPoint")
LINE_KINDS = ("LineString", "MultiLineString")
POLY_KINDS = ("Polygon", "MultiPolygon")


def _ring_to_array(ring) -> np.ndarray:
    """Normalize a ring to a dense (n,2) float array.  Arrow hands
    nested list columns back as object arrays of object arrays, which
    np.asarray refuses; fall back to per-point conversion."""
    try:
        return np.asarray(ring, dtype=np.float64).reshape(-1, 2)
    except (ValueError, TypeError):
        return np.array([np.asarray(p, dtype=np.float64)[:2] for p in ring],
                        dtype=np.float64).reshape(-1, 2)


def _project_parts(parts, extent, quantize, bbox):
    out = []
    for part in parts:
        rings = []
        for ring in part:
            arr = _ring_to_array(ring)
            px, py = kmerc.lonlat_to_tile_local(arr[:, 0], arr[:, 1], extent, quantize, bbox)
            rings.append(np.stack([px, py], axis=1))
        out.append(rings)
    return out


def _clip_feature(geom_type: str, parts, window) -> Optional[list]:
    """Dispatch per Clip.hs:51-61; returns projected+clipped parts or
    None when the feature is dropped."""
    if geom_type == "Point":
        pts = parts[0][0]
        mask = kclip.point_in_extent_mask(window, pts[:, 0], pts[:, 1])
        return parts if bool(mask.all()) else None
    if geom_type == "MultiPoint":
        pts = parts[0][0]
        mask = kclip.point_in_extent_mask(window, pts[:, 0], pts[:, 1])
        kept = pts[mask]
        return [[kept]] if len(kept) else None
    if geom_type == "LineString":
        res = kclip.clip_line_qc(window, parts[0][0])
        return [[res]] if res is not None else None
    if geom_type == "MultiLineString":
        lines = [part[0] for part in parts]
        res = kclip.clip_multiline_qc(window, lines)
        return [[line] for line in res] if res else None
    if geom_type == "Polygon":
        rings = kclip.clip_polygon_sh(window, parts[0])
        return [rings] if rings else None
    if geom_type == "MultiPolygon":
        polys = kclip.clip_multipolygon_sh(window, parts)
        return polys if polys else None
    return None


def _simplify_feature(geom_type: str, parts, algo: str) -> Optional[list]:
    """Dispatch per Simplify.hs:26-39 (points pass through; rings get
    CW/CCW winding enforcement)."""
    if algo == ksimp.NO_ALGORITHM or geom_type in POINT_KINDS:
        return parts
    if geom_type in LINE_KINDS:
        out = []
        for part in parts:
            res = ksimp.simplify_line(algo, part[0])
            if res is not None:
                out.append([res])
        return out if out else None
    # polygons
    out = []
    for part in parts:
        rings = []
        for i, ring in enumerate(part):
            order = ksimp.CLOCKWISE if i == 0 else ksimp.ANTICLOCKWISE
            res = ksimp.simplify_ring(algo, order, ring)
            if res is not None:
                rings.append(res)
        if rings:
            out.append(rings)
    return out if out else None


def _polygon_to_int(parts) -> List[tuple]:
    """convertPolygon/mkPolys (GeoJsonFeatures.hs:71-92): ring 0 becomes
    the outer ring, remaining rings become inner polygons in REVERSED
    order (foldl' + prepend)."""
    polys = []
    for rings in parts:
        if len(rings) == 0:
            polys.append((np.empty((0, 2), dtype=np.int64), []))
            continue
        outer = kmvt.convert_and_remove_dupes(rings[0])
        inner = [(kmvt.convert_and_remove_dupes(r), []) for r in rings[1:]][::-1]
        polys.append((outer, inner))
    return polys


def encode_features(features: Iterable[dict], cfg: TileConfig) -> bytes:
    """Full per-tile pipeline -> MVT tile bytes."""
    bbox = kmerc.tile_bbox(cfg.z, cfg.x, cfg.y)
    window = kclip.buffered_bbox(cfg.buffer, cfg.extent)

    staged = []  # (kind, fid_or_None, props, parts)
    for feat in features:
        gt = feat["geom_type"]
        if gt is None or gt == "NoGeometry":
            continue
        parts = _project_parts(feat["parts"], cfg.extent, cfg.quantize, bbox)
        parts = _clip_feature(gt, parts, window)
        if parts is None:
            continue
        parts = _simplify_feature(gt, parts, cfg.simplify)
        if parts is None:
            continue
        staged.append((gt, feat.get("fid"), feat.get("props") or {}, parts))

    return _encode_staged(staged, cfg)


def _encode_staged(staged, cfg: TileConfig) -> bytes:
    """Shared back half of the per-tile pipeline: id assignment,
    int-conversion, dictionary build, layer + tile bytes."""
    if staged and isinstance(staged[0], dict):
        staged = [(f["geom_type"], f.get("fid"), f.get("props") or {}, f["parts"])
                  for f in staged]
    # feature-id assignment: numeric ids pass through; missing ids draw
    # from a counter starting at 1, in input order across all geometry
    # kinds (convertId, GeoJsonToMvt.hs:54-60)
    counter = 0
    assigned = []
    for gt, fid, props, parts in staged:
        if fid is None:
            counter += 1
            fid = counter
        assigned.append((gt, int(fid), props, parts))

    keys = kmvt.DictStore()
    values = kmvt.DictStore()
    point_feats: List[bytes] = []
    line_feats: List[bytes] = []
    poly_feats: List[bytes] = []

    for gt, fid, props, parts in assigned:
        _encode_one(gt, fid, props, parts, keys, values,
                    point_feats, line_feats, poly_feats)

    layer = kmvt.encode_layer(cfg.name, point_feats + line_feats + poly_feats,
                              keys.items, values.items, cfg.extent, cfg.version)
    return kmvt.encode_tile([layer])


def stage_feature_cmds(gt, parts):
    """Int-conversion + geometry command build for ONE clipped+
    simplified feature: (gtype, cmds) with cmds None when the feature
    drops at this stage.  A dropped feature still consumed its feature
    id (convertId runs before int-conversion, GeoJsonToMvt.hs:54-60),
    which is why a dropped feature is skipped only after its id is
    assigned (see ``_encode_staged``)."""
    if gt in POINT_KINDS:
        ipts = kmvt.coords_to_ipoints(np.concatenate([np.asarray(r) for r in parts[0]], axis=0))
        if len(ipts) == 0:
            return kmvt.GEOM_POINT, None
        return kmvt.GEOM_POINT, kmvt.point_feature_commands(ipts)
    if gt in LINE_KINDS:
        lines = []
        for part in parts:
            ipts = kmvt.convert_and_remove_dupes(part[0])
            if len(ipts) > 1:  # convertLineString drops <2-pt lines
                lines.append(ipts)
        if not lines:
            return kmvt.GEOM_LINESTRING, None
        return kmvt.GEOM_LINESTRING, kmvt.line_feature_commands(lines)
    polys = _polygon_to_int(parts)
    cmds = kmvt.polygon_feature_commands(polys)
    if len(cmds) == 0:
        return kmvt.GEOM_POLYGON, None
    return kmvt.GEOM_POLYGON, cmds


def _encode_one(gt, fid, props, parts, keys, values,
                point_feats, line_feats, poly_feats) -> None:
    """Encode one clipped+simplified feature into its geometry bucket
    (int-conversion drops happen here, after id assignment)."""
    gtype, cmds = stage_feature_cmds(gt, parts)
    if cmds is None:
        return
    vals = kmvt.convert_props(props)
    tags = kmvt.build_tags(vals, keys, values)
    bucket = (point_feats if gtype == kmvt.GEOM_POINT
              else line_feats if gtype == kmvt.GEOM_LINESTRING
              else poly_feats)
    bucket.append(kmvt.encode_feature(fid, tags, gtype, cmds))


def encode_features_local(features: Iterable[dict], cfg: TileConfig) -> bytes:
    """Per-tile pipeline for features whose coords are ALREADY in
    tile-local pixel space (e.g. vectorized rasters): identical to
    :func:`encode_features` minus the mercator projection stage.
    """
    window = kclip.buffered_bbox(cfg.buffer, cfg.extent)
    staged = []
    for feat in features:
        gt = feat["geom_type"]
        if gt is None or gt == "NoGeometry":
            continue
        parts = [[_ring_to_array(r) for r in part] for part in feat["parts"]]
        parts = _clip_feature(gt, parts, window)
        if parts is None:
            continue
        parts = _simplify_feature(gt, parts, cfg.simplify)
        if parts is None:
            continue
        staged.append({"fid": feat.get("fid"), "geom_type": gt,
                       "parts": parts, "props": feat.get("props") or {}})
    return _encode_staged(staged, cfg)


def geojson_to_features(doc: dict) -> List[dict]:
    """GeoJSON FeatureCollection dict -> normalized feature dicts.

    Geometry collections are flattened into one feature per child with
    the same id/props (Clip.hs:61, GeoJsonToMvt.hs:44) — flattening at
    ingest keeps the kernel free of recursion.
    """
    out = []
    for f in doc.get("features", []):
        geom = f.get("geometry") or {}
        props = f.get("properties") or {}
        fid = f.get("id")
        if not isinstance(fid, (int, float)) or isinstance(fid, bool):
            fid = None
        else:
            fid = int(fid)
        for gt, parts in _explode_geometry(geom):
            out.append({"fid": fid, "geom_type": gt, "parts": parts, "props": props})
    return out


def _explode_geometry(geom: dict):
    gt = geom.get("type")
    coords = geom.get("coordinates")
    if gt == "Point":
        yield gt, [[[coords[:2]]]]
    elif gt == "MultiPoint":
        yield gt, [[[c[:2] for c in coords]]]
    elif gt == "LineString":
        yield gt, [[[c[:2] for c in coords]]]
    elif gt == "MultiLineString":
        yield gt, [[[c[:2] for c in line]] for line in coords]
    elif gt == "Polygon":
        yield gt, [[[c[:2] for c in ring] for ring in coords]]
    elif gt == "MultiPolygon":
        yield gt, [[[c[:2] for c in ring] for ring in poly] for poly in coords]
    elif gt == "GeometryCollection":
        for g in geom.get("geometries", []):
            yield from _explode_geometry(g)
