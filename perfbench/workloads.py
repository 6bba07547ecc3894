"""The benchmark round and its checks.

Every workload runs the same round over its own input layout
(``inputs.py``): the three user paths of zellige-spark, each through the
package's public functions only.

1. feature tiling: ``read_geojson_distributed`` ->
   ``assign_feature_tiles`` -> ``assemble_feature_tiles`` (z12,
   Douglas-Peucker), the CLI's path;
2. winding probe: ``kernel.pipeline.encode_features`` of one fixed
   polygon with Douglas-Peucker, checked against the MVT winding rule
   (fails on every round: see ``PROBE``);
3. PIP: ``pip_join_broadcast`` of the point table against the polygons;
4. kNN: ``knn_kring_adaptive`` for the fixed query set;
5. pyramid build: ``assign_tiles_buffered`` z0-14 ->
   ``assemble_point_tiles_streaming`` -> ``TileStore.commit_tiles``;
6. pyramid refresh: ``refresh_dirty_tiles`` for a ~1% delta.

Feature tiling, PIP and kNN are short: each runs REPEATS times per round
and reports its median, which also drops their first, colder call (the
warm-up runs the pyramid only, the path with the largest cold
cost).  The build runs BUILD_REPEATS times into fresh stores; the last
one is refreshed.  A round is OPS_PER_ROUND operations of which the
probe is one.  The checks read the last round's outputs.
"""

from __future__ import annotations

import json
import os
import shutil
import statistics
import time

import numpy as np

import checks
import inputs

ZOOMS = list(range(15))
KEYS = ["zoom", "tile_x", "tile_y"]
KNN_K = 5
KNN_INDEX_ZOOM = 7
SIMPLIFY = "douglas-peucker"
REPEATS = 3
BUILD_REPEATS = 2
OPS_PER_ROUND = 3 * REPEATS + 1 + BUILD_REPEATS + 1

# One RFC 7946 polygon with a hole, inside z12 tile 2145/1434.  The
# kernel's Douglas-Peucker path orders the exterior ring with negative
# surveyor area in tile coordinates, which MVT 2.1 (4.3.4.4) reserves
# for interior rings; the probe counts that as one failed operation per
# round and passes once the winding follows the specification.
PROBE = {"type": "Feature", "id": 7, "properties": {"kind": "probe"},
         "geometry": {"type": "Polygon", "coordinates": [
             [[8.530, 47.370], [8.545, 47.370], [8.545, 47.380],
              [8.530, 47.380], [8.530, 47.370]],
             [[8.535, 47.373], [8.535, 47.377], [8.540, 47.377],
              [8.540, 47.373], [8.535, 47.373]]]}}
PROBE_TILE = (12, 2145, 1434)

END_TO_END = {
    "setup_s": "s", "tiles_per_s": "tiles/s", "store_bytes": "bytes",
    "refresh_s": "s", "refresh_bytes_written": "bytes",
    "feature_tiles_per_s": "tiles/s", "pip_points_per_s": "points/s",
    "knn_queries_per_s": "queries/s",
}

PER_LAYER = {
    "session.start_s": "s",
    "tiles.assign_s": "s", "tiles.rows_out": "rows",
    "encode.self_s": "s", "encode.python_s": "s",
    "encode.arrow_bytes_to_python": "bytes", "encode.arrow_bytes_from_python": "bytes",
    "encode.shuffle_write_bytes": "bytes", "encode.spill_bytes": "bytes",
    "encode.tasks": "count", "encode.task_max_over_median": "ratio",
    "kernel.point_fold_rows_per_s": "rows/s",
    "store.commit_s": "s", "store.bytes_written": "bytes", "store.files_written": "count",
    "store.view_s": "s", "refresh.reencode_s": "s", "refresh.dirty_tiles": "count",
    "refresh.jobs": "count", "refresh.write_amplification": "ratio",
    "io_geojson.read_s": "s", "feature_tiles.assign_s": "s", "feature_tiles.pairs": "rows",
    "feature_tiles.python_s": "s", "feature_tiles.arrow_bytes_to_python": "bytes",
    "kernel.encode_features_s": "s", "kernel.project_s": "s", "kernel.clip_s": "s",
    "kernel.simplify_s": "s",
    "pip.prepare_s": "s", "pip.exec_s": "s", "pip.python_s": "s", "pip.candidates": "count",
    "pip.refine_yield": "ratio",
    "knn.exec_s": "s", "knn.jobs": "count",
    "spark.executor_cpu_s": "s", "spark.gc_s": "s", "spark.jobs": "count",
    "spark.tasks": "count",
}


def dir_bytes(*paths) -> tuple:
    """(bytes, files) of every regular file under the given paths."""
    total = files = 0
    for p in paths:
        if os.path.isfile(p):
            total += os.path.getsize(p)
            files += 1
            continue
        for d, _, names in os.walk(p):
            for n in names:
                total += os.path.getsize(os.path.join(d, n))
                files += 1
    return total, files


def snapshot_files(store, sid) -> list:
    m = store.manifest(sid)
    return [m["data_path"], m["lineage_path"],
            os.path.join(store.root, "manifests", f"{sid}.json")]


def median(values) -> float:
    return float(statistics.median(values))


# ---------------------------------------------------------------------------
# inputs
# ---------------------------------------------------------------------------

class Inputs:
    """The generated inputs: numpy copies for the checks and files for
    the program."""

    def __init__(self, run, layout: str):
        import pyarrow as pa
        import pyarrow.parquet as pq

        t = time.perf_counter()
        self.pts = inputs.points(run.seed, layout)
        self.polys = inputs.polygons(run.seed, self.pts["clusters"])
        self.queries = inputs.queries(run.seed, self.pts["clusters"])
        self.features = inputs.features(run.seed, layout)
        self.features.sort(key=lambda f: f["id"])
        run.gen_s += time.perf_counter() - t
        self.ids = {k: inputs.image_ids(self.pts[k]["id"]) for k in ("old", "new", "delta")}

        def points_file(kind):
            def make(path):
                d = self.pts[kind]
                pq.write_table(pa.table({"image_id": self.ids[kind], "lon": d["lon"],
                                         "lat": d["lat"]}), path)
            return run.cached(f"points-{kind}.parquet", make)

        self.paths = {k: points_file(k) for k in ("old", "new", "delta")}

        def make_polys(path):
            cols = {k: [p[k] for p in self.polys] for k in self.polys[0]}
            pq.write_table(pa.table(cols), path)

        def make_queries(path):
            pq.write_table(pa.table(dict(self.queries)), path)

        self.paths["polygons"] = run.cached("polygons.parquet", make_polys)
        self.paths["queries"] = run.cached("queries.parquet", make_queries)
        self.paths["geojson"] = run.cached(
            "geojson", lambda p: inputs.write_geojson(self.features, p))


# ---------------------------------------------------------------------------
# the round
# ---------------------------------------------------------------------------

class Round:
    """The operations of a round over one set of DataFrames.  ``traced``
    materialises each layer on its own (persist + count) inside its
    span, so spans and job groups split the time by layer."""

    def __init__(self, run, inp: Inputs):
        from pyspark.sql import functions as F

        self.F = F
        self.run = run
        self.inp = inp
        read = run.spark.read
        pts = "image_id string, lon double, lat double"
        self.old = read.schema(pts).parquet(inp.paths["old"])
        self.new = read.schema(pts).parquet(inp.paths["new"])
        self.delta = read.schema(pts).parquet(inp.paths["delta"])
        self.polys = read.schema(
            "polygon_id string, name string, rings array<array<array<double>>>, "
            "min_lon double, min_lat double, max_lon double, max_lat double"
        ).parquet(inp.paths["polygons"])
        self.queries = read.schema("query_id long, lon double, lat double").parquet(
            inp.paths["queries"])
        self.n = 0
        self.last_store = None

    # -- pyramid ---------------------------------------------------------------

    def build(self, traced: bool) -> dict:
        """Build the z0-14 pyramid of the old points into a fresh store."""
        from zellige_spark.operators import encode as E
        from zellige_spark.operators import tiles as T
        from zellige_spark.plans.lineage import TileStore

        tr = self.run.tracer
        store = TileStore(os.path.join(self.run.dir, f"store-{self.n}"))
        self.n += 1
        out = {"store": store}
        t = time.perf_counter()
        if traced:
            with tr.span("pyramid.build"):
                with tr.span("tiles"):
                    assigned = T.assign_tiles_buffered(self.old, zooms=ZOOMS).persist()
                    out["rows_out"] = assigned.count()
                with tr.span("encode"):
                    tiles = E.assemble_point_tiles_streaming(assigned).persist()
                    tiles.count()
                with tr.span("store.commit"):
                    sid = store.commit_tiles(tiles, "build")
            tiles.unpersist()
            assigned.unpersist()
        else:
            assigned = T.assign_tiles_buffered(self.old, zooms=ZOOMS)
            sid = store.commit_tiles(E.assemble_point_tiles_streaming(assigned), "build")
        out["build_s"] = time.perf_counter() - t
        out["sid"] = sid
        out["tiles"] = store.manifest(sid)["metrics"]["tiles_out"]
        out["store_bytes"], out["store_files"] = dir_bytes(*snapshot_files(store, sid))
        return out

    def pyramid(self, traced: bool) -> dict:
        """BUILD_REPEATS builds, then one refresh of the last build."""
        from zellige_spark.operators import encode as E
        from zellige_spark.operators import tiles as T
        from zellige_spark.plans.lineage import refresh_dirty_tiles

        tr = self.run.tracer
        builds = []
        for _ in range(BUILD_REPEATS):
            if builds:
                shutil.rmtree(builds[-1]["store"].root, ignore_errors=True)
            builds.append(self.build(traced))
        out = {"builds": builds}
        store, sid = builds[-1]["store"], builds[-1]["sid"]
        t = time.perf_counter()
        if traced:
            with tr.span("pyramid.refresh"):
                with tr.span("store.view"):
                    store.latest_view(self.run.spark).write.format("noop").mode("overwrite").save()
                with tr.span("refresh.reencode"):
                    dirty = (T.assign_tiles_buffered(self.delta, zooms=ZOOMS)
                             .select(*KEYS).distinct().persist())
                    dirty.count()
                    touched = T.assign_tiles_buffered(self.new, zooms=ZOOMS).join(
                        dirty, KEYS, "left_semi")
                    out["fresh_bytes"] = E.assemble_point_tiles_streaming(touched).agg(
                        self.F.sum("bytes_len")).first()[0]
                    dirty.unpersist()
                with tr.span("refresh"):
                    sid2 = refresh_dirty_tiles(store, self.new, self.delta, ZOOMS)
        else:
            sid2 = refresh_dirty_tiles(store, self.new, self.delta, ZOOMS)
        out["refresh_s"] = time.perf_counter() - t
        out["refresh_bytes"], _ = dir_bytes(*snapshot_files(store, sid2))
        out["sids"] = (sid, sid2)
        if self.last_store is not None and self.last_store is not store:
            shutil.rmtree(self.last_store.root, ignore_errors=True)
        self.last_store = store
        return out

    # -- features --------------------------------------------------------------

    def features(self, traced: bool) -> dict:
        from zellige_spark import io_geojson
        from zellige_spark.operators import feature_tiles as FT

        tr = self.run.tracer
        spark = self.run.spark
        out = {}
        t = time.perf_counter()
        if traced:
            with tr.span("io_geojson.read"):
                feats = io_geojson.read_geojson_distributed(
                    spark, self.inp.paths["geojson"]).persist()
                feats.count()
            with tr.span("feature_tiles.assign"):
                assigned = FT.assign_feature_tiles(feats, inputs.FEATURE_ZOOM).persist()
                out["pairs"] = assigned.count()
            with tr.span("feature_tiles.assemble"):
                rows = FT.assemble_feature_tiles(assigned, simplify=SIMPLIFY).collect()
            assigned.unpersist()
            feats.unpersist()
        else:
            feats = io_geojson.read_geojson_distributed(spark, self.inp.paths["geojson"])
            assigned = FT.assign_feature_tiles(feats, inputs.FEATURE_ZOOM)
            rows = FT.assemble_feature_tiles(assigned, simplify=SIMPLIFY).collect()
        out["s"] = time.perf_counter() - t
        out["tiles"] = {(r["zoom"], r["tile_x"], r["tile_y"]): bytes(r["mvt"]) for r in rows}
        return out

    def probe(self) -> list:
        from zellige_spark.kernel import pipeline as kp

        z, x, y = PROBE_TILE
        tile = kp.encode_features(
            kp.geojson_to_features({"type": "FeatureCollection", "features": [PROBE]}),
            kp.TileConfig("layer", z, x, y, simplify=SIMPLIFY))
        return checks.check_spec_winding(tile)

    # -- joins -----------------------------------------------------------------

    def pip(self) -> dict:
        from zellige_spark.operators import pip as PIP

        tr = self.run.tracer
        t = time.perf_counter()
        with tr.span("pip.prepare"):
            joined = PIP.pip_join_broadcast(self.old, self.polys)
        with tr.span("pip.exec"):
            pairs = joined.select("image_id", "polygon_id").collect()
        return {"s": time.perf_counter() - t, "pairs": {(r[0], r[1]) for r in pairs}}

    def knn(self) -> dict:
        from zellige_spark.operators import knn as KNN

        t = time.perf_counter()
        with self.run.tracer.span("knn"):
            rows = KNN.knn_kring_adaptive(self.queries, self.old, k=KNN_K,
                                          index_zoom=KNN_INDEX_ZOOM).collect()
        return {"s": time.perf_counter() - t,
                "rows": [(r["query_id"], r["neighbor_id"], r["dist_km"], r["rank"])
                         for r in rows]}

    def __call__(self, traced: bool = False) -> dict:
        res = {"features": [self.features(traced) for _ in range(REPEATS)],
               "probe": self.probe(),
               "pip": [self.pip() for _ in range(REPEATS)],
               "knn": [self.knn() for _ in range(REPEATS)],
               "pyramid": self.pyramid(traced)}
        self.run.attempted += OPS_PER_ROUND
        self.run.failed += 1 if res["probe"] else 0
        return res


# ---------------------------------------------------------------------------
# checks
# ---------------------------------------------------------------------------

def _snapshot_rows(df, sample) -> tuple:
    """One job per snapshot: ({tile: crc32}, {zoom: (tiles, features)},
    {sampled tile: mvt bytes})."""
    from pyspark.sql import functions as F

    is_sample = F.lit(False)
    for z, x, y in sample:
        is_sample = is_sample | ((F.col("zoom") == z) & (F.col("tile_x") == x)
                                 & (F.col("tile_y") == y))
    rows = df.select(*KEYS, F.crc32("mvt").alias("crc"), "feature_count",
                     F.when(is_sample, F.col("mvt")).alias("mvt")).collect()
    crc, counts, tiles = {}, {}, {}
    for z, x, y, c, n, mvt in rows:
        crc[(z, x, y)] = c
        t, f = counts.get(z, (0, 0))
        counts[z] = (t + 1, f + n)
        if mvt is not None:
            tiles[(z, x, y)] = bytes(mvt)
    return crc, counts, tiles


def _sample_tiles(keys: set, rng, per_zoom: int = 3) -> list:
    by_zoom = {}
    for k in sorted(keys):
        by_zoom.setdefault(k[0], []).append(k)
    out = []
    for z, ks in sorted(by_zoom.items()):
        pick = rng.choice(len(ks), size=min(per_zoom, len(ks)), replace=False)
        out.extend(ks[i] for i in sorted(pick))
    return out


def _check_decoded(run, what, got: dict, sample, ids, lon, lat) -> None:
    for key in sample:
        if key not in got:
            run.check(what, [f"tile {key} missing"])
            continue
        wid, wpx, wpy = checks.expected_point_tile(ids, lon, lat, *key)
        run.check(f"{what} tile {key}", checks.check_point_tile(got[key], wid, wpx, wpy))


def check_pyramid(run, rnd: Round, res: dict) -> None:
    from zellige_spark.operators import encode as E
    from zellige_spark.operators import tiles as T

    inp = rnd.inp
    store = rnd.last_store
    sid, sid2 = res["sids"]
    spark = run.spark
    old, new, delta = inp.pts["old"], inp.pts["new"], inp.pts["delta"]
    rng = np.random.default_rng([run.seed, 9])

    old_keys = checks.tile_keys(old["lon"], old["lat"], ZOOMS)
    sample = [(0, 0, 0)] + _sample_tiles(old_keys - {(0, 0, 0)}, rng)
    build_crc, counts, tiles = _snapshot_rows(store.read_tiles(spark, sid), sample)
    run.check("build per-zoom counts",
              checks.check_counts(counts, checks.pyramid_counts(old["lon"], old["lat"], ZOOMS)))
    if counts.get(0) != (1, len(old["id"])):
        run.check("build z0", [f"z0 holds {counts.get(0)}, expected (1, {len(old['id'])})"])
    _check_decoded(run, "build", tiles, sample, inp.ids["old"], old["lon"], old["lat"])

    new_keys = checks.tile_keys(new["lon"], new["lat"], ZOOMS)
    dirty = checks.tile_keys(delta["lon"], delta["lat"], ZOOMS)
    sample = _sample_tiles(dirty & new_keys, rng)
    got, counts, tiles = _snapshot_rows(store.latest_view(spark), sample)
    run.check("refresh per-zoom counts",
              checks.check_counts(counts, checks.pyramid_counts(new["lon"], new["lat"], ZOOMS)))
    _check_decoded(run, "refresh", tiles, sample, inp.ids["new"], new["lon"], new["lat"])
    scratch, _, _ = _snapshot_rows(E.assemble_point_tiles_streaming(
        T.assign_tiles_buffered(rnd.new, zooms=ZOOMS)), [])
    run.check("refresh vs from-scratch build", checks.check_same_tiles(got, scratch, "refresh"))
    run.check("refresh tile keys", checks.check_same_tiles(
        dict.fromkeys(got, 0), dict.fromkeys(new_keys, 0), "refresh keys"))
    run.check("refresh changes", checks.check_changed_within_dirty(build_crc, got, dirty))
    n_dirty = T.assign_tiles_buffered(rnd.delta, zooms=ZOOMS).select(*KEYS).distinct().count()
    if n_dirty != len(dirty):
        run.check("dirty tiles", [f"{n_dirty} dirty tiles, numpy {len(dirty)}"])
    run.layer["refresh.dirty_tiles"] = n_dirty


def check_features(run, inp: Inputs, tiles: dict) -> None:
    feats = inp.features
    bboxes = checks.feature_bboxes(feats)
    kinds = {f["id"]: f["geometry"]["type"] for f in feats}
    run.check("feature tiles", checks.check_feature_tiles(
        tiles, bboxes, kinds, inputs.FEATURE_ZOOM))
    run.check("feature ring orientation", checks.check_ring_orientation(tiles))


def check_joins(run, inp: Inputs, pairs: set, knn_rows: list) -> None:
    old = inp.pts["old"]
    want = checks.pip_pairs(inp.ids["old"], old["lon"], old["lat"], inp.polys)
    run.check("pip pairs", checks.check_pairs(pairs, want))
    run.check("knn", checks.check_knn(knn_rows, inp.queries, inp.ids["old"],
                                      old["lon"], old["lat"], KNN_K))


# ---------------------------------------------------------------------------
# in-process kernel layers (traced runs)
# ---------------------------------------------------------------------------

def point_fold_rate(inp: Inputs, reps: int = 3) -> float:
    """Rows/s of ``point_tile_fold`` over fixed, sorted Arrow batches of
    the build's z0-14 assignment (the rows the encode shuffle feeds it)."""
    import pyarrow as pa
    from zellige_spark.operators import encode as E

    old = inp.pts["old"]
    keys, ids, pxs, pys = [], [], [], []
    for z in ZOOMS:
        idx, tx, ty, px, py = checks.buffered_assignment(old["lon"], old["lat"], z)
        keys.append((np.int64(z) << 56) + (tx << 28) + ty)
        ids.append(np.asarray(inp.ids["old"], dtype=object)[idx])
        pxs.append(np.rint(px).astype(np.int16))
        pys.append(np.rint(py).astype(np.int16))
    key = np.concatenate(keys)
    iid = np.concatenate(ids)
    order = np.lexsort((iid.astype(str), key))
    table = pa.table({"tile_key": key[order], "image_id": pa.array(iid[order], pa.string()),
                      "px": np.concatenate(pxs)[order], "py": np.concatenate(pys)[order]})
    batches = table.to_batches(max_chunksize=65536)
    rates = []
    for _ in range(reps):
        fold = E.point_tile_fold("images", 4096)
        t = time.perf_counter()
        n_tiles = sum(b.num_rows for b in fold(iter(batches)))
        rates.append(table.num_rows / (time.perf_counter() - t))
        assert n_tiles > 0
    return median(rates)


def kernel_stage_times(rows_by_tile: dict, reps: int = 3) -> dict:
    """Seconds per pass over a fixed sample of tile groups: the whole
    ``encode_features`` and its project / clip / simplify stages through
    the kernel modules' public functions."""
    from zellige_spark.kernel import clip as kclip
    from zellige_spark.kernel import mercator as kmerc
    from zellige_spark.kernel import pipeline as kp
    from zellige_spark.kernel import simplify as ksimp

    window = kclip.buffered_bbox(128, 4096)
    totals = {"encode": [], "project": [], "clip": [], "simplify": []}
    for _ in range(reps):
        acc = dict.fromkeys(totals, 0.0)
        for (z, x, y), feats in rows_by_tile.items():
            t = time.perf_counter()
            kp.encode_features(feats, kp.TileConfig("layer", z, x, y, simplify=SIMPLIFY))
            acc["encode"] += time.perf_counter() - t
            bbox = kmerc.tile_bbox(z, x, y)
            for f in feats:
                t = time.perf_counter()
                rings = []
                for ring in f["parts"][0]:
                    a = np.asarray(ring, dtype=np.float64).reshape(-1, 2)
                    px, py = kmerc.lonlat_to_tile_local(a[:, 0], a[:, 1], 4096, 1, bbox)
                    rings.append(np.stack([px, py], axis=1))
                t1 = time.perf_counter()
                if f["geom_type"] == "LineString":
                    clipped = [kclip.clip_line_qc(window, rings[0])]
                else:
                    clipped = kclip.clip_polygon_sh(window, rings)
                clipped = [c for c in clipped if c is not None]
                t2 = time.perf_counter()
                for i, c in enumerate(clipped):
                    if f["geom_type"] == "LineString":
                        ksimp.simplify_line(SIMPLIFY, c)
                    else:
                        ksimp.simplify_ring(SIMPLIFY, ksimp.CLOCKWISE if i == 0
                                            else ksimp.ANTICLOCKWISE, c)
                t3 = time.perf_counter()
                acc["project"] += t1 - t
                acc["clip"] += t2 - t1
                acc["simplify"] += t3 - t2
        for k in totals:
            totals[k].append(acc[k])
    return {k: median(v) for k, v in totals.items()}


def sample_tile_groups(rnd: Round, n_tiles: int = 12) -> dict:
    """{tile: kernel feature dicts} for a fixed sample of assigned tiles."""
    from zellige_spark import io_geojson
    from zellige_spark.operators import feature_tiles as FT

    F = rnd.F
    assigned = FT.assign_feature_tiles(io_geojson.read_geojson_distributed(
        rnd.run.spark, rnd.inp.paths["geojson"]), inputs.FEATURE_ZOOM)
    keys = sorted({tuple(r) for r in assigned.select(*KEYS).distinct().collect()})
    rng = np.random.default_rng([rnd.run.seed, 11])
    pick = [keys[i] for i in sorted(rng.choice(len(keys), size=min(n_tiles, len(keys)),
                                               replace=False))]
    cond = None
    for z, x, y in pick:
        c = (F.col("zoom") == z) & (F.col("tile_x") == x) & (F.col("tile_y") == y)
        cond = c if cond is None else cond | c
    groups = {k: [] for k in pick}
    rows = assigned.filter(cond).collect()
    for r in sorted(rows, key=lambda r: (r["zoom"], r["tile_x"], r["tile_y"], r["fid"])):
        groups[(r["zoom"], r["tile_x"], r["tile_y"])].append(
            {"fid": r["fid"], "geom_type": r["geom_type"], "parts": r["parts"],
             "props": json.loads(r["props_json"])})
    return groups


# ---------------------------------------------------------------------------
# the workload driver
# ---------------------------------------------------------------------------

def run_layout(run, layout: str) -> dict:
    inp = Inputs(run, layout)
    run.start()
    rnd = Round(run, inp)
    rnd.pyramid(False)                      # warm-up, part of set-up
    setup_s = run.elapsed() - run.gen_s

    run.tracer.enabled = run.trace
    results = []
    t_end = time.perf_counter() + run.args.seconds
    while not results or time.perf_counter() < t_end:
        results.append(rnd(traced=run.trace))
    run.tracer.enabled = False
    last = results[-1]
    if any(r["probe"] != last["probe"] for r in results):
        run.check("winding probe", ["probe result changed between rounds"])

    check_pyramid(run, rnd, last["pyramid"])
    for f in last["features"]:
        check_features(run, inp, f["tiles"])
    for p, k in zip(last["pip"], last["knn"]):
        check_joins(run, inp, p["pairs"], k["rows"])

    pyr = [r["pyramid"] for r in results]
    builds = [b for p in pyr for b in p["builds"]]
    feats = [f for r in results for f in r["features"]]
    if not run.trace:
        n_points = len(inp.pts["old"]["id"])
        return {
            "setup_s": (setup_s, "s"),
            "tiles_per_s": (median([b["tiles"] / b["build_s"] for b in builds]), "tiles/s"),
            "store_bytes": (median([b["store_bytes"] for b in builds]), "bytes"),
            "refresh_s": (median([p["refresh_s"] for p in pyr]), "s"),
            "refresh_bytes_written": (median([p["refresh_bytes"] for p in pyr]), "bytes"),
            "feature_tiles_per_s": (median([len(f["tiles"]) / f["s"] for f in feats]),
                                    "tiles/s"),
            "pip_points_per_s": (median([n_points / p["s"] for r in results
                                         for p in r["pip"]]), "points/s"),
            "knn_queries_per_s": (median([inputs.N_QUERIES / k["s"] for r in results
                                          for k in r["knn"]]), "queries/s"),
        }

    # traced run: per-layer metrics, per call of the layer
    tr = run.tracer
    L = run.layer
    L["tiles.assign_s"] = tr.mean("tiles")
    L["tiles.rows_out"] = builds[-1]["rows_out"]
    L["encode.self_s"] = tr.mean("encode", self_time=True)
    L["store.commit_s"] = tr.mean("store.commit")
    L["store.bytes_written"] = builds[-1]["store_bytes"]
    L["store.files_written"] = builds[-1]["store_files"]
    L["store.view_s"] = tr.mean("store.view")
    L["refresh.reencode_s"] = tr.mean("refresh.reencode")
    L["refresh.write_amplification"] = pyr[-1]["refresh_bytes"] / max(1, pyr[-1]["fresh_bytes"])
    L["io_geojson.read_s"] = tr.mean("io_geojson.read")
    L["feature_tiles.assign_s"] = tr.mean("feature_tiles.assign")
    L["feature_tiles.pairs"] = feats[-1]["pairs"]
    L["pip.prepare_s"] = tr.mean("pip.prepare")
    L["pip.exec_s"] = tr.mean("pip.exec")
    old = inp.pts["old"]
    cands = checks.bbox_candidates(old["lon"], old["lat"], inp.polys)
    L["pip.candidates"] = cands
    L["pip.refine_yield"] = len(last["pip"][-1]["pairs"]) / max(1, cands)
    L["knn.exec_s"] = tr.mean("knn")
    L["kernel.point_fold_rows_per_s"] = point_fold_rate(inp)
    ks = kernel_stage_times(sample_tile_groups(rnd))
    L["kernel.encode_features_s"] = ks["encode"]
    L["kernel.project_s"] = ks["project"]
    L["kernel.clip_s"] = ks["clip"]
    L["kernel.simplify_s"] = ks["simplify"]

    groups = run.stop_and_read_events()
    from spans import GroupMetrics, max_over_median

    def g(name):
        """Event-log metrics of a layer, per call of the layer."""
        gm = groups.get(name) or GroupMetrics()
        return gm, max(1, tr.calls(name))

    enc, n = g("encode")
    L["encode.python_s"] = enc.py_time_s / n
    L["encode.arrow_bytes_to_python"] = enc.py_sent / n
    L["encode.arrow_bytes_from_python"] = enc.py_recv / n
    L["encode.shuffle_write_bytes"] = enc.shuffle_write / n
    L["encode.spill_bytes"] = enc.spill / n
    L["encode.tasks"] = enc.tasks / n
    py_stages = [st for st in enc.stage_py if enc.stage_py[st] > 0]
    L["encode.task_max_over_median"] = median(
        [max_over_median(enc.stage_task_ms[st]) for st in py_stages]) if py_stages else 1.0
    gm, n = g("refresh")
    L["refresh.jobs"] = gm.jobs / n
    gm, n = g("feature_tiles.assemble")
    L["feature_tiles.python_s"] = gm.py_time_s / n
    L["feature_tiles.arrow_bytes_to_python"] = gm.py_sent / n
    gm, n = g("pip.exec")
    L["pip.python_s"] = gm.py_time_s / n
    gm, n = g("knn")
    L["knn.jobs"] = gm.jobs / n
    rounds = len(results)
    gs = [gm for name, gm in groups.items() if name is not None]
    L["spark.executor_cpu_s"] = sum(x.cpu_s for x in gs) / rounds
    L["spark.gc_s"] = sum(x.gc_s for x in gs) / rounds
    L["spark.jobs"] = sum(x.jobs for x in gs) / rounds
    L["spark.tasks"] = sum(x.tasks for x in gs) / rounds
    run.layer_out = {k: (float(L[k]), u) for k, u in PER_LAYER.items()}
    return {}


WORKLOADS = {
    "clustered": lambda run: run_layout(run, "clustered"),
    "spread": lambda run: run_layout(run, "spread"),
}
