"""Round-5 additions: ANN recall-audit opt-out (plan-asserted), the
runtime ring fan-out (sequence-explode) that replaces the 1e6-literal
guard in the adaptive kNN paths, and their equality with the literal
fan-out."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F


def _plan(df) -> str:
    return df._sc._jvm.PythonSQLUtils.explainString(
        df._jdf.queryExecution(), "formatted")


SF = "/root/testdata/sf0.001"


# --- recall_e3 audit opt-out (round-4 verdict task #2) ----------------------

@pytest.mark.parametrize("qname", ["ann_lsh", "ann_ivf", "ann_ivfpq"])
def test_ann_recall_audit_opt_out(spark, qname):
    """With recall_audit=False the ANN operators must not embed the
    brute-force corpus scan: no NestedLoopJoin / CartesianProduct in
    the plan, no recall_e3 column; with the default (on) the audit
    column is present — so the driver queries stay self-verifying while
    the production path is not Omega(n) by construction."""
    from zellige_spark.operators import similarity as SIM

    fn = {"ann_lsh": SIM.q_ann_lsh, "ann_ivf": SIM.q_ann_ivf,
          "ann_ivfpq": SIM.q_ann_ivfpq}[qname]
    off = fn(spark, SF, recall_audit=False)
    assert "recall_e3" not in off.columns
    plan = _plan(off)
    assert "NestedLoopJoin" not in plan
    assert "CartesianProduct" not in plan
    on = fn(spark, SF)
    assert "recall_e3" in on.columns
    # same approximate answer either way
    a = sorted(map(tuple, off.select("query_id", "neighbor_id", "rank").collect()))
    b = sorted(map(tuple, on.select("query_id", "neighbor_id", "rank").collect()))
    assert a == b


def test_ann_bruteforce_plan_does_nestedloop(spark):
    """Sanity check on the assertion above: the brute-force oracle DOES
    plan a nested-loop (broadcast cross join) — so its absence in the
    audit-off plans is a meaningful signal, not a naming accident."""
    from zellige_spark.operators import similarity as SIM

    plan = _plan(SIM.q_ann_bruteforce(spark, SF))
    assert "NestedLoopJoin" in plan or "CartesianProduct" in plan


# --- hash-ordered (unbiased) training samples (verdict task #3) -------------

def test_ivf_training_sample_is_hash_ordered_not_prefix(spark):
    """The k-means training rows must come from a hash-ordered sample,
    not the first ids: train on a tiny corpus where the id-prefix slice
    and the hash slice differ, and check determinism across calls."""
    import numpy as np

    from zellige_spark.operators.similarity import _ivf_centroids

    rows = [(i, [float((i * 37 + j * 11) % 17 - 8) for j in range(8)])
            for i in range(64)]
    emb = spark.createDataFrame(rows, "vec_id long, embedding array<float>")
    C1 = _ivf_centroids(spark, emb, k=4, sample=16)
    C2 = _ivf_centroids(spark, emb, k=4, sample=16)
    assert np.array_equal(C1, C2)  # deterministic
    # the sampled ids are NOT the prefix 0..15
    sampled = [r["vec_id"] for r in
               emb.orderBy(F.xxhash64(F.col("vec_id"), F.lit(42)), "vec_id")
                  .limit(16).select("vec_id").collect()]
    assert sorted(sampled) != list(range(16))


# --- runtime (sequence-explode) ring fan-out --------------------------------

def _toy_points(spark):
    qs = spark.createDataFrame(
        [(0, -179.99, 0.5), (1, 10.0, 45.0), (2, 150.0, -60.0)],
        "query_id long, lon double, lat double")
    data = spark.createDataFrame(
        [(i, float((i * 97) % 360 - 180) + 0.123, float((i * 53) % 160 - 80) + 0.321)
         for i in range(300)],
        "image_id long, lon double, lat double")
    return qs, data


def test_kring_sequence_fanout_equals_literal(spark, monkeypatch):
    """Forcing the runtime sequence fan-out (threshold 0) must give the
    exact same kNN rows as the literal-array fan-out, XYZ backend."""
    from zellige_spark.operators import knn as KNN

    qs, data = _toy_points(spark)
    lit_rows = sorted(map(tuple,
        KNN.knn_kring(qs, data, k=3, index_zoom=2, max_ring=3)
           .select("query_id", "neighbor_id", "rank").collect()))
    monkeypatch.setattr(KNN, "LITERAL_FANOUT_MAX", 0)
    seq_rows = sorted(map(tuple,
        KNN.knn_kring(qs, data, k=3, index_zoom=2, max_ring=3)
           .select("query_id", "neighbor_id", "rank").collect()))
    assert seq_rows == lit_rows


def test_hex_sequence_fanout_equals_literal(spark, monkeypatch):
    """Same equality for the hex backend — including the dq-dependent
    dr bounds that keep max(|dq|,|dr|,|dq+dr|) <= R."""
    from zellige_spark.operators import hexgrid as HX
    from zellige_spark.operators import knn as KNN

    qs, data = _toy_points(spark)
    lit_rows = sorted(map(tuple,
        HX.knn_hex(qs, data, k=3, level=2, ring=3)
          .select("query_id", "neighbor_id", "rank").collect()))
    monkeypatch.setattr(KNN, "LITERAL_FANOUT_MAX", 0)
    seq_rows = sorted(map(tuple,
        HX.knn_hex(qs, data, k=3, level=2, ring=3)
          .select("query_id", "neighbor_id", "rank").collect()))
    assert seq_rows == lit_rows


# --- in-job integrity columns (verdict tasks #4 and #6) ---------------------

def test_mvt_encode_integrity_columns(spark):
    """mvt_encode (the flagship entry query) now decodes every tile's
    bytes back through the strict kernel decoder in-job: decode_ok must
    be 1 everywhere with decoded_features == feature_count and a
    non-degenerate crc."""
    from zellige_spark import queries as Q

    out = Q.QUERIES["mvt_encode"](spark, SF).toPandas()
    assert len(out) > 0
    assert (out.decode_ok == 1).all()
    assert (out.decoded_features == out.feature_count).all()
    assert out.bytes_crc32.nunique() > 1


def test_tile_integrity_truthful_on_corruption(spark):
    """Flip a byte inside the tile payload: with_tile_integrity must
    report decode_ok=0 (the audit actually audits)."""
    from zellige_spark import queries as Q
    from zellige_spark.operators import encode as E

    pts = Q._customer_images(spark, SF)
    from zellige_spark.operators import tiles as T

    assigned = T.assign_tiles_buffered(pts, zoom=Q.ENC_ZOOM,
                                       extent=Q.ENC_EXTENT, buffer=Q.ENC_BUFFER)
    tiles = E.assemble_point_tiles_streaming(assigned, extent=Q.ENC_EXTENT,
                                             buffer=Q.ENC_BUFFER)
    # corrupt: truncate the last byte of every tile
    broken = tiles.withColumn(
        "mvt", F.expr("substring(mvt, 1, int(bytes_len - 1))"))
    out = E.with_tile_integrity(broken, extent=Q.ENC_EXTENT).toPandas()
    assert (out.decode_ok == 0).all()


def test_audio_windows_integrity_columns(spark):
    from zellige_spark.operators import images as IMG

    out = IMG.q_audio_windows(spark, SF).toPandas()
    assert len(out) == 150
    for col in ("rms_ok", "peak_ok", "coverage_ok", "count_ok"):
        assert (out[col] == 1).all(), col


def test_audio_integrity_truthful_on_tamper(spark):
    """Corrupt the stored rms stat: rms_ok must flip to 0."""
    import numpy as np

    from zellige_spark.kernel import media
    from zellige_spark.operators import images as IMG

    t = np.arange(8000) / 8000.0
    x = 0.3 * np.sin(2 * np.pi * 440.0 * t)
    df = spark.createDataFrame([("a0", media.encode_wav(x, 8000), "wav")],
                               "audio_id string, bytes binary, fmt string")
    wins = IMG.sample_audio_windows(df, window_ms=500)
    tampered = wins.withColumn("rms", F.col("rms") + F.lit(0.5))
    out = IMG.with_audio_integrity(tampered, window_ms=500).toPandas()
    assert (out.rms_ok == 0).all()
    assert (out.peak_ok == 1).all()


def test_audio_coverage_truthful_on_index_and_length_corruption(spark):
    """The two blind spots a review flagged: (a) duplicate+gap index
    sets whose count/max cancel, (b) ALL windows shortened equally.
    Both must flip coverage_ok to 0."""
    import numpy as np

    from zellige_spark.kernel import media
    from zellige_spark.operators import images as IMG

    t = np.arange(12000) / 8000.0
    x = 0.3 * np.sin(2 * np.pi * 440.0 * t)
    df = spark.createDataFrame([("a0", media.encode_wav(x, 8000), "wav")],
                               "audio_id string, bytes binary, fmt string")
    wins = IMG.sample_audio_windows(df, window_ms=500)  # 3 windows: 0,1,2

    # (a) rewrite index 1 -> 2: indices {0, 2, 2}; count=3 == max+1
    dup = wins.withColumn(
        "window_idx",
        F.when(F.col("window_idx") == 1, F.lit(2)).otherwise(F.col("window_idx")))
    out = IMG.with_audio_integrity(dup, window_ms=500).toPandas()
    assert (out.coverage_ok == 0).all()

    # (b) uniformly truncate every window's sample count by half: the
    # clip-relative max check would pass; the rate-derived check fails
    short = (wins.withColumn("n_samples", (F.col("n_samples") / 2).cast("int"))
                 .withColumn("pcm_bytes",
                             F.expr("substring(pcm_bytes, 1, n_samples * 4)")))
    out = IMG.with_audio_integrity(short, window_ms=500).toPandas()
    # non-last windows are no longer full length
    assert (out[out.window_idx < out.window_idx.max()].coverage_ok == 0).all()


def test_video_frames_integrity_columns(spark):
    from zellige_spark.operators import images as IMG

    out = IMG.q_video_frames(spark, SF).toPandas()
    assert len(out) == 71
    for col in ("stride_ok", "size_ok", "count_ok"):
        assert (out[col] == 1).all(), col


def test_adaptive_full_cover_no_longer_raises(spark):
    """The exact scenario the round-4 advisor flagged: adaptive kNN at
    a fine index (zoom/level >= 9) on sparse data doubles its ring past
    the old literal cap before reaching full cover.  With the runtime
    fan-out both backends complete and find the true neighbor."""
    from zellige_spark.operators import hexgrid as HX
    from zellige_spark.operators import knn as KNN

    qs = spark.createDataFrame([(0, -179.5, 0.25)],
                               "query_id long, lon double, lat double")
    # single antipodal data point: nothing near the query, so the ring
    # must expand all the way
    data = spark.createDataFrame([(7, 179.5, -0.25)],
                                 "image_id long, lon double, lat double")
    out = (KNN.knn_kring_adaptive(qs, data, k=1, index_zoom=9,
                                  start_ring=400)
              .select("query_id", "neighbor_id", "rank").collect())
    assert [tuple(r) for r in out] == [(0, 7, 1)]
    out = (HX.knn_hex_adaptive(qs, data, k=1, level=9, start_ring=600)
             .select("query_id", "neighbor_id", "rank").collect())
    assert [tuple(r) for r in out] == [(0, 7, 1)]


# --- CellIndex spatial-locality layout (verdict task #5) --------------------

def _assert_locality_layout(spark, tmp_path, out, key_col, subdir):
    """Shared assertion body mirroring test_repartition_by_s2_locality:
    files hold disjoint sorted key ranges, and a key-range predicate
    is pushed down to the parquet scan."""
    import glob

    import numpy as np
    import pyarrow.parquet as pq

    path = str(tmp_path / subdir)
    out.write.parquet(path)
    ranges = []
    for f in glob.glob(f"{path}/part-*.parquet"):
        c = pq.read_table(f, columns=[key_col]).column(key_col).to_numpy()
        if len(c):
            ranges.append((c.min(), c.max()))
            assert np.all(np.diff(c) >= 0)  # sorted -> row-group prune
    ranges.sort()
    assert len(ranges) >= 4
    for (lo1, hi1), (lo2, hi2) in zip(ranges, ranges[1:]):
        assert hi1 <= lo2  # disjoint key ranges across files

    back = spark.read.parquet(path)
    lo, hi = int(ranges[2][0]), int(ranges[2][1])
    pred = back.filter((F.col(key_col) >= lo) & (F.col(key_col) <= hi))
    assert pred.count() > 0
    plan = pred._jdf.queryExecution().executedPlan().toString()
    assert key_col in plan and "PushedFilters" in plan


def _locality_corpus(spark, seed):
    import numpy as np
    import pandas as pd

    rng = np.random.default_rng(seed)
    n = 20000
    return spark.createDataFrame(pd.DataFrame({
        "id": np.arange(n),
        "lon": rng.uniform(-179, 179, n),
        "lat": rng.uniform(-80, 80, n)}))


def test_repartition_by_xyz_locality_ranges_disjoint(spark, tmp_path):
    from zellige_spark.operators import tiles as T

    df = _locality_corpus(spark, 11)
    out = T.repartition_by_xyz_locality(df, zoom=10, partitions=8)
    _assert_locality_layout(spark, tmp_path, out, "zorder_key", "xyzlayout")


def test_repartition_by_hex_locality_ranges_disjoint(spark, tmp_path):
    from zellige_spark.operators import hexgrid as HX

    df = _locality_corpus(spark, 12)
    out = HX.repartition_by_hex_locality(df, level=10, partitions=8)
    _assert_locality_layout(spark, tmp_path, out, "hex_zorder", "hexlayout")


def test_morton_key_is_spatial(spark):
    """Adjacent Morton-key ranges are compact 2-D blocks: the 4 cells
    of any aligned 2x2 quad are consecutive keys (recursive quadrant
    order), and key distance lower-bounds grid separation for aligned
    blocks."""
    import pandas as pd

    from zellige_spark.operators import tiles as T

    cells = [(x, y) for y in range(8) for x in range(8)]
    df = spark.createDataFrame(pd.DataFrame(cells, columns=["tx", "ty"]))
    got = (df.withColumn("mk", T.morton_key(F.col("tx"), F.col("ty")))
             .toPandas().set_index(["tx", "ty"]).mk.to_dict())

    def interleave(x, y):
        out = 0
        for b in range(16):
            out |= ((x >> b) & 1) << (2 * b) | ((y >> b) & 1) << (2 * b + 1)
        return out

    for (x, y), mk in got.items():
        assert mk == interleave(x, y)
    # every aligned 2x2 quad occupies 4 consecutive keys
    for qx in range(4):
        for qy in range(4):
            keys = sorted(got[(2 * qx + dx, 2 * qy + dy)]
                          for dx in (0, 1) for dy in (0, 1))
            assert keys == list(range(keys[0], keys[0] + 4))


# --- giant-tile bounded-memory stress (verdict task #7) ---------------------

def test_giant_tile_streaming_fold_bounded_rss(tmp_path):
    """1e6 rows through ONE tile key, driven through the exact fold
    ``assemble_point_tiles_streaming`` wraps in mapInPandas, in a fresh
    subprocess so ru_maxrss is a true high-water mark.  Peak RSS must
    stay within a small constant of the tile's own data (raw rows +
    output bytes) — the z0-at-10^12 story rests on this shape."""
    import subprocess
    import sys
    import textwrap

    script = textwrap.dedent("""
        import resource, sys
        import numpy as np, pyarrow as pa
        from zellige_spark.operators.encode import point_tile_fold

        key = (8 << 56) | (57 << 28) | 93  # one z8 tile
        NB, N = 20, 50_000                 # 20 Arrow-sized batches

        def batches():
            rng = np.random.default_rng(5)
            for b in range(NB):
                yield pa.RecordBatch.from_arrays([
                    pa.array(np.full(N, key, dtype=np.int64)),
                    pa.array(np.char.add("img", np.arange(
                        b * N, (b + 1) * N).astype(str))),
                    pa.array(rng.uniform(0, 4096, N)),
                    pa.array(rng.uniform(0, 4096, N))],
                    names=["tile_key", "image_id", "px", "py"])

        out = list(point_tile_fold("images", 4096)(batches()))
        total = sum(o.num_rows for o in out)
        assert total == 1, total
        row = out[-1].to_pylist()[0]
        assert row["feature_count"] == NB * N
        assert row["bytes_len"] == len(row["mvt"]) > NB * N  # >1 byte/feature
        peak_kib = resource.getrusage(resource.RUSAGE_SELF).ru_maxrss
        print("PEAK_KIB", peak_kib, "BYTES", row["bytes_len"])
        # interpreter+numpy+pandas baseline is ~150 MiB; the single
        # open-tile accumulator (1e6 ids + px/py) plus the encoded
        # blob is ~200 MiB more.  1 GiB catches any quadratic or
        # per-row-object blowup with margin for allocator noise.
        assert peak_kib < 1024 * 1024, peak_kib
    """)
    r = subprocess.run([sys.executable, "-c", script], capture_output=True,
                       text=True, cwd="/root/repo", timeout=600)
    assert r.returncode == 0, r.stdout + r.stderr
    assert "PEAK_KIB" in r.stdout


def test_giant_tile_streaming_matches_grouped_subsample(spark):
    """Byte-equality of the streaming fold vs the driver-side point
    reference on a 50k-row single-tile subsample of the giant-tile
    distribution."""
    import numpy as np
    import pandas as pd

    from zellige_spark.operators import encode as E
    from zellige_spark.operators import tiles as T

    from .tile_reference import point_tiles_reference

    rng = np.random.default_rng(5)
    n = 50_000
    # all points inside one z8 tile (tile 57,93 spans ~1.4 degrees)
    lon0, lon1 = -180.0 + 57 * 360.0 / 256 + 0.1, -180.0 + 58 * 360.0 / 256 - 0.1
    pdf = pd.DataFrame({
        "image_id": [f"img{i}" for i in range(n)],
        "lon": rng.uniform(lon0, lon1, n),
        "lat": rng.uniform(30.0, 31.0, n)})
    df = spark.createDataFrame(pdf)
    assigned = T.assign_tiles_buffered(df, zoom=8, extent=4096, buffer=128)
    a = (E.assemble_point_tiles_streaming(assigned).toPandas()
         .sort_values(["tile_x", "tile_y"]).reset_index(drop=True))
    b = (point_tiles_reference(assigned)
         .sort_values(["tile_x", "tile_y"]).reset_index(drop=True))
    assert len(a) == len(b) >= 1
    for ra, rb in zip(a.itertuples(), b.itertuples()):
        assert (ra.tile_x, ra.tile_y) == (rb.tile_x, rb.tile_y)
        assert bytes(ra.mvt) == bytes(rb.mvt)
    # buffered assignment duplicates boundary points into neighbor
    # tiles' buffer zones, so the total is >= n
    assert int(a.feature_count.sum()) >= n


# --- large-query-side kNN (verdict task #8) ---------------------------------

def test_knn_large_query_side_shuffle_join(spark):
    """Table-vs-table kNN: 1e5 queries with broadcast_queries=False
    exercises the seam's non-broadcast branch — the candidate join must
    be a shuffle join (no BroadcastHashJoin), and results must equal
    brute force on a query sample."""
    import numpy as np
    import pandas as pd

    from zellige_spark.operators import knn as KNN

    rng = np.random.default_rng(17)
    nq, nd = 100_000, 20_000
    q = spark.createDataFrame(pd.DataFrame({
        "query_id": np.arange(nq),
        "lon": rng.uniform(-60, 60, nq),
        "lat": rng.uniform(-40, 40, nq)}))
    d = spark.createDataFrame(pd.DataFrame({
        "image_id": np.arange(nd),
        "lon": rng.uniform(-60, 60, nd),
        "lat": rng.uniform(-40, 40, nd)}))

    prev = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try:
        out = KNN.knn_kring(q, d, k=3, index_zoom=5, max_ring=2,
                            broadcast_queries=False)
        plan = _plan(out)
        assert "BroadcastHashJoin" not in plan
        assert ("SortMergeJoin" in plan) or ("ShuffledHashJoin" in plan)

        sample = out.filter(F.col("query_id") < 40)
        got = (sample.select("query_id", "neighbor_id", "rank")
               .toPandas().sort_values(["query_id", "rank"])
               .reset_index(drop=True))
        brute = (KNN.knn_bruteforce(q.filter(F.col("query_id") < 40), d, k=3)
                 .select("query_id", "neighbor_id", "rank")
                 .toPandas().sort_values(["query_id", "rank"])
                 .reset_index(drop=True))
        assert got.values.tolist() == brute.values.tolist()
        assert len(got) == 120
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prev)


# --- within_distance_join (fixed-radius distance-band join) -----------------

def _radius_brute(l, r, radius, K):
    lb = l.select("left_id", F.col("lon").alias("_qlon"), F.col("lat").alias("_qlat"))
    rb = r.select("right_id", F.col("lon").alias("_dlon"), F.col("lat").alias("_dlat"))
    pairs = (lb.crossJoin(rb)
             .withColumn("d", K.haversine_km(F.col("_qlon"), F.col("_qlat"),
                                             F.col("_dlon"), F.col("_dlat")))
             .filter(F.col("d") <= radius))
    return set((row.left_id, row.right_id) for row in pairs.collect())


def _radius_points(spark):
    import random
    rnd = random.Random(42)
    L = [(i, rnd.uniform(-180, 180), rnd.uniform(-85, 85)) for i in range(200)]
    # polar band (wide cap-bbox fan-out) + antimeridian wrap rows
    L += [(1000, 179.95, 84.9), (1001, -179.95, 84.8),
          (1002, 0.0, -84.95), (1003, 179.99, 0.0)]
    R = [(j, rnd.uniform(-180, 180), rnd.uniform(-85, 85)) for j in range(1500)]
    R += [(9000, -179.93, 84.85), (9001, 179.97, 84.75),
          (9002, -0.05, -84.9), (9003, -179.98, 0.01)]
    l = spark.createDataFrame(L, "left_id long, lon double, lat double")
    r = spark.createDataFrame(R, "right_id long, lon double, lat double")
    return l, r


@pytest.mark.parametrize("radius,zoom,broadcast",
                         [(50.0, None, False), (300.0, None, True),
                          (300.0, 9, False), (2000.0, None, False)])
def test_within_distance_join_equals_bruteforce(spark, radius, zoom, broadcast):
    """Exact pair-set equality with the brute-force cross join across
    radii, explicit/auto index zooms, and both join branches — the
    polar rows exercise the widened per-row cap-bbox fan-out, the
    antimeridian rows the x wrap."""
    from zellige_spark.operators import knn as K

    l, r = _radius_points(spark)
    out = K.within_distance_join(l, r, radius, index_zoom=zoom,
                                 broadcast_left=broadcast)
    plan = _plan(out)
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan
    got = set((row.left_id, row.right_id) for row in out.collect())
    assert got == _radius_brute(l, r, radius, K)


def test_within_distance_join_full_cover_degrade(spark):
    """A radius wider than the Earth degrades to full cover (every
    pair) with the fan-out clamped at one grid period per axis — no
    error, no crossJoin node, complete result."""
    from zellige_spark.operators import knn as K

    l, r = _radius_points(spark)
    l, r = l.limit(30), r.limit(200)
    out = K.within_distance_join(l, r, 25000.0, index_zoom=2)
    assert "CartesianProduct" not in _plan(out)
    assert out.count() == 30 * 200


def test_within_distance_join_offgrid_rows_no_descending_sequence(spark):
    """Out-of-contract rows (|lat| beyond the mercator grid) must not
    hit Spark's descending-sequence trap: the clamped y range keeps
    sequences ascending, the rows probe one cell, and in-contract rows
    are unaffected."""
    from zellige_spark.operators import knn as K

    l = spark.createDataFrame([(1, 10.0, 89.9), (2, 10.0, 10.0)],
                              "left_id long, lon double, lat double")
    r = spark.createDataFrame([(7, 10.05, 10.05)],
                              "right_id long, lon double, lat double")
    got = set((row.left_id, row.right_id) for row in
              K.within_distance_join(l, r, 50.0).collect())
    assert got == {(2, 7)}


# --- zoom_rollup (hierarchical multi-zoom tile aggregates) ------------------

def test_zoom_rollup_equals_direct_assignment(spark):
    """Rollup-derived per-tile (cnt, sum) at every zoom must equal
    aggregating a direct per-zoom assignment — the floor-composition
    exactness claim (shiftright ancestor == per-zoom floor), checked
    bit-for-bit across all 15 zooms on scattered + edge points."""
    import random

    from zellige_spark.operators import tiles as T

    rnd = random.Random(7)
    rows = [(i, rnd.uniform(-180, 180), rnd.uniform(-85, 85), i * 13)
            for i in range(4000)]
    rows += [(9000, -180.0, 84.999, 1), (9001, 179.999, -84.999, 2),
             (9002, 0.0, 0.0, 3)]
    df = spark.createDataFrame(rows, "id long, lon double, lat double, v long")

    rolled = T.zoom_rollup(df, max_zoom=14, sum_cols={"v_sum": "v"})
    direct = (T.assign_tiles(df, range(15))
              .groupBy("zoom", "tile_x", "tile_y")
              .agg(F.count(F.lit(1)).alias("cnt"), F.sum("v").alias("v_sum")))
    cols = ["zoom", "tile_x", "tile_y", "cnt", "v_sum"]
    a = sorted(tuple(r) for r in rolled.select(cols).collect())
    b = sorted(tuple(r) for r in direct.select(cols).collect())
    assert a == b


def test_zoom_rollup_two_exchanges(spark):
    """The scale claim in one number: raw rows shuffle ONCE (z14
    aggregation) and aggregates shuffle once more (ancestor merge) —
    exactly two Exchanges for any number of zooms, where the naive
    explode-then-aggregate plan shuffles 15x the raw input."""
    from zellige_spark.operators import tiles as T

    df = spark.range(100).select(
        F.col("id"),
        (F.col("id") * 3.1 % 360 - 180).alias("lon"),
        (F.col("id") * 1.7 % 170 - 85).alias("lat"))
    import re

    plan = _plan(T.zoom_rollup(df, max_zoom=14))
    assert len(re.findall(r"^\(\d+\) Exchange", plan, re.M)) == 2, plan


def test_zoom_rollup_zoom_subset_and_validation(spark):
    from zellige_spark.operators import tiles as T

    df = spark.createDataFrame([(1, 10.0, 20.0)], "id long, lon double, lat double")
    out = T.zoom_rollup(df, max_zoom=10, zooms=[0, 7, 10])
    got = {r.zoom for r in out.collect()}
    assert got == {0, 7, 10}
    with pytest.raises(ValueError):
        T.zoom_rollup(df, max_zoom=10, zooms=[11])


# --- geo_near_dup (cross-modal: simhash near-dups at nearby sites) -----------

def test_geo_near_dup_subset_margin_and_plan(spark):
    """The composed query must (a) select exactly the simhash pairs whose
    synthetic capture sites fall within the radius, (b) keep every pair
    distance >= 10 km away from the threshold so membership cannot flip
    on float noise, and (c) stay content-first: the distance filter adds
    ZERO shuffles and zero Python stages on top of the simhash plan."""
    import math
    import re

    from zellige_spark import queries as Q
    from zellige_spark.operators import dedup as DD

    pairs = {(r.doc_a, r.doc_b): r.hamming
             for r in DD.q_dedup_simhash(spark, SF).collect()}
    assert pairs, "simhash produced no pairs at sf0.001"

    def _coord(doc):
        lon = (doc * 48271 % 360000) / 1000.0 - 180.0
        lat = ((doc * 16807 + 19) % 170000) / 1000.0 - 85.0
        return lon, lat

    def _hav_km(a, b):
        lon1, lat1 = _coord(a)
        lon2, lat2 = _coord(b)
        p = math.pi / 180.0
        x = (math.sin((lat2 - lat1) * p / 2) ** 2
             + math.cos(lat1 * p) * math.cos(lat2 * p)
             * math.sin((lon2 - lon1) * p / 2) ** 2)
        return 2.0 * 6371.0 * math.asin(math.sqrt(x))

    thr = Q.GEO_NEAR_DUP_KM
    for (a, b) in pairs:
        assert abs(_hav_km(a, b) - thr) >= 10.0, (a, b, _hav_km(a, b))
    want = {(a, b): h for (a, b), h in pairs.items() if _hav_km(a, b) <= thr}

    out = Q.q_geo_near_dup(spark, SF)
    # plan shape checked on the un-executed frame (an executed AQE frame
    # explains Final+Initial sections, double-counting Exchanges)
    n_ex = r"^\(\d+\) Exchange"
    base = len(re.findall(n_ex, _plan(DD.q_dedup_simhash(spark, SF)), re.M))
    plan = _plan(out)
    assert len(re.findall(n_ex, plan, re.M)) == base, plan
    assert "EvalPython" not in plan  # pure JVM column math end-to-end

    got = {(r.doc_a, r.doc_b): r.hamming for r in out.collect()}
    assert got == want
    assert 0 < len(got) < len(pairs)  # the filter is non-trivial both ways


# --- coverage_tile_stats (per-tile row/coverage metrics) ---------------------

def test_coverage_tile_stats_plan_and_values(spark):
    """Tile id and PIP membership are map-side; raw rows shuffle only as
    tile-key aggregates (two Exchanges total) and the aggregate-level
    outer join reuses that partitioning — zero further Exchanges.  The
    refine stays a single Arrow stage on the covered stream only, and
    values reconcile against the standalone pip join."""
    import re

    from zellige_spark import queries as Q

    out = Q.q_coverage_tile_stats(spark, SF)
    plan = _plan(out)
    assert len(re.findall(r"^\(\d+\) Exchange", plan, re.M)) == 2, plan
    assert len(re.findall(r"^\(\d+\) ArrowEvalPython", plan, re.M)) == 1, plan
    assert "CartesianProduct" not in plan

    rows = out.collect()
    n_cov = sum(r.n_covered for r in rows)
    n_tot = sum(r.n_rows for r in rows)
    covered = Q.q_pip_polygon(spark, SF).count()
    total = spark.read.parquet(f"{SF}/customer.parquet").count()
    assert n_cov == covered and n_tot == total
    assert all(0 <= r.n_covered <= r.n_rows for r in rows)


# --- focal_sum (neighborhood tile statistics) --------------------------------

def test_focal_sum_equals_bruteforce_with_wrap(spark):
    """Focal 3x3 sums at a tiny zoom (z3: 8x8 grid) against a pure-
    Python recompute, with points placed against both antimeridian
    edges so the x wrap actually fires, and a polar row so the y drop
    fires."""
    import collections
    import math

    from zellige_spark.kernel import mercator as km
    from zellige_spark.operators import tiles as T

    pts = [(i, float(lon), float(lat)) for i, (lon, lat) in enumerate(
        [(-179.9, 0.3), (179.8, 0.4), (-179.95, 0.5),   # wrap pair
         (10.0, 45.0), (10.2, 45.1), (11.5, 44.0),       # cluster
         (0.0, 84.9), (0.0, -84.9),                      # near-pole rows
         (100.0, -30.0)])]
    df = spark.createDataFrame(pts, "id long, lon double, lat double")
    zoom, n = 3, 8
    out = {(r.tile_x, r.tile_y): (r.n_tiles, r.cnt, r.s)
           for r in T.focal_sum(df, zoom=zoom, ring=1,
                                sum_cols={"s": "id"}).collect()}

    agg = collections.Counter()
    sums = collections.Counter()
    for i, lon, lat in pts:
        tx, ty = km.xy3857_to_tile(km.lon_to_x(lon), km.lat_to_y(lat), zoom)
        agg[(tx, ty)] += 1
        sums[(tx, ty)] += i
    want = {}
    for (tx, ty), cnt in agg.items():
        for dx in (-1, 0, 1):
            for dy in (-1, 0, 1):
                kx, ky = (tx + dx) % n, ty + dy
                if not (0 <= ky < n):
                    continue
                t, c, s = want.get((kx, ky), (0, 0, 0))
                want[(kx, ky)] = (t + 1, c + cnt, s + sums[(tx, ty)])
    assert out == want
    # the wrap fired: the two antimeridian clusters smooth into each other
    wrap_tiles = {k for k in agg if k[0] in (0, n - 1)}
    assert len({k[0] for k in wrap_tiles}) == 2


def test_focal_sum_plan_and_validation(spark):
    import re

    from zellige_spark.operators import tiles as T

    df = spark.createDataFrame([(1, 10.0, 20.0)], "id long, lon double, lat double")
    plan = _plan(T.focal_sum(df, zoom=9, ring=2))
    assert len(re.findall(r"^\(\d+\) Exchange", plan, re.M)) == 2, plan
    with pytest.raises(ValueError):
        T.focal_sum(df, zoom=0, ring=1)  # 3x3 wraps onto itself on a 1x1 grid


# --- tile_topk (per-tile top-k selection) ------------------------------------

def test_tile_topk_values_and_group_limit_pushdown(spark):
    """Top-3 per z3 tile equals a pure-Python recompute, and the
    rank<=k filter actually triggers WindowGroupLimit — the map-side
    per-tile prune that keeps the shuffle O(k * occupied tiles)."""
    from zellige_spark.kernel import mercator as km
    from zellige_spark.operators import tiles as T

    rows = [(i, float((i * 37) % 1000) / 10.0,
             float((i * 97) % 360 - 180) + 0.123,
             float((i * 53) % 160 - 80) + 0.321) for i in range(400)]
    df = spark.createDataFrame(rows, "id long, score double, lon double, lat double")
    out = T.tile_topk(df, zoom=3, k=3,
                      order_by=[F.col("score").desc(), F.col("id").asc()])
    plan = _plan(out)
    assert "WindowGroupLimit" in plan, plan

    got = sorted((r.tile_x, r.tile_y, r.id, r.rank) for r in out.collect())
    import collections
    by_tile = collections.defaultdict(list)
    for i, score, lon, lat in rows:
        tx, ty = km.xy3857_to_tile(km.lon_to_x(lon), km.lat_to_y(lat), 3)
        by_tile[(tx, ty)].append((-score, i))
    want = sorted((tx, ty, i, r + 1)
                  for (tx, ty), lst in by_tile.items()
                  for r, (_, i) in enumerate(sorted(lst)[:3]))
    assert got == want


# --- text-pipeline round-5 additions ----------------------------------------

def _write_docs(spark, tmp_path, rows):
    """Write a tiny documents.parquet with the driver's schema."""
    df = spark.createDataFrame(
        [(i, t, "en", f"src{i % 3}", len(t)) for i, t in enumerate(rows)],
        "doc_id long, text string, lang string, source string, n_chars int")
    df.coalesce(1).write.mode("overwrite").parquet(str(tmp_path / "documents.parquet"))
    return str(tmp_path)


def test_doc_repetition_handcrafted(spark, tmp_path):
    """Gopher repetition metrics on handcrafted docs: exact fractions,
    lexicographic tie-break, and the documented >1 overlap case."""
    from zellige_spark.operators import text as TXT

    sf = _write_docs(spark, tmp_path, ["a b a b a b", "x y z"])
    got = {r.doc_id: r for r in TXT.q_doc_repetition(spark, sf).collect()}
    # doc 0: "a b a b a b" (11 chars, 6 tokens)
    # bigrams: "a b" x3, "b a" x2 -> top ("a b", 3); chars 3*3/11
    # trigrams: "a b a" x2, "b a b" x2 -> all duplicated: 4 occ * 5 chars
    r0 = got[0]
    assert (r0.top_bigram, r0.top_bigram_n, r0.n_bigrams) == ("a b", 3, 5)
    assert r0.top_bigram_frac == 9.0 / 11.0
    assert r0.dup_tri_frac == 20.0 / 11.0  # overlaps -> can exceed 1
    # doc 1: all bigrams unique -> tie broken by smallest gram; no dup tris
    r1 = got[1]
    assert (r1.top_bigram, r1.top_bigram_n) == ("x y", 1)
    assert r1.dup_tri_frac == 0.0


def test_domain_cap_group_limit_and_growth_stability(spark):
    """The per-source cap plans a WindowGroupLimit (map-side prune) and
    the hash-ordered sample is stable under corpus growth: every doc
    kept from the FULL corpus is also kept when its source shrinks
    (ranks only decrease when competitors leave)."""
    from zellige_spark.operators import text as TXT

    sf = "/root/testdata/sf0.001"
    out = TXT.q_domain_cap(spark, sf)
    assert "WindowGroupLimit" in _plan(out), _plan(out)
    full = out.toPandas()
    assert (full.groupby("source").size() <= TXT.DOMAIN_CAP).all()

    import duckdb
    sub_sql = TXT.sql_domain_cap().replace(
        "FROM documents",
        "FROM (SELECT * FROM documents WHERE doc_id % 2 = 0)")
    con = duckdb.connect()
    con.execute(f"CREATE VIEW documents AS SELECT * FROM "
                f"read_parquet('{sf}/documents.parquet')")
    sub = con.execute(sub_sql).df()
    kept_full_even = set(full[full.doc_id % 2 == 0].doc_id)
    assert kept_full_even <= set(sub.doc_id)


def test_salient_terms_order_and_group_limit(spark):
    """Per-doc top-k keyword ranks are monotone in (tf desc, df asc,
    term asc) and the rank<=k filter takes the WindowGroupLimit prune."""
    from zellige_spark.operators import text as TXT

    out = TXT.q_salient_terms(spark, "/root/testdata/sf0.001")
    assert "WindowGroupLimit" in _plan(out), _plan(out)
    pdf = out.toPandas()
    for _, g in pdf.groupby("doc_id"):
        g = g.sort_values("rank")
        assert len(g) <= TXT.TOP_TERMS_K
        keys = list(zip(-g.tf, g.df, g.term))
        assert keys == sorted(keys)


def test_tile_time_rollup_single_fact_scan_and_grain_consistency(spark):
    """The spatiotemporal cube scans the orders fact table exactly ONCE
    (year grain merges from month AGGREGATES, not a second raw pass),
    and year cells equal the sum of their month cells."""
    import re

    from zellige_spark import queries as Q

    out = Q.q_tile_time_rollup(spark, "/root/testdata/sf0.001")
    plan = _plan(out)
    assert len(re.findall(r"orders\.parquet", plan)) == 1, plan

    pdf = out.toPandas()
    month = pdf[pdf.grain == "month"].copy()
    year = pdf[pdf.grain == "year"]
    month["yy"] = month.bucket // 100
    merged = (month.groupby(["tile_x", "tile_y", "yy"])["n_orders"].sum()
                   .reset_index())
    want = {(r.tile_x, r.tile_y, r.yy): r.n_orders for r in merged.itertuples()}
    got = {(r.tile_x, r.tile_y, r.bucket): r.n_orders for r in year.itertuples()}
    assert got == want


# --- deterministic HLL tile sketch ------------------------------------------

def test_hll_merge_equals_direct_and_estimate_accuracy(spark):
    """Sketch mergeability is exact: z5 registers max-merged from z9
    registers equal registers computed directly at z5 (same rows,
    bit-for-bit) — and the finalized estimate lands within the m=64
    error envelope at 20k true distinct."""
    from zellige_spark.operators import sketch as SK

    df = spark.range(20000).select(
        "id",
        (F.col("id") % 2 + 100).alias("tile_x"),
        F.lit(200).alias("tile_y"))
    reg9 = SK.hll_registers(df, ["tile_x", "tile_y"], "id")
    direct5 = SK.hll_registers(
        df.select("id", F.expr("shiftright(tile_x, 4)").alias("tile_x"),
                  F.expr("shiftright(tile_y, 4)").alias("tile_y")),
        ["tile_x", "tile_y"], "id")
    merged5 = SK.hll_merge(reg9, {
        "tile_x": F.expr("shiftright(tile_x, 4)"),
        "tile_y": F.expr("shiftright(tile_y, 4)")})
    a = sorted(map(tuple, merged5.collect()))
    b = sorted(map(tuple, direct5.collect()))
    assert a == b and len(a) > 0

    fin = SK.hll_finalize(merged5, ["tile_x", "tile_y"]).collect()
    assert len(fin) == 1
    est = fin[0].est_hll
    assert abs(est - 20000) / 20000 < 0.35, est  # ~2.7 sigma at m=64


def test_hll_linear_counting_small_range(spark):
    """Tiny cardinalities take the LinearCounting branch (literal
    lookup, not the raw harmonic estimate whose m=64 floor is ~45)."""
    from zellige_spark.operators import sketch as SK

    df = spark.range(3).select("id", F.lit(7).alias("tile_x"),
                               F.lit(9).alias("tile_y"))
    reg = SK.hll_registers(df, ["tile_x", "tile_y"], "id")
    fin = SK.hll_finalize(reg, ["tile_x", "tile_y"]).collect()[0]
    assert fin.est_hll < 10, fin.est_hll  # raw estimate would be >= 45
    assert abs(fin.est_hll - 3) < 2


def test_tile_quartiles_equals_python_recompute(spark):
    """Exact per-tile quartiles: rank-math result equals an independent
    pure-Python recompute through the numpy mercator kernel (value at
    1-based rank ceil(n*k/4) of the sorted per-tile values)."""
    import collections

    from zellige_spark import queries as Q
    from zellige_spark.kernel import mercator as km

    sf = "/root/testdata/sf0.001"
    out = {(r.tile_x, r.tile_y): r
           for r in Q.q_tile_quartiles(spark, sf).collect()}

    cust = spark.read.parquet(f"{sf}/customer.parquet").select("c_custkey").toPandas()
    groups = collections.defaultdict(list)
    for k in cust.c_custkey:
        k = int(k)
        lon = (k * 7919 % 360000) / 1000.0 - 180.0
        lat = ((k * 104729 + 13) % 170000) / 1000.0 - 85.0
        tx, ty = km.xy3857_to_tile(km.lon_to_x(lon), km.lat_to_y(lat), 5)
        groups[(tx, ty)].append(k)
    assert set(out) == set(groups)
    for key, vals in groups.items():
        vals.sort()
        n = len(vals)
        r = out[key]
        assert r.n_rows == n and r.vmin == vals[0] and r.vmax == vals[-1]
        for k, got in ((1, r.q1), (2, r.q2), (3, r.q3)):
            assert got == vals[(n * k + 3) // 4 - 1], (key, k)


def test_doc_chunks_map_only_and_coverage(spark):
    """Context-window chunking is a zero-Exchange map-only plan, and
    chunks tile every document: starts at stride multiples, full-size
    except the tail, last chunk reaching exactly the final token."""
    from zellige_spark import queries as Q
    from zellige_spark.operators import text as TXT

    out = Q.QUERIES["doc_chunks"](spark, "/root/testdata/sf0.001")
    assert "Exchange" not in _plan(out), _plan(out)
    pdf = out.toPandas()
    docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet") \
                .selectExpr("doc_id",
                            "size(split(regexp_replace(trim(text), '\\\\s+', ' '), ' ')) AS n") \
                .toPandas().set_index("doc_id")["n"]
    for doc_id, g in pdf.groupby("doc_id"):
        g = g.sort_values("chunk_idx")
        n = int(docs[doc_id])
        assert list(g.start_tok) == list(range(0, n, TXT.CHUNK_STRIDE))
        assert (g.chunk_text.str.split(" ").str.len() == g.n_toks).all()
        full = g.iloc[:-1]
        assert (full.start_tok + TXT.CHUNK_TOKS >= full.n_toks + full.start_tok).all()
        assert int((g.start_tok + g.n_toks).max()) == n  # reaches the end


def test_zonal_stats_bbox_prefilter_consistency(spark):
    """Zonal counts agree with running the single-polygon PIP join per
    zone (the 5-zone dim must not cross-contaminate memberships)."""
    from zellige_spark import queries as Q
    from zellige_spark.operators import pip as PIP

    sf = "/root/testdata/sf0.001"
    got = {r.polygon_id: r.n_points
           for r in Q.q_zonal_stats(spark, sf).collect()}
    pts = Q._customer_points(spark, sf)
    for pid, verts in Q._zonal_polys().items():
        import numpy as np
        ring = [[float(x), float(y)] for x, y in verts]
        arr = np.asarray(ring)
        one = spark.createDataFrame(
            [(pid, "zone", [ring],
              float(arr[:, 0].min()), float(arr[:, 1].min()),
              float(arr[:, 0].max()), float(arr[:, 1].max()))],
            "polygon_id string, name string, rings array<array<array<double>>>, "
            "min_lon double, min_lat double, max_lon double, max_lat double")
        n = PIP.pip_join_broadcast(pts, one).count()
        assert got.get(pid, 0) == n, pid


def test_doc_repetition_pathological_doc_streams(spark, tmp_path):
    """A degenerate 100k-token single-word document must stream through
    the repetition metrics (per-doc gram distinctness keeps the
    (doc, gram) group count at 2, not 100k) and read fully repetitive."""
    from zellige_spark.operators import text as TXT

    sf = _write_docs(spark, tmp_path, ["w " * 100000])
    r = TXT.q_doc_repetition(spark, sf).collect()
    assert len(r) == 1
    row = r[0]
    assert row.top_bigram == "w w"
    assert row.top_bigram_n == 99999
    assert row.n_bigrams == 99999
    # every trigram duplicated: dup chars = 99998 * 5 over 199999 chars
    assert abs(row.dup_tri_frac - (99998 * 5) / 199999) < 1e-12


def test_domain_cap_hot_domain_prunes_map_side(spark, tmp_path):
    """A 200k-row single-source hot domain flows through the cap: the
    WindowGroupLimit map-side prune keeps the shuffle at k rows per map
    partition, the result is exactly k rows, and the kept set equals a
    pandas recompute of the md5 hash order."""
    import hashlib

    import pandas as pd

    from zellige_spark.operators import text as TXT

    n = 200_000
    df = spark.range(n).selectExpr(
        "id AS doc_id", "'x' AS text", "'en' AS lang",
        "'hot' AS source", "1 AS n_chars")
    sf = str(tmp_path)
    df.write.mode("overwrite").parquet(f"{sf}/documents.parquet")
    out = TXT.q_domain_cap(spark, sf).toPandas()
    assert len(out) == TXT.DOMAIN_CAP
    assert (out.source == "hot").all()

    want = sorted(range(n),
                  key=lambda d: (hashlib.md5(str(d).encode()).hexdigest(), d)
                  )[:TXT.DOMAIN_CAP]
    assert sorted(out.doc_id) == sorted(want)


# --- per-tile density raster (heatmap tiles) --------------------------------

def _density_brute(spark, df, base_zoom, px_bits):
    """Recompute the raster summary in pandas from the engine's own
    (oracle-pinned) fine-zoom tile assignment."""
    from zellige_spark.operators import tiles as T

    side = 1 << px_bits
    n_px = side * side
    fine = (T.assign_tiles(df, [base_zoom + px_bits])
            .select("tile_x", "tile_y").toPandas())
    fine["tx"] = fine.tile_x // side
    fine["ty"] = fine.tile_y // side
    fine["px"] = (fine.tile_y % side) * side + fine.tile_x % side
    pix = (fine.groupby(["tx", "ty", "px"]).size()
               .reset_index(name="cnt"))
    rows = {}
    for (tx, ty), g in pix.groupby(["tx", "ty"]):
        g = g.sort_values(["cnt", "px"], ascending=[False, True])
        rows[(tx, ty)] = (int(g.cnt.sum()), len(g), int(g.cnt.max()),
                          int(g.px.iloc[0]),
                          int(((g.px + 1) * g.cnt).sum()))
    assert n_px >= pix.px.max() + 1
    return rows


def test_density_raster_equals_bruteforce(spark):
    """Summary columns must equal a pandas recompute from the engine's
    fine-zoom assignment — including the mode tie-break (smallest
    pixel id among max-count pixels) and the clamped edge points."""
    import random

    from zellige_spark.operators import tiles as T

    rnd = random.Random(11)
    rows = [(i, rnd.uniform(-180, 180), rnd.uniform(-85, 85))
            for i in range(3000)]
    # clamped corners + duplicated points to force mode ties
    rows += [(9000, -180.0, 85.05113), (9001, 179.99999, -85.05113)]
    rows += [(9100 + j, 10.0001, 20.0001) for j in range(5)]
    rows += [(9200 + j, 10.2001, 20.0001) for j in range(5)]
    df = spark.createDataFrame(rows, "id long, lon double, lat double")

    got = {(r.tile_x, r.tile_y):
           (r.n_points, r.n_px, r.max_px, r.mode_px, r.px_checksum)
           for r in T.density_raster(df, base_zoom=5, px_bits=4).collect()}
    want = _density_brute(spark, df, 5, 4)
    assert got == want


def test_density_raster_two_exchanges(spark):
    """Raw rows shuffle once at the fine zoom; the per-tile summary
    aggregates pixel AGGREGATES — exactly two Exchanges, like
    zoom_rollup."""
    import re

    from zellige_spark.operators import tiles as T

    df = spark.range(100).select(
        F.col("id"),
        (F.col("id") * 3.1 % 360 - 180).alias("lon"),
        (F.col("id") * 1.7 % 170 - 85).alias("lat"))
    plan = _plan(T.density_raster(df))
    assert len(re.findall(r"^\(\d+\) Exchange", plan, re.M)) == 2, plan


def test_density_raster_array_dense_and_integrity(spark):
    """The dense row-major array must agree with the sparse pixel
    counts, fill absent pixels with 0, and carry the in-job
    raster_sum == n_points integrity equality on every row."""
    import random

    from zellige_spark.operators import tiles as T

    rnd = random.Random(13)
    rows = [(i, rnd.uniform(-30, 30), rnd.uniform(-30, 30))
            for i in range(800)]
    df = spark.createDataFrame(rows, "id long, lon double, lat double")

    arr = T.density_raster_array(df, base_zoom=5, px_bits=4).toPandas()
    assert (arr.raster.map(len) == 256).all()
    assert (arr.raster.map(sum) == arr.n_points).all()
    assert (arr.raster_sum == arr.n_points).all()

    summ = T.density_raster(df, base_zoom=5, px_bits=4).toPandas()
    merged = arr.merge(summ, on=["tile_x", "tile_y"])
    assert len(merged) == len(arr) == len(summ)
    for _, r in merged.iterrows():
        ras = list(r.raster)
        assert max(ras) == r.max_px
        assert sum(1 for v in ras if v > 0) == r.n_px
        assert ras.index(max(ras)) == r.mode_px
        assert sum((i + 1) * v for i, v in enumerate(ras)) == r.px_checksum


# --- trajectory operators ----------------------------------------------------

def _py_hav_m(lon1, lat1, lon2, lat2):
    import math

    r1, r2 = math.radians(lat1), math.radians(lat2)
    dlat, dlon = r2 - r1, math.radians(lon2) - math.radians(lon1)
    a = (math.sin(dlat / 2) ** 2
         + math.cos(r1) * math.cos(r2) * math.sin(dlon / 2) ** 2)
    return math.floor(2.0 * 6371.0 * math.asin(min(1.0, math.sqrt(a)))
                      * 1000.0)


def test_track_stats_handcrafted(spark):
    """Three handcrafted tracks vs a pure-Python recompute: a single
    point (all zeros), a two-point hop, and an out-of-order three-point
    track with a ts tie broken by event_id."""
    import datetime as dt

    from zellige_spark.operators import trajectories as TRJ

    t0 = dt.datetime(2024, 1, 1, 0, 0, 0)

    def s(sec):
        return t0 + dt.timedelta(seconds=sec)

    rows = [
        (1, 10, s(5), 10.0, 20.0),
        (2, 20, s(0), 0.0, 0.0), (2, 21, s(60), 1.0, 0.0),
        # deliberately out of input order + ts tie at s(0)
        (3, 32, s(90), 50.0, 10.0),
        (3, 31, s(0), -10.0, -10.0),   # same ts as 30: event_id orders
        (3, 30, s(0), 0.0, 0.0),
    ]
    df = spark.createDataFrame(
        rows, "user_id long, event_id long, ts timestamp, "
              "lon double, lat double")
    got = {r.user_id: r for r in TRJ.track_stats(df).collect()}

    assert (got[1].n_points, got[1].length_m, got[1].max_leg_m,
            got[1].net_m, got[1].dur_s) == (1, 0, 0, 0, 0)

    leg2 = _py_hav_m(0, 0, 1, 0)
    assert (got[2].n_points, got[2].length_m, got[2].max_leg_m,
            got[2].net_m, got[2].dur_s) == (2, leg2, leg2, leg2, 60)

    l31 = _py_hav_m(0, 0, -10, -10)       # event 30 -> 31 (ts tie)
    l32 = _py_hav_m(-10, -10, 50, 10)     # event 31 -> 32
    net = _py_hav_m(0, 0, 50, 10)         # first (30) -> last (32)
    assert (got[3].n_points, got[3].length_m, got[3].max_leg_m,
            got[3].net_m, got[3].dur_s) == (3, l31 + l32, max(l31, l32),
                                            net, 90)


def test_track_stats_single_exchange(spark):
    """Window and aggregation share the entity key: ONE Exchange in the
    whole plan — the window sort and the final aggregate both reuse
    hashpartitioning(user_id)."""
    import re

    from zellige_spark.operators import trajectories as TRJ

    df = spark.createDataFrame(
        [(1, 1, None, 0.0, 0.0)],
        "user_id long, event_id long, ts timestamp, lon double, lat double")
    plan = _plan(TRJ.track_stats(df))
    assert len(re.findall(r"^\(\d+\) Exchange", plan, re.M)) == 1, plan


def test_simplify_tracks_matches_kernel(spark):
    """The distributed DP output (n_kept + kept-index checksum) must
    equal running the kernel recursion directly per track; collinear
    tracks collapse to endpoints, zigzags above epsilon keep all, and
    both integrity columns hold."""
    import datetime as dt

    import numpy as np

    from zellige_spark.kernel.simplify import douglas_peucker
    from zellige_spark.operators import trajectories as TRJ
    from zellige_spark.operators.trajectories import _kept_indices

    t0 = dt.datetime(2024, 1, 1)
    rows = []
    tracks = {
        # collinear on the 3857 plane: equator lons project linearly
        1: [(float(i), 0.0) for i in range(8)],
        # wide zigzag: 20-deg lon steps keep every chord shallow, so
        # each 13-deg-lat vertex stays >eps from it -> keeps all 7
        2: [(float(i * 20), 13.0 if i % 2 else 0.0) for i in range(7)],
        # mixed: small wiggles under eps + one big excursion
        3: [(0.0, 0.0), (1.0, 0.1), (2.0, 0.0), (30.0, 40.0),
            (4.0, 0.1), (5.0, 0.0)],
        # degenerate: single point and duplicate pair
        4: [(7.0, 7.0)],
        5: [(3.0, 3.0), (3.0, 3.0), (3.0, 3.0)],
    }
    for uid, pts in tracks.items():
        for i, (lon, lat) in enumerate(pts):
            rows.append((uid, i, t0 + dt.timedelta(seconds=i), lon, lat))
    df = spark.createDataFrame(
        rows, "user_id long, event_id long, ts timestamp, "
              "lon double, lat double")

    from zellige_spark.operators import tiles as T

    eps = 500_000.0
    out = {r.user_id: r
           for r in TRJ.simplify_tracks(T.with_web_mercator(df),
                                        epsilon_m=eps).collect()}
    proj = (T.with_web_mercator(df)
            .select("user_id", "event_id", "x3857", "y3857").toPandas())
    for uid, pts in tracks.items():
        g = proj[proj.user_id == uid].sort_values("event_id")
        arr = g[["x3857", "y3857"]].to_numpy(dtype=np.float64)
        if len(arr) < 2:
            want_idx = list(range(len(arr)))
        else:
            want_idx = _kept_indices(arr, douglas_peucker(eps, arr))
        r = out[uid]
        assert r.n_points == len(arr)
        assert r.n_kept == len(want_idx)
        assert r.kept_idx_checksum == sum(i + 1 for i in want_idx)
        assert r.endpoints_ok and r.within_eps_ok

    assert out[1].n_kept == 2          # collinear -> endpoints only
    assert out[2].n_kept == 7          # zigzag above eps keeps all
    assert 2 < out[3].n_kept < 6       # excursion kept, wiggles dropped
    assert out[4].n_kept == 1
    assert out[5].n_kept == 2          # duplicate pts: endpoints kept


def test_simplify_kept_indices_duplicates():
    """Greedy subsequence recovery stays total when the track contains
    bit-identical repeated points."""
    import numpy as np

    from zellige_spark.operators.trajectories import _kept_indices

    pts = np.array([[0.0, 0.0], [1.0, 1.0], [1.0, 1.0], [0.0, 0.0],
                    [2.0, 2.0]])
    kept = np.array([[0.0, 0.0], [1.0, 1.0], [0.0, 0.0], [2.0, 2.0]])
    idx = _kept_indices(pts, kept)
    assert idx == [0, 1, 3, 4]
    assert all(a < b for a, b in zip(idx, idx[1:]))


# --- per-tile image mosaic (geo x image) -------------------------------------

def test_tile_mosaic_equals_numpy_recompute(spark):
    """Mosaic bytes / n_images / pixel_sum must equal a pure-numpy
    recompute straight from the synthetic corpus (decode -> block-mean
    -> per-tile integer mean), and every integrity column must hold."""
    import zlib

    import numpy as np

    from zellige_spark import synth
    from zellige_spark.kernel import mercator as M
    from zellige_spark.operators import images as IMG

    n, zoom, thumb = 120, 3, 8
    out = IMG.tile_image_mosaic(synth.images_df(spark, n),
                                zoom=zoom, thumb=thumb).toPandas()
    assert (out.cnt_uniform_ok).all()
    assert (out.pack_ok).all()
    assert (out.w == thumb).all() and (out.h == thumb).all()

    pdf = synth.gen_images_pandas(0, n)
    sums, cnts = {}, {}
    for r in pdf.itertuples(index=False):
        px = synth.decode_image(bytes(r.bytes), r.fmt, r.w, r.h)
        bh, bw = r.h // thumb, r.w // thumb
        small = (px[: bh * thumb, : bw * thumb]
                 .reshape(thumb, bh, thumb, bw, 3)
                 .mean(axis=(1, 3)).astype(np.uint8))
        tx, ty = M.xy3857_to_tile(M.lon_to_x(r.lon), M.lat_to_y(r.lat), zoom)
        key = (int(tx), int(ty))
        sums[key] = sums.get(key, 0) + small.reshape(-1).astype(np.int64)
        cnts[key] = cnts.get(key, 0) + 1

    assert len(out) == len(sums)
    for r in out.itertuples(index=False):
        key = (r.tile_x, r.tile_y)
        want = sums[key] // cnts[key]
        assert r.n_images == cnts[key]
        assert bytes(r.bytes) == want.astype(np.uint8).tobytes()
        assert r.pixel_sum == int(want.sum())
        assert r.mosaic_crc32 == zlib.crc32(bytes(r.bytes))


def test_tile_mosaic_two_exchanges(spark):
    """The mosaic is a decomposable vector aggregation: per-image
    thumbnails map-side, ONE data shuffle at (tile, channel) grain,
    then per-tile regroup over 192-row aggregates — two Exchanges, no
    per-tile image collection anywhere in the plan."""
    import re

    from zellige_spark import synth
    from zellige_spark.operators import images as IMG

    plan = _plan(IMG.tile_image_mosaic(synth.images_df(spark, 16)))
    assert len(re.findall(r"^\(\d+\) Exchange", plan, re.M)) == 2, plan
    assert "collect_list(vals" not in plan
    assert "collect_list(bytes" not in plan


def test_tile_mosaic_pyramid_equals_direct_per_zoom(spark):
    """One decode pass must give every zoom's mosaic bit-for-bit equal
    to running tile_image_mosaic directly at that zoom — the
    integer-exact ancestor-merge claim (parent channel sums == sum of
    child channel sums), plus integrity columns at every level."""
    from zellige_spark import synth
    from zellige_spark.operators import images as IMG

    imgs = synth.images_df(spark, 100)
    pyr = IMG.tile_mosaic_pyramid(imgs, max_zoom=4,
                                  zooms=[0, 2, 4]).toPandas()
    assert pyr.cnt_uniform_ok.all() and pyr.pack_ok.all()
    assert sorted(pyr.zoom.unique()) == [0, 2, 4]
    assert len(pyr[pyr.zoom == 0]) == 1  # world tile
    for z in (0, 2, 4):
        direct = IMG.tile_image_mosaic(synth.images_df(spark, 100),
                                       zoom=z).toPandas()
        a = (pyr[pyr.zoom == z]
             .sort_values(["tile_x", "tile_y"]).reset_index(drop=True))
        b = direct.sort_values(["tile_x", "tile_y"]).reset_index(drop=True)
        assert len(a) == len(b)
        for col in ("tile_x", "tile_y", "n_images", "pixel_sum",
                    "mosaic_crc32"):
            assert list(a[col]) == list(b[col]), (z, col)
        assert [bytes(x) for x in a.bytes] == [bytes(x) for x in b.bytes]


def test_tile_mosaic_pyramid_three_exchanges(spark):
    """Decode once, shuffle channel rows once, merge ancestors over
    AGGREGATES, regroup — three Exchanges however many zooms."""
    import re

    from zellige_spark import synth
    from zellige_spark.operators import images as IMG

    plan = _plan(IMG.tile_mosaic_pyramid(synth.images_df(spark, 8),
                                         max_zoom=4))
    assert len(re.findall(r"^\(\d+\) Exchange", plan, re.M)) == 3, plan


def test_tile_cap_hot_tile_prunes_and_is_growth_stable(spark):
    """A 5000-row single-tile hot spot: the WindowGroupLimit prune is
    in the plan, exactly TILE_CAP rows survive, the kept set equals a
    pandas md5-order recompute, and kept-in-full is a subset of
    kept-in-any-prefix-extension (growth stability: adding rows can
    only displace by hash order, never by scan order)."""
    import hashlib

    from pyspark.sql.window import Window

    from zellige_spark import queries as Q

    def kept(ids):
        order = sorted(ids, key=lambda d: (
            hashlib.md5(str(d).encode()).hexdigest(), d))
        return order[:Q.TILE_CAP]

    def run(ids):
        df = spark.createDataFrame([(i, 10.0001, 20.0001) for i in ids],
                                   "c_custkey long, lon double, lat double")
        from zellige_spark.operators import tiles as T

        a = T.assign_tiles(df, [Q.TILE_CAP_ZOOM])
        w = Window.partitionBy("tile_x", "tile_y").orderBy(
            F.md5(F.col("c_custkey").cast("string")), F.col("c_custkey"))
        out = (a.withColumn("samp_rank", F.row_number().over(w))
                .filter(F.col("samp_rank") <= Q.TILE_CAP))
        return out

    big = run(range(5000))
    assert "WindowGroupLimit" in _plan(big)
    rows = big.select("c_custkey").collect()
    assert sorted(r.c_custkey for r in rows) == sorted(kept(range(5000)))
    # growth stability: the 5000-row corpus keeps a subset of what any
    # smaller prefix kept only when hash order says so — check vs 500
    small_keep = set(kept(range(500)))
    big_keep = set(kept(range(5000)))
    assert big_keep == set(kept(list(big_keep) + list(small_keep)))


# --- compact / uncompact cell covers -----------------------------------------

def test_compact_cells_handcrafted_and_roundtrip(spark):
    """A full quad merges to its parent, an isolated cell stays; a
    fully-covered world at z2 collapses to the single z0 cell; and
    uncompact(compact(S)) == S exactly (disjoint, complete cover)."""
    from zellige_spark.operators import tiles as T

    # z2: the 4 children of z1-(0,0) as z2 cells -> full z1 quad is
    # cells (0..1, 0..1); plus isolated (3, 2)
    quad = [(x, y) for x in (0, 1) for y in (0, 1)]
    cells = spark.createDataFrame(quad + [(3, 2)],
                                  "tile_x long, tile_y long")
    out = sorted(map(tuple, T.compact_cells(cells, 2)
                     .select("zoom", "tile_x", "tile_y").collect()))
    assert out == [(1, 0, 0), (2, 3, 2)]

    # full world at z2 -> one z0 cell
    world = spark.createDataFrame([(x, y) for x in range(4)
                                   for y in range(4)],
                                  "tile_x long, tile_y long")
    out = [tuple(r) for r in T.compact_cells(world, 2).collect()]
    assert out == [(0, 0, 0)]

    # random-ish set: round-trip equality
    import random

    rnd = random.Random(3)
    s = {(rnd.randrange(16), rnd.randrange(16)) for _ in range(140)}
    cells = spark.createDataFrame(sorted(s), "tile_x long, tile_y long")
    comp = T.compact_cells(cells, 4)
    back = sorted(map(tuple, T.uncompact_cells(comp, 4).collect()))
    assert back == sorted(s)  # exact: disjoint and complete


def test_compact_cells_minimal_no_quad_remains(spark):
    """Minimality: the output contains no complete 4-sibling group at
    any level (it would have merged), checked on a dense cover."""
    from pyspark.sql import functions as F

    from zellige_spark.operators import tiles as T

    cells = spark.createDataFrame(
        [(x, y) for x in range(8) for y in range(8)
         if not (x == 7 and y == 7)],           # one hole
        "tile_x long, tile_y long")
    comp = T.compact_cells(cells, 3)
    quads = (comp.groupBy("zoom",
                          F.shiftright("tile_x", 1).alias("px"),
                          F.shiftright("tile_y", 1).alias("py"))
                 .count().filter(F.col("count") >= 4))
    assert quads.count() == 0
    # and the cover is still exact
    back = sorted(map(tuple, T.uncompact_cells(comp, 3).collect()))
    assert len(back) == 63


def test_uncompact_sequence_fanout_is_runtime(spark):
    """Deep expansions must not inline literal arrays: a z0 cell
    expanded to z8 is 65536 children via a runtime sequence."""
    from zellige_spark.operators import tiles as T

    one = spark.createDataFrame([(0, 0, 0)], "zoom int, tile_x long, tile_y long")
    out = T.uncompact_cells(one, 8)
    assert out.count() == 65536
    plan = _plan(out)
    assert "sequence(" in plan and len(plan) < 20000


# --- KMV bottom-k sketch + set operations ------------------------------------

def _py_h60(u):
    import hashlib

    return int(hashlib.md5(str(u).encode()).hexdigest()[:15], 16)


def test_kmv_merge_equals_direct(spark):
    """z3 sketches max-merged from z5 bottom-k lists must equal direct
    z3 sketches bit-for-bit, including the float estimate — the
    losslessness of bottom-k union merging."""
    from zellige_spark.operators import sketch as SK
    from zellige_spark.operators import tiles as T
    from zellige_spark import queries as Q

    pts = Q._event_points(spark, "/root/testdata/sf0.01")
    t5 = T.assign_tiles(pts, [5]).select("user_id", "tile_x", "tile_y")
    bk5 = SK.kmv_sketch(t5, ["tile_x", "tile_y"], "user_id")
    merged = SK.kmv_merge(bk5, {"tile_x": F.shiftright("tile_x", 2),
                                "tile_y": F.shiftright("tile_y", 2)})
    via_merge = SK.kmv_finalize(merged, ["tile_x", "tile_y"])

    t3 = T.assign_tiles(pts, [3]).select("user_id", "tile_x", "tile_y")
    direct = SK.kmv_finalize(
        SK.kmv_sketch(t3, ["tile_x", "tile_y"], "user_id"),
        ["tile_x", "tile_y"])
    a = sorted(map(tuple, via_merge.collect()))
    b = sorted(map(tuple, direct.collect()))
    assert a == b  # bit-for-bit, est_kmv doubles included


def test_kmv_python_recompute_and_accuracy(spark):
    """One key with 5000 known distinct ids: n_sketch/kth/estimate must
    equal a pure-Python recompute exactly, and the deterministic
    estimate lands within 50% of truth (k=32 => ~18% std)."""
    from zellige_spark.operators import sketch as SK

    n = 5000
    df = spark.range(n).selectExpr("1 AS tile_x", "1 AS tile_y",
                                   "id AS user_id")
    out = SK.kmv_finalize(
        SK.kmv_sketch(df, ["tile_x", "tile_y"], "user_id"),
        ["tile_x", "tile_y"]).collect()
    assert len(out) == 1
    r = out[0]
    hs = sorted(_py_h60(u) for u in range(n))
    kth = hs[SK.KMV_K - 1]
    assert (r.n_sketch, r.kth_hash) == (SK.KMV_K, kth)
    want_est = SK._KMV_NUM / float(kth)
    assert r.est_kmv == want_est
    assert abs(want_est / n - 1.0) < 0.5


def test_kmv_overlap_exact_and_estimated(spark):
    """Two adjacent tiles with known user sets: the small case (union
    below k) reports the EXACT intersection; the large case matches a
    pure-Python KMV recompute bit-for-bit."""
    from zellige_spark.operators import sketch as SK

    # small: A = 0..9, B = 5..14 -> union 15 < k, exact inter = 5
    rows = ([(0, 0, u) for u in range(10)]
            + [(1, 0, u) for u in range(5, 15)])
    small = spark.createDataFrame(rows, "tile_x long, tile_y long, user_id long")
    out = SK.kmv_overlap_x(
        SK.kmv_sketch(small, ["tile_x", "tile_y"], "user_id")).collect()
    assert len(out) == 1
    r = out[0]
    assert (r.matches, r.union_kth, r.est_inter) == (5, 0, 5.0)
    assert r.n_union_sketch == 15
    assert r.est_jaccard == 5.0 / 15.0  # exact Jaccard on a complete union

    # large: A = 0..99, B = 50..149 -> union 150 > k
    rows = ([(0, 0, u) for u in range(100)]
            + [(1, 0, u) for u in range(50, 150)])
    big = spark.createDataFrame(rows, "tile_x long, tile_y long, user_id long")
    out = SK.kmv_overlap_x(
        SK.kmv_sketch(big, ["tile_x", "tile_y"], "user_id")).collect()
    assert len(out) == 1
    r = out[0]
    k = SK.KMV_K
    ha = sorted((_py_h60(u), u) for u in range(100))[:k]
    hb = sorted((_py_h60(u), u) for u in range(50, 150))[:k]
    union = sorted({h for h, _ in ha} | {h for h, _ in hb})[:k]
    kth = union[-1]
    sa = {h for h, _ in ha}
    sb = {h for h, _ in hb}
    matches = sum(1 for h in union if h in sa and h in sb)
    want = float(matches) * (SK._KMV_NUM / float(kth)) / float(k)
    assert (r.matches, r.union_kth) == (matches, kth)
    assert r.est_inter == want
    assert r.est_jaccard == float(matches) / float(k)
    assert 10 <= want <= 150  # sane vs true intersection 50


def test_kmv_sketch_window_group_limit(spark):
    """The bottom-k rank filter must take the WindowGroupLimit map-side
    prune: per-key sketch state is k rows before the exchange."""
    from zellige_spark.operators import sketch as SK

    df = spark.range(1000).selectExpr("id % 4 AS tile_x", "0 AS tile_y",
                                      "id AS user_id")
    plan = _plan(SK.kmv_sketch(df, ["tile_x", "tile_y"], "user_id"))
    assert "WindowGroupLimit" in plan, plan


def test_polygon_cover_roundtrip_and_mixed_zoom(spark):
    """The compacted polyfill must expand back to exactly the set of
    z7 cells whose center passes the plane ray-cast, and genuinely
    mix zoom levels on the fixture polygon."""
    from zellige_spark import queries as Q
    from zellige_spark.operators import tiles as T

    cover = Q.q_polygon_cover(spark, SF)
    zooms = {r.zoom for r in cover.select("zoom").distinct().collect()}
    assert len(zooms) >= 2 and max(zooms) == Q.POLYFILL_ZOOM

    tx0, tx1, ty0, ty1, inside = Q._polyfill_exprs()
    cand = (spark.range(tx0, tx1 + 1).selectExpr("id AS tile_x")
            .crossJoin(spark.range(ty0, ty1 + 1).selectExpr("id AS tile_y")))
    direct = sorted(map(tuple,
                        cand.filter(F.expr(inside)).collect()))
    back = sorted(map(tuple,
                      T.uncompact_cells(cover, Q.POLYFILL_ZOOM).collect()))
    assert back == direct
    assert len(direct) > 100  # the fixture polygon spans many z7 cells


def test_s2_compact_roundtrip_and_face_collapse(spark):
    """S2 compact: uncompact(compact(S)) == S exactly, and a fully
    covered face collapses to its single level-0 cid (face layout is
    cid = face·4^level + pos, so parent = cid >> 2)."""
    from zellige_spark.operators import s2cells as S2C

    # full face 2 at level 2 (16 cells) + two isolated cells on face 4
    full = [(2 << 4) + p for p in range(16)]
    iso = [(4 << 4) + 3, (4 << 4) + 9]
    cells = spark.createDataFrame([(c,) for c in full + iso],
                                  "s2_cid long")
    comp = S2C.compact_s2(cells, 2)
    got = sorted(map(tuple, comp.collect()))
    assert (0, 2) in got                       # face 2 collapsed to level 0
    assert (2, (4 << 4) + 3) in got and (2, (4 << 4) + 9) in got
    assert len(got) == 3

    back = sorted(r.s2_cid for r in S2C.uncompact_s2(comp, 2).collect())
    assert back == sorted(full + iso)


# --- segment supercover --------------------------------------------------------

def test_segment_cover_dense_sampling_and_bounds(spark):
    """Soundness + completeness of the grid supercover: densely
    sampling each segment must visit EXACTLY the covered tile set, and
    the cover size obeys the O(dx+dy) bound that motivates it over the
    O(dx*dy) bbox fan-out."""
    import numpy as np

    from zellige_spark.kernel import mercator as M
    from zellige_spark.operators import tiles as T

    zoom = 6
    segs = [
        (1, -150.0, -60.0, 140.0, 70.0),   # long diagonal
        (2, 10.0, 20.0, 10.0, 21.5),       # vertical (du == 0)
        (3, -5.0, 0.0, 25.0, 0.0),         # horizontal-ish
        (4, 7.3, 7.3, 7.3, 7.3),           # degenerate point
        (5, 0.01, 0.01, 0.02, 0.02),       # inside one tile
    ]
    df = spark.createDataFrame(
        segs, "seg_id long, lon1 double, lat1 double, "
              "lon2 double, lat2 double")
    cover = {}
    for r in T.segment_cover(df, zoom).collect():
        cover.setdefault(r.seg_id, set()).add((r.tile_x, r.tile_y))

    for sid, lo1, la1, lo2, la2 in segs:
        x1, y1 = float(M.lon_to_x(lo1)), float(M.lat_to_y(la1))
        x2, y2 = float(M.lon_to_x(lo2)), float(M.lat_to_y(la2))
        t = np.linspace(0.0, 1.0, 200001)
        xs = x1 + t * (x2 - x1)
        ys = y1 + t * (y2 - y1)
        tx, ty = M.xy3857_to_tile(xs, ys, zoom)
        sampled = set(zip(tx.tolist(), ty.tolist()))
        got = cover[sid]
        assert sampled == got, (sid, sampled ^ got)
        dx = abs(int(tx[-1]) - int(tx[0]))
        dy = abs(int(ty[-1]) - int(ty[0]))
        assert len(got) <= dx + dy + 1
    assert len(cover[4]) == 1 and len(cover[5]) == 1


def test_segment_cover_linear_vs_bbox_quadratic(spark):
    """The efficiency claim in numbers: a long diagonal's supercover is
    dx+dy+1 tiles while its bbox fan-out would be (dx+1)*(dy+1)."""
    from zellige_spark.operators import tiles as T

    df = spark.createDataFrame(
        [(1, -170.0, -80.0, 170.0, 80.0)],
        "seg_id long, lon1 double, lat1 double, lon2 double, lat2 double")
    rows = T.segment_cover(df, 8).collect()
    txs = [r.tile_x for r in rows]
    tys = [r.tile_y for r in rows]
    dx = max(txs) - min(txs)
    dy = max(tys) - min(tys)
    assert len(rows) <= dx + dy + 1
    assert (dx + 1) * (dy + 1) > 10 * len(rows)  # bbox would be >10x


def test_segment_cover_single_exchange(spark):
    """One shuffle total: the distinct's grouping keys include the
    window's partition key, so Spark reuses hashpartitioning(seg) for
    both — no second Exchange, no joins."""
    import re

    from zellige_spark.operators import tiles as T

    df = spark.createDataFrame(
        [(1, 0.0, 0.0, 10.0, 10.0)],
        "seg_id long, lon1 double, lat1 double, lon2 double, lat2 double")
    plan = _plan(T.segment_cover(df, 6))
    assert len(re.findall(r"^\(\d+\) Exchange", plan, re.M)) == 1, plan
    assert "CartesianProduct" not in plan and "NestedLoopJoin" not in plan


def test_polygon_full_cover_exactness(spark):
    """full cover == center-inside cells ∪ densely-sampled boundary
    cells (the provable decomposition: a cell intersecting the polygon
    either contains boundary or lies entirely inside), and the
    center-based polyfill is a subset of it."""
    import numpy as np

    from zellige_spark import queries as Q
    from zellige_spark.kernel import mercator as M
    from zellige_spark.operators import tiles as T

    z = Q.POLYFILL_ZOOM
    full = set(map(tuple,
                   T.uncompact_cells(Q.q_polygon_full_cover(spark, SF), z)
                    .collect()))

    tx0, tx1, ty0, ty1, inside = Q._polyfill_exprs()
    cand = (spark.range(tx0, tx1 + 1).selectExpr("id AS tile_x")
            .crossJoin(spark.range(ty0, ty1 + 1).selectExpr("id AS tile_y")))
    centers = set(map(tuple, cand.filter(F.expr(inside)).collect()))

    verts = Q._poly0_3857()
    boundary = set()
    for (x1, y1), (x2, y2) in zip(verts[:-1], verts[1:]):
        t = np.linspace(0.0, 1.0, 400001)
        tx, ty = M.xy3857_to_tile(x1 + t * (x2 - x1), y1 + t * (y2 - y1), z)
        boundary.update(zip(tx.tolist(), ty.tolist()))

    assert full == centers | boundary
    assert centers <= full
    assert len(full) > len(centers)  # boundary-only cells exist

    polyfill = set(map(tuple,
                       T.uncompact_cells(Q.q_polygon_cover(spark, SF), z)
                        .collect()))
    assert polyfill <= full


# --- geocodes: geohash + quadkey string cell codes ---------------------------

def test_geohash_public_goldens_and_column_twin(spark):
    """The scalar twin reproduces the public geohash test vectors
    (Niemeyer spec examples), and the Spark Column path equals the
    scalar twin on a pole/antimeridian/equator stress grid at both an
    odd and an even precision (the two interleave parities)."""
    from zellige_spark.operators import geocodes as GC

    assert GC.geohash_py(-5.603, 42.605, 5) == "ezs42"
    assert GC.geohash_py(10.40744, 57.64911, 11) == "u4pruydqqvj"

    lons = [-180.0, -179.999, -90.5, -0.1, 0.0, 0.1, 90.25, 179.999, 180.0]
    lats = [-90.0, -89.999, -45.5, -0.1, 0.0, 0.1, 45.25, 89.999, 90.0]
    rows = [(lon, lat) for lon in lons for lat in lats]
    df = spark.createDataFrame(rows, "lon double, lat double")
    for p in (5, 6):
        got = {(r["lon"], r["lat"]): r["gh"]
               for r in GC.with_geohash(df, p, out_col="gh").collect()}
        for lon, lat in rows:
            assert got[(lon, lat)] == GC.geohash_py(lon, lat, p), (lon, lat, p)


def test_geohash_prefix_containment_and_map_only(spark):
    """Prefix-of-precision-p == code-at-precision-q (the property that
    makes string sort order a spatial layout key), and with_geohash is
    map-only: zero Exchanges in the plan."""
    from zellige_spark.operators import geocodes as GC

    df = (spark.range(500)
          .selectExpr("(id * 7919 % 360000) / 1000.0 - 180.0 AS lon",
                      "((id * 104729 + 13) % 170000) / 1000.0 - 85.0 AS lat"))
    out = GC.with_geohash(df, 8, out_col="g8")
    for q in (1, 3, 4, 7):
        out = GC.with_geohash(out, q, out_col=f"g{q}")
    bad = out.filter(
        " OR ".join(f"substr(g8, 1, {q}) <> g{q}" for q in (1, 3, 4, 7)))
    assert bad.count() == 0
    assert "Exchange" not in _plan(GC.with_geohash(df, 6))


def test_quadkey_known_values_parents_and_root(spark):
    """Bing spec structure: tile (x=3, y=5, z=3) -> '213' (digit =
    2*y_bit + x_bit, MSB first); every z-1 prefix equals the parent
    tile's quadkey; z0 is the empty string; and the round-trip
    int(quadkey, 4) == interleaved index holds on a random grid."""
    from zellige_spark.operators import geocodes as GC

    one = spark.createDataFrame([(3, 5)], "tile_x long, tile_y long")
    assert GC.with_quadkey(one, 3).collect()[0]["quadkey"] == "213"
    assert GC.with_quadkey(one, 0).collect()[0]["quadkey"] == ""

    z = 6
    df = (spark.range(300)
          .selectExpr(f"id * 37 % {1 << z} AS tile_x",
                      f"id * 101 % {1 << z} AS tile_y"))
    out = GC.with_quadkey(df, z)
    out = out.selectExpr("tile_x", "tile_y", "quadkey",
                         "tile_x >> 1 AS px", "tile_y >> 1 AS py")
    parent = GC.with_quadkey(out, z - 1, "px", "py", out_col="pq")
    assert parent.filter(f"substr(quadkey, 1, {z - 1}) <> pq").count() == 0
    for r in out.limit(50).collect():
        digits = [int(c) for c in r["quadkey"]]
        x = y = 0
        for d in digits:
            x = (x << 1) | (d & 1)
            y = (y << 1) | (d >> 1)
        assert (x, y) == (r["tile_x"], r["tile_y"])


def test_buffer_cells_equals_python_dilation_with_wrap(spark):
    """buffer_cells == brute-force Chebyshev dilation on a handcrafted
    set straddling the antimeridian seam and the pole edge at z3
    (x wraps mod 8, y clamps), for rings 1 and 2; reflexive."""
    from zellige_spark.operators import tiles as T

    z, n = 3, 8
    cells = [(0, 0), (7, 4), (3, 3), (4, 3), (0, 7)]
    df = spark.createDataFrame(cells, "tile_x long, tile_y long")
    for ring in (1, 2):
        got = set(map(tuple, T.buffer_cells(df, z, ring).collect()))
        want = {((x + dx) % n, y + dy)
                for x, y in cells
                for dx in range(-ring, ring + 1)
                for dy in range(-ring, ring + 1)
                if 0 <= y + dy < n}
        assert got == want, ring
        assert set(cells) <= got
    with pytest.raises(ValueError):
        T.buffer_cells(df, 1, ring=2)  # 5-wide kernel on a 2-wide grid


def test_polygon_buffer_is_one_ring_halo_of_cover(spark):
    """The buffered cover's uncompacted cell set is exactly the
    polyfill's set dilated one ring: superset of the cover, and every
    added cell is Chebyshev-adjacent to a cover cell."""
    from zellige_spark import queries as Q
    from zellige_spark.operators import tiles as T

    z = Q.POLYFILL_ZOOM
    cover = set(map(tuple,
                    T.uncompact_cells(Q.q_polygon_cover(spark, SF), z)
                     .collect()))
    buf = set(map(tuple,
                  T.uncompact_cells(Q.q_polygon_buffer(spark, SF), z)
                   .collect()))
    n = 1 << z
    want = {((x + dx) % n, y + dy) for x, y in cover
            for dx in (-1, 0, 1) for dy in (-1, 0, 1)
            if 0 <= y + dy < n}
    assert buf == want
    assert cover < buf  # the halo is non-empty


# --- overzoom: children from parent tile bytes -------------------------------

def _tile_dict(df):
    return {(r["zoom"], r["tile_x"], r["tile_y"]): bytes(r["mvt"])
            for r in df.collect()}


def test_overzoom_double_extent_is_byte_identical_to_direct(spark):
    """The exact path: parents at z4/extent 8192 overzoomed to
    z5/extent 4096 must be BYTE-IDENTICAL to encoding z5 directly from
    raw coordinates — the integer shift commutes with half-even
    rounding and the parent window is the union of the child windows,
    so tile set, feature membership, ordering, fids, and value
    dictionaries all coincide."""
    from zellige_spark import queries as Q
    from zellige_spark.operators import encode as E
    from zellige_spark.operators import overzoom as OZ
    from zellige_spark.operators import tiles as T

    pts = Q._customer_images(spark, SF)
    pa = T.assign_tiles_buffered(pts, zoom=4, extent=8192, buffer=128)
    parents = E.assemble_point_tiles_streaming(pa, extent=8192, buffer=128)
    oz = _tile_dict(OZ.overzoom_point_tiles(parents, child_extent=4096,
                                            buffer=128))

    da = T.assign_tiles_buffered(pts, zoom=5, extent=4096, buffer=128)
    direct = _tile_dict(E.assemble_point_tiles_streaming(da, extent=4096,
                                                         buffer=128))
    assert set(oz) == set(direct)
    assert oz == direct  # byte-for-byte


def test_overzoom_classic_same_extent_scales_coords(spark):
    """Classic serving overzoom (parent extent == child extent):
    decoded child coordinates are exactly 2*parent - q*extent for the
    window-surviving subset, id order preserved."""
    from zellige_spark import queries as Q
    from zellige_spark.kernel import mvt as kmvt
    from zellige_spark.operators import encode as E
    from zellige_spark.operators import overzoom as OZ
    from zellige_spark.operators import tiles as T

    pts = Q._customer_images(spark, SF)
    pa = T.assign_tiles_buffered(pts, zoom=4, extent=4096, buffer=128)
    parents = E.assemble_point_tiles_streaming(pa, extent=4096, buffer=128)
    pbytes = _tile_dict(parents)
    kids = _tile_dict(OZ.overzoom_point_tiles(parents, child_extent=4096,
                                              buffer=128))
    assert kids  # non-empty
    checked = 0
    for (z, tx, ty), mvt in kids.items():
        ids, ix, iy, ext = OZ._decode_points(mvt, "images")
        assert ext == 4096 and z == 5
        pids, px, py, _ = OZ._decode_points(
            pbytes[(4, tx >> 1, ty >> 1)], "images")
        qx, qy = tx & 1, ty & 1
        want = [(i, 2 * x - qx * 4096, 2 * y - qy * 4096)
                for i, x, y in zip(pids, px, py)
                if -128 <= 2 * x - qx * 4096 <= 4224
                and -128 <= 2 * y - qy * 4096 <= 4224]
        assert list(zip(ids, ix.tolist(), iy.tolist())) == want
        checked += 1
    assert checked == len(kids)


def test_overzoom_is_map_only_after_parent_encode(spark):
    """No Exchange between the parent tiles and the overzoomed
    children: the overzoom stage (and the decode audit) must add zero
    shuffles to the parent plan."""
    from zellige_spark import queries as Q
    from zellige_spark.operators import encode as E
    from zellige_spark.operators import overzoom as OZ
    from zellige_spark.operators import tiles as T

    pts = Q._customer_images(spark, SF)
    pa = T.assign_tiles_buffered(pts, zoom=4, extent=8192, buffer=128)
    parents = E.assemble_point_tiles_streaming(pa, extent=8192, buffer=128)
    kids = OZ.overzoom_point_tiles(parents, child_extent=4096, buffer=128)
    audited = OZ.point_tile_id_stats(kids)
    assert _plan(parents).count("Exchange") == _plan(audited).count("Exchange")


def test_overzoom_rejects_non_integer_scale_and_non_points(spark):
    from zellige_spark import queries as Q
    from zellige_spark.operators import encode as E
    from zellige_spark.operators import overzoom as OZ
    from zellige_spark.operators import tiles as T

    pts = Q._customer_images(spark, SF)
    pa = T.assign_tiles_buffered(pts, zoom=4, extent=4096, buffer=128)
    parents = E.assemble_point_tiles_streaming(pa, extent=4096, buffer=128)
    with pytest.raises(Exception, match="not a.*positive integer|scale"):
        OZ.overzoom_point_tiles(parents, child_extent=1000,
                                buffer=0).collect()


# --- multi-layer tile composition --------------------------------------------

def test_merge_tile_layers_decodes_to_both_inputs(spark):
    """The byte-concat composition decodes to exactly the union of the
    input layers, feature-for-feature (ids and coordinates), and the
    strict decoder still rejects a composition with duplicate layer
    names — the wire-format contract behind merge_tile_layers."""
    from zellige_spark import queries as Q
    from zellige_spark.kernel import mvt as kmvt
    from zellige_spark.operators import encode as E
    from zellige_spark.operators import overzoom as OZ
    from zellige_spark.operators import tiles as T

    pts = Q._customer_images(spark, SF)
    a1 = T.assign_tiles_buffered(pts, zoom=3, extent=4096, buffer=128)
    images = E.assemble_point_tiles_streaming(a1, extent=4096, buffer=128)
    nat = Q._nation_points(spark, SF).selectExpr(
        "CAST(n_nationkey AS STRING) AS image_id", "lon", "lat")
    a2 = T.assign_tiles_buffered(nat, zoom=3, extent=4096, buffer=128)
    sites = E.assemble_point_tiles_streaming(a2, layer_name="sites",
                                             extent=4096, buffer=128)
    merged = _tile_dict(E.merge_tile_layers(images, sites))
    imgs = _tile_dict(images)
    sts = _tile_dict(sites)
    assert set(merged) == set(imgs) | set(sts)
    for key, buf in merged.items():
        layers = kmvt.decode_tile(buf)
        want_names = ({"images"} if key in imgs else set()) | \
                     ({"sites"} if key in sts else set())
        assert set(layers) == want_names
        for name, src in (("images", imgs), ("sites", sts)):
            if key in src:
                own = kmvt.decode_tile(src[key])[name]
                assert layers[name]["features"] == own["features"]

    # duplicate layer names must still be rejected by the decoder
    dup = E.merge_tile_layers(images, images)
    row = dup.limit(1).collect()[0]
    with pytest.raises(kmvt.MvtError, match="Duplicate layer name"):
        kmvt.decode_tile(bytes(row["mvt"]))


def test_merge_tile_layers_adds_no_python_stage(spark):
    """Composition is pure Column ops: the merged plan contains exactly
    the two parents' Python stages (the encodes) and nothing more."""
    from zellige_spark import queries as Q
    from zellige_spark.operators import encode as E
    from zellige_spark.operators import tiles as T

    pts = Q._customer_images(spark, SF)
    a1 = T.assign_tiles_buffered(pts, zoom=3, extent=4096, buffer=128)
    images = E.assemble_point_tiles_streaming(a1, extent=4096, buffer=128)
    sites = E.assemble_point_tiles_streaming(
        a1, layer_name="sites", extent=4096, buffer=128)
    merged = E.merge_tile_layers(images, sites)
    mplan = _plan(merged)
    n_py = mplan.count("MapInPandas")
    assert n_py == _plan(images).count("MapInPandas") * 2


# --- captioned point tiles ----------------------------------------------------

def test_captioned_tiles_roundtrip_and_dictionary_law(spark):
    """Captioned tiles decode back to exactly the input (id, caption)
    pairs per tile (caption equality — the north-rule invariant), the
    caption dictionary is per-tile FIRST-SEEN dedup (value table
    length == features + distinct captions; indexes resolve), unicode
    captions survive utf-8, and a forced-tiny-batch run (cross-batch
    carry through the fold) is byte-identical to the one-batch run."""
    from zellige_spark.kernel import mvt as kmvt
    from zellige_spark.operators import encode as E
    from zellige_spark.operators import tiles as T

    rows = [(f"id{i:03d}",
             ("café %d" % (i % 3)) if i % 5 else "dup cap",
             (i * 37 % 360) - 180.0, (i * 17 % 170) / 2.0 - 42.0)
            for i in range(60)]
    df = spark.createDataFrame(
        rows, "image_id string, caption string, lon double, lat double")
    a = T.assign_tiles_buffered(df, zoom=2, extent=4096, buffer=128)
    tiles = E.assemble_captioned_tiles_streaming(a, extent=4096, buffer=128)
    got = _tile_dict(tiles)
    # expected membership from the assignment frame itself
    from collections import defaultdict
    want = defaultdict(list)
    pxf = T.tile_local_px(a, 4096, 1).select(
        "zoom", "tile_x", "tile_y", "image_id", "caption", "px", "py")
    for r in pxf.collect():
        if -128 <= r["px"] <= 4224 and -128 <= r["py"] <= 4224:
            want[(r["zoom"], r["tile_x"], r["tile_y"])].append(
                (r["image_id"], r["caption"]))
    assert set(got) == set(want)
    for key, buf in got.items():
        layer = kmvt.decode_tile(buf)["images"]
        pairs = [(f["metadata"]["image_id"][1], f["metadata"]["caption"][1])
                 for f in layer["features"]]
        assert pairs == sorted(want[key])  # fold sorts by image_id
        caps = [c for _, c in pairs]
        assert len(layer["values"]) == len(pairs) + len(dict.fromkeys(caps))
        assert layer["keys"] == ["image_id", "caption"]
        # fids are 1..n in order
        assert [f["id"] for f in layer["features"]] == list(
            range(1, len(pairs) + 1))

    # cross-batch carry: 7-row Arrow batches must not change a byte
    spark.conf.set("spark.sql.execution.arrow.maxRecordsPerBatch", "7")
    try:
        tiny = _tile_dict(E.assemble_captioned_tiles_streaming(
            a.repartition(1), extent=4096, buffer=128,
            num_partitions=1))
    finally:
        spark.conf.unset("spark.sql.execution.arrow.maxRecordsPerBatch")
    one = _tile_dict(E.assemble_captioned_tiles_streaming(
        a.repartition(1), extent=4096, buffer=128, num_partitions=1))
    assert tiny == one


def test_overzoom_feature_tiles_matches_kernel_clip(spark):
    """Generic-geometry overzoom: every child's decoded geometry equals
    running the reference clip kernels directly on the transformed
    parent geometry (QuickClip lines, Sutherland-Hodgman polygons,
    window mask points), with fids and property Val types preserved."""
    import numpy as np

    from zellige_spark.kernel import clip as kclip
    from zellige_spark.kernel import mvt as kmvt
    from zellige_spark.kernel import pipeline as kpipe
    from zellige_spark.operators import overzoom as OZ

    feats = [
        {"fid": 7, "geom_type": "MultiPoint", "props": {"name": "p1", "v": 3},
         "parts": [[np.array([[1000.0, 1000.0], [5000.0, 6000.0]])]]},
        {"fid": 8, "geom_type": "MultiLineString", "props": {"name": "road"},
         "parts": [[np.array([[100.0, 100.0], [8000.0, 8100.0]])]]},
        {"fid": 9, "geom_type": "MultiPolygon", "props": {"ok": True},
         "parts": [[np.array([[3000.0, 3000.0], [6000.0, 3000.0],
                              [6000.0, 6000.0], [3000.0, 6000.0],
                              [3000.0, 3000.0]])]]},
    ]
    cfg = kpipe.TileConfig("features", 3, 3, 2, buffer=128, extent=8192,
                           quantize=1, simplify="none")
    parent = kpipe.encode_features_local(feats, cfg)
    pdf = spark.createDataFrame(
        [(3, 3, 2, bytearray(parent), 3, len(parent))],
        "zoom int, tile_x long, tile_y long, mvt binary, "
        "feature_count long, bytes_len long")
    kids = OZ.overzoom_feature_tiles(pdf, layer_name="features",
                                     child_extent=4096, buffer=128).collect()
    assert sorted((r["zoom"], r["tile_x"], r["tile_y"], r["feature_count"])
                  for r in kids) == [(4, 6, 4, 3), (4, 6, 5, 2),
                                     (4, 7, 4, 2), (4, 7, 5, 3)]
    window = kclip.buffered_bbox(128, 4096)
    for r in kids:
        qx, qy = r["tile_x"] & 1, r["tile_y"] & 1
        off = np.array([qx * 4096.0, qy * 4096.0])
        layer = kmvt.decode_tile(bytes(r["mvt"]))["features"]
        by_id = {f["id"]: f for f in layer["features"]}
        # point feature: window mask on transformed points
        pts = np.array([[1000.0, 1000.0], [5000.0, 6000.0]]) - off
        mask = kclip.point_in_extent_mask(window, pts[:, 0], pts[:, 1])
        if mask.any():
            got = by_id[7]
            assert got["metadata"] == {"name": ("st", "p1"),
                                       "v": ("do", 3.0)}
            assert got["geometry"] == [tuple(map(int, p))
                                       for p in pts[mask]]
        else:
            assert 7 not in by_id
        # line: QuickClip + int conversion
        line = np.array([[100.0, 100.0], [8000.0, 8100.0]]) - off
        res = kclip.clip_line_qc(window, line)
        if res is not None:
            want = kmvt.convert_and_remove_dupes(res)
            assert by_id[8]["geometry"] == [[tuple(map(int, p))
                                             for p in want]]
        # polygon: S-H + closing-point law (decode re-closes)
        ring = np.array([[3000.0, 3000.0], [6000.0, 3000.0],
                         [6000.0, 6000.0], [3000.0, 6000.0],
                         [3000.0, 3000.0]]) - off
        rings = kclip.clip_polygon_sh(window, [ring])
        if rings:
            want = kmvt.convert_and_remove_dupes(rings[0])
            outer = by_id[9]["geometry"][0][0]
            assert outer[:-1] == [tuple(map(int, p)) for p in want[:-1]]
            assert outer[0] == outer[-1]
            assert by_id[9]["metadata"] == {"ok": ("b", True)}


def test_overzoom_feature_tiles_byte_parity_with_point_path(spark):
    """For a pure-point layer with every feature inside one child
    quadrant's interior, the generic kernel path emits BYTE-IDENTICAL
    children to the vectorized point fast path — the two encoders'
    layouts provably coincide."""
    import numpy as np

    from zellige_spark.operators import encode as E
    from zellige_spark.operators import overzoom as OZ

    ids = [f"a{i:02d}" for i in range(7)]
    px = np.linspace(200.0, 3000.0, 7)
    py = np.linspace(300.0, 3400.0, 7)
    parent = E._finish_point_tile(ids, px, py, "images", 8192)
    pdf = spark.createDataFrame(
        [(4, 5, 6, bytearray(parent), 7, len(parent))],
        "zoom int, tile_x long, tile_y long, mvt binary, "
        "feature_count long, bytes_len long")
    fast = _tile_dict(OZ.overzoom_point_tiles(pdf, child_extent=4096,
                                              buffer=128))
    gen = _tile_dict(OZ.overzoom_feature_tiles(pdf, layer_name="images",
                                               child_extent=4096,
                                               buffer=128))
    assert set(fast) == set(gen) == {(5, 10, 12)}
    assert fast == gen


def test_repartition_by_geohash_locality_prefix_prune(spark, tmp_path):
    """String member of the locality family: files hold disjoint sorted
    geohash ranges, and a prefix (cell-containment) predicate reaches
    the parquet scan as StringStartsWith."""
    import glob

    from zellige_spark.operators import geocodes as GC

    df = _locality_corpus(spark, 13)
    out = GC.repartition_by_geohash_locality(df, precision=7, partitions=8)
    path = str(tmp_path / "ghlayout")
    out.write.parquet(path)
    import pyarrow.parquet as pq
    ranges = []
    for f in glob.glob(f"{path}/part-*.parquet"):
        c = pq.read_table(f, columns=["geohash"]).column("geohash").to_pylist()
        if c:
            ranges.append((min(c), max(c)))
            assert c == sorted(c)
    ranges.sort()
    assert len(ranges) >= 4
    for (_, hi1), (lo2, _) in zip(ranges, ranges[1:]):
        assert hi1 <= lo2

    back = spark.read.parquet(path)
    # pick a 3-char prefix that exists
    prefix = back.limit(1).collect()[0]["geohash"][:3]
    pred = back.filter(F.col("geohash").startswith(prefix))
    assert pred.count() > 0
    plan = pred._jdf.queryExecution().executedPlan().toString()
    assert "StringStartsWith" in plan and "PushedFilters" in plan


# --- WKB interop + tileset manifest ------------------------------------------

def test_wkb_point_struct_pack_goldens_and_endianness():
    """Encode matches struct.pack byte-for-byte (OGC layout); parse
    accepts BOTH byte orders and rejects wrong type / length / marker."""
    import struct

    import numpy as np

    from zellige_spark import io_wkb as WKB

    lon, lat = np.array([2.5, -180.0, -0.0]), np.array([-3.25, 85.05, 0.0])
    got = WKB.wkb_point_bytes(lon, lat)
    for i in range(3):
        want = b"\x01" + struct.pack("<I", 1) + struct.pack("<dd",
                                                            lon[i], lat[i])
        assert got[i] == want
    dlon, dlat = WKB.parse_wkb_point_bytes(got)
    assert dlon.tobytes() == lon.astype("<f8").tobytes()  # bit-exact (-0.0)
    assert dlat.tobytes() == lat.astype("<f8").tobytes()

    be = b"\x00" + struct.pack(">I", 1) + struct.pack(">dd", 7.5, -8.25)
    blon, blat = WKB.parse_wkb_point_bytes([be, got[0]])
    assert (blon.tolist(), blat.tolist()) == ([7.5, 2.5], [-8.25, -3.25])

    with pytest.raises(ValueError, match="not Point"):
        WKB.parse_wkb_point_bytes(
            [b"\x01" + struct.pack("<I", 2) + struct.pack("<dd", 0, 0)])
    with pytest.raises(ValueError, match="21 bytes"):
        WKB.parse_wkb_point_bytes([got[0][:-1]])
    with pytest.raises(ValueError, match="byte-order"):
        WKB.parse_wkb_point_bytes([b"\x02" + got[0][1:]])


def test_wkb_spark_roundtrip_bit_exact_and_map_only(spark):
    """Spark encode -> parse returns the exact input doubles (bit-wise,
    via the oracle-grade equality on collected values), and the chain
    is map-only (zero Exchanges)."""
    from zellige_spark import io_wkb as WKB

    df = (spark.range(1000)
          .selectExpr("id", "(id * 7919 % 360000) / 1000.0 - 180.0 AS lon",
                      "((id * 104729 + 13) % 170000) / 1000.0 - 85.0 AS lat"))
    dec = WKB.parse_wkb_points(
        WKB.wkb_points(df).drop("lon", "lat"), lon_col="dlon", lat_col="dlat")
    joined = df.join(dec.select("id", "dlon", "dlat"), "id")
    bad = joined.filter("dlon <> lon OR dlat <> lat")
    assert bad.count() == 0
    assert "Exchange" not in _plan(
        WKB.parse_wkb_points(WKB.wkb_points(df).drop("lon", "lat")))


# --- as-of temporal join ----------------------------------------------------

def test_asof_join_semantics_ties_and_nulls(spark):
    """Inclusive match (ref at the exact probe ts wins), duplicate ref
    timestamps resolve to the max ref id, probes before any ref get
    nulls, keys never cross."""
    from zellige_spark.operators.temporal import asof_join

    probes = spark.createDataFrame(
        [(1, 10, 100), (2, 10, 50), (3, 10, 205), (4, 20, 300)],
        "pid long, k long, t long")
    refs = spark.createDataFrame(
        [(7, 10, 100), (8, 10, 200), (9, 10, 200), (11, 30, 1)],
        "rid long, k long, t long")
    out = asof_join(
        probes, refs.select("k", F.col("t").alias("rt"),
                            F.col("rid").alias("m_id"),
                            F.col("t").alias("m_t")).withColumnRenamed("rt", "t"),
        key="k", ts="t",
        probe_cols=["pid", "k", "t"], ref_cols=["m_id", "m_t"])
    got = {r.pid: (r.asof_m_id, r.asof_m_t) for r in out.collect()}
    assert got[1] == (7, 100)        # inclusive: t==ref t matches
    assert got[2] == (None, None)    # before any ref
    assert got[3] == (9, 200)        # dup ref ts -> max rid
    assert got[4] == (None, None)    # key 20 has no refs (key 30 unseen)


def test_asof_join_single_exchange_plan(spark):
    """The union+window plan shuffles ONCE (hash by key for the window
    sort) — no range-join fan-out, no second Exchange."""
    import re
    from zellige_spark import queries as Q

    plan = Q.q_asof_join(spark, SF)._jdf.queryExecution().executedPlan().toString()
    body = plan.split("AdaptiveSparkPlan", 1)[-1].split("Initial Plan", 1)[0]
    n = len(re.findall(r"Exchange hashpartitioning", body))
    assert n == 1, plan
    assert "CartesianProduct" not in body and "NestedLoopJoin" not in body


def test_asof_join_matches_duckdb_asof(spark):
    """Full-query equality with DuckDB's native ASOF LEFT JOIN at
    sf0.001 (the independent-engine oracle the driver gate reruns at
    sf0.01)."""
    import duckdb
    from zellige_spark import queries as Q

    sdf = Q.q_asof_join(spark, SF).toPandas()
    con = duckdb.connect()
    con.execute(f"CREATE VIEW events AS SELECT * FROM read_parquet('{SF}/events.parquet')")
    odf = con.execute(Q.sql_asof_join()).df()
    assert len(sdf) == len(odf) > 0
    import pandas as pd
    pd.testing.assert_frame_equal(
        sdf.sort_values("event_id").reset_index(drop=True),
        odf.sort_values("event_id").reset_index(drop=True),
        check_dtype=False)


# --- grid-density hotspot clustering ----------------------------------------

def _brute_hotspots(cells: dict, side: int) -> dict:
    """Union-find 8-connected CC over a dense-cell dict {(x,y): n_pts};
    x wraps, y does not.  Root = min key (all keys start as roots and
    unions always keep the smaller root)."""
    keys = {c: c[0] * side + c[1] for c in cells}
    parent = {k: k for k in keys.values()}

    def find(a):
        while parent[a] != a:
            a = parent[a]
        return a

    for (x, y) in cells:
        for dx in (-1, 0, 1):
            for dy in (-1, 0, 1):
                if (dx, dy) == (0, 0):
                    continue
                nb = ((x + dx + side) % side, y + dy)
                if nb in cells:
                    ra, rb = find(keys[(x, y)]), find(keys[nb])
                    if ra != rb:
                        parent[max(ra, rb)] = min(ra, rb)
    return {c: find(keys[c]) for c in cells}


def test_hotspot_clusters_match_brute_force_cc(spark):
    """300 deterministic pseudo-random points at z4: operator clusters
    == union-find over the same dense-cell set (adjacency rule and
    min-key labeling both pinned)."""
    from zellige_spark.operators import hotspots as HOT

    rows = [(i, (i * 7919 % 360000) / 1000.0 - 180.0,
             ((i * 104729 + 13) % 170000) / 1000.0 - 85.0)
            for i in range(300)]
    pts = spark.createDataFrame(rows, "id long, lon double, lat double")
    got = {(r.tile_x, r.tile_y): (r.n_pts, r.cluster)
           for r in HOT.hotspot_clusters(pts, 4, 2).collect()}
    dense = {(r.tile_x, r.tile_y): r.n_pts
             for r in HOT.dense_cells(pts, 4, 2).collect()}
    assert len(got) == len(dense) > 5
    brute = _brute_hotspots(dense, side=16)
    for cell, (n, cluster) in got.items():
        assert n == dense[cell]
        assert cluster == brute[cell], cell


def test_hotspot_antimeridian_wrap_and_min_count(spark):
    """x=0 and x=side-1 cells at the same y merge across the
    antimeridian; a lone point never makes a dense cell; a far-away
    dense cell gets its own cluster; labels are min cell keys."""
    from zellige_spark.operators import hotspots as HOT

    side = 8  # zoom 3
    rows = ([(-179.5, 0.5)] * 2 + [(179.5, 0.5)] * 3    # wrap pair
            + [(0.5, 60.0)] * 4                          # far dense cell
            + [(90.0, -60.0)])                           # singleton point
    pts = spark.createDataFrame(rows, "lon double, lat double")
    out = {(r.tile_x, r.tile_y): (r.n_pts, r.cluster)
           for r in HOT.hotspot_clusters(pts, 3, 2).collect()}
    assert len(out) == 3  # the lone point's cell is not dense
    (xw, yw) = next(c for c in out if c[0] == 0)
    (xe, ye) = next(c for c in out if c[0] == side - 1)
    assert yw == ye and out[(xw, yw)][0] == 2 and out[(xe, ye)][0] == 3
    # wrap-adjacent cells share a cluster labeled by the MIN key (x=0 side)
    assert out[(xw, yw)][1] == out[(xe, ye)][1] == xw * side + yw
    far = next(c for c in out if c not in ((xw, yw), (xe, ye)))
    assert out[far][1] == far[0] * side + far[1] != out[(xw, yw)][1]


def test_hotspot_dense_cells_single_exchange(spark):
    """The only operation over raw rows is the per-cell count: exactly
    one Exchange in the dense_cells plan (map-side partial agg)."""
    from zellige_spark.operators import hotspots as HOT

    pts = spark.read.parquet(f"{SF}/customer.parquet").selectExpr(
        "(c_custkey * 7919 % 360000) / 1000.0 - 180.0 AS lon",
        "((c_custkey * 104729 + 13) % 170000) / 1000.0 - 85.0 AS lat")
    plan = _plan(HOT.dense_cells(pts, 4, 2))
    # tree lines read "Exchange (N)"; details repeat the node as "(N) Exchange"
    assert plan.count("Exchange (") == 1
    assert "partial_count" in plan  # map-side combine below the shuffle


# --- origin-destination flows ------------------------------------------------

def test_od_trips_order_ties_and_day_split(spark):
    """First/last selection is (ts, event_id)-ordered (a timestamp tie
    breaks on the id), and UTC midnight splits one user into two
    trips."""
    import datetime as dt
    from zellige_spark.operators import flows as FLW

    T0 = dt.datetime(2024, 1, 1, 23, 0, 0)
    rows = [
        # day 1: tie at 23:00 -> origin is event_id 1; last is 23:30
        (1, 2, T0, 10.0, 10.0), (1, 1, T0, 20.0, 20.0),
        (1, 3, T0 + dt.timedelta(minutes=30), 30.0, 30.0),
        # day 2 (after midnight): single point -> o == d
        (1, 4, T0 + dt.timedelta(hours=2), 40.0, 40.0),
    ]
    pts = spark.createDataFrame(
        rows, "user_id long, event_id long, ts timestamp_ntz,"
              " lon double, lat double")
    out = {r.day: r for r in FLW.od_trips(pts).collect()}
    assert len(out) == 2
    d1, d2 = sorted(out)
    assert d2 == d1 + 1
    assert (out[d1].o.lon, out[d1].d.lon) == (20.0, 30.0)
    assert (out[d2].o.lon, out[d2].d.lon) == (40.0, 40.0)


def test_od_flows_counts_and_mapside_partial_agg(spark):
    """Flow counts: n_trips counts (user, day) trips, n_users distinct
    users; the raw-row aggregation has partial min_by/max_by BELOW its
    Exchange (the combiner ships trip endpoints, not pings)."""
    import datetime as dt
    from zellige_spark.operators import flows as FLW

    T0 = dt.datetime(2024, 3, 1, 8, 0, 0)
    mk = []
    eid = 0
    # 3 users x 2 days, all traveling cell(-170..)->cell(+170..) at z1
    for u in (1, 2, 3):
        for d in (0, 1):
            for (h, lon) in ((0, -170.0), (1, 170.0)):
                mk.append((u, eid, T0 + dt.timedelta(days=d, hours=h),
                           lon, 40.0))
                eid += 1
    pts = spark.createDataFrame(
        mk, "user_id long, event_id long, ts timestamp_ntz,"
            " lon double, lat double")
    flows = FLW.od_flows(pts, zoom=1)
    rows = flows.collect()
    assert len(rows) == 1
    r = rows[0]
    assert (r.o_x, r.d_x) == (0, 1) and r.o_y == r.d_y
    assert r.n_trips == 6 and r.n_users == 3
    plan = _plan(flows)
    # partial_min_by/max_by only appear in map-side partial-agg nodes:
    # the combiner reduces pings to trip endpoints before the shuffle
    assert "partial_min_by" in plan and "partial_max_by" in plan


# --- distributed convex hull -------------------------------------------------

def _brute_boundary(xy):
    """O(n^3) closed-boundary pair test (the oracle's definition):
    i kept iff some direction (i -> j) has ALL points on the closed
    left."""
    n = len(xy)
    if n <= 1:
        return set(range(n))
    keep = set()
    for i in range(n):
        for j in range(n):
            if i == j:
                continue
            dx, dy = xy[j][0] - xy[i][0], xy[j][1] - xy[i][1]
            if all(dx * (xy[r][1] - xy[i][1]) - dy * (xy[r][0] - xy[i][0]) >= 0
                   for r in range(n) if r not in (i, j)):
                keep.add(i)
                break
    return keep


@pytest.mark.parametrize("case", ["grid", "line", "lattice", "random"])
def test_boundary_indices_match_pair_test(case):
    """Monotone chain (+ Akl-Toussaint prune) == the O(n^3) closed
    half-plane definition on adversarial sets: a 5x5 grid (every
    perimeter point incl. edge-interiors, no interior), an all-collinear
    line, the custkey lattice, and seeded randoms."""
    import numpy as np
    from zellige_spark.operators.hulls import boundary_indices

    if case == "grid":
        xy = np.array([(x, y) for x in range(5) for y in range(5)], np.int64)
    elif case == "line":
        xy = np.array([(3 * i, 2 * i) for i in range(9)], np.int64)
    elif case == "lattice":
        ks = np.arange(1, 61, dtype=np.int64)
        xy = np.stack([(ks * 7919 % 360000) * 1000 - 180000000,
                       ((ks * 104729 + 13) % 170000) * 1000 - 85000000], 1)
    else:
        rng = np.random.default_rng(7)
        xy = rng.integers(-10**8, 10**8, size=(40, 2), dtype=np.int64)
    got = set(boundary_indices(xy).tolist())
    want = _brute_boundary(xy.tolist())
    assert got == want
    if case == "grid":
        assert len(got) == 16  # perimeter only


def test_convex_hull_shard_invariance_and_plan(spark):
    """hull(A ∪ B) == hull(hull(A) ∪ hull(B)): the two-level result is
    identical across shard counts (1 vs 7), and the plan is two
    FlatMapGroupsInPandas levels (local reduce before the group
    shuffle)."""
    from zellige_spark.operators import hulls as HUL

    pts = spark.read.parquet(f"{SF}/customer.parquet").selectExpr(
        "CAST(c_nationkey AS LONG) AS nation", "c_custkey",
        "(c_custkey * 7919 % 360000) * 1000 - 180000000 AS ux",
        "((c_custkey * 104729 + 13) % 170000) * 1000 - 85000000 AS uy")
    one = HUL.convex_hull(pts, "nation", "c_custkey", shards=1)
    seven = HUL.convex_hull(pts, "nation", "c_custkey", shards=7)
    # plan on the UN-executed frame (post-action AQE explain prints
    # Final + Initial sections and node counts double)
    assert _plan(seven).count("FlatMapGroupsInPandas (") == 2
    a = sorted(map(tuple, one.collect()))
    b = sorted(map(tuple, seven.collect()))
    assert a == b and len(a) > 0


# --- segment-intersection join -----------------------------------------------

def test_segments_intersect_cases(spark):
    """Exact predicate over the degenerate taxonomy: proper cross,
    endpoint T-touch, shared endpoint, collinear overlap, collinear
    disjoint, parallel, and a near-miss."""
    from zellige_spark.operators.segments import segments_intersect

    cases = [
        # (seg a, seg b, expected)
        ((0, 0, 10, 10), (0, 10, 10, 0), True),    # proper X cross
        ((0, 0, 10, 0), (5, 0, 5, 7), True),       # T-touch on interior
        ((0, 0, 10, 0), (10, 0, 15, 9), True),     # shared endpoint
        ((0, 0, 10, 0), (5, 0, 15, 0), True),      # collinear overlap
        ((0, 0, 4, 0), (5, 0, 9, 0), False),       # collinear disjoint
        ((0, 0, 10, 0), (0, 1, 10, 1), False),     # parallel
        ((0, 0, 10, 10), (6, 5, 20, 5), False),    # near miss
    ]
    rows = [a + b + (exp,) for a, b, exp in cases]
    df = spark.createDataFrame(
        rows, "x1 long, y1 long, x2 long, y2 long,"
              " x3 long, y3 long, x4 long, y4 long, exp boolean")
    from pyspark.sql import functions as FF
    got = df.select("exp", segments_intersect(
        FF.col("x1"), FF.col("y1"), FF.col("x2"), FF.col("y2"),
        FF.col("x3"), FF.col("y3"), FF.col("x4"), FF.col("y4")).alias("got")
    ).collect()
    for r in got:
        assert r.got == r.exp


def test_crossing_pairs_grid_invariance(spark):
    """The cell cover never loses a pair: results are identical across
    grid resolutions, including the 1x1 grid (= literal all-pairs)."""
    from zellige_spark.operators import segments as SEG
    from zellige_spark.queries import _crossing_points

    segs = SEG.track_segments(_crossing_points(spark, SF))
    outs = []
    for nx, ny in ((1, 1), (4, 2), (16, 8)):
        outs.append(sorted(map(tuple,
                    SEG.crossing_pairs(segs, nx=nx, ny=ny).collect())))
    assert outs[0] == outs[1] == outs[2]
    assert len(outs[0]) > 0


# --- negative distance filter ------------------------------------------------

def test_beyond_distance_filter_complement_and_plan(spark):
    """beyond == left minus within (exact complement on ids), and the
    plan anti-joins without any cartesian/NestedLoop."""
    from zellige_spark.operators import knn as KNN
    from zellige_spark.queries import CUST_LON, CUST_LAT, NAT_LON, NAT_LAT

    left = spark.read.parquet(f"{SF}/customer.parquet").selectExpr(
        "c_custkey AS left_id", f"{CUST_LON} AS lon", f"{CUST_LAT} AS lat")
    right = spark.read.parquet(f"{SF}/nation.parquet").selectExpr(
        "n_nationkey AS right_id", f"{NAT_LON} AS lon", f"{NAT_LAT} AS lat")
    within = {r.left_id for r in KNN.within_distance_join(
        left, right, radius_km=800.0).select("left_id").distinct().collect()}
    beyond_df = KNN.beyond_distance_filter(left, right, radius_km=800.0)
    beyond = {r.left_id for r in beyond_df.collect()}
    allids = {r.left_id for r in left.collect()}
    assert beyond == allids - within and within  # both sides non-empty
    plan = _plan(beyond_df)
    assert "CartesianProduct" not in plan and "NestedLoopJoin" not in plan
    assert "LeftAnti" in plan


def test_hotspot_cluster_stats_brute(spark):
    """cluster_stats == pandas groupby over hotspot_clusters, with the
    centroid as exact integer floor division."""
    from zellige_spark.operators import hotspots as HOT
    from zellige_spark.queries import _customer_points

    pts = _customer_points(spark, SF)
    hc = HOT.hotspot_clusters(pts, 4, 2).toPandas()
    got = (HOT.cluster_stats(pts, 4, 2).toPandas()
           .sort_values("cluster").reset_index(drop=True))
    assert len(got) == hc.cluster.nunique() > 1
    for _, r in got.iterrows():
        g = hc[hc.cluster == r.cluster]
        assert r.n_cells == len(g) and r.n_pts == g.n_pts.sum()
        assert (r.x_min, r.x_max) == (g.tile_x.min(), g.tile_x.max())
        assert (r.y_min, r.y_max) == (g.tile_y.min(), g.tile_y.max())
        assert r.cx == (g.tile_x * g.n_pts).sum() // g.n_pts.sum()
        assert r.cy == (g.tile_y * g.n_pts).sum() // g.n_pts.sum()


# --- image quality gate ------------------------------------------------------

def test_image_quality_exact_integer_metrics(spark):
    """Operator metrics == exact-Fraction recompute from raw pixels
    (independent formulation), and the gate splits the corpus."""
    from fractions import Fraction

    import numpy as np
    from zellige_spark import synth
    from zellige_spark.operators import images as IMG

    imgs = synth.images_df(spark, 24)
    src = {r.image_id: r for r in imgs.collect()}
    out = IMG.image_quality(imgs).collect()
    assert len(out) == 24
    for r in out:
        s = src[r.image_id]
        px = synth.decode_image(bytes(s.bytes), s.fmt, s.w, s.h).astype(np.int64)
        lum = px[:, :, 0] * 299 + px[:, :, 1] * 587 + px[:, :, 2] * 114
        n = lum.size
        var = Fraction(int((lum * lum).sum()), n) - Fraction(int(lum.sum()), n) ** 2
        assert r.contrast_q == var.numerator // var.denominator
        assert r.brightness_mq == int(lum.sum()) // n
        lap = (4 * lum[1:-1, 1:-1] - lum[:-2, 1:-1] - lum[2:, 1:-1]
               - lum[1:-1, :-2] - lum[1:-1, 2:])
        m = lap.size
        lv = Fraction(int((lap * lap).sum()), m) - Fraction(int(lap.sum()), m) ** 2
        assert r.sharpness_q == lv.numerator // lv.denominator
        assert r.luma_range == int(lum.max() - lum.min())


def test_image_quality_blur_and_degenerate(spark):
    """Block-mean blur strictly reduces sharpness; a constant image
    scores 0 sharpness / 0 contrast and is dropped."""
    import numpy as np
    from zellige_spark.operators import images as IMG

    rng = np.random.default_rng(3)
    sharp_px = rng.integers(0, 256, (32, 32, 3), dtype=np.uint8)
    blur = sharp_px.reshape(16, 2, 16, 2, 3).mean((1, 3)).astype(np.uint8)
    blur_px = np.repeat(np.repeat(blur, 2, 0), 2, 1)
    flat_px = np.full((32, 32, 3), 77, dtype=np.uint8)
    rows = [("sharp", sharp_px.tobytes(), 32, 32, "raw"),
            ("blur", blur_px.tobytes(), 32, 32, "raw"),
            ("flat", flat_px.tobytes(), 32, 32, "raw")]
    df = spark.createDataFrame(
        rows, "image_id string, bytes binary, w int, h int, fmt string")
    out = {r.image_id: r for r in IMG.image_quality(df).collect()}
    assert out["sharp"].sharpness_q > out["blur"].sharpness_q > 0
    assert out["flat"].sharpness_q == 0 and out["flat"].contrast_q == 0
    assert out["flat"].keep == 0 and out["flat"].luma_range == 0


# --- stay-point detection -----------------------------------------------------

def test_stay_points_handcrafted(spark):
    """Stop/move segmentation on a handcrafted track: a 3-fix cluster
    (sub-radius hops), a long hop into a second 2-fix cluster, a
    time-gap split despite near-zero distance, and a singleton segment
    dropped by min_points.  Centroids are exact integer microdegrees:
    floor(sum(lon*1e6)/n)."""
    import datetime as dt

    from zellige_spark.operators import trajectories as TRJ

    t0 = dt.datetime(2024, 1, 1, 0, 0, 0)

    def s(sec):
        return t0 + dt.timedelta(seconds=sec)

    rows = [
        # segment 1: three fixes ~111 m apart (0.001 deg on the equator)
        (1, 10, s(0), 10.000, 0.0), (1, 11, s(60), 10.001, 0.0),
        (1, 12, s(120), 10.002, 0.0),
        # long hop (>= 5000 m) -> segment 2: two fixes
        (1, 13, s(180), 10.100, 0.0), (1, 14, s(240), 10.101, 0.0),
        # tiny hop but a 2-hour silence -> segment 3: singleton, dropped
        (1, 15, s(240 + 7200), 10.102, 0.0),
    ]
    df = spark.createDataFrame(
        rows, "user_id long, event_id long, ts timestamp, "
              "lon double, lat double")
    out = sorted(TRJ.stay_points(df, radius_m=5000, max_gap_s=3600,
                                 min_points=2).collect(),
                 key=lambda r: r.seg)
    assert [r.seg for r in out] == [1, 2]
    s1, s2 = out
    assert (s1.n_points, s1.dwell_s) == (3, 120)
    assert s1.start_es == int(t0.timestamp())
    # floor((10000000+10001000+10002000)/3) == 10001000
    assert (s1.c_lon_udeg, s1.c_lat_udeg) == (10001000, 0)
    assert (s2.n_points, s2.dwell_s) == (2, 60)
    assert s2.c_lon_udeg == (10100000 + 10101000) // 2


def test_stay_points_order_ties_and_negative_centroid(spark):
    """A ts tie is broken by event_id (swapping the tie partners moves
    the break point), and floor-division centroids round toward -inf
    for negative longitudes on both engines."""
    import datetime as dt

    from zellige_spark.operators import trajectories as TRJ

    t0 = dt.datetime(2024, 1, 1)

    def s(sec):
        return t0 + dt.timedelta(seconds=sec)

    rows = [
        (7, 2, s(0), -10.0005, -5.0), (7, 1, s(0), -10.0, -5.0),
        (7, 3, s(60), -10.001, -5.0),
    ]
    df = spark.createDataFrame(
        rows, "user_id long, event_id long, ts timestamp, "
              "lon double, lat double")
    out = TRJ.stay_points(df, radius_m=10**7, max_gap_s=10**7,
                          min_points=1).collect()
    assert len(out) == 1 and out[0].n_points == 3
    # sum is -30001500 -> floor(-10000500.0) stays exact
    assert out[0].c_lon_udeg == -10000500
    assert out[0].c_lat_udeg == -5000000


def test_stay_points_single_exchange(spark):
    """Lag, running segment sum, and the (entity, seg) aggregate all
    reuse hashpartitioning(user_id): ONE Exchange in the whole plan
    (the partition key is a subset of the grouping keys)."""
    import re

    from zellige_spark.operators import trajectories as TRJ

    df = spark.createDataFrame(
        [(1, 1, None, 0.0, 0.0)],
        "user_id long, event_id long, ts timestamp, lon double, lat double")
    plan = _plan(TRJ.stay_points(df, radius_m=1000, max_gap_s=600))
    assert len(re.findall(r"^\(\d+\) Exchange", plan, re.M)) == 1, plan


# --- per-tile temporal change detection ----------------------------------------

def test_tile_change_handcrafted(spark):
    """Two cells, a split at es=100: one cell grows 1->3 (delta 2,
    score (2*2*1000)//4 == 1000), one declines 2->0 (delta -2, score
    (4*1000)//2 == 2000), and a balanced cell scores 0/flat."""
    import datetime as dt

    from zellige_spark.operators import tiles as T

    t0 = dt.datetime(1970, 1, 1)

    def s(sec):
        return t0 + dt.timedelta(seconds=sec)

    # z1 cells: lon sign splits tile_x, all lats at 0 -> tile_y = 1
    rows = (
        [(s(0), -90.0, 0.0)] + [(s(200), -90.0, 0.0)] * 3   # west: 1 -> 3
        + [(s(0), 90.0, 40.0)] * 2                          # NE: 2 -> 0
        + [(s(0), 90.0, -40.0), (s(200), 90.0, -40.0)]      # SE: 1 -> 1
    )
    df = spark.createDataFrame(rows, "ts timestamp, lon double, lat double")
    out = {(r.tile_x, r.tile_y): r
           for r in T.tile_change(df, 1, 100).collect()}
    assert len(out) == 3
    west = out[(0, 1)]
    assert (west.n_a, west.n_b, west.delta, west.score_q, west.trend) == \
        (1, 3, 2, 1000, "grew")
    ne = out[(1, 0)]
    assert (ne.n_a, ne.n_b, ne.delta, ne.score_q, ne.trend) == \
        (2, 0, -2, 2000, "declined")
    se = out[(1, 1)]
    assert (se.n_a, se.n_b, se.delta, se.score_q, se.trend) == \
        (1, 1, 0, 0, "flat")


def test_tile_change_single_exchange_partial_agg(spark):
    """Both period counts come out of ONE tile-key aggregation: a
    single Exchange, with a partial HashAggregate below it (map-side
    combine) — never per-period scans or a self-join."""
    import re

    from zellige_spark.operators import tiles as T

    df = spark.createDataFrame(
        [(None, 0.0, 0.0)], "ts timestamp, lon double, lat double")
    plan = _plan(T.tile_change(df, 4, 100))
    assert len(re.findall(r"^\(\d+\) Exchange", plan, re.M)) == 1, plan
    assert len(re.findall(r"^\(\d+\) HashAggregate", plan, re.M)) == 2, plan
    assert "Join" not in plan


# --- ViT-style patch tokenization ----------------------------------------------

def test_patch_grid_matches_numpy_and_reassembles(spark):
    """Patch rows must be exact slices of the decoded image: bytes,
    integer stats, and crc pinned against a direct numpy recompute,
    and the row-major grid must reassemble bit-for-bit into the
    cropped source."""
    import zlib

    import numpy as np

    from zellige_spark import synth
    from zellige_spark.operators import images as IMG

    imgs = synth.images_df(spark, 12)
    src = {r.image_id: synth.decode_image(bytes(r.bytes), r.fmt, r.w, r.h)
           for r in imgs.collect()}
    out = IMG.patch_grid(imgs, patch=8).collect()

    by_img = {}
    for r in out:
        by_img.setdefault(r.image_id, {})[(r.py, r.px)] = r
    assert set(by_img) == set(src)
    for image_id, patches in by_img.items():
        px = src[image_id]
        gh, gw = px.shape[0] // 8, px.shape[1] // 8
        assert len(patches) == gh * gw
        recon = np.zeros((gh * 8, gw * 8, 3), dtype=np.uint8)
        for (gy, gx), r in patches.items():
            blk = np.frombuffer(bytes(r.patch_bytes),
                                dtype=np.uint8).reshape(8, 8, 3)
            expect = px[gy * 8:(gy + 1) * 8, gx * 8:(gx + 1) * 8]
            assert np.array_equal(blk, expect)
            assert r.p_sum == int(expect.astype(np.int64).sum())
            assert r.p_min == int(expect.min())
            assert r.p_max == int(expect.max())
            assert r.patch_crc32 == zlib.crc32(bytes(r.patch_bytes))
            assert r.n_patches == gh * gw
            assert r.count_ok and r.sum_ok
            recon[gy * 8:(gy + 1) * 8, gx * 8:(gx + 1) * 8] = blk
        assert np.array_equal(recon, px[: gh * 8, : gw * 8])


def test_patch_grid_crops_non_multiple_dims(spark):
    """A 20x13 image at patch 8 crops to a 1x2 grid over the top-left
    16x8 region — the resize_block_mean truncation contract — and the
    sum_ok decomposition is checked against the CROP, not the full
    image."""
    import numpy as np

    from zellige_spark.operators import images as IMG

    rng = np.random.default_rng(11)
    px = rng.integers(0, 256, (13, 20, 3), dtype=np.uint8)
    df = spark.createDataFrame(
        [("odd", px.tobytes(), 20, 13, "raw")],
        "image_id string, bytes binary, w int, h int, fmt string")
    out = sorted(IMG.patch_grid(df, patch=8).collect(),
                 key=lambda r: (r.py, r.px))
    assert [(r.py, r.px) for r in out] == [(0, 0), (0, 1)]
    for r in out:
        expect = px[:8, r.px * 8:(r.px + 1) * 8]
        assert np.array_equal(
            np.frombuffer(bytes(r.patch_bytes), dtype=np.uint8)
              .reshape(8, 8, 3), expect)
        assert r.n_patches == 2 and r.count_ok and r.sum_ok


# --- nearest-segment snap (map matching) ---------------------------------------

def _py_snap_d2(px, py, ax, ay, bx, by):
    """Exact clamped point-segment squared distance, floored — pure
    Python bignum, the spec the DECIMAL(38)/HUGEINT paths must match."""
    abx, aby = bx - ax, by - ay
    ab2 = abx * abx + aby * aby
    dot = (px - ax) * abx + (py - ay) * aby
    if dot <= 0:
        return (px - ax) ** 2 + (py - ay) ** 2
    if dot >= ab2:
        return (px - bx) ** 2 + (py - by) ** 2
    ap2 = (px - ax) ** 2 + (py - ay) ** 2
    return (ap2 * ab2 - dot * dot) // ab2


def test_snap_to_segments_matches_bignum_brute_force(spark):
    """Distributed snap == exact Python-int recompute over a point set
    that hits all three projection regions (before A, past B,
    perpendicular) of a deliberately awkward segment set."""
    from zellige_spark.operators import segments as SEG

    segs = [(1, 0, 0, 100000, 0),        # horizontal
            (2, 50000, -90000, 50000, 90000),   # vertical
            (3, -170000, -80000, 170000, 80000)]  # long diagonal
    pts = [(i, x, y) for i, (x, y) in enumerate([
        (-50000, 10), (150000, -10), (50000, 40000),   # the 3 regions of seg 1
        (49999, 89999), (50001, -90001), (0, 1),
        (170000, 80000), (-170000, -80001), (123457, 7),
    ])]
    df = spark.createDataFrame(pts, "event_id long, px long, py long")
    out = {r.event_id: r
           for r in SEG.snap_to_segments(df, segs).collect()}
    assert len(out) == len(pts)
    for eid, px, py in pts:
        want = min(((_py_snap_d2(px, py, ax, ay, bx, by), sid)
                    for sid, ax, ay, bx, by in segs))
        assert (out[eid].snap_d2, out[eid].seg_id) == want, (eid, px, py)


def test_snap_to_segments_exact_tie_and_plan(spark):
    """A point equidistant from two segments snaps to the LOWER seg_id
    (array_min struct order), and the whole operator is map-only:
    zero Exchanges, no Join."""
    import re

    from zellige_spark.operators import segments as SEG

    # two parallel horizontals at y=+10, y=-10: y=0 ties exactly
    segs = [(7, 0, 10, 100, 10), (3, 0, -10, 100, -10)]
    df = spark.createDataFrame([(1, 50, 0)], "event_id long, px long, py long")
    out = SEG.snap_to_segments(df, segs).collect()[0]
    assert (out.seg_id, out.snap_d2) == (3, 100)

    plan = _plan(SEG.snap_to_segments(df, segs))
    assert not re.findall(r"^\(\d+\) Exchange", plan, re.M), plan
    assert "Join" not in plan


# --- time-grid trajectory resampling -------------------------------------------

def test_resample_tracks_exact_lerp_and_boundaries(spark):
    """Handcrafted legs on a 10-second grid: exact midpoint lerp with
    truncation toward zero, a fix landing exactly ON a grid mark is
    owned by the leg that ENDS there (never duplicated by the next
    leg), a zero-duration tie leg emits nothing, and pre-first-fix
    marks don't exist."""
    import datetime as dt

    from zellige_spark.operators import trajectories as TRJ

    t0 = dt.datetime(1970, 1, 1)

    def s(sec):
        return t0 + dt.timedelta(seconds=sec)

    rows = [
        # leg 5 -> 25: marks at 10 (t=5s in, lerp 1/4... exact ints) and 20
        (1, 1, s(5), 0, 100), (1, 2, s(25), 100, -100),
        # leg 25 -> 30: mark at 30 exactly (owned by this leg)
        (1, 3, s(30), 40, 40),
        # tie leg at 30 (same ts, higher event_id): lo>hi -> no marks
        (1, 4, s(30), 99, 99),
        # leg 30 -> 41: mark at 40 only (30 already owned above)
        (1, 5, s(41), 110, 0),
    ]
    df = spark.createDataFrame(
        rows, "user_id long, event_id long, ts timestamp, ux long, uy long")
    out = sorted(TRJ.resample_tracks(df, step_s=10).collect(),
                 key=lambda r: r.grid_es)
    got = [(r.grid_es, r.x, r.y) for r in out]
    # t=10: 5s into a 20s leg: x = 0 + 100*5//20 = 25, y = 100 + (-200)*5//20 = 50
    # t=20: 15s in: x = 75, y = 100 - 150 = -50
    # t=30: endpoint of leg 2->3: exactly (40, 40)
    # t=40: 10s into the 11s leg from (99,99) at es=30: x = 99 + 11*10//11
    assert got == [(10, 25, 50), (20, 75, -50), (30, 40, 40),
                   (40, 99 + (110 - 99) * 10 // 11,
                    99 + (0 - 99) * 10 // 11)]


def test_resample_tracks_single_exchange(spark):
    """The entity window is the only Exchange; the mark explode and
    lerp are map-side."""
    import re

    from zellige_spark.operators import trajectories as TRJ

    df = spark.createDataFrame(
        [(1, 1, None, 0, 0)],
        "user_id long, event_id long, ts timestamp, ux long, uy long")
    plan = _plan(TRJ.resample_tracks(df))
    assert len(re.findall(r"^\(\d+\) Exchange", plan, re.M)) == 1, plan


# --- compass-rose heading mix ---------------------------------------------------

def test_heading_mix_cardinal_sectors_and_plan(spark):
    """Due-N/E/S/W legs land in sectors 0/2/4/6 (sector k covers
    [45k, 45k+45) degrees clockwise from north), per-user counts
    aggregate correctly, and the plan is ONE Exchange."""
    import datetime as dt
    import re

    from zellige_spark.operators import trajectories as TRJ

    t0 = dt.datetime(2024, 1, 1)

    def s(sec):
        return t0 + dt.timedelta(seconds=sec)

    rows = [
        # user 1 walks N: sector 0 (exact bearing 0)
        (1, 1, s(0), 0.0, 0.0), (1, 2, s(60), 0.0, 10.0),
        # user 2 walks S then W along the equator: sectors {4:1, 6:1}
        # (E/W legs are exactly 90/270 ONLY on the equator — off it,
        # the great circle arcs poleward and the bearing shifts)
        (2, 1, s(0), 0.0, 10.0), (2, 2, s(60), 0.0, 0.0),
        (2, 3, s(120), -10.0, 0.0),
        # user 3 walks E twice along the equator: sector {2:2}
        (3, 1, s(0), 0.0, 0.0), (3, 2, s(60), 10.0, 0.0),
        (3, 3, s(120), 20.0, 0.0),
    ]
    df = spark.createDataFrame(
        rows, "user_id long, event_id long, ts timestamp, "
              "lon double, lat double")
    out = {(r.user_id, r.sector): r.n_legs
           for r in TRJ.heading_mix(df).collect()}
    assert out == {(1, 0): 1, (2, 4): 1, (2, 6): 1, (3, 2): 2}

    plan = _plan(TRJ.heading_mix(df))
    assert len(re.findall(r"^\(\d+\) Exchange", plan, re.M)) == 1, plan


# --- benchmark decontamination (round 5) ------------------------------------

def test_decontaminate_handcrafted(spark, tmp_path):
    """n-gram decontamination semantics on handcrafted docs: overlapping
    occurrences each count, distinct hits dedup, eval docs excluded,
    too-short docs report zero grams, and the eval-shingle join is
    broadcast (no shuffle of the corpus-side grams on the gram key)."""
    from zellige_spark.operators import text as TXT

    docs = [
        "w2 w3 w4 w5 x w2 w3 w4 w5",   # doc 0: one eval gram, twice
        "a b c d e",                    # doc 1: clean
        "a b",                          # doc 2: too short for any 4-gram
        "w1 w2 w3 w4 w5",               # doc 3: THE EVAL DOC (3 % 97 == 3)
        "q w1 w2 w3 w4 w5 r",           # doc 4: both eval grams, once each
    ]
    sf = _write_docs(spark, tmp_path, docs)
    out = TXT.q_decontaminate(spark, sf)
    got = {r.doc_id: r for r in out.collect()}
    assert sorted(got) == [0, 1, 2, 4]  # eval doc never in the output
    r0 = got[0]
    assert (r0.n_grams, r0.hit_grams, r0.distinct_hits,
            r0.contaminated) == (6, 2, 1, 1)
    assert (got[1].hit_grams, got[1].contaminated) == (0, 0)
    assert (got[2].n_grams, got[2].hit_grams, got[2].contaminated) == (0, 0, 0)
    r4 = got[4]
    assert (r4.n_grams, r4.hit_grams, r4.distinct_hits,
            r4.contaminated) == (4, 2, 2, 1)
    plan = _plan(out)
    assert "BroadcastHashJoin" in plan, plan
    assert "CartesianProduct" not in plan and "NestedLoop" not in plan, plan


# --- co-location pattern mining (round 5) ------------------------------------

def test_colocation_brute_equality_and_plan(spark):
    """Participation-index table equals the literal O(n^2) definition on
    a boundary-straddling lattice; the plan has no cartesian product;
    cell < radius is rejected (the halo would miss disc pairs)."""
    import itertools

    from zellige_spark.operators.colocation import colocation_patterns

    pts = [(i, (i * 937) % 2000, (i * 761 + 3) % 1500, i % 3)
           for i in range(120)]
    df = spark.createDataFrame(pts, "id long, x long, y long, cat long")
    out = colocation_patterns(df, radius=200)
    got = {(r.cat_a, r.cat_b): r for r in out.collect()}

    r2 = 200 * 200
    n_pairs, parts = {}, {}
    for p, q in itertools.combinations(pts, 2):
        if (p[1] - q[1]) ** 2 + (p[2] - q[2]) ** 2 > r2:
            continue
        a, b = sorted((p[3], q[3]))
        n_pairs[(a, b)] = n_pairs.get((a, b), 0) + 1
        sa, sb = parts.setdefault((a, b), (set(), set()))
        for inst in (p, q):
            if inst[3] == a:
                sa.add(inst[0])
            if inst[3] == b:
                sb.add(inst[0])
    totals = {c: sum(1 for p in pts if p[3] == c) for c in range(3)}
    assert n_pairs, "lattice produced no neighbor pairs — bad test data"
    assert set(got) == set(n_pairs)
    for key, np_exp in n_pairs.items():
        r = got[key]
        sa, sb = parts[key]
        assert (r.n_pairs, r.part_a, r.part_b) == (np_exp, len(sa), len(sb))
        assert (r.total_a, r.total_b) == (totals[key[0]], totals[key[1]])
        assert r.pi == min(len(sa) / totals[key[0]], len(sb) / totals[key[1]])

    plan = _plan(out)
    assert "CartesianProduct" not in plan and "NestedLoop" not in plan, plan
    with pytest.raises(ValueError):
        colocation_patterns(df, radius=200, cell=100)


# --- Local Moran's I / LISA (round 5) ----------------------------------------

def test_local_moran_brute_equality(spark):
    """LISA num/den/local_i equal a pure-Python recompute on a small
    wrapped grid: full-grid rows (empty cells included), queen
    adjacency with x-wrap and y-clamp, exact integer core, and the
    single-division double."""
    from zellige_spark.operators.hotspots import local_moran

    g, period = 4, 400
    pts = [((i * 37) % 400, (i * 53 + 7) % 400) for i in range(60)]
    df = spark.createDataFrame(pts, "x long, y long")
    out = local_moran(df, g, x_period=period, y_period=period)
    got = {(r.cell_x, r.cell_y): r for r in out.collect()}
    assert len(got) == g * g  # every cell present, empty ones included

    counts = {}
    for x, y in pts:
        counts[(x // 100, y // 100)] = counts.get((x // 100, y // 100), 0) + 1
    n = g * g
    xs = {(cx, cy): counts.get((cx, cy), 0)
          for cx in range(g) for cy in range(g)}
    s = sum(xs.values())
    den = n * sum(v * v for v in xs.values()) - s * s
    d = {c: n * v - s for c, v in xs.items()}
    for (cx, cy), r in got.items():
        lag = 0
        for dx in (-1, 0, 1):
            for dy in (-1, 0, 1):
                if dx == 0 and dy == 0:
                    continue
                ny = cy + dy
                if 0 <= ny < g:
                    lag += d[((cx + dx) % g, ny)]
        num = d[(cx, cy)] * lag
        assert (r.n_pts, r.num, r.den) == (xs[(cx, cy)], num, den)
        assert r.local_i == num / den


# --- Ripley's K function (round 5) --------------------------------------------

def test_ripley_k_brute_equality(spark):
    """K-function ladder equals the literal O(n^2) pair count per
    radius; k_hat is the single-division double; the ladder is
    monotone; a non-ascending ladder is rejected."""
    from zellige_spark.operators.colocation import ripley_k

    period = 2000
    pts = [(i, (i * 937) % period, (i * 761 + 3) % period)
           for i in range(100)]
    df = spark.createDataFrame(pts, "id long, x long, y long")
    radii = [100, 250, 500]
    out = ripley_k(df, radii, x_period=period, y_period=period)
    got = {r.r: r for r in out.collect()}
    assert sorted(got) == radii

    n = len(pts)
    area = period * period
    prev = -1
    for rr in radii:
        cnt = sum(1 for i in range(n) for j in range(i + 1, n)
                  if (pts[i][1] - pts[j][1]) ** 2
                  + (pts[i][2] - pts[j][2]) ** 2 <= rr * rr)
        assert got[rr].n_pairs == cnt
        assert got[rr].k_hat == (2 * area * cnt) / (n * n)
        assert cnt >= prev  # monotone ladder
        prev = cnt
    assert prev > 0, "largest radius found no pairs — bad test data"

    with pytest.raises(ValueError):
        ripley_k(df, [500, 100])


# --- G function / NN distance CDF (round 5) ----------------------------------

def test_g_function_brute_equality(spark):
    """G-function ladder equals the literal per-point brute NN minimum,
    including right-censoring at the ladder top (points whose NN lies
    beyond max(radii) count in no rung but stay in the denominator)."""
    from zellige_spark.operators.colocation import g_function

    period = 2000
    # one far-isolated point (id 99 placed in a corner) exercises the
    # censoring branch
    pts = [(i, (i * 937) % 1000, (i * 761 + 3) % 1000) for i in range(99)]
    pts.append((99, 1990, 1990))
    df = spark.createDataFrame(pts, "id long, x long, y long")
    radii = [60, 120, 240]
    out = g_function(df, radii)
    got = {r.r: r for r in out.collect()}
    assert sorted(got) == radii

    n = len(pts)
    nn = {}
    for i, x, y in pts:
        nn[i] = min((x - bx) ** 2 + (y - by) ** 2
                    for j, bx, by in pts if j != i)
    assert nn[99] > 240 * 240  # the isolated point IS censored
    for rr in radii:
        n_le = sum(1 for v in nn.values() if v <= rr * rr)
        r = got[rr]
        assert (r.n_le, r.n) == (n_le, n)
        assert r.g_hat == n_le / n
    assert got[240].n_le < n  # censoring visible in the top rung


# --- F function / empty-space CDF (round 5) ----------------------------------

def test_f_function_brute_equality(spark):
    """F-function ladder equals the brute probe-to-nearest-data
    minimum over the deterministic cell-center probe lattice,
    including censoring of probes in empty space beyond the ladder."""
    from zellige_spark.operators.colocation import f_function

    xp = yp = 1600
    g = 8
    pts = [((i * 937) % 800, (i * 761 + 3) % 800) for i in range(40)]
    df = spark.createDataFrame(pts, "x long, y long")
    radii = [50, 150, 400]
    out = f_function(df, radii, grid=g, x_period=xp, y_period=yp)
    got = {r.r: r for r in out.collect()}
    assert sorted(got) == radii

    probes = [((i % g) * xp // g + xp // (2 * g),
               (i // g) * yp // g + yp // (2 * g)) for i in range(g * g)]
    nn = {p: min((p[0] - x) ** 2 + (p[1] - y) ** 2 for x, y in pts)
          for p in probes}
    assert any(v > 400 * 400 for v in nn.values())  # censored probes exist
    for rr in radii:
        n_le = sum(1 for v in nn.values() if v <= rr * rr)
        r = got[rr]
        assert (r.n_le, r.n_probes) == (n_le, g * g)
        assert r.f_hat == n_le / (g * g)


# --- vocabulary growth / Heaps' law (round 5) --------------------------------

def test_vocab_growth_handcrafted(spark, tmp_path):
    """Exact prefix vocab/token/doc counts on handcrafted docs: new
    terms count only at their first document, empty docs contribute
    zero tokens and no terms, ttr is the single-division double, and
    the vocabulary ladder is monotone."""
    from zellige_spark.operators import text as TXT

    docs = ["a b c", "a b", "", "c d a"]  # doc_ids 0..3
    sf = _write_docs(spark, tmp_path, docs)
    old = TXT.VOCAB_LADDER
    TXT.VOCAB_LADDER = [1, 2, 3, 4]
    try:
        got = {r.k: r for r in TXT.q_vocab_growth(spark, sf).collect()}
    finally:
        TXT.VOCAB_LADDER = old
    # k=1: doc 0 only -> 3 tokens, vocab {a,b,c}
    assert (got[1].n_docs, got[1].n_tokens, got[1].vocab) == (1, 3, 3)
    # k=2: +doc 1 "a b" -> 5 tokens, no new terms
    assert (got[2].n_docs, got[2].n_tokens, got[2].vocab) == (2, 5, 3)
    # k=3: +empty doc -> same tokens, same vocab
    assert (got[3].n_docs, got[3].n_tokens, got[3].vocab) == (3, 5, 3)
    # k=4: +"c d a" -> 8 tokens, new term d
    assert (got[4].n_docs, got[4].n_tokens, got[4].vocab) == (4, 8, 4)
    assert got[4].ttr == 4 / 8
    vs = [got[k].vocab for k in (1, 2, 3, 4)]
    assert vs == sorted(vs)


# --- cross-K and quadrat chi-square (round 5) --------------------------------

def test_cross_k_brute_equality(spark):
    """Cross-K ladder equals the literal ordered cross-pair count; no
    self-pair/double-count semantics because the sides are distinct."""
    from zellige_spark.operators.colocation import cross_k

    period = 2000
    a = [((i * 937) % period, (i * 761 + 3) % period) for i in range(80)]
    b = [((i * 541 + 11) % period, (i * 389 + 7) % period) for i in range(30)]
    da = spark.createDataFrame(a, "x long, y long")
    db = spark.createDataFrame(b, "x long, y long")
    radii = [100, 300, 600]
    out = cross_k(da, db, radii, x_period=period, y_period=period)
    got = {r.r: r for r in out.collect()}
    area = period * period
    prev = -1
    for rr in radii:
        cnt = sum(1 for ax, ay in a for bx, by in b
                  if (ax - bx) ** 2 + (ay - by) ** 2 <= rr * rr)
        r = got[rr]
        assert (r.n_pairs, r.n_a, r.n_b) == (cnt, 80, 30)
        assert r.k_ab == (area * cnt) / (80 * 30)
        assert cnt >= prev
        prev = cnt
    assert prev > 0


def test_quadrat_chi2_brute_equality(spark):
    """Quadrat chi-square equals the exact-fraction recompute: chi2 =
    sum(D_i^2)/(N*S) with D_i = N*x_i - S over the FULL grid."""
    from zellige_spark.operators.hotspots import quadrat_chi2

    g, period = 4, 400
    pts = [((i * 37) % 400, (i * 53 + 7) % 400) for i in range(60)]
    df = spark.createDataFrame(pts, "x long, y long")
    r = quadrat_chi2(df, g, x_period=period, y_period=period).collect()[0]

    counts = {}
    for x, y in pts:
        counts[(x // 100, y // 100)] = counts.get((x // 100, y // 100), 0) + 1
    n = g * g
    xs = [counts.get((cx, cy), 0) for cx in range(g) for cy in range(g)]
    s = sum(xs)
    num = sum((n * v - s) ** 2 for v in xs)
    assert (r.n_cells, r.n_points, r.chi2_num, r.chi2_den, r.dof) == (
        n, s, num, n * s, n - 1)
    assert r.chi2 == num / (n * s)


# --- image near-dup clustering (round 5) -------------------------------------

def test_image_dup_clusters_brute_equality(spark):
    """phash clustering equals a brute-force union-find over Hamming
    <= 3 pairs: chain transitivity (a~b~c clusters together even when
    hamming(a, c) > 3), singleton self-labels, canonical = min id."""
    from zellige_spark.operators.images import image_dup_clusters

    rows = [
        (1, 0b1111),          # chain: 1~2 (ham 1), 2~3 (ham 2)
        (2, 0b1110),
        (3, 0b1000),          # hamming(1,3) = 3 -> still direct, but
        (4, 0b1 << 40),       # isolated singleton
        (5, (0b1 << 40) ^ 0b111),  # ham(4,5)=3 -> pair cluster
        (6, ~0b0 & ((1 << 63) - 1)),  # far-away singleton
    ]
    df = spark.createDataFrame(rows, "image_id long, phash long")
    got = {r.image_id: r for r in image_dup_clusters(df).collect()}
    assert len(got) == 6

    # brute union-find
    parent = {i: i for i, _ in rows}

    def find(i):
        while parent[i] != i:
            parent[i] = parent[parent[i]]
            i = parent[i]
        return i

    for i, pi in rows:
        for j, pj in rows:
            if i < j and bin(pi ^ pj).count("1") <= 3:
                parent[find(j)] = min(find(i), find(j))
    comp = {}
    for i, _ in rows:
        comp.setdefault(find(i), []).append(i)
    for root, members in comp.items():
        label = min(members)
        for m in members:
            r = got[m]
            assert r.cluster == label
            assert r.cluster_size == len(members)
            assert r.is_canonical == (1 if m == label else 0)


# --- mergeable histogram quantiles (round 5) ---------------------------------

def test_hist_quantiles_merge_equals_direct_and_rule(spark):
    """Histogram sketch state merged to a coarse key equals the
    directly-built coarse histogram bin-for-bin; the quantile CASE
    implements cum >= ceil(q*n/100) exactly; over-range values clamp
    into the top bin."""
    from zellige_spark.operators import sketch as SK

    rows = [(k, i, (i * 97 + k * 13) % 1100)  # some values past 1023 -> clamp
            for k in range(4) for i in range(50)]
    df = spark.createDataFrame(rows, "fine long, i long, v long")
    reg_fine = SK.hist_registers(df, ["fine"], "v")
    merged = SK.hist_merge(reg_fine, {"coarse": F.expr("fine div 2")})
    direct = SK.hist_registers(
        df.withColumn("coarse", F.expr("fine div 2")), ["coarse"], "v")
    m = {r.coarse: r for r in merged.collect()}
    d = {r.coarse: r for r in direct.collect()}
    assert set(m) == set(d)
    for k in m:
        for i in range(SK.HIST_BINS):
            assert m[k][f"b{i}"] == d[k][f"b{i}"], (k, i)

    out = {r.coarse: r for r in
           SK.hist_quantiles(merged, ["coarse"], qs=(50, 90)).collect()}
    import math
    for k, vals in [(k, [(i * 97 + kk * 13) % 1100
                         for kk in (2 * k, 2 * k + 1) for i in range(50)])
                    for k in (0, 1)]:
        bins = sorted(min(v // SK.HIST_WIDTH, SK.HIST_BINS - 1)
                      for v in vals)
        n = len(bins)
        for q in (50, 90):
            rank = math.ceil(q * n / 100)
            expect = bins[rank - 1] * SK.HIST_WIDTH
            assert out[k][f"p{q}"] == expect, (k, q)
        assert out[k].n_rows == n


# --- event funnel (round 5) --------------------------------------------------

def test_event_funnel_strict_order_semantics(spark, tmp_path):
    """Funnel counts only IN-ORDER progressions: click before any view
    doesn't qualify, purchase before the qualified click doesn't, and
    (ts, event_id) breaks timestamp ties strictly.  One hash-partition
    Exchange feeds window + per-user agg."""
    import datetime

    from zellige_spark.streaming.events import q_event_funnel

    t0 = datetime.datetime(2024, 1, 1)

    def ts(s):
        return t0 + datetime.timedelta(seconds=s)

    rows = [
        # user 1: full ordered funnel
        (1, ts(0), 1, "view"), (2, ts(1), 1, "click"),
        (3, ts(2), 1, "purchase"),
        # user 2: click BEFORE view -> stage 2 not reached
        (4, ts(0), 2, "click"), (5, ts(1), 2, "view"),
        (6, ts(2), 2, "purchase"),
        # user 3: purchase between view and click -> stage 3 not reached
        (7, ts(0), 3, "view"), (8, ts(1), 3, "purchase"),
        (9, ts(2), 3, "click"),
        # user 4: simultaneous ts, event_id order view(10) < click(11)
        (10, ts(5), 4, "view"), (11, ts(5), 4, "click"),
        # user 5: no view at all
        (12, ts(0), 5, "error"),
    ]
    df = spark.createDataFrame(
        [(i, t, u, e, 0.0, "{}") for i, t, u, e in rows],
        "event_id long, ts timestamp, user_id long, event_type string, "
        "value double, props string")
    sf = str(tmp_path)
    df.coalesce(1).write.mode("overwrite").parquet(f"{sf}/events.parquet")
    out = {r.stage: r for r in q_event_funnel(spark, sf).collect()}
    assert (out[1].users_reached, out[2].users_reached,
            out[3].users_reached) == (4, 3, 1)
    assert out[1].n_users == 5
    assert out[2].rate == 3 / 5
    plan = _plan(q_event_funnel(spark, sf))
    import re
    # one data Exchange (hashpartitioning for window + co-partitioned
    # agg) and one SinglePartition Exchange for the 1-row rollup
    n_ex = len(re.findall(r"^\(\d+\) Exchange", plan, re.M))
    n_hash = len(re.findall(r"hashpartitioning\(user_id", plan))
    assert (n_ex, n_hash) == (2, 1), plan


# --- cohort retention (round 5) ----------------------------------------------

def test_cohort_retention_handcrafted(spark, tmp_path):
    """Retention triangle on handcrafted weeks: cohort = first active
    week, offset cells count distinct users (repeat events in one week
    count once), week-0 retention = cohort size."""
    import datetime

    from zellige_spark.streaming.events import WEEK_US, q_cohort_retention

    def at_week(w, sec=0):
        return (datetime.datetime(1970, 1, 1)
                + datetime.timedelta(microseconds=w * WEEK_US, seconds=sec)
                + datetime.timedelta(days=365 * 54))  # keep epochs positive

    rows, eid = [], 0
    # users 1,2 start week 0; user 1 returns weeks 1,2; user 2 only week 2
    # user 3 starts week 1 and never returns; user 1 has TWO events in w1
    for u, w, reps in [(1, 0, 1), (1, 1, 2), (1, 2, 1),
                       (2, 0, 1), (2, 2, 1),
                       (3, 1, 1)]:
        for k in range(reps):
            rows.append((eid, at_week(w, sec=k), u, "view", 0.0, "{}"))
            eid += 1
    df = spark.createDataFrame(
        rows, "event_id long, ts timestamp, user_id long, "
              "event_type string, value double, props string")
    sf = str(tmp_path)
    df.coalesce(1).write.mode("overwrite").parquet(f"{sf}/events.parquet")
    out = {(r.cohort_week - min(x.cohort_week
                                for x in q_cohort_retention(spark, sf)
                                .collect()), r.week_offset): r
           for r in q_cohort_retention(spark, sf).collect()}
    # cohort A (users 1,2): w0=2, w1=1 (user 1 only, deduped), w2=2
    assert (out[(0, 0)].retained, out[(0, 0)].cohort_size) == (2, 2)
    assert out[(0, 1)].retained == 1
    assert out[(0, 2)].retained == 2
    assert out[(0, 1)].rate == 1 / 2
    # cohort B (user 3): w0=1 only
    assert (out[(1, 0)].retained, out[(1, 0)].cohort_size) == (1, 1)
    assert (1, 1) not in out and (0, 3) not in out


# --- per-tile categorical diversity (round 5) --------------------------------

def test_tile_diversity_exact_fraction_and_tiebreak(spark):
    """Gini-Simpson per tile equals the exact fraction recompute, and
    the majority class tie-break is (count desc, segment asc)."""
    import zellige_spark.queries as Q

    out = {(r.tile_x, r.tile_y): r
           for r in Q.q_tile_diversity(spark, SF).collect()}
    assert out, "no tiles"
    # brute recompute from the same inputs
    pts = Q._customer_points(spark, SF)
    seg = spark.read.parquet(f"{SF}/customer.parquet").select(
        "c_custkey", "c_mktsegment")
    rows = (Q.T.assign_tiles(pts, [Q.DIV_ZOOM])
            .select("c_custkey", "tile_x", "tile_y")
            .join(seg, "c_custkey").collect())
    agg = {}
    for r in rows:
        agg.setdefault((r.tile_x, r.tile_y), {}).setdefault(
            r.c_mktsegment, 0)
        agg[(r.tile_x, r.tile_y)][r.c_mktsegment] += 1
    assert set(agg) == set(out)
    for k, segs in agg.items():
        n = sum(segs.values())
        ssq = sum(v * v for v in segs.values())
        r = out[k]
        assert (r.n, r.n_segments) == (n, len(segs))
        assert (r.gini_num, r.gini_den) == (n * n - ssq, n * n)
        assert r.gini == (n * n - ssq) / (n * n)
        best = min(segs.items(), key=lambda kv: (-kv[1], kv[0]))
        assert (r.top_segment, r.top_count) == best


# --- A/B test chi-square (round 5) -------------------------------------------

def test_ab_test_exact_chi_square(spark, tmp_path):
    """2x2 chi-square equals the exact-fraction recompute on
    handcrafted conversions; degenerate margins report 0.0."""
    import datetime

    from zellige_spark.streaming.events import q_ab_test

    t0 = datetime.datetime(2024, 1, 1)
    # variant 0 users: 0,2,4,6 (conv: 0,2); variant 1: 1,3,5 (conv: 1)
    rows, eid = [], 0
    for u in range(7):
        rows.append((eid, t0, u, "view")); eid += 1
    for u in (0, 2, 1):
        rows.append((eid, t0, u, "purchase")); eid += 1
    df = spark.createDataFrame(
        [(i, t, u, e, 0.0, "{}") for i, t, u, e in rows],
        "event_id long, ts timestamp, user_id long, event_type string, "
        "value double, props string")
    sf = str(tmp_path)
    df.coalesce(1).write.mode("overwrite").parquet(f"{sf}/events.parquet")
    r = q_ab_test(spark, sf).collect()[0]
    a, b, c, d = 2, 2, 1, 2
    n, det = a + b + c + d, a * d - b * c
    den = (a + b) * (c + d) * (a + c) * (b + d)
    assert (r.users_a, r.conv_a, r.users_b, r.conv_b) == (4, 2, 3, 1)
    assert (r.chi2_num, r.chi2_den) == (n * det * det, den)
    assert r.chi2 == (n * det * det) / den
    assert r.rate_a == 2 / 4 and r.rate_b == 1 / 3

    # degenerate: nobody converts -> chi2 margin zero -> 0.0
    df2 = spark.createDataFrame(
        [(0, t0, 0, "view", 0.0, "{}"), (1, t0, 1, "view", 0.0, "{}")],
        "event_id long, ts timestamp, user_id long, event_type string, "
        "value double, props string")
    sf2 = str(tmp_path / "deg")
    df2.coalesce(1).write.mode("overwrite").parquet(f"{sf2}/events.parquet")
    r2 = q_ab_test(spark, sf2).collect()[0]
    assert (r2.conv_a, r2.conv_b, r2.chi2) == (0, 0, 0.0)


# --- per-tile activity trend (round 5) ---------------------------------------

def test_tile_trend_exact_ols_fraction(spark):
    """Slope fraction equals the textbook OLS recompute per tile over
    observed months; single-month tiles report slope 0.0 with den 0."""
    import zellige_spark.queries as Q

    out = {(r.tile_x, r.tile_y): r
           for r in Q.q_tile_trend(spark, SF).collect()}
    assert out, "no tiles"
    pts = Q._customer_points(spark, SF)
    tiled = Q.T.assign_tiles(pts, [Q.TREND_ZOOM]).select(
        "c_custkey", "tile_x", "tile_y")
    orders = spark.read.parquet(f"{SF}/orders.parquet")
    rows = (orders.join(tiled, orders.o_custkey == tiled.c_custkey)
            .selectExpr("tile_x", "tile_y",
                        "year(o_orderdate) * 12 + month(o_orderdate) AS m")
            .collect())
    cells = {}
    for r in rows:
        cells.setdefault((r.tile_x, r.tile_y), {}).setdefault(r.m, 0)
        cells[(r.tile_x, r.tile_y)][r.m] += 1
    assert set(cells) == set(out)
    for k, months in cells.items():
        n = len(months)
        sx = sum(months)
        sy = sum(months.values())
        sxx = sum(m * m for m in months)
        sxy = sum(m * y for m, y in months.items())
        num, den = n * sxy - sx * sy, n * sxx - sx * sx
        r = out[k]
        assert (r.n_months, r.n_orders) == (n, sy)
        assert (r.slope_num, r.slope_den) == (num, den)
        assert den != 0 and r.slope == num / den


def test_tile_trend_single_month_degenerate(spark, tmp_path):
    """A tile active in exactly one month has slope_den 0 and reports
    slope 0.0 (no trend is definable from one point)."""
    import datetime

    import zellige_spark.queries as Q

    cust = spark.read.parquet(f"{SF}/customer.parquet").limit(1)
    sf = str(tmp_path)
    cust.coalesce(1).write.mode("overwrite").parquet(f"{sf}/customer.parquet")
    key = cust.collect()[0].c_custkey
    orders = spark.createDataFrame(
        [(1, key, datetime.date(2024, 3, 5)),
         (2, key, datetime.date(2024, 3, 20))],
        "o_orderkey long, o_custkey long, o_orderdate date")
    orders.coalesce(1).write.mode("overwrite").parquet(f"{sf}/orders.parquet")
    rows = Q.q_tile_trend(spark, sf).collect()
    assert len(rows) == 1
    r = rows[0]
    assert (r.n_months, r.n_orders, r.slope_den, r.slope) == (1, 2, 0, 0.0)


# --- per-document novelty (round 5) ------------------------------------------

def test_doc_novelty_handcrafted(spark, tmp_path):
    """Novelty semantics: a verbatim re-crawl scores 0, the original
    it copies scores 1, ties on shared grams go to the LOWEST doc_id,
    too-short/empty docs report 0.0 with zero grams."""
    from zellige_spark.operators import text as TXT

    docs = [
        "a b c d e",    # doc 0: all grams first seen here
        "a b c d e",    # doc 1: verbatim re-crawl -> novelty 0
        "x y z a b c",  # doc 2: "a b c" seen in doc 0; "x y z"/"y z a"/
                        #        "z a b" new -> 3/4
        "q r",          # doc 3: too short for a 3-gram
    ]
    sf = _write_docs(spark, tmp_path, docs)
    got = {r.doc_id: r for r in TXT.q_doc_novelty(spark, sf).collect()}
    assert (got[0].n_grams, got[0].novel_grams, got[0].novelty) == (3, 3, 1.0)
    assert (got[1].n_grams, got[1].novel_grams, got[1].novelty) == (3, 0, 0.0)
    assert (got[2].n_grams, got[2].novel_grams) == (4, 3)
    assert got[2].novelty == 3 / 4
    assert (got[3].n_grams, got[3].novelty) == (0, 0.0)


# --- radius of gyration (round 5) --------------------------------------------

def test_radius_gyration_exact_fraction(spark):
    """rog^2 equals the textbook mean-squared-deviation recompute via
    exact Fractions, and the single-division double matches."""
    from fractions import Fraction

    import zellige_spark.queries as Q

    out = {r.user_id: r for r in Q.q_radius_gyration(spark, SF).collect()}
    pts = (spark.read.parquet(f"{SF}/events.parquet")
           .selectExpr("user_id", "event_id * 3571 % 360000 AS x",
                       "(event_id * 9973 + 7) % 170000 AS y").collect())
    by_user = {}
    for r in pts:
        by_user.setdefault(r.user_id, []).append((r.x, r.y))
    assert set(by_user) == set(out)
    for u, xy in by_user.items():
        n = len(xy)
        cx = Fraction(sum(x for x, _ in xy), n)
        cy = Fraction(sum(y for _, y in xy), n)
        rog2 = sum((Fraction(x) - cx) ** 2 + (Fraction(y) - cy) ** 2
                   for x, y in xy) / n
        r = out[u]
        assert r.n_points == n
        assert Fraction(r.rog2_num, r.rog2_den) == rog2
        assert r.rog2 == r.rog2_num / r.rog2_den


# --- OD flow lift (round 5) --------------------------------------------------

def test_od_lift_margins_and_fraction(spark):
    """Lift equals obs*grand/(row*col) recomputed from the flow matrix;
    margins sum back to the grand total; same-cell diagonal rows keep
    their lift."""
    import zellige_spark.queries as Q

    flows = {(r.o_x, r.o_y, r.d_x, r.d_y): r.n_trips
             for r in Q.q_od_flows(spark, SF).collect()}
    out = {(r.o_x, r.o_y, r.d_x, r.d_y): r
           for r in Q.q_od_lift(spark, SF).collect()}
    assert set(flows) == set(out)
    grand = sum(flows.values())
    om, dm = {}, {}
    for (ox, oy, dx, dy), n in flows.items():
        om[(ox, oy)] = om.get((ox, oy), 0) + n
        dm[(dx, dy)] = dm.get((dx, dy), 0) + n
    diag = 0
    for k, n in flows.items():
        r = out[k]
        o_t, d_t = om[(k[0], k[1])], dm[(k[2], k[3])]
        assert (r.n_trips, r.o_total, r.d_total, r.grand) == (
            n, o_t, d_t, grand)
        assert (r.lift_num, r.lift_den) == (n * grand, o_t * d_t)
        assert r.lift == (n * grand) / (o_t * d_t)
        if (k[0], k[1]) == (k[2], k[3]):
            diag += 1
    assert diag > 0, "no stay-home diagonal rows in the matrix"
    assert sum(om.values()) == grand == sum(dm.values())


# --- visitation profile (round 5) --------------------------------------------

def test_visit_profile_brute_equality(spark):
    """Visitation profile equals the brute per-user recompute: distinct
    cells, ping totals, (count desc, cell asc) top-cell tie-break, and
    the exact top-share fraction."""
    import zellige_spark.queries as Q

    out = {r.user_id: r for r in Q.q_visit_profile(spark, SF).collect()}
    pts = Q._event_points(spark, SF)
    side = 1 << Q.VISIT_ZOOM
    rows = (Q.T.assign_tiles(pts, [Q.VISIT_ZOOM])
            .selectExpr("user_id", f"tile_x * {side} + tile_y AS cell")
            .collect())
    by_user = {}
    for r in rows:
        by_user.setdefault(r.user_id, {}).setdefault(r.cell, 0)
        by_user[r.user_id][r.cell] += 1
    assert set(by_user) == set(out)
    for u, cells in by_user.items():
        r = out[u]
        n_pings = sum(cells.values())
        top_cell, top_visits = min(cells.items(),
                                   key=lambda kv: (-kv[1], kv[0]))
        assert (r.n_cells, r.n_pings) == (len(cells), n_pings)
        assert (r.top_cell, r.top_visits) == (top_cell, top_visits)
        assert r.top_share == top_visits / n_pings


# --- k-anonymity spatial cloaking --------------------------------------------

def test_k_anon_tiles_invariants(spark):
    """Every user resolves to a cell holding >= K_ANON users, the
    chosen zoom is MAXIMAL (the one-level-finer ancestor toward the
    user's z14 cell holds < K_ANON), the chosen cell really is the
    ancestor of the user's z14 cell, and cell_n equals the brute
    population recount of that cell."""
    import zellige_spark.queries as Q

    rows = Q.q_k_anon_tiles(spark, SF).collect()
    tiled = {r.c_custkey: (r.tile_x, r.tile_y)
             for r in Q.T.assign_tiles(
                 Q._customer_points(spark, SF),
                 [Q.ANON_Z]).select("c_custkey", "tile_x", "tile_y")
             .collect()}
    assert len(rows) == len(tiled)  # corpus >= K_ANON: everyone resolves
    # brute populations at every level
    pop = {}
    for x14, y14 in tiled.values():
        for z in range(Q.ANON_Z + 1):
            s = Q.ANON_Z - z
            pop[(z, x14 >> s, y14 >> s)] = pop.get(
                (z, x14 >> s, y14 >> s), 0) + 1
    for r in rows:
        x14, y14 = tiled[r.c_custkey]
        s = Q.ANON_Z - r.anon_zoom
        assert (r.cell_x, r.cell_y) == (x14 >> s, y14 >> s)  # true ancestor
        assert r.cell_n == pop[(r.anon_zoom, r.cell_x, r.cell_y)]
        assert r.cell_n >= Q.K_ANON
        if r.anon_zoom < Q.ANON_Z:  # maximality: one finer level fails k
            sf = Q.ANON_Z - (r.anon_zoom + 1)
            assert pop[(r.anon_zoom + 1, x14 >> sf, y14 >> sf)] < Q.K_ANON


def test_k_anon_tiles_small_corpus_empty(spark, tmp_path):
    """A corpus smaller than K_ANON cannot anonymize at any level —
    zero rows come back (nothing leaks)."""
    import zellige_spark.queries as Q

    cust = (spark.read.parquet(f"{SF}/customer.parquet")
            .limit(Q.K_ANON - 1))
    sf = str(tmp_path)
    cust.coalesce(1).write.mode("overwrite").parquet(
        f"{sf}/customer.parquet")
    assert Q.q_k_anon_tiles(spark, sf).count() == 0


def test_k_anon_tiles_hot_cluster_stays_fine(spark, tmp_path):
    """An engineered skewed corpus: the customer lattice repeats
    exactly every 6,120,000 keys (lcm of the lon/lat periods), so 25
    keys one period apart share ONE z14 cell — that cluster already
    satisfies k and anonymizes at z14 itself, while 20 scattered
    users must coarsen to low zooms.  Pins that cloaking is adaptive,
    not a blanket coarsening."""
    import zellige_spark.queries as Q

    period = 6_120_000  # lcm(360000, 170000) for the 7919/104729 lattice
    keys = [1 + period * j for j in range(25)] + list(range(1000, 1020))
    sf = str(tmp_path)
    spark.createDataFrame([(k,) for k in keys], "c_custkey long") \
        .coalesce(1).write.mode("overwrite").parquet(f"{sf}/customer.parquet")
    rows = Q.q_k_anon_tiles(spark, sf).collect()
    assert len(rows) == len(keys)
    by_zoom = {}
    for r in rows:
        by_zoom.setdefault(r.anon_zoom, []).append(r)
    assert Q.ANON_Z in by_zoom and len(by_zoom[Q.ANON_Z]) == 25
    assert {r.c_custkey for r in by_zoom[Q.ANON_Z]} == {
        1 + period * j for j in range(25)}
    assert len({(r.cell_x, r.cell_y) for r in by_zoom[Q.ANON_Z]}) == 1
    assert min(by_zoom) < Q.ANON_Z  # scattered users really coarsened


def test_l_diversity_matches_bruteforce(spark):
    """Per published cell: user count, distinct segments, and the
    (count desc, segment asc) majority all equal the Python recompute
    over the k_anon verdict joined with segments."""
    import zellige_spark.queries as Q

    anon = {r.c_custkey: (r.anon_zoom, r.cell_x, r.cell_y)
            for r in Q.q_k_anon_tiles(spark, SF).collect()}
    segs = {r.c_custkey: r.c_mktsegment
            for r in spark.read.parquet(f"{SF}/customer.parquet")
            .select("c_custkey", "c_mktsegment").collect()}
    cells = {}
    for k, cell in anon.items():
        cells.setdefault(cell, []).append(segs[k])
    out = {(r.anon_zoom, r.cell_x, r.cell_y): r
           for r in Q.q_l_diversity(spark, SF).collect()}
    assert set(out) == set(cells)
    for cell, members in cells.items():
        cnt = {}
        for s in members:
            cnt[s] = cnt.get(s, 0) + 1
        top = min(cnt.items(), key=lambda kv: (-kv[1], kv[0]))
        r = out[cell]
        assert (r.k_users, r.l_distinct) == (len(members), len(cnt))
        assert (r.top_seg, r.top_seg_n) == top
        assert r.ldiv_ok == int(len(cnt) >= Q.L_DIV)


def test_l_diversity_homogeneity_attack_flagged(spark, tmp_path):
    """The engineered hot cluster (one z14 cell, 25 users) made of a
    SINGLE market segment is k-anonymous but NOT l-diverse — its cell
    must come back ldiv_ok=0 with the attacking segment as top_seg,
    while the scattered mixed-segment users' coarse cell passes."""
    import zellige_spark.queries as Q

    period = 6_120_000
    rows = [(1 + period * j, "AUTOMOBILE") for j in range(25)]
    rows += [(1000 + i, ["BUILDING", "MACHINERY", "FURNITURE"][i % 3])
             for i in range(20)]
    sf = str(tmp_path)
    spark.createDataFrame(rows, "c_custkey long, c_mktsegment string") \
        .coalesce(1).write.mode("overwrite").parquet(f"{sf}/customer.parquet")
    out = Q.q_l_diversity(spark, sf).collect()
    hot = [r for r in out if r.anon_zoom == Q.ANON_Z]
    assert len(hot) == 1 and hot[0].ldiv_ok == 0
    assert (hot[0].top_seg, hot[0].top_seg_n, hot[0].l_distinct) == (
        "AUTOMOBILE", 25, 1)
    coarse = [r for r in out if r.anon_zoom < Q.ANON_Z]
    # the audit groups by PUBLISHED equivalence class, not raw cell
    # population: the hot cluster publishes at z14, so a coarse cell
    # whose >= K_ANON population leaned on the cluster can publish a
    # tiny residual class — exactly the leak the audit must flag.
    # The big mixed class passes; every failing coarse class is a
    # sub-k residual.
    assert any(r.ldiv_ok == 1 and r.k_users >= Q.L_DIV for r in coarse)
    for r in coarse:
        if r.ldiv_ok == 0:
            assert r.k_users < Q.K_ANON
