"""S2 cell index as pure Spark Column math + S2-backed kNN (SURVEY §2.10).

The north rule names an "H3/S2 index" behind the spatial operators;
``operators/knn.py`` ships the XYZ-grid ring join and documents that a
real hierarchical sphere index can slot in behind the same plan.  This
module is that index: the S2 scheme of ``kernel/s2.py`` re-expressed
as JVM Column expressions so the DATA side (the 10^12-row side) is
assigned to cells inside WholeStageCodegen with zero Python cost.

The Hilbert walk is the part that naively explodes under Catalyst's
project collapsing (per-level state references the previous level's
state, so inlined expressions double per level — the lesson learned on
dedup shingles, see CLAUDE.md).  It is instead ONE ``F.aggregate`` fold
over a per-level bit array: lambda variables are runtime-bound
(NamedLambdaVariable), not substituted, so the plan stays linear in
the level count.  The fold state packs (hilbert_pos << 2 | orientation)
into a single long; the per-step transition is one ``element_at`` into
a 16-entry literal table (kernel/s2.py STEP_LUT).

The cid is ``face * 4^level + pos`` — hierarchical by construction
(``parent == cid >> 2``), so one level-14 assignment yields every
coarser level by bit shifting, and range-partitioning a table by cid
gives spatial locality (the property that matters at 100 TB: neighbor
cells land in the same file/partition ranges).

``sql_s2_cell_cte`` emits DuckDB SQL (chained CTEs, one per Hilbert
level) with semantics identical to the Column form — the driver oracle
for ``s2_cell_assign`` hash-matches all integer outputs.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from ..kernel import s2 as S2K
from ..io_scan import read_sf

_LUT = [int(v) for v in S2K.STEP_LUT]


# --- Column form -----------------------------------------------------------

def _xyz(lon: Column, lat: Column):
    lam = F.radians(lon)
    phi = F.radians(lat)
    return (F.cos(phi) * F.cos(lam), F.cos(phi) * F.sin(lam), F.sin(phi))


def s2_face(lon: Column, lat: Column) -> Column:
    """Cube face 0..5; tie-break (x over y over z) matches the kernel."""
    x, y, z = _xyz(lon, lat)
    ax, ay, az = F.abs(x), F.abs(y), F.abs(z)
    return (F.when((ax >= ay) & (ax >= az), F.when(x >= 0, F.lit(0)).otherwise(F.lit(3)))
             .when(ay >= az, F.when(y >= 0, F.lit(1)).otherwise(F.lit(4)))
             .otherwise(F.when(z >= 0, F.lit(2)).otherwise(F.lit(5))))


def _s2_uv(lon: Column, lat: Column, face: Column):
    x, y, z = _xyz(lon, lat)
    u = (F.when(face == 0, y / x).when(face == 1, -x / y).when(face == 2, -x / z)
          .when(face == 3, z / x).when(face == 4, z / y).otherwise(-y / z))
    v = (F.when(face == 0, z / x).when(face == 1, z / y).when(face == 2, -y / z)
          .when(face == 3, y / x).when(face == 4, -x / y).otherwise(-x / z))
    return u, v


def _uv_to_st(u: Column) -> Column:
    return (F.when(u >= 0, F.lit(0.5) * F.sqrt(F.lit(1.0) + F.lit(3.0) * u))
             .otherwise(F.lit(1.0) - F.lit(0.5) * F.sqrt(F.lit(1.0) - F.lit(3.0) * u)))


def _st_to_ij(s: Column, level: int) -> Column:
    n = 1 << level
    i = F.floor(s * F.lit(float(n)))
    return F.greatest(F.lit(0).cast("long"), F.least(i, F.lit(n - 1).cast("long")))


def s2_pos(face: Column, i: Column, j: Column, level: int) -> Column:
    """Hilbert position at ``level`` as one aggregate fold (see module
    docstring for why a fold and not a per-level expression chain)."""
    lut = F.array(*[F.lit(v) for v in _LUT])
    ij2s = F.array(*[
        (F.shiftright(i, k).bitwiseAND(F.lit(1)) * F.lit(2)
         + F.shiftright(j, k).bitwiseAND(F.lit(1))).cast("int")
        for k in range(level - 1, -1, -1)])
    init = (face.bitwiseAND(F.lit(1))).cast("long")  # per-face start orientation

    def step(acc: Column, ij2: Column) -> Column:
        idx = (acc.bitwiseAND(F.lit(3)) * F.lit(4) + ij2.cast("long") + F.lit(1)).cast("int")
        return F.shiftleft(F.shiftright(acc, 2), 4) + F.element_at(lut, idx).cast("long")

    return F.aggregate(ij2s, init, step, lambda acc: F.shiftright(acc, 2))


def with_s2_cell(df: DataFrame, level: int, lon_col: str = "lon",
                 lat_col: str = "lat") -> DataFrame:
    """Adds s2_face / s2_i / s2_j / s2_pos / s2_cid at ``level`` — pure
    Column math (plan has no Python; test-asserted)."""
    if not (1 <= level <= S2K.MAX_LEVEL):
        raise ValueError(f"level must be in [1, {S2K.MAX_LEVEL}]")
    lon, lat = F.col(lon_col), F.col(lat_col)
    df = df.withColumn("s2_face", s2_face(lon, lat))
    face = F.col("s2_face")
    u, v = _s2_uv(lon, lat, face)
    df = (df.withColumn("s2_i", _st_to_ij(_uv_to_st(u), level))
            .withColumn("s2_j", _st_to_ij(_uv_to_st(v), level)))
    df = df.withColumn("s2_pos", s2_pos(face, F.col("s2_i"), F.col("s2_j"), level))
    # coalesce(-1) never fires (all inputs non-null) but flips the
    # column to NON-NULLABLE, so join planners stop generating
    # isnotnull(s2_cid) filters.  Those filters were catastrophic:
    # pushdown inlines the whole cid expression — the Hilbert fold is
    # CodegenFallback, so the filter evaluates the exponentially
    # duplicated face/u/st trig trees INTERPRETED, without CSE
    # (measured round 6: a 15k-row broadcast join on s2_cid went
    # 5-7 s -> 0.3 s from this one line).
    return df.withColumn(
        "s2_cid", F.coalesce(
            F.shiftleft(face.cast("long"), 2 * level) + F.col("s2_pos"),
            F.lit(-1).cast("long")))


# --- DuckDB oracle twin ----------------------------------------------------

def sql_s2_cell_cte(source_cte: str, level: int, keep_cols: str) -> str:
    """SQL (DuckDB) computing s2_face / s2_pos / s2_cid at ``level``
    from a CTE named ``source_cte`` exposing lon/lat columns.  One CTE
    per Hilbert level; semantics mirror the Column form operation for
    operation.  Returns the CTE chain text; the final stage is named
    ``_s2_out`` with columns ``keep_cols, s2_face, s2_pos, s2_cid``."""
    n = 1 << level
    stages = [f"""_s2_xyz AS (
      SELECT *, cos(radians(lat)) * cos(radians(lon)) AS _x,
                cos(radians(lat)) * sin(radians(lon)) AS _y,
                sin(radians(lat)) AS _z
      FROM {source_cte}
    )""", """_s2_face AS (
      SELECT *, CASE
        WHEN abs(_x) >= abs(_y) AND abs(_x) >= abs(_z) THEN CASE WHEN _x >= 0 THEN 0 ELSE 3 END
        WHEN abs(_y) >= abs(_z) THEN CASE WHEN _y >= 0 THEN 1 ELSE 4 END
        ELSE CASE WHEN _z >= 0 THEN 2 ELSE 5 END END AS s2_face
      FROM _s2_xyz
    )""", """_s2_uv AS (
      SELECT *,
        CASE s2_face WHEN 0 THEN _y/_x WHEN 1 THEN -_x/_y WHEN 2 THEN -_x/_z
                     WHEN 3 THEN _z/_x WHEN 4 THEN _z/_y ELSE -_y/_z END AS _u,
        CASE s2_face WHEN 0 THEN _z/_x WHEN 1 THEN _z/_y WHEN 2 THEN -_y/_z
                     WHEN 3 THEN _y/_x WHEN 4 THEN -_x/_y ELSE -_x/_z END AS _v
      FROM _s2_face
    )""", f"""_s2_ij AS (
      SELECT *,
        greatest(0, least(CAST(floor((CASE WHEN _u >= 0 THEN 0.5*sqrt(1.0+3.0*_u)
                                           ELSE 1.0-0.5*sqrt(1.0-3.0*_u) END) * {n}.0) AS BIGINT), {n - 1})) AS _i,
        greatest(0, least(CAST(floor((CASE WHEN _v >= 0 THEN 0.5*sqrt(1.0+3.0*_v)
                                           ELSE 1.0-0.5*sqrt(1.0-3.0*_v) END) * {n}.0) AS BIGINT), {n - 1})) AS _j
      FROM _s2_uv
    )""", """_s2_h0 AS (
      SELECT *, CAST(s2_face & 1 AS BIGINT) AS _acc0 FROM _s2_ij
    )"""]
    for step, k in enumerate(range(level - 1, -1, -1)):
        whens = " ".join(f"WHEN {idx} THEN {val}" for idx, val in enumerate(_LUT))
        ij2 = f"(((_i >> {k}) & 1) * 2 + ((_j >> {k}) & 1))"
        stages.append(f"""_s2_h{step + 1} AS (
      SELECT *, ((_acc{step} >> 2) << 4) +
        (CASE (_acc{step} & 3) * 4 + {ij2} {whens} END) AS _acc{step + 1}
      FROM _s2_h{step}
    )""")
    stages.append(f"""_s2_out AS (
      SELECT {keep_cols}, s2_face,
             (_acc{level} >> 2) AS s2_pos,
             (CAST(s2_face AS BIGINT) << {2 * level}) + (_acc{level} >> 2) AS s2_cid
      FROM _s2_h{level}
    )""")
    return ",\n    ".join(stages)


# --- S2-backed kNN ---------------------------------------------------------

def _query_ring_cells(queries: DataFrame, level: int, ring: int,
                      query_id: str, q_lon: str, q_lat: str) -> DataFrame:
    """Fan each query row out to the cids of its k-ring (query side is
    the SMALL side by contract — the fan-out runs in one Arrow batch
    pass; the big data side never calls this)."""
    import pandas as pd  # noqa: F401

    out_schema = f"{query_id} long, _qlon double, _qlat double, s2_cid long"

    def gen(batches):
        import pandas as pd
        from ..kernel import s2 as K
        for pdf in batches:
            if len(pdf) == 0:
                continue
            lon = pdf[q_lon].to_numpy(dtype=float)
            lat = pdf[q_lat].to_numpy(dtype=float)
            face, i, j, _pos = K.lonlat_to_cell(lon, lat, level)
            # whole-batch vectorized ring expansion — no per-row Python
            owners, cids = K.kring_flat(face, i, j, level, ring)
            yield pd.DataFrame({
                query_id: pdf[query_id].to_numpy()[owners],
                "_qlon": lon[owners],
                "_qlat": lat[owners],
                "s2_cid": cids,
            })

    cols = queries.select(F.col(query_id), F.col(q_lon).alias(q_lon),
                          F.col(q_lat).alias(q_lat))
    return cols.mapInPandas(gen, schema=out_schema)


def knn_s2_kring(queries: DataFrame, data: DataFrame, k: int = 5,
                 level: int = 3, ring: int = 2,
                 query_id: str = "query_id", data_id: str = "image_id",
                 q_lon: str = "lon", q_lat: str = "lat",
                 d_lon: str = "lon", d_lat: str = "lat",
                 broadcast_queries: bool = True) -> DataFrame:
    """kNN with S2-cell blocking: data side assigned by pure Column
    math, query side fanned out to its k-ring, equi-join on s2_cid,
    then haversine + row_number — the same single-shuffle plan as
    ``knn_kring`` with the hierarchical sphere index behind it.

    Sizing contract (same as knn_kring): results equal brute force
    whenever each query's true k-th neighbor lies within ``ring``
    neighbor expansions of its cell; ``knn_s2_adaptive`` discharges
    the contract automatically."""
    from .knn import candidate_topk

    d = (with_s2_cell(data, level, d_lon, d_lat)
         .select(F.col(data_id), F.col(d_lon).alias("_dlon"),
                 F.col(d_lat).alias("_dlat"), "s2_cid"))
    q = _query_ring_cells(queries, level, ring, query_id, q_lon, q_lat)
    return candidate_topk(q, d, k, "s2_cid", query_id, data_id,
                          broadcast_queries)


def knn_s2_adaptive(queries: DataFrame, data: DataFrame, k: int = 5,
                    level: int = 3, start_ring: int = 1,
                    query_id: str = "query_id", data_id: str = "image_id",
                    q_lon: str = "lon", q_lat: str = "lat",
                    d_lon: str = "lon", d_lat: str = "lat",
                    broadcast_queries: bool = True) -> DataFrame:
    """Ring-doubling S2 kNN with a conservative stop bound: any point
    OUTSIDE a query's ring-R block is separated from the query by R
    cell-annulus crossings, each at least one cell width — so once the
    k-th found distance is under R * min_cell_width_km(level) (the
    kernel's deliberately-undersized width constant), no undiscovered
    point can beat it.  Queries that reach full-sphere coverage
    (ring >= 3 * 2^level) settle unconditionally.  Runs on the shared
    ``adaptive_knn`` driver (the CellIndex seam in operators/knn.py);
    only the round and bound callbacks are S2-specific."""
    from .knn import adaptive_knn

    def round_fn(active, ring):
        return knn_s2_kring(active, data, k=k, level=level, ring=ring,
                            query_id=query_id, data_id=data_id,
                            q_lon=q_lon, q_lat=q_lat,
                            d_lon=d_lon, d_lat=d_lat,
                            broadcast_queries=broadcast_queries)

    def bound_fn(active, ring):
        # scalar per round: R annulus crossings, each >= one (under-
        # sized) cell width
        return active.select(
            F.col(query_id),
            F.lit(ring * S2K.min_cell_width_km(level)).alias("_bound_km"))

    return adaptive_knn(queries, k, round_fn, bound_fn,
                        full_cover_ring=3 * (1 << level),
                        start_ring=start_ring, query_id=query_id)


# --- spatial-locality layout -----------------------------------------------

def repartition_by_s2_locality(df: DataFrame, level: int = 12,
                               partitions: int | None = None,
                               lon_col: str = "lon",
                               lat_col: str = "lat") -> DataFrame:
    """Range-partition rows by S2 cid so each output partition (and
    hence each written file) covers a compact spatial region.

    This is the cid's reason to be a HILBERT index and not just a hash:
    cid order is spatial order, so ``repartitionByRange`` gives files
    whose cid min/max ranges are non-overlapping compact regions, and a
    cid-range predicate (any "near X" query after ``with_s2_cell``)
    prunes to the few files whose stats overlap — at 100 TB the
    difference between touching ~everything and touching a handful of
    files.  Rows are additionally sorted by cid inside each partition
    so parquet row-group stats prune within files too.

    Routes through the shared CellIndex locality helper
    (knn.repartition_by_cell_locality), like the XYZ Morton and hex
    Morton layouts — the cid IS this backend's spatially-ordered key,
    so no extra layout column is needed."""
    from .knn import repartition_by_cell_locality

    df = with_s2_cell(df, level, lon_col, lat_col)
    return repartition_by_cell_locality(df, "s2_cid", partitions)


# --- driver queries --------------------------------------------------------

# Derived coordinates for the s2 oracle: same integer lattices as
# queries.py CUST_LON/LAT but offset off the grid of special angles.
# At lon = +/-45.000 exactly, 45*pi/180 rounds to exactly pi/4 in
# doubles, where |cos| and |sin| agree to within 1 ulp — a JVM-vs-libm
# 1-ulp trig difference could then flip the cube-face tie-break between
# engines.  The 0.0007 offsets keep every lattice point >= 1e-5 rad
# away from all face-diagonal manifolds, making the hash comparison
# ulp-robust (flip probability ~1e-12 per point instead of ~7% per
# corpus).
S2_LON = "(c_custkey * 7919 % 360000) / 1000.0 - 179.9993"
S2_LAT = "((c_custkey * 104729 + 13) % 170000) / 1000.0 - 84.99935"

S2_MAX_QUERY_LEVEL = 12
S2_QUERY_LEVELS = (4, 8, 12)


def q_s2_cell_assign(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Customers -> S2 cells, computed ONCE at level 12 in pure Column
    math, then every coarser level derived by prefix shift (exercising
    the hierarchy invariant inside the oracle-checked query)."""
    pts = (read_sf(spark, sf_dir, "customer")
           .select("c_custkey", F.expr(S2_LON).alias("lon"), F.expr(S2_LAT).alias("lat")))
    df = with_s2_cell(pts, S2_MAX_QUERY_LEVEL)
    df = df.withColumn("level", F.explode(F.array(
        *[F.lit(lv) for lv in S2_QUERY_LEVELS])))
    cid = F.expr(f"shiftright(s2_cid, 2 * ({S2_MAX_QUERY_LEVEL} - level))")
    pos = cid - F.expr("shiftleft(cast(s2_face as bigint), 2 * level)")
    return df.select(
        F.col("c_custkey"),
        F.col("level").cast("int").alias("level"),
        F.col("s2_face").cast("int").alias("s2_face"),
        pos.alias("s2_pos"),
        cid.alias("s2_cid"))


def sql_s2_cell_assign() -> str:
    ctes = sql_s2_cell_cte("_pts", S2_MAX_QUERY_LEVEL, "c_custkey")
    levels = ", ".join(f"({lv})" for lv in S2_QUERY_LEVELS)
    return f"""
    WITH _pts AS (
      SELECT c_custkey, {S2_LON} AS lon, {S2_LAT} AS lat FROM customer
    ),
    {ctes}
    SELECT c_custkey, CAST(l.level AS INT) AS level,
           CAST(s2_face AS INT) AS s2_face,
           (s2_cid >> (2 * ({S2_MAX_QUERY_LEVEL} - l.level)))
             - (CAST(s2_face AS BIGINT) << (2 * l.level)) AS s2_pos,
           (s2_cid >> (2 * ({S2_MAX_QUERY_LEVEL} - l.level))) AS s2_cid
    FROM _s2_out CROSS JOIN (VALUES {levels}) AS l(level)
    """


def q_knn_s2(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Same kNN task as q_knn (nation queries over customer points) but
    through the S2 adaptive ring index — oracle is the brute-force SQL
    (the index must not change the answer)."""
    from ..queries import CUST_LAT, CUST_LON, NAT_LAT, NAT_LON

    queries = (read_sf(spark, sf_dir, "nation")
               .select(F.col("n_nationkey").alias("query_id"),
                       F.expr(NAT_LON).alias("lon"), F.expr(NAT_LAT).alias("lat")))
    data = (read_sf(spark, sf_dir, "customer")
            .select(F.col("c_custkey").alias("data_id"),
                    F.expr(CUST_LON).alias("lon"), F.expr(CUST_LAT).alias("lat")))
    out = knn_s2_adaptive(queries, data, k=5, level=2, start_ring=1,
                          query_id="query_id", data_id="data_id")
    return out.select(F.col("query_id").cast("long").alias("query_id"),
                      F.col("neighbor_id").cast("long").alias("neighbor_id"),
                      F.col("rank").cast("int").alias("rank"))


def compact_s2(cells: DataFrame, level: int) -> DataFrame:
    """H3-style compact on the S2 hierarchy: the cid layout is
    ``face * 4^level + hilbert_pos``, so the parent at level-1 is
    exactly ``cid >> 2`` — the same 4-to-1 recursion as the XYZ tile
    compact, run through the shared ``tiles.compact_quadtree`` loop
    (hierarchy algebra through the CellIndex seam).

    Input: distinct ``s2_cid`` values at ``level``.
    Output: (level, s2_cid) — the minimal mixed-level cover."""
    from pyspark.sql import functions as F

    from . import tiles as T

    return T.compact_quadtree(cells, level, ["s2_cid"],
                              lambda: [F.shiftright("s2_cid", 2)],
                              level_col="level")


def uncompact_s2(cells: DataFrame, target_level: int,
                 level_col: str = "level") -> DataFrame:
    """Inverse of ``compact_s2``: expand mixed-level cids back to
    uniform cells at ``target_level`` via a runtime ``sequence``
    fan-out (4^(target-level) children per cell)."""
    from pyspark.sql import functions as F

    n4 = F.expr(
        f"shiftleft(CAST(1 AS BIGINT), 2 * ({target_level} - {level_col}))")
    base = F.expr(f"shiftleft(s2_cid, 2 * ({target_level} - {level_col}))")
    return (cells.withColumn("_b", base).withColumn("_n4", n4)
                 .withColumn("_d", F.explode(
                     F.sequence(F.lit(0).cast("long"), F.col("_n4") - 1)))
                 .select((F.col("_b") + F.col("_d")).alias("s2_cid")))
