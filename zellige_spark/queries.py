"""Driver-contract queries and their DuckDB oracle SQL.

Each query runs a REAL engine operator (tile assignment, PIP join, kNN,
MVT assembly) over points derived deterministically from the testdata
tables (integer arithmetic → identical in Spark and DuckDB), and each
oracle re-states the semantics in plain SQL.  Column names match
exactly (driver hashes values after sorting columns by name).

Float-sensitive outputs (distances, scores) are excluded from compared
columns; comparisons are on integer keys/ranks/counts, which are stable
across JVM/libm ulp differences.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from .io_scan import read_sf
from .operators import encode as E
from .operators import knn as KNN
from .operators import pip as PIP
from .operators import tiles as T

MAX_EXTENTS = 20037508.342789244
R = 6378137.0

# --- deterministic lon/lat derivations (same in Spark + DuckDB) -------------

CUST_LON = "(c_custkey * 7919 % 360000) / 1000.0 - 180.0"
CUST_LAT = "((c_custkey * 104729 + 13) % 170000) / 1000.0 - 85.0"
NAT_LON = "(n_nationkey * 52361 % 360000) / 1000.0 - 180.0"
NAT_LAT = "((n_nationkey * 7907 + 41) % 170000) / 1000.0 - 85.0"

ZOOMS = (0, 5, 9, 14)


def _customer_points(spark: SparkSession, sf_dir: str) -> DataFrame:
    df = read_sf(spark, sf_dir, "customer")
    return df.select(
        F.col("c_custkey"),
        F.expr(CUST_LON).alias("lon"),
        F.expr(CUST_LAT).alias("lat"),
    )


def _nation_points(spark: SparkSession, sf_dir: str) -> DataFrame:
    df = read_sf(spark, sf_dir, "nation")
    return df.select(
        F.col("n_nationkey"),
        F.expr(NAT_LON).alias("lon"),
        F.expr(NAT_LAT).alias("lat"),
    )


# DuckDB snippets for 3857 projection + tile math (mirrors operators/tiles.py)
_SQL_X = f"least({R} * radians(lon), {MAX_EXTENTS})"
_SQL_Y = f"greatest({R} * ln(tan(0.25 * pi() + 0.5 * radians(lat))), -{MAX_EXTENTS})"


def _sql_tile(zoom_expr: str) -> str:
    res = f"(2.0 * {MAX_EXTENTS} / pow(2.0, {zoom_expr}))"
    last = f"(cast(pow(2.0, {zoom_expr}) as bigint) - 1)"
    tx = f"greatest(0, least(cast(floor((x3857 + {MAX_EXTENTS}) / {res}) as bigint), {last}))"
    ty = f"greatest(0, least(cast(floor(({MAX_EXTENTS} - y3857) / {res}) as bigint), {last}))"
    return tx, ty


# ---------------------------------------------------------------------------
# q: tile_assign — the core NEW operator, zooms 0/5/9/14 over customers
# ---------------------------------------------------------------------------

def q_tile_assign(spark: SparkSession, sf_dir: str) -> DataFrame:
    pts = _customer_points(spark, sf_dir)
    out = T.assign_tiles(pts, ZOOMS)
    return out.select("c_custkey", F.col("zoom").cast("int").alias("zoom"),
                      "tile_x", "tile_y")


def sql_tile_assign() -> str:
    tx, ty = _sql_tile("zoom")
    return f"""
    WITH pts AS (
      SELECT c_custkey,
             {CUST_LON} AS lon,
             {CUST_LAT} AS lat
      FROM customer
    ), proj AS (
      SELECT c_custkey, {_SQL_X} AS x3857, {_SQL_Y} AS y3857 FROM pts
    )
    SELECT c_custkey, CAST(z.zoom AS INT) AS zoom,
           {tx} AS tile_x, {ty} AS tile_y
    FROM proj CROSS JOIN (VALUES (0),(5),(9),(14)) AS z(zoom)
    """


# ---------------------------------------------------------------------------
# q: tile_counts — distinct tiles + rows per zoom (skew scan shape)
# ---------------------------------------------------------------------------

def q_tile_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    pts = _customer_points(spark, sf_dir)
    a = T.assign_tiles(pts, ZOOMS)
    return (a.groupBy(F.col("zoom").cast("int").alias("zoom"))
             .agg(F.countDistinct("tile_x", "tile_y").alias("n_tiles"),
                  F.count(F.lit(1)).alias("n_rows"))
             .orderBy("zoom"))


def q_tile_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hierarchical zoom rollup: per-tile (cnt, key_sum) at all 15
    zooms from ONE raw aggregation at z14 + an aggregate-side ancestor
    merge (``tiles.zoom_rollup``) — the 100-TB plan for multi-zoom
    tile stats (shuffle sees the raw rows once, then only tile
    aggregates), vs the naive explode-raw-rows-per-zoom plan the
    oracle runs.  Exact equality is structural: ``floor(u / 2^s)``
    composes with the z14 floor."""
    pts = _customer_points(spark, sf_dir)
    out = T.zoom_rollup(pts, max_zoom=14, sum_cols={"key_sum": "c_custkey"})
    return out.select(F.col("zoom").cast("int").alias("zoom"),
                      F.col("tile_x").cast("long").alias("tile_x"),
                      F.col("tile_y").cast("long").alias("tile_y"),
                      F.col("cnt").cast("long").alias("cnt"),
                      F.col("key_sum").cast("long").alias("key_sum"))


def sql_tile_rollup() -> str:
    tx, ty = _sql_tile("z.zoom")
    zoom_values = ",".join(f"({z})" for z in range(15))
    return f"""
    WITH pts AS (
      SELECT c_custkey, {CUST_LON} AS lon, {CUST_LAT} AS lat FROM customer
    ), proj AS (
      SELECT c_custkey, {_SQL_X} AS x3857, {_SQL_Y} AS y3857 FROM pts
    )
    SELECT CAST(z.zoom AS INT) AS zoom, {tx} AS tile_x, {ty} AS tile_y,
           CAST(COUNT(*) AS BIGINT) AS cnt,
           CAST(SUM(c_custkey) AS BIGINT) AS key_sum
    FROM proj CROSS JOIN (VALUES {zoom_values}) AS z(zoom)
    GROUP BY 1, 2, 3
    """


GEOHASH_P = 7
QUADKEY_Z = 9


def q_geohash_assign(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Geohash cell codes (4th cell-index family, string-keyed): the
    precision-7 code per customer plus its precision-4 prefix cell and
    that cell's population — the prefix IS the coarse cell (geohash
    containment = string prefix), so the coarse rollup is a substr +
    window count, no second spatial assignment.  Map-only Column math
    + one window; the code text is shared verbatim with the oracle
    (``operators/geocodes.py``)."""
    from pyspark.sql.window import Window

    from .operators import geocodes as GC

    pts = _customer_points(spark, sf_dir)
    out = GC.with_geohash(pts, GEOHASH_P)
    out = out.withColumn("gh4", F.expr("substr(geohash, 1, 4)"))
    w = Window.partitionBy("gh4")
    return out.select("c_custkey", "geohash", "gh4",
                      F.count(F.lit(1)).over(w).alias("gh4_n"))


def sql_geohash_assign() -> str:
    from .operators import geocodes as GC

    lon_sql, lat_sql = GC.geohash_idx_sql(GEOHASH_P, "lon", "lat")
    code = GC.geohash_code_sql(GEOHASH_P)
    return f"""
    WITH pts AS (
      SELECT c_custkey, {CUST_LON} AS lon, {CUST_LAT} AS lat FROM customer
    ), idx AS (
      SELECT c_custkey, {lon_sql} AS _gh_lon, {lat_sql} AS _gh_lat FROM pts
    ), codes AS (
      SELECT c_custkey, {code} AS geohash FROM idx
    )
    SELECT c_custkey, geohash, substr(geohash, 1, 4) AS gh4,
           CAST(COUNT(*) OVER (PARTITION BY substr(geohash, 1, 4))
                AS BIGINT) AS gh4_n
    FROM codes
    """


def q_quadkey_assign(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bing quadkey strings for the z9 tile assignment — the string
    twin of ``tile_key`` (prefix = ancestor on the quadtree), with the
    parent key derived by prefix truncation and checked against the
    z8 shift arithmetic in-job (``qk_parent_ok``, also oracle-compared
    so a FALSE anywhere hash-mismatches)."""
    from .operators import geocodes as GC

    pts = _customer_points(spark, sf_dir)
    a = T.assign_tiles(pts, [QUADKEY_Z])
    out = GC.with_quadkey(a, QUADKEY_Z)
    parent_qk = GC.quadkey_sql(QUADKEY_Z - 1,
                               "(tile_x >> 1)", "(tile_y >> 1)")
    return out.select(
        "c_custkey", "tile_x", "tile_y", "quadkey",
        (F.expr(f"substr(quadkey, 1, {QUADKEY_Z - 1})")
         == F.expr(parent_qk)).alias("qk_parent_ok"))


def sql_quadkey_assign() -> str:
    from .operators import geocodes as GC

    tx, ty = _sql_tile(str(QUADKEY_Z))
    qk = GC.quadkey_sql(QUADKEY_Z, "tile_x", "tile_y")
    parent_qk = GC.quadkey_sql(QUADKEY_Z - 1, "(tile_x >> 1)", "(tile_y >> 1)")
    return f"""
    WITH pts AS (
      SELECT c_custkey, {CUST_LON} AS lon, {CUST_LAT} AS lat FROM customer
    ), proj AS (
      SELECT c_custkey, {_SQL_X} AS x3857, {_SQL_Y} AS y3857 FROM pts
    ), tiles AS (
      SELECT c_custkey, {tx} AS tile_x, {ty} AS tile_y FROM proj
    )
    SELECT c_custkey, tile_x, tile_y, {qk} AS quadkey,
           substr({qk}, 1, {QUADKEY_Z - 1}) = {parent_qk} AS qk_parent_ok
    FROM tiles
    """


def q_tile_distinct_sketch(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic mergeable distinct-count sketch per tile (HLL-style
    registers on a shared md5-derived hash — `operators/sketch.py`): z9
    registers from ONE raw pass, z5 registers MAX-MERGED from the z9
    sketch state (never re-reading raw rows), each finalized to an
    exact BIGINT harmonic sum + a one-division estimate.  ``n_exact``
    is the in-job audit column; the oracle recomputes registers,
    sums, AND the float estimate bit-for-bit — an approximate operator
    under the exact value-hash gate."""
    from .operators import sketch as SK

    pts = _customer_points(spark, sf_dir)
    a = T.assign_tiles(pts, [9]).select("c_custkey", "tile_x", "tile_y")
    keys = ["tile_x", "tile_y"]
    reg9 = SK.hll_registers(a, keys, "c_custkey")
    fin9 = SK.hll_finalize(reg9, keys).withColumn("zoom", F.lit(9))
    reg5 = SK.hll_merge(reg9, {"tile_x": F.expr("shiftright(tile_x, 4)"),
                               "tile_y": F.expr("shiftright(tile_y, 4)")})
    fin5 = SK.hll_finalize(reg5, keys).withColumn("zoom", F.lit(5))
    ex9 = (a.groupBy(*keys)
            .agg(F.countDistinct("c_custkey").alias("n_exact"))
            .withColumn("zoom", F.lit(9)))
    ex5 = (a.groupBy(F.expr("shiftright(tile_x, 4)").alias("tile_x"),
                     F.expr("shiftright(tile_y, 4)").alias("tile_y"))
            .agg(F.countDistinct("c_custkey").alias("n_exact"))
            .withColumn("zoom", F.lit(5)))
    fin = fin9.unionByName(fin5)
    ex = ex9.unionByName(ex5)
    out = fin.join(ex, ["zoom", "tile_x", "tile_y"])
    return out.select(F.col("zoom").cast("int").alias("zoom"),
                      F.col("tile_x").cast("long").alias("tile_x"),
                      F.col("tile_y").cast("long").alias("tile_y"),
                      F.col("n_exact").cast("long").alias("n_exact"),
                      "hll_sum", "est_hll")


HIST_V = "c_custkey * 48271 % 1024"  # synthetic integer measure


def q_tile_hist_quantiles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Mergeable per-tile histogram quantiles (`operators/sketch.py`
    hist_* family): z9 fixed-bin histograms from ONE raw pass, z5
    histograms SUM-MERGED from the z9 state (never re-reading raw
    rows), each finalized to exact binned p50/p90 — the quantile
    member of the mergeable-summary family, all-integer under the
    value-hash gate."""
    from .operators import sketch as SK

    pts = _customer_points(spark, sf_dir)
    a = (T.assign_tiles(pts, [9])
         .select("c_custkey", "tile_x", "tile_y")
         .withColumn("v", F.expr(HIST_V)))
    keys = ["tile_x", "tile_y"]
    reg9 = SK.hist_registers(a, keys, "v")
    q9 = SK.hist_quantiles(reg9, keys).withColumn("zoom", F.lit(9))
    reg5 = SK.hist_merge(reg9, {"tile_x": F.expr("shiftright(tile_x, 4)"),
                                "tile_y": F.expr("shiftright(tile_y, 4)")})
    q5 = SK.hist_quantiles(reg5, keys).withColumn("zoom", F.lit(5))
    out = q9.unionByName(q5)
    return out.select(F.col("zoom").cast("int").alias("zoom"),
                      F.col("tile_x").cast("long").alias("tile_x"),
                      F.col("tile_y").cast("long").alias("tile_y"),
                      F.col("n_rows").cast("long").alias("n_rows"),
                      "p50", "p90")


def sql_tile_hist_quantiles() -> str:
    from .operators import sketch as SK

    tx9, ty9 = _sql_tile("9")
    tx5, ty5 = _sql_tile("5")
    bins = ", ".join(
        f"CAST(SUM(CASE WHEN bin = {i} THEN 1 ELSE 0 END) AS BIGINT) AS b{i}"
        for i in range(SK.HIST_BINS))

    def level(tx, ty, zoom):
        return f"""
      SELECT CAST({zoom} AS INT) AS zoom, tile_x, tile_y,
             CAST(n_rows AS BIGINT) AS n_rows,
             {SK.hist_quantile_case(50)} AS p50,
             {SK.hist_quantile_case(90)} AS p90
      FROM (
        SELECT {tx} AS tile_x, {ty} AS tile_y, COUNT(*) AS n_rows, {bins}
        FROM binned GROUP BY 1, 2
      )"""

    return f"""
    WITH pts AS (
      SELECT c_custkey, {CUST_LON} AS lon, {CUST_LAT} AS lat FROM customer
    ), proj AS (
      SELECT c_custkey, {_SQL_X} AS x3857, {_SQL_Y} AS y3857 FROM pts
    ), binned AS (
      SELECT x3857, y3857,
             LEAST(CAST({HIST_V} AS BIGINT) // {SK.HIST_WIDTH},
                   {SK.HIST_BINS - 1}) AS bin
      FROM proj
    )
    {level(tx9, ty9, 9)}
    UNION ALL
    {level(tx5, ty5, 5)}
    """


def sql_tile_distinct_sketch() -> str:
    from .operators import sketch as SK

    tx9, ty9 = _sql_tile("9")
    tx5, ty5 = _sql_tile("5")
    s9 = SK.sql_hll_tile(tx9, ty9, "proj", "c_custkey")
    s5 = SK.sql_hll_tile(tx5, ty5, "proj", "c_custkey")
    return f"""
    WITH pts AS (
      SELECT c_custkey, {CUST_LON} AS lon, {CUST_LAT} AS lat FROM customer
    ), proj AS (
      SELECT c_custkey, {_SQL_X} AS x3857, {_SQL_Y} AS y3857 FROM pts
    ), s9 AS ({s9}), s5 AS ({s5}),
    e9 AS (
      SELECT {tx9} AS tile_x, {ty9} AS tile_y,
             COUNT(DISTINCT c_custkey) AS n_exact
      FROM proj GROUP BY 1, 2
    ),
    e5 AS (
      SELECT {tx5} AS tile_x, {ty5} AS tile_y,
             COUNT(DISTINCT c_custkey) AS n_exact
      FROM proj GROUP BY 1, 2
    )
    SELECT CAST(9 AS INT) AS zoom, s9.tile_x, s9.tile_y,
           CAST(e9.n_exact AS BIGINT) AS n_exact, s9.hll_sum, s9.est_hll
    FROM s9 JOIN e9 ON s9.tile_x = e9.tile_x AND s9.tile_y = e9.tile_y
    UNION ALL
    SELECT CAST(5 AS INT), s5.tile_x, s5.tile_y,
           CAST(e5.n_exact AS BIGINT), s5.hll_sum, s5.est_hll
    FROM s5 JOIN e5 ON s5.tile_x = e5.tile_x AND s5.tile_y = e5.tile_y
    """


def q_tile_quartiles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact per-tile quartiles (z5) of the customer-key distribution —
    the rank-math form: ``row_number`` + per-tile count in ONE window
    pass, quartile k = the value at rank ``(n*k + 3) div 4`` (pure
    integer ceil, identical on both engines), pivoted to columns by a
    conditional aggregate.  ``percentile_approx`` would be the
    cluster-default for this, but its sketch is engine-private — this
    is the auditable exact twin, and its plan is the right shape
    anyway: one shuffle on the tile key, then aggregate-only math.
    Per-tile value counts are bounded by tile occupancy (no global
    sort); a hot tile degrades to one fat window partition (no hot-tile
    splitting here; ``tiles.quadtree_split`` is the balanced partition
    map a 100-TB job would range-partition on)."""
    from pyspark.sql.window import Window

    pts = _customer_points(spark, sf_dir)
    a = T.assign_tiles(pts, [5]).select("c_custkey", "tile_x", "tile_y")
    wt = Window.partitionBy("tile_x", "tile_y")
    d = a.select(
        "tile_x", "tile_y", "c_custkey",
        F.row_number().over(wt.orderBy("c_custkey")).alias("rn"),
        F.count(F.lit(1)).over(wt).alias("n"))
    qcols = [F.max(F.when(F.col("rn") == F.expr(f"(n * {k} + 3) div 4"),
                          F.col("c_custkey"))).alias(f"q{k}")
             for k in (1, 2, 3)]
    out = (d.groupBy("tile_x", "tile_y")
            .agg(F.max("n").alias("n_rows"),
                 F.min("c_custkey").alias("vmin"),
                 F.max("c_custkey").alias("vmax"), *qcols))
    return out.select(F.col("tile_x").cast("long").alias("tile_x"),
                      F.col("tile_y").cast("long").alias("tile_y"),
                      F.col("n_rows").cast("long").alias("n_rows"),
                      F.col("vmin").cast("long").alias("vmin"),
                      F.col("q1").cast("long").alias("q1"),
                      F.col("q2").cast("long").alias("q2"),
                      F.col("q3").cast("long").alias("q3"),
                      F.col("vmax").cast("long").alias("vmax"))


def sql_tile_quartiles() -> str:
    tx, ty = _sql_tile("5")
    return f"""
    WITH pts AS (
      SELECT c_custkey, {CUST_LON} AS lon, {CUST_LAT} AS lat FROM customer
    ), proj AS (
      SELECT c_custkey, {_SQL_X} AS x3857, {_SQL_Y} AS y3857 FROM pts
    ), tiled AS (
      SELECT c_custkey, {tx} AS tile_x, {ty} AS tile_y FROM proj
    ), ranked AS (
      SELECT tile_x, tile_y, c_custkey,
             ROW_NUMBER() OVER (PARTITION BY tile_x, tile_y
                                ORDER BY c_custkey) AS rn,
             COUNT(*) OVER (PARTITION BY tile_x, tile_y) AS n
      FROM tiled
    )
    SELECT tile_x, tile_y,
           CAST(MAX(n) AS BIGINT) AS n_rows,
           CAST(MIN(c_custkey) AS BIGINT) AS vmin,
           CAST(MAX(CASE WHEN rn = (n * 1 + 3) // 4 THEN c_custkey END) AS BIGINT) AS q1,
           CAST(MAX(CASE WHEN rn = (n * 2 + 3) // 4 THEN c_custkey END) AS BIGINT) AS q2,
           CAST(MAX(CASE WHEN rn = (n * 3 + 3) // 4 THEN c_custkey END) AS BIGINT) AS q3,
           CAST(MAX(c_custkey) AS BIGINT) AS vmax
    FROM ranked GROUP BY tile_x, tile_y
    """


TT_ZOOM = 5  # tile level of the spatiotemporal cube


def q_tile_time_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Spatiotemporal hypertable cube: orders joined to customer sites,
    aggregated per (z5 tile, time bucket) at BOTH month and year grain
    from ONE raw aggregation — the continuous-aggregate cascade.  The
    raw rows (orders x sites; at 100 TB the fact table) shuffle once on
    the join key and once into (tile, month) cells; the year grain is
    merged from the month AGGREGATES (explode over grains + second
    groupBy, the ``zoom_rollup`` shape), so the fact table is scanned
    and shuffled exactly once however many grains are requested.  Time
    buckets are integers (yyyymm / yyyy), never timestamps, per the
    epoch-comparison rule."""
    pts = _customer_points(spark, sf_dir)
    tiled = T.assign_tiles(pts, [TT_ZOOM]).select("c_custkey", "tile_x", "tile_y")
    orders = read_sf(spark, sf_dir, "orders").select(
        "o_custkey",
        (F.year("o_orderdate") * 100 + F.month("o_orderdate"))
        .cast("int").alias("ym"))
    j = orders.join(tiled, F.col("o_custkey") == F.col("c_custkey"))
    fine = (j.groupBy("tile_x", "tile_y", "ym")
             .agg(F.count(F.lit(1)).alias("n_orders")))
    g = fine.withColumn(
        "grain", F.explode(F.array(F.lit("month"), F.lit("year"))))
    out = (g.groupBy("tile_x", "tile_y", "grain",
                     F.when(F.col("grain") == "month", F.col("ym"))
                      .otherwise(F.expr("ym div 100"))
                      .cast("int").alias("bucket"))
            .agg(F.sum("n_orders").alias("n_orders")))
    return out.select(F.col("tile_x").cast("long").alias("tile_x"),
                      F.col("tile_y").cast("long").alias("tile_y"),
                      "grain", "bucket",
                      F.col("n_orders").cast("long").alias("n_orders"))


def sql_tile_time_rollup() -> str:
    tx, ty = _sql_tile(str(TT_ZOOM))
    return f"""
    WITH pts AS (
      SELECT c_custkey, {CUST_LON} AS lon, {CUST_LAT} AS lat FROM customer
    ), proj AS (
      SELECT c_custkey, {_SQL_X} AS x3857, {_SQL_Y} AS y3857 FROM pts
    ), tiled AS (
      SELECT c_custkey, {tx} AS tile_x, {ty} AS tile_y FROM proj
    ), j AS (
      SELECT t.tile_x, t.tile_y,
             CAST(year(o.o_orderdate) * 100 + month(o.o_orderdate) AS INT) AS ym
      FROM orders o JOIN tiled t ON o.o_custkey = t.c_custkey
    )
    SELECT tile_x, tile_y, 'month' AS grain, ym AS bucket,
           CAST(COUNT(*) AS BIGINT) AS n_orders
    FROM j GROUP BY tile_x, tile_y, ym
    UNION ALL
    SELECT tile_x, tile_y, 'year', CAST(ym // 100 AS INT),
           CAST(COUNT(*) AS BIGINT)
    FROM j GROUP BY tile_x, tile_y, ym // 100
    """


TC_ZOOM = 4                  # change-detection cell level
TC_SPLIT_ES = 1_705_363_200  # 2024-01-16T00:00:00Z — events span Jan 1-30
TC_SCALE = 1000              # chi-square score in milli-units


def q_tile_change(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-tile temporal change detection over events at z4: counts
    before vs after the Jan-16 split, integer chi-square-style shift
    score, grew/declined/flat trend.  One shuffle, both periods
    aggregated in the same pass (no per-period scans or self-join);
    all-integer outputs keep it under the exact hash gate."""
    df = _event_points(spark, sf_dir)
    return T.tile_change(df, TC_ZOOM, TC_SPLIT_ES,
                         score_scale=TC_SCALE).select(
        F.col("tile_x").cast("long").alias("tile_x"),
        F.col("tile_y").cast("long").alias("tile_y"),
        "n_a", "n_b", "delta", "score_q", "trend")


def sql_tile_change() -> str:
    tx, ty = _sql_tile(str(TC_ZOOM))
    return f"""
    WITH pts AS (
      SELECT CAST(floor(epoch(ts)) AS BIGINT) AS es,
             {EVT_LON} AS lon, {EVT_LAT} AS lat
      FROM events
    ), proj AS (
      SELECT es, {_SQL_X} AS x3857, {_SQL_Y} AS y3857 FROM pts
    ), t AS (
      SELECT {tx} AS tile_x, {ty} AS tile_y,
             CASE WHEN es >= {TC_SPLIT_ES} THEN 1 ELSE 0 END AS in_b
      FROM proj
    ), g AS (
      SELECT tile_x, tile_y,
             CAST(SUM(1 - in_b) AS BIGINT) AS n_a,
             CAST(SUM(in_b) AS BIGINT) AS n_b
      FROM t GROUP BY tile_x, tile_y
    )
    SELECT tile_x, tile_y, n_a, n_b,
           CAST(n_b - n_a AS BIGINT) AS delta,
           CAST((n_b - n_a) * (n_b - n_a) * {TC_SCALE} // (n_a + n_b)
                AS BIGINT) AS score_q,
           CASE WHEN n_b > n_a THEN 'grew'
                WHEN n_b < n_a THEN 'declined'
                ELSE 'flat' END AS trend
    FROM g
    """


def sql_tile_counts() -> str:
    tx, ty = _sql_tile("zoom")
    return f"""
    WITH pts AS (
      SELECT c_custkey, {CUST_LON} AS lon, {CUST_LAT} AS lat FROM customer
    ), proj AS (
      SELECT c_custkey, {_SQL_X} AS x3857, {_SQL_Y} AS y3857 FROM pts
    ), assigned AS (
      SELECT CAST(z.zoom AS INT) AS zoom, {tx} AS tile_x, {ty} AS tile_y
      FROM proj CROSS JOIN (VALUES (0),(5),(9),(14)) AS z(zoom)
    )
    SELECT zoom, COUNT(DISTINCT (tile_x, tile_y)) AS n_tiles, COUNT(*) AS n_rows
    FROM assigned GROUP BY zoom ORDER BY zoom
    """


# ---------------------------------------------------------------------------
# q: pip_polygon — point-in-polygon join against a fixed irregular polygon
# ---------------------------------------------------------------------------

# irregular (non-convex) test polygon; vertices chosen with non-terminating
# binary fractions unlikely to generate on-edge hits from the derived points
PIP_POLY = [
    (-20.137, -10.311), (15.731, -25.973), (42.677, 8.059),
    (20.011, 13.177), (31.445, 38.071), (-5.233, 29.917),
    (-28.471, 5.483), (-20.137, -10.311),
]


def _poly0_df(spark: SparkSession) -> DataFrame:
    import numpy as np

    ring = [[float(x), float(y)] for x, y in PIP_POLY]
    arr = np.asarray(ring)
    return spark.createDataFrame(
        [("poly0", "fixed", [ring],
          float(arr[:, 0].min()), float(arr[:, 1].min()),
          float(arr[:, 0].max()), float(arr[:, 1].max()))],
        "polygon_id string, name string, rings array<array<array<double>>>, "
        "min_lon double, min_lat double, max_lon double, max_lat double")


def _sql_pip_crossings(verts=PIP_POLY) -> str:
    # even-odd ray cast, one term per edge, matching ray_cast_mask exactly:
    # crossing iff min(y1,y2) <= lat < max(y1,y2) and x1+t*(x2-x1) > lon
    terms = []
    for (x1, y1), (x2, y2) in zip(verts[:-1], verts[1:]):
        if y1 == y2:
            continue
        t = f"((lat - {y1!r}) / ({y2!r} - {y1!r}))"
        xs = f"({x1!r} + {t} * ({x2!r} - {x1!r}))"
        cond = (f"(lat >= least({y1!r},{y2!r}) AND lat < greatest({y1!r},{y2!r}) "
                f"AND {xs} > lon)")
        terms.append(f"CASE WHEN {cond} THEN 1 ELSE 0 END")
    return " + ".join(terms)


# zonal-statistics dim: translated copies of the test polygon (offsets
# applied in PYTHON so both engines receive byte-identical float
# literals; all zones stay inside |lat| < 85 and off the antimeridian)
ZONAL_OFFSETS = [(0.0, 0.0), (60.25, 11.5), (-75.5, -22.25),
                 (110.75, 25.125), (-150.125, 30.5)]


def _zonal_polys() -> dict:
    return {f"zone{i}": [(x + dx, y + dy) for x, y in PIP_POLY]
            for i, (dx, dy) in enumerate(ZONAL_OFFSETS)}


def _zonal_df(spark: SparkSession) -> DataFrame:
    import numpy as np

    rows = []
    for pid, verts in sorted(_zonal_polys().items()):
        ring = [[float(x), float(y)] for x, y in verts]
        arr = np.asarray(ring)
        rows.append((pid, "zone", [ring],
                     float(arr[:, 0].min()), float(arr[:, 1].min()),
                     float(arr[:, 0].max()), float(arr[:, 1].max())))
    return spark.createDataFrame(
        rows,
        "polygon_id string, name string, rings array<array<array<double>>>, "
        "min_lon double, min_lat double, max_lon double, max_lat double")


TREND_ZOOM = 4


def q_tile_trend(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-tile activity trend ("which regions are growing"): the OLS
    slope of monthly order counts per z4 tile, over the months the
    tile was ACTIVE (zero-months absent — observed-months semantics,
    mirrored in the oracle).  slope = (n*Sxy - Sx*Sy) /
    (n*Sxx - Sx*Sx) — numerator/denominator EXACT int64 over integer
    month indexes (m = year*12 + month), one division; single-month
    tiles have den = 0 and report slope 0.0 on both engines.

    Scale shape: facts shuffle once on the join key and once into
    (tile, month) cells; the per-tile fold runs on the grid-bounded
    cell table."""
    pts = _customer_points(spark, sf_dir)
    tiled = T.assign_tiles(pts, [TREND_ZOOM]).select(
        "c_custkey", "tile_x", "tile_y")
    orders = read_sf(spark, sf_dir, "orders").select(
        "o_custkey",
        (F.year("o_orderdate") * 12 + F.month("o_orderdate"))
        .cast("long").alias("m"))
    j = orders.join(tiled, F.col("o_custkey") == F.col("c_custkey"))
    cells = (j.groupBy("tile_x", "tile_y", "m")
              .agg(F.count(F.lit(1)).alias("y")))
    per_tile = cells.groupBy("tile_x", "tile_y").agg(
        F.count(F.lit(1)).alias("n_months"),
        F.sum("m").alias("sx"),
        F.sum("y").alias("sy"),
        F.sum(F.col("m") * F.col("m")).alias("sxx"),
        F.sum(F.col("m") * F.col("y")).alias("sxy"))
    num = (F.col("n_months") * F.col("sxy") - F.col("sx") * F.col("sy"))
    den = (F.col("n_months") * F.col("sxx") - F.col("sx") * F.col("sx"))
    return (per_tile.select(
        F.col("tile_x").cast("long").alias("tile_x"),
        F.col("tile_y").cast("long").alias("tile_y"),
        F.col("n_months").cast("long").alias("n_months"),
        F.col("sy").cast("long").alias("n_orders"),
        num.cast("long").alias("slope_num"),
        den.cast("long").alias("slope_den"),
        F.when(den == 0, F.lit(0.0).cast("double"))
         .otherwise(num.cast("double") / den.cast("double"))
         .alias("slope"))
        .orderBy("tile_x", "tile_y"))


def sql_tile_trend() -> str:
    tx, ty = _sql_tile(str(TREND_ZOOM))
    return f"""
    WITH pts AS (
      SELECT c_custkey, {CUST_LON} AS lon, {CUST_LAT} AS lat FROM customer
    ), proj AS (
      SELECT c_custkey, {_SQL_X} AS x3857, {_SQL_Y} AS y3857 FROM pts
    ), tiled AS (
      SELECT c_custkey, {tx} AS tile_x, {ty} AS tile_y FROM proj
    ), cells AS (
      SELECT t.tile_x, t.tile_y,
             CAST(EXTRACT(year FROM o.o_orderdate) * 12
                  + EXTRACT(month FROM o.o_orderdate) AS BIGINT) AS m,
             COUNT(*) AS y
      FROM orders o JOIN tiled t ON o.o_custkey = t.c_custkey
      GROUP BY 1, 2, 3
    ), per_tile AS (
      SELECT tile_x, tile_y,
             CAST(COUNT(*) AS BIGINT) AS n_months,
             CAST(SUM(m) AS BIGINT) AS sx,
             CAST(SUM(y) AS BIGINT) AS sy,
             CAST(SUM(m * m) AS BIGINT) AS sxx,
             CAST(SUM(m * y) AS BIGINT) AS sxy
      FROM cells GROUP BY 1, 2
    )
    SELECT tile_x, tile_y, n_months, sy AS n_orders,
           CAST(n_months * sxy - sx * sy AS BIGINT) AS slope_num,
           CAST(n_months * sxx - sx * sx AS BIGINT) AS slope_den,
           CASE WHEN n_months * sxx - sx * sx = 0 THEN CAST(0 AS DOUBLE)
                ELSE CAST(CAST(n_months * sxy - sx * sy AS BIGINT)
                          AS DOUBLE)
                   / CAST(CAST(n_months * sxx - sx * sx AS BIGINT)
                          AS DOUBLE)
           END AS slope
    FROM per_tile
    ORDER BY tile_x, tile_y
    """


def q_mann_kendall(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-tile Mann-Kendall trend test over monthly order counts —
    the nonparametric robust-trend statistic behind "emerging hotspot
    analysis" (Hamed/ArcGIS practice; complements `tile_trend`'s OLS
    slope with a rank-based S that ignores outlier months).

    S = sum over month pairs i<j of sign(y_j - y_i) — EXACT int64;
    Var(S) = [n(n-1)(2n+5) - sum_t t(t-1)(2t+5)] / 18 carried as the
    exact integer bracket over var_den=18; the z-score (continuity-
    corrected) is division + IEEE sqrt + division of exact ints —
    correctly rounded at every step, hash-exact on both engines.

    Scale shape: identical to tile_trend until `cells` (facts shuffle
    once onto the join key, once into (tile, month)); the month-pair
    self-join and tie groups run on the grid-bounded cell table
    (<= #months rows per tile)."""
    pts = _customer_points(spark, sf_dir)
    tiled = T.assign_tiles(pts, [TREND_ZOOM]).select(
        "c_custkey", "tile_x", "tile_y")
    orders = read_sf(spark, sf_dir, "orders").select(
        "o_custkey",
        (F.year("o_orderdate") * 12 + F.month("o_orderdate"))
        .cast("long").alias("m"))
    j = orders.join(tiled, F.col("o_custkey") == F.col("c_custkey"))
    cells = (j.groupBy("tile_x", "tile_y", "m")
              .agg(F.count(F.lit(1)).alias("y")))
    a, b = cells.alias("a"), cells.alias("b")
    sg = (F.when(F.col("b.y") > F.col("a.y"), F.lit(1))
          .when(F.col("b.y") < F.col("a.y"), F.lit(-1))
          .otherwise(F.lit(0)))
    s_tbl = (a.join(b, (F.col("a.tile_x") == F.col("b.tile_x"))
                    & (F.col("a.tile_y") == F.col("b.tile_y"))
                    & (F.col("a.m") < F.col("b.m")))
             .groupBy(F.col("a.tile_x").alias("tile_x"),
                      F.col("a.tile_y").alias("tile_y"))
             .agg(F.sum(sg).alias("s_stat")))
    ties = (cells.groupBy("tile_x", "tile_y", "y")
            .agg(F.count(F.lit(1)).alias("t"))
            .groupBy("tile_x", "tile_y")
            .agg(F.sum(F.col("t") * (F.col("t") - 1)
                       * (F.lit(2) * F.col("t") + 5)).alias("tie_term")))
    nm = (cells.groupBy("tile_x", "tile_y")
          .agg(F.count(F.lit(1)).alias("n_months")))
    per = (nm.join(s_tbl, ["tile_x", "tile_y"], "left")
           .join(ties, ["tile_x", "tile_y"])
           .select("tile_x", "tile_y", "n_months",
                   F.coalesce("s_stat", F.lit(0)).alias("s_stat"),
                   (F.col("n_months") * (F.col("n_months") - 1)
                    * (F.lit(2) * F.col("n_months") + 5)
                    - F.col("tie_term")).alias("var_num")))
    sd = F.sqrt(F.col("var_num").cast("double")
                / F.lit(18).cast("double"))
    z = (F.when(F.col("var_num") <= 0, F.lit(0.0).cast("double"))
         .when(F.col("s_stat") > 0,
               (F.col("s_stat") - 1).cast("double") / sd)
         .when(F.col("s_stat") < 0,
               (F.col("s_stat") + 1).cast("double") / sd)
         .otherwise(F.lit(0.0).cast("double")))
    return (per.select(
        F.col("tile_x").cast("long").alias("tile_x"),
        F.col("tile_y").cast("long").alias("tile_y"),
        F.col("n_months").cast("long").alias("n_months"),
        F.col("s_stat").cast("long").alias("s_stat"),
        F.col("var_num").cast("long").alias("var_num"),
        F.lit(18).cast("long").alias("var_den"),
        z.alias("z_mk"))
        .orderBy("tile_x", "tile_y"))


def sql_mann_kendall() -> str:
    tx, ty = _sql_tile(str(TREND_ZOOM))
    return f"""
    WITH pts AS (
      SELECT c_custkey, {CUST_LON} AS lon, {CUST_LAT} AS lat FROM customer
    ), proj AS (
      SELECT c_custkey, {_SQL_X} AS x3857, {_SQL_Y} AS y3857 FROM pts
    ), tiled AS (
      SELECT c_custkey, {tx} AS tile_x, {ty} AS tile_y FROM proj
    ), cells AS (
      SELECT t.tile_x, t.tile_y,
             CAST(EXTRACT(year FROM o.o_orderdate) * 12
                  + EXTRACT(month FROM o.o_orderdate) AS BIGINT) AS m,
             COUNT(*) AS y
      FROM orders o JOIN tiled t ON o.o_custkey = t.c_custkey
      GROUP BY 1, 2, 3
    ), pr AS (
      SELECT a.tile_x, a.tile_y,
             CASE WHEN b.y > a.y THEN 1
                  WHEN b.y < a.y THEN -1 ELSE 0 END AS sg
      FROM cells a JOIN cells b
        ON a.tile_x = b.tile_x AND a.tile_y = b.tile_y AND a.m < b.m
    ), s_tbl AS (
      SELECT tile_x, tile_y, SUM(sg) AS s_stat FROM pr GROUP BY 1, 2
    ), tg AS (
      SELECT tile_x, tile_y, y, COUNT(*) AS t FROM cells GROUP BY 1, 2, 3
    ), ties AS (
      SELECT tile_x, tile_y, SUM(t * (t - 1) * (2 * t + 5)) AS tie_term
      FROM tg GROUP BY 1, 2
    ), nm AS (
      SELECT tile_x, tile_y, COUNT(*) AS n FROM cells GROUP BY 1, 2
    ), per AS (
      SELECT nm.tile_x, nm.tile_y, nm.n,
             COALESCE(s_tbl.s_stat, 0) AS s_stat,
             nm.n * (nm.n - 1) * (2 * nm.n + 5) - ties.tie_term AS var_num
      FROM nm LEFT JOIN s_tbl USING (tile_x, tile_y)
      JOIN ties USING (tile_x, tile_y)
    )
    SELECT CAST(tile_x AS BIGINT) AS tile_x,
           CAST(tile_y AS BIGINT) AS tile_y,
           CAST(n AS BIGINT) AS n_months,
           CAST(s_stat AS BIGINT) AS s_stat,
           CAST(var_num AS BIGINT) AS var_num,
           CAST(18 AS BIGINT) AS var_den,
           CASE WHEN var_num <= 0 THEN CAST(0 AS DOUBLE)
                WHEN s_stat > 0 THEN
                  CAST(CAST(s_stat - 1 AS BIGINT) AS DOUBLE)
                  / sqrt(CAST(CAST(var_num AS BIGINT) AS DOUBLE)
                         / CAST(18 AS DOUBLE))
                WHEN s_stat < 0 THEN
                  CAST(CAST(s_stat + 1 AS BIGINT) AS DOUBLE)
                  / sqrt(CAST(CAST(var_num AS BIGINT) AS DOUBLE)
                         / CAST(18 AS DOUBLE))
                ELSE CAST(0 AS DOUBLE)
           END AS z_mk
    FROM per
    ORDER BY tile_x, tile_y
    """


def q_theil_sen(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-tile Sen's slope (Theil-Sen estimator) over monthly order
    counts — the robust slope that the Mann-Kendall S decides the
    SIGN of (the Mann-Kendall + Sen pair is the published
    emerging-hotspot trend readout; `tile_trend`'s OLS slope is the
    outlier-sensitive baseline it replaces).  The estimator is the
    MEDIAN of all pairwise slopes (y_j - y_i)/(m_j - m_i) over month
    pairs i<j; we take the lower median (rank floor((n_pairs+1)/2)).

    Exactness: dy and dx are exact int64; the double `sen_slope` is
    ONE correctly-rounded IEEE division of those ints — identical on
    both engines.  Ordering by that double is ORDER-FAITHFUL to the
    rational order: distinct fractions with denominators <= the month
    span (< 2^7) differ by >= 1/dx_a*dx_b >> the 2^-53 relative
    rounding of either key, and EQUAL fractions round to EQUAL
    doubles, where the (dy, dx, m_i) tie-break takes over — so the
    selected median pair is engine-independent.

    Scale shape: identical to `mann_kendall` until `cells` (facts
    shuffle once onto the join key, once into (tile, month) cells);
    the pair self-join and the median window run on the grid-bounded
    cell table (<= ~months^2 rows per tile, months <= the calendar)."""
    pts = _customer_points(spark, sf_dir)
    tiled = T.assign_tiles(pts, [TREND_ZOOM]).select(
        "c_custkey", "tile_x", "tile_y")
    orders = read_sf(spark, sf_dir, "orders").select(
        "o_custkey",
        (F.year("o_orderdate") * 12 + F.month("o_orderdate"))
        .cast("long").alias("m"))
    j = orders.join(tiled, F.col("o_custkey") == F.col("c_custkey"))
    cells = (j.groupBy("tile_x", "tile_y", "m")
              .agg(F.count(F.lit(1)).alias("y")))
    a, b = cells.alias("a"), cells.alias("b")
    pairs = (a.join(b, (F.col("a.tile_x") == F.col("b.tile_x"))
                    & (F.col("a.tile_y") == F.col("b.tile_y"))
                    & (F.col("a.m") < F.col("b.m")))
             .select(F.col("a.tile_x").alias("tile_x"),
                     F.col("a.tile_y").alias("tile_y"),
                     (F.col("b.y") - F.col("a.y")).cast("long").alias("dy"),
                     (F.col("b.m") - F.col("a.m")).cast("long").alias("dx"),
                     F.col("a.m").alias("mi")))
    sl = F.col("dy").cast("double") / F.col("dx").cast("double")
    w = Window.partitionBy("tile_x", "tile_y").orderBy(
        sl.asc(), F.col("dy").asc(), F.col("dx").asc(), F.col("mi").asc())
    wc = Window.partitionBy("tile_x", "tile_y")
    ranked = (pairs.withColumn("rn", F.row_number().over(w))
                   .withColumn("n_pairs", F.count(F.lit(1)).over(wc)))
    # explicit floor: Spark's double->long cast truncates but DuckDB's
    # CAST rounds half-even, so `(n+1)/2` must floor on BOTH engines
    med = ranked.filter(
        F.col("rn") == F.floor((F.col("n_pairs") + 1) / 2).cast("long"))
    return (med.select(
        F.col("tile_x").cast("long").alias("tile_x"),
        F.col("tile_y").cast("long").alias("tile_y"),
        F.col("n_pairs").cast("long").alias("n_pairs"),
        F.col("dy").alias("slope_num"),
        F.col("dx").alias("slope_den"),
        (F.col("dy").cast("double") / F.col("dx").cast("double"))
        .alias("sen_slope"))
        .orderBy("tile_x", "tile_y"))


def sql_theil_sen() -> str:
    tx, ty = _sql_tile(str(TREND_ZOOM))
    return f"""
    WITH pts AS (
      SELECT c_custkey, {CUST_LON} AS lon, {CUST_LAT} AS lat FROM customer
    ), proj AS (
      SELECT c_custkey, {_SQL_X} AS x3857, {_SQL_Y} AS y3857 FROM pts
    ), tiled AS (
      SELECT c_custkey, {tx} AS tile_x, {ty} AS tile_y FROM proj
    ), cells AS (
      SELECT t.tile_x, t.tile_y,
             CAST(EXTRACT(year FROM o.o_orderdate) * 12
                  + EXTRACT(month FROM o.o_orderdate) AS BIGINT) AS m,
             COUNT(*) AS y
      FROM orders o JOIN tiled t ON o.o_custkey = t.c_custkey
      GROUP BY 1, 2, 3
    ), pairs AS (
      SELECT a.tile_x, a.tile_y,
             CAST(b.y - a.y AS BIGINT) AS dy,
             CAST(b.m - a.m AS BIGINT) AS dx,
             a.m AS mi
      FROM cells a JOIN cells b
        ON a.tile_x = b.tile_x AND a.tile_y = b.tile_y AND a.m < b.m
    ), ranked AS (
      SELECT tile_x, tile_y, dy, dx,
             row_number() OVER (
               PARTITION BY tile_x, tile_y
               ORDER BY CAST(dy AS DOUBLE) / CAST(dx AS DOUBLE) ASC,
                        dy ASC, dx ASC, mi ASC) AS rn,
             COUNT(*) OVER (PARTITION BY tile_x, tile_y) AS n_pairs
      FROM pairs
    )
    SELECT CAST(tile_x AS BIGINT) AS tile_x,
           CAST(tile_y AS BIGINT) AS tile_y,
           CAST(n_pairs AS BIGINT) AS n_pairs,
           dy AS slope_num,
           dx AS slope_den,
           CAST(dy AS DOUBLE) / CAST(dx AS DOUBLE) AS sen_slope
    FROM ranked
    WHERE rn = (n_pairs + 1) // 2
    ORDER BY tile_x, tile_y
    """


K_ANON = 20      # minimum cell population before a location is shareable
ANON_Z = 14      # finest zoom considered (the engine's z14 ceiling)


def q_k_anon_tiles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """k-anonymity spatial cloaking: generalize each user's z14 home
    cell UP the tile pyramid to the finest ancestor whose population
    is >= K_ANON users — the standard location-privacy gate before
    geotagged records leave a pipeline (Gruteser-Grunwald spatial
    cloaking on the quadtree).  Deterministic and integer-exact:
    ancestor cells are floor-divisions by 2^(14-z), populations are
    exact counts, and the chosen level is the max z with count >=
    K_ANON (z0 holds the whole corpus, so every user resolves
    whenever the corpus itself has >= K_ANON users).

    Scale shape: the pyramid walk never touches user rows — users
    reduce ONCE into z14 cells (bounded by min(users, 4^14)); the
    15-level ancestor explode, the (z, ax, ay) count agg, and the
    best-level argmax all run on that cell table; users then join
    the per-z14-cell verdict back with one hash join on the cell
    key.  At 10^12 users the heavy stages are corpus-cardinality-
    bounded, not row-bounded."""
    pts = _customer_points(spark, sf_dir)
    tiled = T.assign_tiles(pts, [ANON_Z]).select(
        "c_custkey", "tile_x", "tile_y")
    cells = (tiled.groupBy("tile_x", "tile_y")
                  .agg(F.count(F.lit(1)).alias("n14")))
    anc = (cells.select(
        "tile_x", "tile_y", "n14",
        F.explode(F.sequence(F.lit(0), F.lit(ANON_Z))).alias("z"))
        .select("tile_x", "tile_y", "n14", "z",
                F.expr(f"tile_x div shiftleft(1, {ANON_Z} - z)").alias("ax"),
                F.expr(f"tile_y div shiftleft(1, {ANON_Z} - z)").alias("ay")))
    counts = anc.groupBy("z", "ax", "ay").agg(F.sum("n14").alias("cnt"))
    best = (anc.join(counts, ["z", "ax", "ay"])
               .filter(F.col("cnt") >= K_ANON)
               .groupBy("tile_x", "tile_y")
               .agg(F.max(F.struct("z", "ax", "ay", "cnt")).alias("_m"))
               .select("tile_x", "tile_y",
                       F.col("_m.z").cast("int").alias("anon_zoom"),
                       F.col("_m.ax").cast("long").alias("cell_x"),
                       F.col("_m.ay").cast("long").alias("cell_y"),
                       F.col("_m.cnt").cast("long").alias("cell_n")))
    return (tiled.join(best, ["tile_x", "tile_y"])
                 .select(F.col("c_custkey").cast("long").alias("c_custkey"),
                         "anon_zoom", "cell_x", "cell_y", "cell_n")
                 .orderBy("c_custkey"))


def sql_k_anon_tiles() -> str:
    tx, ty = _sql_tile(str(ANON_Z))
    return f"""
    WITH pts AS (
      SELECT c_custkey, {CUST_LON} AS lon, {CUST_LAT} AS lat FROM customer
    ), proj AS (
      SELECT c_custkey, {_SQL_X} AS x3857, {_SQL_Y} AS y3857 FROM pts
    ), tiled AS (
      SELECT c_custkey, {tx} AS tile_x, {ty} AS tile_y FROM proj
    ), cells AS (
      SELECT tile_x, tile_y, COUNT(*) AS n14 FROM tiled GROUP BY 1, 2
    ), zs AS (
      SELECT unnest(range(0, {ANON_Z + 1})) AS z
    ), anc AS (
      SELECT c.tile_x, c.tile_y, c.n14, zs.z,
             c.tile_x // (1 << ({ANON_Z} - zs.z)) AS ax,
             c.tile_y // (1 << ({ANON_Z} - zs.z)) AS ay
      FROM cells c CROSS JOIN zs
    ), counts AS (
      SELECT z, ax, ay, SUM(n14) AS cnt FROM anc GROUP BY 1, 2, 3
    ), best AS (
      SELECT a.tile_x, a.tile_y, a.z, a.ax, a.ay, k.cnt,
             row_number() OVER (PARTITION BY a.tile_x, a.tile_y
                                ORDER BY a.z DESC) AS rn
      FROM anc a JOIN counts k ON k.z = a.z AND k.ax = a.ax AND k.ay = a.ay
      WHERE k.cnt >= {K_ANON}
    )
    SELECT CAST(t.c_custkey AS BIGINT) AS c_custkey,
           CAST(b.z AS INT) AS anon_zoom,
           CAST(b.ax AS BIGINT) AS cell_x,
           CAST(b.ay AS BIGINT) AS cell_y,
           CAST(b.cnt AS BIGINT) AS cell_n
    FROM tiled t
    JOIN best b ON b.tile_x = t.tile_x AND b.tile_y = t.tile_y AND b.rn = 1
    ORDER BY c_custkey
    """


L_DIV = 3   # minimum distinct sensitive values per published cell


def q_l_diversity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """l-diversity audit over the k-anonymized cells (Machanavajjhala
    et al.): k-anonymity alone leaks under the homogeneity attack —
    a cell where every user shares one sensitive value identifies it
    for all of them even at k users.  Per published cell (the
    `k_anon_tiles` verdict), count users, DISTINCT sensitive values
    (market segment), and the majority segment with its exact count
    (the attacker's best guess and its support); `ldiv_ok` flags
    cells clearing l >= L_DIV distinct values.

    The audit groups by PUBLISHED equivalence class — users who
    publish at that exact (zoom, cell) — which can be SMALLER than
    the cell's raw population, because co-located users can publish
    at finer levels (their own class).  A k-anonymous release can
    therefore still emit tiny residual classes, and flagging those
    is the point of the audit (test-pinned by the engineered
    hot-cluster case).

    Scale shape: composes the cloaking verdict (cell-table-bounded,
    see q_k_anon_tiles) with one segment join on the user key and one
    cell-keyed agg pair — published cells are fewer than z14 cells,
    so the audit is strictly cheaper than the cloaking itself."""
    anon = q_k_anon_tiles(spark, sf_dir)
    seg = read_sf(spark, sf_dir, "customer").select(
        "c_custkey", F.col("c_mktsegment").alias("seg"))
    j = anon.join(seg, "c_custkey")
    per_seg = (j.groupBy("anon_zoom", "cell_x", "cell_y", "seg")
                .agg(F.count(F.lit(1)).alias("n")))
    top = (per_seg.groupBy("anon_zoom", "cell_x", "cell_y")
           .agg(F.sum("n").alias("k_users"),
                F.count(F.lit(1)).alias("l_distinct"),
                F.min(F.struct((-F.col("n")).alias("_n"),
                               F.col("seg").alias("_s"))).alias("_m")))
    return (top.select(
        F.col("anon_zoom").cast("int"),
        F.col("cell_x").cast("long"), F.col("cell_y").cast("long"),
        F.col("k_users").cast("long"),
        F.col("l_distinct").cast("long"),
        F.col("_m._s").alias("top_seg"),
        (-F.col("_m._n")).cast("long").alias("top_seg_n"),
        (F.col("l_distinct") >= L_DIV).cast("int").alias("ldiv_ok"))
        .orderBy("anon_zoom", "cell_x", "cell_y"))


def sql_l_diversity() -> str:
    return f"""
    WITH anon AS ({sql_k_anon_tiles()}),
    per_seg AS (
      SELECT a.anon_zoom, a.cell_x, a.cell_y, c.c_mktsegment AS seg,
             COUNT(*) AS n
      FROM anon a JOIN customer c ON c.c_custkey = a.c_custkey
      GROUP BY 1, 2, 3, 4
    ), canon AS (
      SELECT anon_zoom, cell_x, cell_y, seg, n,
             row_number() OVER (PARTITION BY anon_zoom, cell_x, cell_y
                                ORDER BY n DESC, seg ASC) AS rn
      FROM per_seg
    ), stats AS (
      SELECT anon_zoom, cell_x, cell_y,
             SUM(n) AS k_users, COUNT(*) AS l_distinct
      FROM per_seg GROUP BY 1, 2, 3
    )
    SELECT CAST(s.anon_zoom AS INT) AS anon_zoom,
           CAST(s.cell_x AS BIGINT) AS cell_x,
           CAST(s.cell_y AS BIGINT) AS cell_y,
           CAST(s.k_users AS BIGINT) AS k_users,
           CAST(s.l_distinct AS BIGINT) AS l_distinct,
           t.seg AS top_seg,
           CAST(t.n AS BIGINT) AS top_seg_n,
           CAST(CASE WHEN s.l_distinct >= {L_DIV} THEN 1 ELSE 0 END AS INT)
             AS ldiv_ok
    FROM stats s
    JOIN canon t ON t.anon_zoom = s.anon_zoom AND t.cell_x = s.cell_x
                AND t.cell_y = s.cell_y AND t.rn = 1
    ORDER BY anon_zoom, cell_x, cell_y
    """


EH_GRID = 8  # emerging-hotspot lattice: 8x8 cells over millidegree space


def q_emerging_hotspots(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Emerging hot spot analysis (`emerging.emerging_hotspots`): the
    space-time composite of per-month Getis-Ord Gi* and per-cell
    Mann-Kendall over monthly orders at customer lattice points —
    new / intensifying / persistent / diminishing / sporadic /
    formerly / none per cell, every decision int64-exact (rational
    1.96 tests; per-mille share series for the trend)."""
    from .operators import emerging as EH

    cust = read_sf(spark, sf_dir, "customer").select(
        "c_custkey",
        F.expr("c_custkey * 7919 % 360000").alias("x"),
        F.expr("(c_custkey * 104729 + 13) % 170000").alias("y"))
    orders = read_sf(spark, sf_dir, "orders").select(
        "o_custkey",
        (F.year("o_orderdate") * 12 + F.month("o_orderdate"))
        .cast("long").alias("m"))
    pts_m = orders.join(cust, F.col("o_custkey") == F.col("c_custkey"))
    return (EH.emerging_hotspots(pts_m, EH_GRID)
            .orderBy("cell_x", "cell_y"))


def sql_emerging_hotspots() -> str:
    g = EH_GRID
    n = g * g
    cw = 360000 // g
    ch = 170000 // g
    ni = f"({n} * r.l_i - r.w_i * gl.s)"
    gi2n = f"({ni} * {ni} * {n - 1})"
    gi2d = f"(({n} * gl.sq - gl.s * gl.s) * ({n} * r.w_i - r.w_i * r.w_i))"
    return f"""
    WITH pm AS (
      SELECT c.c_custkey * 7919 % 360000 AS x,
             (c.c_custkey * 104729 + 13) % 170000 AS y,
             CAST(EXTRACT(year FROM o.o_orderdate) * 12
                  + EXTRACT(month FROM o.o_orderdate) AS BIGINT) AS m
      FROM orders o JOIN customer c ON o.o_custkey = c.c_custkey
    ),
    counts AS (
      SELECT m, x // {cw} AS cell_x, y // {ch} AS cell_y,
             COUNT(*) AS n_pts
      FROM pm GROUP BY 1, 2, 3
    ),
    months AS (SELECT DISTINCT m FROM counts),
    skel AS (
      SELECT months.m, i % {g} AS cell_x, i // {g} AS cell_y
      FROM months CROSS JOIN (SELECT UNNEST(range(0, {n})) AS i)
    ),
    cells AS (
      SELECT s.m, s.cell_x, s.cell_y, COALESCE(c.n_pts, 0) AS n_pts
      FROM skel s LEFT JOIN counts c USING (m, cell_x, cell_y)
    ),
    gstats AS (
      SELECT m, SUM(n_pts) AS s, SUM(n_pts * n_pts) AS sq
      FROM cells GROUP BY m
    ),
    recv AS (
      SELECT c.m, (c.cell_x + o.dx + {g}) % {g} AS cell_x,
             c.cell_y + o.dy AS cell_y,
             COUNT(*) AS w_i, SUM(c.n_pts) AS l_i
      FROM cells c CROSS JOIN {_SQL_QUEEN9}
      WHERE c.cell_y + o.dy BETWEEN 0 AND {g - 1}
      GROUP BY 1, 2, 3
    ),
    sl AS (
      SELECT r.m, r.cell_x, r.cell_y,
             CASE WHEN {ni} > 0
                       AND 10000 * {gi2n} > 38416 * {gi2d}
                  THEN 1 ELSE 0 END AS hot,
             r.l_i * 1000000 // gl.s AS share6
      FROM recv r JOIN gstats gl USING (m)
    ),
    stbl AS (
      SELECT a.cell_x, a.cell_y,
             SUM(CASE WHEN b.share6 > a.share6 THEN 1
                      WHEN b.share6 < a.share6 THEN -1 ELSE 0 END)
               AS s_stat
      FROM sl a JOIN sl b
        ON a.cell_x = b.cell_x AND a.cell_y = b.cell_y AND a.m < b.m
      GROUP BY 1, 2
    ),
    ties AS (
      SELECT cell_x, cell_y, SUM(t * (t - 1) * (2 * t + 5)) AS tie_term
      FROM (SELECT cell_x, cell_y, share6, COUNT(*) AS t
            FROM sl GROUP BY 1, 2, 3)
      GROUP BY 1, 2
    ),
    per AS (
      SELECT cell_x, cell_y, COUNT(*) AS n_slices, SUM(hot) AS n_hot,
             arg_max(hot, m) AS hot_now
      FROM sl GROUP BY 1, 2
    ),
    mk AS (
      SELECT per.cell_x, per.cell_y, per.n_slices, per.n_hot,
             per.hot_now, COALESCE(stbl.s_stat, 0) AS s_stat,
             per.n_slices * (per.n_slices - 1) * (2 * per.n_slices + 5)
               - ties.tie_term AS var_num
      FROM per LEFT JOIN stbl USING (cell_x, cell_y)
      JOIN ties USING (cell_x, cell_y)
    ),
    tr AS (
      SELECT mk.*,
             CASE WHEN var_num > 0 AND abs(s_stat) > 0
                       AND 180000 * (abs(s_stat) - 1) * (abs(s_stat) - 1)
                           > 38416 * var_num
                  THEN CASE WHEN s_stat > 0 THEN 1 ELSE -1 END
                  ELSE 0 END AS trend
      FROM mk
    )
    SELECT CAST(cell_x AS BIGINT) AS cell_x,
           CAST(cell_y AS BIGINT) AS cell_y,
           CAST(n_slices AS BIGINT) AS n_slices,
           CAST(n_hot AS BIGINT) AS n_hot,
           CAST(hot_now AS INT) AS hot_now,
           CAST(s_stat AS BIGINT) AS s_stat,
           CAST(var_num AS BIGINT) AS var_num,
           CAST(trend AS INT) AS trend,
           CASE WHEN hot_now = 1 AND n_hot = 1 THEN 'new'
                WHEN hot_now = 1 AND trend = 1 THEN 'intensifying'
                WHEN hot_now = 1 AND trend = -1 THEN 'diminishing'
                WHEN hot_now = 1 AND n_hot * 10 >= n_slices * 9
                  THEN 'persistent'
                WHEN hot_now = 1 THEN 'sporadic'
                WHEN n_hot > 0 THEN 'formerly'
                ELSE 'none' END AS category
    FROM tr
    ORDER BY cell_x, cell_y
    """


DIV_ZOOM = 5


def q_tile_diversity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-tile categorical diversity over customer market segments:
    Gini-Simpson index 1 - sum((n_i/n)^2) computed as the exact
    integer fraction (n^2 - sum(n_i^2)) / n^2 (ONE division), plus
    the majority class with a deterministic (count desc, segment asc)
    tie-break — the corpus-balance-per-region audit (is one source
    type dominating a cell?).

    Scale shape: one partial-agg'd Exchange on (tile, segment), then a
    tile-bounded fold; no window, no second raw pass."""
    pts = _customer_points(spark, sf_dir)
    seg = read_sf(spark, sf_dir, "customer").select(
        "c_custkey", "c_mktsegment")
    a = (T.assign_tiles(pts, [DIV_ZOOM])
         .select("c_custkey", "tile_x", "tile_y")
         .join(seg, "c_custkey"))
    cnt = (a.groupBy("tile_x", "tile_y", "c_mktsegment")
            .agg(F.count(F.lit(1)).alias("cnt")))
    per_tile = cnt.groupBy("tile_x", "tile_y").agg(
        F.sum("cnt").alias("n"),
        F.sum(F.col("cnt") * F.col("cnt")).alias("sum_sq"),
        F.count(F.lit(1)).alias("n_segments"),
        F.min(F.struct((-F.col("cnt")).alias("neg"),
                       F.col("c_mktsegment").alias("seg"))).alias("top"))
    return (per_tile.select(
        F.col("tile_x").cast("long").alias("tile_x"),
        F.col("tile_y").cast("long").alias("tile_y"),
        F.col("n").cast("long").alias("n"),
        F.col("n_segments").cast("long").alias("n_segments"),
        (F.col("n") * F.col("n") - F.col("sum_sq")).alias("gini_num"),
        (F.col("n") * F.col("n")).alias("gini_den"),
        ((F.col("n") * F.col("n") - F.col("sum_sq")).cast("double")
         / (F.col("n") * F.col("n")).cast("double")).alias("gini"),
        F.col("top.seg").alias("top_segment"),
        (-F.col("top.neg")).cast("long").alias("top_count"))
        .orderBy("tile_x", "tile_y"))


def sql_tile_diversity() -> str:
    tx, ty = _sql_tile(str(DIV_ZOOM))
    return f"""
    WITH pts AS (
      SELECT c_custkey, c_mktsegment, {CUST_LON} AS lon, {CUST_LAT} AS lat
      FROM customer
    ), proj AS (
      SELECT c_custkey, c_mktsegment, {_SQL_X} AS x3857, {_SQL_Y} AS y3857
      FROM pts
    ), cnt AS (
      SELECT {tx} AS tile_x, {ty} AS tile_y, c_mktsegment,
             COUNT(*) AS cnt
      FROM proj GROUP BY 1, 2, 3
    ), per_tile AS (
      SELECT tile_x, tile_y,
             CAST(SUM(cnt) AS BIGINT) AS n,
             CAST(SUM(cnt * cnt) AS BIGINT) AS sum_sq,
             CAST(COUNT(*) AS BIGINT) AS n_segments
      FROM cnt GROUP BY 1, 2
    ), top AS (
      SELECT tile_x, tile_y, c_mktsegment AS top_segment,
             CAST(cnt AS BIGINT) AS top_count,
             ROW_NUMBER() OVER (PARTITION BY tile_x, tile_y
                                ORDER BY cnt DESC, c_mktsegment ASC) AS rn
      FROM cnt
    )
    SELECT p.tile_x, p.tile_y, p.n, p.n_segments,
           p.n * p.n - p.sum_sq AS gini_num,
           p.n * p.n AS gini_den,
           CAST(p.n * p.n - p.sum_sq AS DOUBLE)
             / CAST(p.n * p.n AS DOUBLE) AS gini,
           t.top_segment, t.top_count
    FROM per_tile p JOIN top t
      ON p.tile_x = t.tile_x AND p.tile_y = t.tile_y AND t.rn = 1
    ORDER BY p.tile_x, p.tile_y
    """


def q_zonal_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Zonal statistics — per-polygon aggregates over the PIP join
    (the polygon-side twin of the per-tile metrics): point count, key
    checksum, key min/max for each coverage zone.  Scale shape: the
    membership test is the broadcast bbox+CSR map-side join (no
    shuffle until the aggregate), then one partial-agg'd groupBy on
    polygon_id; a 1e6-polygon dim flips to the bucketed PIP variant
    with the same aggregate tail."""
    pts = _customer_points(spark, sf_dir)
    out = PIP.pip_join_broadcast(pts, _zonal_df(spark))
    return (out.groupBy("polygon_id")
               .agg(F.count(F.lit(1)).alias("n_points"),
                    F.sum("c_custkey").alias("key_sum"),
                    F.min("c_custkey").alias("min_key"),
                    F.max("c_custkey").alias("max_key"))
               .orderBy("polygon_id"))


def sql_zonal_stats() -> str:
    branches = " UNION ALL ".join(
        f"SELECT c_custkey, '{pid}' AS polygon_id FROM pts "
        f"WHERE ({_sql_pip_crossings(verts)}) % 2 = 1"
        for pid, verts in sorted(_zonal_polys().items()))
    return f"""
    WITH pts AS (
      SELECT c_custkey, {CUST_LON} AS lon, {CUST_LAT} AS lat FROM customer
    ), m AS ({branches})
    SELECT polygon_id,
           CAST(COUNT(*) AS BIGINT) AS n_points,
           CAST(SUM(c_custkey) AS BIGINT) AS key_sum,
           CAST(MIN(c_custkey) AS BIGINT) AS min_key,
           CAST(MAX(c_custkey) AS BIGINT) AS max_key
    FROM m GROUP BY polygon_id ORDER BY polygon_id
    """


def q_pip_polygon(spark: SparkSession, sf_dir: str) -> DataFrame:
    pts = _customer_points(spark, sf_dir)
    out = PIP.pip_join_broadcast(pts, _poly0_df(spark))
    return out.select("c_custkey", "polygon_id")


def sql_pip_polygon() -> str:
    return f"""
    WITH pts AS (
      SELECT c_custkey, {CUST_LON} AS lon, {CUST_LAT} AS lat FROM customer
    )
    SELECT c_custkey, 'poly0' AS polygon_id
    FROM pts
    WHERE ({_sql_pip_crossings()}) % 2 = 1
    """


# ---------------------------------------------------------------------------
# q: knn — 25 nation query points, k=5 nearest customers via k-ring
# ---------------------------------------------------------------------------

# interior hole ring (closed, fully inside PIP_POLY): even-odd parity
# must EXCLUDE points inside the hole
PIP_HOLE = [(0.0, 5.0), (12.0, 2.0), (14.0, 14.0), (2.0, 12.0), (0.0, 5.0)]


def _poly_hole_df(spark: SparkSession) -> DataFrame:
    import numpy as np

    outer = [[float(x), float(y)] for x, y in PIP_POLY]
    hole = [[float(x), float(y)] for x, y in PIP_HOLE]
    arr = np.asarray(outer)
    return spark.createDataFrame(
        [("holed0", "holed", [outer, hole],
          float(arr[:, 0].min()), float(arr[:, 1].min()),
          float(arr[:, 0].max()), float(arr[:, 1].max()))],
        "polygon_id string, name string, rings array<array<array<double>>>, "
        "min_lon double, min_lat double, max_lon double, max_lat double")


def q_pip_holes(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PIP join against a polygon WITH an interior hole — the multi-
    ring even-odd path of the CSR refine (holes flip parity), which no
    other oracle exercises: points inside the hole must NOT match.
    Same broadcast bbox-join + Arrow refine plan as pip_polygon."""
    pts = _customer_points(spark, sf_dir)
    out = PIP.pip_join_broadcast(pts, _poly_hole_df(spark))
    return out.select("c_custkey", "polygon_id")


def sql_pip_holes() -> str:
    return f"""
    WITH pts AS (
      SELECT c_custkey, {CUST_LON} AS lon, {CUST_LAT} AS lat FROM customer
    )
    SELECT c_custkey, 'holed0' AS polygon_id
    FROM pts
    WHERE (({_sql_pip_crossings()}) + ({_sql_pip_crossings(PIP_HOLE)})) % 2 = 1
    """


def q_pip_polygon_bucketed(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Same join as q_pip_polygon through the NON-broadcast path
    (cell-bucketed equi-join, both sides shuffle once) — the strategy a
    large polygon dim takes at scale; identical oracle."""
    pts = _customer_points(spark, sf_dir)
    out = PIP.pip_join_bucketed(pts, _poly0_df(spark), index_zoom=5)
    return out.select("c_custkey", "polygon_id")


def q_coverage_tile_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-tile coverage metrics at z9 (the north-star's "tile-count /
    row-count metrics" joined with the coverage-polygon PIP): for every
    occupied z9 tile, total rows, rows inside the coverage polygon, and
    the key checksum.  Scale shape: the tile id and the PIP membership
    are both MAP-SIDE (pure-codegen assignment; broadcast bbox join +
    Arrow CSR refine), then two partial-agg streams — all rows, covered
    rows — shuffle only tile-key aggregates and outer-join at the
    aggregate level (occupied z9 tiles are bounded at ~2.6e5 whatever
    the input size, so the join side is tiny by construction)."""
    pts = _customer_points(spark, sf_dir)
    a = T.assign_tiles(pts, [9])
    cov = PIP.pip_join_broadcast(a, _poly0_df(spark))
    tot = (a.groupBy("tile_x", "tile_y")
            .agg(F.count(F.lit(1)).alias("n_rows"),
                 F.sum("c_custkey").alias("key_sum")))
    ins = (cov.groupBy("tile_x", "tile_y")
              .agg(F.count(F.lit(1)).alias("n_covered")))
    out = tot.join(ins, ["tile_x", "tile_y"], "left")
    return out.select(
        F.col("tile_x").cast("long").alias("tile_x"),
        F.col("tile_y").cast("long").alias("tile_y"),
        F.col("n_rows").cast("long").alias("n_rows"),
        F.coalesce(F.col("n_covered"), F.lit(0)).cast("long").alias("n_covered"),
        F.col("key_sum").cast("long").alias("key_sum"))


def q_tile_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-tile top-3 customers by account balance at z3 (density
    culling / label placement: keep the k most prominent features of
    every tile).  One shuffle on the tile key; the ``row_number <= k``
    filter triggers Spark's WindowGroupLimit pushdown, so map tasks
    pre-prune to k rows per tile BEFORE the exchange — the shuffle
    carries O(k · occupied tiles), not the raw input."""
    df = read_sf(spark, sf_dir, "customer").select(
        "c_custkey", "c_acctbal",
        F.expr(CUST_LON).alias("lon"), F.expr(CUST_LAT).alias("lat"))
    out = T.tile_topk(df, zoom=3, k=3,
                      order_by=[F.col("c_acctbal").desc(), F.col("c_custkey").asc()])
    return out.select(
        F.col("tile_x").cast("long").alias("tile_x"),
        F.col("tile_y").cast("long").alias("tile_y"),
        F.col("c_custkey").cast("long").alias("c_custkey"),
        F.col("rank").cast("int").alias("rank"))


def sql_tile_topk() -> str:
    tx, ty = _sql_tile("3")
    return f"""
    WITH pts AS (
      SELECT c_custkey, c_acctbal, {CUST_LON} AS lon, {CUST_LAT} AS lat
      FROM customer
    ), proj AS (
      SELECT c_custkey, c_acctbal, {_SQL_X} AS x3857, {_SQL_Y} AS y3857 FROM pts
    ), a AS (
      SELECT c_custkey, c_acctbal, {tx} AS tile_x, {ty} AS tile_y FROM proj
    ), ranked AS (
      SELECT tile_x, tile_y, c_custkey,
             ROW_NUMBER() OVER (PARTITION BY tile_x, tile_y
                                ORDER BY c_acctbal DESC, c_custkey ASC) AS rank
      FROM a
    )
    SELECT CAST(tile_x AS BIGINT) AS tile_x, CAST(tile_y AS BIGINT) AS tile_y,
           CAST(c_custkey AS BIGINT) AS c_custkey, CAST(rank AS INT) AS rank
    FROM ranked WHERE rank <= 3
    """


def q_tile_focal(spark: SparkSession, sf_dir: str) -> DataFrame:
    """3x3 focal (neighborhood) sum over the z9 tile grid — the raster
    heatmap-smoothing primitive (``tiles.focal_sum``): raw rows reduce
    to per-tile aggregates in one shuffle, the 9-cell scatter runs on
    the aggregates, and a second tile-key aggregation merges.  x wraps
    at the antimeridian; y scatter rows off the poles drop."""
    pts = _customer_points(spark, sf_dir)
    out = T.focal_sum(pts, zoom=9, ring=1, sum_cols={"key_sum": "c_custkey"})
    return out.select(
        F.col("tile_x").cast("long").alias("tile_x"),
        F.col("tile_y").cast("long").alias("tile_y"),
        F.col("n_tiles").cast("long").alias("n_tiles"),
        F.col("cnt").cast("long").alias("focal_rows"),
        F.col("key_sum").cast("long").alias("focal_key_sum"))


def sql_tile_focal() -> str:
    tx, ty = _sql_tile("9")
    offs = ",".join(f"({dx},{dy})" for dx in (-1, 0, 1) for dy in (-1, 0, 1))
    return f"""
    WITH pts AS (
      SELECT c_custkey, {CUST_LON} AS lon, {CUST_LAT} AS lat FROM customer
    ), proj AS (
      SELECT c_custkey, {_SQL_X} AS x3857, {_SQL_Y} AS y3857 FROM pts
    ), agg AS (
      SELECT {tx} AS tile_x, {ty} AS tile_y,
             CAST(COUNT(*) AS BIGINT) AS cnt,
             CAST(SUM(c_custkey) AS BIGINT) AS key_sum
      FROM proj GROUP BY 1, 2
    ), scat AS (
      SELECT ((tile_x + o.dx) % 512 + 512) % 512 AS tile_x,
             tile_y + o.dy AS tile_y, cnt, key_sum
      FROM agg CROSS JOIN (VALUES {offs}) AS o(dx, dy)
      WHERE tile_y + o.dy BETWEEN 0 AND 511
    )
    SELECT tile_x, tile_y, CAST(COUNT(*) AS BIGINT) AS n_tiles,
           CAST(SUM(cnt) AS BIGINT) AS focal_rows,
           CAST(SUM(key_sum) AS BIGINT) AS focal_key_sum
    FROM scat GROUP BY 1, 2
    """


def sql_coverage_tile_stats() -> str:
    tx, ty = _sql_tile("9")
    return f"""
    WITH pts AS (
      SELECT c_custkey, {CUST_LON} AS lon, {CUST_LAT} AS lat FROM customer
    ), proj AS (
      SELECT c_custkey, lon, lat, {_SQL_X} AS x3857, {_SQL_Y} AS y3857 FROM pts
    )
    SELECT {tx} AS tile_x, {ty} AS tile_y,
           CAST(COUNT(*) AS BIGINT) AS n_rows,
           CAST(SUM(CASE WHEN ({_sql_pip_crossings()}) % 2 = 1
                         THEN 1 ELSE 0 END) AS BIGINT) AS n_covered,
           CAST(SUM(c_custkey) AS BIGINT) AS key_sum
    FROM proj GROUP BY 1, 2
    """


def q_knn(spark: SparkSession, sf_dir: str) -> DataFrame:
    queries = _nation_points(spark, sf_dir).withColumnRenamed("n_nationkey", "query_id")
    data = _customer_points(spark, sf_dir).withColumnRenamed("c_custkey", "data_id")
    out = KNN.knn_kring_adaptive(queries, data, k=5, index_zoom=3, start_ring=2,
                                 query_id="query_id", data_id="data_id")
    return out.select(F.col("query_id").cast("long").alias("query_id"),
                      F.col("neighbor_id").cast("long").alias("neighbor_id"),
                      F.col("rank").cast("int").alias("rank"))


ORD_LON = "(o_orderkey * 31357 % 360000) / 1000.0 - 180.0"
ORD_LAT = "((o_orderkey * 27449 + 7) % 170000) / 1000.0 - 85.0"


def q_knn_table(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Table-vs-table kNN: the QUERY side is the orders table (15k rows
    at sf0.01 — 10x the data side), run with ``broadcast_queries=False``
    so the candidate join is the seam's shuffle-join branch (the shape
    a 10^12-query batch lookup takes on a cluster, where neither side
    broadcasts).  Same adaptive ring expansion and the same brute-force
    SQL oracle as the broadcast variants."""
    queries = (read_sf(spark, sf_dir, "orders")
               .select(F.col("o_orderkey").alias("query_id"),
                       F.expr(ORD_LON).alias("lon"),
                       F.expr(ORD_LAT).alias("lat")))
    data = _customer_points(spark, sf_dir).withColumnRenamed("c_custkey", "data_id")
    # Scale-adaptive index zoom: target O(1) data points per cell
    # (count is a parquet-metadata read).  The fixed zoom 3 this used
    # before is an 8x8 world grid, so at sf0.1 every query's ring-2
    # block held ~40% of the data side and the candidate join emitted
    # ~880M rows (163 s); occupancy-derived zoom keeps candidates
    # O(k) per query at ANY scale.  Results are identical by the
    # adaptive-expansion exactness contract (rings double until the
    # k-th distance is certified inside the ring bound) — the zoom is
    # a blocking knob, not a semantic one; the brute-force oracle is
    # unchanged.
    import math
    n_data = read_sf(spark, sf_dir, "customer").count()
    index_zoom = max(3, min(10, int(math.log(max(n_data, 1) / 4.0, 4))))
    out = KNN.knn_kring_adaptive(queries, data, k=3, index_zoom=index_zoom,
                                 start_ring=2,
                                 query_id="query_id", data_id="data_id",
                                 broadcast_queries=False)
    return out.select(F.col("query_id").cast("long").alias("query_id"),
                      F.col("neighbor_id").cast("long").alias("neighbor_id"),
                      F.col("rank").cast("int").alias("rank"))


def q_radius_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Fixed-radius spatial join (the range-join sibling of kNN): all
    (order, customer) pairs within 200 km, through the shuffle-join
    branch (``broadcast_left=False`` — 15k-row left side, the shape a
    1e12 x 1e9 distance-band join takes on a cluster).  The per-row
    cap-bbox fan-out covers polar rows automatically; the oracle is
    the brute-force cross join with the identical haversine tree.
    Distances are excluded from the compared columns (engine libm may
    differ 1 ulp); the PAIR SET is the semantics and is exact — the
    200 km threshold sits >= 11 m from every pair distance at sf0.01,
    so the float comparison cannot flip membership."""
    left = (read_sf(spark, sf_dir, "orders")
            .select(F.col("o_orderkey").alias("left_id"),
                    F.expr(ORD_LON).alias("lon"),
                    F.expr(ORD_LAT).alias("lat")))
    right = _customer_points(spark, sf_dir).withColumnRenamed("c_custkey", "right_id")
    out = KNN.within_distance_join(left, right, radius_km=200.0,
                                   broadcast_left=False)
    return out.select(F.col("left_id").cast("long").alias("left_id"),
                      F.col("right_id").cast("long").alias("right_id"))


def sql_radius_join() -> str:
    hav = ("2.0 * 6371.0 * asin(sqrt("
           "pow(sin((radians(d.lat) - radians(q.lat)) / 2), 2) + "
           "cos(radians(q.lat)) * cos(radians(d.lat)) * "
           "pow(sin((radians(d.lon) - radians(q.lon)) / 2), 2)))")
    return f"""
    WITH q AS (
      SELECT o_orderkey AS left_id, {ORD_LON} AS lon, {ORD_LAT} AS lat FROM orders
    ), d AS (
      SELECT c_custkey AS right_id, {CUST_LON} AS lon, {CUST_LAT} AS lat FROM customer
    )
    SELECT CAST(q.left_id AS BIGINT) AS left_id,
           CAST(d.right_id AS BIGINT) AS right_id
    FROM q CROSS JOIN d WHERE {hav} <= 200.0
    """


def q_radius_anti_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Negative spatial filter: customers NOT within 800 km of ANY
    nation site (coverage-gap detection / diversity sampling).
    ``knn.beyond_distance_filter``: the cell-blocked candidate join
    finds covered ids, one anti-join removes them — the oracle is the
    literal NOT EXISTS cross join.  The 800 km threshold sits >= 550 m
    from every (customer, nation) distance at sf0.01, so the float
    comparison cannot flip membership."""
    left = _customer_points(spark, sf_dir).withColumnRenamed(
        "c_custkey", "left_id")
    right = _nation_points(spark, sf_dir).withColumnRenamed(
        "n_nationkey", "right_id")
    out = KNN.beyond_distance_filter(left, right, radius_km=800.0)
    return (out.select(F.col("left_id").cast("long").alias("c_custkey"))
            .orderBy("c_custkey"))


def sql_radius_anti_join() -> str:
    hav = ("2.0 * 6371.0 * asin(sqrt("
           "pow(sin((radians(d.lat) - radians(q.lat)) / 2), 2) + "
           "cos(radians(q.lat)) * cos(radians(d.lat)) * "
           "pow(sin((radians(d.lon) - radians(q.lon)) / 2), 2)))")
    return f"""
    WITH q AS (
      SELECT c_custkey, {CUST_LON} AS lon, {CUST_LAT} AS lat FROM customer
    ), d AS (
      SELECT n_nationkey, {NAT_LON} AS lon, {NAT_LAT} AS lat FROM nation
    )
    SELECT CAST(q.c_custkey AS BIGINT) AS c_custkey
    FROM q WHERE NOT EXISTS (
      SELECT 1 FROM d WHERE {hav} <= 800.0)
    ORDER BY c_custkey
    """


COLOC_RADIUS = 15000  # millidegrees — ~10 avg neighbors at sf0.01
COLOC_CATS = 5


def q_colocation(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Co-location pattern mining over customers (category =
    c_custkey % COLOC_CATS, integer-millidegree planar coordinates):
    for every category pair, neighbor-pair count, distinct
    participating instances per side, and the participation index
    min(part_a/total_a, part_b/total_b).  The oracle is the literal
    O(n^2) cross-join definition; the operator's 3x3-halo cell join
    never materializes non-neighbor pairs (`colocation_patterns`)."""
    from .operators.colocation import colocation_patterns

    df = read_sf(spark, sf_dir, "customer")
    pts = df.select(
        F.col("c_custkey").alias("id"),
        F.expr("c_custkey * 7919 % 360000").alias("x"),
        F.expr("(c_custkey * 104729 + 13) % 170000").alias("y"),
        (F.col("c_custkey") % COLOC_CATS).alias("cat"))
    return colocation_patterns(pts, radius=COLOC_RADIUS).orderBy(
        "cat_a", "cat_b")


def sql_colocation() -> str:
    r2 = COLOC_RADIUS * COLOC_RADIUS
    return f"""
    WITH p AS (
      SELECT c_custkey AS id, c_custkey * 7919 % 360000 AS x,
             (c_custkey * 104729 + 13) % 170000 AS y,
             c_custkey % {COLOC_CATS} AS cat
      FROM customer
    ),
    pairs AS (
      SELECT LEAST(a.cat, b.cat) AS ca, GREATEST(a.cat, b.cat) AS cb,
             a.id AS ia, a.cat AS cata, b.id AS ib, b.cat AS catb
      FROM p a JOIN p b
        ON a.id < b.id
       AND (a.x - b.x) * (a.x - b.x) + (a.y - b.y) * (a.y - b.y) <= {r2}
    ),
    roles AS (
      SELECT ca, cb, cata AS c, ia AS i FROM pairs
      UNION ALL
      SELECT ca, cb, catb AS c, ib AS i FROM pairs
    ),
    agg AS (
      SELECT ca, cb, COUNT(*) // 2 AS n_pairs,
             CAST(COUNT(DISTINCT CASE WHEN c = ca THEN i END) AS BIGINT)
                 AS part_a,
             CAST(COUNT(DISTINCT CASE WHEN c = cb THEN i END) AS BIGINT)
                 AS part_b
      FROM roles GROUP BY ca, cb
    ),
    totals AS (SELECT cat, CAST(COUNT(*) AS BIGINT) AS total
               FROM p GROUP BY cat)
    SELECT agg.ca AS cat_a, agg.cb AS cat_b, agg.n_pairs,
           agg.part_a, agg.part_b,
           ta.total AS total_a, tb.total AS total_b,
           LEAST(CAST(agg.part_a AS DOUBLE) / CAST(ta.total AS DOUBLE),
                 CAST(agg.part_b AS DOUBLE) / CAST(tb.total AS DOUBLE))
               AS pi
    FROM agg JOIN totals ta ON agg.ca = ta.cat
             JOIN totals tb ON agg.cb = tb.cat
    ORDER BY cat_a, cat_b
    """


GEO_DOC_LON = "({} * 48271 % 360000) / 1000.0 - 180.0"
GEO_DOC_LAT = "(({} * 16807 + 19) % 170000) / 1000.0 - 85.0"
GEO_NEAR_DUP_KM = 8000.0


def q_geo_near_dup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cross-modal composition (the graft's two axes in one query):
    simhash near-dup pairs that are ALSO geographically close —
    "same capture site re-uploads".  CONTENT-FIRST plan: the simhash
    band blocking finds the (rare) text near-dups, then a pure
    column-math haversine over per-doc synthetic coords filters pairs
    by distance — no spatial join at all, because content candidates
    are orders of magnitude rarer than spatial neighbors (the
    spatial-first plan would fan every urban cell out quadratically
    before ever hashing a document).  Distances are excluded from the
    compared columns; the 8000 km threshold sits >= 10 km from every
    pair distance at both gate scales, so membership cannot flip."""
    pairs = DD.q_dedup_simhash(spark, sf_dir)
    lon_a = F.expr(GEO_DOC_LON.format("doc_a"))
    lat_a = F.expr(GEO_DOC_LAT.format("doc_a"))
    lon_b = F.expr(GEO_DOC_LON.format("doc_b"))
    lat_b = F.expr(GEO_DOC_LAT.format("doc_b"))
    dist = KNN.haversine_km(lon_a, lat_a, lon_b, lat_b)
    return (pairs.withColumn("_dist", dist)
                 .filter(F.col("_dist") <= F.lit(GEO_NEAR_DUP_KM))
                 .select(F.col("doc_a").cast("long").alias("doc_a"),
                         F.col("doc_b").cast("long").alias("doc_b"),
                         F.col("hamming").cast("int").alias("hamming")))


def sql_geo_near_dup() -> str:
    hav = ("2.0 * 6371.0 * asin(sqrt("
           "pow(sin((radians(lat_b) - radians(lat_a)) / 2), 2) + "
           "cos(radians(lat_a)) * cos(radians(lat_b)) * "
           "pow(sin((radians(lon_b) - radians(lon_a)) / 2), 2)))")
    return f"""
    WITH p AS ({DD.sql_dedup_simhash()}),
    c AS (
      SELECT doc_a, doc_b, hamming,
             {GEO_DOC_LON.format('doc_a')} AS lon_a,
             {GEO_DOC_LAT.format('doc_a')} AS lat_a,
             {GEO_DOC_LON.format('doc_b')} AS lon_b,
             {GEO_DOC_LAT.format('doc_b')} AS lat_b
      FROM p
    )
    SELECT CAST(doc_a AS BIGINT) AS doc_a, CAST(doc_b AS BIGINT) AS doc_b,
           CAST(hamming AS INT) AS hamming
    FROM c WHERE {hav} <= {GEO_NEAR_DUP_KM}
    """


def sql_knn_table() -> str:
    hav = ("2.0 * 6371.0 * asin(sqrt("
           "pow(sin((radians(d.lat) - radians(q.lat)) / 2), 2) + "
           "cos(radians(q.lat)) * cos(radians(d.lat)) * "
           "pow(sin((radians(d.lon) - radians(q.lon)) / 2), 2)))")
    return f"""
    WITH q AS (
      SELECT o_orderkey AS query_id, {ORD_LON} AS lon, {ORD_LAT} AS lat FROM orders
    ), d AS (
      SELECT c_custkey AS data_id, {CUST_LON} AS lon, {CUST_LAT} AS lat FROM customer
    ), scored AS (
      SELECT q.query_id, d.data_id AS neighbor_id,
             ROW_NUMBER() OVER (PARTITION BY q.query_id
                                ORDER BY {hav} ASC, d.data_id ASC) AS rank
      FROM q CROSS JOIN d
    )
    SELECT CAST(query_id AS BIGINT) AS query_id,
           CAST(neighbor_id AS BIGINT) AS neighbor_id,
           CAST(rank AS INT) AS rank
    FROM scored WHERE rank <= 3
    """


def sql_knn() -> str:
    hav = ("2.0 * 6371.0 * asin(sqrt("
           "pow(sin((radians(d.lat) - radians(q.lat)) / 2), 2) + "
           "cos(radians(q.lat)) * cos(radians(d.lat)) * "
           "pow(sin((radians(d.lon) - radians(q.lon)) / 2), 2)))")
    return f"""
    WITH q AS (
      SELECT n_nationkey AS query_id, {NAT_LON} AS lon, {NAT_LAT} AS lat FROM nation
    ), d AS (
      SELECT c_custkey AS data_id, {CUST_LON} AS lon, {CUST_LAT} AS lat FROM customer
    ), scored AS (
      SELECT q.query_id, d.data_id AS neighbor_id,
             ROW_NUMBER() OVER (PARTITION BY q.query_id
                                ORDER BY {hav} ASC, d.data_id ASC) AS rank
      FROM q CROSS JOIN d
    )
    SELECT CAST(query_id AS BIGINT) AS query_id,
           CAST(neighbor_id AS BIGINT) AS neighbor_id,
           CAST(rank AS INT) AS rank
    FROM scored WHERE rank <= 5
    """


# ---------------------------------------------------------------------------
# q: mvt_tile_stats — the full encode pipeline; per-tile feature counts
# ---------------------------------------------------------------------------

ENC_ZOOM = 5
ENC_EXTENT = 4096
ENC_BUFFER = 128


def _customer_images(spark: SparkSession, sf_dir: str) -> DataFrame:
    pts = _customer_points(spark, sf_dir)
    return pts.select(F.col("c_custkey").cast("string").alias("image_id"), "lon", "lat")


def q_mvt_tile_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    pts = _customer_images(spark, sf_dir)
    assigned = T.assign_tiles_buffered(pts, zoom=ENC_ZOOM, extent=ENC_EXTENT, buffer=ENC_BUFFER)
    tiles = E.assemble_point_tiles_streaming(assigned, extent=ENC_EXTENT, buffer=ENC_BUFFER)
    return tiles.select(F.col("zoom").cast("int"), "tile_x", "tile_y", "feature_count")


def sql_mvt_tile_stats() -> str:
    # buffered membership: point belongs to tile (tx,ty) iff its fractional
    # tile coords lie within [t-pad, t+1+pad]; pad = buffer/extent
    pad = float(ENC_BUFFER) / float(ENC_EXTENT)
    n = 2 ** ENC_ZOOM
    res = 2.0 * MAX_EXTENTS / n
    return f"""
    WITH pts AS (
      SELECT c_custkey, {CUST_LON} AS lon, {CUST_LAT} AS lat FROM customer
    ), proj AS (
      SELECT c_custkey, {_SQL_X} AS x3857, {_SQL_Y} AS y3857 FROM pts
    ), frac AS (
      SELECT c_custkey,
             (x3857 + {MAX_EXTENTS}) / {res} AS fx,
             ({MAX_EXTENTS} - y3857) / {res} AS fy,
             least(cast(floor((x3857 + {MAX_EXTENTS}) / {res}) as bigint), {n - 1}) AS bx,
             least(cast(floor(({MAX_EXTENTS} - y3857) / {res}) as bigint), {n - 1}) AS by
      FROM proj
    ), fanned AS (
      SELECT c_custkey, fx, fy, bx + s.dx AS tile_x, by + s.dy AS tile_y
      FROM frac CROSS JOIN (VALUES (-1,-1),(-1,0),(-1,1),(0,-1),(0,0),(0,1),(1,-1),(1,0),(1,1)) AS s(dx, dy)
      WHERE bx + s.dx >= 0 AND by + s.dy >= 0 AND bx + s.dx < {n} AND by + s.dy < {n}
        AND fx >= (bx + s.dx) - {pad} AND fx <= (bx + s.dx) + 1 + {pad}
        AND fy >= (by + s.dy) - {pad} AND fy <= (by + s.dy) + 1 + {pad}
    )
    SELECT CAST({ENC_ZOOM} AS INT) AS zoom, tile_x, tile_y,
           COUNT(*) AS feature_count
    FROM fanned GROUP BY tile_x, tile_y
    """


def q_tile_compose(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Multi-layer tile composition: the customer "images" layer and a
    nation "sites" layer, encoded independently, merged per tile by
    BINARY CONCATENATION (``encode.merge_tile_layers`` — MVT tiles are
    repeated protobuf Layer records, so composition needs no decode),
    then decoded BACK for audit.  The oracle recomputes both layers'
    buffered memberships in SQL and full-outer-joins them — so the
    wire-level merge is verified hash-exactly: layer count, total
    features, and the sorted layer-name list per tile."""
    pts = _customer_images(spark, sf_dir)
    a1 = T.assign_tiles_buffered(pts, zoom=ENC_ZOOM, extent=ENC_EXTENT,
                                 buffer=ENC_BUFFER)
    images = E.assemble_point_tiles_streaming(a1, extent=ENC_EXTENT,
                                              buffer=ENC_BUFFER)
    nat = _nation_points(spark, sf_dir).select(
        F.col("n_nationkey").cast("string").alias("image_id"), "lon", "lat")
    a2 = T.assign_tiles_buffered(nat, zoom=ENC_ZOOM, extent=ENC_EXTENT,
                                 buffer=ENC_BUFFER)
    sites = E.assemble_point_tiles_streaming(a2, layer_name="sites",
                                             extent=ENC_EXTENT,
                                             buffer=ENC_BUFFER)
    merged = E.merge_tile_layers(images, sites)
    out = E.tile_layer_stats(merged)
    return out.select(F.col("zoom").cast("int").alias("zoom"),
                      "tile_x", "tile_y", "n_layers", "feature_count",
                      "layer_names")


def _sql_buffered_counts(key: str, table_cte: str) -> str:
    """Fanned buffered-membership counts at ENC_ZOOM over a CTE named
    ``table_cte`` with (key, lon, lat) — the sql_mvt_tile_stats body,
    reusable per layer."""
    pad = float(ENC_BUFFER) / float(ENC_EXTENT)
    n = 2 ** ENC_ZOOM
    res = 2.0 * MAX_EXTENTS / n
    return f"""
      SELECT tile_x, tile_y, COUNT(*) AS cnt FROM (
        SELECT bx + s.dx AS tile_x, by + s.dy AS tile_y, fx, fy
        FROM (
          SELECT (x3857 + {MAX_EXTENTS}) / {res} AS fx,
                 ({MAX_EXTENTS} - y3857) / {res} AS fy,
                 least(cast(floor((x3857 + {MAX_EXTENTS}) / {res}) as bigint), {n - 1}) AS bx,
                 least(cast(floor(({MAX_EXTENTS} - y3857) / {res}) as bigint), {n - 1}) AS by
          FROM (SELECT {_SQL_X} AS x3857, {_SQL_Y} AS y3857 FROM {table_cte})
        ) CROSS JOIN (VALUES (-1,-1),(-1,0),(-1,1),(0,-1),(0,0),(0,1),(1,-1),(1,0),(1,1)) AS s(dx, dy)
        WHERE bx + s.dx >= 0 AND by + s.dy >= 0 AND bx + s.dx < {n} AND by + s.dy < {n}
          AND fx >= (bx + s.dx) - {pad} AND fx <= (bx + s.dx) + 1 + {pad}
          AND fy >= (by + s.dy) - {pad} AND fy <= (by + s.dy) + 1 + {pad}
      ) GROUP BY tile_x, tile_y
    """


def sql_tile_compose() -> str:
    return f"""
    WITH cpts AS (
      SELECT {CUST_LON} AS lon, {CUST_LAT} AS lat FROM customer
    ), npts AS (
      SELECT {NAT_LON} AS lon, {NAT_LAT} AS lat FROM nation
    ), imgs AS ({_sql_buffered_counts("c", "cpts")}
    ), sites AS ({_sql_buffered_counts("n", "npts")})
    SELECT CAST({ENC_ZOOM} AS INT) AS zoom,
           COALESCE(i.tile_x, s.tile_x) AS tile_x,
           COALESCE(i.tile_y, s.tile_y) AS tile_y,
           CAST((CASE WHEN i.cnt IS NULL THEN 0 ELSE 1 END)
              + (CASE WHEN s.cnt IS NULL THEN 0 ELSE 1 END) AS INT)
             AS n_layers,
           CAST(COALESCE(i.cnt, 0) + COALESCE(s.cnt, 0) AS BIGINT)
             AS feature_count,
           CASE WHEN i.cnt IS NULL THEN 'sites'
                WHEN s.cnt IS NULL THEN 'images'
                ELSE 'images,sites' END AS layer_names
    FROM imgs i FULL OUTER JOIN sites s
      ON i.tile_x = s.tile_x AND i.tile_y = s.tile_y
    """


# Double-typed twins of CUST_LON/CUST_LAT: float literals parse as
# DECIMAL in BOTH engines (Spark DECIMAL(28,6) out of _customer_points,
# DuckDB exact decimal division), and the two engines round
# decimal->double DIFFERENTLY downstream — so a query whose OUTPUT is
# the raw doubles must force every operand to DOUBLE so both engines
# run the identical IEEE op sequence (1-ulp mismatches otherwise,
# measured on ~45% of rows).
CUST_LON_DBL = ("CAST(c_custkey * 7919 % 360000 AS DOUBLE)"
                " / CAST(1000.0 AS DOUBLE) - CAST(180.0 AS DOUBLE)")
CUST_LAT_DBL = ("CAST((c_custkey * 104729 + 13) % 170000 AS DOUBLE)"
                " / CAST(1000.0 AS DOUBLE) - CAST(85.0 AS DOUBLE)")


def q_wkb_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """WKB interop (GeoParquet's geometry encoding): encode customer
    points to OGC WKB Point bytes, parse them back, and emit the
    decoded doubles with byte-level metadata.  IEEE-754 doubles
    round-trip bit-exactly through the 21-byte layout, so the decoded
    lon/lat equal the shared-text originals and the whole chain sits
    under the hash-exact oracle (float columns are safe here because
    the expression TEXT keeps both engines in pure-double arithmetic
    and WKB is a bit-copy).  Map-only: two Arrow passes, no shuffle."""
    from . import io_wkb as WKB

    pts = read_sf(spark, sf_dir, "customer").select(
        "c_custkey", F.expr(CUST_LON_DBL).alias("lon"),
        F.expr(CUST_LAT_DBL).alias("lat"))
    enc = WKB.wkb_points(pts)
    dec = WKB.parse_wkb_points(enc.drop("lon", "lat"),
                               lon_col="lon", lat_col="lat")
    return dec.select(
        "c_custkey", "lon", "lat",
        F.length("wkb").cast("int").alias("wkb_len"),
        F.expr("CAST(substr(wkb, 1, 1) = x'01' AS INT)").alias("is_le"))


def sql_wkb_roundtrip() -> str:
    return f"""
    SELECT c_custkey, {CUST_LON_DBL} AS lon, {CUST_LAT_DBL} AS lat,
           CAST(21 AS INT) AS wkb_len, CAST(1 AS INT) AS is_le
    FROM customer
    """


# ---------------------------------------------------------------------------
# q: convex_hull — per-nation spatial footprint (exact integer geometry)
# ---------------------------------------------------------------------------

# microdegrees straight from the integer lattice: pure BIGINT on both
# engines, so every orientation test is an exact int64 cross product
CUST_UX = "(c_custkey * 7919 % 360000) * 1000 - 180000000"
CUST_UY = "((c_custkey * 104729 + 13) % 170000) * 1000 - 85000000"


def q_convex_hull(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-nation convex-hull footprint over customer sites: every
    point ON the hull boundary (closed definition — edge-interior
    collinear points included; the lattice is linear in the key, so
    collinear runs are the norm, and the closed set is the one both
    engines agree on exactly).  ``operators/hulls.py``: two-level
    hull-of-hulls (Akl-Toussaint prune + monotone chain per shard,
    then a merge over surviving candidates) — raw rows reduce to local
    boundaries BEFORE the shuffle, the oracle's O(n^3) pair test being
    exactly what a single-node engine cannot run at scale."""
    from .operators import hulls as HUL

    pts = read_sf(spark, sf_dir, "customer").select(
        F.col("c_nationkey").cast("long").alias("nation"),
        F.col("c_custkey").alias("c_custkey"),
        F.expr(CUST_UX).alias("ux"), F.expr(CUST_UY).alias("uy"))
    return (HUL.convex_hull(pts, "nation", "c_custkey")
            .orderBy("nation", "c_custkey"))


def sql_convex_hull() -> str:
    # p is on the closed hull boundary iff some direction through p and
    # another point q has the WHOLE group in its closed left half-plane
    return f"""
    WITH pts AS (
      SELECT CAST(c_nationkey AS BIGINT) AS nation, c_custkey,
             {CUST_UX} AS ux, {CUST_UY} AS uy
      FROM customer
    ), marked AS (
      SELECT DISTINCT p.nation, p.c_custkey
      FROM pts p JOIN pts q
        ON q.nation = p.nation AND q.c_custkey <> p.c_custkey
      WHERE NOT EXISTS (
        SELECT 1 FROM pts r
        WHERE r.nation = p.nation
          AND r.c_custkey <> p.c_custkey AND r.c_custkey <> q.c_custkey
          AND (q.ux - p.ux) * (r.uy - p.uy)
              - (q.uy - p.uy) * (r.ux - p.ux) < 0)
    ), singles AS (
      SELECT nation, c_custkey FROM pts p
      WHERE (SELECT COUNT(*) FROM pts s WHERE s.nation = p.nation) = 1
    ), hull AS (
      SELECT * FROM marked UNION SELECT * FROM singles
    )
    SELECT pts.nation, pts.c_custkey, pts.ux, pts.uy
    FROM pts JOIN hull
      ON hull.nation = pts.nation AND hull.c_custkey = pts.c_custkey
    ORDER BY pts.nation, pts.c_custkey
    """


# ---------------------------------------------------------------------------
# q: hotspot_clusters — grid-density clustering (DBSCAN's grid cousin)
# ---------------------------------------------------------------------------

HOT_ZOOM = 4
HOT_MIN = 2


def q_hotspot_clusters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Dense-region discovery: z4 cells holding >= 2 customers, merged
    into 8-connected clusters labeled by the min cell key (antimeridian
    x-wrap).  Raw rows are touched exactly once (the per-cell count);
    adjacency + connected components run on the grid-bounded dense-cell
    set — the web-scale DBSCAN approximation."""
    from .operators import hotspots as HOT

    pts = _customer_points(spark, sf_dir)
    return (HOT.hotspot_clusters(pts, HOT_ZOOM, HOT_MIN)
            .orderBy("tile_x", "tile_y"))


def q_hotspot_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-cluster footprint summary: cell count, point total, bbox,
    and the point-weighted centroid cell as INTEGER floor division
    (no float mean under the gate).  One aggregation over the
    grid-bounded cluster table."""
    from .operators import hotspots as HOT

    pts = _customer_points(spark, sf_dir)
    return (HOT.cluster_stats(pts, HOT_ZOOM, HOT_MIN)
            .orderBy("cluster"))


RIPLEY_RADII = [5000, 10000, 15000, 20000]  # millidegree K-function ladder


def q_ripley_k(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Ripley's K function over customer points (integer-millidegree
    planar, naive/no edge correction): per ladder radius, the exact
    pair count within r and k_hat = area*2*n_pairs/n^2 (one
    long->double division).  One halo join at cell = max radius
    serves the whole ladder (`colocation.ripley_k`); the oracle is
    the literal O(n^2) definition."""
    from .operators.colocation import ripley_k

    df = read_sf(spark, sf_dir, "customer")
    pts = df.select(
        F.col("c_custkey").alias("id"),
        F.expr("c_custkey * 7919 % 360000").alias("x"),
        F.expr("(c_custkey * 104729 + 13) % 170000").alias("y"))
    return ripley_k(pts, RIPLEY_RADII).orderBy("r")


def sql_ripley_k() -> str:
    area2 = 2 * 360000 * 170000
    values = ", ".join(f"({r})" for r in RIPLEY_RADII)
    max_r2 = RIPLEY_RADII[-1] ** 2
    return f"""
    WITH p AS (
      SELECT c_custkey AS id, c_custkey * 7919 % 360000 AS x,
             (c_custkey * 104729 + 13) % 170000 AS y
      FROM customer
    ),
    pr AS (
      SELECT (a.x - b.x) * (a.x - b.x) + (a.y - b.y) * (a.y - b.y) AS d2
      FROM p a JOIN p b ON a.id < b.id
       AND (a.x - b.x) * (a.x - b.x) + (a.y - b.y) * (a.y - b.y)
           <= {max_r2}
    ),
    nn AS (SELECT COUNT(*) AS n FROM p)
    SELECT CAST(r.r AS BIGINT) AS r,
           CAST(COALESCE(SUM(CASE WHEN pr.d2 <= r.r * r.r THEN 1 END), 0)
                AS BIGINT) AS n_pairs,
           CAST(CAST({area2} AS BIGINT)
                * COALESCE(SUM(CASE WHEN pr.d2 <= r.r * r.r THEN 1 END), 0)
                AS DOUBLE)
             / CAST((SELECT n * n FROM nn) AS DOUBLE) AS k_hat
    FROM (VALUES {values}) AS r(r) LEFT JOIN pr ON TRUE
    GROUP BY r.r
    ORDER BY r
    """


def q_g_function(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Nearest-neighbor distance distribution (Diggle's G) over
    customer points, same ladder as ripley_k: per rung the exact
    count of points whose NN lies within r, and g_hat = n_le/n
    (`colocation.g_function`).  Oracle: literal per-point brute
    minimum."""
    from .operators.colocation import g_function

    df = read_sf(spark, sf_dir, "customer")
    pts = df.select(
        F.col("c_custkey").alias("id"),
        F.expr("c_custkey * 7919 % 360000").alias("x"),
        F.expr("(c_custkey * 104729 + 13) % 170000").alias("y"))
    return g_function(pts, RIPLEY_RADII).orderBy("r")


def sql_g_function() -> str:
    values = ", ".join(f"({r})" for r in RIPLEY_RADII)
    return f"""
    WITH p AS (
      SELECT c_custkey AS id, c_custkey * 7919 % 360000 AS x,
             (c_custkey * 104729 + 13) % 170000 AS y
      FROM customer
    ),
    nn AS (
      SELECT a.id,
             MIN((a.x - b.x) * (a.x - b.x) + (a.y - b.y) * (a.y - b.y))
                 AS nn_d2
      FROM p a JOIN p b ON a.id <> b.id
      GROUP BY a.id
    ),
    cnt AS (SELECT COUNT(*) AS n FROM p)
    SELECT CAST(r.r AS BIGINT) AS r,
           CAST(COALESCE(SUM(CASE WHEN nn.nn_d2 <= r.r * r.r THEN 1 END), 0)
                AS BIGINT) AS n_le,
           (SELECT CAST(n AS BIGINT) FROM cnt) AS n,
           CAST(COALESCE(SUM(CASE WHEN nn.nn_d2 <= r.r * r.r THEN 1 END), 0)
                AS DOUBLE)
             / CAST((SELECT n FROM cnt) AS DOUBLE) AS g_hat
    FROM (VALUES {values}) AS r(r) LEFT JOIN nn ON TRUE
    GROUP BY r.r
    ORDER BY r
    """


F_GRID = 32  # empty-space probe lattice: 32x32 cell centers


def q_f_function(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Empty-space function (Diggle's F) over customer points: per
    ladder rung, the exact count of 32x32 probe-lattice points whose
    nearest data point lies within r (`colocation.f_function`)."""
    from .operators.colocation import f_function

    df = read_sf(spark, sf_dir, "customer")
    pts = df.select(
        F.expr("c_custkey * 7919 % 360000").alias("x"),
        F.expr("(c_custkey * 104729 + 13) % 170000").alias("y"))
    return f_function(pts, RIPLEY_RADII, grid=F_GRID).orderBy("r")


def sql_f_function() -> str:
    g = F_GRID
    values = ", ".join(f"({r})" for r in RIPLEY_RADII)
    return f"""
    WITH p AS (
      SELECT c_custkey * 7919 % 360000 AS x,
             (c_custkey * 104729 + 13) % 170000 AS y
      FROM customer
    ),
    probes AS (
      SELECT i AS pid,
             (i % {g}) * 360000 // {g} + {360000 // (2 * g)} AS px,
             (i // {g}) * 170000 // {g} + {170000 // (2 * g)} AS py
      FROM (SELECT UNNEST(range(0, {g * g})) AS i)
    ),
    nn AS (
      SELECT pr.pid,
             MIN((pr.px - p.x) * (pr.px - p.x)
                 + (pr.py - p.y) * (pr.py - p.y)) AS nn_d2
      FROM probes pr CROSS JOIN p
      GROUP BY pr.pid
    )
    SELECT CAST(r.r AS BIGINT) AS r,
           CAST(COALESCE(SUM(CASE WHEN nn.nn_d2 <= r.r * r.r THEN 1 END), 0)
                AS BIGINT) AS n_le,
           CAST({g * g} AS BIGINT) AS n_probes,
           CAST(COALESCE(SUM(CASE WHEN nn.nn_d2 <= r.r * r.r THEN 1 END), 0)
                AS DOUBLE)
             / CAST({g * g} AS DOUBLE) AS f_hat
    FROM (VALUES {values}) AS r(r) LEFT JOIN nn ON TRUE
    GROUP BY r.r
    ORDER BY r
    """


# deterministic 61-bit phash synthesis: every 3 consecutive ids form a
# near-dup group (member 0 = base, members 1/2 flip one distinct bit
# each -> pairwise hamming <= 2); mirrored exactly in the DuckDB oracle
PHASH_G = "(c_custkey div 3)"
_PHASH_BASE = f"(({PHASH_G} * 2654435761) % 2305843009213693951)"
_PHASH_FLIP_SPARK = (
    f"CASE WHEN c_custkey % 3 = 0 THEN CAST(0 AS BIGINT) "
    f"WHEN c_custkey % 3 = 1 THEN "
    f"shiftleft(CAST(1 AS BIGINT), CAST({PHASH_G} % 60 AS INT)) "
    f"ELSE shiftleft(CAST(1 AS BIGINT), "
    f"CAST(({PHASH_G} + 17) % 60 AS INT)) END")


def q_image_dup_clusters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Image near-dup clustering end-to-end: deterministic 64-bit
    phashes (synthesized per the input-table contract: phash is a
    materialized int64 column) -> banded Hamming pairs -> connected
    components -> canonical per cluster
    (`images.image_dup_clusters`).  Oracle: brute-force Hamming pairs
    + a recursive-CTE closure."""
    from .operators.images import image_dup_clusters

    df = read_sf(spark, sf_dir, "customer")
    images = df.select(
        F.col("c_custkey").alias("image_id"),
        F.expr(f"{_PHASH_BASE} ^ ({_PHASH_FLIP_SPARK})").alias("phash"))
    return (image_dup_clusters(images)
            .orderBy("image_id"))


def q_phash_threshold_sweep(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Near-dup threshold calibration curve: per Hamming rung, the
    exact pair / image blast radius a dedup run at that threshold
    would touch (`images.phash_threshold_sweep`; one band shuffle
    serves the whole ladder).  Oracle: literal O(n^2) Hamming join —
    exact because max rung < band count (pigeonhole)."""
    from .operators.images import phash_threshold_sweep

    df = read_sf(spark, sf_dir, "customer")
    images = df.select(
        F.col("c_custkey").alias("image_id"),
        F.expr(f"{_PHASH_BASE} ^ ({_PHASH_FLIP_SPARK})").alias("phash"))
    return phash_threshold_sweep(images)


def sql_phash_threshold_sweep() -> str:
    from .operators.images import SWEEP_LADDER

    g = "(c_custkey // 3)"
    base = f"(({g} * 2654435761) % 2305843009213693951)"
    flip = (f"CASE WHEN c_custkey % 3 = 0 THEN CAST(0 AS BIGINT) "
            f"WHEN c_custkey % 3 = 1 THEN "
            f"(CAST(1 AS BIGINT) << CAST({g} % 60 AS INT)) "
            f"ELSE (CAST(1 AS BIGINT) << CAST(({g} + 17) % 60 AS INT)) END")
    values = ",".join(f"({r})" for r in SWEEP_LADDER)
    return f"""
    WITH imgs AS (
      SELECT c_custkey AS image_id, xor({base}, {flip}) AS phash
      FROM customer
    ),
    prs AS (
      SELECT a.image_id AS ia, b.image_id AS ib,
             bit_count(xor(a.phash, b.phash)) AS ham
      FROM imgs a JOIN imgs b ON a.image_id < b.image_id
    ),
    mh AS (
      SELECT iid, MIN(ham) AS mh
      FROM (SELECT ia AS iid, ham FROM prs
            UNION ALL SELECT ib, ham FROM prs)
      GROUP BY iid
    ),
    lad(r) AS (VALUES {values}),
    pc AS (
      SELECT l.r, COUNT(p.ham) AS n_pairs
      FROM lad l LEFT JOIN prs p ON p.ham <= l.r
      GROUP BY l.r
    ),
    ic AS (
      SELECT l.r, COUNT(m.mh) AS n_images
      FROM lad l LEFT JOIN mh m ON m.mh <= l.r
      GROUP BY l.r
    ),
    tot AS (SELECT COUNT(*) AS n_total FROM imgs)
    SELECT CAST(pc.r AS BIGINT) AS h,
           CAST(pc.n_pairs AS BIGINT) AS n_pairs,
           CAST(ic.n_images AS BIGINT) AS n_images,
           CAST(tot.n_total AS BIGINT) AS n_total,
           CAST(CAST(ic.n_images AS BIGINT) AS DOUBLE)
             / CAST(CAST(tot.n_total AS BIGINT) AS DOUBLE) AS share
    FROM pc JOIN ic ON pc.r = ic.r CROSS JOIN tot
    ORDER BY h
    """


def sql_image_dup_clusters() -> str:
    g = "(c_custkey // 3)"
    base = f"(({g} * 2654435761) % 2305843009213693951)"
    flip = (f"CASE WHEN c_custkey % 3 = 0 THEN CAST(0 AS BIGINT) "
            f"WHEN c_custkey % 3 = 1 THEN "
            f"(CAST(1 AS BIGINT) << CAST({g} % 60 AS INT)) "
            f"ELSE (CAST(1 AS BIGINT) << CAST(({g} + 17) % 60 AS INT)) END")
    return f"""
    WITH RECURSIVE imgs AS (
      SELECT c_custkey AS image_id, xor({base}, {flip}) AS phash
      FROM customer
    ),
    prs AS (
      SELECT a.image_id AS ia, b.image_id AS ib
      FROM imgs a JOIN imgs b ON a.image_id < b.image_id
       AND bit_count(xor(a.phash, b.phash)) <= 3
    ),
    edges AS (
      SELECT ia AS s, ib AS d FROM prs
      UNION ALL SELECT ib, ia FROM prs
    ),
    reach(node, r) AS (
      SELECT s, d FROM edges
      UNION
      SELECT reach.node, edges.d FROM reach JOIN edges ON reach.r = edges.s
    ),
    comp AS (
      SELECT node, LEAST(node, MIN(r)) AS component FROM reach GROUP BY node
    ),
    labeled AS (
      SELECT imgs.image_id, imgs.phash,
             COALESCE(comp.component, imgs.image_id) AS cluster
      FROM imgs LEFT JOIN comp ON comp.node = imgs.image_id
    ),
    sizes AS (
      SELECT cluster, COUNT(*) AS cluster_size FROM labeled GROUP BY cluster
    )
    SELECT CAST(l.image_id AS BIGINT) AS image_id,
           CAST(l.phash AS BIGINT) AS phash,
           CAST(l.cluster AS BIGINT) AS cluster,
           CAST(s.cluster_size AS BIGINT) AS cluster_size,
           CAST(CASE WHEN l.image_id = l.cluster THEN 1 ELSE 0 END AS INT)
               AS is_canonical
    FROM labeled l JOIN sizes s USING (cluster)
    ORDER BY image_id
    """


_CAPTION_SPARK = (
    "CASE WHEN c_custkey % 3 = 2 AND (c_custkey div 3) % 2 = 0 "
    "THEN concat('photo ', CAST(c_custkey div 3 AS STRING)) "
    "ELSE concat('img ', CAST(c_custkey div 3 AS STRING)) END")


def q_caption_reconcile(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Caption reconciliation over the image near-dup clusters
    (`images.caption_reconcile`): one canonical caption per visual
    cluster by the (count desc, caption asc) majority rule, plus the
    exact per-mille agreement — captions synthesized so every second
    triplet cluster carries a dissenting caption."""
    from .operators.images import caption_reconcile

    df = read_sf(spark, sf_dir, "customer")
    images = df.select(
        F.col("c_custkey").alias("image_id"),
        F.expr(f"{_PHASH_BASE} ^ ({_PHASH_FLIP_SPARK})").alias("phash"),
        F.expr(_CAPTION_SPARK).alias("caption"))
    return caption_reconcile(images).orderBy("cluster")


def sql_caption_reconcile() -> str:
    g = "(c_custkey // 3)"
    base = f"(({g} * 2654435761) % 2305843009213693951)"
    flip = (f"CASE WHEN c_custkey % 3 = 0 THEN CAST(0 AS BIGINT) "
            f"WHEN c_custkey % 3 = 1 THEN "
            f"(CAST(1 AS BIGINT) << CAST({g} % 60 AS INT)) "
            f"ELSE (CAST(1 AS BIGINT) << CAST(({g} + 17) % 60 AS INT)) END")
    caption = (f"CASE WHEN c_custkey % 3 = 2 AND {g} % 2 = 0 "
               f"THEN concat('photo ', CAST({g} AS VARCHAR)) "
               f"ELSE concat('img ', CAST({g} AS VARCHAR)) END")
    return f"""
    WITH RECURSIVE imgs AS (
      SELECT c_custkey AS image_id, xor({base}, {flip}) AS phash,
             {caption} AS caption
      FROM customer
    ),
    prs AS (
      SELECT a.image_id AS ia, b.image_id AS ib
      FROM imgs a JOIN imgs b ON a.image_id < b.image_id
       AND bit_count(xor(a.phash, b.phash)) <= 3
    ),
    edges AS (
      SELECT ia AS s, ib AS d FROM prs
      UNION ALL SELECT ib, ia FROM prs
    ),
    reach(node, r) AS (
      SELECT s, d FROM edges
      UNION
      SELECT reach.node, edges.d FROM reach JOIN edges ON reach.r = edges.s
    ),
    comp AS (
      SELECT node, LEAST(node, MIN(r)) AS component FROM reach GROUP BY node
    ),
    capd AS (
      SELECT COALESCE(comp.component, imgs.image_id) AS cluster,
             imgs.caption
      FROM imgs LEFT JOIN comp ON comp.node = imgs.image_id
    ),
    cc AS (
      SELECT cluster, caption, COUNT(*) AS cnt
      FROM capd GROUP BY cluster, caption
    ),
    per AS (
      SELECT cluster, SUM(cnt) AS n_images, COUNT(*) AS n_captions
      FROM cc GROUP BY cluster
    ),
    canon AS (
      SELECT cluster, caption, cnt,
             row_number() OVER (PARTITION BY cluster
                                ORDER BY cnt DESC, caption) AS rn
      FROM cc
    )
    SELECT CAST(per.cluster AS BIGINT) AS cluster,
           CAST(per.n_images AS BIGINT) AS n_images,
           CAST(per.n_captions AS BIGINT) AS n_captions,
           canon.caption AS canon_caption,
           CAST(canon.cnt * 1000 // per.n_images AS BIGINT)
             AS agree_millis
    FROM per JOIN canon ON canon.cluster = per.cluster AND canon.rn = 1
    ORDER BY cluster
    """


_DIM_W = "320 + c_custkey * 7919 % 1217"
_DIM_H = "320 + (c_custkey * 104729 + 13) % 1217"


def q_aspect_buckets(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Aspect-ratio bucketing (`images.aspect_bucket_batches`):
    synthetic (w, h) per image spanning aspect 0.21-4.8 so every
    ladder rung receives members; exact cross-multiplied bucket
    argmin + deterministic in-bucket batch ids."""
    from .operators.images import aspect_bucket_batches

    df = read_sf(spark, sf_dir, "customer").select(
        F.col("c_custkey").cast("long").alias("image_id"),
        F.expr(_DIM_W).cast("long").alias("w"),
        F.expr(_DIM_H).cast("long").alias("h"))
    return aspect_bucket_batches(df).orderBy("image_id")


def sql_aspect_buckets() -> str:
    from .operators.images import ASPECT_BATCH, ASPECT_LADDER

    vals = ",".join(f"({i},{bw},{bh})"
                    for i, (bw, bh) in enumerate(ASPECT_LADDER))
    return f"""
    WITH imgs AS (
      SELECT c_custkey AS image_id,
             CAST({_DIM_W.replace('c_custkey', 'c_custkey')} AS BIGINT) AS w,
             CAST({_DIM_H} AS BIGINT) AS h
      FROM customer
    ),
    ladder(idx, bw, bh) AS (VALUES {vals}),
    scored AS (
      SELECT imgs.image_id, imgs.w, imgs.h, ladder.idx, ladder.bw,
             ladder.bh,
             row_number() OVER (PARTITION BY imgs.image_id
                                ORDER BY ABS(imgs.w * ladder.bh
                                             - imgs.h * ladder.bw),
                                         ladder.idx) AS rn
      FROM imgs CROSS JOIN ladder
    ),
    picked AS (SELECT * FROM scored WHERE rn = 1)
    SELECT CAST(image_id AS BIGINT) AS image_id,
           CAST(idx AS INT) AS bucket_idx,
           CAST(bw AS INT) AS bucket_w,
           CAST(bh AS INT) AS bucket_h,
           CAST((row_number() OVER (PARTITION BY idx ORDER BY image_id)
                 - 1) // {ASPECT_BATCH} AS BIGINT) AS batch_idx
    FROM picked
    ORDER BY image_id
    """


def q_imagedup_verdicts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Batch twin of the streaming cross-batch image near-dup
    (`streaming/imagedup.py`): per image, is_dup = any phash band
    bucket whose representative (lowest image_id) is within MAX_HAM
    Hamming bits, dup_of = lowest such representative.  Same
    deterministic phash synthesis as `image_dup_clusters`; fully
    oracle-checked (phash is an int64 column)."""
    from .streaming.imagedup import image_dup_verdicts_batch

    df = read_sf(spark, sf_dir, "customer")
    images = df.select(
        F.col("c_custkey").alias("image_id"),
        F.expr(f"{_PHASH_BASE} ^ ({_PHASH_FLIP_SPARK})").alias("phash"))
    return image_dup_verdicts_batch(images).orderBy("image_id")


def sql_imagedup_verdicts() -> str:
    g = "(c_custkey // 3)"
    base = f"(({g} * 2654435761) % 2305843009213693951)"
    flip = (f"CASE WHEN c_custkey % 3 = 0 THEN CAST(0 AS BIGINT) "
            f"WHEN c_custkey % 3 = 1 THEN "
            f"(CAST(1 AS BIGINT) << CAST({g} % 60 AS INT)) "
            f"ELSE (CAST(1 AS BIGINT) << CAST(({g} + 17) % 60 AS INT)) END")
    return f"""
    WITH imgs AS (
      SELECT c_custkey AS image_id, xor({base}, {flip}) AS phash
      FROM customer
    ),
    b AS (
      SELECT image_id, phash, bb.band,
             (phash >> (16 * bb.band)) & 65535 AS chunk
      FROM imgs CROSS JOIN (VALUES (0), (1), (2), (3)) AS bb(band)
    ),
    rep AS (
      SELECT band, chunk, MIN(image_id) AS rep_id
      FROM b GROUP BY band, chunk
    ),
    reps AS (
      SELECT b.band, b.chunk, b.image_id AS rep_id, b.phash AS rep_phash
      FROM b JOIN rep ON b.band = rep.band AND b.chunk = rep.chunk
                     AND b.image_id = rep.rep_id
    ),
    hits AS (
      SELECT b.image_id, r.rep_id,
             bit_count(xor(b.phash, r.rep_phash)) AS ham
      FROM b JOIN reps r ON b.band = r.band AND b.chunk = r.chunk
      WHERE b.image_id <> r.rep_id
    ),
    per AS (
      SELECT image_id,
             MAX(CASE WHEN ham <= 3 THEN 1 ELSE 0 END) AS is_dup,
             MIN(CASE WHEN ham <= 3 THEN rep_id END) AS dup_of
      FROM hits GROUP BY image_id
    )
    SELECT CAST(i.image_id AS BIGINT) AS image_id,
           CAST(COALESCE(p.is_dup, 0) AS INT) AS is_dup,
           CAST(COALESCE(p.dup_of, -1) AS BIGINT) AS dup_of
    FROM imgs i LEFT JOIN per p USING (image_id)
    ORDER BY image_id
    """


SUPP_XI = "s_suppkey * 48271 % 360000"       # integer millidegrees
SUPP_YI = "(s_suppkey * 16807 + 19) % 170000"


def _payload_corpus_spark(coords: bool = False) -> str:
    """Spark SQL constructing the synthetic binary corpus over
    ``customer``: one raw/ppm/png payload per key with deterministic
    injected corruption (truncated payloads on i%97, wrong magic on
    i%89, zeroed dims on i%83, empty captions on i%101).  ``coords``
    adds the shared customer lon/lat so the corpus can feed the tile
    pipeline."""
    xtra_base = f", {CUST_LON} AS lon, {CUST_LAT} AS lat" if coords else ""
    xtra = ", lon, lat" if coords else ""
    return f"""
      SELECT CAST(i AS BIGINT) AS image_id, fmt,
             CASE WHEN i % 83 = 0 THEN 0 ELSE tw END AS w,
             th AS h,
             CASE
               WHEN fmt = 'raw' THEN CAST(repeat('x', plen) AS BINARY)
               WHEN fmt = 'ppm' THEN CAST(concat(
                 CASE WHEN i % 89 = 0 THEN 'X6' ELSE 'P6' END, chr(10),
                 CAST(tw AS STRING), ' ', CAST(th AS STRING), chr(10),
                 '255', chr(10), repeat('x', plen)) AS BINARY)
               ELSE concat(
                 CASE WHEN i % 89 = 0 THEN X'00504E470D0A1A0A'
                      ELSE X'89504E470D0A1A0A' END,
                 CAST(repeat('x', plen) AS BINARY))
             END AS bytes,
             CASE WHEN i % 101 = 0 THEN ''
                  ELSE concat('caption of img', CAST(i AS STRING)) END AS caption{xtra}
      FROM (
        SELECT i, tw, th,
               CASE i % 3 WHEN 0 THEN 'raw' WHEN 1 THEN 'ppm' ELSE 'png' END AS fmt,
               tw * th * 3 - (CASE WHEN i % 97 = 0 THEN 2 ELSE 0 END) AS plen{xtra}
        FROM (SELECT c_custkey AS i, 4 + c_custkey % 5 AS tw,
                     3 + c_custkey % 4 AS th{xtra_base} FROM customer)
      )
    """


def _payload_corpus_duck(coords: bool = False) -> str:
    """The DuckDB twin of `_payload_corpus_spark` (encode/chr/||/BLOB
    forms), emitted as a two-CTE fragment ``base`` + ``imgs``."""
    xtra_base = f", {CUST_LON} AS lon, {CUST_LAT} AS lat" if coords else ""
    xtra = ", lon, lat" if coords else ""
    return f"""
    base AS (
      SELECT i, tw, th,
             CASE i % 3 WHEN 0 THEN 'raw' WHEN 1 THEN 'ppm' ELSE 'png' END AS fmt,
             tw * th * 3 - (CASE WHEN i % 97 = 0 THEN 2 ELSE 0 END) AS plen{xtra}
      FROM (SELECT c_custkey AS i, 4 + c_custkey % 5 AS tw,
                   3 + c_custkey % 4 AS th{xtra_base} FROM customer)
    ), imgs AS (
      SELECT CAST(i AS BIGINT) AS image_id, fmt,
             CASE WHEN i % 83 = 0 THEN 0 ELSE tw END AS w,
             th AS h,
             CASE
               WHEN fmt = 'raw' THEN encode(repeat('x', plen))
               WHEN fmt = 'ppm' THEN encode(
                 (CASE WHEN i % 89 = 0 THEN 'X6' ELSE 'P6' END) || chr(10) ||
                 tw || ' ' || th || chr(10) || '255' || chr(10) ||
                 repeat('x', plen))
               ELSE (CASE WHEN i % 89 = 0
                          THEN '\\x00\\x50\\x4E\\x47\\x0D\\x0A\\x1A\\x0A'::BLOB
                          ELSE '\\x89\\x50\\x4E\\x47\\x0D\\x0A\\x1A\\x0A'::BLOB END)
                    || encode(repeat('x', plen))
             END AS bytes,
             CASE WHEN i % 101 = 0 THEN ''
                  ELSE 'caption of img' || i END AS caption{xtra}
      FROM base
    )"""


# the audit CTE shared by the payload_audit and curated_tiles oracles
_PAYLOAD_AUDIT_DUCK = """
      SELECT image_id, fmt,
        CASE WHEN fmt = 'png' THEN substring(hex(bytes), 1, 16) = '89504E470D0A1A0A'
             WHEN fmt = 'ppm' THEN substring(hex(bytes), 1, 4) = '5036'
             ELSE TRUE END AS magic_ok,
        CASE WHEN fmt = 'raw' THEN octet_length(bytes) = w * h * 3
             WHEN fmt = 'ppm' THEN octet_length(bytes)
                  = 9 + length(CAST(w AS VARCHAR)) + length(CAST(h AS VARCHAR)) + w * h * 3
             ELSE octet_length(bytes) > 8 END AS len_ok,
        (w > 0 AND h > 0) AS dims_ok,
        length(caption) > 0 AS caption_ok
      FROM imgs
"""


def q_payload_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corrupt-payload quarantine over a deterministically synthesized
    binary corpus (`images.payload_audit`): per customer key, a
    raw/ppm/png payload is CONSTRUCTED in SQL on both engines —
    including injected corruption classes (truncated payloads, wrong
    magic bytes, zeroed dims, empty captions, keyed on id residues) —
    then audited map-only: magic/length/dims/caption checks, one
    quarantine verdict per row.  The gate a 10^12-image crawl runs
    before any decode touches Python; all-JVM, zero shuffles, and the
    whole thing (construction AND audit) hash-matches DuckDB."""
    from .operators.images import payload_audit

    df = read_sf(spark, sf_dir, "customer")
    df.createOrReplaceTempView("customer")
    imgs = spark.sql(_payload_corpus_spark())
    return payload_audit(imgs).orderBy("image_id")


def sql_payload_audit() -> str:
    return f"""
    WITH {_payload_corpus_duck()}, audited AS ({_PAYLOAD_AUDIT_DUCK})
    SELECT image_id, fmt,
           CAST(magic_ok AS INT) AS magic_ok,
           CAST(len_ok AS INT) AS len_ok,
           CAST(dims_ok AS INT) AS dims_ok,
           CAST(caption_ok AS INT) AS caption_ok,
           CAST(NOT (magic_ok AND len_ok AND dims_ok AND caption_ok) AS INT)
             AS quarantine
    FROM audited
    ORDER BY image_id
    """


def q_curated_tiles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The CURATION capstone: quarantine gate -> tile pyramid, end to
    end.  The synthetic binary corpus (with its injected corruption)
    carries the shared customer coordinates; the payload audit runs
    map-only, quarantined rows are dropped, survivors assign to z9
    tiles, and each tile reports total vs curated counts plus the
    curated byte volume.  One map-only prune before the single
    groupBy(tile) Exchange — at 10^12 images the quarantine costs
    nothing extra because it rides the same scan that assigns tiles.
    The whole chain (construction + audit + projection + tile math +
    aggregation) hash-matches DuckDB."""
    from .operators import tiles as T
    from .operators.images import with_payload_audit

    df = read_sf(spark, sf_dir, "customer")
    df.createOrReplaceTempView("customer")
    imgs = spark.sql(_payload_corpus_spark(coords=True))
    rows = (with_payload_audit(imgs)
            .withColumn("blen", F.length("bytes").cast("long")))
    a = T.assign_tiles(rows, [9])
    return (a.groupBy("tile_x", "tile_y")
            .agg(F.count(F.lit(1)).alias("n_total"),
                 F.sum(F.when(F.col("quarantine") == 0, 1).otherwise(0))
                  .alias("n_kept"),
                 F.sum(F.when(F.col("quarantine") == 0, F.col("blen"))
                        .otherwise(F.lit(0).cast("long")))
                  .alias("bytes_kept"))
            .select(F.col("tile_x").cast("long").alias("tile_x"),
                    F.col("tile_y").cast("long").alias("tile_y"),
                    F.col("n_total").cast("long").alias("n_total"),
                    F.col("n_kept").cast("long").alias("n_kept"),
                    F.col("bytes_kept").cast("long").alias("bytes_kept"))
            .orderBy("tile_x", "tile_y"))


def sql_curated_tiles() -> str:
    tx, ty = _sql_tile("9")
    return f"""
    WITH {_payload_corpus_duck(coords=True)},
    audited AS ({_PAYLOAD_AUDIT_DUCK}),
    rows_ AS (
      SELECT i.image_id, i.lon, i.lat, octet_length(i.bytes) AS blen,
             CASE WHEN a.magic_ok AND a.len_ok AND a.dims_ok AND a.caption_ok
                  THEN 0 ELSE 1 END AS quarantine
      FROM imgs i JOIN audited a ON a.image_id = i.image_id
    ), proj AS (
      SELECT image_id, blen, quarantine,
             {_SQL_X} AS x3857, {_SQL_Y} AS y3857
      FROM rows_
    ), t AS (
      SELECT image_id, blen, quarantine, {tx} AS tile_x, {ty} AS tile_y
      FROM proj
    )
    SELECT CAST(tile_x AS BIGINT) AS tile_x,
           CAST(tile_y AS BIGINT) AS tile_y,
           CAST(COUNT(*) AS BIGINT) AS n_total,
           CAST(SUM(CASE WHEN quarantine = 0 THEN 1 ELSE 0 END) AS BIGINT)
             AS n_kept,
           CAST(SUM(CASE WHEN quarantine = 0 THEN blen ELSE 0 END) AS BIGINT)
             AS bytes_kept
    FROM t GROUP BY tile_x, tile_y
    ORDER BY tile_x, tile_y
    """


def q_wap_publish(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Batch twin of the audited streaming publish (streaming/wap.py):
    the synthetic corrupt corpus splits into 4 deterministic micro-
    batches (image_id % 4), the payload audit quarantines corrupt rows,
    survivors assign to z9 tiles, and the FINAL published view reports
    per tile the clean feature count plus its snapshot lifecycle —
    n_batches (how many staged->published snapshots re-encoded it) and
    the first/last batch that touched it.  The streaming run over the
    same corpus is pytest-pinned equal (test_stream_wap.py), so the
    oracle transitively checks the stream's publish decisions."""
    from .operators.images import with_payload_audit

    df = read_sf(spark, sf_dir, "customer")
    df.createOrReplaceTempView("customer")
    imgs = spark.sql(_payload_corpus_spark(coords=True))
    clean = (with_payload_audit(imgs)
             .filter(F.col("quarantine") == 0)
             .withColumn("batch_id", F.col("image_id") % F.lit(4)))
    a = T.assign_tiles(clean, [9])
    return (a.groupBy("tile_x", "tile_y")
            .agg(F.count(F.lit(1)).alias("n_features"),
                 F.countDistinct("batch_id").alias("n_batches"),
                 F.min("batch_id").alias("first_batch"),
                 F.max("batch_id").alias("last_batch"))
            .select(F.col("tile_x").cast("long").alias("tile_x"),
                    F.col("tile_y").cast("long").alias("tile_y"),
                    F.col("n_features").cast("long").alias("n_features"),
                    F.col("n_batches").cast("long").alias("n_batches"),
                    F.col("first_batch").cast("long").alias("first_batch"),
                    F.col("last_batch").cast("long").alias("last_batch"))
            .orderBy("tile_x", "tile_y"))


def sql_wap_publish() -> str:
    tx, ty = _sql_tile("9")
    return f"""
    WITH {_payload_corpus_duck(coords=True)},
    audited AS ({_PAYLOAD_AUDIT_DUCK}),
    clean AS (
      SELECT i.image_id, i.lon, i.lat, i.image_id % 4 AS batch_id
      FROM imgs i JOIN audited a ON a.image_id = i.image_id
      WHERE a.magic_ok AND a.len_ok AND a.dims_ok AND a.caption_ok
    ), proj AS (
      SELECT image_id, batch_id, {_SQL_X} AS x3857, {_SQL_Y} AS y3857
      FROM clean
    ), t AS (
      SELECT image_id, batch_id, {tx} AS tile_x, {ty} AS tile_y FROM proj
    )
    SELECT CAST(tile_x AS BIGINT) AS tile_x,
           CAST(tile_y AS BIGINT) AS tile_y,
           CAST(COUNT(*) AS BIGINT) AS n_features,
           CAST(COUNT(DISTINCT batch_id) AS BIGINT) AS n_batches,
           CAST(MIN(batch_id) AS BIGINT) AS first_batch,
           CAST(MAX(batch_id) AS BIGINT) AS last_batch
    FROM t GROUP BY tile_x, tile_y
    ORDER BY tile_x, tile_y
    """


def q_dirty_pyramid(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Dirty-tile closure for incremental pyramid maintenance
    (plans/lineage.refresh_dirty_tiles): a deterministic delta subset
    (c_custkey % 17 == 0 — the rows an update batch touched) is pushed
    through the BUFFERED assignment at every pyramid zoom, and each
    zoom reports how many occupied tiles the delta dirties — the
    re-encode amplification an incremental refresh pays (at z0
    everything is one tile => 1000 permille; at z14 the delta touches
    a tiny slice).  Single scan: one buffered fan-out carries the
    is_delta flag, per-tile max(flag) marks dirty, one rollup per zoom.
    Byte-level refresh equality is pinned in test_lineage.py."""
    pts = _customer_points(spark, sf_dir).withColumn(
        "is_delta", (F.col("c_custkey") % 17 == 0).cast("int"))
    a = T.assign_tiles_buffered(pts, zooms=list(ZOOMS),
                                extent=ENC_EXTENT, buffer=ENC_BUFFER)
    per_tile = (a.groupBy("zoom", "tile_x", "tile_y")
                .agg(F.max("is_delta").alias("dirty")))
    return (per_tile.groupBy("zoom")
            .agg(F.count(F.lit(1)).alias("n_occupied"),
                 F.sum("dirty").alias("n_dirty"))
            .select(F.col("zoom").cast("long").alias("zoom"),
                    F.col("n_occupied").cast("long").alias("n_occupied"),
                    F.col("n_dirty").cast("long").alias("n_dirty"),
                    F.expr("CAST(n_dirty * 1000 AS BIGINT) DIV n_occupied")
                    .alias("dirty_permille"))
            .orderBy("zoom"))


def sql_dirty_pyramid() -> str:
    pad = float(ENC_BUFFER) / float(ENC_EXTENT)
    blocks = []
    for z in ZOOMS:
        n = 2 ** z
        res = 2.0 * MAX_EXTENTS / n
        blocks.append(f"""
      SELECT {z} AS zoom, bx + s.dx AS tile_x, by + s.dy AS tile_y, is_delta
      FROM (
        SELECT is_delta,
               (x3857 + {MAX_EXTENTS}) / {res} AS fx,
               ({MAX_EXTENTS} - y3857) / {res} AS fy,
               least(cast(floor((x3857 + {MAX_EXTENTS}) / {res}) as bigint), {n - 1}) AS bx,
               least(cast(floor(({MAX_EXTENTS} - y3857) / {res}) as bigint), {n - 1}) AS by
        FROM proj
      ) f CROSS JOIN (VALUES (-1,-1),(-1,0),(-1,1),(0,-1),(0,0),(0,1),(1,-1),(1,0),(1,1)) AS s(dx, dy)
      WHERE bx + s.dx >= 0 AND by + s.dy >= 0
        AND bx + s.dx < {n} AND by + s.dy < {n}
        AND fx >= (bx + s.dx) - {pad} AND fx <= (bx + s.dx) + 1 + {pad}
        AND fy >= (by + s.dy) - {pad} AND fy <= (by + s.dy) + 1 + {pad}""")
    fanned = "\n      UNION ALL\n".join(blocks)
    return f"""
    WITH pts AS (
      SELECT CASE WHEN c_custkey % 17 = 0 THEN 1 ELSE 0 END AS is_delta,
             {CUST_LON} AS lon, {CUST_LAT} AS lat
      FROM customer
    ), proj AS (
      SELECT is_delta, {_SQL_X} AS x3857, {_SQL_Y} AS y3857 FROM pts
    ), fanned AS ({fanned}
    ), per_tile AS (
      SELECT zoom, tile_x, tile_y, MAX(is_delta) AS dirty
      FROM fanned GROUP BY zoom, tile_x, tile_y
    )
    SELECT CAST(zoom AS BIGINT) AS zoom,
           CAST(COUNT(*) AS BIGINT) AS n_occupied,
           CAST(SUM(dirty) AS BIGINT) AS n_dirty,
           CAST(SUM(dirty) * 1000 // COUNT(*) AS BIGINT) AS dirty_permille
    FROM per_tile GROUP BY zoom
    ORDER BY zoom
    """


def q_cross_k(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bivariate cross-K between customer points (A) and supplier
    points (B) on the integer-millidegree plane: per ladder rung the
    exact ordered (a, b) pair count within r and
    k_ab = area*n_pairs/(n_a*n_b) (`colocation.cross_k`)."""
    from .operators.colocation import cross_k

    cust = read_sf(spark, sf_dir, "customer").select(
        F.expr("c_custkey * 7919 % 360000").alias("x"),
        F.expr("(c_custkey * 104729 + 13) % 170000").alias("y"))
    supp = read_sf(spark, sf_dir, "supplier").select(
        F.expr(SUPP_XI).alias("x"), F.expr(SUPP_YI).alias("y"))
    return cross_k(cust, supp, RIPLEY_RADII).orderBy("r")


def sql_cross_k() -> str:
    area = 360000 * 170000
    values = ", ".join(f"({r})" for r in RIPLEY_RADII)
    return f"""
    WITH a AS (
      SELECT c_custkey * 7919 % 360000 AS x,
             (c_custkey * 104729 + 13) % 170000 AS y
      FROM customer
    ),
    b AS (
      SELECT {SUPP_XI} AS x, {SUPP_YI} AS y FROM supplier
    ),
    pr AS (
      SELECT (a.x - b.x) * (a.x - b.x) + (a.y - b.y) * (a.y - b.y) AS d2
      FROM a CROSS JOIN b
    ),
    na AS (SELECT COUNT(*) AS n_a FROM a),
    nb AS (SELECT COUNT(*) AS n_b FROM b)
    SELECT CAST(r.r AS BIGINT) AS r,
           CAST(COALESCE(SUM(CASE WHEN pr.d2 <= r.r * r.r THEN 1 END), 0)
                AS BIGINT) AS n_pairs,
           (SELECT CAST(n_a AS BIGINT) FROM na) AS n_a,
           (SELECT CAST(n_b AS BIGINT) FROM nb) AS n_b,
           CAST(CAST({area} AS BIGINT)
                * COALESCE(SUM(CASE WHEN pr.d2 <= r.r * r.r THEN 1 END), 0)
                AS DOUBLE)
             / CAST((SELECT n_a FROM na) * (SELECT n_b FROM nb) AS DOUBLE)
               AS k_ab
    FROM (VALUES {values}) AS r(r) LEFT JOIN pr ON TRUE
    GROUP BY r.r
    ORDER BY r
    """


def q_quadrat_chi2(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Quadrat-count chi-square CSR test over customer points on the
    16x16 millidegree lattice: exact integer chi2_num/chi2_den, the
    chi2 double, dof (`hotspots.quadrat_chi2`)."""
    from .operators import hotspots as HOT

    df = read_sf(spark, sf_dir, "customer")
    pts = df.select(
        F.expr("c_custkey * 7919 % 360000").alias("x"),
        F.expr("(c_custkey * 104729 + 13) % 170000").alias("y"))
    return HOT.quadrat_chi2(pts, MORAN_GRID)


def sql_quadrat_chi2() -> str:
    g = MORAN_GRID
    n = g * g
    cw = 360000 // g
    ch = 170000 // g
    return f"""
    WITH p AS (
      SELECT c_custkey * 7919 % 360000 AS x,
             (c_custkey * 104729 + 13) % 170000 AS y
      FROM customer
    ),
    counts AS (
      SELECT x // {cw} AS cell_x, y // {ch} AS cell_y, COUNT(*) AS n_pts
      FROM p GROUP BY 1, 2
    ),
    skel AS (
      SELECT i % {g} AS cell_x, i // {g} AS cell_y
      FROM (SELECT UNNEST(range(0, {n})) AS i)
    ),
    cells AS (
      SELECT COALESCE(c.n_pts, 0) AS n_pts
      FROM skel s LEFT JOIN counts c USING (cell_x, cell_y)
    ),
    tot AS (SELECT SUM(n_pts) AS s FROM cells)
    SELECT CAST({n} AS BIGINT) AS n_cells,
           CAST((SELECT s FROM tot) AS BIGINT) AS n_points,
           CAST(SUM(({n} * n_pts - (SELECT s FROM tot))
                    * ({n} * n_pts - (SELECT s FROM tot))) AS BIGINT)
               AS chi2_num,
           CAST({n} * (SELECT s FROM tot) AS BIGINT) AS chi2_den,
           CAST(CAST(SUM(({n} * n_pts - (SELECT s FROM tot))
                         * ({n} * n_pts - (SELECT s FROM tot)))
                     AS BIGINT) AS DOUBLE)
             / CAST(CAST({n} * (SELECT s FROM tot) AS BIGINT) AS DOUBLE)
               AS chi2,
           CAST({n - 1} AS BIGINT) AS dof
    FROM cells
    """


MORAN_GRID = 16  # LISA lattice: 16x16 cells over the millidegree space


def q_local_moran(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Local Moran's I (Anselin LISA) over per-cell customer counts on
    a 16x16 integer-millidegree lattice: num/den exact integers, one
    final long->double division (`hotspots.local_moran`)."""
    from .operators import hotspots as HOT

    df = read_sf(spark, sf_dir, "customer")
    pts = df.select(
        F.expr("c_custkey * 7919 % 360000").alias("x"),
        F.expr("(c_custkey * 104729 + 13) % 170000").alias("y"))
    return HOT.local_moran(pts, MORAN_GRID).orderBy("cell_x", "cell_y")


def sql_local_moran() -> str:
    g = MORAN_GRID
    n = g * g
    cw = 360000 // g
    ch = 170000 // g
    return f"""
    WITH p AS (
      SELECT c_custkey * 7919 % 360000 AS x,
             (c_custkey * 104729 + 13) % 170000 AS y
      FROM customer
    ),
    counts AS (
      SELECT x // {cw} AS cell_x, y // {ch} AS cell_y, COUNT(*) AS n_pts
      FROM p GROUP BY 1, 2
    ),
    skel AS (
      SELECT i % {g} AS cell_x, i // {g} AS cell_y
      FROM (SELECT UNNEST(range(0, {n})) AS i)
    ),
    cells AS (
      SELECT s.cell_x, s.cell_y, COALESCE(c.n_pts, 0) AS n_pts
      FROM skel s LEFT JOIN counts c USING (cell_x, cell_y)
    ),
    gtot AS (
      SELECT SUM(n_pts) AS s,
             {n} * SUM(n_pts * n_pts) - SUM(n_pts) * SUM(n_pts) AS den
      FROM cells
    ),
    dev AS (
      SELECT cell_x, cell_y, n_pts, den, {n} * n_pts - s AS d
      FROM cells, gtot
    ),
    lg AS (
      SELECT (d.cell_x + o.dx + {g}) % {g} AS cell_x,
             d.cell_y + o.dy AS cell_y, SUM(d.d) AS lag
      FROM dev d CROSS JOIN (VALUES (-1,-1),(-1,0),(-1,1),(0,-1),(0,1),
                                    (1,-1),(1,0),(1,1)) AS o(dx, dy)
      WHERE d.cell_y + o.dy BETWEEN 0 AND {g - 1}
      GROUP BY 1, 2
    )
    SELECT CAST(dev.cell_x AS BIGINT) AS cell_x,
           CAST(dev.cell_y AS BIGINT) AS cell_y,
           CAST(dev.n_pts AS BIGINT) AS n_pts,
           CAST(dev.d * COALESCE(lg.lag, 0) AS BIGINT) AS num,
           CAST(dev.den AS BIGINT) AS den,
           CAST(CAST(dev.d * COALESCE(lg.lag, 0) AS BIGINT) AS DOUBLE)
             / CAST(CAST(dev.den AS BIGINT) AS DOUBLE) AS local_i
    FROM dev LEFT JOIN lg USING (cell_x, cell_y)
    ORDER BY cell_x, cell_y
    """


def _sql_lattice_cells() -> str:
    """Shared oracle CTE chain ending in ``cells`` (cell_x, cell_y,
    n_pts over the FULL MORAN_GRID lattice, empty cells included) —
    the DuckDB twin of ``autocorr.lattice_cells`` on the synthetic
    integer-millidegree customer points."""
    g = MORAN_GRID
    n = g * g
    cw = 360000 // g
    ch = 170000 // g
    return f"""
    WITH p AS (
      SELECT c_custkey * 7919 % 360000 AS x,
             (c_custkey * 104729 + 13) % 170000 AS y
      FROM customer
    ),
    counts AS (
      SELECT x // {cw} AS cell_x, y // {ch} AS cell_y, COUNT(*) AS n_pts
      FROM p GROUP BY 1, 2
    ),
    skel AS (
      SELECT i % {g} AS cell_x, i // {g} AS cell_y
      FROM (SELECT UNNEST(range(0, {n})) AS i)
    ),
    cells AS (
      SELECT s.cell_x, s.cell_y, COALESCE(c.n_pts, 0) AS n_pts
      FROM skel s LEFT JOIN counts c USING (cell_x, cell_y)
    )"""


_SQL_QUEEN8 = ("(VALUES (-1,-1),(-1,0),(-1,1),(0,-1),(0,1),"
               "(1,-1),(1,0),(1,1)) AS o(dx, dy)")
_SQL_QUEEN9 = ("(VALUES (-1,-1),(-1,0),(-1,1),(0,-1),(0,0),(0,1),"
               "(1,-1),(1,0),(1,1)) AS o(dx, dy)")


def _lattice_points(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The synthetic integer-millidegree point cloud every lattice
    statistic runs on (same generator as `local_moran`)."""
    df = read_sf(spark, sf_dir, "customer")
    return df.select(
        F.expr("c_custkey * 7919 % 360000").alias("x"),
        F.expr("(c_custkey * 104729 + 13) % 170000").alias("y"))


def q_global_autocorr(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Global Moran's I + Geary's C over the per-cell counts, one row
    of exact-integer fractions (`autocorr.global_autocorr`): the
    study-area-wide "is activity spatially clustered?" yes/no the
    per-cell LISA (`local_moran`) localizes."""
    from .operators import autocorr as AC

    return AC.global_autocorr(_lattice_points(spark, sf_dir), MORAN_GRID)


def sql_global_autocorr() -> str:
    g = MORAN_GRID
    n = g * g
    return _sql_lattice_cells() + f""",
    gstats AS (
      SELECT SUM(n_pts) AS s, SUM(n_pts * n_pts) AS sq FROM cells
    ),
    dev AS (
      SELECT cell_x, cell_y, n_pts, s, {n} * n_pts - s AS d
      FROM cells, gstats
    ),
    recv AS (
      SELECT (c.cell_x + o.dx + {g}) % {g} AS cell_x,
             c.cell_y + o.dy AS cell_y,
             COUNT(*) AS w_i, SUM(c.n_pts) AS sx_j,
             SUM(c.n_pts * c.n_pts) AS sxx_j
      FROM cells c CROSS JOIN {_SQL_QUEEN8}
      WHERE c.cell_y + o.dy BETWEEN 0 AND {g - 1}
      GROUP BY 1, 2
    ),
    pc AS (
      SELECT d.s, r.w_i,
             d.d * ({n} * r.sx_j - r.w_i * d.s) AS cross_i,
             d.d * d.d AS dsq,
             r.w_i * d.n_pts * d.n_pts - 2 * d.n_pts * r.sx_j + r.sxx_j
               AS g_i
      FROM dev d JOIN recv r USING (cell_x, cell_y)
    ),
    a AS (
      SELECT MAX(s) AS s, SUM(w_i) AS w, SUM(cross_i) AS crs,
             SUM(dsq) AS ssd, SUM(g_i) AS gsum
      FROM pc
    )
    SELECT CAST({n} AS BIGINT) AS n_cells,
           CAST(s AS BIGINT) AS n_points,
           CAST(w AS BIGINT) AS w_joins,
           CAST({n} * crs AS BIGINT) AS i_num,
           CAST(w * ssd AS BIGINT) AS i_den,
           CASE WHEN w * ssd = 0 THEN CAST(0 AS DOUBLE)
                ELSE CAST(CAST({n} * crs AS BIGINT) AS DOUBLE)
                   / CAST(CAST(w * ssd AS BIGINT) AS DOUBLE)
           END AS moran_i,
           CAST({(n - 1) * n * n} * gsum AS BIGINT) AS c_num,
           CAST(2 * w * ssd AS BIGINT) AS c_den,
           CASE WHEN 2 * w * ssd = 0 THEN CAST(0 AS DOUBLE)
                ELSE CAST(CAST({(n - 1) * n * n} * gsum AS BIGINT)
                          AS DOUBLE)
                   / CAST(CAST(2 * w * ssd AS BIGINT) AS DOUBLE)
           END AS geary_c
    FROM a
    """


def q_getis_ord(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Getis-Ord Gi* hot/cold-spot z-surface per lattice cell, exact
    squared fraction + one correctly-rounded sqrt
    (`autocorr.getis_ord`) — the statistical upgrade of
    `hotspot_clusters` thresholding."""
    from .operators import autocorr as AC

    return (AC.getis_ord(_lattice_points(spark, sf_dir), MORAN_GRID)
            .orderBy("cell_x", "cell_y"))


def sql_getis_ord() -> str:
    g = MORAN_GRID
    n = g * g
    return _sql_lattice_cells() + f""",
    gstats AS (
      SELECT SUM(n_pts) AS s, SUM(n_pts * n_pts) AS sq FROM cells
    ),
    recv AS (
      SELECT (c.cell_x + o.dx + {g}) % {g} AS cell_x,
             c.cell_y + o.dy AS cell_y,
             COUNT(*) AS w_i, SUM(c.n_pts) AS l_i
      FROM cells c CROSS JOIN {_SQL_QUEEN9}
      WHERE c.cell_y + o.dy BETWEEN 0 AND {g - 1}
      GROUP BY 1, 2
    )
    SELECT CAST(c.cell_x AS BIGINT) AS cell_x,
           CAST(c.cell_y AS BIGINT) AS cell_y,
           CAST(c.n_pts AS BIGINT) AS n_pts,
           CAST(r.w_i AS BIGINT) AS w_i,
           CAST(r.l_i AS BIGINT) AS l_i,
           CAST({n} * r.l_i - r.w_i * gl.s AS BIGINT) AS gi_num,
           CAST(({n} * r.l_i - r.w_i * gl.s)
                * ({n} * r.l_i - r.w_i * gl.s) * {n - 1} AS BIGINT)
             AS gi2_num,
           CAST(({n} * gl.sq - gl.s * gl.s)
                * ({n} * r.w_i - r.w_i * r.w_i) AS BIGINT) AS gi2_den,
           CASE WHEN ({n} * gl.sq - gl.s * gl.s)
                     * ({n} * r.w_i - r.w_i * r.w_i) = 0
                THEN CAST(0 AS DOUBLE)
                WHEN {n} * r.l_i - r.w_i * gl.s < 0
                THEN -sqrt(CAST(CAST(({n} * r.l_i - r.w_i * gl.s)
                                     * ({n} * r.l_i - r.w_i * gl.s)
                                     * {n - 1} AS BIGINT) AS DOUBLE)
                           / CAST(CAST(({n} * gl.sq - gl.s * gl.s)
                                       * ({n} * r.w_i - r.w_i * r.w_i)
                                       AS BIGINT) AS DOUBLE))
                ELSE sqrt(CAST(CAST(({n} * r.l_i - r.w_i * gl.s)
                                    * ({n} * r.l_i - r.w_i * gl.s)
                                    * {n - 1} AS BIGINT) AS DOUBLE)
                          / CAST(CAST(({n} * gl.sq - gl.s * gl.s)
                                      * ({n} * r.w_i - r.w_i * r.w_i)
                                      AS BIGINT) AS DOUBLE))
           END AS gi_star
    FROM cells c JOIN recv r USING (cell_x, cell_y)
    CROSS JOIN gstats gl
    ORDER BY cell_x, cell_y
    """


# supplier-derived rectangle zones for areal interpolation (bounds
# chosen so x1 <= 360000 and y1 <= 170000 — no wrap, cells in-grid)
_ZONE_SPARK = {
    "x0": "s_suppkey * 52361 % 300000",
    "w": "5000 + (s_suppkey * 7907) % 55000",
    "y0": "(s_suppkey * 104729 + 7) % 130000",
    "h": "5000 + (s_suppkey * 7919) % 35000",
    "total": "1000 + s_suppkey % 9000",
}


def q_areal_interp(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Areal interpolation (`areal.areal_interp`): supplier-derived
    rectangle zones redistribute their integer totals onto the
    MORAN_GRID lattice by exact overlap-area share (1e6-scaled floor).
    Oracle: the LITERAL zones x cells cross join — proves the
    sequence-explode blocking touches exactly the covered cells."""
    from .operators.areal import areal_interp

    z = _ZONE_SPARK
    zones = read_sf(spark, sf_dir, "supplier").select(
        F.col("s_suppkey").cast("long").alias("zone_id"),
        F.expr(z["x0"]).cast("long").alias("x0"),
        F.expr(f"({z['x0']}) + ({z['w']})").cast("long").alias("x1"),
        F.expr(z["y0"]).cast("long").alias("y0"),
        F.expr(f"({z['y0']}) + ({z['h']})").cast("long").alias("y1"),
        F.expr(z["total"]).cast("long").alias("total"))
    return (areal_interp(zones, MORAN_GRID)
            .orderBy("cell_x", "cell_y"))


def sql_areal_interp() -> str:
    g = MORAN_GRID
    n = g * g
    cw = 360000 // g
    ch = 170000 // g
    z = _ZONE_SPARK
    ovx = (f"(LEAST(x1, (s.cell_x + 1) * {cw})"
           f" - GREATEST(x0, s.cell_x * {cw}))")
    ovy = (f"(LEAST(y1, (s.cell_y + 1) * {ch})"
           f" - GREATEST(y0, s.cell_y * {ch}))")
    return f"""
    WITH zones AS (
      SELECT CAST({z['x0']} AS BIGINT) AS x0,
             CAST(({z['x0']}) + ({z['w']}) AS BIGINT) AS x1,
             CAST({z['y0']} AS BIGINT) AS y0,
             CAST(({z['y0']}) + ({z['h']}) AS BIGINT) AS y1,
             CAST({z['total']} AS BIGINT) AS total,
             CAST((({z['x0']}) + ({z['w']}) - ({z['x0']}))
                  * (({z['y0']}) + ({z['h']}) - ({z['y0']})) AS BIGINT)
               AS zarea
      FROM supplier
    ),
    skel AS (
      SELECT i % {g} AS cell_x, i // {g} AS cell_y
      FROM (SELECT UNNEST(range(0, {n})) AS i)
    ),
    pieces AS (
      SELECT s.cell_x, s.cell_y,
             {ovx} AS ox, {ovy} AS oy, total, zarea
      FROM skel s CROSS JOIN zones
      WHERE {ovx} > 0 AND {ovy} > 0
    )
    SELECT CAST(s.cell_x AS BIGINT) AS cell_x,
           CAST(s.cell_y AS BIGINT) AS cell_y,
           CAST(COALESCE(p.n_zones, 0) AS BIGINT) AS n_zones,
           CAST(COALESCE(p.alloc_e6, 0) AS BIGINT) AS alloc_e6
    FROM skel s LEFT JOIN (
      SELECT cell_x, cell_y, COUNT(*) AS n_zones,
             SUM((total * ox * oy // zarea) * 1000000
                 + (total * ox * oy % zarea) * 1000000 // zarea)
               AS alloc_e6
      FROM pieces GROUP BY cell_x, cell_y
    ) p USING (cell_x, cell_y)
    ORDER BY cell_x, cell_y
    """


KDE_RADIUS = 30000  # millidegrees: ~1.3 cells at the MORAN_GRID pitch


HRW_SHARDS = 16
# per-(key, shard) weight: (masked_key + shard + 1) Knuth-multiplied,
# folded to 31 bits (the fold is what makes the weight NON-linear in
# the shard — a single multiply-add is monotone in s and HRW
# degenerates to "largest shard always wins"), then spread by a
# second odd prime.  Every intermediate < 2^63 on both engines:
# (2^31+17)*2654435761 ~ 5.7e18, (2^31)*2246822519 ~ 4.8e18.
_HRW_W = ("(((((doc_id % 2147483648 + 2147483648) % 2147483648"
          " + {s} + 1) * 2654435761) % 2147483648 + 1) * 2246822519)")


def _hrw_pick(n: int) -> str:
    """SQL argmax over ``n`` shards: highest weight wins, ties to the
    smaller shard id (array_max over (weight, n-1-shard) structs; the
    reversed second field makes struct-max prefer LOWER shards)."""
    entries = ", ".join(
        f"struct({_HRW_W.format(s=s)} AS w, {n - 1 - s} AS r)"
        for s in range(n))
    return f"({n - 1} - array_max(array({entries})).r)"


def q_hrw_shards(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Rendezvous (highest-random-weight) sharding over document ids
    — the elastic-routing primitive for a 1000-executor ingest: every
    key independently ranks all shards by a salted hash and takes the
    max, so adding shard N+1 moves ONLY the keys whose new weight
    wins (~1/(N+1) of them) and they ALL move to the new shard —
    no reshuffle storm.  Emitted per doc: the 16-shard pick, the
    17-shard pick, and the moved flag; the invariant 'moved => new
    shard' is test-pinned and the whole mapping is hash-exact.

    Map-only Column math (two literal argmax folds per row) — zero
    shuffles before the driver's orderBy."""
    docs = read_sf(spark, sf_dir, "documents")
    s16 = _hrw_pick(HRW_SHARDS)
    s17 = _hrw_pick(HRW_SHARDS + 1)
    return (docs.select(F.col("doc_id").cast("long").alias("doc_id"),
                        F.expr(s16).cast("int").alias("shard16"),
                        F.expr(s17).cast("int").alias("shard17"))
            .withColumn("moved",
                        (F.col("shard16") != F.col("shard17"))
                        .cast("int"))
            .orderBy("doc_id"))


def sql_hrw_shards() -> str:
    # DuckDB lacks array_max-of-structs ordering guarantees; use the
    # classic VALUES + row_number argmax instead (same weights, same
    # (weight desc, shard asc) rule)
    w = _HRW_W.format(s="s.s")
    shards16 = ", ".join(f"({s})" for s in range(HRW_SHARDS))
    shards17 = ", ".join(f"({s})" for s in range(HRW_SHARDS + 1))
    return f"""
    WITH d AS (SELECT doc_id FROM documents),
    p16 AS (
      SELECT doc_id, s.s AS shard,
             row_number() OVER (PARTITION BY doc_id
                                ORDER BY {w} DESC, s.s) AS rn
      FROM d CROSS JOIN (VALUES {shards16}) AS s(s)
    ),
    p17 AS (
      SELECT doc_id, s.s AS shard,
             row_number() OVER (PARTITION BY doc_id
                                ORDER BY {w} DESC, s.s) AS rn
      FROM d CROSS JOIN (VALUES {shards17}) AS s(s)
    )
    SELECT CAST(d.doc_id AS BIGINT) AS doc_id,
           CAST(a.shard AS INT) AS shard16,
           CAST(b.shard AS INT) AS shard17,
           CAST(CASE WHEN a.shard <> b.shard THEN 1 ELSE 0 END AS INT)
             AS moved
    FROM d
    JOIN p16 a ON a.doc_id = d.doc_id AND a.rn = 1
    JOIN p17 b ON b.doc_id = d.doc_id AND b.rn = 1
    ORDER BY doc_id
    """


POI_EPS = 20_000_000   # microdegrees (~20 deg at this synthetic scale)
POI_MIN_PTS = 3
POI_ID_SHIFT = 1 << 20  # point_id = user_id * SHIFT + seg (seg << SHIFT)


def q_poi_discovery(spark: SparkSession, sf_dir: str) -> DataFrame:
    """POI discovery — the flagship mobility COMPOSITION: stay-point
    detection (`trajectories.stay_points`, exact integer-microdegree
    centroids) feeds exact DBSCAN (`dbscan.dbscan`, shifted to
    non-negative coords so both engines floor-div identically), and
    clusters aggregate into places: per POI the stay count, DISTINCT
    visitor count, total dwell, and the exact integer centroid-of-
    centroids.  Noise stays (no dense neighborhood) are excluded —
    that is DBSCAN's point.

    Scale shape: stay_points is one user-keyed Exchange over raw
    pings; DBSCAN runs on the STAY table (orders of magnitude smaller
    than pings); the POI aggregate is cluster-bounded."""
    from .operators.dbscan import dbscan

    stays = q_stay_points(spark, sf_dir).select(
        (F.col("user_id") * POI_ID_SHIFT + F.col("seg")).alias("point_id"),
        F.col("user_id"), F.col("dwell_s"),
        (F.col("c_lon_udeg") + 180_000_000).alias("x"),
        (F.col("c_lat_udeg") + 85_000_000).alias("y"))
    labeled = dbscan(stays.select("point_id", "x", "y"),
                     POI_EPS, POI_MIN_PTS)
    return (stays.join(labeled.select("point_id", "cluster"), "point_id")
            .filter(F.col("cluster") >= 0)
            .groupBy("cluster")
            .agg(F.count(F.lit(1)).alias("n_stays"),
                 F.countDistinct("user_id").alias("n_users"),
                 F.sum("dwell_s").alias("dwell_s"),
                 F.expr("sum(x) div count(1)").alias("cx"),
                 F.expr("sum(y) div count(1)").alias("cy"))
            .select(F.col("cluster").cast("long").alias("poi_id"),
                    F.col("n_stays").cast("long"),
                    F.col("n_users").cast("long"),
                    F.col("dwell_s").cast("long"),
                    F.col("cx").cast("long"), F.col("cy").cast("long"))
            .orderBy("poi_id"))


def sql_poi_discovery() -> str:
    eps2 = POI_EPS * POI_EPS
    return f"""
    WITH RECURSIVE sp AS ({sql_stay_points()}),
    pts AS (
      SELECT user_id * {POI_ID_SHIFT} + seg AS id, user_id, dwell_s,
             c_lon_udeg + 180000000 AS x, c_lat_udeg + 85000000 AS y
      FROM sp
    ),
    nbr AS (
      SELECT a.id AS ia, b.id AS ib
      FROM pts a JOIN pts b
        ON a.id <> b.id
       AND (a.x - b.x) * (a.x - b.x) + (a.y - b.y) * (a.y - b.y)
           <= {eps2}
    ),
    deg AS (SELECT ia AS id, COUNT(*) AS n FROM nbr GROUP BY ia),
    core AS (
      SELECT p.id FROM pts p LEFT JOIN deg ON deg.id = p.id
      WHERE COALESCE(deg.n, 0) + 1 >= {POI_MIN_PTS}
    ),
    ce AS (
      SELECT ia, ib FROM nbr
      WHERE ia IN (SELECT id FROM core) AND ib IN (SELECT id FROM core)
    ),
    reach(node, r) AS (
      SELECT ia, ib FROM ce
      UNION
      SELECT reach.node, ce.ib FROM reach JOIN ce ON reach.r = ce.ia
    ),
    comp AS (
      SELECT node, least(node, MIN(r)) AS component FROM reach GROUP BY node
    ),
    corelab AS (
      SELECT core.id, COALESCE(comp.component, core.id) AS cluster
      FROM core LEFT JOIN comp ON comp.node = core.id
    ),
    borderlab AS (
      SELECT nbr.ia AS id, MIN(corelab.cluster) AS cluster
      FROM nbr JOIN corelab ON corelab.id = nbr.ib
      WHERE nbr.ia NOT IN (SELECT id FROM core)
      GROUP BY nbr.ia
    ),
    lab AS (
      SELECT id, cluster FROM corelab
      UNION ALL SELECT id, cluster FROM borderlab
    )
    SELECT CAST(lab.cluster AS BIGINT) AS poi_id,
           CAST(COUNT(*) AS BIGINT) AS n_stays,
           CAST(COUNT(DISTINCT pts.user_id) AS BIGINT) AS n_users,
           CAST(SUM(pts.dwell_s) AS BIGINT) AS dwell_s,
           CAST(SUM(pts.x) // COUNT(*) AS BIGINT) AS cx,
           CAST(SUM(pts.y) // COUNT(*) AS BIGINT) AS cy
    FROM lab JOIN pts ON pts.id = lab.id
    GROUP BY lab.cluster
    ORDER BY poi_id
    """


HW_GRID = 16
HW_MIN_PINGS = 3


def q_home_work(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Home/work anchor inference — the classic mobility labeling:
    per user, 'home' is the modal cell among NIGHT pings (hour 22-6)
    and 'work' the modal cell among MIDDAY pings (hour 10-16), each
    with the deterministic (count desc, cell asc) tie rule and a
    minimum-ping support gate; users below support on a class emit
    NULL for it (kept, flagged).  All integers + the same min-struct
    argmax the caption/label votes use — hash-exact.

    Scale shape: ONE partial-agg'd Exchange builds (user, class,
    cell) counts from raw pings; both argmaxes and the final pivot
    run on that user-bounded table."""
    g = HW_GRID
    cw, ch = 360000 // g, 170000 // g
    ev = read_sf(spark, sf_dir, "events").select(
        "user_id",
        (F.expr(f"(event_id * 3571 % 360000) div {cw}") * g
         + F.expr(f"((event_id * 9973 + 7) % 170000) div {ch}"))
        .alias("cell"),
        F.hour("ts").alias("hh"))
    classed = ev.withColumn(
        "cls",
        F.when((F.col("hh") >= 22) | (F.col("hh") < 6), F.lit("home"))
         .when((F.col("hh") >= 10) & (F.col("hh") < 16), F.lit("work")))
    cnt = (classed.filter(F.col("cls").isNotNull())
           .groupBy("user_id", "cls", "cell")
           .agg(F.count(F.lit(1)).alias("n")))
    tot = cnt.groupBy("user_id", "cls").agg(F.sum("n").alias("tot"))
    best = (cnt.groupBy("user_id", "cls")
            .agg(F.min(F.struct((-F.col("n")).alias("_n"),
                                F.col("cell").alias("_c"))).alias("_m"))
            .join(tot, ["user_id", "cls"])
            .filter(F.col("tot") >= HW_MIN_PINGS)
            .select("user_id", "cls",
                    F.col("_m._c").alias("cell"),
                    (-F.col("_m._n")).alias("n"), "tot"))
    home = best.filter("cls = 'home'").select(
        "user_id", F.col("cell").alias("home_cell"),
        F.col("n").alias("home_n"), F.col("tot").alias("night_pings"))
    work = best.filter("cls = 'work'").select(
        "user_id", F.col("cell").alias("work_cell"),
        F.col("n").alias("work_n"), F.col("tot").alias("day_pings"))
    users = ev.select("user_id").distinct()
    return (users.join(home, "user_id", "left")
            .join(work, "user_id", "left")
            .select(F.col("user_id").cast("long"),
                    F.col("home_cell").cast("long"),
                    F.coalesce("home_n", F.lit(0)).cast("long")
                    .alias("home_n"),
                    F.coalesce("night_pings", F.lit(0)).cast("long")
                    .alias("night_pings"),
                    F.col("work_cell").cast("long"),
                    F.coalesce("work_n", F.lit(0)).cast("long")
                    .alias("work_n"),
                    F.coalesce("day_pings", F.lit(0)).cast("long")
                    .alias("day_pings"))
            .orderBy("user_id"))


def sql_home_work() -> str:
    g = HW_GRID
    cw, ch = 360000 // g, 170000 // g
    return f"""
    WITH ev AS (
      SELECT user_id,
             ((event_id * 3571 % 360000) // {cw}) * {g}
             + ((event_id * 9973 + 7) % 170000) // {ch} AS cell,
             EXTRACT(hour FROM ts) AS hh
      FROM events
    ),
    classed AS (
      SELECT user_id, cell,
             CASE WHEN hh >= 22 OR hh < 6 THEN 'home'
                  WHEN hh >= 10 AND hh < 16 THEN 'work' END AS cls
      FROM ev
    ),
    cnt AS (
      SELECT user_id, cls, cell, COUNT(*) AS n
      FROM classed WHERE cls IS NOT NULL GROUP BY 1, 2, 3
    ),
    tot AS (
      SELECT user_id, cls, SUM(n) AS tot FROM cnt GROUP BY 1, 2
    ),
    best AS (
      SELECT c.user_id, c.cls, c.cell, c.n, tot.tot FROM (
        SELECT user_id, cls, cell, n,
               row_number() OVER (PARTITION BY user_id, cls
                                  ORDER BY n DESC, cell) AS rn
        FROM cnt) c
      JOIN tot ON tot.user_id = c.user_id AND tot.cls = c.cls
      WHERE c.rn = 1 AND tot.tot >= {HW_MIN_PINGS}
    ),
    users AS (SELECT DISTINCT user_id FROM ev)
    SELECT CAST(u.user_id AS BIGINT) AS user_id,
           CAST(h.cell AS BIGINT) AS home_cell,
           CAST(COALESCE(h.n, 0) AS BIGINT) AS home_n,
           CAST(COALESCE(h.tot, 0) AS BIGINT) AS night_pings,
           CAST(w.cell AS BIGINT) AS work_cell,
           CAST(COALESCE(w.n, 0) AS BIGINT) AS work_n,
           CAST(COALESCE(w.tot, 0) AS BIGINT) AS day_pings
    FROM users u
    LEFT JOIN best h ON h.user_id = u.user_id AND h.cls = 'home'
    LEFT JOIN best w ON w.user_id = u.user_id AND w.cls = 'work'
    ORDER BY user_id
    """


FRESH_GRID = 16
FRESH_HALF_S = 604800          # 7-day half-life, seconds
FRESH_SCALE = 1 << 40          # fixed-point unit weight


def q_tile_freshness(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Freshness-weighted activity heat per lattice cell: each event
    contributes SCALE >> (age div half_life) — STAIRCASE exponential
    decay kept exact in int64 (a true exp() would be engine-float),
    with age measured from the corpus max epoch (deterministic, no
    wall clock).  The 'what is hot RIGHT NOW' layer over raw counts:
    an event this week counts 2^40, one from 10 weeks ago 2^30 —
    mergeable sums, so the streaming family could keep it as additive
    state exactly like the KDE heat.

    One partial-agg'd Exchange over raw rows after a 1-row broadcast
    of the corpus max epoch."""
    g = FRESH_GRID
    cw, ch = 360000 // g, 170000 // g
    ev = read_sf(spark, sf_dir, "events").select(
        F.expr(f"(event_id * 3571 % 360000) div {cw}").alias("cell_x"),
        F.expr(f"((event_id * 9973 + 7) % 170000) div {ch}").alias("cell_y"),
        F.unix_timestamp("ts").alias("es"))
    now = ev.agg(F.max("es").alias("now"))
    w = F.expr(f"shiftright(CAST({FRESH_SCALE} AS BIGINT), "
               f"CAST(least((now - es) div {FRESH_HALF_S}, 62) AS INT))")
    return (ev.join(F.broadcast(now))
            .withColumn("_w", w)
            .groupBy("cell_x", "cell_y")
            .agg(F.sum("_w").alias("freshness"),
                 F.count(F.lit(1)).alias("n_events"),
                 F.max("es").alias("last_es"))
            .select(F.col("cell_x").cast("long"),
                    F.col("cell_y").cast("long"),
                    F.col("freshness").cast("long"),
                    F.col("n_events").cast("long"),
                    F.col("last_es").cast("long"))
            .orderBy("cell_x", "cell_y"))


def sql_tile_freshness() -> str:
    g = FRESH_GRID
    cw, ch = 360000 // g, 170000 // g
    return f"""
    WITH ev AS (
      SELECT (event_id * 3571 % 360000) // {cw} AS cell_x,
             ((event_id * 9973 + 7) % 170000) // {ch} AS cell_y,
             CAST(floor(epoch(ts)) AS BIGINT) AS es
      FROM events
    ),
    nw AS (SELECT MAX(es) AS now FROM ev)
    SELECT CAST(cell_x AS BIGINT) AS cell_x,
           CAST(cell_y AS BIGINT) AS cell_y,
           CAST(SUM(CAST({FRESH_SCALE} AS BIGINT)
                    >> CAST(LEAST((nw.now - es) // {FRESH_HALF_S}, 62)
                            AS INT)) AS BIGINT) AS freshness,
           CAST(COUNT(*) AS BIGINT) AS n_events,
           CAST(MAX(es) AS BIGINT) AS last_es
    FROM ev CROSS JOIN nw
    GROUP BY cell_x, cell_y
    ORDER BY cell_x, cell_y
    """


def q_voronoi_assign(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Discrete Voronoi surface over nation sites
    (`geocodes.voronoi_assign`): every MORAN_GRID cell labeled with
    its nearest site (exact doubled-coordinate squared distance,
    x-wrap aware, min-id ties) + per-site catchment size."""
    from .operators.geocodes import voronoi_assign

    sites = read_sf(spark, sf_dir, "nation").select(
        F.col("n_nationkey").cast("long").alias("site_id"),
        F.expr("n_nationkey * 52361 % 360000").cast("long").alias("sx"),
        F.expr("(n_nationkey * 7907 + 41) % 170000").cast("long")
         .alias("sy"))
    return (voronoi_assign(spark, sites, MORAN_GRID)
            .orderBy("cell_x", "cell_y"))


def sql_voronoi_assign() -> str:
    g = MORAN_GRID
    n = g * g
    cw = 360000 // g
    ch = 170000 // g
    adx = f"ABS((2 * s.cell_x + 1) * {cw} - 2 * z.sx)"
    dx = f"LEAST({adx}, 720000 - {adx})"
    dy = f"ABS((2 * s.cell_y + 1) * {ch} - 2 * z.sy)"
    return f"""
    WITH sites AS (
      SELECT CAST(n_nationkey AS BIGINT) AS site_id,
             CAST(n_nationkey * 52361 % 360000 AS BIGINT) AS sx,
             CAST((n_nationkey * 7907 + 41) % 170000 AS BIGINT) AS sy
      FROM nation
    ),
    skel AS (
      SELECT i % {g} AS cell_x, i // {g} AS cell_y
      FROM (SELECT UNNEST(range(0, {n})) AS i)
    ),
    scored AS (
      SELECT s.cell_x, s.cell_y, z.site_id,
             {dx} * {dx} + {dy} * {dy} AS d2,
             row_number() OVER (PARTITION BY s.cell_x, s.cell_y
                                ORDER BY {dx} * {dx} + {dy} * {dy},
                                         z.site_id) AS rn
      FROM skel s CROSS JOIN sites z
    ),
    picked AS (SELECT * FROM scored WHERE rn = 1)
    SELECT CAST(cell_x AS BIGINT) AS cell_x,
           CAST(cell_y AS BIGINT) AS cell_y,
           CAST(site_id AS BIGINT) AS site_id,
           CAST(d2 AS BIGINT) AS d2_doubled,
           CAST(COUNT(*) OVER (PARTITION BY site_id) AS BIGINT)
             AS catchment_cells
    FROM picked
    ORDER BY cell_x, cell_y
    """


def q_kde_heat(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact-integer Epanechnikov KDE surface at lattice-cell centers
    (`hotspots.kde_heat`) — the smoothed heat layer over the raw
    per-cell counts, blocking-verified against a literal all-pairs
    oracle."""
    from .operators import hotspots as HOT

    return (HOT.kde_heat(_lattice_points(spark, sf_dir), MORAN_GRID,
                         KDE_RADIUS)
            .orderBy("cell_x", "cell_y"))


def sql_kde_heat() -> str:
    g = MORAN_GRID
    n = g * g
    cw = 360000 // g
    ch = 170000 // g
    r2d = (2 * KDE_RADIUS) ** 2
    adx = f"ABS(2 * p.x - (2 * s.cell_x + 1) * {cw})"
    dxe = f"LEAST({adx}, 720000 - {adx})"
    dye = f"ABS(2 * p.y - (2 * s.cell_y + 1) * {ch})"
    w = f"GREATEST(0, {r2d} - {dxe} * {dxe} - {dye} * {dye})"
    return f"""
    WITH p AS (
      SELECT c_custkey * 7919 % 360000 AS x,
             (c_custkey * 104729 + 13) % 170000 AS y
      FROM customer
    ),
    skel AS (
      SELECT i % {g} AS cell_x, i // {g} AS cell_y
      FROM (SELECT UNNEST(range(0, {n})) AS i)
    ),
    wts AS (
      SELECT s.cell_x, s.cell_y, {w} AS w
      FROM skel s CROSS JOIN p
    )
    SELECT CAST(cell_x AS BIGINT) AS cell_x,
           CAST(cell_y AS BIGINT) AS cell_y,
           CAST(SUM(w) AS BIGINT) AS kde_num,
           CAST(SUM(CASE WHEN w > 0 THEN 1 ELSE 0 END) AS BIGINT) AS n_in
    FROM wts GROUP BY cell_x, cell_y
    ORDER BY cell_x, cell_y
    """


def q_idw_surface(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Inverse-distance-weighted (Shepard) interpolation of account
    balance at the LISA lattice-cell centers (`hotspots.idw_surface`)
    — the value-interpolation counterpart to the KDE density surface
    (the classic "IDW raster" of every GIS toolbox).  Weights are
    exact integer floor-divisions, sums exact int64, the estimate one
    IEEE division; the oracle computes the LITERAL all-pairs cell x
    sample sum, proving the halo blocking covers every in-radius
    sample."""
    from .operators import hotspots as HOT

    df = read_sf(spark, sf_dir, "customer").select(
        F.expr("c_custkey * 7919 % 360000").alias("x"),
        F.expr("(c_custkey * 104729 + 13) % 170000").alias("y"),
        F.expr("CAST(FLOOR(c_acctbal) AS BIGINT)").alias("v"))
    return (HOT.idw_surface(df, MORAN_GRID, KDE_RADIUS)
            .orderBy("cell_x", "cell_y"))


def sql_idw_surface() -> str:
    from .operators.hotspots import IDW_SCALE

    g = MORAN_GRID
    n = g * g
    cw = 360000 // g
    ch = 170000 // g
    r2d = (2 * KDE_RADIUS) ** 2
    d0 = cw * ch
    adx = f"ABS(2 * p.x - (2 * s.cell_x + 1) * {cw})"
    dxe = f"LEAST({adx}, 720000 - {adx})"
    dye = f"ABS(2 * p.y - (2 * s.cell_y + 1) * {ch})"
    return f"""
    WITH p AS (
      SELECT c_custkey * 7919 % 360000 AS x,
             (c_custkey * 104729 + 13) % 170000 AS y,
             CAST(FLOOR(c_acctbal) AS BIGINT) AS v
      FROM customer
    ),
    skel AS (
      SELECT i % {g} AS cell_x, i // {g} AS cell_y
      FROM (SELECT UNNEST(range(0, {n})) AS i)
    ),
    wts AS (
      SELECT s.cell_x, s.cell_y, p.v,
             {dxe} * {dxe} + {dye} * {dye} AS d2
      FROM skel s CROSS JOIN p
    ),
    pieces AS (
      SELECT cell_x, cell_y, v, {IDW_SCALE} // (d2 + {d0}) AS w
      FROM wts WHERE d2 < {r2d}
    ),
    agg AS (
      SELECT cell_x, cell_y,
             CAST(SUM(w * v) AS BIGINT) AS idw_num,
             CAST(SUM(w) AS BIGINT) AS idw_den,
             CAST(COUNT(*) AS BIGINT) AS n_in
      FROM pieces GROUP BY cell_x, cell_y
    )
    SELECT CAST(s.cell_x AS BIGINT) AS cell_x,
           CAST(s.cell_y AS BIGINT) AS cell_y,
           COALESCE(a.n_in, 0) AS n_in,
           COALESCE(a.idw_num, 0) AS idw_num,
           COALESCE(a.idw_den, 0) AS idw_den,
           CASE WHEN COALESCE(a.idw_den, 0) > 0
                THEN CAST(a.idw_num AS DOUBLE) / CAST(a.idw_den AS DOUBLE)
                ELSE CAST(0 AS DOUBLE) END AS idw_est
    FROM skel s LEFT JOIN agg a
      ON a.cell_x = s.cell_x AND a.cell_y = s.cell_y
    ORDER BY cell_x, cell_y
    """


def q_join_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cliff-Ord binary join-count statistics (occupied vs empty
    cells) with exact nonfree-sampling expectations, one row
    (`autocorr.join_counts`)."""
    from .operators import autocorr as AC

    return AC.join_counts(_lattice_points(spark, sf_dir), MORAN_GRID)


def sql_join_counts() -> str:
    g = MORAN_GRID
    n = g * g
    return _sql_lattice_cells() + f""",
    c2 AS (
      SELECT cell_x, cell_y, cell_x * {g} + cell_y AS key,
             CASE WHEN n_pts >= 1 THEN 1 ELSE 0 END AS b
      FROM cells
    ),
    nbr AS (
      SELECT c.key, c.b,
             ((c.cell_x + o.dx + {g}) % {g}) * {g} + (c.cell_y + o.dy)
               AS nkey
      FROM c2 c CROSS JOIN {_SQL_QUEEN8}
      WHERE c.cell_y + o.dy BETWEEN 0 AND {g - 1}
    ),
    pairs AS (
      SELECT nb.b, c2.b AS nb_b
      FROM nbr nb JOIN c2 ON c2.key = nb.nkey
      WHERE nb.key < nb.nkey
    ),
    marks AS (SELECT SUM(b) AS n_black FROM c2),
    a AS (
      SELECT COUNT(*) AS j, SUM(b * nb_b) AS bb,
             SUM((1 - b) * (1 - nb_b)) AS ww
      FROM pairs
    )
    SELECT CAST({n} AS BIGINT) AS n_cells,
           CAST(n_black AS BIGINT) AS n_black,
           CAST(j AS BIGINT) AS n_joins,
           CAST(bb AS BIGINT) AS bb,
           CAST(j - bb - ww AS BIGINT) AS bw,
           CAST(ww AS BIGINT) AS ww,
           CAST(j * n_black * (n_black - 1) AS BIGINT) AS ebb_num,
           CAST(2 * j * n_black * ({n} - n_black) AS BIGINT) AS ebw_num,
           CAST(j * ({n} - n_black) * ({n} - n_black - 1) AS BIGINT)
             AS eww_num,
           CAST({n * (n - 1)} AS BIGINT) AS e_den,
           CAST(CAST(j * n_black * (n_black - 1) AS BIGINT) AS DOUBLE)
             / CAST({n * (n - 1)} AS DOUBLE) AS e_bb,
           CAST(CAST(2 * j * n_black * ({n} - n_black) AS BIGINT)
                AS DOUBLE) / CAST({n * (n - 1)} AS DOUBLE) AS e_bw,
           CAST(CAST(j * ({n} - n_black) * ({n} - n_black - 1)
                     AS BIGINT) AS DOUBLE) / CAST({n * (n - 1)} AS DOUBLE) AS e_ww
    FROM a, marks
    """


VGRAM_R2 = 16  # semivariogram max squared lag (4 cells; < grid/2 wrap bound)


def q_semivariogram(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Empirical semivariogram of per-cell counts by exact squared
    lag — the spatial-continuity ladder kriging starts from
    (`autocorr.semivariogram`)."""
    from .operators import autocorr as AC

    return AC.semivariogram(_lattice_points(spark, sf_dir), MORAN_GRID,
                            VGRAM_R2)


def sql_semivariogram() -> str:
    from .operators.autocorr import variogram_offsets

    g = MORAN_GRID
    offs = ",".join(f"({dx},{dy},{h2})"
                    for dx, dy, h2 in variogram_offsets(VGRAM_R2))
    return _sql_lattice_cells() + f""",
    offs(dx, dy, h2) AS (VALUES {offs}),
    sent AS (
      SELECT c.n_pts AS z_a, o.h2,
             (c.cell_x + o.dx + {g}) % {g} AS cell_x,
             c.cell_y + o.dy AS cell_y
      FROM cells c CROSS JOIN offs o
      WHERE c.cell_y + o.dy BETWEEN 0 AND {g - 1}
    )
    SELECT CAST(s.h2 AS BIGINT) AS h2,
           CAST(COUNT(*) AS BIGINT) AS n_pairs,
           CAST(SUM((s.z_a - c.n_pts) * (s.z_a - c.n_pts)) AS BIGINT)
             AS gamma_num,
           CAST(2 * COUNT(*) AS BIGINT) AS gamma_den,
           CAST(CAST(SUM((s.z_a - c.n_pts) * (s.z_a - c.n_pts))
                     AS BIGINT) AS DOUBLE)
             / CAST(CAST(2 * COUNT(*) AS BIGINT) AS DOUBLE) AS gamma
    FROM sent s JOIN cells c USING (cell_x, cell_y)
    GROUP BY s.h2
    ORDER BY h2
    """


def _sql_hotspot_labeled() -> str:
    """Shared CTE chain ending in ``labeled`` (tile_x, tile_y, n_pts,
    cluster) — the recursive-closure oracle both hotspot queries
    select from."""
    tx, ty = _sql_tile(str(HOT_ZOOM))
    side = 1 << HOT_ZOOM
    return f"""
    WITH RECURSIVE pts AS (
      SELECT {CUST_LON} AS lon, {CUST_LAT} AS lat FROM customer
    ), proj AS (
      SELECT {_SQL_X} AS x3857, {_SQL_Y} AS y3857 FROM pts
    ), cells AS (
      SELECT {tx} AS tile_x, {ty} AS tile_y, COUNT(*) AS n_pts
      FROM proj GROUP BY 1, 2
    ), dense AS (
      SELECT tile_x, tile_y, n_pts, tile_x * {side} + tile_y AS key
      FROM cells WHERE n_pts >= {HOT_MIN}
    ), nbr AS (
      SELECT d.key,
             (d.tile_x + o.dx + {side}) % {side} AS nx,
             d.tile_y + o.dy AS ny
      FROM dense d CROSS JOIN (VALUES (-1,-1),(-1,0),(-1,1),(0,-1),
                                      (0,1),(1,-1),(1,0),(1,1)) AS o(dx, dy)
    ), pairs AS (
      SELECT n.key AS a, d2.key AS b
      FROM nbr n JOIN dense d2 ON d2.tile_x = n.nx AND d2.tile_y = n.ny
      WHERE n.key < d2.key
    ), edges AS (
      SELECT a AS s, b AS d FROM pairs UNION ALL SELECT b, a FROM pairs
    ), reach(node, r) AS (
      SELECT s, d FROM edges
      UNION
      SELECT reach.node, edges.d FROM reach JOIN edges ON reach.r = edges.s
    ), comp AS (
      SELECT node, least(node, MIN(r)) AS component FROM reach GROUP BY node
    ), labeled AS (
      SELECT d.tile_x, d.tile_y, d.n_pts,
             CAST(COALESCE(c.component, d.key) AS BIGINT) AS cluster
      FROM dense d LEFT JOIN comp c ON c.node = d.key
    )"""


def sql_hotspot_clusters() -> str:
    return f"""{_sql_hotspot_labeled()}
    SELECT tile_x, tile_y, n_pts, cluster
    FROM labeled ORDER BY tile_x, tile_y
    """


def sql_hotspot_stats() -> str:
    return f"""{_sql_hotspot_labeled()}
    SELECT cluster, COUNT(*) AS n_cells,
           CAST(SUM(n_pts) AS BIGINT) AS n_pts,
           MIN(tile_x) AS x_min, MAX(tile_x) AS x_max,
           MIN(tile_y) AS y_min, MAX(tile_y) AS y_max,
           CAST(SUM(tile_x * n_pts) // SUM(n_pts) AS BIGINT) AS cx,
           CAST(SUM(tile_y * n_pts) // SUM(n_pts) AS BIGINT) AS cy
    FROM labeled GROUP BY cluster ORDER BY cluster
    """


def q_tileset_manifest(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TileJSON-style tileset manifest: the per-zoom metadata a tile
    SERVER publishes (bounds of the occupied tile range, tile count,
    feature totals) for zooms 0/5/9/14 — one aggregation over the
    buffered assignment per zoom, aggregates-of-raw-rows only (no
    tile bytes touched)."""
    pts = _customer_points(spark, sf_dir)
    a = T.assign_tiles(pts, ZOOMS)
    return (a.groupBy(F.col("zoom").cast("int").alias("zoom"))
             .agg(F.countDistinct("tile_x", "tile_y").alias("n_tiles"),
                  F.min("tile_x").alias("min_x"),
                  F.max("tile_x").alias("max_x"),
                  F.min("tile_y").alias("min_y"),
                  F.max("tile_y").alias("max_y"),
                  F.count(F.lit(1)).alias("n_features")))


def sql_tileset_manifest() -> str:
    tx, ty = _sql_tile("z.zoom")
    return f"""
    WITH pts AS (
      SELECT c_custkey, {CUST_LON} AS lon, {CUST_LAT} AS lat FROM customer
    ), proj AS (
      SELECT c_custkey, {_SQL_X} AS x3857, {_SQL_Y} AS y3857 FROM pts
    ), tiles AS (
      SELECT CAST(z.zoom AS INT) AS zoom, {tx} AS tile_x, {ty} AS tile_y
      FROM proj CROSS JOIN (VALUES (0),(5),(9),(14)) AS z(zoom)
    )
    SELECT zoom,
           CAST(COUNT(DISTINCT (tile_x, tile_y)) AS BIGINT) AS n_tiles,
           MIN(tile_x) AS min_x, MAX(tile_x) AS max_x,
           MIN(tile_y) AS min_y, MAX(tile_y) AS max_y,
           CAST(COUNT(*) AS BIGINT) AS n_features
    FROM tiles GROUP BY zoom
    """


CAPTION_EXPR = "concat('cap ', CAST(c_custkey % 97 AS STRING))"


def q_caption_tiles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Captioned point tiles: the north-rule payload is (image,
    caption) PAIRS, and these tiles carry both properties on the wire
    — keys [image_id, caption], per-tile first-seen caption dictionary
    (``encode.assemble_captioned_tiles_streaming``).  The query decodes
    every tile back and emits integer dictionary/caption stats, which
    the oracle recomputes relationally — so tag indexes, dictionary
    dedup, and utf-8 caption round-trip are all hash-verified."""
    pts = _customer_points(spark, sf_dir).select(
        F.col("c_custkey").cast("string").alias("image_id"),
        F.expr(CAPTION_EXPR).alias("caption"), "lon", "lat")
    a = T.assign_tiles_buffered(pts, zoom=ENC_ZOOM, extent=ENC_EXTENT,
                                buffer=ENC_BUFFER)
    tiles = E.assemble_captioned_tiles_streaming(a, extent=ENC_EXTENT,
                                                 buffer=ENC_BUFFER)
    out = E.captioned_tile_stats(tiles)
    return out.select(F.col("zoom").cast("int").alias("zoom"),
                      "tile_x", "tile_y", "feature_count", "n_values",
                      "distinct_caps", "caption_bytes")


def sql_caption_tiles() -> str:
    pad = float(ENC_BUFFER) / float(ENC_EXTENT)
    n = 2 ** ENC_ZOOM
    res = 2.0 * MAX_EXTENTS / n
    return f"""
    WITH pts AS (
      SELECT c_custkey, {CAPTION_EXPR.replace("STRING", "VARCHAR")} AS caption,
             {CUST_LON} AS lon, {CUST_LAT} AS lat
      FROM customer
    ), proj AS (
      SELECT c_custkey, caption, {_SQL_X} AS x3857, {_SQL_Y} AS y3857 FROM pts
    ), frac AS (
      SELECT c_custkey, caption,
             (x3857 + {MAX_EXTENTS}) / {res} AS fx,
             ({MAX_EXTENTS} - y3857) / {res} AS fy,
             least(cast(floor((x3857 + {MAX_EXTENTS}) / {res}) as bigint), {n - 1}) AS bx,
             least(cast(floor(({MAX_EXTENTS} - y3857) / {res}) as bigint), {n - 1}) AS by
      FROM proj
    ), fanned AS (
      SELECT caption, bx + s.dx AS tile_x, by + s.dy AS tile_y
      FROM frac CROSS JOIN (VALUES (-1,-1),(-1,0),(-1,1),(0,-1),(0,0),(0,1),(1,-1),(1,0),(1,1)) AS s(dx, dy)
      WHERE bx + s.dx >= 0 AND by + s.dy >= 0 AND bx + s.dx < {n} AND by + s.dy < {n}
        AND fx >= (bx + s.dx) - {pad} AND fx <= (bx + s.dx) + 1 + {pad}
        AND fy >= (by + s.dy) - {pad} AND fy <= (by + s.dy) + 1 + {pad}
    )
    SELECT CAST({ENC_ZOOM} AS INT) AS zoom, tile_x, tile_y,
           CAST(COUNT(*) AS BIGINT) AS feature_count,
           CAST(COUNT(*) + COUNT(DISTINCT caption) AS BIGINT) AS n_values,
           CAST(COUNT(DISTINCT caption) AS BIGINT) AS distinct_caps,
           CAST(SUM(length(caption)) AS BIGINT) AS caption_bytes
    FROM fanned GROUP BY tile_x, tile_y
    """


OZ_PZOOM = 4  # parents at z4 / extent 8192 -> children at z5 / extent 4096


def q_tile_overzoom(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Overzoom: z5 tiles derived from the BYTES of z4 tiles encoded at
    double extent (``operators/overzoom.py`` — the exact path: integer
    shift commutes with half-even rounding), then decoded BACK for
    audit stats.  The oracle recomputes the whole chain — buffered
    parent assignment, parent-pixel rounding (``round_even``), child
    window membership — in SQL, so encode → overzoom → decode is
    hash-exact end-to-end, ids included (``id_sum``).  Overzoom itself
    is map-only over parent tiles: zero Exchanges after the parent
    encode (plan-asserted)."""
    from .operators import overzoom as OZ

    pts = _customer_images(spark, sf_dir)
    assigned = T.assign_tiles_buffered(pts, zoom=OZ_PZOOM,
                                       extent=2 * ENC_EXTENT,
                                       buffer=ENC_BUFFER)
    parents = E.assemble_point_tiles_streaming(assigned,
                                               extent=2 * ENC_EXTENT,
                                               buffer=ENC_BUFFER)
    kids = OZ.overzoom_point_tiles(parents, child_extent=ENC_EXTENT,
                                   buffer=ENC_BUFFER)
    out = OZ.point_tile_id_stats(kids)
    return out.select(F.col("zoom").cast("int").alias("zoom"),
                      "tile_x", "tile_y", "feature_count", "id_sum")


def sql_tile_overzoom() -> str:
    n = 1 << OZ_PZOOM
    pext = 2 * ENC_EXTENT
    res = 2.0 * MAX_EXTENTS / n
    pad = float(ENC_BUFFER) / float(pext)
    fan = ",".join(f"({dx},{dy})" for dx in (-1, 0, 1) for dy in (-1, 0, 1))
    return f"""
    WITH pts AS (
      SELECT c_custkey, {CUST_LON} AS lon, {CUST_LAT} AS lat FROM customer
    ), proj AS (
      SELECT c_custkey, {_SQL_X} AS x3857, {_SQL_Y} AS y3857 FROM pts
    ), frac AS (
      SELECT c_custkey, x3857, y3857,
             (x3857 + {MAX_EXTENTS}) / {res!r} AS fx,
             ({MAX_EXTENTS} - y3857) / {res!r} AS fy,
             least(cast(floor((x3857 + {MAX_EXTENTS}) / {res!r}) as bigint), {n - 1}) AS bx,
             least(cast(floor(({MAX_EXTENTS} - y3857) / {res!r}) as bigint), {n - 1}) AS by
      FROM proj
    ), fanned AS (
      SELECT c_custkey, x3857, y3857, bx + s.dx AS ptx, by + s.dy AS pty
      FROM frac CROSS JOIN (VALUES {fan}) AS s(dx, dy)
      WHERE bx + s.dx >= 0 AND by + s.dy >= 0
        AND bx + s.dx < {n} AND by + s.dy < {n}
        AND fx >= (bx + s.dx) - {pad} AND fx <= (bx + s.dx) + 1 + {pad}
        AND fy >= (by + s.dy) - {pad} AND fy <= (by + s.dy) + 1 + {pad}
    ), ipix AS (
      SELECT c_custkey, ptx, pty,
             CAST(round_even((x3857 - (-{MAX_EXTENTS} + CAST(ptx AS DOUBLE)
                  * {res!r})) * {float(pext)!r} / {res!r}, 0) AS BIGINT) AS ix,
             CAST(round_even((y3857 - ({MAX_EXTENTS} - CAST(pty AS DOUBLE)
                  * {res!r})) * {float(pext)!r} / (-{res!r}), 0) AS BIGINT) AS iy
      FROM fanned
    ), kids AS (
      SELECT c_custkey, ptx * 2 + qx AS tile_x, pty * 2 + qy AS tile_y
      FROM ipix CROSS JOIN (VALUES (0,0),(1,0),(0,1),(1,1)) AS q(qx, qy)
      WHERE ix - qx * {ENC_EXTENT} BETWEEN -{ENC_BUFFER}
                                       AND {ENC_EXTENT + ENC_BUFFER}
        AND iy - qy * {ENC_EXTENT} BETWEEN -{ENC_BUFFER}
                                       AND {ENC_EXTENT + ENC_BUFFER}
    )
    SELECT CAST({OZ_PZOOM + 1} AS INT) AS zoom, tile_x, tile_y,
           CAST(COUNT(*) AS BIGINT) AS feature_count,
           CAST(SUM(c_custkey) AS BIGINT) AS id_sum
    FROM kids GROUP BY tile_x, tile_y
    """


# ---------------------------------------------------------------------------
# q: mvt_encode — full tile bytes (no SQL oracle: protobuf not expressible);
# driver records the weaker rows-only check
# ---------------------------------------------------------------------------

def q_mvt_encode(spark: SparkSession, sf_dir: str) -> DataFrame:
    pts = _customer_images(spark, sf_dir)
    assigned = T.assign_tiles_buffered(pts, zoom=ENC_ZOOM, extent=ENC_EXTENT, buffer=ENC_BUFFER)
    tiles = E.assemble_point_tiles_streaming(assigned, extent=ENC_EXTENT, buffer=ENC_BUFFER)
    # decode_ok / decoded_features / bytes_crc32 are in-job integrity
    # columns (the raster_vector / recall_e3 pattern): every tile's
    # bytes are decoded back through the strict kernel decoder, so the
    # driver's rows-only check carries its own verification
    audited = E.with_tile_integrity(tiles, extent=ENC_EXTENT)
    return audited.select(F.col("zoom").cast("int"), "tile_x", "tile_y",
                          "feature_count", "bytes_len",
                          "decoded_features", "bytes_crc32", "decode_ok",
                          "mvt")


def q_raster_vector(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Vector->raster->vector round trip over customer-derived points:
    rasterize per z4 tile (PNG heatmap), threshold, re-vectorize the
    coverage rectangles through the MVT polygon pipeline.  Rows-only
    (PNG + protobuf not SQL-expressible); pytest asserts the ring
    semantics."""
    from .operators import raster as R

    pts = _customer_images(spark, sf_dir)
    assigned = T.assign_tiles_buffered(pts, zoom=4, extent=ENC_EXTENT, buffer=ENC_BUFFER)
    px = T.tile_local_px(assigned, extent=ENC_EXTENT)
    rasters = R.rasterize_tiles(px, grid=32, extent=ENC_EXTENT)
    vec = R.vectorize_tiles(rasters, threshold=1, extent=ENC_EXTENT)
    # parity_ok / roundtrip_ok are in-job integrity columns (recall_e3
    # pattern): rect-cover area == mask popcount, and the protobuf
    # decodes back to feature_count polygons — so the driver's
    # rows-only check carries its own verification
    return vec.select(F.col("zoom").cast("int"), "tile_x", "tile_y",
                      "feature_count", "bytes_len",
                      "mask_cells", "ring_cells", "parity_ok",
                      "mvt_features", "roundtrip_ok")


# ---------------------------------------------------------------------------
# q: tile_density — per-tile 16x16 density raster summary (heatmap tiles)
# ---------------------------------------------------------------------------

DENSITY_BASE_ZOOM = 5
DENSITY_PX_BITS = 4


def q_tile_density(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Heatmap tiles: per-z5-tile 16x16 pixel density summary.  Raw
    rows shuffle ONCE at the fine zoom (z9 pixel = z9 tile, reusing
    the exact clamped tile floor), then the per-tile summary runs on
    the pixel AGGREGATES — exactly two Exchanges however large the
    input (the ``zoom_rollup`` shape).  All-integer outputs keep the
    approximate-looking operator under the exact hash gate; the dense
    array twin (``density_raster_array``) is pytest-pinned with its
    in-job ``raster_sum == n_points`` integrity column."""
    pts = _customer_points(spark, sf_dir)
    out = T.density_raster(pts, base_zoom=DENSITY_BASE_ZOOM,
                           px_bits=DENSITY_PX_BITS)
    return out.select(F.col("tile_x").cast("long").alias("tile_x"),
                      F.col("tile_y").cast("long").alias("tile_y"),
                      F.col("n_points").cast("long").alias("n_points"),
                      F.col("n_px").cast("long").alias("n_px"),
                      F.col("max_px").cast("long").alias("max_px"),
                      F.col("mode_px").cast("long").alias("mode_px"),
                      F.col("px_checksum").cast("long")
                       .alias("px_checksum"))


def sql_tile_density() -> str:
    side = 1 << DENSITY_PX_BITS
    fine = DENSITY_BASE_ZOOM + DENSITY_PX_BITS
    tx, ty = _sql_tile(str(fine))
    return f"""
    WITH pts AS (
      SELECT {CUST_LON} AS lon, {CUST_LAT} AS lat FROM customer
    ), proj AS (
      SELECT {_SQL_X} AS x3857, {_SQL_Y} AS y3857 FROM pts
    ), f AS (
      SELECT {tx} AS fx, {ty} AS fy FROM proj
    ), pix AS (
      SELECT fx // {side} AS tile_x, fy // {side} AS tile_y,
             (fy % {side}) * {side} + (fx % {side}) AS px,
             CAST(COUNT(*) AS BIGINT) AS cnt
      FROM f GROUP BY 1, 2, 3
    ), ranked AS (
      SELECT *, row_number() OVER (PARTITION BY tile_x, tile_y
                                   ORDER BY cnt DESC, px ASC) AS rn
      FROM pix
    )
    SELECT CAST(tile_x AS BIGINT) AS tile_x, CAST(tile_y AS BIGINT) AS tile_y,
           CAST(SUM(cnt) AS BIGINT) AS n_points,
           CAST(COUNT(*) AS BIGINT) AS n_px,
           CAST(MAX(cnt) AS BIGINT) AS max_px,
           CAST(MIN(CASE WHEN rn = 1 THEN px END) AS BIGINT) AS mode_px,
           CAST(SUM((px + 1) * cnt) AS BIGINT) AS px_checksum
    FROM ranked GROUP BY 1, 2
    """


# ---------------------------------------------------------------------------
# q: tile_cap — spatial balancing cap (the geo twin of domain_cap)
# ---------------------------------------------------------------------------

TILE_CAP = 3
TILE_CAP_ZOOM = 9


def q_tile_cap(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Geographic balancing for training corpora (the spatial twin of
    ``domain_cap``): keep at most TILE_CAP rows per z9 tile, chosen by
    md5-hash order — content-blind, deterministic, and stable under
    corpus growth (a kept row stays kept when more rows arrive only if
    it still wins the hash order, never because of scan order).  The
    ``row_number() <= k`` filter takes Spark's WindowGroupLimit
    map-side prune, so a dense urban tile with 10^9 images ships k
    rows per map partition into the shuffle, not 10^9."""
    from pyspark.sql.window import Window

    pts = _customer_points(spark, sf_dir)
    a = T.assign_tiles(pts, [TILE_CAP_ZOOM])
    w = Window.partitionBy("tile_x", "tile_y").orderBy(
        F.md5(F.col("c_custkey").cast("string")), F.col("c_custkey"))
    return (a.withColumn("samp_rank", F.row_number().over(w))
             .filter(F.col("samp_rank") <= TILE_CAP)
             .select(F.col("c_custkey").cast("long").alias("c_custkey"),
                     F.col("tile_x").cast("long").alias("tile_x"),
                     F.col("tile_y").cast("long").alias("tile_y"),
                     F.col("samp_rank").cast("int").alias("samp_rank")))


def sql_tile_cap() -> str:
    tx, ty = _sql_tile(str(TILE_CAP_ZOOM))
    return f"""
    WITH pts AS (
      SELECT c_custkey, {CUST_LON} AS lon, {CUST_LAT} AS lat FROM customer
    ), proj AS (
      SELECT c_custkey, {_SQL_X} AS x3857, {_SQL_Y} AS y3857 FROM pts
    ), t AS (
      SELECT c_custkey, {tx} AS tile_x, {ty} AS tile_y FROM proj
    ), r AS (
      SELECT c_custkey, tile_x, tile_y,
             ROW_NUMBER() OVER (PARTITION BY tile_x, tile_y
                                ORDER BY md5(CAST(c_custkey AS VARCHAR)),
                                         c_custkey) AS samp_rank
      FROM t
    )
    SELECT CAST(c_custkey AS BIGINT) AS c_custkey,
           CAST(tile_x AS BIGINT) AS tile_x,
           CAST(tile_y AS BIGINT) AS tile_y,
           CAST(samp_rank AS INT) AS samp_rank
    FROM r WHERE samp_rank <= {TILE_CAP}
    """


# ---------------------------------------------------------------------------
# q: tile_compact — minimal mixed-zoom cell cover (H3 compactCells shape)
# ---------------------------------------------------------------------------

TILE_COMPACT_ZOOM = 6

LINE_KEY = "l_orderkey * 10 + l_linenumber"
LINE_LON = f"(({LINE_KEY}) * 7919 % 360000) / 1000.0 - 180.0"
LINE_LAT = f"((({LINE_KEY}) * 104729 + 13) % 170000) / 1000.0 - 85.0"


def _lineitem_points(spark: SparkSession, sf_dir: str) -> DataFrame:
    df = read_sf(spark, sf_dir, "lineitem")
    return df.select(F.expr(LINE_LON).alias("lon"),
                     F.expr(LINE_LAT).alias("lat"))


def q_tile_compact(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Minimal mixed-zoom cover of the occupied z6 cell set (H3-style
    compactCells on the XYZ quadtree): complete 4-sibling groups merge
    into their parent, recursively.  The loop runs on the DISTINCT
    cell set — bounded by 4^zoom whatever the input size — one
    aggregate + anti-join per level over eagerly-checkpointed frames.
    The oracle re-states all six levels as chained CTEs.  Lineitem
    density makes the cover genuinely mixed-zoom at both gate scales
    (hundreds of promoted quads, multiple levels deep)."""
    pts = _lineitem_points(spark, sf_dir)
    cells = (T.assign_tiles(pts, [TILE_COMPACT_ZOOM])
              .select("tile_x", "tile_y").distinct())
    out = T.compact_cells(cells, TILE_COMPACT_ZOOM)
    return out.select(F.col("zoom").cast("int").alias("zoom"),
                      F.col("tile_x").cast("long").alias("tile_x"),
                      F.col("tile_y").cast("long").alias("tile_y"))


def _sql_compact_ctes(z: int, base_select: str,
                      keys: tuple = ("tx", "ty"),
                      parents: tuple = ("tx // 2", "ty // 2"),
                      out_names: tuple = ("tile_x", "tile_y"),
                      level_name: str = "zoom") -> tuple:
    """(ctes, union): the per-level 4-to-1 compact recursion as
    generated chained CTEs over a ``SELECT DISTINCT ... AS <keys>``
    base — shared by ``tile_compact`` / ``polygon_cover`` (tx, ty pair)
    and ``s2_compact`` (single Hilbert cid, parent = cid // 4)."""
    key_list = ", ".join(keys)
    parent_sel = ", ".join(f"{p} AS {k}" for k, p in zip(keys, parents))
    join_on = " AND ".join(f"c.{p} = p.{k}"
                           for k, p in zip(keys, parents))
    c_keys = ", ".join(f"c.{k}" for k in keys)
    group_by = ", ".join(str(i + 1) for i in range(len(keys)))
    parts = [f"c{z} AS ({base_select})"]
    for lvl in range(z, 0, -1):
        parts.append(
            f"p{lvl - 1} AS (SELECT {parent_sel} "
            f"FROM c{lvl} GROUP BY {group_by} HAVING COUNT(*) = 4)")
        parts.append(
            f"k{lvl} AS (SELECT {c_keys} FROM c{lvl} c "
            f"LEFT JOIN p{lvl - 1} p ON {join_on} "
            f"WHERE p.{keys[0]} IS NULL)")
        parts.append(f"c{lvl - 1} AS (SELECT {key_list} FROM p{lvl - 1})")
    out_sel = ", ".join(f"CAST({k} AS BIGINT) AS {o}"
                        for k, o in zip(keys, out_names))
    union = "\n      UNION ALL ".join(
        [f"SELECT CAST({lvl} AS INT) AS {level_name}, {out_sel} FROM k{lvl}"
         for lvl in range(z, 0, -1)]
        + [f"SELECT CAST(0 AS INT) AS {level_name}, {out_sel} FROM c0"])
    return ",\n    ".join(parts), union


def sql_tile_compact() -> str:
    z = TILE_COMPACT_ZOOM
    tx, ty = _sql_tile(str(z))
    ctes, union = _sql_compact_ctes(
        z, f"SELECT DISTINCT {tx} AS tx, {ty} AS ty FROM proj")
    return f"""
    WITH pts AS (
      SELECT {LINE_LON} AS lon, {LINE_LAT} AS lat FROM lineitem
    ), proj AS (
      SELECT {_SQL_X} AS x3857, {_SQL_Y} AS y3857 FROM pts
    ),
    {ctes}
    {union}
    """


# ---------------------------------------------------------------------------
# q: leg_cover — exact segment supercover of trajectory legs
# ---------------------------------------------------------------------------

LEG_COVER_ZOOM = 4


def q_leg_cover(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Which z4 tiles does each travel leg CROSS: consecutive event
    points per user become planar segments, and ``segment_cover``
    computes the exact grid supercover — O(dx+dy) tiles per leg where
    the bbox fan-out would ship O(dx·dy) candidates for a diagonal.
    Pure Column math: two runtime sequence fan-outs (gridline
    crossings), one lead window over t, midpoint floor."""
    from pyspark.sql.window import Window

    pts = _event_points(spark, sf_dir)
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    legs = (pts.withColumn("lon2", F.lead("lon").over(w))
               .withColumn("lat2", F.lead("lat").over(w))
               .filter(F.col("lon2").isNotNull())
               .select("user_id", "event_id",
                       F.col("lon").alias("lon1"), F.col("lat").alias("lat1"),
                       "lon2", "lat2"))
    out = T.segment_cover(legs, LEG_COVER_ZOOM,
                          seg_cols=("user_id", "event_id"))
    return out.select(F.col("user_id").cast("long").alias("user_id"),
                      F.col("event_id").cast("long").alias("event_id"),
                      F.col("tile_x").cast("long").alias("tile_x"),
                      F.col("tile_y").cast("long").alias("tile_y"))


def sql_leg_cover() -> str:
    z = LEG_COVER_ZOOM
    n = 1 << z
    res = 2.0 * MAX_EXTENTS / n
    u = f"(({{x}}) + {MAX_EXTENTS!r}) / {res!r}"
    v = f"({MAX_EXTENTS!r} - ({{y}})) / {res!r}"
    x1 = _SQL_X.replace("lon", "lon1").replace("lat", "lat1")
    y1 = _SQL_Y.replace("lon", "lon1").replace("lat", "lat1")
    x2 = _SQL_X.replace("lon", "lon2").replace("lat", "lat2")
    y2 = _SQL_Y.replace("lon", "lon2").replace("lat", "lat2")
    return f"""
    WITH pts AS (
      SELECT user_id, event_id, ts, {EVT_LON} AS lon, {EVT_LAT} AS lat
      FROM events
    ), legs0 AS (
      SELECT user_id, event_id, lon AS lon1, lat AS lat1,
             lead(lon) OVER w AS lon2, lead(lat) OVER w AS lat2
      FROM pts WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
    ), legs AS (
      SELECT user_id, event_id,
             {u.format(x=x1)} AS u1, {v.format(y=y1)} AS v1,
             {u.format(x=x2)} AS u2, {v.format(y=y2)} AS v2
      FROM legs0 WHERE lon2 IS NOT NULL
    ), xr AS (
      SELECT *, CAST(ceil(least(u1, u2)) AS BIGINT) AS lo,
                CAST(floor(greatest(u1, u2)) AS BIGINT) AS hi
      FROM legs WHERE u2 <> u1
    ), xc AS (
      SELECT user_id, event_id, u1, v1, u2, v2,
             (CAST(unnest(generate_series(lo, hi)) AS DOUBLE) - u1)
               / (u2 - u1) AS t
      FROM xr WHERE hi >= lo
    ), yr AS (
      SELECT *, CAST(ceil(least(v1, v2)) AS BIGINT) AS lo,
                CAST(floor(greatest(v1, v2)) AS BIGINT) AS hi
      FROM legs WHERE v2 <> v1
    ), yc AS (
      SELECT user_id, event_id, u1, v1, u2, v2,
             (CAST(unnest(generate_series(lo, hi)) AS DOUBLE) - v1)
               / (v2 - v1) AS t
      FROM yr WHERE hi >= lo
    ), ts AS (
      SELECT user_id, event_id, u1, v1, u2, v2, 0.0 AS t FROM legs
      UNION ALL SELECT * FROM xc
      UNION ALL SELECT * FROM yc
    ), tf AS (
      SELECT * FROM ts WHERE t >= 0.0 AND t < 1.0
    ), mids AS (
      SELECT user_id, event_id,
             (t + COALESCE(lead(t) OVER (PARTITION BY user_id, event_id
                                         ORDER BY t), 1.0)) / 2 AS tm,
             u1, v1, u2, v2
      FROM tf
    )
    SELECT DISTINCT CAST(user_id AS BIGINT) AS user_id,
           CAST(event_id AS BIGINT) AS event_id,
           CAST(greatest(0, least(CAST(floor(u1 + tm * (u2 - u1)) AS BIGINT),
                                  {n - 1})) AS BIGINT) AS tile_x,
           CAST(greatest(0, least(CAST(floor(v1 + tm * (v2 - v1)) AS BIGINT),
                                  {n - 1})) AS BIGINT) AS tile_y
    FROM mids
    """


# ---------------------------------------------------------------------------
# q: s2_compact — the same compact recursion on the S2 hierarchy
# ---------------------------------------------------------------------------

S2_COMPACT_LEVEL = 4
# lattice-offset coordinates (the s2cells.S2_LON trick): exact ±45°
# diagonals make the cube-face tie-break engine-dependent
S2L_LON = f"(({LINE_KEY}) * 7919 % 360000) / 1000.0 - 179.9993"
S2L_LAT = f"((({LINE_KEY}) * 104729 + 13) % 170000) / 1000.0 - 84.99935"


def q_s2_compact(spark: SparkSession, sf_dir: str) -> DataFrame:
    """compact on the S2 hierarchy: the cid layout (face·4^level + pos)
    makes the parent exactly ``cid >> 2``, so the SAME generic
    4-to-1 recursion that compacts XYZ tiles compacts S2 cells —
    hierarchy algebra through the CellIndex seam.  Lineitem density at
    level 4 (1536 world cells) makes the cover genuinely mixed-level
    at the gate scales."""
    from .operators import s2cells as S2C

    df = read_sf(spark, sf_dir, "lineitem")
    pts = df.select(F.expr(S2L_LON).alias("lon"),
                    F.expr(S2L_LAT).alias("lat"))
    cells = (S2C.with_s2_cell(pts, S2_COMPACT_LEVEL)
                .select("s2_cid").distinct())
    out = S2C.compact_s2(cells, S2_COMPACT_LEVEL)
    return out.select(F.col("level").cast("int").alias("level"),
                      F.col("s2_cid").cast("long").alias("s2_cid"))


def sql_s2_compact() -> str:
    from .operators.s2cells import sql_s2_cell_cte

    s2 = sql_s2_cell_cte("_pts", S2_COMPACT_LEVEL, "lon")
    ctes, union = _sql_compact_ctes(
        S2_COMPACT_LEVEL,
        "SELECT DISTINCT s2_cid AS cid FROM _s2_out",
        keys=("cid",), parents=("cid // 4",),
        out_names=("s2_cid",), level_name="level")
    return f"""
    WITH _pts AS (
      SELECT {S2L_LON} AS lon, {S2L_LAT} AS lat FROM lineitem
    ),
    {s2},
    {ctes}
    {union}
    """


TM_ZOOM = 5
TM_QUANT = 10  # decameter offset quantization (see tiles.tile_moments)


def q_tile_moments(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-tile centrography moment sketch at z5 over customers
    (`tiles.tile_moments`): decomposable integer raw moments (n, Σdx,
    Σdy, Σdx², Σdy², Σdx·dy) of within-tile decameter offsets — the
    mergeable form of mean center / standard distance / deviational
    ellipse.  One shuffle, map-side partials; all-integer outputs."""
    pts = _customer_points(spark, sf_dir)
    return T.tile_moments(pts, TM_ZOOM, quant_m=TM_QUANT) \
        .orderBy("tile_x", "tile_y")


def sql_tile_moments() -> str:
    tx, ty = _sql_tile(str(TM_ZOOM))
    n = 2 ** TM_ZOOM
    res = 2.0 * MAX_EXTENTS / n
    dx = (f"CAST(floor((x3857 + {MAX_EXTENTS!r} - tile_x * {res!r}) "
          f"/ {TM_QUANT}) AS BIGINT)")
    dy = (f"CAST(floor(({MAX_EXTENTS!r} - y3857 - tile_y * {res!r}) "
          f"/ {TM_QUANT}) AS BIGINT)")
    return f"""
    WITH pts AS (
      SELECT {CUST_LON} AS lon, {CUST_LAT} AS lat FROM customer
    ), proj AS (
      SELECT {_SQL_X} AS x3857, {_SQL_Y} AS y3857 FROM pts
    ), t AS (
      SELECT x3857, y3857, {tx} AS tile_x, {ty} AS tile_y FROM proj
    ), d AS (
      SELECT tile_x, tile_y, {dx} AS dx, {dy} AS dy FROM t
    )
    SELECT CAST(tile_x AS BIGINT) AS tile_x,
           CAST(tile_y AS BIGINT) AS tile_y,
           CAST(COUNT(*) AS BIGINT) AS n,
           CAST(SUM(dx) AS BIGINT) AS sum_dx,
           CAST(SUM(dy) AS BIGINT) AS sum_dy,
           CAST(SUM(dx * dx) AS BIGINT) AS sum_xx,
           CAST(SUM(dy * dy) AS BIGINT) AS sum_yy,
           CAST(SUM(dx * dy) AS BIGINT) AS sum_xy,
           CAST(SUM(dx) // COUNT(*) AS BIGINT) AS mean_dx,
           CAST(SUM(dy) // COUNT(*) AS BIGINT) AS mean_dy
    FROM d GROUP BY tile_x, tile_y
    ORDER BY tile_x, tile_y
    """


S2_COVER_LEVEL = 6
# quarter-degree interior lattice over PIP_POLY's bbox: 0.25 deg ~ 28 km,
# well under the 69.7 km level-6 min cell width, so every cell with
# interior lattice presence is found; quarter-integers never hit the
# 3-decimal polygon vertices, the 45-deg face diagonals, or lat 45
_S2_COVER_LON0, _S2_COVER_NI = -28.25, 284
_S2_COVER_LAT0, _S2_COVER_NJ = -25.75, 255


def q_s2_polygon_cover(spark: SparkSession, sf_dir: str) -> DataFrame:
    """S2 covering of the fixture polygon — third-backend parity for
    polygon_cover (XYZ) / hex_polyfill (hex): a deterministic interior
    lattice (finer than the level-6 cell width) ray-casts against the
    polygon, surviving points fold to S2 cells through the Hilbert
    Column fold, and the distinct cell set compacts to the minimal
    mixed-level cover (`compact_s2`, parent = cid >> 2).  Defined as
    the lattice-sampled covering (the honest construction without the
    real library's region coverer — the `CellIndex` seam takes that
    drop-in); both engines run the identical lattice, ray cast, cell
    fold, and compaction, so the cover is hash-exact.  No data scan:
    the lattice is a literal generator, the output a broadcastable
    dim, same scale shape as hex_polyfill."""
    from .operators import s2cells as S2C

    lattice = spark.sql(f"""
      SELECT {_S2_COVER_LON0} + 0.25 * i AS lon,
             {_S2_COVER_LAT0} + 0.25 * j AS lat
      FROM (SELECT explode(sequence(0, {_S2_COVER_NI})) AS i)
      CROSS JOIN (SELECT explode(sequence(0, {_S2_COVER_NJ})) AS j)""")
    inside = lattice.filter(F.expr(f"({_sql_pip_crossings()}) % 2 = 1"))
    cells = (S2C.with_s2_cell(inside, S2_COVER_LEVEL)
             .select("s2_cid").distinct())
    out = S2C.compact_s2(cells, S2_COVER_LEVEL)
    return (out.select(F.col("level").cast("int").alias("level"),
                       F.col("s2_cid").cast("long").alias("s2_cid"))
            .orderBy("level", "s2_cid"))


def sql_s2_polygon_cover() -> str:
    from .operators.s2cells import sql_s2_cell_cte

    s2 = sql_s2_cell_cte("_pts", S2_COVER_LEVEL, "lon")
    ctes, union = _sql_compact_ctes(
        S2_COVER_LEVEL,
        "SELECT DISTINCT s2_cid AS cid FROM _s2_out",
        keys=("cid",), parents=("cid // 4",),
        out_names=("s2_cid",), level_name="level")
    return f"""
    WITH _pts AS (
      SELECT lon, lat FROM (
        SELECT {_S2_COVER_LON0} + 0.25 * i AS lon,
               {_S2_COVER_LAT0} + 0.25 * j AS lat
        FROM generate_series(0, {_S2_COVER_NI}) g1(i)
        CROSS JOIN generate_series(0, {_S2_COVER_NJ}) g2(j)
      ) WHERE ({_sql_pip_crossings()}) % 2 = 1
    ),
    {s2},
    {ctes}
    {union}
    """


# ---------------------------------------------------------------------------
# q: polygon_cover — H3-polyfill shape: polygon -> compacted cell cover
# ---------------------------------------------------------------------------

POLYFILL_ZOOM = 7


def _poly0_3857() -> list:
    """PIP_POLY vertices projected to EPSG:3857 in PYTHON (the
    libm-exact kernel), so both engines receive byte-identical float
    literals — the zonal-stats offsets trick applied to projection."""
    from .kernel import mercator as M

    xs = M.lon_to_x([v[0] for v in PIP_POLY])
    ys = M.lat_to_y([v[1] for v in PIP_POLY])
    return [(float(x), float(y)) for x, y in zip(xs, ys)]


def _sql_plane_crossings(verts, x: str, y: str) -> str:
    """Even-odd ray cast over 3857-plane vertex literals — the same
    generated expression string runs in Spark (F.expr) and DuckDB."""
    terms = []
    for (x1, y1), (x2, y2) in zip(verts[:-1], verts[1:]):
        if y1 == y2:
            continue
        t = f"(({y} - {y1!r}) / ({y2!r} - {y1!r}))"
        xs = f"({x1!r} + {t} * ({x2!r} - {x1!r}))"
        cond = (f"({y} >= least({y1!r},{y2!r}) AND "
                f"{y} < greatest({y1!r},{y2!r}) AND {xs} > {x})")
        terms.append(f"CASE WHEN {cond} THEN 1 ELSE 0 END")
    return " + ".join(terms)


def _polyfill_exprs() -> tuple:
    """(tx_min, tx_max, ty_min, ty_max, inside_sql): Python-computed
    candidate tile ranges for the fixture polygon's bbox at
    POLYFILL_ZOOM, plus the shared-text center-in-polygon predicate
    (cell centers are pure arithmetic on the tile index — no inverse
    projection, no transcendentals, identical doubles both engines)."""
    import numpy as np

    from .kernel import mercator as M

    verts = _poly0_3857()
    arr = np.asarray(verts)
    txa, tya = M.xy3857_to_tile(arr[:, 0], arr[:, 1], POLYFILL_ZOOM)
    res = 2.0 * MAX_EXTENTS / (1 << POLYFILL_ZOOM)
    cx = f"(-{MAX_EXTENTS!r} + (CAST(tile_x AS DOUBLE) + 0.5) * {res!r})"
    cy = f"({MAX_EXTENTS!r} - (CAST(tile_y AS DOUBLE) + 0.5) * {res!r})"
    inside = f"(({_sql_plane_crossings(verts, cx, cy)}) % 2 = 1)"
    return (int(txa.min()), int(txa.max()),
            int(tya.min()), int(tya.max()), inside)


def q_polygon_cover(spark: SparkSession, sf_dir: str) -> DataFrame:
    """H3-polyfill shape: the coverage polygon's compacted cell cover
    at z7 — candidate cells from the bbox tile range (a bounded,
    Python-computed cross range), centers tested by a plane ray-cast
    whose generated expression text is shared verbatim with the
    DuckDB oracle (the hexgrid technique), then ``compact_cells``
    minimizes the cover.  Composes three families — tile math, PIP,
    compact — under one exact oracle."""
    tx0, tx1, ty0, ty1, inside = _polyfill_exprs()
    cand = (spark.range(tx0, tx1 + 1).select(F.col("id").alias("tile_x"))
            .crossJoin(spark.range(ty0, ty1 + 1)
                       .select(F.col("id").alias("tile_y"))))
    cells = cand.filter(F.expr(inside))
    out = T.compact_cells(cells, POLYFILL_ZOOM)
    return out.select(F.col("zoom").cast("int").alias("zoom"),
                      F.col("tile_x").cast("long").alias("tile_x"),
                      F.col("tile_y").cast("long").alias("tile_y"))


def sql_polygon_cover() -> str:
    tx0, tx1, ty0, ty1, inside = _polyfill_exprs()
    base = (f"SELECT DISTINCT tile_x AS tx, tile_y AS ty FROM ("
            f"SELECT gx.range AS tile_x, gy.range AS tile_y "
            f"FROM range({tx0}, {tx1 + 1}) gx, range({ty0}, {ty1 + 1}) gy"
            f") WHERE {inside}")
    ctes, union = _sql_compact_ctes(POLYFILL_ZOOM, base)
    return f"""
    WITH {ctes}
    {union}
    """


BUFFER_RING = 1


def q_polygon_buffer(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Buffered polygon cover: the polyfill's cell set dilated by one
    Chebyshev ring (``tiles.buffer_cells`` — grid morphological
    dilation, the "within one cell of the coverage area" margin), then
    compacted.  The whole chain — candidate range, shared-text
    ray-cast, set dilation with x-wrap, 4-to-1 compact — runs on CELL
    SETS (bounded by 4^zoom at any corpus size) under one hash-exact
    oracle."""
    tx0, tx1, ty0, ty1, inside = _polyfill_exprs()
    cand = (spark.range(tx0, tx1 + 1).select(F.col("id").alias("tile_x"))
            .crossJoin(spark.range(ty0, ty1 + 1)
                       .select(F.col("id").alias("tile_y"))))
    cells = cand.filter(F.expr(inside))
    buf = T.buffer_cells(cells, POLYFILL_ZOOM, ring=BUFFER_RING)
    out = T.compact_cells(buf, POLYFILL_ZOOM)
    return out.select(F.col("zoom").cast("int").alias("zoom"),
                      F.col("tile_x").cast("long").alias("tile_x"),
                      F.col("tile_y").cast("long").alias("tile_y"))


def sql_polygon_buffer() -> str:
    tx0, tx1, ty0, ty1, inside = _polyfill_exprs()
    n = 1 << POLYFILL_ZOOM
    offs = ", ".join(f"({dx}, {dy})"
                     for dx in range(-BUFFER_RING, BUFFER_RING + 1)
                     for dy in range(-BUFFER_RING, BUFFER_RING + 1))
    base = (f"SELECT DISTINCT (tile_x + dx + {n}) % {n} AS tx, "
            f"tile_y + dy AS ty FROM ("
            f"SELECT gx.range AS tile_x, gy.range AS tile_y "
            f"FROM range({tx0}, {tx1 + 1}) gx, range({ty0}, {ty1 + 1}) gy"
            f") CROSS JOIN (VALUES {offs}) AS o(dx, dy) "
            f"WHERE ({inside}) AND tile_y + dy >= 0 AND tile_y + dy < {n}")
    ctes, union = _sql_compact_ctes(POLYFILL_ZOOM, base)
    return f"""
    WITH {ctes}
    {union}
    """


def q_polygon_full_cover(spark: SparkSession, sf_dir: str) -> DataFrame:
    """EXACT polygon cover (any-intersection, vs ``polygon_cover``'s
    center-in-polygon polyfill): a cell intersects the polygon iff its
    boundary crosses the cell (edge supercover via ``segment_cover``)
    OR the cell lies entirely inside (then its center is inside) — so
    full cover = edge supercover ∪ center-inside, provably exact, then
    compacted.  Composes four families: projection, supercover,
    ray-cast PIP, compact — all under one hash-exact oracle."""
    verts = _poly0_3857()
    edges = [(i, verts[i][0], verts[i][1], verts[i + 1][0], verts[i + 1][1])
             for i in range(len(verts) - 1)]
    edf = spark.createDataFrame(
        edges, "seg_id long, x1 double, y1 double, x2 double, y2 double")
    ecov = (T.segment_cover(edf, POLYFILL_ZOOM, seg_cols=("seg_id",),
                            lon1="x1", lat1="y1", lon2="x2", lat2="y2",
                            coords="3857")
             .select("tile_x", "tile_y"))
    tx0, tx1, ty0, ty1, inside = _polyfill_exprs()
    cand = (spark.range(tx0, tx1 + 1).select(F.col("id").alias("tile_x"))
            .crossJoin(spark.range(ty0, ty1 + 1)
                       .select(F.col("id").alias("tile_y"))))
    centers = cand.filter(F.expr(inside)).select("tile_x", "tile_y")
    cells = ecov.unionByName(centers).distinct()
    out = T.compact_cells(cells, POLYFILL_ZOOM)
    return out.select(F.col("zoom").cast("int").alias("zoom"),
                      F.col("tile_x").cast("long").alias("tile_x"),
                      F.col("tile_y").cast("long").alias("tile_y"))


def sql_polygon_full_cover() -> str:
    verts = _poly0_3857()
    z = POLYFILL_ZOOM
    n = 1 << z
    res = 2.0 * MAX_EXTENTS / n
    u = f"(({{x}}) + {MAX_EXTENTS!r}) / {res!r}"
    v = f"({MAX_EXTENTS!r} - ({{y}})) / {res!r}"
    edge_rows = ", ".join(
        f"({i}, {verts[i][0]!r}, {verts[i][1]!r}, "
        f"{verts[i + 1][0]!r}, {verts[i + 1][1]!r})"
        for i in range(len(verts) - 1))
    tx0, tx1, ty0, ty1, inside = _polyfill_exprs()
    sup = f"""legs AS (
      SELECT seg_id, {u.format(x='x1')} AS u1, {v.format(y='y1')} AS v1,
             {u.format(x='x2')} AS u2, {v.format(y='y2')} AS v2
      FROM (VALUES {edge_rows}) AS e(seg_id, x1, y1, x2, y2)
    ), xr AS (
      SELECT *, CAST(ceil(least(u1, u2)) AS BIGINT) AS lo,
                CAST(floor(greatest(u1, u2)) AS BIGINT) AS hi
      FROM legs WHERE u2 <> u1
    ), xc AS (
      SELECT seg_id, u1, v1, u2, v2,
             (CAST(unnest(generate_series(lo, hi)) AS DOUBLE) - u1)
               / (u2 - u1) AS t
      FROM xr WHERE hi >= lo
    ), yr AS (
      SELECT *, CAST(ceil(least(v1, v2)) AS BIGINT) AS lo,
                CAST(floor(greatest(v1, v2)) AS BIGINT) AS hi
      FROM legs WHERE v2 <> v1
    ), yc AS (
      SELECT seg_id, u1, v1, u2, v2,
             (CAST(unnest(generate_series(lo, hi)) AS DOUBLE) - v1)
               / (v2 - v1) AS t
      FROM yr WHERE hi >= lo
    ), tsu AS (
      SELECT seg_id, u1, v1, u2, v2, 0.0 AS t FROM legs
      UNION ALL SELECT * FROM xc
      UNION ALL SELECT * FROM yc
    ), tfu AS (
      SELECT * FROM tsu WHERE t >= 0.0 AND t < 1.0
    ), mids AS (
      SELECT seg_id,
             (t + COALESCE(lead(t) OVER (PARTITION BY seg_id
                                         ORDER BY t), 1.0)) / 2 AS tm,
             u1, v1, u2, v2
      FROM tfu
    ), ecov AS (
      SELECT DISTINCT
             greatest(0, least(CAST(floor(u1 + tm * (u2 - u1)) AS BIGINT),
                               {n - 1})) AS tile_x,
             greatest(0, least(CAST(floor(v1 + tm * (v2 - v1)) AS BIGINT),
                               {n - 1})) AS tile_y
      FROM mids
    ), centers AS (
      SELECT tile_x, tile_y FROM (
        SELECT gx.range AS tile_x, gy.range AS tile_y
        FROM range({tx0}, {tx1 + 1}) gx, range({ty0}, {ty1 + 1}) gy
      ) WHERE {inside}
    )"""
    ctes, union = _sql_compact_ctes(
        z, "SELECT DISTINCT tile_x AS tx, tile_y AS ty FROM "
           "(SELECT * FROM ecov UNION ALL SELECT * FROM centers)")
    return f"""
    WITH {sup},
    {ctes}
    {union}
    """


# ---------------------------------------------------------------------------
# q: tile_kmv / tile_overlap — bottom-k distinct sketch + set operations
# ---------------------------------------------------------------------------

KMV_ZOOM = 3


def _event_user_tiles(spark: SparkSession, sf_dir: str) -> DataFrame:
    pts = _event_points(spark, sf_dir)
    return (T.assign_tiles(pts, [KMV_ZOOM])
             .select("user_id", "tile_x", "tile_y"))


def q_tile_kmv(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-z3-tile KMV (bottom-k) distinct-user sketch: k smallest
    md5-derived 60-bit hashes per tile (WindowGroupLimit prune), exact
    count below k, (k-1)*2^60/h_(k) estimate above — a SECOND
    mergeable sketch family under the exact value-hash gate, chosen
    because bottom-k supports sketch SET OPERATIONS (see
    ``tile_overlap``) that HLL registers cannot."""
    from .operators import sketch as SK

    bk = SK.kmv_sketch(_event_user_tiles(spark, sf_dir),
                       ["tile_x", "tile_y"], "user_id")
    out = SK.kmv_finalize(bk, ["tile_x", "tile_y"])
    return out.select(F.col("tile_x").cast("long").alias("tile_x"),
                      F.col("tile_y").cast("long").alias("tile_y"),
                      F.col("n_sketch").cast("long").alias("n_sketch"),
                      F.col("kth_hash").cast("long").alias("kth_hash"),
                      F.col("est_kmv").cast("double").alias("est_kmv"))


CMS_PROBES = list(range(1, 11))  # probe user ids for the point queries


def q_tile_cms(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-z3-tile count-min sketch of user FREQUENCY (the third
    sketch family beside HLL and KMV — those answer distinct, CMS
    answers "how often"): 4x64 additive counters from disjoint 15-bit
    slices of the shared md5 60-bit hash, point estimates for a fixed
    probe set, the exact true counts, and the in-job ``ok`` column
    asserting the CMS never-underestimate guarantee per row.

    Scale shape: ONE partial-agg'd Exchange over the 4x explode;
    per-tile state bounded at 256 counters; probes are a broadcast
    literal.  Counters are sums -> order-independent, mergeable, and
    the streaming twin (`streaming/cms.py`) equals this bit-for-bit."""
    from .operators import sketch as SK

    t = _event_user_tiles(spark, sf_dir)
    counters = SK.cms_counters(t, ["tile_x", "tile_y"], "user_id")
    est = SK.cms_estimate(counters, ["tile_x", "tile_y"], CMS_PROBES)
    tru = (t.filter(F.col("user_id").isin(CMS_PROBES))
           .groupBy("tile_x", "tile_y",
                    F.col("user_id").alias("probe"))
           .agg(F.count(F.lit(1)).alias("true_cnt")))
    return (est.join(tru, ["tile_x", "tile_y", "probe"], "left")
            .select(F.col("tile_x").cast("long").alias("tile_x"),
                    F.col("tile_y").cast("long").alias("tile_y"),
                    F.col("probe").cast("long").alias("probe"),
                    F.col("est").cast("long").alias("est"),
                    F.coalesce("true_cnt", F.lit(0)).cast("long")
                    .alias("true_cnt"),
                    (F.col("est") >= F.coalesce("true_cnt", F.lit(0)))
                    .cast("int").alias("ok"))
            .orderBy("tile_x", "tile_y", "probe"))


def sql_tile_cms() -> str:
    from .operators.sketch import CMS_W, cms_probe_buckets, md5_hash60

    tx, ty = _sql_tile(str(KMV_ZOOM))
    h = md5_hash60("md5(CAST(user_id AS VARCHAR))")
    probes = ",".join(f"({p},{j},{b})"
                      for p, j, b in cms_probe_buckets(CMS_PROBES))
    in_list = ",".join(str(p) for p in CMS_PROBES)
    return f"""
    WITH pts AS (
      SELECT user_id, {EVT_LON} AS lon, {EVT_LAT} AS lat FROM events
    ), proj AS (
      SELECT user_id, {_SQL_X} AS x3857, {_SQL_Y} AS y3857 FROM pts
    ), t AS (
      SELECT user_id, {tx} AS tile_x, {ty} AS tile_y FROM proj
    ), hs AS (
      SELECT tile_x, tile_y, user_id, {h} AS h FROM t
    ), cnts AS (
      SELECT tile_x, tile_y, j, (h >> (15 * j)) & {CMS_W - 1} AS b,
             COUNT(*) AS cnt
      FROM hs, UNNEST(generate_series(0, 3)) AS u(j)
      GROUP BY 1, 2, 3, 4
    ), keys AS (
      SELECT DISTINCT tile_x, tile_y FROM t
    ), probes(probe, j, b) AS (VALUES {probes}),
    skel AS (
      SELECT k.tile_x, k.tile_y, p.probe, p.j, p.b
      FROM keys k CROSS JOIN probes p
    ), est AS (
      SELECT s.tile_x, s.tile_y, s.probe,
             MIN(COALESCE(c.cnt, 0)) AS est
      FROM skel s LEFT JOIN cnts c
        ON c.tile_x = s.tile_x AND c.tile_y = s.tile_y
       AND c.j = s.j AND c.b = s.b
      GROUP BY 1, 2, 3
    ), tru AS (
      SELECT tile_x, tile_y, user_id AS probe, COUNT(*) AS true_cnt
      FROM t WHERE user_id IN ({in_list})
      GROUP BY 1, 2, 3
    )
    SELECT CAST(e.tile_x AS BIGINT) AS tile_x,
           CAST(e.tile_y AS BIGINT) AS tile_y,
           CAST(e.probe AS BIGINT) AS probe,
           CAST(e.est AS BIGINT) AS est,
           CAST(COALESCE(tr.true_cnt, 0) AS BIGINT) AS true_cnt,
           CAST(CASE WHEN e.est >= COALESCE(tr.true_cnt, 0)
                     THEN 1 ELSE 0 END AS INT) AS ok
    FROM est e LEFT JOIN tru tr
      ON tr.tile_x = e.tile_x AND tr.tile_y = e.tile_y
     AND tr.probe = e.probe
    ORDER BY tile_x, tile_y, probe
    """


BLOOM_PROBES = list(range(1, 9)) + [1000000007, 1000000008]  # last two absent


def q_bloom_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bloom-pruned semi join (Bratbergsengen's bloom-join): orders of
    customers in one nation, with the dim side's keys compressed into
    a ~10-bits-per-key broadcast Bloom filter that drops non-matching
    orders MAP-ONLY before the shuffle join.  False positives are
    removed by the real join, false negatives are impossible — so the
    oracle is the PLAIN semi-join SQL, and the hash gate proves the
    prune never lost a row.  At 10^12 rows the prune is the point: a
    1e8-key dim fits an 8 MiB filter cap, and the big side's shuffle
    volume shrinks to roughly the true match fraction plus fp."""
    from .operators import sketch as SK

    orders = read_sf(spark, sf_dir, "orders")
    cust = (read_sf(spark, sf_dir, "customer")
            .filter(F.col("c_nationkey") == 7).select("c_custkey"))
    out = SK.bloom_prune_join(orders.select("o_orderkey", "o_custkey"),
                              cust, "o_custkey", "c_custkey", how="semi")
    return (out.select(F.col("o_orderkey").cast("long").alias("o_orderkey"),
                       F.col("o_custkey").cast("long").alias("o_custkey"))
            .orderBy("o_orderkey"))


def sql_bloom_join() -> str:
    return """
    SELECT CAST(o_orderkey AS BIGINT) AS o_orderkey,
           CAST(o_custkey AS BIGINT) AS o_custkey
    FROM orders
    WHERE o_custkey IN (SELECT c_custkey FROM customer WHERE c_nationkey = 7)
    ORDER BY o_orderkey
    """


def q_tile_bloom(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-tile Bloom membership filter (the FOURTH mergeable sketch
    family — HLL distinct / KMV set-ops / CMS frequency / Bloom
    MEMBERSHIP): 256-bit filters of each tile's visitor set, built at
    z3 from one raw pass, then OR-MERGED to z1 from z3 sketch state
    alone.  Probes are a broadcast literal (8 present + 2 absent user
    ids); each output row carries the Bloom verdict, the exact truth,
    and the in-job ``fn_ok`` column asserting Bloom's no-false-negative
    guarantee.  The oracle rebuilds the Z1 filter DIRECTLY from raw
    rows, so the hash gate also proves merge == direct (OR
    associativity made executable).

    Scale shape: one partial-agg'd Exchange over the 4-position
    explode; per-tile state <= 8 longs however many rows arrive; the
    merge never touches raw data."""
    from .operators import sketch as SK

    t = _event_user_tiles(spark, sf_dir)
    keys = ["tile_x", "tile_y"]
    w3 = SK.bloom_words(t, keys, "user_id")
    w1 = SK.bloom_merge(w3, {"tile_x": F.expr("shiftright(tile_x, 2)"),
                             "tile_y": F.expr("shiftright(tile_y, 2)")})
    m3 = SK.bloom_member(w3, keys, BLOOM_PROBES).withColumn("zoom", F.lit(3))
    m1 = SK.bloom_member(w1, keys, BLOOM_PROBES).withColumn("zoom", F.lit(1))
    mem = m3.unionByName(m1)
    t1 = t.select(F.expr("shiftright(tile_x, 2)").alias("tile_x"),
                  F.expr("shiftright(tile_y, 2)").alias("tile_y"), "user_id")
    tru = (t.withColumn("zoom", F.lit(3))
            .unionByName(t1.withColumn("zoom", F.lit(1)))
            .filter(F.col("user_id").isin(BLOOM_PROBES))
            .groupBy("zoom", "tile_x", "tile_y",
                     F.col("user_id").alias("probe"))
            .agg(F.lit(1).alias("present")))
    return (mem.join(tru, ["zoom", "tile_x", "tile_y", "probe"], "left")
            .select(F.col("zoom").cast("int").alias("zoom"),
                    F.col("tile_x").cast("long").alias("tile_x"),
                    F.col("tile_y").cast("long").alias("tile_y"),
                    F.col("probe").cast("long").alias("probe"),
                    F.col("member").cast("int").alias("member"),
                    F.coalesce("present", F.lit(0)).cast("int")
                     .alias("present"),
                    (F.col("member") >= F.coalesce("present", F.lit(0)))
                    .cast("int").alias("fn_ok"))
            .orderBy("zoom", "tile_x", "tile_y", "probe"))


def sql_tile_bloom() -> str:
    from .operators.sketch import (BLOOM_K, BLOOM_M, _BLOOM_W,
                                   bloom_probe_words, md5_hash60)

    tx, ty = _sql_tile(str(KMV_ZOOM))
    h = md5_hash60("md5(CAST(user_id AS VARCHAR))")
    probes = ",".join(f"({p},{w},{m})"
                      for p, w, m in bloom_probe_words(BLOOM_PROBES))
    in_list = ",".join(str(p) for p in BLOOM_PROBES)
    pos = f"((h >> (15 * j)) & {BLOOM_M - 1})"
    return f"""
    WITH pts AS (
      SELECT user_id, {EVT_LON} AS lon, {EVT_LAT} AS lat FROM events
    ), proj AS (
      SELECT user_id, {_SQL_X} AS x3857, {_SQL_Y} AS y3857 FROM pts
    ), t3 AS (
      SELECT user_id, {tx} AS tile_x, {ty} AS tile_y FROM proj
    ), t AS (
      SELECT 3 AS zoom, tile_x, tile_y, user_id FROM t3
      UNION ALL
      SELECT 1 AS zoom, tile_x // 4, tile_y // 4, user_id FROM t3
    ), hs AS (
      SELECT zoom, tile_x, tile_y, user_id, {h} AS h FROM t
    ), words AS (
      SELECT zoom, tile_x, tile_y, {pos} // {_BLOOM_W} AS w,
             bit_or(1::BIGINT << ({pos} % {_BLOOM_W})) AS bits
      FROM hs, UNNEST(generate_series(0, {BLOOM_K - 1})) AS u(j)
      GROUP BY 1, 2, 3, 4
    ), keys AS (
      SELECT DISTINCT zoom, tile_x, tile_y FROM t
    ), probes(probe, w, need) AS (VALUES {probes}),
    mem AS (
      SELECT k.zoom, k.tile_x, k.tile_y, p.probe,
             MIN(CASE WHEN (COALESCE(wd.bits, 0) & p.need) = p.need
                      THEN 1 ELSE 0 END) AS member
      FROM keys k CROSS JOIN probes p
      LEFT JOIN words wd
        ON wd.zoom = k.zoom AND wd.tile_x = k.tile_x
       AND wd.tile_y = k.tile_y AND wd.w = p.w
      GROUP BY 1, 2, 3, 4
    ), tru AS (
      SELECT DISTINCT zoom, tile_x, tile_y, user_id AS probe, 1 AS present
      FROM t WHERE user_id IN ({in_list})
    )
    SELECT CAST(m.zoom AS INT) AS zoom,
           CAST(m.tile_x AS BIGINT) AS tile_x,
           CAST(m.tile_y AS BIGINT) AS tile_y,
           CAST(m.probe AS BIGINT) AS probe,
           CAST(m.member AS INT) AS member,
           CAST(COALESCE(tr.present, 0) AS INT) AS present,
           CAST(CASE WHEN m.member >= COALESCE(tr.present, 0)
                     THEN 1 ELSE 0 END AS INT) AS fn_ok
    FROM mem m LEFT JOIN tru tr
      ON tr.zoom = m.zoom AND tr.tile_x = m.tile_x
     AND tr.tile_y = m.tile_y AND tr.probe = m.probe
    ORDER BY zoom, tile_x, tile_y, probe
    """


def _sql_kmv_bk() -> str:
    from .operators.sketch import KMV_K, md5_hash60

    tx, ty = _sql_tile(str(KMV_ZOOM))
    h = md5_hash60("md5(CAST(user_id AS VARCHAR))")
    return f"""pts AS (
      SELECT user_id, {EVT_LON} AS lon, {EVT_LAT} AS lat FROM events
    ), proj AS (
      SELECT user_id, {_SQL_X} AS x3857, {_SQL_Y} AS y3857 FROM pts
    ), t AS (
      SELECT user_id, {tx} AS tx, {ty} AS ty FROM proj
    ), hs AS (
      SELECT DISTINCT tx, ty, {h} AS h FROM t
    ), r AS (
      SELECT tx, ty, h,
             row_number() OVER (PARTITION BY tx, ty ORDER BY h) AS rank
      FROM hs
    ), bk AS (
      SELECT * FROM r WHERE rank <= {KMV_K}
    )"""


def sql_tile_kmv() -> str:
    from .operators.sketch import _KMV_NUM, KMV_K

    return f"""
    WITH {_sql_kmv_bk()},
    g AS (
      SELECT tx, ty, COUNT(*) AS n_sketch,
             MAX(CASE WHEN rank = {KMV_K} THEN h END) AS kth
      FROM bk GROUP BY 1, 2
    )
    SELECT CAST(tx AS BIGINT) AS tile_x, CAST(ty AS BIGINT) AS tile_y,
           CAST(n_sketch AS BIGINT) AS n_sketch,
           CAST(COALESCE(kth, 0) AS BIGINT) AS kth_hash,
           CASE WHEN kth IS NULL THEN CAST(n_sketch AS DOUBLE)
                ELSE {_KMV_NUM!r} / CAST(kth AS DOUBLE) END AS est_kmv
    FROM g
    """


def q_tile_overlap(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sketch-space set intersection: for each horizontally-adjacent
    z3 tile pair, how many distinct users both tiles saw — estimated
    from the two bottom-k sketches alone (matches inside the union's
    bottom-k, scaled by the union estimate; exact when the union
    sketch is complete).  The whole operator runs on sketch rows
    (<= 2k per pair), never raw events — region-overlap analytics at
    10^12 rows for the price of a sketch join."""
    from .operators import sketch as SK

    bk = SK.kmv_sketch(_event_user_tiles(spark, sf_dir),
                       ["tile_x", "tile_y"], "user_id")
    out = SK.kmv_overlap_x(bk)
    return out.select(F.col("tile_x").cast("long").alias("tile_x"),
                      F.col("tile_y").cast("long").alias("tile_y"),
                      F.col("matches").cast("long").alias("matches"),
                      F.col("n_union_sketch").cast("long")
                       .alias("n_union_sketch"),
                      F.col("union_kth").cast("long").alias("union_kth"),
                      F.col("est_inter").cast("double").alias("est_inter"),
                      F.col("est_jaccard").cast("double")
                       .alias("est_jaccard"))


def sql_tile_overlap() -> str:
    from .operators.sketch import _KMV_NUM, KMV_K

    return f"""
    WITH {_sql_kmv_bk()},
    pairs AS (
      SELECT a.tx, a.ty
      FROM (SELECT DISTINCT tx, ty FROM bk) a
      JOIN (SELECT DISTINCT tx, ty FROM bk) b
        ON a.tx + 1 = b.tx AND a.ty = b.ty
    ), u AS (
      SELECT p.tx, p.ty, bk.h,
             MAX(CASE WHEN bk.tx = p.tx THEN 1 ELSE 0 END) AS in_a,
             MAX(CASE WHEN bk.tx = p.tx + 1 THEN 1 ELSE 0 END) AS in_b
      FROM pairs p
      JOIN bk ON bk.ty = p.ty AND (bk.tx = p.tx OR bk.tx = p.tx + 1)
      GROUP BY 1, 2, bk.h
    ), ur AS (
      SELECT tx, ty, h, in_a, in_b,
             row_number() OVER (PARTITION BY tx, ty ORDER BY h) AS rank
      FROM u
    ), uk AS (
      SELECT * FROM ur WHERE rank <= {KMV_K}
    ), og AS (
      SELECT tx, ty, SUM(in_a * in_b) AS matches,
             COUNT(*) AS n_union_sketch,
             MAX(CASE WHEN rank = {KMV_K} THEN h END) AS kth
      FROM uk GROUP BY 1, 2
    )
    SELECT CAST(tx AS BIGINT) AS tile_x, CAST(ty AS BIGINT) AS tile_y,
           CAST(matches AS BIGINT) AS matches,
           CAST(n_union_sketch AS BIGINT) AS n_union_sketch,
           CAST(COALESCE(kth, 0) AS BIGINT) AS union_kth,
           CASE WHEN kth IS NULL THEN CAST(matches AS DOUBLE)
                ELSE CAST(matches AS DOUBLE)
                     * ({_KMV_NUM!r} / CAST(kth AS DOUBLE)) / {float(KMV_K)!r}
           END AS est_inter,
           CASE WHEN kth IS NULL
                THEN CAST(matches AS DOUBLE) / CAST(n_union_sketch AS DOUBLE)
                ELSE CAST(matches AS DOUBLE) / {float(KMV_K)!r}
           END AS est_jaccard
    FROM og
    """


# ---------------------------------------------------------------------------
# q: traj_stats / traj_simplify — trajectories over ordered events
# ---------------------------------------------------------------------------

EVT_LON = "(event_id * 3571 % 360000) / 1000.0 - 180.0"
EVT_LAT = "((event_id * 9973 + 7) % 170000) / 1000.0 - 85.0"

TRAJ_EPS_M = 500_000.0  # 3857-plane meters


def _event_points(spark: SparkSession, sf_dir: str) -> DataFrame:
    df = read_sf(spark, sf_dir, "events")
    return df.select("user_id", "event_id", "ts",
                     F.expr(EVT_LON).alias("lon"),
                     F.expr(EVT_LAT).alias("lat"))


def q_radius_gyration(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-user radius of gyration (Gonzalez et al., Nature 2008 — THE
    human-mobility statistic: how far a user's points spread around
    their centroid).  Planar integer-millidegree coordinates; rog^2 =
    mean squared deviation = (n*Sxx - Sx^2 + n*Syy - Sy^2) / n^2 —
    EXACT int64 numerator/denominator (int64 through ~1e6 points/user
    at this coordinate range; DECIMAL(38) beyond), ONE division for
    the double.  Single-point users report 0 exactly.

    Scale shape: one partial-agg'd Exchange on user_id; five integer
    sums combine map-side."""
    ev = read_sf(spark, sf_dir, "events").select(
        "user_id",
        F.expr("event_id * 3571 % 360000").alias("x"),
        F.expr("(event_id * 9973 + 7) % 170000").alias("y"))
    g = ev.groupBy("user_id").agg(
        F.count(F.lit(1)).alias("n"),
        F.sum("x").alias("sx"), F.sum("y").alias("sy"),
        F.sum(F.col("x") * F.col("x")).alias("sxx"),
        F.sum(F.col("y") * F.col("y")).alias("syy"))
    num = (F.col("n") * F.col("sxx") - F.col("sx") * F.col("sx")
           + F.col("n") * F.col("syy") - F.col("sy") * F.col("sy"))
    return (g.select(
        F.col("user_id").cast("long").alias("user_id"),
        F.col("n").cast("long").alias("n_points"),
        num.cast("long").alias("rog2_num"),
        (F.col("n") * F.col("n")).cast("long").alias("rog2_den"),
        (num.cast("double")
         / (F.col("n") * F.col("n")).cast("double")).alias("rog2"))
        .orderBy("user_id"))


def sql_radius_gyration() -> str:
    return """
    WITH p AS (
      SELECT user_id, event_id * 3571 % 360000 AS x,
             (event_id * 9973 + 7) % 170000 AS y
      FROM events
    ),
    g AS (
      SELECT user_id, CAST(COUNT(*) AS BIGINT) AS n,
             CAST(SUM(x) AS BIGINT) AS sx, CAST(SUM(y) AS BIGINT) AS sy,
             CAST(SUM(x * x) AS BIGINT) AS sxx,
             CAST(SUM(y * y) AS BIGINT) AS syy
      FROM p GROUP BY user_id
    )
    SELECT user_id, n AS n_points,
           CAST(n * sxx - sx * sx + n * syy - sy * sy AS BIGINT)
               AS rog2_num,
           CAST(n * n AS BIGINT) AS rog2_den,
           CAST(CAST(n * sxx - sx * sx + n * syy - sy * sy AS BIGINT)
                AS DOUBLE) / CAST(CAST(n * n AS BIGINT) AS DOUBLE) AS rog2
    FROM g ORDER BY user_id
    """


def q_od_lift(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Flow independence lift (gravity-model residuals) over the z2 OD
    matrix: per directed cell pair, lift = observed * grand_total /
    (origin_total * dest_total) — >1 means the corridor carries more
    trips than independent origin/destination popularity predicts.
    The numerator (obs * grand) and denominator (row * col) are EXACT
    int64; one division.

    Scale shape: runs entirely on the grid-bounded flow matrix (the
    raw-event reduction is `od_flows`); margins are two tiny aggs
    broadcast back onto the flows."""
    from .operators import flows as FLW

    flows = FLW.od_flows(_event_points(spark, sf_dir), OD_ZOOM)
    om = flows.groupBy("o_x", "o_y").agg(F.sum("n_trips").alias("o_total"))
    dm = flows.groupBy("d_x", "d_y").agg(F.sum("n_trips").alias("d_total"))
    gt = flows.agg(F.sum("n_trips").alias("grand"))
    out = (flows.join(F.broadcast(om), ["o_x", "o_y"])
                .join(F.broadcast(dm), ["d_x", "d_y"])
                .join(F.broadcast(gt)))
    num = F.col("n_trips") * F.col("grand")
    den = F.col("o_total") * F.col("d_total")
    return (out.select(
        F.col("o_x").cast("long").alias("o_x"),
        F.col("o_y").cast("long").alias("o_y"),
        F.col("d_x").cast("long").alias("d_x"),
        F.col("d_y").cast("long").alias("d_y"),
        F.col("n_trips").cast("long").alias("n_trips"),
        F.col("o_total").cast("long").alias("o_total"),
        F.col("d_total").cast("long").alias("d_total"),
        F.col("grand").cast("long").alias("grand"),
        num.cast("long").alias("lift_num"),
        den.cast("long").alias("lift_den"),
        (num.cast("double") / den.cast("double")).alias("lift"))
        .orderBy("o_x", "o_y", "d_x", "d_y"))


def sql_od_lift() -> str:
    base = sql_od_flows()
    chain = base[:base.index("SELECT * FROM flows")]
    return f"""{chain}, om AS (
      SELECT o_x, o_y, CAST(SUM(n_trips) AS BIGINT) AS o_total
      FROM flows GROUP BY o_x, o_y
    ), dm AS (
      SELECT d_x, d_y, CAST(SUM(n_trips) AS BIGINT) AS d_total
      FROM flows GROUP BY d_x, d_y
    ), gt AS (
      SELECT CAST(SUM(n_trips) AS BIGINT) AS grand FROM flows
    )
    SELECT f.o_x, f.o_y, f.d_x, f.d_y,
           CAST(f.n_trips AS BIGINT) AS n_trips,
           om.o_total, dm.d_total, gt.grand,
           CAST(f.n_trips * gt.grand AS BIGINT) AS lift_num,
           CAST(om.o_total * dm.d_total AS BIGINT) AS lift_den,
           CAST(CAST(f.n_trips * gt.grand AS BIGINT) AS DOUBLE)
             / CAST(CAST(om.o_total * dm.d_total AS BIGINT) AS DOUBLE)
               AS lift
    FROM flows f
    JOIN om ON f.o_x = om.o_x AND f.o_y = om.o_y
    JOIN dm ON f.d_x = dm.d_x AND f.d_y = dm.d_y
    CROSS JOIN gt
    ORDER BY f.o_x, f.o_y, f.d_x, f.d_y
    """


VISIT_ZOOM = 4


def q_visit_profile(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-user visitation profile (the mobility literature's S and
    f_1: Song et al. limits-of-predictability inputs): distinct z4
    cells visited, total pings, the most-visited cell with a
    deterministic (count desc, cell asc) tie-break, and its exact
    visit share top_num/top_den (one division).

    Scale shape: one Exchange into (user, cell) counts (partial agg),
    then a user-keyed fold over the bounded per-user cell set — the
    same two-level reduce as tile_diversity, keyed by user instead of
    tile."""
    pts = _event_points(spark, sf_dir)
    a = T.assign_tiles(pts, [VISIT_ZOOM]).select(
        "user_id", "tile_x", "tile_y")
    side = 1 << VISIT_ZOOM
    cnt = (a.groupBy("user_id", "tile_x", "tile_y")
            .agg(F.count(F.lit(1)).alias("cnt"))
            .withColumn("cell", F.col("tile_x") * side + F.col("tile_y")))
    per_user = cnt.groupBy("user_id").agg(
        F.count(F.lit(1)).alias("n_cells"),
        F.sum("cnt").alias("n_pings"),
        F.min(F.struct((-F.col("cnt")).alias("neg"),
                       F.col("cell").alias("cell"))).alias("top"))
    return (per_user.select(
        F.col("user_id").cast("long").alias("user_id"),
        F.col("n_cells").cast("long").alias("n_cells"),
        F.col("n_pings").cast("long").alias("n_pings"),
        F.col("top.cell").cast("long").alias("top_cell"),
        (-F.col("top.neg")).cast("long").alias("top_visits"),
        ((-F.col("top.neg")).cast("double")
         / F.col("n_pings").cast("double")).alias("top_share"))
        .orderBy("user_id"))


def sql_visit_profile() -> str:
    tx, ty = _sql_tile(str(VISIT_ZOOM))
    side = 1 << VISIT_ZOOM
    return f"""
    WITH pts AS (
      SELECT user_id, {EVT_LON} AS lon, {EVT_LAT} AS lat FROM events
    ), proj AS (
      SELECT user_id, {_SQL_X} AS x3857, {_SQL_Y} AS y3857 FROM pts
    ), cnt AS (
      SELECT user_id, {tx} * {side} + {ty} AS cell, COUNT(*) AS cnt
      FROM proj GROUP BY 1, 2
    ), ranked AS (
      SELECT user_id, cell, cnt,
             ROW_NUMBER() OVER (PARTITION BY user_id
                                ORDER BY cnt DESC, cell ASC) AS rn
      FROM cnt
    ), per_user AS (
      SELECT user_id, CAST(COUNT(*) AS BIGINT) AS n_cells,
             CAST(SUM(cnt) AS BIGINT) AS n_pings
      FROM cnt GROUP BY user_id
    )
    SELECT p.user_id, p.n_cells, p.n_pings,
           CAST(r.cell AS BIGINT) AS top_cell,
           CAST(r.cnt AS BIGINT) AS top_visits,
           CAST(CAST(r.cnt AS BIGINT) AS DOUBLE)
             / CAST(p.n_pings AS DOUBLE) AS top_share
    FROM per_user p JOIN ranked r ON p.user_id = r.user_id AND r.rn = 1
    ORDER BY p.user_id
    """


def q_traj_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-user track statistics over (ts, event_id)-ordered events:
    window + aggregation on the SAME key, so Spark plans ONE Exchange
    (plan-asserted).  Haversine legs are floored to whole meters
    BEFORE summing — BIGINT totals are reduction-order-independent
    and hash-exact under the oracle, where a raw float sum would
    drift by both reduction order and libm ulps."""
    from .operators import trajectories as TRJ

    return TRJ.track_stats(_event_points(spark, sf_dir)).select(
        F.col("user_id").cast("long").alias("user_id"),
        F.col("n_points").cast("long").alias("n_points"),
        F.col("length_m").cast("long").alias("length_m"),
        F.col("max_leg_m").cast("long").alias("max_leg_m"),
        F.col("net_m").cast("long").alias("net_m"),
        F.col("dur_s").cast("long").alias("dur_s"))


def sql_traj_stats() -> str:
    from .operators.trajectories import SQL_HAVERSINE_KM

    leg = SQL_HAVERSINE_KM.format(lon1="plon", lat1="plat",
                                  lon2="lon", lat2="lat")
    net = SQL_HAVERSINE_KM.format(lon1="flon", lat1="flat",
                                  lon2="llon", lat2="llat")
    return f"""
    WITH pts AS (
      SELECT user_id, event_id, ts, {EVT_LON} AS lon, {EVT_LAT} AS lat
      FROM events
    ), legs AS (
      SELECT user_id, lon, lat,
             lag(lon) OVER w AS plon, lag(lat) OVER w AS plat,
             row_number() OVER w AS rn,
             count(*) OVER (PARTITION BY user_id) AS n,
             CAST(floor(epoch(ts)) AS BIGINT) AS es
      FROM pts WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
    ), leg_m AS (
      SELECT user_id, es, rn, n, lon, lat,
             CASE WHEN plon IS NULL THEN NULL
                  ELSE CAST(FLOOR({leg} * 1000.0) AS BIGINT) END AS leg_m
      FROM legs
    ), agg AS (
      SELECT user_id,
             CAST(COUNT(*) AS BIGINT) AS n_points,
             CAST(COALESCE(SUM(leg_m), 0) AS BIGINT) AS length_m,
             CAST(COALESCE(MAX(leg_m), 0) AS BIGINT) AS max_leg_m,
             CAST(MAX(es) - MIN(es) AS BIGINT) AS dur_s,
             MIN(CASE WHEN rn = 1 THEN lon END) AS flon,
             MIN(CASE WHEN rn = 1 THEN lat END) AS flat,
             MIN(CASE WHEN rn = n THEN lon END) AS llon,
             MIN(CASE WHEN rn = n THEN lat END) AS llat
      FROM leg_m GROUP BY user_id
    )
    SELECT CAST(user_id AS BIGINT) AS user_id, n_points, length_m, max_leg_m,
           CAST(FLOOR({net} * 1000.0) AS BIGINT) AS net_m, dur_s
    FROM agg
    """


# ---------------------------------------------------------------------------
# q: stay_points — stop/move trajectory segmentation
# ---------------------------------------------------------------------------

STAY_RADIUS_M = 1_500_000   # hop >= this many meters starts a new segment
STAY_GAP_S = 6 * 3600       # ... or a silence >= 6 hours
STAY_MIN_PTS = 2


def q_stay_points(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Stay-point detection over per-user event tracks: split wherever
    the hop exceeds STAY_RADIUS_M meters or STAY_GAP_S seconds, keep
    segments with >= STAY_MIN_PTS fixes, report dwell time and the
    integer-microdegree centroid.  Lag, running segment sum, and the
    final aggregate all key on user_id, so the whole operator is ONE
    Exchange (plan-asserted); centroids are exact BIGINT math — the
    synthetic lon/lat are DECIMALs, so lon*1e6 is an exact integer on
    both engines and the order-independent sum survives the hash gate."""
    from .operators import trajectories as TRJ

    out = TRJ.stay_points(_event_points(spark, sf_dir),
                          radius_m=STAY_RADIUS_M, max_gap_s=STAY_GAP_S,
                          min_points=STAY_MIN_PTS)
    return out.select(F.col("user_id").cast("long").alias("user_id"),
                      F.col("seg").cast("long").alias("seg"),
                      F.col("n_points").cast("long").alias("n_points"),
                      F.col("start_es").cast("long").alias("start_es"),
                      F.col("dwell_s").cast("long").alias("dwell_s"),
                      "c_lon_udeg", "c_lat_udeg")


def sql_stay_points() -> str:
    from .operators.trajectories import SQL_HAVERSINE_KM

    leg = SQL_HAVERSINE_KM.format(lon1="plon", lat1="plat",
                                  lon2="lon", lat2="lat")
    return f"""
    WITH pts AS (
      SELECT user_id, event_id, ts, {EVT_LON} AS lon, {EVT_LAT} AS lat
      FROM events
    ), legs AS (
      SELECT user_id, event_id, ts, lon, lat,
             lag(lon) OVER w AS plon, lag(lat) OVER w AS plat,
             CAST(floor(epoch(ts)) AS BIGINT) AS es,
             lag(CAST(floor(epoch(ts)) AS BIGINT)) OVER w AS pes
      FROM pts WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
    ), flags AS (
      SELECT user_id, event_id, ts, es,
             CAST(lon * 1000000 AS BIGINT) AS lon_u,
             CAST(lat * 1000000 AS BIGINT) AS lat_u,
             CASE WHEN plon IS NULL
                  OR CAST(FLOOR({leg} * 1000.0) AS BIGINT)
                     >= {STAY_RADIUS_M}
                  OR es - pes >= {STAY_GAP_S} THEN 1 ELSE 0 END AS brk
      FROM legs
    ), segs AS (
      SELECT user_id, es, lon_u, lat_u,
             SUM(brk) OVER (PARTITION BY user_id ORDER BY ts, event_id)
               AS seg
      FROM flags
    )
    SELECT CAST(user_id AS BIGINT) AS user_id,
           CAST(seg AS BIGINT) AS seg,
           CAST(COUNT(*) AS BIGINT) AS n_points,
           CAST(MIN(es) AS BIGINT) AS start_es,
           CAST(MAX(es) - MIN(es) AS BIGINT) AS dwell_s,
           CAST(FLOOR(SUM(lon_u) / COUNT(*)) AS BIGINT) AS c_lon_udeg,
           CAST(FLOOR(SUM(lat_u) / COUNT(*)) AS BIGINT) AS c_lat_udeg
    FROM segs GROUP BY user_id, seg
    HAVING COUNT(*) >= {STAY_MIN_PTS}
    """


# ---------------------------------------------------------------------------
# q: od_flows — origin-destination mobility matrix at z2
# ---------------------------------------------------------------------------

OD_ZOOM = 2


def q_od_flows(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Directed z2 flow matrix over event trajectories: per (user,
    UTC day) the first->last positions form one trip; trips and
    distinct users are counted per (origin cell, destination cell).
    ``operators/flows.py``: min_by/max_by partial aggs reduce raw pings
    to trip endpoints map-side BEFORE the first shuffle — the oracle's
    window formulation (rank every raw row) is the plan this avoids."""
    from .operators import flows as FLW

    return (FLW.od_flows(_event_points(spark, sf_dir), OD_ZOOM)
            .orderBy("o_x", "o_y", "d_x", "d_y"))


def sql_od_flows() -> str:
    def tile(xc, yc):
        z = OD_ZOOM
        res = f"(2.0 * {MAX_EXTENTS} / pow(2.0, {z}))"
        last = f"(cast(pow(2.0, {z}) as bigint) - 1)"
        tx = (f"greatest(0, least(cast(floor(({xc} + {MAX_EXTENTS})"
              f" / {res}) as bigint), {last}))")
        ty = (f"greatest(0, least(cast(floor(({MAX_EXTENTS} - {yc})"
              f" / {res}) as bigint), {last}))")
        return tx, ty

    def proj(lon, lat):
        x = f"least({R} * radians({lon}), {MAX_EXTENTS})"
        y = (f"greatest({R} * ln(tan(0.25 * pi() + 0.5 *"
             f" radians({lat}))), -{MAX_EXTENTS})")
        return x, y

    oxm, oym = proj("olon", "olat")
    dxm, dym = proj("dlon", "dlat")
    otx, oty = tile("ox3857", "oy3857")
    dtx, dty = tile("dx3857", "dy3857")
    return f"""
    WITH pts AS (
      SELECT user_id, event_id, ts, {EVT_LON} AS lon, {EVT_LAT} AS lat,
             epoch_us(ts) // 86400000000 AS day
      FROM events
    ), ranked AS (
      SELECT user_id, day, lon, lat,
             row_number() OVER w AS rn,
             count(*) OVER (PARTITION BY user_id, day) AS n
      FROM pts WINDOW w AS (PARTITION BY user_id, day ORDER BY ts, event_id)
    ), trips AS (
      SELECT user_id, day,
             MIN(CASE WHEN rn = 1 THEN lon END) AS olon,
             MIN(CASE WHEN rn = 1 THEN lat END) AS olat,
             MIN(CASE WHEN rn = n THEN lon END) AS dlon,
             MIN(CASE WHEN rn = n THEN lat END) AS dlat
      FROM ranked GROUP BY user_id, day
    ), proj AS (
      SELECT user_id, {oxm} AS ox3857, {oym} AS oy3857,
             {dxm} AS dx3857, {dym} AS dy3857
      FROM trips
    ), cells AS (
      SELECT user_id, {otx} AS o_x, {oty} AS o_y, {dtx} AS d_x, {dty} AS d_y
      FROM proj
    ), flows AS (
      SELECT o_x, o_y, d_x, d_y, COUNT(*) AS n_trips,
             COUNT(DISTINCT user_id) AS n_users
      FROM cells GROUP BY o_x, o_y, d_x, d_y
    )
    SELECT * FROM flows
    ORDER BY o_x, o_y, d_x, d_y
    """


# ---------------------------------------------------------------------------
# q: interval_join — point-in-validity-window enrichment
# ---------------------------------------------------------------------------

IVJ_CHUNK = 3600   # bucket width, seconds — near the median window length


def q_interval_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Validity-window join: every (probe event, service window)
    pair whose instant falls inside the window — executed as the
    chunk-bucketed equi-join of `operators/temporal.py::
    interval_overlap_join` (Spark's native plan for the raw range
    predicate is BroadcastNestedLoopJoin), ownership-deduped without
    a distinct shuffle.  Windows are synthesized from every 5th event
    (anchor + (id%13+1)*300 s); the remaining events probe as [ts,
    ts+1) points.  The oracle is the literal range-predicate join."""
    from .operators import temporal as TP

    ev = read_sf(spark, sf_dir, "events").select(
        F.col("event_id").alias("id"),
        F.expr("unix_micros(cast(ts as timestamp)) div 1000000")
        .alias("es"))
    iv = (ev.filter(F.expr("id % 5 = 0"))
          .select(F.col("id").alias("i_id"), F.col("es").alias("i_s"),
                  F.expr("es + (id % 13 + 1) * 300").alias("i_e")))
    pr = (ev.filter(F.expr("id % 5 != 0"))
          .select(F.col("id").alias("p_id"), F.col("es").alias("p_s"),
                  F.expr("es + 1").alias("p_e")))
    out = TP.interval_overlap_join(
        pr, iv, IVJ_CHUNK,
        a_id="p_id", a_s="p_s", a_e="p_e",
        b_id="i_id", b_s="i_s", b_e="i_e")
    return (out.select(F.col("p_id").cast("long"),
                       F.col("i_id").cast("long"),
                       F.col("p_s").cast("long").alias("ts"),
                       F.col("i_s").cast("long"),
                       F.col("i_e").cast("long"))
            .orderBy("p_id", "i_id"))


def sql_interval_join() -> str:
    return """
    WITH e AS (
      SELECT event_id AS id, epoch_us(ts) // 1000000 AS es FROM events
    ), iv AS (
      SELECT id AS i_id, es AS i_s, es + (id % 13 + 1) * 300 AS i_e
      FROM e WHERE id % 5 = 0
    ), pr AS (
      SELECT id AS p_id, es FROM e WHERE id % 5 <> 0
    )
    SELECT CAST(p_id AS BIGINT) AS p_id,
           CAST(i_id AS BIGINT) AS i_id,
           CAST(es AS BIGINT) AS ts,
           CAST(i_s AS BIGINT) AS i_s,
           CAST(i_e AS BIGINT) AS i_e
    FROM pr JOIN iv ON es >= i_s AND es < i_e
    ORDER BY p_id, i_id
    """


# ---------------------------------------------------------------------------
# q: hausdorff_pairs — trajectory-similarity join (exact integer Hausdorff)
# ---------------------------------------------------------------------------

HDJ_TAU = 2500     # symmetric Hausdorff threshold, lattice units
HDJ_CELL = 2500    # blocking grid width — near the track span


def q_hausdorff_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Trajectory-similarity join: user pairs whose tracks are within
    symmetric Hausdorff distance HDJ_TAU of each other (route-coverage
    comparison / trace entity resolution) — `operators/trajectories.py::
    hausdorff_join`, bbox-grid-blocked, never a cartesian pair join.
    Tracks are bounded walks (span < 1500) around per-user lattice
    homes 2000 apart, so lattice neighbors match and diagonals don't.
    All distances exact int64 squares; the oracle is the literal
    all-pairs max-min recompute."""
    from .operators import trajectories as TRJ

    ev = read_sf(spark, sf_dir, "events", spread=True).select(
        F.col("user_id").alias("ent"),
        F.expr("(user_id % 25) * 2000 + event_id * 131 % 1500").alias("x"),
        F.expr("(user_id div 25 % 8) * 2000 + event_id * 173 % 1500")
        .alias("y"))
    return (TRJ.hausdorff_join(ev, HDJ_TAU, HDJ_CELL)
            .orderBy("ent_a", "ent_b"))


def sql_hausdorff_pairs() -> str:
    return f"""
    WITH p AS (
      SELECT DISTINCT user_id AS ent,
             (user_id % 25) * 2000 + event_id * 131 % 1500 AS x,
             (user_id // 25 % 8) * 2000 + event_id * 173 % 1500 AS y
      FROM events
    ), d AS (
      SELECT a.ent AS ea, b.ent AS eb, a.x AS ax, a.y AS ay,
             b.x AS bx, b.y AS by_,
             (a.x - b.x) * (a.x - b.x) + (a.y - b.y) * (a.y - b.y) AS d2
      FROM p a JOIN p b ON a.ent < b.ent
    ), ma AS (
      SELECT ea, eb, ax, ay, MIN(d2) AS m FROM d GROUP BY ea, eb, ax, ay
    ), mb AS (
      SELECT ea, eb, bx, by_, MIN(d2) AS m FROM d GROUP BY ea, eb, bx, by_
    ), hab AS (
      SELECT ea, eb, MAX(m) AS h_ab_sq FROM ma GROUP BY ea, eb
    ), hba AS (
      SELECT ea, eb, MAX(m) AS h_ba_sq FROM mb GROUP BY ea, eb
    )
    SELECT CAST(hab.ea AS BIGINT) AS ent_a,
           CAST(hab.eb AS BIGINT) AS ent_b,
           CAST(h_ab_sq AS BIGINT) AS h_ab_sq,
           CAST(h_ba_sq AS BIGINT) AS h_ba_sq,
           CAST(greatest(h_ab_sq, h_ba_sq) AS BIGINT) AS h_sq
    FROM hab JOIN hba ON hab.ea = hba.ea AND hab.eb = hba.eb
    WHERE greatest(h_ab_sq, h_ba_sq) <= {HDJ_TAU} * {HDJ_TAU}
    ORDER BY ent_a, ent_b
    """


# ---------------------------------------------------------------------------
# q: grid_geodesic — obstacle-aware BFS distance transform on the lattice
# ---------------------------------------------------------------------------

GGD_ZOOM = 7    # 128 x 128 lattice: ~60% order occupancy at sf0.01 —
                # near the site-percolation threshold, so the walkable
                # set is a genuine maze with nontrivial detours
GGD_MAXD = 8    # BFS horizon (rounds)
GGD_DEPOT_MOD = 101   # orders with key % this == 0 seed depot cells


def q_grid_geodesic(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Geodesic distance transform: for every order-occupied z7 cell,
    the shortest 4-connected path length to the nearest DEPOT cell
    (orders with key % GGD_DEPOT_MOD == 0) walking only through
    occupied cells — "how far is every serviced cell from the nearest
    depot along the service grid" (`operators/tiles.py::
    grid_geodesic`, bounded-round BFS on cell-set algebra).  The
    near-percolation occupancy makes a genuine maze: free-space
    Chebyshev rings would be wrong wherever the path detours.
    Oracle: DuckDB recursive-CTE BFS."""
    from .operators import tiles as T

    # moduli coprime to the lattice side: a shared power-of-two
    # modulus would lock x and y to the same k mod 128 phase (a 1-D
    # cycle, not a 2-D occupancy maze)
    occ = (read_sf(spark, sf_dir, "orders")
           .select(F.col("o_orderkey"),
                   F.expr("o_orderkey * 7919 % 360000 div 2813")
                   .alias("tile_x"),
                   F.expr("(o_orderkey * 104729 + 13) % 170000 div 1329")
                   .alias("tile_y")))
    walk = occ.select("tile_x", "tile_y").distinct()
    seeds = (occ.filter(F.expr(f"o_orderkey % {GGD_DEPOT_MOD} = 0"))
             .select("tile_x", "tile_y"))
    return (T.grid_geodesic(seeds, walk, GGD_ZOOM, GGD_MAXD)
            .orderBy("tile_x", "tile_y"))


def sql_grid_geodesic() -> str:
    n = 1 << GGD_ZOOM
    return f"""
    WITH RECURSIVE occ AS (
      SELECT o_orderkey AS k,
             o_orderkey * 7919 % 360000 // 2813 AS x,
             (o_orderkey * 104729 + 13) % 170000 // 1329 AS y
      FROM orders
    ), walk AS (
      SELECT DISTINCT x, y FROM occ
    ), seeds AS (
      SELECT DISTINCT x, y FROM occ WHERE k % {GGD_DEPOT_MOD} = 0
    ), r AS (
      SELECT x, y, 0 AS d FROM seeds
      UNION
      SELECT w.x, w.y, r.d + 1
      FROM r
      JOIN (VALUES (1, 0), (-1, 0), (0, 1), (0, -1)) o(dx, dy) ON true
      JOIN walk w ON w.x = (r.x + o.dx + {n}) % {n}
                 AND w.y = r.y + o.dy
      WHERE r.d < {GGD_MAXD}
    )
    SELECT CAST(x AS BIGINT) AS tile_x, CAST(y AS BIGINT) AS tile_y,
           CAST(MIN(d) AS BIGINT) AS dist
    FROM r GROUP BY x, y
    ORDER BY tile_x, tile_y
    """


# ---------------------------------------------------------------------------
# q: frechet_pairs — ORDERED-track similarity join (discrete Fréchet <= tau)
# ---------------------------------------------------------------------------

FDJ_TAU = 2500     # discrete Fréchet threshold, lattice units


def q_frechet_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Ordered-track similarity join: user pairs whose event-ordered
    tracks are within discrete Fréchet distance FDJ_TAU ("followed the
    same route in the same order") — `operators/trajectories.py::
    frechet_join`: shared lossless bbox-grid blocking, then the
    reachability DP per candidate pair in one Arrow-batched pandas
    UDF.  Same home-lattice walks as `hausdorff_pairs`; the ordered
    semantics admit strictly fewer pairs than the Hausdorff join.  The
    oracle is a DuckDB RECURSIVE-CTE reachability twin, and `n_reach`
    hash-checks the entire DP surface, not just the verdict."""
    from .operators import trajectories as TRJ

    ev = read_sf(spark, sf_dir, "events", spread=True).select(
        F.col("user_id").alias("ent"),
        F.col("event_id").alias("ord"),
        F.expr("(user_id % 25) * 2000 + event_id * 131 % 1500").alias("x"),
        F.expr("(user_id div 25 % 8) * 2000 + event_id * 173 % 1500")
        .alias("y"))
    return (TRJ.frechet_join(ev, FDJ_TAU, HDJ_CELL)
            .orderBy("ent_a", "ent_b"))


def sql_frechet_pairs() -> str:
    return f"""
    WITH RECURSIVE pts AS (
      SELECT user_id AS ent,
             (user_id % 25) * 2000 + event_id * 131 % 1500 AS x,
             (user_id // 25 % 8) * 2000 + event_id * 173 % 1500 AS y,
             row_number() OVER (PARTITION BY user_id ORDER BY event_id)
               AS rn
      FROM events
    ), tlen AS (
      SELECT ent, MAX(rn) AS n FROM pts GROUP BY ent
    ), ok AS (
      SELECT a.ent AS ea, b.ent AS eb, a.rn AS i, b.rn AS j
      FROM pts a JOIN pts b ON a.ent < b.ent
      WHERE (a.x - b.x) * (a.x - b.x) + (a.y - b.y) * (a.y - b.y)
            <= {FDJ_TAU} * {FDJ_TAU}
    ), reach AS (
      SELECT ea, eb, i, j FROM ok WHERE i = 1 AND j = 1
      UNION
      SELECT o.ea, o.eb, o.i, o.j
      FROM reach r JOIN ok o
        ON o.ea = r.ea AND o.eb = r.eb
       AND ((o.i = r.i + 1 AND o.j = r.j)
         OR (o.i = r.i AND o.j = r.j + 1)
         OR (o.i = r.i + 1 AND o.j = r.j + 1))
    ), agg AS (
      SELECT ea, eb, COUNT(*) AS n_reach,
             MAX(CASE WHEN i = la.n AND j = lb.n THEN 1 ELSE 0 END)
               AS matched
      FROM reach
      JOIN tlen la ON la.ent = ea
      JOIN tlen lb ON lb.ent = eb
      GROUP BY ea, eb
    )
    SELECT CAST(agg.ea AS BIGINT) AS ent_a,
           CAST(agg.eb AS BIGINT) AS ent_b,
           CAST(la.n AS BIGINT) AS n_a,
           CAST(lb.n AS BIGINT) AS n_b,
           CAST(n_reach AS BIGINT) AS n_reach
    FROM agg
    JOIN tlen la ON la.ent = agg.ea
    JOIN tlen lb ON lb.ent = agg.eb
    WHERE matched = 1
    ORDER BY ent_a, ent_b
    """


# ---------------------------------------------------------------------------
# q: co_travel — spatiotemporal contact pairs over events
# ---------------------------------------------------------------------------

CT_CELL = 45000    # blocking cell size, integer millidegree units
CT_BUCKET = 86400  # time bucket, seconds (1 day)
CT_MIN = 8         # minimum distinct co-buckets to report a pair


def q_co_travel(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Co-travel / contact detection: user pairs sharing a space-time
    cell in >= CT_MIN distinct time buckets (contact tracing, convoy
    mining — `operators/flows.py::co_travel`).  Blocked by an
    equi-join on the (cell, bucket) key, never cartesian; the oracle
    is the literal distinct-occupancy self-join."""
    from .operators import flows as FLW

    ev = read_sf(spark, sf_dir, "events").select(
        F.col("user_id").alias("user"),
        F.expr("event_id * 3571 % 360000").alias("x"),
        F.expr("(event_id * 9973 + 7) % 170000").alias("y"),
        F.expr("unix_micros(cast(ts as timestamp)) div 1000000")
        .alias("es"))
    return (FLW.co_travel(ev, CT_CELL, CT_BUCKET, CT_MIN)
            .orderBy("user_a", "user_b"))


def sql_co_travel() -> str:
    return f"""
    WITH p AS (
      SELECT user_id AS ent,
             (event_id * 3571 % 360000) // {CT_CELL} AS cx,
             ((event_id * 9973 + 7) % 170000) // {CT_CELL} AS cy,
             (epoch_us(ts) // 1000000) // {CT_BUCKET} AS b
      FROM events
    ), occ AS (
      SELECT DISTINCT ent, cx, cy, b FROM p
    ), pb AS (
      SELECT DISTINCT a.ent AS user_a, b2.ent AS user_b, a.b AS b
      FROM occ a JOIN occ b2
        ON a.cx = b2.cx AND a.cy = b2.cy AND a.b = b2.b
       AND a.ent < b2.ent
    )
    SELECT CAST(user_a AS BIGINT) AS user_a,
           CAST(user_b AS BIGINT) AS user_b,
           CAST(COUNT(*) AS BIGINT) AS n_cobuckets,
           CAST(MIN(b) AS BIGINT) AS first_bucket,
           CAST(MAX(b) AS BIGINT) AS last_bucket
    FROM pb GROUP BY user_a, user_b
    HAVING COUNT(*) >= {CT_MIN}
    ORDER BY user_a, user_b
    """


# ---------------------------------------------------------------------------
# q: knox_test — space-time interaction over events
# ---------------------------------------------------------------------------

KNOX_DS = 2000   # spatial radius, integer millidegree units
KNOX_DT = 5000   # temporal radius, seconds


def q_knox_test(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Knox space-time interaction test over events ("are events close
    in space also close in time?" — outbreak/aftershock detection):
    exact pair counts via the colocation halo join in space and its
    1-D bucket twin in time (`operators/colocation.py::knox_test`);
    the oracle is the literal O(n^2) self-join."""
    from .operators import colocation as CL

    ev = read_sf(spark, sf_dir, "events").select(
        F.col("event_id").alias("id"),
        F.expr("event_id * 3571 % 360000").alias("x"),
        F.expr("(event_id * 9973 + 7) % 170000").alias("y"),
        F.expr("unix_micros(cast(ts as timestamp)) div 1000000")
        .alias("es"))
    return CL.knox_test(ev, KNOX_DS, KNOX_DT)


def sql_knox_test() -> str:
    ds2 = KNOX_DS * KNOX_DS
    return f"""
    WITH p AS (
      SELECT event_id AS id,
             event_id * 3571 % 360000 AS x,
             (event_id * 9973 + 7) % 170000 AS y,
             epoch_us(ts) // 1000000 AS es
      FROM events
    ),
    pr AS (
      SELECT (a.x - b.x) * (a.x - b.x) + (a.y - b.y) * (a.y - b.y) AS d2,
             abs(a.es - b.es) AS dt
      FROM p a JOIN p b ON a.id < b.id
    ),
    ag AS (
      SELECT COUNT(*) AS n_pairs,
             SUM(CASE WHEN d2 <= {ds2} THEN 1 ELSE 0 END) AS n_space,
             SUM(CASE WHEN dt <= {KNOX_DT} THEN 1 ELSE 0 END) AS n_time,
             SUM(CASE WHEN d2 <= {ds2} AND dt <= {KNOX_DT}
                 THEN 1 ELSE 0 END) AS n_both
      FROM pr
    ),
    tot AS (SELECT COUNT(*) AS n FROM p)
    SELECT CAST(n AS BIGINT) AS n,
           CAST(n_pairs AS BIGINT) AS n_pairs,
           CAST(n_space AS BIGINT) AS n_space,
           CAST(n_time AS BIGINT) AS n_time,
           CAST(n_both AS BIGINT) AS n_both,
           CAST(n_space * n_time AS BIGINT) AS ex_num,
           CAST(n_pairs AS BIGINT) AS ex_den,
           CAST(CAST(n_space * n_time AS BIGINT) AS DOUBLE)
             / CAST(CAST(n_pairs AS BIGINT) AS DOUBLE) AS e_both,
           CAST(n_both * n_pairs AS BIGINT) AS knox_num,
           CAST(n_space * n_time AS BIGINT) AS knox_den,
           CASE WHEN n_space * n_time = 0 THEN CAST(0 AS DOUBLE)
                ELSE CAST(CAST(n_both * n_pairs AS BIGINT) AS DOUBLE)
                   / CAST(CAST(n_space * n_time AS BIGINT) AS DOUBLE)
           END AS knox_ratio
    FROM ag, tot
    """


# ---------------------------------------------------------------------------
# q: tile_transitions — first-order Markov mobility chain at z3
# ---------------------------------------------------------------------------

MKV_ZOOM = 3


PR_GRID = 8


def q_tile_pagerank(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Integer fixed-point PageRank over the per-user tile-transition
    graph (`flows.tile_pagerank`): which cells do movement flows
    concentrate in — 5 exact floor-quantized iterations, hash-exact
    rank vector (the oracle unrolls the same 5 iterations as chained
    CTEs)."""
    from .operators import flows as FLW

    df = read_sf(spark, sf_dir, "events").select(
        F.col("user_id").alias("ent"), "ts",
        F.col("event_id").alias("id"),
        F.expr("event_id * 3571 % 360000").alias("x"),
        F.expr("(event_id * 9973 + 7) % 170000").alias("y"))
    return (FLW.tile_pagerank(df, PR_GRID)
            .orderBy("cell_x", "cell_y"))


def sql_tile_pagerank() -> str:
    from .operators.flows import PR_D_DEN, PR_D_NUM, PR_ITERS, PR_SCALE

    g = PR_GRID
    cw = 360000 // g
    ch = 170000 // g
    rs = []
    for k in range(1, PR_ITERS + 1):
        rs.append(f"""
    r{k} AS (
      SELECT nodes.node,
             {PR_D_DEN - PR_D_NUM} * {PR_SCALE}
               // ({PR_D_DEN} * (SELECT n FROM nn))
             + {PR_D_NUM} * COALESCE(
                 SUM(r{k - 1}.rank * e2.cnt // outd.outc), 0)
               // {PR_D_DEN} AS rank
      FROM nodes
      LEFT JOIN e2 ON e2.dst = nodes.node
      LEFT JOIN r{k - 1} ON r{k - 1}.node = e2.src
      LEFT JOIN outd ON outd.src = e2.src
      GROUP BY nodes.node
    )""")
    iters_sql = ",".join(rs)
    return f"""
    WITH cells AS (
      SELECT user_id, ts, event_id,
             ((event_id * 3571 % 360000) // {cw}) * {g}
             + ((event_id * 9973 + 7) % 170000) // {ch} AS node
      FROM events
    ),
    tr AS (
      SELECT node AS src,
             LEAD(node) OVER (PARTITION BY user_id
                              ORDER BY ts, event_id) AS dst
      FROM cells
    ),
    e AS (
      SELECT src, dst, COUNT(*) AS cnt FROM tr
      WHERE dst IS NOT NULL GROUP BY src, dst
    ),
    nodes AS (
      SELECT DISTINCT node FROM (
        SELECT src AS node FROM e UNION ALL SELECT dst FROM e)
    ),
    dang AS (
      SELECT node FROM nodes
      WHERE node NOT IN (SELECT DISTINCT src FROM e)
    ),
    e2 AS (
      SELECT src, dst, cnt FROM e
      UNION ALL SELECT node, node, CAST(1 AS BIGINT) FROM dang
    ),
    outd AS (SELECT src, SUM(cnt) AS outc FROM e2 GROUP BY src),
    nn AS (SELECT COUNT(*) AS n FROM nodes),
    r0 AS (SELECT node, {PR_SCALE} // n AS rank FROM nodes, nn),
    {iters_sql},
    ow AS (SELECT src, SUM(cnt) AS out_weight FROM e GROUP BY src)
    SELECT CAST(r.node // {g} AS BIGINT) AS cell_x,
           CAST(r.node % {g} AS BIGINT) AS cell_y,
           CAST(COALESCE(ow.out_weight, 0) AS BIGINT) AS out_weight,
           CAST(r.rank AS BIGINT) AS rank_e6
    FROM r{PR_ITERS} r LEFT JOIN ow ON ow.src = r.node
    ORDER BY cell_x, cell_y
    """


def q_tile_transitions(spark: SparkSession, sf_dir: str) -> DataFrame:
    """First-order Markov transition matrix between z3 tiles over
    per-user consecutive events (`operators/flows.py::
    tile_transitions`): counts, origin totals, ONE-division
    probabilities, and the deterministic next-cell rank."""
    from .operators import flows as FLW

    return (FLW.tile_transitions(_event_points(spark, sf_dir), MKV_ZOOM)
            .orderBy("from_x", "from_y", "to_x", "to_y"))


def sql_tile_transitions() -> str:
    z = MKV_ZOOM
    res = f"(2.0 * {MAX_EXTENTS} / pow(2.0, {z}))"
    last = f"(cast(pow(2.0, {z}) as bigint) - 1)"
    tx = (f"greatest(0, least(cast(floor((x3857 + {MAX_EXTENTS})"
          f" / {res}) as bigint), {last}))")
    ty = (f"greatest(0, least(cast(floor(({MAX_EXTENTS} - y3857)"
          f" / {res}) as bigint), {last}))")
    x = f"least({R} * radians(lon), {MAX_EXTENTS})"
    y = (f"greatest({R} * ln(tan(0.25 * pi() + 0.5 *"
         f" radians(lat))), -{MAX_EXTENTS})")
    return f"""
    WITH pts AS (
      SELECT user_id, event_id, ts, {EVT_LON} AS lon, {EVT_LAT} AS lat
      FROM events
    ), proj AS (
      SELECT user_id, event_id, ts, {x} AS x3857, {y} AS y3857 FROM pts
    ), cells AS (
      SELECT user_id, event_id, ts, {tx} AS cx, {ty} AS cy FROM proj
    ), tr AS (
      SELECT cx AS from_x, cy AS from_y,
             lead(cx) OVER w AS to_x, lead(cy) OVER w AS to_y
      FROM cells WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
    ), trans AS (
      SELECT from_x, from_y, to_x, to_y, COUNT(*) AS n_trans
      FROM tr WHERE to_x IS NOT NULL
      GROUP BY 1, 2, 3, 4
    ), tot AS (
      SELECT from_x, from_y, SUM(n_trans) AS n_from
      FROM trans GROUP BY 1, 2
    )
    SELECT t.from_x, t.from_y, t.to_x, t.to_y,
           CAST(t.n_trans AS BIGINT) AS n_trans,
           CAST(n_from AS BIGINT) AS n_from,
           CAST(t.n_trans AS DOUBLE)
             / CAST(CAST(n_from AS BIGINT) AS DOUBLE) AS p,
           CAST(ROW_NUMBER() OVER (
                  PARTITION BY t.from_x, t.from_y
                  ORDER BY t.n_trans DESC, t.to_x, t.to_y) AS INT) AS rank
    FROM trans t JOIN tot USING (from_x, from_y)
    ORDER BY from_x, from_y, to_x, to_y
    """


# ---------------------------------------------------------------------------
# q: geofence_transitions — enter/exit alerts against the test polygon
# ---------------------------------------------------------------------------

def q_geofence_transitions(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Enter/exit transition rows per user against the fixed coverage
    polygon, in (ts, event_id) order.  ``operators/geofence.py``: the
    inside flag is map-side shared-expression-text ray casting (both
    engines run the identical float op sequence), and the only shuffle
    is the per-user window — the batch twin of the cross-batch
    stateful stream in ``streaming/geofence.py``."""
    from .operators import geofence as GF

    pts = (read_sf(spark, sf_dir, "events")
           .select("user_id", "event_id", "ts",
                   F.expr(EVT_LON).alias("lon"),
                   F.expr(EVT_LAT).alias("lat")))
    return (GF.geofence_transitions(pts, PIP_POLY)
            .orderBy("user_id", "event_id"))


def sql_geofence_transitions() -> str:
    from .operators.geofence import inside_crossings

    return f"""
    WITH pts AS (
      SELECT user_id, event_id, ts, {EVT_LON} AS lon, {EVT_LAT} AS lat
      FROM events
    ), flagged AS (
      SELECT user_id, event_id, epoch_us(ts) AS ts_us,
             (({inside_crossings(PIP_POLY)}) % 2 = 1) AS ins
      FROM pts
    ), seq AS (
      SELECT user_id, event_id, ts_us, ins,
             lag(ins) OVER (PARTITION BY user_id
                            ORDER BY ts_us, event_id) AS prev
      FROM flagged
    )
    SELECT user_id, event_id, ts_us,
           CASE WHEN ins THEN 'enter' ELSE 'exit' END AS kind
    FROM seq WHERE prev IS NOT NULL AND prev <> ins
    ORDER BY user_id, event_id
    """


# ---------------------------------------------------------------------------
# q: track_crossings — exact segment-intersection join over trajectories
# ---------------------------------------------------------------------------

# microdegrees off the BIGINT lattice (exact int64 orientation math)
EVT_UX = "(event_id * 3571 % 360000) * 1000 - 180000000"
EVT_UY = "((event_id * 9973 + 7) % 170000) * 1000 - 85000000"


def _crossing_points(spark: SparkSession, sf_dir: str) -> DataFrame:
    return (read_sf(spark, sf_dir, "events")
            .filter((F.col("event_type") == "purchase")
                    & (F.col("value") < 50.0))
            .select("user_id", "event_id", "ts",
                    F.expr(EVT_UX).alias("ux"), F.expr(EVT_UY).alias("uy")))


def q_track_crossings(spark: SparkSession, sf_dir: str) -> DataFrame:
    """User pairs whose purchase-trip polylines intersect, with the
    count of crossing segment pairs.  ``operators/segments.py``: grid
    cell cover + equi-join on the cell key + exact int64 intersection
    predicate in codegen (proper crossings AND endpoint/collinear
    touches) — the oracle runs the literal O(S^2) all-pairs test this
    plan avoids.  The synthetic lattice produces world-spanning legs,
    so a coarse 4x2 grid bounds the fan-out here; real short-leg
    tracks make the cover ~linear."""
    from .operators import segments as SEG

    segs = SEG.track_segments(_crossing_points(spark, sf_dir))
    return (SEG.crossing_pairs(segs, nx=4, ny=2)
            .orderBy("entity_a", "entity_b"))


# ---------------------------------------------------------------------------
# q: heading_mix — per-user compass-rose bearing distribution
# ---------------------------------------------------------------------------


def q_heading_mix(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Initial great-circle bearing of every leg, bucketed into the
    8-sector compass rose, counted per user.  The atan2 expression
    tree is shared verbatim with the oracle; only the floor-bucketed
    integer sector is output.  Window + aggregate share the user key:
    ONE Exchange."""
    from .operators import trajectories as TRJ

    out = TRJ.heading_mix(_event_points(spark, sf_dir))
    return out.select(F.col("user_id").cast("long").alias("user_id"),
                      F.col("sector").cast("long").alias("sector"),
                      F.col("n_legs").cast("long").alias("n_legs"))


def sql_heading_mix() -> str:
    from .operators.trajectories import SQL_BEARING_DEG

    brg = SQL_BEARING_DEG.format(lon1="plon", lat1="plat",
                                 lon2="lon", lat2="lat")
    return f"""
    WITH pts AS (
      SELECT user_id, event_id, ts, {EVT_LON} AS lon, {EVT_LAT} AS lat
      FROM events
    ), legs AS (
      SELECT user_id, lon, lat,
             lag(lon) OVER w AS plon, lag(lat) OVER w AS plat
      FROM pts WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
    )
    SELECT CAST(user_id AS BIGINT) AS user_id,
           CAST(FLOOR(({brg} + 360.0) / 45.0) AS BIGINT) % 8 AS sector,
           CAST(COUNT(*) AS BIGINT) AS n_legs
    FROM legs WHERE plon IS NOT NULL
    GROUP BY 1, 2
    """


# ---------------------------------------------------------------------------
# q: traj_interp — time-grid trajectory resampling (gap-fill interpolation)
# ---------------------------------------------------------------------------

INTERP_STEP_S = 6 * 3600  # 6-hour grid


def q_traj_interp(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Resample every user's track onto the 6-hour epoch grid by exact
    integer linear interpolation between the bracketing fixes — the
    hypertable gapfill+interpolate analog.  Half-open leg intervals
    make each grid mark unique and rule out division by zero; both
    engines truncate integer division toward zero, so the lerp is
    hash-exact with no float term.  One Exchange (the user window),
    then a map-only explode."""
    from .operators import trajectories as TRJ

    pts = (read_sf(spark, sf_dir, "events")
           .select("user_id", "event_id", "ts",
                   F.expr(EVT_UX).alias("ux"), F.expr(EVT_UY).alias("uy")))
    out = TRJ.resample_tracks(pts, step_s=INTERP_STEP_S)
    return out.select(F.col("user_id").cast("long").alias("user_id"),
                      "grid_es", "x", "y")


def sql_traj_interp() -> str:
    s = INTERP_STEP_S
    return f"""
    WITH pts AS (
      SELECT user_id, event_id, ts, {EVT_UX} AS ux, {EVT_UY} AS uy
      FROM events
    ), legs AS (
      SELECT user_id, ux, uy,
             CAST(floor(epoch(ts)) AS BIGINT) AS es,
             lag(CAST(floor(epoch(ts)) AS BIGINT)) OVER w AS pes,
             lag(ux) OVER w AS px, lag(uy) OVER w AS py
      FROM pts WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
    ), marks AS (
      SELECT user_id, ux, uy, es, pes, px, py,
             unnest(generate_series(pes // {s} + 1, es // {s})) AS k
      FROM legs WHERE pes IS NOT NULL
    )
    SELECT CAST(user_id AS BIGINT) AS user_id,
           CAST(k * {s} AS BIGINT) AS grid_es,
           CAST(px + ((ux - px) * (k * {s} - pes)) // (es - pes)
                AS BIGINT) AS x,
           CAST(py + ((uy - py) * (k * {s} - pes)) // (es - pes)
                AS BIGINT) AS y
    FROM marks
    """


# ---------------------------------------------------------------------------
# q: map_snap — nearest-segment snap (map matching), exact integer geometry
# ---------------------------------------------------------------------------

# millidegrees on the BIGINT lattice: coordinate magnitudes <= 180000
# keep every snap intermediate inside DECIMAL(38) / HUGEINT headroom
EVT_MX = "(event_id * 3571 % 360000) - 180000"
EVT_MY = "((event_id * 9973 + 7) % 170000) - 85000"

# constant "road network" dim: (seg_id, ax, ay, bx, by) in millidegrees
SNAP_SEGS = [
    (1, -120000, 35000, -75000, 41000),
    (2, -3000, 51000, 13000, 52000),
    (3, 139000, 35000, 116000, 40000),
    (4, -46000, -23000, 18000, -33000),
    (5, 77000, 13000, 100000, 14000),
    (6, -99000, 19000, -58000, -34000),
    (7, 151000, -33000, 174000, -41000),
    (8, 31000, 30000, 3000, 6000),
    (9, -18000, 64000, 10000, 59000),
    (10, -70000, -15000, -57000, -25000),
]


def q_map_snap(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Snap every event point to the nearest of 10 constant network
    segments (map matching): clamped-projection squared distance in
    EXACT integer arithmetic — DECIMAL(38,0) for the two >int64
    products, floored back to BIGINT — with ties to the lowest seg_id.
    No join, no shuffle: the network is a literal, the argmin is an
    `array_min` over struct(d2, seg_id), and the whole query is one
    map-only projection (plan-asserted zero Exchanges)."""
    from .operators import segments as SEG

    pts = (read_sf(spark, sf_dir, "events")
           .select("event_id", F.expr(EVT_MX).alias("mx"),
                   F.expr(EVT_MY).alias("my")))
    out = SEG.snap_to_segments(pts, SNAP_SEGS, x_col="mx", y_col="my")
    return out.select(F.col("event_id").cast("long").alias("event_id"),
                      "mx", "my", "seg_id", "snap_d2")


def sql_map_snap() -> str:
    vals = ", ".join(f"({sid}, {ax}, {ay}, {bx}, {by})"
                     for sid, ax, ay, bx, by in SNAP_SEGS)
    return f"""
    WITH pts AS (
      SELECT event_id, {EVT_MX} AS mx, {EVT_MY} AS my FROM events
    ), segs AS (
      SELECT seg_id, CAST(ax AS BIGINT) AS ax, CAST(ay AS BIGINT) AS ay,
             CAST(bx AS BIGINT) AS bx, CAST(by AS BIGINT) AS by
      FROM (VALUES {vals}) t(seg_id, ax, ay, bx, by)
    ), d AS (
      SELECT p.event_id, p.mx, p.my, s.seg_id,
             (p.mx - s.ax) * (s.bx - s.ax)
               + (p.my - s.ay) * (s.by - s.ay) AS dot,
             (s.bx - s.ax) * (s.bx - s.ax)
               + (s.by - s.ay) * (s.by - s.ay) AS ab2,
             (p.mx - s.ax) * (p.mx - s.ax)
               + (p.my - s.ay) * (p.my - s.ay) AS ap2,
             (p.mx - s.bx) * (p.mx - s.bx)
               + (p.my - s.by) * (p.my - s.by) AS bp2
      FROM pts p CROSS JOIN segs s
    ), d2 AS (
      SELECT event_id, mx, my, seg_id,
             CASE WHEN dot <= 0 THEN ap2
                  WHEN dot >= ab2 THEN bp2
                  ELSE CAST((CAST(ap2 AS HUGEINT) * ab2
                             - CAST(dot AS HUGEINT) * dot) // ab2
                            AS BIGINT) END AS snap_d2
      FROM d
    ), r AS (
      SELECT event_id, mx, my, seg_id, snap_d2,
             row_number() OVER (PARTITION BY event_id
                                ORDER BY snap_d2, seg_id) AS rk
      FROM d2
    )
    SELECT CAST(event_id AS BIGINT) AS event_id,
           CAST(mx AS BIGINT) AS mx, CAST(my AS BIGINT) AS my,
           CAST(seg_id AS BIGINT) AS seg_id,
           CAST(snap_d2 AS BIGINT) AS snap_d2
    FROM r WHERE rk = 1
    """


def _sql_seg_intersect(a: str, b: str) -> str:
    """Closed segment-intersection predicate over integer columns
    {a}.x1..{a}.y2 vs {b}.x1..{b}.y2 — same cases as
    ``segments.segments_intersect`` (integer math: no ulp concerns)."""
    def orient(ox, oy, ax, ay, bx, by):
        return (f"(({ax} - {ox}) * ({by} - {oy})"
                f" - ({ay} - {oy}) * ({bx} - {ox}))")

    def on_seg(px, py, qx, qy, rx, ry):
        return (f"(least({px}, {qx}) <= {rx} AND {rx} <= greatest({px}, {qx})"
                f" AND least({py}, {qy}) <= {ry}"
                f" AND {ry} <= greatest({py}, {qy}))")

    d1 = orient(f"{b}.x1", f"{b}.y1", f"{b}.x2", f"{b}.y2", f"{a}.x1", f"{a}.y1")
    d2 = orient(f"{b}.x1", f"{b}.y1", f"{b}.x2", f"{b}.y2", f"{a}.x2", f"{a}.y2")
    d3 = orient(f"{a}.x1", f"{a}.y1", f"{a}.x2", f"{a}.y2", f"{b}.x1", f"{b}.y1")
    d4 = orient(f"{a}.x1", f"{a}.y1", f"{a}.x2", f"{a}.y2", f"{b}.x2", f"{b}.y2")
    return f"""(
      ((({d1}) > 0 AND ({d2}) < 0) OR (({d1}) < 0 AND ({d2}) > 0))
      AND ((({d3}) > 0 AND ({d4}) < 0) OR (({d3}) < 0 AND ({d4}) > 0))
      OR (({d1}) = 0 AND {on_seg(f"{b}.x1", f"{b}.y1", f"{b}.x2", f"{b}.y2",
                                 f"{a}.x1", f"{a}.y1")})
      OR (({d2}) = 0 AND {on_seg(f"{b}.x1", f"{b}.y1", f"{b}.x2", f"{b}.y2",
                                 f"{a}.x2", f"{a}.y2")})
      OR (({d3}) = 0 AND {on_seg(f"{a}.x1", f"{a}.y1", f"{a}.x2", f"{a}.y2",
                                 f"{b}.x1", f"{b}.y1")})
      OR (({d4}) = 0 AND {on_seg(f"{a}.x1", f"{a}.y1", f"{a}.x2", f"{a}.y2",
                                 f"{b}.x2", f"{b}.y2")})
    )"""


def sql_track_crossings() -> str:
    return f"""
    WITH pts AS (
      SELECT user_id, event_id, ts, {EVT_UX} AS ux, {EVT_UY} AS uy
      FROM events WHERE event_type = 'purchase' AND value < 50.0
    ), seg0 AS (
      SELECT user_id, event_id AS seg_id,
             lag(ux) OVER w AS x1, lag(uy) OVER w AS y1,
             ux AS x2, uy AS y2
      FROM pts WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
    ), seg AS (
      SELECT * FROM seg0 WHERE x1 IS NOT NULL
    ), hits AS (
      SELECT a.user_id AS entity_a, b.user_id AS entity_b
      FROM seg a JOIN seg b ON a.user_id < b.user_id
      WHERE {_sql_seg_intersect('a', 'b')}
    )
    SELECT entity_a, entity_b, COUNT(*) AS n_crossings
    FROM hits GROUP BY entity_a, entity_b ORDER BY entity_a, entity_b
    """


def q_asof_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """As-of temporal join: every click enriched with the latest error
    by the same user at or before the click (``operators/temporal.py``
    union+window plan — ONE Exchange over clicks+errors, no interval
    fan-out).  The oracle is DuckDB's NATIVE ``ASOF LEFT JOIN`` — a
    genuinely independent engine implementation of the operator (data
    has no (user, ts) ties at either gate scale, so both formulations
    are deterministic; tie semantics are pinned separately in pytest).
    Timestamps compare as ``unix_micros`` BIGINTs; the gap is an
    integer difference (no float columns under the gate)."""
    from .operators import temporal as TMP

    # ts is TIMESTAMP_NTZ; the session tz is UTC, so NTZ->TZ cast +
    # unix_micros == DuckDB's epoch_us on the naive value (exact BIGINT
    # microseconds — second-level epochs could tie inside a second)
    ev = read_sf(spark, sf_dir, "events").select(
        "event_id", "user_id", "event_type",
        F.unix_micros(F.col("ts").cast("timestamp")).alias("ts_us"))
    probes = (ev.filter(F.col("event_type") == "click")
              .select("event_id", "user_id", "ts_us"))
    refs = (ev.filter(F.col("event_type") == "error")
            .select("user_id", F.col("ts_us").alias("rts"),
                    F.col("event_id").alias("err_id"),
                    F.col("ts_us").alias("err_ts")))
    out = TMP.asof_join(probes, refs.withColumnRenamed("rts", "ts_us"),
                        key="user_id", ts="ts_us",
                        probe_cols=["event_id", "user_id", "ts_us"],
                        ref_cols=["err_id", "err_ts"])
    return out.select(
        "event_id", "user_id", "ts_us",
        F.col("asof_err_id").cast("long").alias("asof_err_id"),
        F.col("asof_err_ts").cast("long").alias("asof_err_ts"),
        (F.col("ts_us") - F.col("asof_err_ts")).cast("long").alias("gap_us"),
    ).orderBy("event_id")


def sql_asof_join() -> str:
    return """
    WITH clicks AS (
      SELECT event_id, user_id, epoch_us(ts) AS ts_us
      FROM events WHERE event_type = 'click'
    ), errors AS (
      SELECT event_id AS err_id, user_id, epoch_us(ts) AS err_ts
      FROM events WHERE event_type = 'error'
    )
    SELECT c.event_id, c.user_id, c.ts_us,
           CAST(e.err_id AS BIGINT) AS asof_err_id,
           CAST(e.err_ts AS BIGINT) AS asof_err_ts,
           CAST(c.ts_us - e.err_ts AS BIGINT) AS gap_us
    FROM clicks c ASOF LEFT JOIN errors e
      ON c.user_id = e.user_id AND c.ts_us >= e.err_ts
    ORDER BY c.event_id
    """


def q_traj_simplify(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Distributed Douglas-Peucker over per-user tracks: the
    reference's simplification recursion (kernel/simplify.py,
    DouglasPeucker.hs:19-55) per trajectory via groupBy(user) +
    applyInPandas.  Rows-only (the recursion is not SQL-expressible);
    every row carries in-job integrity columns — endpoints preserved,
    every dropped point within epsilon of its kept segment, and a
    kept-index checksum pytest-pinned against the kernel run
    directly."""
    from .operators import trajectories as TRJ

    pts = T.with_web_mercator(_event_points(spark, sf_dir))
    return TRJ.simplify_tracks(pts, epsilon_m=TRAJ_EPS_M).select(
        F.col("user_id").cast("long").alias("user_id"),
        F.col("n_points").cast("long").alias("n_points"),
        F.col("n_kept").cast("long").alias("n_kept"),
        F.col("kept_idx_checksum").cast("long").alias("kept_idx_checksum"),
        "endpoints_ok", "within_eps_ok")


# ---------------------------------------------------------------------------
# q: quadtree_split — adaptive data-balanced quadtree partitioning
# ---------------------------------------------------------------------------

QTS_CAP = 25       # max points per occupied leaf
QTS_MAX_ZOOM = 10  # split floor


def q_quadtree_split(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Adaptive quadtree partition map over the customer point set:
    every occupied leaf holds <= QTS_CAP points unless it already sits
    at QTS_MAX_ZOOM — the data-driven partitioning a 100-TB tiling job
    uses instead of blind salting (`operators/tiles.py::
    quadtree_split`, closed-form via count monotonicity: one data
    shuffle, then cell-set algebra)."""
    pts = _customer_points(spark, sf_dir)
    return (T.quadtree_split(pts, cap=QTS_CAP, max_zoom=QTS_MAX_ZOOM)
            .orderBy("zoom", "tile_x", "tile_y"))


def sql_quadtree_split() -> str:
    mz, cap = QTS_MAX_ZOOM, QTS_CAP
    tx, ty = _sql_tile(str(mz))
    return f"""
    WITH pts AS (
      SELECT {CUST_LON} AS lon, {CUST_LAT} AS lat FROM customer
    ), proj AS (
      SELECT {_SQL_X} AS x3857, {_SQL_Y} AS y3857 FROM pts
    ), f AS (
      SELECT {tx} AS fx, {ty} AS fy FROM proj
    ), fine AS (
      SELECT fx, fy, CAST(COUNT(*) AS BIGINT) AS c FROM f GROUP BY 1, 2
    ), cnt AS (
      SELECT t.z, fx >> ({mz} - t.z) AS x, fy >> ({mz} - t.z) AS y,
             SUM(c) AS c
      FROM fine, range(0, {mz + 1}) t(z)
      GROUP BY 1, 2, 3
    ), leaf AS (
      SELECT ch.z, ch.x, ch.y, ch.c
      FROM cnt ch LEFT JOIN cnt pa
        ON pa.z = ch.z - 1 AND pa.x = ch.x >> 1 AND pa.y = ch.y >> 1
      WHERE (ch.z = 0 OR pa.c > {cap}) AND (ch.c <= {cap} OR ch.z = {mz})
    )
    SELECT CAST(z AS INT) AS zoom, CAST(x AS BIGINT) AS tile_x,
           CAST(y AS BIGINT) AS tile_y, CAST(c AS BIGINT) AS n_points
    FROM leaf ORDER BY zoom, tile_x, tile_y
    """


from .operators import dbscan as DBS  # noqa: E402
from .operators import dedup as DD  # noqa: E402
from .operators import images as IMG  # noqa: E402
from .operators import splits as SPL  # noqa: E402
from .operators import hexgrid as HEX  # noqa: E402
from .operators import s2cells as S2C  # noqa: E402
from .operators import similarity as SIM  # noqa: E402
from .operators import text as TXT  # noqa: E402
from .streaming import dedup as SDD  # noqa: E402
from .streaming import neardup as SND  # noqa: E402
from .streaming import events as EV  # noqa: E402
from .streaming import sessions as SESS  # noqa: E402

QUERIES = {
    # spatial / tiling engine
    "tile_assign": q_tile_assign,
    "tile_counts": q_tile_counts,
    # hierarchical zoom rollup (aggregate once at z14, merge ancestors)
    "tile_rollup": q_tile_rollup,
    # spatiotemporal cube: (z5 tile, month|year) from one raw aggregation
    "tile_time_rollup": q_tile_time_rollup,
    # per-tile temporal change detection (two-period delta + chi-square
    # shift score in one aggregation pass)
    "tile_change": q_tile_change,
    # geohash string cell codes (prefix = containment; shared-text oracle)
    "geohash_assign": q_geohash_assign,
    # Bing quadkey strings for z9 tiles (string twin of tile_key)
    "quadkey_assign": q_quadkey_assign,
    # deterministic mergeable HLL-style distinct sketch (z5 merged from z9
    # registers; even the float estimate is oracle hash-exact)
    "tile_distinct_sketch": q_tile_distinct_sketch,
    # mergeable per-tile histogram quantiles (z5 merged from z9 state)
    "tile_hist_quantiles": q_tile_hist_quantiles,
    # exact per-tile quartiles via rank math (auditable percentile twin)
    "tile_quartiles": q_tile_quartiles,
    # per-tile 16x16 density raster summary (heatmap tiles)
    "tile_density": q_tile_density,
    # spatial balancing cap (geo twin of domain_cap; WindowGroupLimit)
    "tile_cap": q_tile_cap,
    # minimal mixed-zoom cell cover (H3 compactCells on the quadtree)
    "tile_compact": q_tile_compact,
    # exact segment supercover of trajectory legs (O(dx+dy) line tiling)
    "leg_cover": q_leg_cover,
    # the same compact recursion on the S2 hierarchy (cid >> 2 parent)
    "s2_compact": q_s2_compact,
    # lattice-sampled S2 polygon covering + compaction (covering parity
    # across all three CellIndex backends)
    "s2_polygon_cover": q_s2_polygon_cover,
    # per-tile centrography moment sketch (mergeable integer moments)
    "tile_moments": q_tile_moments,
    # polygon -> compacted cell cover (H3 polyfill shape)
    "polygon_cover": q_polygon_cover,
    # cover dilated one ring then compacted (grid polygon buffering)
    "polygon_buffer": q_polygon_buffer,
    # exact any-intersection polygon cover (edge supercover ∪ centers)
    "polygon_full_cover": q_polygon_full_cover,
    # bottom-k distinct sketch (second mergeable family; exact gate)
    "tile_kmv": q_tile_kmv,
    # count-min sketch frequency estimates (third sketch family)
    "tile_cms": q_tile_cms,
    # Bloom membership filter (fourth sketch family; z1 OR-merged from
    # z3 state, no-false-negative guarantee asserted in-job)
    "tile_bloom": q_tile_bloom,
    # bloom-pruned semi join (map-only big-side prune, exact output)
    "bloom_join": q_bloom_join,
    # sketch-space set intersection between adjacent tiles
    "tile_overlap": q_tile_overlap,
    "pip_polygon": q_pip_polygon,
    # multi-ring even-odd: polygon with an interior hole
    "pip_holes": q_pip_holes,
    "pip_polygon_bucketed": q_pip_polygon_bucketed,
    # per-polygon zonal statistics over the PIP join (5-zone dim)
    "zonal_stats": q_zonal_stats,
    # per-tile categorical diversity (exact Gini-Simpson + majority)
    "tile_diversity": q_tile_diversity,
    # per-tile activity trend (exact OLS slope fraction over months)
    "tile_trend": q_tile_trend,
    # per-tile Mann-Kendall trend (emerging-hotspot robust statistic)
    "mann_kendall": q_mann_kendall,
    # per-tile Sen's slope (median pairwise slope, the MK companion)
    "theil_sen": q_theil_sen,
    # k-anonymity spatial cloaking (finest ancestor cell with >= k users)
    "k_anon_tiles": q_k_anon_tiles,
    # l-diversity audit of the published cells (homogeneity attack)
    "l_diversity": q_l_diversity,
    # space-time composite: per-month Gi* + per-cell Mann-Kendall ->
    # new/intensifying/persistent/diminishing/... categories
    "emerging_hotspots": q_emerging_hotspots,
    # per-z9-tile row/coverage/key metrics (two map-side streams, agg-level join)
    "coverage_tile_stats": q_coverage_tile_stats,
    # 3x3 focal neighborhood sum over the z9 tile grid (raster smoothing)
    "tile_focal": q_tile_focal,
    # per-tile top-k selection (WindowGroupLimit map-side prune)
    "tile_topk": q_tile_topk,
    "knn_kring": q_knn,
    # table-vs-table kNN (15k-row query side, shuffle-join branch)
    "knn_table": q_knn_table,
    # fixed-radius distance-band join (cap-bbox cell fan-out)
    "radius_join": q_radius_join,
    # negative distance filter (rows beyond every site's disc)
    "radius_anti_join": q_radius_anti_join,
    # co-location pattern mining (participation index, 3x3-halo join)
    "colocation": q_colocation,
    # S2 hierarchical sphere index (north rule "H3/S2 index"): pure
    # Column-math cell assignment at 3 levels + S2-ring adaptive kNN
    "s2_cell_assign": S2C.q_s2_cell_assign,
    "knn_s2": S2C.q_knn_s2,
    # hexagonal cell index (H3-shaped axial grid on the 3857 plane;
    # honest non-bit-compatible stand-in — see operators/hexgrid.py)
    "hex_cell_assign": HEX.q_hex_cell_assign,
    "knn_hex": HEX.q_knn_hex,
    # H3-style polyfill (center containment on the 3857 plane) composed
    # with zonal point counts — third-backend parity for polygon_cover
    "hex_polyfill": HEX.q_hex_polyfill,
    "mvt_tile_stats": q_mvt_tile_stats,
    "mvt_encode": q_mvt_encode,
    # z5 tiles derived from z4 tile BYTES (map-only overzoom), decoded
    # back to stats under a full-chain hash-exact oracle
    "tile_overzoom": q_tile_overzoom,
    # multi-layer composition by wire-level concat, decode-audited
    "tile_compose": q_tile_compose,
    # caption-carrying tiles (north-rule image+caption pairs on the wire)
    "caption_tiles": q_caption_tiles,
    # OGC WKB point encode/parse round-trip (GeoParquet interop)
    "wkb_roundtrip": q_wkb_roundtrip,
    # per-zoom tileset metadata (TileJSON-style server manifest)
    "tileset_manifest": q_tileset_manifest,
    # grid-density hotspot clustering (8-connected dense z4 cells)
    "hotspot_clusters": q_hotspot_clusters,
    # per-cluster footprint stats (integer weighted centroid)
    "hotspot_stats": q_hotspot_stats,
    # local spatial autocorrelation (Anselin LISA, exact-integer core)
    "local_moran": q_local_moran,
    # global Moran's I + Geary's C (one-row exact fractions)
    "global_autocorr": q_global_autocorr,
    # Getis-Ord Gi* hot/cold-spot z-surface (exact squared fraction)
    "getis_ord": q_getis_ord,
    # exact-integer Epanechnikov KDE heat surface (blocking vs a
    # literal all-pairs oracle)
    "kde_heat": q_kde_heat,
    # IDW value interpolation at the same lattice (Shepard surface)
    "idw_surface": q_idw_surface,
    # areal interpolation: zone totals -> grid by exact overlap share
    "areal_interp": q_areal_interp,
    # discrete Voronoi: nearest-site surface + catchment sizes
    "voronoi_assign": q_voronoi_assign,
    # freshness-weighted heat (exact staircase exponential decay)
    "tile_freshness": q_tile_freshness,
    # home/work anchor inference (modal night/midday cell per user)
    "home_work": q_home_work,
    # POI discovery: stay-points -> exact DBSCAN -> places
    "poi_discovery": q_poi_discovery,
    # rendezvous sharding (elastic routing; moved => new shard)
    "hrw_shards": q_hrw_shards,
    # Cliff-Ord binary join counts (BB/BW/WW + exact expectations)
    "join_counts": q_join_counts,
    # empirical semivariogram ladder by exact squared lag
    "semivariogram": q_semivariogram,
    # Ripley's K point-pattern ladder (one halo join serves all radii)
    "ripley_k": q_ripley_k,
    # nearest-neighbor distance CDF (Diggle's G, right-censored ladder)
    "g_function": q_g_function,
    # empty-space function (probe-lattice NN distances)
    "f_function": q_f_function,
    # bivariate cross-K (customers vs suppliers)
    "cross_k": q_cross_k,
    # quadrat-count chi-square CSR test (one-row exact statistic)
    "quadrat_chi2": q_quadrat_chi2,
    # image near-dup clustering (phash bands -> CC -> canonical)
    "image_dup_clusters": q_image_dup_clusters,
    # one canonical caption per visual cluster (majority rule + exact
    # per-mille agreement) — the cross-modal curation follow-up
    "caption_reconcile": q_caption_reconcile,
    # aspect-ratio bucketing (diffusion-training batch formation)
    "aspect_buckets": q_aspect_buckets,
    # corrupt-payload quarantine gate (magic/length/dims/caption
    # checks over SQL-synthesized binary payloads, map-only)
    "payload_audit": q_payload_audit,
    # curation capstone: quarantine prune -> z9 tiles, one Exchange
    "curated_tiles": q_curated_tiles,
    # batch twin of the audited streaming publish (streaming/wap.py):
    # quarantine -> staged snapshot -> decoder audit -> publish
    "wap_publish": q_wap_publish,
    # dirty-tile closure across the pyramid (incremental maintenance
    # amplification; refresh_dirty_tiles is byte-equality pinned)
    "dirty_pyramid": q_dirty_pyramid,
    # phash threshold-calibration sweep (exact blast radius per rung)
    "phash_threshold_sweep": q_phash_threshold_sweep,
    # streaming cross-batch image near-dup (batch twin, full oracle)
    "imagedup_verdicts": q_imagedup_verdicts,
    # per-nation convex-hull footprint (two-level hull-of-hulls)
    "convex_hull": q_convex_hull,
    # text analysis
    "token_count": TXT.q_token_count,
    "text_quality": TXT.q_quality,
    "lang_id": TXT.q_lang_id,
    "fingerprint": TXT.q_fingerprint,
    # PII redaction (emails / dotted quads / intl phones -> tokens)
    "pii_scrub": TXT.q_pii_scrub,
    # quality gate + lang-ID + deterministic per-language downsampling
    "training_mix": TXT.q_training_mix,
    # greedy fixed-capacity sequence packing, sharded by bucket
    "sequence_pack": TXT.q_sequence_pack,
    # Gopher-style repetition metrics (top-2-gram / dup-3-gram char fractions)
    "doc_repetition": TXT.q_doc_repetition,
    # per-source cap (domain balancing; WindowGroupLimit map-side prune)
    "domain_cap": TXT.q_domain_cap,
    # integer-exact tf/df keyword top-k per document
    "salient_terms": TXT.q_salient_terms,
    # overlapping context-window chunking (map-only, zero shuffles)
    "doc_chunks": TXT.q_doc_chunks,
    # benchmark n-gram decontamination (broadcast eval-shingle join)
    "decontaminate": TXT.q_decontaminate,
    # Heaps-law vocabulary growth ladder (term->first-doc, wide sums)
    "vocab_growth": TXT.q_vocab_growth,
    # bigram collocation lift (exact PMI-argument fractions)
    "bigram_lift": TXT.q_bigram_lift,
    # per-doc 3-gram novelty vs the corpus prefix (re-crawl scores ~0)
    "doc_novelty": TXT.q_doc_novelty,
    # Pareto-optimal docs over conflicting quality axes (two-phase
    # local-skyline + candidates-only verify)
    "doc_skyline": TXT.q_doc_skyline,
    # dedup family
    "dedup_exact": DD.q_dedup_exact,
    "dedup_ngram_jaccard": DD.q_dedup_ngram_jaccard,
    "dedup_minhash_lsh": DD.q_dedup_minhash_lsh,
    "dedup_minhash_words": DD.q_dedup_minhash_words,
    # prefix-filter EXACT similarity join (recall 1.0 by theorem —
    # the deterministic AllPairs/PPJoin counterpart to MinHash LSH)
    "dedup_prefix": DD.q_dedup_prefix,
    # directional containment join (boilerplate/truncation subsets;
    # asymmetric prefix filter — only the contained side indexes)
    "dedup_contain": DD.q_dedup_contain,
    # containment decision: drop docs dominated by any container
    "contain_keep": DD.q_contain_keep,
    "dedup_simhash": DD.q_dedup_simhash,
    # cross-modal: simhash near-dups constrained to nearby capture sites
    "geo_near_dup": q_geo_near_dup,
    # pair graph -> duplicate clusters -> canonical doc per cluster
    "dedup_components": DD.q_dedup_components,
    # dedup-aware train/val/test split: hash the CLUSTER canonical id
    # so near-dup pairs never straddle splits (leakage guard)
    "split_leakfree": SPL.q_split_leakfree,
    # exact DBSCAN (grid-blocked eps-ball join; core/border/noise)
    "dbscan": DBS.q_dbscan,
    # similarity search
    "ann_bruteforce": SIM.q_ann_bruteforce,
    "ann_lsh": SIM.q_ann_lsh,
    "ann_ivf": SIM.q_ann_ivf,
    # IVF-PQ: the 1e12-vector memory path (PQ_M-byte codes + ADC +
    # exact re-rank); rows-only with self-verifying recall_e3
    "ann_ivfpq": SIM.q_ann_ivfpq,
    "embed_cosine_dup": SIM.q_embed_cosine_dup,
    "embed_quantize": SIM.q_embed_quantize,
    # representative vector per tile: exact integer medoid via the
    # linear sum-of-squares decomposition (no pairwise join)
    "tile_medoid": SIM.q_tile_medoid,
    # diversity exemplars per tile: greedy k-center (farthest-point
    # sampling) with exact int64 squared distances
    "tile_exemplars": SIM.q_tile_exemplars,
    # kNN majority-label classification (exact top-K + deterministic
    # vote) — the embedding-space eval harness
    "knn_classify": SIM.q_knn_classify,
    # adaptive quadtree partition map (closed-form recursive split)
    "quadtree_split": q_quadtree_split,
    # events / streaming (batch-equivalent plans)
    "event_windows": EV.q_event_windows,
    "event_user_stats": EV.q_event_user_stats,
    # ordered view->click->purchase funnel (one Exchange, strict order)
    "event_funnel": EV.q_event_funnel,
    # cohort retention triangle (first-week cohorts, integer weeks)
    "cohort_retention": EV.q_cohort_retention,
    # A/B conversion readout with exact 2x2 Pearson chi-square
    "ab_test": EV.q_ab_test,
    "event_sessions": SESS.q_event_sessions,
    # as-of temporal join (latest error per user <= each click; DuckDB
    # native ASOF LEFT JOIN is the independent oracle)
    "asof_join": q_asof_join,
    # per-user track stats (meter-quantized haversine legs, one Exchange)
    "traj_stats": q_traj_stats,
    # per-user radius of gyration (exact mean-squared-deviation fraction)
    "radius_gyration": q_radius_gyration,
    # gravity-model independence lift over the OD flow matrix
    "od_lift": q_od_lift,
    # per-user visitation profile (distinct cells, top cell + share)
    "visit_profile": q_visit_profile,
    # stay-point detection (stop/move segmentation, integer centroids)
    "stay_points": q_stay_points,
    # time-grid resampling: exact integer gap-fill interpolation
    "traj_interp": q_traj_interp,
    # compass-rose heading distribution (shared atan2 tree, int sectors)
    "heading_mix": q_heading_mix,
    # origin-destination mobility matrix (trips reduced map-side)
    "od_flows": q_od_flows,
    # first-order Markov tile-transition matrix (next-cell prediction)
    "tile_transitions": q_tile_transitions,
    # integer fixed-point PageRank over the transition graph
    "tile_pagerank": q_tile_pagerank,
    # Knox space-time interaction test (one-row exact pair counts)
    "knox_test": q_knox_test,
    # co-travel contact pairs ((cell, bucket) equi-join blocking)
    "co_travel": q_co_travel,
    # validity-window join (chunk-bucketed, ownership-deduped)
    "interval_join": q_interval_join,
    # trajectory-similarity join (bbox-grid-blocked exact Hausdorff)
    "hausdorff_pairs": q_hausdorff_pairs,
    # ordered-track similarity (discrete Fréchet DP, recursive-CTE oracle)
    "frechet_pairs": q_frechet_pairs,
    # obstacle-aware BFS distance transform (bounded-round cell algebra)
    "grid_geodesic": q_grid_geodesic,
    # exact segment-intersection join (grid-blocked, int64 geometry)
    "track_crossings": q_track_crossings,
    # nearest-segment snap (map matching; exact DECIMAL(38) geometry,
    # zero shuffles — the network dim is a literal)
    "map_snap": q_map_snap,
    # geofence enter/exit alerts (batch twin of streaming/geofence.py)
    "geofence_transitions": q_geofence_transitions,
    # distributed Douglas-Peucker per trajectory (rows-only with
    # endpoints/within-eps integrity columns + kept-index checksum)
    "traj_simplify": q_traj_simplify,
    # batch twin of the cross-batch streaming dedup (streaming/dedup.py)
    "dedup_verdicts": SDD.q_dedup_verdicts,
    # batch twin of the cross-batch streaming NEAR-dup (streaming/neardup.py)
    "neardup_verdicts": SND.q_near_dup_verdicts,
    # multimodal image pipeline (rows-only: pixels/protobuf not SQL)
    "image_pipeline": IMG.q_image_pipeline,
    # image curation gate: exact-integer blur/brightness/contrast
    # metrics (rows-only with deterministic bit-identical outputs)
    "image_quality": IMG.q_image_quality,
    # deterministic geometric augmentation fan-out (rows-only with the
    # aug_ok dihedral-group integrity column)
    "image_augment": IMG.q_image_augment,
    # ViT-style 8x8 patch tokenization (rows-only with count_ok grid
    # parity + sum_ok exact-integer decomposition columns)
    "image_patches": IMG.q_image_patches,
    # per-tile image mosaics (geo x image: decomposable pixel-vector
    # aggregation; rows-only with cnt_uniform/pack_ok integrity)
    "tile_mosaic": IMG.q_tile_mosaic,
    # zoom-0..3 mosaics from one decode pass (zoom_rollup's vector twin)
    "mosaic_pyramid": IMG.q_mosaic_pyramid,
    # multimodal audio/video sampling over the real WAV/Y4M parsers
    # (rows-only: PCM/YUV bit layouts not SQL-expressible)
    "audio_windows": IMG.q_audio_windows,
    "video_frames": IMG.q_video_frames,
    # raster<->vector materialization (rows-only: PNG/MVT not SQL)
    "raster_vector": q_raster_vector,
}

ORACLES = {
    "tile_assign": sql_tile_assign(),
    "tile_counts": sql_tile_counts(),
    "tile_rollup": sql_tile_rollup(),
    "tile_time_rollup": sql_tile_time_rollup(),
    "tile_change": sql_tile_change(),
    "geohash_assign": sql_geohash_assign(),
    "quadkey_assign": sql_quadkey_assign(),
    "tile_distinct_sketch": sql_tile_distinct_sketch(),
    "tile_hist_quantiles": sql_tile_hist_quantiles(),
    "tile_quartiles": sql_tile_quartiles(),
    "tile_density": sql_tile_density(),
    "tile_cap": sql_tile_cap(),
    "tile_compact": sql_tile_compact(),
    "leg_cover": sql_leg_cover(),
    "s2_compact": sql_s2_compact(),
    "s2_polygon_cover": sql_s2_polygon_cover(),
    "tile_moments": sql_tile_moments(),
    "polygon_cover": sql_polygon_cover(),
    "polygon_buffer": sql_polygon_buffer(),
    "polygon_full_cover": sql_polygon_full_cover(),
    "tile_kmv": sql_tile_kmv(),
    "tile_cms": sql_tile_cms(),
    "tile_bloom": sql_tile_bloom(),
    "bloom_join": sql_bloom_join(),
    "tile_overlap": sql_tile_overlap(),
    "pip_polygon": sql_pip_polygon(),
    "pip_holes": sql_pip_holes(),
    "pip_polygon_bucketed": sql_pip_polygon(),
    "zonal_stats": sql_zonal_stats(),
    "tile_diversity": sql_tile_diversity(),
    "tile_trend": sql_tile_trend(),
    "mann_kendall": sql_mann_kendall(),
    "theil_sen": sql_theil_sen(),
    "k_anon_tiles": sql_k_anon_tiles(),
    "l_diversity": sql_l_diversity(),
    "emerging_hotspots": sql_emerging_hotspots(),
    "coverage_tile_stats": sql_coverage_tile_stats(),
    "tile_focal": sql_tile_focal(),
    "tile_topk": sql_tile_topk(),
    "knn_kring": sql_knn(),
    "knn_table": sql_knn_table(),
    "radius_join": sql_radius_join(),
    "radius_anti_join": sql_radius_anti_join(),
    "colocation": sql_colocation(),
    "s2_cell_assign": S2C.sql_s2_cell_assign(),
    # the S2 index must not change the kNN answer: same brute oracle
    "knn_s2": sql_knn(),
    "hex_cell_assign": HEX.sql_hex_cell_assign(),
    "hex_polyfill": HEX.sql_hex_polyfill(),
    # nor the hex index: same brute oracle again
    "knn_hex": sql_knn(),
    "mvt_tile_stats": sql_mvt_tile_stats(),
    "tile_overzoom": sql_tile_overzoom(),
    "tile_compose": sql_tile_compose(),
    "caption_tiles": sql_caption_tiles(),
    "wkb_roundtrip": sql_wkb_roundtrip(),
    "tileset_manifest": sql_tileset_manifest(),
    "hotspot_clusters": sql_hotspot_clusters(),
    "hotspot_stats": sql_hotspot_stats(),
    "local_moran": sql_local_moran(),
    "global_autocorr": sql_global_autocorr(),
    "getis_ord": sql_getis_ord(),
    "kde_heat": sql_kde_heat(),
    "idw_surface": sql_idw_surface(),
    "areal_interp": sql_areal_interp(),
    "voronoi_assign": sql_voronoi_assign(),
    "tile_freshness": sql_tile_freshness(),
    "home_work": sql_home_work(),
    "poi_discovery": sql_poi_discovery(),
    "hrw_shards": sql_hrw_shards(),
    "join_counts": sql_join_counts(),
    "semivariogram": sql_semivariogram(),
    "ripley_k": sql_ripley_k(),
    "g_function": sql_g_function(),
    "f_function": sql_f_function(),
    "cross_k": sql_cross_k(),
    "quadrat_chi2": sql_quadrat_chi2(),
    "image_dup_clusters": sql_image_dup_clusters(),
    "caption_reconcile": sql_caption_reconcile(),
    "aspect_buckets": sql_aspect_buckets(),
    "payload_audit": sql_payload_audit(),
    "curated_tiles": sql_curated_tiles(),
    "wap_publish": sql_wap_publish(),
    "dirty_pyramid": sql_dirty_pyramid(),
    "phash_threshold_sweep": sql_phash_threshold_sweep(),
    "imagedup_verdicts": sql_imagedup_verdicts(),
    "convex_hull": sql_convex_hull(),
    "token_count": TXT.sql_token_count(),
    "text_quality": TXT.sql_quality(),
    "lang_id": TXT.sql_lang_id(),
    "fingerprint": TXT.sql_fingerprint(),
    "pii_scrub": TXT.sql_pii_scrub(),
    "training_mix": TXT.sql_training_mix(),
    "sequence_pack": TXT.sql_sequence_pack(),
    "doc_repetition": TXT.sql_doc_repetition(),
    "domain_cap": TXT.sql_domain_cap(),
    "salient_terms": TXT.sql_salient_terms(),
    "doc_chunks": TXT.sql_doc_chunks(),
    "decontaminate": TXT.sql_decontaminate(),
    "vocab_growth": TXT.sql_vocab_growth(),
    "bigram_lift": TXT.sql_bigram_lift(),
    "doc_novelty": TXT.sql_doc_novelty(),
    "doc_skyline": TXT.sql_doc_skyline(),
    "dedup_exact": DD.sql_dedup_exact(),
    "dedup_ngram_jaccard": DD.sql_dedup_ngram_jaccard(),
    "dedup_minhash_lsh": DD.sql_dedup_minhash_lsh(),
    "dedup_minhash_words": DD.sql_dedup_minhash_words(),
    "dedup_prefix": DD.sql_dedup_prefix(),
    "dedup_contain": DD.sql_dedup_contain(),
    "contain_keep": DD.sql_contain_keep(),
    "dedup_simhash": DD.sql_dedup_simhash(),
    "geo_near_dup": sql_geo_near_dup(),
    "dedup_components": DD.sql_dedup_components(),
    "split_leakfree": SPL.sql_split_leakfree(),
    "dbscan": DBS.sql_dbscan(),
    "ann_bruteforce": SIM.sql_ann_bruteforce(),
    "embed_cosine_dup": SIM.sql_embed_cosine_dup(),
    "embed_quantize": SIM.sql_embed_quantize(),
    "tile_medoid": SIM.sql_tile_medoid(),
    "tile_exemplars": SIM.sql_tile_exemplars(),
    "knn_classify": SIM.sql_knn_classify(),
    "quadtree_split": sql_quadtree_split(),
    "event_windows": EV.sql_event_windows(),
    "event_user_stats": EV.sql_event_user_stats(),
    "event_funnel": EV.sql_event_funnel(),
    "cohort_retention": EV.sql_cohort_retention(),
    "ab_test": EV.sql_ab_test(),
    "event_sessions": SESS.sql_event_sessions(),
    "asof_join": sql_asof_join(),
    "traj_stats": sql_traj_stats(),
    "radius_gyration": sql_radius_gyration(),
    "od_lift": sql_od_lift(),
    "visit_profile": sql_visit_profile(),
    "stay_points": sql_stay_points(),
    "traj_interp": sql_traj_interp(),
    "heading_mix": sql_heading_mix(),
    "od_flows": sql_od_flows(),
    "tile_transitions": sql_tile_transitions(),
    "tile_pagerank": sql_tile_pagerank(),
    "knox_test": sql_knox_test(),
    "co_travel": sql_co_travel(),
    "interval_join": sql_interval_join(),
    "hausdorff_pairs": sql_hausdorff_pairs(),
    "frechet_pairs": sql_frechet_pairs(),
    "grid_geodesic": sql_grid_geodesic(),
    "track_crossings": sql_track_crossings(),
    "map_snap": sql_map_snap(),
    "geofence_transitions": sql_geofence_transitions(),
    "dedup_verdicts": SDD.sql_dedup_verdicts(),
    "neardup_verdicts": SND.sql_near_dup_verdicts(),
}
