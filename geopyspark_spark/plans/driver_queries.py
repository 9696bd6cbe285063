"""Driver-contract queries: every operator exposed as (spark, sf_dir) ->
DataFrame, each paired with an ANSI-SQL oracle runnable by DuckDB on the
same parquet tables.

Raster operators run on a deterministic tiled layer BUILT FROM the
lineitem table (keys/cells derived with engine-portable window functions),
so the DuckDB oracle can recompute every raster result relationally —
SURVEY.md §5's "oracle-diff harness" idea applied to the whole inventory.

Determinism rules used throughout (see also functions/*.py):
- money arithmetic in DECIMAL (exact), cast to DOUBLE only at the end;
- cell values are integer-valued doubles => sums/averages are exact;
- outputs prefer ints/dates; floats only when bit-reproducible;
- every computed column aliased identically in Spark and SQL.

Adding a query: define ``q_<name>(spark, sf_dir)`` and its oracle
``SQL_<NAME>`` (the SQL text, or a zero-argument callable that builds it),
then run ``python tools/rotate_window.py --write``. The definitions are the
registration: ``queries()`` and ``oracle_sql()`` are derived from them.
"""

from __future__ import annotations

import numpy as np
from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

import geopyspark_spark as gps
from ..functions import dedup as fdedup
from ..functions import similarity as fsim
from ..functions import text as ftext
from ..core.checkpoint import materialize
from ..core.crs import R_MERC
from ..layer import TiledRasterLayer
from ..operators import zonal as _zonal
from ..operators.local import _is_nd

# ---------------------------------------------------------------------------
# shared fixtures
# ---------------------------------------------------------------------------

TILE = 8           # tile_cols = tile_rows
LAYOUT_N = 4       # layout_cols = layout_rows
GRID = TILE * LAYOUT_N

RASTER_MD = gps.LayerMetadata(
    crs="epsg:4326",
    cell_type="float64ud-1.0",
    layout=gps.LayoutDefinition(
        gps.Extent(0, 0, GRID, GRID), gps.TileLayout(LAYOUT_N, LAYOUT_N, TILE, TILE)
    ),
    bounds=((0, 0), (LAYOUT_N - 1, LAYOUT_N - 1)),
    extent=gps.Extent(0, 0, GRID, GRID),
    num_bands=1,
)


def _t(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    return spark.read.parquet(f"{sf_dir}/{name}.parquet")


def _events(spark: SparkSession, sf_dir: str) -> DataFrame:
    """events has a TIMESTAMP(NANOS) parquet column Spark cannot read
    natively; read nanos as long and truncate to micros (exactly what
    DuckDB's micro-precision timestamps do)."""
    path = f"{sf_dir}/events.parquet"
    try:
        df = spark.read.parquet(path)
        if dict(df.dtypes).get("ts") == "bigint":
            raise ValueError("nanosAsLong already set")
        return df
    except Exception:
        spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
        df = spark.read.parquet(path)
        return df.withColumn(
            "ts", F.timestamp_micros(F.expr("CAST(ts DIV 1000 AS LONG)"))
        )


# The raster fixture's window sort (row_number over all of lineitem) is
# harness cost, not operator cost — build it once per (session, sf_dir) and
# persist, so per-query timings measure the operator (VERDICT r1 §wrong #4).
_CELLS_CACHE: dict[tuple[str, str], DataFrame] = {}


def lineitem_cells(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic raster cells from lineitem: 4x4 keys from
    (orderkey, suppkey), first 64 rows per key (ordered by orderkey,
    linenumber) fill an 8x8 tile. ``value`` = l_quantity (integer-valued),
    ``value2`` = l_partkey % 50."""
    cache_key = (spark.sparkContext.applicationId, sf_dir)
    cached = _CELLS_CACHE.get(cache_key)
    if cached is not None:
        return cached
    li = _t(spark, sf_dir, "lineitem").select(
        (F.col("l_orderkey") % LAYOUT_N).cast("int").alias("key_col"),
        (F.col("l_suppkey") % LAYOUT_N).cast("int").alias("key_row"),
        "l_orderkey",
        "l_linenumber",
        "l_partkey",
        "l_suppkey",
        "l_quantity",
        "l_extendedprice",
        F.col("l_quantity").cast("double").alias("value"),
        (F.col("l_partkey") % 50).cast("double").alias("value2"),
    )
    w = Window.partitionBy("key_col", "key_row").orderBy(
        "l_orderkey", "l_linenumber", "l_partkey", "l_suppkey", "l_quantity", "l_extendedprice"
    )
    cells = (
        li.withColumn("pos", F.row_number().over(w) - 1)
        .where(F.col("pos") < TILE * TILE)
        .select("key_col", "key_row", F.lit(0).alias("band"), "pos", "value", "value2")
        .persist()
    )
    cells.count()  # materialize once; every raster query reuses the cache
    _CELLS_CACHE[cache_key] = cells
    return cells


def lineitem_layer(spark: SparkSession, sf_dir: str, value_col: str = "value",
                   md: "gps.LayerMetadata" = None) -> TiledRasterLayer:
    cells = lineitem_cells(spark, sf_dir).select(
        "key_col", "key_row", "band", "pos", F.col(value_col).alias("value")
    )
    return TiledRasterLayer.assemble(cells, md if md is not None else RASTER_MD)


# The same fixture as a DuckDB CTE (string-prefixed to every raster oracle).
CELLS_CTE = f"""
WITH cells AS (
  SELECT key_col, key_row, CAST(0 AS INT) AS band, CAST(pos AS INT) AS pos, value, value2
  FROM (
    SELECT CAST(l_orderkey % {LAYOUT_N} AS INT) AS key_col,
           CAST(l_suppkey % {LAYOUT_N} AS INT) AS key_row,
           row_number() OVER (PARTITION BY l_orderkey % {LAYOUT_N}, l_suppkey % {LAYOUT_N}
                              ORDER BY l_orderkey, l_linenumber, l_partkey, l_suppkey, l_quantity, l_extendedprice) - 1 AS pos,
           CAST(l_quantity AS DOUBLE) AS value,
           CAST(l_partkey % 50 AS DOUBLE) AS value2
    FROM lineitem
  ) WHERE pos < {TILE * TILE}
),
coords AS (
  SELECT key_col, key_row, band, pos, value, value2,
         key_col * {TILE} + pos % {TILE} AS gcol,
         key_row * {TILE} + CAST(floor(pos / {TILE}) AS INT) AS grow
  FROM cells
)
"""


def _explode_result(layer: TiledRasterLayer) -> DataFrame:
    """Standard raster query output: (key_col, key_row, pos, value)."""
    return layer.explode().select("key_col", "key_row", "pos", "value")


# DECIMAL helpers for exact money math
def _dec(c, p=12, s=2):
    return c.cast(f"decimal({p},{s})")


# ---------------------------------------------------------------------------
# raster queries
# ---------------------------------------------------------------------------

def q_raster_local_algebra(spark, sf_dir):
    layer = lineitem_layer(spark, sf_dir)
    out = (layer * 2 + 10) / 4
    return _explode_result(out)


SQL_RASTER_LOCAL_ALGEBRA = CELLS_CTE + """
SELECT key_col, key_row, pos, ((value * CAST(2 AS DOUBLE)) + CAST(10 AS DOUBLE)) / CAST(4 AS DOUBLE) AS value
FROM cells
"""


def q_raster_reclassify(spark, sf_dir):
    layer = lineitem_layer(spark, sf_dir)
    out = layer.reclassify({10: 1, 25: 2, 50: 3}, strategy="LESS_THAN_OR_EQUAL")
    return _explode_result(out)


SQL_RASTER_RECLASSIFY = CELLS_CTE + """
SELECT key_col, key_row, pos,
       CASE WHEN value <= 10 THEN CAST(1 AS DOUBLE)
            WHEN value <= 25 THEN CAST(2 AS DOUBLE)
            WHEN value <= 50 THEN CAST(3 AS DOUBLE)
            ELSE CAST(-1 AS DOUBLE) END AS value
FROM cells
"""


def q_raster_layer_add(spark, sf_dir):
    a = lineitem_layer(spark, sf_dir, "value")
    b = lineitem_layer(spark, sf_dir, "value2")
    return _explode_result(a + b)


SQL_RASTER_LAYER_ADD = CELLS_CTE + """
SELECT key_col, key_row, pos, value + value2 AS value
FROM cells
"""


def q_raster_normalize(spark, sf_dir):
    layer = lineitem_layer(spark, sf_dir)
    return _explode_result(layer.normalize(0.0, 100.0, 1.0, 50.0))


SQL_RASTER_NORMALIZE = CELLS_CTE + """
SELECT key_col, key_row, pos,
       (value - 1.0) * 100.0 / 49.0 + 0.0 AS value
FROM cells
"""


def q_raster_focal_sum(spark, sf_dir):
    layer = lineitem_layer(spark, sf_dir)
    return _explode_result(layer.focal("Sum", "Square", 1))


SQL_RASTER_FOCAL_SUM = CELLS_CTE + """
SELECT a.key_col, a.key_row, a.pos, CAST(SUM(b.value) AS DOUBLE) AS value
FROM coords a JOIN coords b
  ON b.gcol BETWEEN a.gcol - 1 AND a.gcol + 1
 AND b.grow BETWEEN a.grow - 1 AND a.grow + 1
GROUP BY a.key_col, a.key_row, a.pos
"""


def q_raster_focal_convolve(spark, sf_dir):
    """Arbitrary-kernel focal convolution (integer 3x3 Gaussian) —
    ``operators/focal.py::convolve``. Integer weights over integer-valued
    cells keep every product and partial sum exactly representable, so
    the halo-stencil result hash-matches the oracle's offset-join
    recomputation bit for bit."""
    layer = lineitem_layer(spark, sf_dir)
    out = layer.convolve([[1, 2, 1], [2, 4, 2], [1, 2, 1]])
    return _explode_result(out)


SQL_RASTER_FOCAL_CONVOLVE = CELLS_CTE + """
, k(dc, dr, w) AS (VALUES (-1,-1,1),(0,-1,2),(1,-1,1),(-1,0,2),(0,0,4),
                          (1,0,2),(-1,1,1),(0,1,2),(1,1,1))
SELECT a.key_col, a.key_row, a.pos, CAST(SUM(b.value * k.w) AS DOUBLE) AS value
FROM coords a
JOIN k ON TRUE
JOIN coords b ON b.gcol = a.gcol + k.dc AND b.grow = a.grow + k.dr
GROUP BY a.key_col, a.key_row, a.pos
"""


def q_raster_morans_i(spark, sf_dir):
    """Global Moran's I (queen weights) — ``operators/focal.py::
    morans_i``. One halo exchange, per-tile 7-sum partials, one global
    reduce; integer cells + a power-of-two live-cell count make every
    term exact, so the scalar is bit-identical to the oracle's
    neighbor-join recomputation."""
    layer = lineitem_layer(spark, sf_dir)
    return layer.morans_i()


SQL_RASTER_MORANS_I = CELLS_CTE + """
, nb AS (
  SELECT a.key_col, a.key_row, a.pos, a.value AS v,
         COALESCE(SUM(b.value), 0) AS nsum, COUNT(b.value) AS ncnt
  FROM coords a LEFT JOIN coords b
    ON b.gcol BETWEEN a.gcol - 1 AND a.gcol + 1
   AND b.grow BETWEEN a.grow - 1 AND a.grow + 1
   AND NOT (b.gcol = a.gcol AND b.grow = a.grow)
  GROUP BY a.key_col, a.key_row, a.pos, a.value
),
st AS (SELECT SUM(v) / COUNT(*) AS m, COUNT(*) AS n FROM nb)
SELECT CAST(n AS BIGINT) AS n,
       CAST(SUM(ncnt) AS BIGINT) AS w,
       CAST(SUM((v - m) * (nsum - m * ncnt)) AS DOUBLE) AS num,
       CAST(SUM((v - m) * (v - m)) AS DOUBLE) AS den,
       (CAST(n AS DOUBLE) * SUM((v - m) * (nsum - m * ncnt)))
       / (CAST(SUM(ncnt) AS DOUBLE) * SUM((v - m) * (v - m))) AS morans_i
FROM nb, st
GROUP BY n
"""


def q_raster_focal_multiband(spark, sf_dir):
    """Focal over a 2-band layer (band 0 = value, band 1 = value2): the
    halo exchange and stencil group by band, so bands convolve
    independently in one pass."""
    from dataclasses import replace as _dc_replace

    cells = lineitem_cells(spark, sf_dir)
    b0 = cells.select("key_col", "key_row", F.lit(0).alias("band"), "pos", "value")
    b1 = cells.select("key_col", "key_row", F.lit(1).alias("band"), "pos",
                      F.col("value2").alias("value"))
    md2 = _dc_replace(RASTER_MD, num_bands=2)
    layer = TiledRasterLayer.assemble(b0.unionByName(b1), md2)
    out = layer.focal("Sum", "Square", 1)
    return out.explode().select("key_col", "key_row", "band", "pos", "value")


SQL_RASTER_FOCAL_MULTIBAND = CELLS_CTE + """
SELECT a.key_col, a.key_row, CAST(0 AS INT) AS band, a.pos,
       CAST(SUM(b.value) AS DOUBLE) AS value
FROM coords a JOIN coords b
  ON b.gcol BETWEEN a.gcol - 1 AND a.gcol + 1
 AND b.grow BETWEEN a.grow - 1 AND a.grow + 1
GROUP BY a.key_col, a.key_row, a.pos
UNION ALL
SELECT a.key_col, a.key_row, CAST(1 AS INT) AS band, a.pos,
       CAST(SUM(b.value2) AS DOUBLE) AS value
FROM coords a JOIN coords b
  ON b.gcol BETWEEN a.gcol - 1 AND a.gcol + 1
 AND b.grow BETWEEN a.grow - 1 AND a.grow + 1
GROUP BY a.key_col, a.key_row, a.pos
"""


def q_raster_focal_mean(spark, sf_dir):
    layer = lineitem_layer(spark, sf_dir)
    return _explode_result(layer.focal("Mean", "Square", 1))


SQL_RASTER_FOCAL_MEAN = CELLS_CTE + """
SELECT a.key_col, a.key_row, a.pos,
       CAST(SUM(b.value) AS DOUBLE) / COUNT(*) AS value
FROM coords a JOIN coords b
  ON b.gcol BETWEEN a.gcol - 1 AND a.gcol + 1
 AND b.grow BETWEEN a.grow - 1 AND a.grow + 1
GROUP BY a.key_col, a.key_row, a.pos
"""


# zonal box in map coords; cell (gcol, grow) center = (gcol+.5, GRID-grow-.5)
ZX0, ZY0, ZX1, ZY1 = 4, 8, 20, 24
_G0, _G1 = ZX0, ZX1 - 1            # gcol in [4, 19]
_R0, _R1 = GRID - ZY1, GRID - ZY0 - 1  # grow in [8, 23]


def q_raster_zonal_stats(spark, sf_dir):
    layer = lineitem_layer(spark, sf_dir)
    masked = layer.mask(gps.box(ZX0, ZY0, ZX1, ZY1))
    long = masked.explode().where(~_is_nd(F.col("value"), layer.nodata))
    return long.groupBy("band").agg(
        F.sum("value").alias("zsum"),
        F.min("value").alias("zmin"),
        F.max("value").alias("zmax"),
        (F.sum("value") / F.count("*")).alias("zmean"),
        F.count("*").alias("zcount"),
    )


SQL_RASTER_ZONAL_STATS = CELLS_CTE + f"""
SELECT band, SUM(value) AS zsum, MIN(value) AS zmin, MAX(value) AS zmax,
       SUM(value) / COUNT(*) AS zmean, COUNT(*) AS zcount
FROM coords
WHERE gcol BETWEEN {_G0} AND {_G1} AND grow BETWEEN {_R0} AND {_R1}
GROUP BY band
"""


def q_raster_zonal_by_layer(spark, sf_dir):
    """Zonal statistics with a RASTER zone layer (the desktop-GIS
    ZonalStatistics raster-zone variant; the reference only has the
    polygonal form) — ``operators/zonal.py::zonal_stats_by_layer``.
    Zones come from a second layer built on ``value2`` (l_partkey % 50)
    reclassified to 5 classes; values are l_quantity. One key equi-join
    pairs the tiles, posexplode + element_at pairs cells JVM-side, one
    hash aggregate per zone. The oracle reproduces the class breaks and
    stats straight off the cells CTE."""
    from ..operators import zonal as _z

    vals = lineitem_layer(spark, sf_dir)
    zones = lineitem_layer(spark, sf_dir, "value2").reclassify(
        {9: 1, 19: 2, 29: 3, 39: 4, 49: 5})
    return _z.zonal_stats_by_layer(vals, zones)


SQL_RASTER_ZONAL_BY_LAYER = CELLS_CTE + """
SELECT zone, SUM(value) AS zsum, MIN(value) AS zmin, MAX(value) AS zmax,
       SUM(value) / COUNT(*) AS zmean, COUNT(*) AS zcount
FROM (
  SELECT value,
         CAST(CASE WHEN value2 <= 9 THEN 1.0 WHEN value2 <= 19 THEN 2.0
                   WHEN value2 <= 29 THEN 3.0 WHEN value2 <= 39 THEN 4.0
                   WHEN value2 <= 49 THEN 5.0 END AS DOUBLE) AS zone
  FROM cells
) WHERE zone IS NOT NULL
GROUP BY zone
"""


def q_raster_mask(spark, sf_dir):
    layer = lineitem_layer(spark, sf_dir)
    masked = layer.mask(gps.box(ZX0, ZY0, ZX1, ZY1))
    long = masked.explode().where(~_is_nd(F.col("value"), layer.nodata))
    return long.select("key_col", "key_row", "pos", "value")


SQL_RASTER_MASK = CELLS_CTE + f"""
SELECT key_col, key_row, pos, value
FROM coords
WHERE gcol BETWEEN {_G0} AND {_G1} AND grow BETWEEN {_R0} AND {_R1}
"""


def q_raster_cell_value_counts(spark, sf_dir):
    layer = lineitem_layer(spark, sf_dir)
    return _zonal.cell_value_counts_df(layer, None, band=0)


SQL_RASTER_CELL_VALUE_COUNTS = CELLS_CTE + """
SELECT value, COUNT(*) AS count FROM cells GROUP BY value
"""


def q_raster_class_histogram(spark, sf_dir):
    """``get_class_histogram`` (reference ``layer.py:206-221``): exact
    per-band value histogram — explode + groupBy, one partial-agg shuffle."""
    from ..operators import aggregate as _agg

    layer = lineitem_layer(spark, sf_dir)
    return _agg.class_histogram_df(layer).select(
        F.col("band").cast("int").alias("band"), "value", "count")


SQL_RASTER_CLASS_HISTOGRAM = CELLS_CTE + """
SELECT CAST(band AS INT) AS band, value, COUNT(*) AS count
FROM cells GROUP BY band, value
"""


def q_raster_histogram(spark, sf_dir):
    """``get_histogram`` (reference ``layer.py:194-205``): fixed-width
    bucket histogram. min/max and the bucket width are computed with the
    same expression shape on both engines over exact integer-valued
    doubles, so bucket edges are bit-identical."""
    from ..operators import aggregate as _agg

    layer = lineitem_layer(spark, sf_dir)
    return _agg.histogram_df(layer, num_buckets=16).select(
        F.col("band").cast("int").alias("band"),
        F.col("bucket").cast("int").alias("bucket"),
        "count", "mean_value")


SQL_RASTER_HISTOGRAM = CELLS_CTE + """
, mm AS (SELECT MIN(value) AS mn, MAX(value) AS mx FROM cells)
SELECT CAST(band AS INT) AS band,
       CAST(LEAST(CAST(FLOOR((value - mn) / ((mx - mn) / 16)) AS INT), 15) AS INT) AS bucket,
       COUNT(*) AS count, AVG(value) AS mean_value
FROM cells CROSS JOIN mm
GROUP BY 1, 2
"""


def q_raster_quantile_breaks(spark, sf_dir):
    """``get_quantile_breaks`` exact path: rank interpolation over the
    cell values — Spark ``percentile`` and DuckDB ``quantile_cont`` share
    the (n-1)*q lower+frac*(higher-lower) formula, exact over the
    integer-valued doubles here."""
    from ..operators import aggregate as _agg

    layer = lineitem_layer(spark, sf_dir)
    return _agg.quantile_breaks_df(layer, num_breaks=4, exact=True)


SQL_RASTER_QUANTILE_BREAKS = CELLS_CTE + """
SELECT 1 AS break_idx, quantile_cont(value, 0.25) AS break_value FROM cells
UNION ALL
SELECT 2, quantile_cont(value, 0.50) FROM cells
UNION ALL
SELECT 3, quantile_cont(value, 0.75) FROM cells
UNION ALL
SELECT 4, quantile_cont(value, 1.00) FROM cells
"""


def q_raster_aggregate_by_cell(spark, sf_dir):
    layer = lineitem_layer(spark, sf_dir)
    u = gps.union([layer, layer * 3])
    return _explode_result(u.aggregate_by_cell("SUM"))


SQL_RASTER_AGGREGATE_BY_CELL = CELLS_CTE + """
SELECT key_col, key_row, pos, value + value * CAST(3 AS DOUBLE) AS value
FROM cells
"""


def q_raster_min_max(spark, sf_dir):
    layer = lineitem_layer(spark, sf_dir)
    mn, mx = layer.get_min_max()
    return spark.createDataFrame([(mn, mx)], "vmin double, vmax double")


SQL_RASTER_MIN_MAX = CELLS_CTE + """
SELECT MIN(value) AS vmin, MAX(value) AS vmax FROM cells
"""


def q_raster_tile_to_layout(spark, sf_dir):
    layer = lineitem_layer(spark, sf_dir)
    target = gps.LayoutDefinition(
        gps.Extent(0, 0, GRID, GRID), gps.TileLayout(2, 2, 16, 16)
    )
    out = layer.tile_to_layout(target)
    return _explode_result(out).where(F.col("value") != -1.0)


SQL_RASTER_TILE_TO_LAYOUT = CELLS_CTE + """
SELECT CAST(floor(gcol / 16) AS INT) AS key_col,
       CAST(floor(grow / 16) AS INT) AS key_row,
       CAST((grow % 16) * 16 + gcol % 16 AS INT) AS pos,
       value
FROM coords
"""


def q_raster_tile_to_layout_warp(spark, sf_dir):
    """Non-aligned retile: the target halves the resolution (cell size 2 vs
    1), so the aligned re-key is impossible and tile_to_layout falls
    through to the identity-CRS inverse-sampling warp. NearestNeighbor:
    target cell center (2t+1, ...) lands in source cell (2t+1, ...)."""
    layer = lineitem_layer(spark, sf_dir)
    target = gps.LayoutDefinition(
        gps.Extent(0, 0, GRID, GRID), gps.TileLayout(2, 2, 8, 8)
    )
    out = layer.tile_to_layout(target)
    return _explode_result(out).where(F.col("value") != -1.0)


SQL_RASTER_TILE_TO_LAYOUT_WARP = CELLS_CTE + f"""
, tg AS (
  SELECT c.i AS tgcol, r.i AS tgrow
  FROM range({GRID // 2}) c(i), range({GRID // 2}) r(i)
)
SELECT CAST(floor(tgcol / 8) AS INT) AS key_col,
       CAST(floor(tgrow / 8) AS INT) AS key_row,
       CAST((tgrow % 8) * 8 + tgcol % 8 AS INT) AS pos,
       value
FROM tg JOIN coords ON coords.gcol = 2 * tgcol + 1 AND coords.grow = 2 * tgrow + 1
"""


# second fixture size for the retile family: 16x16 layout of 32x32 tiles
# (512x512 grid, 256 keys, partially-filled tiles at small sf) — catches
# layout-constant assumptions the 4x4x8x8 fixture can't
BIG_N, BIG_TILE = 16, 32
BIG_GRID = BIG_N * BIG_TILE

BIG_RASTER_MD = gps.LayerMetadata(
    crs="epsg:4326",
    cell_type="float64ud-1.0",
    layout=gps.LayoutDefinition(
        gps.Extent(0, 0, BIG_GRID, BIG_GRID),
        gps.TileLayout(BIG_N, BIG_N, BIG_TILE, BIG_TILE),
    ),
    bounds=((0, 0), (BIG_N - 1, BIG_N - 1)),
    extent=gps.Extent(0, 0, BIG_GRID, BIG_GRID),
    num_bands=1,
)


def big_lineitem_layer(spark: SparkSession, sf_dir: str) -> TiledRasterLayer:
    """The lineitem fixture at the second layout size (keys from
    (orderkey, suppkey) mod 16, first 1024 rows per key fill a 32x32
    tile — tiles are PARTIALLY filled at small sf, so assemble's nodata
    fill is exercised too)."""
    li = _t(spark, sf_dir, "lineitem").select(
        (F.col("l_orderkey") % BIG_N).cast("int").alias("key_col"),
        (F.col("l_suppkey") % BIG_N).cast("int").alias("key_row"),
        "l_orderkey", "l_linenumber", "l_partkey", "l_suppkey",
        "l_quantity", "l_extendedprice",
        F.col("l_quantity").cast("double").alias("value"),
    )
    w = Window.partitionBy("key_col", "key_row").orderBy(
        "l_orderkey", "l_linenumber", "l_partkey", "l_suppkey",
        "l_quantity", "l_extendedprice"
    )
    cells = (
        li.withColumn("pos", F.row_number().over(w) - 1)
        .where(F.col("pos") < BIG_TILE * BIG_TILE)
        .select("key_col", "key_row", F.lit(0).alias("band"), "pos", "value")
    )
    return TiledRasterLayer.assemble(cells, BIG_RASTER_MD)


BIG_CELLS_CTE = f"""
WITH cells AS (
  SELECT key_col, key_row, CAST(pos AS INT) AS pos, value
  FROM (
    SELECT CAST(l_orderkey % {BIG_N} AS INT) AS key_col,
           CAST(l_suppkey % {BIG_N} AS INT) AS key_row,
           row_number() OVER (PARTITION BY l_orderkey % {BIG_N}, l_suppkey % {BIG_N}
                              ORDER BY l_orderkey, l_linenumber, l_partkey, l_suppkey, l_quantity, l_extendedprice) - 1 AS pos,
           CAST(l_quantity AS DOUBLE) AS value
    FROM lineitem
  ) WHERE pos < {BIG_TILE * BIG_TILE}
),
coords AS (
  SELECT key_col, key_row, pos, value,
         key_col * {BIG_TILE} + pos % {BIG_TILE} AS gcol,
         key_row * {BIG_TILE} + CAST(floor(pos / {BIG_TILE}) AS INT) AS grow
  FROM cells
)
"""


def q_raster_tile_to_layout_big(spark, sf_dir):
    """Aligned re-key at the SECOND layout size (r6 verdict #7): the
    16x16x32x32 fixture retiled to a 32x32 layout of 16x16 tiles — every
    source tile explodes into 4 fragments, a different key fan-out than
    the 4x4x8x8 fixture's retile queries, over partially-filled tiles."""
    layer = big_lineitem_layer(spark, sf_dir)
    target = gps.LayoutDefinition(
        gps.Extent(0, 0, BIG_GRID, BIG_GRID),
        gps.TileLayout(2 * BIG_N, 2 * BIG_N, BIG_TILE // 2, BIG_TILE // 2),
    )
    out = layer.tile_to_layout(target)
    return _explode_result(out).where(F.col("value") != -1.0)


SQL_RASTER_TILE_TO_LAYOUT_BIG = BIG_CELLS_CTE + f"""
SELECT CAST(floor(gcol / {BIG_TILE // 2}) AS INT) AS key_col,
       CAST(floor(grow / {BIG_TILE // 2}) AS INT) AS key_row,
       CAST((grow % {BIG_TILE // 2}) * {BIG_TILE // 2} + gcol % {BIG_TILE // 2} AS INT) AS pos,
       value
FROM coords
"""


def q_raster_pyramid(spark, sf_dir):
    layer = lineitem_layer(spark, sf_dir)
    pyr = layer.pyramid(resample_method="Average")
    lvl = pyr[pyr.max_zoom - 1]  # 2x2 layout of 8x8 tiles over a 16x16 grid
    return _explode_result(lvl)


SQL_RASTER_PYRAMID = CELLS_CTE + f"""
, parents AS (
  SELECT CAST(floor(gcol / 2) AS INT) AS pgcol, CAST(floor(grow / 2) AS INT) AS pgrow,
         SUM(value) / COUNT(*) AS value
  FROM coords GROUP BY 1, 2
)
SELECT CAST(floor(pgcol / {TILE}) AS INT) AS key_col,
       CAST(floor(pgrow / {TILE}) AS INT) AS key_row,
       CAST((pgrow % {TILE}) * {TILE} + pgcol % {TILE} AS INT) AS pos,
       value
FROM parents
"""


def q_raster_pyramid_time_travel(spark, sf_dir):
    """Pyramid-level time travel under the gate (r14, VERDICT r13 #5):
    two ``write_pyramid`` publishes (the second +100 per cell), then
    ``read_pyramid(version='p1')`` next to the newest — every zoom of a
    snapshot must resolve the layer version THAT publish committed,
    not whatever is currently committed per zoom (the mid-republish
    mixed-zoom hazard the snapshot manifest exists to prevent). The
    checked level is the same 2x2-of-8x8 pyramid level as
    ``raster_pyramid``, so the oracle is its closed form per
    snapshot."""
    import shutil
    import tempfile

    from ..sources import catalog as cat

    # pin the shared base once (guide §3.3 / §5 localCheckpoint): the
    # two pyramids' zoom levels chain every lineage through this layer,
    # and each zoom commit executes its lineage twice (range-partition
    # sample + write) — 12 re-executions of the base window without the
    # checkpoint, 1 materialization with it, and every level's plan
    # becomes shallow enough that Catalyst analysis stops dominating
    # the driver time
    layer = lineitem_layer(spark, sf_dir)
    layer = TiledRasterLayer(materialize(layer.df), layer.metadata)
    pyr1 = layer.pyramid(resample_method="Average")
    pyr2 = (layer + 100.0).pyramid(resample_method="Average")
    z = pyr1.max_zoom - 1
    uri = tempfile.mkdtemp(prefix="pyr_tt_", dir=_scratch_dir())
    try:
        cat.write_pyramid(uri, "tt", pyr1, keep_history=1)
        cat.write_pyramid(uri, "tt", pyr2, keep_history=1)
        assert cat.list_pyramid_versions(uri, "tt") == ["p1", "p2"]

        # the two snapshot reads are independent point lookups against
        # immutable version dirs — overlap their collect jobs from two
        # threads (guide §2.6) like write_pyramid overlaps its zoom
        # commits; rows come back in a fixed (p1, p2) order regardless
        # of completion order, so the result is unchanged
        def _read_snapshot(pv):
            back = cat.read_pyramid(spark, uri, "tt", version=pv)
            got = _explode_result(back.levels[z])
            return [(pv, r["key_col"], r["key_row"], r["pos"], r["value"])
                    for r in got.collect()]

        from concurrent.futures import ThreadPoolExecutor

        from pyspark import inheritable_thread_target

        # the reads run under the caller's job group (see write_pyramid)
        read_snapshot = inheritable_thread_target(spark)(_read_snapshot)
        with ThreadPoolExecutor(max_workers=2) as pool:
            rows = [r for part in pool.map(read_snapshot, ("p1", "p2"))
                    for r in part]
    finally:
        shutil.rmtree(uri, ignore_errors=True)
    return spark.createDataFrame(
        rows,
        "snapshot string, key_col int, key_row int, pos int, value double")


SQL_RASTER_PYRAMID_TIME_TRAVEL = CELLS_CTE + f"""
, parents AS (
  SELECT CAST(floor(gcol / 2) AS INT) AS pgcol, CAST(floor(grow / 2) AS INT) AS pgrow,
         SUM(value) / COUNT(*) AS value
  FROM coords GROUP BY 1, 2
)
SELECT s.snapshot,
       CAST(floor(pgcol / {TILE}) AS INT) AS key_col,
       CAST(floor(pgrow / {TILE}) AS INT) AS key_row,
       CAST((pgrow % {TILE}) * {TILE} + pgcol % {TILE} AS INT) AS pos,
       CASE WHEN s.snapshot = 'p2' THEN value + 100 ELSE value END AS value
FROM parents, (SELECT 'p1' AS snapshot UNION ALL SELECT 'p2' AS snapshot) s
"""


def q_raster_spacetime_series(spark, sf_dir):
    """SPACETIME layer keyed by month of l_shipdate (1995 only); zonal mean
    per instant over the full extent — the reference's mean_series."""
    layer = _spacetime_layer(spark, sf_dir)
    stat = _zonal.polygonal_stat_df(
        layer, [gps.box(0, 0, GRID, GRID)], "mean", by_instant=True
    )
    return stat.select(
        F.col("instant").cast("date").alias("month"), "band", F.col("mean").alias("mean_q")
    )


SQL_RASTER_SPACETIME_SERIES = f"""
WITH tcells AS (
  SELECT * FROM (
    SELECT CAST(l_orderkey % {LAYOUT_N} AS INT) AS key_col,
           CAST(l_suppkey % {LAYOUT_N} AS INT) AS key_row,
           date_trunc('month', l_shipdate) AS instant,
           row_number() OVER (PARTITION BY l_orderkey % {LAYOUT_N}, l_suppkey % {LAYOUT_N},
                                           date_trunc('month', l_shipdate)
                              ORDER BY l_orderkey, l_linenumber, l_partkey, l_suppkey, l_quantity, l_extendedprice) - 1 AS pos,
           CAST(l_quantity AS DOUBLE) AS value
    FROM lineitem
    WHERE l_shipdate >= TIMESTAMP '1995-01-01' AND l_shipdate < TIMESTAMP '1996-01-01'
  ) WHERE pos < {TILE * TILE}
)
SELECT CAST(instant AS DATE) AS month, CAST(0 AS INT) AS band, AVG(value) AS mean_q
FROM tcells GROUP BY 1, 2
"""


def _spacetime_layer(spark, sf_dir) -> TiledRasterLayer:
    """The SPACETIME fixture (monthly instants over 1995 lineitem)."""
    li = _t(spark, sf_dir, "lineitem").where(
        (F.col("l_shipdate") >= "1995-01-01") & (F.col("l_shipdate") < "1996-01-01")
    )
    li = li.select(
        (F.col("l_orderkey") % LAYOUT_N).cast("int").alias("key_col"),
        (F.col("l_suppkey") % LAYOUT_N).cast("int").alias("key_row"),
        F.date_trunc("month", F.col("l_shipdate")).alias("instant"),
        "l_orderkey", "l_linenumber", "l_partkey", "l_suppkey",
        "l_quantity", "l_extendedprice",
        F.col("l_quantity").cast("double").alias("value"),
    )
    w = Window.partitionBy("key_col", "key_row", "instant").orderBy(
        "l_orderkey", "l_linenumber", "l_partkey", "l_suppkey", "l_quantity", "l_extendedprice"
    )
    cells = (
        li.withColumn("pos", F.row_number().over(w) - 1)
        .where(F.col("pos") < TILE * TILE)
        .select("key_col", "key_row", "instant", F.lit(0).alias("band"), "pos", "value")
    )
    return TiledRasterLayer.assemble(cells, RASTER_MD)


def q_raster_temporal_interpolate(spark, sf_dir):
    """Temporal gap-fill of a SPACETIME layer (r9): every 3rd
    (key, month) tile is dropped deterministically, then
    ``temporal_interpolate`` rebuilds the full instant grid — present
    tiles pass through, dropped ones are per-pixel linear interpolations
    between the nearest present neighbors (nearest-copy at the edges,
    NoData if either endpoint is NoData). Pure Catalyst windows over
    array columns; the oracle replays the identical window/lerp math at
    cell level."""
    from ..layer import TiledRasterLayer
    from ..operators.aggregate import temporal_interpolate

    layer = _spacetime_layer(spark, sf_dir)
    holes = layer.df.where(
        (F.col("key_col") + F.col("key_row") + F.month("instant")) % 3 != 0
    )
    filled = temporal_interpolate(TiledRasterLayer(holes, layer.metadata))
    return filled.df.select(
        F.col("instant").cast("date").alias("month"),
        "key_col", "key_row",
        F.posexplode("cells").alias("pos", "value"),
    )


SQL_RASTER_TEMPORAL_INTERPOLATE = f"""
WITH tcells AS (
  SELECT * FROM (
    SELECT CAST(l_orderkey % {LAYOUT_N} AS INT) AS key_col,
           CAST(l_suppkey % {LAYOUT_N} AS INT) AS key_row,
           date_trunc('month', l_shipdate) AS instant,
           row_number() OVER (PARTITION BY l_orderkey % {LAYOUT_N}, l_suppkey % {LAYOUT_N},
                                           date_trunc('month', l_shipdate)
                              ORDER BY l_orderkey, l_linenumber, l_partkey, l_suppkey, l_quantity, l_extendedprice) - 1 AS pos,
           CAST(l_quantity AS DOUBLE) AS value
    FROM lineitem
    WHERE l_shipdate >= TIMESTAMP '1995-01-01' AND l_shipdate < TIMESTAMP '1996-01-01'
  ) WHERE pos < {TILE * TILE}
),
kept AS (
  SELECT * FROM tcells
  WHERE (key_col + key_row + EXTRACT(month FROM instant)) % 3 <> 0
),
keys AS (SELECT DISTINCT key_col, key_row FROM kept),
months AS (SELECT DISTINCT instant FROM kept),
present AS (SELECT DISTINCT key_col, key_row, instant FROM kept),
grid AS (
  SELECT k.key_col, k.key_row, m.instant, p.p AS pos
  FROM keys k, months m, range({TILE * TILE}) p(p)
),
v AS (
  SELECT g.key_col, g.key_row, g.instant, g.pos,
         CASE WHEN pr.instant IS NOT NULL
              THEN COALESCE(t.value, -1.0) END AS val
  FROM grid g
  LEFT JOIN present pr
    ON pr.key_col = g.key_col AND pr.key_row = g.key_row
   AND pr.instant = g.instant
  LEFT JOIN kept t
    ON t.key_col = g.key_col AND t.key_row = g.key_row
   AND t.instant = g.instant AND t.pos = g.pos
),
nb AS (
  SELECT key_col, key_row, instant, pos, val,
         last_value(val IGNORE NULLS) OVER wp AS pv,
         last_value(CASE WHEN val IS NOT NULL
                         THEN epoch(instant)::DOUBLE END IGNORE NULLS)
           OVER wp AS pt,
         first_value(val IGNORE NULLS) OVER wn AS nv,
         first_value(CASE WHEN val IS NOT NULL
                          THEN epoch(instant)::DOUBLE END IGNORE NULLS)
           OVER wn AS nt
  FROM v
  WINDOW wp AS (PARTITION BY key_col, key_row, pos ORDER BY instant
                ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW),
         wn AS (PARTITION BY key_col, key_row, pos ORDER BY instant
                ROWS BETWEEN CURRENT ROW AND UNBOUNDED FOLLOWING)
)
SELECT CAST(instant AS DATE) AS month, key_col, key_row,
       CAST(pos AS INT) AS pos,
       CASE WHEN val IS NOT NULL THEN val
            WHEN pv IS NULL THEN nv
            WHEN nv IS NULL THEN pv
            WHEN pv = -1.0 OR nv = -1.0 THEN -1.0
            ELSE pv + (nv - pv) * ((epoch(instant)::DOUBLE - pt) / (nt - pt))
       END AS value
FROM nb
"""


def q_raster_to_spatial(spark, sf_dir):
    """to_spatial_layer(target_time): slice one instant out of a SPACETIME
    layer and drop the time dimension."""
    layer = _spacetime_layer(spark, sf_dir)
    spatial = layer.to_spatial_layer(target_time="1995-03-01")
    long = spatial.explode().where(~_is_nd(F.col("value"), layer.nodata))
    return long.select("key_col", "key_row", "pos", "value")


SQL_RASTER_TO_SPATIAL = f"""
WITH tcells AS (
  SELECT * FROM (
    SELECT CAST(l_orderkey % {LAYOUT_N} AS INT) AS key_col,
           CAST(l_suppkey % {LAYOUT_N} AS INT) AS key_row,
           date_trunc('month', l_shipdate) AS instant,
           row_number() OVER (PARTITION BY l_orderkey % {LAYOUT_N}, l_suppkey % {LAYOUT_N},
                                           date_trunc('month', l_shipdate)
                              ORDER BY l_orderkey, l_linenumber, l_partkey, l_suppkey, l_quantity, l_extendedprice) - 1 AS pos,
           CAST(l_quantity AS DOUBLE) AS value
    FROM lineitem
    WHERE l_shipdate >= TIMESTAMP '1995-01-01' AND l_shipdate < TIMESTAMP '1996-01-01'
  ) WHERE pos < {TILE * TILE}
)
SELECT key_col, key_row, CAST(pos AS INT) AS pos, value
FROM tcells WHERE instant = TIMESTAMP '1995-03-01'
"""


def q_raster_temporal_rolling(spark, sf_dir):
    """Per-pixel rolling mean over a SPACETIME layer's instants (round
    6): one shuffle on (key, band), each tile's instant stack rolled
    vectorized; NoData skipped inside the window. Integer-valued cells
    keep the float mean order-exact vs the SQL window AVG."""
    from ..operators.aggregate import temporal_moving_average

    layer = _spacetime_layer(spark, sf_dir)
    out = temporal_moving_average(layer, k=3)
    long = out.explode().where(~_is_nd(F.col("value"), layer.nodata))
    return long.select(
        "key_col", "key_row",
        F.col("instant").cast("date").alias("month"),
        "pos", "value",
    )


SQL_RASTER_TEMPORAL_ROLLING = f"""
WITH tcells AS (
  SELECT * FROM (
    SELECT CAST(l_orderkey % {LAYOUT_N} AS INT) AS key_col,
           CAST(l_suppkey % {LAYOUT_N} AS INT) AS key_row,
           date_trunc('month', l_shipdate) AS instant,
           row_number() OVER (PARTITION BY l_orderkey % {LAYOUT_N}, l_suppkey % {LAYOUT_N},
                                           date_trunc('month', l_shipdate)
                              ORDER BY l_orderkey, l_linenumber, l_partkey, l_suppkey, l_quantity, l_extendedprice) - 1 AS pos,
           CAST(l_quantity AS DOUBLE) AS value
    FROM lineitem
    WHERE l_shipdate >= TIMESTAMP '1995-01-01' AND l_shipdate < TIMESTAMP '1996-01-01'
  ) WHERE pos < {TILE * TILE}
), tile_instants AS (
  SELECT key_col, key_row, instant,
         dense_rank() OVER (PARTITION BY key_col, key_row ORDER BY instant) AS rk
  FROM (SELECT DISTINCT key_col, key_row, instant FROM tcells)
), ranked AS (
  SELECT t.key_col, t.key_row, t.instant, ti.rk, t.pos, t.value
  FROM tcells t JOIN tile_instants ti
    ON t.key_col = ti.key_col AND t.key_row = ti.key_row AND t.instant = ti.instant
), base AS (
  -- every (tile instant) x (pos with any data in that tile) slot, so the
  -- window sees NoData gaps exactly as the engine's stacked tiles do
  SELECT ti.key_col, ti.key_row, ti.instant, ti.rk, p.pos, r.value
  FROM tile_instants ti
  JOIN (SELECT DISTINCT key_col, key_row, pos FROM tcells) p
    ON p.key_col = ti.key_col AND p.key_row = ti.key_row
  LEFT JOIN ranked r
    ON r.key_col = ti.key_col AND r.key_row = ti.key_row
   AND r.instant = ti.instant AND r.pos = p.pos
)
SELECT key_col, key_row, CAST(instant AS DATE) AS month, CAST(pos AS INT) AS pos, value
FROM (
  SELECT key_col, key_row, instant, pos,
         AVG(value) OVER (PARTITION BY key_col, key_row, pos ORDER BY rk
                          RANGE BETWEEN 2 PRECEDING AND CURRENT ROW) AS value
  FROM base
) WHERE value IS NOT NULL
"""


def q_raster_histogram_series(spark, sf_dir):
    """Per-instant zonal value counts (the distributed core of
    histogram_series) over the full extent."""
    layer = _spacetime_layer(spark, sf_dir)
    return _zonal.value_counts_by_instant(
        layer, [gps.box(0, 0, GRID, GRID)]
    ).select(F.col("instant").cast("date").alias("month"), "value", "count")


SQL_RASTER_HISTOGRAM_SERIES = f"""
WITH tcells AS (
  SELECT * FROM (
    SELECT CAST(l_orderkey % {LAYOUT_N} AS INT) AS key_col,
           CAST(l_suppkey % {LAYOUT_N} AS INT) AS key_row,
           date_trunc('month', l_shipdate) AS instant,
           row_number() OVER (PARTITION BY l_orderkey % {LAYOUT_N}, l_suppkey % {LAYOUT_N},
                                           date_trunc('month', l_shipdate)
                              ORDER BY l_orderkey, l_linenumber, l_partkey, l_suppkey, l_quantity, l_extendedprice) - 1 AS pos,
           CAST(l_quantity AS DOUBLE) AS value
    FROM lineitem
    WHERE l_shipdate >= TIMESTAMP '1995-01-01' AND l_shipdate < TIMESTAMP '1996-01-01'
  ) WHERE pos < {TILE * TILE}
)
SELECT CAST(instant AS DATE) AS month, value, COUNT(*) AS count
FROM tcells GROUP BY 1, 2
"""


def q_raster_slope(spark, sf_dir):
    """Slope (Horn's method). Output rounded to 6 decimals: atan/hypot are
    libm calls that may differ in the last ulp across engines; rounding
    puts both under the same representation with ~1e-10 tie risk."""
    layer = lineitem_layer(spark, sf_dir)
    out = _explode_result(layer.slope(zfactor=1.0))
    return out.select(
        "key_col", "key_row", "pos", F.round(F.col("value"), 6).alias("value")
    )


# Horn 3x3 gradients via conditional aggregation over the 8 neighbors;
# missing neighbors (layer edge) substitute the center value — matching
# the engine kernel's NaN-substitution (operators/focal.py _horn_gradients).
SQL_RASTER_SLOPE = CELLS_CTE + """
, nb AS (
  SELECT a.key_col, a.key_row, a.pos, a.value AS c,
         MAX(CASE WHEN b.gcol = a.gcol - 1 AND b.grow = a.grow - 1 THEN b.value END) AS za,
         MAX(CASE WHEN b.gcol = a.gcol     AND b.grow = a.grow - 1 THEN b.value END) AS zb,
         MAX(CASE WHEN b.gcol = a.gcol + 1 AND b.grow = a.grow - 1 THEN b.value END) AS zc,
         MAX(CASE WHEN b.gcol = a.gcol - 1 AND b.grow = a.grow     THEN b.value END) AS zd,
         MAX(CASE WHEN b.gcol = a.gcol + 1 AND b.grow = a.grow     THEN b.value END) AS zf,
         MAX(CASE WHEN b.gcol = a.gcol - 1 AND b.grow = a.grow + 1 THEN b.value END) AS zg,
         MAX(CASE WHEN b.gcol = a.gcol     AND b.grow = a.grow + 1 THEN b.value END) AS zh,
         MAX(CASE WHEN b.gcol = a.gcol + 1 AND b.grow = a.grow + 1 THEN b.value END) AS zi
  FROM coords a JOIN coords b
    ON b.gcol BETWEEN a.gcol - 1 AND a.gcol + 1
   AND b.grow BETWEEN a.grow - 1 AND a.grow + 1
  GROUP BY a.key_col, a.key_row, a.pos, a.value
),
grads AS (
  SELECT key_col, key_row, pos,
         ((COALESCE(zc,c) + 2*COALESCE(zf,c) + COALESCE(zi,c)) -
          (COALESCE(za,c) + 2*COALESCE(zd,c) + COALESCE(zg,c))) / 8.0 AS dzdx,
         ((COALESCE(zg,c) + 2*COALESCE(zh,c) + COALESCE(zi,c)) -
          (COALESCE(za,c) + 2*COALESCE(zb,c) + COALESCE(zc,c))) / 8.0 AS dzdy
  FROM nb
)
SELECT key_col, key_row, pos,
       round(degrees(atan(sqrt(dzdx*dzdx + dzdy*dzdy))), 6) AS value
FROM grads
"""


def _lineitem_layer_2band(spark, sf_dir):
    """Two-band variant: band = l_linenumber % 2, pos within (key, band)."""
    li = _t(spark, sf_dir, "lineitem").select(
        (F.col("l_orderkey") % LAYOUT_N).cast("int").alias("key_col"),
        (F.col("l_suppkey") % LAYOUT_N).cast("int").alias("key_row"),
        (F.col("l_linenumber") % 2).cast("int").alias("band"),
        "l_orderkey",
        "l_linenumber",
        "l_partkey",
        "l_suppkey",
        "l_quantity",
        "l_extendedprice",
        F.col("l_quantity").cast("double").alias("value"),
    )
    w = Window.partitionBy("key_col", "key_row", "band").orderBy(
        "l_orderkey", "l_linenumber", "l_partkey", "l_suppkey", "l_quantity", "l_extendedprice"
    )
    cells = (
        li.withColumn("pos", F.row_number().over(w) - 1)
        .where(F.col("pos") < TILE * TILE)
        .select("key_col", "key_row", "band", "pos", "value")
    )
    from dataclasses import replace as _replace

    return TiledRasterLayer.assemble(cells, _replace(RASTER_MD, num_bands=2))


CELLS2_CTE = f"""
WITH cells AS (
  SELECT key_col, key_row, band, CAST(pos AS INT) AS pos, value
  FROM (
    SELECT CAST(l_orderkey % {LAYOUT_N} AS INT) AS key_col,
           CAST(l_suppkey % {LAYOUT_N} AS INT) AS key_row,
           CAST(l_linenumber % 2 AS INT) AS band,
           row_number() OVER (PARTITION BY l_orderkey % {LAYOUT_N}, l_suppkey % {LAYOUT_N}, l_linenumber % 2
                              ORDER BY l_orderkey, l_linenumber, l_partkey, l_suppkey, l_quantity, l_extendedprice) - 1 AS pos,
           CAST(l_quantity AS DOUBLE) AS value
    FROM lineitem
  ) WHERE pos < {TILE * TILE}
)
"""


def q_raster_bands(spark, sf_dir):
    """Band selection: keep band 1, renumbered to 0 (``layer.py:1419-1447``)."""
    layer = _lineitem_layer_2band(spark, sf_dir)
    sel = layer.bands([1])
    return sel.explode().select("key_col", "key_row", "band", "pos", "value")


SQL_RASTER_BANDS = CELLS2_CTE + """
SELECT key_col, key_row, CAST(0 AS INT) AS band, pos, value
FROM cells WHERE band = 1
"""


def q_raster_combine_bands(spark, sf_dir):
    """combine_bands of (value, value2) layers -> 2-band layer."""
    a = lineitem_layer(spark, sf_dir, "value")
    b = lineitem_layer(spark, sf_dir, "value2")
    c = gps.combine_bands([a, b])
    return c.explode().select("key_col", "key_row", "band", "pos", "value")


SQL_RASTER_COMBINE_BANDS = CELLS_CTE + """
SELECT key_col, key_row, CAST(0 AS INT) AS band, pos, value FROM cells
UNION ALL
SELECT key_col, key_row, CAST(1 AS INT) AS band, pos, value2 AS value FROM cells
"""


def q_raster_merge(spark, sf_dir):
    """Deterministic merge: layer A (masked to the zonal box, NoData
    elsewhere) over layer B (=value*2): A's valid cells win, B fills the
    rest (``TiledRasterLayer.scala:439-450`` with explicit priority)."""
    a = lineitem_layer(spark, sf_dir).mask(gps.box(ZX0, ZY0, ZX1, ZY1))
    b = lineitem_layer(spark, sf_dir) * 2
    from ..operators.aggregate import merge as _merge

    adf = a.df.withColumn("prio", F.lit(0))
    bdf = b.df.withColumn("prio", F.lit(1))
    u = TiledRasterLayer(adf.unionByName(bdf), a.metadata)
    merged = _merge(u, order_col="prio")
    return _explode_result(merged)


SQL_RASTER_MERGE = CELLS_CTE + f"""
SELECT key_col, key_row, pos,
       CASE WHEN gcol BETWEEN {_G0} AND {_G1} AND grow BETWEEN {_R0} AND {_R1}
            THEN value ELSE value * CAST(2 AS DOUBLE) END AS value
FROM coords
"""


def q_raster_focal_max(spark, sf_dir):
    layer = lineitem_layer(spark, sf_dir)
    return _explode_result(layer.focal("Max", "Square", 1))


SQL_RASTER_FOCAL_MAX = CELLS_CTE + """
SELECT a.key_col, a.key_row, a.pos, CAST(MAX(b.value) AS DOUBLE) AS value
FROM coords a JOIN coords b
  ON b.gcol BETWEEN a.gcol - 1 AND a.gcol + 1
 AND b.grow BETWEEN a.grow - 1 AND a.grow + 1
GROUP BY a.key_col, a.key_row, a.pos
"""


def q_raster_focal_median(spark, sf_dir):
    layer = lineitem_layer(spark, sf_dir)
    return _explode_result(layer.focal("Median", "Square", 1))


SQL_RASTER_FOCAL_MEDIAN = CELLS_CTE + """
SELECT a.key_col, a.key_row, a.pos, CAST(MEDIAN(b.value) AS DOUBLE) AS value
FROM coords a JOIN coords b
  ON b.gcol BETWEEN a.gcol - 1 AND a.gcol + 1
 AND b.grow BETWEEN a.grow - 1 AND a.grow + 1
GROUP BY a.key_col, a.key_row, a.pos
"""


def q_raster_focal_circle(spark, sf_dir):
    """Circle(1) neighborhood = the 4-connected cross (+ center)."""
    layer = lineitem_layer(spark, sf_dir)
    return _explode_result(layer.focal("Sum", "Circle", 1))


SQL_RASTER_FOCAL_CIRCLE = CELLS_CTE + """
SELECT a.key_col, a.key_row, a.pos, CAST(SUM(b.value) AS DOUBLE) AS value
FROM coords a JOIN coords b
  ON (b.gcol - a.gcol) * (b.gcol - a.gcol) + (b.grow - a.grow) * (b.grow - a.grow) <= 1
GROUP BY a.key_col, a.key_row, a.pos
"""


def q_raster_filter_by_times(spark, sf_dir):
    """SPACETIME interval filter: per-month cell counts for Q2 1995."""
    from datetime import datetime

    li = _t(spark, sf_dir, "lineitem").where(
        (F.col("l_shipdate") >= "1995-01-01") & (F.col("l_shipdate") < "1996-01-01")
    )
    li = li.select(
        (F.col("l_orderkey") % LAYOUT_N).cast("int").alias("key_col"),
        (F.col("l_suppkey") % LAYOUT_N).cast("int").alias("key_row"),
        F.date_trunc("month", F.col("l_shipdate")).alias("instant"),
        "l_orderkey", "l_linenumber", "l_partkey", "l_suppkey",
        "l_quantity", "l_extendedprice",
        F.col("l_quantity").cast("double").alias("value"),
    )
    w = Window.partitionBy("key_col", "key_row", "instant").orderBy(
        "l_orderkey", "l_linenumber", "l_partkey", "l_suppkey", "l_quantity", "l_extendedprice"
    )
    cells = (
        li.withColumn("pos", F.row_number().over(w) - 1)
        .where(F.col("pos") < TILE * TILE)
        .select("key_col", "key_row", "instant", F.lit(0).alias("band"), "pos", "value")
    )
    layer = TiledRasterLayer.assemble(cells, RASTER_MD)
    filt = layer.filter_by_times(
        [datetime(1995, 4, 1), datetime(1995, 6, 30, 23, 59, 59)]
    )
    long = filt.explode().where(~_is_nd(F.col("value"), layer.nodata))
    return long.groupBy(F.col("instant").cast("date").alias("month")).agg(
        F.count("*").alias("n_cells"), F.sum("value").alias("sum_value")
    )


SQL_RASTER_FILTER_BY_TIMES = f"""
WITH tcells AS (
  SELECT * FROM (
    SELECT CAST(l_orderkey % {LAYOUT_N} AS INT) AS key_col,
           CAST(l_suppkey % {LAYOUT_N} AS INT) AS key_row,
           date_trunc('month', l_shipdate) AS instant,
           row_number() OVER (PARTITION BY l_orderkey % {LAYOUT_N}, l_suppkey % {LAYOUT_N},
                                           date_trunc('month', l_shipdate)
                              ORDER BY l_orderkey, l_linenumber, l_partkey, l_suppkey, l_quantity, l_extendedprice) - 1 AS pos,
           CAST(l_quantity AS DOUBLE) AS value
    FROM lineitem
    WHERE l_shipdate >= TIMESTAMP '1995-01-01' AND l_shipdate < TIMESTAMP '1996-01-01'
  ) WHERE pos < {TILE * TILE}
)
SELECT CAST(instant AS DATE) AS month, COUNT(*) AS n_cells, SUM(value) AS sum_value
FROM tcells
WHERE instant BETWEEN TIMESTAMP '1995-04-01' AND TIMESTAMP '1995-06-30 23:59:59'
GROUP BY 1
"""


POINT_SAMPLES = [(2.5, 29.5), (10.5, 20.5), (17.5, 12.5), (25.5, 5.5), (31.5, 0.5)]
SQL_RASTER_POINT_VALUES = lambda: _sql_point_values()


def q_raster_point_values(spark, sf_dir):
    """get_point_values at fixed coords -> (pt_id, band, value) DataFrame."""
    layer = lineitem_layer(spark, sf_dir)
    pts = [gps.Point(x, y) for x, y in POINT_SAMPLES]
    got = layer.get_point_values(pts)
    rows = []
    for i, (p, bands) in enumerate(got):
        for b, v in enumerate(bands or []):
            rows.append((i, b, float(v)))
    return spark.createDataFrame(rows, "pt_id int, band int, value double")


def _sql_point_values() -> str:
    cases = []
    for i, (x, y) in enumerate(POINT_SAMPLES):
        gcol = int(x)  # unit cells anchored at 0
        grow = int(GRID - y)
        cases.append(
            f"SELECT {i} AS pt_id, CAST(0 AS INT) AS band, value "
            f"FROM coords WHERE gcol = {gcol} AND grow = {grow}"
        )
    return CELLS_CTE + " UNION ALL ".join(cases)


BILINEAR_SAMPLES = [(2.75, 29.25), (10.2, 20.8), (17.6, 12.3), (30.9, 1.1)]
SQL_RASTER_POINT_BILINEAR = lambda: _sql_point_bilinear()


def q_raster_point_bilinear(spark, sf_dir):
    """Bilinear point sampling at off-center coords (4-cell tensor weights)."""
    layer = lineitem_layer(spark, sf_dir)
    pts = [gps.Point(x, y) for x, y in BILINEAR_SAMPLES]
    got = layer.get_point_values(pts, resample_method="Bilinear")
    rows = []
    for i, (p, bands) in enumerate(got):
        for b, v in enumerate(bands or []):
            if v is not None:
                rows.append((i, b, round(float(v), 6)))
    return spark.createDataFrame(rows, "pt_id int, band int, value double")


def _sql_point_bilinear() -> str:
    vals = ", ".join(f"({i}, {x!r}, {y!r})" for i, (x, y) in enumerate(BILINEAR_SAMPLES))
    return CELLS_CTE + f"""
, pts(pt_id, px, py) AS (VALUES {vals}),
frac AS (
  SELECT pt_id, px - 0.5 AS fc, (32.0 - py) - 0.5 AS fr FROM pts
),
cells4 AS (
  SELECT pt_id,
         CAST(floor(fc) AS INT) + dc.i AS gcol,
         CAST(floor(fr) AS INT) + dr.i AS grow,
         (CASE WHEN dc.i = 0 THEN 1 - (fc - floor(fc)) ELSE fc - floor(fc) END) *
         (CASE WHEN dr.i = 0 THEN 1 - (fr - floor(fr)) ELSE fr - floor(fr) END) AS w
  FROM frac, range(2) dc(i), range(2) dr(i)
)
SELECT c4.pt_id, CAST(0 AS INT) AS band, round(SUM(c4.w * coords.value), 6) AS value
FROM cells4 c4 JOIN coords ON coords.gcol = c4.gcol AND coords.grow = c4.grow
GROUP BY 1, 2
"""


def _q_point_kernel(spark, sf_dir, method):
    layer = lineitem_layer(spark, sf_dir)
    pts = [gps.Point(x, y) for x, y in BILINEAR_SAMPLES]
    got = layer.get_point_values(pts, resample_method=method)
    rows = []
    for i, (p, bands) in enumerate(got):
        for b, v in enumerate(bands or []):
            if v is not None:
                rows.append((i, b, round(float(v), 6)))
    return spark.createDataFrame(rows, "pt_id int, band int, value double")


def q_raster_point_cubicspline(spark, sf_dir):
    """Cubic B-spline point sampling (4x4 tensor taps, renormalized)."""
    return _q_point_kernel(spark, sf_dir, "CubicSpline")


SQL_RASTER_POINT_CUBICSPLINE = lambda: _sql_point_kernel("CubicSpline")


def q_raster_point_lanczos(spark, sf_dir):
    """Lanczos-3 point sampling (6x6 tensor taps, renormalized)."""
    return _q_point_kernel(spark, sf_dir, "Lanczos")


SQL_RASTER_POINT_LANCZOS = lambda: _sql_point_kernel("Lanczos")


def _sql_point_kernel(method: str) -> str:
    """Oracle for kernel point sampling: the tap weights are the same
    deterministic numpy kernels the operator uses (injected as VALUES);
    the distributed part — tap join + weighted aggregate over the raster —
    is re-verified relationally. Taps outside the grid drop the point
    (strict support check), mirrored by HAVING COUNT(*) = n_taps."""
    import math as _math

    import numpy as np

    from ..operators.resample import _KERNELS

    kernel, radius = _KERNELS[method]
    offs = tuple(range(-radius + 1, radius + 1))
    n_taps = len(offs) ** 2
    taps = []
    for i, (x, y) in enumerate(BILINEAR_SAMPLES):
        fc = x - 0.5          # unit cells anchored at extent origin 0
        fr = (GRID - y) - 0.5
        c0, r0 = _math.floor(fc), _math.floor(fr)
        od = np.array(offs, dtype=np.float64)
        wcol = kernel((fc - c0) - od)
        wrow = kernel((fr - r0) - od)
        for di, dc in enumerate(offs):
            for dj, dr in enumerate(offs):
                taps.append((i, c0 + dc, r0 + dr, float(wcol[di] * wrow[dj])))
    vals = ", ".join(f"({i}, {gc}, {gr}, {w!r})" for i, gc, gr, w in taps)
    return CELLS_CTE + f"""
, taps(pt_id, tcol, trow, w) AS (VALUES {vals})
SELECT t.pt_id, CAST(0 AS INT) AS band,
       round(SUM(t.w * coords.value) / SUM(t.w), 6) AS value
FROM taps t JOIN coords ON coords.gcol = t.tcol AND coords.grow = t.trow
GROUP BY 1, 2
HAVING COUNT(*) = {n_taps}
"""


def q_raster_rasterize(spark, sf_dir):
    """Burn two overlapping boxes (z-index priority) into the fixture
    layout; output valid cells with global coords."""
    from ..operators.rasterize import rasterize_features

    layer = rasterize_features(
        spark,
        [(gps.box(2, 2, 18, 18), 1.0, 0), (gps.box(10, 10, 26, 26), 2.0, 5)],
        RASTER_MD.layout,
    )
    long = layer.explode().where(F.col("value") != -1.0)
    return long.select("key_col", "key_row", "pos", "value")


# cell (gcol, grow) center = (gcol+.5, GRID-grow-.5); box (x0,y0,x1,y1)
# covers centers with x0 <= gcol+.5 < x1  =>  gcol in [x0, x1-1] etc.
SQL_RASTER_RASTERIZE = f"""
WITH grid AS (
  SELECT c.i AS gcol, r.i AS grow FROM range({GRID}) c(i), range({GRID}) r(i)
),
vals AS (
  SELECT gcol, grow,
         CASE WHEN gcol BETWEEN 10 AND 25 AND grow BETWEEN {GRID - 26} AND {GRID - 10 - 1} THEN 2.0
              WHEN gcol BETWEEN 2 AND 17 AND grow BETWEEN {GRID - 18} AND {GRID - 2 - 1} THEN 1.0
              END AS value
  FROM grid
)
SELECT CAST(floor(gcol / {TILE}) AS INT) AS key_col,
       CAST(floor(grow / {TILE}) AS INT) AS key_row,
       CAST((grow % {TILE}) * {TILE} + gcol % {TILE} AS INT) AS pos,
       CAST(value AS DOUBLE) AS value
FROM vals WHERE value IS NOT NULL
"""


def q_raster_cost_distance_distributed(spark, sf_dir):
    """The flagship scale path under the driver gate (r16, VERDICT r15
    #2): the SAME cost-distance fixture, but pinning
    ``boundary_solver="distributed"`` with forced contraction caps
    (grid cap 1, factor 2) so the recursive blocks-of-blocks solver —
    contract to portal shortcut tables, Bellman-Ford on the capped
    grid, expand back down — produces every value, exactly as it would
    on a planet-scale layer where the boundary graph cannot fit the
    driver. The query RAISES unless contraction actually engaged
    (>= 1 level), and shares ``raster_cost_distance``'s closed-form
    octile oracle, so the driver rotation now re-validates the
    distributed path like any other operator."""
    from ..operators import costdistance as cd

    ones = lineitem_layer(spark, sf_dir)
    uniform = ones * 0 + 1  # friction 1 everywhere, same layout
    saved = cd._BF_GRID_CAP, cd._CONTRACT_FACTOR
    try:
        cd._BF_GRID_CAP, cd._CONTRACT_FACTOR = 1, 2
        out = cd.cost_distance(uniform, gps.Point(8.5, 23.5),
                               strategy="two_level", table_cells=64,
                               boundary_solver="distributed")
        levels = int(cd._loop_stats.get("contract_levels", 0))
    finally:
        cd._BF_GRID_CAP, cd._CONTRACT_FACTOR = saved
    if levels < 1:
        raise RuntimeError(
            "distributed cost-distance gate: contraction did not "
            f"engage (levels={levels}) — the query validated the "
            "wrong solver path")
    long = out.explode()
    return long.select(
        "key_col", "key_row", "pos", F.round(F.col("value"), 6).alias("value")
    )


def q_raster_euclidean_distance(spark, sf_dir):
    """Distance-to-point raster; closed-form oracle (rounded 6 dp)."""
    from ..operators.rasterize import euclidean_distance

    layer = euclidean_distance(spark, gps.Point(8.5, 23.5), RASTER_MD.layout)
    long = layer.explode()
    return long.select(
        "key_col", "key_row", "pos", F.round(F.col("value"), 6).alias("value")
    )


# point (8.5, 23.5) sits at the center of cell gcol=8, grow=GRID-24=8
SQL_RASTER_EUCLIDEAN = f"""
WITH grid AS (
  SELECT c.i AS gcol, r.i AS grow FROM range({GRID}) c(i), range({GRID}) r(i)
)
SELECT CAST(floor(gcol / {TILE}) AS INT) AS key_col,
       CAST(floor(grow / {TILE}) AS INT) AS key_row,
       CAST((grow % {TILE}) * {TILE} + gcol % {TILE} AS INT) AS pos,
       round(sqrt((gcol - 8) * (gcol - 8) + (grow - 8) * (grow - 8)), 6) AS value
FROM grid
"""
SQL_RASTER_EUCLIDEAN_DISTANCE = SQL_RASTER_EUCLIDEAN


def q_raster_cost_distance(spark, sf_dir):
    """Cost distance over uniform friction 1 from one source cell. With no
    obstacles the geodesic is the octile metric — closed-form oracle."""
    from ..operators.costdistance import cost_distance

    ones = lineitem_layer(spark, sf_dir)
    uniform = ones * 0 + 1  # friction 1 everywhere, same layout
    out = cost_distance(uniform, gps.Point(8.5, 23.5))
    long = out.explode()
    return long.select(
        "key_col", "key_row", "pos", F.round(F.col("value"), 6).alias("value")
    )


# shared Horn-gradient CTE (matches operators/focal.py _horn_gradients with
# unit cells): nb collects the 8 neighbors, grads the dz/dx, dz/dy
HORN_CTE = CELLS_CTE + """
, nb2 AS (
  SELECT a.key_col, a.key_row, a.pos, a.value AS c,
         MAX(CASE WHEN b.gcol = a.gcol - 1 AND b.grow = a.grow - 1 THEN b.value END) AS za,
         MAX(CASE WHEN b.gcol = a.gcol     AND b.grow = a.grow - 1 THEN b.value END) AS zb,
         MAX(CASE WHEN b.gcol = a.gcol + 1 AND b.grow = a.grow - 1 THEN b.value END) AS zc,
         MAX(CASE WHEN b.gcol = a.gcol - 1 AND b.grow = a.grow     THEN b.value END) AS zd,
         MAX(CASE WHEN b.gcol = a.gcol + 1 AND b.grow = a.grow     THEN b.value END) AS zf,
         MAX(CASE WHEN b.gcol = a.gcol - 1 AND b.grow = a.grow + 1 THEN b.value END) AS zg,
         MAX(CASE WHEN b.gcol = a.gcol     AND b.grow = a.grow + 1 THEN b.value END) AS zh,
         MAX(CASE WHEN b.gcol = a.gcol + 1 AND b.grow = a.grow + 1 THEN b.value END) AS zi
  FROM coords a JOIN coords b
    ON b.gcol BETWEEN a.gcol - 1 AND a.gcol + 1
   AND b.grow BETWEEN a.grow - 1 AND a.grow + 1
  GROUP BY a.key_col, a.key_row, a.pos, a.value
),
grads2 AS (
  SELECT key_col, key_row, pos,
         ((COALESCE(zc,c) + 2*COALESCE(zf,c) + COALESCE(zi,c)) -
          (COALESCE(za,c) + 2*COALESCE(zd,c) + COALESCE(zg,c))) / 8.0 AS dzdx,
         ((COALESCE(zg,c) + 2*COALESCE(zh,c) + COALESCE(zi,c)) -
          (COALESCE(za,c) + 2*COALESCE(zb,c) + COALESCE(zc,c))) / 8.0 AS dzdy
  FROM nb2
)
"""


def q_raster_aspect(spark, sf_dir):
    """Aspect (degrees clockwise from north; flat -> 0)."""
    layer = lineitem_layer(spark, sf_dir)
    out = _explode_result(layer.aspect())
    return out.select(
        "key_col", "key_row", "pos", F.round(F.col("value"), 6).alias("value")
    )


SQL_RASTER_ASPECT = HORN_CTE + """
SELECT key_col, key_row, pos,
       round(CASE WHEN dzdx = 0 AND dzdy = 0 THEN 0.0
                  ELSE fmod(fmod(90.0 - degrees(atan2(dzdy, -dzdx)), 360.0) + 360.0, 360.0)
             END, 6) AS value
FROM grads2
"""


def q_raster_hillshade(spark, sf_dir):
    """Hillshade 0..255 (azimuth 315, altitude 45) — integer output, so no
    rounding concerns in the comparison."""
    layer = lineitem_layer(spark, sf_dir)
    return _explode_result(layer.hillshade())


SQL_RASTER_HILLSHADE = HORN_CTE + """
SELECT key_col, key_row, pos,
       round(greatest(0.0, least(1.0,
         cos(radians(45.0)) * cos(atan(sqrt(dzdx*dzdx + dzdy*dzdy))) +
         sin(radians(45.0)) * sin(atan(sqrt(dzdx*dzdx + dzdy*dzdy))) *
         cos(radians(135.0) - atan2(dzdy, -dzdx)))) * 255.0) AS value
FROM grads2
"""


def q_raster_tobler(spark, sf_dir):
    """Tobler hiking speed over the slope layer (pointwise compose)."""
    layer = lineitem_layer(spark, sf_dir)
    out = _explode_result(layer.slope(zfactor=1.0).tobler())
    return out.select(
        "key_col", "key_row", "pos", F.round(F.col("value"), 6).alias("value")
    )


SQL_RASTER_TOBLER = HORN_CTE + """
SELECT key_col, key_row, pos,
       round(6.0 * exp(-3.5 * abs(tan(radians(
         degrees(atan(sqrt(dzdx*dzdx + dzdy*dzdy))))) + 0.05)), 6) AS value
FROM grads2
"""


def q_raster_resample(spark, sf_dir):
    """Per-tile 8x8 -> 4x4 Average downsample (2x2 block means)."""
    layer = lineitem_layer(spark, sf_dir)
    out = layer.resample_to_power_of_two(2, 2, "Average")
    return _explode_result(out)


def q_raster_resample_cubic(spark, sf_dir):
    """Kernel tile resample under the gate: 8x8 -> 16x16 cubic-convolution
    upsample (separable weight-matrix matmuls). Rounded to 6 dp: the SQL
    mirror sums tap products in one pass vs the engine's two matmuls."""
    layer = lineitem_layer(spark, sf_dir)
    out = layer.resample_to_power_of_two(4, 4, "CubicConvolution")
    long = out.explode()
    return long.select("key_col", "key_row", "pos",
                       F.round(F.col("value"), 6).alias("value"))


SQL_RASTER_RESAMPLE_CUBIC = lambda: _sql_resample_cubic(16)


def _sql_resample_cubic(out_n: int = 16) -> str:
    """Inject the engine's own row/col kernel weight matrices as VALUES
    (deterministic numpy, same floats via repr) and re-derive the
    separable resample as a relational tap sum."""
    from ..operators.resample import _KERNELS, _kernel_weight_matrix

    kernel, radius = _KERNELS["CubicConvolution"]
    W = _kernel_weight_matrix(TILE, out_n, kernel, radius)  # (out_n, TILE)
    taps = ", ".join(
        f"({o}, {i}, {W[o, i]!r})"
        for o in range(out_n) for i in range(TILE) if W[o, i] != 0.0
    )
    return CELLS_CTE + f"""
, wr(orow, irow, w) AS (VALUES {taps}),
wc(ocol, icol, w) AS (VALUES {taps})
SELECT c.key_col, c.key_row,
       CAST(wr.orow * {out_n} + wc.ocol AS INT) AS pos,
       round(SUM(wr.w * wc.w * c.value), 6) AS value
FROM coords c
JOIN wr ON wr.irow = c.grow % {TILE}
JOIN wc ON wc.icol = c.gcol % {TILE}
GROUP BY c.key_col, c.key_row, wr.orow, wc.ocol
"""


# 4x4 output cell (oc, or) averages input block rows 2*or..2*or+1 x cols
# 2*oc..2*oc+1; NoData (-1 fill) masked, all-NoData block -> -1
SQL_RASTER_RESAMPLE = CELLS_CTE + f"""
, blocks AS (
  SELECT key_col, key_row,
         CAST(floor((grow % {TILE}) / 2) AS INT) AS orow,
         CAST(floor((gcol % {TILE}) / 2) AS INT) AS ocol,
         AVG(CASE WHEN value <> -1.0 THEN value END) AS avg_v
  FROM coords GROUP BY 1, 2, 3, 4
)
SELECT key_col, key_row, CAST(orow * 4 + ocol AS INT) AS pos,
       COALESCE(avg_v, -1.0) AS value
FROM blocks
"""


def q_events_session(spark, sf_dir):
    """Session windows (30-min gap) per user over the events table — the
    built-in session_window in batch mode; oracle is the classic
    gaps-and-islands SQL."""
    ev = _events(spark, sf_dir)
    return (
        ev.groupBy(F.session_window("ts", "30 minutes").alias("w"), "user_id")
        .agg(F.count("*").alias("n_events"))
        .select(
            "user_id",
            F.date_trunc("second", F.col("w.start")).alias("session_start"),
            "n_events",
        )
    )


# DuckDB reads the nanos column as TIMESTAMP_NS natively; Spark truncates to
# micros — both sides truncate session starts to whole seconds to compare.
SQL_EVENTS_SESSION = """
WITH ev AS (
  SELECT user_id, CAST(ts AS TIMESTAMP) AS ts FROM events
),
flagged AS (
  SELECT user_id, ts,
         CASE WHEN ts - LAG(ts) OVER (PARTITION BY user_id ORDER BY ts)
                   > INTERVAL 30 MINUTE OR
                   LAG(ts) OVER (PARTITION BY user_id ORDER BY ts) IS NULL
              THEN 1 ELSE 0 END AS new_session
  FROM ev
),
islands AS (
  SELECT user_id, ts,
         SUM(new_session) OVER (PARTITION BY user_id ORDER BY ts
                                ROWS UNBOUNDED PRECEDING) AS session_id
  FROM flagged
)
SELECT user_id, date_trunc('second', MIN(ts)) AS session_start, COUNT(*) AS n_events
FROM islands GROUP BY user_id, session_id
"""


def q_raster_local_add_n(spark, sf_dir):
    """n-ary localAdd (one shuffle, not n-1 joins): L + 2L + 3L = 6L."""
    layer = lineitem_layer(spark, sf_dir)
    out = gps.local_add([layer, layer * 2, layer * 3])
    long = out.explode().where(~_is_nd(F.col("value"), layer.nodata))
    return long.select("key_col", "key_row", "pos", "value")


SQL_RASTER_LOCAL_ADD_N = CELLS_CTE + """
SELECT key_col, key_row, pos, value * 6.0 AS value FROM coords
"""


def q_raster_zindex(spark, sf_dir):
    """The Z2 Morton index itself under the gate: the codegen bit-spread
    (core/zindex.py) vs the same shifts/masks written in DuckDB SQL."""
    from ..core.zindex import z2_col

    cells = lineitem_cells(spark, sf_dir)
    return cells.select("key_col", "key_row").distinct().select(
        "key_col", "key_row", z2_col("key_col", "key_row")
    )


def _sql_spread1(col: str) -> str:
    # 31-bit part1by1 (matches core/zindex.py's widened Z2; for inputs
    # < 2^16 the result is identical to the old 16-bit spread).
    n = f"CAST({col} AS BIGINT) & 2147483647"
    masks = [
        (16, 0x0000FFFF0000FFFF), (8, 0x00FF00FF00FF00FF),
        (4, 0x0F0F0F0F0F0F0F0F), (2, 0x3333333333333333),
        (1, 0x5555555555555555),
    ]
    for shift, mask in masks:
        n = f"(({n}) | (({n}) << {shift})) & {mask}"
    return n


SQL_RASTER_ZINDEX = CELLS_CTE + f"""
SELECT DISTINCT key_col, key_row,
       ({_sql_spread1('key_col')}) | (({_sql_spread1('key_row')}) << 1) AS zindex
FROM cells
"""


def q_raster_zindex_deep(spark, sf_dir):
    """Z2 at deep-zoom coordinates (>= 2^17 cols/rows, i.e. GlobalLayout
    zoom >= 17 — the zooms a planet-scale web-mercator pyramid actually
    uses): keys are synthesized deterministically into a 2^20-wide grid,
    so the index must interleave the full 31 bits/axis (the old 16-bit
    spread would alias these).  Gates the r11 Morton widening of
    core/zindex.py against an independent DuckDB bit-spread."""
    from ..core.zindex import z2_col

    li = _t(spark, sf_dir, "lineitem")
    keys = li.select(
        ((F.col("l_orderkey") * 48271 + F.col("l_linenumber"))
         % 1048573).cast("int").alias("key_col"),
        ((F.col("l_orderkey") * 16807 + F.col("l_partkey"))
         % 1048573).cast("int").alias("key_row"),
    ).distinct()
    return keys.select("key_col", "key_row",
                       z2_col("key_col", "key_row"))


SQL_RASTER_ZINDEX_DEEP = f"""
WITH dk AS (
  SELECT DISTINCT
    CAST((l_orderkey * 48271 + l_linenumber) % 1048573 AS INT) AS key_col,
    CAST((l_orderkey * 16807 + l_partkey) % 1048573 AS INT) AS key_row
  FROM lineitem
)
SELECT key_col, key_row,
       ({_sql_spread1('key_col')}) | (({_sql_spread1('key_row')}) << 1) AS zindex
FROM dk
"""


def _progressive_jpeg_tiff_fixture() -> tuple[bytes, int, int]:
    """Deterministic progressive (SOF2) JPEG-in-TIFF fixture whose
    decode is EXACT: every 8x8 block is constant, ACs are all zero, and
    the DC quantizer is 8, so dequantize+IDCT reproduces each block
    value bit-exactly (no quantization loss to model in SQL). The
    stream exercises the full progressive machinery the r11 decoder
    adds: DC first scan at Al=1, an AC first scan whose all-zero band
    is sent as cross-block EOB runs, and a DC refinement scan.
    Returns (tiff_bytes, rows, cols)."""
    import struct as _s

    rows, cols = 77, 91
    bh, bw = (rows + 7) // 8, (cols + 7) // 8

    def blockval(br, bc):
        return (37 * br + 23 * bc + br * bc) % 200 + 28

    # ---- huffman helpers (canonical, T.81 C.2) ----
    def codes(counts, values):
        out, code, k = {}, 0, 0
        for length in range(1, 17):
            for _ in range(counts[length - 1]):
                out[values[k]] = (code, length)
                code += 1
                k += 1
            code <<= 1
        return out

    DC_T = ([0, 0, 0, 12] + [0] * 12, list(range(12)))   # sizes 0..11, 4 bits
    AC_T = ([0, 0, 0, 15] + [0] * 12,
            [n << 4 for n in range(15)])                 # EOBn only, 4 bits
    dcmap, acmap = codes(*DC_T), codes(*AC_T)

    class BW:
        def __init__(self):
            self.out = bytearray()
            self.acc = 0
            self.n = 0

        def write(self, code, length):
            for i in range(length - 1, -1, -1):
                self.acc = (self.acc << 1) | ((code >> i) & 1)
                self.n += 1
                if self.n == 8:
                    self.out.append(self.acc)
                    if self.acc == 0xFF:
                        self.out.append(0x00)
                    self.acc = 0
                    self.n = 0

        def done(self):
            while self.n:
                self.write(1, 1)
            return bytes(self.out)

    def seg(marker, payload):
        return bytes([0xFF, marker]) + _s.pack(">H", len(payload) + 2) + payload

    # DQT: q[0]=8 (DC exact), AC quantizers irrelevant (all-zero ACs)
    dqt = seg(0xDB, bytes([0x00, 8]) + bytes([1] * 63))
    dht = (seg(0xC4, bytes([0x00]) + bytes(DC_T[0]) + bytes(DC_T[1]))
           + seg(0xC4, bytes([0x10]) + bytes(AC_T[0]) + bytes(AC_T[1])))
    sof = seg(0xC2, bytes([8]) + _s.pack(">HH", rows, cols)
              + bytes([1, 1, 0x11, 0]))

    def magnitude(v):
        if v == 0:
            return 0, 0
        size = abs(v).bit_length()
        return size, (v if v > 0 else v + (1 << size) - 1)

    # scan 1: DC first, Al=1
    bw1 = BW()
    pred = 0
    for bi in range(bh * bw):
        br_, bc_ = divmod(bi, bw)
        dc = blockval(br_, bc_) - 128          # quantized DC (q=8)
        diff = (dc >> 1) - pred
        pred = dc >> 1
        size, bits = magnitude(diff)
        c, ln = dcmap[size]
        bw1.write(c, ln)
        bw1.write(bits, size)
    sos1 = seg(0xDA, bytes([1, 1, 0x00, 0, 0, 0x01])) + bw1.done()

    # scan 2: AC first 1..63, Al=0 — every band is zero: one EOB run
    # per 32767 blocks (here a single run covering all blocks)
    bw2 = BW()
    run = bh * bw
    while run > 0:
        chunk = min(run, 0x7FFF)
        n = chunk.bit_length() - 1
        c, ln = acmap[n << 4]
        bw2.write(c, ln)
        if n:
            bw2.write(chunk - (1 << n), n)
        run -= chunk
    sos2 = seg(0xDA, bytes([1, 1, 0x00, 1, 63, 0x00])) + bw2.done()

    # scan 3: DC refinement, Ah=1 Al=0 — one raw bit per block
    bw3 = BW()
    for bi in range(bh * bw):
        br_, bc_ = divmod(bi, bw)
        bw3.write((blockval(br_, bc_) - 128) & 1, 1)
    sos3 = seg(0xDA, bytes([1, 1, 0x00, 0, 0, 0x10])) + bw3.done()

    jpeg = (b"\xff\xd8" + dqt + dht + sof + sos1 + sos2 + sos3
            + b"\xff\xd9")

    # ---- minimal single-strip new-style (Compression=7) TIFF ----
    data = jpeg + (b"\0" if len(jpeg) % 2 else b"")
    entries = [
        (256, 4, cols), (257, 4, rows), (258, 3, 8), (259, 3, 7),
        (262, 3, 1), (273, 4, 8), (277, 3, 1), (278, 4, rows),
        (279, 4, len(jpeg)), (284, 3, 1), (339, 3, 1),
    ]
    ifd_offset = 8 + len(data)
    ifd = _s.pack("<H", len(entries))
    for tag, typ, val in entries:
        ifd += _s.pack("<HHI", tag, typ, 1) + _s.pack("<I", val)
    ifd += _s.pack("<I", 0)
    tiff = _s.pack("<2sHI", b"II", 42, ifd_offset) + data + ifd
    return tiff, rows, cols


def _gate_tiff_query(spark, name: str, tiff: bytes, cols: int):
    """Route a codec-gate fixture through the DISTRIBUTED ingest path
    (r13, VERDICT r12 #5): write the TIFF under the repo scratch dir
    (stable path, atomic overwrite — the returned plan stays lazily
    scannable when the driver later collects it) and read it back with
    ``geotiff.get``, so the green row certifies the executor
    mapInPandas Arrow decode, not a driver-side ``decode_geotiff``."""
    import os

    from ..sources import geotiff as gt

    scratch = os.path.join(os.path.dirname(os.path.dirname(
        os.path.dirname(os.path.abspath(__file__)))), ".scratch", "jpeg_gates")
    os.makedirs(scratch, exist_ok=True)
    path = os.path.join(scratch, name)
    tmp = f"{path}.tmp.{os.getpid()}"
    with open(tmp, "wb") as f:
        f.write(tiff)
    os.replace(tmp, path)
    df = gt.get(spark, path, max_tile_size=128)  # one window: whole image
    return df.select(F.posexplode("cells").alias("pos", "value")).select(
        F.floor(F.col("pos") / cols).cast("int").alias("row"),
        (F.col("pos") % cols).cast("int").alias("col"),
        F.col("value"),
    )


def q_raster_geotiff_jpeg_progressive(spark, sf_dir):
    """Progressive JPEG-in-TIFF decode under the gate (r11, VERDICT r10
    #2): a multi-scan SOF2 stream (DC first + cross-block AC EOB runs +
    DC refinement) wrapped in a Compression=7 TIFF, decoded by the
    from-scratch codec (sources/jpeg_codec.py) — in the EXECUTORS, via
    the geotiff.get mapInPandas path (r13, VERDICT r12 #5).
    Block-constant DC-only content makes the decode exact, so DuckDB
    recomputes the pixel grid arithmetically. Reference reads this
    class via geotrellis-raster's TIFF decoder
    (io/geotiff/GeoTiffRDD.scala:96-164)."""
    tiff, rows, cols = _progressive_jpeg_tiff_fixture()
    return _gate_tiff_query(spark, "progressive.tif", tiff, cols)


SQL_RASTER_GEOTIFF_JPEG_PROGRESSIVE = """
WITH coords AS (
  SELECT CAST(r.range AS INT) AS row, CAST(c.range AS INT) AS col
  FROM range(77) r, range(91) c
)
SELECT row, col,
       CAST((37 * (row // 8) + 23 * (col // 8) + (row // 8) * (col // 8))
            % 200 + 28 AS DOUBLE) AS value
FROM coords
"""


def _arith_jpeg_tiff_fixture() -> tuple[bytes, int, int]:
    """Deterministic ARITHMETIC-coded (SOF9) JPEG-in-TIFF fixture (r12,
    VERDICT r11 #5), exact-decodable like the progressive fixture:
    block-constant pixels, all-zero ACs, DC quantizer 8. The entropy
    layer is a self-contained big-integer QM encoder (T.81 Annex D
    interval semantics against the codec's public state table) —
    independent of the codec's incremental 32-bit decoder, so the gate
    pins the coder logic end-to-end through the TIFF path. Content: the
    DC walk exercises adaptive statistics, conditioning contexts, sign
    coding, magnitude chains, and byte stuffing."""
    import struct as _s

    from ..sources.jpeg_codec import _QM, _Stats

    rows, cols = 77, 91
    bh, bw = (rows + 7) // 8, (cols + 7) // 8

    def blockval(br, bc):
        return (41 * br + 29 * bc + br * bc) % 200 + 25

    class Enc:
        def __init__(self):
            self.low, self.a, self.shifts = 0, 0x8000, 0

        def encode(self, st, i, d):
            qe, nmps, nlps, sw = _QM[st.s[i]]
            ar = self.a - qe
            if d == st.m[i]:
                if ar & 0x8000:
                    self.low += qe
                    self.a = ar
                    return
                if ar < qe:
                    self.a = qe
                else:
                    self.low += qe
                    self.a = ar
                st.s[i] = nmps
            else:
                if ar < qe:
                    self.low += qe
                    self.a = ar
                else:
                    self.a = qe
                if sw:
                    st.m[i] ^= 1
                st.s[i] = nlps
            while self.a < 0x8000:
                self.a <<= 1
                self.low <<= 1
                self.shifts += 1

        def finish(self):
            nbits = 15 + self.shifts
            bits = format(self.low, f"0{nbits}b")
            out = bytearray()
            pos, width = 0, 8
            while pos < len(bits):
                out.append(int(bits[pos:pos + width].ljust(width, "0"), 2))
                pos += width
                width = 7 if out[-1] == 0xFF else 8
            if out and out[-1] == 0xFF:
                out.append(0x00)
            return bytes(out)

    enc = Enc()
    dc = _Stats(64)
    ac = _Stats(256)
    ctx, pred = 0, 0
    for bi in range(bh * bw):
        br_, bc_ = divmod(bi, bw)
        v = blockval(br_, bc_) - 128
        diff = v - pred
        pred = v
        # DC walk (T.81 F.1.4.1, default conditioning L=0 U=1)
        i = ctx
        if diff == 0:
            enc.encode(dc, i, 0)
            ctx = 0
        else:
            enc.encode(dc, i, 1)
            sign = 1 if diff < 0 else 0
            enc.encode(dc, i + 1, sign)
            i += 2 + sign
            t = abs(diff) - 1
            if t == 0:
                enc.encode(dc, i, 0)
                m = 0
            else:
                enc.encode(dc, i, 1)
                m, i = 1, 20
                while t >= (m << 1):
                    enc.encode(dc, i, 1)
                    m <<= 1
                    i += 1
                enc.encode(dc, i, 0)
            # default conditioning L=0, U=1: m>1 -> large, else small
            ctx = 12 + 4 * sign if m > 1 else 4 + 4 * sign
            i += 14
            mm = m >> 1
            while mm:
                enc.encode(dc, i, 1 if (t & mm) else 0)
                mm >>= 1
        enc.encode(ac, 0, 1)                  # immediate EOB (all-zero ACs)
    scan = enc.finish()

    def seg(marker, payload):
        return bytes([0xFF, marker]) + _s.pack(">H", len(payload) + 2) + payload

    dqt = seg(0xDB, bytes([0x00, 8]) + bytes([1] * 63))
    sof = seg(0xC9, bytes([8]) + _s.pack(">HH", rows, cols)
              + bytes([1, 1, 0x11, 0]))
    sos = seg(0xDA, bytes([1, 1, 0x00, 0, 63, 0x00]))
    jpeg = b"\xff\xd8" + dqt + sof + sos + scan + b"\xff\xd9"

    data = jpeg + (b"\0" if len(jpeg) % 2 else b"")
    entries = [
        (256, 4, cols), (257, 4, rows), (258, 3, 8), (259, 3, 7),
        (262, 3, 1), (273, 4, 8), (277, 3, 1), (278, 4, rows),
        (279, 4, len(jpeg)), (284, 3, 1), (339, 3, 1),
    ]
    ifd_offset = 8 + len(data)
    ifd = _s.pack("<H", len(entries))
    for tag, typ, val in entries:
        ifd += _s.pack("<HHI", tag, typ, 1) + _s.pack("<I", val)
    ifd += _s.pack("<I", 0)
    tiff = _s.pack("<2sHI", b"II", 42, ifd_offset) + data + ifd
    return tiff, rows, cols


def q_raster_geotiff_jpeg_arithmetic(spark, sf_dir):
    """Arithmetic-coded (SOF9) JPEG-in-TIFF decode under the gate (r12,
    VERDICT r11 #5): a QM-coded stream from an independent big-int
    interval encoder, wrapped in a Compression=7 TIFF, decoded by the
    from-scratch codec. Block-constant DC-only content makes the decode
    exact, so DuckDB recomputes the pixel grid arithmetically.
    Decoded in the EXECUTORS via the geotiff.get mapInPandas path
    (r13, VERDICT r12 #5). Reference reads this class via
    geotrellis-raster's TIFF decoder (io/geotiff/GeoTiffRDD.scala:96-164)."""
    tiff, rows, cols = _arith_jpeg_tiff_fixture()
    return _gate_tiff_query(spark, "arithmetic.tif", tiff, cols)


SQL_RASTER_GEOTIFF_JPEG_ARITHMETIC = """
WITH coords AS (
  SELECT CAST(r.range AS INT) AS row, CAST(c.range AS INT) AS col
  FROM range(77) r, range(91) c
)
SELECT row, col,
       CAST((41 * (row // 8) + 29 * (col // 8) + (row // 8) * (col // 8))
            % 200 + 25 AS DOUBLE) AS value
FROM coords
"""


def _lossless_jpeg_tiff_fixture() -> tuple[bytes, int, int]:
    """Deterministic LOSSLESS (SOF3) JPEG-in-TIFF fixture (r12): T.81
    Annex H prediction differences through a canonical huffman table.
    Lossless decode is exact BY CONSTRUCTION, so the content can be an
    arbitrary closed-form grid (no block-constant restriction) and the
    oracle recomputes it arithmetically. Inline self-contained encoder
    (predictor 4 = a + b - c, the Annex H default recommendation)."""
    import struct as _s

    rows, cols = 77, 91

    def val(r, c):
        return (7 * r + 11 * c + (r * c) % 13) % 256

    # canonical huffman: SSSS 0..16 as 16 codes of 5 bits + 1 of 6
    counts = [0, 0, 0, 0, 16, 1] + [0] * 10
    values = list(range(17))
    codes = {}
    code = k = 0
    for length in range(1, 17):
        for _ in range(counts[length - 1]):
            codes[values[k]] = (code, length)
            code += 1
            k += 1
        code <<= 1

    out = bytearray()
    acc = n = 0

    def put(c, ln):
        nonlocal acc, n
        for i in range(ln - 1, -1, -1):
            acc = (acc << 1) | ((c >> i) & 1)
            n += 1
            if n == 8:
                out.append(acc)
                if acc == 0xFF:
                    out.append(0x00)
                acc = n = 0

    default = 128
    for r in range(rows):
        for c in range(cols):
            if r == 0 and c == 0:
                pred = default
            elif r == 0:
                pred = val(r, c - 1)
            elif c == 0:
                pred = val(r - 1, c)
            else:
                pred = val(r, c - 1) + val(r - 1, c) - val(r - 1, c - 1)
            d = (val(r, c) - pred) & 0xFFFF
            if d >= 32768:
                d -= 65536
            if d in (32768, -32768):
                put(*codes[16])
            else:
                size = abs(d).bit_length()
                put(*codes[size])
                if size:
                    bits = d if d > 0 else d + (1 << size) - 1
                    put(bits, size)
    while n:
        put(1, 1)

    def seg(marker, payload):
        return bytes([0xFF, marker]) + _s.pack(">H", len(payload) + 2) + payload

    dht = seg(0xC4, bytes([0x00]) + bytes(counts) + bytes(values))
    sof = seg(0xC3, bytes([8]) + _s.pack(">HH", rows, cols)
              + bytes([1, 1, 0x11, 0]))
    sos = seg(0xDA, bytes([1, 1, 0x00, 4, 0, 0x00]))  # predictor 4, Pt 0
    jpeg = b"\xff\xd8" + dht + sof + sos + bytes(out) + b"\xff\xd9"

    data = jpeg + (b"\0" if len(jpeg) % 2 else b"")
    entries = [
        (256, 4, cols), (257, 4, rows), (258, 3, 8), (259, 3, 7),
        (262, 3, 1), (273, 4, 8), (277, 3, 1), (278, 4, rows),
        (279, 4, len(jpeg)), (284, 3, 1), (339, 3, 1),
    ]
    ifd_offset = 8 + len(data)
    ifd = _s.pack("<H", len(entries))
    for tag, typ, v in entries:
        ifd += _s.pack("<HHI", tag, typ, 1) + _s.pack("<I", v)
    ifd += _s.pack("<I", 0)
    tiff = _s.pack("<2sHI", b"II", 42, ifd_offset) + data + ifd
    return tiff, rows, cols


def q_raster_geotiff_jpeg_lossless(spark, sf_dir):
    """Lossless (SOF3) JPEG-in-TIFF decode under the gate (r12):
    Annex-H predictive coding wrapped in a Compression=7 TIFF, decoded
    by the from-scratch codec. Decode is exact by construction, so the
    oracle recomputes the arbitrary closed-form grid arithmetically.
    Decoded in the EXECUTORS via the geotiff.get mapInPandas path
    (r13, VERDICT r12 #5). Reference reads this class via
    geotrellis-raster's TIFF decoder (io/geotiff/GeoTiffRDD.scala:96-164)."""
    tiff, rows, cols = _lossless_jpeg_tiff_fixture()
    return _gate_tiff_query(spark, "lossless.tif", tiff, cols)


SQL_RASTER_GEOTIFF_JPEG_LOSSLESS = """
WITH coords AS (
  SELECT CAST(r.range AS INT) AS row, CAST(c.range AS INT) AS col
  FROM range(77) r, range(91) c
)
SELECT row, col,
       CAST((7 * row + 11 * col + (row * col) % 13) % 256 AS DOUBLE) AS value
FROM coords
"""
SQL_RASTER_CONTOUR = lambda: _sql_contour()


def q_raster_contour(spark, sf_dir):
    """Marching-squares contour extraction (r11, parity breadth like the
    hydrology trio — gdal_contour / GeoTrellis vectorize family): iso
    segments at two non-integer levels over the lineitem raster, pure
    Catalyst (one square shuffle), bit-exact against the identical
    interpolation arithmetic in DuckDB."""
    from ..operators.contour import contour

    layer = lineitem_layer(spark, sf_dir)
    return contour(layer, [10.5, 25.5])


def _sql_contour(levels=(10.5, 25.5)) -> str:
    lv = ", ".join(str(float(l)) for l in levels)
    return CELLS_CTE + f""",
sq AS (
  SELECT CAST(a.gcol AS BIGINT) AS sq_c, CAST(a.grow AS BIGINT) AS sq_r,
         a.value AS v0, b.value AS v1, c2.value AS v2, d.value AS v3
  FROM coords a
  JOIN coords b ON b.gcol = a.gcol + 1 AND b.grow = a.grow
  JOIN coords c2 ON c2.gcol = a.gcol + 1 AND c2.grow = a.grow + 1
  JOIN coords d ON d.gcol = a.gcol AND d.grow = a.grow + 1
),
sqlv AS (
  SELECT *,
         CAST(v0 >= level AS INT) + 2 * CAST(v1 >= level AS INT)
         + 4 * CAST(v2 >= level AS INT) + 8 * CAST(v3 >= level AS INT) AS cs,
         ((v0 + v1 + v2 + v3) / 4 >= level) AS hi
  FROM sq CROSS JOIN (SELECT CAST(unnest([{lv}]) AS DOUBLE) AS level)
),
cases(cs, hi_req, seg, ea, eb) AS (VALUES
  (1, NULL, 0, 0, 3), (2, NULL, 0, 0, 1), (3, NULL, 0, 3, 1),
  (4, NULL, 0, 1, 2), (6, NULL, 0, 0, 2), (7, NULL, 0, 3, 2),
  (8, NULL, 0, 3, 2), (9, NULL, 0, 0, 2), (11, NULL, 0, 1, 2),
  (12, NULL, 0, 3, 1), (13, NULL, 0, 0, 1), (14, NULL, 0, 0, 3),
  (5, true, 0, 0, 1), (5, true, 1, 2, 3),
  (5, false, 0, 0, 3), (5, false, 1, 1, 2),
  (10, true, 0, 0, 3), (10, true, 1, 1, 2),
  (10, false, 0, 0, 1), (10, false, 1, 2, 3)),
segs AS (
  SELECT s.level, s.sq_c, s.sq_r, c.seg,
         CASE c.ea WHEN 0 THEN CAST(s.sq_c AS DOUBLE) + (s.level - s.v0) / (s.v1 - s.v0)
                   WHEN 1 THEN CAST(s.sq_c AS DOUBLE) + 1
                   WHEN 2 THEN CAST(s.sq_c AS DOUBLE) + (s.level - s.v3) / (s.v2 - s.v3)
                   ELSE CAST(s.sq_c AS DOUBLE) END AS gx1,
         CASE c.ea WHEN 0 THEN CAST(s.sq_r AS DOUBLE)
                   WHEN 1 THEN CAST(s.sq_r AS DOUBLE) + (s.level - s.v1) / (s.v2 - s.v1)
                   WHEN 2 THEN CAST(s.sq_r AS DOUBLE) + 1
                   ELSE CAST(s.sq_r AS DOUBLE) + (s.level - s.v0) / (s.v3 - s.v0) END AS gy1,
         CASE c.eb WHEN 0 THEN CAST(s.sq_c AS DOUBLE) + (s.level - s.v0) / (s.v1 - s.v0)
                   WHEN 1 THEN CAST(s.sq_c AS DOUBLE) + 1
                   WHEN 2 THEN CAST(s.sq_c AS DOUBLE) + (s.level - s.v3) / (s.v2 - s.v3)
                   ELSE CAST(s.sq_c AS DOUBLE) END AS gx2,
         CASE c.eb WHEN 0 THEN CAST(s.sq_r AS DOUBLE)
                   WHEN 1 THEN CAST(s.sq_r AS DOUBLE) + (s.level - s.v1) / (s.v2 - s.v1)
                   WHEN 2 THEN CAST(s.sq_r AS DOUBLE) + 1
                   ELSE CAST(s.sq_r AS DOUBLE) + (s.level - s.v0) / (s.v3 - s.v0) END AS gy2
  FROM sqlv s JOIN cases c ON c.cs = s.cs
                          AND (c.hi_req IS NULL OR c.hi_req = s.hi)
)
SELECT CAST(level AS DOUBLE) AS level, CAST(sq_c AS INT) AS sq_c, CAST(sq_r AS INT) AS sq_r, seg,
       0.0 + (gx1 + 0.5) * 1.0 AS x1, {float(GRID)} - (gy1 + 0.5) * 1.0 AS y1,
       0.0 + (gx2 + 0.5) * 1.0 AS x2, {float(GRID)} - (gy2 + 0.5) * 1.0 AS y2
FROM segs
"""


def q_raster_zindex_temporal(spark, sf_dir):
    """Z3 Morton index (col, row, day bucket) — the spacetime catalog sort
    key — vs the same 21-bit spreads in SQL."""
    from ..core.zindex import z3_col

    layer = _spacetime_layer(spark, sf_dir)
    keys = layer.df.select("key_col", "key_row", "instant").distinct()
    day = (F.unix_millis(F.col("instant")) / 86_400_000).cast("long")
    return keys.select(
        "key_col", "key_row",
        F.col("instant").cast("date").alias("day"),
        z3_col("key_col", "key_row", day),
    )


SQL_RASTER_ZINDEX_TEMPORAL = lambda: _sql_zindex_temporal()


def _sql_spread2(col: str) -> str:
    n = f"CAST({col} AS BIGINT) & 2097151"
    masks = [
        (32, 0x1F00000000FFFF), (16, 0x1F0000FF0000FF),
        (8, 0x100F00F00F00F00F), (4, 0x10C30C30C30C30C3),
        (2, 0x1249249249249249),
    ]
    for shift, mask in masks:
        n = f"(({n}) | (({n}) << {shift})) & {mask}"
    return n


def _sql_zindex_temporal() -> str:
    day_expr = "CAST(floor(epoch_ms(instant) / 86400000) AS BIGINT)"
    return f"""
WITH tk AS (
  SELECT DISTINCT CAST(l_orderkey % {LAYOUT_N} AS INT) AS key_col,
                  CAST(l_suppkey % {LAYOUT_N} AS INT) AS key_row,
                  date_trunc('month', l_shipdate) AS instant
  FROM lineitem
  WHERE l_shipdate >= TIMESTAMP '1995-01-01' AND l_shipdate < TIMESTAMP '1996-01-01'
)
SELECT key_col, key_row, CAST(instant AS DATE) AS day,
       ({_sql_spread2('key_col')}) |
       (({_sql_spread2('key_row')}) << 1) |
       (({_sql_spread2(day_expr)}) << 2) AS zindex
FROM tk
"""


def q_raster_catalog_roundtrip(spark, sf_dir):
    """Catalog write -> read under the gate: the z-sorted parquet layer
    round-trips bit-exactly (scratch dir inside the repo, cleaned up)."""
    import shutil
    import tempfile

    from ..sources import catalog as cat

    import os

    layer = lineitem_layer(spark, sf_dir)
    scratch = os.path.join(os.path.dirname(os.path.dirname(
        os.path.dirname(os.path.abspath(__file__)))), ".scratch")
    os.makedirs(scratch, exist_ok=True)
    uri = tempfile.mkdtemp(prefix="catalog_rt_", dir=scratch)
    try:
        cat.write(uri, "rt", layer, zoom=0)
        back = cat.read(spark, uri, "rt", 0)
        long = back.explode().where(~_is_nd(F.col("value"), layer.nodata))
        # materialize before the scratch dir disappears
        rows = long.select("key_col", "key_row", "pos", "value").collect()
    finally:
        shutil.rmtree(uri, ignore_errors=True)
    return spark.createDataFrame(rows, "key_col int, key_row int, pos int, value double")


SQL_RASTER_CATALOG_ROUNDTRIP = CELLS_CTE + """
SELECT key_col, key_row, pos, value FROM coords
"""


def q_raster_catalog_s3_roundtrip(spark, sf_dir):
    """Object-store catalog commit protocol under the gate (r13,
    VERDICT r12 #1): write the layer to an s3:// URI against the
    in-package loopback S3 stub — create-only conditional-PUT version
    claim, ETag compare-and-swap manifest — then read it back through
    the manifest-resolved immutable version cache. A broken claim,
    manifest swap, upload, or cache path hash-fails against the same
    closed-form oracle as the POSIX roundtrip.

    r13: the parquet parts ship via the streaming MULTIPART path
    (threshold forced below the part sizes), so the gate certifies
    Initiate/UploadPart/Complete end-to-end — the 100 TB upload path —
    not just single-shot PUT; the asserts pin that multipart actually
    ran and left nothing in flight."""
    import os
    import shutil
    import tempfile

    from ..sources import catalog as cat
    from ..sources import objectstore as obs
    from ..sources.s3stub import start_stub

    layer = lineitem_layer(spark, sf_dir)
    srv = start_stub()
    saved = {k: os.environ.get(k)
             for k in ("AWS_ENDPOINT_URL", "GEOPYSPARK_OBJCAT_CACHE")}
    saved_mp = (obs._MULTIPART_THRESHOLD, obs._MULTIPART_PART_SIZE)
    cache = tempfile.mkdtemp(prefix="objcat_gate_")
    os.environ["AWS_ENDPOINT_URL"] = srv.endpoint
    os.environ["GEOPYSPARK_OBJCAT_CACHE"] = cache
    obs._MULTIPART_THRESHOLD, obs._MULTIPART_PART_SIZE = 1024, 8192
    try:
        cat.write("s3://gate/cat", "rt", layer, zoom=0)
        assert srv.objects["gate/cat/rt/0/MANIFEST"] == b"v1"
        assert any(m == "POST" for m, _, _ in srv.requests), \
            "multipart upload did not run"
        assert srv.uploads == {}, "multipart upload left in-flight parts"
        back = cat.read(spark, "s3://gate/cat", "rt", 0)
        long = back.explode().where(~_is_nd(F.col("value"), layer.nodata))
        # materialize before the stub and cache disappear
        rows = long.select("key_col", "key_row", "pos", "value").collect()
    finally:
        obs._MULTIPART_THRESHOLD, obs._MULTIPART_PART_SIZE = saved_mp
        for k, v in saved.items():
            if v is None:
                os.environ.pop(k, None)
            else:
                os.environ[k] = v
        srv.shutdown()
        shutil.rmtree(cache, ignore_errors=True)
    return spark.createDataFrame(rows, "key_col int, key_row int, pos int, value double")


SQL_RASTER_CATALOG_S3_ROUNDTRIP = SQL_RASTER_CATALOG_ROUNDTRIP


def q_raster_catalog_time_travel(spark, sf_dir):
    """Catalog time travel under the gate (r13): two commits to the same
    layer-zoom, then a ``version=`` read of the SUPERSEDED commit next
    to the current one — the Delta/Iceberg snapshot-read pattern on this
    catalog's pointer-file protocol (version dirs are immutable once
    claimed; GC defers one commit, so v1 is readable until the third
    write without pinning). A read that resolves the wrong version dir,
    a GC that sweeps prev early, or a list/current accounting bug all
    hash-fail: v1 cells must carry the ORIGINAL values while v2 carries
    the +100 rewrite."""
    import shutil
    import tempfile

    from ..sources import catalog as cat

    layer = lineitem_layer(spark, sf_dir)
    uri = tempfile.mkdtemp(prefix="catalog_tt_", dir=_scratch_dir())
    try:
        cat.write(uri, "tt", layer, zoom=0)
        cat.write(uri, "tt", layer + 100.0, zoom=0)
        assert cat.list_versions(uri, "tt", 0) == ["v1", "v2"]
        assert cat.current_version(uri, "tt", 0) == "v2"
        rows = []
        for v in ("v1", "v2"):
            back = cat.read(spark, uri, "tt", 0, version=v)
            long = back.explode().where(~_is_nd(F.col("value"), layer.nodata))
            rows.extend(
                (v, r["key_col"], r["key_row"], r["pos"], r["value"])
                for r in long.select("key_col", "key_row", "pos",
                                     "value").collect()
            )
    finally:
        shutil.rmtree(uri, ignore_errors=True)
    return spark.createDataFrame(
        rows, "version string, key_col int, key_row int, pos int, value double"
    )


SQL_RASTER_CATALOG_TIME_TRAVEL = CELLS_CTE + """
SELECT v.version, key_col, key_row, pos,
       CASE WHEN v.version = 'v2' THEN value + 100 ELSE value END AS value
FROM coords, (SELECT 'v1' AS version UNION ALL SELECT 'v2' AS version) v
"""


def q_raster_catalog_diff(spark, sf_dir):
    """Tile-level version diff — the raster CDC primitive (r13): v1
    drops the key_row=3 tiles, v2 drops key_row=2 and rewrites the
    key_col=0 column (+100 per cell); ``diff_versions`` must classify
    every key exactly — key_row=3 'added', key_row=2 'removed',
    remaining key_col=0 'changed', everything else 'unchanged' (the
    NaN-tolerant whole-array compare). An incremental-sync consumer
    re-renders exactly the non-'unchanged' set instead of the layer."""
    import shutil
    import tempfile

    from ..sources import catalog as cat

    layer = lineitem_layer(spark, sf_dir)
    v1 = TiledRasterLayer(
        layer.df.where(F.col("key_row") != 3), layer.metadata)
    mod = layer.df.withColumn(
        "cells",
        F.when(F.col("key_col") == 0,
               F.transform("cells", lambda x: x + F.lit(100.0)))
        .otherwise(F.col("cells")),
    )
    v2 = TiledRasterLayer(mod.where(F.col("key_row") != 2), layer.metadata)
    uri = tempfile.mkdtemp(prefix="catalog_diff_", dir=_scratch_dir())
    try:
        cat.write(uri, "d", v1, zoom=0)
        cat.write(uri, "d", v2, zoom=0)
        rows = cat.diff_versions(spark, uri, "d", 0, "v1").select(
            "key_col", "key_row", "band", "status").collect()
    finally:
        shutil.rmtree(uri, ignore_errors=True)
    return spark.createDataFrame(
        rows, "key_col int, key_row int, band int, status string")


SQL_RASTER_CATALOG_DIFF = CELLS_CTE + """
SELECT key_col, key_row, band,
       CASE WHEN key_row = 3 THEN 'added'
            WHEN key_row = 2 THEN 'removed'
            WHEN key_col = 0 THEN 'changed'
            ELSE 'unchanged' END AS status
FROM (SELECT DISTINCT key_col, key_row, band FROM cells)
"""


def q_raster_catalog_restore(spark, sf_dir):
    """Rollback under the gate (r13): good commit (v1), bad commit
    (v2, +100 everywhere), then ``restore(v1)`` — which must copy v1's
    data forward into a NEW committed version (v3) through the normal
    claim + publish protocol (history is never rewritten: v2 stays
    readable as prev). The read-back must be bit-identical to the
    ORIGINAL layer — the same closed-form oracle as the roundtrip."""
    import shutil
    import tempfile

    from ..sources import catalog as cat

    layer = lineitem_layer(spark, sf_dir)
    uri = tempfile.mkdtemp(prefix="catalog_rs_", dir=_scratch_dir())
    try:
        cat.write(uri, "rs", layer, zoom=0)
        cat.write(uri, "rs", layer + 100.0, zoom=0)
        vpath = cat.restore(uri, "rs", 0, "v1")
        assert vpath.endswith("v3")
        assert cat.current_version(uri, "rs", 0) == "v3"
        back = cat.read(spark, uri, "rs", 0)
        long = back.explode().where(~_is_nd(F.col("value"), layer.nodata))
        rows = long.select("key_col", "key_row", "pos", "value").collect()
    finally:
        shutil.rmtree(uri, ignore_errors=True)
    return spark.createDataFrame(
        rows, "key_col int, key_row int, pos int, value double")


SQL_RASTER_CATALOG_RESTORE = CELLS_CTE + """
SELECT key_col, key_row, pos, value FROM coords
"""


def q_raster_catalog_query(spark, sf_dir):
    """catalog.query spatial predicate pushdown under the gate (round
    6): write the z-sorted layer, query it back with a polygon strictly
    inside tiles (1..2, 1..2) — the driver-resolved key predicate must
    prune the scan to exactly those four tiles."""
    import os
    import shutil
    import tempfile

    from ..sources import catalog as cat

    layer = lineitem_layer(spark, sf_dir)
    scratch = os.path.join(os.path.dirname(os.path.dirname(
        os.path.dirname(os.path.abspath(__file__)))), ".scratch")
    os.makedirs(scratch, exist_ok=True)
    uri = tempfile.mkdtemp(prefix="catalog_q_", dir=scratch)
    try:
        cat.write(uri, "cq", layer, zoom=0)
        # box strictly inside the 8-unit tiles at cols/rows 1..2
        sub = cat.query(spark, uri, "cq", 0, query_geom=gps.box(9, 9, 23, 23))
        long = sub.explode().where(~_is_nd(F.col("value"), layer.nodata))
        rows = long.select("key_col", "key_row", "pos", "value").collect()
    finally:
        shutil.rmtree(uri, ignore_errors=True)
    return spark.createDataFrame(rows, "key_col int, key_row int, pos int, value double")


SQL_RASTER_CATALOG_QUERY = CELLS_CTE + """
SELECT key_col, key_row, pos, value FROM coords
WHERE key_col IN (1, 2) AND key_row IN (1, 2)
"""


def q_raster_catalog_query_big(spark, sf_dir):
    """The LARGE-AOI spatial query path under the gate (r13): the same
    polygon and catalog as ``raster_catalog_query``, but with
    ``exact_key_limit=1`` forcing the scalable plan — the driver emits
    only O(1) envelope bounds (still pushed to the scan) and the exact
    tile-intersects-geometry test runs executor-side as one
    Arrow-batched filter. At a continent-at-zoom-18 scale the exact
    path's driver key enumeration is an OOM; this gate pins that the
    distributed filter selects EXACTLY the same tiles (same oracle)."""
    import os
    import shutil
    import tempfile

    from ..sources import catalog as cat

    layer = lineitem_layer(spark, sf_dir)
    uri = tempfile.mkdtemp(prefix="catalog_qb_", dir=_scratch_dir())
    try:
        cat.write(uri, "cqb", layer, zoom=0)
        sub = cat.query(spark, uri, "cqb", 0,
                        query_geom=gps.box(9, 9, 23, 23), exact_key_limit=1)
        long = sub.explode().where(~_is_nd(F.col("value"), layer.nodata))
        rows = long.select("key_col", "key_row", "pos", "value").collect()
    finally:
        shutil.rmtree(uri, ignore_errors=True)
    return spark.createDataFrame(
        rows, "key_col int, key_row int, pos int, value double")


SQL_RASTER_CATALOG_QUERY_BIG = SQL_RASTER_CATALOG_QUERY


def q_raster_windowed_source(spark, sf_dir):
    """rasterio.get windowed-source plumbing under the gate: a synthetic
    2-band 48x48 raster read through ``geotiff.get`` with an injected
    sizer/decoder pair whose cells follow a closed formula
    (value = (global_row*48 + global_col) * (band+1)), max_tile_size=20
    (so plan_windows emits ragged 20/20/8 edges). The oracle regenerates
    every window, its georeferenced extent, and every cell from the same
    formula relationally — gating the window decomposition, extent math,
    band fan-out, and the mapInPandas decode batch shape. Reference:
    geopyspark/geotrellis/rasterio.py:39-110 and the maxTileSize windowed
    reads of io/geotiff/GeoTiffRDD.scala:107-129."""
    from ..sources import geotiff as gt

    W = H = 48

    def sizer(path):
        return W, H, gps.Extent(0.0, 0.0, float(W), float(H)), 2

    def decoder(path, window, band):
        c0, r0, w, h = window
        gr = np.arange(r0, r0 + h)[:, None]
        gc = np.arange(c0, c0 + w)[None, :]
        return ((gr * W + gc) * (band + 1)).astype(np.float64)

    df = gt.get(spark, "synthetic://w48.tif", max_tile_size=20,
                sizer=sizer, decoder=decoder)
    return df.select(
        F.col("xmin").alias("wxmin"), F.col("ymin").alias("wymin"),
        F.col("xmax").alias("wxmax"), F.col("ymax").alias("wymax"),
        "band", F.col("rows").alias("win_rows"), F.col("cols").alias("win_cols"),
        F.posexplode("cells").alias("pos", "value"),
    )


SQL_RASTER_WINDOWED_SOURCE = """
WITH win AS (
  SELECT CAST(ci.i * 20 AS INT) AS c0, CAST(ri.i * 20 AS INT) AS r0,
         CAST(least(20, 48 - ci.i * 20) AS INT) AS w,
         CAST(least(20, 48 - ri.i * 20) AS INT) AS h
  FROM range(3) ci(i), range(3) ri(i)
),
wb AS (SELECT win.*, CAST(b.b AS INT) AS band FROM win, range(2) b(b))
SELECT CAST(c0 AS DOUBLE) AS wxmin,
       CAST(48 - (r0 + h) AS DOUBLE) AS wymin,
       CAST(c0 + w AS DOUBLE) AS wxmax,
       CAST(48 - r0 AS DOUBLE) AS wymax,
       band, h AS win_rows, w AS win_cols,
       CAST(p.p AS INT) AS pos,
       CAST(((r0 + p.p // w) * 48 + (c0 + p.p % w)) * (band + 1) AS DOUBLE) AS value
FROM wb, range(400) p(p)
WHERE p.p < w * h
"""


def q_raster_attribute_store(spark, sf_dir):
    """AttributeStore CRUD + read_layer_metadata under the gate: write a
    layer, exercise write/read/contains/list/delete on its JSON
    attributes, then read the metadata sidecar back; the observed trace
    (one row per step) must equal the oracle's expected-literal table.
    Reference: geopyspark/geotrellis/catalog.py:23-39
    (read_layer_metadata) and 332-485 (AttributeStore)."""
    import os
    import shutil
    import tempfile

    from ..sources import catalog as cat

    layer = lineitem_layer(spark, sf_dir)
    scratch = os.path.join(os.path.dirname(os.path.dirname(
        os.path.dirname(os.path.abspath(__file__)))), ".scratch")
    os.makedirs(scratch, exist_ok=True)
    uri = tempfile.mkdtemp(prefix="attrs_", dir=scratch)
    try:
        cat.write(uri, "al", layer, zoom=0)
        store = cat.AttributeStore(uri)
        store.write("al", 0, "histogram", {"bins": [1, 2, 3]})
        store.write("al", 0, "color_ramp", ["#000000", "#ffffff"])
        obs = [
            ("contains_histogram", str(store.contains("al", 0, "histogram")).lower()),
            ("list_initial", ",".join(store.list("al", 0))),
            ("read_histogram_bins",
             ",".join(str(v) for v in store.read("al", 0, "histogram")["bins"])),
        ]
        store.delete("al", 0, "color_ramp")
        obs += [
            ("contains_deleted", str(store.contains("al", 0, "color_ramp")).lower()),
            ("list_after_delete", ",".join(store.list("al", 0))),
            ("layers", ";".join(f"{n}:{z}" for n, z in store.layers())),
        ]
        md = cat.read_layer_metadata(uri, "al", 0)
        tl = md.layout.tile_layout
        obs += [
            ("md_crs", md.crs),
            ("md_cell_type", md.cell_type),
            ("md_layout",
             f"{tl.layout_cols}x{tl.layout_rows}x{tl.tile_cols}x{tl.tile_rows}"),
            ("md_extent",
             f"{md.extent.xmin:.0f},{md.extent.ymin:.0f},"
             f"{md.extent.xmax:.0f},{md.extent.ymax:.0f}"),
            ("md_bands", str(md.num_bands)),
        ]
    finally:
        shutil.rmtree(uri, ignore_errors=True)
    return spark.createDataFrame(obs, "step string, observed string")


SQL_RASTER_ATTRIBUTE_STORE = f"""
SELECT * FROM (VALUES
  ('contains_histogram', 'true'),
  ('list_initial', 'color_ramp,histogram'),
  ('read_histogram_bins', '1,2,3'),
  ('contains_deleted', 'false'),
  ('list_after_delete', 'histogram'),
  ('layers', 'al:0'),
  ('md_crs', 'epsg:4326'),
  ('md_cell_type', 'float64ud-1.0'),
  ('md_layout', '{LAYOUT_N}x{LAYOUT_N}x{TILE}x{TILE}'),
  ('md_extent', '0,0,{GRID},{GRID}'),
  ('md_bands', '1')
) t(step, observed)
"""


def q_raster_convert_int8(spark, sf_dir):
    """convert_data_type with clamping under the gate: value*3 reaches 150,
    so int8 conversion clamps at 127; the old -1.0 sentinel rewrites to
    int8's default -128."""
    layer = lineitem_layer(spark, sf_dir) * 3
    out = layer.convert_data_type("int8")
    return out.explode().select("key_col", "key_row", "pos", "value")


SQL_RASTER_CONVERT_INT8 = CELLS_CTE + """
SELECT key_col, key_row, pos,
       CASE WHEN value = -1.0 THEN -128.0
            ELSE LEAST(GREATEST(round(value * 3.0, 0), -128.0), 127.0)
       END AS value
FROM coords
"""


def q_raster_lookup(spark, sf_dir):
    """lookup(key) — the driver-side single-tile fetch, exposed as the
    tile's exploded cells so the oracle can re-derive it."""
    layer = lineitem_layer(spark, sf_dir)
    (tile,) = layer.lookup(1, 2)
    rows = [(i, float(v)) for i, v in enumerate(tile["cells"])]
    return spark.createDataFrame(rows, "pos int, value double")


SQL_RASTER_LOOKUP = CELLS_CTE + """
SELECT pos, value FROM cells WHERE key_col = 1 AND key_row = 2
"""


def q_raster_colormap(spark, sf_dir):
    """ColorMap assignment under the gate: value -> RGBA int with
    LESS_THAN_OR_EQUAL breaks, NoData and fallback colors (the color half
    of to_png_rdd; PNG byte encoding itself is pytest-pinned)."""
    from ..operators.render import ColorMap

    layer = lineitem_layer(spark, sf_dir)
    cm = ColorMap.from_colors(
        [10.0, 25.0, 40.0],
        [0xFF0000FF, 0x00FF00FF, 0x0000FFFF],  # red/green/blue, opaque
        fallback_color=0x000000FF,
    )
    import numpy as np

    # drive the SAME vectorized kernel the PNG path uses, via map_cells
    def colorize(a, nodata):
        return cm.apply(a, nodata).astype(np.float64)

    colored = layer.map_cells(colorize)
    return colored.explode().select(
        "key_col", "key_row", "pos", F.col("value").cast("long").alias("rgba")
    )


SQL_RASTER_COLORMAP = CELLS_CTE + """
SELECT key_col, key_row, pos,
       CAST(CASE WHEN value = -1.0 THEN 0
                 WHEN value <= 10.0 THEN 4278190335
                 WHEN value <= 25.0 THEN 16711935
                 WHEN value <= 40.0 THEN 65535
                 ELSE 255 END AS BIGINT) AS rgba
FROM coords
"""


def q_raster_map_cells(spark, sf_dir):
    """The Arrow UDF surface under the oracle gate: map_cells applying
    x -> x^2 + 1 (NoData preserved by the engine's kernel contract)."""
    import numpy as np

    layer = lineitem_layer(spark, sf_dir)
    nd = layer.nodata

    def fn(a, nodata):
        out = a * a + 1.0
        if nodata is not None:
            out = np.where(a == nodata, nodata, out)
        return out

    return _explode_result(layer.map_cells(fn))


SQL_RASTER_MAP_CELLS = CELLS_CTE + """
SELECT key_col, key_row, pos,
       CASE WHEN value = -1.0 THEN -1.0 ELSE value * value + 1.0 END AS value
FROM coords
"""
SQL_RASTER_REPROJECT = lambda: _sql_reproject()


def q_raster_reproject(spark, sf_dir):
    """Reproject the fixture layer (epsg:4326, unit-degree cells) to web
    mercator on an explicit same-shape target grid; NearestNeighbor inverse
    cell-center sampling (``SpatialTiledRasterLayer.scala:71-120``)."""
    layer = lineitem_layer(spark, sf_dir)
    out = layer.reproject("epsg:3857", layout=gps.TileLayout(LAYOUT_N, LAYOUT_N, TILE, TILE))
    return _explode_result(out)


def _sql_reproject() -> str:
    """Oracle shares the engine's exact layout constants (computed with the
    same numpy calls) and mirrors its fp expression shapes; mercator x is
    linear in lon so columns map 1:1, rows exercise the real warp."""
    from ..core.crs import transform_extent

    warped = transform_extent(RASTER_MD.layout.extent, "epsg:4326", "epsg:3857")
    ld = gps.LayoutDefinition(warped, gps.TileLayout(LAYOUT_N, LAYOUT_N, TILE, TILE))
    ymax, xmin = repr(warped.ymax), repr(warped.xmin)
    tw, th = repr(ld.tile_width), repr(ld.tile_height)
    cw, ch = repr(ld.cell_width), repr(ld.cell_height)
    return CELLS_CTE + f"""
, tgrid AS (
  SELECT c.i AS tgcol, r.i AS tgrow FROM range({GRID}) c(i), range({GRID}) r(i)
),
centers AS (
  SELECT tgcol, tgrow,
         ({xmin} + floor(tgcol / {TILE}) * {tw}) + ((tgcol % {TILE}) + 0.5) * {cw} AS tx,
         ({ymax} - floor(tgrow / {TILE}) * {th}) - ((tgrow % {TILE}) + 0.5) * {ch} AS ty
  FROM tgrid
),
srccell AS (
  SELECT tgcol, tgrow,
         CAST(floor(degrees(tx / {R_MERC!r}) / 1.0) AS INT) AS sgcol,
         CAST(floor((32.0 - degrees(2.0 * atan(exp(ty / {R_MERC!r})) - pi() / 2.0)) / 1.0) AS INT) AS sgrow
  FROM centers
)
SELECT CAST(floor(s.tgcol / {TILE}) AS INT) AS key_col,
       CAST(floor(s.tgrow / {TILE}) AS INT) AS key_row,
       CAST((s.tgrow % {TILE}) * {TILE} + s.tgcol % {TILE} AS INT) AS pos,
       COALESCE(c.value, -1.0) AS value
FROM srccell s LEFT JOIN coords c ON c.gcol = s.sgcol AND c.grow = s.sgrow
"""


SQL_RASTER_COST_DISTANCE = f"""
WITH grid AS (
  SELECT c.i AS gcol, r.i AS grow FROM range({GRID}) c(i), range({GRID}) r(i)
),
d AS (
  SELECT gcol, grow, abs(gcol - 8) AS dx, abs(grow - 8) AS dy FROM grid
)
SELECT CAST(floor(gcol / {TILE}) AS INT) AS key_col,
       CAST(floor(grow / {TILE}) AS INT) AS key_row,
       CAST((grow % {TILE}) * {TILE} + gcol % {TILE} AS INT) AS pos,
       round(CASE WHEN dx > dy THEN (dx - dy) + sqrt(2.0) * dy
                  ELSE (dy - dx) + sqrt(2.0) * dx END, 6) AS value
FROM d
"""
# the distributed/contracted solver must be bit-comparable to the
# driver solver, so it shares the closed-form octile oracle
SQL_RASTER_COST_DISTANCE_DISTRIBUTED = SQL_RASTER_COST_DISTANCE


def q_raster_focal_mode(spark, sf_dir):
    """Focal Mode over Square(1) (vectorized sorted-run kernel; ties ->
    smallest value). Edge cells see only in-grid neighbors."""
    layer = lineitem_layer(spark, sf_dir)
    return _explode_result(layer.focal("Mode", "Square", 1))


SQL_RASTER_FOCAL_MODE = CELLS_CTE + """
, nbc AS (
  SELECT a.key_col, a.key_row, a.pos, b.value AS v, COUNT(*) AS cnt
  FROM coords a JOIN coords b
    ON b.gcol BETWEEN a.gcol - 1 AND a.gcol + 1
   AND b.grow BETWEEN a.grow - 1 AND a.grow + 1
  GROUP BY a.key_col, a.key_row, a.pos, b.value
)
SELECT key_col, key_row, pos, v AS value FROM (
  SELECT key_col, key_row, pos, v,
         row_number() OVER (PARTITION BY key_col, key_row, pos
                            ORDER BY cnt DESC, v ASC) AS rn
  FROM nbc
) WHERE rn = 1
"""


def q_raster_pyramid_mode(spark, sf_dir):
    """Pyramid level -1 with Mode resampling: per parent cell, the most
    frequent child value, ties -> smallest (deterministic min_by on
    (-count, value))."""
    layer = lineitem_layer(spark, sf_dir)
    pyr = layer.pyramid(resample_method="Mode")
    return _explode_result(pyr[pyr.max_zoom - 1])


SQL_RASTER_PYRAMID_MODE = CELLS_CTE + f"""
, pcand AS (
  SELECT CAST(floor(gcol / 2) AS INT) AS pgcol, CAST(floor(grow / 2) AS INT) AS pgrow,
         value, COUNT(*) AS cnt
  FROM coords GROUP BY 1, 2, 3
),
parents AS (
  SELECT pgcol, pgrow, value FROM (
    SELECT pgcol, pgrow, value,
           row_number() OVER (PARTITION BY pgcol, pgrow ORDER BY cnt DESC, value ASC) AS rn
    FROM pcand
  ) WHERE rn = 1
)
SELECT CAST(floor(pgcol / {TILE}) AS INT) AS key_col,
       CAST(floor(pgrow / {TILE}) AS INT) AS key_row,
       CAST((pgrow % {TILE}) * {TILE} + pgcol % {TILE} AS INT) AS pos,
       value
FROM parents
"""
SQL_RASTER_REPROJECT_CUBIC = lambda: _sql_reproject_cubic()


def q_raster_reproject_cubic(spark, sf_dir):
    """4326 -> 3857 warp with CubicConvolution: 4x4 Keys taps, strict
    window rule (any out-of-raster tap -> NoData ring). Output rounded to
    6 decimals (the ``raster_slope`` convention): the 16-term weighted sum
    does not survive DuckDB's evaluation order bit-for-bit (VERDICT r4 #1,
    max observed |delta| 1.4e-14)."""
    layer = lineitem_layer(spark, sf_dir)
    out = layer.reproject(
        "epsg:3857", layout=gps.TileLayout(LAYOUT_N, LAYOUT_N, TILE, TILE),
        resample_method="CubicConvolution",
    )
    return _explode_result(out).select(
        "key_col", "key_row", "pos", F.round(F.col("value"), 6).alias("value")
    )


def _sql_reproject_cubic() -> str:
    """Oracle: per-axis tap bases and Keys weights are recomputed driver-side
    with the ENGINE's own transforms/kernels (same numpy ops on the same
    floats => bitwise-equal weights) and injected as VALUES; the 16-term
    weighted sum is written in the engine's exact accumulation order, so
    the division reproduces the engine doubles bit-for-bit."""
    import numpy as np

    from ..core.crs import get_transform, transform_extent
    from ..core.keys import KeyTransform
    from ..operators.resample import cubic_convolution_kernel as _K

    warped = transform_extent(RASTER_MD.layout.extent, "epsg:4326", "epsg:3857")
    ld = gps.LayoutDefinition(warped, gps.TileLayout(LAYOUT_N, LAYOUT_N, TILE, TILE))
    kt = KeyTransform(ld)
    inv = get_transform("epsg:3857", "epsg:4326")
    s_ld = RASTER_MD.layout
    offs = (-1, 0, 1, 2)
    crows, rrows = [], []
    for tk in range(LAYOUT_N):
        text = kt.key_extent(tk, tk)
        xs = text.xmin + (np.arange(TILE) + 0.5) * ld.cell_width
        ys = text.ymax - (np.arange(TILE) + 0.5) * ld.cell_height
        sx, sy = inv(xs, ys)
        fc = (sx - s_ld.extent.xmin) / s_ld.cell_width
        fr = (s_ld.extent.ymax - sy) / s_ld.cell_height
        bc = np.floor(fc - 0.5).astype(np.int64)
        br = np.floor(fr - 0.5).astype(np.int64)
        wcs = [_K((fc - 0.5) - (bc + j)) for j in offs]
        wrs = [_K((fr - 0.5) - (br + j)) for j in offs]
        for i in range(TILE):
            crows.append((tk * TILE + i, int(bc[i]), *[float(w[i]) for w in wcs]))
            rrows.append((tk * TILE + i, int(br[i]), *[float(w[i]) for w in wrs]))
    cvals = ", ".join(
        f"({g}, {b}, {w0!r}, {w1!r}, {w2!r}, {w3!r})" for g, b, w0, w1, w2, w3 in crows
    )
    rvals = ", ".join(
        f"({g}, {b}, {w0!r}, {w1!r}, {w2!r}, {w3!r})" for g, b, w0, w1, w2, w3 in rrows
    )
    # pivot the 4x4 window; term order matches the engine loop (jr outer,
    # jc inner, offsets -1, 0, 1, 2)
    piv, terms, wts = [], [], []
    for jr_i, jr in enumerate(offs):
        for jc_i, jc in enumerate(offs):
            name = f"v{jr_i}{jc_i}"
            piv.append(
                f"MAX(CASE WHEN c.grow = rt.br + {jr} AND c.gcol = ct.bc + {jc} "
                f"THEN c.value END) AS {name}"
            )
            terms.append(f"{name} * (wr_{jr_i} * wc_{jc_i})")
            wts.append(f"(wr_{jr_i} * wc_{jc_i})")
    null_check = " OR ".join(f"v{jr_i}{jc_i} IS NULL" for jr_i in range(4) for jc_i in range(4))
    wcols = ", ".join([f"ct.wc_{i}" for i in range(4)] + [f"rt.wr_{i}" for i in range(4)])
    return CELLS_CTE + f"""
, ctap(tgcol, bc, wc_0, wc_1, wc_2, wc_3) AS (VALUES {cvals}),
rtap(tgrow, br, wr_0, wr_1, wr_2, wr_3) AS (VALUES {rvals}),
tv AS (
  SELECT ct.tgcol, rt.tgrow, {wcols},
         {', '.join(piv)}
  FROM ctap ct CROSS JOIN rtap rt
  LEFT JOIN coords c ON c.gcol BETWEEN ct.bc - 1 AND ct.bc + 2
                    AND c.grow BETWEEN rt.br - 1 AND rt.br + 2
  GROUP BY ct.tgcol, rt.tgrow, {wcols}
)
SELECT CAST(floor(tgcol / {TILE}) AS INT) AS key_col,
       CAST(floor(tgrow / {TILE}) AS INT) AS key_row,
       CAST((tgrow % {TILE}) * {TILE} + tgcol % {TILE} AS INT) AS pos,
       ROUND(CASE WHEN {null_check} THEN -1.0
            ELSE ({' + '.join(terms)}) / ({' + '.join(wts)}) END, 6) AS value
FROM tv
"""


def q_raster_reproject_global(spark, sf_dir):
    """Web-mercator layer -> the epsg:4326 LatLng ZoomedLayoutScheme grid
    (GlobalLayout), NearestNeighbor; only data cells returned."""
    from dataclasses import replace as _dc_replace

    from ..core.extent import GlobalLayout

    layer = lineitem_layer(spark, sf_dir)
    merc = TiledRasterLayer(layer.df, _dc_replace(RASTER_MD, crs="epsg:3857"))
    out = merc.reproject("epsg:4326", layout=GlobalLayout(tile_size=TILE, zoom=22))
    return _explode_result(out).where(F.col("value") != -1.0)


SQL_RASTER_REPROJECT_GLOBAL = lambda: _sql_reproject_global()


def _sql_reproject_global() -> str:
    """Oracle: the LatLng-z22 target cols/rows that sample into the 32x32
    source grid, with their NN source indices recomputed driver-side via the
    engine's own KeyTransform + transform (floor is fp-robust), injected as
    two VALUES maps."""
    import math as _math

    import numpy as np

    from ..core.crs import get_transform
    from ..core.extent import GlobalLayout
    from ..core.keys import KeyTransform

    zoom = 22
    ld = GlobalLayout(tile_size=TILE, zoom=zoom).layout_for_latlng(zoom)
    kt = KeyTransform(ld)
    inv = get_transform("epsg:4326", "epsg:3857")
    s_ld = RASTER_MD.layout
    r_merc = R_MERC
    lon_hi = _math.degrees(GRID / r_merc)
    lat_hi = _math.degrees(2.0 * _math.atan(_math.exp(GRID / r_merc)) - _math.pi / 2.0)
    tk_c_lo = int((180.0) / (ld.cell_width * TILE)) - 1
    tk_c_hi = int((180.0 + lon_hi) / (ld.cell_width * TILE)) + 1
    tk_r_lo = int((90.0 - lat_hi) / (ld.cell_height * TILE)) - 1
    tk_r_hi = int(90.0 / (ld.cell_height * TILE)) + 1
    cmap, rmap = [], []
    for tk in range(tk_c_lo, tk_c_hi + 1):
        text = kt.key_extent(tk, 0)
        xs = text.xmin + (np.arange(TILE) + 0.5) * ld.cell_width
        sx, _ = inv(xs, np.zeros(TILE))
        fc = (sx - s_ld.extent.xmin) / s_ld.cell_width
        ic = np.floor(fc).astype(np.int64)
        for i in range(TILE):
            if fc[i] >= 0 and 0 <= ic[i] < GRID:
                cmap.append((tk * TILE + i, int(ic[i])))
    for tk in range(tk_r_lo, tk_r_hi + 1):
        text = kt.key_extent(0, tk)
        ys = text.ymax - (np.arange(TILE) + 0.5) * ld.cell_height
        _, sy = inv(np.zeros(TILE), ys)
        fr = (s_ld.extent.ymax - sy) / s_ld.cell_height
        ir = np.floor(fr).astype(np.int64)
        for i in range(TILE):
            if fr[i] >= 0 and 0 <= ir[i] < GRID:
                rmap.append((tk * TILE + i, int(ir[i])))
    cvals = ", ".join(f"({t}, {s})" for t, s in cmap)
    rvals = ", ".join(f"({t}, {s})" for t, s in rmap)
    return CELLS_CTE + f"""
, cmap(tgcol, scol) AS (VALUES {cvals}),
rmap(tgrow, srow) AS (VALUES {rvals})
SELECT CAST(floor(tgcol / {TILE}) AS INT) AS key_col,
       CAST(floor(tgrow / {TILE}) AS INT) AS key_row,
       CAST((tgrow % {TILE}) * {TILE} + tgcol % {TILE} AS INT) AS pos,
       c.value AS value
FROM cmap CROSS JOIN rmap
JOIN coords c ON c.gcol = scol AND c.grow = srow
"""


def q_raster_reproject_utm(spark, sf_dir):
    """GlobalLayout over a UTM zone (round-5): ZoomedLayoutScheme's
    any-CRS contract (``LayoutType.scala:18-30``) — square 2^z tile grid
    over the zone's registered world extent; NN warp 4326 -> epsg:32631,
    data cells only."""
    from ..core.extent import GlobalLayout

    layer = lineitem_layer(spark, sf_dir)
    out = layer.reproject(
        "epsg:32631", layout=GlobalLayout(tile_size=TILE, zoom=3),
    )
    return _explode_result(out).where(F.col("value") != -1.0)


SQL_RASTER_REPROJECT_UTM = lambda: _sql_reproject_utm()


def _sql_reproject_utm() -> str:
    """Oracle: Transverse Mercator is not axis-separable, so the full 2-D
    (target cell -> NN source cell) map is recomputed driver-side with the
    engine's own Krueger transform on bit-identical cell-center doubles
    (the UTM world extent 0..1e6 x 0..1e7 makes every center an exact
    half-integer multiple) and injected as one VALUES relation."""
    import numpy as np

    from ..core.crs import get_transform
    from ..core.extent import GlobalLayout, world_extent

    zoom = 3
    world = world_extent("epsg:32631")
    ld = GlobalLayout(tile_size=TILE, zoom=zoom).layout_for_zoom(zoom, world)
    fwd = get_transform("epsg:4326", "epsg:32631")
    inv = get_transform("epsg:32631", "epsg:4326")
    s_ld = RASTER_MD.layout
    cw, ch = ld.cell_width, ld.cell_height
    # bound the target window by forward-transforming a dense grid over the
    # source extent (TM curvature: corners alone under-cover)
    lons = np.linspace(s_ld.extent.xmin, s_ld.extent.xmax, 65)
    lats = np.linspace(s_ld.extent.ymin, s_ld.extent.ymax, 65)
    gx, gy = np.meshgrid(lons, lats)
    tx, ty = fwd(gx.ravel(), gy.ravel())
    c_lo = int(np.floor((tx.min() - world.xmin) / cw)) - 2
    c_hi = int(np.floor((tx.max() - world.xmin) / cw)) + 2
    r_lo = int(np.floor((world.ymax - ty.max()) / ch)) - 2
    r_hi = int(np.floor((world.ymax - ty.min()) / ch)) + 2
    cols = np.arange(c_lo, c_hi + 1)
    rows = np.arange(r_lo, r_hi + 1)
    xs = world.xmin + (cols + 0.5) * cw
    ys = world.ymax - (rows + 0.5) * ch
    xx, yy = np.meshgrid(xs, ys)
    sx, sy = inv(xx.ravel(), yy.ravel())
    fc = (sx - s_ld.extent.xmin) / s_ld.cell_width
    fr = (s_ld.extent.ymax - sy) / s_ld.cell_height
    ic = np.floor(fc).astype(np.int64)
    ir = np.floor(fr).astype(np.int64)
    ok = (fc >= 0) & (fr >= 0) & (ic >= 0) & (ic < GRID) & (ir >= 0) & (ir < GRID)
    tuples = []
    ncols = len(cols)
    n_world = (2 ** zoom) * TILE  # engine clips tiles to the world grid:
    # cells beyond the zone envelope have no TMS tile address
    for k in np.nonzero(ok)[0]:
        i, j = divmod(int(k), ncols)
        tgc, tgr = int(cols[j]), int(rows[i])
        if 0 <= tgc < n_world and 0 <= tgr < n_world:
            tuples.append((tgc, tgr, int(ic[k]), int(ir[k])))
    tvals = ", ".join(f"({c}, {r}, {s}, {t})" for c, r, s, t in tuples)
    return CELLS_CTE + f"""
, tmap(tgcol, tgrow, scol, srow) AS (VALUES {tvals})
SELECT CAST(floor(tgcol / {TILE}) AS INT) AS key_col,
       CAST(floor(tgrow / {TILE}) AS INT) AS key_row,
       CAST((tgrow % {TILE}) * {TILE} + tgcol % {TILE} AS INT) AS pos,
       c.value AS value
FROM tmap
JOIN coords c ON c.gcol = scol AND c.grow = srow
"""


def q_raster_reproject_albers(spark, sf_dir):
    """NN warp 4326 -> epsg:5070 (NAD83 Conus Albers, round-5 equal-area
    kernel) onto the standard 4x4 grid over the warped extent; NoData ring
    kept (-1.0), so all 1024 cells return."""
    layer = lineitem_layer(spark, sf_dir)
    out = layer.reproject(
        "epsg:5070", layout=gps.TileLayout(LAYOUT_N, LAYOUT_N, TILE, TILE),
    )
    return _explode_result(out)


SQL_RASTER_REPROJECT_ALBERS = lambda: _sql_reproject_albers()


def _sql_reproject_albers() -> str:
    """Oracle: the Albers warp is not axis-separable and the warped extent
    is arbitrary doubles, so target cell centers are rebuilt EXACTLY as the
    engine does (KeyTransform.key_extent per tile, then center offsets) and
    the full 2-D NN map is injected; out-of-source taps coalesce to the
    -1.0 NoData fill."""
    import numpy as np

    from ..core.crs import get_transform, transform_extent
    from ..core.keys import KeyTransform

    warped = transform_extent(RASTER_MD.layout.extent, "epsg:4326", "epsg:5070")
    ld = gps.LayoutDefinition(warped, gps.TileLayout(LAYOUT_N, LAYOUT_N, TILE, TILE))
    kt = KeyTransform(ld)
    inv = get_transform("epsg:5070", "epsg:4326")
    s_ld = RASTER_MD.layout
    tuples = []
    for tkr in range(LAYOUT_N):
        for tkc in range(LAYOUT_N):
            text = kt.key_extent(tkc, tkr)
            xs = text.xmin + (np.arange(TILE) + 0.5) * ld.cell_width
            ys = text.ymax - (np.arange(TILE) + 0.5) * ld.cell_height
            gx, gy = np.meshgrid(xs, ys)
            sx, sy = inv(gx.ravel(), gy.ravel())
            fc = (sx - s_ld.extent.xmin) / s_ld.cell_width
            fr = (s_ld.extent.ymax - sy) / s_ld.cell_height
            ic = np.floor(fc).astype(np.int64)
            ir = np.floor(fr).astype(np.int64)
            ok = (fc >= 0) & (fr >= 0) & (ic >= 0) & (ic < GRID) & (ir >= 0) & (ir < GRID)
            for k in range(TILE * TILE):
                i, j = divmod(k, TILE)
                tuples.append((
                    tkc * TILE + j, tkr * TILE + i,
                    int(ic[k]) if ok[k] else -1, int(ir[k]) if ok[k] else -1,
                ))
    tvals = ", ".join(f"({c}, {r}, {s}, {t})" for c, r, s, t in tuples)
    return CELLS_CTE + f"""
, tmap(tgcol, tgrow, scol, srow) AS (VALUES {tvals})
SELECT CAST(floor(tgcol / {TILE}) AS INT) AS key_col,
       CAST(floor(tgrow / {TILE}) AS INT) AS key_row,
       CAST((tgrow % {TILE}) * {TILE} + tgcol % {TILE} AS INT) AS pos,
       COALESCE(c.value, -1.0) AS value
FROM tmap
LEFT JOIN coords c ON c.gcol = scol AND c.grow = srow
"""


def q_raster_reproject_ease(spark, sf_dir):
    """NN warp 4326 -> the NSIDC EASE-Grid 2.0 Global GlobalLayout
    (epsg:6933, round-5 cylindrical equal-area kernel + registered grid
    envelope); data cells only."""
    from ..core.extent import GlobalLayout

    layer = lineitem_layer(spark, sf_dir)
    out = layer.reproject(
        "epsg:6933", layout=GlobalLayout(tile_size=TILE, zoom=6),
    )
    return _explode_result(out).where(F.col("value") != -1.0)


SQL_RASTER_REPROJECT_EASE = lambda: _sql_reproject_ease()


def _sql_reproject_ease() -> str:
    """Oracle: cylindrical equal-area is axis-separable (x<->lon, y<->lat),
    so per-axis NN maps are recomputed driver-side with the engine's own
    transform on engine-identical per-tile cell centers and injected as
    two VALUES relations (the ``raster_reproject_global`` pattern)."""
    import numpy as np

    from ..core.crs import get_transform
    from ..core.extent import GlobalLayout, world_extent
    from ..core.keys import KeyTransform

    zoom = 6
    world = world_extent("epsg:6933")
    ld = GlobalLayout(tile_size=TILE, zoom=zoom).layout_for_zoom(zoom, world)
    kt = KeyTransform(ld)
    fwd = get_transform("epsg:4326", "epsg:6933")
    inv = get_transform("epsg:6933", "epsg:4326")
    s_ld = RASTER_MD.layout
    # separable + monotone: corner forwards bound the target window
    cx, cy = fwd(
        np.array([s_ld.extent.xmin, s_ld.extent.xmax]),
        np.array([s_ld.extent.ymin, s_ld.extent.ymax]),
    )
    tk_c_lo = int((cx.min() - world.xmin) / (ld.cell_width * TILE)) - 1
    tk_c_hi = int((cx.max() - world.xmin) / (ld.cell_width * TILE)) + 1
    tk_r_lo = int((world.ymax - cy.max()) / (ld.cell_height * TILE)) - 1
    tk_r_hi = int((world.ymax - cy.min()) / (ld.cell_height * TILE)) + 1
    n_world = 2 ** zoom
    cmap, rmap = [], []
    for tk in range(max(tk_c_lo, 0), min(tk_c_hi, n_world - 1) + 1):
        text = kt.key_extent(tk, 0)
        xs = text.xmin + (np.arange(TILE) + 0.5) * ld.cell_width
        sx, _ = inv(xs, np.zeros(TILE))
        fc = (sx - s_ld.extent.xmin) / s_ld.cell_width
        ic = np.floor(fc).astype(np.int64)
        for i in range(TILE):
            if fc[i] >= 0 and 0 <= ic[i] < GRID:
                cmap.append((tk * TILE + i, int(ic[i])))
    for tk in range(max(tk_r_lo, 0), min(tk_r_hi, n_world - 1) + 1):
        text = kt.key_extent(0, tk)
        ys = text.ymax - (np.arange(TILE) + 0.5) * ld.cell_height
        _, sy = inv(np.zeros(TILE), ys)
        fr = (s_ld.extent.ymax - sy) / s_ld.cell_height
        ir = np.floor(fr).astype(np.int64)
        for i in range(TILE):
            if fr[i] >= 0 and 0 <= ir[i] < GRID:
                rmap.append((tk * TILE + i, int(ir[i])))
    cvals = ", ".join(f"({t}, {s})" for t, s in cmap)
    rvals = ", ".join(f"({t}, {s})" for t, s in rmap)
    return CELLS_CTE + f"""
, cmap(tgcol, scol) AS (VALUES {cvals}),
rmap(tgrow, srow) AS (VALUES {rvals})
SELECT CAST(floor(tgcol / {TILE}) AS INT) AS key_col,
       CAST(floor(tgrow / {TILE}) AS INT) AS key_row,
       CAST((tgrow % {TILE}) * {TILE} + tgcol % {TILE} AS INT) AS pos,
       c.value AS value
FROM cmap CROSS JOIN rmap
JOIN coords c ON c.gcol = scol AND c.grow = srow
"""


def q_raster_reproject_laea(spark, sf_dir):
    """NN warp 4326 -> epsg:3035 (ETRS89 / LAEA Europe, the round-6
    azimuthal equal-area kernel, EPSG method 9820) onto the standard 4x4
    grid over the warped extent; NoData ring kept (-1.0), so all 1024
    cells return."""
    layer = lineitem_layer(spark, sf_dir)
    out = layer.reproject(
        "epsg:3035", layout=gps.TileLayout(LAYOUT_N, LAYOUT_N, TILE, TILE),
    )
    return _explode_result(out)


SQL_RASTER_REPROJECT_LAEA = lambda: _sql_reproject_laea()


def _sql_reproject_laea() -> str:
    """Oracle: LAEA is not axis-separable (azimuthal), so the full 2-D NN
    map is rebuilt driver-side exactly as for Albers (engine-identical
    per-tile cell centers, injected VALUES relation, NoData fill)."""
    import numpy as np

    from ..core.crs import get_transform, transform_extent
    from ..core.keys import KeyTransform

    warped = transform_extent(RASTER_MD.layout.extent, "epsg:4326", "epsg:3035")
    ld = gps.LayoutDefinition(warped, gps.TileLayout(LAYOUT_N, LAYOUT_N, TILE, TILE))
    kt = KeyTransform(ld)
    inv = get_transform("epsg:3035", "epsg:4326")
    s_ld = RASTER_MD.layout
    tuples = []
    for tkr in range(LAYOUT_N):
        for tkc in range(LAYOUT_N):
            text = kt.key_extent(tkc, tkr)
            xs = text.xmin + (np.arange(TILE) + 0.5) * ld.cell_width
            ys = text.ymax - (np.arange(TILE) + 0.5) * ld.cell_height
            gx, gy = np.meshgrid(xs, ys)
            sx, sy = inv(gx.ravel(), gy.ravel())
            fc = (sx - s_ld.extent.xmin) / s_ld.cell_width
            fr = (s_ld.extent.ymax - sy) / s_ld.cell_height
            ic = np.floor(fc).astype(np.int64)
            ir = np.floor(fr).astype(np.int64)
            ok = (fc >= 0) & (fr >= 0) & (ic >= 0) & (ic < GRID) & (ir >= 0) & (ir < GRID)
            for k in range(TILE * TILE):
                i, j = divmod(k, TILE)
                tuples.append((
                    tkc * TILE + j, tkr * TILE + i,
                    int(ic[k]) if ok[k] else -1, int(ir[k]) if ok[k] else -1,
                ))
    tvals = ", ".join(f"({c}, {r}, {s}, {t})" for c, r, s, t in tuples)
    return CELLS_CTE + f"""
, tmap(tgcol, tgrow, scol, srow) AS (VALUES {tvals})
SELECT CAST(floor(tgcol / {TILE}) AS INT) AS key_col,
       CAST(floor(tgrow / {TILE}) AS INT) AS key_row,
       CAST((tgrow % {TILE}) * {TILE} + tgcol % {TILE} AS INT) AS pos,
       COALESCE(c.value, -1.0) AS value
FROM tmap
LEFT JOIN coords c ON c.gcol = scol AND c.grow = srow
"""


def q_raster_reproject_rd(spark, sf_dir):
    """NN warp 4326 -> epsg:28992 (Amersfoort / RD New: double
    stereographic EPSG 9809 on Bessel 1841 + the published Amersfoort
    Helmert) — the first query to push a real DATUM SHIFT through the
    distributed warp under the oracle gate (round 6)."""
    layer = lineitem_layer(spark, sf_dir)
    out = layer.reproject(
        "epsg:28992", layout=gps.TileLayout(LAYOUT_N, LAYOUT_N, TILE, TILE),
    )
    return _explode_result(out)


SQL_RASTER_REPROJECT_RD = lambda: _sql_reproject_rd()


def _sql_reproject_rd() -> str:
    """Oracle: same driver-side NN-map rebuild as Albers/LAEA (the warp
    is not axis-separable), with the full projection+Helmert transform."""
    import numpy as np

    from ..core.crs import get_transform, transform_extent
    from ..core.keys import KeyTransform

    warped = transform_extent(RASTER_MD.layout.extent, "epsg:4326", "epsg:28992")
    ld = gps.LayoutDefinition(warped, gps.TileLayout(LAYOUT_N, LAYOUT_N, TILE, TILE))
    kt = KeyTransform(ld)
    inv = get_transform("epsg:28992", "epsg:4326")
    s_ld = RASTER_MD.layout
    tuples = []
    for tkr in range(LAYOUT_N):
        for tkc in range(LAYOUT_N):
            text = kt.key_extent(tkc, tkr)
            xs = text.xmin + (np.arange(TILE) + 0.5) * ld.cell_width
            ys = text.ymax - (np.arange(TILE) + 0.5) * ld.cell_height
            gx, gy = np.meshgrid(xs, ys)
            sx, sy = inv(gx.ravel(), gy.ravel())
            fc = (sx - s_ld.extent.xmin) / s_ld.cell_width
            fr = (s_ld.extent.ymax - sy) / s_ld.cell_height
            ic = np.floor(fc).astype(np.int64)
            ir = np.floor(fr).astype(np.int64)
            ok = (fc >= 0) & (fr >= 0) & (ic >= 0) & (ic < GRID) & (ir >= 0) & (ir < GRID)
            for k in range(TILE * TILE):
                i, j = divmod(k, TILE)
                tuples.append((
                    tkc * TILE + j, tkr * TILE + i,
                    int(ic[k]) if ok[k] else -1, int(ir[k]) if ok[k] else -1,
                ))
    tvals = ", ".join(f"({c}, {r}, {s}, {t})" for c, r, s, t in tuples)
    return CELLS_CTE + f"""
, tmap(tgcol, tgrow, scol, srow) AS (VALUES {tvals})
SELECT CAST(floor(tgcol / {TILE}) AS INT) AS key_col,
       CAST(floor(tgrow / {TILE}) AS INT) AS key_row,
       CAST((tgrow % {TILE}) * {TILE} + tgcol % {TILE} AS INT) AS pos,
       COALESCE(c.value, -1.0) AS value
FROM tmap
LEFT JOIN coords c ON c.gcol = scol AND c.grow = srow
"""


def _make_reproject_nn_query(dst_crs: str, doc: str, md=None):
    """Factory for an NN 4326 -> ``dst_crs`` warp query (the same shape
    as the albers/laea/rd queries above, parameterized by CRS; ``md``
    overrides the fixture metadata for projections whose fitted domain
    excludes the default 0..32 lon/lat box, e.g. NZMG)."""

    def q(spark, sf_dir):
        layer = lineitem_layer(spark, sf_dir, md=md)
        out = layer.reproject(
            dst_crs, layout=gps.TileLayout(LAYOUT_N, LAYOUT_N, TILE, TILE),
        )
        return _explode_result(out)

    q.__doc__ = doc
    return q


def _sql_reproject_nn(dst_crs: str, md=None) -> str:
    """Oracle for :func:`_make_reproject_nn_query`: driver-side NN-map
    rebuild through the same full projection(+Helmert) transform."""
    import numpy as np

    from ..core.crs import get_transform, transform_extent
    from ..core.keys import KeyTransform

    src_md = md if md is not None else RASTER_MD
    warped = transform_extent(src_md.layout.extent, "epsg:4326", dst_crs)
    ld = gps.LayoutDefinition(warped, gps.TileLayout(LAYOUT_N, LAYOUT_N, TILE, TILE))
    kt = KeyTransform(ld)
    inv = get_transform(dst_crs, "epsg:4326")
    s_ld = src_md.layout
    # replicate the warp's tile-emission rule: a target tile exists iff
    # some source tile's densified warped bbox covers it (the engine
    # never emits all-nodata tiles for uncovered bbox corners — at long
    # range the warped footprint is a curved quad inside its bbox and
    # corner target tiles can be genuinely uncovered)
    s_kt = KeyTransform(s_ld)
    covered = set()
    for skr in range(LAYOUT_N):
        for skc in range(LAYOUT_N):
            w = transform_extent(s_kt.key_extent(skc, skr), "epsg:4326",
                                 dst_crs, densify=4)
            c0 = int(np.floor((w.xmin - warped.xmin) / (ld.cell_width * TILE)))
            c1 = int(np.floor((w.xmax - warped.xmin) / (ld.cell_width * TILE)))
            r0 = int(np.floor((warped.ymax - w.ymax) / (ld.cell_height * TILE)))
            r1 = int(np.floor((warped.ymax - w.ymin) / (ld.cell_height * TILE)))
            for tr in range(max(r0, 0), min(r1, LAYOUT_N - 1) + 1):
                for tc in range(max(c0, 0), min(c1, LAYOUT_N - 1) + 1):
                    covered.add((tc, tr))
    tuples = []
    for tkr in range(LAYOUT_N):
        for tkc in range(LAYOUT_N):
            if (tkc, tkr) not in covered:
                continue
            text = kt.key_extent(tkc, tkr)
            xs = text.xmin + (np.arange(TILE) + 0.5) * ld.cell_width
            ys = text.ymax - (np.arange(TILE) + 0.5) * ld.cell_height
            gx, gy = np.meshgrid(xs, ys)
            sx, sy = inv(gx.ravel(), gy.ravel())
            fc = (sx - s_ld.extent.xmin) / s_ld.cell_width
            fr = (s_ld.extent.ymax - sy) / s_ld.cell_height
            with np.errstate(invalid="ignore"):
                ic = np.floor(np.nan_to_num(fc, nan=-1.0)).astype(np.int64)
                ir = np.floor(np.nan_to_num(fr, nan=-1.0)).astype(np.int64)
                ok = (fc >= 0) & (fr >= 0) & (ic >= 0) & (ic < GRID) & \
                    (ir >= 0) & (ir < GRID)
            for k in range(TILE * TILE):
                i, j = divmod(k, TILE)
                tuples.append((
                    tkc * TILE + j, tkr * TILE + i,
                    int(ic[k]) if ok[k] else -1, int(ir[k]) if ok[k] else -1,
                ))
    tvals = ", ".join(f"({c}, {r}, {s}, {t})" for c, r, s, t in tuples)
    return CELLS_CTE + f"""
, tmap(tgcol, tgrow, scol, srow) AS (VALUES {tvals})
SELECT CAST(floor(tgcol / {TILE}) AS INT) AS key_col,
       CAST(floor(tgrow / {TILE}) AS INT) AS key_row,
       CAST((tgrow % {TILE}) * {TILE} + tgcol % {TILE} AS INT) AS pos,
       COALESCE(c.value, -1.0) AS value
FROM tmap
LEFT JOIN coords c ON c.gcol = scol AND c.grow = srow
"""


q_raster_reproject_swiss = _make_reproject_nn_query(
    "epsg:2056",
    """NN warp 4326 -> epsg:2056 (CH1903+ / LV95: Swiss oblique Mercator
    EPSG 9814 on Bessel 1841 + the published swisstopo 3-param shift)
    through the distributed warp under the oracle gate (round 6).""",
)
SQL_RASTER_REPROJECT_SWISS = lambda: _sql_reproject_nn("epsg:2056")

q_raster_reproject_krovak = _make_reproject_nn_query(
    "epsg:5514",
    """NN warp 4326 -> epsg:5514 (S-JTSK / Krovak East North: oblique
    conformal conic EPSG 9819, Bessel 1841 + S-JTSK Helmert) — exercises
    the all-negative East-North axis convention through the distributed
    warp (round 6).""",
)
SQL_RASTER_REPROJECT_KROVAK = lambda: _sql_reproject_nn("epsg:5514")

q_raster_reproject_robin = _make_reproject_nn_query(
    "+proj=robin +lon_0=10 +datum=WGS84",
    """NN warp 4326 -> Robinson (the table-defined compromise world
    projection, Robinson 1974 / Snyder-Voxland 1989; proj4 ``robin``) —
    exercises the spline-interpolated table projection family through
    the distributed warp (r8; closes the VERDICT r7 'exotic projections'
    gap for robin).""",
)
SQL_RASTER_REPROJECT_ROBIN = lambda: _sql_reproject_nn(
    "+proj=robin +lon_0=10 +datum=WGS84")

NZ_RASTER_MD = gps.LayerMetadata(
    crs="epsg:4326",
    cell_type="float64ud-1.0",
    layout=gps.LayoutDefinition(
        gps.Extent(166.0, -47.0, 174.0, -39.0),
        gps.TileLayout(LAYOUT_N, LAYOUT_N, TILE, TILE),
    ),
    bounds=((0, 0), (LAYOUT_N - 1, LAYOUT_N - 1)),
    extent=gps.Extent(166.0, -47.0, 174.0, -39.0),
    num_bands=1,
)

q_raster_reproject_nzmg = _make_reproject_nn_query(
    "epsg:27200",
    """NN warp 4326 -> epsg:27200 (NZGD49 / New Zealand Map Grid:
    Reilly's complex-polynomial conformal projection on International
    1924 + the published NZGD49 7-param shift) — the fixture grid is
    re-extented over New Zealand (166..174E / 47..39S) because the
    polynomial is only defined over its fitted domain (r9; closes the
    VERDICT r7 'exotic projections' gap for nzmg).""",
    md=NZ_RASTER_MD,
)
SQL_RASTER_REPROJECT_NZMG = lambda: _sql_reproject_nn(
    "epsg:27200", md=NZ_RASTER_MD)

q_raster_reproject_aeqd_geodesic = _make_reproject_nn_query(
    "+proj=aeqd +geodesic +lat_0=-35 +lon_0=140 +ellps=WGS84",
    """NN warp 4326 -> long-range geodesic azimuthal equidistant
    (Vincenty inverse/direct geodesics; ``+proj=aeqd +geodesic``) — the
    true-distance formulation at intercontinental range (the fixture
    sits 8-12 Mm from the Australian origin, where only true geodesics
    are meaningful), vs the near-field
    EPSG 9832 series `raster_reproject_aeqd` exercises (r9; closes the
    VERDICT r7 'long-range geodesic aeqd' gap).""",
)
SQL_RASTER_REPROJECT_AEQD_GEODESIC = lambda: _sql_reproject_nn(
    "+proj=aeqd +geodesic +lat_0=-35 +lon_0=140 +ellps=WGS84")

_NTV2_FIXTURE_PATH = "/tmp/geopyspark_ntv2_fixture.gsb"


def _ntv2_dst_crs() -> str:
    """Write the deterministic synthetic NTv2 fixture grid (idempotent)
    and return the grid-shifted projected CRS string. The shift field is
    smooth and linear-in-node-index like a real agency grid but with
    SYNTHETIC magnitudes (hundreds of arc-seconds) chosen so the datum
    shift flips NN cell assignments at the fixture's 1-degree cells — a
    distributed path that silently dropped the grid would hash-fail
    rather than coincide with the unshifted warp. The algorithm is
    magnitude-independent (bilinear + fixed-point inverse)."""
    import os

    import numpy as np

    from ..core.ntv2 import encode_ntv2

    nrows = ncols = 18  # 2-deg spacing over lat -1..33, lon_west -33..1
    r = np.arange(nrows)[:, None]
    c = np.arange(ncols)[None, :]
    buf = encode_ntv2([{
        "name": "FIXTURE", "parent": "NONE",
        "s_lat": -1.0 * 3600, "n_lat": 33.0 * 3600,
        "e_long": -33.0 * 3600, "w_long": 1.0 * 3600,
        "lat_inc": 7200.0, "long_inc": 7200.0,
        "dlat": 900.0 + 80.0 * r + 30.0 * c,
        "dlon": -700.0 + 55.0 * r - 40.0 * c,
    }])
    if not (os.path.exists(_NTV2_FIXTURE_PATH)
            and os.path.getsize(_NTV2_FIXTURE_PATH) == len(buf)):
        with open(_NTV2_FIXTURE_PATH, "wb") as f:
            f.write(buf)
    return (f"+proj=tmerc +lat_0=0 +lon_0=16 +k=1 +ellps=GRS80 "
            f"+nadgrids={_NTV2_FIXTURE_PATH}")


def _ntv2_bundled_crs() -> str:
    """tmerc CRS on the BUNDLED trimmed NTv2 grid (r12, VERDICT r11 #6):
    ``geopyspark_spark/data/ed50_wgs84_trim.gsb`` carries the published
    ED50->WGS84 mean-European three-parameter shift (dx=-87, dy=-96,
    dz=-120 m) evaluated via abridged Molodensky on International 1924
    and trimmed to the test extent (``tools/make_ntv2_fixture.py``) —
    real several-arcsecond magnitudes through the real file-parsing
    path, complementing the synthetic-magnitude NN-warp gate above."""
    import os

    path = os.path.normpath(os.path.join(
        os.path.dirname(__file__), "..", "data", "ed50_wgs84_trim.gsb"))
    return (f"+proj=tmerc +lat_0=0 +lon_0=16 +k=0.9996 +ellps=intl "
            f"+nadgrids={path}")


def q_raster_ntv2_bundled(spark, sf_dir):
    """Distributed point transform of every cell center through the
    bundled real-magnitude NTv2 grid (4326 -> tmerc over the ED50 trim
    grid). A point transform, not an NN warp: ~4-arcsecond real shifts
    would never flip a 1-degree NN cell, but they move the projected
    meters by ~100 m — fully visible in the value hash, so a
    distributed path that silently dropped the grid file hash-fails.
    The transform is built from the CRS STRING inside the Arrow batch
    UDF, so tasks serialize no grid bytes (at cluster scale the .gsb
    ships via ``spark.files``)."""
    dst = _ntv2_bundled_crs()
    long = lineitem_layer(spark, sf_dir).explode()
    pts = long.select(
        "key_col", "key_row", "pos",
        (F.col("key_col") * TILE + F.col("pos") % TILE + 0.5).alias("lon"),
        (F.lit(GRID) - (F.col("key_row") * TILE
                        + F.floor(F.col("pos") / TILE)) - 0.5).alias("lat"),
    )

    def tx(batches):
        import pandas as pd

        from ..core.crs import get_transform

        t = get_transform("epsg:4326", dst)
        for pdf in batches:
            x, y = t(pdf["lon"].to_numpy(), pdf["lat"].to_numpy())
            yield pd.DataFrame({
                "key_col": pdf["key_col"], "key_row": pdf["key_row"],
                "pos": pdf["pos"], "x": x, "y": y,
            })

    out = pts.mapInPandas(
        tx, schema="key_col int, key_row int, pos int, x double, y double")
    return out.select(
        "key_col", "key_row", "pos",
        F.round("x", 3).alias("x"), F.round("y", 3).alias("y"))


SQL_RASTER_NTV2_BUNDLED = lambda: _sql_ntv2_bundled()


def _sql_ntv2_bundled() -> str:
    """Driver-side rebuild oracle: the same cell-center transform through
    the same grid file, materialized as a literal map (full-precision
    doubles; both sides round identically in-engine)."""
    import numpy as np

    from ..core.crs import get_transform

    t = get_transform("epsg:4326", _ntv2_bundled_crs())
    g = np.arange(GRID)
    gc, gr = np.meshgrid(g, g)
    lon = gc.ravel() + 0.5
    lat = GRID - gr.ravel() - 0.5
    x, y = t(lon, lat)
    tvals = ", ".join(
        f"({c}, {r}, {float(xv)!r}, {float(yv)!r})"
        for c, r, xv, yv in zip(gc.ravel(), gr.ravel(), x, y)
    )
    return CELLS_CTE + f"""
, tmap(mgcol, mgrow, mx, my) AS (VALUES {tvals})
SELECT c.key_col, c.key_row, c.pos,
       CAST(round(m.mx, 3) AS DOUBLE) AS x,
       CAST(round(m.my, 3) AS DOUBLE) AS y
FROM coords c
JOIN tmap m ON m.mgcol = c.gcol AND m.mgrow = c.grow
"""


def q_raster_reproject_ntv2(spark, sf_dir):
    """NN warp 4326 -> a tmerc CRS on an NTv2 grid-shift datum
    (``+nadgrids=<file>.gsb``, ``core/ntv2.py``) through the distributed
    warp — closes the VERDICT r7 'NTv2 grid-shift datums' gap at the
    algorithm level; real agency grids drop in via the same path (r9)."""
    layer = lineitem_layer(spark, sf_dir)
    out = layer.reproject(
        _ntv2_dst_crs(), layout=gps.TileLayout(LAYOUT_N, LAYOUT_N, TILE, TILE),
    )
    return _explode_result(out)


SQL_RASTER_REPROJECT_NTV2 = lambda: _sql_reproject_nn(_ntv2_dst_crs())

q_raster_reproject_eqc = _make_reproject_nn_query(
    "+proj=eqc +lat_ts=30 +lon_0=5 +ellps=WGS84",
    """NN warp 4326 -> equidistant cylindrical (EPSG 1028, proj4 string
    rather than an EPSG code — exercises the raw-proj4 path through the
    distributed warp; round 6).""",
)
SQL_RASTER_REPROJECT_EQC = lambda: _sql_reproject_nn(
    "+proj=eqc +lat_ts=30 +lon_0=5 +ellps=WGS84")

q_raster_reproject_geos = _make_reproject_nn_query(
    "+proj=geos +h=35786023 +lon_0=15 +sweep=y +ellps=GRS80",
    """NN warp 4326 -> geostationary satellite view (CGMS normalized
    geostationary, Meteosat sweep=y at 15E; the fixture extent sits
    fully inside the visible disc) through the distributed warp
    (round 6).""",
)
SQL_RASTER_REPROJECT_GEOS = lambda: _sql_reproject_nn(
    "+proj=geos +h=35786023 +lon_0=15 +sweep=y +ellps=GRS80")

q_raster_reproject_cass = _make_reproject_nn_query(
    "+proj=cass +lat_0=16 +lon_0=16 +ellps=WGS84",
    """NN warp 4326 -> Cassini-Soldner (EPSG 9806) centered in the
    fixture extent — gates the meridian-arc forward/inverse pair added
    in round 6 through the distributed warp.""",
)
SQL_RASTER_REPROJECT_CASS = lambda: _sql_reproject_nn(
    "+proj=cass +lat_0=16 +lon_0=16 +ellps=WGS84")

q_raster_reproject_aeqd = _make_reproject_nn_query(
    "+proj=aeqd +lat_0=16 +lon_0=16 +ellps=WGS84",
    """NN warp 4326 -> Modified Azimuthal Equidistant (EPSG 9832
    ellipsoidal series; proj4 aeqd) centered in the fixture extent —
    gates the new azimuthal family through the distributed warp.""",
)
SQL_RASTER_REPROJECT_AEQD = lambda: _sql_reproject_nn(
    "+proj=aeqd +lat_0=16 +lon_0=16 +ellps=WGS84")

q_raster_reproject_ortho = _make_reproject_nn_query(
    "+proj=ortho +lat_0=16 +lon_0=16 +ellps=WGS84",
    """NN warp 4326 -> ellipsoidal orthographic (EPSG 9840; GN7-2-pinned
    kernel with the damped-Newton inverse) centered in the fixture
    extent — gates the view-from-infinity family through the
    distributed warp (round 6).""",
)
SQL_RASTER_REPROJECT_ORTHO = lambda: _sql_reproject_nn(
    "+proj=ortho +lat_0=16 +lon_0=16 +ellps=WGS84")


def q_raster_geotiff_roundtrip(spark, sf_dir):
    """Encoder path under the oracle gate (round 6, VERDICT r5 #9): every
    tile -> in-memory GeoTIFF bytes (pure-Python codec, DEFLATE strips,
    ``to_geotiff_rdd``) -> decode -> cell plane. Lossless float64 encode,
    so the oracle is the identity fixture with the NoData fill."""
    import numpy as np
    import pandas as pd

    from ..sources.geotiff_codec import decode_geotiff, to_geotiff_rdd

    layer = lineitem_layer(spark, sf_dir)
    tiffs = to_geotiff_rdd(layer, compress=True)

    def decode(batches):
        for pdf in batches:
            for kc, kr, buf in zip(pdf["key_col"], pdf["key_row"], pdf["tiff"]):
                cells, _ext, _crs, _nd = decode_geotiff(bytes(buf))
                flat = cells[0].reshape(-1)
                yield pd.DataFrame({
                    "key_col": int(kc), "key_row": int(kr),
                    "pos": np.arange(flat.size, dtype=np.int32),
                    "value": flat,
                })

    return tiffs.mapInPandas(
        decode, schema="key_col int, key_row int, pos int, value double"
    )


SQL_RASTER_GEOTIFF_ROUNDTRIP = CELLS_CTE + f"""
, allpos AS (
  SELECT CAST(c.range AS INT) AS key_col,
         CAST(r.range AS INT) AS key_row,
         CAST(p.range AS INT) AS pos
  FROM range({LAYOUT_N}) c, range({LAYOUT_N}) r, range({TILE * TILE}) p
)
SELECT a.key_col, a.key_row, a.pos, COALESCE(co.value, -1.0) AS value
FROM allpos a
LEFT JOIN coords co USING (key_col, key_row, pos)
"""


def q_raster_rasterize_features(spark, sf_dir):
    """rasterize_features priority semantics in one query: higher z-index
    wins regardless of value, z-ties resolve to the larger value, negative
    z loses to z 0 (``fromFeatureWithZIndex``,
    ``SpatialTiledRasterLayer.scala:658-702``)."""
    from ..operators.rasterize import rasterize_features

    feats = [
        (gps.box(2, 2, 18, 18), 1.0, 0),
        (gps.box(10, 10, 26, 26), 2.0, 0),    # z-tie with the first -> 2.0 wins
        (gps.box(12, 12, 20, 20), 0.5, 3),    # higher z wins despite value 0.5
        (gps.box(4, 14, 8, 22), 5.0, -1),     # negative z loses where covered
        (gps.Point(30.5, 30.5), 9.0, 0),
    ]
    layer = rasterize_features(spark, feats, RASTER_MD.layout)
    long = layer.explode().where(F.col("value") != -1.0)
    return long.select("key_col", "key_row", "pos", "value")


# cell (gcol, grow) covered by box (x0,y0,x1,y1) iff gcol in [x0, x1-1] and
# grow in [GRID-y1, GRID-y0-1]; CASE ordered by (z, value) descending
SQL_RASTER_RASTERIZE_FEATURES = f"""
WITH grid AS (
  SELECT c.i AS gcol, r.i AS grow FROM range({GRID}) c(i), range({GRID}) r(i)
),
vals AS (
  SELECT gcol, grow,
         CASE WHEN gcol BETWEEN 12 AND 19 AND grow BETWEEN {GRID - 20} AND {GRID - 13} THEN 0.5
              WHEN gcol = 30 AND grow = 1 THEN 9.0
              WHEN gcol BETWEEN 10 AND 25 AND grow BETWEEN {GRID - 26} AND {GRID - 11} THEN 2.0
              WHEN gcol BETWEEN 2 AND 17 AND grow BETWEEN {GRID - 18} AND {GRID - 3} THEN 1.0
              WHEN gcol BETWEEN 4 AND 7 AND grow BETWEEN {GRID - 22} AND {GRID - 15} THEN 5.0
              END AS value
  FROM grid
)
SELECT CAST(floor(gcol / {TILE}) AS INT) AS key_col,
       CAST(floor(grow / {TILE}) AS INT) AS key_row,
       CAST((grow % {TILE}) * {TILE} + gcol % {TILE} AS INT) AS pos,
       CAST(value AS DOUBLE) AS value
FROM vals WHERE value IS NOT NULL
"""


def q_raster_histogram_object(spark, sf_dir):
    """The driver-side Histogram object's derived stats (mode/median/cdf
    quantiles — reference ``histogram.py:12-197``) as a relational result:
    built from get_class_histogram (exact value counts), so every stat is
    SQL-recomputable."""
    layer = lineitem_layer(spark, sf_dir)
    h = layer.get_class_histogram()
    qb = h.quantile_breaks(4)
    rows = [
        ("count", float(h.total_count())),
        ("min", float(h.min())),
        ("max", float(h.max())),
        ("mean", float(h.mean())),
        ("mode", float(h.mode())),
        ("median", float(h.median())),
        ("qb1", float(qb[0])),
        ("qb2", float(qb[1])),
        ("qb3", float(qb[2])),
    ]
    return spark.createDataFrame(rows, "stat string, value double")


SQL_RASTER_HISTOGRAM_OBJECT = CELLS_CTE + """
, h AS (SELECT value AS v, COUNT(*) AS c FROM cells GROUP BY value),
tot AS (SELECT CAST(SUM(c) AS BIGINT) AS n, SUM(v * c) AS s FROM h),
cum AS (SELECT v, c, SUM(c) OVER (ORDER BY v) AS acc FROM h)
SELECT 'count' AS stat, CAST(n AS DOUBLE) AS value FROM tot
UNION ALL SELECT 'min', (SELECT MIN(v) FROM h)
UNION ALL SELECT 'max', (SELECT MAX(v) FROM h)
UNION ALL SELECT 'mean', s / n FROM tot
UNION ALL SELECT 'mode', (SELECT v FROM h ORDER BY c DESC, v ASC LIMIT 1)
UNION ALL SELECT 'median', (SELECT MIN(v) FROM cum WHERE acc >= (SELECT n * 1 / 2 FROM tot))
UNION ALL SELECT 'qb1', (SELECT MIN(v) FROM cum WHERE acc >= (SELECT n * 1 / 4 FROM tot))
UNION ALL SELECT 'qb2', (SELECT MIN(v) FROM cum WHERE acc >= (SELECT n * 2 / 4 FROM tot))
UNION ALL SELECT 'qb3', (SELECT MIN(v) FROM cum WHERE acc >= (SELECT n * 3 / 4 FROM tot))
"""


# ---------------------------------------------------------------------------
# relational queries (TPC-H-style on the star schema)
# ---------------------------------------------------------------------------

def q_tpch_q1(spark, sf_dir):
    li = _t(spark, sf_dir, "lineitem").where(F.col("l_shipdate") <= "1998-09-02")
    disc_price = _dec(F.col("l_extendedprice")) * (F.lit(1).cast("decimal(12,2)") - _dec(F.col("l_discount")))
    charge = disc_price * (F.lit(1).cast("decimal(12,2)") + _dec(F.col("l_tax")))
    return li.groupBy("l_returnflag", "l_linestatus").agg(
        F.sum("l_quantity").alias("sum_qty"),
        F.sum(_dec(F.col("l_extendedprice"))).cast("double").alias("sum_base_price"),
        F.sum(disc_price).cast("double").alias("sum_disc_price"),
        F.sum(charge).cast("double").alias("sum_charge"),
        (F.sum("l_quantity") / F.count("*")).alias("avg_qty"),
        (F.sum(_dec(F.col("l_extendedprice"))).cast("double") / F.count("*")).alias("avg_price"),
        (F.sum(_dec(F.col("l_discount"))).cast("double") / F.count("*")).alias("avg_disc"),
        F.count("*").alias("count_order"),
    )


SQL_TPCH_Q1 = """
SELECT l_returnflag, l_linestatus,
       SUM(l_quantity) AS sum_qty,
       CAST(SUM(CAST(l_extendedprice AS DECIMAL(12,2))) AS DOUBLE) AS sum_base_price,
       CAST(SUM(CAST(l_extendedprice AS DECIMAL(12,2)) * (CAST(1 AS DECIMAL(12,2)) - CAST(l_discount AS DECIMAL(12,2)))) AS DOUBLE) AS sum_disc_price,
       CAST(SUM(CAST(l_extendedprice AS DECIMAL(12,2)) * (CAST(1 AS DECIMAL(12,2)) - CAST(l_discount AS DECIMAL(12,2))) * (CAST(1 AS DECIMAL(12,2)) + CAST(l_tax AS DECIMAL(12,2)))) AS DOUBLE) AS sum_charge,
       SUM(l_quantity) / COUNT(*) AS avg_qty,
       CAST(SUM(CAST(l_extendedprice AS DECIMAL(12,2))) AS DOUBLE) / COUNT(*) AS avg_price,
       CAST(SUM(CAST(l_discount AS DECIMAL(12,2))) AS DOUBLE) / COUNT(*) AS avg_disc,
       COUNT(*) AS count_order
FROM lineitem
WHERE l_shipdate <= TIMESTAMP '1998-09-02'
GROUP BY l_returnflag, l_linestatus
"""


def q_tpch_q3(spark, sf_dir):
    cust = _t(spark, sf_dir, "customer").where(F.col("c_mktsegment") == "BUILDING")
    orders = _t(spark, sf_dir, "orders").where(F.col("o_orderdate") < "1996-06-01")
    li = _t(spark, sf_dir, "lineitem").where(F.col("l_shipdate") > "1996-06-01")
    revenue = _dec(F.col("l_extendedprice")) * (
        F.lit(1).cast("decimal(12,2)") - _dec(F.col("l_discount"))
    )
    joined = (
        li.join(orders, li.l_orderkey == orders.o_orderkey)
        .join(F.broadcast(cust), orders.o_custkey == cust.c_custkey)
    )
    agg = joined.groupBy(
        "o_orderkey", F.col("o_orderdate").cast("date").alias("o_orderdate"), "o_orderpriority"
    ).agg(F.sum(revenue).cast("double").alias("revenue"))
    return agg.orderBy(F.col("revenue").desc(), F.col("o_orderkey")).limit(10)


SQL_TPCH_Q3 = """
SELECT o_orderkey, CAST(o_orderdate AS DATE) AS o_orderdate, o_orderpriority,
       CAST(SUM(CAST(l_extendedprice AS DECIMAL(12,2)) * (CAST(1 AS DECIMAL(12,2)) - CAST(l_discount AS DECIMAL(12,2)))) AS DOUBLE) AS revenue
FROM lineitem
JOIN orders ON l_orderkey = o_orderkey
JOIN customer ON o_custkey = c_custkey
WHERE c_mktsegment = 'BUILDING'
  AND o_orderdate < TIMESTAMP '1996-06-01'
  AND l_shipdate > TIMESTAMP '1996-06-01'
GROUP BY o_orderkey, CAST(o_orderdate AS DATE), o_orderpriority
ORDER BY revenue DESC, o_orderkey
LIMIT 10
"""


def q_tpch_q5_nation_revenue(spark, sf_dir):
    li = _t(spark, sf_dir, "lineitem")
    orders = _t(spark, sf_dir, "orders").where(
        (F.col("o_orderdate") >= "1995-01-01") & (F.col("o_orderdate") < "1996-01-01")
    )
    cust = _t(spark, sf_dir, "customer")
    nation = _t(spark, sf_dir, "nation")
    region = _t(spark, sf_dir, "region")
    revenue = _dec(F.col("l_extendedprice")) * (
        F.lit(1).cast("decimal(12,2)") - _dec(F.col("l_discount"))
    )
    joined = (
        li.join(orders, li.l_orderkey == orders.o_orderkey)
        .join(cust, orders.o_custkey == cust.c_custkey)
        .join(F.broadcast(nation), cust.c_nationkey == nation.n_nationkey)
        .join(F.broadcast(region), nation.n_regionkey == region.r_regionkey)
    )
    return joined.groupBy("r_name", "n_name").agg(
        F.sum(revenue).cast("double").alias("revenue"),
        F.count("*").alias("n_items"),
    )


SQL_TPCH_Q5_NATION_REVENUE = """
SELECT r_name, n_name,
       CAST(SUM(CAST(l_extendedprice AS DECIMAL(12,2)) * (CAST(1 AS DECIMAL(12,2)) - CAST(l_discount AS DECIMAL(12,2)))) AS DOUBLE) AS revenue,
       COUNT(*) AS n_items
FROM lineitem
JOIN orders ON l_orderkey = o_orderkey
JOIN customer ON o_custkey = c_custkey
JOIN nation ON c_nationkey = n_nationkey
JOIN region ON n_regionkey = r_regionkey
WHERE o_orderdate >= TIMESTAMP '1995-01-01' AND o_orderdate < TIMESTAMP '1996-01-01'
GROUP BY r_name, n_name
"""


def q_tpch_q6(spark, sf_dir):
    li = _t(spark, sf_dir, "lineitem").where(
        (F.col("l_shipdate") >= "1995-01-01")
        & (F.col("l_shipdate") < "1996-01-01")
        & (F.col("l_discount") >= 0.02)
        & (F.col("l_discount") <= 0.06)
        & (F.col("l_quantity") < 24)
    )
    revenue = _dec(F.col("l_extendedprice")) * _dec(F.col("l_discount"))
    return li.agg(
        F.sum(revenue).cast("double").alias("revenue"), F.count("*").alias("n_items")
    )


SQL_TPCH_Q6 = """
SELECT CAST(SUM(CAST(l_extendedprice AS DECIMAL(12,2)) * CAST(l_discount AS DECIMAL(12,2))) AS DOUBLE) AS revenue,
       COUNT(*) AS n_items
FROM lineitem
WHERE l_shipdate >= TIMESTAMP '1995-01-01' AND l_shipdate < TIMESTAMP '1996-01-01'
  AND l_discount >= 0.02 AND l_discount <= 0.06 AND l_quantity < 24
"""


def q_tpch_q10_returned(spark, sf_dir):
    """Q10-ish returned-item reporting: revenue per customer over
    l_returnflag='R' lineitems — a 4-table join tree Catalyst reorders,
    with the two small dims (customer, nation) broadcast."""
    li = _t(spark, sf_dir, "lineitem").where(F.col("l_returnflag") == "R")
    orders = _t(spark, sf_dir, "orders")
    cust = _t(spark, sf_dir, "customer")
    nation = _t(spark, sf_dir, "nation")
    rev = _dec(F.col("l_extendedprice")) * (F.lit(1).cast("decimal(12,2)") - _dec(F.col("l_discount")))
    j = (li.join(orders, F.col("l_orderkey") == F.col("o_orderkey"))
         .join(F.broadcast(cust), F.col("o_custkey") == F.col("c_custkey"))
         .join(F.broadcast(nation), F.col("c_nationkey") == F.col("n_nationkey")))
    return j.groupBy("c_custkey", "c_name", "n_name").agg(
        F.sum(rev).cast("double").alias("revenue"),
        F.count("*").alias("n_items"),
    )


SQL_TPCH_Q10_RETURNED = """
SELECT c_custkey, c_name, n_name,
       CAST(SUM(CAST(l_extendedprice AS DECIMAL(12,2)) *
                (CAST(1 AS DECIMAL(12,2)) - CAST(l_discount AS DECIMAL(12,2)))) AS DOUBLE) AS revenue,
       COUNT(*) AS n_items
FROM lineitem
JOIN orders ON l_orderkey = o_orderkey
JOIN customer ON o_custkey = c_custkey
JOIN nation ON c_nationkey = n_nationkey
WHERE l_returnflag = 'R'
GROUP BY c_custkey, c_name, n_name
"""


def q_tpch_q4_priority(spark, sf_dir):
    """Q4-ish order-priority checking: LEFT SEMI join (EXISTS) against
    returned lineitems, counted per priority — the semi-join operator."""
    orders = _t(spark, sf_dir, "orders")
    returned = _t(spark, sf_dir, "lineitem").where(F.col("l_returnflag") == "R")
    j = orders.join(
        returned, F.col("o_orderkey") == F.col("l_orderkey"), "left_semi"
    )
    return j.groupBy("o_orderpriority").agg(F.count("*").alias("order_count"))


SQL_TPCH_Q4_PRIORITY = """
SELECT o_orderpriority, COUNT(*) AS order_count
FROM orders
WHERE EXISTS (SELECT 1 FROM lineitem WHERE l_orderkey = o_orderkey AND l_returnflag = 'R')
GROUP BY o_orderpriority
"""


def q_tpch_q14_promo(spark, sf_dir):
    """Q14-ish promotion effect: conditional aggregate over a broadcast
    part join — exact DECIMAL math, ratio left to the consumer."""
    li = _t(spark, sf_dir, "lineitem")
    part = _t(spark, sf_dir, "part")
    rev = _dec(F.col("l_extendedprice")) * (F.lit(1).cast("decimal(12,2)") - _dec(F.col("l_discount")))
    j = li.join(F.broadcast(part), F.col("l_partkey") == F.col("p_partkey"))
    return j.agg(
        F.sum(F.when(F.col("p_type") == "PROMO", rev).otherwise(F.lit(0).cast("decimal(24,4)")))
        .cast("double").alias("promo_revenue"),
        F.sum(rev).cast("double").alias("total_revenue"),
    )


SQL_TPCH_Q14_PROMO = """
SELECT CAST(SUM(CASE WHEN p_type = 'PROMO'
                     THEN CAST(l_extendedprice AS DECIMAL(12,2)) *
                          (CAST(1 AS DECIMAL(12,2)) - CAST(l_discount AS DECIMAL(12,2)))
                     ELSE CAST(0 AS DECIMAL(24,4)) END) AS DOUBLE) AS promo_revenue,
       CAST(SUM(CAST(l_extendedprice AS DECIMAL(12,2)) *
                (CAST(1 AS DECIMAL(12,2)) - CAST(l_discount AS DECIMAL(12,2)))) AS DOUBLE) AS total_revenue
FROM lineitem JOIN part ON l_partkey = p_partkey
"""


def q_tpch_q7_volume(spark, sf_dir):
    """Q7-ish volume shipping: revenue between a nation pair per ship
    year. Two roles of the nation dim (supplier side vs customer side),
    both broadcast; lineitem->orders is the only big shuffle join."""
    li = _t(spark, sf_dir, "lineitem")
    orders = _t(spark, sf_dir, "orders")
    cust = _t(spark, sf_dir, "customer")
    supp = _t(spark, sf_dir, "supplier")
    n1 = _t(spark, sf_dir, "nation").select(
        F.col("n_nationkey").alias("s_nk"), F.col("n_name").alias("supp_nation")
    )
    n2 = _t(spark, sf_dir, "nation").select(
        F.col("n_nationkey").alias("c_nk"), F.col("n_name").alias("cust_nation")
    )
    rev = _dec(F.col("l_extendedprice")) * (F.lit(1).cast("decimal(12,2)") - _dec(F.col("l_discount")))
    j = (
        li.join(orders, F.col("l_orderkey") == F.col("o_orderkey"))
        .join(F.broadcast(supp), F.col("l_suppkey") == F.col("s_suppkey"))
        .join(F.broadcast(cust), F.col("o_custkey") == F.col("c_custkey"))
        .join(F.broadcast(n1), F.col("s_nationkey") == F.col("s_nk"))
        .join(F.broadcast(n2), F.col("c_nationkey") == F.col("c_nk"))
        .where(
            ((F.col("supp_nation") == "NATION_1") & (F.col("cust_nation") == "NATION_2"))
            | ((F.col("supp_nation") == "NATION_2") & (F.col("cust_nation") == "NATION_1"))
        )
    )
    return j.groupBy(
        "supp_nation", "cust_nation", F.year("l_shipdate").alias("l_year")
    ).agg(F.sum(rev).cast("double").alias("revenue"), F.count("*").alias("n_items"))


SQL_TPCH_Q7_VOLUME = """
SELECT supp_nation, cust_nation, l_year,
       CAST(SUM(rev) AS DOUBLE) AS revenue, COUNT(*) AS n_items
FROM (
  SELECT n1.n_name AS supp_nation, n2.n_name AS cust_nation,
         CAST(year(l_shipdate) AS INT) AS l_year,
         CAST(l_extendedprice AS DECIMAL(12,2)) * (CAST(1 AS DECIMAL(12,2)) - CAST(l_discount AS DECIMAL(12,2))) AS rev
  FROM lineitem
  JOIN orders ON l_orderkey = o_orderkey
  JOIN supplier ON l_suppkey = s_suppkey
  JOIN customer ON o_custkey = c_custkey
  JOIN nation n1 ON s_nationkey = n1.n_nationkey
  JOIN nation n2 ON c_nationkey = n2.n_nationkey
  WHERE (n1.n_name = 'NATION_1' AND n2.n_name = 'NATION_2')
     OR (n1.n_name = 'NATION_2' AND n2.n_name = 'NATION_1')
)
GROUP BY supp_nation, cust_nation, l_year
"""


def q_tpch_q8_share(spark, sf_dir):
    """Q8-ish market share: NATION_7 suppliers' share of EUROPE-customer
    ECONOMY-part revenue per order year. Ratio of two exact DECIMAL sums,
    divided as DOUBLE only at the end (bit-reproducible)."""
    li = _t(spark, sf_dir, "lineitem")
    orders = _t(spark, sf_dir, "orders")
    cust = _t(spark, sf_dir, "customer")
    supp = _t(spark, sf_dir, "supplier")
    part = _t(spark, sf_dir, "part").where(F.col("p_type") == "ECONOMY")
    nat_c = _t(spark, sf_dir, "nation").select(
        F.col("n_nationkey").alias("c_nk"), F.col("n_regionkey").alias("c_rk")
    )
    nat_s = _t(spark, sf_dir, "nation").select(
        F.col("n_nationkey").alias("s_nk"), F.col("n_name").alias("supp_nation")
    )
    region = _t(spark, sf_dir, "region").where(F.col("r_name") == "EUROPE")
    rev = _dec(F.col("l_extendedprice")) * (F.lit(1).cast("decimal(12,2)") - _dec(F.col("l_discount")))
    j = (
        li.join(F.broadcast(part), F.col("l_partkey") == F.col("p_partkey"))
        .join(orders, F.col("l_orderkey") == F.col("o_orderkey"))
        .join(F.broadcast(cust), F.col("o_custkey") == F.col("c_custkey"))
        .join(F.broadcast(supp), F.col("l_suppkey") == F.col("s_suppkey"))
        .join(F.broadcast(nat_c), F.col("c_nationkey") == F.col("c_nk"))
        .join(F.broadcast(region), F.col("c_rk") == F.col("r_regionkey"))
        .join(F.broadcast(nat_s), F.col("s_nationkey") == F.col("s_nk"))
    )
    zero = F.lit(0).cast("decimal(24,4)")
    agg = j.groupBy(F.year("o_orderdate").alias("o_year")).agg(
        F.sum(F.when(F.col("supp_nation") == "NATION_7", rev).otherwise(zero))
        .cast("double").alias("nation_revenue"),
        F.sum(rev).cast("double").alias("total_revenue"),
    )
    return agg.withColumn(
        "mkt_share", F.col("nation_revenue") / F.col("total_revenue")
    )


SQL_TPCH_Q8_SHARE = """
SELECT o_year, nation_revenue, total_revenue, nation_revenue / total_revenue AS mkt_share
FROM (
  SELECT CAST(year(o_orderdate) AS INT) AS o_year,
         CAST(SUM(CASE WHEN n2.n_name = 'NATION_7'
                       THEN CAST(l_extendedprice AS DECIMAL(12,2)) * (CAST(1 AS DECIMAL(12,2)) - CAST(l_discount AS DECIMAL(12,2)))
                       ELSE CAST(0 AS DECIMAL(24,4)) END) AS DOUBLE) AS nation_revenue,
         CAST(SUM(CAST(l_extendedprice AS DECIMAL(12,2)) * (CAST(1 AS DECIMAL(12,2)) - CAST(l_discount AS DECIMAL(12,2)))) AS DOUBLE) AS total_revenue
  FROM lineitem
  JOIN part ON l_partkey = p_partkey
  JOIN orders ON l_orderkey = o_orderkey
  JOIN customer ON o_custkey = c_custkey
  JOIN supplier ON l_suppkey = s_suppkey
  JOIN nation n1 ON c_nationkey = n1.n_nationkey
  JOIN region ON n1.n_regionkey = r_regionkey
  JOIN nation n2 ON s_nationkey = n2.n_nationkey
  WHERE p_type = 'ECONOMY' AND r_name = 'EUROPE'
  GROUP BY year(o_orderdate)
)
"""


def q_tpch_q9_profit(spark, sf_dir):
    """Q9-ish product-type profit: per supplier nation per order year,
    profit = revenue - retailprice*qty over parts named like '%red%'
    (the schema has no partsupp/supplycost; retail price is the cost
    proxy). All money math DECIMAL-exact until the final cast."""
    li = _t(spark, sf_dir, "lineitem")
    orders = _t(spark, sf_dir, "orders")
    supp = _t(spark, sf_dir, "supplier")
    part = _t(spark, sf_dir, "part").where(F.col("p_name").like("%red%"))
    nation = _t(spark, sf_dir, "nation")
    amount = (
        _dec(F.col("l_extendedprice")) * (F.lit(1).cast("decimal(12,2)") - _dec(F.col("l_discount")))
        - _dec(F.col("p_retailprice")) * _dec(F.col("l_quantity"))
    )
    j = (
        li.join(F.broadcast(part), F.col("l_partkey") == F.col("p_partkey"))
        .join(orders, F.col("l_orderkey") == F.col("o_orderkey"))
        .join(F.broadcast(supp), F.col("l_suppkey") == F.col("s_suppkey"))
        .join(F.broadcast(nation), F.col("s_nationkey") == F.col("n_nationkey"))
    )
    return j.groupBy(
        F.col("n_name").alias("nation"), F.year("o_orderdate").alias("o_year")
    ).agg(F.sum(amount).cast("double").alias("sum_profit"), F.count("*").alias("n_items"))


SQL_TPCH_Q9_PROFIT = """
SELECT n_name AS nation, CAST(year(o_orderdate) AS INT) AS o_year,
       CAST(SUM(CAST(l_extendedprice AS DECIMAL(12,2)) * (CAST(1 AS DECIMAL(12,2)) - CAST(l_discount AS DECIMAL(12,2)))
                - CAST(p_retailprice AS DECIMAL(12,2)) * CAST(l_quantity AS DECIMAL(12,2))) AS DOUBLE) AS sum_profit,
       COUNT(*) AS n_items
FROM lineitem
JOIN part ON l_partkey = p_partkey
JOIN orders ON l_orderkey = o_orderkey
JOIN supplier ON l_suppkey = s_suppkey
JOIN nation ON s_nationkey = n_nationkey
WHERE p_name LIKE '%red%'
GROUP BY n_name, year(o_orderdate)
"""


def q_tpch_q12_late(spark, sf_dir):
    """Q12-ish late-shipment audit: lineitems shipped >90 days after the
    order date, split by order priority (the schema has no
    commit/receipt dates or shipmode; shipdate-vs-orderdate lag is the
    equivalent predicate). Conditional aggregate over one shuffle join."""
    li = _t(spark, sf_dir, "lineitem")
    orders = _t(spark, sf_dir, "orders")
    j = li.join(orders, F.col("l_orderkey") == F.col("o_orderkey"))
    late = F.col("l_shipdate") > F.col("o_orderdate") + F.expr("INTERVAL 90 DAYS")
    return j.groupBy("o_orderpriority").agg(
        F.sum(late.cast("bigint")).alias("late_count"),
        F.count("*").alias("total_count"),
    )


SQL_TPCH_Q12_LATE = """
SELECT o_orderpriority,
       CAST(SUM(CASE WHEN l_shipdate > o_orderdate + INTERVAL 90 DAY THEN 1 ELSE 0 END) AS BIGINT) AS late_count,
       COUNT(*) AS total_count
FROM lineitem JOIN orders ON l_orderkey = o_orderkey
GROUP BY o_orderpriority
"""


def q_tpch_q13_custdist(spark, sf_dir):
    """Q13 customer distribution: LEFT OUTER join with a join-time
    predicate (non-urgent orders only), then a two-level aggregate —
    the outer-join + conditional-count shape."""
    cust = _t(spark, sf_dir, "customer")
    orders = _t(spark, sf_dir, "orders").where(F.col("o_orderpriority") != "1-URGENT")
    per_cust = (
        cust.join(orders, cust.c_custkey == orders.o_custkey, "left_outer")
        .groupBy("c_custkey")
        .agg(F.count("o_orderkey").alias("c_count"))
    )
    return per_cust.groupBy("c_count").agg(F.count("*").alias("custdist"))


SQL_TPCH_Q13_CUSTDIST = """
SELECT c_count, COUNT(*) AS custdist
FROM (
  SELECT c_custkey, COUNT(o_orderkey) AS c_count
  FROM customer
  LEFT OUTER JOIN orders ON c_custkey = o_custkey AND o_orderpriority <> '1-URGENT'
  GROUP BY c_custkey
)
GROUP BY c_count
"""


def q_tpch_q15_top_supplier(spark, sf_dir):
    """Q15 top supplier: quarterly revenue per supplier, then keep the
    supplier(s) matching the global max — the scalar-subquery-vs-agg
    shape, expressed as a broadcast join against a 1-row max."""
    li = _t(spark, sf_dir, "lineitem").where(
        (F.col("l_shipdate") >= "1996-01-01") & (F.col("l_shipdate") < "1996-04-01")
    )
    rev = _dec(F.col("l_extendedprice")) * (F.lit(1).cast("decimal(12,2)") - _dec(F.col("l_discount")))
    per_supp = li.groupBy(F.col("l_suppkey").alias("supplier_no")).agg(
        F.sum(rev).cast("double").alias("total_revenue")
    )
    top = per_supp.agg(F.max("total_revenue").alias("max_revenue"))
    supp = _t(spark, sf_dir, "supplier")
    return (
        per_supp.join(F.broadcast(top), F.col("total_revenue") == F.col("max_revenue"))
        .join(F.broadcast(supp), F.col("supplier_no") == F.col("s_suppkey"))
        .select("s_suppkey", "s_name", "total_revenue")
    )


SQL_TPCH_Q15_TOP_SUPPLIER = """
WITH rev AS (
  SELECT l_suppkey AS supplier_no,
         CAST(SUM(CAST(l_extendedprice AS DECIMAL(12,2)) * (CAST(1 AS DECIMAL(12,2)) - CAST(l_discount AS DECIMAL(12,2)))) AS DOUBLE) AS total_revenue
  FROM lineitem
  WHERE l_shipdate >= TIMESTAMP '1996-01-01' AND l_shipdate < TIMESTAMP '1996-04-01'
  GROUP BY l_suppkey
)
SELECT s_suppkey, s_name, total_revenue
FROM supplier JOIN rev ON s_suppkey = supplier_no
WHERE total_revenue = (SELECT MAX(total_revenue) FROM rev)
"""


def q_tpch_q16_supplier_cnt(spark, sf_dir):
    """Q16-ish supplier count: distinct suppliers per (brand, type,
    size) bucket over an excluded-brand part filter (no partsupp in the
    schema; lineitem supplies the part-supplier pairs). COUNT(DISTINCT)
    after a broadcast join."""
    li = _t(spark, sf_dir, "lineitem")
    part = _t(spark, sf_dir, "part").where(
        (F.col("p_brand") != "Brand#5")
        & (F.col("p_type") != "PROMO")
        & F.col("p_size").isin(1, 4, 9, 16, 25, 36, 49)
    )
    j = li.join(F.broadcast(part), F.col("l_partkey") == F.col("p_partkey"))
    return j.groupBy("p_brand", "p_type", "p_size").agg(
        F.countDistinct("l_suppkey").alias("supplier_cnt")
    )


SQL_TPCH_Q16_SUPPLIER_CNT = """
SELECT p_brand, p_type, p_size, COUNT(DISTINCT l_suppkey) AS supplier_cnt
FROM lineitem JOIN part ON l_partkey = p_partkey
WHERE p_brand <> 'Brand#5' AND p_type <> 'PROMO' AND p_size IN (1, 4, 9, 16, 25, 36, 49)
GROUP BY p_brand, p_type, p_size
"""


def q_tpch_q2_min_cost(spark, sf_dir):
    """Q2-ish minimum-cost supplier: for every part in a size/type
    slice, the supplier offering the lowest unit cost (lineitem supplies
    the part-supplier cost pairs; no partsupp in this schema), suppliers
    restricted to one region via the nation dim. The correlated MIN is a
    window rank over (cost, suppkey) — ties deterministic; unit cost is
    a single float division, and MIN is order-independent, so no float
    sums cross engines (r9)."""
    li = _t(spark, sf_dir, "lineitem")
    part = _t(spark, sf_dir, "part").where(
        (F.col("p_size") <= 15) & (F.col("p_type") == "STANDARD")
    )
    supp = _t(spark, sf_dir, "supplier")
    nat = _t(spark, sf_dir, "nation").where(F.col("n_regionkey") == 1)
    cost = (
        li.join(F.broadcast(part), F.col("l_partkey") == F.col("p_partkey"))
        .join(F.broadcast(
            supp.join(F.broadcast(nat),
                      F.col("s_nationkey") == F.col("n_nationkey"))
            .select("s_suppkey", "s_name", "n_name")),
            F.col("l_suppkey") == F.col("s_suppkey"))
        .groupBy("p_partkey", "p_type", "p_size", "s_suppkey", "s_name",
                 "n_name")
        .agg(F.min(F.col("l_extendedprice") / F.col("l_quantity"))
             .alias("unit_cost"))
    )
    w = Window.partitionBy("p_partkey").orderBy(
        F.col("unit_cost").asc(), F.col("s_suppkey").asc())
    return (
        cost.withColumn("rk", F.row_number().over(w))
        .where(F.col("rk") == 1)
        .select("p_partkey", "p_type", "p_size", "s_suppkey", "s_name",
                "n_name", "unit_cost")
    )


SQL_TPCH_Q2_MIN_COST = """
WITH cost AS (
  SELECT p_partkey, p_type, p_size, s_suppkey, s_name, n_name,
         MIN(l_extendedprice / l_quantity) AS unit_cost
  FROM lineitem
  JOIN part ON l_partkey = p_partkey
  JOIN supplier ON l_suppkey = s_suppkey
  JOIN nation ON s_nationkey = n_nationkey
  WHERE p_size <= 15 AND p_type = 'STANDARD' AND n_regionkey = 1
  GROUP BY ALL
),
rk AS (
  SELECT *, row_number() OVER (PARTITION BY p_partkey
                               ORDER BY unit_cost ASC, s_suppkey ASC) AS r
  FROM cost
)
SELECT p_partkey, p_type, p_size, s_suppkey, s_name, n_name, unit_cost
FROM rk WHERE r = 1
"""


def q_tpch_q11_important_stock(spark, sf_dir):
    """Q11-ish important stock: per-part inventory value (exact cents —
    SUM of BIGINT, order-independent) for suppliers of one nation, kept
    when above twice the mean part value (scale-free threshold; the
    scalar-subquery HAVING as a cross-joined broadcast literal, exact
    integer cross-multiplication) (r9)."""
    li = _t(spark, sf_dir, "lineitem")
    supp = _t(spark, sf_dir, "supplier").where(F.col("s_nationkey") == 7)
    j = li.join(F.broadcast(supp), F.col("l_suppkey") == F.col("s_suppkey"))
    val = j.groupBy("l_partkey").agg(
        F.sum(F.round(F.col("l_extendedprice") * 100).cast("long"))
        .alias("value_cents")
    )
    total = val.agg(F.sum("value_cents").alias("total_cents"),
                    F.count("*").alias("n_parts"))
    return (
        val.crossJoin(F.broadcast(total))
        .where(F.col("value_cents") * F.col("n_parts")
               > F.col("total_cents") * F.lit(2))
        .select("l_partkey", "value_cents")
    )


SQL_TPCH_Q11_IMPORTANT_STOCK = """
WITH val AS (
  SELECT l_partkey,
         SUM(CAST(round(l_extendedprice * 100) AS BIGINT)) AS value_cents
  FROM lineitem JOIN supplier ON l_suppkey = s_suppkey
  WHERE s_nationkey = 7
  GROUP BY l_partkey
)
SELECT l_partkey, CAST(value_cents AS BIGINT) AS value_cents
FROM val
WHERE value_cents * (SELECT COUNT(*) FROM val)
      > (SELECT SUM(value_cents) FROM val) * 2
"""


def q_tpch_q17_small_qty(spark, sf_dir):
    """Q17 small-quantity-order revenue: lineitems under 20% of their
    part's average quantity, for one brand. The correlated-average
    rewritten as an aggregate + equi-join on partkey (the per-part
    average sum is exact: integer-valued doubles)."""
    li = _t(spark, sf_dir, "lineitem")
    part = _t(spark, sf_dir, "part").where(F.col("p_brand") == "Brand#12")
    avg_qty = li.groupBy(F.col("l_partkey").alias("ap_partkey")).agg(
        F.avg("l_quantity").alias("avg_quantity")
    )
    j = (
        li.join(F.broadcast(part), F.col("l_partkey") == F.col("p_partkey"))
        .join(avg_qty, F.col("l_partkey") == F.col("ap_partkey"))
        .where(F.col("l_quantity") < 0.2 * F.col("avg_quantity"))
    )
    return j.agg(
        (F.sum(_dec(F.col("l_extendedprice"))).cast("double") / F.lit(7.0)).alias("avg_yearly"),
        F.count("*").alias("n_items"),
    )


SQL_TPCH_Q17_SMALL_QTY = """
SELECT CAST(SUM(CAST(l_extendedprice AS DECIMAL(12,2))) AS DOUBLE) / 7.0 AS avg_yearly,
       COUNT(*) AS n_items
FROM lineitem
JOIN part ON l_partkey = p_partkey
JOIN (SELECT l_partkey AS ap_partkey, AVG(l_quantity) AS avg_quantity
      FROM lineitem GROUP BY l_partkey) a ON l_partkey = ap_partkey
WHERE p_brand = 'Brand#12' AND l_quantity < 0.2 * avg_quantity
"""


def q_tpch_q18_large_orders(spark, sf_dir):
    """Q18 large-volume customers: orders whose total quantity exceeds
    300 (HAVING → filter-after-agg), joined back to customer/orders —
    the semi-join-on-aggregate shape."""
    li = _t(spark, sf_dir, "lineitem")
    big = (
        li.groupBy(F.col("l_orderkey").alias("b_orderkey"))
        .agg(F.sum("l_quantity").alias("sum_qty"))
        .where(F.col("sum_qty") > 300)
    )
    orders = _t(spark, sf_dir, "orders")
    cust = _t(spark, sf_dir, "customer")
    return (
        big.join(orders, F.col("b_orderkey") == F.col("o_orderkey"))
        .join(F.broadcast(cust), F.col("o_custkey") == F.col("c_custkey"))
        .select(
            "c_custkey", "c_name", "o_orderkey",
            F.col("o_orderdate").cast("date").alias("o_orderdate"),
            "o_totalprice", "sum_qty",
        )
    )


SQL_TPCH_Q18_LARGE_ORDERS = """
SELECT c_custkey, c_name, o_orderkey, CAST(o_orderdate AS DATE) AS o_orderdate,
       o_totalprice, sum_qty
FROM (SELECT l_orderkey AS b_orderkey, SUM(l_quantity) AS sum_qty
      FROM lineitem GROUP BY l_orderkey HAVING SUM(l_quantity) > 300) b
JOIN orders ON b_orderkey = o_orderkey
JOIN customer ON o_custkey = c_custkey
"""


def q_tpch_q19_disjunct(spark, sf_dir):
    """Q19 discounted revenue: three disjunctive brand/size/quantity
    clauses — the OR-of-ANDs predicate Catalyst must keep pushable on
    the shared conjuncts (the part join key)."""
    li = _t(spark, sf_dir, "lineitem")
    part = _t(spark, sf_dir, "part")
    rev = _dec(F.col("l_extendedprice")) * (F.lit(1).cast("decimal(12,2)") - _dec(F.col("l_discount")))
    j = li.join(F.broadcast(part), F.col("l_partkey") == F.col("p_partkey"))
    cond = (
        ((F.col("p_brand") == "Brand#3") & F.col("p_size").between(1, 15) & F.col("l_quantity").between(1, 11))
        | ((F.col("p_brand") == "Brand#14") & F.col("p_size").between(1, 25) & F.col("l_quantity").between(10, 20))
        | ((F.col("p_brand") == "Brand#21") & F.col("p_size").between(1, 35) & F.col("l_quantity").between(20, 30))
    )
    return j.where(cond).agg(
        F.sum(rev).cast("double").alias("revenue"), F.count("*").alias("n_items")
    )


SQL_TPCH_Q19_DISJUNCT = """
SELECT CAST(SUM(CAST(l_extendedprice AS DECIMAL(12,2)) * (CAST(1 AS DECIMAL(12,2)) - CAST(l_discount AS DECIMAL(12,2)))) AS DOUBLE) AS revenue,
       COUNT(*) AS n_items
FROM lineitem JOIN part ON l_partkey = p_partkey
WHERE (p_brand = 'Brand#3'  AND p_size BETWEEN 1 AND 15 AND l_quantity BETWEEN 1 AND 11)
   OR (p_brand = 'Brand#14' AND p_size BETWEEN 1 AND 25 AND l_quantity BETWEEN 10 AND 20)
   OR (p_brand = 'Brand#21' AND p_size BETWEEN 1 AND 35 AND l_quantity BETWEEN 20 AND 30)
"""


def q_tpch_q21_sole_latest(spark, sf_dir):
    """Q21-ish waiting-supplier audit (no commit/receipt dates in the
    schema): for finished orders with lines from multiple suppliers,
    count per supplier the lines that are the strictly-latest shipment
    in their order.

    The naive plan is EXISTS + NOT EXISTS — two lineitem self-joins
    (three shuffles of the fact table). Through r15 this was rewritten
    as two aggregations joined back to lineitem — correct, but the
    joins re-shuffled the fact table on (orderkey, suppkey) and again
    on orderkey. r16 collapsed the derivation into WINDOW functions;
    r17 fixes the shuffle shape those windows plan to: left alone,
    Catalyst exchanges on (l_orderkey, l_suppkey) for the per-supplier
    windows and AGAIN on l_orderkey for the per-order ones — two fact
    exchanges, because hash(o, s) does not satisfy clustering on (o).
    An explicit repartition on l_orderkey BEFORE the windows flips
    that: hash(o) satisfies ClusteredDistribution for BOTH window
    families (a subset of each partition spec), so every window runs
    over that single fact exchange with only per-family sorts (guide
    §2.4; measured −16% in-session, plan shows 2 fact hash exchanges
    → 1 + the final s_name aggregate). Per-(order, supplier) max
    shipdate, first-line-of-supplier flags (supplier count), per-order
    top-1/top-2 maxima and the tie count all derive there; a line is
    "latest vs the other suppliers" iff its shipdate >= the
    other-supplier maximum, derived from (m1, cnt_m1, m2).

    The finished-orders semi-join keeps an explicit broadcast hint:
    valid at BENCHMARK scale (ADVICE r16 — at a true 100 TB shape,
    status-F orders are fact-sized and the forced broadcast would OOM;
    measured here, dropping the hint costs +19-40% because the planner
    picks a sort-merge semi-join, so the hint stays with this caveat
    recorded instead). The DuckDB oracle keeps the declarative EXISTS
    form, so the gate also proves the rewrite."""
    li = _t(spark, sf_dir, "lineitem")
    orders = _t(spark, sf_dir, "orders").where(F.col("o_orderstatus") == "F")
    supp = _t(spark, sf_dir, "supplier")
    wos = Window.partitionBy("l_orderkey", "l_suppkey")
    wosr = Window.partitionBy("l_orderkey", "l_suppkey").orderBy("l_linenumber")
    wo = Window.partitionBy("l_orderkey")
    t = (
        li.select("l_orderkey", "l_suppkey", "l_shipdate", "l_linenumber")
        .join(F.broadcast(orders.select("o_orderkey")),
              F.col("l_orderkey") == F.col("o_orderkey"))
        .drop("o_orderkey")
        .repartition("l_orderkey")
        .withColumn("ms", F.max("l_shipdate").over(wos))
        .withColumn("first_s", (F.row_number().over(wosr) == 1).cast("int"))
        .withColumn("n_supp", F.sum("first_s").over(wo))
        .withColumn("m1", F.max("ms").over(wo))
    )
    t = t.withColumn(
        "cnt_m1",
        F.sum(F.when((F.col("ms") == F.col("m1")) & (F.col("first_s") == 1),
                     1).otherwise(0)).over(wo),
    ).withColumn("m2", F.max(F.when(F.col("ms") < F.col("m1"),
                                    F.col("ms"))).over(wo))
    other_max = F.when(
        (F.col("ms") < F.col("m1")) | (F.col("cnt_m1") > 1), F.col("m1")
    ).otherwise(F.col("m2"))
    waited = t.where((F.col("n_supp") > 1)
                     & (F.col("l_shipdate") >= other_max))
    return (
        waited.join(F.broadcast(supp), F.col("l_suppkey") == F.col("s_suppkey"))
        .groupBy("s_name")
        .agg(F.count("*").alias("numwait"))
    )


SQL_TPCH_Q21_SOLE_LATEST = """
SELECT s_name, COUNT(*) AS numwait
FROM lineitem l1
JOIN orders ON l1.l_orderkey = o_orderkey
JOIN supplier ON l1.l_suppkey = s_suppkey
WHERE o_orderstatus = 'F'
  AND EXISTS (SELECT 1 FROM lineitem l2
              WHERE l2.l_orderkey = l1.l_orderkey AND l2.l_suppkey <> l1.l_suppkey)
  AND NOT EXISTS (SELECT 1 FROM lineitem l3
                  WHERE l3.l_orderkey = l1.l_orderkey AND l3.l_suppkey <> l1.l_suppkey
                    AND l3.l_shipdate > l1.l_shipdate)
GROUP BY s_name
"""


def q_tpch_q22_idle_cust(spark, sf_dir):
    """Q22-ish global-sales-opportunity: per nation, the count and total
    balance of above-average-balance customers with no urgent orders —
    scalar aggregate (broadcast 1-row cross join) + anti-join. The
    average is DECIMAL-sum-exact before the DOUBLE division."""
    cust = _t(spark, sf_dir, "customer")
    urgent = _t(spark, sf_dir, "orders").where(F.col("o_orderpriority") == "1-URGENT")
    avg_bal = (
        cust.where(F.col("c_acctbal") > 0.0)
        .agg((F.sum(_dec(F.col("c_acctbal"))).cast("double") / F.count("*")).alias("avg_bal"))
    )
    rich = cust.crossJoin(F.broadcast(avg_bal)).where(F.col("c_acctbal") > F.col("avg_bal"))
    no_urgent = rich.join(
        urgent, F.col("c_custkey") == F.col("o_custkey"), "left_anti"
    )
    return no_urgent.groupBy(F.col("c_nationkey").alias("nationkey")).agg(
        F.count("*").alias("numcust"),
        F.sum(_dec(F.col("c_acctbal"))).cast("double").alias("totacctbal"),
    )


SQL_TPCH_Q22_IDLE_CUST = """
SELECT c_nationkey AS nationkey, COUNT(*) AS numcust,
       CAST(SUM(CAST(c_acctbal AS DECIMAL(12,2))) AS DOUBLE) AS totacctbal
FROM customer
WHERE c_acctbal > (SELECT CAST(SUM(CAST(c_acctbal AS DECIMAL(12,2))) AS DOUBLE) / COUNT(*)
                   FROM customer WHERE c_acctbal > 0.0)
  AND NOT EXISTS (SELECT 1 FROM orders
                  WHERE o_custkey = c_custkey AND o_orderpriority = '1-URGENT')
GROUP BY c_nationkey
"""


def q_text_chunks(spark, sf_dir):
    """Overlapping fixed-size chunking over documents (size=120,
    overlap=30): map-only sequence+explode+substring, no shuffle."""
    docs = _t(spark, sf_dir, "documents")
    return ftext.chunk_documents(docs, size=120, overlap=30)


SQL_TEXT_CHUNKS = """
SELECT doc_id, chunk_id,
       CAST(chunk_id * 90 AS INT) AS chunk_start,
       SUBSTRING(text, CAST(chunk_id * 90 + 1 AS INT), 120) AS chunk_text,
       CAST(length(SUBSTRING(text, CAST(chunk_id * 90 + 1 AS INT), 120)) AS INT) AS n_chunk_chars
FROM (
  SELECT doc_id, text,
         UNNEST(range(0, GREATEST(CAST(1 AS BIGINT), (length(text) - 30 + 89) // 90))) AS chunk_id
  FROM documents
)
"""


def q_graph_pagerank(spark, sf_dir):
    """Integer-exact PageRank (5 rounds) over the undirected bipartite
    customer-supplier graph derived from lineitem x orders — the
    iterative join+aggregate (Pregel) shape, oracle-checked against a
    fully unrolled SQL recursion.

    The edge source is pinned (``materialize``) before the operator
    (r17, VERDICT r16 #7) — exactly the "materialize expensive sources
    first" advice in ``pagerank``'s own docstring: the fact-join + distinct lineage
    otherwise re-enters Catalyst under every per-round branch
    (measured −11% in-session at sf0.1; the same A/B on a CHEAP 20k-
    node source showed pinning inside the operator regresses 2.8x at
    20 rounds, so the pin belongs at the expensive-source call site,
    not in ``pagerank`` itself — experiment re-run and re-declined)."""
    from ..functions import graph as fgraph

    li = _t(spark, sf_dir, "lineitem")
    orders = _t(spark, sf_dir, "orders")
    edges = materialize(
        li.join(orders, F.col("l_orderkey") == F.col("o_orderkey"))
        .select(
            F.col("o_custkey").alias("src"),
            (F.lit(10_000_000) + F.col("l_suppkey")).alias("dst"),
        )
        .distinct()
    )
    return fgraph.pagerank(edges, iterations=5, undirected=True)


def _sql_pagerank(iterations: int = 5) -> str:
    """Unrolled integer-PageRank oracle (DuckDB lacks grouped recursion
    in recursive CTEs; a fixed iteration count unrolls cleanly)."""
    ctes = [
        """pairs AS (
  SELECT DISTINCT o_custkey AS c, l_suppkey AS s
  FROM lineitem JOIN orders ON l_orderkey = o_orderkey
)""",
        """edges AS (
  SELECT c AS src, 10000000 + s AS dst FROM pairs
  UNION ALL
  SELECT 10000000 + s AS src, c AS dst FROM pairs
)""",
        "deg AS (SELECT src, COUNT(*) AS out_deg FROM edges GROUP BY src)",
        """nodes AS (
  SELECT DISTINCT node
  FROM (SELECT src AS node FROM edges UNION ALL SELECT dst AS node FROM edges)
)""",
        "r0 AS (SELECT node, CAST(1000000 AS BIGINT) AS pr FROM nodes)",
    ]
    for i in range(1, iterations + 1):
        ctes.append(f"""r{i} AS (
  SELECT n.node,
         CAST(150000 + (850000 * COALESCE(SUM(r.pr // d.out_deg), 0)) // 1000000 AS BIGINT) AS pr
  FROM nodes n
  LEFT JOIN edges e ON e.dst = n.node
  LEFT JOIN r{i - 1} r ON r.node = e.src
  LEFT JOIN deg d ON d.src = e.src
  GROUP BY n.node
)""")
    return "WITH " + ",\n".join(ctes) + f"\nSELECT node, pr FROM r{iterations}"


SQL_GRAPH_PAGERANK = _sql_pagerank(5)


def q_text_lm_score(spark, sf_dir):
    """Self-trained bigram LM fluency scoring (perplexity-proxy quality
    filter) — integer parts-per-million contract, see
    functions/text.py::bigram_lm_score."""
    return ftext.bigram_lm_score(_t(spark, sf_dir, "documents"))


def q_text_dsir_select(spark, sf_dir):
    """DSIR data selection (hashed-bigram importance resampling, Xie et
    al. 2023): English documents are the target domain, the rest the
    raw pool; every raw doc gets an integer-ppm likelihood-ratio weight
    over 4096 md5-hashed bigram buckets and the top quarter is
    deterministically selected — functions/text.py::dsir_weights. The
    oracle re-derives bucket counts, weights, rank and selection in
    pure SQL with the identical integer arithmetic."""
    docs = _t(spark, sf_dir, "documents").withColumn(
        "is_target", F.col("lang") == "en")
    return ftext.dsir_weights(docs, target_col="is_target",
                              buckets=4096, select_ppm=250_000)


SQL_TEXT_DSIR_SELECT = r"""
WITH t AS (
  SELECT doc_id, lang = 'en' AS is_t,
         string_split_regex(trim(text), '\s+') AS toks
  FROM documents
), occ AS (
  SELECT doc_id, is_t,
         (('0x' || substr(md5(toks[i] || ' ' || toks[i + 1]), 1, 15))::BIGINT)
           % 4096 AS bucket
  FROM t, UNNEST(generate_series(1, len(toks) - 1)) AS u(i)
), counts AS (
  SELECT bucket,
         SUM(CASE WHEN is_t THEN 1 ELSE 0 END) AS c_t,
         SUM(CASE WHEN is_t THEN 0 ELSE 1 END) AS c_r
  FROM occ GROUP BY bucket
), tot AS (
  SELECT SUM(c_t) AS tt, SUM(c_r) AS rr FROM counts
), scored AS (
  SELECT doc_id,
         SUM((1000000 * (c_t + 1)) // (c_r + 1)) AS rsum,
         COUNT(*) AS n_grams
  FROM occ JOIN counts USING (bucket) GROUP BY doc_id
), weighted AS (
  SELECT d.doc_id, d.lang = 'en' AS is_target,
         COALESCE(n_grams, 0) AS n_grams,
         CASE WHEN COALESCE(n_grams, 0) = 0 THEN 0
              ELSE ((rsum // n_grams)
                    * ((1000000 * (rr + 4096)) // (tt + 4096))) // 1000000
         END AS weight_ppm
  FROM documents d LEFT JOIN scored USING (doc_id) CROSS JOIN tot
), ranked AS (
  SELECT *,
         ROW_NUMBER() OVER (ORDER BY CAST(is_target AS INT),
                            weight_ppm DESC, doc_id) AS rk,
         SUM(CASE WHEN NOT is_target THEN 1 ELSE 0 END) OVER () AS n_raw
  FROM weighted
)
SELECT doc_id, is_target, CAST(n_grams AS BIGINT) AS n_grams,
       CAST(weight_ppm AS BIGINT) AS weight_ppm,
       CAST(CASE WHEN NOT is_target
                  AND rk <= (250000 * n_raw) // 1000000
                 THEN 1 ELSE 0 END AS INT) AS selected
FROM ranked
"""


BM25_TERMS = ["hash", "join", "stream", "vector"]


def q_text_bm25(spark, sf_dir):
    """Integer-exact BM25 relevance of every document against a fixed
    term set (retrieval/quality scoring for corpus curation) — rational
    idf in milli units + integer length normalization, bit-reproducible
    in any engine; see functions/text.py::bm25_score."""
    return ftext.bm25_score(_t(spark, sf_dir, "documents"), BM25_TERMS)


SQL_TEXT_BM25 = r"""
WITH t AS (
  SELECT doc_id, string_split_regex(trim(text), '\s+') AS toks FROM documents
), d AS (
  SELECT doc_id, CAST(len(toks) AS BIGINT) AS dl, toks FROM t
), stats AS (
  SELECT COUNT(*) AS n_docs, SUM(dl) AS t_tokens FROM d
), occ AS (
  SELECT doc_id, dl, u.w AS w FROM d, UNNEST(toks) AS u(w)
  WHERE u.w IN ('hash', 'join', 'stream', 'vector')
), tft AS (
  SELECT doc_id, dl, w, COUNT(*) AS tfreq FROM occ GROUP BY 1, 2, 3
), dfreq AS (
  SELECT w, COUNT(*) AS df FROM tft GROUP BY w
), contrib AS (
  SELECT tft.doc_id,
         ((1000 * (2 * (n_docs - df) + 1)) // (2 * df + 1)) * tfreq * 2200
           // ((1000 * tfreq * t_tokens + 300 * t_tokens + 900 * dl * n_docs)
               // t_tokens) AS c
  FROM tft JOIN dfreq USING (w), stats
), agg AS (
  SELECT doc_id, CAST(SUM(c) AS BIGINT) AS score_milli,
         COUNT(*) AS n_terms_hit
  FROM contrib GROUP BY doc_id
)
SELECT documents.doc_id,
       CAST(COALESCE(score_milli, 0) AS BIGINT) AS score_milli,
       CAST(COALESCE(n_terms_hit, 0) AS BIGINT) AS n_terms_hit
FROM documents LEFT JOIN agg USING (doc_id)
"""


SQL_TEXT_LM_SCORE = r"""
WITH t AS (
  SELECT doc_id, string_split_regex(trim(text), '\s+') AS toks FROM documents
), b AS (
  SELECT doc_id, toks[i] AS w1, toks[i + 1] AS w2
  FROM t, UNNEST(generate_series(1, len(toks) - 1)) AS u(i)
), cbi AS (
  SELECT w1, w2, COUNT(*) AS c_bi FROM b GROUP BY w1, w2
), cctx AS (
  SELECT w1, COUNT(*) AS c_ctx FROM b GROUP BY w1
), agg AS (
  SELECT doc_id,
         CAST(SUM((1000000 * c_bi) // c_ctx) AS BIGINT) AS lm_sum,
         COUNT(*) AS n_bigrams
  FROM b JOIN cbi USING (w1, w2) JOIN cctx USING (w1)
  GROUP BY doc_id
)
SELECT d.doc_id,
       CAST(COALESCE(lm_sum, 0) AS BIGINT) AS lm_sum,
       CAST(COALESCE(n_bigrams, 0) AS BIGINT) AS n_bigrams,
       CAST(CASE WHEN COALESCE(n_bigrams, 0) > 0
                 THEN lm_sum // n_bigrams ELSE 0 END AS BIGINT) AS avg_score_ppm
FROM documents d LEFT JOIN agg ON d.doc_id = agg.doc_id
"""


def q_events_hll_users(spark, sf_dir):
    """HyperLogLog distinct users per event type (m=256 registers,
    md5-hashed, exact-integer harmonic denominator) side-by-side with
    the exact COUNT(DISTINCT) — the mergeable-sketch path for 100 TB
    distinct counts. See functions/sketch.py for the bit-exactness
    argument."""
    from ..functions import sketch as fsketch

    ev = _events(spark, sf_dir)
    hll = fsketch.hll_distinct(ev, ["event_type"], "user_id", m=256)
    exact = ev.groupBy("event_type").agg(
        F.countDistinct("user_id").alias("exact_distinct")
    )
    return hll.join(exact, "event_type")


def _sql_events_hll_users() -> str:
    from ..functions.sketch import hll_alpha_m2_scaled

    amx = hll_alpha_m2_scaled(256)  # same literal the Spark plan uses
    return f"""
WITH h AS (
  SELECT event_type,
         ('0x' || substr(md5(CAST(user_id AS VARCHAR)), 1, 15))::BIGINT AS h
  FROM events
), r AS (
  SELECT event_type, CAST(h % 256 AS INT) AS j, h // 256 AS w FROM h
), regs AS (
  SELECT event_type, j,
         MAX(CASE WHEN w = 0 THEN 53 ELSE 53 - length(bin(w)) END) AS mx
  FROM r GROUP BY event_type, j
), agg AS (
  SELECT event_type, CAST(COUNT(*) AS INT) AS n_registers_hit,
         SUM((1::BIGINT << (53 - mx))) AS s_hit
  FROM regs GROUP BY event_type
), ex AS (
  SELECT event_type, COUNT(DISTINCT user_id) AS exact_distinct
  FROM events GROUP BY event_type
)
SELECT a.event_type, n_registers_hit,
       CAST(s_hit + CAST(256 - n_registers_hit AS BIGINT) * (1::BIGINT << 53) AS BIGINT) AS sum_inv_scaled,
       {amx!r} / CAST(s_hit + CAST(256 - n_registers_hit AS BIGINT) * (1::BIGINT << 53) AS DOUBLE) AS hll_estimate,
       exact_distinct
FROM agg a JOIN ex USING (event_type)
"""


SQL_EVENTS_HLL_USERS = _sql_events_hll_users()


def q_events_stream_hll(spark, sf_dir):
    """Streaming HLL: the register maxima are maintained BY the
    Structured Streaming state store (readStream -> watermarked
    groupBy(day-window, type, register) -> max), drained with
    AvailableNow; the estimate folds over the drained registers in
    batch — the production sketch pattern (registers persist, estimates
    are read-time). Oracle: the same registers recomputed relationally
    over the batch frame."""
    import uuid

    from ..functions.sketch import hll_alpha_m2_scaled, hll_register_terms
    from ..streaming.events import read_events_stream, run_available_now

    ev = read_events_stream(spark, sf_dir)
    ev = ev.where(F.col("ts").isNotNull() & F.col("event_id").isNotNull())
    j, rho = hll_register_terms("user_id", 256)
    regs = (
        ev.withWatermark("ts", "2 hours")
        .groupBy(F.window("ts", "1 day").alias("w"), "event_type", j.alias("j"))
        .agg(F.max(rho).alias("mx"))
    )
    out = run_available_now(regs, f"stream_hll_{uuid.uuid4().hex[:8]}")
    agg = out.groupBy(
        F.col("w.start").cast("date").alias("day"), "event_type"
    ).agg(
        F.count("*").cast("int").alias("n_registers_hit"),
        F.sum(F.expr("shiftleft(1L, 53 - mx)")).alias("s_hit"),
    )
    sum_scaled = (
        F.col("s_hit")
        + (F.lit(256) - F.col("n_registers_hit")).cast("long") * F.lit(1 << 53)
    )
    amx = hll_alpha_m2_scaled(256)
    return agg.select(
        "day", "event_type", "n_registers_hit",
        sum_scaled.alias("sum_inv_scaled"),
        (F.lit(amx) / sum_scaled.cast("double")).alias("hll_estimate"),
    )


def _sql_events_stream_hll() -> str:
    from ..functions.sketch import hll_alpha_m2_scaled

    amx = hll_alpha_m2_scaled(256)
    return f"""
WITH h AS (
  SELECT CAST(ts AS DATE) AS day, event_type,
         ('0x' || substr(md5(CAST(user_id AS VARCHAR)), 1, 15))::BIGINT AS h
  FROM events
), r AS (
  SELECT day, event_type, CAST(h % 256 AS INT) AS j, h // 256 AS w FROM h
), regs AS (
  SELECT day, event_type, j,
         MAX(CASE WHEN w = 0 THEN 53 ELSE 53 - length(bin(w)) END) AS mx
  FROM r GROUP BY day, event_type, j
), agg AS (
  SELECT day, event_type, CAST(COUNT(*) AS INT) AS n_registers_hit,
         SUM((1::BIGINT << (53 - mx))) AS s_hit
  FROM regs GROUP BY day, event_type
)
SELECT day, event_type, n_registers_hit,
       CAST(s_hit + CAST(256 - n_registers_hit AS BIGINT) * (1::BIGINT << 53) AS BIGINT) AS sum_inv_scaled,
       {amx!r} / CAST(s_hit + CAST(256 - n_registers_hit AS BIGINT) * (1::BIGINT << 53) AS DOUBLE) AS hll_estimate
FROM agg
"""


SQL_EVENTS_STREAM_HLL = _sql_events_stream_hll()


def q_events_stream_join(spark, sf_dir):
    """Stream-stream interval join through the oracle gate: views
    joined to purchases by the same user within the preceding 30
    minutes, both sides live streams with watermarks (state expires at
    the time bound — the O(rate x horizon) requirement). Drained with
    AvailableNow; aggregated per day so the output is integer-exact."""
    import uuid

    from ..streaming.events import (read_events_stream, run_available_now,
                                    stream_stream_join)

    ev = read_events_stream(spark, sf_dir)
    ev = ev.where(F.col("ts").isNotNull() & F.col("event_id").isNotNull())
    views = ev.where(F.col("event_type") == "view").select(
        F.col("event_id").alias("view_id"), "user_id", "ts"
    )
    purchases = ev.where(F.col("event_type") == "purchase").select(
        F.col("event_id").alias("purchase_id"),
        F.col("user_id").alias("p_user_id"),
        F.col("ts").alias("p_ts"),
    ).withColumnRenamed("p_ts", "ts").withColumnRenamed("p_user_id", "user_id")
    joined = stream_stream_join(
        views.alias("l"), purchases.alias("r"), key="user_id",
        time_bound="30 minutes", watermark="2 hours",
    )
    pairs = joined.select(
        F.col("l.ts").cast("date").alias("day"),
        F.col("view_id"),
        F.col("purchase_id"),
    )
    out = run_available_now(
        pairs, f"stream_join_{uuid.uuid4().hex[:8]}", output_mode="append"
    )
    return out.groupBy("day").agg(
        F.count("*").alias("n_pairs"),
        F.countDistinct("view_id").alias("n_views"),
        F.countDistinct("purchase_id").alias("n_purchases"),
    )


SQL_EVENTS_STREAM_JOIN = """
SELECT CAST(v.ts AS DATE) AS day,
       COUNT(*) AS n_pairs,
       COUNT(DISTINCT v.event_id) AS n_views,
       COUNT(DISTINCT p.event_id) AS n_purchases
FROM events v JOIN events p
  ON v.user_id = p.user_id
 AND v.event_type = 'view' AND p.event_type = 'purchase'
 AND v.ts <= p.ts AND v.ts >= p.ts - INTERVAL 30 MINUTE
GROUP BY CAST(v.ts AS DATE)
"""


def q_rel_bloom_filter(spark, sf_dir):
    """Bloom-filter semi-join pushdown, measured: build the filter over
    urgent-order keys, probe every distinct lineitem order key, and
    report pass/true/false-positive counts against the exact semi-join
    — integer-only, so the false-positive behavior itself is under the
    gate. See functions/sketch.py::bloom_build."""
    from ..functions.sketch import bloom_build, bloom_might_contain

    orders = _t(spark, sf_dir, "orders")
    urgent = orders.where(F.col("o_orderpriority") == "1-URGENT").select("o_orderkey")
    bloom = bloom_build(urgent, "o_orderkey", m_bits=1 << 15, k=4)
    li_keys = _t(spark, sf_dir, "lineitem").select("l_orderkey").distinct()
    tested = bloom_might_contain(li_keys, bloom, "l_orderkey",
                                 m_bits=1 << 15, k=4)
    truth = tested.join(
        urgent.withColumnRenamed("o_orderkey", "l_orderkey")
        .withColumn("is_urgent", F.lit(1)),
        "l_orderkey", "left_outer",
    ).withColumn("is_urgent", F.coalesce("is_urgent", F.lit(0)))
    return truth.agg(
        F.count("*").alias("n_keys"),
        F.sum("bloom_pass").alias("n_pass"),
        F.sum("is_urgent").alias("n_true"),
        F.sum(F.expr("CASE WHEN bloom_pass = 1 AND is_urgent = 0 THEN 1 ELSE 0 END"))
        .alias("n_false_pos"),
        F.sum(F.expr("CASE WHEN bloom_pass = 0 AND is_urgent = 1 THEN 1 ELSE 0 END"))
        .alias("n_false_neg"),
    )


SQL_REL_BLOOM_FILTER = """
WITH urgent AS (
  SELECT DISTINCT o_orderkey FROM orders WHERE o_orderpriority = '1-URGENT'
),
probes AS (
  SELECT CAST(o_orderkey AS VARCHAR) AS kk, i.i AS i
  FROM urgent, range(4) i(i)
),
pos AS (
  SELECT (('0x' || substr(md5(kk || ':' || CAST(i AS VARCHAR)), 1, 15))::BIGINT) % 32768 AS p
  FROM probes
),
bloom AS (
  SELECT CAST(p // 32 AS INT) AS word, BIT_OR(1::BIGINT << CAST(p % 32 AS INT)) AS bits
  FROM pos GROUP BY 1
),
li AS (SELECT DISTINCT l_orderkey FROM lineitem),
cand AS (
  SELECT l_orderkey, i.i AS i,
         (('0x' || substr(md5(CAST(l_orderkey AS VARCHAR) || ':' || CAST(i.i AS VARCHAR)), 1, 15))::BIGINT) % 32768 AS p
  FROM li, range(4) i(i)
),
hits AS (
  SELECT c.l_orderkey,
         CASE WHEN b.bits IS NOT NULL
               AND (b.bits & (1::BIGINT << CAST(c.p % 32 AS INT))) != 0
              THEN 1 ELSE 0 END AS hit
  FROM cand c LEFT JOIN bloom b ON b.word = CAST(c.p // 32 AS INT)
),
verdict AS (
  SELECT l_orderkey, CASE WHEN SUM(hit) = 4 THEN 1 ELSE 0 END AS bloom_pass
  FROM hits GROUP BY l_orderkey
),
truth AS (
  SELECT v.l_orderkey, v.bloom_pass,
         CASE WHEN u.o_orderkey IS NULL THEN 0 ELSE 1 END AS is_urgent
  FROM verdict v LEFT JOIN urgent u ON u.o_orderkey = v.l_orderkey
)
SELECT COUNT(*) AS n_keys,
       CAST(SUM(bloom_pass) AS BIGINT) AS n_pass,
       CAST(SUM(is_urgent) AS BIGINT) AS n_true,
       CAST(SUM(CASE WHEN bloom_pass = 1 AND is_urgent = 0 THEN 1 ELSE 0 END) AS BIGINT) AS n_false_pos,
       CAST(SUM(CASE WHEN bloom_pass = 0 AND is_urgent = 1 THEN 1 ELSE 0 END) AS BIGINT) AS n_false_neg
FROM truth
"""


def q_events_gap_fill(spark, sf_dir):
    """Time-spine regularization + forward fill per user (1-hour grid)
    — the feature-prep step before windowed training joins. DECIMAL
    sums, integer counts; see functions/relational.py::gap_fill."""
    from ..functions.relational import gap_fill

    ev = _events(spark, sf_dir).select("user_id", "ts", "value")
    return gap_fill(ev, "user_id", step="1 hour")


SQL_EVENTS_GAP_FILL = """
WITH b AS (
  SELECT user_id, date_trunc('hour', ts) AS t,
         COUNT(*) AS n_events,
         SUM(CAST(value AS DECIMAL(18,6))) AS sv
  FROM events GROUP BY user_id, date_trunc('hour', ts)
),
span AS (SELECT user_id, MIN(t) AS t0, MAX(t) AS t1 FROM b GROUP BY user_id),
spine AS (
  SELECT span.user_id, g.g AS t
  FROM span, LATERAL (SELECT unnest(generate_series(t0, t1, INTERVAL 1 HOUR)) AS g) g
),
j AS (
  SELECT s.user_id, s.t, COALESCE(b.n_events, 0) AS n_events, b.sv
  FROM spine s LEFT JOIN b ON b.user_id = s.user_id AND b.t = s.t
)
SELECT user_id, t AS bucket_ts, n_events,
       CAST(last_value(sv IGNORE NULLS) OVER (
         PARTITION BY user_id ORDER BY t
         ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW
       ) AS DOUBLE) AS filled_sum
FROM j
"""


PROFILE_COLS = [
    "l_orderkey", "l_partkey", "l_suppkey", "l_linenumber", "l_quantity",
    "l_extendedprice", "l_discount", "l_tax", "l_returnflag", "l_linestatus",
]


def q_rel_profile(spark, sf_dir):
    """Column-profile report over lineitem — per column: rows, nulls,
    distincts, numeric min/max. One fused aggregate pass; the output is
    one row per column regardless of input size. (The timestamp branch
    is pytest-covered; the gate profiles the tz-free columns.)"""
    from ..functions.relational import profile

    return profile(_t(spark, sf_dir, "lineitem"), columns=PROFILE_COLS)


def _sql_rel_profile() -> str:
    num = {"l_orderkey", "l_partkey", "l_suppkey", "l_linenumber",
           "l_quantity", "l_extendedprice", "l_discount", "l_tax"}
    selects = []
    for c in PROFILE_COLS:
        mn = f"CAST(MIN({c}) AS DOUBLE)" if c in num else "CAST(NULL AS DOUBLE)"
        mx = f"CAST(MAX({c}) AS DOUBLE)" if c in num else "CAST(NULL AS DOUBLE)"
        selects.append(
            f"SELECT '{c}' AS column, COUNT(*) AS n_rows, "
            f"CAST(SUM(CASE WHEN {c} IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_nulls, "
            f"COUNT(DISTINCT {c}) AS n_distinct, {mn} AS min_num, {mx} AS max_num "
            f"FROM lineitem"
        )
    return "\nUNION ALL\n".join(selects)


SQL_REL_PROFILE = _sql_rel_profile()


def q_events_scd2(spark, sf_dir):
    """Changelog-to-snapshot (SCD type 2): each user's event stream
    becomes validity intervals [valid_from, valid_to) per state via
    lead() over a per-key window — one shuffle, the standard dimension
    build from a CDC feed. Open intervals mark the current state."""
    ev = _events(spark, sf_dir)
    from pyspark.sql import Window

    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    return ev.select(
        "user_id",
        F.col("event_type").alias("state"),
        F.col("ts").alias("valid_from"),
        F.lead("ts").over(w).alias("valid_to"),
        F.lead("ts").over(w).isNull().cast("int").alias("is_current"),
        F.col("event_id"),
    )


SQL_EVENTS_SCD2 = """
SELECT user_id, event_type AS state, ts AS valid_from,
       lead(ts) OVER w AS valid_to,
       CAST(lead(ts) OVER w IS NULL AS INT) AS is_current,
       event_id
FROM events
WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
"""


def q_graph_components(spark, sf_dir):
    """Connected components over the supplier co-occurrence graph (pair
    weight above its own 99.8th percentile — sparser than the triangle
    gate, so the graph fragments) — iterative min-label propagation
    from functions/dedup.py::components_from_edges, checked against a
    recursive-CTE reachability oracle."""
    edges = _cooccurrence_edges(spark, sf_dir, quantile=0.998).select(
        F.col("src").alias("doc_a"), F.col("dst").alias("doc_b")
    )
    nodes = (
        edges.select(F.col("doc_a").alias("doc_id"))
        .unionByName(edges.select(F.col("doc_b").alias("doc_id")))
        .distinct()
    )
    out = fdedup.components_from_edges(nodes, edges)
    return out.select(F.col("doc_id").alias("node"), "component")


SQL_GRAPH_COMPONENTS = """
WITH RECURSIVE pairsw AS (
  SELECT x.l_suppkey AS a, y.l_suppkey AS b,
         COUNT(DISTINCT x.l_orderkey) AS w
  FROM lineitem x JOIN lineitem y
    ON x.l_orderkey = y.l_orderkey AND x.l_suppkey < y.l_suppkey
  GROUP BY x.l_suppkey, y.l_suppkey
),
pairs AS (
  SELECT a, b FROM pairsw
  WHERE w >= (SELECT quantile_cont(w, 0.998) FROM pairsw)
),
edges AS (
  SELECT a AS src, b AS dst FROM pairs
  UNION ALL
  SELECT b AS src, a AS dst FROM pairs
),
nodes AS (
  SELECT DISTINCT node FROM (
    SELECT a AS node FROM pairs UNION ALL SELECT b AS node FROM pairs
  )
),
reach(node, r) AS (
  SELECT node, node FROM nodes
  UNION
  SELECT reach.node, edges.dst FROM reach JOIN edges ON reach.r = edges.src
)
SELECT node, MIN(r) AS component FROM reach GROUP BY node
"""


def q_events_rolling_window(spark, sf_dir):
    """Trailing-24h rolling aggregates per user via a RANGE window
    (value-based frame on the event-time axis, not row counts) — one
    shuffle on the partition key; counts + exact DECIMAL sums."""
    ev = _events(spark, sf_dir)
    from pyspark.sql import Window

    # microsecond ordering axis: unix_timestamp would truncate to whole
    # seconds and admit rows just past the 24h boundary that the
    # microsecond-exact SQL RANGE frame excludes; the NTZ branch stays
    # timezone-free (unix_micros rejects TIMESTAMP_NTZ)
    if dict(ev.dtypes).get("ts") == "timestamp_ntz":
        axis = F.expr(
            "timestampdiff(MICROSECOND, TIMESTAMP_NTZ'1970-01-01 00:00:00', ts)"
        )
    else:
        axis = F.expr("unix_micros(ts)")
    w = (
        Window.partitionBy("user_id")
        .orderBy(axis)
        .rangeBetween(-86_400_000_000, 0)
    )
    return ev.select(
        "event_id", "user_id", "ts",
        F.count("*").over(w).alias("n_24h"),
        F.sum(F.col("value").cast("decimal(18,6)")).over(w)
        .cast("double").alias("sum_24h"),
    )


SQL_EVENTS_ROLLING_WINDOW = """
SELECT event_id, user_id, ts,
       COUNT(*) OVER w AS n_24h,
       CAST(SUM(CAST(value AS DECIMAL(18,6))) OVER w AS DOUBLE) AS sum_24h
FROM events
WINDOW w AS (PARTITION BY user_id ORDER BY ts
             RANGE BETWEEN INTERVAL 24 HOURS PRECEDING AND CURRENT ROW)
"""


def q_text_sorted_neighborhood(spark, sf_dir):
    """Sorted-neighborhood dedup blocking under the gate: per-prefix
    sort by the normalized 24-char key, each doc pairs with its 2
    successors — summarized per doc_a with the count and nearest
    neighbor (compact, order-insensitive output)."""
    pairs = fdedup.sorted_neighborhood_pairs(
        _t(spark, sf_dir, "documents"), window=3
    )
    # distances are unique per doc_a (one lead per offset), so min_by
    # is tie-free deterministic in any engine
    return pairs.groupBy("doc_a").agg(
        F.count("*").alias("n_candidates"),
        F.expr("min_by(doc_b, key_distance)").alias("nearest_doc"),
        F.min("key_distance").alias("nearest_distance"),
    )


SQL_TEXT_SORTED_NEIGHBORHOOD = """
WITH keyed AS (
  SELECT doc_id, lower(substr(trim(text), 1, 24)) AS sn_key,
         substr(lower(substr(trim(text), 1, 24)), 1, 1) AS sn_prefix
  FROM documents
),
nb AS (
  SELECT doc_id AS doc_a,
         lead(doc_id, 1) OVER w AS b1,
         lead(doc_id, 2) OVER w AS b2
  FROM keyed
  WINDOW w AS (PARTITION BY sn_prefix ORDER BY sn_key, doc_id)
),
pairs AS (
  SELECT doc_a, b1 AS doc_b, 1 AS key_distance FROM nb WHERE b1 IS NOT NULL
  UNION ALL
  SELECT doc_a, b2 AS doc_b, 2 AS key_distance FROM nb WHERE b2 IS NOT NULL
)
SELECT doc_a, COUNT(*) AS n_candidates,
       arg_min(doc_b, key_distance) AS nearest_doc,
       MIN(key_distance) AS nearest_distance
FROM pairs GROUP BY doc_a
"""


def q_rel_frequent_pairs(spark, sf_dir):
    """Market-basket frequent pairs over orders (basket = the parts of
    one order): support counts from one self-join bounded by
    lines-per-order, plus integer-ppm confidence and lift against the
    single-item supports — the association-rules primitive, all exact
    arithmetic."""
    li = _t(spark, sf_dir, "lineitem")
    items = li.select(
        F.col("l_orderkey").alias("ok"), F.col("l_partkey").alias("item")
    ).distinct()
    n_orders = items.select("ok").distinct().agg(F.count("*").alias("n_orders"))
    single = items.groupBy("item").agg(F.count("*").alias("c_item"))
    a = items.select(F.col("ok"), F.col("item").alias("item_a"))
    b = items.select(F.col("ok"), F.col("item").alias("item_b"))
    pairs = (
        a.join(b, "ok")
        .where(F.col("item_a") < F.col("item_b"))
        .groupBy("item_a", "item_b")
        .agg(F.count("*").alias("support"))
        .where(F.col("support") >= 3)
    )
    ca = single.select(F.col("item").alias("item_a"), F.col("c_item").alias("c_a"))
    cb = single.select(F.col("item").alias("item_b"), F.col("c_item").alias("c_b"))
    return (
        pairs.join(ca, "item_a")
        .join(cb, "item_b")
        .crossJoin(F.broadcast(n_orders))
        .select(
            "item_a", "item_b", "support",
            F.expr("(1000000 * support) DIV c_a").alias("conf_a_to_b_ppm"),
            F.expr("(1000000 * support) DIV c_b").alias("conf_b_to_a_ppm"),
            F.expr("(1000000 * support * n_orders) DIV (c_a * c_b)")
            .alias("lift_ppm"),
        )
    )


SQL_REL_FREQUENT_PAIRS = """
WITH items AS (SELECT DISTINCT l_orderkey AS ok, l_partkey AS item FROM lineitem),
n AS (SELECT COUNT(DISTINCT ok) AS n_orders FROM items),
single AS (SELECT item, COUNT(*) AS c_item FROM items GROUP BY item),
pairs AS (
  SELECT a.item AS item_a, b.item AS item_b, COUNT(*) AS support
  FROM items a JOIN items b ON a.ok = b.ok AND a.item < b.item
  GROUP BY a.item, b.item HAVING COUNT(*) >= 3
)
SELECT item_a, item_b, support,
       (1000000 * support) // ca.c_item AS conf_a_to_b_ppm,
       (1000000 * support) // cb.c_item AS conf_b_to_a_ppm,
       (1000000 * support * n.n_orders) // (ca.c_item * cb.c_item) AS lift_ppm
FROM pairs
JOIN single ca ON ca.item = pairs.item_a
JOIN single cb ON cb.item = pairs.item_b
CROSS JOIN n
"""


def q_events_transitions(spark, sf_dir):
    """Per-user event-type transition matrix (the Markov-chain view of
    a clickstream): lead() pairs each event with its successor, counts
    aggregate per (from, to), and row-normalized probabilities report
    in integer ppm."""
    ev = _events(spark, sf_dir)
    from pyspark.sql import Window

    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    steps = ev.select(
        F.col("event_type").alias("from_type"),
        F.lead("event_type").over(w).alias("to_type"),
    ).where(F.col("to_type").isNotNull())
    counts = steps.groupBy("from_type", "to_type").agg(F.count("*").alias("n"))
    totals = counts.groupBy("from_type").agg(F.sum("n").alias("n_from"))
    return counts.join(totals, "from_type").select(
        "from_type", "to_type", "n",
        F.expr("(1000000 * n) DIV n_from").alias("p_ppm"),
    )


SQL_EVENTS_TRANSITIONS = """
WITH steps AS (
  SELECT event_type AS from_type,
         lead(event_type) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS to_type
  FROM events
),
counts AS (
  SELECT from_type, to_type, COUNT(*) AS n
  FROM steps WHERE to_type IS NOT NULL GROUP BY from_type, to_type
),
totals AS (SELECT from_type, SUM(n) AS n_from FROM counts GROUP BY from_type)
SELECT c.from_type, c.to_type, c.n, CAST((1000000 * c.n) // t.n_from AS BIGINT) AS p_ppm
FROM counts c JOIN totals t ON c.from_type = t.from_type
"""


def q_events_user_features(spark, sf_dir):
    """Feature-store assembly: one wide training row per user — counts
    per event type (conditional aggregates), exact DECIMAL value total,
    first/last timestamps, active-day count, and the deterministic
    last event type (max_by on the unique (ts, event_id) axis) — the
    single-pass feature-engineering shape that feeds offline training
    joins."""
    ev = _events(spark, sf_dir)
    types = ["click", "error", "purchase", "signup", "view"]
    aggs = [
        F.sum((F.col("event_type") == t).cast("long")).alias(f"n_{t}")
        for t in types
    ]
    return ev.groupBy("user_id").agg(
        F.count("*").alias("n_events"),
        *aggs,
        F.sum(F.col("value").cast("decimal(18,6)")).cast("double")
        .alias("total_value"),
        F.min("ts").alias("first_ts"),
        F.max("ts").alias("last_ts"),
        F.countDistinct(F.col("ts").cast("date")).alias("n_active_days"),
        F.expr("max_by(event_type, struct(ts, event_id))").alias("last_type"),
    )


SQL_EVENTS_USER_FEATURES = """
SELECT user_id, COUNT(*) AS n_events,
       CAST(SUM(CASE WHEN event_type = 'click' THEN 1 ELSE 0 END) AS BIGINT) AS n_click,
       CAST(SUM(CASE WHEN event_type = 'error' THEN 1 ELSE 0 END) AS BIGINT) AS n_error,
       CAST(SUM(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END) AS BIGINT) AS n_purchase,
       CAST(SUM(CASE WHEN event_type = 'signup' THEN 1 ELSE 0 END) AS BIGINT) AS n_signup,
       CAST(SUM(CASE WHEN event_type = 'view' THEN 1 ELSE 0 END) AS BIGINT) AS n_view,
       CAST(SUM(CAST(value AS DECIMAL(18,6))) AS DOUBLE) AS total_value,
       MIN(ts) AS first_ts,
       MAX(ts) AS last_ts,
       COUNT(DISTINCT CAST(ts AS DATE)) AS n_active_days,
       arg_max(event_type,
               CAST(ts AS VARCHAR) || '#' || lpad(CAST(event_id AS VARCHAR), 12, '0'))
         AS last_type
FROM events GROUP BY user_id
"""


def q_events_rollup(spark, sf_dir):
    """OLAP rollup: day x event_type counts and exact DECIMAL sums with
    the ROLLUP lattice (per-day subtotals + grand total), grouping_id
    distinguishing the levels — the cube surface of the engine."""
    ev = _events(spark, sf_dir)
    return (
        ev.select(
            F.col("ts").cast("date").alias("day"), "event_type",
            F.col("value").cast("decimal(18,6)").alias("v"),
        )
        .rollup("day", "event_type")
        .agg(
            F.count("*").alias("n_events"),
            F.sum("v").cast("double").alias("sum_value"),
            F.grouping_id().alias("gid"),
        )
    )


def q_rel_cube(spark, sf_dir):
    """Full CUBE lattice over TPC-H lineitem (r13): every grouping-set
    combination of (returnflag, linestatus) — per-pair, per-flag,
    per-status, and grand total — with exact DECIMAL sums and
    grouping_id distinguishing the levels. ROLLUP landed in r9
    (``events_rollup``); CUBE completes the OLAP grouping-set surface
    (Spark lowers both to one Expand + hash aggregate — no per-level
    rescans)."""
    li = _t(spark, sf_dir, "lineitem")
    return (
        li.select(
            "l_returnflag", "l_linestatus",
            F.col("l_quantity").cast("decimal(18,2)").alias("q"),
            _dec(F.col("l_extendedprice")).alias("p"),
        )
        .cube("l_returnflag", "l_linestatus")
        .agg(
            F.count("*").alias("n"),
            F.sum("q").cast("double").alias("sum_qty"),
            F.sum("p").cast("double").alias("sum_price"),
            F.grouping_id().alias("gid"),
        )
    )


SQL_REL_CUBE = """
SELECT l_returnflag, l_linestatus, COUNT(*) AS n,
       CAST(SUM(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) AS sum_qty,
       CAST(SUM(CAST(l_extendedprice AS DECIMAL(12,2))) AS DOUBLE) AS sum_price,
       GROUPING(l_returnflag, l_linestatus) AS gid
FROM lineitem
GROUP BY CUBE (l_returnflag, l_linestatus)
"""


def q_events_json_props(spark, sf_dir):
    """Semi-structured extraction: the events ``props`` JSON column
    parsed JVM-side with ``from_json`` (schema'd, vectorized Jackson —
    never a Python UDF), the extracted integer aggregated per event
    type. The canonical 'the firehose carries a JSON blob' shape; all
    outputs integer-exact."""
    ev = _events(spark, sf_dir)
    k = F.from_json("props", "k BIGINT").getField("k")
    return (
        ev.select("event_type", k.alias("k"))
        .groupBy("event_type")
        .agg(
            F.count("*").alias("n_events"),
            F.count("k").alias("n_with_k"),
            F.sum("k").alias("sum_k"),
            F.min("k").alias("min_k"),
            F.max("k").alias("max_k"),
            F.sum(F.when(F.col("k") > 50, 1).otherwise(0)).alias("n_over_50"),
        )
    )


SQL_EVENTS_JSON_PROPS = """
SELECT event_type, COUNT(*) AS n_events,
       COUNT(k) AS n_with_k,
       CAST(SUM(k) AS BIGINT) AS sum_k,
       MIN(k) AS min_k, MAX(k) AS max_k,
       CAST(SUM(CASE WHEN k > 50 THEN 1 ELSE 0 END) AS BIGINT) AS n_over_50
FROM (
  SELECT event_type,
         CAST(json_extract_string(props, '$.k') AS BIGINT) AS k
  FROM events
)
GROUP BY event_type
"""


def q_events_ohlc(spark, sf_dir):
    """Time-bucket OHLC downsampling — the hypertable-rollup shape: per
    (day, event_type) the first/last value by the total order
    (ts, event_id) plus high/low/volume and an exact DECIMAL sum. The
    open/close picks ride a min/max over a (ts, event_id, value) struct
    — one partial+final hash aggregate, NO window shuffle; the struct
    comparison's deterministic tie-break makes the result
    engine-independent."""
    ev = _events(spark, sf_dir)
    e = ev.select(
        F.col("ts").cast("date").alias("day"), "event_type", "ts",
        "event_id", "value",
    )
    first_s = F.min(F.struct("ts", "event_id", "value"))
    last_s = F.max(F.struct("ts", "event_id", "value"))
    return e.groupBy("day", "event_type").agg(
        first_s.getField("value").alias("open"),
        F.max("value").alias("high"),
        F.min("value").alias("low"),
        last_s.getField("value").alias("close"),
        F.count("*").alias("volume"),
        F.sum(F.col("value").cast("decimal(18,6)")).cast("double")
        .alias("sum_value"),
    )


SQL_EVENTS_OHLC = """
SELECT CAST(ts AS DATE) AS day, event_type,
       (MIN(struct_pack(t := ts, e := event_id, v := value))).v AS open,
       MAX(value) AS high, MIN(value) AS low,
       (MAX(struct_pack(t := ts, e := event_id, v := value))).v AS close,
       COUNT(*) AS volume,
       CAST(SUM(CAST(value AS DECIMAL(18,6))) AS DOUBLE) AS sum_value
FROM events
GROUP BY CAST(ts AS DATE), event_type
"""


SQL_EVENTS_ROLLUP = """
SELECT CAST(ts AS DATE) AS day, event_type,
       COUNT(*) AS n_events,
       CAST(SUM(CAST(value AS DECIMAL(18,6))) AS DOUBLE) AS sum_value,
       GROUPING(CAST(ts AS DATE)) * 2 + GROUPING(event_type) AS gid
FROM events
GROUP BY ROLLUP (CAST(ts AS DATE), event_type)
"""


def q_events_pivot(spark, sf_dir):
    """Pivot: per-day event counts spread into one column per event
    type — Spark's pivot() against the oracle's conditional aggregates
    (the portable formulation of the same plan)."""
    ev = _events(spark, sf_dir)
    types = ["click", "error", "purchase", "signup", "view"]
    return (
        ev.select(F.col("ts").cast("date").alias("day"), "event_type")
        .groupBy("day")
        .pivot("event_type", types)
        .agg(F.count(F.lit(1)))
        .na.fill(0, types)
    )


SQL_EVENTS_PIVOT = """
SELECT CAST(ts AS DATE) AS day,
       CAST(SUM(CASE WHEN event_type = 'click' THEN 1 ELSE 0 END) AS BIGINT) AS click,
       CAST(SUM(CASE WHEN event_type = 'error' THEN 1 ELSE 0 END) AS BIGINT) AS error,
       CAST(SUM(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END) AS BIGINT) AS purchase,
       CAST(SUM(CASE WHEN event_type = 'signup' THEN 1 ELSE 0 END) AS BIGINT) AS signup,
       CAST(SUM(CASE WHEN event_type = 'view' THEN 1 ELSE 0 END) AS BIGINT) AS view
FROM events
GROUP BY CAST(ts AS DATE)
"""


def q_events_cms_counts(spark, sf_dir):
    """Count-Min frequency estimation beside the exact counts: per-user
    event frequencies from a (4 x 512) integer sketch, overcount-only
    by construction — the mergeable heavy-hitter structure for 100 TB
    firehoses. See functions/sketch.py::cms_build."""
    from ..functions.sketch import cms_build, cms_estimate

    ev = _events(spark, sf_dir).select("user_id")
    cms = cms_build(ev, "user_id", depth=4, width=512)
    keys = ev.distinct()
    est = cms_estimate(keys, cms, "user_id", depth=4, width=512)
    exact = ev.groupBy("user_id").agg(F.count("*").alias("exact_count"))
    return est.join(exact, "user_id").select(
        "user_id", "exact_count", "cms_count",
        (F.col("cms_count") - F.col("exact_count")).alias("overcount"),
    )


SQL_EVENTS_CMS_COUNTS = """
WITH k AS (SELECT CAST(user_id AS VARCHAR) AS kk, user_id FROM events),
probes AS (
  SELECT kk, user_id, r.r AS r,
         CAST((('0x' || substr(md5(kk || ':' || CAST(r.r AS VARCHAR)), 1, 15))::BIGINT) % 512 AS INT) AS c
  FROM k, range(4) r(r)
),
cms AS (SELECT r, c, COUNT(*) AS cnt FROM probes GROUP BY r, c),
keys AS (SELECT DISTINCT user_id FROM events),
kp AS (
  SELECT keys.user_id, r.r AS r,
         CAST((('0x' || substr(md5(CAST(keys.user_id AS VARCHAR) || ':' || CAST(r.r AS VARCHAR)), 1, 15))::BIGINT) % 512 AS INT) AS c
  FROM keys, range(4) r(r)
),
est AS (
  SELECT kp.user_id, MIN(COALESCE(cms.cnt, 0)) AS cms_count
  FROM kp LEFT JOIN cms ON cms.r = kp.r AND cms.c = kp.c
  GROUP BY kp.user_id
),
exact AS (SELECT user_id, COUNT(*) AS exact_count FROM events GROUP BY user_id)
SELECT est.user_id, exact.exact_count, est.cms_count,
       est.cms_count - exact.exact_count AS overcount
FROM est JOIN exact ON est.user_id = exact.user_id
"""


def _cooccurrence_edges(spark, sf_dir, quantile: float = 0.995,
                        with_weight: bool = False):
    """Supplier co-occurrence edges above a DATA-DERIVED weight
    threshold (the ``quantile`` of the pair-weight distribution) — a
    fixed count would go empty or complete as the scale factor moves
    the supplier count; the percentile keeps the graph sparse at any
    sf. The scalar threshold broadcasts (the q22 pattern); Spark's
    exact ``percentile`` matches DuckDB's ``quantile_cont`` (the
    events_percentiles-established contract)."""
    li = _t(spark, sf_dir, "lineitem")
    # suppliers per order as a sorted set, unique pairs exploded JVM-side:
    # ONE shuffle on l_orderkey replaces the self-join's two exchanges +
    # join, and set semantics make count(*) per pair exactly the
    # COUNT(DISTINCT orderkey) the oracle computes (each order emits each
    # pair at most once). Orders fan out ~O(items/order)^2 pairs inside
    # the executor — no shuffle grows.
    per_order = li.groupBy("l_orderkey").agg(
        F.array_sort(F.collect_set("l_suppkey")).alias("ss")
    )
    # unique pairs via two codegen'd explodes + a filter (r16): the
    # previous flatten(transform(slice(...))) build was interpreted
    # (higher-order functions don't codegen) and re-copied the array
    # per element — measured ~1.5x slower for the same pair set. The
    # double explode emits each unordered pair exactly once (ss is a
    # sorted SET, so src < dst picks one orientation), entirely inside
    # WholeStageCodegen; no shuffle grows (guide §1.2 per-task work).
    pairs = (
        per_order.select("ss", F.explode("ss").alias("src"))
        .select("src", F.explode("ss").alias("dst"))
        .where(F.col("dst") > F.col("src"))
    )
    weighted = pairs.groupBy("src", "dst").agg(F.count("*").alias("w"))
    thr = weighted.agg(
        F.expr(f"percentile(w, {quantile})").alias("thr")
    )
    kept = weighted.crossJoin(F.broadcast(thr)).where(
        F.col("w") >= F.col("thr"))
    if with_weight:
        return kept.select("src", "dst", "w")
    return kept.select("src", "dst")


def _sql_cooccurrence_pairs(quantile: float = 0.995) -> str:
    """The co-occurrence pairs CTE, parameterized by the weight
    quantile — shared by the graph oracles so no consumer has to
    string-patch the threshold (a silent no-op hazard)."""
    return f"""pairsw AS (
  SELECT x.l_suppkey AS a, y.l_suppkey AS b,
         COUNT(DISTINCT x.l_orderkey) AS w
  FROM lineitem x JOIN lineitem y
    ON x.l_orderkey = y.l_orderkey AND x.l_suppkey < y.l_suppkey
  GROUP BY x.l_suppkey, y.l_suppkey
),
pairs AS (
  SELECT a, b FROM pairsw
  WHERE w >= (SELECT quantile_cont(w, {quantile}) FROM pairsw)
)"""


_SQL_COOCCURRENCE_PAIRS = _sql_cooccurrence_pairs()


def q_graph_triangles(spark, sf_dir):
    """Exact per-node triangle counts over the supplier co-occurrence
    graph (pair weight above its own 99.5th percentile) — the two-join
    oriented triangle enumeration; see graph.py::triangle_count."""
    from ..functions import graph as fgraph

    return fgraph.triangle_count(_cooccurrence_edges(spark, sf_dir))


SQL_GRAPH_TRIANGLES = f"""
WITH {_SQL_COOCCURRENCE_PAIRS}, tri AS (
  SELECT e1.a, e1.b, e2.b AS c
  FROM pairs e1 JOIN pairs e2 ON e2.a = e1.b
  WHERE EXISTS (SELECT 1 FROM pairs e3 WHERE e3.a = e1.a AND e3.b = e2.b)
), corners AS (
  SELECT node, COUNT(*) AS n_triangles FROM (
    SELECT a AS node FROM tri
    UNION ALL SELECT b FROM tri
    UNION ALL SELECT c FROM tri
  ) GROUP BY node
), nodes AS (
  SELECT DISTINCT node FROM (
    SELECT a AS node FROM pairs UNION ALL SELECT b AS node FROM pairs
  )
)
SELECT n.node, CAST(COALESCE(c.n_triangles, 0) AS BIGINT) AS n_triangles
FROM nodes n LEFT JOIN corners c ON c.node = n.node
"""


K_CORE_K = 3
SQL_GRAPH_KCORE = lambda: _sql_graph_kcore()


def q_graph_kcore(spark, sf_dir):
    """The 3-core of the supplier co-occurrence graph
    (95th-percentile weight threshold so the graph is dense enough to
    peel; ``functions/graph.py::k_core``): iterative peeling — per round one
    degree aggregate + two semi-joins + an eager localCheckpoint over a
    strictly shrinking edge set. The oracle peels the identical pair
    list in pure Python driver-side (exact integer degrees make the
    fixpoint engine-independent) and injects the surviving (node, deg)
    set (r9)."""
    from ..functions import graph as fgraph

    return fgraph.k_core(
        _cooccurrence_edges(spark, sf_dir, quantile=0.95), k=K_CORE_K)


def _sql_graph_kcore() -> str:
    import duckdb

    sf_dir = _oracle_sf_dir()
    con = duckdb.connect()
    con.sql(f"CREATE VIEW lineitem AS SELECT * "
            f"FROM '{sf_dir}/lineitem.parquet'")
    pairs = con.sql(
        f"WITH {_sql_cooccurrence_pairs(0.95)} SELECT a, b FROM pairs"
    ).fetchall()
    con.close()
    edges = {(min(a, b), max(a, b)) for a, b in pairs if a != b}
    while True:
        deg: dict = {}
        for a, b in edges:
            deg[a] = deg.get(a, 0) + 1
            deg[b] = deg.get(b, 0) + 1
        bad = {n for n, d in deg.items() if d < K_CORE_K}
        if not bad:
            break
        edges = {(a, b) for a, b in edges if a not in bad and b not in bad}
        if not edges:
            deg = {}
            break
    if not deg:
        return ("SELECT CAST(0 AS BIGINT) AS node, "
                "CAST(0 AS BIGINT) AS deg WHERE FALSE")
    values = ", ".join(f"({n}, {d})" for n, d in sorted(deg.items()))
    return f"""
SELECT CAST(col0 AS BIGINT) AS node, CAST(col1 AS BIGINT) AS deg
FROM (VALUES {values}) t(col0, col1)
"""


LABEL_PROP_ROUNDS = 3


def q_graph_label_prop(spark, sf_dir):
    """Synchronous deterministic label-propagation communities over the
    supplier co-occurrence graph (95th-percentile threshold, the kcore
    graph), 3 fixed rounds, ties to the smallest label —
    ``functions/graph.py::label_propagation``. The oracle unrolls the
    identical rounds as chained SQL CTEs (count + window tie-break per
    round): every comparison is exact integer math, so the engines
    agree bit-for-bit."""
    from ..functions import graph as fgraph

    return fgraph.label_propagation(
        _cooccurrence_edges(spark, sf_dir, quantile=0.95),
        rounds=LABEL_PROP_ROUNDS)


def _sql_lpa_round(i: int) -> str:
    # MATERIALIZED: without it DuckDB may inline each round's CTE into
    # the next, re-evaluating the pairsw self-join once per round (and
    # in the sssp oracle, which references each round twice,
    # EXPONENTIALLY — observed as a temp-storage blowout at sf0.1)
    return f"""l{i} AS MATERIALIZED (
  SELECT node, label FROM (
    SELECT a.node, l.label, COUNT(*) AS cnt,
           ROW_NUMBER() OVER (PARTITION BY a.node
                              ORDER BY COUNT(*) DESC, l.label ASC) AS rn
    FROM adj a JOIN l{i - 1} l ON a.nbr = l.node
    GROUP BY a.node, l.label
  ) WHERE rn = 1
)"""


SQL_GRAPH_LABEL_PROP = f"""
WITH {_sql_cooccurrence_pairs(0.95)},
adj AS MATERIALIZED (
  SELECT a AS nbr, b AS node FROM pairs
  UNION ALL
  SELECT b AS nbr, a AS node FROM pairs
),
l0 AS MATERIALIZED (SELECT DISTINCT node, node AS label FROM adj),
{", ".join(_sql_lpa_round(i) for i in range(1, LABEL_PROP_ROUNDS + 1))}
SELECT CAST(node AS BIGINT) AS node, CAST(label AS BIGINT) AS label
FROM l{LABEL_PROP_ROUNDS}
"""


SSSP_ROUNDS = 6


def q_graph_sssp(spark, sf_dir):
    """Bounded-hop (6 rounds) multi-source shortest paths over the
    weighted supplier co-occurrence graph —
    ``functions/graph.py::bounded_sssp``. Edge cost is the integer
    ``1 + 1000000 DIV w`` (stronger co-occurrence = shorter edge);
    sources are the two smallest supplier ids in the graph, giving a
    deterministic multi-source frontier. After 6 synchronous
    Bellman-Ford rounds the result is exactly the cheapest <=6-edge
    path — well-defined at any scale without a convergence loop. The
    oracle unrolls the same min-plus rounds as chained CTEs."""
    from ..functions import graph as fgraph

    e = _cooccurrence_edges(spark, sf_dir, quantile=0.95, with_weight=True)
    e = e.select("src", "dst",
                 F.expr("1 + 1000000 DIV w").cast("long").alias("cost"))
    nodes = (
        e.select(F.col("src").alias("node"))
        .unionByName(e.select(F.col("dst").alias("node")))
    )
    sources = nodes.distinct().orderBy("node").limit(2)
    return fgraph.bounded_sssp(e, sources, rounds=SSSP_ROUNDS,
                               weight_col="cost")


def _sql_sssp_round(i: int) -> str:
    # MATERIALIZED is load-bearing here: each round references the
    # previous one TWICE, so inlining re-evaluates the whole chain
    # 2^rounds times (see _sql_lpa_round)
    return f"""d{i} AS MATERIALIZED (
  SELECT node, MIN(dist) AS dist FROM (
    SELECT node, dist FROM d{i - 1}
    UNION ALL
    SELECT a.node AS node, d.dist + a.cost AS dist
    FROM wadj a JOIN d{i - 1} d ON a.nbr = d.node
  ) GROUP BY node
)"""


SQL_GRAPH_SSSP = f"""
WITH {_sql_cooccurrence_pairs(0.95)},
wedges AS MATERIALIZED (
  SELECT p.a, p.b, 1 + 1000000 // pw.w AS cost
  FROM pairs p JOIN pairsw pw ON p.a = pw.a AND p.b = pw.b
),
wadj AS MATERIALIZED (
  SELECT a AS nbr, b AS node, cost FROM wedges
  UNION ALL
  SELECT b AS nbr, a AS node, cost FROM wedges
),
d0 AS MATERIALIZED (
  SELECT node, CAST(0 AS BIGINT) AS dist FROM (
    SELECT DISTINCT node FROM wadj ORDER BY node LIMIT 2
  )
),
{", ".join(_sql_sssp_round(i) for i in range(1, SSSP_ROUNDS + 1))}
SELECT CAST(node AS BIGINT) AS node, CAST(dist AS BIGINT) AS dist
FROM d{SSSP_ROUNDS}
"""


def q_tpch_q20_dominant(spark, sf_dir):
    """Q20-ish dominant-supplier audit (no partsupp in the schema):
    suppliers who shipped more than half of some part's total quantity
    — two stacked aggregates, an integer-exact share test
    (2*q_ps > q_p, no division), a semi-join back to the supplier dim,
    and the nation broadcast."""
    li = _t(spark, sf_dir, "lineitem")
    ps = li.groupBy(
        F.col("l_partkey").alias("p"), F.col("l_suppkey").alias("s")
    ).agg(F.sum("l_quantity").alias("q"))
    pt = ps.groupBy("p").agg(F.sum("q").alias("tq"))
    dom = (
        ps.join(pt, "p")
        .where(F.lit(2) * F.col("q") > F.col("tq"))
        .select("s")
        .distinct()
    )
    supp = _t(spark, sf_dir, "supplier")
    nation = _t(spark, sf_dir, "nation")
    return (
        supp.join(dom, supp.s_suppkey == dom.s, "left_semi")
        .join(F.broadcast(nation), F.col("s_nationkey") == F.col("n_nationkey"))
        .select("s_suppkey", "s_name", "n_name")
    )


SQL_TPCH_Q20_DOMINANT = """
WITH ps AS (
  SELECT l_partkey AS p, l_suppkey AS s, SUM(l_quantity) AS q
  FROM lineitem GROUP BY l_partkey, l_suppkey
),
pt AS (SELECT p, SUM(q) AS tq FROM ps GROUP BY p),
dom AS (
  SELECT DISTINCT ps.s FROM ps JOIN pt ON ps.p = pt.p WHERE 2 * ps.q > pt.tq
)
SELECT s_suppkey, s_name, n_name
FROM supplier
JOIN nation ON s_nationkey = n_nationkey
WHERE s_suppkey IN (SELECT s FROM dom)
"""


def q_events_enriched_segment(spark, sf_dir):
    """Stream-dim enrichment: events broadcast-joined to the customer dim
    (user_id ⊂ c_custkey), aggregated per market segment — the canonical
    streaming enrichment shape, run here on the batch frame the stream
    shares its plan with."""
    ev = _events(spark, sf_dir)
    cust = _t(spark, sf_dir, "customer")
    j = ev.join(F.broadcast(cust), ev.user_id == cust.c_custkey)
    return j.groupBy("c_mktsegment").agg(
        F.count("*").alias("n_events"),
        F.countDistinct("user_id").alias("n_users"),
        F.sum(F.col("value").cast("decimal(18,6)")).cast("double").alias("sum_value"),
    )


SQL_EVENTS_ENRICHED_SEGMENT = """
SELECT c_mktsegment, COUNT(*) AS n_events, COUNT(DISTINCT user_id) AS n_users,
       CAST(SUM(CAST(value AS DECIMAL(18,6))) AS DOUBLE) AS sum_value
FROM events JOIN customer ON user_id = c_custkey
GROUP BY c_mktsegment
"""


def q_events_stream_enrich(spark, sf_dir):
    """Stream-STATIC enrichment through the real streaming engine
    (``streaming/events.py::enrich_with_dim``'s shape): readStream over
    events, broadcast-join to the static customer dim (re-read per
    micro-batch — the slowly-changing-dim contract), complete-mode
    aggregate per market segment, drained by Trigger.AvailableNow.
    Distinct from ``events_stream_join`` (stream-stream, stateful): the
    static side needs NO watermark/state — any output mode works. The
    oracle is the identical batch GROUP BY. Decimal-cast sum for
    accumulation-order independence."""
    import uuid

    from ..streaming.events import read_events_stream, run_available_now

    ev = read_events_stream(spark, sf_dir)
    ev = ev.where(F.col("ts").isNotNull() & F.col("event_id").isNotNull())
    cust = _t(spark, sf_dir, "customer")
    j = ev.join(F.broadcast(cust), ev.user_id == cust.c_custkey)
    agg = j.groupBy("c_mktsegment").agg(
        F.count("*").alias("n_events"),
        F.sum(F.col("value").cast("decimal(18,6)")).alias("sv"),
    )
    out = run_available_now(agg, f"stream_enrich_{uuid.uuid4().hex[:8]}")
    return out.select(
        "c_mktsegment", "n_events",
        F.col("sv").cast("double").alias("sum_value"),
    )


SQL_EVENTS_STREAM_ENRICH = """
SELECT c_mktsegment, COUNT(*) AS n_events,
       CAST(SUM(CAST(value AS DECIMAL(18,6))) AS DOUBLE) AS sum_value
FROM events JOIN customer ON user_id = c_custkey
GROUP BY c_mktsegment
"""


def q_events_asof_join(spark, sf_dir):
    """As-of join: each purchase picks the user's latest view at-or-before
    it (union + window-fill composition — functions/relational.py); the
    oracle is DuckDB's native ASOF LEFT JOIN."""
    from ..functions.relational import asof_join

    ev = _events(spark, sf_dir)
    views = (ev.where(F.col("event_type") == "view")
             .groupBy("user_id", "ts")
             .agg(F.max("event_id").alias("view_event")))
    purchases = ev.where(F.col("event_type") == "purchase").select(
        "event_id", "user_id", "ts"
    )
    out = asof_join(purchases, views, ts_col="ts", by_cols=("user_id",))
    return out.select("event_id", "user_id", "asof_ts", "asof_view_event")


SQL_EVENTS_ASOF_JOIN = """
WITH v AS (
  SELECT user_id, ts, MAX(event_id) AS view_event
  FROM events WHERE event_type = 'view' GROUP BY user_id, ts
),
p AS (SELECT event_id, user_id, ts FROM events WHERE event_type = 'purchase')
SELECT p.event_id, p.user_id, v.ts AS asof_ts, v.view_event AS asof_view_event
FROM p ASOF LEFT JOIN v ON p.user_id = v.user_id AND p.ts >= v.ts
"""


def q_events_interval_join(spark, sf_dir):
    """Range join: clicks falling inside [signup, signup + 1h) windows of
    the same user — executed as a binned equi-join (no nested loop); the
    oracle is the plain inequality join."""
    from ..functions.relational import interval_join

    ev = _events(spark, sf_dir)
    signups = ev.where(F.col("event_type") == "signup").select(
        "user_id",
        F.col("event_id").alias("signup_event"),
        F.col("ts").alias("start"),
        (F.col("ts") + F.expr("INTERVAL 1 HOUR")).alias("end"),
    )
    clicks = ev.where(F.col("event_type") == "click").select(
        F.col("event_id").alias("click_event"), "user_id", "ts"
    )
    out = interval_join(clicks, signups, ts_col="ts", start_col="start",
                        end_col="end", by_cols=("user_id",),
                        bin_width_seconds=3600)
    return out.select("click_event", "signup_event", "user_id")


SQL_EVENTS_INTERVAL_JOIN = """
WITH s AS (
  SELECT user_id, event_id AS signup_event, ts AS s_start,
         ts + INTERVAL 1 HOUR AS s_end
  FROM events WHERE event_type = 'signup'
),
c AS (SELECT event_id AS click_event, user_id, ts FROM events WHERE event_type = 'click')
SELECT c.click_event, s.signup_event, c.user_id
FROM c JOIN s ON c.user_id = s.user_id AND c.ts >= s.s_start AND c.ts < s.s_end
"""


def q_events_anomaly(spark, sf_dir):
    """Per-user anomaly flags: events whose value deviates from the user's
    mean by more than 2 population-stddevs — one window pass (the
    streaming-monitoring z-score shape). Integer outputs only."""
    ev = _events(spark, sf_dir)
    w = Window.partitionBy("user_id")
    flagged = (
        ev.withColumn("mu", F.avg("value").over(w))
        .withColumn("sigma", F.stddev_pop("value").over(w))
        .where(F.col("sigma") > 0)
        .where(F.abs(F.col("value") - F.col("mu")) > 2 * F.col("sigma"))
    )
    return flagged.groupBy("user_id").agg(F.count("*").alias("n_anomalies"))


SQL_EVENTS_ANOMALY = """
WITH s AS (
  SELECT user_id, value,
         AVG(value) OVER (PARTITION BY user_id) AS mu,
         stddev_pop(value) OVER (PARTITION BY user_id) AS sigma
  FROM events
)
SELECT user_id, COUNT(*) AS n_anomalies
FROM s WHERE sigma > 0 AND abs(value - mu) > 2 * sigma
GROUP BY user_id
"""


def q_events_retention(spark, sf_dir):
    """Cohort retention matrix (round 6): users cohorted by first-seen
    week, counted per (cohort week, weeks-since-cohort) — the classic
    product-analytics triangle. Two hash aggregates (first-seen, then
    the matrix); integers throughout so the oracle is exact."""
    ev = _events(spark, sf_dir)
    wk = F.floor(F.unix_timestamp("ts") / (7 * 86400)).cast("long")
    base = ev.where(F.col("user_id").isNotNull()).select(
        "user_id", wk.alias("week")
    )
    cohort = base.groupBy("user_id").agg(F.min("week").alias("cohort_week"))
    j = base.join(cohort, "user_id")
    return (
        j.groupBy(
            "cohort_week",
            (F.col("week") - F.col("cohort_week")).alias("week_offset"),
        )
        .agg(F.countDistinct("user_id").alias("n_users"))
    )


SQL_EVENTS_RETENTION = """
WITH base AS (
  SELECT user_id, CAST(floor(epoch(ts) / (7 * 86400)) AS BIGINT) AS week
  FROM events WHERE user_id IS NOT NULL
), cohort AS (
  SELECT user_id, MIN(week) AS cohort_week FROM base GROUP BY user_id
)
SELECT c.cohort_week, b.week - c.cohort_week AS week_offset,
       COUNT(DISTINCT b.user_id) AS n_users
FROM base b JOIN cohort c USING (user_id)
GROUP BY 1, 2
"""


def q_events_percentiles(spark, sf_dir):
    """Exact per-type value percentiles (round 6): Spark's ``percentile``
    and DuckDB's ``quantile_cont`` share the linear-interpolation (type
    7) definition, so p50/p90/p99 hash-match exactly. The exact
    percentile is a sort-based aggregate; the documented scale path is
    ``approx_percentile`` (t-digest) when a full sort per group is too
    dear — the fixture gate pins the exact semantics."""
    ev = _events(spark, sf_dir)
    p = ev.groupBy("event_type").agg(
        F.expr("percentile(value, array(0.5, 0.9, 0.99))").alias("p")
    )
    return p.select(
        "event_type",
        F.round(F.col("p")[0], 6).alias("p50"),
        F.round(F.col("p")[1], 6).alias("p90"),
        F.round(F.col("p")[2], 6).alias("p99"),
    )


SQL_EVENTS_PERCENTILES = """
SELECT event_type,
       round(quantile_cont(value, 0.5), 6) AS p50,
       round(quantile_cont(value, 0.9), 6) AS p90,
       round(quantile_cont(value, 0.99), 6) AS p99
FROM events GROUP BY event_type
"""


def q_events_approx_percentile(spark, sf_dir):
    """The SCALE percentile path under the gate: ``approx_percentile``
    (Greenwald-Khanna quantile sketch — mergeable, bounded memory, no
    per-group sort; what replaces the exact percentile at 100 TB) gated
    by its own rank-error contract instead of its value: for each
    event_type the count of values below the approx p50/p95 must lie
    within n/accuracy (+1 boundary slack) of the target rank. The query
    emits the per-group bound CHECK — deterministically true whenever
    the sketch honors its contract — so the result is engine-portable
    even though the sketch output itself is not (same pattern as the
    emb_pq_recall/emb_ivf_recall gates)."""
    ACC = 1000
    ev = _events(spark, sf_dir).select("event_type", "value")
    approx = ev.groupBy("event_type").agg(
        F.expr(f"approx_percentile(value, array(0.5, 0.95), {ACC})").alias("ap"),
        F.count("*").alias("n"),
    )
    a = approx.select(
        "event_type", F.col("ap")[0].alias("a50"), F.col("ap")[1].alias("a95"), "n"
    )
    j = ev.join(F.broadcast(a), "event_type")
    ranks = j.groupBy("event_type").agg(
        F.sum((F.col("value") < F.col("a50")).cast("long")).alias("lo50"),
        F.sum((F.col("value") <= F.col("a50")).cast("long")).alias("hi50"),
        F.sum((F.col("value") < F.col("a95")).cast("long")).alias("lo95"),
        F.sum((F.col("value") <= F.col("a95")).cast("long")).alias("hi95"),
        F.first("n").alias("n"),
    )
    tol = F.col("n") / ACC + 1
    return ranks.select(
        "event_type",
        (
            (F.col("lo50") <= 0.5 * F.col("n") + tol)
            & (F.col("hi50") >= 0.5 * F.col("n") - tol)
        ).alias("p50_within_bound"),
        (
            (F.col("lo95") <= 0.95 * F.col("n") + tol)
            & (F.col("hi95") >= 0.95 * F.col("n") - tol)
        ).alias("p95_within_bound"),
    )


SQL_EVENTS_APPROX_PERCENTILE = """
SELECT event_type, true AS p50_within_bound, true AS p95_within_bound
FROM events GROUP BY event_type
"""


def q_events_funnel(spark, sf_dir):
    """Conversion funnel: users who signed up, then viewed after signing
    up, then purchased after viewing — ordered-sequence matching via
    per-user min-timestamps (one aggregate, no self-joins)."""
    ev = _events(spark, sf_dir)
    agg = ev.groupBy("user_id").agg(
        F.min(F.when(F.col("event_type") == "signup", F.col("ts"))).alias("t_signup"),
        F.count(F.when(F.col("event_type") == "signup", 1)).alias("n_signup"),
    )
    # earliest view AFTER signup, earliest purchase AFTER that view
    v = ev.where(F.col("event_type") == "view").select("user_id", F.col("ts").alias("t_view"))
    p = ev.where(F.col("event_type") == "purchase").select("user_id", F.col("ts").alias("t_buy"))
    step2 = (
        agg.where(F.col("n_signup") > 0)
        .join(v, "user_id")
        .where(F.col("t_view") > F.col("t_signup"))
        .groupBy("user_id", "t_signup")
        .agg(F.min("t_view").alias("t_view"))
    )
    step3 = (
        step2.join(p, "user_id")
        .where(F.col("t_buy") > F.col("t_view"))
        .groupBy("user_id")
        .agg(F.min("t_buy").alias("t_buy"))
    )
    n1 = agg.where(F.col("n_signup") > 0).count()
    n2 = step2.select("user_id").distinct().count()
    n3 = step3.count()
    return spark.createDataFrame(
        [("signup", n1), ("view_after_signup", n2), ("purchase_after_view", n3)],
        "step string, n_users long",
    )


SQL_EVENTS_FUNNEL = """
WITH su AS (
  SELECT user_id, MIN(ts) AS t_signup FROM events
  WHERE event_type = 'signup' GROUP BY user_id
),
v2 AS (
  SELECT e.user_id, MIN(e.ts) AS t_view
  FROM events e JOIN su ON e.user_id = su.user_id
  WHERE e.event_type = 'view' AND e.ts > su.t_signup
  GROUP BY e.user_id
),
p3 AS (
  SELECT e.user_id
  FROM events e JOIN v2 ON e.user_id = v2.user_id
  WHERE e.event_type = 'purchase' AND e.ts > v2.t_view
  GROUP BY e.user_id
)
SELECT 'signup' AS step, (SELECT COUNT(*) FROM su) AS n_users
UNION ALL
SELECT 'view_after_signup', (SELECT COUNT(*) FROM v2)
UNION ALL
SELECT 'purchase_after_view', (SELECT COUNT(*) FROM p3)
"""


def q_window_rank(spark, sf_dir):
    orders = _t(spark, sf_dir, "orders")
    w = Window.partitionBy("o_custkey").orderBy(
        F.col("o_totalprice").desc(), F.col("o_orderkey")
    )
    return (
        orders.withColumn("rnk", F.row_number().over(w))
        .where(F.col("rnk") <= 3)
        .select("o_custkey", "rnk", "o_orderkey")
    )


SQL_WINDOW_RANK = """
SELECT o_custkey, CAST(rnk AS INT) AS rnk, o_orderkey FROM (
  SELECT o_custkey, o_orderkey,
         row_number() OVER (PARTITION BY o_custkey ORDER BY o_totalprice DESC, o_orderkey) AS rnk
  FROM orders
) WHERE rnk <= 3
"""


def q_events_theta_sketch(spark, sf_dir):
    """KMV/theta sketch set algebra (Beyer et al. 2007;
    ``functions/sketch.py::theta_sketch``): per-type k=64 minimum-hash
    sketches of the purchase/view user sets, the per-set distinct
    estimates, and the INTERSECTION estimate |purchase ∩ view| — the
    set operation HLL cannot express. All hashes are exact md5-derived
    BIGINTs; estimates are one double division of exact integers. The
    oracle recomputes the identical order statistics relationally."""
    from ..functions.sketch import (theta_estimate, theta_intersect_pair,
                                    theta_sketch)

    ev = _events(spark, sf_dir).where(
        F.col("event_type").isin("purchase", "view"))
    sk = theta_sketch(ev, ["event_type"], "user_id", k=64)
    est = theta_estimate(sk, ["event_type"], k=64)
    inter = theta_intersect_pair(sk, ["event_type"], "purchase", "view",
                                 k=64)
    return est.crossJoin(F.broadcast(inter))


SQL_EVENTS_THETA_SKETCH = """
WITH d AS (
  SELECT DISTINCT event_type,
         ('0x' || substr(md5(CAST(user_id AS VARCHAR)), 1, 15))::BIGINT AS h
  FROM events WHERE event_type IN ('purchase', 'view')
),
sk AS (
  SELECT event_type, h,
         row_number() OVER (PARTITION BY event_type ORDER BY h) AS rn
  FROM d QUALIFY rn <= 64
),
est AS (
  SELECT event_type, COUNT(*) AS n_sketch, MAX(h) AS theta_kth,
         CASE WHEN COUNT(*) < 64 THEN CAST(COUNT(*) AS DOUBLE)
              ELSE 63.0 * 1152921504606846976.0 / CAST(MAX(h) AS DOUBLE)
         END AS est_distinct
  FROM sk GROUP BY event_type
),
th AS (
  SELECT least(
    (SELECT CASE WHEN COUNT(*) < 64 THEN 1152921504606846976
                 ELSE MAX(h) END FROM sk WHERE event_type = 'purchase'),
    (SELECT CASE WHEN COUNT(*) < 64 THEN 1152921504606846976
                 ELSE MAX(h) END FROM sk WHERE event_type = 'view')
  ) AS theta_min
),
inter AS (
  SELECT COUNT(c.h) AS n_common, th.theta_min,
         CAST(COUNT(c.h) AS DOUBLE) * 1152921504606846976.0
         / CAST(th.theta_min AS DOUBLE) AS est_intersect
  FROM th LEFT JOIN (
    SELECT a.h FROM sk a JOIN sk b
      ON a.h = b.h AND a.event_type = 'purchase' AND b.event_type = 'view'
  ) c ON c.h < th.theta_min
  GROUP BY th.theta_min
)
SELECT est.event_type, est.n_sketch, est.theta_kth, est.est_distinct,
       inter.n_common, inter.theta_min, inter.est_intersect
FROM est, inter
"""


def q_set_intersect(spark, sf_dir):
    orders = _t(spark, sf_dir, "orders")
    a = orders.where(
        (F.col("o_orderdate") >= "1995-01-01") & (F.col("o_orderdate") < "1996-01-01")
    ).select("o_custkey").distinct()
    b = orders.where(
        (F.col("o_orderdate") >= "1996-01-01") & (F.col("o_orderdate") < "1997-01-01")
    ).select("o_custkey").distinct()
    return a.intersect(b)


SQL_SET_INTERSECT = """
SELECT o_custkey FROM orders WHERE o_orderdate >= TIMESTAMP '1995-01-01' AND o_orderdate < TIMESTAMP '1996-01-01'
INTERSECT
SELECT o_custkey FROM orders WHERE o_orderdate >= TIMESTAMP '1996-01-01' AND o_orderdate < TIMESTAMP '1997-01-01'
"""


# ---------------------------------------------------------------------------
# events (time-series / streaming-shaped)
# ---------------------------------------------------------------------------

def q_events_tumbling(spark, sf_dir):
    ev = _events(spark, sf_dir)
    return (
        ev.groupBy(
            F.date_trunc("hour", F.col("ts")).cast("date").alias("day"),
            F.hour("ts").alias("hour"),
            "event_type",
        )
        .agg(
            F.count("*").alias("n_events"),
            F.sum(F.col("value").cast("decimal(18,6)")).cast("double").alias("sum_value"),
        )
    )


SQL_EVENTS_TUMBLING = """
SELECT CAST(date_trunc('hour', ts) AS DATE) AS day,
       CAST(extract(hour FROM ts) AS INT) AS hour,
       event_type,
       COUNT(*) AS n_events,
       CAST(SUM(CAST(value AS DECIMAL(18,6))) AS DOUBLE) AS sum_value
FROM events
GROUP BY 1, 2, 3
"""
SQL_EVENTS_STREAM_TUMBLING = SQL_EVENTS_TUMBLING


def q_events_stream_tumbling(spark, sf_dir):
    """The ACTUAL Structured Streaming engine through the oracle gate
    (round 5): readStream over the events parquet -> watermarked 1-hour
    tumbling window -> Trigger.AvailableNow drain into a memory sink ->
    the SAME DuckDB SQL as the batch query. Decimal-cast sum for
    accumulation-order-independent values (the events_tumbling
    convention)."""
    import uuid

    from ..streaming.events import read_events_stream, run_available_now

    # the file stream source needs a directory: read the whole sf dir with
    # the forced events schema — non-events rows project to null ts and
    # drop out of the event-time window (the test-suite convention)
    ev = read_events_stream(spark, sf_dir)
    ev = ev.where(F.col("ts").isNotNull() & F.col("event_id").isNotNull())
    agg = (
        ev.withWatermark("ts", "2 hours")
        .groupBy(F.window("ts", "1 hour").alias("w"), "event_type")
        .agg(
            F.count("*").alias("n_events"),
            F.sum(F.col("value").cast("decimal(18,6)")).alias("sv"),
        )
    )
    out = run_available_now(agg, f"stream_tumb_{uuid.uuid4().hex[:8]}")
    return out.select(
        F.col("w.start").cast("date").alias("day"),
        F.hour(F.col("w.start")).alias("hour"),
        "event_type",
        "n_events",
        F.col("sv").cast("double").alias("sum_value"),
    )


def q_events_stream_topk(spark, sf_dir):
    """Streaming per-window heavy hitters (r9): the real readStream path
    — watermarked 1-hour tumbling counts per event type drained with
    Trigger.AvailableNow — then the top-3 rank per window computed over
    the drained snapshot (ranking is not an append-mode streaming
    operator, so the post-drain batch rank IS the production shape:
    stream maintains the windowed counts, a cheap batch pass ranks
    them). Deterministic tie-break (count DESC, event_type ASC)."""
    import uuid

    from ..streaming.events import read_events_stream, run_available_now

    ev = read_events_stream(spark, sf_dir)
    ev = ev.where(F.col("ts").isNotNull() & F.col("event_id").isNotNull())
    agg = (
        ev.withWatermark("ts", "2 hours")
        .groupBy(F.window("ts", "1 hour").alias("w"), "event_type")
        .agg(F.count("*").alias("n_events"))
    )
    out = run_available_now(agg, f"stream_topk_{uuid.uuid4().hex[:8]}")
    wnd = Window.partitionBy("w").orderBy(
        F.col("n_events").desc(), F.col("event_type").asc())
    return (
        out.withColumn("rk", F.row_number().over(wnd))
        .where(F.col("rk") <= 3)
        .select(
            F.col("w.start").cast("date").alias("day"),
            F.hour(F.col("w.start")).alias("hour"),
            F.col("rk").cast("int").alias("rk"),
            "event_type",
            "n_events",
        )
    )


SQL_EVENTS_STREAM_TOPK = """
WITH hourly AS (
  SELECT CAST(date_trunc('hour', ts) AS DATE) AS day,
         EXTRACT(hour FROM date_trunc('hour', ts)) AS hour,
         event_type, COUNT(*) AS n_events
  FROM events
  GROUP BY date_trunc('hour', ts), event_type
),
rk AS (
  SELECT day, CAST(hour AS INT) AS hour, event_type, n_events,
         row_number() OVER (PARTITION BY day, hour
                            ORDER BY n_events DESC, event_type ASC) AS rk
  FROM hourly
)
SELECT day, hour, CAST(rk AS INT) AS rk, event_type, n_events
FROM rk WHERE rk <= 3
"""
SQL_EVENTS_STREAM_SESSION = SQL_EVENTS_SESSION


def q_events_stream_session(spark, sf_dir):
    """Stateful streaming session windows through the oracle gate
    (round 6, VERDICT r5 #5): readStream -> watermarked session_window
    per user -> Trigger.AvailableNow drain -> the SAME gaps-and-islands
    DuckDB SQL as the batch ``events_session`` query."""
    import uuid

    from ..streaming.events import read_events_stream, sessionize, run_available_now

    ev = read_events_stream(spark, sf_dir)
    ev = ev.where(F.col("ts").isNotNull() & F.col("event_id").isNotNull())
    sess = sessionize(ev, gap="30 minutes", watermark="2 hours")
    out = run_available_now(sess, f"stream_sess_{uuid.uuid4().hex[:8]}")
    return out.select(
        "user_id",
        F.date_trunc("second", F.col("session_start")).alias("session_start"),
        "n_events",
    )


def q_events_stream_sliding(spark, sf_dir):
    """Streaming sliding windows through the oracle gate (round 6):
    readStream -> watermarked 1-hour/30-min sliding window ->
    AvailableNow drain -> the SAME DuckDB SQL as the batch
    ``events_sliding`` query."""
    import uuid

    from ..streaming.events import read_events_stream, run_available_now

    ev = read_events_stream(spark, sf_dir)
    ev = ev.where(F.col("ts").isNotNull() & F.col("event_id").isNotNull())
    agg = (
        ev.withWatermark("ts", "2 hours")
        .groupBy(F.window("ts", "1 hour", "30 minutes").alias("w"), "event_type")
        .agg(F.count("*").alias("n_events"))
    )
    out = run_available_now(agg, f"stream_slide_{uuid.uuid4().hex[:8]}")
    return out.select(
        F.col("w.start").cast("date").alias("day"),
        (F.hour("w.start") * 60 + F.minute("w.start")).alias("start_min"),
        "event_type",
        "n_events",
    )


def q_events_stream_dedup(spark, sf_dir):
    """Streaming exact dedup through the oracle gate (round 6): the
    stream unioned with itself (every event twice) -> watermark +
    dropDuplicates(event_id) (bounded state) -> AvailableNow drain in
    append mode -> each event exactly once, vs a plain DISTINCT oracle.
    Both union branches are identical rows, so keep-first is
    value-deterministic."""
    import uuid

    from ..streaming.events import (dedup_events, read_events_stream,
                                    run_available_now)

    ev = read_events_stream(spark, sf_dir)
    ev = ev.where(F.col("ts").isNotNull() & F.col("event_id").isNotNull())
    doubled = ev.unionByName(ev)
    deduped = dedup_events(doubled, keys=["event_id"], watermark="2 hours")
    out = run_available_now(
        deduped, f"stream_dedup_{uuid.uuid4().hex[:8]}", output_mode="append"
    )
    return out.select("event_id", "event_type", "user_id")


SQL_EVENTS_STREAM_DEDUP = """
SELECT DISTINCT event_id, event_type, user_id FROM events
"""


def q_events_stream_stateful(spark, sf_dir):
    """The ``applyInPandasWithState`` custom stateful operator under the
    gate (round 6): per-user lifetime counters maintained across
    micro-batches, drained with AvailableNow in update mode. The memory
    sink holds one row per user per batch; the FINAL state per user
    (max n_events, its paired sum) must equal the batch aggregate —
    true for any micro-batch split, so the oracle is batching-agnostic."""
    import uuid

    from ..streaming.events import (read_events_stream, run_available_now,
                                    running_user_totals)

    ev = read_events_stream(spark, sf_dir)
    ev = ev.where(F.col("user_id").isNotNull())
    tot = running_user_totals(ev.select("user_id", "value"))
    out = run_available_now(
        tot, f"stream_state_{uuid.uuid4().hex[:8]}", output_mode="update"
    )
    return out.groupBy("user_id").agg(
        F.max("n_events").alias("n_events"),
        F.round(F.expr("max_by(sum_value, n_events)"), 2).alias("sum_value"),
    )


SQL_EVENTS_STREAM_STATEFUL = """
SELECT user_id, COUNT(*) AS n_events,
       CAST(ROUND(SUM(CAST(COALESCE(value, 0) AS DECIMAL(18,6))), 2) AS DOUBLE) AS sum_value
FROM events WHERE user_id IS NOT NULL GROUP BY user_id
"""


def q_multimodal_video(spark, sf_dir):
    """Video-leg multimodal plumbing under the gate (round 6): document
    bytes as a fake 16-byte-per-frame grayscale stream -> ``frame_sample``
    (every 2nd frame explodes to its own row via mapInPandas) -> per-frame
    mean pixel value. The decode is the documented environment seam; the
    Spark plumbing (schema, batching, explode shape) is the real path."""
    from ..functions import multimodal as fmm

    docs = _t(spark, sf_dir, "documents").select(
        "doc_id", F.col("text").cast("binary").alias("data")
    )
    frames = fmm.frame_sample(docs, every_n=2,
                              frame_decoder=fmm.payload_video_decoder)
    return frames.select(
        "doc_id",
        "frame_idx",
        F.round(
            F.expr("aggregate(frame, 0D, (a, x) -> a + x) / size(frame)"), 6
        ).alias("mean_px"),
    )


SQL_MULTIMODAL_VIDEO = """
WITH d AS (SELECT doc_id, text, strlen(text) // 16 AS nf FROM documents),
f AS (
  SELECT doc_id, text, CAST(fi AS INT) AS frame_idx
  FROM (SELECT doc_id, text, unnest(range(nf)) AS fi FROM d)
  WHERE fi % 2 = 0
),
px AS (
  SELECT doc_id, frame_idx,
         CAST(ascii(substr(text, CAST(frame_idx * 16 + p.p AS INT) + 1, 1)) AS DOUBLE) AS v
  FROM f, range(16) p(p)
)
SELECT doc_id, frame_idx, round(AVG(v), 6) AS mean_px
FROM px GROUP BY doc_id, frame_idx
"""


def q_multimodal_frame_dedup(spark, sf_dir):
    """Cross-video duplicate-frame detection: frame_sample explodes
    every 2nd fake-decoded frame, each frame fingerprints to
    md5(pixel-int CSV), and duplicated fingerprints report occurrence /
    distinct-video counts — the frame-level dedup a video corpus runs
    before training (sampled frames scan; the blobs are never
    re-read)."""
    from ..functions import multimodal as fmm

    docs = _t(spark, sf_dir, "documents").select(
        "doc_id", F.col("text").cast("binary").alias("data")
    )
    frames = fmm.frame_sample(docs, every_n=2,
                              frame_decoder=fmm.payload_video_decoder)
    fp = F.md5(F.expr(
        "concat_ws(',', transform(frame, x -> CAST(CAST(x AS INT) AS STRING)))"
    ))
    return (
        frames.select("doc_id", fp.alias("frame_fp"))
        .groupBy("frame_fp")
        .agg(
            F.count("*").alias("n_frames"),
            F.countDistinct("doc_id").alias("n_docs"),
            F.min("doc_id").alias("first_doc"),
        )
        .where(F.col("n_frames") > 1)
    )


SQL_MULTIMODAL_FRAME_DEDUP = """
WITH d AS (SELECT doc_id, text, strlen(text) // 16 AS nf FROM documents),
f AS (
  SELECT doc_id, text, CAST(fi AS INT) AS frame_idx
  FROM (SELECT doc_id, text, unnest(range(nf)) AS fi FROM d)
  WHERE fi % 2 = 0
),
px AS (
  SELECT doc_id, frame_idx, p.p AS p,
         ascii(substr(text, CAST(frame_idx * 16 + p.p AS INT) + 1, 1)) AS v
  FROM f, range(16) p(p)
),
fp AS (
  SELECT doc_id, frame_idx,
         md5(string_agg(CAST(v AS VARCHAR), ',' ORDER BY p)) AS frame_fp
  FROM px GROUP BY doc_id, frame_idx
)
SELECT frame_fp, COUNT(*) AS n_frames, COUNT(DISTINCT doc_id) AS n_docs,
       MIN(doc_id) AS first_doc
FROM fp GROUP BY frame_fp HAVING COUNT(*) > 1
"""


def q_tms_render_tile(spark, sf_dir):
    """The TMS serving path under the gate (round 6): catalog write ->
    DuckDB point-read fetch (no Spark on the hot path) -> ColorMap
    render -> PNG decode, at the stored zoom AND over-zoomed one level
    (parent quadrant crop + nearest upsample, ``TileReader.scala:
    28-44``). Output = RGBA of every pixel of both served tiles."""
    import pandas as pd
    import shutil
    import tempfile

    from ..operators.render import ColorMap, decode_png_rgba
    from ..sources import catalog as cat
    from ..tms import CatalogTileFetcher, render_tile

    layer = lineitem_layer(spark, sf_dir)
    cm = ColorMap.from_colors(
        [10.0, 25.0, 50.0], [0xFF0000FF, 0x00FF00FF, 0x0000FFFF]
    )
    uri = tempfile.mkdtemp(prefix="tms_", dir=_scratch_dir())
    frames = []
    try:
        cat.write(uri, "tms", layer, zoom=0)
        fetcher = CatalogTileFetcher(uri, "tms")
        for level, z, c, r in (("z0", 0, 2, 1), ("z1", 1, 5, 3)):
            png = render_tile(fetcher, z, c, r, color_map=cm, nodata=layer.nodata)
            rgba = decode_png_rgba(png).astype(np.int64)
            packed = (
                (rgba[..., 0] << 24) | (rgba[..., 1] << 16)
                | (rgba[..., 2] << 8) | rgba[..., 3]
            ).reshape(-1)
            frames.append(pd.DataFrame({
                "level": level,
                "pos": np.arange(packed.size, dtype=np.int32),
                "rgba": packed,
            }))
    finally:
        shutil.rmtree(uri, ignore_errors=True)
    return spark.createDataFrame(
        pd.concat(frames, ignore_index=True), "level string, pos int, rgba bigint"
    )


_TMS_COLOR_CASE = f"""CAST(CASE
         WHEN {{v}} = -1.0 THEN 0
         WHEN {{v}} <= 10 THEN {0xFF0000FF}
         WHEN {{v}} <= 25 THEN {0x00FF00FF}
         ELSE {0x0000FFFF}
       END AS BIGINT)"""

SQL_TMS_RENDER_TILE = CELLS_CTE + f"""
, tile AS (
  SELECT pos, value FROM coords WHERE key_col = 2 AND key_row = 1
), allp AS (
  SELECT CAST(range AS INT) AS pos FROM range({TILE * TILE})
), grid AS (
  -- over-zoom tile (z=1, col=5, row=3): bottom-right quadrant of parent
  -- (2,1), nearest-upsampled: out(r,c) <- parent(4 + r//2, 4 + c//2)
  SELECT CAST(r.range * {TILE} + c.range AS INT) AS pos,
         CAST(({TILE // 2} + r.range // 2) * {TILE}
              + ({TILE // 2} + c.range // 2) AS INT) AS ppos
  FROM range({TILE}) r, range({TILE}) c
), z0 AS (
  SELECT 'z0' AS level, p.pos,
         {_TMS_COLOR_CASE.format(v="COALESCE(t.value, -1.0)")} AS rgba
  FROM allp p LEFT JOIN tile t ON t.pos = p.pos
), z1 AS (
  SELECT 'z1' AS level, g.pos,
         {_TMS_COLOR_CASE.format(v="COALESCE(t.value, -1.0)")} AS rgba
  FROM grid g LEFT JOIN tile t ON t.pos = g.ppos
)
SELECT * FROM z0 UNION ALL SELECT * FROM z1
"""


def q_events_sliding(spark, sf_dir):
    """1-hour windows sliding every 30 min: each event lands in 2 windows.
    Output window start as (date, minutes-of-day) ints for portability."""
    ev = _events(spark, sf_dir)
    win = ev.select(
        F.window("ts", "1 hour", "30 minutes").alias("w"), "event_type", "value"
    )
    return (
        win.groupBy(
            F.col("w.start").cast("date").alias("day"),
            (F.hour("w.start") * 60 + F.minute("w.start")).alias("start_min"),
            "event_type",
        )
        .agg(F.count("*").alias("n_events"))
    )


SQL_EVENTS_SLIDING = """
WITH starts AS (
  SELECT ts, event_type,
         unnest([time_bucket(INTERVAL '30 minutes', ts),
                 time_bucket(INTERVAL '30 minutes', ts) - INTERVAL '30 minutes']) AS w_start
  FROM events
)
SELECT CAST(w_start AS DATE) AS day,
       CAST(extract(hour FROM w_start) * 60 + extract(minute FROM w_start) AS INT) AS start_min,
       event_type,
       COUNT(*) AS n_events
FROM starts
GROUP BY 1, 2, 3
"""
SQL_EVENTS_STREAM_SLIDING = SQL_EVENTS_SLIDING


def q_events_user_stats(spark, sf_dir):
    ev = _events(spark, sf_dir)
    return ev.groupBy("user_id").agg(
        F.count("*").alias("n_events"),
        F.countDistinct("event_type").alias("n_types"),
        F.sum(F.col("value").cast("decimal(18,6)")).cast("double").alias("sum_value"),
    )


SQL_EVENTS_USER_STATS = """
SELECT user_id, COUNT(*) AS n_events, COUNT(DISTINCT event_type) AS n_types,
       CAST(SUM(CAST(value AS DECIMAL(18,6))) AS DOUBLE) AS sum_value
FROM events GROUP BY user_id
"""


_TREND_EPOCH = 1_704_067_200  # 2024-01-01T00:00:00Z, the events corpus start


def q_events_trend(spark, sf_dir):
    """Per-user OLS trend of event value over time (r13): slope (value
    per day), intercept at the corpus epoch, and R^2, in ONE hash
    aggregate. The sufficient statistics accumulate in DECIMAL so the
    result is partitioning- and engine-exact; only the closed-form
    division runs in double (see ``functions.relational.linear_trend``).
    """
    from ..functions import relational as frel

    ev = _events(spark, sf_dir)
    return frel.linear_trend(ev, "user_id", "ts", "value",
                             x_origin=_TREND_EPOCH, slope_scale=86_400.0)


SQL_EVENTS_TREND = f"""
WITH pts AS (
  SELECT user_id,
         CAST(floor(epoch(ts)) AS BIGINT) - {_TREND_EPOCH} AS x,
         CAST(value AS DECIMAL(18,6)) AS y
  FROM events
), s AS (
  SELECT user_id,
         COUNT(*) AS n,
         SUM(x) AS sx_long,
         CAST(SUM(y) AS DOUBLE) AS sy,
         CAST(SUM(CAST(x AS DECIMAL(10,0)) * y) AS DOUBLE) AS sxy,
         CAST(SUM(CAST(x AS DECIMAL(10,0)) * CAST(x AS DECIMAL(10,0))) AS DOUBLE) AS sxx,
         CAST(SUM(y * y) AS DOUBLE) AS syy
  FROM pts GROUP BY user_id
)
SELECT user_id, n AS n_events,
       round(((CAST(n AS DOUBLE) * sxy - CAST(sx_long AS DOUBLE) * sy)
              / (CAST(n AS DOUBLE) * sxx - CAST(sx_long AS DOUBLE) * CAST(sx_long AS DOUBLE)))
             * 86400.0, 6) AS slope,
       round(sy / CAST(n AS DOUBLE)
             - ((CAST(n AS DOUBLE) * sxy - CAST(sx_long AS DOUBLE) * sy)
                / (CAST(n AS DOUBLE) * sxx - CAST(sx_long AS DOUBLE) * CAST(sx_long AS DOUBLE)))
               * (CAST(sx_long AS DOUBLE) / CAST(n AS DOUBLE)), 6) AS intercept,
       round(CASE WHEN (CAST(n AS DOUBLE) * sxx - CAST(sx_long AS DOUBLE) * CAST(sx_long AS DOUBLE))
                       * (CAST(n AS DOUBLE) * syy - sy * sy) = 0 THEN 1.0
                  ELSE (CAST(n AS DOUBLE) * sxy - CAST(sx_long AS DOUBLE) * sy)
                       * (CAST(n AS DOUBLE) * sxy - CAST(sx_long AS DOUBLE) * sy)
                       / ((CAST(n AS DOUBLE) * sxx - CAST(sx_long AS DOUBLE) * CAST(sx_long AS DOUBLE))
                          * (CAST(n AS DOUBLE) * syy - sy * sy)) END, 6) AS r2
FROM s
WHERE n >= 2
  AND CAST(n AS DOUBLE) * sxx - CAST(sx_long AS DOUBLE) * CAST(sx_long AS DOUBLE) <> 0
"""


# ---------------------------------------------------------------------------
# documents: text analysis + dedup
# ---------------------------------------------------------------------------

def q_text_token_count(spark, sf_dir):
    return ftext.token_count(_t(spark, sf_dir, "documents"))


SQL_TEXT_TOKEN_COUNT = """
SELECT doc_id, CAST(len(string_split(trim(text), ' ')) AS INT) AS n_tokens FROM documents
"""
SQL_TEXT_BPE_TOKENS = lambda: _sql_bpe_tokens()


def q_text_bpe_tokens(spark, sf_dir):
    return ftext.bpe_token_count(_t(spark, sf_dir, "documents"))


def _sql_bpe_tokens() -> str:
    pat = ftext.BPE_ISH_PATTERN.replace("'", "''")
    return f"""
SELECT doc_id,
       CAST(len(string_split(trim(text), ' ')) AS INT) AS n_ws_tokens,
       CAST(len(regexp_extract_all(text, '{pat}')) AS INT) AS n_bpe_tokens
FROM documents
"""


def q_text_word_freq(spark, sf_dir):
    return ftext.word_frequencies(_t(spark, sf_dir, "documents"))


SQL_TEXT_WORD_FREQ = """
SELECT word, COUNT(*) AS cnt
FROM (SELECT unnest(string_split(trim(text), ' ')) AS word FROM documents)
GROUP BY word
"""


def q_text_quality(spark, sf_dir):
    return ftext.quality_metrics(_t(spark, sf_dir, "documents"))


SQL_TEXT_QUALITY = """
WITH t AS (SELECT doc_id, text, string_split(trim(text), ' ') AS toks FROM documents)
SELECT doc_id,
       CAST(length(text) AS INT) AS n_chars_measured,
       CAST(len(toks) AS INT) AS n_tokens,
       CAST(len(list_distinct(toks)) AS INT) AS n_distinct_tokens,
       CAST(list_max(list_transform(toks, w -> length(w))) AS INT) AS max_token_len
FROM t
"""
SQL_TEXT_QUALITY_RATIOS = lambda: _sql_quality_ratios()


def q_text_quality_ratios(spark, sf_dir):
    return ftext.quality_ratios(_t(spark, sf_dir, "documents"))


def _sql_quality_ratios() -> str:
    sw = ", ".join(f"'{w}'" for w in ftext.STOPWORDS_EN)
    return f"""
WITH t AS (SELECT doc_id, text, string_split(trim(text), ' ') AS toks FROM documents)
SELECT doc_id,
       CAST(length(text) AS INT) AS n_chars,
       CAST(length(text) - length(regexp_replace(text, '[^a-zA-Z0-9\\s]', '', 'g')) AS INT) AS n_punct_chars,
       CAST(len(toks) AS INT) AS n_tokens,
       CAST(len(list_filter(toks, x -> list_contains([{sw}], lower(x)))) AS INT) AS n_stopwords
FROM t
"""


PCA_K = 4
SQL_EMB_PCA = lambda: _sql_emb_pca()


def q_emb_pca(spark, sf_dir):
    """Distributed PCA over the embedding corpus (r9): the sufficient
    statistics are EXACT integer sums from one Arrow pass (per-batch
    int64 outer products in numpy; only d^2-ish partial rows shuffle),
    the eigensolve is a driver-side pure function of them, and the
    projection is exact integer dot products inside the 2^53
    double-exact window. The oracle recomputes the statistics in numpy
    from the parquet corpus, runs the SAME shared eigensolve
    (``similarity.pca_fit_from_stats``), and projects in SQL — any
    divergence in the distributed statistics pass changes the
    components and fails every projected value."""
    from ..functions import similarity as fsim

    emb = _t(spark, sf_dir, "embeddings")
    mean, comps = fsim.pca_fit(emb, k=PCA_K)
    return fsim.pca_project(emb, mean, comps)


def _sql_emb_pca() -> str:
    import duckdb
    import numpy as np

    from ..functions import similarity as fsim

    sf_dir = _oracle_sf_dir()
    con = duckdb.connect()
    rows = con.sql(
        f"SELECT embedding FROM '{sf_dir}/embeddings.parquet'"
    ).fetchall()
    con.close()
    E = fsim.pca_quantize(np.array([r[0] for r in rows]))
    mean, comps = fsim.pca_fit_from_stats(
        len(rows), E.sum(axis=0), E.T @ E, PCA_K)
    mean_sql = "[" + ", ".join(f"{v}.0" for v in mean) + "]::DOUBLE[]"
    sel = []
    for i, comp in enumerate(comps):
        v_sql = "[" + ", ".join(f"{v}.0" for v in comp) + "]::DOUBLE[]"
        sel.append(
            f"CAST(list_dot_product(cent, {v_sql}) AS BIGINT) AS pc{i}_fp")
    return f"""
WITH c AS (
  SELECT vec_id,
         list_transform(
           list_zip(CAST(embedding AS DOUBLE[]), {mean_sql}),
           p -> round(p[1] * 1000000) - p[2]
         ) AS cent
  FROM embeddings
)
SELECT vec_id, {", ".join(sel)}
FROM c
"""


def q_emb_pca_variance(spark, sf_dir):
    """Explained-variance spectrum of the corpus PCA (r9): integer
    fixed-point eigenvalues + trace shares, a pure function of the
    exact distributed statistics — the oracle recomputes from its own
    numpy statistics and must land on identical integers."""
    from ..functions import similarity as fsim

    return fsim.pca_explained_variance(
        _t(spark, sf_dir, "embeddings"), k=PCA_K)


SQL_EMB_PCA_VARIANCE = lambda: _sql_emb_pca_variance()


def _sql_emb_pca_variance() -> str:
    import duckdb
    import numpy as np

    from ..functions import similarity as fsim

    sf_dir = _oracle_sf_dir()
    con = duckdb.connect()
    rows = con.sql(
        f"SELECT embedding FROM '{sf_dir}/embeddings.parquet'"
    ).fetchall()
    con.close()
    E = fsim.pca_quantize(np.array([r[0] for r in rows]))
    n, msum, S = len(rows), E.sum(axis=0), E.T @ E
    dim = E.shape[1]
    vals = fsim.pca_eigenvalues_from_stats(n, msum, S, PCA_K)
    trace = float(sum(fsim.pca_eigenvalues_from_stats(n, msum, S, dim)))
    values = ", ".join(
        f"({i}, {int(np.floor(v))}, {int(np.floor(v / trace * 1_000_000))})"
        for i, v in enumerate(vals))
    return f"""
SELECT CAST(col0 AS INT) AS component, CAST(col1 AS BIGINT) AS eigval_fp,
       CAST(col2 AS BIGINT) AS share_ppm
FROM (VALUES {values}) t(col0, col1, col2)
"""


def q_text_classifier(spark, sf_dir):
    """Distributed linear quality/language classifier (beyond-reference
    LLM-pipeline surface): full-batch logistic-surrogate GD where every
    iteration is one corpus scan + a 4-value integer-exact global
    aggregate (map-side partials, no shuffle), then one scoring scan.
    The label is a deterministic length class (n_chars >= 300) so the
    fixture corpus is genuinely learnable (~95% from a 51% base rate in
    20 rounds). The oracle RETRAINS the same model in numpy from the
    parquet corpus and must reach bit-identical weights (exact BIGINT
    gradient sums + the engine-portable algebraic sigmoid make that
    deterministic), so the gate covers training, not just scoring."""
    docs = _t(spark, sf_dir, "documents")
    feats = ftext.classifier_features(docs).join(
        docs.select(
            "doc_id", (F.col("n_chars") >= 300).cast("int").alias("label")
        ),
        "doc_id",
    )
    w = ftext.logreg_train(feats, label_col="label", iters=20, lr=2.0)
    return (
        ftext.logreg_score(feats, w)
        .join(feats.select("doc_id", "label"), "doc_id")
        .select("doc_id", "score_fp", "pred", "label")
    )


SQL_TEXT_CLASSIFIER = lambda: _sql_text_classifier()


def _classifier_feat_sql(table: str) -> str:
    sw = ", ".join(f"'{w}'" for w in ftext.STOPWORDS_EN)
    return f"""
SELECT doc_id,
       CAST(floor((length(text) - length(regexp_replace(text, '[^a-zA-Z0-9\\s]', '', 'g'))) * 1000000 / greatest(length(text), 1)) AS BIGINT) AS punct_ppm,
       CAST(floor(len(list_filter(string_split(trim(text), ' '), x -> list_contains([{sw}], lower(x)))) * 1000000 / greatest(len(string_split(trim(text), ' ')), 1)) AS BIGINT) AS stop_ppm,
       CAST(least(len(string_split(trim(text), ' ')), 100) AS BIGINT) AS len_capped,
       CAST(n_chars >= 300 AS INT) AS label
FROM {table}
"""


def _sql_text_classifier() -> str:
    """Oracle for ``text_classifier``: retrain the 4-weight model in
    numpy with the EXACT arithmetic of ``ftext.logreg_train`` (same
    left-associated float expression tree, same algebraic sigmoid, same
    floor-at-1e6 BIGINT gradient sums), then score in SQL with the
    reached weights. Any divergence in the distributed training path —
    a lost document, a float reassociation, a non-exact aggregate —
    changes the weights and fails the hash."""
    import duckdb
    import numpy as np

    sf_dir = _oracle_sf_dir()
    con = duckdb.connect()
    rows = con.sql(
        _classifier_feat_sql(f"'{sf_dir}/documents.parquet'")
    ).fetchall()
    con.close()
    punct = np.array([r[1] for r in rows], dtype=np.float64)
    stop = np.array([r[2] for r in rows], dtype=np.float64)
    lcap = np.array([r[3] for r in rows], dtype=np.float64)
    y = np.array([r[4] for r in rows], dtype=np.float64)
    xp, xs, xl = punct / 1_000_000.0, stop / 1_000_000.0, lcap / 100.0
    n = len(rows)
    w = [0.0, 0.0, 0.0, 0.0]
    scale = float(ftext.GRAD_SCALE)
    for _ in range(20):
        m = ((w[0] + w[1] * xp) + w[2] * xs) + w[3] * xl
        sig = 0.5 + m / (2.0 * (1.0 + np.abs(m)))
        err = sig - y
        for j, x in enumerate((1.0, xp, xs, xl)):
            g = int(np.floor((err * x) * scale).astype(np.int64).sum())
            w[j] = w[j] - 2.0 * ((g / ftext.GRAD_SCALE) / n)
    w0, w1, w2, w3 = (repr(float(v)) for v in w)
    return f"""
WITH feat AS ({_classifier_feat_sql("documents")}),
m AS (
  SELECT doc_id, label,
         ((({w0} + {w1} * (punct_ppm / 1000000.0))
           + {w2} * (stop_ppm / 1000000.0))
          + {w3} * (len_capped / 100.0)) AS mg
  FROM feat
),
sc AS (
  SELECT doc_id, label,
         CAST(floor((0.5 + mg / (2.0 * (1.0 + abs(mg)))) * 1000000.0) AS BIGINT) AS score_fp
  FROM m
)
SELECT doc_id, score_fp,
       CAST(score_fp >= 500000 AS INT) AS pred,
       label
FROM sc
"""


BPE_ROUNDS = 12
SQL_TEXT_BPE_TRAIN = lambda: _sql_text_bpe_train()


def q_text_bpe_train(spark, sf_dir):
    """Distributed BPE tokenizer TRAINING (beyond-reference LLM-pipeline
    surface; `text_bpe_tokens` only counts with a fixed regex — this
    learns the merges). One corpus-scale tokenize+groupBy builds the
    word vocabulary; each round then runs at vocabulary scale (pair
    explode + hash agg + distributed top-1) and merges via a greedy
    aggregate fold. The oracle RETRAINS in pure Python from the same
    parquet corpus — integer counts + the (count DESC, pair ASC)
    tie-break make the merge sequence engine-exact."""
    merges = ftext.bpe_train(_t(spark, sf_dir, "documents"),
                             rounds=BPE_ROUNDS)
    return spark.createDataFrame(
        [(int(r), l, rt, int(c)) for r, l, rt, c in merges],
        "merge_round int, left_sym string, right_sym string, pair_count bigint",
    )


def _sql_text_bpe_train() -> str:
    import duckdb

    sf_dir = _oracle_sf_dir()
    con = duckdb.connect()
    wc = con.sql(
        f"SELECT word, COUNT(*) AS c FROM ("
        f"SELECT unnest(string_split(trim(text), ' ')) AS word "
        f"FROM '{sf_dir}/documents.parquet') GROUP BY word"
    ).fetchall()
    con.close()
    merges = ftext.bpe_reference_train(wc, rounds=BPE_ROUNDS)

    def q(v: str) -> str:
        return "'" + v.replace("'", "''") + "'"

    if not merges:
        return ("SELECT CAST(0 AS INT) AS merge_round, '' AS left_sym, "
                "'' AS right_sym, CAST(0 AS BIGINT) AS pair_count WHERE FALSE")
    values = ", ".join(
        f"({r}, {q(l)}, {q(rt)}, {c})" for r, l, rt, c in merges)
    return f"""
SELECT CAST(col0 AS INT) AS merge_round, col1 AS left_sym,
       col2 AS right_sym, CAST(col3 AS BIGINT) AS pair_count
FROM (VALUES {values}) t(col0, col1, col2, col3)
"""


def q_text_bpe_encode(spark, sf_dir):
    """Corpus tokenization under the TRAINED BPE merges
    (``text.py::bpe_encode``): merges fold over the distinct word
    vocabulary in chained Catalyst aggregates, documents join their
    words' token counts back — one content shuffle, one per-doc sum,
    no Python. The oracle retrains in pure Python (the shared
    ``bpe_reference_train``), re-applies the greedy fold per word, and
    injects per-doc token counts as VALUES."""
    docs = _t(spark, sf_dir, "documents")
    merges = ftext.bpe_train(docs, rounds=BPE_ROUNDS)
    return ftext.bpe_encode(docs, merges)


SQL_TEXT_BPE_ENCODE = lambda: _sql_text_bpe_encode()


def _sql_text_bpe_encode() -> str:
    import duckdb

    sf_dir = _oracle_sf_dir()
    con = duckdb.connect()
    wc = con.sql(
        f"SELECT word, COUNT(*) AS c FROM ("
        f"SELECT unnest(string_split(trim(text), ' ')) AS word "
        f"FROM '{sf_dir}/documents.parquet') GROUP BY word"
    ).fetchall()
    docs = con.sql(
        f"SELECT doc_id, string_split(trim(text), ' ') AS ws "
        f"FROM '{sf_dir}/documents.parquet'"
    ).fetchall()
    con.close()
    merges = ftext.bpe_reference_train(wc, rounds=BPE_ROUNDS)
    tok_of = {w: len(ftext.bpe_reference_encode(w, merges))
              for w, _c in wc}
    values = ", ".join(
        f"({doc_id}, {sum(tok_of[w] for w in ws)})"
        for doc_id, ws in sorted(docs))
    return f"""
SELECT CAST(col0 AS BIGINT) AS doc_id, CAST(col1 AS BIGINT) AS n_tokens
FROM (VALUES {values}) t(col0, col1)
"""


def q_rel_spearman(spark, sf_dir):
    """Exact ties-correct Spearman rank correlation (r9): account
    balance vs order count per customer — doubled average ranks are
    exact integers, so the sufficient statistics are exact BIGINTs and
    only the one-row textbook formula runs in float
    (``functions/relational.py::spearman``)."""
    from ..functions import relational as frel

    cust = _t(spark, sf_dir, "customer").select("c_custkey", "c_acctbal")
    cnt = (
        _t(spark, sf_dir, "orders")
        .groupBy("o_custkey").agg(F.count("*").alias("n_orders"))
    )
    xy = cust.join(
        cnt, cust["c_custkey"] == cnt["o_custkey"], "left_outer"
    ).select(
        "c_acctbal", F.coalesce("n_orders", F.lit(0)).alias("n_orders")
    )
    return frel.spearman(xy, "c_acctbal", "n_orders")


SQL_REL_SPEARMAN = """
WITH xy AS (
  SELECT c.c_acctbal AS x, COALESCE(o.n_orders, 0) AS y
  FROM customer c
  LEFT JOIN (SELECT o_custkey, COUNT(*) AS n_orders
             FROM orders GROUP BY o_custkey) o
    ON c.c_custkey = o.o_custkey
),
r AS (
  SELECT CAST(rank() OVER (ORDER BY x ASC)
              + (COUNT(*) OVER () + 1 - rank() OVER (ORDER BY x DESC))
         AS BIGINT) AS rx2,
         CAST(rank() OVER (ORDER BY y ASC)
              + (COUNT(*) OVER () + 1 - rank() OVER (ORDER BY y DESC))
         AS BIGINT) AS ry2
  FROM xy
),
agg AS (
  SELECT CAST(COUNT(*) AS BIGINT) AS n,
         CAST(SUM(rx2) AS BIGINT) AS sx, CAST(SUM(ry2) AS BIGINT) AS sy,
         CAST(SUM(rx2 * rx2) AS BIGINT) AS sxx,
         CAST(SUM(ry2 * ry2) AS BIGINT) AS syy,
         CAST(SUM(rx2 * ry2) AS BIGINT) AS sxy
  FROM r
)
SELECT n,
       CASE WHEN (CAST(n AS DOUBLE) * CAST(sxx AS DOUBLE)
                  - CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE)) > 0
             AND (CAST(n AS DOUBLE) * CAST(syy AS DOUBLE)
                  - CAST(sy AS DOUBLE) * CAST(sy AS DOUBLE)) > 0
            THEN (CAST(n AS DOUBLE) * CAST(sxy AS DOUBLE)
                  - CAST(sx AS DOUBLE) * CAST(sy AS DOUBLE))
                 / sqrt((CAST(n AS DOUBLE) * CAST(sxx AS DOUBLE)
                         - CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE))
                        * (CAST(n AS DOUBLE) * CAST(syy AS DOUBLE)
                           - CAST(sy AS DOUBLE) * CAST(sy AS DOUBLE)))
       END AS rho
FROM agg
"""


def q_rel_merge_upsert(spark, sf_dir):
    """Delta-style MERGE INTO as one full-outer shuffle join
    (``functions/relational.py::merge_into``): updates (every 3rd
    customer gets a renamed row + adjusted balance), deletes (of those,
    every 9th is flagged), and inserts (every 5th key re-keyed past the
    range), with untouched target rows passing through — the nightly
    warehouse upsert, oracle-checked against the equivalent SQL FULL
    OUTER JOIN + CASE (r9)."""
    from ..functions import relational as frel

    cust = _t(spark, sf_dir, "customer").select(
        "c_custkey", "c_name",
        F.col("c_acctbal").cast("double").alias("c_acctbal"),
        "c_nationkey",
    )
    updates = cust.where(F.col("c_custkey") % 3 == 0).select(
        "c_custkey",
        F.concat(F.col("c_name"), F.lit("-upd")).alias("c_name"),
        (F.col("c_acctbal") + F.lit(100.0)).alias("c_acctbal"),
        "c_nationkey",
        (F.col("c_custkey") % 9 == 0).cast("int").alias("is_deleted"),
    )
    inserts = cust.where(F.col("c_custkey") % 5 == 0).select(
        (F.col("c_custkey") + F.lit(10_000_000)).alias("c_custkey"),
        F.concat(F.lit("new-"), F.col("c_custkey").cast("string")).alias("c_name"),
        F.lit(0.0).alias("c_acctbal"),
        "c_nationkey",
        F.lit(0).alias("is_deleted"),
    )
    out = frel.merge_into(cust, updates.unionByName(inserts),
                          on="c_custkey", delete_col="is_deleted")
    return out


SQL_REL_MERGE_UPSERT = """
WITH tgt AS (
  SELECT c_custkey, c_name, CAST(c_acctbal AS DOUBLE) AS c_acctbal,
         c_nationkey
  FROM customer
),
src AS (
  SELECT c_custkey, c_name || '-upd' AS c_name,
         CAST(c_acctbal AS DOUBLE) + 100.0 AS c_acctbal, c_nationkey,
         CAST(c_custkey % 9 = 0 AS INT) AS is_deleted
  FROM tgt WHERE c_custkey % 3 = 0
  UNION ALL
  SELECT c_custkey + 10000000, 'new-' || CAST(c_custkey AS VARCHAR), 0.0,
         c_nationkey, 0
  FROM tgt WHERE c_custkey % 5 = 0
)
SELECT CASE WHEN s.c_custkey IS NOT NULL THEN s.c_custkey
            ELSE t.c_custkey END AS c_custkey,
       CASE WHEN s.c_custkey IS NOT NULL THEN s.c_name
            ELSE t.c_name END AS c_name,
       CASE WHEN s.c_custkey IS NOT NULL THEN s.c_acctbal
            ELSE t.c_acctbal END AS c_acctbal,
       CASE WHEN s.c_custkey IS NOT NULL THEN s.c_nationkey
            ELSE t.c_nationkey END AS c_nationkey
FROM tgt t FULL OUTER JOIN src s ON t.c_custkey = s.c_custkey
WHERE NOT (t.c_custkey IS NOT NULL AND s.c_custkey IS NOT NULL
           AND s.is_deleted = 1)
"""


def q_vector_polygon_metrics(spark, sf_dir):
    """Distributed polygon metrics (signed shoelace area, floored-edge
    perimeter, area-weighted centroid) over an exploded vertex table —
    one window + one hash aggregate, integer-exact cross products
    (``functions/vector.py::polygon_metrics``, r9). Vertex rings are
    derived deterministically from orders (50 polygons, <= 12 vertices
    each); self-intersecting rings keep standard signed semantics."""
    from ..functions import vector as fvec

    o = _t(spark, sf_dir, "orders")
    w = Window.partitionBy(F.col("o_custkey") % 50).orderBy("o_orderkey")
    verts = o.select(
        (F.col("o_custkey") % 50).alias("poly_id"),
        F.row_number().over(w).alias("vertex_idx"),
        ((F.col("o_orderkey") % 1000) / F.lit(10.0)).alias("x"),
        ((F.floor(F.col("o_orderkey") / 7) % 1000) / F.lit(10.0)).alias("y"),
    ).where(F.col("vertex_idx") <= 12)
    return fvec.polygon_metrics(verts).select(
        F.col("poly_id").cast("int").alias("poly_id"),
        "n_vertices", "area", "perimeter", "centroid_x", "centroid_y",
    )


SQL_VECTOR_POLYGON_METRICS = """
WITH verts AS (
  SELECT poly_id, vertex_idx, x, y FROM (
    SELECT o_custkey % 50 AS poly_id,
           row_number() OVER (PARTITION BY o_custkey % 50
                              ORDER BY o_orderkey) AS vertex_idx,
           (o_orderkey % 1000) / 10.0 AS x,
           (CAST(floor(o_orderkey / 7) AS BIGINT) % 1000) / 10.0 AS y
    FROM orders
  ) WHERE vertex_idx <= 12
),
vi AS (
  SELECT poly_id, vertex_idx,
         CAST(round(x * 1000) AS BIGINT) AS xi,
         CAST(round(y * 1000) AS BIGINT) AS yi
  FROM verts
),
closed AS (
  SELECT poly_id, xi, yi,
         COALESCE(lead(xi) OVER w, first_value(xi) OVER wf) AS nx,
         COALESCE(lead(yi) OVER w, first_value(yi) OVER wf) AS ny
  FROM vi
  WINDOW w AS (PARTITION BY poly_id ORDER BY vertex_idx),
         wf AS (PARTITION BY poly_id ORDER BY vertex_idx
                ROWS BETWEEN UNBOUNDED PRECEDING AND UNBOUNDED FOLLOWING)
),
agg AS (
  SELECT poly_id,
         COUNT(*) AS n_vertices,
         SUM(xi * ny - nx * yi) AS a2,
         SUM(CAST(floor(sqrt(CAST((nx - xi) * (nx - xi)
                                  + (ny - yi) * (ny - yi) AS DOUBLE))
                        * 1000000 / 1000) AS BIGINT)) AS plen_fp,
         SUM((xi + nx) * (xi * ny - nx * yi)) AS cx_num,
         SUM((yi + ny) * (xi * ny - nx * yi)) AS cy_num
  FROM closed GROUP BY poly_id
)
SELECT CAST(poly_id AS INT) AS poly_id,
       n_vertices,
       CAST(a2 AS DOUBLE) / 2000000.0 AS area,
       CAST(plen_fp AS DOUBLE) / 1000000.0 AS perimeter,
       CASE WHEN a2 <> 0
            THEN CAST(cx_num AS DOUBLE) / (3.0 * CAST(a2 AS DOUBLE)) / 1000.0
       END AS centroid_x,
       CASE WHEN a2 <> 0
            THEN CAST(cy_num AS DOUBLE) / (3.0 * CAST(a2 AS DOUBLE)) / 1000.0
       END AS centroid_y
FROM agg
"""


def _pii_docs(spark, sf_dir):
    """documents with deterministic synthetic PII appended (the fixture
    text itself is PII-free word salad): doc-derived email, phone, IPv4
    and SSN shapes — the oracle builds the SAME text in SQL."""
    return _t(spark, sf_dir, "documents").select(
        "doc_id",
        F.concat(
            F.col("text"),
            F.lit(" contact user"), F.col("doc_id").cast("string"),
            F.lit("@example.com or +1 555-"),
            F.lpad((F.col("doc_id") % 10000).cast("string"), 4, "0"),
            F.lit("-1234 from 10.0."),
            (F.col("doc_id") % 256).cast("string"),
            F.lit(".1 ssn 123-45-6789"),
        ).alias("text"),
    )


def q_text_pii_scrub(spark, sf_dir):
    """PII redaction pass (round 6): Catalyst regexp_replace chain over
    emails/phones/IPv4/SSN shapes with per-category match counts."""
    return ftext.pii_scrub(_pii_docs(spark, sf_dir))


SQL_TEXT_PII_SCRUB = lambda: _sql_pii_scrub()


def _sql_pii_scrub() -> str:
    synth = ("text || ' contact user' || CAST(doc_id AS VARCHAR) || "
             "'@example.com or +1 555-' || "
             "lpad(CAST(doc_id % 10000 AS VARCHAR), 4, '0') || "
             "'-1234 from 10.0.' || CAST(doc_id % 256 AS VARCHAR) || "
             "'.1 ssn 123-45-6789'")
    # mirror functions/text.py pii_scrub exactly: each category counts
    # matches on the text AFTER the previous categories' replacements,
    # then replaces ('g' = replace all, Spark's regexp_replace default)
    stages = []
    cur = "t0"
    sql = [f"WITH base AS (SELECT doc_id, {synth} AS t0 FROM documents)"]
    frm = "base"
    for i, (name, pat, repl) in enumerate(ftext.PII_PATTERNS):
        p = pat.replace("'", "''")
        nxt = f"t{i + 1}"
        sql.append(
            f", s{i} AS (SELECT doc_id, "
            f"CAST(len(regexp_extract_all({cur}, '{p}')) AS INT) AS n_{name}, "
            f"regexp_replace({cur}, '{p}', '{repl}', 'g') AS {nxt}"
            + "".join(f", n_{n}" for n, _, _ in ftext.PII_PATTERNS[:i]) +
            f" FROM {frm})"
        )
        cur, frm = nxt, f"s{i}"
    names = ", ".join(f"n_{n}" for n, _, _ in ftext.PII_PATTERNS)
    sql.append(f"SELECT doc_id, {cur} AS clean_text, {names} FROM {frm}")
    return "\n".join(sql)


def q_text_pack_sequences(spark, sf_dir):
    """Concatenate-then-chunk sequence packing into 512-token bins,
    packed independently per lang (the partitioned 100 TB path)."""
    return ftext.pack_sequences(
        _t(spark, sf_dir, "documents"), budget=512, partition_col="lang"
    )


SQL_TEXT_PACK_SEQUENCES = """
WITH t AS (
  SELECT doc_id, lang,
         CAST(len(string_split(trim(text), ' ')) AS INT) AS n_tokens
  FROM documents
), o AS (
  SELECT doc_id, lang, n_tokens,
         CAST(COALESCE(SUM(n_tokens) OVER (
           PARTITION BY lang ORDER BY doc_id
           ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS BIGINT)
         AS tok_offset
  FROM t
)
SELECT doc_id, lang, n_tokens, tok_offset,
       CAST(floor(tok_offset / 512.0) AS INT) AS bin_id
FROM o
"""


def q_text_sample(spark, sf_dir):
    """Seeded md5-hash 25% sample — membership depends only on
    (doc_id, seed), reproducible in any engine / partitioning."""
    return ftext.deterministic_sample(
        _t(spark, sf_dir, "documents"), rate_ppm=250_000, seed=42
    ).select("doc_id", "lang", "source")


SQL_TEXT_SAMPLE = """
SELECT doc_id, lang, source FROM documents
WHERE ('0x' || substr(md5(CAST(doc_id AS VARCHAR) || ':42'), 1, 15))::BIGINT
      % 1000000 < 250000
"""


def q_text_epoch_shards(spark, sf_dir):
    """Deterministic per-epoch dataloader sharding (r9): shard + within-
    shard order from the seeded hash of (doc_id, epoch) — the reshuffle
    any training worker recomputes independently with no shared RNG
    state. One projection + one per-shard rank window."""
    return ftext.epoch_shards(
        _t(spark, sf_dir, "documents").select("doc_id", "source"),
        epoch=2, n_shards=8,
    ).select("doc_id", "source", "shard", "shard_order")


SQL_TEXT_EPOCH_SHARDS = """
WITH h AS (
  SELECT doc_id, source,
         ('0x' || substr(md5(CAST(doc_id AS VARCHAR) || ':epoch2'), 1, 15))::BIGINT AS hv
  FROM documents
),
sh AS (SELECT doc_id, source, hv, CAST(hv % 8 AS INT) AS shard FROM h)
SELECT doc_id, source, shard,
       CAST(row_number() OVER (PARTITION BY shard ORDER BY hv, doc_id) AS BIGINT)
         AS shard_order
FROM sh
"""


def q_text_token_budget_mix(spark, sf_dir):
    """Token-budget corpus mixing (r9): within each budgeted source,
    documents accumulate in seeded-hash order until the cumulative
    whitespace-token count crosses the source's budget (the crossing
    document is kept; unbudgeted sources drop) — the "N tokens of web,
    M of code" assembly step as ONE window cumulative sum per source."""
    return ftext.token_budget_mix(
        _t(spark, sf_dir, "documents"),
        budgets={"src1": 4000, "src2": 2500, "src3": 1500},
    )


SQL_TEXT_TOKEN_BUDGET_MIX = """
WITH d AS (
  SELECT doc_id, source,
         len(string_split(trim(text), ' ')) AS n_tokens,
         ('0x' || substr(md5(CAST(doc_id AS VARCHAR) || ':42'), 1, 15))::BIGINT AS hv,
         CASE source WHEN 'src1' THEN 4000 WHEN 'src2' THEN 2500
                     WHEN 'src3' THEN 1500 END AS budget
  FROM documents
),
c AS (
  SELECT doc_id, source, n_tokens, budget,
         SUM(n_tokens) OVER (PARTITION BY source ORDER BY hv, doc_id
                             ROWS BETWEEN UNBOUNDED PRECEDING
                             AND CURRENT ROW) AS cum_tokens
  FROM d WHERE budget IS NOT NULL
)
SELECT doc_id, source, CAST(n_tokens AS INT) AS n_tokens,
       CAST(cum_tokens AS BIGINT) AS cum_tokens
FROM c
WHERE cum_tokens - n_tokens < budget
"""


def q_text_stratified_sample(spark, sf_dir):
    """Per-source deterministic sampling under the gate (round 6): the
    domain-mixing primitive — each source stratum keeps its own rate,
    unlisted strata drop, membership depends only on (doc_id, seed)."""
    return ftext.stratified_sample(
        _t(spark, sf_dir, "documents"),
        {"src0": 600_000, "src1": 150_000}, strata_col="source", seed=42,
    ).select("doc_id", "lang", "source")


SQL_TEXT_STRATIFIED_SAMPLE = """
SELECT doc_id, lang, source FROM documents
WHERE ('0x' || substr(md5(CAST(doc_id AS VARCHAR) || ':42'), 1, 15))::BIGINT
      % 1000000 <
      CASE WHEN source = 'src0' THEN 600000
           WHEN source = 'src1' THEN 150000 ELSE 0 END
"""
SQL_TEXT_TEMPERATURE_MIX = lambda: _sql_temperature_mix(tau=0.7)


def q_text_temperature_mix(spark, sf_dir):
    """Temperature-weighted domain mixing (tau=0.7) under the gate: the
    per-source rates derive from the corpus's own counts, the sample
    membership from the seeded hash — both deterministic, so the oracle
    recomputes the identical mix. See text.py::temperature_mix."""
    docs = _t(spark, sf_dir, "documents")
    return ftext.temperature_mix(docs, tau=0.7).select("doc_id", "lang", "source")


def _sql_temperature_mix(tau: float = 0.7) -> str:
    import duckdb

    sf_dir = _oracle_sf_dir()
    con = duckdb.connect()
    counts = dict(con.sql(
        f"SELECT source, COUNT(*) FROM '{sf_dir}/documents.parquet' GROUP BY source"
    ).fetchall())
    con.close()
    rates = ftext.temperature_mix_rates(counts, tau)
    case = " ".join(
        f"WHEN source = '{s}' THEN {r}" for s, r in sorted(rates.items())
    )
    return f"""
SELECT doc_id, lang, source FROM documents
WHERE ('0x' || substr(md5(CAST(doc_id AS VARCHAR) || ':42'), 1, 15))::BIGINT
      % 1000000 < CASE {case} ELSE 0 END
"""


def q_text_duplicate_spans(spark, sf_dir):
    """Cross-document duplicated n-token spans under the gate (round 6):
    the exact-substring-dedup primitive (Lee et al. 2022). Summarized
    per document (spark-side span rows hash-match the SQL recompute via
    the per-doc aggregate, keeping the result compact)."""
    out = fdedup.duplicate_spans(_t(spark, sf_dir, "documents"), n=8)
    return out.groupBy("doc_id").agg(
        F.count("*").alias("n_dup_windows"),
        F.max("n_occurrences").alias("max_occ"),
    )


SQL_TEXT_DUPLICATE_SPANS = r"""
WITH t AS (
  SELECT doc_id, string_split_regex(trim(text), '\s+') AS toks FROM documents
), s AS (
  SELECT doc_id, CAST(i - 1 AS INT) AS pos,
         toks[i] || ' ' || toks[i+1] || ' ' || toks[i+2] || ' ' || toks[i+3]
         || ' ' || toks[i+4] || ' ' || toks[i+5] || ' ' || toks[i+6]
         || ' ' || toks[i+7] AS span
  FROM t, LATERAL (SELECT unnest(generate_series(1, greatest(len(toks) - 7, 0))) AS i)
), c AS (
  SELECT span, COUNT(*) AS n_occurrences FROM s GROUP BY span
  HAVING COUNT(*) >= 2
)
SELECT s.doc_id, COUNT(*) AS n_dup_windows, MAX(c.n_occurrences) AS max_occ
FROM s JOIN c USING (span)
GROUP BY s.doc_id
"""


def q_text_remove_dup_spans(spark, sf_dir):
    """Exact-substring dedup REMOVAL under the gate (r13): the second
    half of Lee et al. 2022 — duplicated 8-token windows merge into
    maximal per-document regions (gaps-and-islands over window
    functions) which are cut from the text; the oracle recomputes the
    island merge, the position anti-join, and the ordered token
    re-assembly in SQL, so a wrong island boundary, a dropped kept
    token, or an unstable re-assembly order all hash-fail."""
    out = fdedup.remove_duplicate_spans(
        _t(spark, sf_dir, "documents"), n=8)
    return out.select(
        "doc_id", "clean_text", F.col("n_tokens").cast("long").alias("n_tokens"),
        "n_tokens_removed", "n_regions")


SQL_TEXT_REMOVE_DUP_SPANS = r"""
WITH t AS (
  SELECT doc_id, string_split_regex(trim(text), '\s+') AS toks FROM documents
), s AS (
  SELECT doc_id, CAST(i - 1 AS INT) AS pos,
         toks[i] || ' ' || toks[i+1] || ' ' || toks[i+2] || ' ' || toks[i+3]
         || ' ' || toks[i+4] || ' ' || toks[i+5] || ' ' || toks[i+6]
         || ' ' || toks[i+7] AS span
  FROM t, LATERAL (SELECT unnest(generate_series(1, greatest(len(toks) - 7, 0))) AS i)
), c AS (
  SELECT span FROM s GROUP BY span HAVING COUNT(*) >= 2
), d AS (
  SELECT s.doc_id, s.pos AS st, s.pos + 7 AS en FROM s SEMI JOIN c USING (span)
), isl AS (
  SELECT doc_id, st, en,
         CASE WHEN st > COALESCE(MAX(en) OVER (
             PARTITION BY doc_id ORDER BY st
             ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), -2) + 1
         THEN 1 ELSE 0 END AS ni
  FROM d
), isl2 AS (
  SELECT doc_id, st, en, SUM(ni) OVER (
      PARTITION BY doc_id ORDER BY st
      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS island
  FROM isl
), regions AS (
  SELECT doc_id, island, MIN(st) AS s0, MAX(en) AS e0
  FROM isl2 GROUP BY doc_id, island
), covered AS (
  SELECT doc_id, unnest(generate_series(s0, e0)) AS pos FROM regions
), positions AS (
  SELECT doc_id, CAST(i - 1 AS INT) AS pos, toks[i] AS tok
  FROM t, LATERAL (SELECT unnest(generate_series(1, len(toks))) AS i)
), kept AS (
  SELECT p.doc_id, p.pos, p.tok FROM positions p
  ANTI JOIN covered c ON p.doc_id = c.doc_id AND p.pos = c.pos
), rebuilt AS (
  SELECT doc_id, string_agg(tok, ' ' ORDER BY pos) AS clean_text
  FROM kept GROUP BY doc_id
), rstats AS (
  SELECT doc_id, COUNT(*) AS n_regions, SUM(e0 - s0 + 1) AS n_tokens_removed
  FROM regions GROUP BY doc_id
)
SELECT t.doc_id,
       COALESCE(r.clean_text, '') AS clean_text,
       CAST(len(t.toks) AS BIGINT) AS n_tokens,
       CAST(COALESCE(rs.n_tokens_removed, 0) AS BIGINT) AS n_tokens_removed,
       CAST(COALESCE(rs.n_regions, 0) AS BIGINT) AS n_regions
FROM t LEFT JOIN rebuilt r USING (doc_id) LEFT JOIN rstats rs USING (doc_id)
"""


def q_text_prepare_corpus(spark, sf_dir):
    """The end-to-end corpus-preparation pipeline under the gate (round
    6): gopher quality -> exact dedup -> benchmark contamination ->
    stratified sampling, with first-failing-stage attribution per doc."""
    docs = _t(spark, sf_dir, "documents")
    bench = docs.where(F.col("doc_id") % 97 == 0)
    return ftext.prepare_corpus(
        docs, bench_df=bench,
        strata_rates_ppm={"src0": 900_000, "src1": 400_000, "src2": 900_000,
                          "src3": 900_000, "src4": 900_000},
        min_tokens=20, max_mean_word_len=6.0, max_top_2gram_frac=0.12,
        min_stopword_hits=1,
    )


SQL_TEXT_PREPARE_CORPUS = (r"""
WITH t AS (
  SELECT doc_id, text, source,
         string_split_regex(trim(text), '\s+') AS toks,
         string_split(text, chr(10)) AS lines
  FROM documents
), g AS (
  SELECT doc_id, text, source, toks, lines,
    CASE WHEN len(toks) < 2 THEN CAST([] AS VARCHAR[])
         ELSE list_transform(generate_series(1, len(toks) - 1),
                             i -> toks[i] || ' ' || toks[i + 1]) END AS g2
  FROM t
), q AS (
  SELECT doc_id, text, source, toks,
    CAST(len(toks) >= 20 AND len(toks) <= 100000
     AND (CASE WHEN len(toks) > 0
          THEN CAST(list_aggregate(list_transform(toks, x -> strlen(x)), 'sum') AS DOUBLE) / len(toks)
          ELSE 0.0 END) BETWEEN 2.0 AND 6.0
     AND (CASE WHEN len(lines) > 0
          THEN CAST(len(lines) - len(list_distinct(lines)) AS DOUBLE) / len(lines)
          ELSE 0.0 END) <= 0.5
     AND (CASE WHEN len(g2) > 0
          THEN CAST(COALESCE(list_max(list_transform(list_distinct(g2),
               x -> len(list_filter(g2, y -> y = x)))), 0) AS DOUBLE) / len(g2)
          ELSE 0.0 END) <= 0.12
     AND len(list_filter(toks, x -> list_contains([{SW}], lower(x)))) >= 1
     AS INT) AS q_ok,
    CAST(row_number() OVER (PARTITION BY text ORDER BY doc_id) = 1 AS INT) AS first_of_text
  FROM g
), ng AS (
  SELECT doc_id,
    CASE WHEN len(toks) < 5 THEN CAST([] AS VARCHAR[])
         ELSE list_transform(generate_series(1, len(toks) - 4),
              i -> toks[i] || ' ' || toks[i+1] || ' ' || toks[i+2] || ' '
                   || toks[i+3] || ' ' || toks[i+4]) END AS ng
  FROM t
), bench AS (
  SELECT DISTINCT gr FROM (SELECT unnest(ng) AS gr FROM ng WHERE doc_id % 97 = 0)
), hits AS (
  SELECT doc_id, COUNT(*) AS n FROM (
    SELECT doc_id, unnest(list_distinct(ng)) AS gr FROM ng
  ) JOIN bench USING (gr) GROUP BY doc_id
), lab AS (
  SELECT q.doc_id,
    CASE
      WHEN q.q_ok = 0 THEN 'quality'
      WHEN q.first_of_text = 0 THEN 'exact_dup'
      WHEN COALESCE(h.n, 0) > 0 THEN 'contaminated'
      WHEN ('0x' || substr(md5(CAST(q.doc_id AS VARCHAR) || ':42'), 1, 15))::BIGINT
           % 1000000 >=
           CASE q.source WHEN 'src0' THEN 900000 WHEN 'src1' THEN 400000
                WHEN 'src2' THEN 900000 WHEN 'src3' THEN 900000
                WHEN 'src4' THEN 900000 ELSE 0 END
        THEN 'sampled_out'
      ELSE 'kept'
    END AS reason
  FROM q LEFT JOIN hits h ON q.doc_id = h.doc_id
)
SELECT doc_id, CAST(reason = 'kept' AS INT) AS keep, reason FROM lab
""").replace("{SW}", ", ".join(f"'{w}'" for w in ftext.STOPWORDS_EN))
SQL_TEXT_LANG_SCORES = lambda: _sql_lang_scores()


def q_text_lang_scores(spark, sf_dir):
    return ftext.lang_scores(_t(spark, sf_dir, "documents"))


def _sql_lang_scores() -> str:
    from ..functions.text import LANG_MARKERS

    score_exprs = []
    for lang, words in LANG_MARKERS.items():
        wlist = ", ".join(f"'{w}'" for w in words)
        score_exprs.append(
            f"CAST(len(list_filter(toks, t -> t IN ({wlist}))) AS INT) AS score_{lang}"
        )
    langs = sorted(LANG_MARKERS)
    # argmax with > (later language wins only when strictly greater), matching
    # the Spark fold in functions/text.py
    guess = f"'{langs[0]}'"
    best = f"score_{langs[0]}"
    for lang in langs[1:]:
        guess = f"CASE WHEN score_{lang} > {best} THEN '{lang}' ELSE {guess} END"
        best = f"CASE WHEN score_{lang} > {best} THEN score_{lang} ELSE {best} END"
    return f"""
WITH t AS (SELECT doc_id, string_split(trim(text), ' ') AS toks FROM documents),
s AS (SELECT doc_id, {', '.join(score_exprs)} FROM t)
SELECT doc_id, score_en, score_fr, score_de, score_es, {guess} AS lang_guess FROM s
"""


def q_text_fingerprint(spark, sf_dir):
    return ftext.fingerprint(_t(spark, sf_dir, "documents"))


SQL_TEXT_FINGERPRINT = """
WITH base AS (SELECT doc_id, string_split(trim(text), ' ') AS toks FROM documents),
tok AS (SELECT doc_id, unnest(range(len(toks))) AS pos, toks FROM base),
tokw AS (SELECT doc_id, pos, toks[pos + 1] AS word FROM tok),
vocab AS (SELECT word, CAST(dense_rank() OVER (ORDER BY word) AS INT) AS token_id
          FROM (SELECT DISTINCT unnest(string_split(trim(text), ' ')) AS word FROM documents)),
joined AS (SELECT t.doc_id, t.pos, v.token_id FROM tokw t JOIN vocab v USING (word))
SELECT doc_id, CAST(SUM((pos + 1) * token_id) % 1000000007 AS BIGINT) AS fingerprint
FROM joined GROUP BY doc_id
"""
SQL_TEXT_WINNOW = lambda: _sql_text_winnow(3, 4)


def q_text_winnow(spark, sf_dir):
    """MOSS winnowing fingerprints (r11): per-doc k-gram rolling hashes,
    window-minimum selection with rightmost tie-break — the
    contamination/clone-detection primitive. One doc_id shuffle + one
    ROWS-frame window; oracle recomputes the selection with the same
    window semantics in DuckDB."""
    return ftext.winnow(_t(spark, sf_dir, "documents"), k=3, window=4)


def _sql_text_winnow(k: int = 3, window: int = 4) -> str:
    return f"""
WITH base AS (SELECT doc_id, string_split(trim(text), ' ') AS t FROM documents),
grams AS (
  SELECT doc_id, CAST(i AS INT) AS pos,
         array_to_string(t[i + 1 : i + {k}], ' ') AS gram
  FROM (SELECT doc_id, t, unnest(range(len(t) - {k - 1})) AS i FROM base)
),
hashes AS (
  SELECT doc_id, pos,
         ('0x' || substr(md5(gram), 1, 15))::BIGINT % {fdedup.MINHASH_PRIME} AS h
  FROM grams
),
win AS (
  SELECT doc_id, pos, h,
         MIN(h) OVER (PARTITION BY doc_id ORDER BY pos
                      ROWS BETWEEN CURRENT ROW AND {window - 1} FOLLOWING) AS mh,
         COUNT(*) OVER (PARTITION BY doc_id ORDER BY pos
                        ROWS BETWEEN CURRENT ROW AND {window - 1} FOLLOWING) AS cnt
  FROM hashes
),
sel AS (
  SELECT f.doc_id, CAST(MAX(g.pos) AS INT) AS pos, f.mh AS fp
  FROM (SELECT * FROM win WHERE cnt = {window}) f
  JOIN hashes g
    ON g.doc_id = f.doc_id AND g.pos BETWEEN f.pos AND f.pos + {window - 1}
   AND g.h = f.mh
  GROUP BY f.doc_id, f.pos, f.mh
)
SELECT DISTINCT doc_id, pos, fp FROM sel
"""


def q_text_exact_dedup(spark, sf_dir):
    docs = _t(spark, sf_dir, "documents")
    key = F.concat_ws(" ", F.slice(ftext.tokens_col("text"), 1, 3))
    return fdedup.exact_duplicates(docs, key)


SQL_TEXT_EXACT_DEDUP = """
WITH keyed AS (
  SELECT doc_id, array_to_string(string_split(trim(text), ' ')[1:3], ' ') AS dup_key
  FROM documents
)
SELECT MIN(doc_id) AS canonical_doc, COUNT(*) AS dup_count
FROM keyed GROUP BY dup_key
"""


# Engine-portable hashed token id (see functions/dedup.py:hashed_token_id):
# top 60 bits of md5(shingle) mod MINHASH_PRIME — matches Spark's
# conv(substring(md5(s),1,15),16,10) % P bit for bit.
SQL_HASHED_ID = f"('0x' || substr(md5(shingle), 1, 15))::BIGINT % {fdedup.MINHASH_PRIME}"

SQL_VOCAB_IDS_CTE = """
vocab AS (SELECT shingle, CAST(dense_rank() OVER (ORDER BY shingle) AS INT) AS token_id
          FROM (SELECT DISTINCT shingle FROM grams)),
ids AS (SELECT doc_id, token_id FROM grams JOIN vocab USING (shingle))"""

SQL_HASHED_IDS_CTE = f"""
ids AS (SELECT doc_id, {SQL_HASHED_ID} AS token_id FROM grams)"""
SQL_TEXT_MINHASH = lambda: _sql_minhash(16)


def q_text_minhash(spark, sf_dir):
    return fdedup.minhash_signatures(_t(spark, sf_dir, "documents"), num_hashes=16)


def q_text_minhash_vocab(spark, sf_dir):
    """The dense_rank-vocabulary reference path (hash_ids=False) kept under
    the gate — auditable compact ids; the global sort makes it a no-go at
    scale, which is exactly why it is not the default."""
    return fdedup.minhash_signatures(
        _t(spark, sf_dir, "documents"), num_hashes=8, hash_ids=False
    )


SQL_TEXT_MINHASH_VOCAB = lambda: _sql_minhash(8, hash_ids=False)


def _sql_minhash(num_hashes: int = 16, hash_ids: bool = True) -> str:
    params = fdedup.minhash_params(num_hashes)
    hash_rows = ", ".join(f"({k}, {a}::BIGINT, {b}::BIGINT)" for k, (a, b) in enumerate(params))
    ids_cte = SQL_HASHED_IDS_CTE if hash_ids else SQL_VOCAB_IDS_CTE
    return f"""
WITH base AS (SELECT doc_id, string_split(trim(text), ' ') AS t FROM documents),
grams AS (
  SELECT DISTINCT doc_id, t[i + 1] || ' ' || t[i + 2] AS shingle
  FROM (SELECT doc_id, t, unnest(range(len(t) - 1)) AS i FROM base)
),
{ids_cte},
hashes(k, a, b) AS (VALUES {hash_rows})
SELECT doc_id, CAST(k AS INT) AS k,
       CAST(MIN((a * token_id + b) % {fdedup.MINHASH_PRIME}) AS BIGINT) AS minhash
FROM ids CROSS JOIN hashes
GROUP BY doc_id, k
"""


def q_text_lsh_pairs(spark, sf_dir):
    return fdedup.lsh_candidate_pairs(
        _t(spark, sf_dir, "documents"), num_hashes=16, bands=4
    )


SQL_TEXT_LSH_PAIRS = lambda: _sql_lsh_pairs(16, 4)


def _sql_lsh_pairs(num_hashes: int = 16, bands: int = 8) -> str:
    rows_per_band = num_hashes // bands
    params = fdedup.minhash_params(num_hashes)
    hash_rows = ", ".join(
        f"({k}, {a}::BIGINT, {b}::BIGINT)" for k, (a, b) in enumerate(params)
    )
    return f"""
WITH base AS (SELECT doc_id, string_split(trim(text), ' ') AS t FROM documents),
grams AS (
  SELECT DISTINCT doc_id, t[i + 1] || ' ' || t[i + 2] AS shingle
  FROM (SELECT doc_id, t, unnest(range(len(t) - 1)) AS i FROM base)
),
{SQL_HASHED_IDS_CTE},
hashes(k, a, b) AS (VALUES {hash_rows}),
sigs AS (
  SELECT doc_id, CAST(k AS INT) AS k,
         CAST(MIN((a * token_id + b) % {fdedup.MINHASH_PRIME}) AS BIGINT) AS minhash
  FROM ids CROSS JOIN hashes GROUP BY doc_id, k
),
banded AS (
  SELECT doc_id, CAST(floor(k / {rows_per_band}) AS INT) AS band,
         string_agg(CAST(minhash AS VARCHAR), '-' ORDER BY k) AS band_key
  FROM sigs GROUP BY doc_id, CAST(floor(k / {rows_per_band}) AS INT)
)
SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
FROM banded a JOIN banded b ON a.band = b.band AND a.band_key = b.band_key
WHERE a.doc_id < b.doc_id
"""


_SKEW_BOILERPLATE = ("subscribe to our newsletter all rights reserved "
                     "terms of service privacy policy cookie settings")
SQL_TEXT_LSH_SKEW = lambda: _sql_lsh_skew(16, 4, 50)


def q_text_lsh_skew(spark, sf_dir):
    """Degenerate-corpus LSH stress gate (VERDICT r10 #3): half the
    corpus (even doc_ids) is replaced by identical boilerplate, so each
    band hashes those ~N/2 docs into ONE bucket — the quadratic
    candidate-explosion case a 100 TB dedup must survive. The
    default-on bucket cap (functions/dedup.py:lsh_candidate_pairs,
    max_bucket_size) drops the hot buckets BEFORE the self-join, so the
    candidate set stays the odd docs' organic collisions (linear), and
    the dropped buckets are published via skew_guard_metrics — never
    silent. The oracle applies the identical cap as a window filter in
    SQL."""
    docs = _t(spark, sf_dir, "documents").select(
        "doc_id",
        F.when(F.col("doc_id") % 2 == 0, F.lit(_SKEW_BOILERPLATE))
        .otherwise(F.col("text")).alias("text"),
    )
    return fdedup.lsh_candidate_pairs(
        docs, num_hashes=16, bands=4, max_bucket_size=50
    )


def _sql_lsh_skew(num_hashes: int = 16, bands: int = 4, cap: int = 50) -> str:
    rows_per_band = num_hashes // bands
    params = fdedup.minhash_params(num_hashes)
    hash_rows = ", ".join(
        f"({k}, {a}::BIGINT, {b}::BIGINT)" for k, (a, b) in enumerate(params)
    )
    return f"""
WITH base AS (
  SELECT doc_id,
         string_split(trim(CASE WHEN doc_id % 2 = 0
                           THEN '{_SKEW_BOILERPLATE}'
                           ELSE text END), ' ') AS t
  FROM documents),
grams AS (
  SELECT DISTINCT doc_id, t[i + 1] || ' ' || t[i + 2] AS shingle
  FROM (SELECT doc_id, t, unnest(range(len(t) - 1)) AS i FROM base)
),
{SQL_HASHED_IDS_CTE},
hashes(k, a, b) AS (VALUES {hash_rows}),
sigs AS (
  SELECT doc_id, CAST(k AS INT) AS k,
         CAST(MIN((a * token_id + b) % {fdedup.MINHASH_PRIME}) AS BIGINT) AS minhash
  FROM ids CROSS JOIN hashes GROUP BY doc_id, k
),
banded AS (
  SELECT doc_id, CAST(floor(k / {rows_per_band}) AS INT) AS band,
         string_agg(CAST(minhash AS VARCHAR), '-' ORDER BY k) AS band_key
  FROM sigs GROUP BY doc_id, CAST(floor(k / {rows_per_band}) AS INT)
),
capped AS (
  SELECT doc_id, band, band_key FROM banded
  QUALIFY COUNT(*) OVER (PARTITION BY band, band_key) <= {cap}
)
SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
FROM capped a JOIN capped b ON a.band = b.band AND a.band_key = b.band_key
WHERE a.doc_id < b.doc_id
"""


def q_text_lsh_calibration(spark, sf_dir):
    """MinHash estimator calibration: for every LSH candidate pair, the
    signature-agreement estimate of Jaccard (matching minhash
    components / num_hashes, integer ppm) beside the exact distinct-
     2-gram Jaccard — the quality report that justifies trusting the
    sketch, in the same gated style as the ANN recall reports."""
    docs = _t(spark, sf_dir, "documents")
    vp = fdedup.verified_pairs(docs, num_hashes=16, bands=4, min_jaccard=0.0)
    wide = fdedup._minhash_wide(docs, 16, "text")
    wa = wide.select(
        F.col("doc_id").alias("doc_a"),
        *[F.col(f"h{k}").alias(f"xa{k}") for k in range(16)],
    )
    wb = wide.select(
        F.col("doc_id").alias("doc_b"),
        *[F.col(f"h{k}").alias(f"xb{k}") for k in range(16)],
    )
    est = sum(
        (F.col(f"xa{k}") == F.col(f"xb{k}")).cast("long") for k in range(16)
    )
    return (
        vp.join(wa, "doc_a")
        .join(wb, "doc_b")
        .select(
            "doc_a", "doc_b", "inter_size", "union_size",
            est.alias("est_matches"),
            F.expr(
                "(1000000 * ("
                + " + ".join(f"CAST(xa{k} = xb{k} AS BIGINT)" for k in range(16))
                + ")) DIV 16"
            ).alias("est_ppm"),
            F.expr("(1000000 * inter_size) DIV union_size").alias("jac_ppm"),
        )
    )


SQL_TEXT_LSH_CALIBRATION = lambda: _sql_lsh_calibration(16, 4)


def _sql_lsh_calibration(num_hashes: int = 16, bands: int = 4) -> str:
    pairs_sql = _sql_lsh_pairs(num_hashes, bands)
    marker = "SELECT DISTINCT a.doc_id AS doc_a"
    head, _ = pairs_sql.rsplit(marker, 1)
    return head.rstrip().rstrip(")") + f""")
, pairs AS (
  SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
  FROM banded a JOIN banded b ON a.band = b.band AND a.band_key = b.band_key
  WHERE a.doc_id < b.doc_id
),
agree AS (
  SELECT p.doc_a, p.doc_b,
         SUM(CASE WHEN sa.minhash = sb.minhash THEN 1 ELSE 0 END) AS est_matches
  FROM pairs p
  JOIN sigs sa ON sa.doc_id = p.doc_a
  JOIN sigs sb ON sb.doc_id = p.doc_b AND sb.k = sa.k
  GROUP BY p.doc_a, p.doc_b
),
sizes AS (SELECT doc_id, COUNT(*) AS ng FROM grams GROUP BY doc_id),
inter AS (
  SELECT p.doc_a, p.doc_b, COUNT(*) AS inter_size
  FROM pairs p
  JOIN grams ga ON ga.doc_id = p.doc_a
  JOIN grams gb ON gb.doc_id = p.doc_b AND gb.shingle = ga.shingle
  GROUP BY p.doc_a, p.doc_b
)
SELECT i.doc_a, i.doc_b, i.inter_size,
       sa.ng + sb.ng - i.inter_size AS union_size,
       CAST(a.est_matches AS BIGINT) AS est_matches,
       (1000000 * CAST(a.est_matches AS BIGINT)) // {num_hashes} AS est_ppm,
       (1000000 * i.inter_size) // (sa.ng + sb.ng - i.inter_size) AS jac_ppm
FROM inter i
JOIN agree a ON a.doc_a = i.doc_a AND a.doc_b = i.doc_b
JOIN sizes sa ON sa.doc_id = i.doc_a
JOIN sizes sb ON sb.doc_id = i.doc_b
"""


def q_text_dup_components(spark, sf_dir):
    """Near-duplicate clustering: connected components over the LSH
    candidate-pair graph (iterative min-label propagation), each doc
    labeled with its cluster's smallest doc_id."""
    return fdedup.duplicate_components(_t(spark, sf_dir, "documents"),
                                       num_hashes=16, bands=4)


SQL_TEXT_DUP_COMPONENTS = lambda: _sql_dup_components(16, 4)


def _sql_dup_components(num_hashes: int = 16, bands: int = 4) -> str:
    """Oracle: the same LSH pair CTEs, then a recursive transitive-closure
    CTE; component = MIN over each doc's reachable set."""
    pairs_sql = _sql_lsh_pairs(num_hashes, bands)
    marker = "SELECT DISTINCT a.doc_id AS doc_a"
    head, tail = pairs_sql.rsplit(marker, 1)
    head = head.replace("WITH base", "WITH RECURSIVE base", 1)
    return head.rstrip().rstrip(")") + """),
pairs AS (
  """ + marker + tail.rstrip() + """
),
edges AS (
  SELECT doc_a AS src, doc_b AS dst FROM pairs
  UNION ALL
  SELECT doc_b AS src, doc_a AS dst FROM pairs
),
reach(doc_id, r) AS (
  SELECT doc_id, doc_id FROM documents
  UNION
  SELECT reach.doc_id, e.dst FROM reach JOIN edges e ON reach.r = e.src
)
SELECT doc_id, MIN(r) AS component FROM reach GROUP BY doc_id
"""


def q_text_dedup_pipeline(spark, sf_dir):
    """The complete near-dup removal pipeline as ONE operator: LSH
    candidates -> exact bigram-Jaccard verify (>= 0.5) -> connected
    components -> keep the smallest doc_id per cluster."""
    return fdedup.dedup_documents(
        _t(spark, sf_dir, "documents"), num_hashes=16, bands=4,
        min_jaccard=0.5,
    )


SQL_TEXT_DEDUP_PIPELINE = lambda: _sql_dedup_pipeline(16, 4, 0.5)


def _sql_dedup_pipeline(num_hashes: int = 16, bands: int = 4,
                        min_jaccard: float = 0.5) -> str:
    """Oracle: the LSH pair CTEs + Jaccard verification over the same
    grams + recursive transitive closure + keep flag."""
    pairs_sql = _sql_lsh_pairs(num_hashes, bands)
    marker = "SELECT DISTINCT a.doc_id AS doc_a"
    head, tail = pairs_sql.rsplit(marker, 1)
    head = head.replace("WITH base", "WITH RECURSIVE base", 1)
    return head.rstrip().rstrip(")") + """),
pairs AS (
  """ + marker + tail.rstrip() + f"""
),
sizes AS (SELECT doc_id, COUNT(*) AS n_grams FROM grams GROUP BY doc_id),
inter AS (
  SELECT p.doc_a, p.doc_b, COUNT(*) AS inter_size
  FROM pairs p
  JOIN grams ga ON ga.doc_id = p.doc_a
  JOIN grams gb ON gb.doc_id = p.doc_b AND gb.shingle = ga.shingle
  GROUP BY p.doc_a, p.doc_b
),
vpairs AS (
  SELECT i.doc_a, i.doc_b
  FROM inter i
  JOIN sizes sa ON sa.doc_id = i.doc_a
  JOIN sizes sb ON sb.doc_id = i.doc_b
  WHERE i.inter_size >= {min_jaccard} * (sa.n_grams + sb.n_grams - i.inter_size)
),
edges AS (
  SELECT doc_a AS src, doc_b AS dst FROM vpairs
  UNION ALL
  SELECT doc_b AS src, doc_a AS dst FROM vpairs
),
reach(doc_id, r) AS (
  SELECT doc_id, doc_id FROM documents
  UNION
  SELECT reach.doc_id, e.dst FROM reach JOIN edges e ON reach.r = e.src
)
SELECT doc_id, MIN(r) AS component, doc_id = MIN(r) AS keep
FROM reach GROUP BY doc_id
"""


def q_text_dedup_keep_best(spark, sf_dir):
    """Quality-aware near-dup removal (r13): the same LSH -> verify ->
    components pipeline as ``text_dedup_pipeline``, but the cluster
    representative is the HIGHEST-quality document (here quality =
    ``n_chars``; any numeric score works), ties to the smallest doc_id —
    the production policy, since near-dup clusters usually pair a clean
    original with mangled re-crawls and keep-by-id discards the clean
    one arbitrarily. One extra component-keyed window over the
    component output; everything upstream stays bucket-bounded."""
    return fdedup.dedup_documents(
        _t(spark, sf_dir, "documents"), num_hashes=16, bands=4,
        min_jaccard=0.5, quality_col="n_chars",
    )


SQL_TEXT_DEDUP_KEEP_BEST = lambda: _sql_dedup_keep_best(16, 4, 0.5)


def _sql_dedup_keep_best(num_hashes: int = 16, bands: int = 4,
                         min_jaccard: float = 0.5) -> str:
    """Oracle: the full dedup-pipeline CTE chain with the final keep
    clause swapped for a quality-ranked window (n_chars DESC, doc_id
    ASC) per component."""
    pipe = _sql_dedup_pipeline(num_hashes, bands, min_jaccard)
    marker = "SELECT doc_id, MIN(r) AS component, doc_id = MIN(r) AS keep"
    head, _ = pipe.rsplit(marker, 1)
    return head.rstrip().rstrip(")") + """),
comp AS (SELECT doc_id, MIN(r) AS component FROM reach GROUP BY doc_id)
SELECT c.doc_id, c.component,
       (ROW_NUMBER() OVER (PARTITION BY c.component
                           ORDER BY d.n_chars DESC, c.doc_id ASC)) = 1 AS keep
FROM comp c JOIN documents d ON d.doc_id = c.doc_id
"""


def _dedup_inc_bucket():
    """The md5 80/20 split expression shared by the whole incremental-
    dedup query family — ONE definition, because the Spark side must
    stay byte-identical to the shared oracle SQL's ``tagged`` CTE
    (changing the ':inc' salt or bucket count in one copy would
    silently desynchronize the others from the oracle)."""
    return (
        F.conv(F.substring(
            F.md5(F.concat(F.col("doc_id").cast("string"), F.lit(":inc"))),
            1, 15), 16, 10).cast("long") % 5
    )


def _dedup_inc_split(spark, sf_dir):
    """(corpus, batch) = the deterministic 80%/20% documents split of
    the incremental-dedup family (see :func:`_dedup_inc_bucket`)."""
    tagged = _t(spark, sf_dir, "documents").withColumn(
        "_b", _dedup_inc_bucket())
    return (tagged.where(F.col("_b") < 4).drop("_b"),
            tagged.where(F.col("_b") == 4).drop("_b"))


def _dedup_sigs_artifact(spark, corpus, prefix):
    """Persist the corpus-signature artifact to scratch parquet and
    read it back — the round-trip every artifact-path query exercises
    (pinned params num_hashes=16, bands=4, n=2, matching the family's
    oracle SQL)."""
    import shutil
    import tempfile

    path = tempfile.mkdtemp(prefix=prefix, dir=_scratch_dir())
    shutil.rmtree(path, ignore_errors=True)
    fdedup.corpus_signatures(
        corpus, num_hashes=16, bands=4, n=2).write.parquet(path)
    return spark.read.parquet(path)


def q_text_dedup_incremental(spark, sf_dir):
    """Incremental dedup against an existing corpus (r13): the corpus is
    a deterministic 80% of the documents table (md5 split), the batch
    the other 20%; ``dedup_against_corpus`` flags each batch doc that
    near-duplicates any corpus doc — the daily-ingest shape where the
    100 TB corpus is already deduped and only the new batch is checked.
    Stateless md5 shingle ids make the corpus-side signatures persistable
    artifacts; nothing corpus-global recomputes per batch."""
    corpus, batch = _dedup_inc_split(spark, sf_dir)
    return fdedup.dedup_against_corpus(
        batch, corpus, num_hashes=16, bands=4, min_jaccard=0.5)


SQL_TEXT_DEDUP_INCREMENTAL = lambda: _sql_dedup_incremental(16, 4, 0.5)


def q_text_dedup_incremental_sigs(spark, sf_dir):
    """The persistable-artifact path of incremental dedup (r14, VERDICT
    r13 #4): ``corpus_signatures`` is computed once, round-tripped
    through parquet (exactly what a daily-ingest pipeline persists),
    read back, and fed to ``dedup_against_corpus(corpus_sigs=...)`` —
    which must return the SAME rows as the recompute path, so this
    query shares ``text_dedup_incremental``'s oracle SQL. This is the
    O(batch)-per-ingest shape at 100 TB: the corpus side is a scan of
    the artifact, never a re-shingle of the corpus."""
    corpus, batch = _dedup_inc_split(spark, sf_dir)
    sigs = _dedup_sigs_artifact(spark, corpus, "corpus_sigs_")
    return fdedup.dedup_against_corpus(
        batch, corpus_sigs=sigs, num_hashes=16, bands=4, min_jaccard=0.5)


# the artifact path must return EXACTLY the recompute path's rows —
# same oracle (r14, VERDICT r13 #4)
SQL_TEXT_DEDUP_INCREMENTAL_SIGS = SQL_TEXT_DEDUP_INCREMENTAL


def q_text_dedup_incremental_removed(spark, sf_dir):
    """Corpus-shrink lifecycle of the signature artifact (r15, VERDICT
    r14 #4): the artifact is built over the full 80% corpus, persisted,
    read back, then ``remove_from_signatures`` drops the corpus docs
    with ``doc_id % 7 == 0`` (documents that left the corpus) via a
    doc_id anti-join — and the batch verdicts against the shrunk
    artifact must equal a from-scratch recompute over the shrunk
    corpus, which is exactly what the oracle SQL computes (the shared
    incremental-dedup SQL with the removal filter on its corpus CTE).
    Without the removal path, stale signatures keep flagging batch
    docs as dups of documents that no longer exist."""
    corpus, batch = _dedup_inc_split(spark, sf_dir)
    sigs = _dedup_sigs_artifact(spark, corpus, "corpus_sigs_rm_")
    removed = corpus.where(F.col("doc_id") % 7 == 0).select("doc_id")
    shrunk = fdedup.remove_from_signatures(sigs, removed)
    return fdedup.dedup_against_corpus(
        batch, corpus_sigs=shrunk, num_hashes=16, bands=4,
        min_jaccard=0.5)


SQL_TEXT_DEDUP_INCREMENTAL_REMOVED = lambda: _sql_dedup_incremental(
    16, 4, 0.5, corpus_filter=" AND doc_id % 7 <> 0")


def q_text_dedup_stream(spark, sf_dir):
    """STREAMING incremental dedup (r14): the daily-ingest batch
    arrives as a document stream (readStream over the documents
    parquet, filtered to the same md5 20% split), each micro-batch
    judged against the PERSISTED corpus-signature artifact inside
    ``foreachBatch`` (the documented shape for multi-aggregation logic
    the streaming planner cannot express inline), verdicts appended to
    a parquet sink, drained by Trigger.AvailableNow. Per-doc verdicts
    are independent of micro-batching, so the sink must equal the
    one-shot batch output row-for-row — this query shares
    ``text_dedup_incremental``'s oracle SQL verbatim."""
    import shutil
    import tempfile

    from ..functions import dedup as fdedup_
    from ..streaming.documents import (read_documents_stream,
                                       stream_dedup_against_corpus)

    docs = _t(spark, sf_dir, "documents")
    bucket_b = _dedup_inc_bucket()
    corpus = docs.withColumn("_b", bucket_b).where(F.col("_b") < 4).drop("_b")
    scratch = tempfile.mkdtemp(prefix="dedup_stream_", dir=_scratch_dir())
    shutil.rmtree(scratch, ignore_errors=True)
    sig_path = f"{scratch}/sigs"
    out_path = f"{scratch}/verdicts"
    fdedup_.corpus_signatures(
        corpus, num_hashes=16, bands=4, n=2).write.parquet(sig_path)
    sigs = spark.read.parquet(sig_path)
    # the file source streams a DIRECTORY of arriving files — stage the
    # testdata parquet into one by symlink (zero-copy)
    import os as _os

    stream_dir = f"{scratch}/incoming"
    _os.makedirs(stream_dir)
    _os.symlink(_os.path.abspath(f"{sf_dir}/documents.parquet"),
                f"{stream_dir}/part-0.parquet")
    stream = read_documents_stream(spark, stream_dir)
    batch_stream = stream.withColumn("_b", bucket_b).where(
        F.col("_b") == 4).drop("_b")
    q = stream_dedup_against_corpus(
        batch_stream, sigs, out_path,
        checkpoint=f"{scratch}/ckpt",
        num_hashes=16, bands=4, min_jaccard=0.5)
    q.awaitTermination()
    return spark.read.parquet(out_path).select(
        "doc_id", "is_dup", "match_doc_id")


SQL_TEXT_DEDUP_STREAM = SQL_TEXT_DEDUP_INCREMENTAL


def _sql_dedup_incremental(num_hashes: int = 16, bands: int = 4,
                           min_jaccard: float = 0.5,
                           corpus_filter: str = "") -> str:
    """Oracle: the same md5 80/20 split, banded-signature batch x corpus
    bucket join, and exact-Jaccard verify, in closed-form SQL.
    ``corpus_filter`` (an extra ``AND ...`` clause on the corpus CTE)
    models a corpus that SHRANK — the
    ``text_dedup_incremental_removed`` variant."""
    rows_per_band = num_hashes // bands
    params = fdedup.minhash_params(num_hashes)
    hash_rows = ", ".join(
        f"({k}, {a}::BIGINT, {b}::BIGINT)" for k, (a, b) in enumerate(params)
    )
    return f"""
WITH tagged AS (
  SELECT doc_id, text,
         (('0x' || substr(md5(CAST(doc_id AS VARCHAR) || ':inc'), 1, 15))::BIGINT % 5) AS b
  FROM documents
),
corpus AS (SELECT doc_id, text FROM tagged WHERE b < 4{corpus_filter}),
batch AS (SELECT doc_id, text FROM tagged WHERE b = 4),
base AS (SELECT doc_id, string_split(trim(text), ' ') AS t FROM documents),
grams AS (
  SELECT DISTINCT doc_id, t[i + 1] || ' ' || t[i + 2] AS shingle
  FROM (SELECT doc_id, t, unnest(range(len(t) - 1)) AS i FROM base)
),
{SQL_HASHED_IDS_CTE},
hashes(k, a, b) AS (VALUES {hash_rows}),
sigs AS (
  SELECT doc_id, CAST(k AS INT) AS k,
         CAST(MIN((a * token_id + b) % {fdedup.MINHASH_PRIME}) AS BIGINT) AS minhash
  FROM ids CROSS JOIN hashes GROUP BY doc_id, k
),
banded AS (
  SELECT doc_id, CAST(floor(k / {rows_per_band}) AS INT) AS band,
         string_agg(CAST(minhash AS VARCHAR), '-' ORDER BY k) AS band_key
  FROM sigs GROUP BY doc_id, CAST(floor(k / {rows_per_band}) AS INT)
),
cand AS (
  SELECT DISTINCT bb.doc_id AS doc_a, cb.doc_id AS doc_b
  FROM banded bb
  JOIN batch ba ON ba.doc_id = bb.doc_id
  JOIN banded cb ON cb.band = bb.band AND cb.band_key = bb.band_key
  JOIN corpus co ON co.doc_id = cb.doc_id
),
sizes AS (SELECT doc_id, COUNT(*) AS n_grams FROM grams GROUP BY doc_id),
inter AS (
  SELECT c.doc_a, c.doc_b, COUNT(*) AS inter_size
  FROM cand c
  JOIN grams ga ON ga.doc_id = c.doc_a
  JOIN grams gb ON gb.doc_id = c.doc_b AND gb.shingle = ga.shingle
  GROUP BY c.doc_a, c.doc_b
),
dups AS (
  SELECT i.doc_a, MIN(i.doc_b) AS match_doc_id
  FROM inter i
  JOIN sizes sa ON sa.doc_id = i.doc_a
  JOIN sizes sb ON sb.doc_id = i.doc_b
  WHERE i.inter_size >= {min_jaccard} * (sa.n_grams + sb.n_grams - i.inter_size)
  GROUP BY i.doc_a
)
SELECT b.doc_id, d.match_doc_id IS NOT NULL AS is_dup, d.match_doc_id
FROM batch b LEFT JOIN dups d ON d.doc_a = b.doc_id
"""


def q_text_simhash(spark, sf_dir):
    return fdedup.simhash(_t(spark, sf_dir, "documents"), num_bits=16)


SQL_TEXT_SIMHASH = lambda: _sql_simhash(16)


def _sql_simhash(num_bits: int = 16) -> str:
    a, b = fdedup.minhash_params(1)[0]
    return f"""
WITH base AS (SELECT doc_id, string_split(trim(text), ' ') AS t FROM documents),
grams AS (
  SELECT DISTINCT doc_id, t[i + 1] || ' ' || t[i + 2] AS shingle
  FROM (SELECT doc_id, t, unnest(range(len(t) - 1)) AS i FROM base)
),
tid AS (SELECT doc_id, {SQL_HASHED_ID} AS token_id FROM grams),
ids AS (SELECT doc_id, token_id, ({a}::BIGINT * token_id + {b}::BIGINT) % {fdedup.MINHASH_PRIME} AS h
        FROM tid),
bits AS (SELECT doc_id, unnest(range({num_bits})) AS bit, h FROM ids),
votes AS (
  SELECT doc_id, bit, SUM(CASE WHEN (h // (1 << bit)) % 2 = 1 THEN 1 ELSE -1 END) AS v
  FROM bits GROUP BY doc_id, bit
)
SELECT doc_id, CAST(SUM(CASE WHEN v > 0 THEN (1::BIGINT << bit) ELSE 0 END) AS BIGINT) AS simhash
FROM votes GROUP BY doc_id
"""


def q_text_ngram_jaccard(spark, sf_dir):
    return fdedup.ngram_jaccard_pairs(_t(spark, sf_dir, "documents"), n=2)


SQL_TEXT_NGRAM_JACCARD = """
WITH base AS (SELECT doc_id, source AS block, string_split(trim(text), ' ') AS t FROM documents),
grams AS (
  SELECT DISTINCT doc_id, block, t[i + 1] || ' ' || t[i + 2] AS gram
  FROM (SELECT doc_id, block, t, unnest(range(len(t) - 1)) AS i FROM base)
),
sizes AS (SELECT doc_id, COUNT(*) AS n_grams FROM grams GROUP BY doc_id),
inter AS (
  SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, COUNT(*) AS inter_size
  FROM grams a JOIN grams b ON a.block = b.block AND a.gram = b.gram
  WHERE a.doc_id < b.doc_id
  GROUP BY a.doc_id, b.doc_id
)
SELECT doc_a, doc_b, inter_size,
       sa.n_grams + sb.n_grams - inter_size AS union_size
FROM inter
JOIN sizes sa ON sa.doc_id = doc_a
JOIN sizes sb ON sb.doc_id = doc_b
"""


# ---------------------------------------------------------------------------
# embeddings: similarity search
# ---------------------------------------------------------------------------

KNN_QUERIES = [0, 1, 2, 3, 4, 5, 6, 7]


def q_emb_knn(spark, sf_dir):
    return fsim.cosine_knn(_t(spark, sf_dir, "embeddings"), KNN_QUERIES, k=5)


SQL_EMB_KNN = f"""
WITH q AS (SELECT vec_id AS query_id, CAST(embedding AS DOUBLE[]) AS qv
           FROM embeddings WHERE vec_id IN ({', '.join(map(str, KNN_QUERIES))})),
c AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
scored AS (
  SELECT query_id, vec_id AS neighbor_id,
         list_dot_product(v, qv) / (sqrt(list_dot_product(v, v)) * sqrt(list_dot_product(qv, qv))) AS sim
  FROM c CROSS JOIN q WHERE vec_id != query_id
)
SELECT query_id, CAST(rank AS INT) AS rank, neighbor_id FROM (
  SELECT query_id, neighbor_id,
         row_number() OVER (PARTITION BY query_id ORDER BY sim DESC, neighbor_id) AS rank
  FROM scored
) WHERE rank <= 5
"""


def q_emb_norm_stats(spark, sf_dir):
    return fsim.norm_stats(_t(spark, sf_dir, "embeddings"))


SQL_EMB_NORM_STATS = """
WITH n AS (SELECT label, vec_id, sqrt(list_dot_product(CAST(embedding AS DOUBLE[]), CAST(embedding AS DOUBLE[]))) AS nrm
           FROM embeddings),
ranked AS (SELECT label, vec_id,
                  row_number() OVER (PARTITION BY label ORDER BY nrm DESC, vec_id) AS rn
           FROM n),
counts AS (SELECT label, COUNT(*) AS n_vectors FROM n GROUP BY label)
SELECT c.label, c.n_vectors, r.vec_id AS max_norm_id
FROM counts c JOIN ranked r ON c.label = r.label AND r.rn = 1
"""


def q_emb_drift(spark, sf_dir):
    """Embedding distribution drift between two corpus snapshots (r13):
    a deterministic md5 half-split of the embeddings table stands in
    for 'yesterday vs today'; ``embedding_drift`` reports per-dimension
    decimal-exact means/variances and the mean shift — the monitoring
    primitive that catches encoder or filter changes before training."""
    emb = _t(spark, sf_dir, "embeddings")
    half = (
        F.conv(F.substring(
            F.md5(F.concat(F.col("vec_id").cast("string"), F.lit(":drift"))),
            1, 15), 16, 10).cast("long") % 2
    )
    tagged = emb.withColumn("_h", half)
    return fsim.embedding_drift(
        tagged.where(F.col("_h") == 0), tagged.where(F.col("_h") == 1))


SQL_EMB_DRIFT = """
WITH e AS (
  SELECT CAST(embedding AS DOUBLE[]) AS emb,
         (('0x' || substr(md5(CAST(vec_id AS VARCHAR) || ':drift'), 1, 15))::BIGINT % 2) AS half
  FROM embeddings
),
pts AS (
  SELECT half, CAST(i AS INT) AS dim, emb[i + 1] AS v
  FROM (SELECT half, emb, unnest(range(len(emb))) AS i FROM e)
),
s AS (
  SELECT half, dim, COUNT(*) AS n,
         CAST(SUM(CAST(v AS DECIMAL(18,9))) AS DOUBLE) AS sv,
         CAST(SUM(CAST(v AS DECIMAL(18,9)) * CAST(v AS DECIMAL(18,9))) AS DOUBLE) AS qv
  FROM pts GROUP BY half, dim
)
SELECT a.dim, a.n AS n_a, b.n AS n_b,
       round(a.sv / CAST(a.n AS DOUBLE), 6) AS mean_a,
       round(b.sv / CAST(b.n AS DOUBLE), 6) AS mean_b,
       round(b.sv / CAST(b.n AS DOUBLE) - a.sv / CAST(a.n AS DOUBLE), 6) AS mean_diff,
       round(a.qv / CAST(a.n AS DOUBLE)
             - (a.sv / CAST(a.n AS DOUBLE)) * (a.sv / CAST(a.n AS DOUBLE)), 6) AS var_a,
       round(b.qv / CAST(b.n AS DOUBLE)
             - (b.sv / CAST(b.n AS DOUBLE)) * (b.sv / CAST(b.n AS DOUBLE)), 6) AS var_b
FROM s a JOIN s b ON a.dim = b.dim AND a.half = 0 AND b.half = 1
"""


def q_emb_outliers(spark, sf_dir):
    """Per-label centroid-distance outliers (r13): squared distance of
    every vector to its label centroid, flagged above 4x the label
    mean — the mislabeled/corrupted-vector sweep. Decimal-exact at
    every cross-partition float sum (centroid dims, per-vector
    deviation sums, label means), so the verdict hash-matches a
    single-node engine exactly."""
    return fsim.centroid_outliers(_t(spark, sf_dir, "embeddings"))


SQL_EMB_OUTLIERS = """
WITH dims AS (
  SELECT vec_id, label, CAST(i AS INT) AS dim, CAST(emb[i + 1] AS DOUBLE) AS v
  FROM (SELECT vec_id, label, CAST(embedding AS DOUBLE[]) AS emb,
               unnest(range(len(embedding))) AS i
        FROM embeddings)
),
cent AS (
  SELECT label, dim, COUNT(*) AS n,
         CAST(SUM(CAST(v AS DECIMAL(18,9))) AS DOUBLE) AS s
  FROM dims GROUP BY label, dim
),
con AS (
  SELECT d.vec_id, d.label,
         CAST((d.v - c.s / CAST(c.n AS DOUBLE))
              * (d.v - c.s / CAST(c.n AS DOUBLE)) AS DECIMAL(28,12)) AS w
  FROM dims d JOIN cent c ON c.label = d.label AND c.dim = d.dim
),
d2 AS (
  SELECT vec_id, label, CAST(SUM(w) AS DOUBLE) AS dist2
  FROM con GROUP BY vec_id, label
),
m AS (
  SELECT label,
         CAST(SUM(CAST(dist2 AS DECIMAL(28,12))) AS DOUBLE)
         / CAST(COUNT(*) AS DOUBLE) AS mean_d2
  FROM d2 GROUP BY label
)
SELECT d.vec_id, d.label, round(d.dist2, 6) AS dist2,
       d.dist2 > 4.0 * m.mean_d2 AS is_outlier
FROM d2 d JOIN m ON m.label = d.label
"""
SQL_EMB_LSH_KNN = lambda: _sql_lsh_knn(num_planes=6, k=5)


def q_emb_lsh_knn(spark, sf_dir):
    """Bucketed ANN: random-hyperplane signatures (deterministic rational
    plane weights) -> bucket equi-join -> exact cosine rerank."""
    return fsim.lsh_knn(_t(spark, sf_dir, "embeddings"), KNN_QUERIES, k=5, num_planes=6)


def q_emb_ivf_knn(spark, sf_dir):
    """IVF ANN: deterministic k-means coarse quantizer + probe join."""
    return fsim.ivf_knn(_t(spark, sf_dir, "embeddings"), KNN_QUERIES, k=5,
                        num_clusters=16, nprobe=4)


SQL_EMB_IVF_KNN = lambda: _sql_ivf_knn(num_clusters=16, nprobe=4, k=5)

EMB_DIM = 64  # testdata embedding dimensionality (TESTDATA.md)

#: sf dir the ORACLE SQL is generated against. The driver compares Spark
#: vs DuckDB at sf0.01 (the documented contract), which is the default;
#: tools/check_oracle.py overrides it to whatever sf it was pointed at.
ORACLE_SF_DIR_ENV = "SPARK_GRAFT_ORACLE_SF_DIR"


def _oracle_sf_dir() -> str:
    import os

    return os.environ.get(ORACLE_SF_DIR_ENV, "/root/testdata/sf0.01")


def _sql_bucket_expr(num_planes: int) -> str:
    """Hyperplane-signature bucket as SQL: the plane weights are exact
    rationals (similarity.py:_plane_weight) whose float64 values are
    inlined via repr — bit-identical to Spark's in-engine computation."""
    planes = []
    for j in range(num_planes):
        w = [repr(((j * 1000003 + i * 7919) % 97 - 48) / 48.0) for i in range(EMB_DIM)]
        planes.append(f"list_dot_product(v, [{', '.join(w)}])")
    return " + ".join(
        f"(CASE WHEN {dot} > 0 THEN {2 ** j} ELSE 0 END)" for j, dot in enumerate(planes)
    )


def _sql_lsh_knn(num_planes: int = 6, k: int = 5) -> str:
    """Oracle for q_emb_lsh_knn (bucket join + exact cosine rerank)."""
    bucket = _sql_bucket_expr(num_planes)
    qlist = ", ".join(map(str, KNN_QUERIES))
    return f"""
WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
sig AS (SELECT vec_id, v, {bucket} AS bucket FROM e),
q AS (SELECT vec_id AS query_id, v AS qv, bucket AS qbucket
      FROM sig WHERE vec_id IN ({qlist})),
scored AS (
  SELECT query_id, s.vec_id AS neighbor_id,
         list_dot_product(s.v, qv) /
         (sqrt(list_dot_product(s.v, s.v)) * sqrt(list_dot_product(qv, qv))) AS sim
  FROM sig s JOIN q ON s.bucket = q.qbucket AND s.vec_id != q.query_id
)
SELECT query_id, CAST(rank AS INT) AS rank, neighbor_id FROM (
  SELECT query_id, neighbor_id,
         row_number() OVER (PARTITION BY query_id ORDER BY sim DESC, neighbor_id) AS rank
  FROM scored
) WHERE rank <= {k}
"""


def _sql_ivf_knn(num_clusters: int = 16, nprobe: int = 4, k: int = 5) -> str:
    """Oracle for q_emb_ivf_knn. The coarse quantizer is driver-side
    deterministic numpy (similarity.py:lloyd_centroids over the first 4096
    vectors by id); the oracle recomputes those centroids AND the per-query
    probe sets with the same pure-numpy routine on the same training rows,
    then injects both as VALUES tables. Everything that runs distributed
    in Spark (assignment argmax, candidate join, exact cosine rerank) is
    re-expressed in SQL."""
    import duckdb
    import numpy as np

    sf_dir = _oracle_sf_dir()
    con = duckdb.connect()
    rows = con.sql(
        f"SELECT embedding FROM '{sf_dir}/embeddings.parquet' "
        f"ORDER BY vec_id LIMIT 4096"
    ).fetchall()
    con.close()
    M = np.array([r[0] for r in rows], dtype=np.float64)
    cent = fsim.lloyd_centroids(M, num_clusters, iters=5)

    # probe sets: same numpy as ivf_knn (cent @ q/|q|, stable top-nprobe)
    qcon = duckdb.connect()
    qrows = qcon.sql(
        f"SELECT vec_id, embedding FROM '{sf_dir}/embeddings.parquet' "
        f"WHERE vec_id IN ({', '.join(map(str, KNN_QUERIES))})"
    ).fetchall()
    qcon.close()
    probe_rows = []
    for vid, emb in qrows:
        q = np.asarray(emb, dtype=np.float64)
        n = np.linalg.norm(q)
        sims = cent @ (q / n if n > 0 else q)
        for c in np.argsort(-sims, kind="stable")[:nprobe]:
            probe_rows.append((int(vid), int(c)))

    cent_values = ", ".join(
        f"({c}, [{', '.join(repr(float(x)) for x in cent[c])}]::DOUBLE[])"
        for c in range(len(cent))
    )
    probe_values = ", ".join(f"({q}, {c})" for q, c in probe_rows)
    qlist = ", ".join(map(str, KNN_QUERIES))
    return f"""
WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
cent(cid, c) AS (VALUES {cent_values}),
probes(query_id, cid) AS (VALUES {probe_values}),
assign AS (
  SELECT vec_id, v, cid AS cluster_id FROM (
    SELECT e.vec_id, e.v, cent.cid,
           row_number() OVER (PARTITION BY e.vec_id
                              ORDER BY round(list_dot_product(e.v, cent.c), 6) DESC, cent.cid) AS rn
    FROM e CROSS JOIN cent
  ) WHERE rn = 1
),
q AS (SELECT vec_id AS query_id, v AS qv FROM e WHERE vec_id IN ({qlist})),
cand AS (
  SELECT p.query_id, a.vec_id AS neighbor_id, a.v, q.qv
  FROM probes p JOIN assign a ON a.cluster_id = p.cid
                JOIN q ON q.query_id = p.query_id
  WHERE a.vec_id != p.query_id
),
scored AS (
  SELECT query_id, neighbor_id,
         list_dot_product(v, qv) /
         (sqrt(list_dot_product(v, v)) * sqrt(list_dot_product(qv, qv))) AS sim
  FROM cand
)
SELECT query_id, CAST(rank AS INT) AS rank, neighbor_id FROM (
  SELECT query_id, neighbor_id,
         row_number() OVER (PARTITION BY query_id ORDER BY sim DESC, neighbor_id) AS rank
  FROM scored
) WHERE rank <= {k}
"""


def q_emb_kmeans(spark, sf_dir):
    """Full-corpus k-means organization under the gate: deterministic
    Lloyd training over the bounded sorted-id sample (driver-side),
    distributed nearest-centroid assignment for EVERY vector (broadcast
    centroids + per-partition BLAS matmul, corpus never shuffled before
    the 8-row summary aggregate), reported as per-cluster size +
    smallest member id. Unlike emb_ivf_knn (which gates only probed
    clusters), every vector's assignment feeds this result."""
    assigned, _cent = fsim.ivf_index(
        _t(spark, sf_dir, "embeddings"), num_clusters=8
    )
    return assigned.groupBy("cluster_id").agg(
        F.count("*").alias("n_vectors"), F.min("vec_id").alias("min_vec_id")
    )


SQL_EMB_KMEANS = lambda: _sql_emb_kmeans(num_clusters=8)


def _sql_emb_kmeans(num_clusters: int = 8) -> str:
    """Oracle for q_emb_kmeans: recompute the centroids with the same
    pure-numpy Lloyd routine on the same sorted-id training rows, inject
    them as a VALUES table, and re-express the assignment argmax
    relationally (round(dot, 6) DESC, cid — the engine-portable
    tie-break contract)."""
    import duckdb
    import numpy as np

    sf_dir = _oracle_sf_dir()
    con = duckdb.connect()
    rows = con.sql(
        f"SELECT embedding FROM '{sf_dir}/embeddings.parquet' "
        f"ORDER BY vec_id LIMIT 4096"
    ).fetchall()
    con.close()
    M = np.array([r[0] for r in rows], dtype=np.float64)
    cent = fsim.lloyd_centroids(M, num_clusters, iters=5)
    cent_values = ", ".join(
        f"({c}, [{', '.join(repr(float(x)) for x in cent[c])}]::DOUBLE[])"
        for c in range(len(cent))
    )
    return f"""
WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
cent(cid, c) AS (VALUES {cent_values}),
assign AS (
  SELECT vec_id, cid AS cluster_id FROM (
    SELECT e.vec_id, cent.cid,
           row_number() OVER (PARTITION BY e.vec_id
                              ORDER BY round(list_dot_product(e.v, cent.c), 6) DESC, cent.cid) AS rn
    FROM e CROSS JOIN cent
  ) WHERE rn = 1
)
SELECT CAST(cluster_id AS INT) AS cluster_id,
       COUNT(*) AS n_vectors,
       MIN(vec_id) AS min_vec_id
FROM assign GROUP BY cluster_id
"""


SEMANTIC_DEDUP_THRESHOLD = 0.45
SQL_EMB_SEMANTIC_DEDUP = lambda: _sql_emb_semantic_dedup(num_clusters=8)


def q_emb_semantic_dedup(spark, sf_dir):
    """SemDeDup semantic deduplication (cluster-then-compare, Abbas et
    al. 2023): k-means assignment via the deterministic coarse
    quantizer, then within-cluster drop of any vector whose cluster has
    a lower-id member at cosine >= 0.45 —
    ``functions/similarity.py::semantic_dedup``. The one shuffle is the
    cluster_id groupBy; comparisons never cross clusters (the
    O(n^2/k) economics that make semantic dedup feasible at corpus
    scale). The oracle recomputes centroids with the same numpy Lloyd
    routine, assigns in SQL, and re-derives every keep/dup_of decision
    with a within-cluster EXISTS join."""
    return fsim.semantic_dedup(
        _t(spark, sf_dir, "embeddings"), num_clusters=8,
        threshold=SEMANTIC_DEDUP_THRESHOLD,
    )


def _sql_emb_semantic_dedup(num_clusters: int = 8) -> str:
    """Oracle for q_emb_semantic_dedup: centroids recomputed via the
    shared pure-numpy Lloyd routine on the same sorted-id training rows
    (VALUES injection), nearest-centroid assignment re-expressed
    relationally (round(dot, 6) DESC, cid), then the SemDeDup decision
    as a within-cluster lower-id join on round(cosine, 6) — the
    similarity written dot/(|a|*|b|) in the same association order as
    the engine's numpy."""
    import duckdb
    import numpy as np

    sf_dir = _oracle_sf_dir()
    con = duckdb.connect()
    rows = con.sql(
        f"SELECT embedding FROM '{sf_dir}/embeddings.parquet' "
        f"ORDER BY vec_id LIMIT 4096"
    ).fetchall()
    con.close()
    M = np.array([r[0] for r in rows], dtype=np.float64)
    cent = fsim.lloyd_centroids(M, num_clusters, iters=5)
    cent_values = ", ".join(
        f"({c}, [{', '.join(repr(float(x)) for x in cent[c])}]::DOUBLE[])"
        for c in range(len(cent))
    )
    t = SEMANTIC_DEDUP_THRESHOLD
    return f"""
WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
cent(cid, c) AS (VALUES {cent_values}),
assign AS (
  SELECT vec_id, v, cid AS cluster_id FROM (
    SELECT e.vec_id, e.v, cent.cid,
           row_number() OVER (PARTITION BY e.vec_id
                              ORDER BY round(list_dot_product(e.v, cent.c), 6) DESC, cent.cid) AS rn
    FROM e CROSS JOIN cent
  ) WHERE rn = 1
),
nrm AS (
  SELECT vec_id, v, cluster_id,
         CASE WHEN sqrt(list_dot_product(v, v)) = 0 THEN 1.0
              ELSE sqrt(list_dot_product(v, v)) END AS n
  FROM assign
),
dups AS (
  SELECT b.vec_id, MIN(a.vec_id) AS dup_of
  FROM nrm b JOIN nrm a
    ON a.cluster_id = b.cluster_id AND a.vec_id < b.vec_id
   AND round(list_dot_product(a.v, b.v) / (a.n * b.n), 6) >= {t}
  GROUP BY b.vec_id
)
SELECT nrm.vec_id, CAST(nrm.cluster_id AS INT) AS cluster_id,
       CAST(CASE WHEN dups.vec_id IS NULL THEN 1 ELSE 0 END AS INT) AS keep,
       dups.dup_of
FROM nrm LEFT JOIN dups ON nrm.vec_id = dups.vec_id
"""


def q_emb_random_projection(spark, sf_dir):
    """Johnson-Lindenstrauss Rademacher projection 64 -> 16 dims
    (Achlioptas 2003) — ``functions/similarity.py::random_projection``.
    Components are floor-quantized integer dot products against a
    deterministic md5-parity sign matrix: zero shuffles, zero Python,
    one whole-stage-codegen projection. The oracle re-derives every
    component relationally from the same injected sign matrix with the
    identical floor/BIGINT arithmetic."""
    proj = fsim.random_projection(
        _t(spark, sf_dir, "embeddings"), d_in=64, d_out=16)
    return proj.select("vec_id", F.posexplode("proj").alias("k", "y"))


SQL_EMB_RANDOM_PROJECTION = lambda: _sql_emb_random_projection()


def _sql_emb_random_projection() -> str:
    S = fsim.rp_signs(64, 16)
    values = ", ".join(
        f"({j}, {k}, {S[j][k]})" for j in range(64) for k in range(16))
    return f"""
WITH signs(j, k, s) AS (VALUES {values}),
e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
q AS (
  SELECT vec_id, u.j, CAST(floor(v[u.j + 1] * 1000000) AS BIGINT) AS qv
  FROM e, UNNEST(generate_series(0, 63)) AS u(j)
)
SELECT q.vec_id, CAST(k AS INT) AS k, CAST(SUM(qv * s) AS BIGINT) AS y
FROM q JOIN signs USING (j)
GROUP BY q.vec_id, k
"""


def q_emb_mmr_select(spark, sf_dir):
    """Greedy MMR diversified selection (Carbonell & Goldstein 1998) —
    ``functions/similarity.py::mmr_select``. k=8 picks seeded by
    vec_id 0's embedding, lam=0.7; all similarities are floor-quantized
    BIGINT dots, so the greedy argmax sequence is engine-exact. The
    oracle re-runs the identical greedy in numpy int64 and injects the
    picks as VALUES."""
    return fsim.mmr_select(
        _t(spark, sf_dir, "embeddings"), query_id=0, k=8,
        lam_num=7, lam_den=10)


SQL_EMB_MMR_SELECT = lambda: _sql_emb_mmr_select()


def _sql_emb_mmr_select(k: int = 8, lam_num: int = 7, lam_den: int = 10,
                        query_id: int = 0) -> str:
    import duckdb
    import numpy as np

    sf_dir = _oracle_sf_dir()
    con = duckdb.connect()
    rows = con.sql(
        f"SELECT vec_id, embedding FROM '{sf_dir}/embeddings.parquet' "
        f"ORDER BY vec_id"
    ).fetchall()
    con.close()
    ids = [r[0] for r in rows]
    M = np.floor(
        np.array([r[1] for r in rows], dtype=np.float64) * 1e6
    ).astype(np.int64)
    qv = M[ids.index(query_id)]
    qsim = M @ qv
    lam_rest = lam_den - lam_num
    picked = []
    best = None
    sel = np.zeros(len(ids), dtype=bool)
    for rnd in range(k):
        score = lam_num * qsim - (lam_rest * best if best is not None else 0)
        masked = np.where(sel, np.iinfo(np.int64).min, score)
        # ids are ascending, np.argmax returns the first max => the
        # smallest-id tie-break, matching the engine
        i = int(np.argmax(masked))
        sel[i] = True
        picked.append((rnd + 1, int(ids[i]), int(qsim[i]), int(masked[i])))
        s = M @ M[i]
        best = s if best is None else np.maximum(best, s)
    values = ", ".join(
        f"({r}, {v}, {qs}, {sc})" for r, v, qs, sc in picked)
    return f"""
SELECT CAST(col0 AS INT) AS rank, CAST(col1 AS BIGINT) AS vec_id,
       CAST(col2 AS BIGINT) AS qsim_fp, CAST(col3 AS BIGINT) AS score_fp
FROM (VALUES {values}) t(col0, col1, col2, col3)
"""


def q_emb_pq_knn(spark, sf_dir):
    """Product-quantization ANN (ADC over m=4 x ksub=16 codes): the
    memory-compressed scan path for 100 TB embedding corpora. Integer
    rank output; see functions/similarity.py::pq_knn."""
    return fsim.pq_knn(
        _t(spark, sf_dir, "embeddings"), KNN_QUERIES, k=5, m=4, ksub=16
    )


SQL_EMB_PQ_KNN = lambda: _sql_pq_knn(m=4, ksub=16, k=5)


def _sql_pq_knn(m: int = 4, ksub: int = 16, k: int = 5,
                rerank: int | None = None) -> str:
    """Oracle for q_emb_pq_knn. Codebooks are recomputed with the exact
    deterministic numpy routine on the same sorted-id training rows and
    injected as VALUES; encoding (per-subspace argmin) and the ADC scan
    run in SQL. The ADC sum is written in the same left-to-right order
    as the Spark expression, so the doubles are bit-identical.
    ``rerank=N`` mirrors the shortlist+exact-rerank mode."""
    import duckdb
    import numpy as np

    sf_dir = _oracle_sf_dir()
    con = duckdb.connect()
    rows = con.sql(
        f"SELECT embedding FROM '{sf_dir}/embeddings.parquet' "
        f"ORDER BY vec_id LIMIT 4096"
    ).fetchall()
    qrows = con.sql(
        f"SELECT vec_id, embedding FROM '{sf_dir}/embeddings.parquet' "
        f"WHERE vec_id IN ({', '.join(map(str, KNN_QUERIES))})"
    ).fetchall()
    con.close()
    M = np.array([r[0] for r in rows], dtype=np.float64)
    d = M.shape[1]
    dsub = d // m
    books = np.stack([
        fsim.l2_lloyd_centroids(M[:, j * dsub:(j + 1) * dsub], ksub, 5)
        for j in range(m)
    ])
    book_values = ", ".join(
        f"({j}, {c}, [{', '.join(repr(float(x)) for x in books[j][c])}]::DOUBLE[])"
        for j in range(m) for c in range(ksub)
    )
    tab_values = []
    for vid, emb in qrows:
        q = np.asarray(emb, dtype=np.float64)
        t = "[" + ", ".join(
            "[" + ", ".join(
                repr(float(books[j][c] @ q[j * dsub:(j + 1) * dsub]))
                for c in range(ksub)
            ) + "]"
            for j in range(m)
        ) + "]::DOUBLE[][]"
        tab_values.append(f"({int(vid)}, {t})")
    code_cols = ", ".join(
        f"MAX(CASE WHEN j = {j} THEN cid END) AS c{j}" for j in range(m)
    )
    adc = " + ".join(f"t.t[{j + 1}][c.c{j} + 1]" for j in range(m))
    if rerank:
        return f"""
WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
books(j, cid, c) AS (VALUES {book_values}),
tabs(query_id, t) AS (VALUES {', '.join(tab_values)}),
sub AS (
  SELECT vec_id, u.j, v[u.j * {dsub} + 1 : (u.j + 1) * {dsub}] AS vs
  FROM e, UNNEST([{', '.join(str(j) for j in range(m))}]) AS u(j)
),
assign AS (
  SELECT vec_id, j, cid FROM (
    SELECT s.vec_id, s.j, b.cid,
           row_number() OVER (
             PARTITION BY s.vec_id, s.j
             ORDER BY round(list_dot_product(s.vs, s.vs)
                      - 2 * list_dot_product(s.vs, b.c)
                      + list_dot_product(b.c, b.c), 6) ASC, b.cid
           ) AS rn
    FROM sub s JOIN books b ON b.j = s.j
  ) WHERE rn = 1
),
codes AS (SELECT vec_id, {code_cols} FROM assign GROUP BY vec_id),
scored AS (
  SELECT t.query_id, c.vec_id AS neighbor_id, {adc} AS approx
  FROM codes c CROSS JOIN tabs t
  WHERE c.vec_id != t.query_id
),
shortlist AS (
  SELECT query_id, neighbor_id FROM (
    SELECT query_id, neighbor_id,
           row_number() OVER (PARTITION BY query_id
                              ORDER BY approx DESC, neighbor_id) AS rank
    FROM scored
  ) WHERE rank <= {rerank}
),
qv AS (SELECT vec_id AS query_id, v AS qvec FROM e
       WHERE vec_id IN (SELECT query_id FROM tabs)),
exact AS (
  SELECT s.query_id, s.neighbor_id,
         list_dot_product(e.v, qv.qvec) AS dot
  FROM shortlist s
  JOIN e ON e.vec_id = s.neighbor_id
  JOIN qv ON qv.query_id = s.query_id
)
SELECT query_id, CAST(rank AS INT) AS rank, neighbor_id FROM (
  SELECT query_id, neighbor_id,
         row_number() OVER (PARTITION BY query_id
                            ORDER BY dot DESC, neighbor_id) AS rank
  FROM exact
) WHERE rank <= {k}
"""
    return f"""
WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
books(j, cid, c) AS (VALUES {book_values}),
tabs(query_id, t) AS (VALUES {', '.join(tab_values)}),
sub AS (
  SELECT vec_id, u.j, v[u.j * {dsub} + 1 : (u.j + 1) * {dsub}] AS vs
  FROM e, UNNEST([{', '.join(str(j) for j in range(m))}]) AS u(j)
),
assign AS (
  SELECT vec_id, j, cid FROM (
    SELECT s.vec_id, s.j, b.cid,
           row_number() OVER (
             PARTITION BY s.vec_id, s.j
             ORDER BY round(list_dot_product(s.vs, s.vs)
                      - 2 * list_dot_product(s.vs, b.c)
                      + list_dot_product(b.c, b.c), 6) ASC, b.cid
           ) AS rn
    FROM sub s JOIN books b ON b.j = s.j
  ) WHERE rn = 1
),
codes AS (SELECT vec_id, {code_cols} FROM assign GROUP BY vec_id),
scored AS (
  SELECT t.query_id, c.vec_id AS neighbor_id, {adc} AS approx
  FROM codes c CROSS JOIN tabs t
  WHERE c.vec_id != t.query_id
)
SELECT query_id, CAST(rank AS INT) AS rank, neighbor_id FROM (
  SELECT query_id, neighbor_id,
         row_number() OVER (PARTITION BY query_id
                            ORDER BY approx DESC, neighbor_id) AS rank
  FROM scored
) WHERE rank <= {k}
"""


def q_emb_int8_knn(spark, sf_dir):
    """int8-quantized MIPS top-k: exact integer dot products over the
    compressed vectors, fixed-order scale multiply — see
    functions/similarity.py::quantized_knn."""
    return fsim.quantized_knn(_t(spark, sf_dir, "embeddings"), KNN_QUERIES, k=5)


SQL_EMB_INT8_KNN = f"""
WITH x AS (
  SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings
), s AS (
  SELECT vec_id, v,
         list_max(list_transform(v, e -> abs(e))) / 127.0 AS scale
  FROM x
), q AS (
  SELECT vec_id, scale,
         list_transform(v, e -> CASE WHEN scale > 0
            THEN CAST(greatest(-127.0, least(127.0, floor(e / scale + 0.5))) AS INT)
            ELSE 0 END) AS qvec
  FROM s
), qq AS (
  SELECT vec_id AS query_id, scale AS q_scale, qvec AS q_qvec
  FROM q WHERE vec_id IN ({', '.join(map(str, KNN_QUERIES))})
), scored AS (
  SELECT qq.query_id, q.vec_id AS neighbor_id,
         (q.scale * qq.q_scale) * CAST(list_sum(list_transform(
             generate_series(1, len(q.qvec)),
             i -> CAST(q.qvec[i] AS BIGINT) * qq.q_qvec[i])) AS DOUBLE) AS approx
  FROM q CROSS JOIN qq
  WHERE q.vec_id != qq.query_id
)
SELECT query_id, CAST(rank AS INT) AS rank, neighbor_id FROM (
  SELECT query_id, neighbor_id,
         row_number() OVER (PARTITION BY query_id
                            ORDER BY approx DESC, neighbor_id) AS rank
  FROM scored
) WHERE rank <= 5
"""
SQL_EMB_PQ_RECALL = lambda: _sql_pq_recall()


def q_emb_pq_recall(spark, sf_dir):
    """Recall@5 of the production PQ config (m=8, ksub=64, ADC
    shortlist 32 + exact rerank) against exact max-inner-product — the
    evaluation job a pipeline runs before trusting a compressed index.
    Integer overlap counts per query; both rank sets are recomputed
    independently by the oracle. (The raw-ADC path stays gated
    separately by emb_pq_knn.)"""
    emb = _t(spark, sf_dir, "embeddings")
    pq = fsim.pq_knn(emb, KNN_QUERIES, k=5, m=8, ksub=64, rerank=32)
    qq = emb.where(F.col("vec_id").isin(KNN_QUERIES)).select(
        F.col("vec_id").alias("query_id"), F.col("embedding").alias("qv")
    )
    exact = (
        emb.crossJoin(F.broadcast(qq))
        .where(F.col("vec_id") != F.col("query_id"))
        .withColumn(
            "dot",
            F.expr(
                "aggregate(zip_with(embedding, qv, "
                "(a, b) -> CAST(a AS DOUBLE) * CAST(b AS DOUBLE)), "
                "CAST(0 AS DOUBLE), (acc, v) -> acc + v)"
            ),
        )
    )
    from pyspark.sql import Window

    w = Window.partitionBy("query_id").orderBy(F.desc("dot"), F.col("vec_id"))
    exact_top = (
        exact.withColumn("rank", F.row_number().over(w))
        .where(F.col("rank") <= 5)
        .select("query_id", F.col("vec_id").alias("neighbor_id"))
    )
    overlap = (
        pq.select("query_id", "neighbor_id")
        .join(exact_top, ["query_id", "neighbor_id"])
        .groupBy("query_id")
        .agg(F.count("*").alias("n_overlap"))
    )
    all_q = qq.select("query_id")
    return all_q.join(overlap, "query_id", "left_outer").select(
        "query_id", F.coalesce("n_overlap", F.lit(0)).cast("long").alias("n_overlap")
    )


def _sql_pq_recall() -> str:
    qlist = ", ".join(map(str, KNN_QUERIES))
    pq_sql = _sql_pq_knn(m=8, ksub=64, k=5, rerank=32)
    return f"""
WITH pq AS ({pq_sql}),
e2 AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
q2 AS (SELECT vec_id AS query_id, v AS qv FROM e2 WHERE vec_id IN ({qlist})),
exact AS (
  SELECT query_id, neighbor_id FROM (
    SELECT q2.query_id, e2.vec_id AS neighbor_id,
           row_number() OVER (
             PARTITION BY q2.query_id
             ORDER BY list_dot_product(e2.v, q2.qv) DESC, e2.vec_id
           ) AS rank
    FROM e2 CROSS JOIN q2 WHERE e2.vec_id != q2.query_id
  ) WHERE rank <= 5
), ov AS (
  SELECT pq.query_id, COUNT(*) AS n_overlap
  FROM pq JOIN exact ON pq.query_id = exact.query_id
                    AND pq.neighbor_id = exact.neighbor_id
  GROUP BY pq.query_id
)
SELECT q2.query_id, CAST(COALESCE(ov.n_overlap, 0) AS BIGINT) AS n_overlap
FROM q2 LEFT JOIN ov ON ov.query_id = q2.query_id
"""


def q_emb_ivf_recall(spark, sf_dir):
    """Recall@5 of the IVF probe (16 clusters, nprobe=4) against exact
    max-inner-product — alongside emb_pq_recall this completes the
    accuracy report for every compressed/pruned ANN mode."""
    emb = _t(spark, sf_dir, "embeddings")
    ivf = fsim.ivf_knn(emb, KNN_QUERIES, k=5, num_clusters=16, nprobe=4)
    qq = emb.where(F.col("vec_id").isin(KNN_QUERIES)).select(
        F.col("vec_id").alias("query_id"), F.col("embedding").alias("qv")
    )
    def _fold_dot(a: str, b: str) -> str:
        return (
            f"aggregate(zip_with({a}, {b}, "
            "(x, y) -> CAST(x AS DOUBLE) * CAST(y AS DOUBLE)), "
            "CAST(0 AS DOUBLE), (acc, v) -> acc + v)"
        )

    # IVF ranks by COSINE (ivf_knn's exact rerank), so the reference
    # ranking must be cosine too
    exact = (
        emb.crossJoin(F.broadcast(qq))
        .where(F.col("vec_id") != F.col("query_id"))
        .withColumn(
            "sim",
            F.expr(
                f"{_fold_dot('embedding', 'qv')} / "
                f"(sqrt({_fold_dot('embedding', 'embedding')}) * "
                f"sqrt({_fold_dot('qv', 'qv')}))"
            ),
        )
    )
    from pyspark.sql import Window

    w = Window.partitionBy("query_id").orderBy(F.desc("sim"), F.col("vec_id"))
    exact_top = (
        exact.withColumn("rank", F.row_number().over(w))
        .where(F.col("rank") <= 5)
        .select("query_id", F.col("vec_id").alias("neighbor_id"))
    )
    overlap = (
        ivf.select("query_id", "neighbor_id")
        .join(exact_top, ["query_id", "neighbor_id"])
        .groupBy("query_id")
        .agg(F.count("*").alias("n_overlap"))
    )
    return qq.select("query_id").join(overlap, "query_id", "left_outer").select(
        "query_id", F.coalesce("n_overlap", F.lit(0)).cast("long").alias("n_overlap")
    )


SQL_EMB_IVF_RECALL = lambda: _sql_ivf_recall()


def _sql_ivf_recall() -> str:
    qlist = ", ".join(map(str, KNN_QUERIES))
    ivf_sql = _sql_ivf_knn(num_clusters=16, nprobe=4, k=5)
    return f"""
WITH ivf AS ({ivf_sql}),
e2 AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
q2 AS (SELECT vec_id AS query_id, v AS qv FROM e2 WHERE vec_id IN ({qlist})),
exact AS (
  SELECT query_id, neighbor_id FROM (
    SELECT q2.query_id, e2.vec_id AS neighbor_id,
           row_number() OVER (
             PARTITION BY q2.query_id
             ORDER BY list_dot_product(e2.v, q2.qv) /
                      (sqrt(list_dot_product(e2.v, e2.v)) *
                       sqrt(list_dot_product(q2.qv, q2.qv))) DESC, e2.vec_id
           ) AS rank
    FROM e2 CROSS JOIN q2 WHERE e2.vec_id != q2.query_id
  ) WHERE rank <= 5
), ov AS (
  SELECT ivf.query_id, COUNT(*) AS n_overlap
  FROM ivf JOIN exact ON ivf.query_id = exact.query_id
                     AND ivf.neighbor_id = exact.neighbor_id
  GROUP BY ivf.query_id
)
SELECT q2.query_id, CAST(COALESCE(ov.n_overlap, 0) AS BIGINT) AS n_overlap
FROM q2 LEFT JOIN ov ON ov.query_id = q2.query_id
"""


def q_raster_region_group(spark, sf_dir):
    """Region grouping (beyond-reference raster CC labeling,
    operators/regiongroup.py): the lineitem layer reclassified to 3
    value classes, 4-connected equal-class regions labeled by min
    global cell id, reported as per-region (region, value, n_cells).
    The edge build is shifted-coordinate EQUI-joins; labels come from
    the shared iterative min-label propagation. The oracle recomputes
    regions with a driver-side union-find over the same cells (exact
    integer labels make the fixpoint engine-independent) and injects
    the summaries as VALUES."""
    from ..operators.regiongroup import region_summary

    layer = lineitem_layer(spark, sf_dir).reclassify(
        {10: 1, 25: 2, 50: 3}, strategy="LESS_THAN_OR_EQUAL")
    return region_summary(layer, connectivity=4)


SQL_RASTER_REGION_GROUP = lambda: _sql_raster_region_group()


def _sql_raster_region_group() -> str:
    import duckdb

    sf_dir = _oracle_sf_dir()
    con = duckdb.connect()
    con.sql(f"CREATE VIEW lineitem AS SELECT * "
            f"FROM '{sf_dir}/lineitem.parquet'")
    cells = con.sql(CELLS_CTE + """
SELECT gcol, grow,
       CAST(CASE WHEN value <= 10 THEN 1.0 WHEN value <= 25 THEN 2.0
                 WHEN value <= 50 THEN 3.0 ELSE -1.0 END AS DOUBLE) AS cls
FROM coords
""").fetchall()
    con.close()
    width = LAYOUT_N * TILE
    cls = {(c, r): v for c, r, v in cells}
    parent = {}

    def find(x):
        while parent[x] != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        return x

    def union(a, b):
        ra, rb = find(a), find(b)
        if ra != rb:
            # union by smaller root id keeps labels = min member id
            if ra < rb:
                parent[rb] = ra
            else:
                parent[ra] = rb

    for (c, r), v in cls.items():
        parent[r * width + c] = r * width + c
    for (c, r), v in cls.items():
        for dc, dr in ((1, 0), (0, 1)):
            nb = cls.get((c + dc, r + dr))
            if nb is not None and nb == v:
                union(r * width + c, (r + dr) * width + (c + dc))
    from collections import Counter
    sizes: Counter = Counter()
    val = {}
    for (c, r), v in cls.items():
        root = find(r * width + c)
        sizes[root] += 1
        val[root] = v
    values = ", ".join(
        f"({root}, {float(val[root])!r}, {n})"
        for root, n in sorted(sizes.items()))
    return f"""
SELECT CAST(col0 AS BIGINT) AS region, CAST(col1 AS DOUBLE) AS value,
       CAST(col2 AS BIGINT) AS n_cells
FROM (VALUES {values}) t(col0, col1, col2)
"""


def q_raster_sieve(spark, sf_dir):
    """Sieve / speckle removal (``operators/regiongroup.py::sieve``):
    4-connected regions of the 3-class reclassified layer smaller than
    3 cells become NoData (-1.0). Region labeling is the two-phase
    tile-local union-find + border propagation; the size filter is one
    window count keyed on region. The oracle recomputes regions with
    the same driver-side union-find and injects the dropped cell
    coordinates as VALUES over the reclassified cells CTE."""
    from ..operators.regiongroup import sieve

    layer = lineitem_layer(spark, sf_dir).reclassify(
        {10: 1, 25: 2, 50: 3}, strategy="LESS_THAN_OR_EQUAL")
    return _explode_result(sieve(layer, min_size=3, connectivity=4))


SQL_RASTER_SIEVE = lambda: _sql_raster_sieve()


def _sql_raster_sieve(min_size: int = 3) -> str:
    import duckdb

    sf_dir = _oracle_sf_dir()
    con = duckdb.connect()
    con.sql(f"CREATE VIEW lineitem AS SELECT * "
            f"FROM '{sf_dir}/lineitem.parquet'")
    cells = con.sql(CELLS_CTE + """
SELECT gcol, grow,
       CAST(CASE WHEN value <= 10 THEN 1.0 WHEN value <= 25 THEN 2.0
                 WHEN value <= 50 THEN 3.0 ELSE -1.0 END AS DOUBLE) AS cls
FROM coords
""").fetchall()
    con.close()
    width = LAYOUT_N * TILE
    cls = {(c, r): v for c, r, v in cells}
    parent = {}

    def find(x):
        while parent[x] != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        return x

    def union(a, b):
        ra, rb = find(a), find(b)
        if ra != rb:
            if ra < rb:
                parent[rb] = ra
            else:
                parent[ra] = rb

    for (c, r), v in cls.items():
        parent[r * width + c] = r * width + c
    for (c, r), v in cls.items():
        for dc, dr in ((1, 0), (0, 1)):
            nb = cls.get((c + dc, r + dr))
            if nb is not None and nb == v:
                union(r * width + c, (r + dr) * width + (c + dc))
    from collections import Counter
    sizes: Counter = Counter()
    for (c, r), v in cls.items():
        sizes[find(r * width + c)] += 1
    dropped = sorted(
        (c, r) for (c, r), v in cls.items()
        if sizes[find(r * width + c)] < min_size)
    # guard the empty-VALUES case with an off-grid sentinel
    values = ", ".join(f"({c}, {r})" for c, r in dropped) or "(-1, -1)"
    return CELLS_CTE + f"""
, dropped(dc, dr) AS (VALUES {values})
SELECT key_col, key_row, pos,
       CAST(CASE WHEN d.dc IS NOT NULL THEN -1.0
                 WHEN value <= 10 THEN 1.0 WHEN value <= 25 THEN 2.0
                 WHEN value <= 50 THEN 3.0 ELSE -1.0 END AS DOUBLE) AS value
FROM coords LEFT JOIN dropped d ON d.dc = gcol AND d.dr = grow
"""


def _regions_over(cls: dict, id_of, shifts) -> dict:
    """Driver-side union-find over ``cls`` ({key: value}; a key is a
    coordinate tuple), ``id_of(key)`` the engine's integer cell id,
    ``shifts`` forward neighbor offsets (applied componentwise). Returns
    {key: root_id} with root = min member id — the same fixpoint the
    distributed two-phase labeling converges to, recomputed
    single-pass."""
    parent: dict = {}

    def find(x):
        while parent[x] != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        return x

    for k in cls:
        parent[id_of(k)] = id_of(k)
    for k, v in cls.items():
        for d in shifts:
            nk = tuple(a + b for a, b in zip(k, d))
            nv = cls.get(nk)
            if nv is not None and nv == v:
                ra, rb = find(id_of(k)), find(id_of(nk))
                if ra != rb:
                    if ra < rb:
                        parent[rb] = ra
                    else:
                        parent[ra] = rb
    return {k: find(id_of(k)) for k in cls}


def q_raster_region_group8(spark, sf_dir):
    """Region grouping at 8-connectivity (corner-adjacent cells merge):
    the same 3-class reclassified fixture as ``raster_region_group``,
    but the tile-local run-length union-find takes the two diagonal
    masks and the border merge adds the (1,1)/(1,-1) shifted joins —
    the code paths the 4-connected query never exercises. The oracle
    recomputes with the driver-side union-find over 8 neighbors."""
    from ..operators.regiongroup import region_summary

    layer = lineitem_layer(spark, sf_dir).reclassify(
        {10: 1, 25: 2, 50: 3}, strategy="LESS_THAN_OR_EQUAL")
    return region_summary(layer, connectivity=8)


SQL_RASTER_REGION_GROUP8 = lambda: _sql_raster_region_group8()


def _sql_raster_region_group8() -> str:
    import duckdb

    sf_dir = _oracle_sf_dir()
    con = duckdb.connect()
    con.sql(f"CREATE VIEW lineitem AS SELECT * "
            f"FROM '{sf_dir}/lineitem.parquet'")
    cells = con.sql(CELLS_CTE + """
SELECT gcol, grow,
       CAST(CASE WHEN value <= 10 THEN 1.0 WHEN value <= 25 THEN 2.0
                 WHEN value <= 50 THEN 3.0 ELSE -1.0 END AS DOUBLE) AS cls
FROM coords
""").fetchall()
    con.close()
    width = LAYOUT_N * TILE
    cls = {(c, r): v for c, r, v in cells}
    roots = _regions_over(
        cls, lambda k: k[1] * width + k[0],
        shifts=((1, 0), (0, 1), (1, 1), (-1, 1)))
    from collections import Counter
    sizes: Counter = Counter()
    val = {}
    for k, v in cls.items():
        sizes[roots[k]] += 1
        val[roots[k]] = v
    values = ", ".join(
        f"({root}, {float(val[root])!r}, {n})"
        for root, n in sorted(sizes.items()))
    return f"""
SELECT CAST(col0 AS BIGINT) AS region, CAST(col1 AS DOUBLE) AS value,
       CAST(col2 AS BIGINT) AS n_cells
FROM (VALUES {values}) t(col0, col1, col2)
"""


def q_raster_region_group_temporal(spark, sf_dir):
    """Region grouping on a SPACETIME layer (the r9 VERDICT regression:
    instants sharing spatial keys must NEVER merge across time). The
    monthly 1995 fixture is reclassified to 3 classes (assemble's -1.0
    nodata fill survives reclassify as its own class), labeled with
    instant-scoped ids (``ti * plane + grow * width + gcol``), and
    rolled up per (month, class) so the oracle's VALUES injection stays
    bounded. ``min_region`` pins the actual id planes — a cross-time
    merge or a wrong instant index changes it."""
    from ..operators.regiongroup import region_group

    layer = _spacetime_layer(spark, sf_dir).reclassify(
        {10: 1, 25: 2, 50: 3}, strategy="LESS_THAN_OR_EQUAL")
    rg = region_group(layer, connectivity=4)
    return (
        rg.groupBy(F.col("instant").cast("date").alias("month"), "value")
        .agg(F.countDistinct("region").alias("n_regions"),
             F.count("*").alias("n_cells"),
             F.min("region").alias("min_region"))
    )


SQL_RASTER_REGION_GROUP_TEMPORAL = lambda: _sql_raster_region_group_temporal()


def _temporal_regions():
    """Shared driver-side replay for the SPACETIME region oracles:
    fetch the monthly fixture, reconstruct assemble's per-(key,instant)
    nodata fill, reclassify, and union-find per instant with the
    engine's instant-scoped ids. Returns (instants, cls, roots) where
    ``cls`` maps (gcol, grow, ti) -> class value."""
    import duckdb

    sf_dir = _oracle_sf_dir()
    con = duckdb.connect()
    con.sql(f"CREATE VIEW lineitem AS SELECT * "
            f"FROM '{sf_dir}/lineitem.parquet'")
    rows = con.sql(f"""
WITH tcells AS (
  SELECT * FROM (
    SELECT CAST(l_orderkey % {LAYOUT_N} AS INT) AS key_col,
           CAST(l_suppkey % {LAYOUT_N} AS INT) AS key_row,
           date_trunc('month', l_shipdate) AS instant,
           row_number() OVER (PARTITION BY l_orderkey % {LAYOUT_N}, l_suppkey % {LAYOUT_N},
                                           date_trunc('month', l_shipdate)
                              ORDER BY l_orderkey, l_linenumber, l_partkey, l_suppkey, l_quantity, l_extendedprice) - 1 AS pos,
           CAST(l_quantity AS DOUBLE) AS value
    FROM lineitem
    WHERE l_shipdate >= TIMESTAMP '1995-01-01' AND l_shipdate < TIMESTAMP '1996-01-01'
  ) WHERE pos < {TILE * TILE}
)
SELECT key_col, key_row, CAST(instant AS DATE) AS instant, pos, value
FROM tcells
""").fetchall()
    con.close()
    width = LAYOUT_N * TILE
    plane = width * width
    # reconstruct assemble: every PRESENT (key, instant) tile is full,
    # missing positions filled with nodata -1.0 (which reclassify keeps)
    instants = sorted({r[2] for r in rows})
    ti_of = {t: i for i, t in enumerate(instants)}
    present = {(r[0], r[1], r[2]) for r in rows}
    vals = {(r[0], r[1], r[2], r[3]): r[4] for r in rows}

    def reclass(q):
        if q is None:
            return -1.0
        return 1.0 if q <= 10 else 2.0 if q <= 25 else 3.0 if q <= 50 else -1.0

    cls = {}
    for kc, kr, t in present:
        ti = ti_of[t]
        for pos in range(TILE * TILE):
            c = kc * TILE + pos % TILE
            r = kr * TILE + pos // TILE
            cls[(c, r, ti)] = reclass(vals.get((kc, kr, t, pos)))
    roots = _regions_over(
        cls, lambda k: k[2] * plane + k[1] * width + k[0],
        shifts=((1, 0, 0), (0, 1, 0)))
    return instants, cls, roots


def q_raster_sieve_temporal(spark, sf_dir):
    """Temporal sieve (the SPACETIME face of ``raster_sieve``): speckle
    regions smaller than 3 cells become NoData PER INSTANT — region
    sizes must never sum across months (the r9 silent-merge class).
    Rolled up to (month, class, n_cells) after sieving so the oracle
    VALUES stay bounded; the dropped cells fold into the -1.0 class."""
    from ..operators.regiongroup import sieve

    layer = _spacetime_layer(spark, sf_dir).reclassify(
        {10: 1, 25: 2, 50: 3}, strategy="LESS_THAN_OR_EQUAL")
    out = sieve(layer, min_size=3, connectivity=4)
    return (
        out.explode()
        .groupBy(F.col("instant").cast("date").alias("month"), "value")
        .agg(F.count("*").alias("n_cells"))
    )


SQL_RASTER_SIEVE_TEMPORAL = lambda: _sql_raster_sieve_temporal()


def _sql_raster_sieve_temporal(min_size: int = 3) -> str:
    instants, cls, roots = _temporal_regions()
    from collections import Counter
    sizes: Counter = Counter()
    for k in cls:
        sizes[roots[k]] += 1
    agg: Counter = Counter()
    for k, v in cls.items():
        out_v = v if sizes[roots[k]] >= min_size else -1.0
        agg[(instants[k[2]], out_v)] += 1
    values = ", ".join(
        f"(DATE '{t.isoformat()}', {float(v)!r}, {n})"
        for (t, v), n in sorted(agg.items()))
    return f"""
SELECT CAST(col0 AS DATE) AS month, CAST(col1 AS DOUBLE) AS value,
       CAST(col2 AS BIGINT) AS n_cells
FROM (VALUES {values}) t(col0, col1, col2)
"""


def _sql_raster_region_group_temporal() -> str:
    instants, cls, roots = _temporal_regions()
    agg: dict = {}
    for k, v in cls.items():
        key = (instants[k[2]], v)
        st = agg.setdefault(key, [set(), 0, None])
        st[0].add(roots[k])
        st[1] += 1
        st[2] = roots[k] if st[2] is None else min(st[2], roots[k])
    values = ", ".join(
        f"(DATE '{t.isoformat()}', {float(v)!r}, {len(rs)}, {n}, {mr})"
        for (t, v), (rs, n, mr) in sorted(agg.items()))
    return f"""
SELECT CAST(col0 AS DATE) AS month, CAST(col1 AS DOUBLE) AS value,
       CAST(col2 AS BIGINT) AS n_regions, CAST(col3 AS BIGINT) AS n_cells,
       CAST(col4 AS BIGINT) AS min_region
FROM (VALUES {values}) t(col0, col1, col2, col3, col4)
"""


def q_raster_region_group_big(spark, sf_dir):
    """Region grouping at the SECOND fixture size (16x16 layout of 32x32
    tiles, r9 VERDICT #8): raw quantity values over PARTIALLY-filled
    tiles, so the -1.0 nodata fill forms one giant region threading all
    256 tiles — long border-merge chains the 4x4 fixture never builds.
    Rolled up per value class to keep the oracle VALUES bounded; the
    min-region pin catches any label drift."""
    from ..operators.regiongroup import region_summary

    layer = big_lineitem_layer(spark, sf_dir)
    return (
        region_summary(layer, connectivity=4)
        .groupBy("value")
        .agg(F.count("*").alias("n_regions"),
             F.sum("n_cells").alias("n_cells"),
             F.max("n_cells").alias("max_cells"),
             F.min("region").alias("min_region"))
    )


SQL_RASTER_REGION_GROUP_BIG = lambda: _sql_raster_region_group_big()


def _sql_raster_region_group_big() -> str:
    import duckdb

    sf_dir = _oracle_sf_dir()
    con = duckdb.connect()
    con.sql(f"CREATE VIEW lineitem AS SELECT * "
            f"FROM '{sf_dir}/lineitem.parquet'")
    rows = con.sql(BIG_CELLS_CTE + """
SELECT key_col, key_row, pos, value FROM cells
""").fetchall()
    con.close()
    width = BIG_N * BIG_TILE
    present_keys = {(r[0], r[1]) for r in rows}
    vals = {(r[0], r[1], r[2]): r[3] for r in rows}
    cls = {}
    for kc, kr in present_keys:
        for pos in range(BIG_TILE * BIG_TILE):
            c = kc * BIG_TILE + pos % BIG_TILE
            r = kr * BIG_TILE + pos // BIG_TILE
            v = vals.get((kc, kr, pos))
            cls[(c, r)] = -1.0 if v is None else v
    roots = _regions_over(
        cls, lambda k: k[1] * width + k[0], shifts=((1, 0), (0, 1)))
    from collections import Counter
    sizes: Counter = Counter()
    val = {}
    for k, v in cls.items():
        sizes[roots[k]] += 1
        val[roots[k]] = v
    agg: dict = {}
    for root, n in sizes.items():
        v = val[root]
        st = agg.setdefault(v, [0, 0, 0, None])
        st[0] += 1
        st[1] += n
        st[2] = max(st[2], n)
        st[3] = root if st[3] is None else min(st[3], root)
    values = ", ".join(
        f"({float(v)!r}, {a}, {b}, {c}, {d})"
        for v, (a, b, c, d) in sorted(agg.items()))
    return f"""
SELECT CAST(col0 AS DOUBLE) AS value, CAST(col1 AS BIGINT) AS n_regions,
       CAST(col2 AS BIGINT) AS n_cells, CAST(col3 AS BIGINT) AS max_cells,
       CAST(col4 AS BIGINT) AS min_region
FROM (VALUES {values}) t(col0, col1, col2, col3, col4)
"""


def q_raster_focal_convolve_big(spark, sf_dir):
    """Focal convolution at the second fixture size (r9 VERDICT #8):
    the 3x3 integer Gaussian over 16x16x32x32 PARTIALLY-filled tiles —
    nodata (-1.0 fill) contributes nothing, and cells with zero valid
    in-kernel values come back NoData and are filtered (sums of the
    all-positive kernel over positive quantities can never equal -1.0,
    so the filter is unambiguous)."""
    layer = big_lineitem_layer(spark, sf_dir)
    out = layer.convolve([[1, 2, 1], [2, 4, 2], [1, 2, 1]])
    return _explode_result(out).where(F.col("value") != -1.0)


SQL_RASTER_FOCAL_CONVOLVE_BIG = BIG_CELLS_CTE + f"""
, grid AS (
  SELECT k.key_col, k.key_row, CAST(p.p AS INT) AS pos,
         k.key_col * {BIG_TILE} + CAST(p.p % {BIG_TILE} AS INT) AS gcol,
         k.key_row * {BIG_TILE} + CAST(floor(p.p / {BIG_TILE}) AS INT) AS grow
  FROM (SELECT DISTINCT key_col, key_row FROM cells) k,
       range({BIG_TILE * BIG_TILE}) p(p)
),
k(dc, dr, w) AS (VALUES (-1,-1,1),(0,-1,2),(1,-1,1),(-1,0,2),(0,0,4),
                        (1,0,2),(-1,1,1),(0,1,2),(1,1,1)),
-- scatter each source cell's weighted contribution to its target
-- positions, so the final join is a plain-column hash equi-join (the
-- computed-key form forces a nested-loop plan at 262k cells)
contrib AS (
  SELECT b.gcol - k.dc AS gcol, b.grow - k.dr AS grow, b.value * k.w AS wv
  FROM coords b JOIN k ON TRUE
)
SELECT g.key_col, g.key_row, g.pos, CAST(SUM(c.wv) AS DOUBLE) AS value
FROM grid g JOIN contrib c ON c.gcol = g.gcol AND c.grow = g.grow
GROUP BY g.key_col, g.key_row, g.pos
"""


def q_raster_morans_i_big(spark, sf_dir):
    """Global Moran's I at the 32x32 tile size (r9 VERDICT #8): a 2x2-key
    slice of the big fixture with the fill mapped to 0.0, so every one of
    the 4096 = 2^12 cells is live — the power-of-two count that keeps the
    whole statistic exactly representable (integer cells, mean at 2^-12
    resolution, every product within 53 bits), hence bit-identical to the
    oracle's relational recomputation."""
    li = _t(spark, sf_dir, "lineitem").select(
        (F.col("l_orderkey") % BIG_N).cast("int").alias("key_col"),
        (F.col("l_suppkey") % BIG_N).cast("int").alias("key_row"),
        "l_orderkey", "l_linenumber", "l_partkey", "l_suppkey",
        "l_quantity", "l_extendedprice",
        F.col("l_quantity").cast("double").alias("value"),
    )
    w = Window.partitionBy("key_col", "key_row").orderBy(
        "l_orderkey", "l_linenumber", "l_partkey", "l_suppkey",
        "l_quantity", "l_extendedprice"
    )
    cells = (
        li.withColumn("pos", F.row_number().over(w) - 1)
        .where((F.col("pos") < BIG_TILE * BIG_TILE)
               & (F.col("key_col") < 2) & (F.col("key_row") < 2))
    )
    npos = BIG_TILE * BIG_TILE
    grid = spark.range(2 * 2 * npos).select(
        (F.col("id") / (2 * npos)).cast("int").alias("key_col"),
        ((F.col("id") / npos) % 2).cast("int").alias("key_row"),
        (F.col("id") % npos).cast("int").alias("pos"),
    )
    full = grid.join(cells.select("key_col", "key_row", "pos", "value"),
                     ["key_col", "key_row", "pos"], "left_outer").select(
        "key_col", "key_row", F.lit(0).alias("band"), "pos",
        F.coalesce("value", F.lit(0.0)).alias("value"))
    sub_md = gps.LayerMetadata(
        crs="epsg:4326",
        cell_type="float64",
        layout=gps.LayoutDefinition(
            gps.Extent(0, 0, 2 * BIG_TILE, 2 * BIG_TILE),
            gps.TileLayout(2, 2, BIG_TILE, BIG_TILE)),
        bounds=((0, 0), (1, 1)),
        extent=gps.Extent(0, 0, 2 * BIG_TILE, 2 * BIG_TILE),
        num_bands=1,
    )
    layer = TiledRasterLayer.assemble(full, sub_md)
    return layer.morans_i()


SQL_RASTER_MORANS_I_BIG = BIG_CELLS_CTE + f"""
, sub AS (SELECT gcol, grow, value FROM coords
          WHERE key_col < 2 AND key_row < 2),
grid AS (
  SELECT c.i AS gcol, r.i AS grow
  FROM range({2 * BIG_TILE}) c(i), range({2 * BIG_TILE}) r(i)
),
fullg AS (
  SELECT g.gcol, g.grow, COALESCE(s.value, 0.0) AS v
  FROM grid g LEFT JOIN sub s ON s.gcol = g.gcol AND s.grow = g.grow
),
nb AS (
  SELECT a.gcol, a.grow, a.v,
         COALESCE(SUM(b.v), 0) AS nsum, COUNT(b.v) AS ncnt
  FROM fullg a LEFT JOIN fullg b
    ON b.gcol BETWEEN a.gcol - 1 AND a.gcol + 1
   AND b.grow BETWEEN a.grow - 1 AND a.grow + 1
   AND NOT (b.gcol = a.gcol AND b.grow = a.grow)
  GROUP BY a.gcol, a.grow, a.v
),
st AS (SELECT SUM(v) / COUNT(*) AS m, COUNT(*) AS n FROM nb)
SELECT CAST(n AS BIGINT) AS n,
       CAST(SUM(ncnt) AS BIGINT) AS w,
       CAST(SUM((v - m) * (nsum - m * ncnt)) AS DOUBLE) AS num,
       CAST(SUM((v - m) * (v - m)) AS DOUBLE) AS den,
       (CAST(n AS DOUBLE) * SUM((v - m) * (nsum - m * ncnt)))
       / (CAST(SUM(ncnt) AS DOUBLE) * SUM((v - m) * (v - m))) AS morans_i
FROM nb, st
GROUP BY n
"""


def q_raster_flow_direction(spark, sf_dir):
    """D8 flow direction (``operators/focal.py::flow_direction``):
    every cell drains to its steepest-descent neighbor, ESRI power-of-2
    codes, flat/pit = 0. The steepness compare is cross-multiplied
    integer squares (2*a^2 vs b^2 — no sqrt(2) in the compare), so the
    codes are engine-exact; the oracle recomputes with a neighbor join
    + per-cell argmax under the identical integer key."""
    layer = lineitem_layer(spark, sf_dir)
    return _explode_result(layer.flow_direction())


SQL_RASTER_FLOW_DIRECTION = CELLS_CTE + """
, nb AS (
  SELECT a.key_col, a.key_row, a.pos,
         CASE WHEN b.grow = a.grow AND b.gcol = a.gcol + 1 THEN 1
              WHEN b.grow = a.grow + 1 AND b.gcol = a.gcol + 1 THEN 2
              WHEN b.grow = a.grow + 1 AND b.gcol = a.gcol THEN 4
              WHEN b.grow = a.grow + 1 AND b.gcol = a.gcol - 1 THEN 8
              WHEN b.grow = a.grow AND b.gcol = a.gcol - 1 THEN 16
              WHEN b.grow = a.grow - 1 AND b.gcol = a.gcol - 1 THEN 32
              WHEN b.grow = a.grow - 1 AND b.gcol = a.gcol THEN 64
              ELSE 128 END AS code,
         CASE WHEN a.value - b.value <= 0 THEN 0
              WHEN b.grow = a.grow OR b.gcol = a.gcol
              THEN 2 * (a.value - b.value) * (a.value - b.value)
              ELSE (a.value - b.value) * (a.value - b.value)
         END AS dkey
  FROM coords a JOIN coords b
    ON b.gcol BETWEEN a.gcol - 1 AND a.gcol + 1
   AND b.grow BETWEEN a.grow - 1 AND a.grow + 1
   AND NOT (b.gcol = a.gcol AND b.grow = a.grow)
)
SELECT key_col, key_row, pos,
       CAST(CASE WHEN dkey > 0 THEN code ELSE 0 END AS DOUBLE) AS value
FROM (
  SELECT key_col, key_row, pos, code, dkey,
         row_number() OVER (PARTITION BY key_col, key_row, pos
                            ORDER BY dkey DESC, code ASC) AS rn
  FROM nb
) WHERE rn = 1
"""


HAMMING_QUERY_IDS = [1, 2, 3, 4, 5, 6, 7, 8]
SQL_EMB_HAMMING_KNN = lambda: _sql_emb_hamming_knn()


def q_emb_hamming_knn(spark, sf_dir):
    """Binary-quantized ANN (``similarity.py::hamming_knn``): sign bits
    packed 32/BIGINT word (pure Catalyst, zero-shuffle), Hamming top-5
    per query via popcount-of-XOR in whole-stage codegen — the 64x-
    compressed first-stage filter of billion-scale ANN. Exact integer
    distances, ties to the neighbor id; the oracle repacks and rescans
    relationally."""
    from ..functions import similarity as fsim

    return fsim.hamming_knn(
        _t(spark, sf_dir, "embeddings"), HAMMING_QUERY_IDS, k=5, dim=64)


def _sql_emb_hamming_knn() -> str:
    qlist = ", ".join(str(q) for q in HAMMING_QUERY_IDS)
    return f"""
WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
bits AS (
  SELECT vec_id,
         CAST(SUM(CASE WHEN i <= 32 AND v[i] > 0
                       THEN (CAST(1 AS BIGINT) << (i - 1)) ELSE 0 END)
              AS BIGINT) AS w0,
         CAST(SUM(CASE WHEN i > 32 AND v[i] > 0
                       THEN (CAST(1 AS BIGINT) << (i - 33)) ELSE 0 END)
              AS BIGINT) AS w1
  FROM e, range(1, 65) r(i)
  GROUP BY vec_id
),
q AS (SELECT vec_id AS query_id, w0 AS q0, w1 AS q1 FROM bits
      WHERE vec_id IN ({qlist})),
d AS (
  SELECT q.query_id, b.vec_id AS neighbor_id,
         bit_count(xor(b.w0, q.q0)) + bit_count(xor(b.w1, q.q1)) AS dist
  FROM bits b JOIN q ON b.vec_id != q.query_id
)
SELECT query_id, neighbor_id, CAST(dist AS INT) AS dist
FROM (
  SELECT *, row_number() OVER (PARTITION BY query_id
                               ORDER BY dist, neighbor_id) AS rn
  FROM d
) WHERE rn <= 5
"""


def q_text_line_dedup(spark, sf_dir):
    """Corpus-wide exact line dedup (``text.py::line_dedup``, the
    C4-style cross-document boilerplate removal): 8-word chunks, global
    first occurrence kept (by doc id then position), documents
    reassembled from their kept chunks. One content-keyed shuffle, no
    Python; the oracle replays the identical chunk/window/reassembly in
    SQL."""
    from ..functions.text import line_dedup

    return line_dedup(_t(spark, sf_dir, "documents"), chunk_words=8)


SQL_TEXT_LINE_DEDUP = """
WITH t AS (SELECT doc_id, string_split(text, ' ') AS ws FROM documents),
c AS (
  SELECT doc_id, CAST(i AS INT) AS pos,
         array_to_string(ws[(i * 8 + 1):(i * 8 + 8)], ' ') AS chunk
  FROM (SELECT doc_id, ws,
               unnest(range(CAST(ceil(len(ws) / 8.0) AS BIGINT))) AS i
        FROM t)
),
k AS (
  SELECT *, row_number() OVER (PARTITION BY chunk
                               ORDER BY doc_id, pos) AS rn
  FROM c
)
SELECT doc_id,
       string_agg(CASE WHEN rn = 1 THEN chunk END, ' ' ORDER BY pos) AS text,
       CAST(COUNT(*) AS BIGINT) AS n_chunks,
       CAST(SUM(CASE WHEN rn = 1 THEN 1 ELSE 0 END) AS BIGINT) AS n_kept
FROM k
GROUP BY doc_id
HAVING SUM(CASE WHEN rn = 1 THEN 1 ELSE 0 END) > 0
"""


EWMA_DEPTH = 8
SQL_EVENTS_EWMA = lambda: _sql_events_ewma()


def q_events_ewma(spark, sf_dir):
    """Bounded-depth exponentially-decayed sum per user
    (``relational.py::decayed_sum``): sum_k value[n-k] * 2^-k over the
    last 8 events ordered by (ts, event_id). Power-of-two weights and a
    literal left-to-right addition chain make every value engine-exact
    — the oracle is the same 8-term lag chain in SQL."""
    from ..functions.relational import decayed_sum

    ev = _events(spark, sf_dir)
    return decayed_sum(
        ev, "user_id", ["ts", "event_id"], "value", depth=EWMA_DEPTH,
    ).select("event_id", "user_id", "decayed")


def _sql_events_ewma() -> str:
    terms = ["CAST(value AS DOUBLE)"]
    for k in range(1, EWMA_DEPTH):
        w = repr(2.0 ** -k)
        terms.append(f"COALESCE(lag(value, {k}) OVER w, 0) * {w}")
    chain = "\n       + ".join(terms)
    return f"""
SELECT event_id, user_id,
       {chain} AS decayed
FROM events
WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
"""


def q_raster_flow_accumulation(spark, sf_dir):
    """D8 flow accumulation (``focal.py::flow_accumulation``): subtree
    size of each cell in the flow forest — bounded-round join+agg
    fixpoint with early convergence exit, integer-exact. The oracle
    replays D8 + subtree sizes driver-side (same cross-multiplied
    integer compare) and injects the per-cell counts as VALUES."""
    layer = lineitem_layer(spark, sf_dir)
    return layer.flow_accumulation()


SQL_RASTER_FLOW_ACCUMULATION = lambda: _sql_raster_flow_accumulation()


def _d8_forest():
    """Shared driver-side D8 replay for the hydrology oracles: fetch
    the fixture cells and rebuild the flow forest with the SAME
    cross-multiplied integer-squares steepness compare the engine uses.
    Returns (cells, down, children)."""
    import duckdb

    sf_dir = _oracle_sf_dir()
    con = duckdb.connect()
    con.sql(f"CREATE VIEW lineitem AS SELECT * "
            f"FROM '{sf_dir}/lineitem.parquet'")
    cells = con.sql(CELLS_CTE + """
SELECT key_col, key_row, pos, gcol, grow, value FROM coords
""").fetchall()
    con.close()
    z = {(c, r): v for _kc, _kr, _p, c, r, v in cells}
    dirs = [
        (1, 0, 1, 2), (2, 1, 1, 1), (4, 1, 0, 2), (8, 1, -1, 1),
        (16, 0, -1, 2), (32, -1, -1, 1), (64, -1, 0, 2), (128, -1, 1, 1),
    ]
    down = {}
    children: dict = {}
    for (c, r), v in z.items():
        best_key, best = 0, None
        for code, dr_, dc_, wgt in dirs:
            nv = z.get((c + dc_, r + dr_))
            if nv is None:
                continue
            drop = v - nv
            if drop <= 0:
                continue
            key = wgt * drop * drop
            if key > best_key:
                best_key, best = key, (c + dc_, r + dr_)
        if best is not None:
            down[(c, r)] = best
            children.setdefault(best, []).append((c, r))
    return cells, down, children


def _sql_raster_flow_accumulation() -> str:
    cells, down, children = _d8_forest()
    z = {(c, r): v for _kc, _kr, _p, c, r, v in cells}
    acc = {}

    def subtree(root):
        # iterative post-order over the upstream forest
        stack = [(root, False)]
        while stack:
            node, done = stack.pop()
            if done:
                acc[node] = 1 + sum(acc[ch] for ch in children.get(node, []))
            else:
                stack.append((node, True))
                for ch in children.get(node, []):
                    stack.append((ch, False))

    for cell in z:
        if cell not in down:          # forest roots (pits / flats)
            subtree(cell)
    values = ", ".join(
        f"({kc}, {kr}, {p}, {acc[(c, r)]})"
        for kc, kr, p, c, r, _v in sorted(cells))
    return f"""
SELECT CAST(col0 AS INT) AS key_col, CAST(col1 AS INT) AS key_row,
       CAST(col2 AS INT) AS pos, CAST(col3 AS BIGINT) AS acc
FROM (VALUES {values}) t(col0, col1, col2, col3)
"""


def q_raster_watershed(spark, sf_dir):
    """Watershed basins (``focal.py::watershed``): every cell labeled
    with the pit cell it drains to, roots found by POINTER DOUBLING —
    O(log flow-path) self-joins, the scale-correct root-finding shape.
    The oracle replays D8 and walks the pointers driver-side."""
    layer = lineitem_layer(spark, sf_dir)
    return layer.watershed()


SQL_RASTER_WATERSHED = lambda: _sql_raster_watershed()


def _sql_raster_watershed() -> str:
    cells, down, _children = _d8_forest()
    width = LAYOUT_N * TILE

    def root(cell):
        seen = set()
        while cell in down:
            if cell in seen:  # impossible in a strict-descent forest
                raise ValueError(f"flow cycle at {cell}")
            seen.add(cell)
            cell = down[cell]
        return cell

    values = ", ".join(
        f"({kc}, {kr}, {p}, {root((c, r))[1] * width + root((c, r))[0]})"
        for kc, kr, p, c, r, _v in sorted(cells))
    return f"""
SELECT CAST(col0 AS INT) AS key_col, CAST(col1 AS INT) AS key_row,
       CAST(col2 AS INT) AS pos, CAST(col3 AS BIGINT) AS basin
FROM (VALUES {values}) t(col0, col1, col2, col3)
"""


def q_raster_tri(spark, sf_dir):
    """Terrain Ruggedness Index (``focal.py::tri``): mean |dz| to the
    valid 8-neighborhood — integer sums + one division, engine-exact
    against the neighbor-join oracle."""
    layer = lineitem_layer(spark, sf_dir)
    return _explode_result(layer.tri())


SQL_RASTER_TRI = CELLS_CTE + """
SELECT a.key_col, a.key_row, a.pos,
       CAST(SUM(ABS(a.value - b.value)) AS DOUBLE) / COUNT(*) AS value
FROM coords a JOIN coords b
  ON b.gcol BETWEEN a.gcol - 1 AND a.gcol + 1
 AND b.grow BETWEEN a.grow - 1 AND a.grow + 1
 AND NOT (b.gcol = a.gcol AND b.grow = a.grow)
GROUP BY a.key_col, a.key_row, a.pos
"""


def q_raster_tpi(spark, sf_dir):
    """Topographic Position Index (``focal.py::tpi``): cell minus mean
    of valid neighbors — same exactness contract as TRI."""
    layer = lineitem_layer(spark, sf_dir)
    return _explode_result(layer.tpi())


SQL_RASTER_TPI = CELLS_CTE + """
SELECT a.key_col, a.key_row, a.pos,
       CAST(ANY_VALUE(a.value) - CAST(SUM(b.value) AS DOUBLE) / COUNT(*)
            AS DOUBLE) AS value
FROM coords a JOIN coords b
  ON b.gcol BETWEEN a.gcol - 1 AND a.gcol + 1
 AND b.grow BETWEEN a.grow - 1 AND a.grow + 1
 AND NOT (b.gcol = a.gcol AND b.grow = a.grow)
GROUP BY a.key_col, a.key_row, a.pos
"""


VIEWSHED_OBS = (8 * BIG_TILE, 8 * BIG_TILE)   # pos 0 of key (8, 8)
VIEWSHED_RADIUS = 12
SQL_RASTER_VIEWSHED = lambda: _sql_raster_viewshed()


def q_raster_viewshed(spark, sf_dir):
    """Bounded-radius viewshed (``focal.py::viewshed``) on the BIG
    fixture (radius 12 needs the 32x32 tiles — the halo cannot exceed
    the tile size): visibility from a mid-grid observer under the
    integer LOS rule (``n*(z_k - z_o) > k*(z_c - z_o)``, nearest-cell
    sampling in pure integer arithmetic) — the oracle replays the
    identical rule in Python over the same cells. Nodata fill cells are
    transparent and come back NoData (filtered; visibility is 0/1 so
    the -1.0 filter is unambiguous). One halo pass with halo = radius."""
    layer = big_lineitem_layer(spark, sf_dir)
    out = layer.viewshed(VIEWSHED_OBS[0], VIEWSHED_OBS[1], VIEWSHED_RADIUS)
    return _explode_result(out).where(F.col("value") != -1.0)


def _sql_raster_viewshed() -> str:
    import duckdb

    sf_dir = _oracle_sf_dir()
    con = duckdb.connect()
    con.sql(f"CREATE VIEW lineitem AS SELECT * "
            f"FROM '{sf_dir}/lineitem.parquet'")
    cells = con.sql(BIG_CELLS_CTE + """
SELECT key_col, key_row, pos, gcol, grow, value FROM coords
""").fetchall()
    con.close()
    z = {(c, r): v for _kc, _kr, _p, c, r, v in cells}
    oc, orow = VIEWSHED_OBS
    R = VIEWSHED_RADIUS
    zo = z[(oc, orow)]

    def visible(gc, gr):
        dx, dy = gc - oc, gr - orow
        if dx * dx + dy * dy > R * R:
            return 0.0
        zc = z[(gc, gr)]
        n = max(abs(dx), abs(dy))
        for k in range(1, n):
            sx = (2 * (oc * n + k * dx) + n) // (2 * n)
            sy = (2 * (orow * n + k * dy) + n) // (2 * n)
            zk = z.get((sx, sy))
            if zk is None:
                continue
            if n * (zk - zo) > k * (zc - zo):
                return 0.0
        return 1.0

    values = ", ".join(
        f"({kc}, {kr}, {p}, {visible(c, r)!r})"
        for kc, kr, p, c, r, _v in sorted(cells))
    return f"""
SELECT CAST(col0 AS INT) AS key_col, CAST(col1 AS INT) AS key_row,
       CAST(col2 AS INT) AS pos, CAST(col3 AS DOUBLE) AS value
FROM (VALUES {values}) t(col0, col1, col2, col3)
"""


def q_raster_kernel_density(spark, sf_dir):
    """Kernel density under the gate: 20 weighted points derived from
    the part table stamp a uniform disk (radius 5) onto the 32x32
    grid — integer weights, half-integer centers and point coordinates,
    so every distance comparison and sum is exact. See
    operators/rasterize.py::kernel_density."""
    from ..operators.rasterize import kernel_density

    rows = (
        _t(spark, sf_dir, "part")
        .where(F.col("p_partkey") < 20)
        .select(
            ((F.col("p_partkey") * 7) % 32 + 0.5).alias("x"),
            ((F.col("p_partkey") * 13) % 32 + 0.5).alias("y"),
            F.col("p_size").cast("double").alias("w"),
        )
        .collect()
    )
    pts = [(r["x"], r["y"], r["w"]) for r in rows]
    layer = kernel_density(spark, pts, RASTER_MD.layout, radius=5.0)
    return _explode_result(layer)


SQL_RASTER_KERNEL_DENSITY = f"""
WITH pts AS (
  SELECT (p_partkey * 7) % 32 + 0.5 AS px,
         (p_partkey * 13) % 32 + 0.5 AS py,
         CAST(p_size AS DOUBLE) AS w
  FROM part WHERE p_partkey < 20
),
grid AS (
  SELECT CAST(c.c // {TILE} AS INT) AS key_col,
         CAST(r.r // {TILE} AS INT) AS key_row,
         CAST((r.r % {TILE}) * {TILE} + (c.c % {TILE}) AS INT) AS pos,
         c.c + 0.5 AS cx, {GRID} - r.r - 0.5 AS cy
  FROM range({GRID}) c(c), range({GRID}) r(r)
)
SELECT g.key_col, g.key_row, g.pos,
       COALESCE(SUM(CASE WHEN (g.cx - p.px) * (g.cx - p.px)
                             + (g.cy - p.py) * (g.cy - p.py) <= 25.0
                         THEN p.w ELSE 0.0 END), 0.0) AS value
FROM grid g CROSS JOIN pts p
GROUP BY g.key_col, g.key_row, g.pos
"""


def q_raster_mask_distributed(spark, sf_dir):
    """Distributed mask: two disjoint boxes arrive as a WKB geometry
    DataFrame -> spatial join (explode-to-keys, per-key collect, equi-join,
    kernel). Oracle: union of the two box interiors."""
    from ..core.geom import to_wkb

    layer = lineitem_layer(spark, sf_dir)
    geoms = spark.createDataFrame(
        [(bytearray(to_wkb(gps.box(2, 2, 10, 10))),),
         (bytearray(to_wkb(gps.box(20, 20, 30, 30))),)],
        "geometry binary",
    )
    masked = layer.mask_distributed(geoms)
    long = masked.explode().where(~_is_nd(F.col("value"), layer.nodata))
    return long.select("key_col", "key_row", "pos", "value")


# box (x0,y0,x1,y1) keeps cell centers: gcol in [x0, x1-1], grow in
# [GRID-y1, GRID-y0-1] (row-0-north)
SQL_RASTER_MASK_DISTRIBUTED = CELLS_CTE + f"""
SELECT key_col, key_row, pos, value
FROM coords
WHERE (gcol BETWEEN 2 AND 9 AND grow BETWEEN {GRID - 10} AND {GRID - 3})
   OR (gcol BETWEEN 20 AND 29 AND grow BETWEEN {GRID - 30} AND {GRID - 21})
"""


def q_raster_union(spark, sf_dir):
    """union keeps duplicate keys (``union.py:10-58``); summing per cell
    over a layer unioned with its double gives 3x the value."""
    layer = lineitem_layer(spark, sf_dir)
    u = gps.union([layer, layer * 2])
    agg = u.aggregate_by_cell("Sum")
    return _explode_result(agg)


SQL_RASTER_UNION = CELLS_CTE + """
SELECT key_col, key_row, pos, value * 3.0 AS value FROM coords
"""


def q_multimodal_features(spark, sf_dir):
    """Multimodal plumbing under the oracle gate: documents' text bytes as
    an opaque binary media column -> mapInPandas decode (payload-derived
    deterministic decoder) -> per-channel mean/std features, long format."""
    from ..functions import multimodal as fmm

    docs = _t(spark, sf_dir, "documents").select(
        "doc_id", F.col("text").cast("binary").alias("data")
    )
    feats = fmm.image_features(docs, decoder=fmm.payload_image_decoder)
    return feats.select(
        "doc_id", F.posexplode("features").alias("feat_idx", "v")
    ).select("doc_id", "feat_idx", F.round("v", 6).alias("value"))


SQL_MULTIMODAL_FEATURES = """
WITH d AS (SELECT doc_id, text, strlen(text) AS len FROM documents),
px AS (
  SELECT doc_id, CAST(c.c AS INT) AS ch,
         CASE WHEN len = 0 THEN 0.0
              ELSE CAST(ascii(substr(text, CAST((3 * i.i + c.c) % len AS INT) + 1, 1)) AS DOUBLE)
         END AS v
  FROM d, range(64) i(i), range(3) c(c)
),
stats AS (
  SELECT doc_id, ch, AVG(v) AS m,
         sqrt(greatest(AVG(v * v) - AVG(v) * AVG(v), 0.0)) AS s
  FROM px GROUP BY 1, 2
)
SELECT doc_id, ch AS feat_idx, round(m, 6) AS value FROM stats
UNION ALL
SELECT doc_id, ch + 3 AS feat_idx, round(s, 6) AS value FROM stats
"""


def _payload_pngs(spark, sf_dir):
    """documents -> (doc_id, data) where data is a REAL PNG of the
    payload-derived 8x8 RGB image, encoded with row filters cycling 0-4
    — the input to every zero-injection PNG-decode gate."""
    from ..functions import multimodal as fmm
    from ..operators.render import encode_png

    docs = _t(spark, sf_dir, "documents").select(
        "doc_id", F.col("text").cast("binary").alias("data")
    )

    def to_png(batches):
        for pdf in batches:
            png = [
                encode_png(
                    fmm.payload_image_decoder(bytes(d)).astype(np.uint8),
                    filter_cycle=True,
                )
                for d in pdf["data"]
            ]
            out = pdf[["doc_id"]].copy()
            out["data"] = png
            yield out

    return docs.mapInPandas(to_png, schema="doc_id long, data binary")


def q_multimodal_png_features(spark, sf_dir):
    """Real-PNG decode under the gate, ZERO injected decoders: payload-
    derived 8x8 RGB pixels -> the engine's pure-zlib PNG ENCODER with row
    filters cycling 0-4 (None/Sub/Up/Average/Paeth) -> ``image_features``
    with ``decoder=None``, which resolves to the built-in pure-Python PNG
    decoder where Pillow is absent (functions/multimodal.py::
    _default_image_decoder -> operators/render.py::decode_png). The
    oracle recomputes the features straight from the pixel formula, so a
    hash match proves the full encode -> filter -> deflate -> unfilter ->
    decode loop is byte-exact. Reference parity: geopyspark renders/reads
    PNG tiles through geotrellis PngEncoder (geopyspark/geotrellis/
    layer.py:524-540)."""
    from ..functions import multimodal as fmm

    feats = fmm.image_features(_payload_pngs(spark, sf_dir))
    return feats.select(
        "doc_id", F.posexplode("features").alias("feat_idx", "v")
    ).select("doc_id", "feat_idx", F.round("v", 6).alias("value"))


# identical pixel formula to SQL_MULTIMODAL_FEATURES: the PNG round trip
# is lossless, so the features are those of the payload image itself
SQL_MULTIMODAL_PNG_FEATURES = SQL_MULTIMODAL_FEATURES


def _adam7_png16(img) -> bytes:
    """INDEPENDENT Adam7 16-bit PNG encoder for the interlaced-decode
    gate (r13, VERDICT r12 #7): written straight from the PNG spec
    (Adam7 pass table, per-pass filter reset, big-endian sample words,
    scanline filters cycling 0-4) and sharing no code with
    ``operators/render.py`` — so a hash match proves the engine
    decoder's interlace reassembly against a second implementation."""
    import struct as _s
    import zlib as _z

    a = img if img.ndim == 3 else img[:, :, None]
    h, w, c = a.shape
    bpp = 2 * c
    body = b""
    for x0, y0, dx, dy in ((0, 0, 8, 8), (4, 0, 8, 8), (0, 4, 4, 8),
                           (2, 0, 4, 4), (0, 2, 2, 4), (1, 0, 2, 2),
                           (0, 1, 1, 2)):
        sub = a[y0::dy, x0::dx]
        ph, pw = sub.shape[:2]
        if ph == 0 or pw == 0:
            continue
        prev = bytes(pw * bpp)
        for r in range(ph):
            cur = sub[r].reshape(-1).astype(">u2").tobytes()
            ft = r % 5
            out = bytearray(len(cur))
            for i in range(len(cur)):
                left = cur[i - bpp] if i >= bpp else 0
                up = prev[i]
                ul = prev[i - bpp] if i >= bpp else 0
                if ft == 0:
                    pred = 0
                elif ft == 1:
                    pred = left
                elif ft == 2:
                    pred = up
                elif ft == 3:
                    pred = (left + up) >> 1
                else:
                    p = left + up - ul
                    pa, pb, pc = abs(p - left), abs(p - up), abs(p - ul)
                    pred = left if (pa <= pb and pa <= pc) else (
                        up if pb <= pc else ul)
                out[i] = (cur[i] - pred) & 0xFF
            body += bytes([ft]) + bytes(out)
            prev = cur

    def chunk(tag, data):
        return (_s.pack(">I", len(data)) + tag + data
                + _s.pack(">I", _z.crc32(tag + data) & 0xFFFFFFFF))

    ctype = {1: 0, 3: 2, 4: 6}[c]
    return (b"\x89PNG\r\n\x1a\n"
            + chunk(b"IHDR", _s.pack(">IIBBBBB", w, h, 16, ctype, 0, 0, 1))
            + chunk(b"IDAT", _z.compress(body)) + chunk(b"IEND", b""))


def q_multimodal_png_interlaced(spark, sf_dir):
    """Adam7 interlaced 16-bit PNG decode under the gate (r13, VERDICT
    r12 #7), zero injection: payload-derived 8x8 RGB pixels scaled to
    16-bit (x257) -> an INDEPENDENT inline Adam7 encoder
    (:func:`_adam7_png16`) -> the engine's pure-Python decoder
    (``operators/render.py::decode_png``), all inside executors. The
    oracle regenerates every pixel from the payload byte formula, so a
    hash match proves pass-table reassembly, per-pass filter reset, and
    16-bit sample decode end-to-end."""
    import pandas as pd

    from ..functions import multimodal as fmm
    from ..operators.render import decode_png

    docs = _t(spark, sf_dir, "documents").select(
        "doc_id", F.col("text").cast("binary").alias("data")
    )

    def roundtrip(batches):
        for pdf in batches:
            rows = []
            for did, d in zip(pdf["doc_id"], pdf["data"]):
                img = (fmm.payload_image_decoder(bytes(d)) * 257).astype(np.int64)
                flat = decode_png(_adam7_png16(img)).reshape(-1)
                rows.append({"doc_id": int(did), "pixels": flat.tolist()})
            yield pd.DataFrame(rows, columns=["doc_id", "pixels"])

    out = docs.mapInPandas(roundtrip, schema="doc_id long, pixels array<double>")
    return out.select("doc_id", F.posexplode("pixels").alias("pos", "value"))


SQL_MULTIMODAL_PNG_INTERLACED = """
WITH d AS (SELECT doc_id, text, strlen(text) AS len FROM documents)
SELECT doc_id, CAST(p.p AS INT) AS pos,
       CASE WHEN len = 0 THEN 0.0
            ELSE CAST(257 * ascii(substr(text, CAST(p.p AS INT) % len + 1, 1)) AS DOUBLE)
       END AS value
FROM d, range(192) p(p)
"""


def q_multimodal_resize(spark, sf_dir):
    """image_resize under the gate, zero injection: payload-PNGs decoded
    by the built-in codec, nearest-neighbor resized 8x8 -> 4x4. Output
    pixel (r, c, ch) samples source pixel (2r, 2c, ch), so the oracle
    regenerates every resized pixel straight from the payload byte
    formula — gating the resize index math AND a second independent path
    through the PNG decode loop."""
    from ..functions import multimodal as fmm

    res = fmm.image_resize(_payload_pngs(spark, sf_dir), width=4, height=4)
    return res.select("doc_id", F.posexplode("pixels").alias("pos", "value"))


SQL_MULTIMODAL_RESIZE = """
WITH d AS (SELECT doc_id, text, strlen(text) AS len FROM documents)
SELECT doc_id, CAST(p.p AS INT) AS pos,
       CASE WHEN len = 0 THEN 0.0
            ELSE CAST(ascii(substr(text,
                 CAST(((2 * (p.p // 12)) * 8 + 2 * ((p.p % 12) // 3)) * 3
                      + p.p % 3 AS INT) % len + 1, 1)) AS DOUBLE)
       END AS value
FROM d, range(48) p(p)
"""


def q_multimodal_patches(spark, sf_dir):
    """ViT-style patch extraction under the gate, zero injection (r9):
    payload PNGs decoded by the built-in codec, cut into the 2x2 grid of
    4x4 patches; every patch pixel is regenerated by the oracle straight
    from the payload byte formula — gating the patch index math AND a
    third independent pass through the PNG decode loop."""
    from ..functions import multimodal as fmm

    out = fmm.image_patches(_payload_pngs(spark, sf_dir), patch=4)
    return out.select(
        "doc_id", "patch_row", "patch_col",
        F.posexplode("pixels").alias("pos", "value"),
    )


SQL_MULTIMODAL_PATCHES = """
WITH d AS (SELECT doc_id, text, strlen(text) AS len FROM documents)
SELECT doc_id, CAST(a.pr AS INT) AS patch_row, CAST(b.pc AS INT) AS patch_col,
       CAST(r.q AS INT) AS pos,
       CASE WHEN len = 0 THEN 0.0
            ELSE CAST(ascii(substr(text,
                 CAST(((a.pr * 4 + r.q // 12) * 8
                       + (b.pc * 4 + (r.q % 12) // 3)) * 3
                      + r.q % 3 AS INT) % len + 1, 1)) AS DOUBLE)
       END AS value
FROM d, range(2) a(pr), range(2) b(pc), range(48) r(q)
"""


def q_multimodal_ahash(spark, sf_dir):
    """Perceptual-hash image dedup under the gate: payload-decoded 8x8
    images -> integer-exact 64-bit aHash -> byte-banded bucket join ->
    exact Hamming verify. Every step integer arithmetic, so pairs are
    engine-reproducible; see functions/multimodal.py::image_ahash."""
    from ..functions import multimodal as fmm

    docs = _t(spark, sf_dir, "documents").select(
        "doc_id", F.col("text").cast("binary").alias("data")
    )
    hashes = fmm.image_ahash(docs, decoder=fmm.payload_image_decoder)
    return fmm.ahash_near_dup(hashes, "doc_id", max_hamming=8)


SQL_MULTIMODAL_AHASH = """
WITH d AS (SELECT doc_id, text, strlen(text) AS len FROM documents),
px AS (
  SELECT doc_id, CAST(i.i AS INT) AS i,
         CASE WHEN len = 0 THEN 0
              ELSE ascii(substr(text, CAST((3 * i.i + 0) % len AS INT) + 1, 1))
                 + ascii(substr(text, CAST((3 * i.i + 1) % len AS INT) + 1, 1))
                 + ascii(substr(text, CAST((3 * i.i + 2) % len AS INT) + 1, 1))
         END AS gray
  FROM d, range(64) i(i)
),
tot AS (SELECT doc_id, SUM(gray) AS total FROM px GROUP BY doc_id),
bits AS (
  SELECT px.doc_id, px.i,
         CASE WHEN px.gray * 64 > tot.total THEN 1 ELSE 0 END AS bit
  FROM px JOIN tot ON px.doc_id = tot.doc_id
),
h AS (
  SELECT doc_id,
         CAST(SUM(CASE WHEN i < 32 THEN bit * (1::BIGINT << i) ELSE 0 END) AS BIGINT) AS ahash_lo,
         CAST(SUM(CASE WHEN i >= 32 THEN bit * (1::BIGINT << (i - 32)) ELSE 0 END) AS BIGINT) AS ahash_hi
  FROM bits GROUP BY doc_id
),
bk AS (
  SELECT doc_id, ahash_lo, ahash_hi, b.b AS band,
         CASE WHEN b.b < 4 THEN (ahash_lo >> (b.b * 8)) & 255
              ELSE (ahash_hi >> ((b.b - 4) * 8)) & 255 END AS byte
  FROM h, range(8) b(b)
),
cand AS (
  SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b,
         a.ahash_lo AS lo_a, a.ahash_hi AS hi_a,
         b.ahash_lo AS lo_b, b.ahash_hi AS hi_b
  FROM bk a JOIN bk b ON a.band = b.band AND a.byte = b.byte
                     AND a.doc_id < b.doc_id
)
SELECT id_a, id_b,
       CAST(bit_count(xor(lo_a, lo_b)) + bit_count(xor(hi_a, hi_b)) AS INT) AS hamming
FROM cand
WHERE bit_count(xor(lo_a, lo_b)) + bit_count(xor(hi_a, hi_b)) <= 8
"""
SQL_EMB_DEDUP_PIPELINE = lambda: _sql_emb_dedup_pipeline(6, 0.45)


def q_emb_dedup_pipeline(spark, sf_dir):
    """Semantic dedup end-to-end: LSH-blocked cosine near-dup pairs ->
    connected components -> keep the smallest vec_id per cluster."""
    return fsim.dedup_by_embedding(
        _t(spark, sf_dir, "embeddings"), threshold=0.45,
        blocking="lsh", num_planes=6,
    )


def _sql_emb_dedup_pipeline(num_planes: int = 6, threshold: float = 0.45) -> str:
    bucket = _sql_bucket_expr(num_planes)
    return f"""
WITH RECURSIVE e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
sig AS (SELECT vec_id, v, {bucket} AS bucket FROM e),
p AS (
  SELECT a.vec_id AS id_a, b.vec_id AS id_b
  FROM sig a JOIN sig b ON a.bucket = b.bucket AND a.vec_id < b.vec_id
  WHERE list_dot_product(a.v, b.v) /
        (sqrt(list_dot_product(a.v, a.v)) * sqrt(list_dot_product(b.v, b.v))) >= {threshold}
),
edges AS (
  SELECT id_a AS src, id_b AS dst FROM p
  UNION ALL
  SELECT id_b AS src, id_a AS dst FROM p
),
reach(vec_id, r) AS (
  SELECT vec_id, vec_id FROM embeddings
  UNION
  SELECT reach.vec_id, edges.dst FROM reach JOIN edges ON reach.r = edges.src
)
SELECT vec_id, MIN(r) AS component, vec_id = MIN(r) AS keep
FROM reach GROUP BY vec_id
"""


def q_multimodal_audio(spark, sf_dir):
    """Audio-leg multimodal plumbing under the oracle gate: document bytes
    as fake PCM -> per-clip sample count / RMS / zero-crossings."""
    from ..functions import multimodal as fmm

    docs = _t(spark, sf_dir, "documents").select(
        "doc_id", F.col("text").cast("binary").alias("data")
    )
    return fmm.audio_features(docs, decoder=fmm.payload_audio_decoder)


SQL_MULTIMODAL_AUDIO = """
WITH d AS (SELECT doc_id, text, strlen(text) AS len FROM documents),
s AS (
  SELECT doc_id, CAST(pos AS INT) AS pos,
         CAST(ascii(substr(text, CAST(pos AS INT) + 1, 1)) - 64 AS DOUBLE) AS v
  FROM (SELECT doc_id, text, unnest(range(len)) AS pos FROM d)
),
rms AS (
  SELECT doc_id, COUNT(*) AS n_samples,
         round(sqrt(AVG(v * v)), 6) AS rms
  FROM s GROUP BY doc_id
),
zc AS (
  SELECT a.doc_id, COUNT(*) FILTER (a.v * b.v < 0) AS zero_crossings
  FROM s a JOIN s b ON a.doc_id = b.doc_id AND b.pos = a.pos + 1
  GROUP BY a.doc_id
)
SELECT d.doc_id, COALESCE(r.n_samples, 0) AS n_samples,
       COALESCE(r.rms, 0.0) AS rms,
       COALESCE(z.zero_crossings, 0) AS zero_crossings
FROM d LEFT JOIN rms r ON d.doc_id = r.doc_id
       LEFT JOIN zc z ON d.doc_id = z.doc_id
"""


def q_emb_near_dup(spark, sf_dir):
    """Embedding-cosine near-dup: exact all-pairs >= 0.45 (the synthetic
    corpus peaks at ~0.51, so the result is non-empty with no pairs near the
    threshold or a 6-dp rounding boundary)."""
    return fsim.cosine_near_dup(_t(spark, sf_dir, "embeddings"), threshold=0.45)


def q_emb_near_dup_lsh(spark, sf_dir):
    """The 100 TB near-dup path: hyperplane-bucket blocking (no all-pairs,
    no driver collect) then exact verification of in-bucket candidates."""
    return fsim.cosine_near_dup(
        _t(spark, sf_dir, "embeddings"), threshold=0.45,
        blocking="lsh", num_planes=6,
    )


SQL_EMB_NEAR_DUP_LSH = lambda: _sql_near_dup_lsh(6, 0.45)


def _sql_near_dup_lsh(num_planes: int = 6, threshold: float = 0.45) -> str:
    bucket = _sql_bucket_expr(num_planes)
    return f"""
WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
sig AS (SELECT vec_id, v, {bucket} AS bucket FROM e),
p AS (
  SELECT a.vec_id AS id_a, b.vec_id AS id_b,
         list_dot_product(a.v, b.v) /
         (sqrt(list_dot_product(a.v, a.v)) * sqrt(list_dot_product(b.v, b.v))) AS sim
  FROM sig a JOIN sig b ON a.bucket = b.bucket AND a.vec_id < b.vec_id
)
SELECT id_a, id_b, round(sim, 6) AS sim FROM p WHERE sim >= {threshold}
"""


SQL_EMB_NEAR_DUP = """
WITH p AS (
  SELECT a.vec_id AS id_a, b.vec_id AS id_b,
         list_dot_product(CAST(a.embedding AS DOUBLE[]), CAST(b.embedding AS DOUBLE[])) /
         (sqrt(list_dot_product(CAST(a.embedding AS DOUBLE[]), CAST(a.embedding AS DOUBLE[]))) *
          sqrt(list_dot_product(CAST(b.embedding AS DOUBLE[]), CAST(b.embedding AS DOUBLE[])))) AS sim
  FROM embeddings a JOIN embeddings b ON a.vec_id < b.vec_id
)
SELECT id_a, id_b, round(sim, 6) AS sim FROM p WHERE sim >= 0.45
"""


# ---------------------------------------------------------------------------
# registry
# ---------------------------------------------------------------------------

# ---------------------------------------------------------------------------
# round 6 (second half): oracle gates for the remaining pytest-only §2 rows —
# stitch, PNG render, catalog update/read_value, with_no_data, shapefile
# ingest, COG overview decode (VERDICT r5 rows 4/6/10/13/14/18/59 carried
# "tests" only; these close them with driver-checkable queries).
# ---------------------------------------------------------------------------

def _scratch_dir():
    import os
    import tempfile

    scratch = os.path.join(os.path.dirname(os.path.dirname(
        os.path.dirname(os.path.abspath(__file__)))), ".scratch")
    os.makedirs(scratch, exist_ok=True)
    return scratch


def q_raster_stitch(spark, sf_dir):
    """``stitch`` under the gate (reference ``layer.py:1488-1502`` ->
    ``SpatialTiledRasterLayer.scala:173-186``): assemble the whole layer
    into one (band, rows, cols) grid on the driver (size-guarded), then
    emit every global cell. NoData fill where no tile/cell exists."""
    import pandas as pd

    layer = lineitem_layer(spark, sf_dir)
    arr = layer.stitch()  # (1, 32, 32)
    nb, nrows, ncols = arr.shape
    grow, gcol = np.divmod(np.arange(nrows * ncols, dtype=np.int64), ncols)
    pdf = pd.DataFrame({
        "grow": grow.astype("int32"),
        "gcol": gcol.astype("int32"),
        "value": arr[0].reshape(-1),
    })
    return spark.createDataFrame(pdf, "grow int, gcol int, value double")


SQL_RASTER_STITCH = CELLS_CTE + f"""
, allg AS (
  SELECT CAST(r.range AS INT) AS grow, CAST(c.range AS INT) AS gcol
  FROM range({GRID}) r, range({GRID}) c
)
SELECT a.grow, a.gcol, COALESCE(co.value, -1.0) AS value
FROM allg a LEFT JOIN coords co USING (grow, gcol)
"""


def q_raster_png_roundtrip(spark, sf_dir):
    """``to_png_rdd`` under the gate (reference ``layer.py:524-540`` ->
    PngEncoder): every tile renders through a LESS_THAN_OR_EQUAL ColorMap
    to PNG bytes, which are decoded back pixel-by-pixel — the oracle is
    the same classification as a SQL CASE. Exercises ColorMap.apply, the
    NoData color, and the PNG encoder/decoder pair end-to-end."""
    import pandas as pd

    from ..operators.render import ColorMap, decode_png_rgba, to_png

    layer = lineitem_layer(spark, sf_dir)
    cm = ColorMap.from_colors(
        [10.0, 25.0, 50.0], [0xFF0000FF, 0x00FF00FF, 0x0000FFFF]
    )
    pngs = to_png(layer, cm)

    def decode(batches):
        for pdf in batches:
            for kc, kr, buf in zip(pdf["key_col"], pdf["key_row"], pdf["png"]):
                rgba = decode_png_rgba(bytes(buf)).astype(np.int64)
                packed = (
                    (rgba[..., 0] << 24) | (rgba[..., 1] << 16)
                    | (rgba[..., 2] << 8) | rgba[..., 3]
                ).reshape(-1)
                yield pd.DataFrame({
                    "key_col": int(kc), "key_row": int(kr),
                    "pos": np.arange(packed.size, dtype=np.int32),
                    "rgba": packed,
                })

    return pngs.mapInPandas(
        decode, schema="key_col int, key_row int, pos int, rgba bigint"
    )


SQL_RASTER_PNG_ROUNDTRIP = CELLS_CTE + f"""
, allpos AS (
  SELECT CAST(c.range AS INT) AS key_col,
         CAST(r.range AS INT) AS key_row,
         CAST(p.range AS INT) AS pos
  FROM range({LAYOUT_N}) c, range({LAYOUT_N}) r, range({TILE * TILE}) p
)
SELECT a.key_col, a.key_row, a.pos,
       CAST(CASE
         WHEN co.value IS NULL THEN 0
         WHEN co.value <= 10 THEN {0xFF0000FF}
         WHEN co.value <= 25 THEN {0x00FF00FF}
         ELSE {0x0000FFFF}
       END AS BIGINT) AS rgba
FROM allpos a
LEFT JOIN coords co USING (key_col, key_row, pos)
"""


def q_raster_catalog_update(spark, sf_dir):
    """``update_layer`` under the gate (reference ``catalog.py:287-329``):
    write the layer, then merge-write a patch (+100 on the key_col=0
    column of tiles) — new tiles must win over old on overlapping keys,
    untouched keys must survive the swap-rewrite."""
    import os
    import shutil
    import tempfile

    from ..sources import catalog as cat

    layer = lineitem_layer(spark, sf_dir)
    uri = tempfile.mkdtemp(prefix="catalog_upd_", dir=_scratch_dir())
    try:
        cat.write(uri, "upd", layer, zoom=0)
        patch = TiledRasterLayer(
            layer.df.where(F.col("key_col") == 0), layer.metadata
        ) + 100.0
        cat.update_layer(spark, uri, "upd", 0, patch)
        back = cat.read(spark, uri, "upd", 0)
        long = back.explode().where(~_is_nd(F.col("value"), layer.nodata))
        rows = long.select("key_col", "key_row", "pos", "value").collect()
    finally:
        shutil.rmtree(uri, ignore_errors=True)
    return spark.createDataFrame(rows, "key_col int, key_row int, pos int, value double")


SQL_RASTER_CATALOG_UPDATE = CELLS_CTE + """
SELECT key_col, key_row, pos,
       CASE WHEN key_col = 0 THEN value + 100 ELSE value END AS value
FROM coords
"""


def q_raster_catalog_incremental(spark, sf_dir):
    """Incremental merge commits under the gate (r16, VERDICT r15 #1):
    commit the base layer over multiple z-disjoint files, then merge
    TWO single-column patches with ``update_layer(mode="incremental")``.
    The query RAISES (-> red in the driver record) unless every
    incremental commit writes strictly fewer data files than the layer
    holds (O(batch), not O(layer)) AND reuses untouched base files by
    manifest reference; the content compare against the oracle then
    proves the shared-file read path returns the exact full-merge
    result. Reference anchor: ``geopyspark/geotrellis/catalog.py:
    287-329`` (update_layer) rewrites the whole layer per merge — this
    gate pins where the engine beats it."""
    import os
    import shutil
    import tempfile

    from ..sources import catalog as cat

    # pin the base once (guide §3.3/§5): the base commit executes its
    # lineage twice (range sample + write) and each incremental commit
    # re-executes the patch lineage (plan aggregate + sample + write),
    # all chaining through the same base window — one pin collapses ~7
    # executions of it into 1
    layer = lineitem_layer(spark, sf_dir)
    layer = TiledRasterLayer(materialize(layer.df), layer.metadata)
    uri = tempfile.mkdtemp(prefix="catalog_inc_", dir=_scratch_dir())
    try:
        cat.write(uri, "inc", layer, zoom=0, num_files=8)
        root = cat._layer_path(uri, "inc", 0)

        def _nfiles(v):
            d = os.path.join(root, v)
            return len([f for f in os.listdir(d)
                        if f.endswith(".parquet")])

        n_base = _nfiles("v1")
        if n_base < 4:
            raise RuntimeError(
                f"incremental gate fixture degenerate: base committed "
                f"{n_base} files (need >= 4 for the O(batch) claim)")
        # both patches hit the SAME column: the second supersedes the
        # first (new wins per key), and its z-range stays inside the
        # first rewrite's file, so untouched base files remain
        # untouched across BOTH commits — the reuse the gate asserts
        for i, delta in enumerate((100.0, 600.0), start=2):
            patch = TiledRasterLayer(
                layer.df.where(F.col("key_col") == 0), layer.metadata
            ) + delta
            cat.update_layer(spark, uri, "inc", 0, patch,
                             mode="incremental")
            n_new = _nfiles(f"v{i}")
            if not (1 <= n_new < n_base):
                raise RuntimeError(
                    f"incremental commit v{i} wrote {n_new} data files "
                    f"(layer holds {n_base}) — O(layer) rewrite, not "
                    "O(batch)")
            mf = cat.file_manifest(uri, "inc", 0)
            if not any(e.get("version") for e in mf["files"]):
                raise RuntimeError(
                    f"incremental commit v{i} reused no untouched "
                    "files by reference")
        back = cat.read(spark, uri, "inc", 0)
        long = back.explode().where(~_is_nd(F.col("value"), layer.nodata))
        rows = long.select("key_col", "key_row", "pos", "value").collect()
    finally:
        shutil.rmtree(uri, ignore_errors=True)
    return spark.createDataFrame(
        rows, "key_col int, key_row int, pos int, value double")


SQL_RASTER_CATALOG_INCREMENTAL = CELLS_CTE + """
SELECT key_col, key_row, pos,
       CASE WHEN key_col = 0 THEN value + 600 ELSE value END AS value
FROM coords
"""


def q_raster_read_value(spark, sf_dir):
    """ValueReader point reads under the gate (reference ``catalog.py:
    165-219`` ValueReader): two single-tile random-access reads straight
    off the z-ordered parquet (DuckDB, no Spark job), re-emitted as cell
    rows. The catalog's row-group pruning is the scale path."""
    import pandas as pd
    import shutil
    import tempfile

    from ..sources import catalog as cat

    layer = lineitem_layer(spark, sf_dir)
    uri = tempfile.mkdtemp(prefix="catalog_rv_", dir=_scratch_dir())
    try:
        cat.write(uri, "rv", layer, zoom=0)
        frames = []
        for col, row in ((2, 1), (0, 3)):
            for rec in cat.read_value(uri, "rv", 0, col, row):
                flat = np.asarray(rec["cells"], dtype=np.float64)
                frames.append(pd.DataFrame({
                    "key_col": col, "key_row": row,
                    "pos": np.arange(flat.size, dtype=np.int32),
                    "value": flat,
                }))
    finally:
        shutil.rmtree(uri, ignore_errors=True)
    pdf = pd.concat(frames, ignore_index=True)
    return spark.createDataFrame(pdf, "key_col int, key_row int, pos int, value double")


SQL_RASTER_READ_VALUE = CELLS_CTE + f"""
, allpos AS (
  SELECT CAST(c.range AS INT) AS key_col,
         CAST(r.range AS INT) AS key_row,
         CAST(p.range AS INT) AS pos
  FROM range({LAYOUT_N}) c, range({LAYOUT_N}) r, range({TILE * TILE}) p
)
SELECT a.key_col, a.key_row, a.pos, COALESCE(co.value, -1.0) AS value
FROM allpos a
LEFT JOIN coords co USING (key_col, key_row, pos)
WHERE (a.key_col, a.key_row) IN ((2, 1), (0, 3))
"""


def q_raster_with_no_data(spark, sf_dir):
    """``with_no_data`` semantics under the gate (reference ``layer.py:
    1644-1666``): reinterpreting the sentinel from -1.0 to 5.0 is a pure
    metadata change — afterwards the old -1.0 fills are DATA and every
    5.0 cell is NoData. Output = all non-NoData cells under the NEW
    sentinel."""
    layer = lineitem_layer(spark, sf_dir)
    remapped = layer.with_no_data(5.0)
    long = remapped.explode().where(~_is_nd(F.col("value"), remapped.nodata))
    return long.select("key_col", "key_row", "pos", "value")


SQL_RASTER_WITH_NO_DATA = CELLS_CTE + f"""
, allpos AS (
  SELECT CAST(c.range AS INT) AS key_col,
         CAST(r.range AS INT) AS key_row,
         CAST(p.range AS INT) AS pos
  FROM range({LAYOUT_N}) c, range({LAYOUT_N}) r, range({TILE * TILE}) p
)
SELECT a.key_col, a.key_row, a.pos, COALESCE(co.value, -1.0) AS value
FROM allpos a
LEFT JOIN coords co USING (key_col, key_row, pos)
WHERE COALESCE(co.value, -1.0) <> 5.0
"""


def q_vector_shapefile(spark, sf_dir):
    """``shapefile.get`` under the gate (reference ``geotiff/shapefile.py``
    -> ``ShapefileRDD.scala:24-57``): write a deterministic ESRI
    shapefile (points + polygon + polyline, .dbf attributes), ingest it
    distributed (file list -> mapInPandas parse), emit WKT + attribute.
    The oracle is the literal expected feature set."""
    import os
    import shutil
    import struct
    import tempfile

    from ..core.geom import from_wkb, to_wkt
    from ..sources import shapefile as shp

    def shp_bytes(shape_type: int, records: list[bytes]) -> bytes:
        body = b""
        for i, content in enumerate(records):
            body += struct.pack(">ii", i + 1, len(content) // 2) + content
        total_words = (100 + len(body)) // 2
        header = struct.pack(">i", 9994) + b"\0" * 20 + struct.pack(">i", total_words)
        header += struct.pack("<i", 1000) + struct.pack("<i", shape_type)
        header += struct.pack("<4d", 0, 0, 100, 100) + b"\0" * 32
        return header + body

    def dbf_bytes(rows: list[str]) -> bytes:
        # one C(8) field named "name"
        hdr_size = 32 + 32 + 1
        rec_size = 1 + 8
        out = bytearray(struct.pack("<B3Bihh", 3, 24, 1, 1, len(rows), hdr_size, rec_size))
        out += b"\0" * 20
        out += b"name".ljust(11, b"\0") + b"C" + b"\0" * 4 + bytes([8]) + b"\0" * 15
        out += b"\x0d"
        for v in rows:
            out += b" " + v.encode().ljust(8)
        out += b"\x1a"
        return bytes(out)

    d = tempfile.mkdtemp(prefix="shp_", dir=_scratch_dir())
    try:
        # file 1: three points
        pts = [struct.pack("<i2d", 1, float(x), float(y))
               for x, y in ((1, 2), (30, 40), (99, 7))]
        with open(os.path.join(d, "a_points.shp"), "wb") as f:
            f.write(shp_bytes(1, pts))
        with open(os.path.join(d, "a_points.dbf"), "wb") as f:
            f.write(dbf_bytes(["alpha", "beta", "gamma"]))
        # file 2: one square polygon (clockwise shell, per spec)
        ring = [(10, 10), (10, 20), (20, 20), (20, 10), (10, 10)]
        content = struct.pack("<i4d", 5, 10, 10, 20, 20)
        content += struct.pack("<ii", 1, len(ring)) + struct.pack("<i", 0)
        for x, y in ring:
            content += struct.pack("<2d", float(x), float(y))
        with open(os.path.join(d, "b_poly.shp"), "wb") as f:
            f.write(shp_bytes(5, [content]))
        with open(os.path.join(d, "b_poly.dbf"), "wb") as f:
            f.write(dbf_bytes(["square"]))
        feats = shp.get(spark, d)
        rows = feats.select("geometry", "properties").collect()
    finally:
        shutil.rmtree(d, ignore_errors=True)
    out = [(to_wkt(from_wkb(bytes(r["geometry"]))), r["properties"].get("name", ""))
           for r in rows]
    return spark.createDataFrame(out, "wkt string, name string")


SQL_VECTOR_SHAPEFILE = """
SELECT * FROM (VALUES
  ('POINT (1.0 2.0)', 'alpha'),
  ('POINT (30.0 40.0)', 'beta'),
  ('POINT (99.0 7.0)', 'gamma'),
  ('POLYGON ((10.0 10.0, 10.0 20.0, 20.0 20.0, 20.0 10.0, 10.0 10.0))', 'square')
) AS t(wkt, name)
"""


def q_raster_untiled_ingest(spark, sf_dir):
    """The full reference ingest workflow under the gate (round 6, r8:
    zero injection): ``save_stitched`` -> ``geotiff.get`` with NO
    sizer/decoder arguments (the default seam resolves to rasterio where
    GDAL exists, else the pure-Python codec — identical cells either
    way) -> ``RasterLayer.collect_metadata`` -> ``tile_to_layout`` ->
    identity with the fixture. Gates the untiled scan schema, window
    planning, metadata inference, and the aligned-cut path in one
    query."""
    import os
    import shutil
    import tempfile

    from ..sources import geotiff as gt
    from ..sources import geotiff_codec as codec

    layer = lineitem_layer(spark, sf_dir)
    d = tempfile.mkdtemp(prefix="ingest_", dir=_scratch_dir())
    path = os.path.join(d, "layer.tif")
    try:
        codec.save_stitched(layer, path)
        df = gt.get(spark, path, max_tile_size=TILE)
        rl = gps.RasterLayer(df)
        md = rl.collect_metadata(gps.LocalLayout(TILE))
        tiled = rl.tile_to_layout(md)
        long = tiled.explode().where(~_is_nd(F.col("value"), layer.nodata))
        rows = long.select("key_col", "key_row", "pos", "value").collect()
    finally:
        shutil.rmtree(d, ignore_errors=True)
    return spark.createDataFrame(rows, "key_col int, key_row int, pos int, value double")


SQL_RASTER_UNTILED_INGEST = CELLS_CTE + """
SELECT key_col, key_row, pos, value FROM coords
"""


def q_raster_catalog_hilbert(spark, sf_dir):
    """catalog.write with the Hilbert space-filling-curve index under
    the gate (round 6): the write-time vectorized Hilbert kernel must
    not disturb the data — write with index_strategy='hilbert', read
    back, identity."""
    import shutil
    import tempfile

    from ..sources import catalog as cat

    layer = lineitem_layer(spark, sf_dir)
    uri = tempfile.mkdtemp(prefix="catalog_hb_", dir=_scratch_dir())
    try:
        cat.write(uri, "hb", layer, zoom=0, index_strategy="hilbert")
        back = cat.read(spark, uri, "hb", 0)
        long = back.explode().where(~_is_nd(F.col("value"), layer.nodata))
        rows = long.select("key_col", "key_row", "pos", "value").collect()
    finally:
        shutil.rmtree(uri, ignore_errors=True)
    return spark.createDataFrame(rows, "key_col int, key_row int, pos int, value double")


SQL_RASTER_CATALOG_HILBERT = CELLS_CTE + """
SELECT key_col, key_row, pos, value FROM coords
"""


def q_raster_cog_overview(spark, sf_dir):
    """COG export under the gate (reference ``catalog.write(use_cogs=
    True)``): the pyramid is written as one GeoTIFF whose overview IFDs
    are the shallower zooms; decoding overview page 1 must reproduce the
    zoom-(max-1) Average pyramid level exactly."""
    import os
    import pandas as pd
    import shutil
    import tempfile

    from ..sources.geotiff_codec import decode_geotiff_pages, save_cog

    layer = lineitem_layer(spark, sf_dir)
    pyr = layer.pyramid(resample_method="Average")
    d = tempfile.mkdtemp(prefix="cog_", dir=_scratch_dir())
    path = os.path.join(d, "pyr.tif")
    try:
        save_cog(pyr, path)
        with open(path, "rb") as f:
            pages = decode_geotiff_pages(f.read())
    finally:
        shutil.rmtree(d, ignore_errors=True)
    cells = pages[1][0]  # first overview = zoom max-1 (16x16)
    nb, nrows, ncols = cells.shape
    grow, gcol = np.divmod(np.arange(nrows * ncols, dtype=np.int64), ncols)
    pdf = pd.DataFrame({
        "grow": grow.astype("int32"),
        "gcol": gcol.astype("int32"),
        "value": cells[0].reshape(-1),
    })
    pdf = pdf[pdf["value"] != -1.0]
    return spark.createDataFrame(pdf, "grow int, gcol int, value double")


SQL_RASTER_COG_OVERVIEW = CELLS_CTE + """
SELECT CAST(floor(grow / 2) AS INT) AS grow,
       CAST(floor(gcol / 2) AS INT) AS gcol,
       SUM(value) / COUNT(*) AS value
FROM coords GROUP BY 1, 2
"""


def q_text_repetition(spark, sf_dir):
    """Gopher-style repetition quality signals (round 6): total vs
    distinct token/2-gram/3-gram counts, top n-gram frequency, line
    duplication — the classic pretraining repetition filters, as pure
    per-row Catalyst expressions."""
    return ftext.repetition_metrics(_t(spark, sf_dir, "documents"))


SQL_TEXT_REPETITION = r"""
WITH t AS (
  SELECT doc_id,
         string_split_regex(trim(text), '\s+') AS toks,
         string_split(text, chr(10)) AS lines
  FROM documents
), g AS (
  SELECT doc_id, toks, lines,
    CASE WHEN len(toks) < 2 THEN CAST([] AS VARCHAR[])
         ELSE list_transform(generate_series(1, len(toks) - 1),
                             i -> toks[i] || ' ' || toks[i + 1]) END AS g2,
    CASE WHEN len(toks) < 3 THEN CAST([] AS VARCHAR[])
         ELSE list_transform(generate_series(1, len(toks) - 2),
                             i -> toks[i] || ' ' || toks[i + 1] || ' ' || toks[i + 2]) END AS g3
  FROM t
)
SELECT doc_id,
       CAST(len(toks) AS INT) AS n_tokens,
       CAST(len(list_distinct(toks)) AS INT) AS n_distinct_tokens,
       CAST(len(g2) AS INT) AS n_2grams,
       CAST(len(list_distinct(g2)) AS INT) AS n_distinct_2grams,
       CAST(COALESCE(list_max(list_transform(list_distinct(g2),
            x -> len(list_filter(g2, y -> y = x)))), 0) AS INT) AS top_2gram_count,
       CAST(len(g3) AS INT) AS n_3grams,
       CAST(len(list_distinct(g3)) AS INT) AS n_distinct_3grams,
       CAST(COALESCE(list_max(list_transform(list_distinct(g3),
            x -> len(list_filter(g3, y -> y = x)))), 0) AS INT) AS top_3gram_count,
       CAST(len(lines) AS INT) AS n_lines,
       CAST(len(list_distinct(lines)) AS INT) AS n_distinct_lines
FROM g
"""


def q_text_gopher_filter(spark, sf_dir):
    """Composite Gopher-rules quality filter (round 6): per-document
    rule verdicts + keep flag, one shuffle-free scan."""
    return ftext.gopher_filter(
        _t(spark, sf_dir, "documents"),
        min_tokens=20, max_mean_word_len=6.0, max_top_2gram_frac=0.12,
        min_stopword_hits=1,
    )


SQL_TEXT_GOPHER_FILTER = r"""
WITH t AS (
  SELECT doc_id,
         string_split_regex(trim(text), '\s+') AS toks,
         string_split(text, chr(10)) AS lines
  FROM documents
), g AS (
  SELECT doc_id, toks, lines,
    CASE WHEN len(toks) < 2 THEN CAST([] AS VARCHAR[])
         ELSE list_transform(generate_series(1, len(toks) - 1),
                             i -> toks[i] || ' ' || toks[i + 1]) END AS g2
  FROM t
), m AS (
  SELECT doc_id,
    CAST(len(toks) AS INT) AS n_tokens,
    CASE WHEN len(toks) > 0
         THEN CAST(list_aggregate(list_transform(toks, x -> strlen(x)), 'sum') AS DOUBLE) / len(toks)
         ELSE 0.0 END AS mean_len,
    CASE WHEN len(lines) > 0
         THEN CAST(len(lines) - len(list_distinct(lines)) AS DOUBLE) / len(lines)
         ELSE 0.0 END AS dup_line_frac,
    CASE WHEN len(g2) > 0
         THEN CAST(COALESCE(list_max(list_transform(list_distinct(g2),
              x -> len(list_filter(g2, y -> y = x)))), 0) AS DOUBLE) / len(g2)
         ELSE 0.0 END AS top2_frac,
    len(list_filter(toks, x -> list_contains([{SW}], lower(x)))) AS sw_hits
  FROM g
)
SELECT doc_id, n_tokens,
  CAST(n_tokens >= 20 AND n_tokens <= 100000 AS INT) AS ok_token_count,
  CAST(mean_len >= 2.0 AND mean_len <= 6.0 AS INT) AS ok_word_len,
  CAST(dup_line_frac <= 0.5 AS INT) AS ok_dup_lines,
  CAST(top2_frac <= 0.12 AS INT) AS ok_top_2gram,
  CAST(sw_hits >= 1 AS INT) AS ok_stopwords,
  CAST(n_tokens >= 20 AND n_tokens <= 100000
       AND mean_len >= 2.0 AND mean_len <= 6.0
       AND dup_line_frac <= 0.5 AND top2_frac <= 0.12
       AND sw_hits >= 1 AS INT) AS keep
FROM m
""".replace("{SW}", ", ".join(f"'{w}'" for w in ftext.STOPWORDS_EN))


def q_raster_stream_ingest(spark, sf_dir):
    """Streaming raster ingest under the gate (round 6): the fixture
    layer split into two DISJOINT-key parquet chunks, drained through
    readStream -> foreachBatch catalog merge (maxFilesPerTrigger=1 so
    the second batch exercises the update path), then read back — the
    final catalog must equal the whole layer regardless of batch order,
    because the chunks are key-disjoint."""
    import os
    import shutil
    import tempfile

    from ..sources import catalog as cat
    from ..streaming.raster import read_tile_stream, stream_into_catalog

    layer = lineitem_layer(spark, sf_dir)
    base = tempfile.mkdtemp(prefix="stream_ingest_", dir=_scratch_dir())
    src = os.path.join(base, "src")
    uri = os.path.join(base, "cat")
    try:
        left = layer.df.where(F.col("key_col") < 2)
        right = layer.df.where(F.col("key_col") >= 2)
        left.write.mode("append").parquet(src)
        right.write.mode("append").parquet(src)
        stream = read_tile_stream(spark, src, layer.metadata,
                                  max_files_per_trigger=1)
        stream_into_catalog(stream, uri, "live", 0, layer.metadata,
                            query_name="ingest_gate")
        back = cat.read(spark, uri, "live", 0)
        long = back.explode().where(~_is_nd(F.col("value"), layer.nodata))
        rows = long.select("key_col", "key_row", "pos", "value").collect()
    finally:
        shutil.rmtree(base, ignore_errors=True)
    return spark.createDataFrame(rows, "key_col int, key_row int, pos int, value double")


SQL_RASTER_STREAM_INGEST = CELLS_CTE + """
SELECT key_col, key_row, pos, value FROM coords
"""


def q_rel_salted_join(spark, sf_dir):
    """Skew-resistant salted equi-join under the gate (round 6):
    lineitem's l_linenumber is a textbook hot key (value 1 dominates);
    the salt spreads it across num_salts shuffle keys while the result
    stays identical to the plain join."""
    from ..functions.relational import salted_join

    li = _t(spark, sf_dir, "lineitem").select("l_orderkey", "l_linenumber",
                                              "l_quantity")
    dim = spark.createDataFrame(
        [(i, i * 10) for i in range(1, 8)], "l_linenumber int, weight int"
    )
    j = salted_join(li, dim.withColumn("l_linenumber",
                                       F.col("l_linenumber").cast("int")),
                    "l_linenumber", num_salts=8)
    return j.groupBy("l_linenumber").agg(
        F.count("*").alias("n"),
        F.sum(F.col("l_quantity").cast("decimal(18,2)") * F.col("weight"))
        .cast("double").alias("wsum"),
    )


SQL_REL_SALTED_JOIN = """
WITH dim AS (SELECT CAST(r.range + 1 AS INT) AS l_linenumber,
                    CAST((r.range + 1) * 10 AS INT) AS weight FROM range(7) r)
SELECT l.l_linenumber, COUNT(*) AS n,
       CAST(SUM(CAST(l.l_quantity AS DECIMAL(18,2)) * d.weight) AS DOUBLE) AS wsum
FROM lineitem l JOIN dim d ON CAST(l.l_linenumber AS INT) = d.l_linenumber
GROUP BY l.l_linenumber
"""


def q_vector_spatial_join(spark, sf_dir):
    """Grid-binned point-in-polygon join under the gate (round 6):
    lineitem-derived points x (2 boxes + 1 triangle) dimension — bin,
    broadcast the cell index, exact test only on envelope candidates.
    Polygon bounds sit off the 0.1 point lattice so open/closed boundary
    conventions cannot differ between the engines."""
    from ..operators.spatial_join import point_in_polygon_join

    li = _t(spark, sf_dir, "lineitem")
    pts = li.select(
        (F.col("l_orderkey") * 10 + F.col("l_linenumber")).alias("pt_id"),
        ((F.col("l_orderkey") % 1000).cast("double") / 10.0).alias("x"),
        ((F.col("l_partkey") % 1000).cast("double") / 10.0).alias("y"),
    )
    polys = [
        ("boxA", gps.box(10.05, 20.05, 30.05, 45.05)),
        ("boxB", gps.box(60.15, 5.05, 95.05, 15.15)),
        ("tri", "POLYGON ((5.13 60.17, 47.71 62.39, 20.23 95.31, 5.13 60.17))"),
    ]
    out = point_in_polygon_join(pts, polys, cell_size=16.0)
    return out.select("pt_id", "poly_id")


SQL_VECTOR_SPATIAL_JOIN = """
WITH p AS (
  SELECT l_orderkey * 10 + l_linenumber AS pt_id,
         CAST(l_orderkey % 1000 AS DOUBLE) / 10.0 AS x,
         CAST(l_partkey % 1000 AS DOUBLE) / 10.0 AS y
  FROM lineitem
)
SELECT pt_id, 'boxA' AS poly_id FROM p
WHERE x > 10.05 AND x < 30.05 AND y > 20.05 AND y < 45.05
UNION ALL
SELECT pt_id, 'boxB' FROM p
WHERE x > 60.15 AND x < 95.05 AND y > 5.05 AND y < 15.15
UNION ALL
SELECT pt_id, 'tri' FROM p
WHERE (47.71 - 5.13) * (y - 60.17) - (62.39 - 60.17) * (x - 5.13) > 0
  AND (20.23 - 47.71) * (y - 62.39) - (95.31 - 62.39) * (x - 47.71) > 0
  AND (5.13 - 20.23) * (y - 95.31) - (60.17 - 95.31) * (x - 20.23) > 0
"""


def q_emb_quantize(spark, sf_dir):
    """int8 embedding quantization under the gate (round 6): symmetric
    per-vector scale, half-up rounding (engine-portable), plus the
    round-trip quality report (max abs error, original-vs-dequantized
    cosine). The storage-scale path for a 100 TB embedding corpus."""
    emb = _t(spark, sf_dir, "embeddings")
    q = fsim.quantize_embeddings(emb)
    flat = q.select("vec_id", F.posexplode("qvec").alias("pos", "qv"))
    err = fsim.quantization_error(emb)
    return flat.join(err.select("vec_id", "max_abs_err", "cosine"), "vec_id").select(
        "vec_id", "pos", "qv", "max_abs_err", "cosine"
    )


SQL_EMB_QUANTIZE = """
WITH x AS (
  SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings
), s AS (
  SELECT vec_id, v,
         list_max(list_transform(v, e -> abs(e))) / 127.0 AS scale
  FROM x
), q AS (
  SELECT vec_id, v, scale,
         list_transform(v, e -> CASE WHEN scale > 0
            THEN CAST(greatest(-127.0, least(127.0, floor(e / scale + 0.5))) AS INT)
            ELSE 0 END) AS qvec
  FROM s
), d AS (
  SELECT vec_id, v, scale, qvec,
         list_transform(qvec, e -> CAST(e AS DOUBLE) * scale) AS deq
  FROM q
), err AS (
  SELECT vec_id,
         round(list_max(list_transform(generate_series(1, len(v)),
               i -> abs(v[i] - deq[i]))), 6) AS max_abs_err,
         round(CASE WHEN sqrt(list_dot_product(v, v)) > 0
                     AND sqrt(list_dot_product(deq, deq)) > 0
               THEN list_dot_product(v, deq) /
                    (sqrt(list_dot_product(v, v)) * sqrt(list_dot_product(deq, deq)))
               ELSE 0.0 END, 6) AS cosine
  FROM d
)
SELECT q.vec_id, CAST(p.i - 1 AS INT) AS pos, q.qvec[p.i] AS qv,
       e.max_abs_err, e.cosine
FROM q, LATERAL (SELECT unnest(generate_series(1, len(q.qvec))) AS i) p
JOIN err e ON e.vec_id = q.vec_id
"""


def q_text_contamination(spark, sf_dir):
    """Benchmark n-gram contamination check (round 6): every doc's
    distinct 5-grams vs a deterministic 'benchmark' subset (doc_id %%
    97 == 0) — distinct-collision counts via one explode + broadcast
    join + partial agg."""
    docs = _t(spark, sf_dir, "documents")
    bench = docs.where(F.col("doc_id") % 97 == 0)
    return ftext.benchmark_overlap(docs, bench, n=5)


SQL_TEXT_CONTAMINATION = r"""
WITH t AS (
  SELECT doc_id, string_split_regex(trim(text), '\s+') AS toks FROM documents
), g AS (
  SELECT doc_id,
    CASE WHEN len(toks) < 5 THEN CAST([] AS VARCHAR[])
         ELSE list_transform(generate_series(1, len(toks) - 4),
              i -> toks[i] || ' ' || toks[i+1] || ' ' || toks[i+2] || ' '
                   || toks[i+3] || ' ' || toks[i+4]) END AS ng
  FROM t
), bench AS (
  SELECT DISTINCT gr FROM (
    SELECT unnest(ng) AS gr FROM g WHERE doc_id % 97 = 0
  )
), dg AS (
  SELECT doc_id, gr FROM (
    SELECT doc_id, unnest(list_distinct(ng)) AS gr FROM g
  )
), hits AS (
  SELECT doc_id, COUNT(*) AS n_overlap
  FROM dg JOIN bench USING (gr) GROUP BY doc_id
)
SELECT g.doc_id,
       CAST(len(list_distinct(ng)) AS INT) AS n_distinct_ngrams,
       CAST(COALESCE(h.n_overlap, 0) AS BIGINT) AS n_overlap
FROM g LEFT JOIN hits h ON g.doc_id = h.doc_id
"""


# ---- driver-window rotation (mechanical) -----------------------------------
# The driver records exactly the FIRST 50 entries of ``queries()`` each
# round. ``_WINDOW_ORDER`` is GENERATED by ``tools/rotate_window.py`` from
# the committed CORRECTNESS_r*.json history with a deterministic priority:
#   1. never in any driver window yet,
#   2. windowed but never green — i.e. carried a red,
#   3. green before — oldest last-green round first,
# ties broken by the current ``queries()`` order (this list, then queries
# not yet in it, in definition order), so every registry entry cycles
# through the window within ceil(273/50) = 6 rounds and a CHANGELOG window
# claim is checkable by re-running the tool.
# Regenerate with ``python tools/rotate_window.py --write``; do not
# hand-edit between the markers.
# BEGIN WINDOW_ORDER (generated)
_WINDOW_ORDER_ROUND: int = 15
_WINDOW_ORDER: list = [
    "raster_catalog_incremental",
    "raster_cost_distance_distributed",
    "raster_histogram",
    "raster_min_max",
    "raster_colormap",
    "raster_histogram_series",
    "raster_merge",
    "raster_region_group_temporal",
    "raster_region_group8",
    "raster_region_group_big",
    "raster_focal_convolve_big",
    "raster_morans_i_big",
    "raster_flow_direction",
    "emb_hamming_knn",
    "text_line_dedup",
    "events_ewma",
    "raster_flow_accumulation",
    "raster_watershed",
    "text_bpe_encode",
    "raster_tri",
    "raster_tpi",
    "raster_viewshed",
    "raster_sieve_temporal",
    "tpch_q15_top_supplier",
    "tpch_q17_small_qty",
    "tpch_q18_large_orders",
    "tpch_q21_sole_latest",
    "tpch_q22_idle_cust",
    "text_chunks",
    "graph_pagerank",
    "text_lm_score",
    "events_hll_users",
    "graph_triangles",
    "emb_int8_knn",
    "events_stream_hll",
    "events_stream_join",
    "emb_pq_recall",
    "emb_ivf_recall",
    "multimodal_ahash",
    "events_cms_counts",
    "events_gap_fill",
    "text_temperature_mix",
    "events_rollup",
    "events_scd2",
    "graph_components",
    "events_rolling_window",
    "multimodal_frame_dedup",
    "rel_frequent_pairs",
    "text_sorted_neighborhood",
    "tpch_q20_dominant",
    "raster_kernel_density",
    "text_lsh_calibration",
    "raster_reproject_laea",
    "events_stream_session",
    "raster_geotiff_roundtrip",
    "raster_reproject_rd",
    "raster_reproject_krovak",
    "emb_pq_knn",
    "raster_catalog_query",
    "vector_spatial_join",
    "raster_stream_ingest",
    "text_duplicate_spans",
    "text_prepare_corpus",
    "raster_temporal_rolling",
    "events_stream_stateful",
    "tms_render_tile",
    "raster_untiled_ingest",
    "text_lsh_skew",
    "raster_local_add_n",
    "text_winnow",
    "raster_zindex_deep",
    "raster_contour",
    "raster_geotiff_jpeg_progressive",
    "rel_bloom_filter",
    "events_pivot",
    "vector_shapefile",
    "raster_cog_overview",
    "tpch_q7_volume",
    "tpch_q8_share",
    "tpch_q9_profit",
    "tpch_q12_late",
    "tpch_q16_supplier_cnt",
    "tpch_q19_disjunct",
    "text_sample",
    "events_stream_sliding",
    "events_stream_dedup",
    "raster_catalog_hilbert",
    "raster_stitch",
    "raster_reproject_ortho",
    "text_stratified_sample",
    "events_retention",
    "text_gopher_filter",
    "rel_salted_join",
    "multimodal_video",
    "events_percentiles",
    "text_repetition",
    "text_contamination",
    "text_pack_sequences",
    "emb_quantize",
    "raster_catalog_update",
    "raster_with_no_data",
    "raster_png_roundtrip",
    "text_pii_scrub",
    "raster_read_value",
    "events_stream_tumbling",
    "raster_reproject_ease",
    "raster_reproject_albers",
    "raster_reproject_swiss",
    "tpch_q13_custdist",
    "raster_reproject_cass",
    "raster_reproject_aeqd",
    "raster_reproject_eqc",
    "raster_ntv2_bundled",
    "raster_reproject_geos",
    "text_minhash_vocab",
    "raster_to_spatial",
    "raster_tile_to_layout_warp",
    "raster_focal_multiband",
    "raster_point_cubicspline",
    "raster_point_lanczos",
    "raster_zindex",
    "raster_geotiff_jpeg_arithmetic",
    "raster_geotiff_jpeg_lossless",
    "text_bm25",
    "rel_profile",
    "events_transitions",
    "events_user_features",
    "raster_catalog_query_big",
    "raster_windowed_source",
    "raster_attribute_store",
    "text_remove_dup_spans",
    "rel_cube",
    "events_approx_percentile",
    "raster_reproject_robin",
    "text_dedup_keep_best",
    "text_dedup_incremental",
    "multimodal_png_features",
    "multimodal_png_interlaced",
    "multimodal_resize",
    "emb_kmeans",
    "text_word_freq",
    "text_quality",
    "text_lang_scores",
    "text_fingerprint",
    "text_ngram_jaccard",
    "text_bpe_tokens",
    "text_quality_ratios",
    "emb_norm_stats",
    "emb_drift",
    "emb_outliers",
    "emb_lsh_knn",
    "emb_near_dup",
    "emb_dedup_pipeline",
    "multimodal_audio",
    "tpch_q5_nation_revenue",
    "tpch_q6",
    "set_intersect",
    "events_sliding",
    "events_user_stats",
    "events_trend",
    "raster_reclassify",
    "raster_layer_add",
    "raster_focal_mean",
    "raster_class_histogram",
    "raster_quantile_breaks",
    "raster_zindex_temporal",
    "raster_catalog_roundtrip",
    "raster_catalog_s3_roundtrip",
    "raster_catalog_time_travel",
    "raster_catalog_diff",
    "raster_catalog_restore",
    "raster_convert_int8",
    "raster_lookup",
    "text_dsir_select",
    "events_theta_sketch",
    "events_stream_enrich",
    "events_json_props",
    "events_ohlc",
    "raster_region_group",
    "raster_sieve",
    "raster_zonal_by_layer",
    "raster_focal_convolve",
    "raster_morans_i",
    "rel_merge_upsert",
    "rel_spearman",
    "vector_polygon_metrics",
    "tpch_q2_min_cost",
    "graph_kcore",
    "graph_label_prop",
    "graph_sssp",
    "tpch_q11_important_stock",
    "events_stream_topk",
    "events_asof_join",
    "raster_focal_sum",
    "raster_pyramid",
    "raster_pyramid_time_travel",
    "raster_cost_distance",
    "raster_reproject",
    "raster_reproject_nzmg",
    "raster_reproject_aeqd_geodesic",
    "raster_reproject_ntv2",
    "raster_local_algebra",
    "text_lsh_pairs",
    "emb_near_dup_lsh",
    "text_dedup_incremental_sigs",
    "text_dedup_stream",
    "raster_aggregate_by_cell",
    "raster_cell_value_counts",
    "raster_resample",
    "raster_tile_to_layout_big",
    "raster_bands",
    "raster_combine_bands",
    "raster_focal_max",
    "raster_focal_median",
    "raster_focal_circle",
    "raster_filter_by_times",
    "raster_point_bilinear",
    "raster_euclidean_distance",
    "raster_aspect",
    "raster_hillshade",
    "raster_tobler",
    "raster_map_cells",
    "raster_union",
    "text_minhash",
    "events_interval_join",
    "events_anomaly",
    "events_funnel",
    "events_enriched_segment",
    "tpch_q4_priority",
    "tpch_q10_returned",
    "tpch_q14_promo",
    "window_rank",
    "raster_focal_mode",
    "raster_pyramid_mode",
    "raster_rasterize_features",
    "raster_resample_cubic",
    "raster_mask_distributed",
    "raster_point_values",
    "raster_normalize",
    "raster_reproject_utm",
    "raster_histogram_object",
    "text_token_count",
    "text_dedup_pipeline",
    "text_dedup_incremental_removed",
    "emb_knn",
    "multimodal_features",
    "multimodal_patches",
    "events_session",
    "raster_zonal_stats",
    "raster_mask",
    "text_exact_dedup",
    "text_dup_components",
    "emb_ivf_knn",
    "emb_semantic_dedup",
    "emb_random_projection",
    "emb_mmr_select",
    "tpch_q1",
    "events_tumbling",
    "raster_slope",
    "raster_tile_to_layout",
    "text_simhash",
    "tpch_q3",
    "raster_reproject_cubic",
    "raster_reproject_global",
    "text_classifier",
    "emb_pca",
    "emb_pca_variance",
    "text_bpe_train",
    "text_epoch_shards",
    "text_token_budget_mix",
    "raster_spacetime_series",
    "raster_temporal_interpolate",
    "raster_rasterize",
]
# END WINDOW_ORDER


def queries():
    """Every module-level ``q_<name>`` callable under ``<name>``, in
    ``_WINDOW_ORDER`` order; queries not yet in it follow in definition
    order."""
    defined = {n[2:]: fn for n, fn in globals().items()
               if n.startswith("q_") and callable(fn)}
    ordered = {n: defined.pop(n) for n in _WINDOW_ORDER if n in defined}
    ordered.update(defined)
    return ordered


# The IVF/PQ/k-means oracles read their training rows from the oracle sf
# dir at build time; if that path is unreachable these queries degrade to
# a rows-only check instead of poisoning the whole oracle dict — VISIBLY
# (r13, VERDICT r12 #8): the skipped keys are named in a warning so a
# misconfigured sf dir cannot silently weaken the correctness gate. An
# error in any other oracle raises.
_DEGRADABLE_ORACLES = frozenset({
    "emb_ivf_knn", "emb_kmeans", "emb_semantic_dedup", "emb_pq_knn",
    "emb_pq_recall", "emb_ivf_recall", "text_temperature_mix",
})


def oracle_sql():
    """Each query's DuckDB oracle, read from ``SQL_<NAME>``: the SQL text,
    or a zero-argument callable that builds it when called here."""
    out, degraded, last_err = {}, [], None
    for name in queries():
        sql = globals()[f"SQL_{name.upper()}"]
        if callable(sql):
            try:
                sql = sql()
            except Exception as e:
                if name not in _DEGRADABLE_ORACLES:
                    raise
                degraded.append(name)
                last_err = e
                continue
        out[name] = sql
    if degraded:
        import warnings

        warnings.warn(
            f"oracle SQL for {degraded} could not be computed "
            f"({last_err!r}); these queries degrade to rows-only checks",
            RuntimeWarning, stacklevel=2,
        )
    return out
