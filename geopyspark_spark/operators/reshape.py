"""Reshape between assembled tiles (array cells) and exploded long format.

The engine's canonical layout is one row per (key, band) with
``cells: array<double>`` (row-major, ``pos = row * tile_cols + col``).
The exploded form — one row per cell — is the relational view used by
pure-SQL operators and by the DuckDB oracle harness.

Both directions are single JVM-side operations (posexplode / groupBy +
sorted re-assembly); no Python per cell.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from .local import key_cols


def explode_cells(df: DataFrame, tile_cols: int | None = None) -> DataFrame:
    """(key, band, cells) -> (key, band, pos[, row, col], value)."""
    keys = key_cols(df)
    out = df.select(
        *keys, "band", F.posexplode("cells").alias("pos", "value")
    )
    if tile_cols is not None:
        out = out.withColumn("trow", (F.col("pos") / tile_cols).cast("int")).withColumn(
            "tcol", F.col("pos") % tile_cols
        )
    return out


def with_global_coords(df_long: DataFrame, tile_cols: int, tile_rows: int) -> DataFrame:
    """Add global grid coordinates (gcol, grow) to an exploded DF.

    grow counts down from the layout's top row (row-0-north convention,
    matching GeoTrellis MapKeyTransform / ``key_conversion.py:57-104``).
    """
    return (
        df_long.withColumn("trow", (F.col("pos") / tile_cols).cast("int"))
        .withColumn("tcol", F.col("pos") % tile_cols)
        .withColumn("gcol", F.col("key_col") * tile_cols + F.col("tcol"))
        .withColumn("grow", F.col("key_row") * tile_rows + F.col("trow"))
    )


def assemble_cells(df_long: DataFrame, tile_cols: int, tile_rows: int,
                   fill: float = float("nan")) -> DataFrame:
    """(key, band, pos, value) -> (key, band, cells array).

    Missing positions are filled with ``fill`` (NoData). Assembly is a
    map-side-combining hash aggregate: collect (pos, value) structs, sort,
    scatter into a dense array — all Catalyst expressions.
    """
    n = tile_cols * tile_rows
    grouped = df_long.groupBy(*key_cols(df_long), "band").agg(
        F.map_from_entries(
            F.array_sort(F.collect_list(F.struct("pos", "value")))
        ).alias("_m")
    )
    dense = F.transform(
        F.sequence(F.lit(0), F.lit(n - 1)),
        lambda i: F.coalesce(F.element_at(F.col("_m"), i), F.lit(float(fill))),
    )
    return grouped.withColumn("cells", dense).drop("_m")


def nulls_to_nan() -> Column:
    """The ``cells`` column with every NULL element replaced by NaN.

    Arrow's pandas->JVM conversion turns a Python NaN inside a returned
    list into SQL NULL; a kernel that returns tiles from pandas restores
    its NaN NoData cells with this.
    """
    return F.transform(F.col("cells"), lambda v: F.coalesce(v, F.lit(float("nan"))))
