"""Key-level aggregations: aggregate_by_cell, merge, histograms, quantiles.

Re-expresses:
- ``aggregate_by_cell`` -> ``/root/reference/geopyspark/geotrellis/layer.py:1500-1544``,
  ``TiledRasterLayer.scala:406-437`` (combineByKey + local Mean/Variance)
- ``merge``             -> ``layer.py:1379-1417``, ``TiledRasterLayer.scala:439-450``
- ``get_histogram`` / ``get_class_histogram`` -> ``layer.py:194-221``, ``TileLayer.scala:230-232``
- ``get_quantile_breaks`` -> ``layer.py:233-255``, ``TileLayer.scala:213-227``

Scale shape: SUM/MIN/MAX/MEAN/MERGE shuffle whole tiles once (groupBy key +
an elementwise array reduce — rows shuffled = #tiles, with map-side
partial aggregation via collect_list being the only buffering);
VARIANCE/STD go through the exploded per-cell groupBy (still one shuffle,
rows = #cells — the price of exact two-pass-free variance).
"""

from __future__ import annotations

from typing import TYPE_CHECKING

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

from .local import _is_nd, _nd_lit, key_cols
from .reshape import assemble_cells

if TYPE_CHECKING:
    from ..layer import TiledRasterLayer


def _elementwise_reduce(lists: Column, nodata, combine) -> Column:
    """Fold a collect_list of cell arrays elementwise with NoData skipping:
    acc=nd,x=v -> v; acc=v,x=nd -> v; both valid -> combine."""
    first = F.element_at(lists, 1)
    rest = F.slice(lists, 2, F.greatest(F.size(lists) - 1, F.lit(0)))

    def merge(acc: Column, arr: Column) -> Column:
        return F.zip_with(
            acc,
            arr,
            lambda a, b: F.when(_is_nd(a, nodata), b)
            .when(_is_nd(b, nodata), a)
            .otherwise(combine(a, b)),
        )

    return F.aggregate(rest, first, merge)


def aggregate_by_cell(layer: "TiledRasterLayer", operation: str) -> "TiledRasterLayer":
    """Cellwise SUM/MIN/MAX/MEAN/VARIANCE/STD across tiles sharing a key.

    Variance of a single sample is NoData (reference semantics,
    ``layer.py:1514-1517``); all ops skip NoData inputs.
    """
    op = operation.upper()
    nd = layer.metadata.nodata
    keys = key_cols(layer.df) + ["band"]

    if op in ("SUM", "MIN", "MAX"):
        combine = {
            "SUM": lambda a, b: a + b,
            "MIN": F.least,
            "MAX": F.greatest,
        }[op]
        agg = layer.df.groupBy(*keys).agg(F.collect_list("cells").alias("_l"))
        out = agg.withColumn("cells", _elementwise_reduce(F.col("_l"), nd, combine)).drop("_l")
        return layer._with(out)

    if op == "MEAN":
        agg = layer.df.groupBy(*keys).agg(F.collect_list("cells").alias("_l"))
        s = _elementwise_reduce(F.col("_l"), nd, lambda a, b: a + b)
        cnt = F.aggregate(
            F.col("_l"),
            F.transform(F.element_at(F.col("_l"), 1), lambda c: F.lit(0.0)),
            lambda acc, arr: F.zip_with(
                acc, arr, lambda a, b: a + F.when(_is_nd(b, nd), F.lit(0.0)).otherwise(F.lit(1.0))
            ),
        )
        mean = F.zip_with(
            s, cnt, lambda sv, c: F.when(c > 0, sv / c).otherwise(_nd_lit(nd))
        )
        out = agg.withColumn("cells", mean).drop("_l")
        return layer._with(out)

    if op in ("VARIANCE", "STD", "STANDARD_DEVIATION", "STANDARDDEVIATION"):
        long = layer.df.select(*keys, F.posexplode("cells").alias("pos", "value"))
        valid = long.where(~_is_nd(F.col("value"), nd))
        v = F.var_samp("value")
        if op != "VARIANCE":
            v = F.stddev_samp("value")
        agg = valid.groupBy(*keys, "pos").agg(v.alias("value"))
        agg = agg.withColumn("value", F.coalesce(F.col("value"), _nd_lit(nd)))
        tl = layer.layout.tile_layout
        fill = float("nan") if nd is None else float(nd)
        out = assemble_cells(agg, tl.tile_cols, tl.tile_rows, fill)
        return layer._with(out)

    raise ValueError(f"unknown aggregate_by_cell operation: {operation}")


def merge(layer: "TiledRasterLayer", order_col: str | None = None) -> "TiledRasterLayer":
    """Reduce duplicate keys: first valid (non-NoData) cell wins.

    The reference merges in RDD order (nondeterministic across runs);
    passing ``order_col`` makes the priority explicit and the result
    deterministic — tiles are folded in ascending ``order_col``.
    """
    nd = layer.metadata.nodata
    keys = key_cols(layer.df) + ["band"]
    if order_col is not None:
        collected = F.array_sort(
            F.collect_list(F.struct(F.col(order_col).alias("o"), F.col("cells").alias("c")))
        )
        lists = F.transform(collected, lambda s: s["c"])
    else:
        lists = F.collect_list("cells")
    agg = layer.df.groupBy(*keys).agg(lists.alias("_l"))
    out = agg.withColumn(
        "cells", _elementwise_reduce(F.col("_l"), nd, lambda a, b: a)
    ).drop("_l")
    return layer._with(out)


def histogram_df(layer: "TiledRasterLayer", num_buckets: int = 80) -> DataFrame:
    """Per-band fixed-width bucket histogram (streaming-histogram analogue)."""
    nd = layer.metadata.nodata
    mn, mx = layer.get_min_max()
    width = (mx - mn) / num_buckets if mx > mn else 1.0
    long = layer.explode().where(~_is_nd(F.col("value"), nd))
    bucket = F.least(
        ((F.col("value") - F.lit(mn)) / F.lit(width)).cast("int"), F.lit(num_buckets - 1)
    )
    return (
        long.withColumn("bucket", bucket)
        .groupBy("band", "bucket")
        .agg(F.count("*").alias("count"), F.avg("value").alias("mean_value"))
        .orderBy("band", "bucket")
    )


def histogram(layer: "TiledRasterLayer", num_buckets: int = 80):
    return histogram_df(layer, num_buckets).collect()


def class_histogram_df(layer: "TiledRasterLayer") -> DataFrame:
    """Exact value histogram (int layers) — explode + groupBy(value).count."""
    nd = layer.metadata.nodata
    long = layer.explode().where(~_is_nd(F.col("value"), nd))
    return long.groupBy("band", "value").agg(F.count("*").alias("count")).orderBy("band", "value")


def class_histogram(layer: "TiledRasterLayer"):
    return class_histogram_df(layer).collect()


def quantile_breaks(layer: "TiledRasterLayer", num_breaks: int,
                    exact: bool = False) -> list[float]:
    """Quantile break points (reference ``layer.py:233-255``).

    ``exact=False`` (default) uses ``percentile_approx`` — the streaming
    sketch that scales to any corpus. ``exact=True`` uses ``percentile``
    (exact rank interpolation, same formula DuckDB's ``quantile_cont``
    applies) — the oracle-comparable path, matching the reference's
    exact-int variant."""
    return quantile_breaks_df(layer, num_breaks, exact).toPandas()[
        "break_value"].tolist()


def quantile_breaks_df(layer: "TiledRasterLayer", num_breaks: int,
                       exact: bool = False) -> DataFrame:
    """(break_idx, break_value) rows for i/num_breaks quantiles, i=1..n."""
    nd = layer.metadata.nodata
    long = layer.explode().where(~_is_nd(F.col("value"), nd))
    qs = [i / num_breaks for i in range(1, num_breaks + 1)]
    fn = F.percentile if exact else F.percentile_approx
    arr = long.select(fn("value", F.array(*[F.lit(q) for q in qs])).alias("q"))
    return arr.select(F.posexplode("q").alias("i", "break_value")).select(
        (F.col("i") + 1).cast("int").alias("break_idx"), "break_value")


def temporal_moving_average(layer, k: int = 3):
    """Per-pixel rolling mean over a SPACETIME layer's instants
    (beyond-reference; the temporal smoothing every satellite time-series
    pipeline runs). For each tile pixel, the value at instant i becomes
    the mean of its non-NoData values over the tile's last ``k`` present
    instants (missing/NoData cells are skipped; all-NoData windows stay
    NoData).

    ONE shuffle on (key, band): each group holds one tile's full instant
    stack, the rolling mean vectorizes over the (instants, cells) array.
    Cell values are integer-valued doubles in this engine's fixtures, so
    the float sum is order-exact and the DuckDB oracle reproduces it
    bit-for-bit.
    """
    import numpy as np

    from ..layer import TiledRasterLayer

    assert layer.is_temporal, "temporal_moving_average requires SPACETIME"
    md = layer.metadata
    nd = md.nodata
    fill = float("nan") if nd is None else float(nd)

    def roll(key, pdf):
        pdf = pdf.sort_values("instant")
        arr = np.stack([np.asarray(c, dtype=np.float64) for c in pdf["cells"]])
        a = arr.copy()
        if nd is not None:
            a[a == nd] = np.nan
        out = np.empty_like(a)
        n_inst = a.shape[0]
        for i in range(n_inst):
            lo = max(0, i - k + 1)
            with np.errstate(invalid="ignore"):
                s = np.nansum(a[lo:i + 1], axis=0)
                c = np.sum(~np.isnan(a[lo:i + 1]), axis=0)
            out[i] = np.where(c > 0, s / np.maximum(c, 1), fill)
        res = pdf[[c for c in pdf.columns if c != "cells"]].copy()
        res["cells"] = [np.nan_to_num(row, nan=fill).tolist() for row in out]
        return res

    cols = [c for c in layer.df.columns]
    out_df = (
        layer.df.groupBy("key_col", "key_row", "band")
        .applyInPandas(roll, schema=layer.df.schema)
    )
    return TiledRasterLayer(out_df.select(*cols), md)


def temporal_interpolate(layer):
    """Fill the MISSING instants of a SPACETIME layer by per-pixel
    linear interpolation (beyond-reference; the temporal gap-fill step
    satellite/time-series pipelines run before windowed training joins —
    the raster analog of ``relational.gap_fill``).

    The instant grid is the layer's own set of distinct instants. Every
    (key, band) present at >= 1 instant emits a tile at EVERY grid
    instant: present tiles pass through unchanged; an absent tile's
    pixel is interpolated linearly in time between the nearest present
    prior/next tiles (``v = prev + (next - prev) * (t - t_prev) /
    (t_next - t_prev)`` over epoch seconds), copied from the single
    neighbor before the first / after the last presence, and NoData if
    EITHER endpoint is NoData (never invent data across a NoData edge).

    Pure Catalyst: one broadcast of the (instants x keys) frame, one
    left join, and two ignorenulls windows over ARRAY columns per (key,
    band) — the interpolation itself is ``zip_with`` over the
    neighboring tiles; no Python in the row path. Everything downstream
    of exact inputs is a single float expression per cell, so any
    engine reproduces it bit-for-bit.
    """
    from ..layer import TiledRasterLayer

    assert layer.is_temporal, "temporal_interpolate requires SPACETIME"
    md = layer.metadata
    nd = md.nodata
    df = layer.df
    instants = df.select("instant").distinct()
    keys = df.select("key_col", "key_row", "band").distinct()
    grid = F.broadcast(keys).crossJoin(F.broadcast(instants))
    j = grid.join(df, ["key_col", "key_row", "band", "instant"],
                  "left_outer")
    w = Window.partitionBy("key_col", "key_row", "band").orderBy("instant")
    prev_w = w.rowsBetween(Window.unboundedPreceding, Window.currentRow)
    next_w = w.rowsBetween(Window.currentRow, Window.unboundedFollowing)
    ts = F.unix_timestamp("instant").cast("double")
    present_ts = F.when(F.col("cells").isNotNull(), ts)
    j = (
        j.withColumn("_pc", F.last("cells", ignorenulls=True).over(prev_w))
        .withColumn("_pt", F.last(present_ts, ignorenulls=True).over(prev_w))
        .withColumn("_nc", F.first("cells", ignorenulls=True).over(next_w))
        .withColumn("_nt", F.first(present_ts, ignorenulls=True).over(next_w))
    )
    alpha = (ts - F.col("_pt")) / (F.col("_nt") - F.col("_pt"))
    ndl = F.lit(float(nd)) if nd is not None else None

    def lerp(a, b):
        v = a + (b - a) * alpha
        if ndl is not None:
            return F.when((a == ndl) | (b == ndl), ndl).otherwise(v)
        return v

    filled = (
        F.when(F.col("cells").isNotNull(), F.col("cells"))
        .when(F.col("_pc").isNull(), F.col("_nc"))
        .when(F.col("_nc").isNull(), F.col("_pc"))
        .otherwise(F.zip_with("_pc", "_nc", lerp))
    )
    out = j.select(
        "key_col", "key_row", "instant", "band", filled.alias("cells")
    ).where(F.col("cells").isNotNull())
    return TiledRasterLayer(out, md)
