"""Retiling operators: tile_to_layout, pyramid, stitch.

Re-expresses:
- ``tile_to_layout`` -> ``/root/reference/geopyspark/geotrellis/layer.py:900-953, 1768-1830``,
  ``SpatialTiledRasterLayer.scala:122-144``
- ``pyramid``        -> ``layer.py:1832-1864``, ``SpatialTiledRasterLayer.scala:146-171``
- ``stitch``         -> ``layer.py:1964-1979``, ``SpatialTiledRasterLayer.scala:317-318``

Spark shapes:
- aligned retile = pure JVM re-key (explode -> recompute (key,pos) ->
  assemble): one shuffle, rows = cells, map-side combined;
- pyramid = one tile-granular shuffle per chunk of levels, not one per
  level: groupBy(ancestor block key) over whole base tiles, and one
  grouped-map kernel fills each block's buffer once and emits every
  level of the chunk; a chunk holds as many levels as fit a
  ``_PYR_BLOCK_CELLS`` block (up to 16x16 tiles of 128^2 cells);
- stitch is an explicit driver collect with a size guard (100 TB safety).
"""

from __future__ import annotations

import math
from dataclasses import replace
from typing import TYPE_CHECKING

import numpy as np
from pyspark.sql import functions as F

from ..core.extent import Extent, LayoutDefinition, LocalLayout, TileLayout
from ..core.metadata import LayerMetadata
from .reshape import assemble_cells, nulls_to_nan, with_global_coords

if TYPE_CHECKING:
    from ..layer import Pyramid, TiledRasterLayer


def _resolve_layout(layer: "TiledRasterLayer", layout) -> LayoutDefinition:
    if isinstance(layout, LayoutDefinition):
        return layout
    if isinstance(layout, TileLayout):
        return LayoutDefinition(layer.layout.extent, layout)
    if isinstance(layout, LocalLayout):
        ld = layer.layout
        return layout.layout_for(ld.extent, ld.cell_width, ld.cell_height)
    from ..core.extent import GlobalLayout

    if isinstance(layout, GlobalLayout):
        # ZoomedLayoutScheme(crs): square 2^z grid over crs.worldExtent for
        # any registered CRS (LayoutType.scala:18-30).
        from ..core.crs import normalize_crs
        from ..core.extent import world_extent

        crs = normalize_crs(layer.metadata.crs)
        world = world_extent(crs)
        ld = layer.layout
        z = (layout.zoom if layout.zoom is not None
             else layout.zoom_for_extent(ld.extent, ld.cell_height, world))
        return layout.layout_for_zoom(z, world)
    raise TypeError(f"cannot resolve layout from {layout!r}")


def tile_to_layout(layer: "TiledRasterLayer", layout,
                   resample_method: str = "NearestNeighbor") -> "TiledRasterLayer":
    """Re-cut tiles to a target grid.

    Implemented paths:
    - *aligned* grids (same cell size, origin offset by a whole number of
      cells): exact JVM re-key, no resampling — covers retile-to-other-
      tile-size and extent crops, the dominant case;
    - non-aligned grids fall through to the identity-CRS inverse-sampling
      warp below (reproject's machinery with no coordinate transform).
    """
    src = layer.layout
    dst = _resolve_layout(layer, layout)
    cw, ch = src.cell_width, src.cell_height
    aligned = math.isclose(cw, dst.cell_width, rel_tol=1e-12) and math.isclose(
        ch, dst.cell_height, rel_tol=1e-12
    )
    if aligned:
        # offset of dst origin from src origin, in cells (must be integral)
        dx = (dst.extent.xmin - src.extent.xmin) / cw
        dy = (src.extent.ymax - dst.extent.ymax) / ch
        aligned = math.isclose(dx, round(dx), abs_tol=1e-9) and math.isclose(
            dy, round(dy), abs_tol=1e-9
        )
    if not aligned:
        # general path: identity-CRS inverse-sampling warp (one shuffle) —
        # same machinery as reproject, just no coordinate transform
        from .reproject import reproject as _reproject

        return _reproject(layer, layer.metadata.crs, dst, resample_method)
    dx = int(round((dst.extent.xmin - src.extent.xmin) / cw))
    dy = int(round((src.extent.ymax - dst.extent.ymax) / ch))

    stl, dtl = src.tile_layout, dst.tile_layout
    long = with_global_coords(layer.explode(), stl.tile_cols, stl.tile_rows)
    # global coords in dst grid
    long = long.withColumn("ngcol", F.col("gcol") - F.lit(dx)).withColumn(
        "ngrow", F.col("grow") - F.lit(dy)
    )
    long = long.where(
        (F.col("ngcol") >= 0)
        & (F.col("ngcol") < dtl.total_cols)
        & (F.col("ngrow") >= 0)
        & (F.col("ngrow") < dtl.total_rows)
    )
    keys = [c for c in long.columns if c == "instant"]
    out_long = long.select(
        (F.col("ngcol") / dtl.tile_cols).cast("int").alias("key_col"),
        (F.col("ngrow") / dtl.tile_rows).cast("int").alias("key_row"),
        *keys,
        "band",
        (
            (F.col("ngrow") % dtl.tile_rows) * dtl.tile_cols + (F.col("ngcol") % dtl.tile_cols)
        ).alias("pos"),
        "value",
    )
    md = layer.metadata
    nd = md.nodata
    fill = float("nan") if nd is None else float(nd)
    out = assemble_cells(out_long, dtl.tile_cols, dtl.tile_rows, fill)
    bounds_row = out.agg(
        F.min("key_col"), F.min("key_row"), F.max("key_col"), F.max("key_row")
    ).first()
    new_bounds = (
        ((bounds_row[0], bounds_row[1]), (bounds_row[2], bounds_row[3]))
        if bounds_row[0] is not None
        else ((0, 0), (0, 0))
    )
    from ..layer import TiledRasterLayer as TRL

    return TRL(out, md.with_layout(dst, new_bounds))


def pyramid(layer: "TiledRasterLayer", resample_method: str = "Average") -> "Pyramid":
    """Build the zoom stack down to a 1-tile-ish level by 2x2 reduction.

    Levels are built in chunks: one tile-granular shuffle groups the
    base tiles of a chunk by their ancestor block, and one grouped-map
    kernel fills each block's buffer once and emits every level of the
    chunk (see :func:`_pyramid_chunk`); a chunk holds as many levels as
    fit a :data:`_PYR_BLOCK_CELLS` block. Any method the reference
    accepts (``SpatialTiledRasterLayer.scala:146-171``) is exact at
    every level. Aggregating methods (Average, Max, Min, Median, Mode
    with ties -> smallest value, NearestNeighbor = upper-left valid
    child) skip NoData and NaN cells, and a parent whose every cell is
    NoData emits no row. Interpolating methods (Bilinear,
    CubicConvolution, CubicSpline, Lanczos) run the separable kernels
    on each parent's own 2x2 children, where a missing or NoData child
    propagates NoData. Building submits no job; each level is a filter
    of its chunk's frame, and :meth:`Pyramid.cache` pins the base layer
    and the chunk frames before the levels, so every cached level is
    cut from one kernel run.
    """
    from ..layer import Pyramid as Pyr
    from ..layer import TiledRasterLayer as TRL

    method = _pyramid_method(resample_method)
    md = layer.metadata
    tl = md.layout.tile_layout
    assert tl.tile_cols % 2 == 0 and tl.tile_rows % 2 == 0, (
        "pyramid needs even tile dimensions"
    )
    z = md.zoom
    if z is None:
        z = max(int(math.ceil(math.log2(max(tl.layout_cols, tl.layout_rows)))), 0)
    # every level's metadata, base first, on the driver
    mds = [replace(md, zoom=z)]
    while z > 0 and (mds[-1].layout.tile_layout.layout_cols > 1
                     or mds[-1].layout.tile_layout.layout_rows > 1):
        z -= 1
        mds.append(replace(_parent_metadata(mds[-1]), zoom=z))
    # temporality derived ONCE from the base layer: `.columns` analyzes
    # the whole chained plan, so each level re-deriving it cost
    # O(levels^2) Catalyst work of pure driver time
    temporal = layer.is_temporal
    levels = {mds[0].zoom: layer}
    frames = []
    cur = layer
    i = 0
    while i + 1 < len(mds):
        d = _chunk_depth(tl.tile_rows, tl.tile_cols, len(mds) - 1 - i)
        frame = _pyramid_chunk(cur, d, method, temporal)
        frames.append(frame)
        for j in range(1, d + 1):
            cur = TRL(frame.where(F.col("level") == j).drop("level"), mds[i + j])
            levels[cur.metadata.zoom] = cur
        i += d
    pyr = Pyr(levels)
    # pinned after the base and before the levels: a cache entry built
    # after its input's entry reads that entry
    pyr._pins[1:1] = frames
    return pyr


#: Largest block of base cells one pyramid kernel group holds: a chunk
#: builds d levels at once when a (2^d * tile_rows) x (2^d * tile_cols)
#: block fits (32 MB of float64).
_PYR_BLOCK_CELLS = 1 << 22

#: upper-case pyramid resample name -> canonical method name
_PYR_METHODS = {m.upper(): m for m in (
    "Average", "Max", "Min", "Median", "Mode", "NearestNeighbor", "Bilinear",
    "CubicConvolution", "CubicSpline", "Lanczos")} | {"NEAREST_NEIGHBOR": "NearestNeighbor"}
_INTERPOLATING = ("Bilinear", "CubicConvolution", "CubicSpline", "Lanczos")


def _pyramid_method(resample_method: str) -> str:
    method = _PYR_METHODS.get(resample_method.upper())
    if method is None:
        raise NotImplementedError(f"pyramid resample {resample_method}")
    return method


def _chunk_depth(tile_rows: int, tile_cols: int, levels_left: int) -> int:
    """Levels one chunk builds: the most whose base block fits
    :data:`_PYR_BLOCK_CELLS`, at least 1, at most ``levels_left``."""
    d = 1
    while d < levels_left and (tile_rows * tile_cols) << (2 * d + 2) <= _PYR_BLOCK_CELLS:
        d += 1
    return d


def _parent_metadata(md: LayerMetadata) -> LayerMetadata:
    """The next level up: half the layout, each parent cell exactly 2x
    the child cell, anchored at the grid's top-left (xmin, ymax). With
    odd layout dims, ceil(n/2) parent tiles cover MORE than the child
    extent — grow the extent to match, instead of keeping it and
    silently implying a non-2x cell size (mis-georeferenced keys)."""
    tl = md.layout.tile_layout
    tc, tr = tl.tile_cols, tl.tile_rows
    n_lc = max(1, (tl.layout_cols + 1) // 2)
    n_lr = max(1, (tl.layout_rows + 1) // 2)
    ext = md.layout.extent
    cw = (ext.xmax - ext.xmin) / (tl.layout_cols * tc)
    ch = (ext.ymax - ext.ymin) / (tl.layout_rows * tr)
    new_ext = Extent(
        ext.xmin,
        ext.ymax - n_lr * tr * 2 * ch,
        ext.xmin + n_lc * tc * 2 * cw,
        ext.ymax,
    )
    new_layout = LayoutDefinition(new_ext, TileLayout(n_lc, n_lr, tc, tr))
    (c0, r0), (c1, r1) = md.bounds
    return md.with_layout(new_layout, ((c0 // 2, r0 // 2), (c1 // 2, r1 // 2)))


def _pyramid_up(layer: "TiledRasterLayer", resample_method: str) -> "TiledRasterLayer":
    """One level up: the one-level chunk."""
    from ..layer import TiledRasterLayer as TRL

    frame = _pyramid_chunk(layer, 1, _pyramid_method(resample_method),
                           layer.is_temporal)
    return TRL(frame.drop("level"), _parent_metadata(layer.metadata))


def _pyramid_chunk(layer: "TiledRasterLayer", d: int, method: str,
                   temporal: bool):
    """Levels 1..d above ``layer`` as one frame with a ``level`` column.

    Base tiles are grouped by ancestor block (``key >> d``, instant,
    band); the kernel pastes a block's tiles into one (2^d * tile_rows)
    x (2^d * tile_cols) buffer and reduces it d times. Each output cell
    depends only on its own 2x2 inputs (interpolating methods: on its
    parent's own 2x2 child tiles), so every level equals d one-level
    steps. NoData makes the same round trip as between separate levels:
    fill -> NaN on the way in, NaN -> fill on the way out, so a computed
    value equal to the fill is NoData at the next level.
    """
    import pandas as pd

    from .resample import resample_tile

    aggregating = method not in _INTERPOLATING
    md = layer.metadata
    tl = md.layout.tile_layout
    tc, tr = tl.tile_cols, tl.tile_rows
    fill = float("nan") if md.nodata is None else float(md.nodata)
    # the caller knows the temporality: `.columns` would force a
    # Catalyst analysis of the level's chained plan
    keys = ["key_col", "key_row", *(["instant"] if temporal else []), "band"]
    n = 1 << d                       # base tiles per block side
    child = layer.df.select(
        F.shiftright("key_col", d).alias("key_col"),
        F.shiftright("key_row", d).alias("key_row"),
        *keys[2:],
        F.col("key_col").bitwiseAND(n - 1).alias("qc"),
        F.col("key_row").bitwiseAND(n - 1).alias("qr"),
        "cells",
    )
    schema = ", ".join(["key_col int", "key_row int"]
                       + (["instant timestamp"] if temporal else [])
                       + ["band int", "level int", "cells array<double>"])

    def reduce_fn(key, pdf):
        # the block's base tiles in one buffer; a missing tile is NaN
        buf = np.full((n * tr, n * tc), np.nan)
        present = np.zeros((n, n), dtype=bool)
        for row in pdf.itertuples(index=False):
            qr, qc = int(row.qr), int(row.qc)
            buf[qr * tr:(qr + 1) * tr, qc * tc:(qc + 1) * tc] = (
                np.asarray(row.cells, dtype=np.float64).reshape(tr, tc))
            present[qr, qc] = True
        out = {k: [] for k in (*keys, "level", "cells")}
        for level in range(1, d + 1):
            m = n >> level           # parent tiles per block side
            if not math.isnan(fill):
                buf[buf == fill] = np.nan
            if aggregating:
                # a parent whose 2x2 children are all NoData emits no row
                emit = (~np.isnan(buf)).reshape(m, 2 * tr, m, 2 * tc).any(axis=(1, 3))
                if method == "NearestNeighbor":
                    # first valid cell of each 2x2 block in row-major order
                    blk = buf.reshape(m * tr, 2, m * tc, 2).transpose(
                        0, 2, 1, 3).reshape(m * tr, m * tc, 4)
                    buf = np.take_along_axis(
                        blk, np.argmax(~np.isnan(blk), axis=-1)[..., None],
                        axis=-1)[..., 0]
                else:
                    buf = resample_tile(buf, m * tr, m * tc, method, None)
            else:
                # interpolating taps stay inside each parent's own
                # children: never read across a parent edge; a parent
                # with an existing base tile below it emits a row
                present = present.reshape(m, 2, m, 2).any(axis=(1, 3))
                emit = present
                up = np.full((m * tr, m * tc), np.nan)
                for pr, pc in zip(*np.nonzero(present)):
                    up[pr * tr:(pr + 1) * tr, pc * tc:(pc + 1) * tc] = resample_tile(
                        buf[2 * pr * tr:2 * (pr + 1) * tr, 2 * pc * tc:2 * (pc + 1) * tc],
                        tr, tc, method, None)
                buf = up
            cells = buf if math.isnan(fill) else np.where(np.isnan(buf), fill, buf)
            for pr, pc in zip(*np.nonzero(emit)):
                out["key_col"].append(key[0] * m + pc)
                out["key_row"].append(key[1] * m + pr)
                for k, v in zip(keys[2:], key[2:]):
                    out[k].append(v)
                out["level"].append(level)
                out["cells"].append(
                    cells[pr * tr:(pr + 1) * tr, pc * tc:(pc + 1) * tc].reshape(-1).tolist())
        return pd.DataFrame(out)

    out = child.groupBy(*keys).applyInPandas(reduce_fn, schema=schema)
    return out.withColumn("cells", nulls_to_nan())


MAX_STITCH_CELLS = 512 * 1024 * 1024 // 8  # 512 MiB of doubles


def stitch(layer: "TiledRasterLayer") -> np.ndarray:
    """Assemble the full layer into one (bands, rows, cols) numpy array on
    the driver — explicitly guarded (SURVEY §7.3: driver-collect APIs need
    size guards at scale)."""
    md = layer.metadata
    tl = md.layout.tile_layout
    (c0, r0), (c1, r1) = md.bounds
    ncols = (c1 - c0 + 1) * tl.tile_cols
    nrows = (r1 - r0 + 1) * tl.tile_rows
    nb = md.num_bands
    if nb * ncols * nrows > MAX_STITCH_CELLS:
        raise ValueError(
            f"stitch would materialize {nb}x{nrows}x{ncols} cells on the driver; "
            "refusing (use the catalog writer instead)"
        )
    nd = md.nodata
    fill = float("nan") if nd is None else float(nd)
    out = np.full((nb, nrows, ncols), fill, dtype=np.float64)
    for row in layer.df.collect():
        a = np.asarray(row["cells"], dtype=np.float64).reshape(tl.tile_rows, tl.tile_cols)
        ro = (row["key_row"] - r0) * tl.tile_rows
        co = (row["key_col"] - c0) * tl.tile_cols
        out[row["band"], ro : ro + tl.tile_rows, co : co + tl.tile_cols] = a
    return out
