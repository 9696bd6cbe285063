"""Focal (neighborhood) operations — the halo-exchange operator.

Re-expresses the reference's focal suite
(``/root/reference/geopyspark/geotrellis/layer.py:1866-1962`` ->
``SpatialTiledRasterLayer.scala:173-257`` ``FocalOperation``/``Slope``/
``Hillshade`` over GeoTrellis ``bufferTiles``; neighborhoods
``geopyspark/geotrellis/neighborhood.py:12-190``, op enum
``constants.py:151-162``).

Spark-first physical plan (the one genuinely new pattern per SURVEY §4.2):

1. every tile emits <=9 *fragments* — itself plus the r-wide strips its
   neighbors need — built as a single ``inline(array(struct...))`` projection
   (one scan, JVM-side slicing, no self-union);
2. ``groupBy(target key, band)`` assembles the (tile+2r)^2 buffered array;
   shuffle volume ≈ tiles * (1 + 4r/T), not 9x;
3. an Arrow-batched ``applyInPandas`` kernel runs the numpy stencil and
   emits the center tile.

Edge semantics: cells beyond the layer (or with no neighbor tile) are
NoData and are excluded from the neighborhood aggregate (GeoTrellis
behavior); results are produced only for keys present in the input.
"""

from __future__ import annotations

import math
from typing import TYPE_CHECKING

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from .local import key_cols
from ..core.checkpoint import materialize

if TYPE_CHECKING:
    from ..layer import TiledRasterLayer


# --- neighborhood masks ---------------------------------------------------

def neighborhood_mask(name: str, p1: float, p2: float = 0.0, p3: float = 0.0) -> np.ndarray:
    """Boolean (2r+1, 2r+1) inclusion mask (center included).

    Mirrors ``geopyspark/geotrellis/neighborhood.py``: Square(extent),
    Circle(radius in cells), Nesw(extent), Wedge(radius, start/end angle
    degrees), Annulus(inner, outer).
    """
    n = name.upper()
    if n == "SQUARE":
        r = int(p1)
        return np.ones((2 * r + 1, 2 * r + 1), dtype=bool)
    if n == "CIRCLE":
        # GeoTrellis Circle includes cells whose center distance <= radius;
        # radius may be fractional
        r = int(math.ceil(p1))
        dy, dx = np.mgrid[-r : r + 1, -r : r + 1]
        return dx * dx + dy * dy <= p1 * p1
    if n == "NESW":
        r = int(p1)
        m = np.zeros((2 * r + 1, 2 * r + 1), dtype=bool)
        m[r, :] = True
        m[:, r] = True
        return m
    if n == "ANNULUS":
        inner, outer = p1, p2
        r = int(math.ceil(outer))
        dy, dx = np.mgrid[-r : r + 1, -r : r + 1]
        d2 = dx * dx + dy * dy
        return (d2 >= inner * inner) & (d2 <= outer * outer)
    if n == "WEDGE":
        radius, start, end = p1, p2, p3
        r = int(math.ceil(radius))
        dy, dx = np.mgrid[-r : r + 1, -r : r + 1]
        d2 = dx * dx + dy * dy
        ang = np.degrees(np.arctan2(-dy, dx)) % 360.0
        s, e = start % 360.0, end % 360.0
        if s <= e:
            in_ang = (ang >= s) & (ang <= e)
        else:
            in_ang = (ang >= s) | (ang <= e)
        m = (d2 <= radius * radius) & in_ang
        m[r, r] = True
        return m
    raise ValueError(f"unknown neighborhood: {name}")


# --- halo exchange --------------------------------------------------------

def _frag_expr(tc: int, tr: int, dc: int, dr: int, r: int) -> str:
    """SQL expression extracting the fragment a tile sends toward (dc, dr).

    dc=-1 -> left r columns, dc=+1 -> right r columns, dc=0 -> all columns
    (same for rows/dr). Row strips are contiguous `slice`s; column strips
    gather via transform(sequence) — all JVM-side.
    """
    row0, nrows = (0, tr) if dr == 0 else ((0, r) if dr == -1 else (tr - r, r))
    col0, ncols = (0, tc) if dc == 0 else ((0, r) if dc == -1 else (tc - r, r))
    if dc == 0:
        # contiguous rows
        return f"slice(cells, {row0 * tc + 1}, {nrows * tc})"
    return (
        f"flatten(transform(sequence({row0}, {row0 + nrows - 1}), "
        f"i -> slice(cells, i * {tc} + {col0 + 1}, {ncols})))"
    )


def halo_exchange(df: DataFrame, tile_cols: int, tile_rows: int, radius: int,
                  carry: list[str] | None = None) -> DataFrame:
    """Emit fragments to the 9 neighbor targets in ONE projection (inline of
    an array of structs — single scan, no unions), keyed by target.

    ``carry`` names donor-side scalar columns duplicated onto every emitted
    fragment (e.g. a per-tile change flag), letting the receiver reason
    about its neighborhood without a second join.
    """
    assert radius <= tile_cols and radius <= tile_rows, (
        "halo radius must not exceed tile size; retile first"
    )
    carry = carry or []
    frags = []
    for dr in (-1, 0, 1):
        for dc in (-1, 0, 1):
            frags.append(
                f"named_struct('dc', {dc}, 'dr', {dr}, "
                f"'frag', {_frag_expr(tile_cols, tile_rows, dc, dr, radius)})"
            )
    keys = key_cols(df)
    exploded = df.select(
        *keys, "band", *carry,
        F.expr("inline(array(" + ",".join(frags) + "))"),
    )
    out = exploded.select(
        (F.col("key_col") + F.col("dc")).alias("key_col"),
        (F.col("key_row") + F.col("dr")).alias("key_row"),
        *[c for c in keys if c not in ("key_col", "key_row")],
        "band",
        *carry,
        "dc",
        "dr",
        "frag",
    )
    return out


def _assemble_buffer(pdf: pd.DataFrame, tc: int, tr: int, r: int, fill: float) -> np.ndarray | None:
    """Place fragments into a (tr+2r, tc+2r) buffer. Returns None if the
    center fragment is absent (target key not in the layer)."""
    buf = np.full((tr + 2 * r, tc + 2 * r), fill, dtype=np.float64)
    has_center = False
    for dc, dr, frag in zip(pdf["dc"], pdf["dr"], pdf["frag"]):
        # fragment came FROM the neighbor at offset (-dc, -dr) w.r.t. target
        ox, oy = -int(dc), -int(dr)
        nrows = tr if oy == 0 else r
        ncols = tc if ox == 0 else r
        a = np.asarray(frag, dtype=np.float64).reshape(nrows, ncols)
        row0 = 0 if oy == -1 else (r if oy == 0 else r + tr)
        col0 = 0 if ox == -1 else (r if ox == 0 else r + tc)
        buf[row0 : row0 + nrows, col0 : col0 + ncols] = a
        if ox == 0 and oy == 0:
            has_center = True
    return buf if has_center else None


def _stencil(buf: np.ndarray, op: str, mask: np.ndarray, nodata: float | None) -> np.ndarray:
    """numpy sliding-window stencil over a buffered array, NoData-aware."""
    r = mask.shape[0] // 2
    win = np.lib.stride_tricks.sliding_window_view(buf, mask.shape)
    if nodata is None or (isinstance(nodata, float) and math.isnan(nodata)):
        valid = ~np.isnan(win)
    else:
        valid = (win != nodata) & ~np.isnan(win)
    valid = valid & mask  # broadcast mask over windows
    cnt = valid.sum(axis=(-1, -2))
    o = op.upper()
    if o == "SUM":
        s = np.where(valid, win, 0.0).sum(axis=(-1, -2))
        out = s
    elif o == "MEAN":
        s = np.where(valid, win, 0.0).sum(axis=(-1, -2))
        with np.errstate(invalid="ignore"):
            out = s / cnt
    elif o == "MIN":
        out = np.where(valid, win, np.inf).min(axis=(-1, -2))
        out = np.where(np.isinf(out), np.nan, out)
    elif o == "MAX":
        out = np.where(valid, win, -np.inf).max(axis=(-1, -2))
        out = np.where(np.isinf(out), np.nan, out)
    elif o == "MEDIAN":
        w = np.where(valid, win, np.nan).reshape(*win.shape[:2], -1)
        with np.errstate(all="ignore"):
            out = np.nanmedian(w, axis=-1)
    elif o == "MODE":
        w = np.where(valid, win, np.nan).reshape(*win.shape[:2], -1)
        out = mode_along_axis(w)
    elif o == "VARIANCE":
        w = np.where(valid, win, np.nan).reshape(*win.shape[:2], -1)
        with np.errstate(all="ignore"):
            out = np.nanvar(w, axis=-1, ddof=1)
    elif o in ("STANDARDDEVIATION", "STANDARD_DEVIATION", "STD"):
        w = np.where(valid, win, np.nan).reshape(*win.shape[:2], -1)
        with np.errstate(all="ignore"):
            out = np.nanstd(w, axis=-1, ddof=1)
    else:
        raise ValueError(f"unknown focal operation: {op}")
    out = np.where(cnt == 0, np.nan, out)
    return out


def _mode1d(a: np.ndarray) -> float:
    a = a[~np.isnan(a)]
    if a.size == 0:
        return float("nan")
    vals, counts = np.unique(a, return_counts=True)
    return float(vals[np.argmax(counts)])


def mode_along_axis(w: np.ndarray) -> np.ndarray:
    """NaN-aware mode along the last axis, vectorized (ties -> smallest value,
    matching ``np.unique`` + first-argmax semantics).

    Sorted-run counting: sort each lane (NaNs sort last), mark run starts and
    ends, recover per-element run lengths with two accumulates, then pick the
    first element of the longest run — no Python call per output cell.
    """
    sw = np.sort(w, axis=-1)
    n = sw.shape[-1]
    pos = np.arange(n)
    start = np.ones(sw.shape, dtype=bool)
    # NaN != NaN, so every NaN is its own length-1 run; they get count 0 below
    start[..., 1:] = sw[..., 1:] != sw[..., :-1]
    run_start = np.maximum.accumulate(np.where(start, pos, 0), axis=-1)
    end = np.ones(sw.shape, dtype=bool)
    end[..., :-1] = start[..., 1:]
    rev = np.where(end, pos, n - 1)[..., ::-1]
    run_end = np.minimum.accumulate(rev, axis=-1)[..., ::-1]
    counts = run_end - run_start + 1
    counts = np.where(np.isnan(sw), 0, counts)
    idx = np.argmax(counts, axis=-1)
    out = np.take_along_axis(sw, idx[..., None], axis=-1)[..., 0]
    maxc = np.take_along_axis(counts, idx[..., None], axis=-1)[..., 0]
    return np.where(maxc == 0, np.nan, out)


def _run_kernel(layer: "TiledRasterLayer", radius: int, kernel,
                out_cell_type: str | None = None, pass_key: bool = False) -> "TiledRasterLayer":
    """Shared halo → assemble → per-tile numpy kernel pipeline."""
    md = layer.metadata
    tl = md.layout.tile_layout
    tc, tr = tl.tile_cols, tl.tile_rows
    nd = md.nodata
    fill = float("nan") if nd is None else float(nd)
    frag_df = halo_exchange(layer.df, tc, tr, radius)
    keys = key_cols(layer.df) + ["band"]
    schema = ", ".join(
        [
            "key_col int",
            "key_row int",
            *(["instant timestamp"] if layer.is_temporal else []),
            "band int",
            "cells array<double>",
        ]
    )
    out_nd = nd
    if out_cell_type is not None:
        from ..core.celltype import parse_cell_type

        out_nd = parse_cell_type(out_cell_type).nodata
    out_fill = float("nan") if out_nd is None else float(out_nd)

    def apply_fn(key, pdf):
        buf = _assemble_buffer(pdf, tc, tr, radius, fill)
        if buf is None:
            return pd.DataFrame(
                {c: pd.Series([], dtype=object) for c in [k for k in keys] + ["cells"]}
            )
        if nd is not None and not math.isnan(fill):
            buf = np.where(buf == fill, np.nan, buf)
        res = kernel(buf, key) if pass_key else kernel(buf)  # (tr, tc), NaN=nodata
        flat = res.reshape(-1)
        if out_nd is not None and not (isinstance(out_nd, float) and math.isnan(out_nd)):
            flat = np.where(np.isnan(flat), out_fill, flat)
        data = {k: [v] for k, v in zip(keys, key)}
        data["cells"] = [flat.tolist()]
        return pd.DataFrame(data)

    out = frag_df.groupBy(*keys).applyInPandas(apply_fn, schema=schema)
    new_md = md.with_cell_type(out_cell_type) if out_cell_type else md
    return layer._with(out, new_md)


def focal(layer: "TiledRasterLayer", operation: str, neighborhood: str = "Square",
          p1: float = 1, p2: float = 0, p3: float = 0) -> "TiledRasterLayer":
    """Focal Sum/Mean/Min/Max/Median/Mode/Variance/StandardDeviation over
    Square/Circle/Nesw/Wedge/Annulus neighborhoods (band 0 semantics match
    the reference; here all bands are processed)."""
    m = neighborhood_mask(neighborhood, p1, p2, p3)
    radius = m.shape[0] // 2
    nd = layer.metadata.nodata

    def kernel(buf: np.ndarray) -> np.ndarray:
        return _stencil(buf, operation, m, None)  # buf already NaN-normalized

    return _run_kernel(layer, radius, kernel)


# --- terrain: slope / aspect / hillshade (Horn's method, 3x3) -------------

def _horn_gradients(buf: np.ndarray, cw: float, ch: float, z: float):
    """dz/dx, dz/dy per Horn 1981 on the 8-neighborhood; NaN-tolerant by
    substituting the center value for missing neighbors (GDAL-compatible
    edge behavior)."""
    c = buf[1:-1, 1:-1]
    def nb(dr, dc):
        v = buf[1 + dr : buf.shape[0] - 1 + dr, 1 + dc : buf.shape[1] - 1 + dc]
        return np.where(np.isnan(v), c, v)

    a, b_, cc = nb(-1, -1), nb(-1, 0), nb(-1, 1)
    d, f = nb(0, -1), nb(0, 1)
    g, h, i = nb(1, -1), nb(1, 0), nb(1, 1)
    dzdx = ((cc + 2 * f + i) - (a + 2 * d + g)) * z / (8.0 * cw)
    dzdy = ((g + 2 * h + i) - (a + 2 * b_ + cc)) * z / (8.0 * ch)
    return dzdx, dzdy, c


#: meters per degree of latitude on the GRS80-ish sphere (the constant the
#: reference's LatLng ZFactorCalculator builds its table from)
METERS_PER_DEGREE = 111_320.0

_UNIT_METERS = {"meters": 1.0, "metres": 1.0, "feet": 0.3048}


def zfactor_lat_lng_calculator(unit: str = "meters"):
    """Per-latitude z-factor for elevation-in-``unit`` layers on degree
    cells (reference ``zfactor_lat_lng_calculator`` ``__init__.py:30-52`` ->
    ``ZFactorCalculator.scala``): horizontal degrees shrink by cos(lat), so
    vertical units convert by 1 / (m-per-degree * cos(lat) / unit_m)."""
    um = _UNIT_METERS[unit.lower()]

    def calc(lat: float) -> float:
        return um / (METERS_PER_DEGREE * max(math.cos(math.radians(lat)), 1e-12))

    return calc


def zfactor_calculator(mapped_zfactors: dict):
    """Piecewise-linear latitude -> zfactor interpolation (reference
    ``zfactor_calculator`` ``__init__.py:53-79``)."""
    pts = sorted((float(k), float(v)) for k, v in mapped_zfactors.items())
    if not pts:
        raise ValueError("mapped_zfactors must not be empty")

    def calc(lat: float) -> float:
        if lat <= pts[0][0]:
            return pts[0][1]
        if lat >= pts[-1][0]:
            return pts[-1][1]
        for (l0, z0), (l1, z1) in zip(pts, pts[1:]):
            if l0 <= lat <= l1:
                t = (lat - l0) / (l1 - l0) if l1 > l0 else 0.0
                return z0 + t * (z1 - z0)
        return pts[-1][1]

    return calc


def slope(layer: "TiledRasterLayer", zfactor: float = 1.0,
          zfactor_calculator=None) -> "TiledRasterLayer":
    """Slope in degrees (``SpatialTiledRasterLayer.scala:209-228``); output
    FLOAT cell type like the reference (scala:226). With
    ``zfactor_calculator`` (a ``lat -> zfactor`` callable) each tile uses
    the factor at its center latitude — the reference's per-key zfactor
    (``scala:209-228`` + ``ZFactorCalculator.scala:1-52``). The per-row
    factors are precomputed driver-side (latitude depends only on key_row)
    and shipped in the kernel closure."""
    cw, ch = layer.layout.cell_width, layer.layout.cell_height

    if zfactor_calculator is not None:
        ld = layer.layout
        nrows = ld.tile_layout.layout_rows
        row_z = {
            kr: float(zfactor_calculator(ld.extent.ymax - (kr + 0.5) * ld.tile_height))
            for kr in range(nrows)
        }

        def kernel(buf, key):
            z = row_z.get(int(key[1]), 1.0)
            dzdx, dzdy, c = _horn_gradients(buf, cw, ch, z)
            out = np.degrees(np.arctan(np.hypot(dzdx, dzdy)))
            return np.where(np.isnan(c), np.nan, out)

        return _run_kernel(layer, 1, kernel, out_cell_type="float32", pass_key=True)

    def kernel(buf):
        dzdx, dzdy, c = _horn_gradients(buf, cw, ch, zfactor)
        out = np.degrees(np.arctan(np.hypot(dzdx, dzdy)))
        return np.where(np.isnan(c), np.nan, out)

    return _run_kernel(layer, 1, kernel, out_cell_type="float32")


def aspect(layer: "TiledRasterLayer") -> "TiledRasterLayer":
    """Aspect in degrees clockwise from north."""
    cw, ch = layer.layout.cell_width, layer.layout.cell_height

    def kernel(buf):
        dzdx, dzdy, c = _horn_gradients(buf, cw, ch, 1.0)
        az = np.degrees(np.arctan2(dzdy, -dzdx))
        out = (90.0 - az) % 360.0
        flat = (dzdx == 0) & (dzdy == 0)
        out = np.where(flat, 0.0, out)
        return np.where(np.isnan(c), np.nan, out)

    return _run_kernel(layer, 1, kernel, out_cell_type="float32")


def hillshade(layer: "TiledRasterLayer", azimuth: float = 315.0, altitude: float = 45.0,
              z_factor: float = 1.0, band: int = 0) -> "TiledRasterLayer":
    """Shaded relief 0..255, INT16 output like the reference (scala:255)."""
    cw, ch = layer.layout.cell_width, layer.layout.cell_height
    zenith = math.radians(90.0 - altitude)
    az = math.radians((360.0 - azimuth + 90.0) % 360.0)

    base = layer.bands(band) if layer.metadata.num_bands > 1 else layer

    def kernel(buf):
        dzdx, dzdy, c = _horn_gradients(buf, cw, ch, z_factor)
        slope_r = np.arctan(np.hypot(dzdx, dzdy))
        aspect_r = np.arctan2(dzdy, -dzdx)
        shade = np.cos(zenith) * np.cos(slope_r) + np.sin(zenith) * np.sin(slope_r) * np.cos(
            az - aspect_r
        )
        out = np.round(np.clip(shade, 0, 1) * 255.0)
        return np.where(np.isnan(c), np.nan, out)

    return _run_kernel(base, 1, kernel, out_cell_type="int16")


def flow_direction(layer: "TiledRasterLayer") -> "TiledRasterLayer":
    """D8 flow direction (ESRI/GDAL hydrology codes: E=1, SE=2, S=4,
    SW=8, W=16, NW=32, N=64, NE=128; flat or pit = 0) — the first step
    of the watershed/flow-accumulation family (GeoTrellis ships the
    hydrology package on the Scala side; the reference's Python API
    does not expose it, so this is parity breadth).

    Each cell drains to the steepest DOWNWARD neighbor, drop/distance
    with distance 1 (cardinal) or sqrt(2) (diagonal). The comparison is
    done in exact integer form for integer-valued cells: cardinal drop
    a beats diagonal drop b iff 2*a^2 > b^2 (cross-multiplied squares,
    no irrational constant touches the compare), so the result is
    bit-identical on any engine — the oracle-determinism contract of
    every focal op here. Ties break to the SMALLEST direction code.
    NoData center stays NoData; NoData/off-layer neighbors are ignored.

    Spark shape: one halo exchange + one Arrow stencil, identical to
    ``slope``/``aspect``.
    """
    # (code, drow, dcol, weight): weight multiplies drop^2 in the
    # compare key — 2 for cardinal (dist 1), 1 for diagonal (dist
    # sqrt2), since (a/1 > b/sqrt2) <=> (2 a^2 > b^2) for a, b > 0.
    # Ascending code order makes "strictly greater replaces" break
    # ties to the smallest code.
    dirs = [
        (1, 0, 1, 2), (2, 1, 1, 1), (4, 1, 0, 2), (8, 1, -1, 1),
        (16, 0, -1, 2), (32, -1, -1, 1), (64, -1, 0, 2), (128, -1, 1, 1),
    ]

    def kernel(buf: np.ndarray) -> np.ndarray:
        z = buf[1:-1, 1:-1]
        best_key = np.zeros(z.shape)
        out = np.zeros(z.shape)
        for code, dr, dc, wgt in dirs:
            zn = buf[1 + dr:buf.shape[0] - 1 + dr, 1 + dc:buf.shape[1] - 1 + dc]
            drop = z - zn
            key = np.where(np.isnan(zn) | (drop <= 0), 0.0,
                           wgt * drop * drop)
            take = key > best_key
            best_key = np.where(take, key, best_key)
            out = np.where(take, float(code), out)
        return np.where(np.isnan(z), np.nan, out)

    return _run_kernel(layer, 1, kernel)


def flow_accumulation(layer: "TiledRasterLayer") -> "DataFrame":
    """D8 flow accumulation: for every cell, the number of cells whose
    flow path passes through it (itself included) — the second half of
    the hydrology pair with :func:`flow_direction`. Because each cell
    has at most one outflow, the flow graph is a forest and the
    accumulation is the subtree size.

    Subtree sizes are computed the PRAM-classical way (r11): an Euler
    tour of the flow forest (two arcs per cell, successor function from
    sibling order) is list-ranked by pointer doubling with distance
    accumulation, and ``acc = (rank(up-arc) - rank(down-arc) + 1) / 2``.
    That is O(log cells) self-join rounds REGARDLESS of flow-path length
    — the scale-correct shape for continental DEMs, where a river's flow
    path is 10^5+ cells and any per-step fixpoint (rounds = path length)
    is infeasible. Integer-exact and engine-exact; a NoData cell is
    outside the forest and has ``acc = 1``.

    Returns (key_col, key_row, pos, acc BIGINT).
    """
    tl_ = layer.metadata.layout.tile_layout
    total_cells = (tl_.layout_cols * tl_.tile_cols
                   * tl_.layout_rows * tl_.tile_rows)
    fd = flow_direction(layer)
    # ``instant`` rides every key and join below, so SPACETIME layers
    # accumulate per instant — flow never crosses time (SURVEY §7.3)
    tcols = ["instant"] if layer.is_temporal else []
    cells = fd.explode(with_coords=True).select(
        "key_col", "key_row", *tcols, "pos", "gcol", "grow", "value")
    # code -> (dcol, drow)
    dc = (F.when(F.col("value").isin(1.0, 2.0, 128.0), 1)
          .when(F.col("value").isin(8.0, 16.0, 32.0), -1).otherwise(0))
    dr = (F.when(F.col("value").isin(2.0, 4.0, 8.0), 1)
          .when(F.col("value").isin(32.0, 64.0, 128.0), -1).otherwise(0))
    width = tl_.layout_cols * tl_.tile_cols
    return _flow_acc_euler(cells, tcols, width, total_cells, dc, dr)


def _flow_acc_euler(cells, tcols, width, total_cells, dc, dr):
    """Subtree sizes of the D8 flow forest in O(log cells) rounds via an
    Euler tour + distributed list ranking (the PRAM-classical method):

    1. every non-NoData cell is a node; pits attach to a virtual root
       (-1) so the whole forest is ONE tour;
    2. two arcs per node v — ``down(v)=2v`` (enter v) and ``up(v)=2v+1``
       (leave v) — with the successor function from sibling order
       (children sorted by node id, deterministic in any engine);
    3. list-rank by pointer doubling with distance accumulation
       (``d(x)`` = arcs from x to the tour end): O(log) self-joins;
    4. ``acc(v) = (d(down_v) - d(up_v) + 1) / 2`` — the arc count
       strictly inside v's subtree is twice its node count.

    Integer ids and counts throughout — engine-exact, and the round
    count is path-length INDEPENDENT (a 10^6-cell river costs the same
    ~21 joins as a 100-cell creek)."""
    import math as _math

    from pyspark.sql import Window as _W

    node = (F.col("grow").cast("long") * width + F.col("gcol")).alias("node")
    base = cells.where(~F.isnan("value")).select(
        *tcols, node,
        F.when(F.col("value") > 0,
               (F.col("grow") + dr).cast("long") * width
               + (F.col("gcol") + dc))
        .otherwise(F.lit(-1).cast("long")).alias("parent"),
    )
    w = _W.partitionBy(*tcols, "parent").orderBy("node")
    sib = base.select(
        *tcols, "node", "parent",
        F.lead("node").over(w).alias("next_sib"),
        F.row_number().over(w).alias("rn"),
    )
    first_child = (sib.where(F.col("rn") == 1)
                   .select(*tcols, F.col("parent").alias("node"),
                           F.col("node").alias("fc")))
    info = sib.drop("rn").join(first_child, tcols + ["node"], "left_outer")
    down = info.select(
        *tcols, (F.col("node") * 2).alias("arc"),
        F.coalesce(F.col("fc") * 2, F.col("node") * 2 + 1).alias("succ"))
    up = info.select(
        *tcols, (F.col("node") * 2 + 1).alias("arc"),
        F.when(F.col("next_sib").isNotNull(), F.col("next_sib") * 2)
        .when(F.col("parent") >= 0, F.col("parent") * 2 + 1)
        .otherwise(F.lit(None).cast("long")).alias("succ"))
    arcs = (down.unionByName(up)
            .withColumn("dist", F.lit(1).cast("long")).transform(materialize))
    rounds = max(1, _math.ceil(_math.log2(max(2, 2 * total_cells))))
    for _ in range(rounds):
        nxt = arcs.select(*tcols, F.col("arc").alias("succ"),
                          F.col("succ").alias("succ2"),
                          F.col("dist").alias("d2"))
        # eager checkpoint: the self-join doubles the plan per round,
        # so truncate lineage each of the O(log) rounds
        arcs = (
            arcs.join(nxt, tcols + ["succ"], "left_outer")
            .select(*tcols, "arc", F.col("succ2").alias("succ"),
                    (F.col("dist") + F.coalesce("d2", F.lit(0)))
                    .alias("dist"))
            .transform(materialize)
        )
    parity = F.col("arc").bitwiseAND(F.lit(1))
    ddown = arcs.where(parity == 0).select(
        *tcols, F.shiftright("arc", 1).alias("node"),
        F.col("dist").alias("d_down"))
    dup = arcs.where(parity == 1).select(
        *tcols, F.shiftright("arc", 1).alias("node"),
        F.col("dist").alias("d_up"))
    acc = ddown.join(dup, tcols + ["node"]).select(
        *tcols, "node",
        ((F.col("d_down") - F.col("d_up") + 1) / 2).cast("long").alias("acc"))
    out_nodes = cells.select(
        "key_col", "key_row", *tcols, "pos",
        (F.col("grow").cast("long") * width + F.col("gcol")).alias("node"))
    # NoData cells are outside the forest: nothing flows into them,
    # acc = 1
    return (out_nodes.join(acc, tcols + ["node"], "left_outer")
            .select("key_col", "key_row", *tcols, "pos",
                    F.coalesce("acc", F.lit(1)).cast("long").alias("acc")))


def watershed(layer: "TiledRasterLayer", max_iterations: int = 32) -> "DataFrame":
    """Watershed basins from D8 flow: every cell labeled with the
    global id (``grow * width + gcol``) of the pit/flat cell it
    ultimately drains to — the third of the hydrology trio with
    :func:`flow_direction` / :func:`flow_accumulation`.

    Spark shape: the flow forest's parent pointers are contracted by
    POINTER DOUBLING — each round joins the pointer table with itself
    (``ptr' = ptr[ptr]``), so the distance-to-root halves every round
    and convergence takes O(log longest-flow-path) rounds, not
    O(path length). One self-equi-join of an O(cells) table per round,
    localCheckpoint'ed; early exit when a round changes nothing.
    Integer ids all the way down — engine-exact.

    Returns (key_col, key_row, pos, basin BIGINT).
    """
    fd = flow_direction(layer)
    tl = layer.metadata.layout.tile_layout
    width = tl.layout_cols * tl.tile_cols
    # ``instant`` rides every key and join below, so SPACETIME layers
    # resolve basins per instant — flow never crosses time (SURVEY §7.3)
    tcols = ["instant"] if layer.is_temporal else []
    cells = fd.explode(with_coords=True).select(
        "key_col", "key_row", *tcols, "pos", "gcol", "grow", "value")
    dc = (F.when(F.col("value").isin(1.0, 2.0, 128.0), 1)
          .when(F.col("value").isin(8.0, 16.0, 32.0), -1).otherwise(0))
    dr = (F.when(F.col("value").isin(2.0, 4.0, 8.0), 1)
          .when(F.col("value").isin(32.0, 64.0, 128.0), -1).otherwise(0))
    # pits (code 0, incl. NoData cells' NaN -> excluded upstream) point
    # at themselves; everything else at its downstream neighbor
    ptr = cells.where(~F.isnan("value")).select(
        *tcols,
        (F.col("grow").cast("long") * width + F.col("gcol")).alias("node"),
        ((F.col("grow") + dr).cast("long") * width
         + (F.col("gcol") + dc)).alias("ptr"),
    ).transform(materialize)
    converged = False
    for _ in range(max_iterations):
        hop = ptr.select(*tcols, F.col("node").alias("ptr"),
                         F.col("ptr").alias("jump"))
        new_ptr = (
            ptr.join(hop, tcols + ["ptr"], "left_outer")
            .select(*tcols, "node", F.coalesce("jump", "ptr").alias("ptr"))
            .transform(materialize)
        )
        changed = (
            new_ptr.withColumnRenamed("ptr", "nptr")
            .join(ptr, tcols + ["node"])
            .where(F.col("nptr") != F.col("ptr")).count()
        )
        ptr = new_ptr
        if changed == 0:
            converged = True
            break
    if not converged:
        # pointer doubling halves root distance per round, so 32 rounds
        # cover paths of 2^32 cells; reaching the cap means a cycle or
        # a bug — never silent
        import warnings

        warnings.warn(
            f"watershed stopped after {max_iterations} pointer-doubling "
            "rounds without converging", RuntimeWarning, stacklevel=2)
    return (
        cells.select(
            "key_col", "key_row", *tcols, "pos",
            (F.col("grow").cast("long") * width + F.col("gcol")).alias("node"))
        .join(ptr, tcols + ["node"])
        .select("key_col", "key_row", *tcols, "pos",
                F.col("ptr").alias("basin"))
    )


def tri(layer: "TiledRasterLayer") -> "TiledRasterLayer":
    """Terrain Ruggedness Index (Wilson et al. variant): mean absolute
    elevation difference to the up-to-8 valid neighbors. Integer sums
    over integer cells + one division — engine-exact against a
    relational neighbor-join recomputation. Standard halo+stencil."""
    queen = np.ones((3, 3), dtype=bool)
    queen[1, 1] = False

    def kernel(buf: np.ndarray) -> np.ndarray:
        win = np.lib.stride_tricks.sliding_window_view(buf, (3, 3))
        c = buf[1:-1, 1:-1]
        valid = ~np.isnan(win) & queen
        diff = np.where(valid, np.abs(win - c[..., None, None]), 0.0)
        cnt = valid.sum(axis=(-1, -2))
        with np.errstate(invalid="ignore"):
            out = diff.sum(axis=(-1, -2)) / cnt
        out = np.where(cnt == 0, np.nan, out)
        return np.where(np.isnan(c), np.nan, out)

    return _run_kernel(layer, 1, kernel)


def tpi(layer: "TiledRasterLayer") -> "TiledRasterLayer":
    """Topographic Position Index: cell elevation minus the mean of its
    up-to-8 valid neighbors (positive = ridge, negative = valley).
    Integer neighbor sums + one division and one subtraction, in that
    order on both engines — exact. Standard halo+stencil."""
    queen = np.ones((3, 3), dtype=bool)
    queen[1, 1] = False

    def kernel(buf: np.ndarray) -> np.ndarray:
        win = np.lib.stride_tricks.sliding_window_view(buf, (3, 3))
        c = buf[1:-1, 1:-1]
        valid = ~np.isnan(win) & queen
        s = np.where(valid, win, 0.0).sum(axis=(-1, -2))
        cnt = valid.sum(axis=(-1, -2))
        with np.errstate(invalid="ignore"):
            out = c - s / cnt
        out = np.where(cnt == 0, np.nan, out)
        return np.where(np.isnan(c), np.nan, out)

    return _run_kernel(layer, 1, kernel)


def viewshed(layer: "TiledRasterLayer", col: int, row: int,
             radius: int) -> "TiledRasterLayer":
    """Bounded-radius viewshed: 1.0 where the cell center is visible
    from the observer at global cell ``(col, row)``, 0.0 where terrain
    blocks the sight line or the cell is beyond ``radius``; NoData
    passes through. GeoTrellis ships ``Viewshed`` on the Scala side
    (the reference's Python API does not expose it — parity breadth).

    Line-of-sight rule (engine-exact by construction): the sight line
    is sampled once per step of the dominant axis; the off-axis
    coordinate rounds to the nearest cell via pure integer arithmetic
    (half away from the observer's side -> ``floor((2*num + n)/(2n))``),
    and a sample at fraction k/n blocks iff
    ``n*(z_k - z_obs) > k*(z_cell - z_obs)`` — all integer products for
    integer-valued cells, so any engine (and the DuckDB-fed oracle
    replay) reproduces the exact visibility set. NoData samples are
    transparent (no elevation, no blocker).

    Spark shape: the observer's elevation is ONE bounded driver lookup
    (per instant on SPACETIME layers); everything else is the standard
    halo-exchange focal pass with halo = ``radius`` — every sight
    segment from a cell within ``radius`` lies inside that cell's
    tile+halo buffer, so no second shuffle and no driver raster. The
    per-tile Python loop is bounded by O(radius^3) TOTAL across the
    layer (only cells within the radius are walked), independent of
    raster size.
    """
    R = int(radius)
    if R < 1:
        raise ValueError(f"radius must be >= 1, got {R}")
    tl = layer.metadata.layout.tile_layout
    tc, tr = tl.tile_cols, tl.tile_rows
    okc, okr = int(col) // tc, int(row) // tr
    lpos = (int(row) % tr) * tc + (int(col) % tc)
    obs_rows = (
        layer.df.where((F.col("key_col") == okc) & (F.col("key_row") == okr)
                       & (F.col("band") == 0))
        .select(*(["instant"] if layer.is_temporal else []),
                F.element_at("cells", lpos + 1).alias("z"))
        .collect()
    )
    if not obs_rows:
        raise ValueError(f"observer cell ({col}, {row}) not in the layer")
    import math as _m

    if layer.is_temporal:
        z_obs = {r["instant"]: float(r["z"]) for r in obs_rows}
        if any(_m.isnan(z) for z in z_obs.values()):
            raise ValueError(f"observer cell ({col}, {row}) is NoData")
    else:
        z_obs = float(obs_rows[0]["z"])
        if _m.isnan(z_obs):
            raise ValueError(f"observer cell ({col}, {row}) is NoData")
    oc, orow = int(col), int(row)

    def kernel(buf: np.ndarray, key) -> np.ndarray:
        kc, kr = int(key[0]), int(key[1])
        zo = z_obs[key[2]] if isinstance(z_obs, dict) else z_obs
        gc0 = kc * tc - R   # buffer origin in global coords
        gr0 = kr * tr - R
        center = buf[R:R + tr, R:R + tc]
        out = np.where(np.isnan(center), np.nan, 0.0)
        # vectorized radius pre-filter: the Python loop below touches
        # ONLY cells within R of the observer (O(R^2) across the whole
        # layer), never every cell of every tile
        lrr, lcc = np.mgrid[0:tr, 0:tc]
        dxs = kc * tc + lcc - oc
        dys = kr * tr + lrr - orow
        near = (dxs * dxs + dys * dys <= R * R) & ~np.isnan(center)
        for lr, lc in zip(*np.nonzero(near)):
            zc = center[lr, lc]
            dx, dy = int(dxs[lr, lc]), int(dys[lr, lc])
            n = max(abs(dx), abs(dy))
            visible = True
            for k in range(1, n):
                # dominant axis steps exactly; the other axis is
                # num/n rounded to nearest (ties toward +inf), all
                # in integers
                sx = (2 * (oc * n + k * dx) + n) // (2 * n)
                sy = (2 * (orow * n + k * dy) + n) // (2 * n)
                zk = buf[sy - gr0, sx - gc0]
                if np.isnan(zk):
                    continue
                if n * (zk - zo) > k * (zc - zo):
                    visible = False
                    break
            out[lr, lc] = 1.0 if visible else 0.0
        return out

    return _run_kernel(layer, R, kernel, pass_key=True)


def convolve(layer: "TiledRasterLayer", kernel_weights) -> "TiledRasterLayer":
    """Focal convolution with an arbitrary odd-square weight kernel — the
    desktop-GIS/GeoTrellis ``Convolve``/``Kernel`` map-algebra op (the
    reference repo exposes ``Kernel`` only through kernel density,
    ``geopyspark/geotrellis/layer.py`` rasterize paths; the focal form is
    beyond-reference breadth).

    Semantics: out = sum(w_jk * v_jk) over in-kernel cells whose value is
    not NoData (NoData contributes nothing — the same exclusion rule as
    ``focal('Sum')``); a cell with zero valid values under the nonzero
    weights is NoData. Weights are NOT renormalized over the valid subset
    (convolution, not a weighted mean).

    Spark shape: identical to every other focal — one halo exchange
    (shuffle ≈ tiles·(1+4r/T)), one Arrow-batched stencil; the kernel
    rides in the closure. Integer weights over integer-valued cells make
    the result exact in double arithmetic.
    """
    k = np.asarray(kernel_weights, dtype=float)
    if k.ndim != 2 or k.shape[0] != k.shape[1] or k.shape[0] % 2 == 0:
        raise ValueError("kernel must be a (2r+1, 2r+1) square")
    nz = k != 0

    def kern(buf: np.ndarray) -> np.ndarray:
        win = np.lib.stride_tricks.sliding_window_view(buf, k.shape)
        valid = ~np.isnan(win)
        out = (np.where(valid, win, 0.0) * k).sum(axis=(-1, -2))
        cnt = (valid & nz).sum(axis=(-1, -2))
        return np.where(cnt == 0, np.nan, out)

    return _run_kernel(layer, k.shape[0] // 2, kern)


def morans_i(layer: "TiledRasterLayer", band: int = 0) -> DataFrame:
    """Global Moran's I spatial autocorrelation with binary queen
    (8-neighbor) weights — GeoTrellis's ``ScalarMoransICalculation``
    semantics (not exposed by the reference repo's Python API; raster
    statistics breadth).

        I = (n / W) * sum_i (x_i - m) * sum_j w_ij (x_j - m)
                    / sum_i (x_i - m)^2

    over valid (non-NoData) cells; w_ij = 1 for the up-to-8 valid
    neighbors, W = total ordered valid pairs. Off-layer / NoData
    neighbors are excluded exactly like every focal op.

    Spark shape: ONE halo exchange, then the per-tile stencil emits a
    single row of seven partial sums (s1=Σx·nsum, s2=Σnsum, s3=Σx·ncnt,
    s4=Σncnt=W, s=Σx, ss=Σx², n) — O(tiles) rows into one global
    aggregate, so the stat costs a focal pass plus a 7-column reduce, no
    O(cells) shuffle. The mean is folded in afterwards via the exact
    expansion num = s1 − m·s3 − m·s2 + m²·s4, den = ss − m·s.

    Exactness window: with integer-valued cells and n a power of two
    (m = Σx/n exact), every term above is an exactly-representable
    double, so the result is bit-identical to an independent relational
    recomputation regardless of aggregation order.

    Returns a single row (n, w, num, den, morans_i).
    """
    md = layer.metadata
    tl = md.layout.tile_layout
    tc, tr = tl.tile_cols, tl.tile_rows
    nd = md.nodata
    fill = float("nan") if nd is None else float(nd)
    base = layer.bands(band) if md.num_bands > 1 else layer
    frag_df = halo_exchange(base.df, tc, tr, 1)
    keys = key_cols(base.df) + ["band"]
    queen = np.ones((3, 3), dtype=bool)
    queen[1, 1] = False
    schema = ("s1 double, s2 double, s3 double, s4 double, "
              "s double, ss double, n long")

    def partials(key, pdf):
        buf = _assemble_buffer(pdf, tc, tr, 1, fill)
        if buf is None:
            return pd.DataFrame(
                {c: pd.Series([], dtype=float)
                 for c in ["s1", "s2", "s3", "s4", "s", "ss", "n"]})
        if nd is not None and not math.isnan(fill):
            buf = np.where(buf == fill, np.nan, buf)
        win = np.lib.stride_tricks.sliding_window_view(buf, (3, 3))
        v_nb = ~np.isnan(win) & queen
        nsum = np.where(v_nb, win, 0.0).sum(axis=(-1, -2))
        ncnt = v_nb.sum(axis=(-1, -2)).astype(float)
        x = buf[1:-1, 1:-1]
        live = ~np.isnan(x)
        xs = np.where(live, x, 0.0)
        nsum = np.where(live, nsum, 0.0)
        ncnt = np.where(live, ncnt, 0.0)
        return pd.DataFrame({
            "s1": [float((xs * nsum).sum())],
            "s2": [float(nsum.sum())],
            "s3": [float((xs * ncnt).sum())],
            "s4": [float(ncnt.sum())],
            "s": [float(xs.sum())],
            "ss": [float((xs * xs).sum())],
            "n": [int(live.sum())],
        })

    parts = frag_df.groupBy(*keys).applyInPandas(partials, schema=schema)
    tot = parts.agg(
        F.sum("s1").alias("s1"), F.sum("s2").alias("s2"),
        F.sum("s3").alias("s3"), F.sum("s4").alias("s4"),
        F.sum("s").alias("s"), F.sum("ss").alias("ss"),
        F.sum("n").alias("n"),
    )
    m = F.col("s") / F.col("n").cast("double")
    num = (F.col("s1") - m * F.col("s3") - m * F.col("s2")
           + m * m * F.col("s4"))
    den = F.col("ss") - m * F.col("s")
    return tot.select(
        F.col("n").cast("bigint").alias("n"),
        F.col("s4").cast("bigint").alias("w"),
        num.cast("double").alias("num"),
        den.cast("double").alias("den"),
        ((F.col("n").cast("double") * num) / (F.col("s4") * den))
        .alias("morans_i"),
    )
