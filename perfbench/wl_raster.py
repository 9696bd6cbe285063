"""raster_analytics: a chain of seven operators over a seeded synthetic DEM.

The DEM, the friction surface, the zone polygons and the cost sources
all come from the seed; the DEM and friction layers are pinned in setup,
and every reference is computed once in setup with numpy. Local algebra,
the pyramid and flow direction are compared exactly, cell positions
included (``harness.tile_stats``).
"""

from __future__ import annotations

import heapq
import math

import numpy as np
import pandas as pd

import geopyspark_spark as gps
from geopyspark_spark.sources.numpy_source import layer_schema

from harness import (CheckFailed, numpy_tile_stats, stats_match, tile_stats)

#: DEM size in cells per side and tile size in cells per side. The
#: pyramid's cell assembly costs (cells x cells-per-tile), so larger
#: tiles make the pyramid step grow quadratically: 512 x 512 cells in
#: 16 x 16 tiles already takes 27 s a pass on 4 cores, 2048 x 2048 in
#: 256 x 256 tiles would not finish within a run. Below 256 x 256 the
#: pass is mostly fixed per-job cost; 128 x 128 keeps a whole run
#: within the benchmark's time budget.
GRID = 128
TILE = 16
#: extent in degrees, inside UTM zone 32N (central meridian 9 E)
X0, Y0, SPAN = 8.9, 45.0, 0.2
UTM = "epsg:32632"
#: Horn slope on a lat/lon grid with elevations in metres
ZFACTOR = 1.0 / 111_320.0
MAX_COST = 300.0
SLOPE_TOL = 1e-5   # slope is stored as float32
FOCAL_TOL = 1e-9
COST_TOL = 1e-9
ZONAL_TOL = 1e-9


def make_dem(rng: np.random.Generator, n: int) -> np.ndarray:
    """Integer-valued elevations (so sums and 2x2 means are exact):
    a few seeded Gaussian hills plus seeded noise."""
    yy, xx = np.mgrid[0:n, 0:n] / n
    z = np.full((n, n), 200.0)
    for _ in range(6):
        cx, cy = rng.uniform(0, 1, 2)
        h, w = rng.uniform(200, 1500), rng.uniform(0.05, 0.3)
        z += h * np.exp(-((xx - cx) ** 2 + (yy - cy) ** 2) / (2 * w * w))
    z += rng.integers(0, 40, (n, n))
    return np.round(z)


def metadata(n: int, tile: int, zoom: int | None = None) -> gps.LayerMetadata:
    """EPSG:4326 metadata of an n x n-cell grid in tile x tile tiles."""
    lt = max(n // tile, 1)
    ext = gps.Extent(X0, Y0, X0 + SPAN, Y0 + SPAN)
    layout = gps.LayoutDefinition(ext, gps.TileLayout(lt, lt, tile, tile))
    return gps.LayerMetadata(crs="epsg:4326", cell_type="float64", layout=layout,
                             bounds=((0, 0), (lt - 1, lt - 1)), extent=ext,
                             num_bands=1, zoom=zoom)


def tiles_of(grid: np.ndarray, tile: int):
    """(key_col, key_row, tile array) for every tile of a square grid."""
    lt = grid.shape[0] // tile
    for kr in range(lt):
        for kc in range(lt):
            yield kc, kr, grid[kr * tile:(kr + 1) * tile, kc * tile:(kc + 1) * tile]


def pinned_layer(spark, tiles, md: gps.LayerMetadata) -> gps.TiledRasterLayer:
    """A layer from (key_col, key_row, array) tiles through Arrow, spread
    over twice the cores and pinned with a local checkpoint."""
    pdf = pd.DataFrame([(kc, kr, 0, a.reshape(-1)) for kc, kr, a in tiles],
                       columns=["key_col", "key_row", "band", "cells"])
    parts = spark.sparkContext.defaultParallelism * 2
    df = spark.createDataFrame(pdf, layer_schema()).repartition(parts).localCheckpoint()
    return gps.TiledRasterLayer(df, md)


# --- numpy references -------------------------------------------------------

def _padded(z: np.ndarray) -> np.ndarray:
    p = np.full((z.shape[0] + 2, z.shape[1] + 2), np.nan)
    p[1:-1, 1:-1] = z
    return p


def _nb(p: np.ndarray, dr: int, dc: int) -> np.ndarray:
    return p[1 + dr:p.shape[0] - 1 + dr, 1 + dc:p.shape[1] - 1 + dc]


def ref_slope(z: np.ndarray, cw: float, ch: float) -> np.ndarray:
    """Horn (1981) slope in degrees; a missing neighbour takes the centre
    value."""
    p = _padded(z)

    def nb(dr, dc):
        v = _nb(p, dr, dc)
        return np.where(np.isnan(v), z, v)

    a, b, c = nb(-1, -1), nb(-1, 0), nb(-1, 1)
    d, f = nb(0, -1), nb(0, 1)
    g, h, i = nb(1, -1), nb(1, 0), nb(1, 1)
    dzdx = ((c + 2 * f + i) - (a + 2 * d + g)) * ZFACTOR / (8 * cw)
    dzdy = ((g + 2 * h + i) - (a + 2 * b + c)) * ZFACTOR / (8 * ch)
    s = np.degrees(np.arctan(np.hypot(dzdx, dzdy)))
    return s.astype(np.float32).astype(np.float64)


def ref_focal_mean(z: np.ndarray) -> np.ndarray:
    """3x3 mean over the neighbours that exist."""
    p = _padded(z)
    stack = np.stack([_nb(p, dr, dc) for dr in (-1, 0, 1) for dc in (-1, 0, 1)])
    return np.nanmean(stack, axis=0)


def ref_flow_direction(z: np.ndarray) -> np.ndarray:
    """D8 codes (E=1 ... NE=128, 0 = pit/flat): steepest drop per unit
    distance, ties to the smallest code. Drops are compared as squares
    (a cardinal drop a beats a diagonal drop b iff 2a^2 > b^2), which is
    exact on integer elevations."""
    p = _padded(z)
    best = np.zeros(z.shape)
    out = np.zeros(z.shape)
    for code, dr, dc in ((1, 0, 1), (2, 1, 1), (4, 1, 0), (8, 1, -1),
                         (16, 0, -1), (32, -1, -1), (64, -1, 0), (128, -1, 1)):
        drop = z - _nb(p, dr, dc)
        key = np.where(np.isnan(drop) | (drop <= 0), 0.0,
                       (1 if dr and dc else 2) * drop * drop)
        take = key > best
        best = np.where(take, key, best)
        out = np.where(take, float(code), out)
    return out


def ref_pyramid(z: np.ndarray, tile: int) -> dict:
    """{level index from the base: grid} by 2x2 means until one tile."""
    levels = {0: z}
    cur = z
    while cur.shape[0] > tile:
        h = cur.shape[0] // 2
        cur = cur.reshape(h, 2, h, 2).mean(axis=(1, 3))
        levels[len(levels)] = cur
    return levels


def ref_cost_distance(fric: np.ndarray, sources: list, max_cost: float) -> np.ndarray:
    """Dijkstra over 8-neighbour moves, step cost = length x mean friction."""
    n = fric.shape[0]
    dist = np.full(fric.shape, np.inf)
    heap = []
    for r, c in sources:
        dist[r, c] = 0.0
        heap.append((0.0, r, c))
    heapq.heapify(heap)
    moves = [(dr, dc, math.sqrt(2) if dr and dc else 1.0)
             for dr in (-1, 0, 1) for dc in (-1, 0, 1) if dr or dc]
    while heap:
        d, r, c = heapq.heappop(heap)
        if d > dist[r, c]:
            continue
        fr = fric[r, c]
        for dr, dc, length in moves:
            rr, cc = r + dr, c + dc
            if 0 <= rr < n and 0 <= cc < n:
                nd = d + length * (fr + fric[rr, cc]) / 2.0
                if nd < dist[rr, cc] and nd <= max_cost:
                    dist[rr, cc] = nd
                    heapq.heappush(heap, (nd, rr, cc))
    return np.where(np.isinf(dist), np.nan, dist)


def _inside(poly: list, x: np.ndarray, y: np.ndarray) -> np.ndarray:
    """Even-odd ray casting of points against one ring."""
    inside = np.zeros(x.shape, dtype=bool)
    for (x1, y1), (x2, y2) in zip(poly, poly[1:] + poly[:1]):
        crosses = (y1 > y) != (y2 > y)
        with np.errstate(divide="ignore", invalid="ignore"):
            xi = x1 + (y - y1) * (x2 - x1) / (y2 - y1)
        inside ^= crosses & (x < xi)
    return inside


def make_zones(rng: np.random.Generator) -> list:
    """Three seeded convex quadrilaterals inside the DEM extent."""
    zones = []
    for _ in range(3):
        cx, cy = X0 + rng.uniform(0.2, 0.8) * SPAN, Y0 + rng.uniform(0.2, 0.8) * SPAN
        rad = rng.uniform(0.08, 0.18) * SPAN
        angles = np.sort(rng.uniform(0, 2 * np.pi, 4))
        zones.append([(cx + rad * math.cos(a), cy + rad * math.sin(a)) for a in angles])
    return zones


def _wkt(poly: list) -> str:
    ring = poly + poly[:1]
    return "POLYGON ((" + ", ".join(f"{x!r} {y!r}" for x, y in ring) + "))"


# --- workload ---------------------------------------------------------------

class Raster:
    def __init__(self, rng: np.random.Generator):
        self.grid, self.tile = GRID, TILE
        self.dem = make_dem(rng, GRID)
        self.fric = 1.0 + (self.dem % 7)
        self.zones = make_zones(rng)
        cells = rng.choice(GRID * GRID, 3, replace=False)
        self.sources = [(int(c) // GRID, int(c) % GRID) for c in cells]

    def cell_center(self, r: int, c: int) -> tuple:
        cs = SPAN / self.grid
        return X0 + (c + 0.5) * cs, Y0 + SPAN - (r + 0.5) * cs

    def load(self, spark):
        """Pinned input layers: the engine-facing part of set-up."""
        self.spark = spark
        md = metadata(self.grid, self.tile)
        self.layer = pinned_layer(self.spark, tiles_of(self.dem, self.tile), md)
        self.friction = pinned_layer(self.spark, tiles_of(self.fric, self.tile), md)

    def references(self) -> dict:
        """The expected outputs, as attributes to set on the workload."""
        z, t = self.dem, self.tile
        cs = SPAN / self.grid
        ref = {
            "want_local": numpy_tile_stats((z + 10.0) * 2.0 - z, t),
            "want_slope": numpy_tile_stats(ref_slope(z, cs, cs), t),
            "want_mean": numpy_tile_stats(ref_focal_mean(z), t),
            "want_flow": numpy_tile_stats(ref_flow_direction(z), t),
            "want_pyramid": {k: numpy_tile_stats(v, t) for k, v in ref_pyramid(z, t).items()},
            "want_cost": numpy_tile_stats(ref_cost_distance(self.fric, self.sources, MAX_COST), t),
        }
        ys, xs = np.mgrid[0:self.grid, 0:self.grid]
        x = X0 + (xs + 0.5) * cs
        y = Y0 + SPAN - (ys + 0.5) * cs
        inside = np.zeros(z.shape, dtype=bool)
        for poly in self.zones:
            inside |= _inside(poly, x, y)
        ref["want_zonal"] = float(z[inside].mean())
        ref["dem_range"] = (float(z.min()), float(z.max()))
        ref["dem_cells"] = z.size
        return ref

    def run_pass(self, rec):
        layer = self.layer

        def expect(want, tol=0.0):
            def check(got):
                msg = stats_match(got, want, tol)
                if msg:
                    raise CheckFailed(msg)
            return check

        rec.step("operators.local", lambda: (layer + 10.0) * 2.0 - layer,
                 tile_stats, expect(self.want_local))

        def focal_check(got):
            expect(self.want_slope, SLOPE_TOL)(got[0])
            expect(self.want_mean, FOCAL_TOL)(got[1])

        rec.step("operators.focal",
                 lambda: (layer.slope(zfactor=ZFACTOR), layer.focal("Mean", "Square", 1)),
                 lambda b: (tile_stats(b[0]), tile_stats(b[1])), focal_check)

        def zonal_check(got):
            if len(got) != 1 or abs(got[0] - self.want_zonal) > ZONAL_TOL * abs(self.want_zonal):
                raise CheckFailed(f"polygonal_mean {got}, expected {self.want_zonal}")

        rec.step("operators.zonal",
                 lambda: layer.polygonal_mean([gps.from_wkt(_wkt(p)) for p in self.zones]),
                 check=zonal_check)

        def reproject_check(got):
            # nearest-neighbour warping only copies source cells: every
            # output cell is an integer inside the DEM's range, and the
            # valid area stays within 10% of the source's
            lo, hi = self.dem_range
            n = sum(v[1] for v in got.values())
            bad = [k for k, v in got.items()
                   if v[1] and (v[4] or v[2] < lo or v[3] > hi)]
            if bad or not 0.9 * self.dem_cells <= n <= 1.1 * self.dem_cells:
                raise CheckFailed(f"reprojected tiles {bad[:3]} / {n} valid cells")

        rec.step("operators.reproject", lambda: layer.reproject(UTM), tile_stats,
                 reproject_check)

        def pyramid_action(pyr):
            # top-down over cached levels: each level reads its parent's cache
            out = {}
            try:
                for i, z in enumerate(sorted(pyr.levels, reverse=True)):
                    out[i] = tile_stats(pyr.levels[z])
            finally:
                pyr.unpersist()
            return out

        def pyramid_check(got):
            if set(got) != set(self.want_pyramid):
                raise CheckFailed(f"{len(got)} levels, expected {len(self.want_pyramid)}")
            for i, want in self.want_pyramid.items():
                expect(want)(got[i])

        rec.step("operators.pyramid", lambda: layer.pyramid("Average").cache(),
                 pyramid_action, pyramid_check)

        points = [gps.Point(*self.cell_center(r, c)) for r, c in self.sources]
        rec.step("operators.costdistance",
                 lambda: self.friction.cost_distance(points, max_distance=MAX_COST),
                 tile_stats, expect(self.want_cost, COST_TOL))
        rec.step("operators.hydrology", layer.flow_direction, tile_stats,
                 expect(self.want_flow))


def setup(rng, workdir):
    return Raster(rng)

