"""Retiling golden tests: tile_to_layout re-key, pyramid downsample, stitch."""

import numpy as np
import pytest

import geopyspark_spark as gps
from geopyspark_spark.sources.numpy_source import to_numpy

from conftest import f1_metadata


class TestTileToLayout:
    def test_retile_to_larger_tiles(self, f1_layer):
        # 2x2 of 5x5 -> 1x1 of 10x10, same grid
        target = gps.LayoutDefinition(gps.Extent(0, 0, 10, 10), gps.TileLayout(1, 1, 10, 10))
        out = f1_layer.tile_to_layout(target)
        tiles = to_numpy(out)
        assert len(tiles) == 1
        a = tiles[0][3]
        assert a.shape == (10, 10)
        assert a.sum() == 99.0
        assert a[0, 0] == 0.0  # top-left corner preserved

    def test_retile_to_smaller_tiles(self, f1_layer):
        target = gps.LayoutDefinition(gps.Extent(0, 0, 10, 10), gps.TileLayout(5, 5, 2, 2))
        out = f1_layer.tile_to_layout(target)
        assert out.count() == 25
        total = sum(t[3].sum() for t in to_numpy(out))
        assert total == 99.0

    def test_crop_extent(self, f1_layer):
        # target covers only the top-left quadrant
        target = gps.LayoutDefinition(gps.Extent(0, 5, 5, 10), gps.TileLayout(1, 1, 5, 5))
        out = f1_layer.tile_to_layout(target)
        tiles = to_numpy(out)
        assert len(tiles) == 1
        assert tiles[0][3][0, 0] == 0.0
        assert tiles[0][3].sum() == 24.0

    def test_non_aligned_resamples(self, f1_layer):
        # 15x15 cells over the same extent: 1.5x finer, non-aligned -> the
        # identity-CRS warp path (nearest sampling) instead of raising
        import numpy as np

        target = gps.LayoutDefinition(gps.Extent(0, 0, 10, 10), gps.TileLayout(3, 3, 5, 5))
        out = f1_layer.tile_to_layout(target)
        assert out.layout == target
        vals = np.concatenate([r.cells for r in out.df.collect()])
        assert set(np.unique(vals[np.isfinite(vals)])) == {0.0, 1.0}


class TestPyramid:
    @pytest.fixture(scope="class")
    def base_layer(self, spark):
        """4x4 layout of 4x4 tiles; value = global col index."""
        layout = gps.LayoutDefinition(gps.Extent(0, 0, 16, 16), gps.TileLayout(4, 4, 4, 4))
        md = gps.LayerMetadata(
            crs="epsg:4326", cell_type="float32", layout=layout,
            bounds=((0, 0), (3, 3)), extent=layout.extent, zoom=2,
        )
        tiles = []
        for kc in range(4):
            for kr in range(4):
                a = np.zeros((4, 4))
                for c in range(4):
                    a[:, c] = kc * 4 + c
                tiles.append((kc, kr, 0, a))
        return gps.from_numpy(spark, tiles, md)

    def test_pyramid_levels(self, base_layer):
        pyr = base_layer.pyramid()
        assert set(pyr.levels) == {2, 1, 0}
        assert pyr[2].count() == 16
        assert pyr[1].count() == 4
        assert pyr[0].count() == 1

    def test_pyramid_average(self, base_layer):
        pyr = base_layer.pyramid()
        l1 = {(t[0], t[1]): t[3] for t in to_numpy(pyr[1])}
        # parent cell 0 averages children cols 0,1 -> 0.5
        assert l1[(0, 0)][0, 0] == 0.5
        # layout metadata halves
        assert pyr[1].layout.tile_layout.layout_cols == 2

    def test_pyramid_to_dataframe(self, base_layer):
        df = base_layer.pyramid().to_dataframe()
        assert df.where("zoom = 0").count() == 1


class TestStitch:
    def test_stitch(self, f1_layer):
        out = f1_layer.stitch()
        assert out.shape == (1, 10, 10)
        assert out.sum() == 99.0
        assert out[0, 0, 0] == 0.0

    def test_stitch_guard(self, f1_layer):
        import geopyspark_spark.operators.tiling as tiling

        old = tiling.MAX_STITCH_CELLS
        tiling.MAX_STITCH_CELLS = 10
        try:
            with pytest.raises(ValueError):
                f1_layer.stitch()
        finally:
            tiling.MAX_STITCH_CELLS = old


class TestPartitioning:
    def test_partition_by_zorder(self, f1_layer):
        out = f1_layer.partition_by_zorder(2)
        assert out.df.rdd.getNumPartitions() == 2
        assert out.count() == 4


class TestPyramidOddLayout:
    def test_odd_layout_parent_georeference(self, spark):
        """ADVICE r1: with an odd layout (3x3), the parent level must keep
        parent cell = exactly 2x child cell by GROWING the extent, not
        silently implying a non-2x cell size."""
        from geopyspark_spark.operators.tiling import _pyramid_up

        layout = gps.LayoutDefinition(gps.Extent(0, 0, 6, 6), gps.TileLayout(3, 3, 2, 2))
        md = gps.LayerMetadata(
            crs="epsg:4326", cell_type="float64", layout=layout,
            bounds=((0, 0), (2, 2)), extent=layout.extent, zoom=1,
        )
        tiles = []
        for kc in range(3):
            for kr in range(3):
                a = np.zeros((2, 2))
                for r in range(2):
                    for c in range(2):
                        a[r, c] = 10 * (kr * 2 + r) + (kc * 2 + c)  # 10*grow+gcol
                tiles.append((kc, kr, 0, a))
        layer = gps.from_numpy(spark, tiles, md)
        up = _pyramid_up(layer, "Average")
        new_ld = up.layout
        # cell size must be exactly 2x the child cell (1.0 -> 2.0)
        assert new_ld.cell_width == 2.0 and new_ld.cell_height == 2.0
        # extent anchored at the top-left corner, grown east/south
        assert new_ld.extent.xmin == 0 and new_ld.extent.ymax == 6
        assert new_ld.extent.xmax == 8 and new_ld.extent.ymin == -2
        # parent cell (0,0) = average of child cells (0,0),(0,1),(1,0),(1,1)
        vals = {(t[0], t[1]): t[3] for t in to_numpy(up)}
        a00 = vals[(0, 0)]
        assert a00[0, 0] == (0 + 1 + 10 + 11) / 4.0


class TestGlobalLayout4326:
    def test_tile_to_global_layout_latlng(self, f1_layer):
        """tile_to_layout(GlobalLayout) on an epsg:4326 layer targets the
        lat/lng zoom scheme: SQUARE 2^z x 2^z tiles over (-180,-90,180,90)
        with non-square cells, exactly as GeoTrellis
        ZoomedLayoutScheme(LatLng) grids it (LayoutType.scala:18-30)."""
        from geopyspark_spark.core.extent import GlobalLayout

        out = f1_layer.tile_to_layout(GlobalLayout(tile_size=16, zoom=4))
        ld = out.layout
        tl = ld.tile_layout
        assert (tl.layout_cols, tl.layout_rows) == (16, 16)
        assert ld.extent.xmin == -180 and ld.extent.ymax == 90
        # non-square cells: 360/(16*16) x 180/(16*16)
        assert ld.cell_width == 1.40625 and ld.cell_height == 0.703125
        # data (extent (0,0)-(10,10)) landed in the tiles north-east of
        # the meridian/equator corner
        keys = {(r["key_col"], r["key_row"]) for r in out.df.select("key_col", "key_row").distinct().collect()}
        # (8,7) holds the data; (8,8) is the boundary tile touching y=0
        assert (8, 7) in keys and keys <= {(8, 7), (8, 8)}
        assert out.df.count() > 0

    def test_z1_grid_is_2x2_world_halves(self, f1_layer):
        """z1 = 2x2 tiles of (180 deg, 90 deg) extent each (the VERDICT r4
        pin for the reference grid shape); zoom 0 is rejected like
        ZoomedLayoutScheme.levelForZoom."""
        import pytest as _pytest

        from geopyspark_spark.core.extent import GlobalLayout

        ld = GlobalLayout(tile_size=16).layout_for_latlng(1)
        tl = ld.tile_layout
        assert (tl.layout_cols, tl.layout_rows) == (2, 2)
        assert ld.tile_width == 180.0 and ld.tile_height == 90.0
        with _pytest.raises(ValueError, match="levels below 1"):
            GlobalLayout(tile_size=16).layout_for_latlng(0)

    def test_zoom_inferred_from_cell_size(self, f1_layer):
        from geopyspark_spark.core.extent import GlobalLayout

        # f1 cells are 1 degree; zoom_for_extent with 16px tiles:
        # 180/(2^z*16) <= 1.1 -> z = 4
        out = f1_layer.tile_to_layout(GlobalLayout(tile_size=16))
        assert out.layout.tile_layout.layout_rows == 16


class TestPyramidResampleEnum:
    """Round-3: the full resample enum for pyramid (reference
    ``SpatialTiledRasterLayer.scala:146-171`` accepts any method)."""

    @pytest.fixture(scope="class")
    def base_layer(self, spark):
        layout = gps.LayoutDefinition(gps.Extent(0, 0, 16, 16), gps.TileLayout(4, 4, 4, 4))
        md = gps.LayerMetadata(
            crs="epsg:4326", cell_type="float32", layout=layout,
            bounds=((0, 0), (3, 3)), extent=layout.extent, zoom=2,
        )
        tiles = []
        for kc in range(4):
            for kr in range(4):
                a = np.zeros((4, 4))
                for c in range(4):
                    a[:, c] = kc * 4 + c
                tiles.append((kc, kr, 0, a))
        return gps.from_numpy(spark, tiles, md)

    def _level1_grid(self, pyr):
        l1 = pyr[1]
        tl = l1.layout.tile_layout
        tc, tr = tl.tile_cols, tl.tile_rows
        out = np.full((tl.layout_rows * tr, tl.layout_cols * tc), np.nan)
        for row in l1.df.collect():
            a = np.asarray(row.cells, dtype=float).reshape(tr, tc)
            out[row.key_row * tr:(row.key_row + 1) * tr,
                row.key_col * tc:(row.key_col + 1) * tc] = a
        return out

    def test_pyramid_mode_tie_breaks_to_smallest(self, base_layer):
        # children of parent col gc are {2gc x2, 2gc+1 x2}: tie -> 2gc
        g = self._level1_grid(base_layer.pyramid(resample_method="Mode"))
        for gc in range(8):
            assert np.all(g[:, gc] == 2 * gc), gc

    def test_pyramid_median(self, base_layer):
        # median of {2gc, 2gc, 2gc+1, 2gc+1} = 2gc + 0.5
        g = self._level1_grid(base_layer.pyramid(resample_method="Median"))
        for gc in range(8):
            assert np.allclose(g[:, gc], 2 * gc + 0.5), gc

    def test_pyramid_bilinear(self, base_layer):
        # 2x bilinear reduce = plain 2x2 average on this field
        g = self._level1_grid(base_layer.pyramid(resample_method="Bilinear"))
        for gc in range(8):
            assert np.allclose(g[:, gc], 2 * gc + 0.5), gc

    def test_pyramid_cubic(self, base_layer):
        # separable Keys taps [-1/16, 9/16, 9/16, -1/16]: parent col gc
        # reduces source cols 2gc-1..2gc+2 -> 2gc + 0.5 on a ramp, wherever
        # the taps stay inside the parent's 2x2 child buffer (gc % 4 in
        # {1, 2}); buffer-edge cols fold the outermost tap (per-block
        # reduction, same seam behavior as the reference's Pyramid.up)
        g = self._level1_grid(base_layer.pyramid(resample_method="CubicConvolution"))
        for gc in (1, 2, 5, 6):
            assert np.allclose(g[:, gc], 2 * gc + 0.5), gc
        # seam col 3: taps 5,6,7,[8->7] -> -5/16 + 9/16*6 + (9/16-1/16)*7
        assert np.allclose(g[:, 3], 6.5625)

    def test_pyramid_unknown_method_raises(self, base_layer):
        with pytest.raises((NotImplementedError, ValueError)):
            base_layer.pyramid(resample_method="Sinc")


_AGGREGATING = ["Average", "NearestNeighbor", "Max", "Min", "Mode", "Median"]


def _block_value(vals: list, method: str) -> float:
    """One parent cell from its 2x2 children (row-major); NaN = NoData."""
    v = [x for x in vals if not np.isnan(x)]
    if not v:
        return np.nan
    if method == "Average":
        return float(np.mean(v))
    if method == "NearestNeighbor":
        return v[0]
    if method == "Max":
        return max(v)
    if method == "Min":
        return min(v)
    if method == "Mode":
        return min(set(v), key=lambda x: (-v.count(x), x))
    return float(np.median(v))


def _reduce_grid(g: np.ndarray, n_lr: int, n_lc: int, tr: int, tc: int,
                 method: str) -> np.ndarray:
    """The parent level's full grid: pad the child grid with NoData to
    2 x the parent layout, then reduce every 2x2 block."""
    pad = np.full((2 * n_lr * tr, 2 * n_lc * tc), np.nan)
    pad[:g.shape[0], :g.shape[1]] = g
    out = np.empty((n_lr * tr, n_lc * tc))
    for r in range(out.shape[0]):
        for c in range(out.shape[1]):
            blk = pad[2 * r:2 * r + 2, 2 * c:2 * c + 2]
            out[r, c] = _block_value(list(blk.reshape(-1)), method)
    return out


class TestPyramidBlockReference:
    """Every level of an aggregating pyramid equals a numpy 2x2 block
    reduction, on a 3x3 layout of 4x4 tiles with NoData holes, a missing
    child tile (2, 0), an all-NoData tile (2, 2) whose parent (1, 1) has
    no other child, and 2 bands; spatial (NaN and ud-1 NoData) and
    temporal (2 instants) variants."""

    TC = TR = 4
    N = 3

    def _grids(self, temporal: bool) -> dict:
        """{(instant, band): full grid}, NaN where NoData or no tile."""
        from datetime import datetime

        rng = np.random.default_rng(11)
        # naive local instants: they collect back unchanged
        instants = ([datetime(2024, 1, 1), datetime(2024, 2, 1)]
                    if temporal else [None])
        grids = {}
        for t in instants:
            for b in range(2):
                # few distinct small integers: Mode ties and exact sums
                g = rng.integers(0, 4, (self.N * self.TR, self.N * self.TC))
                g = g.astype(float) + 10 * b
                g[rng.random(g.shape) < 0.2] = np.nan
                g[0:self.TR, 2 * self.TC:] = np.nan            # tile (2, 0)
                g[2 * self.TR:, 2 * self.TC:] = np.nan         # tile (2, 2)
                grids[(t, b)] = g
        return grids

    def _layer(self, spark, grids: dict, cell_type: str):
        layout = gps.LayoutDefinition(
            gps.Extent(0, 0, 12, 12), gps.TileLayout(self.N, self.N, self.TC, self.TR))
        md = gps.LayerMetadata(
            crs="epsg:4326", cell_type=cell_type, layout=layout,
            bounds=((0, 0), (self.N - 1, self.N - 1)), extent=layout.extent,
            num_bands=2, zoom=2,
        )
        fill = -1.0 if cell_type.endswith("ud-1") else np.nan
        tiles = []
        for (t, b), g in grids.items():
            for kc in range(self.N):
                for kr in range(self.N):
                    if (kc, kr) == (2, 0):
                        continue                               # missing tile
                    a = g[kr * self.TR:(kr + 1) * self.TR, kc * self.TC:(kc + 1) * self.TC]
                    a = np.where(np.isnan(a), fill, a)
                    tiles.append((kc, kr, b, a) if t is None else (kc, kr, t, b, a))
        return gps.from_numpy(spark, tiles, md)

    def _collect(self, level, fill: float) -> dict:
        """{(instant, band, key_col, key_row): (TR, TC) array}, NaN = NoData."""
        out = {}
        for row in level.df.collect():
            assert all(v is not None for v in row.cells), "NULL cell"
            a = np.asarray(row.cells, dtype=float).reshape(self.TR, self.TC)
            if not np.isnan(fill):
                a = np.where(a == fill, np.nan, a)
            t = row["instant"] if "instant" in row.asDict() else None
            out[(t, row.band, row.key_col, row.key_row)] = a
        return out

    @pytest.mark.parametrize("variant", ["nan", "ud", "temporal"])
    @pytest.mark.parametrize("method", _AGGREGATING)
    def test_levels_match_numpy_blocks(self, spark, method, variant):
        cell_type = "float64ud-1" if variant == "ud" else "float64"
        fill = -1.0 if variant == "ud" else np.nan
        grids = self._grids(variant == "temporal")
        pyr = self._layer(spark, grids, cell_type).pyramid(resample_method=method)
        assert set(pyr.levels) == {2, 1, 0}
        n = self.N
        for z in (1, 0):
            n_l = max(1, (n + 1) // 2)
            grids = {k: _reduce_grid(g, n_l, n_l, self.TR, self.TC, method)
                     for k, g in grids.items()}
            n = n_l
            tl = pyr[z].layout.tile_layout
            assert (tl.layout_cols, tl.layout_rows) == (n, n)
            # an aggregating level has a row for a (key, band) iff some
            # cell of it is not NoData
            want = {}
            for (t, b), g in grids.items():
                for kc in range(n):
                    for kr in range(n):
                        a = g[kr * self.TR:(kr + 1) * self.TR, kc * self.TC:(kc + 1) * self.TC]
                        if not np.isnan(a).all():
                            want[(t, b, kc, kr)] = a
            got = self._collect(pyr[z], fill)
            assert set(got) == set(want), z
            if z == 1:
                # the all-NoData tile's parent is absent, the others are not
                assert {(k[2], k[3]) for k in got} == {(0, 0), (1, 0), (0, 1)}
            for k, a in want.items():
                np.testing.assert_allclose(got[k], a, rtol=1e-12, atol=0,
                                           err_msg=f"z={z} {k}")

    @pytest.mark.parametrize("method", ["Average", "Bilinear"])
    def test_nodata_cells_are_nan_not_null(self, spark, method):
        """Arrow's pandas->JVM hop turns a NaN inside a returned list into
        SQL NULL; pyramid levels must still hold NaN NoData cells."""
        grids = self._grids(False)
        pyr = self._layer(spark, grids, "float64").pyramid(resample_method=method)
        for z in (1, 0):
            assert pyr[z].df.selectExpr("explode(cells) v").where("v IS NULL").count() == 0
        got = self._collect(pyr[1], np.nan)
        side = 2 * self.TR                     # level 1: 2x2 tiles of 4x4
        for b in range(2):
            pad = np.full((2 * side, 2 * side), np.nan)
            pad[:self.N * self.TR, :self.N * self.TC] = grids[(None, b)]
            blocks = pad.reshape(side, 2, side, 2).transpose(0, 2, 1, 3).reshape(side, side, 4)
            # Average: NaN iff the whole block is NoData; Bilinear (2x2
            # taps, strict NoData rule): NaN iff any cell of it is
            nan_at = (np.isnan(blocks).all(axis=2) if method == "Average"
                      else np.isnan(blocks).any(axis=2))
            # Bilinear keeps the all-NoData tile's parent; Average drops it
            assert ((None, b, 1, 1) in got) == (method == "Bilinear")
            for (t, bb, kc, kr), a in got.items():
                if bb == b:
                    want = nan_at[kr * self.TR:(kr + 1) * self.TR,
                                  kc * self.TC:(kc + 1) * self.TC]
                    assert np.array_equal(np.isnan(a), want), (method, b, kc, kr)

    @pytest.mark.parametrize("cell_type", ["float64ud-1", "float64raw"])
    @pytest.mark.parametrize("method,want", [("Median", 3.0), ("Average", 3.0),
                                             ("Max", 5.0)])
    def test_nan_skipped_when_nodata_is_not_nan(self, spark, cell_type, method, want):
        """A NaN cell in a layer whose NoData is a number (or absent) is
        skipped like NoData: the Median of {1, 3, 5, NaN} is 3.0 and its
        Average 3.0 (a per-cell reduce gave 4.0 and NaN)."""
        layout = gps.LayoutDefinition(gps.Extent(0, 0, 4, 2), gps.TileLayout(2, 1, 2, 2))
        md = gps.LayerMetadata(
            crs="epsg:4326", cell_type=cell_type, layout=layout,
            bounds=((0, 0), (1, 0)), extent=layout.extent, zoom=1,
        )
        tiles = [(0, 0, 0, np.array([[1.0, 3.0], [5.0, np.nan]])),
                 (1, 0, 0, np.array([[7.0, 7.0], [7.0, 7.0]]))]
        pyr = gps.from_numpy(spark, tiles, md).pyramid(resample_method=method)
        (row,) = pyr[0].df.collect()
        assert row.cells[0] == want
        assert row.cells[1] == 7.0


class TestGlobalLayoutPolar:
    def test_polar_grids_have_world_extents(self, f1_layer):
        """epsg:3031/3413 GlobalLayout grids the conventional +-2^22 m
        square as 2^z x 2^z tiles (power-of-two cells at every zoom)."""
        from geopyspark_spark.core.extent import GlobalLayout, world_extent

        w = world_extent("epsg:3031")
        assert (w.xmin, w.ymax) == (-4194304.0, 4194304.0)
        ld = GlobalLayout(tile_size=256).layout_for_zoom(2, w)
        assert ld.tile_layout.layout_cols == 4
        assert ld.cell_width == ld.cell_height == 2 * 4194304.0 / (4 * 256)


class TestTileToLayoutReferenceSignature:
    def test_metadata_and_layer_as_layout_source(self, spark, f1_layer):
        a = f1_layer.tile_to_layout(f1_layer.metadata)
        b = f1_layer.tile_to_layout(f1_layer)
        c = f1_layer.tile_to_layout(f1_layer.metadata.layout)
        ra = sorted(map(tuple, a.explode().collect()))
        assert ra == sorted(map(tuple, b.explode().collect()))
        assert ra == sorted(map(tuple, c.explode().collect()))

    def test_partition_strategy_applies(self, spark, f1_layer):
        import geopyspark_spark as gps

        out = f1_layer.tile_to_layout(
            f1_layer.metadata.layout,
            partition_strategy=gps.HashPartitionStrategy(2))
        assert out.df.rdd.getNumPartitions() == 2


_INTERPOLATING = ["Bilinear", "CubicConvolution", "CubicSpline", "Lanczos"]


def _interp_grid(g: np.ndarray, present: np.ndarray, n_lr: int, n_lc: int,
                 tr: int, tc: int, method: str):
    """The parent level of an interpolating pyramid: ``resample_tile`` on
    each parent's own (2tr, 2tc) window of children, for every parent
    with an existing child tile. Returns (grid, parent tile present)."""
    from geopyspark_spark.operators.resample import resample_tile

    pad = np.full((2 * n_lr * tr, 2 * n_lc * tc), np.nan)
    pad[:g.shape[0], :g.shape[1]] = g
    ppad = np.zeros((2 * n_lr, 2 * n_lc), dtype=bool)
    ppad[:present.shape[0], :present.shape[1]] = present
    up = ppad.reshape(n_lr, 2, n_lc, 2).any(axis=(1, 3))
    out = np.full((n_lr * tr, n_lc * tc), np.nan)
    for pr, pc in zip(*np.nonzero(up)):
        out[pr * tr:(pr + 1) * tr, pc * tc:(pc + 1) * tc] = resample_tile(
            pad[2 * pr * tr:2 * (pr + 1) * tr, 2 * pc * tc:2 * (pc + 1) * tc],
            tr, tc, method, None)
    return out, up


class TestPyramidChunks:
    """One 4-level pyramid built in chunks of 1 level, of 2 levels and of
    all levels (``_PYR_BLOCK_CELLS`` patched) is exact at every level
    for every method: a 9x5 layout of 4x4 tiles, ud-1 NoData, a missing
    tile (3, 1), an all-NoData tile (5, 2), 2 bands, spatial and
    temporal, and a 2x2 block whose Average is the fill value (a
    computed -1.0 is NoData at the next level)."""

    TC = TR = 4
    LC, LR = 9, 5
    FILL = -1.0
    #: block cells -> levels per chunk: (4*4)*(2^d)^2 cells hold d levels
    CHUNKS = {1: [1, 1, 1, 1], 16 * 16: [2, 2], 1 << 22: [4]}

    def _grids(self, temporal: bool) -> dict:
        from datetime import datetime

        rng = np.random.default_rng(5)
        instants = ([datetime(2024, 1, 1), datetime(2024, 2, 1)]
                    if temporal else [None])
        grids = {}
        for t in instants:
            for b in range(2):
                g = rng.integers(0, 5, (self.LR * self.TR, self.LC * self.TC))
                g = g.astype(float) + 0.5 * b
                g[rng.random(g.shape) < 0.2] = np.nan
                g[4:6, 8:10] = [[-1.5, -0.5], [-2.0, 0.0]]     # Average = fill
                g[4:8, 12:16] = np.nan                         # tile (3, 1)
                g[8:12, 20:24] = np.nan                        # tile (5, 2)
                grids[(t, b)] = g
        return grids

    def _layer(self, spark, grids: dict):
        layout = gps.LayoutDefinition(
            gps.Extent(0, 0, self.LC * self.TC, self.LR * self.TR),
            gps.TileLayout(self.LC, self.LR, self.TC, self.TR))
        md = gps.LayerMetadata(
            crs="epsg:4326", cell_type="float64ud-1", layout=layout,
            bounds=((0, 0), (self.LC - 1, self.LR - 1)), extent=layout.extent,
            num_bands=2, zoom=4,
        )
        tiles = []
        for (t, b), g in grids.items():
            for kc in range(self.LC):
                for kr in range(self.LR):
                    if (kc, kr) == (3, 1):
                        continue                               # missing tile
                    a = g[kr * self.TR:(kr + 1) * self.TR, kc * self.TC:(kc + 1) * self.TC]
                    a = np.where(np.isnan(a), self.FILL, a)
                    tiles.append((kc, kr, b, a) if t is None else (kc, kr, t, b, a))
        return gps.from_numpy(spark, tiles, md)

    def _want(self, grids: dict, method: str) -> dict:
        """{zoom: {(instant, band, key_col, key_row): (TR, TC) array}},
        NaN = NoData, levels chained in numpy with the NoData round trip."""
        present = np.ones((self.LR, self.LC), dtype=bool)
        present[1, 3] = False
        state = {k: (g, present) for k, g in grids.items()}
        n_lc, n_lr = self.LC, self.LR
        want = {}
        for z in (3, 2, 1, 0):
            n_lc, n_lr = max(1, (n_lc + 1) // 2), max(1, (n_lr + 1) // 2)
            level = {}
            for (t, b), (g, p) in state.items():
                if method in _INTERPOLATING:
                    g, p = _interp_grid(g, p, n_lr, n_lc, self.TR, self.TC, method)
                else:
                    g = _reduce_grid(g, n_lr, n_lc, self.TR, self.TC, method)
                for kc in range(n_lc):
                    for kr in range(n_lr):
                        a = g[kr * self.TR:(kr + 1) * self.TR, kc * self.TC:(kc + 1) * self.TC]
                        row = p[kr, kc] if method in _INTERPOLATING else not np.isnan(a).all()
                        if row:
                            level[(t, b, kc, kr)] = np.where(a == self.FILL, np.nan, a)
                # fill -> NaN on the way into the next level
                state[(t, b)] = (np.where(g == self.FILL, np.nan, g), p)
            want[z] = level
        return want

    @staticmethod
    def _got(pyrs: dict) -> dict:
        """Every level of every pyramid in one action:
        {name: {zoom: {key: cells}}}, NaN = NoData."""
        from pyspark.sql import functions as F

        df = None
        for name, pyr in pyrs.items():
            d = pyr.to_dataframe().where("zoom < 4").withColumn("name", F.lit(name))
            df = d if df is None else df.unionByName(d)
        got = {name: {} for name in pyrs}
        for row in df.collect():
            d = row.asDict()
            a = np.asarray(d["cells"], dtype=float).reshape(4, 4)
            key = (d.get("instant"), d["band"], d["key_col"], d["key_row"])
            got[d["name"]].setdefault(d["zoom"], {})[key] = np.where(a == -1.0, np.nan, a)
        return got

    @pytest.mark.parametrize("temporal", [False, True], ids=["spatial", "temporal"])
    @pytest.mark.parametrize("block_cells", sorted(CHUNKS))
    def test_levels_exact_across_chunkings(self, spark, monkeypatch, block_cells, temporal):
        import geopyspark_spark.operators.tiling as tiling

        monkeypatch.setattr(tiling, "_PYR_BLOCK_CELLS", block_cells)
        grids = self._grids(temporal)
        layer = self._layer(spark, grids)
        pyrs = {m: layer.pyramid(resample_method=m) for m in _AGGREGATING + _INTERPOLATING}
        for pyr in pyrs.values():
            assert set(pyr.levels) == {4, 3, 2, 1, 0}
            # cache() pins one frame per chunk besides the levels
            assert len(pyr._pins) - len(pyr.levels) == len(self.CHUNKS[block_cells])
            for z, (lc, lr) in zip((3, 2, 1, 0), ((5, 3), (3, 2), (2, 1), (1, 1))):
                tl = pyr[z].layout.tile_layout
                assert (tl.layout_cols, tl.layout_rows) == (lc, lr)
        all_got = self._got(pyrs)
        for method, got in all_got.items():
            for z, want in self._want(grids, method).items():
                assert set(got.get(z, {})) == set(want), (method, z)
                for k, a in want.items():
                    if method in _INTERPOLATING:
                        np.testing.assert_array_equal(got[z][k], a, err_msg=f"{method} z={z} {k}")
                    else:
                        np.testing.assert_allclose(got[z][k], a, rtol=1e-12, atol=0,
                                                   err_msg=f"{method} z={z} {k}")

    def test_fill_valued_average_is_nodata_above(self, spark):
        """The 2x2 block {-1.5, -0.5, -2.0, 0.0} averages to the fill
        value: that zoom-3 cell is NoData, so its zoom-2 parent averages
        only its other children."""
        got = self._got({"avg": self._layer(spark, self._grids(False)).pyramid()})["avg"]
        for b in range(2):
            z3 = got[3][(None, b, 1, 0)]
            assert np.isnan(z3[2, 0])
            kids = z3[2:4, 0:2]
            assert not np.isnan(kids).all()
            np.testing.assert_allclose(got[2][(None, b, 0, 0)][1, 2],
                                       np.nanmean(kids), rtol=1e-12, atol=0)


class TestPyramidLifecycle:
    @pytest.fixture()
    def layer(self, spark):
        layout = gps.LayoutDefinition(gps.Extent(0, 0, 36, 20), gps.TileLayout(9, 5, 4, 4))
        md = gps.LayerMetadata(
            crs="epsg:4326", cell_type="float64", layout=layout,
            bounds=((0, 0), (8, 4)), extent=layout.extent, num_bands=1)
        tiles = [(kc, kr, 0, np.full((4, 4), float(kc + kr)))
                 for kc in range(9) for kr in range(5)]
        return gps.from_numpy(spark, tiles, md)

    def test_build_submits_no_job(self, spark, layer):
        sc = spark.sparkContext
        sc.setJobGroup("pyramid-build", "pyramid() must stay lazy")
        try:
            layer.pyramid()
            layer.pyramid(resample_method="Bilinear")
        finally:
            sc.setLocalProperty("spark.jobGroup.id", None)
            sc.setLocalProperty("spark.job.description", None)
        assert sc.statusTracker().getJobIdsForGroup("pyramid-build") == []

    def test_cache_runs_each_chunk_kernel_once(self, spark, monkeypatch, layer):
        """After cache(), reading every level top-down runs each chunk's
        grouped kernel once: every kernel node under the levels' executed
        plans (cached plans included) received exactly its chunk frame's
        rows. unpersist() leaves the session's CacheManager empty."""
        import geopyspark_spark.operators.tiling as tiling

        monkeypatch.setattr(tiling, "_PYR_BLOCK_CELLS", 16 * 16)
        spark.catalog.clearCache()
        pyr = layer.pyramid().cache()
        for z in sorted(pyr.levels, reverse=True):
            pyr[z].df.collect()
        sc = spark.sparkContext

        def kernel_rows(node, seen, out):
            name = node.getClass().getSimpleName()
            if name == "AdaptiveSparkPlanExec":
                return kernel_rows(node.executedPlan(), seen, out)
            if name.endswith("QueryStageExec"):
                return kernel_rows(node.plan(), seen, out)
            if name == "InMemoryTableScanExec":
                return kernel_rows(node.relation().cacheBuilder().cachedPlan(), seen, out)
            if name == "FlatMapGroupsInPandasExec":
                h = sc._jvm.System.identityHashCode(node)
                if h not in seen:
                    seen.add(h)
                    out.append(node.metrics().apply("pythonNumRowsReceived").value())
            children = node.children()
            for i in range(children.size()):
                kernel_rows(children.apply(i), seen, out)

        seen, rows = set(), []
        for level in pyr.levels.values():
            kernel_rows(level.df._jdf.queryExecution().executedPlan(), seen, rows)
        # the base layer, the chunk frames, then the other levels
        frames = pyr._pins[1:len(pyr._pins) - len(pyr.levels) + 1]
        assert len(frames) == 2                        # 4 levels, 2 per chunk
        assert all(lv.df.is_cached for lv in pyr.levels.values())
        assert sorted(rows) == sorted(f.count() for f in frames)
        pyr.unpersist()
        assert spark._jsparkSession.sharedState().cacheManager().isEmpty()

    def test_hand_built_pyramid_caches_its_levels(self, spark, layer):
        spark.catalog.clearCache()
        pyr = gps.Pyramid({1: layer, 0: layer.pyramid()[3]})
        pyr.cache()
        assert all(lv.df.is_cached for lv in pyr.levels.values())
        pyr.unpersist()
        assert spark._jsparkSession.sharedState().cacheManager().isEmpty()
