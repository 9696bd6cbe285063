"""aggregate_by_cell / merge / histogram + focal stencil golden tests."""

import math

import numpy as np
import pytest

import geopyspark_spark as gps
from geopyspark_spark.operators.focal import neighborhood_mask
from geopyspark_spark.sources.numpy_source import to_numpy

from conftest import f1_metadata


def _cells(layer, key=(0, 0), band=0):
    for t in to_numpy(layer):
        if (t[0], t[1]) == key and t[2] == band:
            return t[3]
    raise KeyError(key)


class TestAggregateByCell:
    def test_sum_over_union(self, f1_layer):
        u = gps.union([f1_layer, f1_layer + 1])
        out = u.aggregate_by_cell("SUM")
        assert out.count() == 4
        a = _cells(out)
        assert a[1, 1] == 3.0  # 1 + 2
        assert a[0, 0] == 1.0  # 0 + 1

    def test_mean(self, f1_layer):
        u = gps.union([f1_layer, f1_layer + 2])
        a = _cells(u.aggregate_by_cell("MEAN"))
        assert a[1, 1] == 2.0

    def test_min_max(self, f1_layer):
        u = gps.union([f1_layer, f1_layer + 2])
        assert _cells(u.aggregate_by_cell("MIN"))[1, 1] == 1.0
        assert _cells(u.aggregate_by_cell("MAX"))[1, 1] == 3.0

    def test_variance_singleton_is_nodata(self, f1_layer):
        out = f1_layer.aggregate_by_cell("VARIANCE")
        a = _cells(out)
        assert a[1, 1] == -1.0  # nodata sentinel

    def test_variance(self, f1_layer):
        u = gps.union([f1_layer, f1_layer + 2])
        a = _cells(u.aggregate_by_cell("VARIANCE"))
        assert a[1, 1] == 2.0  # var_samp(1, 3)

    def test_nodata_skipped(self, spark):
        md = f1_metadata("float32ud-1.0")
        a = np.ones((5, 5))
        a[0, 0] = -1.0
        b = np.full((5, 5), 5.0)
        u = gps.union([
            gps.from_numpy(spark, [(0, 0, 0, a)], md),
            gps.from_numpy(spark, [(0, 0, 0, b)], md),
        ])
        out = _cells(u.aggregate_by_cell("SUM"))
        assert out[0, 0] == 5.0  # nodata skipped, not propagated
        assert out[1, 1] == 6.0


class TestMerge:
    def test_merge_first_valid(self, spark):
        md = f1_metadata("float32ud-1.0")
        a = np.full((5, 5), -1.0)
        a[0, 0] = 7.0
        b = np.full((5, 5), 2.0)
        la = gps.from_numpy(spark, [(0, 0, 0, a)], md).df.withColumn(
            "prio", __import__("pyspark.sql.functions", fromlist=["lit"]).lit(0)
        )
        lb = gps.from_numpy(spark, [(0, 0, 0, b)], md).df.withColumn(
            "prio", __import__("pyspark.sql.functions", fromlist=["lit"]).lit(1)
        )
        u = gps.TiledRasterLayer(la.unionByName(lb), md)
        from geopyspark_spark.operators.aggregate import merge

        out = merge(u, order_col="prio")
        a_out = _cells(out)
        assert a_out[0, 0] == 7.0  # first tile's valid cell wins
        assert a_out[1, 1] == 2.0  # first is nodata -> second wins


class TestHistogram:
    def test_class_histogram(self, f1_layer):
        h = f1_layer.get_class_histogram()
        assert h.item_count(0.0) == 1 and h.item_count(1.0) == 99
        assert h.total_count() == 100 and h.min_max() == (0.0, 1.0)
        assert h.mode() == 1.0 and h.median() == 1.0
        assert h.mean() == pytest.approx(0.99)
        # JSON round-trip + merge (reference histogram.py:12-197)
        from geopyspark_spark.histogram import Histogram

        h2 = Histogram.from_json(h.to_json())
        assert h2 == h
        m = h.merge(h2)
        assert m.total_count() == 200 and m.item_count(1.0) == 198
        # bin_counts (reference histogram.py:149-160)
        assert h.bin_counts() == [(0.0, 1), (1.0, 99)]

    def test_quantile_breaks(self, f1_layer):
        breaks = f1_layer.get_quantile_breaks(4)
        assert breaks[-1] == 1.0


class TestNeighborhoods:
    def test_square(self):
        assert neighborhood_mask("Square", 1).shape == (3, 3)
        assert neighborhood_mask("Square", 1).all()

    def test_circle(self):
        m = neighborhood_mask("Circle", 1)
        assert m.sum() == 5  # plus-shape

    def test_nesw(self):
        m = neighborhood_mask("Nesw", 1)
        assert m.sum() == 5

    def test_annulus(self):
        m = neighborhood_mask("Annulus", 1, 2)
        assert not m[2, 2]  # center excluded (distance 0 < inner 1)

    def test_wedge(self):
        m = neighborhood_mask("Wedge", 2, 0, 90)
        assert m[2, 2]  # center always in


class TestFocal:
    def test_focal_sum_interior(self, f1_layer):
        out = f1_layer.focal("Sum", "Square", 1)
        a = _cells(out, (0, 0))
        # interior cell of all-ones area: 9 ones
        assert a[2, 2] == 9.0
        # corner (0,0) has value 0; neighbors: 3 ones -> sum 3
        assert a[0, 0] == 3.0

    def test_focal_sum_crosses_tiles(self, f1_layer):
        out = f1_layer.focal("Sum", "Square", 1)
        # cell at tile (0,0) pos (4,4): neighborhood spans 4 tiles, all ones
        a = _cells(out, (0, 0))
        assert a[4, 4] == 9.0
        # tile (1,1) top-left corner: full 9-neighborhood across tiles
        b = _cells(out, (1, 1))
        assert b[0, 0] == 9.0

    def test_focal_sum_layer_edge(self, f1_layer):
        out = f1_layer.focal("Sum", "Square", 1)
        a = _cells(out, (1, 1))
        # bottom-right corner of the layer: only 4 cells exist
        assert a[4, 4] == 4.0

    def test_focal_mean_ignores_nodata(self, spark):
        md = f1_metadata("float32ud-1.0")
        a = np.ones((5, 5))
        a[1, 1] = -1.0
        layer = gps.from_numpy(spark, [(0, 0, 0, a)], md)
        out = _cells(layer.focal("Mean", "Square", 1))
        assert out[3, 3] == 1.0
        assert out[1, 1] == 1.0  # mean of 8 valid ones (center nodata ignored)

    def test_focal_min_max(self, f1_layer):
        mn = _cells(f1_layer.focal("Min", "Square", 1))
        mx = _cells(f1_layer.focal("Max", "Square", 1))
        assert mn[1, 1] == 0.0 and mn[3, 3] == 1.0
        assert mx[0, 0] == 1.0

    def test_focal_median_mode(self, f1_layer):
        med = _cells(f1_layer.focal("Median", "Square", 1))
        mod = _cells(f1_layer.focal("Mode", "Square", 1))
        assert med[1, 1] == 1.0
        assert mod[1, 1] == 1.0


class TestTerrain:
    @pytest.fixture(scope="class")
    def ramp_layer(self, spark):
        """Plane z = x: constant slope 45 deg with zfactor 1, unit cells."""
        md = f1_metadata("float32")
        tiles = []
        for kc in range(2):
            for kr in range(2):
                a = np.zeros((5, 5))
                for col in range(5):
                    a[:, col] = kc * 5 + col  # z equals global x index
                tiles.append((kc, kr, 0, a))
        return gps.from_numpy(spark, tiles, md)

    def test_slope_45_degrees(self, ramp_layer):
        out = ramp_layer.slope()
        a = _cells(out, (0, 0))
        assert abs(a[2, 2] - 45.0) < 1e-6
        assert out.metadata.cell_type == "float32"

    def test_aspect_east(self, ramp_layer):
        # z increases eastward -> downslope faces west (270 deg)
        a = _cells(ramp_layer.aspect(), (0, 0))
        assert abs(a[2, 2] - 270.0) < 1e-6

    def test_hillshade_range(self, ramp_layer):
        out = ramp_layer.hillshade()
        a = _cells(out, (0, 0))
        assert out.metadata.cell_type == "int16"
        assert 0 <= a[2, 2] <= 255

    def test_flat_slope_zero(self, f1_layer):
        a = _cells(f1_layer.slope(), (0, 0))
        assert a[2, 2] == 0.0

    def test_tobler(self, f1_layer):
        flat = f1_layer * 0
        out = _cells(flat.tobler())
        assert abs(out[2, 2] - 6.0 * math.exp(-3.5 * 0.05)) < 1e-9


class TestZFactor:
    def test_lat_lng_calculator(self):
        from geopyspark_spark.operators.focal import (
            METERS_PER_DEGREE, zfactor_calculator, zfactor_lat_lng_calculator,
        )

        calc = zfactor_lat_lng_calculator("meters")
        assert calc(0.0) == pytest.approx(1.0 / METERS_PER_DEGREE)
        assert calc(60.0) == pytest.approx(2.0 / METERS_PER_DEGREE, rel=1e-9)
        feet = zfactor_lat_lng_calculator("feet")
        assert feet(0.0) == pytest.approx(0.3048 / METERS_PER_DEGREE)

        lerp = zfactor_calculator({0: 1.0, 10: 3.0})
        assert lerp(5.0) == pytest.approx(2.0)
        assert lerp(-5.0) == 1.0 and lerp(50.0) == 3.0

    def test_slope_with_calculator_per_row(self, spark):
        """A constant-gradient DEM sloped only in x: the per-row zfactor
        scales the gradient, so tiles at different key_rows (latitudes) get
        different slope values."""
        import numpy as np

        from tests.conftest import f1_metadata

        md = f1_metadata()
        tiles = []
        for kr in range(2):
            for kc in range(2):
                a = np.zeros((5, 5))
                for c in range(5):
                    a[:, c] = (kc * 5 + c) * 1000.0  # steep x-gradient
                tiles.append((kc, kr, 0, a))
        layer = gps.from_numpy(spark, tiles, md)
        out = layer.slope(zfactor_calculator=lambda lat: 0.001 if lat > 5 else 0.002)
        rows = {(r.key_col, r.key_row): np.asarray(r.cells).reshape(5, 5)
                for r in out.df.collect()}
        # interior cells: dzdx = 1000*z per unit cell -> atan(1) vs atan(2)
        top = rows[(0, 0)][2, 2]      # key_row 0: lat center 7.5 -> z=0.001
        bottom = rows[(0, 1)][2, 2]   # key_row 1: lat center 2.5 -> z=0.002
        assert top == pytest.approx(45.0, abs=1e-4)
        assert bottom == pytest.approx(np.degrees(np.arctan(2.0)), abs=1e-4)


class TestTemporalFocal:
    def test_focal_sum_keeps_instants_separate(self, spark):
        """SPACETIME focal: halo fragments must not cross instants — each
        instant's tiles aggregate independently."""
        from datetime import datetime, timezone

        import numpy as np

        from tests.conftest import f1_metadata

        md = f1_metadata()
        t1 = datetime(2024, 1, 1, tzinfo=timezone.utc)
        t2 = datetime(2024, 2, 1, tzinfo=timezone.utc)
        tiles = []
        for kc in range(2):
            for kr in range(2):
                tiles.append((kc, kr, t1, 0, np.full((5, 5), 1.0)))
                tiles.append((kc, kr, t2, 0, np.full((5, 5), 10.0)))
        layer = gps.from_numpy(spark, tiles, md)
        out = layer.focal("Sum", "Square", 1)
        rows = out.df.collect()
        assert len(rows) == 8
        for r in rows:
            a = np.asarray(r.cells).reshape(5, 5)
            # interior cell = 9 * base value; cross-instant mixing would
            # give 9*11=99 somewhere
            expected = 9.0 if r.instant.month == 1 else 90.0
            assert a[2, 2] == expected


class TestMultibandFocal:
    def test_bands_convolve_independently(self, spark):
        import numpy as np

        import geopyspark_spark as gps

        md = gps.LayerMetadata(
            crs="epsg:4326", cell_type="float64",
            layout=gps.LayoutDefinition(gps.Extent(0, 0, 4, 4), gps.TileLayout(1, 1, 4, 4)),
            bounds=((0, 0), (0, 0)), extent=gps.Extent(0, 0, 4, 4), num_bands=2,
        )
        layer = gps.from_numpy(
            spark, [(0, 0, 0, np.ones((4, 4))), (0, 0, 1, np.full((4, 4), 10.0))], md
        )
        out = layer.focal("Sum", "Square", 1)
        rows = {r["band"]: np.asarray(r["cells"]).reshape(4, 4) for r in out.df.collect()}
        assert rows[0][1, 1] == 9.0 and rows[1][1, 1] == 90.0
        assert rows[0][0, 0] == 4.0 and rows[1][0, 0] == 40.0  # corner window


def test_quantile_breaks_exact_int_name(f1_layer):
    exact = f1_layer.get_quantile_breaks_exact_int(4)
    assert len(exact) == 4
    assert exact[-1] == 1.0  # max of the ones layer


class TestTemporalInterpolate:
    """Per-pixel temporal gap-fill (operators/aggregate.py::
    temporal_interpolate)."""

    def _layer(self, spark, rows):
        import geopyspark_spark as gps
        from geopyspark_spark.layer import TiledRasterLayer

        md = gps.LayerMetadata(
            crs="epsg:4326", cell_type="float64ud-1.0",
            layout=gps.LayoutDefinition(
                gps.Extent(0, 0, 2, 2), gps.TileLayout(1, 1, 2, 2)),
            bounds=((0, 0), (0, 0)), extent=gps.Extent(0, 0, 2, 2),
            num_bands=1,
        )
        df = spark.createDataFrame(
            rows,
            "key_col int, key_row int, instant timestamp, band int, "
            "cells array<double>")
        return TiledRasterLayer(df, md)

    def test_linear_fill_and_edges(self, spark):
        import datetime as dt

        from geopyspark_spark.operators.aggregate import (
            temporal_interpolate,
        )

        t = [dt.datetime(2020, 1, d) for d in (1, 2, 3, 4)]
        # present at t0 and t3 (values 0 and 30 per pixel); t1, t2 absent
        # BUT in the instant grid because another key holds them
        rows = [
            (0, 0, t[0], 0, [0.0, 0.0, -1.0, 8.0]),
            (0, 0, t[3], 0, [30.0, 3.0, 6.0, -1.0]),
            (1, 0, t[1], 0, [5.0] * 4),
            (1, 0, t[2], 0, [6.0] * 4),
        ]
        out = temporal_interpolate(self._layer(spark, rows))
        got = {(r["key_col"], r["instant"].day): r["cells"]
               for r in out.df.collect()}
        # key (0,0): t1 is 1/3 of the way, t2 is 2/3
        assert got[(0, 2)][0] == 10.0 and got[(0, 3)][0] == 20.0
        assert got[(0, 2)][1] == 1.0 and got[(0, 3)][1] == 2.0
        # NoData at either endpoint stays NoData
        assert got[(0, 2)][2] == -1.0 and got[(0, 2)][3] == -1.0
        # key (1,0): edge instants copy the nearest neighbor
        assert got[(1, 1)] == [5.0] * 4 and got[(1, 4)] == [6.0] * 4
        # all 4 instants x 2 keys present in the output
        assert len(got) == 8

    def test_present_tiles_pass_through(self, spark):
        import datetime as dt

        from geopyspark_spark.operators.aggregate import (
            temporal_interpolate,
        )

        t = [dt.datetime(2021, 5, d) for d in (1, 2)]
        rows = [(0, 0, t[0], 0, [1.0, 2.0, 3.0, 4.0]),
                (0, 0, t[1], 0, [5.0, 6.0, 7.0, 8.0])]
        out = temporal_interpolate(self._layer(spark, rows))
        got = sorted((r["instant"], r["cells"]) for r in out.df.collect())
        assert got[0][1] == [1.0, 2.0, 3.0, 4.0]
        assert got[1][1] == [5.0, 6.0, 7.0, 8.0]


class TestConvolveMoransI:
    @staticmethod
    def _brute_convolve(grid, k, nd=np.nan):
        r = k.shape[0] // 2
        H, W = grid.shape
        out = np.full_like(grid, np.nan)
        for i in range(H):
            for j in range(W):
                acc, cnt = 0.0, 0
                for di in range(-r, r + 1):
                    for dj in range(-r, r + 1):
                        ii, jj = i + di, j + dj
                        w = k[di + r, dj + r]
                        if 0 <= ii < H and 0 <= jj < W and w != 0 \
                                and not np.isnan(grid[ii, jj]):
                            acc += w * grid[ii, jj]
                            cnt += 1
                if cnt:
                    out[i, j] = acc
        return out

    def _grid(self, layer):
        g = np.full((10, 10), np.nan)
        for kc, kr, _b, a in to_numpy(layer):
            g[kr * 5:(kr + 1) * 5, kc * 5:(kc + 1) * 5] = a
        return g

    def test_convolve_matches_brute_force(self, spark):
        md = f1_metadata()
        rng_vals = (np.arange(100, dtype=float).reshape(10, 10) * 7 % 13)
        rng_vals[3, 4] = -1.0  # NoData hole
        tiles = [(kc, kr, 0, rng_vals[kr * 5:(kr + 1) * 5, kc * 5:(kc + 1) * 5].copy())
                 for kr in range(2) for kc in range(2)]
        layer = gps.from_numpy(spark, tiles, md)
        k = np.array([[1, 2, 1], [2, 4, 2], [1, 2, 1]], dtype=float)
        out = layer.convolve(k)
        got = self._grid(out)
        ref = rng_vals.copy()
        ref[3, 4] = np.nan
        want = self._brute_convolve(ref, k)
        # output cell type float32ud-1.0: NoData renders as -1.0
        want = np.where(np.isnan(want), -1.0, want)
        np.testing.assert_array_equal(got, want)

    def test_convolve_rejects_even_kernel(self, f1_layer):
        with pytest.raises(ValueError):
            f1_layer.convolve([[1, 1], [1, 1]])

    def test_morans_i_matches_brute_force(self, spark):
        md = f1_metadata()
        vals = ((np.arange(100).reshape(10, 10) * 31 + 7) % 17).astype(float)
        vals[6, 2] = -1.0  # NoData
        tiles = [(kc, kr, 0, vals[kr * 5:(kr + 1) * 5, kc * 5:(kc + 1) * 5].copy())
                 for kr in range(2) for kc in range(2)]
        layer = gps.from_numpy(spark, tiles, md)
        row = layer.morans_i().collect()[0]

        g = vals.copy()
        g[6, 2] = np.nan
        live = ~np.isnan(g)
        n = int(live.sum())
        m = g[live].sum() / n
        num = den = 0.0
        W = 0
        for i in range(10):
            for j in range(10):
                if not live[i, j]:
                    continue
                den += (g[i, j] - m) ** 2
                for di in (-1, 0, 1):
                    for dj in (-1, 0, 1):
                        if di == 0 and dj == 0:
                            continue
                        ii, jj = i + di, j + dj
                        if 0 <= ii < 10 and 0 <= jj < 10 and live[ii, jj]:
                            num += (g[i, j] - m) * (g[ii, jj] - m)
                            W += 1
        assert row["n"] == n and row["w"] == W
        assert row["num"] == pytest.approx(num, rel=1e-12)
        assert row["den"] == pytest.approx(den, rel=1e-12)
        assert row["morans_i"] == pytest.approx(n * num / (W * den), rel=1e-12)

    def test_morans_i_checkerboard_is_negative(self, spark):
        md = f1_metadata()
        vals = np.indices((10, 10)).sum(axis=0) % 2 * 1.0
        tiles = [(kc, kr, 0, vals[kr * 5:(kr + 1) * 5, kc * 5:(kc + 1) * 5].copy())
                 for kr in range(2) for kc in range(2)]
        layer = gps.from_numpy(spark, tiles, md)
        row = layer.morans_i().collect()[0]
        # queen weights see 4 same-parity diagonal neighbors per cell, so
        # a checkerboard is only mildly dispersed (rook pairs dominate at
        # the edges): mildly negative, exactly -1/19 on this 10x10 grid
        assert row["morans_i"] == pytest.approx(-1 / 19, rel=1e-12)


#: D8 flow code -> (drow, dcol)
_D8 = {1: (0, 1), 2: (1, 1), 4: (1, 0), 8: (1, -1),
       16: (0, -1), 32: (-1, -1), 64: (-1, 0), 128: (-1, 1)}


def _ref_flow_acc(layer) -> dict:
    """{(instant, key_col, key_row, pos): acc} computed directly from
    the layer's D8 codes: every cell walks its flow path downstream and
    adds 1 to each cell on it (itself included), so a cell's count is
    its subtree size. A pit, flat or NoData cell ends the walk."""
    tl = layer.layout.tile_layout
    tc, tr = tl.tile_cols, tl.tile_rows
    h, w = tl.layout_rows * tr, tl.layout_cols * tc
    codes = {}
    for r in layer.flow_direction().explode(with_coords=True).collect():
        t = r["instant"] if "instant" in r.asDict() else None
        g = codes.setdefault(t, np.zeros((h, w)))
        g[r["grow"], r["gcol"]] = np.nan if r["value"] is None else r["value"]
    out = {}
    for t, g in codes.items():
        acc = np.zeros((h, w), dtype=np.int64)
        for r0 in range(h):
            for c0 in range(w):
                r, c = r0, c0
                while True:
                    acc[r, c] += 1
                    if not g[r, c] > 0:
                        break
                    dr, dc = _D8[int(g[r, c])]
                    r, c = r + dr, c + dc
        for r in range(h):
            for c in range(w):
                out[(t, c // tc, r // tr, (r % tr) * tc + c % tc)] = int(acc[r, c])
    return out


class TestFlowDirection:
    def test_d8_codes_and_tie_break(self, spark):
        import numpy as np

        import geopyspark_spark as gps
        from geopyspark_spark.sources.numpy_source import to_numpy

        # 3x3 plateau with a single low corner: center drains SE (2);
        # the low corner itself is a pit (0)
        g = np.array([
            [9.0, 9.0, 9.0],
            [9.0, 9.0, 9.0],
            [9.0, 9.0, 1.0],
        ])
        layout = gps.LayoutDefinition(
            gps.Extent(0, 0, 3, 3), gps.TileLayout(1, 1, 3, 3))
        md = gps.LayerMetadata(
            crs="epsg:4326", cell_type="float64", layout=layout,
            bounds=((0, 0), (0, 0)), extent=layout.extent, num_bands=1)
        layer = gps.from_numpy(spark, [(0, 0, 0, g)], md)
        out = {}
        for kc, kr, _b, a in to_numpy(layer.flow_direction()):
            out = a
        assert out[1, 1] == 2.0          # steepest descent SE
        assert out[2, 2] == 0.0          # pit
        assert out[1, 2] == 4.0          # drains S to the corner
        assert out[2, 1] == 1.0          # drains E to the corner
        # flat plateau corner: no positive drop -> 0
        assert out[0, 0] == 0.0

    def test_cardinal_beats_equal_diagonal_drop(self, spark):
        import numpy as np

        import geopyspark_spark as gps
        from geopyspark_spark.sources.numpy_source import to_numpy

        # equal drop 4 east (cardinal) and southeast (diagonal):
        # cardinal wins (2*16 > 16)
        g = np.array([
            [9.0, 9.0, 9.0],
            [9.0, 9.0, 5.0],
            [9.0, 9.0, 5.0],
        ])
        layout = gps.LayoutDefinition(
            gps.Extent(0, 0, 3, 3), gps.TileLayout(1, 1, 3, 3))
        md = gps.LayerMetadata(
            crs="epsg:4326", cell_type="float64", layout=layout,
            bounds=((0, 0), (0, 0)), extent=layout.extent, num_bands=1)
        layer = gps.from_numpy(spark, [(0, 0, 0, g)], md)
        for kc, kr, _b, a in to_numpy(layer.flow_direction()):
            out = a
        assert out[1, 1] == 1.0          # E (cardinal) beats SE tie

    def test_flow_accumulation_subtree_sizes(self, spark):
        import numpy as np

        import geopyspark_spark as gps

        # strictly decreasing to the SE corner: every cell drains
        # diagonally/cardinally toward it; the corner accumulates all 9
        g = np.array([
            [9.0, 8.0, 7.0],
            [8.0, 6.0, 4.0],
            [7.0, 4.0, 1.0],
        ])
        layout = gps.LayoutDefinition(
            gps.Extent(0, 0, 3, 3), gps.TileLayout(1, 1, 3, 3))
        md = gps.LayerMetadata(
            crs="epsg:4326", cell_type="float64", layout=layout,
            bounds=((0, 0), (0, 0)), extent=layout.extent, num_bands=1)
        layer = gps.from_numpy(spark, [(0, 0, 0, g)], md)
        got = {r["pos"]: r["acc"] for r in layer.flow_accumulation().collect()}
        # the pit (pos 8) collects every cell
        assert got[8] == 9
        # corners: nothing drains INTO (0,0)
        assert got[0] == 1
        # conservation: every cell counts itself exactly once at the pit
        assert len(got) == 9 and min(got.values()) >= 1
        # the O(log)-round Euler tour agrees cell for cell with subtree
        # sizes walked directly from the D8 codes
        ref = {k[3]: v for k, v in _ref_flow_acc(layer).items()}
        assert ref == got

    def test_flow_accumulation_methods_agree_multitile(self, spark):
        import numpy as np

        import geopyspark_spark as gps

        rng = np.random.default_rng(3)
        n = 16
        z = (np.cumsum(rng.integers(1, 4, (n, n)), axis=0)
             + rng.integers(0, 3, (n, n))).astype(float)
        z[4, 7] = np.nan
        layout = gps.LayoutDefinition(
            gps.Extent(0, 0, n, n), gps.TileLayout(2, 2, 8, 8))
        md = gps.LayerMetadata(
            crs="epsg:4326", cell_type="float64", layout=layout,
            bounds=((0, 0), (1, 1)), extent=layout.extent, num_bands=1)
        layer = gps.from_numpy(
            spark,
            [(kc, kr, 0, z[kr * 8:kr * 8 + 8, kc * 8:kc * 8 + 8].copy())
             for kc in range(2) for kr in range(2)], md)
        eu = {(r["key_col"], r["key_row"], r["pos"]): r["acc"]
              for r in layer.flow_accumulation().collect()}
        ref = {k[1:]: v for k, v in _ref_flow_acc(layer).items()}
        assert eu == ref and len(eu) == n * n

    def test_flow_accumulation_temporal_per_instant(self, spark):
        """SPACETIME: each instant accumulates its own forest — the
        Euler tour, sibling order and ranking all carry the instant."""
        from datetime import datetime, timezone

        import numpy as np

        import geopyspark_spark as gps

        t1 = datetime(2024, 1, 1, tzinfo=timezone.utc)
        t2 = datetime(2024, 2, 1, tzinfo=timezone.utc)
        # t1: drains east (3 rows x acc 1,2,3); t2: drains south
        g1 = np.tile(np.array([3.0, 2.0, 1.0]), (3, 1))
        g2 = g1.T.copy()
        layout = gps.LayoutDefinition(
            gps.Extent(0, 0, 3, 3), gps.TileLayout(1, 1, 3, 3))
        md = gps.LayerMetadata(
            crs="epsg:4326", cell_type="float64", layout=layout,
            bounds=((0, 0), (0, 0)), extent=layout.extent, num_bands=1)
        layer = gps.from_numpy(
            spark, [(0, 0, t1, 0, g1), (0, 0, t2, 0, g2)], md)
        got = {(r["instant"].month, r["pos"]): r["acc"]
               for r in layer.flow_accumulation().collect()}
        # t1 rows: acc 1,2,3 across each row (cols 0,1,2)
        for row in range(3):
            assert [got[(1, row * 3 + c)] for c in range(3)] == [1, 2, 3]
        # t2 columns: acc 1,2,3 down each column
        for col in range(3):
            assert [got[(2, r * 3 + col)] for r in range(3)] == [1, 2, 3]
        ref = {(k[0].month, k[3]): v for k, v in _ref_flow_acc(layer).items()}
        assert ref == got

    def test_watershed_two_basins(self, spark):
        import numpy as np

        import geopyspark_spark as gps

        # two pits: left column drains west to (0,1)-ish pit, right to
        # the SE pit — basin ids are the pits' global cell ids
        g = np.array([
            [5.0, 9.0, 5.0],
            [1.0, 9.0, 4.0],
            [5.0, 9.0, 1.0],
        ])
        layout = gps.LayoutDefinition(
            gps.Extent(0, 0, 3, 3), gps.TileLayout(1, 1, 3, 3))
        md = gps.LayerMetadata(
            crs="epsg:4326", cell_type="float64", layout=layout,
            bounds=((0, 0), (0, 0)), extent=layout.extent, num_bands=1)
        layer = gps.from_numpy(spark, [(0, 0, 0, g)], md)
        got = {r["pos"]: r["basin"] for r in layer.watershed().collect()}
        # pits label themselves: pos 3 -> id 3, pos 8 -> id 8
        assert got[3] == 3 and got[8] == 8
        # left column cells drain to the left pit
        assert got[0] == 3 and got[6] == 3
        # right column cells drain to the SE pit
        assert got[2] == 8 and got[5] == 8
        # every cell got exactly one of the two basins
        assert set(got.values()) <= {3, 8}

    def test_hydrology_is_instant_scoped(self, spark):
        """SPACETIME layers: flow accumulation and watershed must never
        cross time (the same regression class as r9's region_group)."""
        import numpy as np
        from pyspark.sql import functions as F

        import geopyspark_spark as gps
        from geopyspark_spark.layer import TiledRasterLayer

        g = np.array([
            [9.0, 8.0, 7.0],
            [8.0, 6.0, 4.0],
            [7.0, 4.0, 1.0],
        ])
        layout = gps.LayoutDefinition(
            gps.Extent(0, 0, 3, 3), gps.TileLayout(1, 1, 3, 3))
        md = gps.LayerMetadata(
            crs="epsg:4326", cell_type="float64", layout=layout,
            bounds=((0, 0), (0, 0)), extent=layout.extent, num_bands=1)
        base = gps.from_numpy(spark, [(0, 0, 0, g)], md)
        df = None
        for t in ("2021-01-01", "2021-02-01"):
            d = base.df.withColumn("instant", F.lit(t).cast("timestamp"))
            df = d if df is None else df.unionByName(d)
        layer = TiledRasterLayer(
            df.select("key_col", "key_row", "instant", "band", "cells"), md)
        acc = layer.flow_accumulation().collect()
        assert len(acc) == 18 and "instant" in acc[0].asDict()
        per_instant = {}
        for r in acc:
            per_instant.setdefault(str(r["instant"]), {})[r["pos"]] = r["acc"]
        for instant, got in per_instant.items():
            assert got[8] == 9, f"{instant}: pit must collect 9, not 18"
        ws = layer.watershed().collect()
        assert len(ws) == 18
        assert all(r["basin"] == 8 for r in ws)


class TestTerrainIndices:
    def _layer(self, spark, g, tile=None):
        import numpy as np

        import geopyspark_spark as gps

        g = np.asarray(g, dtype=float)
        h, w = g.shape
        layout = gps.LayoutDefinition(
            gps.Extent(0, 0, w, h), gps.TileLayout(1, 1, w, h))
        md = gps.LayerMetadata(
            crs="epsg:4326", cell_type="float64", layout=layout,
            bounds=((0, 0), (0, 0)), extent=layout.extent, num_bands=1)
        return gps.from_numpy(spark, [(0, 0, 0, g)], md)

    def test_tri_flat_is_zero_and_step_counts(self, spark):
        from geopyspark_spark.sources.numpy_source import to_numpy
        import numpy as np

        g = np.full((3, 3), 7.0)
        g[1, 2] = 10.0
        layer = self._layer(spark, g)
        for _kc, _kr, _b, a in to_numpy(layer.tri()):
            out = a
        # center cell: neighbors are seven 7s and one 10 -> mean |dz| = 3/8
        assert out[1, 1] == 3.0 / 8.0
        # far corner (0,0): neighbors all 7 -> 0
        assert out[0, 0] == 0.0

    def test_tpi_ridge_positive(self, spark):
        from geopyspark_spark.sources.numpy_source import to_numpy
        import numpy as np

        g = np.full((3, 3), 5.0)
        g[1, 1] = 13.0
        layer = self._layer(spark, g)
        for _kc, _kr, _b, a in to_numpy(layer.tpi()):
            out = a
        assert out[1, 1] == 8.0           # 13 - mean(eight 5s)
        assert out[0, 1] == 5.0 - (5 * 4 + 13) / 5.0

    def test_viewshed_wall_blocks(self, spark):
        from geopyspark_spark.sources.numpy_source import to_numpy
        import numpy as np

        # flat plain with a tall north-south wall at column 3:
        # observer at (1, 2) sees everything west of the wall and the
        # wall itself, nothing east of it
        g = np.zeros((5, 7))
        g[:, 3] = 10.0
        layer = self._layer(spark, g)
        out_l = layer.viewshed(col=1, row=2, radius=5)
        for _kc, _kr, _b, a in to_numpy(out_l):
            out = a
        assert out[2, 1] == 1.0           # observer
        assert out[2, 0] == 1.0 and out[2, 2] == 1.0
        assert out[2, 3] == 1.0           # wall top visible
        assert out[2, 4] == 0.0 and out[2, 6] == 0.0  # shadowed
        # radius cutoff: corner (4, 6) is sqrt(25+4) > 5 away -> 0
        assert out[4, 6] == 0.0

    def test_viewshed_flat_all_visible(self, spark):
        from geopyspark_spark.sources.numpy_source import to_numpy
        import numpy as np

        g = np.zeros((5, 5))
        layer = self._layer(spark, g)
        for _kc, _kr, _b, a in to_numpy(layer.viewshed(2, 2, 4)):
            out = a
        assert (out == 1.0).all()

    def test_viewshed_observer_validation(self, spark):
        import numpy as np
        import pytest as _pt

        g = np.zeros((4, 4))
        layer = self._layer(spark, g)
        with _pt.raises(ValueError, match="not in the layer"):
            layer.viewshed(100, 100, 2)

    def test_viewshed_temporal_per_instant_observer(self, spark):
        """SPACETIME viewshed: the observer elevation is looked up PER
        INSTANT — a wall present only in the second month shadows only
        that month."""
        import numpy as np
        from pyspark.sql import functions as F

        from geopyspark_spark.layer import TiledRasterLayer

        flat = np.zeros((5, 5))
        walled = np.zeros((5, 5))
        walled[:, 2] = 10.0
        base_flat = self._layer(spark, flat)
        base_wall = self._layer(spark, walled)
        df = base_flat.df.withColumn(
            "instant", F.lit("2022-01-01").cast("timestamp")
        ).unionByName(base_wall.df.withColumn(
            "instant", F.lit("2022-02-01").cast("timestamp")))
        layer = TiledRasterLayer(
            df.select("key_col", "key_row", "instant", "band", "cells"),
            base_flat.metadata)
        rows = layer.viewshed(0, 2, 4).explode().collect()
        vis = {(str(r["instant"])[:7], r["pos"]): r["value"] for r in rows}
        # pos 4 = (row 0... ) use row 2, col 4 -> pos 2*5+4 = 14
        assert vis[("2022-01", 14)] == 1.0    # flat month: visible
        assert vis[("2022-02", 14)] == 0.0    # walled month: shadowed
        assert vis[("2022-02", 12)] == 1.0    # the wall itself is seen
