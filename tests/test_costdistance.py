"""Cost-distance golden tests (hand-computed on tiny grids, mirroring the
reference's costdistance_test.py strategy)."""

import math

import numpy as np
import pytest

import geopyspark_spark as gps
from pyspark.sql import functions as F
from geopyspark_spark.operators.costdistance import cost_distance
from geopyspark_spark.sources.numpy_source import to_numpy

from conftest import f1_metadata


def _stitched(layer):
    return layer.stitch()[0]


class TestCostDistance:
    def test_uniform_friction_single_tile(self, spark):
        """Friction 1 everywhere, source at one cell: cost = chessboard-ish
        metric with diagonal sqrt(2)."""
        md = f1_metadata("float64")
        layout = gps.LayoutDefinition(gps.Extent(0, 0, 5, 5), gps.TileLayout(1, 1, 5, 5))
        from dataclasses import replace

        md = replace(md, layout=layout, bounds=((0, 0), (0, 0)))
        layer = gps.from_numpy(spark, [(0, 0, 0, np.ones((5, 5)))], md)
        out = cost_distance(layer, gps.Point(0.5, 4.5))  # top-left cell center
        a = _stitched(out)
        assert a[0, 0] == 0.0
        assert a[0, 1] == 1.0
        assert abs(a[1, 1] - math.sqrt(2)) < 1e-9
        assert abs(a[0, 4] - 4.0) < 1e-9
        assert abs(a[4, 4] - 4 * math.sqrt(2)) < 1e-9

    def test_propagates_across_tiles(self, spark, f1_layer):
        """2x2 tile layout: distances must cross tile boundaries via the
        iterative halo loop."""
        layer = f1_layer + 0.0  # all friction 1 (corner 0 -> friction 0 fine)
        out = cost_distance(layer, gps.Point(0.5, 9.5))
        a = _stitched(out)
        assert a[0, 0] == 0.0
        # straight line to the east edge: 9 rook steps over friction 1
        # (first step prices (0+1)/2 = 0.5 due to the 0-friction corner)
        assert abs(a[0, 9] - 8.5) < 1e-9
        # cell in the far tile (9, 9): diagonal chain
        assert abs(a[9, 9] - (0.5 * math.sqrt(2) + 8 * math.sqrt(2))) < 1e-9

    def test_nodata_blocks_propagation(self, spark):
        md = f1_metadata("float64ud-1.0")
        layout = gps.LayoutDefinition(gps.Extent(0, 0, 5, 5), gps.TileLayout(1, 1, 5, 5))
        from dataclasses import replace

        md = replace(md, layout=layout, bounds=((0, 0), (0, 0)))
        a = np.ones((5, 5))
        a[:, 2] = -1.0  # NoData wall
        layer = gps.from_numpy(spark, [(0, 0, 0, a)], md)
        out = cost_distance(layer, gps.Point(0.5, 4.5))
        d = _stitched(out)
        assert np.isnan(d[2, 2])         # wall itself unreachable
        assert np.isnan(d[0, 3]) and np.isnan(d[0, 4])  # behind the wall
        assert d[4, 0] == 4.0            # same side reachable

    def test_max_distance_truncates(self, spark):
        md = f1_metadata("float64")
        layout = gps.LayoutDefinition(gps.Extent(0, 0, 5, 5), gps.TileLayout(1, 1, 5, 5))
        from dataclasses import replace

        md = replace(md, layout=layout, bounds=((0, 0), (0, 0)))
        layer = gps.from_numpy(spark, [(0, 0, 0, np.ones((5, 5)))], md)
        out = cost_distance(layer, gps.Point(0.5, 4.5), max_distance=2.0)
        d = _stitched(out)
        assert d[0, 2] == 2.0
        assert np.isnan(d[0, 4])


def test_unconverged_warns(spark, friction_layer=None):
    """ADVICE r1: exiting the fixpoint at max_iterations without converging
    must warn instead of silently returning incomplete distances."""
    import warnings

    import numpy as np
    import pytest

    import geopyspark_spark as gps

    layout = gps.LayoutDefinition(gps.Extent(0, 0, 12, 4), gps.TileLayout(3, 1, 4, 4))
    md = gps.LayerMetadata(
        crs="epsg:4326", cell_type="float64", layout=layout,
        bounds=((0, 0), (2, 0)), extent=layout.extent, num_bands=1,
    )
    tiles = [(kc, 0, 0, np.ones((4, 4))) for kc in range(3)]
    layer = gps.from_numpy(spark, tiles, md)
    src = gps.Point(0.5, 3.5)
    with pytest.warns(RuntimeWarning, match="without.*converging|converg"):
        layer.cost_distance(src, max_iterations=1)
    # default iteration budget reaches the far tile without warning
    with warnings.catch_warnings():
        warnings.simplefilter("error", RuntimeWarning)
        out = layer.cost_distance(src)
    arr = out.stitch()
    assert np.isfinite(arr[0, 3, 11])


def test_frontier_filter_relaxes_only_wavefront(spark):
    """Round-6 (VERDICT r5 next-round #1): the fixpoint loop is change-
    driven — each round relaxes only tiles whose own or neighbor state
    improved, so a point source on an 8x8-tile layout touches a corner
    wedge, never the whole grid every round."""
    from geopyspark_spark.operators import costdistance as cd

    n_tiles = 8
    layout = gps.LayoutDefinition(
        gps.Extent(0, 0, 8 * n_tiles, 8 * n_tiles),
        gps.TileLayout(n_tiles, n_tiles, 8, 8),
    )
    md = gps.LayerMetadata(
        crs="epsg:4326", cell_type="float64", layout=layout,
        bounds=((0, 0), (n_tiles - 1, n_tiles - 1)),
        extent=layout.extent, num_bands=1,
    )
    tiles = [
        (kc, kr, 0, np.ones((8, 8)))
        for kc in range(n_tiles) for kr in range(n_tiles)
    ]
    layer = gps.from_numpy(spark, tiles, md)
    # block_cells=1 pins the block factor at one tile: this test probes
    # the CORE loop's frontier filter, which the default super-tile
    # blocking would collapse to a single block on a toy grid
    out = cost_distance(layer, gps.Point(0.5, 8 * n_tiles - 0.5),
                        block_cells=1)  # top-left corner
    a = _stitched(out)
    assert a[0, 0] == 0.0
    assert abs(a[0, 63] - 63.0) < 1e-9      # reaches the far edge
    assert abs(a[63, 63] - 63 * math.sqrt(2)) < 1e-9

    total = cd._loop_stats["total_tiles"]
    per_round = cd._loop_stats["relaxed_per_round"]
    assert total == n_tiles * n_tiles
    # round 1 relaxes only the seed tile + its neighbors (corner => <= 4)
    assert per_round[0] <= 4
    # no round ever touches the whole grid, and total relaxed work is far
    # below rounds x tiles (the Jacobi-loop cost this replaces)
    assert max(per_round) < total
    assert sum(per_round) < 0.5 * len(per_round) * total


def test_blocked_rounds_match_unblocked(spark):
    """r12 (VERDICT r11 #3): super-tile blocking must be result-invariant —
    the min-plus fixpoint is unique, so coalescing tiles into blocks
    changes only the ROUND COUNT. Random friction with NaN walls,
    intermediate block factor (g=2 over a 4x4 layout) vs blocking
    disabled, plus a sparse layout (one absent tile) to pin the
    split-back key-set restoration."""
    from geopyspark_spark.operators import costdistance as cd

    rng = np.random.default_rng(7)
    n_tiles, tsz = 4, 8
    n = n_tiles * tsz
    layout = gps.LayoutDefinition(
        gps.Extent(0, 0, n, n), gps.TileLayout(n_tiles, n_tiles, tsz, tsz))
    md = gps.LayerMetadata(
        crs="epsg:4326", cell_type="float64", layout=layout,
        bounds=((0, 0), (n_tiles - 1, n_tiles - 1)),
        extent=layout.extent, num_bands=1,
    )
    fric = rng.uniform(0.5, 3.0, size=(n, n))
    fric[10, 2:30] = np.nan  # wall with a gap at each end
    fric[20, 5:32] = np.nan
    tiles = [
        (kc, kr, 0, fric[kr * tsz:(kr + 1) * tsz, kc * tsz:(kc + 1) * tsz])
        for kc in range(n_tiles) for kr in range(n_tiles)
        if not (kc == 3 and kr == 3)  # sparse: one absent tile
    ]
    layer = gps.from_numpy(spark, tiles, md)
    src = gps.Point(1.5, n - 1.5)
    assert cd._block_factor(layout.tile_layout, tsz * tsz * 4) == 2
    blocked = cost_distance(layer, src, block_cells=tsz * tsz * 4)
    rows_b = {(r["key_col"], r["key_row"]): r["cells"]
              for r in blocked.df.collect()}
    plain = cost_distance(layer, src, block_cells=1)
    rows_p = {(r["key_col"], r["key_row"]): r["cells"]
              for r in plain.df.collect()}
    assert set(rows_b) == set(rows_p) and (3, 3) not in rows_b
    for k in rows_p:
        np.testing.assert_allclose(
            np.nan_to_num(np.asarray(rows_b[k]), nan=-1.0),
            np.nan_to_num(np.asarray(rows_p[k]), nan=-1.0), atol=1e-9)


def _maze_layer(spark, fric, tsz=8, drop_key=None):
    n = fric.shape[0]
    n_tiles = n // tsz
    layout = gps.LayoutDefinition(
        gps.Extent(0, 0, n, n), gps.TileLayout(n_tiles, n_tiles, tsz, tsz))
    md = gps.LayerMetadata(
        crs="epsg:4326", cell_type="float64", layout=layout,
        bounds=((0, 0), (n_tiles - 1, n_tiles - 1)),
        extent=layout.extent, num_bands=1)
    tiles = [
        (kc, kr, 0, fric[kr * tsz:(kr + 1) * tsz, kc * tsz:(kc + 1) * tsz])
        for kc in range(n_tiles) for kr in range(n_tiles)
        if (kc, kr) != drop_key
    ]
    return gps.from_numpy(spark, tiles, md)


class TestTwoLevel:
    """r13 (VERDICT r12 #2): the two-level block-boundary-graph solve —
    per-block stacked tables -> driver Dijkstra -> one final in-block
    pass — must land on the same unique min-plus fixpoint as the
    fixpoint loop, in O(1) global rounds."""

    def test_two_level_matches_fixpoint_property(self, spark):
        """Random friction + random walls + random seeds + truncation,
        forced multi-block (table_cells small), incl. a sparse layout."""
        from geopyspark_spark.operators import costdistance as cd

        for seed in range(4):
            rng = np.random.default_rng(40 + seed)
            n = 32
            fric = rng.uniform(0.2, 4.0, size=(n, n))
            fric[rng.random((n, n)) < 0.15] = np.nan
            drop = (3, 2) if seed == 2 else None
            layer = _maze_layer(spark, fric, tsz=8, drop_key=drop)
            srcs = [gps.Point(float(rng.integers(0, n)) + 0.5,
                              float(rng.integers(0, n)) + 0.5)
                    for _ in range(int(rng.integers(1, 3)))]
            max_d = float(rng.choice([np.inf, 15.0]))
            two = cost_distance(layer, srcs, max_distance=max_d,
                                strategy="two_level", table_cells=256)
            assert cd._loop_stats["two_level"]
            rows_t = {(r["key_col"], r["key_row"]): r["cells"]
                      for r in two.df.collect()}
            plain = cost_distance(layer, srcs, max_distance=max_d,
                                  strategy="fixpoint", block_cells=1)
            rows_p = {(r["key_col"], r["key_row"]): r["cells"]
                      for r in plain.df.collect()}
            assert set(rows_t) == set(rows_p)
            for k in rows_p:
                np.testing.assert_allclose(
                    np.nan_to_num(np.asarray(rows_t[k]), nan=-1.0),
                    np.nan_to_num(np.asarray(rows_p[k]), nan=-1.0),
                    atol=1e-9, err_msg=f"seed {seed} key {k} max_d {max_d}")

    def test_auto_escapes_to_two_level_on_multiblock_maze(self, spark,
                                                          monkeypatch):
        """strategy='auto' must hand a pathological multi-block maze to
        the two-level solve after _ESCAPE_ROUNDS unconverged rounds —
        and the answer must match the maze's exact distances."""
        from geopyspark_spark.operators import costdistance as cd

        monkeypatch.setattr(cd, "_ESCAPE_ROUNDS", 2)
        rng = np.random.default_rng(5)
        n = 64
        fric = rng.uniform(0.5, 3.0, size=(n, n))
        for i, r in enumerate(range(5, n - 2, 11)):
            if i % 2 == 0:
                fric[r, : n - 6] = np.nan
            else:
                fric[r, 6:] = np.nan
        layer = _maze_layer(spark, fric, tsz=8)
        src = gps.Point(1.5, n - 1.5)
        # block_cells forces a 2x2-block coalesced layout (g=4 over 8x8)
        out = cost_distance(layer, src, block_cells=32 * 32,
                            table_cells=16 * 16)
        assert cd._loop_stats["two_level"], "escape did not fire"
        got = _stitched(out)
        exp = _ref_dijkstra_grid(fric, 1, 1)
        np.testing.assert_allclose(
            np.nan_to_num(got, nan=-1.0), np.nan_to_num(exp, nan=-1.0),
            atol=1e-9)

    def test_escape_above_cap_uses_distributed_solver(self, spark,
                                                      monkeypatch):
        """r14 (VERDICT r13 #2): above the boundary-size cap,
        strategy='auto' still escapes — the boundary graph is solved by
        the distributed frontier Bellman-Ford instead of driver heapq
        (r13 skipped the escape and warned), landing on the exact
        answer with a bit-identical reach set."""
        from geopyspark_spark.operators import costdistance as cd

        monkeypatch.setattr(cd, "_ESCAPE_ROUNDS", 2)
        monkeypatch.setattr(cd, "_TWO_LEVEL_MAX_BOUNDARY", 10)
        rng = np.random.default_rng(5)
        n = 64
        fric = rng.uniform(0.5, 3.0, size=(n, n))
        for i, r in enumerate(range(5, n - 2, 11)):
            if i % 2 == 0:
                fric[r, : n - 6] = np.nan
            else:
                fric[r, 6:] = np.nan
        layer = _maze_layer(spark, fric, tsz=8)
        src = gps.Point(1.5, n - 1.5)
        out = cost_distance(layer, src, block_cells=32 * 32,
                            table_cells=16 * 16)
        got = _stitched(out)
        assert cd._loop_stats["two_level"], "escape did not fire"
        assert cd._loop_stats["boundary_solver"] == "distributed"
        exp = _ref_dijkstra_grid(fric, 1, 1)
        np.testing.assert_allclose(
            np.nan_to_num(got, nan=-1.0), np.nan_to_num(exp, nan=-1.0),
            atol=1e-9)
        # bit-identical reach set vs the maze's exact distances
        assert np.array_equal(np.isnan(got), np.isnan(exp))

    def test_distributed_solver_matches_driver_solver(self, spark):
        """The two boundary solvers are the SAME min-plus fixpoint over
        the SAME edge list — serpentine maze distances must agree
        exactly, with a bit-identical reach set (r14 gate)."""
        from geopyspark_spark.operators import costdistance as cd

        rng = np.random.default_rng(7)
        n = 48
        fric = rng.uniform(0.5, 3.0, size=(n, n))
        for i, r in enumerate(range(3, n - 2, 5)):   # serpentine walls
            if i % 2 == 0:
                fric[r, : n - 4] = np.nan
            else:
                fric[r, 4:] = np.nan
        layer = _maze_layer(spark, fric, tsz=8)
        src = gps.Point(1.5, n - 1.5)
        drv = cost_distance(layer, src, strategy="two_level",
                            table_cells=16 * 16,
                            boundary_solver="driver")
        a = _stitched(drv)
        assert cd._loop_stats["boundary_solver"] == "driver"
        dst = cost_distance(layer, src, strategy="two_level",
                            table_cells=16 * 16,
                            boundary_solver="distributed")
        b = _stitched(dst)
        assert cd._loop_stats["boundary_solver"] == "distributed"
        assert np.array_equal(np.isnan(a), np.isnan(b))  # reach set
        np.testing.assert_allclose(
            np.nan_to_num(a, nan=-1.0), np.nan_to_num(b, nan=-1.0),
            atol=1e-12)
        exp = _ref_dijkstra_grid(fric, 1, 1)
        np.testing.assert_allclose(
            np.nan_to_num(b, nan=-1.0), np.nan_to_num(exp, nan=-1.0),
            atol=1e-9)

    def test_distributed_solver_truncation_and_multisource(self, spark):
        """max_distance masking and multiple seed geometries flow
        through the cogrouped finalize identically on both solvers."""
        rng = np.random.default_rng(11)
        n = 32
        fric = rng.uniform(0.2, 4.0, size=(n, n))
        fric[rng.random((n, n)) < 0.15] = np.nan
        layer = _maze_layer(spark, fric, tsz=8)
        srcs = [gps.Point(2.5, 2.5), gps.Point(float(n) - 3.5, 10.5)]
        for max_d in (np.inf, 12.0):
            a = _stitched(cost_distance(
                layer, srcs, max_distance=max_d, strategy="two_level",
                table_cells=256, boundary_solver="driver"))
            b = _stitched(cost_distance(
                layer, srcs, max_distance=max_d, strategy="two_level",
                table_cells=256, boundary_solver="distributed"))
            np.testing.assert_allclose(
                np.nan_to_num(a, nan=-1.0), np.nan_to_num(b, nan=-1.0),
                atol=1e-12, err_msg=f"max_d {max_d}")

    def test_contracted_solver_cuts_rounds_on_long_path(self, spark,
                                                        monkeypatch):
        """r15 (VERDICT r14 #1): the distributed solver's round count
        was one synchronous shuffle per block-crossing of the longest
        least-cost path. Recursive blocks-of-blocks contraction must
        (a) collapse the round count on a serpentine long-path maze and
        (b) stay bit-comparable to both the flat Bellman-Ford and the
        driver Dijkstra, with an identical reach set."""
        from geopyspark_spark.operators import costdistance as cd

        rng = np.random.default_rng(19)
        n = 48
        fric = rng.uniform(0.5, 3.0, size=(n, n))
        for i, r in enumerate(range(3, n - 2, 5)):   # serpentine walls
            if i % 2 == 0:
                fric[r, : n - 4] = np.nan
            else:
                fric[r, 4:] = np.nan
        layer = _maze_layer(spark, fric, tsz=8)
        src = gps.Point(1.5, n - 1.5)
        # flat solve: 6x6 block grid is under the default span cap, so
        # no contraction fires and rounds track block crossings
        flat = cost_distance(layer, src, strategy="two_level",
                             table_cells=64,
                             boundary_solver="distributed")
        a = _stitched(flat)
        assert cd._loop_stats["contract_levels"] == 0
        rounds_flat = cd._loop_stats["boundary_rounds"]
        # force two contraction levels (6x6 -> factor 2 -> 3x3 ->
        # factor 4 -> 2x2 parts, span 2 <= cap)
        monkeypatch.setattr(cd, "_BF_GRID_CAP", 2)
        monkeypatch.setattr(cd, "_CONTRACT_FACTOR", 2)
        con = cost_distance(layer, src, strategy="two_level",
                            table_cells=64,
                            boundary_solver="distributed")
        b = _stitched(con)
        assert cd._loop_stats["contract_levels"] == 2
        rounds_con = cd._loop_stats["boundary_rounds"]
        assert np.array_equal(np.isnan(a), np.isnan(b))  # reach set
        np.testing.assert_allclose(
            np.nan_to_num(a, nan=-1.0), np.nan_to_num(b, nan=-1.0),
            atol=1e-12)
        drv = _stitched(cost_distance(layer, src, strategy="two_level",
                                      table_cells=64,
                                      boundary_solver="driver"))
        assert np.array_equal(np.isnan(drv), np.isnan(b))
        np.testing.assert_allclose(
            np.nan_to_num(drv, nan=-1.0), np.nan_to_num(b, nan=-1.0),
            atol=1e-12)
        # the point of the contraction: one round now crosses an entire
        # top-level part, so the serpentine's ~50 block crossings
        # collapse to part crossings
        assert rounds_flat > 20, f"fixture too easy ({rounds_flat})"
        assert rounds_con <= rounds_flat // 3, (rounds_con, rounds_flat)

    def test_contracted_solver_truncation_and_multisource(self, spark,
                                                          monkeypatch):
        """max_distance masking and multiple seeds must flow through
        the contract/expand levels identically to the driver solver."""
        from geopyspark_spark.operators import costdistance as cd

        rng = np.random.default_rng(23)
        n = 32
        fric = rng.uniform(0.2, 4.0, size=(n, n))
        fric[rng.random((n, n)) < 0.15] = np.nan
        layer = _maze_layer(spark, fric, tsz=8)
        srcs = [gps.Point(2.5, 2.5), gps.Point(float(n) - 3.5, 10.5)]
        monkeypatch.setattr(cd, "_BF_GRID_CAP", 1)
        monkeypatch.setattr(cd, "_CONTRACT_FACTOR", 2)
        for max_d in (np.inf, 12.0):
            a = _stitched(cost_distance(
                layer, srcs, max_distance=max_d, strategy="two_level",
                table_cells=64, boundary_solver="driver"))
            b = _stitched(cost_distance(
                layer, srcs, max_distance=max_d, strategy="two_level",
                table_cells=64, boundary_solver="distributed"))
            assert cd._loop_stats["contract_levels"] == 2
            assert np.array_equal(np.isnan(a), np.isnan(b))
            np.testing.assert_allclose(
                np.nan_to_num(a, nan=-1.0), np.nan_to_num(b, nan=-1.0),
                atol=1e-12, err_msg=f"max_d {max_d}")

    def test_contraction_chunking_is_result_invariant(self, spark,
                                                      monkeypatch):
        """r15: splitting a part's per-portal Dijkstra loop across
        (pid, chunk) tasks (bounded task granularity at scale) must not
        change a single value — forced tiny _CONTRACT_CHUNK puts every
        few portals in their own task."""
        from geopyspark_spark.operators import costdistance as cd

        rng = np.random.default_rng(31)
        n = 48
        fric = rng.uniform(0.5, 3.0, size=(n, n))
        for i, r in enumerate(range(3, n - 2, 5)):   # serpentine walls
            if i % 2 == 0:
                fric[r, : n - 4] = np.nan
            else:
                fric[r, 4:] = np.nan
        layer = _maze_layer(spark, fric, tsz=8)
        src = gps.Point(1.5, n - 1.5)
        drv = _stitched(cost_distance(layer, src, strategy="two_level",
                                      table_cells=64,
                                      boundary_solver="driver"))
        monkeypatch.setattr(cd, "_BF_GRID_CAP", 2)
        monkeypatch.setattr(cd, "_CONTRACT_FACTOR", 2)
        monkeypatch.setattr(cd, "_CONTRACT_CHUNK", 3)
        con = _stitched(cost_distance(layer, src, strategy="two_level",
                                      table_cells=64,
                                      boundary_solver="distributed"))
        assert cd._loop_stats["contract_levels"] == 2
        assert np.array_equal(np.isnan(drv), np.isnan(con))
        np.testing.assert_allclose(
            np.nan_to_num(drv, nan=-1.0), np.nan_to_num(con, nan=-1.0),
            atol=1e-12)

    def test_contraction_memory_cap_stops_levels(self, spark,
                                                 monkeypatch):
        """r16 (VERDICT r15 #4): per-part edge volume grows ~factor^2
        per contraction level, and every contraction chunk / expansion
        task holds one part's full within-subgraph. With a tiny
        _CONTRACT_MAX_PART_EDGES the solver must refuse to build the
        oversized level (fewer levels than the caps would allow, the
        capped size recorded) while staying bit-identical to the
        driver solver; with the default cap the same fixture contracts
        fully and records per-level part sizes under the cap."""
        from geopyspark_spark.operators import costdistance as cd

        rng = np.random.default_rng(37)
        n = 48
        fric = rng.uniform(0.5, 3.0, size=(n, n))
        for i, r in enumerate(range(3, n - 2, 5)):   # serpentine walls
            if i % 2 == 0:
                fric[r, : n - 4] = np.nan
            else:
                fric[r, 4:] = np.nan
        layer = _maze_layer(spark, fric, tsz=8)
        src = gps.Point(1.5, n - 1.5)
        drv = _stitched(cost_distance(layer, src, strategy="two_level",
                                      table_cells=64,
                                      boundary_solver="driver"))
        monkeypatch.setattr(cd, "_BF_GRID_CAP", 2)
        monkeypatch.setattr(cd, "_CONTRACT_FACTOR", 2)
        # uncapped baseline: two levels, per-level max part sizes known
        con = _stitched(cost_distance(layer, src, strategy="two_level",
                                      table_cells=64,
                                      boundary_solver="distributed"))
        assert cd._loop_stats["contract_levels"] == 2
        sizes = cd._loop_stats["contract_part_edges"]
        assert len(sizes) == 2 and all(s > 0 for s in sizes)
        np.testing.assert_allclose(
            np.nan_to_num(drv, nan=-1.0), np.nan_to_num(con, nan=-1.0),
            atol=1e-12)
        # cap below the SECOND level's largest part: only one level
        # builds, the refused size is recorded, values unchanged
        monkeypatch.setattr(cd, "_CONTRACT_MAX_PART_EDGES", sizes[1] - 1)
        capped = _stitched(cost_distance(
            layer, src, strategy="two_level", table_cells=64,
            boundary_solver="distributed"))
        assert cd._loop_stats["contract_levels"] == 1
        assert cd._loop_stats["contract_part_edges"] == sizes[:1]
        assert cd._loop_stats["contract_capped_at"] >= sizes[1]
        assert np.array_equal(np.isnan(drv), np.isnan(capped))
        np.testing.assert_allclose(
            np.nan_to_num(drv, nan=-1.0),
            np.nan_to_num(capped, nan=-1.0), atol=1e-12)
        # cap below even the FIRST level: pure flat Bellman-Ford
        monkeypatch.setattr(cd, "_CONTRACT_MAX_PART_EDGES", 1)
        flat = _stitched(cost_distance(
            layer, src, strategy="two_level", table_cells=64,
            boundary_solver="distributed"))
        assert cd._loop_stats["contract_levels"] == 0
        np.testing.assert_allclose(
            np.nan_to_num(drv, nan=-1.0),
            np.nan_to_num(flat, nan=-1.0), atol=1e-12)

    def test_bogus_boundary_solver_rejected(self, spark):
        fric = np.ones((16, 16))
        layer = _maze_layer(spark, fric, tsz=8)
        with pytest.raises(ValueError, match="boundary_solver"):
            cost_distance(layer, gps.Point(1.5, 14.5),
                          strategy="two_level", boundary_solver="bogus")

    def test_zero_friction_corridor_crosses_blocks(self, spark):
        """A zero-friction corridor makes the within-block
        boundary->boundary cost exactly 0; those zero-weight edges must
        stay in the boundary graph (the original emit_edges filtered
        `> 0` and cut the graph — everything past the corridor came
        back NaN while the fixpoint strategy propagated fine)."""
        n = 24
        fric = np.full((n, n), np.nan)
        fric[12, :] = 5.0       # one passable row...
        fric[12, 8:16] = 0.0    # ...free inside the middle block
        layer = _maze_layer(spark, fric, tsz=8)
        seed = gps.Point(0.5, n - 12 - 0.5)  # row 12, col 0
        two = cost_distance(layer, seed, strategy="two_level",
                            table_cells=64)
        fix = cost_distance(layer, seed, strategy="fixpoint",
                            block_cells=1)
        a, b = _stitched(two), _stitched(fix)
        np.testing.assert_allclose(
            np.nan_to_num(a, nan=-1.0), np.nan_to_num(b, nan=-1.0),
            atol=1e-9)
        # and the far side actually is reached at the exact cost:
        # 8 x 5.0 to the corridor, 2.5 in, free across, 2.5 out, then 5s
        assert abs(a[12, 16] - 40.0) < 1e-9
        assert abs(a[12, 23] - 75.0) < 1e-9

    def test_open_terrain_never_escapes(self, spark):
        from geopyspark_spark.operators import costdistance as cd

        fric = np.ones((32, 32))
        layer = _maze_layer(spark, fric, tsz=8)
        out = cost_distance(layer, gps.Point(1.5, 30.5), block_cells=16 * 16)
        out.df.count()
        assert not cd._loop_stats["two_level"]

    def test_two_level_rejects_temporal(self, spark):
        import datetime

        fric = np.ones((16, 16))
        layer = _maze_layer(spark, fric, tsz=8)
        t = layer.df.withColumn(
            "instant", F.lit(datetime.datetime(2020, 1, 1)))
        from dataclasses import replace

        tl = gps.TiledRasterLayer(
            t.select("key_col", "key_row", "instant", "band", "cells"),
            layer.metadata)
        with pytest.raises(ValueError, match="spatial"):
            cost_distance(tl, gps.Point(1.5, 14.5), strategy="two_level")
        with pytest.raises(ValueError, match="strategy"):
            cost_distance(layer, gps.Point(1.5, 14.5), strategy="bogus")


def _ref_dijkstra_grid(fric, sr, sc):
    import heapq

    from geopyspark_spark.operators.costdistance import _MOVES

    n, m = fric.shape
    dist = np.full((n, m), np.inf)
    dist[sr, sc] = 0.0
    pq = [(0.0, sr, sc)]
    while pq:
        dv, r, c = heapq.heappop(pq)
        if dv > dist[r, c]:
            continue
        for dr, dc, w in _MOVES:
            r2, c2 = r + dr, c + dc
            if 0 <= r2 < n and 0 <= c2 < m and fric[r2, c2] == fric[r2, c2]:
                nd = dv + (0.5 * fric[r, c] + 0.5 * fric[r2, c2]) * w
                if nd < dist[r2, c2]:
                    dist[r2, c2] = nd
                    heapq.heappush(pq, (nd, r2, c2))
    out = np.where(np.isinf(dist), np.nan, dist)
    out[np.isnan(fric)] = np.nan
    return out


class TestGaussSeidelKernel:
    """Round-5: the per-tile relaxation is Gauss-Seidel row sweeps with
    exact in-row prefix scans — sweep count tracks path direction
    reversals, not tile width (VERDICT r4 next-round #7)."""

    def test_256_tile_converges_in_few_sweeps(self):
        from geopyspark_spark.operators import costdistance as cd

        n = 256
        fric = np.ones((n + 2, n + 2))
        dist = np.full((n + 2, n + 2), cd._BIG)
        dist[1, 1] = 0.0
        out = cd._local_relax(dist, fric, float("inf"))
        # straight/diagonal unit-friction distances are exact
        assert out[1, n] == pytest.approx(n - 1)          # due east
        assert out[n, n] == pytest.approx((n - 1) * np.sqrt(2.0))  # diagonal
        assert out[n, 1] == pytest.approx(n - 1)          # due south
        # Jacobi needed ~one pass per crossed cell (>= 255 here); the
        # Gauss-Seidel kernel settles in a handful of sweep pairs
        assert cd._relax_stats["passes"] <= 255 // 5

    def test_serpentine_wall_maze_exact(self):
        """A maze forcing repeated vertical reversals: compare against the
        plain Jacobi fixpoint (unique, so any relaxation must match)."""
        from geopyspark_spark.operators import costdistance as cd

        rng = np.random.default_rng(7)
        n = 24
        fric = rng.uniform(0.5, 3.0, size=(n + 2, n + 2))
        # serpentine walls (NaN = impassable)
        for i, r in enumerate(range(3, n, 5)):
            if i % 2 == 0:
                fric[r, 1:n - 2] = np.nan
            else:
                fric[r, 4:n + 1] = np.nan
        dist = np.full((n + 2, n + 2), cd._BIG)
        dist[1, 1] = 0.0
        got = cd._local_relax(dist, fric, float("inf"))

        # reference fixpoint: naive synchronous Jacobi
        d = dist.copy()
        passable = ~np.isnan(fric)
        half = np.where(passable, 0.5 * fric, np.inf)
        for _ in range((n + 2) ** 2):
            best = np.full_like(d, np.inf)
            for dr, dc, wgt in cd._MOVES:
                nh = cd._shifted(half, dr, dc, np.inf)
                cand = (half + nh) * wgt + cd._shifted(d, dr, dc, cd._BIG)
                best = np.minimum(best, cand)
            improve = passable & (best < d - 1e-12)
            improve[0, :] = improve[-1, :] = False
            improve[:, 0] = improve[:, -1] = False
            if not improve.any():
                break
            d = np.where(improve, best, d)
        assert np.allclose(
            np.where(got > 1e200, np.nan, got),
            np.where(d > 1e200, np.nan, d),
            equal_nan=True,
        )

    def test_max_distance_cap_respected(self):
        from geopyspark_spark.operators import costdistance as cd

        n = 16
        fric = np.ones((n + 2, n + 2))
        dist = np.full((n + 2, n + 2), cd._BIG)
        dist[1, 1] = 0.0
        out = cd._local_relax(dist, fric, 5.0)
        inner = out[1:-1, 1:-1]
        reached = inner[inner < cd._BIG]
        assert reached.max() <= 5.0
        assert (inner >= cd._BIG).any()

    def test_reversal_heavy_tile_switches_to_dijkstra(self):
        """r13 (VERDICT r12 #2 re-diagnosed): random-cost surfaces make
        optimal paths reverse vertically ~O(rows) times, which cost one
        sweep pair each (the r12 big-sweep serpentine burned 166.7 s on
        2256 passes INSIDE one block). Past _SWEEP_CAP pairs the kernel
        must hand off to the exact multi-source Dijkstra finish and
        still land on the unique fixpoint (heapq Dijkstra reference,
        the same oracle tools/stateful_sweep.py replays)."""
        import heapq

        from geopyspark_spark.operators import costdistance as cd

        rng = np.random.default_rng(11)
        n = 96
        fric = rng.uniform(0.5, 3.0, size=(n, n))
        for i, r in enumerate(range(5, n - 2, 11)):
            if i % 2 == 0:
                fric[r, : n - 6] = np.nan
            else:
                fric[r, 6:] = np.nan
        d = np.full((n + 2, n + 2), cd._BIG)
        f = np.full((n + 2, n + 2), np.nan)
        f[1:n + 1, 1:n + 1] = fric
        d[2, 2] = 0.0
        out = cd._local_relax(d, f, float("inf"))
        assert cd._relax_stats["dijkstra"], (
            "reversal-heavy tile should hit the sweep cap"
        )
        assert cd._relax_stats["passes"] == cd._SWEEP_CAP
        # heapq Dijkstra reference over the same edge model
        dist = np.full((n, n), np.inf)
        dist[1, 1] = 0.0
        pq = [(0.0, 1, 1)]
        while pq:
            dv, r, c = heapq.heappop(pq)
            if dv > dist[r, c]:
                continue
            for dr, dc, w in cd._MOVES:
                r2, c2 = r + dr, c + dc
                if 0 <= r2 < n and 0 <= c2 < n and fric[r2, c2] == fric[r2, c2]:
                    nd = dv + (0.5 * fric[r, c] + 0.5 * fric[r2, c2]) * w
                    if nd < dist[r2, c2]:
                        dist[r2, c2] = nd
                        heapq.heappush(pq, (nd, r2, c2))
        got = out[1:n + 1, 1:n + 1]
        np.testing.assert_allclose(
            np.where(got > 1e200, -1.0, got),
            np.where(np.isinf(dist), -1.0, dist), atol=1e-9)

    def test_easy_tile_keeps_vectorized_sweep_path(self):
        """Open terrain stays on the sweep fast path — no Dijkstra."""
        from geopyspark_spark.operators import costdistance as cd

        n = 128
        fric = np.ones((n + 2, n + 2))
        dist = np.full((n + 2, n + 2), cd._BIG)
        dist[1, 1] = 0.0
        cd._local_relax(dist, fric, float("inf"))
        assert not cd._relax_stats["dijkstra"]
        assert cd._relax_stats["passes"] < cd._SWEEP_CAP

    def test_dijkstra_finish_respects_max_distance_and_ring(self):
        """The Dijkstra finish honors the truncation frontier and never
        writes the fixed boundary ring."""
        from geopyspark_spark.operators import costdistance as cd

        n = 8
        fric = np.ones((n + 2, n + 2))
        d = np.full((n + 2, n + 2), cd._BIG)
        d[1, 1] = 0.0
        d[0, 5] = 123.0  # ring donor value
        half = np.where(np.isnan(fric), np.inf, 0.5 * fric)
        out = cd._dijkstra_finish(d, half, 4.0)
        inner = out[1:-1, 1:-1]
        reached = inner[inner < cd._BIG]
        assert reached.max() <= 4.0
        assert (inner >= cd._BIG).any()
        assert out[0, 5] == 123.0  # ring untouched
        # ring donors DO seed interior relaxation
        d2 = np.full((n + 2, n + 2), cd._BIG)
        d2[0, 5] = 1.0
        out2 = cd._dijkstra_finish(d2, half, float("inf"))
        assert out2[1, 5] == pytest.approx(2.0)


class TestGaussSeidelProperty:
    def test_random_mazes_match_jacobi_fixpoint(self):
        """Property check: on random friction fields with random walls and
        random seeds, the Gauss-Seidel kernel lands on the same (unique)
        min-relaxation fixpoint as naive synchronous Jacobi."""
        from geopyspark_spark.operators import costdistance as cd

        for seed in range(6):
            rng = np.random.default_rng(100 + seed)
            n = 12
            fric = rng.uniform(0.2, 4.0, size=(n + 2, n + 2))
            walls = rng.random((n + 2, n + 2)) < 0.18
            fric[walls] = np.nan
            dist = np.full((n + 2, n + 2), cd._BIG)
            # 1-3 random seed cells (may land on walls: then nothing seeds)
            for _ in range(rng.integers(1, 4)):
                r, c = rng.integers(1, n + 1, size=2)
                if not np.isnan(fric[r, c]):
                    dist[r, c] = 0.0
            max_d = float(rng.choice([np.inf, 8.0, 20.0]))
            got = cd._local_relax(dist, fric, max_d)

            d = dist.copy()
            passable = ~np.isnan(fric)
            half = np.where(passable, 0.5 * fric, np.inf)
            for _ in range((n + 2) ** 2):
                best = np.full_like(d, np.inf)
                for dr, dc, wgt in cd._MOVES:
                    nh = cd._shifted(half, dr, dc, np.inf)
                    cand = (half + nh) * wgt + cd._shifted(d, dr, dc, cd._BIG)
                    best = np.minimum(best, cand)
                improve = passable & (best <= max_d) & (best < d - 1e-12)
                improve[0, :] = improve[-1, :] = False
                improve[:, 0] = improve[:, -1] = False
                if not improve.any():
                    break
                d = np.where(improve, best, d)
            np.testing.assert_allclose(
                np.where(got > 1e200, np.nan, got),
                np.where(d > 1e200, np.nan, d),
                equal_nan=True, atol=1e-9,
                err_msg=f"maze seed {seed} (max_distance={max_d})",
            )


def test_default_cap_spans_multiblock_mazes(spark):
    """r12 regression: the default max_iterations must be the CELL-count
    bound — a dense serpentine maze re-enters a block once per wall gap
    (and a TILE band once per gap it contains), so both the blocked
    layout's area (4*2*2=16 here) and the r11 tile-area bound (4*4*4=64)
    under-cap it and returned unconverged distances. Asserts the maze
    needs more rounds than both old bounds, converges under the default
    (no RuntimeWarning), and blocked == unblocked exactly."""
    import warnings

    from geopyspark_spark.operators import costdistance as cd

    rng = np.random.default_rng(42)
    n, tsz = 64, 16
    tiles = n // tsz                       # 4x4 tiles
    fric = rng.uniform(0.5, 3.0, size=(n, n))
    for i, r in enumerate(range(3, n - 2, 3)):   # dense serpentine walls
        if i % 2 == 0:
            fric[r, : n - 3] = np.nan
        else:
            fric[r, 3:] = np.nan
    layout = gps.LayoutDefinition(
        gps.Extent(0, 0, float(n), float(n)),
        gps.TileLayout(tiles, tiles, tsz, tsz))
    md = gps.LayerMetadata(
        crs="epsg:4326", cell_type="float64", layout=layout,
        bounds=((0, 0), (tiles - 1, tiles - 1)),
        extent=layout.extent, num_bands=1)
    rows = [(kc, kr, 0,
             fric[kr * tsz:(kr + 1) * tsz, kc * tsz:(kc + 1) * tsz]
             .reshape(-1).tolist())
            for kc in range(tiles) for kr in range(tiles)]
    df = spark.createDataFrame(
        rows, "key_col int, key_row int, band int, cells array<double>")
    layer = gps.TiledRasterLayer(df.cache(), md)
    layer.df.count()
    src = gps.Point(1.5, n - 1.5)
    # block_cells = 1024 -> g=2 -> 2x2 blocks of 32x32 cells
    assert cd._block_factor(layout.tile_layout, 1024) == 2
    # strategy="fixpoint" pins the CAP itself: under "auto" this maze
    # now escapes to the two-level solve after _ESCAPE_ROUNDS (r13),
    # which TestTwoLevel covers — the cell-count default cap still
    # governs the fixpoint strategy (and temporal layers)
    with warnings.catch_warnings():
        warnings.simplefilter("error", RuntimeWarning)  # must CONVERGE
        blocked = cd.cost_distance(layer, src, block_cells=1024,
                                   strategy="fixpoint")
        got = {(r["key_col"], r["key_row"]): r["cells"]
               for r in blocked.df.collect()}
    rounds = len(cd._loop_stats["relaxed_per_round"])
    assert rounds > 4 * 2 * 2, (
        f"maze converged in {rounds} rounds — weaken the walls or the "
        "regression no longer distinguishes the bounds")
    with warnings.catch_warnings():
        warnings.simplefilter("error", RuntimeWarning)  # must CONVERGE
        plain = cd.cost_distance(layer, src, block_cells=1)
        exp = {(r["key_col"], r["key_row"]): r["cells"]
               for r in plain.df.collect()}
    rounds_plain = len(cd._loop_stats["relaxed_per_round"])
    assert rounds_plain > 4 * 4 * 4, (
        f"unblocked maze converged in {rounds_plain} rounds — below the "
        "r11 tile-area bound, the regression no longer pins it")
    assert set(got) == set(exp)
    for k in exp:
        np.testing.assert_allclose(
            np.nan_to_num(np.asarray(got[k]), nan=-1.0),
            np.nan_to_num(np.asarray(exp[k]), nan=-1.0), atol=1e-9)
    layer.df.unpersist()


def test_blocked_non_divisible_layout(spark):
    """r12 review finding: a layout NOT divisible by the block factor
    pads the block grid past the original extent — the coalesced
    metadata must extend its extent at the ORIGINAL cell size (keeping
    it would shrink the derived cell size and shift every seed).
    5x5 tiles with g=2 -> 3x3 blocks; blocked == unblocked exactly."""
    from geopyspark_spark.operators import costdistance as cd

    rng = np.random.default_rng(9)
    n_tiles, tsz = 5, 8
    n = n_tiles * tsz
    layout = gps.LayoutDefinition(
        gps.Extent(0, 0, float(n), float(n)),
        gps.TileLayout(n_tiles, n_tiles, tsz, tsz))
    md = gps.LayerMetadata(
        crs="epsg:4326", cell_type="float64", layout=layout,
        bounds=((0, 0), (n_tiles - 1, n_tiles - 1)),
        extent=layout.extent, num_bands=1)
    fric = rng.uniform(0.5, 3.0, size=(n, n))
    fric[17, 4:36] = np.nan
    tiles = [
        (kc, kr, 0, fric[kr * tsz:(kr + 1) * tsz, kc * tsz:(kc + 1) * tsz])
        for kc in range(n_tiles) for kr in range(n_tiles)]
    layer = gps.from_numpy(spark, tiles, md)
    src = gps.Point(20.5, 20.5)          # interior seed, not a corner
    assert cd._block_factor(layout.tile_layout, tsz * tsz * 4) == 2
    blocked = cost_distance(layer, src, block_cells=tsz * tsz * 4)
    got = {(r["key_col"], r["key_row"]): r["cells"]
           for r in blocked.df.collect()}
    plain = cost_distance(layer, src, block_cells=1)
    exp = {(r["key_col"], r["key_row"]): r["cells"]
           for r in plain.df.collect()}
    assert set(got) == set(exp) and len(got) == n_tiles * n_tiles
    for k in exp:
        np.testing.assert_allclose(
            np.nan_to_num(np.asarray(got[k]), nan=-1.0),
            np.nan_to_num(np.asarray(exp[k]), nan=-1.0), atol=1e-9)


# ---- one-block solve --------------------------------------------------------

def _ref_sources(fric, cells, max_d=np.inf):
    """Exact multi-source distances: the min over single-source
    :func:`_ref_dijkstra_grid` runs, truncated at ``max_d``."""
    out = np.full(fric.shape, np.nan)
    for r, c in cells:
        d = _ref_dijkstra_grid(fric, r, c)
        out = np.fmin(out, d)
    out[out > max_d] = np.nan
    return out


def _one_block_case(name):
    """(planes {(instant, band): friction (H, W) with NaN walls}, tile
    size, cell type, absent tile key, source point cells, source
    rectangle (r0, c0, r1, c1) or None, max_distance)."""
    import datetime

    rng = np.random.default_rng(sum(map(ord, name)))

    def fric(h, w):
        f = rng.uniform(0.5, 3.0, size=(h, w))
        f[rng.random((h, w)) < 0.12] = np.nan
        f[h // 2, 2:] = np.nan  # a wall with one gap at the west edge
        return f

    planes = {(None, 0): fric(32, 32)}
    tsz, cell_type, drop, points, rect, max_d = 8, "float64", None, [(3, 4)], None, np.inf
    if name == "nodata_sentinel":
        cell_type = "float64ud-1.0"
    elif name == "non_square":
        planes = {(None, 0): fric(16, 24)}  # 3x2 tiles
        points = [(12, 20)]
    elif name == "absent_tile":
        drop = (1, 1)
    elif name == "point_and_polygon":
        points, rect = [(28, 3)], (20, 22, 23, 26)
    elif name == "max_distance":
        max_d = 12.0
    elif name == "temporal":
        t0 = datetime.datetime(2020, 1, 1)
        planes = {(t0, 0): fric(32, 32),
                  (t0 + datetime.timedelta(days=1), 0): fric(32, 32)}
    elif name == "two_bands":
        planes = {(None, 0): fric(32, 32), (None, 1): fric(32, 32)}
    for f in planes.values():
        for r, c in points:
            f[r, c] = 1.0  # passable seeds
    return planes, tsz, cell_type, drop, points, rect, max_d


_ONE_BLOCK_CASES = ("nan_walls", "nodata_sentinel", "non_square", "absent_tile",
                    "point_and_polygon", "max_distance", "temporal", "two_bands")


class TestOneBlock:
    """A layout that fits one super-tile block is solved by one exact
    local relaxation per (instant, band) plane, without the fixpoint
    loop: it must agree with the tile-granular loop and with an exact
    Dijkstra, keep the input's key set and emit NaN, never NULL."""

    @pytest.mark.parametrize("name", _ONE_BLOCK_CASES)
    def test_matches_loop_and_dijkstra(self, spark, name):
        from dataclasses import replace

        from geopyspark_spark.operators import costdistance as cd

        planes, tsz, cell_type, drop, points, rect, max_d = _one_block_case(name)
        h, w = next(iter(planes.values())).shape
        nc, nr = w // tsz, h // tsz
        layout = gps.LayoutDefinition(
            gps.Extent(0, 0, float(w), float(h)), gps.TileLayout(nc, nr, tsz, tsz))
        md = replace(f1_metadata(cell_type), layout=layout,
                     bounds=((0, 0), (nc - 1, nr - 1)), extent=layout.extent)
        sentinel = -1.0 if cell_type.endswith("ud-1.0") else np.nan
        tiles = []
        for (inst, band), f in planes.items():
            stored = np.where(np.isnan(f), sentinel, f)
            for kc in range(nc):
                for kr in range(nr):
                    if (kc, kr) == drop:
                        f[kr * tsz:(kr + 1) * tsz, kc * tsz:(kc + 1) * tsz] = np.nan
                        continue
                    t = stored[kr * tsz:(kr + 1) * tsz, kc * tsz:(kc + 1) * tsz]
                    tiles.append((kc, kr, band, t) if inst is None
                                 else (kc, kr, inst, band, t))
        layer = gps.from_numpy(spark, tiles, md)
        geoms = [gps.Point(c + 0.5, h - r - 0.5) for r, c in points]
        seeds = list(points)
        if rect is not None:
            r0, c0, r1, c1 = rect
            geoms.append(gps.Polygon([(c0 + 0.2, h - r0 - 0.2), (c1 + 0.8, h - r0 - 0.2),
                                      (c1 + 0.8, h - r1 - 0.8), (c0 + 0.2, h - r1 - 0.8)]))
            seeds += [(r, c) for r in range(r0, r1 + 1) for c in range(c0, c1 + 1)]
        assert cd._block_factor(layout.tile_layout, 1 << 20) >= max(nc, nr)

        def rows(out):
            has_t = out.is_temporal
            return {(r["key_col"], r["key_row"], r["instant"] if has_t else None,
                     r["band"]): r["cells"] for r in out.df.collect()}

        got = rows(cost_distance(layer, geoms, max_distance=max_d))
        assert cd._loop_stats["one_block"]
        loop = rows(cost_distance(layer, geoms, max_distance=max_d, block_cells=1))
        assert not cd._loop_stats["one_block"]
        want_keys = {(t[0], t[1], t[2] if len(t) == 5 else None, t[-2]) for t in tiles}
        assert set(got) == set(loop) == want_keys
        for k, cells in got.items():
            assert None not in cells, f"SQL NULL cell in tile {k}"
            np.testing.assert_allclose(
                np.nan_to_num(np.asarray(cells), nan=-1.0),
                np.nan_to_num(np.asarray(loop[k]), nan=-1.0), atol=1e-9,
                err_msg=f"{name} {k}")
        for (inst, band), f in planes.items():
            exp = _ref_sources(f, seeds, max_d)
            for (kc, kr, i, b), cells in got.items():
                if (i, b) != (inst, band):
                    continue
                np.testing.assert_allclose(
                    np.nan_to_num(np.asarray(cells).reshape(tsz, tsz), nan=-1.0),
                    np.nan_to_num(exp[kr * tsz:(kr + 1) * tsz,
                                      kc * tsz:(kc + 1) * tsz], nan=-1.0),
                    atol=1e-9, err_msg=f"{name} {(kc, kr, i, b)}")

    def test_build_is_lazy_and_path_is_recorded(self, spark):
        """Building a one-block cost distance submits no Spark job and
        its first action at most 3; an explicit max_iterations or a
        one-tile block budget still runs the fixpoint loop."""
        from geopyspark_spark.operators import costdistance as cd

        rng = np.random.default_rng(3)
        layer = _maze_layer(spark, rng.uniform(0.5, 3.0, size=(32, 32)))
        src = gps.Point(1.5, 30.5)
        sc = spark.sparkContext
        st = sc.statusTracker()
        try:
            sc.setJobGroup("cd_one_block_build", "build")
            out = cost_distance(layer, src)
            assert st.getJobIdsForGroup("cd_one_block_build") == []
            assert cd._loop_stats["one_block"]
            sc.setJobGroup("cd_one_block_action", "action")
            fast = {(r["key_col"], r["key_row"]): r["cells"] for r in out.df.collect()}
            assert 1 <= len(st.getJobIdsForGroup("cd_one_block_action")) <= 3
        finally:
            sc.setLocalProperty("spark.jobGroup.id", None)
            sc.setLocalProperty("spark.job.description", None)
        for kwargs in ({"max_iterations": 50}, {"block_cells": 1}):
            looped = cost_distance(layer, src, **kwargs)
            assert not cd._loop_stats["one_block"], kwargs
            assert cd._loop_stats["relaxed_per_round"], kwargs
            assert cd._loop_stats["converged"], kwargs
            for r in looped.df.collect():
                np.testing.assert_allclose(
                    r["cells"], fast[(r["key_col"], r["key_row"])], atol=1e-9)

    @pytest.mark.parametrize("kwargs", [{}, {"max_iterations": 50}])
    def test_negative_friction_raises(self, spark, kwargs):
        """A negative friction cell in a layer without NoData makes the
        min-plus relaxation unbounded: the relax kernel raises a
        ValueError naming the value instead of crashing the worker."""
        fric = np.ones((16, 16))
        fric[5, 9] = -1.0
        layer = _maze_layer(spark, fric)
        with pytest.raises(Exception, match=r"negative friction -1\.0"):
            out = cost_distance(layer, gps.Point(1.5, 14.5), **kwargs)
            out.df.collect()


def test_looped_call_leaves_no_cache_entry(spark):
    """Every persisted round of the fixpoint loop is released, and the
    result reads a lineage pin rather than a session-long cache entry:
    once a looped call's result is collected, the CacheManager is empty."""
    from geopyspark_spark.operators import costdistance as cd

    spark.catalog.clearCache()
    layout = gps.LayoutDefinition(gps.Extent(0, 0, 16, 16), gps.TileLayout(4, 4, 4, 4))
    md = gps.LayerMetadata(
        crs="epsg:4326", cell_type="float64", layout=layout,
        bounds=((0, 0), (3, 3)), extent=layout.extent, num_bands=1)
    tiles = [(kc, kr, 0, np.ones((4, 4))) for kc in range(4) for kr in range(4)]
    layer = gps.from_numpy(spark, tiles, md)
    a = _stitched(cost_distance(layer, gps.Point(0.5, 15.5), block_cells=1))
    assert len(cd._loop_stats["relaxed_per_round"]) > 1
    assert abs(a[15, 15] - 15 * math.sqrt(2)) < 1e-9
    assert spark._jsparkSession.sharedState().cacheManager().isEmpty()
