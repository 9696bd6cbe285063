"""Catalog (write/read/query/read_value/attributes/update), rasterize,
euclidean distance, geotiff plumbing, shapefile/GeoJSON ingest tests."""

import os

import numpy as np
import pytest

import geopyspark_spark as gps
from geopyspark_spark.operators.rasterize import euclidean_distance, rasterize, rasterize_features
from geopyspark_spark.sources import catalog
from geopyspark_spark.sources import geotiff as gt
from geopyspark_spark.sources import shapefile as shp
from geopyspark_spark.sources.numpy_source import to_numpy

from conftest import f1_metadata


class TestCatalog:
    def test_write_read_roundtrip(self, spark, f1_layer, tmp_path):
        uri = str(tmp_path / "cat")
        catalog.write(uri, "ones", f1_layer, zoom=0)
        back = catalog.read(spark, uri, "ones", 0)
        assert back.count() == 4
        assert back.metadata.cell_type == f1_layer.metadata.cell_type
        assert back.metadata.layout == f1_layer.metadata.layout
        a = {(t[0], t[1]): t[3] for t in to_numpy(back)}
        assert a[(0, 0)][0, 0] == 0.0

    def test_query_spatial_pushdown(self, spark, f1_layer, tmp_path):
        uri = str(tmp_path / "cat")
        catalog.write(uri, "ones", f1_layer, zoom=0)
        out = catalog.query(spark, uri, "ones", 0, query_geom=gps.box(0, 0, 4, 4))
        assert out.count() == 1  # only tile (0,1)
        assert out.collect_keys()[0]["key_col"] == 0
        # predicate reaches the scan
        plan = out.df._jdf.queryExecution().executedPlan().toString()
        assert "PushedFilters: [" in plan and "key_col" in plan

    def test_query_no_intersection(self, spark, f1_layer, tmp_path):
        uri = str(tmp_path / "cat")
        catalog.write(uri, "ones", f1_layer, zoom=0)
        out = catalog.query(spark, uri, "ones", 0, query_geom=gps.box(100, 100, 110, 110))
        assert out.count() == 0

    def test_read_value_no_spark(self, spark, f1_layer, tmp_path):
        uri = str(tmp_path / "cat")
        catalog.write(uri, "ones", f1_layer, zoom=0)
        rows = catalog.read_value(uri, "ones", 0, 1, 1)
        assert len(rows) == 1

    def test_attribute_store(self, f1_layer, tmp_path, spark):
        uri = str(tmp_path / "cat")
        catalog.write(uri, "ones", f1_layer, zoom=0)
        store = catalog.AttributeStore(uri)
        store.write("ones", 0, "histogram", {"bins": [1, 2, 3]})
        assert store.contains("ones", 0, "histogram")
        assert store.read("ones", 0, "histogram") == {"bins": [1, 2, 3]}
        assert store.list("ones", 0) == ["histogram"]
        assert ("ones", 0) in store.layers()
        store.delete("ones", 0, "histogram")
        assert not store.contains("ones", 0, "histogram")

    def test_update_layer(self, spark, f1_layer, tmp_path):
        uri = str(tmp_path / "cat")
        catalog.write(uri, "ones", f1_layer, zoom=0)
        md = f1_metadata()
        newtile = gps.from_numpy(spark, [(0, 0, 0, np.full((5, 5), 9.0))], md)
        catalog.update_layer(spark, uri, "ones", 0, newtile)
        back = catalog.read(spark, uri, "ones", 0)
        a = {(t[0], t[1]): t[3] for t in to_numpy(back)}
        assert a[(0, 0)][2, 2] == 9.0  # new tile wins
        assert a[(1, 1)][2, 2] == 1.0  # untouched tiles remain

    def test_temporal_query(self, spark, tmp_path):
        from datetime import datetime, timezone

        md = f1_metadata()
        t1 = datetime(2024, 1, 1, tzinfo=timezone.utc)
        t2 = datetime(2024, 2, 1, tzinfo=timezone.utc)
        tiles = []
        for kc in range(2):
            for kr in range(2):
                tiles.append((kc, kr, t1, 0, np.ones((5, 5))))
                tiles.append((kc, kr, t2, 0, np.full((5, 5), 2.0)))
        layer = gps.from_numpy(spark, tiles, md)
        uri = str(tmp_path / "cat")
        catalog.write(uri, "st", layer, zoom=0)
        out = catalog.query(spark, uri, "st", 0, time_intervals=[t2])
        assert out.count() == 4


    def test_temporal_point_read_records(self, spark, tmp_path):
        """``instant=`` point reads (read_value and ValueReader) return
        the stored record of that instant only, as named dicts."""
        from datetime import datetime, timezone

        md = f1_metadata()
        t1 = datetime(2024, 1, 1, tzinfo=timezone.utc)
        t2 = datetime(2024, 2, 1, tzinfo=timezone.utc)
        tiles = []
        for kc in range(2):
            for kr in range(2):
                tiles.append((kc, kr, t1, 0, np.full((5, 5), kc + 10.0 * kr)))
                tiles.append((kc, kr, t2, 0, np.full((5, 5), 2.0)))
        uri = str(tmp_path / "cat")
        catalog.write(uri, "st", gps.from_numpy(spark, tiles, md), zoom=0)
        recs = catalog.read_value(uri, "st", 0, 1, 1,
                                  instant="2024-01-01 00:00:00")
        assert len(recs) == 1
        rec = recs[0]
        assert set(rec) == {"key_col", "key_row", "instant", "band",
                            "cells", "zindex"}
        assert (rec["key_col"], rec["key_row"], rec["band"]) == (1, 1, 0)
        assert rec["instant"] == datetime(2024, 1, 1)
        assert rec["cells"] == [11.0] * 25
        both = catalog.read_value(uri, "st", 0, 1, 1)
        assert sorted(r["instant"] for r in both) == [datetime(2024, 1, 1),
                                                      datetime(2024, 2, 1)]
        vr = catalog.ValueReader(uri, "st", 0)
        assert vr.read(1, 1, zdt=t2)[0]["cells"] == [2.0] * 25
        assert vr.read(1, 1, zdt="2024-03-01 00:00:00") is None

    def test_write_pyramid_jobs_carry_caller_group(self, spark, f1_layer,
                                                   tmp_path):
        """write_pyramid's zoom pool runs its Spark jobs under the
        caller's job group: none of them start without a group."""
        from geopyspark_spark.layer import Pyramid

        sc = spark.sparkContext
        st = sc.statusTracker()
        before = set(st.getJobIdsForGroup(None))
        sc.setJobGroup("g", "write_pyramid attribution")
        try:
            catalog.write_pyramid(str(tmp_path / "cat"), "p",
                                  Pyramid({0: f1_layer, 1: f1_layer + 1.0}))
        finally:
            sc.setLocalProperty("spark.jobGroup.id", None)
            sc.setLocalProperty("spark.job.description", None)
        assert st.getJobIdsForGroup("g")
        assert set(st.getJobIdsForGroup(None)) <= before


class TestLargeAoiQuery:
    """The scalable spatial-query path (r13): above ``exact_key_limit``
    envelope tiles the driver emits only O(1) envelope bounds and the
    exact tile-intersects test runs executor-side (Arrow-batched) —
    a continent-sized AOI at a deep zoom must never enumerate keys on
    the driver."""

    def _keys(self, layer):
        return {(r["key_col"], r["key_row"])
                for r in layer.df.select("key_col", "key_row").collect()}

    def test_distributed_path_matches_exact(self, spark, f1_layer, tmp_path):
        uri = str(tmp_path / "cat")
        catalog.write(uri, "big", f1_layer, zoom=0)
        # a triangle that clips tiles asymmetrically (not every tile in
        # its envelope intersects it)
        tri = gps.Polygon([(0.5, 0.5), (9.5, 0.5), (0.5, 9.5)])
        exact = catalog.query(spark, uri, "big", 0, tri)
        dist = catalog.query(spark, uri, "big", 0, tri, exact_key_limit=1)
        assert self._keys(exact) == self._keys(dist) != set()
        # the envelope bound still reaches the scan in the distributed
        # plan, and the exact test is the Arrow path, not row-python
        plan = dist.df._jdf.queryExecution().executedPlan().toString()
        assert "ArrowEvalPython" in plan
        assert "BatchEvalPython" not in plan

    def test_multi_geometry_and_miss(self, spark, f1_layer, tmp_path):
        uri = str(tmp_path / "cat")
        catalog.write(uri, "big", f1_layer, zoom=0)
        hit = gps.Polygon([(0.5, 0.5), (2.5, 0.5), (0.5, 2.5)])
        miss = gps.Polygon([(100.0, 100.0), (101.0, 100.0), (100.0, 101.0)])
        both = catalog.query(spark, uri, "big", 0, [hit, miss],
                             exact_key_limit=1)
        only_hit = catalog.query(spark, uri, "big", 0, hit)
        assert self._keys(both) == self._keys(only_hit)
        none = catalog.query(spark, uri, "big", 0, miss, exact_key_limit=1)
        assert none.df.count() == 0

    def test_envelope_bounds_match_extent_keys(self, f1_layer):
        from geopyspark_spark.core.keys import KeyTransform
        from geopyspark_spark.sources.catalog import _envelope_key_bounds

        md = f1_layer.metadata
        kt = KeyTransform(md.layout)
        for geom in (
            gps.box(0.0, 0.0, 5.0, 5.0),     # boundary-aligned edges
            gps.box(1.0, 1.0, 9.9, 4.2),
            gps.box(-3.0, -3.0, 0.5, 0.5),   # clipped at the layout edge
        ):
            b = _envelope_key_bounds(kt, geom)
            ext = geom.bounds
            from geopyspark_spark.core.extent import Extent

            expect = set(kt.extent_keys(Extent(*ext)))
            got = (set() if b is None else
                   {(c, r) for c in range(b[0], b[2] + 1)
                    for r in range(b[1], b[3] + 1)})
            assert got == expect, geom.bounds


class TestOptimisticUpdate:
    """Lost-update protection (r13): update_layer's read-merge-write is
    optimistic — a commit that would replace a version OTHER than the
    one it merged from is refused and retried against the fresh state,
    so two concurrent updates both land."""

    def test_stale_expected_prev_refused_and_cleaned(self, spark, f1_layer,
                                                     tmp_path):
        from geopyspark_spark.sources.catalog import ConflictError

        uri = str(tmp_path / "cat")
        catalog.write(uri, "o", f1_layer, zoom=0)            # v1
        catalog.write(uri, "o", f1_layer, zoom=0)            # v2
        with pytest.raises(ConflictError, match="expected to replace"):
            catalog.write(uri, "o", f1_layer, zoom=0, expected_prev="v1")
        # the refused claim's dir was reclaimed immediately
        assert catalog.list_versions(uri, "o", 0) == ["v1", "v2"]
        assert catalog.current_version(uri, "o", 0) == "v2"

    def test_concurrent_updates_both_land(self, spark, f1_layer, tmp_path):
        import threading

        import numpy as np

        import geopyspark_spark as gps
        from conftest import f1_metadata

        uri = str(tmp_path / "cat")
        catalog.write(uri, "o", f1_layer, zoom=0)
        md = f1_metadata()

        def patch(key, fill):
            return gps.from_numpy(
                spark, [(key[0], key[1], 0, np.full((5, 5), fill))], md)

        barrier = threading.Barrier(2)
        errors = []

        def worker(key, fill):
            try:
                p = patch(key, fill)
                p.df.count()  # materialize before the barrier
                barrier.wait(timeout=120)
                catalog.update_layer(spark, uri, "o", 0, p)
            except Exception as e:  # pragma: no cover
                errors.append(e)

        ts = [threading.Thread(target=worker, args=((0, 0), 7.0)),
              threading.Thread(target=worker, args=((1, 1), 9.0))]
        for t in ts:
            t.start()
        for t in ts:
            t.join(timeout=300)
        assert not errors
        back = catalog.read(spark, uri, "o", 0)
        tiles = {(t[0], t[1]): t[3] for t in to_numpy(back)}
        # BOTH patches present — the slower writer re-merged, not clobbered
        assert tiles[(0, 0)][2, 2] == 7.0
        assert tiles[(1, 1)][2, 2] == 9.0
        assert tiles[(0, 1)][2, 2] == 1.0  # untouched tile survives

    def test_object_backend_conflict_cleans_uploaded_version(
            self, spark, f1_layer, monkeypatch, tmp_path):
        from geopyspark_spark.sources import catalog_object as co
        from geopyspark_spark.sources import objectstore as obs
        from geopyspark_spark.sources.catalog import ConflictError
        from geopyspark_spark.sources.s3stub import start_stub

        srv = start_stub()
        monkeypatch.setenv("AWS_ENDPOINT_URL", srv.endpoint)
        for var in ("AWS_ACCESS_KEY_ID", "AWS_SECRET_ACCESS_KEY",
                    "AWS_SESSION_TOKEN"):
            monkeypatch.delenv(var, raising=False)
        monkeypatch.setenv("GEOPYSPARK_OBJCAT_CACHE",
                           str(tmp_path / "objcache"))
        try:
            uri = "s3://b/cat"
            catalog.write(uri, "o", f1_layer, zoom=0)  # v1
            catalog.write(uri, "o", f1_layer, zoom=0)  # v2
            with pytest.raises(ConflictError):
                catalog.write(uri, "o", f1_layer, zoom=0, expected_prev="v1")
            # the refused version's uploaded objects were swept — but
            # the tiny .claim tombstone SURVIVES (r15 review), pinning
            # v3 so the next writer cannot reuse the number (the local
            # read cache treats (root, vN) as immutable forever)
            assert catalog.list_versions(uri, "o", 0) == ["v1", "v2"]
            leftovers = [k for k in srv.objects if "/v3/" in k]
            assert leftovers == ["b/cat/o/0/v3/.claim"]
            catalog.write(uri, "o", f1_layer, zoom=0)
            assert co.current_version(uri, "o", 0) == "v4"
        finally:
            srv.shutdown()


class TestTimeTravel:
    """Version-history reads (r13): ``read(..., version=)`` over retained
    commits, ``list_versions``/``current_version``, and the
    ``keep_history`` GC retention knob — the Delta/Iceberg snapshot
    pattern on this catalog's pointer-file protocol."""

    @staticmethod
    def _cell_sum(layer):
        return sum(float(t[3].sum()) for t in to_numpy(layer))

    def test_read_previous_version(self, spark, f1_layer, tmp_path):
        uri = str(tmp_path / "cat")
        catalog.write(uri, "tt", f1_layer, zoom=0)
        catalog.write(uri, "tt", f1_layer + 1.0, zoom=0)
        assert catalog.list_versions(uri, "tt", 0) == ["v1", "v2"]
        assert catalog.current_version(uri, "tt", 0) == "v2"
        old = catalog.read(spark, uri, "tt", 0, version="v1")
        cur = catalog.read(spark, uri, "tt", 0)
        assert self._cell_sum(old) == pytest.approx(99.0)
        assert self._cell_sum(cur) == pytest.approx(199.0)
        # int and bare-digit forms normalize; the explicit current
        # version reads identically to the default
        assert self._cell_sum(catalog.read(spark, uri, "tt", 0, version=1)) \
            == pytest.approx(99.0)
        assert self._cell_sum(catalog.read(spark, uri, "tt", 0, version="2")) \
            == pytest.approx(199.0)

    def test_query_and_read_value_at_version(self, spark, f1_layer, tmp_path):
        uri = str(tmp_path / "cat")
        catalog.write(uri, "tt", f1_layer, zoom=0)
        catalog.write(uri, "tt", f1_layer + 1.0, zoom=0)
        q = catalog.query(spark, uri, "tt", 0,
                          gps.Polygon([(0, 0), (0, 4), (4, 4), (4, 0)]),
                          version="v1")
        assert q.df.count() > 0
        recs = catalog.read_value(uri, "tt", 0, 1, 1, version="v1")
        flat = np.asarray(recs[0]["cells"], dtype=np.float64)
        assert flat.max() == pytest.approx(1.0)  # v2 would read 2.0

    def test_default_retention_is_prev_only(self, spark, f1_layer, tmp_path):
        uri = str(tmp_path / "cat")
        for _ in range(3):
            catalog.write(uri, "tt", f1_layer, zoom=0)
        # GC deferred one commit: v2 (prev) survives, v1 is gone
        assert catalog.list_versions(uri, "tt", 0) == ["v2", "v3"]
        with pytest.raises(FileNotFoundError, match="not retained"):
            catalog.read(spark, uri, "tt", 0, version="v1")

    def test_keep_history_pins_versions(self, spark, f1_layer, tmp_path):
        uri = str(tmp_path / "cat")
        for i in range(5):
            catalog.write(uri, "tt", f1_layer + float(i), zoom=0,
                          keep_history=3)
        assert catalog.list_versions(uri, "tt", 0) == ["v2", "v3", "v4", "v5"]
        # the oldest retained version reads back its own data
        old = catalog.read(spark, uri, "tt", 0, version="v2")
        assert self._cell_sum(old) == pytest.approx(99.0 + 100.0)

    def test_bad_version_raises(self, spark, f1_layer, tmp_path):
        uri = str(tmp_path / "cat")
        catalog.write(uri, "tt", f1_layer, zoom=0)
        with pytest.raises(ValueError, match="not a catalog version"):
            catalog.read(spark, uri, "tt", 0, version="latest")
        with pytest.raises(FileNotFoundError, match="not retained"):
            catalog.read(spark, uri, "tt", 0, version="v99")

    def test_diff_versions_statuses(self, spark, f1_layer, tmp_path):
        import geopyspark_spark as gps
        from pyspark.sql import functions as F

        uri = str(tmp_path / "cat")
        # v1 = the 2x2 layer minus tile (1,1); v2 = full layer with tile
        # (0,0) rewritten — (1,1) added, (0,1)/(1,0) unchanged,
        # (0,0) changed
        v1 = gps.TiledRasterLayer(
            f1_layer.df.where(~((F.col("key_col") == 1)
                                & (F.col("key_row") == 1))),
            f1_layer.metadata)
        v2df = f1_layer.df.withColumn(
            "cells",
            F.when((F.col("key_col") == 0) & (F.col("key_row") == 0),
                   F.transform("cells", lambda x: x + F.lit(2.0)))
            .otherwise(F.col("cells")))
        v2 = gps.TiledRasterLayer(v2df, f1_layer.metadata)
        catalog.write(uri, "d", v1, zoom=0)
        catalog.write(uri, "d", v2, zoom=0)
        got = {(r["key_col"], r["key_row"]): r["status"]
               for r in catalog.diff_versions(spark, uri, "d", 0, 1).collect()}
        assert got == {(1, 1): "added", (0, 0): "changed",
                       (0, 1): "unchanged", (1, 0): "unchanged"}
        # reverse direction: added becomes removed
        rev = {(r["key_col"], r["key_row"]): r["status"]
               for r in catalog.diff_versions(
                   spark, uri, "d", 0, "v2", "v1").collect()}
        assert rev[(1, 1)] == "removed"

    def test_restore_rolls_back_without_rewriting_history(self, spark,
                                                           f1_layer, tmp_path):
        uri = str(tmp_path / "cat")
        catalog.write(uri, "r", f1_layer, zoom=0)            # v1 good
        catalog.write(uri, "r", f1_layer + 50.0, zoom=0)     # v2 bad
        vpath = catalog.restore(uri, "r", 0, "v1")
        assert vpath.endswith("v3")
        assert catalog.current_version(uri, "r", 0) == "v3"
        back = catalog.read(spark, uri, "r", 0)
        assert self._cell_sum(back) == pytest.approx(99.0)   # v1 content
        # history not rewritten: the bad v2 is still readable (prev)
        bad = catalog.read(spark, uri, "r", 0, version="v2")
        assert self._cell_sum(bad) == pytest.approx(99.0 + 50 * 100)
        with pytest.raises(FileNotFoundError, match="not retained"):
            catalog.restore(uri, "r", 0, "v99")

    def test_diff_nan_cells_compare_equal(self, spark, f1_layer, tmp_path):
        import geopyspark_spark as gps
        from pyspark.sql import functions as F

        uri = str(tmp_path / "cat")
        # inject a NaN cell in the SAME position in both versions: the
        # tile must read as unchanged (NaN == NaN for diff purposes)
        nan_df = f1_layer.df.withColumn(
            "cells",
            F.expr("transform(cells, (x, i) -> "
                   "CASE WHEN i = 3 THEN double('NaN') ELSE x END)"))
        layer = gps.TiledRasterLayer(nan_df, f1_layer.metadata)
        catalog.write(uri, "d", layer, zoom=0)
        catalog.write(uri, "d", layer, zoom=0)
        got = {r["status"] for r in
               catalog.diff_versions(spark, uri, "d", 0, "v1", "v2").collect()}
        assert got == {"unchanged"}


class TestRasterize:
    def test_rasterize_box(self, spark):
        layout = gps.LayoutDefinition(gps.Extent(0, 0, 10, 10), gps.TileLayout(2, 2, 5, 5))
        layer = rasterize(spark, gps.box(0, 5, 5, 10), layout, fill_value=7.0)
        tiles = {(t[0], t[1]): t[3] for t in to_numpy(layer)}
        assert set(tiles) == {(0, 0)}
        assert (tiles[(0, 0)] == 7.0).all()

    def test_rasterize_zindex_priority(self, spark):
        layout = gps.LayoutDefinition(gps.Extent(0, 0, 10, 10), gps.TileLayout(2, 2, 5, 5))
        layer = rasterize_features(
            spark,
            [(gps.box(0, 0, 10, 10), 1.0, 0), (gps.box(0, 5, 5, 10), 2.0, 5)],
            layout,
        )
        tiles = {(t[0], t[1]): t[3] for t in to_numpy(layer)}
        assert (tiles[(0, 0)] == 2.0).all()   # higher z wins
        assert (tiles[(1, 1)] == 1.0).all()

    def test_rasterize_point(self, spark):
        layout = gps.LayoutDefinition(gps.Extent(0, 0, 10, 10), gps.TileLayout(2, 2, 5, 5))
        layer = rasterize(spark, gps.Point(2.5, 7.5), layout, fill_value=3.0)
        tiles = {(t[0], t[1]): t[3] for t in to_numpy(layer)}
        a = tiles[(0, 0)]
        assert a[2, 2] == 3.0
        assert (a == -1.0).sum() == 24

    def test_euclidean_distance(self, spark):
        layout = gps.LayoutDefinition(gps.Extent(0, 0, 10, 10), gps.TileLayout(2, 2, 5, 5))
        layer = euclidean_distance(spark, gps.Point(0.5, 9.5), layout)
        tiles = {(t[0], t[1]): t[3] for t in to_numpy(layer)}
        a = tiles[(0, 0)]
        assert a[0, 0] == 0.0
        assert abs(a[0, 1] - 1.0) < 1e-12
        assert abs(a[1, 1] - np.sqrt(2)) < 1e-12

    def test_euclidean_distance_polygon_inside_zero(self, spark):
        layout = gps.LayoutDefinition(gps.Extent(0, 0, 10, 10), gps.TileLayout(2, 2, 5, 5))
        layer = euclidean_distance(spark, gps.box(0, 5, 5, 10), layout)
        tiles = {(t[0], t[1]): t[3] for t in to_numpy(layer)}
        assert (tiles[(0, 0)] == 0.0).all()
        assert tiles[(1, 1)].min() > 0


class TestGeoTiffPlumbing:
    def test_default_adapters_resolve_to_pure_codec(self):
        try:
            import rasterio  # noqa: F401

            pytest.skip("rasterio present; pure-codec fallback not exercised")
        except ImportError:
            pass
        from geopyspark_spark.sources import geotiff_codec as gc

        s, d = gt._resolve_default_adapters()
        assert s is gc.sizer and d is gc.decoder

    def test_get_reads_tiff_with_no_injected_decoder(self, spark, tmp_path):
        """Zero-injection ingest: a codec-written GeoTIFF reads through
        geotiff.get's DEFAULT seam (pure codec when rasterio is absent)."""
        from geopyspark_spark.sources.geotiff_codec import encode_geotiff

        cells = np.arange(100, dtype=np.float64).reshape(1, 10, 10)
        p = tmp_path / "default_seam.tif"
        p.write_bytes(encode_geotiff(cells, gps.Extent(0, 0, 10, 10), "epsg:4326"))
        df = gt.get(spark, str(p), max_tile_size=6)
        rows = df.collect()
        assert {(r["rows"], r["cols"]) for r in rows} == {(6, 6), (6, 4), (4, 6), (4, 4)}
        total = sorted(v for r in rows for v in r["cells"])
        assert total == sorted(float(i) for i in range(100))

    def test_get_non_tiff_raises_at_decode(self, spark, tmp_path):
        try:
            import rasterio  # noqa: F401

            pytest.skip("rasterio present; codec error path not exercised")
        except ImportError:
            pass
        p = tmp_path / "fake.tif"
        p.write_bytes(b"definitely not a tiff")
        with pytest.raises(ValueError, match="not a TIFF"):
            gt.get(spark, str(p))

    def test_windowing(self):
        wins = gt.plan_windows(512, 300, 256)
        assert (0, 0, 256, 256) in wins
        assert (256, 256, 256, 44) in wins
        assert len(wins) == 4

    def test_fake_decoder_end_to_end(self, spark):
        """Full ingest -> tile_to_layout path with an injected decoder."""
        def sizer(path):
            return 10, 10, gps.Extent(0, 0, 10, 10), 1

        def decoder(path, window, band):
            c0, r0, w, h = window
            a = np.ones((h, w))
            if (c0, r0) == (0, 0):
                a[0, 0] = 0.0
            return a

        df = gt.get(spark, ["mem://t1"], max_tile_size=5, sizer=sizer, decoder=decoder)
        assert df.count() == 4
        md = f1_metadata()
        long = gt.tile_untiled_to_layout(df, md)
        layer = gps.TiledRasterLayer.assemble(long, md)
        tiles = {(t[0], t[1]): t[3] for t in to_numpy(layer)}
        assert tiles[(0, 0)][0, 0] == 0.0
        assert sum(t.sum() for t in tiles.values()) == 99.0


class TestVectorIngest:
    def test_from_features(self, spark):
        df = shp.from_features(
            spark,
            [
                (gps.box(0, 0, 1, 1), {"name": "a"}, 1.0, 2),
                ("POINT (5 5)", {"name": "b"}),
            ],
        )
        rows = df.collect()
        assert rows[0]["properties"]["name"] == "a"
        assert rows[0]["zindex"] == 2
        g = gps.from_wkb(bytes(rows[1]["geometry"]))
        assert (g.x, g.y) == (5.0, 5.0)

    def test_from_geojson(self, spark):
        gj = {
            "type": "FeatureCollection",
            "features": [
                {
                    "type": "Feature",
                    "geometry": {
                        "type": "Polygon",
                        "coordinates": [[[0, 0], [2, 0], [2, 2], [0, 2], [0, 0]]],
                    },
                    "properties": {"v": 3},
                }
            ],
        }
        df = shp.from_geojson(spark, gj, value_property="v")
        row = df.first()
        assert row["value"] == 3.0
        g = gps.from_wkb(bytes(row["geometry"]))
        assert g.bounds == (0, 0, 2, 2)

    def test_shapefile_bad_file(self, spark, tmp_path):
        # the pure-Python parser rejects non-shapefile bytes with a clear
        # error (full reader coverage lives in test_shapefile.py)
        p = tmp_path / "fake.shp"
        p.write_bytes(b"\0" * 128)
        with pytest.raises(Exception, match="not a shapefile"):
            shp.get(spark, str(p)).collect()


class TestIndexStrategies:
    @pytest.mark.parametrize("strategy", ["zorder", "hilbert", "rowmajor"])
    def test_write_read_round_trip(self, spark, f1_layer, tmp_path, strategy):
        from geopyspark_spark.sources import catalog

        uri = str(tmp_path / strategy)
        catalog.write(uri, "L", f1_layer, zoom=0, index_strategy=strategy)
        back = catalog.read(spark, uri, "L", 0)
        want = sorted(
            (r["key_col"], r["key_row"], tuple(r["cells"])) for r in f1_layer.df.collect()
        )
        got = sorted(
            (r["key_col"], r["key_row"], tuple(r["cells"])) for r in back.df.collect()
        )
        assert got == want

    def test_hilbert_udf_matches_python_mirror(self, spark):
        import random

        from pyspark.sql import functions as F

        from geopyspark_spark.core.zindex import hilbert_py, hilbert_udf

        random.seed(5)
        pts = [(random.randrange(1 << 16), random.randrange(1 << 16)) for _ in range(200)]
        df = spark.createDataFrame(pts, "c int, r int")
        got = [row["h"] for row in
               df.select(hilbert_udf()(F.col("c"), F.col("r")).alias("h")).collect()]
        want = [hilbert_py(c, r) for c, r in pts]
        assert got == want

    def test_unknown_strategy_raises(self, f1_layer, tmp_path):
        from geopyspark_spark.sources import catalog

        with pytest.raises(ValueError, match="index_strategy"):
            catalog.write(str(tmp_path / "x"), "L", f1_layer, zoom=0,
                          index_strategy="peano")


class TestValueReader:
    """ValueReader class parity (round 6): persistent-connection point
    reads, None for missing tiles."""

    def test_read_and_missing(self, spark, f1_layer, tmp_path):
        uri = str(tmp_path / "cat")
        catalog.write(uri, "ones", f1_layer, zoom=0)
        vr = catalog.ValueReader(uri, "ones", zoom=0)
        rows = vr.read(1, 1)
        assert rows and rows[0]["key_col"] == 1
        assert vr.read(99, 99) is None
        # zoom override falls back to ctor zoom
        assert vr.read(1, 1, zoom=0) == rows


class TestS3Helpers:
    def test_is_s3_uri(self):
        from geopyspark_spark.sources.s3 import is_s3_uri

        assert is_s3_uri("s3://bucket/key") and is_s3_uri("s3a://b/k")
        assert not is_s3_uri("/local/path") and not is_s3_uri("hdfs://x")

    def test_set_s3_credentials_scoped(self, spark):
        from geopyspark_spark.sources.s3 import set_s3_credentials

        conf = spark.sparkContext._jsc.hadoopConfiguration()
        with set_s3_credentials(spark, "AK", "SK", "s3a", session_token="TOK"):
            assert conf.get("fs.s3a.access.key") == "AK"
            assert conf.get("fs.s3a.secret.key") == "SK"
            assert conf.get("fs.s3a.session.token") == "TOK"
        assert conf.get("fs.s3a.session.token") is None
        with pytest.raises(RuntimeError, match="URI type"):
            with set_s3_credentials(spark, "a", "b", "gs"):
                pass


class TestCompaction:
    """catalog.compact (round 6): the small-files maintenance job."""

    def test_compact_preserves_data_and_shrinks_files(self, spark, f1_layer, tmp_path):
        import glob as _glob

        uri = str(tmp_path / "cat")
        catalog.write(uri, "c", f1_layer, zoom=0)
        # fragment: three updates leave extra files
        for _ in range(2):
            catalog.update_layer(spark, uri, "c", 0, f1_layer)
        before = catalog.read(spark, uri, "c", 0)
        data_before = {(r.key_col, r.key_row): r.cells for r in before.df.collect()}
        path = catalog.compact(spark, uri, "c", 0, target_file_mb=128)
        files = _glob.glob(path + "/*.parquet")
        assert len(files) == 1  # tiny layer -> one right-sized file
        after = catalog.read(spark, uri, "c", 0)
        data_after = {(r.key_col, r.key_row): r.cells for r in after.df.collect()}
        assert data_before == data_after
        # metadata survives the swap
        md = catalog.read_layer_metadata(uri, "c", 0)
        assert md.layout == f1_layer.metadata.layout


class TestRasterizeReferenceSignature:
    def test_zoom_crs_form(self, spark):
        import geopyspark_spark as gps
        from geopyspark_spark.operators.rasterize import rasterize

        # web-mercator zoom-2 grid over a box near the origin
        g = gps.box(-1000000, -1000000, 1000000, 1000000)
        layer = rasterize(spark, [g], zoom=2, crs="epsg:3857", fill_value=7.0)
        tl = layer.metadata.layout.tile_layout
        assert (tl.layout_cols, tl.layout_rows) == (4, 4)
        vals = {r["value"] for r in layer.explode().collect()} - {-1.0}
        assert vals == {7.0}

    def test_int_layout_is_zoom(self, spark):
        import geopyspark_spark as gps
        from geopyspark_spark.operators.rasterize import rasterize

        layer = rasterize(spark, [gps.box(0, 40, 20, 60)], 1, crs=4326)
        assert layer.metadata.layout.tile_layout.layout_cols == 2

    def test_requires_layout_or_zoom(self, spark):
        import geopyspark_spark as gps
        from geopyspark_spark.operators.rasterize import rasterize

        with pytest.raises(ValueError, match="zoom"):
            rasterize(spark, [gps.box(0, 0, 1, 1)])


class TestCatalogConveniences:
    def test_read_defaults_to_deepest_zoom(self, spark, f1_layer, tmp_path):
        uri = str(tmp_path / "cat")
        catalog.write(uri, "d", f1_layer, zoom=2)
        catalog.write(uri, "d", f1_layer, zoom=5)
        assert catalog.list_zooms(uri, "d") == [2, 5]
        back = catalog.read(spark, uri, "d")  # no zoom -> deepest
        assert back.count() == f1_layer.count()
        with pytest.raises(FileNotFoundError):
            catalog.read(spark, uri, "missing")

    def test_rasterize_features_zoom_form(self, spark):
        import geopyspark_spark as gps
        from geopyspark_spark.operators.rasterize import rasterize_features

        layer = rasterize_features(
            spark, [(gps.box(0, 40, 20, 60), 3.0, 0)], zoom=1, crs=4326)
        assert layer.metadata.layout.tile_layout.layout_cols == 2

    def test_pyramid_write_and_cache(self, spark, tmp_path):
        import geopyspark_spark as gps
        from geopyspark_spark.sources import catalog as cat

        md = gps.LayerMetadata(
            crs="epsg:4326", cell_type="float64ud-1.0",
            layout=gps.LayoutDefinition(gps.Extent(0, 0, 8, 8),
                                        gps.TileLayout(2, 2, 4, 4)),
            bounds=((0, 0), (1, 1)), extent=gps.Extent(0, 0, 8, 8),
            num_bands=1, zoom=1,
        )
        rows = [(c, r, 0, [1.0] * 16) for c in range(2) for r in range(2)]
        df = spark.createDataFrame(
            rows, "key_col int, key_row int, band int, cells array<double>")
        pyr = gps.TiledRasterLayer(df, md).pyramid()
        uri = str(tmp_path / "pyrcat")
        paths = pyr.write(uri, "p")
        assert len(paths) == len(pyr.levels)
        assert cat.list_zooms(uri, "p") == sorted(pyr.levels)
        pyr.cache()
        assert all(l.df.is_cached for l in pyr.levels.values())
        pyr.unpersist()


class TestAtomicCommits:
    """r11 (VERDICT r10 #4): catalog commits are a versioned-dir +
    manifest-pointer swap — a writer killed mid-flight never corrupts
    the committed layer, and readers racing a writer resolve to a
    complete version."""

    def test_write_creates_versioned_layout(self, spark, f1_layer, tmp_path):
        uri = str(tmp_path / "cat")
        vpath = catalog.write(uri, "a", f1_layer, zoom=0)
        root = catalog._layer_path(uri, "a", 0)
        assert os.path.basename(vpath) == "v1"
        with open(os.path.join(root, "MANIFEST")) as f:
            assert f.read().strip() == "v1"
        assert catalog.read(spark, uri, "a", 0).df.count() == f1_layer.df.count()

    def test_crashed_write_leaves_old_version_readable(self, spark, f1_layer,
                                                       tmp_path):
        uri = str(tmp_path / "cat")
        catalog.write(uri, "a", f1_layer, zoom=0)
        before = {(r.key_col, r.key_row): r.cells
                  for r in catalog.read(spark, uri, "a", 0).df.collect()}
        # simulate a writer killed after staging files but BEFORE the
        # manifest swap: a half-written _v2 with garbage parquet
        root = catalog._layer_path(uri, "a", 0)
        os.makedirs(os.path.join(root, "v2"))
        with open(os.path.join(root, "v2", "part-0.parquet"), "wb") as f:
            f.write(b"\x00\x01 not parquet")
        # readers are unaffected — the manifest still points at _v1
        after = {(r.key_col, r.key_row): r.cells
                 for r in catalog.read(spark, uri, "a", 0).df.collect()}
        assert after == before
        assert catalog.read_value(uri, "a", 0, 0, 0)
        # a retry commits PAST the garbage (next version = _v3) and GCs it
        vpath = catalog.write(uri, "a", f1_layer, zoom=0)
        assert os.path.basename(vpath) == "v3"
        assert not os.path.exists(os.path.join(root, "v2"))
        assert catalog.read(spark, uri, "a", 0).df.count() == f1_layer.df.count()

    def test_update_layer_is_versioned_commit(self, spark, f1_layer, tmp_path):
        uri = str(tmp_path / "cat")
        catalog.write(uri, "a", f1_layer, zoom=0)
        catalog.update_layer(spark, uri, "a", 0, f1_layer)
        root = catalog._layer_path(uri, "a", 0)
        with open(os.path.join(root, "MANIFEST")) as f:
            assert f.read().strip() == "v2"
        # GC is deferred one commit (r12): the previous version survives
        # this write so racing readers' lazy plans stay scannable...
        import re

        vdirs = sorted(d for d in os.listdir(root) if re.fullmatch(r"v\d+", d))
        assert vdirs == ["v1", "v2"]
        assert catalog.read(spark, uri, "a", 0).df.count() == f1_layer.df.count()
        # ...and is reclaimed by the NEXT write
        catalog.update_layer(spark, uri, "a", 0, f1_layer)
        vdirs = sorted(d for d in os.listdir(root) if re.fullmatch(r"v\d+", d))
        assert vdirs == ["v2", "v3"]

    def test_reader_plan_survives_concurrent_update(self, spark, f1_layer,
                                                    tmp_path):
        """ADVICE r11: a lazy DataFrame resolved over version N must stay
        scannable after a writer publishes N+1 (deferred GC)."""
        uri = str(tmp_path / "cat")
        catalog.write(uri, "a", f1_layer, zoom=0)
        stale_reader = catalog.read(spark, uri, "a", 0)  # lazy plan over v1
        catalog.update_layer(spark, uri, "a", 0, f1_layer)  # publishes v2
        # v1's files are still on disk — the stale plan scans clean
        assert stale_reader.df.count() == f1_layer.df.count()

    def test_concurrent_writers_claim_distinct_versions(self, spark, f1_layer,
                                                        tmp_path):
        """VERDICT r11 #1: two processes committing the same layer-zoom
        concurrently must stage privately, claim DISTINCT version dirs,
        and leave the manifest on the highest version — never an
        interleaved mix of both writers' files."""
        import multiprocessing as mp

        uri = str(tmp_path / "cat")
        catalog.write(uri, "a", f1_layer, zoom=0)  # v1 baseline
        root = catalog._layer_path(uri, "a", 0)

        ctx = mp.get_context("spawn")
        barrier = ctx.Barrier(2)
        q = ctx.Queue()
        procs = [ctx.Process(target=_commit_worker, args=(uri, fill, barrier, q))
                 for fill in (2.0, 3.0)]
        for p in procs:
            p.start()
        results = sorted(q.get(timeout=300) for _ in procs)
        for p in procs:
            p.join(timeout=60)
        assert all(p.exitcode == 0 for p in procs)
        # distinct versions claimed (the rename race was resolved) —
        # which WRITER got which number is timing-dependent
        assert sorted(os.path.basename(v) for _, v in results) == ["v2", "v3"]
        # manifest is monotone: points at the HIGHEST committed version
        with open(os.path.join(root, "MANIFEST")) as f:
            winner = f.read().strip()
        assert winner == "v3"
        # the published layer is exactly ONE writer's complete dataset
        back = catalog.read(spark, uri, "a", 0)
        vals = {r.cells[0] for r in back.df.collect()}
        assert back.df.count() == f1_layer.df.count()
        assert vals in ({2.0}, {3.0})
        # no staging garbage left behind by either committer
        assert not [d for d in os.listdir(root) if d.startswith(".staging-")]

    def test_gc_defers_to_publish_time_prev(self, spark, f1_layer, tmp_path):
        """ADVICE r12: GC's deferred version is the manifest value read
        UNDER the publish lock, not a snapshot taken before the (long)
        Spark write — a slow writer B that started before A's commit
        must not sweep A's freshly-published version when B publishes."""
        import re
        import shutil

        uri = str(tmp_path / "cat")
        catalog.write(uri, "a", f1_layer, zoom=0)  # v1
        catalog.write(uri, "a", f1_layer, zoom=0)  # v2 (writer A)
        root = catalog._layer_path(uri, "a", 0)
        # writer B (whose pre-write snapshot would have been v1) now
        # finishes: stage -> claim (v3) -> publish + GC
        cur = catalog._data_path(uri, "a", 0)
        staging = catalog._staging_dir(root)
        for name in os.listdir(cur):
            shutil.copy(os.path.join(cur, name), os.path.join(staging, name))
        vpath = catalog._claim(root, staging)
        catalog._finish_commit(root, vpath)
        vdirs = sorted(d for d in os.listdir(root) if re.fullmatch(r"v\d+", d))
        # v2 (the version a racing reader may have just resolved) survives;
        # v1 (two commits old) is reclaimed
        assert vdirs == ["v2", "v3"]

    def test_superseded_publish_warns_and_reclaims(self, spark, f1_layer,
                                                   tmp_path):
        """ADVICE r12 + r15 review: a writer whose publish lost to a
        higher concurrent version must SURFACE that its data is not the
        current catalog version, must not run GC (the winner owns the
        cycle), and its never-published version dir is reclaimed
        immediately — otherwise junk dirs occupy keep_history retention
        slots and show up in list_versions as bogus history."""
        import re
        import shutil

        uri = str(tmp_path / "cat")
        catalog.write(uri, "a", f1_layer, zoom=0)  # v1 committed
        root = catalog._layer_path(uri, "a", 0)
        meta = os.path.join(root, "v1", ".metadata.json")
        # two concurrent writers claim v2 and v3; the v3 writer wins
        sa = catalog._staging_dir(root)
        shutil.copy(meta, os.path.join(sa, ".metadata.json"))
        va = catalog._claim(root, sa)
        sb = catalog._staging_dir(root)
        shutil.copy(meta, os.path.join(sb, ".metadata.json"))
        vb = catalog._claim(root, sb)
        # winner's pointer swap lands (its deferred GC has not run yet
        # — the loser's superseded publish happens in that window)
        catalog._publish(root, os.path.basename(vb))
        with pytest.warns(RuntimeWarning, match="superseded"):
            catalog._finish_commit(root, va)        # loses the race
        with open(os.path.join(root, "MANIFEST")) as f:
            assert f.read().strip() == "v3"
        vdirs = sorted(d for d in os.listdir(root) if re.fullmatch(r"v\d+", d))
        # the loser's never-published v2 is gone; reader-safety prev
        # (v1, deferred GC) and the winner survive
        assert vdirs == ["v1", "v3"]
        assert catalog.list_versions(uri, "a", 0) == ["v1", "v3"]
        # the next writer does not reuse the reclaimed number
        catalog.write(uri, "a", f1_layer, zoom=0)
        assert catalog.current_version(uri, "a", 0) == "v4"

    def test_legacy_unversioned_layout_still_readable(self, spark, f1_layer,
                                                      tmp_path):
        import shutil

        uri = str(tmp_path / "cat")
        catalog.write(uri, "a", f1_layer, zoom=0)
        root = catalog._layer_path(uri, "a", 0)
        # rewrite the layer into the pre-r11 in-place layout
        vdir = os.path.join(root, "v1")
        for name in os.listdir(vdir):
            shutil.move(os.path.join(vdir, name), os.path.join(root, name))
        os.rmdir(vdir)
        os.remove(os.path.join(root, "MANIFEST"))
        assert catalog.layer_exists(uri, "a", 0)
        assert catalog.read(spark, uri, "a", 0).df.count() == f1_layer.df.count()
        assert catalog.read_value(uri, "a", 0, 0, 0)
        md = catalog.read_layer_metadata(uri, "a", 0)
        assert md.layout == f1_layer.metadata.layout
        # attribute store + layer listing see both layouts
        store = catalog.AttributeStore(uri)
        assert ("a", 0) in store.layers()
        # an upgrade write converts in place and GCs the legacy files
        catalog.write(uri, "a", f1_layer, zoom=0)
        assert not glob_parquet(root)
        assert catalog.read(spark, uri, "a", 0).df.count() == f1_layer.df.count()

    def test_layer_exists_semantics(self, f1_layer, tmp_path):
        uri = str(tmp_path / "cat")
        assert not catalog.layer_exists(uri, "a", 0)
        # staging garbage without a manifest is NOT a layer
        root = catalog._layer_path(uri, "a", 0)
        os.makedirs(os.path.join(root, "v1"))
        assert not catalog.layer_exists(uri, "a", 0)


def glob_parquet(root):
    import glob as _g

    return _g.glob(os.path.join(root, "*.parquet"))


def _commit_worker(uri, fill, barrier, q):
    """Spawned committer for the two-writer race test: builds a 4-tile
    constant-``fill`` layer in its OWN SparkSession, rendezvouses at the
    barrier, then commits to the same layer-zoom as its sibling."""
    from pyspark.sql import SparkSession

    spark = (SparkSession.builder.master("local[2]")
             .appName(f"committer-{fill}")
             .config("spark.ui.enabled", "false")
             .config("spark.driver.memory", "1g")
             .config("spark.sql.shuffle.partitions", "2")
             .getOrCreate())
    try:
        md = f1_metadata()
        tiles = [(kc, kr, 0, np.full((5, 5), fill))
                 for kr in range(2) for kc in range(2)]
        layer = gps.from_numpy(spark, tiles, md)
        layer.df.cache().count()  # materialize before the rendezvous
        barrier.wait(timeout=240)
        vpath = catalog.write(uri, "a", layer, zoom=0)
        q.put((fill, vpath))
    finally:
        spark.stop()


class TestIncrementalCommit:
    """r16 (VERDICT r15 #1): incremental merge commits — a micro-batch
    update rewrites only the data files its keys touch and the new
    version's file manifest reuses every untouched file of the parent
    version by reference, so write amplification is O(batch), not
    O(layer)."""

    def _patch(self, spark, key, fill):
        md = f1_metadata()
        return gps.from_numpy(
            spark, [(key[0], key[1], 0, np.full((5, 5), fill))], md)

    @staticmethod
    def _pq(vdir):
        return sorted(f for f in os.listdir(vdir) if f.endswith(".parquet"))

    def test_obatch_files_written_and_rest_reused(self, spark, f1_layer,
                                                  tmp_path):
        uri = str(tmp_path / "cat")
        catalog.write(uri, "inc", f1_layer, zoom=0, num_files=4)
        root = catalog._layer_path(uri, "inc", 0)
        base_files = set(self._pq(os.path.join(root, "v1")))
        assert len(base_files) >= 3  # multi-file base (the point)
        catalog.update_layer(spark, uri, "inc", 0,
                             self._patch(spark, (1, 1), 9.0))
        assert catalog.current_version(uri, "inc", 0) == "v2"
        new_files = self._pq(os.path.join(root, "v2"))
        # O(batch): one tile's rewrite lands in far fewer files than
        # the layer holds
        assert 1 <= len(new_files) < len(base_files)
        mf = catalog.file_manifest(uri, "inc", 0)
        refs = [e for e in mf["files"] if e.get("version") == "v1"]
        owns = [e for e in mf["files"] if not e.get("version")]
        assert refs and {e["name"] for e in refs} <= base_files
        assert {e["name"] for e in owns} == set(new_files)
        # content: merged new-wins, untouched tiles intact
        back = catalog.read(spark, uri, "inc", 0)
        tiles = {(t[0], t[1]): t[3] for t in to_numpy(back)}
        assert len(tiles) == 4
        assert tiles[(1, 1)][2, 2] == 9.0
        assert tiles[(0, 0)][0, 0] == 0.0 and tiles[(0, 1)][2, 2] == 1.0
        # the sparkless point reader resolves through the manifest too
        rows = catalog.read_value(uri, "inc", 0, 1, 1)
        assert rows and rows[0]["cells"][12] == 9.0
        rows = catalog.read_value(uri, "inc", 0, 0, 1)
        assert rows and rows[0]["cells"][12] == 1.0

    def test_gc_partial_sweep_keeps_referenced_files(self, spark, f1_layer,
                                                     tmp_path):
        uri = str(tmp_path / "cat")
        catalog.write(uri, "inc", f1_layer, zoom=0, num_files=4)
        root = catalog._layer_path(uri, "inc", 0)
        catalog.update_layer(spark, uri, "inc", 0,
                             self._patch(spark, (1, 1), 9.0))   # v2
        catalog.update_layer(spark, uri, "inc", 0,
                             self._patch(spark, (0, 0), 7.0))   # v3
        # v1 fell out of retention (readable = prev + committed) but
        # its files are still REFERENCED by the live manifests: the
        # dir is partially swept — sidecars gone, referenced data kept
        assert catalog.list_versions(uri, "inc", 0) == ["v2", "v3"]
        v1 = os.path.join(root, "v1")
        assert os.path.isdir(v1)
        assert not os.path.exists(os.path.join(v1, ".metadata.json"))
        assert not os.path.exists(os.path.join(v1, catalog.FILES))
        assert self._pq(v1)  # referenced data files survive
        back = catalog.read(spark, uri, "inc", 0)
        tiles = {(t[0], t[1]): t[3] for t in to_numpy(back)}
        assert tiles[(1, 1)][2, 2] == 9.0 and tiles[(0, 0)][2, 2] == 7.0
        assert tiles[(1, 0)][2, 2] == 1.0
        # compact() makes the layer self-contained again; once nothing
        # references v1, the next commit's GC removes the dir entirely
        catalog.compact(spark, uri, "inc", 0)                    # v4
        mf = catalog.file_manifest(uri, "inc", 0)
        assert all(not e.get("version") for e in mf["files"])
        catalog.update_layer(spark, uri, "inc", 0,
                             self._patch(spark, (1, 0), 5.0))   # v5
        assert not os.path.isdir(v1)
        back = catalog.read(spark, uri, "inc", 0)
        tiles = {(t[0], t[1]): t[3] for t in to_numpy(back)}
        assert (tiles[(1, 1)][2, 2], tiles[(0, 0)][2, 2],
                tiles[(1, 0)][2, 2], tiles[(0, 1)][2, 2]) == (9.0, 7.0,
                                                              5.0, 1.0)

    def test_query_prunes_files_via_manifest(self, spark, f1_layer,
                                             tmp_path):
        """r16: the small-AOI query path prunes whole FILES against
        the manifest's per-file zindex ranges — a file whose range
        covers no requested key never reaches the reader — with
        results identical to the unpruned scan."""
        uri = str(tmp_path / "cat")
        catalog.write(uri, "q", f1_layer, zoom=0, num_files=4)
        # AOI = tile (0, 0) only (tile extents are 5x5 units)
        aoi = gps.box(1, 6, 4, 9)
        got = catalog.query(spark, uri, "q", 0, query_geom=aoi)
        assert {(r["key_col"], r["key_row"])
                for r in got.df.select("key_col", "key_row").collect()} \
            == {(0, 0)}
        # the pruned file list is a strict subset of the layer's
        all_files = catalog.data_files(uri, "q", 0)
        pruned = catalog._query_data_files(uri, "q", 0, None, {(0, 0)})
        assert 1 <= len(pruned) < len(all_files)
        assert set(pruned) <= set(all_files)
        # an AOI off the stored keys still resolves (schema from one
        # file, zero rows)
        none = catalog.query(spark, uri, "q", 0,
                             query_geom=gps.box(100, 100, 101, 101))
        assert none.count() == 0

    def test_mode_full_and_explicit_incremental(self, spark, f1_layer,
                                                tmp_path):
        uri = str(tmp_path / "cat")
        catalog.write(uri, "inc", f1_layer, zoom=0, num_files=4)
        # full mode: self-contained rewrite, no references
        catalog.update_layer(spark, uri, "inc", 0,
                             self._patch(spark, (1, 1), 9.0), mode="full")
        mf = catalog.file_manifest(uri, "inc", 0)
        assert all(not e.get("version") for e in mf["files"])
        # strip the manifest to simulate a pre-r16 commit: explicit
        # incremental refuses by name, auto falls back to full
        os.remove(os.path.join(catalog._layer_path(uri, "inc", 0),
                               "v2", catalog.FILES))
        with pytest.raises(ValueError, match="no usable file manifest"):
            catalog.update_layer(spark, uri, "inc", 0,
                                 self._patch(spark, (0, 0), 3.0),
                                 mode="incremental")
        catalog.update_layer(spark, uri, "inc", 0,
                             self._patch(spark, (0, 0), 3.0))  # auto->full
        back = catalog.read(spark, uri, "inc", 0)
        tiles = {(t[0], t[1]): t[3] for t in to_numpy(back)}
        assert tiles[(0, 0)][2, 2] == 3.0 and tiles[(1, 1)][2, 2] == 9.0

    def test_restore_is_zero_copy(self, spark, f1_layer, tmp_path):
        uri = str(tmp_path / "cat")
        catalog.write(uri, "inc", f1_layer, zoom=0, keep_history=2)  # v1
        catalog.write(uri, "inc", f1_layer + 7.0, zoom=0,
                      keep_history=2)                                # v2 bad
        vpath = catalog.restore(uri, "inc", 0, 1, keep_history=2)    # v3
        assert os.path.basename(vpath) == "v3"
        # zero-copy: the restored version is sidecars only, its data
        # rides on v1's files by reference
        assert not self._pq(vpath)
        mf = catalog.file_manifest(uri, "inc", 0)
        assert mf["files"] and all(e["version"] == "v1"
                                   for e in mf["files"])
        back = catalog.read(spark, uri, "inc", 0)
        total = sum(float(t[3].sum()) for t in to_numpy(back))
        assert total == 99.0  # v1 content (f1: 99 = 4*25 - 1)
        rows = catalog.read_value(uri, "inc", 0, 0, 0)
        assert rows and rows[0]["cells"][0] == 0.0

    def test_temporal_incremental_update(self, spark, tmp_path):
        from datetime import datetime, timezone

        md = f1_metadata()
        t1 = datetime(2024, 1, 1, tzinfo=timezone.utc)
        t2 = datetime(2024, 2, 1, tzinfo=timezone.utc)
        tiles = []
        for kc in range(2):
            for kr in range(2):
                tiles.append((kc, kr, t1, 0, np.ones((5, 5))))
                tiles.append((kc, kr, t2, 0, np.full((5, 5), 2.0)))
        layer = gps.from_numpy(spark, tiles, md)
        uri = str(tmp_path / "cat")
        catalog.write(uri, "st", layer, zoom=0, num_files=4)
        patch = gps.from_numpy(
            spark, [(1, 1, t2, 0, np.full((5, 5), 9.0))], md)
        catalog.update_layer(spark, uri, "st", 0, patch)
        mf = catalog.file_manifest(uri, "st", 0)
        assert mf["index"]["strategy"] == "z3"
        assert any(e.get("version") == "v1" for e in mf["files"])
        back = catalog.read(spark, uri, "st", 0)
        # to_numpy returns session-local NAIVE instants
        n1, n2 = t1.replace(tzinfo=None), t2.replace(tzinfo=None)
        vals = {(t[0], t[1], t[2]): t[4] for t in to_numpy(back)}
        assert len(vals) == 8
        assert vals[(1, 1, n2)][2, 2] == 9.0
        assert vals[(1, 1, n1)][2, 2] == 1.0
        assert vals[(0, 0, n2)][2, 2] == 2.0
