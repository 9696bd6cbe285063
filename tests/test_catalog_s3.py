"""Object-store (s3://) catalog tests (r13, VERDICT r12 #1): the
concurrency-safe commit protocol re-expressed over S3 conditional
writes — create-only PUT version claim, ETag compare-and-swap manifest
— against the in-package loopback stub
(``geopyspark_spark/sources/s3stub.py``), including the two-writer
race and the no-precondition last-writer-wins fallback."""

from __future__ import annotations

import os
import re
import sys
import threading

import pytest

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

from geopyspark_spark.sources import catalog
from geopyspark_spark.sources import catalog_object as co
from geopyspark_spark.sources import objectstore as obs
from geopyspark_spark.sources.s3stub import start_stub


@pytest.fixture()
def s3cat(monkeypatch, tmp_path):
    srv = start_stub()
    monkeypatch.setenv("AWS_ENDPOINT_URL", srv.endpoint)
    for var in ("AWS_ACCESS_KEY_ID", "AWS_SECRET_ACCESS_KEY",
                "AWS_SESSION_TOKEN"):
        monkeypatch.delenv(var, raising=False)
    # isolate the per-version download cache per test
    monkeypatch.setenv("GEOPYSPARK_OBJCAT_CACHE", str(tmp_path / "objcache"))
    yield srv
    srv.shutdown()


def _vkeys(srv, prefix="cat/a/0/"):
    return sorted(k for k in srv.objects if k.startswith("b/" + prefix))


def _versions(srv, prefix="cat/a/0/"):
    out = set()
    for k in _vkeys(srv, prefix):
        m = re.search(r"/(v\d+)/", k)
        if m:
            out.add(m.group(1))
    return sorted(out)


class TestS3CatalogRoundtrip:
    def test_write_read_query_read_value(self, spark, f1_layer, s3cat):
        uri = "s3://b/cat"
        vuri = catalog.write(uri, "a", f1_layer, zoom=0)
        assert vuri == "s3://b/cat/a/0/v1"
        # manifest object committed, version prefix populated
        assert s3cat.objects["b/cat/a/0/MANIFEST"] == b"v1"
        assert any(k.endswith(".metadata.json") for k in _vkeys(s3cat))
        assert catalog.layer_exists(uri, "a", 0)
        assert catalog.list_zooms(uri, "a") == [0]
        back = catalog.read(spark, uri, "a", 0)
        assert back.df.count() == f1_layer.df.count()
        assert back.metadata.layout == f1_layer.metadata.layout
        # spatial query + no-spark point read over the same catalog
        import geopyspark_spark as gps

        q = catalog.query(spark, uri, "a", 0,
                          gps.Polygon([(0, 0), (0, 4), (4, 4), (4, 0)]))
        assert 0 < q.df.count() <= back.df.count()
        assert catalog.read_value(uri, "a", 0, 0, 0)
        # reads resolve through the local immutable version cache — the
        # second read downloads nothing new
        n = len([r for r in s3cat.requests if r[0] == "GET"])
        assert catalog.read(spark, uri, "a", 0).df.count() == f1_layer.df.count()
        gets_after = [r for r in s3cat.requests if r[0] == "GET"][n:]
        assert all("list-type" in "" or r[2] is None for r in gets_after)
        data_gets = [r for r in gets_after if "/v1/" in r[1]]
        assert not data_gets, f"cached version re-downloaded: {data_gets}"

    def test_update_layer_versions_and_deferred_gc(self, spark, f1_layer,
                                                   s3cat):
        uri = "s3://b/cat"
        catalog.write(uri, "a", f1_layer, zoom=0)
        catalog.update_layer(spark, uri, "a", 0, f1_layer)
        assert s3cat.objects["b/cat/a/0/MANIFEST"] == b"v2"
        # GC deferred one commit: v1 survives this write...
        assert _versions(s3cat) == ["v1", "v2"]
        catalog.update_layer(spark, uri, "a", 0, f1_layer)
        # ...and is reclaimed by the next
        assert _versions(s3cat) == ["v2", "v3"]
        assert catalog.read(spark, uri, "a", 0).df.count() == f1_layer.df.count()

    def test_attribute_store(self, s3cat):
        store = catalog.AttributeStore("s3://b/cat")
        assert type(store).__name__ == "ObjectAttributeStore"
        store.write("a", 0, "histogram", {"bins": [1, 2]})
        assert store.read("a", 0, "histogram") == {"bins": [1, 2]}
        assert store.contains("a", 0, "histogram")
        assert store.list("a", 0) == ["histogram"]
        store.delete("a", 0, "histogram")
        assert not store.contains("a", 0, "histogram")

    def test_attribute_store_layers(self, spark, f1_layer, s3cat):
        catalog.write("s3://b/cat", "a", f1_layer, zoom=0)
        catalog.write("s3://b/cat", "deep/name", f1_layer, zoom=3)
        store = catalog.AttributeStore("s3://b/cat")
        assert store.layers() == [("a", 0), ("deep/name", 3)]

    def test_compact(self, spark, f1_layer, s3cat):
        uri = "s3://b/cat"
        catalog.write(uri, "a", f1_layer, zoom=0, num_files=4)
        catalog.compact(spark, uri, "a", 0)
        assert s3cat.objects["b/cat/a/0/MANIFEST"] == b"v2"
        assert catalog.read(spark, uri, "a", 0).df.count() == f1_layer.df.count()


class TestS3TimeTravel:
    def test_version_read_and_keep_history(self, spark, f1_layer, s3cat):
        """Time travel on the object backend: ``version=`` reads resolve
        a retained historical version through the immutable cache, and
        ``keep_history`` pins versions through the conditional-write
        GC exactly like the POSIX backend."""
        uri = "s3://b/cat"
        catalog.write(uri, "a", f1_layer, zoom=0, keep_history=2)
        catalog.write(uri, "a", f1_layer + 1.0, zoom=0, keep_history=2)
        catalog.write(uri, "a", f1_layer + 2.0, zoom=0, keep_history=2)
        assert catalog.current_version(uri, "a", 0) == "v3"
        assert catalog.list_versions(uri, "a", 0) == ["v1", "v2", "v3"]
        v1 = catalog.read(spark, uri, "a", 0, version="v1")
        v3 = catalog.read(spark, uri, "a", 0)
        from geopyspark_spark.sources.numpy_source import to_numpy

        assert sum(float(t[3].sum()) for t in to_numpy(v1)) == 99.0
        assert sum(float(t[3].sum()) for t in to_numpy(v3)) == 299.0
        # default retention on the NEXT write keeps history per its own
        # knob: keep_history=0 falls back to prev-only
        catalog.write(uri, "a", f1_layer, zoom=0)
        assert catalog.list_versions(uri, "a", 0) == ["v3", "v4"]
        with pytest.raises(FileNotFoundError, match="not retained"):
            catalog.read(spark, uri, "a", 0, version="v1")

    def test_claim_tombstone_does_not_eat_retention_slot(
            self, spark, f1_layer, s3cat):
        """ADVICE r15: keep_history retention must count only
        COMMITTED, readable versions — a claim-only tombstone (left
        behind by a superseded/conflicted commit, deliberately, so the
        version number is never reused under the immutable read cache)
        must not occupy a retention slot and evict real published
        history early."""
        uri = "s3://b/cat"
        catalog.write(uri, "a", f1_layer, zoom=0, keep_history=2)       # v1
        catalog.write(uri, "a", f1_layer + 1.0, zoom=0, keep_history=2)  # v2
        catalog.write(uri, "a", f1_layer + 2.0, zoom=0, keep_history=2)  # v3
        # simulate a conflicted commit's leftover: claim-only v4
        obs.put_object("s3://b/cat/a/0/v4/.claim", b"dead-token")
        catalog.write(uri, "a", f1_layer + 4.0, zoom=0, keep_history=2)  # v5
        # keep_history=2 must retain the two newest COMMITTED older
        # versions (v2, v3) — with the tombstone counted, v4 would have
        # taken a slot and evicted v2
        assert catalog.list_versions(uri, "a", 0) == ["v2", "v3", "v5"]
        assert catalog.read(spark, uri, "a", 0, version="v2").df.count() \
            == f1_layer.df.count()

    def test_restore_on_object_backend(self, spark, f1_layer, s3cat):
        uri = "s3://b/cat"
        catalog.write(uri, "a", f1_layer, zoom=0)            # v1 good
        catalog.write(uri, "a", f1_layer + 7.0, zoom=0)      # v2 bad
        vuri = catalog.restore(uri, "a", 0, 1)
        assert vuri.endswith("v3")
        assert s3cat.objects["b/cat/a/0/MANIFEST"] == b"v3"
        # the cache's .complete marker never ships as an object
        assert not any(k.endswith(".complete") for k in s3cat.objects)
        # r16: restore of a manifest-carrying version is ZERO-COPY —
        # sidecars only, data referenced at its v1 owner
        assert not any(k.startswith("b/cat/a/0/v3/") and
                       k.endswith(".parquet") for k in s3cat.objects)
        mf = catalog.file_manifest(uri, "a", 0)
        assert mf["files"] and all(e["version"] == "v1"
                                   for e in mf["files"])
        # sidecar ORDER: the manifest must land before the metadata a
        # reader validates by, or a racing reader would negative-cache
        # "no manifest" for the immutable version
        v3_puts = [r[1] for r in s3cat.requests
                   if r[0] == "PUT" and "/v3/" in r[1]
                   and not r[1].endswith("/.claim")]
        assert v3_puts.index("/b/cat/a/0/v3/.files.json") < \
            v3_puts.index("/b/cat/a/0/v3/.metadata.json")
        from geopyspark_spark.sources.numpy_source import to_numpy

        back = catalog.read(spark, uri, "a", 0)
        assert sum(float(t[3].sum()) for t in to_numpy(back)) == 99.0


class TestS3IncrementalCommit:
    """r16 (VERDICT r15 #1) on the object backend: an incremental
    merge uploads O(batch) objects, downloads only the touched data
    files, and the new manifest reuses untouched objects of the parent
    version in place."""

    def test_obatch_upload_and_download(self, spark, f1_layer, s3cat):
        import numpy as np

        import geopyspark_spark as gps
        from conftest import f1_metadata

        uri = "s3://b/cat"
        catalog.write(uri, "a", f1_layer, zoom=0, num_files=4)
        v1_parquet = {k for k in _vkeys(s3cat)
                      if "/v1/" in k and k.endswith(".parquet")}
        assert len(v1_parquet) >= 3  # multi-file base
        md = f1_metadata()
        patch = gps.from_numpy(
            spark, [(1, 1, 0, np.full((5, 5), 9.0))], md)
        patch.df.count()
        n = len(s3cat.requests)
        catalog.update_layer(spark, uri, "a", 0, patch)
        reqs = s3cat.requests[n:]
        # O(batch) upload: far fewer new data objects than the layer
        v2_parquet = {k for k in _vkeys(s3cat)
                      if "/v2/" in k and k.endswith(".parquet")}
        assert 1 <= len(v2_parquet) < len(v1_parquet)
        # untouched base files were NOT re-uploaded or downloaded: the
        # only v1 data GETs are the touched file(s)
        v1_data_gets = {r[1] for r in reqs if r[0] == "GET"
                        and "/v1/" in r[1] and r[1].endswith(".parquet")}
        assert len(v1_data_gets) < len(v1_parquet)
        # manifest references the untouched v1 objects
        mf = catalog.file_manifest(uri, "a", 0)
        refs = [e for e in mf["files"] if e.get("version") == "v1"]
        assert refs and all(f"b/cat/a/0/v1/{e['name']}" in v1_parquet
                            for e in refs)
        # content correct through the shared-file read path
        from geopyspark_spark.sources.numpy_source import to_numpy

        back = catalog.read(spark, uri, "a", 0)
        tiles = {(t[0], t[1]): t[3] for t in to_numpy(back)}
        assert len(tiles) == 4
        assert tiles[(1, 1)][2, 2] == 9.0 and tiles[(0, 1)][2, 2] == 1.0
        # GC after a further update partially sweeps v1: referenced
        # data objects survive, sidecars go, retention listing honest
        patch2 = gps.from_numpy(
            spark, [(0, 0, 0, np.full((5, 5), 7.0))], md)
        catalog.update_layer(spark, uri, "a", 0, patch2)  # v3
        assert catalog.list_versions(uri, "a", 0) == ["v2", "v3"]
        keys = set(s3cat.objects)
        assert not any(k.endswith("/v1/.metadata.json") for k in keys)
        live_v1 = {k for k in keys if "/v1/" in k and k.endswith(".parquet")}
        assert live_v1  # referenced files survive the sweep
        back = catalog.read(spark, uri, "a", 0)
        tiles = {(t[0], t[1]): t[3] for t in to_numpy(back)}
        assert tiles[(0, 0)][2, 2] == 7.0 and tiles[(1, 1)][2, 2] == 9.0


class TestS3CommitProtocol:
    def test_crashed_writer_invisible_then_swept(self, spark, f1_layer,
                                                 s3cat):
        """A writer that died after claiming (orphan vN, no manifest
        move) is invisible to readers and reclaimed two commits later."""
        uri = "s3://b/cat"
        catalog.write(uri, "a", f1_layer, zoom=0)  # v1
        # simulate a claim + partial upload that never published
        obs.put_object("s3://b/cat/a/0/v2/.claim", b"deadbeef")
        obs.put_object("s3://b/cat/a/0/v2/part-0.parquet", b"garbage")
        assert s3cat.objects["b/cat/a/0/MANIFEST"] == b"v1"
        assert catalog.read(spark, uri, "a", 0).df.count() == f1_layer.df.count()
        # the next writer claims PAST the orphan (v3); its GC sweeps the
        # never-published orphan immediately (no reader can hold a
        # version the manifest never pointed at) while deferring v1,
        # the previously COMMITTED version, one more commit
        catalog.write(uri, "a", f1_layer, zoom=0)
        assert s3cat.objects["b/cat/a/0/MANIFEST"] == b"v3"
        assert _versions(s3cat) == ["v1", "v3"]
        catalog.write(uri, "a", f1_layer, zoom=0)
        assert _versions(s3cat) == ["v3", "v4"]

    def test_superseded_publish_warns_and_skips_gc(self, spark, f1_layer,
                                                   s3cat):
        uri = "s3://b/cat"
        catalog.write(uri, "a", f1_layer, zoom=0)  # v1
        catalog.write(uri, "a", f1_layer, zoom=0)  # v2, v1 kept
        with pytest.warns(RuntimeWarning, match="superseded"):
            co._finish_commit("s3://b/cat/a/0", "v1")
        assert s3cat.objects["b/cat/a/0/MANIFEST"] == b"v2"
        assert _versions(s3cat) == ["v1", "v2"]  # no GC ran

    def test_claim_read_back_on_no_precondition_store(self, s3cat):
        """Last-writer-wins fallback: when the store ignores
        If-None-Match, a claim whose read-back shows ANOTHER writer's
        token moves on to the next version instead of colliding."""
        s3cat.no_preconditions = True
        root = "s3://b/cat/a/0"
        obs.put_object(f"{root}/v1/.claim", b"other-writer-token")
        v = co._claim(root)
        assert v == "v2"
        got = obs.get_object(f"{root}/v2/.claim")
        assert got is not None and got[0] != b"other-writer-token"

    def test_manifest_cas_retries_on_contention(self, s3cat):
        """A publisher whose If-Match loses (manifest moved between its
        GET and PUT) re-reads and applies the monotone rule."""
        root = "s3://b/cat/a/0"
        obs.put_object(f"{root}/MANIFEST", b"v1")
        # publishing v3 over v1 succeeds and reports replaced=v1
        replaced, published = co._publish(root, "v3")
        assert (replaced, published) == ("v1", True)
        # publishing v2 now refuses (monotone): superseded
        replaced, published = co._publish(root, "v2")
        assert (replaced, published) == ("v3", False)

    def test_two_writer_race(self, spark, f1_layer, s3cat):
        """VERDICT r12 #1's gate: two writers committing the same
        layer-zoom concurrently claim DISTINCT versions via conditional
        PUT, the manifest lands on the highest, and the published layer
        is exactly ONE writer's complete data."""
        uri = "s3://b/cat"
        catalog.write(uri, "a", f1_layer, zoom=0)  # v1 baseline
        barrier = threading.Barrier(2)
        results, errors = [], []

        def worker(fill):
            try:
                layer = f1_layer * 0 + float(fill)
                layer.df.count()  # materialize before the barrier
                barrier.wait(timeout=120)
                results.append(catalog.write(uri, "a", layer, zoom=0))
            except Exception as e:  # pragma: no cover
                errors.append(e)

        ts = [threading.Thread(target=worker, args=(fill,))
              for fill in (2.0, 3.0)]
        for t in ts:
            t.start()
        for t in ts:
            t.join(timeout=300)
        assert not errors
        # distinct versions claimed; manifest on the highest
        assert sorted(os.path.basename(v) for v in results) == ["v2", "v3"]
        assert s3cat.objects["b/cat/a/0/MANIFEST"] == b"v3"
        back = catalog.read(spark, uri, "a", 0)
        vals = {r.cells[0] for r in back.df.collect()}
        assert back.df.count() == f1_layer.df.count()
        assert vals in ({2.0}, {3.0})
        # each claimed version prefix holds one complete commit
        # (.claim + parquet + metadata), no interleaving marker missing
        for v in ("v2", "v3"):
            keys = [k for k in s3cat.objects
                    if k.startswith(f"b/cat/a/0/{v}/")]
            assert any(k.endswith(".metadata.json") for k in keys)
            assert any(k.endswith(".parquet") for k in keys)


class TestS3FinishCommitSafety:
    """ADVICE r13: _finish_commit must never sweep a version whose
    publish outcome is unknown, and _publish must not misclassify a
    possibly-landed commit as an optimistic conflict."""

    def test_transport_failure_does_not_sweep(self, s3cat, monkeypatch):
        """A non-Conflict failure from _publish (retry layer exhausted
        on timeouts/5xx — the CAS may have landed server-side) leaves
        the version's uploaded objects intact; only ConflictError
        triggers the cleanup sweep."""
        root = "s3://b/cat/a/0"
        obs.put_object(f"{root}/v1/.claim", b"tok")
        obs.put_object(f"{root}/v1/part-0.parquet", b"data")

        def boom(*a, **k):
            raise RuntimeError("socket timeout after retries")

        monkeypatch.setattr(co, "_publish", boom)
        with pytest.raises(RuntimeError, match="socket timeout"):
            co._finish_commit(root, "v1")
        # data objects survive: if the manifest DID land server-side,
        # deleting them would brick the catalog for every reader
        assert "b/cat/a/0/v1/part-0.parquet" in s3cat.objects

    def test_conflict_before_any_put_sweeps_and_raises(self, s3cat):
        """An unambiguous optimistic conflict (no CAS attempt issued)
        still cleans up the never-published version's objects."""
        root = "s3://b/cat/a/0"
        obs.put_object(f"{root}/MANIFEST", b"v2")
        obs.put_object(f"{root}/v3/.claim", b"tok")
        obs.put_object(f"{root}/v3/part-0.parquet", b"data")
        with pytest.raises(catalog.ConflictError):
            co._finish_commit(root, "v3", expected_prev="v1")
        assert "b/cat/a/0/v3/part-0.parquet" not in s3cat.objects

    def test_lost_response_supersede_is_not_a_conflict(self, s3cat,
                                                       monkeypatch):
        """The ambiguous window: writer A's conditional PUT LANDS but
        the response is lost (retry saw 412), then writer B supersedes.
        A's re-check sees cur > version with expected_prev stale — that
        must take the superseded path (cur, False), NOT ConflictError
        (raising would make _finish_commit delete objects that are now
        B's reader-safety prev)."""
        root = "s3://b/cat/a/0"
        obs.put_object(f"{root}/MANIFEST", b"v1")
        real_put = obs.put_object
        fired = []

        def lossy_put(uri, body, **kw):
            if uri.endswith("/MANIFEST") and body == b"v2" and not fired:
                fired.append(True)
                real_put(uri, body, **kw)      # A's PUT lands: v2
                # concurrent writer B publishes v3 over it
                cur = obs.get_object(uri)
                real_put(uri, b"v3", if_match=cur[1])
                # the transport retry layer re-sent A's PUT and saw 412
                raise obs.PreconditionFailed(uri)
            return real_put(uri, body, **kw)

        monkeypatch.setattr(obs, "put_object", lossy_put)
        replaced, published = co._publish(root, "v2", expected_prev="v1")
        assert (replaced, published) == ("v3", False)

    def test_conflict_mid_loop_when_put_never_landed(self, s3cat,
                                                     monkeypatch):
        """cur < version after a failed CAS attempt proves the PUT never
        landed (the manifest is monotone), so the lost-update guard
        still fires: a concurrent lower-version publish between A's read
        and PUT raises ConflictError instead of silently dropping B's
        update."""
        root = "s3://b/cat/a/0"
        obs.put_object(f"{root}/MANIFEST", b"v1")
        real_put = obs.put_object
        fired = []

        def contended_put(uri, body, **kw):
            if uri.endswith("/MANIFEST") and body == b"v3" and not fired:
                fired.append(True)
                # concurrent writer B publishes v2 first; A's If-Match
                # (etag of v1) genuinely fails — PUT never landed
                cur = obs.get_object(uri)
                real_put(uri, b"v2", if_match=cur[1])
                raise obs.PreconditionFailed(uri)
            return real_put(uri, body, **kw)

        monkeypatch.setattr(obs, "put_object", contended_put)
        with pytest.raises(catalog.ConflictError):
            co._publish(root, "v3", expected_prev="v1")


class TestS3PyramidSnapshots:
    """r14 (VERDICT r13 #5): pyramid snapshots on the object backend —
    create-only conditional-PUT claim, immutable once readable."""

    def test_publish_list_read_roundtrip(self, s3cat):
        body1 = b'{"levels": {"0": "v1", "1": "v1"}}'
        body2 = b'{"levels": {"0": "v2", "1": "v2"}}'
        assert co.publish_pyramid_snapshot("s3://b/cat", "L", body1) == "p1"
        assert co.publish_pyramid_snapshot("s3://b/cat", "L", body2) == "p2"
        assert co.list_pyramid_versions("s3://b/cat", "L") == ["p1", "p2"]
        assert co.read_pyramid_snapshot("s3://b/cat", "L", "p1") == body1
        assert co.read_pyramid_snapshot("s3://b/cat", "L", "p2") == body2
        with pytest.raises(FileNotFoundError):
            co.read_pyramid_snapshot("s3://b/cat", "L", "p9")

    def test_racing_publishers_get_distinct_names(self, s3cat):
        names = []
        barrier = threading.Barrier(2)

        def pub(tag):
            barrier.wait(timeout=60)
            names.append(co.publish_pyramid_snapshot(
                "s3://b/cat", "L", b'{"levels": {"0": "' + tag + b'"}}'))

        ts = [threading.Thread(target=pub, args=(t,))
              for t in (b"a", b"b")]
        for t in ts:
            t.start()
        for t in ts:
            t.join(timeout=120)
        assert sorted(names) == ["p1", "p2"]

    def test_no_precondition_store_read_back(self, s3cat):
        """Last-writer-wins fallback: an overwritten publisher sees the
        other body on read-back and moves to the next number."""
        s3cat.no_preconditions = True
        obs.put_object("s3://b/cat/L/.pyramid/p1.json", b"other")
        name = co.publish_pyramid_snapshot("s3://b/cat", "L", b"mine")
        assert name == "p2"
        assert obs.get_object("s3://b/cat/L/.pyramid/p2.json")[0] == b"mine"

    def test_pyramid_dir_not_a_zoom(self, s3cat):
        obs.put_object("s3://b/cat/L/.pyramid/p1.json", b"{}")
        obs.put_object("s3://b/cat/L/3/MANIFEST", b"v1")
        assert co.list_zooms("s3://b/cat", "L") == [3]

    def test_s3a_scheme_catalog_roundtrip(self, spark, f1_layer, s3cat):
        """r15 review: s3a:// URIs are accepted by _is_object but
        list_keys used to normalize listed keys to s3://, misaligning
        every relative-key slice — versions vanished, GC never ran,
        cached files got truncated names. Full write/list/read must
        work under the s3a:// scheme."""
        uri = "s3a://b/cat"
        catalog.write(uri, "sa", f1_layer, zoom=0)
        assert catalog.list_versions(uri, "sa", 0) == ["v1"]
        assert co.current_version(uri, "sa", 0) == "v1"
        out = catalog.read(spark, uri, "sa", 0)
        assert out.df.count() > 0

    def test_fetch_version_vanished_object_is_loud(self, spark, f1_layer,
                                                   s3cat, monkeypatch):
        """r15 review: a 404 mid-fetch (concurrent deferred GC deleting
        the version) used to be skipped with 'continue' and the cache
        still marked '.complete' — every later read silently served a
        PARTIAL version. It must raise, and a clean retry must work."""
        uri = "s3://b/cat"
        catalog.write(uri, "vf", f1_layer, zoom=0)
        real = obs.download_object
        flaked = []

        def flaky(u, path):
            if u.endswith(".parquet") and not flaked:
                flaked.append(u)
                return False  # the GC race: listed, then 404 on GET
            return real(u, path)

        monkeypatch.setattr(obs, "download_object", flaky)
        with pytest.raises(FileNotFoundError, match="garbage-collected"):
            catalog.read(spark, uri, "vf", 0).df.count()
        assert flaked  # the fault actually fired
        # no '.complete' marker was written: the retry re-fetches and
        # serves the FULL version
        assert catalog.read(spark, uri, "vf", 0).df.count() > 0

    def test_expired_markers(self, s3cat):
        """r15 (VERDICT r14 #2): pN.expired tombstones sit BESIDE the
        immutable pN.json manifests; neither the snapshot lister nor
        the publisher's numbering mistakes one for a snapshot."""
        co.publish_pyramid_snapshot("s3://b/cat", "L",
                                    b'{"levels": {"0": "v1"}}')
        co.publish_pyramid_snapshot("s3://b/cat", "L",
                                    b'{"levels": {"0": "v2"}}')
        assert co.expired_pyramid_versions("s3://b/cat", "L") == set()
        co.mark_pyramid_expired("s3://b/cat", "L", "p1")
        co.mark_pyramid_expired("s3://b/cat", "L", "p1")  # idempotent
        assert co.expired_pyramid_versions("s3://b/cat", "L") == {"p1"}
        # backend lister still sees both manifests (the catalog layer
        # filters); the manifest body is untouched
        assert co.list_pyramid_versions("s3://b/cat", "L") == ["p1", "p2"]
        assert co.read_pyramid_snapshot("s3://b/cat", "L", "p1") == \
            b'{"levels": {"0": "v1"}}'
        # markers don't collide with the pN numbering
        assert co.publish_pyramid_snapshot(
            "s3://b/cat", "L", b'{"levels": {"0": "v3"}}') == "p3"

    def test_retention_sweep_on_object_backend(self, spark, f1_layer,
                                               s3cat):
        """Republish past retention on s3://: the expired snapshot is
        swept out of the honest listing and reads raise the named
        error (r15, VERDICT r14 #2 — both backends)."""
        import pytest as _pt

        from geopyspark_spark.layer import Pyramid

        uri = "s3://b/cat"
        for off in (0.0, 10.0, 20.0):
            catalog.write_pyramid(uri, "a", Pyramid({0: f1_layer + off}),
                                  keep_history=0)
        assert catalog.list_pyramid_versions(uri, "a") == ["p2", "p3"]
        assert catalog.list_pyramid_versions(
            uri, "a", include_expired=True) == ["p1", "p2", "p3"]
        with _pt.raises(catalog.PyramidSnapshotExpiredError,
                        match="expired by retention"):
            catalog.read_pyramid_manifest(uri, "a", version="p1")
        with _pt.raises(catalog.PyramidSnapshotExpiredError,
                        match="expired by retention"):
            catalog.read_pyramid(spark, uri, "a", version="p1")
        p2 = catalog.read_pyramid(spark, uri, "a", version="p2")
        assert 0 in p2.levels


class TestS3PointRead:
    def test_point_read_records_and_covering_fetch(self, spark, f1_layer,
                                                   s3cat):
        """A point read over the object store returns the stored
        records and downloads only the file that covers the key."""
        import numpy as np

        uri = "s3://b/cat"
        catalog.write(uri, "a", f1_layer, zoom=0, num_files=4)
        n_files = len(catalog.file_manifest(uri, "a", 0)["files"])
        assert n_files >= 2
        n = len(s3cat.requests)
        recs = catalog.read_value(uri, "a", 0, 0, 0)
        data_gets = [r for r in s3cat.requests[n:]
                     if r[0] == "GET" and r[1].endswith(".parquet")]
        assert len(data_gets) == 1
        want = np.ones(25)
        want[0] = 0.0
        assert len(recs) == 1
        rec = recs[0]
        assert set(rec) == {"key_col", "key_row", "band", "cells", "zindex"}
        assert (rec["key_col"], rec["key_row"], rec["band"]) == (0, 0, 0)
        assert rec["cells"] == want.tolist()
        assert catalog.ValueReader(uri, "a", 0).read(0, 0) == recs
        assert catalog.read_value(uri, "a", 0, 1, 1)[0]["cells"] == [1.0] * 25
        assert catalog.read_value(uri, "a", 0, 5, 5) == []


class TestS3TmsServing:
    """r14: the TMS fetcher serves object-store catalogs — unpinned
    zoom discovery via ListObjectsV2 (the r14 _list_zooms dispatch) and
    snapshot-pinned time travel, both over the no-Spark duckdb point
    read against the immutable version cache."""

    def test_unpinned_fetcher_on_s3(self, spark, f1_layer, s3cat):
        from geopyspark_spark.tms import CatalogTileFetcher

        catalog.write("s3://b/cat", "a", f1_layer, zoom=0)
        f = CatalogTileFetcher("s3://b/cat", "a")
        assert f._zooms == [0]
        tile = f.fetch(0, 0, 0)
        assert tile is not None and tile.shape == (5, 5)
        assert tile[0, 0] == 0.0 and tile[1, 1] == 1.0

    def test_pinned_fetcher_time_travels_on_s3(self, spark, f1_layer,
                                               s3cat):
        from geopyspark_spark.layer import Pyramid
        from geopyspark_spark.tms import CatalogTileFetcher

        uri = "s3://b/cat"
        pyr1 = Pyramid({0: f1_layer})
        pyr2 = Pyramid({0: f1_layer + 41.0})
        catalog.write_pyramid(uri, "a", pyr1, keep_history=1)
        catalog.write_pyramid(uri, "a", pyr2, keep_history=1)
        assert catalog.list_pyramid_versions(uri, "a") == ["p1", "p2"]
        old = CatalogTileFetcher(uri, "a", pyramid_version="p1")
        new = CatalogTileFetcher(uri, "a", pyramid_version="latest")
        a, b = old.fetch(0, 1, 1), new.fetch(0, 1, 1)
        assert float(b[2, 2]) - float(a[2, 2]) == 41.0
