"""Structured Streaming tests: stream results must equal batch results
over the same files (Trigger.AvailableNow drains everything)."""

import pytest
from pyspark.sql import functions as F

from geopyspark_spark.streaming import events as sev


@pytest.fixture(scope="module")
def events_stream(spark):
    return sev.read_events_stream(spark, "/root/testdata/sf0.001")


@pytest.fixture(scope="module")
def events_batch(spark):
    return sev.read_events_batch(spark, "/root/testdata/sf0.001")


class TestStreaming:
    def test_stream_is_streaming(self, events_stream):
        assert events_stream.isStreaming

    def test_tumbling_equals_batch(self, spark, events_stream, events_batch):
        got = sev.run_available_now(sev.tumbling_counts(events_stream), "t_tumb")
        expected = (
            events_batch.groupBy(F.window("ts", "1 hour").alias("w"), "event_type")
            .agg(F.count("*").alias("n_events"))
        )
        g = {(r["window_start"], r["event_type"]): r["n_events"] for r in got.collect()}
        e = {(r["w"]["start"], r["event_type"]): r["n_events"] for r in expected.collect()}
        assert g == e
        assert len(g) > 0

    def test_sliding_window_doubles_rows(self, spark, events_stream, events_batch):
        got = sev.run_available_now(sev.sliding_counts(events_stream), "t_slide")
        n_events = events_batch.count()
        assert got.agg(F.sum("n_events")).first()[0] == 2 * n_events

    def test_sessionize(self, spark, events_stream):
        got = sev.run_available_now(sev.sessionize(events_stream, gap="30 minutes"), "t_sess")
        rows = got.collect()
        assert len(rows) > 0
        for r in rows[:20]:
            assert r["session_end"] >= r["session_start"]
            assert r["n_events"] >= 1


class TestStatefulOperator:
    def test_running_user_totals_equals_batch(self, spark, events_stream, events_batch):
        """The applyInPandasWithState running totals, after draining all
        input, must agree with a plain batch aggregation per user (take each
        user's LAST update: totals are monotone in n_events)."""
        # the module-scoped stream reads the whole sf directory; rows from
        # non-event tables project to all-null under EVENTS_SCHEMA and are
        # dropped here (windowed aggs drop them implicitly via null ts)
        stream = events_stream.where("ts IS NOT NULL AND user_id IS NOT NULL")
        got = sev.run_available_now(
            sev.running_user_totals(stream), "t_state", output_mode="update"
        )
        last = (
            got.groupBy("user_id")
            .agg(F.max(F.struct("n_events", "sum_value")).alias("s"))
            .select("user_id", "s.n_events", "s.sum_value")
        )
        exp = events_batch.groupBy("user_id").agg(
            F.count("*").alias("n_events"),
            F.sum(F.coalesce(F.col("value"), F.lit(0.0))).alias("sum_value"),
        )
        g = {r.user_id: (r.n_events, round(r.sum_value, 6)) for r in last.collect()}
        x = {r.user_id: (r.n_events, round(r.sum_value, 6)) for r in exp.collect()}
        assert g == x


class TestEnrichAndDedup:
    def test_stream_static_enrichment_equals_batch(self, spark, events_stream, events_batch):
        from pyspark.sql import functions as F

        from geopyspark_spark.streaming import events as se

        cust = spark.read.parquet("/root/testdata/sf0.001/customer.parquet")
        streamed = se.run_available_now(
            se.enrich_with_dim(
                events_stream, cust, F.col("user_id") == F.col("c_custkey")
            ),
            "enriched",
        )
        batch = (
            events_batch.join(F.broadcast(cust), F.col("user_id") == F.col("c_custkey"))
            .groupBy("c_mktsegment")
            .agg(F.count("*").alias("n_events"), F.sum("value").alias("sum_value"))
        )
        got = {r["c_mktsegment"]: (r["n_events"], round(r["sum_value"], 6))
               for r in streamed.collect()}
        want = {r["c_mktsegment"]: (r["n_events"], round(r["sum_value"], 6))
                for r in batch.collect()}
        assert got == want

    def test_streaming_dedup_drops_replays(self, spark, tmp_path):
        import pandas as pd

        from geopyspark_spark.streaming import events as se

        # write a parquet batch that repeats event_ids (replayed events)
        pdf = pd.DataFrame({
            "event_id": [1, 1, 2, 3, 3, 3],
            "ts": pd.to_datetime(["2024-01-01 10:00"] * 6),
            "user_id": [7] * 6,
            "event_type": ["click"] * 6,
            "value": [1.0] * 6,
            "props": ["{}"] * 6,
        })
        path = str(tmp_path / "replays")
        spark.createDataFrame(pdf).write.parquet(path)
        stream = (
            spark.readStream.schema(spark.read.parquet(path).schema).parquet(path)
        )
        out = se.run_available_now(se.dedup_events(stream), "dedup", output_mode="append")
        assert sorted(r["event_id"] for r in out.collect()) == [1, 2, 3]


class TestStreamingRasterIngest:
    """Streaming tiles -> catalog merge (round 6, beyond-reference)."""

    def _write_chunk(self, spark, path, keys, value, md):
        import pandas as pd

        tl = md.layout.tile_layout
        n = tl.tile_cols * tl.tile_rows
        rows = [{"key_col": c, "key_row": r, "band": 0,
                 "cells": [float(value)] * n} for c, r in keys]
        spark.createDataFrame(
            pd.DataFrame(rows),
            "key_col int, key_row int, band int, cells array<double>",
        ).write.mode("append").parquet(path)

    def test_two_drain_merge_new_wins(self, spark, tmp_path):
        import geopyspark_spark as gps
        from geopyspark_spark.sources import catalog as cat
        from geopyspark_spark.streaming.raster import (read_tile_stream,
                                                       stream_into_catalog)

        md = gps.LayerMetadata(
            crs="epsg:4326", cell_type="float64ud-1.0",
            layout=gps.LayoutDefinition(gps.Extent(0, 0, 8, 8),
                                        gps.TileLayout(2, 2, 4, 4)),
            bounds=((0, 0), (1, 1)), extent=gps.Extent(0, 0, 8, 8), num_bands=1,
        )
        src = str(tmp_path / "stream_src")
        uri = str(tmp_path / "cat")
        # drain 1: all four tiles value 1
        self._write_chunk(spark, src, [(0, 0), (0, 1), (1, 0), (1, 1)], 1.0, md)
        stream_into_catalog(read_tile_stream(spark, src, md), uri, "live", 0, md)
        back = cat.read(spark, uri, "live", 0)
        assert back.count() == 4
        # drain 2: only NEW files are processed (checkpoint); patch 2 tiles
        self._write_chunk(spark, src, [(0, 0), (1, 1)], 9.0, md)
        stream_into_catalog(read_tile_stream(spark, src, md), uri, "live", 0, md)
        back = cat.read(spark, uri, "live", 0)
        got = {(r["key_col"], r["key_row"]): r["cells"][0] for r in back.df.collect()}
        assert got[(0, 0)] == 9.0 and got[(1, 1)] == 9.0  # new wins
        assert got[(0, 1)] == 1.0 and got[(1, 0)] == 1.0  # untouched survive
        assert back.count() == 4

    def test_microbatch_commit_writes_obatch_files(self, spark, tmp_path):
        """r16 (VERDICT r15 #1): a micro-batch merge commit must write
        O(batch) data files and reuse the untouched files of the
        previous version by manifest reference — not rewrite the
        layer."""
        import os

        import numpy as np

        import geopyspark_spark as gps
        from geopyspark_spark.sources import catalog as cat
        from geopyspark_spark.streaming.raster import (read_tile_stream,
                                                       stream_into_catalog)

        md = gps.LayerMetadata(
            crs="epsg:4326", cell_type="float64ud-1.0",
            layout=gps.LayoutDefinition(gps.Extent(0, 0, 8, 8),
                                        gps.TileLayout(2, 2, 4, 4)),
            bounds=((0, 0), (1, 1)), extent=gps.Extent(0, 0, 8, 8),
            num_bands=1,
        )
        uri = str(tmp_path / "cat")
        # base layer spread over multiple z-disjoint files
        tiles = [(kc, kr, 0, np.ones((4, 4)))
                 for kc in range(2) for kr in range(2)]
        base = gps.from_numpy(spark, tiles, md)
        cat.write(uri, "live", base, zoom=0, num_files=4)
        root = cat._layer_path(uri, "live", 0)
        n_base = len([f for f in os.listdir(os.path.join(root, "v1"))
                      if f.endswith(".parquet")])
        assert n_base >= 3
        # stream ONE patched tile through the ingest sink
        src = str(tmp_path / "stream_src")
        self._write_chunk(spark, src, [(1, 1)], 9.0, md)
        stream_into_catalog(read_tile_stream(spark, src, md),
                            uri, "live", 0, md)
        assert cat.current_version(uri, "live", 0) == "v2"
        n_new = len([f for f in os.listdir(os.path.join(root, "v2"))
                     if f.endswith(".parquet")])
        assert 1 <= n_new < n_base  # O(batch), not O(layer)
        mf = cat.file_manifest(uri, "live", 0)
        assert any(e.get("version") == "v1" for e in mf["files"])
        back = cat.read(spark, uri, "live", 0)
        got = {(r["key_col"], r["key_row"]): r["cells"][0]
               for r in back.df.collect()}
        assert got[(1, 1)] == 9.0 and got[(0, 0)] == 1.0
        assert back.count() == 4

    def test_stream_into_object_store_catalog(self, spark, tmp_path,
                                              monkeypatch):
        """r15 review: the checkpoint default lived INSIDE the catalog
        URI, which fails for s3:// catalogs (Spark's checkpoint manager
        goes through Hadoop FileSystem, no handler for the boto-style
        path) — object-store catalogs now default to a local checkpoint
        and the drain works end to end."""
        import geopyspark_spark as gps
        from geopyspark_spark.sources import catalog as cat
        from geopyspark_spark.sources.s3stub import start_stub
        from geopyspark_spark.streaming.raster import (read_tile_stream,
                                                       stream_into_catalog)

        srv = start_stub()
        monkeypatch.setenv("AWS_ENDPOINT_URL", srv.endpoint)
        for var in ("AWS_ACCESS_KEY_ID", "AWS_SECRET_ACCESS_KEY",
                    "AWS_SESSION_TOKEN"):
            monkeypatch.delenv(var, raising=False)
        monkeypatch.setenv("GEOPYSPARK_OBJCAT_CACHE",
                           str(tmp_path / "objcache"))
        try:
            md = gps.LayerMetadata(
                crs="epsg:4326", cell_type="float64ud-1.0",
                layout=gps.LayoutDefinition(gps.Extent(0, 0, 8, 8),
                                            gps.TileLayout(2, 2, 4, 4)),
                bounds=((0, 0), (1, 1)), extent=gps.Extent(0, 0, 8, 8),
                num_bands=1,
            )
            src = str(tmp_path / "s3_stream_src")
            self._write_chunk(spark, src, [(0, 0), (1, 1)], 3.0, md)
            stream_into_catalog(read_tile_stream(spark, src, md),
                                "s3://b/cat", "live", 0, md)
            back = cat.read(spark, "s3://b/cat", "live", 0)
            assert back.count() == 2
        finally:
            srv.shutdown()


    def test_each_microbatch_scanned_once(self, spark, tmp_path):
        """The sink pins its micro-batch: the emptiness check and the
        commit's passes read the pin, so every trigger scans its source
        file exactly once (numInputRows == the file's rows)."""
        import os
        import time

        import pyarrow as pa
        import pyarrow.parquet as pq

        import geopyspark_spark as gps
        from geopyspark_spark.sources import catalog as cat
        from geopyspark_spark.streaming.raster import (read_tile_stream,
                                                       stream_into_catalog)

        md = gps.LayerMetadata(
            crs="epsg:4326", cell_type="float64ud-1.0",
            layout=gps.LayoutDefinition(gps.Extent(0, 0, 8, 8),
                                        gps.TileLayout(2, 2, 4, 4)),
            bounds=((0, 0), (1, 1)), extent=gps.Extent(0, 0, 8, 8),
            num_bands=1,
        )
        src = str(tmp_path / "src")
        os.makedirs(src)
        files = [[(0, 0), (0, 1), (1, 0), (1, 1)], [(0, 0), (1, 1)]]
        for i, keys in enumerate(files):
            pq.write_table(pa.table({
                "key_col": pa.array([c for c, _ in keys], pa.int32()),
                "key_row": pa.array([r for _, r in keys], pa.int32()),
                "band": pa.array([0] * len(keys), pa.int32()),
                "cells": [[float(i + 1)] * 16 for _ in keys],
            }), os.path.join(src, f"batch-{i}.parquet"))
            # the file source takes new files in modification-time order,
            # in milliseconds, and back-to-back writes can share one: ties
            # come in directory-listing order, so space the files 1 s apart
            t = time.time() - 60 + i
            os.utime(os.path.join(src, f"batch-{i}.parquet"), (t, t))
        uri = str(tmp_path / "cat")
        q = stream_into_catalog(
            read_tile_stream(spark, src, md, max_files_per_trigger=1),
            uri, "live", 0, md)
        rows = [p["numInputRows"] for p in q.recentProgress
                if p["numInputRows"]]
        assert rows == [len(k) for k in files]
        back = cat.read(spark, uri, "live", 0)
        got = {(r["key_col"], r["key_row"]): r["cells"][0]
               for r in back.df.collect()}
        assert got == {(0, 0): 2.0, (0, 1): 1.0, (1, 0): 1.0, (1, 1): 2.0}


class TestStreamingHll:
    def test_stream_registers_equal_batch_registers(self, spark, events_stream, events_batch):
        from geopyspark_spark.functions.sketch import hll_register_terms

        j, rho = hll_register_terms("user_id", 256)
        regs = (
            events_stream.where(F.col("ts").isNotNull())
            .withWatermark("ts", "2 hours")
            .groupBy(F.window("ts", "1 day").alias("w"), j.alias("j"))
            .agg(F.max(rho).alias("mx"))
        )
        got = sev.run_available_now(regs, "t_hll")
        jb, rhob = hll_register_terms("user_id", 256)
        expected = (
            events_batch.where(F.col("ts").isNotNull())
            .groupBy(F.window("ts", "1 day").alias("w"), jb.alias("j"))
            .agg(F.max(rhob).alias("mx"))
        )
        g = {(r["w"]["start"], r["j"]): r["mx"] for r in got.collect()}
        e = {(r["w"]["start"], r["j"]): r["mx"] for r in expected.collect()}
        assert g == e and len(g) > 0


class TestStreamStreamJoin:
    def test_join_equals_batch_within_bound(self, spark, events_stream, events_batch):
        views = events_stream.where(F.col("event_type") == "view").select(
            F.col("event_id").alias("view_id"), "user_id", "ts"
        )
        purch = events_stream.where(F.col("event_type") == "purchase").select(
            F.col("event_id").alias("purchase_id"), "user_id", "ts"
        )
        j = sev.stream_stream_join(views, purch, time_bound="30 minutes")
        got = sev.run_available_now(
            j.select("view_id", "purchase_id"), "t_ssj", output_mode="append"
        )
        g = {(r["view_id"], r["purchase_id"]) for r in got.collect()}

        bv = events_batch.where(F.col("event_type") == "view").select(
            F.col("event_id").alias("view_id"),
            F.col("user_id").alias("vu"), F.col("ts").alias("vts"),
        )
        bp = events_batch.where(F.col("event_type") == "purchase").select(
            F.col("event_id").alias("purchase_id"),
            F.col("user_id").alias("pu"), F.col("ts").alias("pts"),
        )
        e = {(r["view_id"], r["purchase_id"]) for r in bv.join(
            bp,
            (F.col("vu") == F.col("pu"))
            & (F.col("vts") <= F.col("pts"))
            & (F.col("vts") >= F.col("pts") - F.expr("INTERVAL 30 MINUTES")),
        ).collect()}
        assert g == e and len(g) > 0


class TestEventsReaderContract:
    """r15 review: the batch reader must mirror the stream reader's
    ts normalization knob, and a missing local path must fail at open
    time instead of silently picking the legacy-nanos branch."""

    def test_batch_reader_micros_knob(self, spark, tmp_path):
        from geopyspark_spark.streaming.events import read_events_batch

        micros = 1_704_067_200_000_000  # 2024-01-01 in epoch MICROS
        path = str(tmp_path / "ev")
        spark.createDataFrame(
            [(1, micros, 7, "click", 1.0, "{}")],
            "event_id long, ts long, user_id long, event_type string, "
            "value double, props string").write.parquet(path)
        got_nanos = read_events_batch(spark, path).collect()[0]["ts"]
        got_micros = read_events_batch(
            spark, path, ts_is_nanos=False).collect()[0]["ts"]
        assert got_micros.year == 2024 and got_micros.month == 1
        # interpreting micros as nanos lands ~1970, not 2024 — the two
        # knobs must genuinely differ
        assert got_nanos.year == 1970

    def test_missing_events_path_is_loud(self, spark, tmp_path):
        from geopyspark_spark.streaming.events import read_events_stream

        with pytest.raises(FileNotFoundError, match="does not exist"):
            read_events_stream(spark, str(tmp_path / "nope"))


class TestStreamingDedup:
    """r14: streaming incremental dedup — foreachBatch runs the full
    batch operator per micro-batch against the persisted corpus
    signature artifact; the union of micro-batch verdicts must equal
    the one-shot batch output regardless of how files batch."""

    def test_multi_microbatch_equals_batch(self, spark, tmp_path):
        from geopyspark_spark.functions import dedup as fdedup
        from geopyspark_spark.streaming.documents import (
            stream_dedup_against_corpus)

        corpus = spark.createDataFrame(
            [(10, "a b c d e f g h"),
             (11, "totally different corpus content here now")],
            "doc_id long, text string")
        batch_rows = [
            (100, "a b c d e f g h"),              # dup of 10
            (101, "a b c d e f g h extra"),        # near dup
            (102, "novel text that matches nothing at all"),
            (103, "another clean unique document right here"),
        ]
        batch = spark.createDataFrame(
            batch_rows, "doc_id long, text string")
        sig_path = str(tmp_path / "sigs")
        fdedup.corpus_signatures(corpus).write.parquet(sig_path)
        sigs = spark.read.parquet(sig_path)
        # stage each doc as its OWN file; maxFilesPerTrigger=1 forces
        # one micro-batch per doc
        incoming = tmp_path / "incoming"
        incoming.mkdir()
        for i, (did, text) in enumerate(batch_rows):
            spark.createDataFrame([(did, text, "en", "t", len(text))],
                                  "doc_id long, text string, lang string, "
                                  "source string, n_chars long") \
                .coalesce(1).write.parquet(str(incoming / f"d{i}"))
        stream = (spark.readStream
                  .schema("doc_id long, text string, lang string, "
                          "source string, n_chars long")
                  .option("maxFilesPerTrigger", 1)
                  .parquet(str(incoming) + "/*"))
        out_path = str(tmp_path / "verdicts")
        q = stream_dedup_against_corpus(
            stream, sigs, out_path,
            checkpoint=str(tmp_path / "ckpt"), min_jaccard=0.5)
        q.awaitTermination()
        got = sorted((r["doc_id"], r["is_dup"], r["match_doc_id"])
                     for r in spark.read.parquet(out_path).collect())
        want = sorted((r["doc_id"], r["is_dup"], r["match_doc_id"])
                      for r in fdedup.dedup_against_corpus(
                          batch, corpus, min_jaccard=0.5).collect())
        assert got == want
        assert len(got) == 4 and got[0][1] and got[1][1]
        # replay idempotency (ADVICE r14): foreachBatch is at-least-
        # once — re-running the same micro-batches into the same sink
        # (fresh checkpoint, same per-file batching) must OVERWRITE the
        # batch_id partitions, not append duplicate verdict rows
        q2 = stream_dedup_against_corpus(
            stream, sigs, out_path,
            checkpoint=str(tmp_path / "ckpt_replay"), min_jaccard=0.5)
        q2.awaitTermination()
        replayed = sorted((r["doc_id"], r["is_dup"], r["match_doc_id"])
                          for r in spark.read.parquet(out_path).collect())
        assert replayed == want

    def _sigs_and_stream(self, spark, tmp_path, batches):
        from geopyspark_spark.functions import dedup as fdedup

        corpus = spark.createDataFrame(
            [(10, "a b c d e f g h"),
             (11, "totally different corpus content here now")],
            "doc_id long, text string")
        sig_path = str(tmp_path / "sigs")
        fdedup.corpus_signatures(corpus).write.parquet(sig_path)
        incoming = tmp_path / "incoming"
        incoming.mkdir()
        for i, rows in enumerate(batches):
            spark.createDataFrame(
                [(d, t, "en", "t", len(t)) for d, t in rows],
                "doc_id long, text string, lang string, source string, "
                "n_chars long").coalesce(1).write.parquet(
                    str(incoming / f"d{i}"))
        stream = (spark.readStream
                  .schema("doc_id long, text string, lang string, "
                          "source string, n_chars long")
                  .option("maxFilesPerTrigger", 1)
                  .parquet(str(incoming) + "/*"))
        return spark.read.parquet(sig_path), stream

    def test_each_microbatch_scanned_once(self, spark, tmp_path):
        """The judge pins its micro-batch: numInputRows equals the rows
        of each source file, not a multiple of it."""
        from geopyspark_spark.streaming.documents import (
            stream_dedup_against_corpus)

        batches = [[(100, "a b c d e f g h"), (101, "novel text here"),
                    (102, "a b c d e f g h extra")],
                   [(103, "another clean unique document")]]
        sigs, stream = self._sigs_and_stream(spark, tmp_path, batches)
        out_path = str(tmp_path / "verdicts")
        q = stream_dedup_against_corpus(
            stream, sigs, out_path, checkpoint=str(tmp_path / "ckpt"))
        q.awaitTermination()
        rows = [p["numInputRows"] for p in q.recentProgress
                if p["numInputRows"]]
        assert rows == [len(b) for b in batches]
        got = sorted((r["doc_id"], r["is_dup"])
                     for r in spark.read.parquet(out_path).collect())
        assert got == [(100, True), (101, False), (102, True),
                       (103, False)]

    def test_signature_mismatch_raises_before_start(self, spark, tmp_path):
        from geopyspark_spark.streaming.documents import (
            stream_dedup_against_corpus)

        sigs, stream = self._sigs_and_stream(
            spark, tmp_path, [[(100, "a b c d e f g h")]])
        before = {q.id for q in spark.streams.active}
        with pytest.raises(ValueError, match="num_hashes=16"):
            stream_dedup_against_corpus(
                stream, sigs, str(tmp_path / "verdicts"),
                checkpoint=str(tmp_path / "ckpt"), num_hashes=8, bands=2)
        assert {q.id for q in spark.streams.active} == before
        assert not (tmp_path / "verdicts").exists()
