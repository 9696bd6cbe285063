"""catalog_serve: commits into a versioned catalog, then serves it.

Each pass writes a fresh catalog: a full ``write`` over 8 files, two
incremental ``update_layer`` patches on seeded columns, a
``write_pyramid`` publish and a 4-micro-batch ``stream_into_catalog``
drain; it then reads back one spatial window with ``query`` and serves
Zipf-skewed ``render_tile`` requests through a ``CatalogTileFetcher``
at every stored zoom plus one over-zoom. All layers are pinned in
set-up, so operator work is negligible; the numpy content of every
committed version is known in set-up.
"""

from __future__ import annotations

import os
import shutil
import struct
import time
import zlib

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

import geopyspark_spark as gps
from geopyspark_spark.layer import Pyramid
from geopyspark_spark.operators.render import ColorMap
from geopyspark_spark.sources import catalog as cat
from geopyspark_spark.streaming.raster import read_tile_stream, stream_into_catalog
from geopyspark_spark.tms import CatalogTileFetcher, TileFetcher, render_tile

from harness import CheckFailed, numpy_tile_stats, stats_match, tile_stats
from wl_raster import SPAN, X0, Y0, make_dem, metadata, pinned_layer, tiles_of

GRID = 256
TILE = 64
NUM_FILES = 8
STREAM_BATCHES = 4
TILES_PER_BATCH = 6
#: tile requests per pass: one pass leaves ten samples beyond the 98th
#: percentile (1000 requests, for the 99th, cost 15 s a pass)
REQUESTS = 500
ZIPF_S = 1.1
BREAKS = [600.0, 900.0, 1400.0, 1e9]
COLORS = [0x2B83BAFF, 0xABDDA4FF, 0xFDAE61FF, 0xD7191CFF]


def decode_png(data: bytes) -> np.ndarray:
    """RGBA8 PNG with filter-0 scanlines -> (h, w, 4) uint8."""
    if data[:8] != b"\x89PNG\r\n\x1a\n":
        raise CheckFailed("not a PNG")
    pos, idat, w, h = 8, b"", 0, 0
    while pos < len(data):
        (n,) = struct.unpack(">I", data[pos:pos + 4])
        kind, body = data[pos + 4:pos + 8], data[pos + 8:pos + 8 + n]
        if kind == b"IHDR":
            w, h, depth, ctype = struct.unpack(">IIBB", body[:10])
            if (depth, ctype) != (8, 6):
                raise CheckFailed(f"PNG depth/colour type {depth}/{ctype}")
        elif kind == b"IDAT":
            idat += body
        pos += 12 + n
    raw = np.frombuffer(zlib.decompress(idat), dtype=np.uint8).reshape(h, 1 + 4 * w)
    if raw[:, 0].any():
        raise CheckFailed("PNG uses scanline filters")
    return raw[:, 1:].reshape(h, w, 4)


def classify(cells: np.ndarray) -> np.ndarray:
    """Expected RGBA: the colour of the first break >= value."""
    idx = np.searchsorted(np.asarray(BREAKS), cells, side="left")
    packed = np.asarray(COLORS, dtype=np.uint32)[idx]
    return np.stack([(packed >> s) & 0xFF for s in (24, 16, 8, 0)], axis=-1).astype(np.uint8)


class TimedFetcher(TileFetcher):
    """Times the catalog point read inside ``render_tile`` and keeps the
    cells it returned for the check."""

    def __init__(self, inner: TileFetcher):
        self.inner = inner
        self.fetch_s = 0.0
        self.cells = None

    def fetch(self, zoom, col, row):
        t0 = time.perf_counter()
        self.cells = self.inner.fetch(zoom, col, row)
        self.fetch_s = time.perf_counter() - t0
        return self.cells


def version_number(uri: str, layer_name: str, zoom: int) -> int:
    """Number of the committed version (``vN``), 0 before the first."""
    v = cat.current_version(uri, layer_name, zoom)
    return int(v.lstrip("v")) if v else 0


def tree_files(root: str) -> dict:
    out = {}
    for d, _, files in os.walk(root):
        for f in files:
            p = os.path.join(d, f)
            try:
                out[p] = os.path.getsize(p)
            except OSError:
                pass
    return out


class Catalog:
    def __init__(self, rng, workdir):
        self.workdir = workdir
        self.grid, self.tile = GRID, TILE
        self.lt = GRID // TILE
        self.zoom = int(np.log2(self.lt))
        self.requests = REQUESTS
        self.base = make_dem(rng, GRID)
        cols = rng.choice(self.lt, 2, replace=False)
        self.patches = [(int(c), float(d)) for c, d in zip(cols, rng.integers(50, 400, 2))]
        per_batch = min(TILES_PER_BATCH, self.lt * self.lt // STREAM_BATCHES)
        picks = rng.choice(self.lt * self.lt, STREAM_BATCHES * per_batch, replace=False)
        self.stream_keys = np.array_split([(int(k) % self.lt, int(k) // self.lt) for k in picks],
                                          STREAM_BATCHES)
        self.stream_delta = rng.integers(1000, 2000, STREAM_BATCHES).astype(float)
        # the read-back window: a seeded rectangle inside the extent
        x = np.sort(rng.uniform(X0, X0 + SPAN, 2))
        y = np.sort(rng.uniform(Y0, Y0 + SPAN, 2))
        self.window = (float(x[0]), float(y[0]), float(x[1]), float(y[1]))
        # Zipf-skewed request stream over every stored tile plus one over-zoom
        tiles = [(z, c, r) for z in range(self.zoom + 2)
                 for r in range(2 ** z) for c in range(2 ** z)]
        order = rng.permutation(len(tiles))
        p = 1.0 / np.arange(1, len(tiles) + 1) ** ZIPF_S
        draws = rng.choice(len(tiles), 8 * REQUESTS, p=p / p.sum())
        self.request_list = [tiles[order[d]] for d in draws]
        self.passes = 0

    # --- set-up -------------------------------------------------------------
    def load(self, spark):
        self.spark = spark
        t = self.tile
        self.md = metadata(self.grid, t, self.zoom)
        self.layer = pinned_layer(spark, tiles_of(self.base, t), self.md)
        self.patch_layers = [
            pinned_layer(spark, [(kc, kr, a + delta) for kc, kr, a in tiles_of(self.base, t)
                                 if kc == col], self.md)
            for col, delta in self.patches]
        levels = {}
        cur = self.base
        for z in range(self.zoom, -1, -1):
            levels[z] = pinned_layer(spark, tiles_of(cur, t), metadata(cur.shape[0], t, z))
            if z:
                h = cur.shape[0] // 2
                cur = cur.reshape(h, 2, h, 2).mean(axis=(1, 3))
        self.pyramid = Pyramid(levels)
        # stream source: one parquet file per micro-batch, key-disjoint
        self.stream_src = os.path.join(self.workdir, "stream_src")
        shutil.rmtree(self.stream_src, ignore_errors=True)
        os.makedirs(self.stream_src)
        for i, (keys, delta) in enumerate(zip(self.stream_keys, self.stream_delta)):
            tiles = {(kc, kr): a for kc, kr, a in tiles_of(self.base, t)}
            table = pa.table({
                "key_col": pa.array([int(k[0]) for k in keys], pa.int32()),
                "key_row": pa.array([int(k[1]) for k in keys], pa.int32()),
                "band": pa.array([0] * len(keys), pa.int32()),
                "cells": pa.array([(tiles[(int(k[0]), int(k[1]))] + delta).reshape(-1)
                                   for k in keys], pa.list_(pa.float64())),
            })
            pq.write_table(table, os.path.join(self.stream_src, f"batch-{i}.parquet"))

    def references(self) -> dict:
        """The expected outputs, as attributes to set on the workload."""
        t = self.tile
        g = self.base.copy()
        for col, delta in self.patches:
            g[:, col * t:(col + 1) * t] = self.base[:, col * t:(col + 1) * t] + delta
        for keys, delta in zip(self.stream_keys, self.stream_delta):
            for kc, kr in keys:
                g[kr * t:(kr + 1) * t, kc * t:(kc + 1) * t] = \
                    self.base[kr * t:(kr + 1) * t, kc * t:(kc + 1) * t] + delta
        cw = SPAN / self.grid * t
        xmin, ymin, xmax, ymax = self.window
        full = numpy_tile_stats(g, t)
        want_query = {
            (kc, kr): v for (kc, kr), v in full.items()
            if X0 + kc * cw < xmax and X0 + (kc + 1) * cw > xmin
            and Y0 + SPAN - (kr + 1) * cw < ymax and Y0 + SPAN - kr * cw > ymin}
        want_tiles = {}
        cur = self.base
        for z in range(self.zoom, -1, -1):
            for kc, kr, a in tiles_of(cur, t):
                want_tiles[(z, kc, kr)] = a
            h = cur.shape[0] // 2
            cur = cur.reshape(h, 2, h, 2).mean(axis=(1, 3)) if z else cur
        zmax = self.zoom
        for c in range(2 ** (zmax + 1)):
            for r in range(2 ** (zmax + 1)):
                parent = want_tiles[(zmax, c // 2, r // 2)]
                rows = ((r % 2) * t + np.arange(t)) // 2
                cols = ((c % 2) * t + np.arange(t)) // 2
                want_tiles[(zmax + 1, c, r)] = parent[np.ix_(rows, cols)]
        return {"want_query": want_query, "want_tiles": want_tiles, "cell_bytes": g.size * 8}

    # --- one pass -----------------------------------------------------------
    def _commit(self, rec, step, uri, fn, layer_name):
        """A commit step: versions added, files and bytes written."""
        before = tree_files(uri)
        zooms = [self.zoom] if layer_name == "dem" else list(range(self.zoom + 1))
        v0 = {z: version_number(uri, layer_name, z) for z in zooms}
        t0 = time.perf_counter()
        out = rec.step(step, fn)
        rec.sample("commit_s", time.perf_counter() - t0)
        after = tree_files(uri)
        new = [p for p in after if p not in before]
        rec.sample(f"{step}.files_written", float(sum(p.endswith(".parquet") for p in new)))
        rec.sample(f"{step}.bytes_written", float(sum(after[p] for p in new)))
        added = [version_number(uri, layer_name, z) - v0[z] for z in zooms]
        rec.sample(f"{step}.versions_added", float(sum(added)))
        rec.check(all(a == 1 for a in added), f"{step} added {added} versions")
        return out

    def run_pass(self, rec):
        uri = os.path.join(self.workdir, "cat", rec.pass_id)
        shutil.rmtree(uri, ignore_errors=True)
        os.makedirs(uri)
        self._commit(rec, "sources.catalog.write", uri,
                     lambda: cat.write(uri, "dem", self.layer, zoom=self.zoom,
                                       num_files=NUM_FILES), "dem")
        for patch in self.patch_layers:
            self._commit(rec, "sources.catalog.update_layer", uri,
                         lambda: cat.update_layer(self.spark, uri, "dem", self.zoom, patch,
                                                  mode="incremental"), "dem")
        self._commit(rec, "sources.catalog.write_pyramid", uri,
                     lambda: cat.write_pyramid(uri, "pyr", self.pyramid), "pyr")

        v0 = version_number(uri, "dem", self.zoom)
        ckpt = os.path.join(self.workdir, "ckpt", rec.pass_id)

        def drain():
            stream = read_tile_stream(self.spark, self.stream_src, self.md,
                                      max_files_per_trigger=1)
            return stream_into_catalog(stream, uri, "dem", self.zoom, self.md,
                                       query_name=f"ingest_{rec.pass_id}",
                                       checkpoint=ckpt)

        q = rec.step("streaming.raster.stream_into_catalog", drain)
        if q is not None:
            rec.stream_run(q, "streaming.raster.stream_into_catalog")
            rec.streaming_progress(q, "streaming.raster.stream_into_catalog")
            batches = sum(1 for p in q.recentProgress if p.numInputRows)
            added = version_number(uri, "dem", self.zoom) - v0
            rec.check(batches == STREAM_BATCHES and added == STREAM_BATCHES,
                      f"stream drained {batches} batches, {added} versions")
        live = sum(os.path.getsize(p) for p in cat.data_files(uri, "dem", self.zoom))
        rec.sample("storage_bytes_per_cell_byte", live / self.cell_bytes)

        xmin, ymin, xmax, ymax = self.window
        window = gps.box(xmin, ymin, xmax, ymax)

        def query_check(got):
            msg = stats_match(got, self.want_query)
            if msg:
                raise CheckFailed(msg)

        rec.step("sources.catalog.query",
                 lambda: cat.query(self.spark, uri, "dem", self.zoom, query_geom=window),
                 tile_stats, query_check)

        fetcher = TimedFetcher(CatalogTileFetcher(uri, "pyr"))
        cm = ColorMap.from_colors(BREAKS, COLORS)
        start = (self.passes * self.requests) % (len(self.request_list) - self.requests)
        self.passes += 1

        def serve():
            for z, c, r in self.request_list[start:start + self.requests]:
                t0 = time.perf_counter()
                png = render_tile(fetcher, z, c, r, color_map=cm)
                total = time.perf_counter() - t0
                rec.sample("tile_ms", total * 1000)
                rec.sample("tms.render_tile.fetch_ms", fetcher.fetch_s * 1000)
                rec.sample("tms.render_tile.png_ms", (total - fetcher.fetch_s) * 1000)
                want = self.want_tiles[(z, c, r)]
                ok = (png is not None and fetcher.cells is not None
                      and np.array_equal(np.asarray(fetcher.cells), want)
                      and np.array_equal(decode_png(png), classify(want)))
                rec.check(ok, f"tile {(z, c, r)}")

        rec.step("tms.render_tile", serve)
        shutil.rmtree(uri, ignore_errors=True)
        shutil.rmtree(ckpt, ignore_errors=True)


def setup(rng, workdir):
    return Catalog(rng, str(workdir))

