"""Empirical scaling-slope record (VERDICT r11 #2): sec-vs-scale for
the heaviest registry queries, measured serially (min-of-N), so the
100x design claims rest on data rather than plan reads alone.

Two axes, because the workload has two kinds of scale:

- **sf axis** — queries over the TPC-H-ish tables run at the driver's
  sf0.001/0.01/0.1 plus a synthetic ~sf1 (``tools/make_synth_sf.py``:
  sf0.1 replicated into 10 disjoint key shards, documents salted).
- **cells axis** — the raster fixture is sf-invariant by design (a
  fixed 32x32 grid), so raster iterative operators scale with GRID
  SIZE instead: cost_distance runs on random-friction grids from 64^2
  to 1024^2 cells. Cells-axis times are cold-cache: every timed call
  starts after ``spark.catalog.clearCache()``, so it cannot be served
  from state an earlier identical call left cached (and it pays for
  re-reading its input grid).
- **pyramid axis** — an Average pyramid over 64x64-cell tiles from
  128^2 to 1024^2 cells, cold-cache like the cells axis; each timed
  call builds the pyramid, caches it and reads every level top-down.

Usage::

    python tools/scaling_slope.py [--quick] [--out SCALING.md]

Serial discipline: one Spark session, one query at a time (see
memory: concurrent sessions inflate numbers 20-50%). Run on an
otherwise idle host; the tpch_q1 canary is recorded for cross-host
normalization.
"""

import argparse
import json
import os
import sys
import time

sys.path.insert(0, os.path.join(os.path.dirname(__file__), ".."))

SF_POINTS = [
    ("0.001", "/root/testdata/sf0.001"),
    ("0.01", "/root/testdata/sf0.01"),
    ("0.1", "/root/testdata/sf0.1"),
    ("1.0(synth)", "/tmp/spark_graft_sf1"),
]

SF_QUERIES = [
    "tpch_q1",                 # canary (host-speed normalization)
    "tpch_q21_sole_latest",
    "graph_pagerank",
    "graph_triangles",
    "text_lsh_pairs",
    "text_lsh_skew",
    "text_winnow",
    "multimodal_png_features",
    "raster_spacetime_series",  # fixture-bounded: expected ~flat
]

GRID_SIDES = [64, 128, 256, 512, 1024]   # cells 4k .. 1M
PYRAMID_SIDES = [128, 256, 512, 1024]    # 2x2 .. 16x16 tiles of 64^2


def _session():
    from pyspark.sql import SparkSession

    spark = (SparkSession.builder.master("local[32]")
             .appName("scaling-slope")
             .config("spark.sql.shuffle.partitions", "32")
             .config("spark.driver.memory", "16g")
             .config("spark.ui.enabled", "false")
             .getOrCreate())
    spark.sparkContext.setLogLevel("ERROR")
    return spark


def time_query(fn, repeats: int, before=None) -> float:
    ts = []
    for _ in range(repeats):
        if before is not None:
            before()  # untimed
        t0 = time.time()
        fn()
        ts.append(time.time() - t0)
    return min(ts)


def run_sf_axis(spark, repeats: int) -> dict:
    import __spark_entry__ as entry

    qs = entry.queries()
    out: dict = {}
    for name in SF_QUERIES:
        q = qs[name]
        out[name] = {}
        for label, path in SF_POINTS:
            if not os.path.isdir(path):
                print(f"  SKIP {name} @ {label}: {path} missing "
                      "(run tools/make_synth_sf.py)")
                continue
            q(spark, path).collect()  # warm (plan + page cache)
            sec = time_query(lambda: q(spark, path).collect(), repeats)
            out[name][label] = round(sec, 3)
            print(f"  {name} @ sf{label}: {sec:.3f}s")
    return out


def _grid_layer(spark, grid, tsz: int = 16):
    import geopyspark_spark as gps

    n = grid.shape[0]
    tiles = n // tsz
    layout = gps.LayoutDefinition(
        gps.Extent(0, 0, float(n), float(n)),
        gps.TileLayout(tiles, tiles, tsz, tsz))
    md = gps.LayerMetadata(
        crs="epsg:4326", cell_type="float64ud-9999.0", layout=layout,
        bounds=((0, 0), (tiles - 1, tiles - 1)),
        extent=layout.extent, num_bands=1)
    tile_rows = [
        (kc, kr, 0,
         grid[kr * tsz:(kr + 1) * tsz, kc * tsz:(kc + 1) * tsz]
         .reshape(-1).tolist())
        for kc in range(tiles) for kr in range(tiles)]
    df = spark.createDataFrame(
        tile_rows, "key_col int, key_row int, band int, cells array<double>")
    layer = gps.TiledRasterLayer(df.cache(), md)
    layer.df.count()
    return layer


def run_cells_axis(spark, repeats: int, sides) -> dict:
    """Every stateful/iterative raster operator on the cells axis (r13,
    VERDICT r12 #3 extended it beyond cost_distance): the fixtures
    mirror tools/stateful_sweep.py — random friction for cost_distance,
    a speckled categorical grid with tile-spanning stripes for
    region_group/sieve, a tilted ridged plane (one long accumulation
    path) for flow_accumulation/watershed."""
    import numpy as np

    import geopyspark_spark as gps
    from geopyspark_spark.operators.costdistance import cost_distance
    from geopyspark_spark.operators.focal import flow_accumulation, watershed
    from geopyspark_spark.operators.regiongroup import region_group, sieve

    out: dict = {}

    def record(op, n, fn):
        fn()  # warm
        sec = time_query(fn, repeats, before=spark.catalog.clearCache)
        out.setdefault(op, {})[str(n * n)] = round(sec, 3)
        print(f"  {op} @ {n}x{n} ({n * n} cells): {sec:.3f}s")

    for n in sides:
        rng = np.random.default_rng(42)
        fric = rng.uniform(0.5, 3.0, size=(n, n))
        layer = _grid_layer(spark, fric)
        src = gps.Point(1.5, n - 1.5)
        record("cost_distance", n, lambda: cost_distance(layer, src).df.count())
        layer.df.unpersist()

        cat = rng.integers(0, 3, size=(n, n)).astype(float)
        cat[n // 4, :] = 7.0
        cat[:, n // 3] = 7.0
        cat[rng.random((n, n)) < 0.04] = np.nan
        cat_layer = _grid_layer(spark, cat)
        record("region_group", n,
               lambda: region_group(cat_layer, connectivity=4).count())
        record("sieve", n, lambda: sieve(cat_layer, min_size=6).df.count())
        cat_layer.df.unpersist()

        rr, cc = np.mgrid[0:n, 0:n]
        z = (rr * 3 + cc + 10 * np.sin(rr / 7.0) * np.cos(cc / 5.0)).round()
        z_layer = _grid_layer(spark, z.astype(float))
        record("flow_accumulation", n,
               lambda: flow_accumulation(z_layer).count())
        record("watershed", n, lambda: watershed(z_layer).count())
        z_layer.df.unpersist()
    return out


def run_pyramid_axis(spark, repeats: int, sides) -> dict:
    """Average pyramid on the cells axis: 64x64-cell tiles, seeded
    integer grid; each timed call builds the pyramid, caches it, reads
    every level's cells top-down and releases the cache."""
    import numpy as np
    from pyspark.sql import functions as F

    out: dict = {}
    for n in sides:
        grid = np.random.default_rng(42).integers(0, 1000, (n, n)).astype(float)
        layer = _grid_layer(spark, grid, tsz=64)

        def build_and_read():
            pyr = layer.pyramid("Average").cache()
            try:
                for z in sorted(pyr.levels, reverse=True):
                    pyr[z].df.select(F.sum(F.size("cells"))).collect()
            finally:
                pyr.unpersist()

        build_and_read()  # warm
        sec = time_query(build_and_read, repeats, before=spark.catalog.clearCache)
        out[str(n * n)] = round(sec, 3)
        print(f"  pyramid @ {n}x{n} ({n * n} cells): {sec:.3f}s")
        layer.df.unpersist()
    return out


def run_boundary_rounds_axis(spark, sides) -> dict:
    """Round-count axis for the distributed boundary solver (r15,
    VERDICT r14 #1): a serpentine long-path maze forces many
    block-crossings, then the same solve runs flat (contraction
    disabled via a huge grid cap) vs contracted (blocks-of-blocks,
    forced caps so the small fixture contracts like a planet-scale
    grid would). Records synchronous Bellman-Ford rounds, contraction
    levels, and wall seconds — the round count is the scale claim."""
    import numpy as np

    import geopyspark_spark as gps
    from geopyspark_spark.operators import costdistance as cd

    out: dict = {}
    for n in sides:
        rng = np.random.default_rng(7)
        fric = rng.uniform(0.5, 3.0, size=(n, n))
        for i, r in enumerate(range(3, n - 2, 5)):   # serpentine walls
            if i % 2 == 0:
                fric[r, : n - 4] = np.nan
            else:
                fric[r, 4:] = np.nan
        layer = _grid_layer(spark, fric)
        src = gps.Point(1.5, n - 1.5)

        def run_once():
            t0 = time.time()
            cd.cost_distance(layer, src, strategy="two_level",
                             table_cells=256,
                             boundary_solver="distributed").df.count()
            pe = [int(x) for x in
                  cd._loop_stats.get("contract_part_edges", [])]
            return {"rounds": int(cd._loop_stats["boundary_rounds"]),
                    "levels": int(cd._loop_stats["contract_levels"]),
                    # largest per-task pandas group of any contraction/
                    # expansion level (rows; ~48 B/row Arrow->pandas) —
                    # the bound _CONTRACT_MAX_PART_EDGES enforces (r16,
                    # VERDICT r15 #4)
                    "part_edges": pe,
                    "contract_part_bytes": max(pe, default=0) * 48,
                    "sec": round(time.time() - t0, 3)}

        saved = cd._BF_GRID_CAP, cd._CONTRACT_FACTOR
        try:
            cd._BF_GRID_CAP = 10 ** 9      # never contract
            flat = run_once()
            cd._BF_GRID_CAP = 2            # contract down to a 2-span grid
            cd._CONTRACT_FACTOR = 2
            con = run_once()
        finally:
            cd._BF_GRID_CAP, cd._CONTRACT_FACTOR = saved
        layer.df.unpersist()
        out[str(n * n)] = {"flat": flat, "contracted": con}
        print(f"  boundary_rounds @ {n}x{n}: flat {flat} "
              f"vs contracted {con}")
    return out


def render_md(sf_axis: dict, cells_axis: dict, pyramid_axis: dict,
              repeats: int) -> str:
    lines = [
        "# SCALING — empirical sec-vs-scale record (round 14)",
        "",
        "Serial min-of-%d per point, one local[32] session, idle host." % repeats,
        "Generated by `tools/scaling_slope.py`; synthetic sf1 from",
        "`tools/make_synth_sf.py` (sf0.1 x10 disjoint key shards, salted",
        "documents). `tpch_q1` is the host-speed canary — compare",
        "ratios, not absolute seconds, across hosts.",
        "",
        "## sf axis (table-driven queries)",
        "",
        "| query | sf0.001 | sf0.01 | sf0.1 | sf1(synth) | t(0.1)/t(0.01) | t(1)/t(0.1) |",
        "|---|---|---|---|---|---|---|",
    ]
    for name, pts in sf_axis.items():
        def g(k):
            return pts.get(k)

        def ratio(a, b):
            if g(a) and g(b) and g(b) > 0:
                return f"{g(a) / g(b):.1f}x"
            return "—"
        lines.append(
            f"| {name} | {g('0.001') or '—'} | {g('0.01') or '—'} | "
            f"{g('0.1') or '—'} | {g('1.0(synth)') or '—'} | "
            f"{ratio('0.1', '0.01')} | {ratio('1.0(synth)', '0.1')} |")
    lines += [
        "",
        "A 10x data step costing ~<=10x wall time (after the fixed",
        "session/job overhead floor visible at small sf) is the linear-",
        "growth pass bar; outliers are named and explained below.",
        "",
        "## cells axis (raster iterative operators)",
        "",
    ]
    ops = list(cells_axis.keys())
    all_cells = sorted({int(c) for pts in cells_axis.values() for c in pts})
    lines.append("| cells | " + " | ".join(ops) + " |")
    lines.append("|---|" + "---|" * len(ops))
    for c in all_cells:
        row = [str(c)]
        for op in ops:
            v = cells_axis[op].get(str(c))
            row.append(str(v) if v is not None else "—")
        lines.append("| " + " | ".join(row) + " |")
    lines += [
        "",
        "cost_distance uses super-tile blocked relaxation with the",
        "hybrid sweep/Dijkstra kernel (r13): grids up to block_cells",
        "collapse into one block and the kernel is O(cells log cells)",
        "regardless of how often optimal paths reverse; beyond it the",
        "fixpoint loop's round count is grid-diameter-in-blocks.",
        "region_group/sieve/flow_accumulation/watershed slopes (r13,",
        "VERDICT r12 #3) are read against their round structure:",
        "border-chain label merging and Euler-tour accumulation are",
        "O(log) rounds, so wall growth should track cells, not paths.",
        "Named steps and their explanations live in the Reading section",
        "appended below by the operator of record.",
        "",
        "## pyramid axis (Average, 64x64-cell tiles, build + cache + read every level)",
        "",
        "| cells | pyramid |",
        "|---|---|",
    ]
    lines += [f"| {c} | {v} |" for c, v in pyramid_axis.items()]
    lines.append("")
    return "\n".join(lines)


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--quick", action="store_true",
                    help="min-of-2, skip the 1024^2 grid point")
    ap.add_argument("--boundary-only", action="store_true",
                    help="re-measure only the boundary_rounds axis and "
                         "merge it into the existing SCALING.json "
                         "(sf/cells axes untouched)")
    ap.add_argument("--out", default="SCALING.md")
    args = ap.parse_args()
    repeats = 2 if args.quick else 3
    sides = GRID_SIDES[:-1] if args.quick else GRID_SIDES
    json_path = os.path.splitext(args.out)[0] + ".json"

    spark = _session()
    if args.boundary_only:
        with open(json_path) as f:
            rec = json.load(f)
        print("== boundary_rounds axis ==")
        rec["boundary_rounds_axis"] = run_boundary_rounds_axis(
            spark, [64] if args.quick else [64, 96])
        with open(json_path, "w") as f:
            json.dump(rec, f, indent=1)
        print(f"wrote {json_path}")
        spark.stop()
        return
    print("== sf axis ==")
    sf_axis = run_sf_axis(spark, repeats)
    print("== cells axis ==")
    cells_axis = run_cells_axis(spark, repeats, sides)
    print("== pyramid axis ==")
    pyramid_axis = run_pyramid_axis(
        spark, repeats, PYRAMID_SIDES[:-1] if args.quick else PYRAMID_SIDES)
    print("== boundary_rounds axis ==")
    boundary_axis = run_boundary_rounds_axis(
        spark, [64] if args.quick else [64, 96])
    md = render_md(sf_axis, cells_axis, pyramid_axis, repeats)
    with open(args.out, "w") as f:
        f.write(md)
    sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))
    from check_oracle import git_head

    with open(json_path, "w") as f:
        json.dump({"repeats": repeats, "sf_axis": sf_axis,
                   "cells_axis": cells_axis,
                   "pyramid_axis": pyramid_axis,
                   "boundary_rounds_axis": boundary_axis,
                   "git_head": git_head()}, f, indent=1)
    print(f"wrote {args.out}")
    spark.stop()


if __name__ == "__main__":
    main()
