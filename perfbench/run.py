#!/usr/bin/env python3
"""The repository benchmark: one seeded workload per run.

    python3 perfbench/run.py --workload raster_analytics --seed 0 --seconds 1 --trace 0

Workloads (see perfbench/README.md): ``raster_analytics``,
``catalog_serve`` and ``corpus_dedup``. A run boots one local Spark
session with one core per available CPU, generates the workload's inputs
from ``--seed``, computes the references in a child process, loads
the pinned inputs (three times, reporting the median), then runs full passes back to back for ``--seconds`` seconds
(at least one). There is no warm-up pass: the first pass pays code
generation, JIT and Python worker start-up, as every fresh batch job
does, and within the benchmark's time budget a warm-up pass would cost
as much as the pass it warms. Every step's output is checked against a
reference computed in set-up; a wrong output counts as a failed
operation and makes the run exit with code 1.

With ``--trace 0`` the last line carries the end-to-end metrics; with
``--trace 1`` the Spark event log is enabled, each step runs under its
own job group, and the last line carries the per-layer metrics read back
from the event log. Every metric, including the ones that only some
workloads have, is printed by name above the last line, and the whole
record (spans included) is written under ``.bench_work/results``.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import subprocess
import sys
import time
from pathlib import Path

HERE = Path(__file__).resolve().parent
ROOT = HERE.parent
WORK = ROOT / ".bench_work"
WORKLOADS = ("raster_analytics", "catalog_serve", "corpus_dedup")
SETUP_REPS = 3


def parse_args(argv=None):
    p = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    p.add_argument("--workload", required=True, choices=WORKLOADS)
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    return p.parse_args(argv)


def boot(rundir: Path, trace: bool):
    """One local session, all of its scratch inside ``rundir``."""
    import geopyspark_spark as gps
    from pyspark.sql import SparkSession

    cores = len(os.sched_getaffinity(0))
    conf = gps.geopyspark_conf(master=f"local[{cores}]", appName="perfbench")
    tmp = rundir / "tmp"
    tmp.mkdir(parents=True, exist_ok=True)
    conf.set("spark.sql.shuffle.partitions", str(2 * cores))
    # the default 1 GB heap: a larger heap grows by GC timing, which made
    # peak memory vary by 20-30% between identical runs
    conf.set("spark.driver.memory", "1g")
    conf.set("spark.ui.enabled", "false")
    conf.set("spark.ui.showConsoleProgress", "false")
    conf.set("spark.local.dir", str(rundir / "spark-local"))
    conf.set("spark.sql.warehouse.dir", str(rundir / "warehouse"))
    conf.set("spark.driver.extraJavaOptions",
             f"-Djava.io.tmpdir={tmp} -Dderby.system.home={tmp}")
    if trace:
        (rundir / "eventlog").mkdir(exist_ok=True)
        conf.set("spark.eventLog.enabled", "true")
        conf.set("spark.eventLog.dir", (rundir / "eventlog").as_uri())
        conf.set("spark.eventLog.compress", "false")
        conf.set("spark.eventLog.rolling.enabled", "false")
    spark = SparkSession.builder.config(conf=conf).getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    return spark


def shutdown(spark) -> None:
    """Stop the session, then the JVM it launched, and wait for it to
    exit (its Python workers exit with it)."""
    from pyspark import SparkContext

    spark.stop()
    gateway = SparkContext._gateway
    proc = getattr(gateway, "proc", None)
    if gateway is not None:
        gateway.shutdown()
        SparkContext._gateway = None
        SparkContext._jvm = None
    if proc is not None:
        proc.stdin.close()
        try:
            proc.wait(timeout=60)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()


def workload_module(name: str):
    import importlib

    return importlib.import_module({"raster_analytics": "wl_raster",
                                    "catalog_serve": "wl_catalog",
                                    "corpus_dedup": "wl_corpus"}[name])


def end_to_end(rec, passes, setup_s, peak_mb) -> dict:
    """{name: (value, unit, samples)} — every end-to-end metric this
    workload has."""
    from harness import median, percentile

    walls = [p["wall_s"] for p in passes]
    out = {
        "setup_s": (setup_s, "s", SETUP_REPS),
        "pass_s_p50": (median(walls), "s", len(walls)),
        "cpu_s_per_pass": (median([p["cpu_s"] for p in passes]), "s", len(passes)),
        "peak_rss_mb": (peak_mb, "MB", 1),
        "failed_ops_ratio": (rec.failed / max(rec.attempted, 1), "ratio", rec.attempted),
    }
    s = rec.samples
    if "commit_s" in s:
        out["commit_s_p50"] = (median(s["commit_s"]), "s", len(s["commit_s"]))
        out["commit_s_p90"] = (percentile(s["commit_s"], 90), "s", len(s["commit_s"]))
    if "tile_ms" in s:
        out["tile_ms_p50"] = (median(s["tile_ms"]), "ms", len(s["tile_ms"]))
        out["tile_ms_p98"] = (percentile(s["tile_ms"], 98), "ms", len(s["tile_ms"]))
    if "stream_batch_s" in s:
        out["stream_batch_s_p50"] = (median(s["stream_batch_s"]), "s",
                                     len(s["stream_batch_s"]))
    if "storage_bytes_per_cell_byte" in s:
        v = s["storage_bytes_per_cell_byte"]
        out["storage_bytes_per_cell_byte"] = (median(v), "ratio", len(v))
    return out


def main(argv=None) -> int:
    args = parse_args(argv)
    if not (ROOT / "geopyspark_spark" / "__init__.py").is_file():
        print(f"geopyspark_spark not found next to {HERE.name}/", file=sys.stderr)
        return 2
    t_start = time.perf_counter()
    sys.path[:0] = [str(HERE), str(ROOT)]
    rundir = WORK / f"{args.workload}-s{args.seed}-t{args.trace}-{os.getpid()}"
    shutil.rmtree(rundir, ignore_errors=True)
    rundir.mkdir(parents=True)
    # Python workers import the package and the benchmark's kernels from
    # the checkout; every temporary file stays inside the run directory
    os.environ["PYTHONPATH"] = os.pathsep.join(
        [str(ROOT), str(HERE)] + [p for p in [os.environ.get("PYTHONPATH")] if p])
    os.environ["PYSPARK_PYTHON"] = sys.executable
    os.environ["TMPDIR"] = str(rundir / "tmp")
    os.environ["SPARK_LOCAL_DIRS"] = str(rundir / "spark-local")
    (rundir / "tmp").mkdir()
    import tempfile

    tempfile.tempdir = str(rundir / "tmp")

    import numpy as np

    import harness
    from harness import Recorder, MemorySampler, median

    module = workload_module(args.workload)
    host = {"load1_start": harness.load1(),
            "other_spark_processes": harness.other_spark_processes()}
    wl = module.setup(np.random.default_rng(args.seed), rundir)
    gen_s = time.perf_counter() - t_start
    # the references never share the measured process tree: they run
    # in a child that has ended before Spark boots
    t0 = time.perf_counter()
    vars(wl).update(harness.in_child(wl.references))
    reference_s = time.perf_counter() - t0
    spark = None
    try:
        with MemorySampler() as memory:
            t0 = time.perf_counter()
            spark = boot(rundir, bool(args.trace))
            boot_s = time.perf_counter() - t0
            loads = []
            for _ in range(SETUP_REPS):
                t0 = time.perf_counter()
                wl.load(spark)
                loads.append(time.perf_counter() - t0)
            setup_s = gen_s + boot_s + median(loads)

            rec = Recorder(spark, trace=bool(args.trace))
            passes = harness.run_passes(rec, wl, args.seconds)
            peak_mb = memory.peak_mb
        host["load1_end"] = harness.load1()
        host["load1_per_pass"] = [p["load1"] for p in passes]
        host["steal_s_per_pass"] = [p["steal_s"] for p in passes]

        e2e = end_to_end(rec, passes, setup_s, peak_mb)
        layers = {}
        if args.trace:
            import eventlog

            if hasattr(wl, "pair_counts"):
                wl.pair_counts(rec)
            app_id = spark.sparkContext.applicationId
            shutdown(spark)
            spark = None
            log = eventlog.find_log(rundir / "eventlog", app_id)
            layers = eventlog.per_layer(log, rec, passes, args.workload)
    finally:
        if spark is not None:
            shutdown(spark)

    record = {
        "workload": args.workload, "seed": args.seed, "seconds": args.seconds,
        "trace": args.trace, "host": host,
        "setup": {"boot_s": boot_s, "generate_s": gen_s, "load_s": loads,
                  "reference_s": reference_s},
        "passes": passes, "attempted": rec.attempted, "failed": rec.failed,
        "end_to_end": {k: {"value": v, "unit": u, "samples": n}
                       for k, (v, u, n) in e2e.items()},
        "per_layer": layers, "spans": rec.spans,
        "samples": rec.samples,
    }
    harness.write_json(WORK / "results" / f"{args.workload}-s{args.seed}-t{args.trace}-"
                       f"{time.strftime('%Y%m%dT%H%M%S')}-{os.getpid()}.json", record)
    shutil.rmtree(rundir, ignore_errors=True)

    print(f"# {args.workload} seed={args.seed} passes={len(passes)} "
          f"load1 start={host['load1_start']:.2f} end={host['load1_end']:.2f} "
          f"steal_s={sum(host['steal_s_per_pass']):.1f} "
          f"other_spark={host['other_spark_processes']}")
    for k, (v, u, n) in e2e.items():
        print(f"{k:<30} {v:>14.6g} {u:<6} n={n}")
    if args.trace:
        eventlog.print_steps(layers)
    correct = rec.failed == 0
    wanted = _benchmark_metrics("per_layer" if args.trace else "end_to_end")
    if args.trace:
        metrics = {k: {"value": layers["metrics"][k][0], "unit": layers["metrics"][k][1]}
                   for k in wanted}
    else:
        metrics = {k: {"value": e2e[k][0], "unit": e2e[k][1]} for k in wanted}
    print(json.dumps({"correct": correct, "attempted": rec.attempted,
                      "failed": rec.failed, "metrics": metrics}))
    return 0 if correct else 1


def _benchmark_metrics(kind: str) -> list[str]:
    with open(ROOT / "BENCHMARK.json") as f:
        return [m["name"] for m in json.load(f)[kind]]


if __name__ == "__main__":
    sys.exit(main())
