"""Measurement plumbing shared by the three workloads.

Everything here measures the engine from outside: wall and driver time
around calls into the package's public functions, CPU time and resident
memory of the whole process tree read from ``/proc``, host-load markers,
and (in a traced run) a Spark job group per step so the event log can be
attributed afterwards. Nothing in the package is patched.
"""

from __future__ import annotations

import json
import os
import pickle
import subprocess
import sys
import threading
import time
import traceback
from contextlib import contextmanager
from pathlib import Path
from statistics import median

import numpy as np
from pyspark.sql import functions as F

#: bounds (share of the parent's median) used by ``compare.py`` for the
#: end-to-end metrics that only some workloads report; the metrics every
#: workload reports take their bound from BENCHMARK.json
EXTRA_BOUNDS = {
    "commit_s_p50": 0.25,
    "commit_s_p90": 0.25,
    "tile_ms_p50": 0.25,
    "tile_ms_p98": 0.25,
    "stream_batch_s_p50": 0.25,
    "storage_bytes_per_cell_byte": 0.1,
    "failed_ops_ratio": 0.0,
}

#: the nineteen steps, in workload order; every traced run reports the
#: job count of each (0 for steps another workload owns)
STEPS = {
    "raster_analytics": [
        "operators.local", "operators.focal", "operators.zonal",
        "operators.reproject", "operators.pyramid", "operators.costdistance",
        "operators.hydrology",
    ],
    "catalog_serve": [
        "sources.catalog.write", "sources.catalog.update_layer",
        "sources.catalog.write_pyramid", "streaming.raster.stream_into_catalog",
        "sources.catalog.query", "tms.render_tile",
    ],
    "corpus_dedup": [
        "functions.dedup.corpus_signatures",
        "functions.dedup.dedup_against_corpus",
        "functions.dedup.remove_from_signatures",
        "functions.dedup.dedup_documents",
        "functions.similarity.cosine_near_dup",
        "streaming.documents.stream_dedup_against_corpus",
    ],
}


def percentile(values, q: float) -> float:
    """Nearest-rank percentile (q in 0..100) of a non-empty sequence."""
    s = sorted(values)
    k = max(0, min(len(s) - 1, int(round(q / 100.0 * len(s) + 0.5)) - 1))
    return s[k]


# --- process tree: CPU seconds and resident memory -----------------------

_TICK = os.sysconf("SC_CLK_TCK")


def _proc_stat(pid: int):
    """(ppid, cpu_s including reaped children) or None."""
    try:
        with open(f"/proc/{pid}/stat", "rb") as f:
            raw = f.read().decode()
    except OSError:
        return None
    fields = raw[raw.rindex(")") + 2:].split()
    # utime, stime, cutime, cstime: a worker that exited and was reaped
    # moves its CPU time into its parent's cutime/cstime
    return int(fields[1]), sum(int(x) for x in fields[11:15]) / _TICK


def _all_stats() -> dict:
    out = {}
    for name in os.listdir("/proc"):
        if name.isdigit():
            st = _proc_stat(int(name))
            if st is not None:
                out[int(name)] = st
    return out


def process_tree(root: int | None = None) -> dict:
    """{pid: (ppid, cpu_s)} for ``root`` and all its descendants:
    the Python driver, the JVM it launched and the Python workers."""
    root = os.getpid() if root is None else root
    stats = _all_stats()
    children: dict[int, list[int]] = {}
    for pid, (ppid, _) in stats.items():
        children.setdefault(ppid, []).append(pid)
    tree, todo = {}, [root]
    while todo:
        pid = todo.pop()
        if pid in stats:
            tree[pid] = stats[pid]
            todo.extend(children.get(pid, ()))
    return tree


def tree_cpu_s() -> float:
    return sum(cpu for _, cpu in process_tree().values())


def load1() -> float:
    with open("/proc/loadavg") as f:
        return float(f.read().split()[0])


def steal_s() -> float:
    """CPU seconds the hypervisor gave to other guests (all CPUs): time
    this host could not run the benchmark while it wanted to."""
    with open("/proc/stat") as f:
        fields = f.readline().split()
    return int(fields[8]) / _TICK if len(fields) > 8 else 0.0


def other_spark_processes() -> int:
    """JVMs running Spark that do not belong to this process tree: the
    host-contamination marker next to load1."""
    mine = set(process_tree())
    n = 0
    for name in os.listdir("/proc"):
        if not name.isdigit() or int(name) in mine:
            continue
        try:
            with open(f"/proc/{name}/cmdline", "rb") as f:
                cmd = f.read()
        except OSError:
            continue
        if b"java" in cmd and b"org.apache.spark" in cmd:
            n += 1
    return n


def pss_bytes(pid: int) -> int:
    """Proportional set size: resident pages, with pages shared between
    processes (the Python workers forked from one daemon) split among
    them, so the tree's sum counts each resident page once."""
    try:
        with open(f"/proc/{pid}/smaps_rollup") as f:
            for line in f:
                if line.startswith("Pss:"):
                    return int(line.split()[1]) * 1024
    except OSError:
        pass
    return 0


class MemorySampler:
    """Background sampler of the process tree's resident memory (summed
    PSS); ``peak_mb`` is the largest sample seen while running."""

    def __init__(self, interval_s: float = 0.25):
        self.interval_s = interval_s
        self.peak = 0
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._run, daemon=True)

    def _run(self):
        while not self._stop.is_set():
            self.sample()
            self._stop.wait(self.interval_s)

    def sample(self):
        self.peak = max(self.peak, sum(pss_bytes(pid) for pid in process_tree()))

    def __enter__(self):
        self._thread.start()
        return self

    def __exit__(self, *exc):
        self._stop.set()
        self._thread.join(timeout=5)

    @property
    def peak_mb(self) -> float:
        return self.peak / (1024 * 1024)


# --- output checksums -----------------------------------------------------

def tile_stats(layer) -> dict:
    """Action that reads every cell of a layer: per (key_col, key_row)
    the sum, count, min and max of the non-NaN cells of band 0, the
    count of non-integer cells, and the sum of each non-NaN cell times
    its 1-based row-major position in the tile, which changes when cells
    move inside a tile (a flipped tile, a block in the wrong quadrant).
    Returns {(col, row): (sum, n, lo, hi, nonint, wsum)}. A bare
    ``count()`` would let column pruning skip the cells being timed."""
    valid = F.filter("cells", lambda c: ~F.isnan(c))
    weighted = F.transform("cells", lambda c, i: F.when(F.isnan(c), 0.0).otherwise(c * (i + 1)))
    rows = layer.df.where(F.col("band") == 0).select(
        "key_col", "key_row",
        F.aggregate(valid, F.lit(0.0), lambda a, c: a + c).alias("s"),
        F.size(valid).alias("n"),
        F.array_min(valid).alias("lo"),
        F.array_max(valid).alias("hi"),
        F.size(F.filter(valid, lambda c: c != F.floor(c))).alias("nonint"),
        F.aggregate(weighted, F.lit(0.0), lambda a, c: a + c).alias("ws"),
    ).collect()
    return {(r["key_col"], r["key_row"]): (r["s"], r["n"], r["lo"], r["hi"], r["nonint"], r["ws"])
            for r in rows}


def numpy_tile_stats(grid, tile: int) -> dict:
    """The same statistics as :func:`tile_stats`, from a numpy grid."""
    out = {}
    rows, cols = grid.shape
    weights = np.arange(1, tile * tile + 1, dtype=np.float64)
    for kr in range(rows // tile):
        for kc in range(cols // tile):
            t = grid[kr * tile:(kr + 1) * tile, kc * tile:(kc + 1) * tile]
            v = t[~np.isnan(t)]
            out[(kc, kr)] = (float(v.sum()), int(v.size),
                             float(v.min()) if v.size else None,
                             float(v.max()) if v.size else None,
                             int((v != np.floor(v)).sum()),
                             float(np.nan_to_num(t.reshape(-1), nan=0.0) @ weights))
    return out


def stats_match(got: dict, want: dict, rel_tol: float = 0.0) -> str | None:
    """None when every tile's statistics agree, else a message. Counts
    agree exactly; sums, ranges and position-weighted sums within
    ``rel_tol`` of the tile's magnitude (so exactly when ``rel_tol`` is
    0, and then the non-integer counts too)."""
    if set(got) != set(want):
        return f"tile keys differ: {len(got)} got vs {len(want)} expected"
    for k, (s, n, lo, hi, nonint, ws) in want.items():
        gs, gn, glo, ghi, gnonint, gws = got[k]
        if gn != n:
            return f"tile {k}: {gn} valid cells, expected {n}"
        if n == 0:
            continue
        mscale = max(abs(lo), abs(hi), 1.0)
        if abs(gs - s) > rel_tol * mscale * n:
            return f"tile {k}: sum {gs!r}, expected {s!r}"
        if abs(glo - lo) > rel_tol * mscale or abs(ghi - hi) > rel_tol * mscale:
            return f"tile {k}: range ({glo}, {ghi}), expected ({lo}, {hi})"
        if abs(gws - ws) > rel_tol * mscale * n * n:
            return f"tile {k}: cells out of place (weighted sum {gws!r}, expected {ws!r})"
        if rel_tol == 0 and gnonint != nonint:
            return f"tile {k}: {gnonint} non-integer cells, expected {nonint}"
    return None


# --- steps, spans and passes ----------------------------------------------

class CheckFailed(Exception):
    """An output differs from its reference."""


class Recorder:
    """Times every step of every pass and keeps the spans in memory.

    ``trace`` tags each step's Spark jobs with a job group
    ``bench|<pass>|<step>`` so the event log can be attributed; with
    tracing off no local property is set.
    """

    def __init__(self, spark, trace: bool):
        self.spark = spark
        self.trace = trace
        self.spans: list[dict] = []
        self.stream_runs: dict[str, str] = {}  # streaming runId -> group
        self.samples: dict[str, list[float]] = {}
        self.attempted = 0
        self.failed = 0
        self.pass_id = "setup"

    def sample(self, name: str, value: float) -> None:
        self.samples.setdefault(name, []).append(value)

    def check(self, ok: bool, what: str) -> None:
        """Record one checked operation; a wrong result is a failure."""
        self.attempted += 1
        if not ok:
            self.failed += 1
            print(f"CHECK FAILED [{self.pass_id}] {what}", file=sys.stderr)

    def group(self, step: str, pass_id: str | None = None) -> str:
        return f"bench|{pass_id or self.pass_id}|{step}"

    @contextmanager
    def tagged(self, pass_id: str, step: str):
        """Jobs submitted inside run under the job group of ``step`` in
        ``pass_id`` (traced runs only)."""
        sc = self.spark.sparkContext
        if self.trace:
            sc.setJobGroup(self.group(step, pass_id), step)
        try:
            yield
        finally:
            if self.trace:
                sc.setLocalProperty("spark.jobGroup.id", None)
                sc.setLocalProperty("spark.job.description", None)

    def step(self, name: str, build, action=lambda built: built, check=None):
        """Run one step: ``build()`` is the API call (driver time; any
        eager work inside it shows here), ``action(built)`` reads every
        output value, ``check(value)`` raises :class:`CheckFailed` or
        returns normally. Exceptions count as failed operations."""
        span = {"step": name, "pass": self.pass_id, "group": self.group(name),
                "start": time.time()}
        value = None
        ok = True
        with self.tagged(self.pass_id, name):
            try:
                t0 = time.perf_counter()
                built = build()
                t1 = time.perf_counter()
                value = action(built)
                t2 = time.perf_counter()
                span["build_s"] = t1 - t0
                span["action_s"] = t2 - t1
            except Exception:
                ok = False
                traceback.print_exc(file=sys.stderr)
        span["end"] = time.time()
        if ok and check is not None:
            try:
                check(value)
            except CheckFailed as e:
                ok = False
                print(f"{name}: {e}", file=sys.stderr)
        self.spans.append(span)
        self.check(ok, name)
        return value if ok else None

    def stream_run(self, query, step: str) -> None:
        """Streaming jobs run in the query's own thread under job group
        = the query's runId; remember which step started it."""
        self.stream_runs[str(query.runId)] = self.group(step)

    def streaming_progress(self, query, prefix: str = "stream") -> None:
        """Per-micro-batch durations from ``recentProgress``."""
        for p in query.recentProgress:
            if not p.numInputRows:
                continue
            d = p.durationMs
            self.sample("stream_batch_s", d.get("triggerExecution", 0) / 1000.0)
            self.sample(f"{prefix}.add_batch_ms", float(d.get("addBatch", 0)))
            self.sample(f"{prefix}.wal_commit_ms", float(d.get("walCommit", 0)))
            self.sample(f"{prefix}.trigger_ms", float(d.get("triggerExecution", 0)))


def run_passes(rec: Recorder, workload, seconds: float) -> list[dict]:
    """Closed loop with one client: passes back to back until ``seconds``
    have elapsed (the pass in flight finishes), at least one."""
    passes = []
    t_end = time.perf_counter() + seconds
    i = 0
    while i < 1 or time.perf_counter() < t_end:
        rec.pass_id = f"p{i}"
        l1 = load1()
        c0, st0 = tree_cpu_s(), steal_s()
        w0 = time.time()
        t0 = time.perf_counter()
        workload.run_pass(rec)
        wall = time.perf_counter() - t0
        passes.append({"pass": rec.pass_id, "start": w0, "end": time.time(),
                       "wall_s": wall, "cpu_s": tree_cpu_s() - c0, "load1": l1,
                       "steal_s": steal_s() - st0})
        i += 1
    return passes


def in_child(fn):
    """``fn()`` run in a fresh Python child process that has ended when
    this returns (``fn`` and its result travel pickled over stdin and
    stdout). The references run this way before Spark boots, so their
    memory (DuckDB joins, numpy grids) never counts in the measured
    process tree."""
    out = subprocess.run(
        [sys.executable, "-c", "import pickle, sys; "
         "pickle.dump(pickle.load(sys.stdin.buffer)(), sys.stdout.buffer)"],
        input=pickle.dumps(fn), stdout=subprocess.PIPE, check=True)
    return pickle.loads(out.stdout)


def write_json(path: Path, obj) -> None:
    path.parent.mkdir(parents=True, exist_ok=True)
    with open(path, "w") as f:
        json.dump(obj, f, indent=1, sort_keys=True, default=str)
