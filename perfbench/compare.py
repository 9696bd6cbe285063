#!/usr/bin/env python3
"""Compare parent and change runs of the benchmark, one row per workload.

    python3 perfbench/compare.py PARENT_RESULTS CHANGE_RESULTS [--parent-trace 0] [--change-trace 0]

Each argument is a directory of run records (``.bench_work/results``
of a checkout) or a glob pattern of record files, relative to the
current directory. Only untraced runs (``--trace 0``) are compared
unless another trace setting is asked for on a side. Runs are paired by
workload and seed; repeated runs of a seed pair in run order (the k-th
parent run with the k-th change run), and runs left without a partner
are counted as ``unpaired``. Per end-to-end metric (all
lower-is-better):

- ``better``: the change wins at least nine tenths of the pairs (ties
  count for neither) and the medians differ by more than the parent's
  inter-quartile range;
- ``worse``: the change's median is worse than the parent's by more than
  the metric's bound;
- ``unresolved``: the parent's own spread (IQR / median) exceeds the
  bound, unless every change run beats every parent run;
- ``same`` otherwise.

Pairs whose load1 at start differs by more than 1.5x are flagged. Each
row also gives the median CPU steal of each side (stolen CPU seconds per
second of pass), which load1 inside a virtual machine cannot see.
``compare.py RESULTS RESULTS --change-trace 1`` compares the untraced
with the traced runs of one results directory: the ``pass_s_p50`` delta
is the tracing overhead.
"""

from __future__ import annotations

import argparse
import json
import statistics
import sys
from pathlib import Path

HERE = Path(__file__).resolve().parent
sys.path.insert(0, str(HERE))

from harness import EXTRA_BOUNDS  # noqa: E402

LOAD_RATIO = 1.5


def load_records(arg: str) -> list[dict]:
    """Records of a results directory or of a glob pattern."""
    p = Path(arg)
    files = sorted(p.glob("*.json")) if p.is_dir() else sorted(Path().glob(arg))
    return [json.loads(f.read_text()) for f in files]


def bounds() -> dict:
    out = dict(EXTRA_BOUNDS)
    with open(HERE.parent / "BENCHMARK.json") as f:
        out.update({m["name"]: m["bound"] for m in json.load(f)["end_to_end"]})
    return out


def quartiles(values):
    if len(values) < 2:
        return values[0], values[0]
    q = statistics.quantiles(values, n=4)
    return q[0], q[2]


def verdict(parent: list[float], change: list[float], bound: float) -> tuple[str, float]:
    mp, mc = statistics.median(parent), statistics.median(change)
    q1, q3 = quartiles(parent)
    iqr = q3 - q1
    delta = (mc - mp) / mp if mp else 0.0
    wins = sum(c < p for p, c in zip(parent, change))
    if wins >= 0.9 * len(parent) and mp - mc > iqr:
        return "better", delta
    if mp and iqr / mp > bound and not max(change) < min(parent):
        return "unresolved", delta
    if mc > mp * (1 + bound):
        return "worse", delta
    return "same", delta


def runs_by_seed(records: list[dict], workload: str, trace: int) -> dict:
    """seed -> the runs of one workload and trace setting, in run order."""
    out: dict[int, list[dict]] = {}
    for r in sorted(records, key=lambda r: r["passes"][0]["start"]):
        if r["workload"] == workload and r["trace"] == trace:
            out.setdefault(r["seed"], []).append(r)
    return out


def load_flagged(p: dict, c: dict) -> bool:
    lp = max(p["host"]["load1_start"], 0.05)
    lc = max(c["host"]["load1_start"], 0.05)
    return max(lp / lc, lc / lp) > LOAD_RATIO


def steal_rate(r: dict) -> float:
    """Stolen CPU seconds per second of the run's passes."""
    ps = r["passes"]
    return sum(p.get("steal_s", 0.0) for p in ps) / max(sum(p["wall_s"] for p in ps), 1e-9)


def compare(parent: list[dict], change: list[dict], parent_trace: int = 0,
            change_trace: int = 0) -> list[str]:
    b = bounds()
    rows = []
    for wl in sorted({r["workload"] for r in parent}):
        ps = runs_by_seed(parent, wl, parent_trace)
        cs = runs_by_seed(change, wl, change_trace)
        pairs = [pc for s in sorted(set(ps) & set(cs)) for pc in zip(ps[s], cs[s])]
        unpaired = (sum(len(v) for v in ps.values()) + sum(len(v) for v in cs.values())
                    - 2 * len(pairs))
        if not pairs:
            continue
        flagged = sum(load_flagged(p, c) for p, c in pairs)
        cells = []
        for name in pairs[0][0]["end_to_end"]:
            if name not in b or not all(name in p["end_to_end"] and name in c["end_to_end"]
                                        for p, c in pairs):
                continue
            pv = [p["end_to_end"][name]["value"] for p, _ in pairs]
            cv = [c["end_to_end"][name]["value"] for _, c in pairs]
            v, d = verdict(pv, cv, b[name])
            cells.append(f"{name}={v}({d:+.1%})")
        failed = sum(c["failed"] for _, c in pairs)
        steal = "/".join(f"{statistics.median(steal_rate(r) for r in side):.2f}"
                         for side in zip(*pairs))
        rows.append(f"{wl:<18} pairs={len(pairs)} unpaired={unpaired} load-flagged={flagged} "
                    f"steal={steal} change_failed={failed} " + " ".join(cells))
    return rows


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("parent")
    ap.add_argument("change")
    ap.add_argument("--parent-trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--change-trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)
    for row in compare(load_records(args.parent), load_records(args.change),
                       args.parent_trace, args.change_trace):
        print(row)
    return 0


if __name__ == "__main__":
    sys.exit(main())
