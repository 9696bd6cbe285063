"""Self-test of compare.py's pairing: like with like, in run order.

    python3 -m pytest perfbench/test_compare.py -q
"""

import sys
from pathlib import Path

sys.path.insert(0, str(Path(__file__).resolve().parent))

import compare  # noqa: E402


def _run(seed, trace, start, pass_s, load1=1.0, workload="raster_analytics"):
    return {"workload": workload, "seed": seed, "trace": trace, "failed": 0,
            "host": {"load1_start": load1},
            "passes": [{"start": start, "wall_s": pass_s, "steal_s": 0.1 * pass_s}],
            "end_to_end": {"pass_s_p50": {"value": pass_s, "unit": "s"}}}


def test_traced_runs_are_not_paired_with_untraced_ones():
    parent = [_run(s, 0, s, 10.0) for s in range(10)]
    # the traced runs are slower and sort after the untraced ones by name
    change = [_run(s, 0, 100 + s, 10.0) for s in range(10)]
    change += [_run(s, 1, 200 + s, 20.0) for s in range(10)]
    (row,) = compare.compare(parent, change)
    assert "pairs=10 unpaired=0" in row
    assert "steal=0.10/0.10" in row
    assert "pass_s_p50=same(+0.0%)" in row
    (row,) = compare.compare(parent, change, change_trace=1)
    assert "pass_s_p50=worse(+100.0%)" in row


def test_repeated_seeds_pair_in_run_order():
    parent = [_run(s, 0, 10 * s + k, 10.0 + k) for s in range(5) for k in range(2)]
    change = [_run(s, 0, 100 + 10 * s + k, 10.0 + k) for s in range(5) for k in range(3)]
    (row,) = compare.compare(parent, change)
    assert "pairs=10 unpaired=5" in row
    assert "pass_s_p50=same(+0.0%)" in row


def test_load_flag():
    parent = [_run(0, 0, 0, 10.0, load1=1.0), _run(1, 0, 1, 10.0, load1=1.0)]
    change = [_run(0, 0, 2, 10.0, load1=2.0), _run(1, 0, 3, 10.0, load1=1.2)]
    (row,) = compare.compare(parent, change)
    assert "load-flagged=1" in row
