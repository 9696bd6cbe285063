#!/usr/bin/env python
"""Regenerate the driver-window schedule in
``geopyspark_spark/plans/driver_queries.py``.

The driver validates exactly the FIRST 50 entries of ``queries()`` per
round. This tool orders the full registry with a deterministic priority
computed from the committed ``CORRECTNESS_r*.json`` history, so the
window provably cycles through all entries and window claims in the
CHANGELOG can be re-derived by anyone:

  priority 1: never appeared in any driver window
  priority 2: appeared but never green — carried a red
  priority 3: green before — oldest last-green round first

Ties keep their current ``queries()`` order: position in the committed
``_WINDOW_ORDER``, then queries not yet in it, in definition order. A
query is registered by defining ``q_<name>`` and ``SQL_<NAME>`` in the
target module; ``--write`` then places it in the window order.

Usage:
  python tools/rotate_window.py          # print the computed order + stats
  python tools/rotate_window.py --write  # rewrite the marked section
"""

from __future__ import annotations

import glob
import json
import re
import sys

sys.path.insert(0, ".")

TARGET = "geopyspark_spark/plans/driver_queries.py"
BEGIN = "# BEGIN WINDOW_ORDER (generated)"
END = "# END WINDOW_ORDER"
WINDOW = 50


def is_green(rec: dict) -> bool:
    return bool(
        rec.get("rows_match")
        and rec.get("schema_match")
        and rec.get("hash_match")
        and not rec.get("err")
    )


def compute_order(repo_root: str = ".", max_round: int | None = None) -> tuple[list, dict]:
    """Deterministic registry ordering from the committed CORRECTNESS
    history. Returns (order, key_fn_results) so callers (this CLI and the
    pin test in ``tests/test_registry.py``) share one definition.

    ``max_round`` clamps the history: CORRECTNESS files for rounds newer
    than it are ignored. The generated block stamps the round it was built
    from (``_WINDOW_ORDER_ROUND``), and the pin test passes that stamp
    here — so the driver dropping a fresh ``CORRECTNESS_r{N+1}.json`` at a
    round boundary can no longer rotate the expected order out from under
    the committed one (the r8/r9 structural failure)."""
    import os

    from geopyspark_spark.plans import driver_queries as dq

    current = list(dq.queries())
    idx = {n: i for i, n in enumerate(current)}

    windowed: dict[str, list[int]] = {}
    last_green: dict[str, int] = {}
    for path in sorted(glob.glob(os.path.join(repo_root, "CORRECTNESS_r*.json"))):
        m = re.search(r"r(\d+)", os.path.basename(path))
        rnd = int(m.group(1)) if m else 0
        if max_round is not None and rnd > max_round:
            continue
        data = json.load(open(path))
        for name, rec in data.items():
            if name not in idx:
                continue  # renamed/retired entries
            windowed.setdefault(name, []).append(rnd)
            if is_green(rec):
                last_green[name] = max(last_green.get(name, 0), rnd)

    def key(name: str):
        if name not in windowed:
            return (0, 0, idx[name])
        if name not in last_green:
            return (1, 0, idx[name])
        return (2, last_green[name], idx[name])

    order = sorted(current, key=key)
    return order, {n: key(n) for n in current}


def history_max_round(repo_root: str = ".") -> int:
    """Highest round number among CORRECTNESS_r*.json files on disk."""
    import os

    rounds = [0]
    for path in glob.glob(os.path.join(repo_root, "CORRECTNESS_r*.json")):
        m = re.search(r"r(\d+)", os.path.basename(path))
        if m:
            rounds.append(int(m.group(1)))
    return max(rounds)


def main() -> int:
    gen_round = history_max_round()
    order, keys = compute_order(max_round=gen_round)

    def key(name: str):
        return keys[name]

    n_never = sum(1 for n in order if keys[n][0] == 0)
    n_red = sum(1 for n in order if keys[n][0] == 1)
    print(
        f"# registry={len(order)} never-windowed={n_never} "
        f"windowed-never-green={n_red} window={WINDOW} from-round={gen_round}"
    )
    print("# next window:")
    for i, n in enumerate(order[:WINDOW]):
        print(f"#   {i + 1:2d}. {n}  {key(n)}")

    if "--write" in sys.argv:
        src = open(TARGET).read()
        lines = ",\n".join(f'    "{n}"' for n in order)
        block = (
            f"{BEGIN}\n_WINDOW_ORDER_ROUND: int = {gen_round}\n"
            f"_WINDOW_ORDER: list = [\n{lines},\n]\n{END}"
        )
        pat = re.compile(re.escape(BEGIN) + r".*?" + re.escape(END), re.S)
        new, n = pat.subn(block, src)
        if n != 1:
            print(f"ERROR: expected 1 marker block in {TARGET}, found {n}")
            return 1
        open(TARGET, "w").write(new)
        print(f"wrote {TARGET} ({len(order)} entries)")
    return 0


if __name__ == "__main__":
    sys.exit(main())
