"""Registry-level invariants: the driver-window rotation is pinned to the
committed CORRECTNESS history, and every oracle passes the result-type
lint (no HUGEINT/DECIMAL columns that would render differently through
the driver's arrow fetch than through Spark).

These guard the mechanized 50-query driver window (``tools/
rotate_window.py``): a manual reorder of ``queries()`` or an un-cast
``SUM()`` in an oracle fails here instead of silently costing a round.
"""

from __future__ import annotations

import os
import sys

import duckdb
import pytest

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO)
sys.path.insert(0, os.path.join(REPO, "tools"))

SF_DIR = os.environ.get("SPARK_GRAFT_LINT_SF_DIR", "/root/testdata/sf0.001")

TABLES = [
    "region", "nation", "customer", "supplier", "part", "orders",
    "lineitem", "events", "documents", "embeddings",
]


def test_window_order_matches_correctness_history():
    """queries() order must equal rotate_window.compute_order() output.

    This is what makes the 50-entry driver window provably cycle: the
    ordering is a pure function of the CORRECTNESS_r*.json files UP TO the
    generation round stamped into the block (``_WINDOW_ORDER_ROUND``), so
    any hand-edit of the registry order (or a forgotten
    ``rotate_window.py --write`` after a new CORRECTNESS file lands)
    breaks this test instead of the rotation guarantee — while the driver
    dropping a FRESH CORRECTNESS file at a round boundary does NOT (the
    history it adds is newer than the stamp and is ignored).
    """
    from rotate_window import compute_order

    from geopyspark_spark.plans import driver_queries as dq

    expected, keys = compute_order(REPO, max_round=dq._WINDOW_ORDER_ROUND)
    actual = list(dq.queries().keys())
    assert actual == expected, (
        "driver_queries.py window order is stale — run "
        "`python tools/rotate_window.py --write` "
        f"(first mismatch: {next((i, a, e) for i, (a, e) in enumerate(zip(actual, expected)) if a != e)})"
    )


def test_window_order_survives_future_correctness_drop(tmp_path):
    """Regression for the r8/r9 round-boundary failure: a brand-new
    CORRECTNESS_r{N+1}.json (as the driver drops, uncommitted) must NOT
    change the order computed for the stamped round. We simulate by
    copying the repo's CORRECTNESS history into a temp dir, adding a
    synthetic future round that greens an arbitrary subset (which WOULD
    rotate an unclamped order), and asserting the clamped order is
    unchanged."""
    import glob
    import json
    import shutil

    from rotate_window import compute_order

    from geopyspark_spark.plans import driver_queries as dq

    stamp = dq._WINDOW_ORDER_ROUND
    for p in glob.glob(os.path.join(REPO, "CORRECTNESS_r*.json")):
        shutil.copy(p, tmp_path / os.path.basename(p))
    # synthetic future round: green every query currently at the head of
    # the window — unclamped, this rotates all of them to the tail
    head = list(dq.queries().keys())[:50]
    fake = {
        n: {"rows_match": True, "schema_match": True, "hash_match": True, "err": None}
        for n in head
    }
    (tmp_path / f"CORRECTNESS_r{stamp + 1:02d}.json").write_text(json.dumps(fake))

    base, _ = compute_order(REPO, max_round=stamp)
    clamped, _ = compute_order(str(tmp_path), max_round=stamp)
    unclamped, _ = compute_order(str(tmp_path), max_round=None)
    assert clamped == base, "clamped order changed under a future CORRECTNESS drop"
    assert unclamped != base, (
        "sanity: the synthetic future round should rotate an unclamped order"
    )


def test_window_order_covers_registry():
    """The committed ``_WINDOW_ORDER`` block names every query once."""
    from geopyspark_spark.plans import driver_queries as dq

    order = list(dq._WINDOW_ORDER)
    assert len(order) == len(set(order)), "duplicate names in window order"
    assert set(order) == set(dq.queries()), (
        "window order must be a permutation of the registry — run "
        "`python tools/rotate_window.py --write`")


def test_every_q_function_is_registered():
    """The ``q_<name>`` definitions are the registry: each one is in
    ``queries()`` under ``<name>``, and nothing else is."""
    from geopyspark_spark.plans import driver_queries as dq

    defined = {
        n[2:] for n, v in vars(dq).items() if n.startswith("q_") and callable(v)
    }
    qs = dq.queries()
    assert set(qs) == defined
    assert all(qs[n] is getattr(dq, "q_" + n) for n in qs)


def test_headline_queries_are_registered():
    import bench

    from geopyspark_spark.plans import driver_queries as dq

    assert set(bench.HEADLINE) <= set(dq.queries()), (
        set(bench.HEADLINE) - set(dq.queries()))


def test_query_added_without_rewrite_is_registered(monkeypatch):
    """A new ``q_`` function shows up in ``queries()`` (after the
    generated order) and in ``compute_order`` before anyone reruns
    ``rotate_window.py --write``."""
    from rotate_window import compute_order

    from geopyspark_spark.plans import driver_queries as dq

    def q_zz_probe(spark, sf_dir):
        raise AssertionError("never called")

    monkeypatch.setattr(dq, "q_zz_probe", q_zz_probe, raising=False)
    qs = dq.queries()
    assert list(qs)[-1] == "zz_probe" and qs["zz_probe"] is q_zz_probe
    assert list(qs)[:-1] == dq._WINDOW_ORDER
    order, keys = compute_order(REPO, max_round=dq._WINDOW_ORDER_ROUND)
    assert "zz_probe" in order and keys["zz_probe"][0] == 0  # never windowed


@pytest.mark.skipif(not os.path.isdir(SF_DIR), reason=f"{SF_DIR} missing")
def test_oracle_keys_equal_query_keys():
    os.environ.setdefault("SPARK_GRAFT_ORACLE_SF_DIR", SF_DIR)
    from geopyspark_spark.plans import driver_queries as dq

    assert set(dq.oracle_sql()) == set(dq.queries())


@pytest.mark.skipif(not os.path.isdir(SF_DIR), reason=f"{SF_DIR} missing")
def test_oracle_type_lint_all():
    """Bind (not execute) every oracle in DuckDB and fail on any final
    schema containing HUGEINT/INT128/DECIMAL — the class behind the r6
    hash-reds (un-cast SUM(<int>) renders float through arrow but int
    through Spark). Mirrors the per-run lint in tools/check_oracle.py so
    an oracle edit can't reintroduce it between driver rounds.
    """
    os.environ.setdefault("SPARK_GRAFT_ORACLE_SF_DIR", SF_DIR)
    import __spark_entry__ as entry

    con = duckdb.connect()
    for t in TABLES:
        con.sql(f"CREATE VIEW {t} AS SELECT * FROM '{SF_DIR}/{t}.parquet'")

    bad: dict[str, list[str]] = {}
    errors: dict[str, str] = {}
    for name, sql in entry.oracle_sql().items():
        try:
            rel = con.sql(sql)
            hits = [
                f"{c}:{t}"
                for c, t in zip(rel.columns, rel.types)
                if "HUGEINT" in str(t).upper()
                or "INT128" in str(t).upper()
                or str(t).upper().startswith("DECIMAL")
            ]
        except Exception as e:  # binding error — also a lint failure
            errors[name] = f"{type(e).__name__}: {e}"
            continue
        if hits:
            bad[name] = hits
    assert not errors, f"oracles failed to bind: {errors}"
    assert not bad, (
        f"oracles with HUGEINT/DECIMAL result columns (CAST to BIGINT/DOUBLE): {bad}"
    )


@pytest.mark.skipif(not os.path.isdir(SF_DIR), reason=f"{SF_DIR} missing")
def test_degraded_oracle_mode_warns(monkeypatch):
    """r13 (VERDICT r12 #8): when a computed oracle SQL cannot be built
    (e.g. the oracle sf dir is unreachable), the query degrades to a
    rows-only check VISIBLY — oracle_sql() warns with the affected key
    names instead of silently dropping them."""
    import warnings

    os.environ.setdefault("SPARK_GRAFT_ORACLE_SF_DIR", SF_DIR)
    from geopyspark_spark.plans import driver_queries as dq

    def boom(*a, **k):
        raise FileNotFoundError("sf dir gone")

    monkeypatch.setattr(dq, "_sql_ivf_knn", boom)
    with pytest.warns(RuntimeWarning, match=r"emb_ivf_knn.*rows-only"):
        out = dq.oracle_sql()
    assert "emb_ivf_knn" not in out
    # un-degraded computed oracles survive
    assert "emb_kmeans" in out


@pytest.mark.skipif(not os.path.isdir(SF_DIR), reason=f"{SF_DIR} missing")
def test_non_degradable_oracle_error_raises(monkeypatch):
    """Only the keys in ``_DEGRADABLE_ORACLES`` may degrade; a failure in
    any other computed oracle propagates instead of shrinking the gate."""
    from geopyspark_spark.plans import driver_queries as dq

    def boom(*a, **k):
        raise FileNotFoundError("sf dir gone")

    os.environ.setdefault("SPARK_GRAFT_ORACLE_SF_DIR", SF_DIR)
    assert "raster_point_values" not in dq._DEGRADABLE_ORACLES
    monkeypatch.setattr(dq, "_sql_point_values", boom)
    with pytest.raises(FileNotFoundError):
        dq.oracle_sql()


@pytest.mark.skipif(
    not os.path.isdir("/root/testdata/sf0.001"), reason="testdata missing"
)
def test_driver_entry_contract(spark):
    """The driver smoke check as a CI test: entry(spark) runs on sf0.001
    and yields a non-empty result with a stable schema; queries() and
    oracle_sql() have the same keys."""
    import __spark_entry__ as entry

    df = entry.entry(spark)
    rows = df.collect()
    assert len(rows) >= 1
    assert df.columns == ["band", "zsum", "zmin", "zmax", "zmean", "zcount"]
    qs = entry.queries()
    oracles = entry.oracle_sql()
    assert set(oracles) == set(qs), (
        f"oracle keys without queries: {set(oracles) - set(qs)}; "
        f"queries without oracles: {set(qs) - set(oracles)}"
    )
    # every registry entry is callable
    assert all(callable(fn) for fn in qs.values())
