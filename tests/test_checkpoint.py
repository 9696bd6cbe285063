"""The reliable-checkpoint escape hatch (r17, VERDICT r16 #5): every
operator-internal lineage pin routes through
``core.checkpoint.materialize``, which defaults to executor-local
checkpoints and flips to reliable (checkpoint-dir) ones under
``GEOPYSPARK_RELIABLE_CHECKPOINT`` — results must be identical on both
paths, and the reliable path must fail loudly without a checkpoint
dir."""

import os

import pytest

from geopyspark_spark.core import checkpoint as ckpt
from geopyspark_spark.functions import graph as fgraph

EDGES = [
    (1, 2), (2, 3), (1, 3),          # triangle
    (3, 4), (4, 5), (5, 3),          # second triangle sharing node 3
    (5, 6),                          # pendant edge
]


def _counts(spark):
    df = spark.createDataFrame(EDGES, "src long, dst long")
    return sorted(
        (r["node"], r["n_triangles"])
        for r in fgraph.triangle_count(df).collect())


def test_reliable_checkpoint_matches_local(spark, tmp_path, monkeypatch):
    base = _counts(spark)
    assert base == [(1, 1), (2, 1), (3, 2), (4, 1), (5, 1), (6, 0)]
    monkeypatch.setenv(ckpt.RELIABLE_ENV, "1")
    spark.sparkContext.setCheckpointDir(str(tmp_path / "ckpt"))
    assert ckpt.reliable_enabled()
    assert _counts(spark) == base


def test_reliable_checkpoint_requires_dir(spark, monkeypatch):
    monkeypatch.setenv(ckpt.RELIABLE_ENV, "true")
    monkeypatch.setattr(
        spark.sparkContext, "getCheckpointDir", lambda: None)
    df = spark.createDataFrame([(1,)], "x long")
    with pytest.raises(RuntimeError, match="checkpoint directory"):
        ckpt.materialize(df)


def test_default_is_local(spark, monkeypatch):
    monkeypatch.delenv(ckpt.RELIABLE_ENV, raising=False)
    assert not ckpt.reliable_enabled()
    df = spark.createDataFrame([(1,)], "x long")
    out = ckpt.materialize(df)
    assert out.collect() == df.collect()


SF0001 = "/root/testdata/sf0.001"


@pytest.mark.skipif(not os.path.isdir(SF0001), reason="testdata missing")
def test_pagerank_edge_pin_reliable_matches_local(spark, tmp_path, monkeypatch):
    """The pagerank query's edge-source pin goes through ``materialize``:
    in reliable mode it writes to the checkpoint dir, and the ranks are
    the same rows as with the default local pin."""
    from geopyspark_spark.plans import driver_queries as dq

    monkeypatch.delenv(ckpt.RELIABLE_ENV, raising=False)
    base = sorted(dq.q_graph_pagerank(spark, SF0001).collect())
    assert base
    ckpt_dir = tmp_path / "ckpt"
    monkeypatch.setenv(ckpt.RELIABLE_ENV, "1")
    spark.sparkContext.setCheckpointDir(str(ckpt_dir))
    assert sorted(dq.q_graph_pagerank(spark, SF0001).collect()) == base
    assert any(p.is_file() for p in ckpt_dir.rglob("*")), (
        "reliable mode wrote no checkpoint files")
