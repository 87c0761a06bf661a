"""Connected-components unit tests: multi-hop chains, isolated
pairs, convergence, long diameters (pointer jumping), reliable
checkpoint mode."""

from __future__ import annotations

from gerrydb_etl_spark.operators.components import connected_components


def _cc(spark, pairs):
    df = spark.createDataFrame(pairs, "d1 long, d2 long")
    return {
        (r.doc, r.cluster_rep) for r in connected_components(df).collect()
    }


def test_chain_collapses_to_min(spark):
    # 1-2, 2-3, 3-4: one component, rep 1 — needs label propagation
    # across 3 hops, not just direct neighbors
    got = _cc(spark, [(1, 2), (2, 3), (3, 4)])
    assert got == {(1, 1), (2, 1), (3, 1), (4, 1)}


def test_disjoint_components(spark):
    got = _cc(spark, [(1, 2), (10, 11), (11, 12)])
    assert got == {(1, 1), (2, 1), (10, 10), (11, 10), (12, 10)}


def test_star_component(spark):
    got = _cc(spark, [(5, 1), (5, 2), (5, 3)])
    assert got == {(1, 1), (2, 1), (3, 1), (5, 1)}


def test_chain_of_1000_converges_via_pointer_jumping(spark):
    # diameter-999 path: plain min-propagation would need ~999
    # rounds; pointer jumping must finish inside the default
    # max_iter=20 (log2(1000) ≈ 10 jump rounds)
    pairs = [(i, i + 1) for i in range(1, 1000)]
    got = _cc(spark, pairs)
    assert got == {(i, 1) for i in range(1, 1001)}


def test_reliable_checkpoint_mode(spark, tmp_path):
    df = spark.createDataFrame([(1, 2), (2, 3), (9, 8)], "d1 long, d2 long")
    got = {
        (r.doc, r.cluster_rep)
        for r in connected_components(
            df, checkpoint_dir=str(tmp_path / "ckpt")
        ).collect()
    }
    assert got == {(1, 1), (2, 1), (3, 1), (8, 8), (9, 8)}


def test_connected_components_raises_when_unconverged(spark):
    import pytest

    chain = [(i, i + 1) for i in range(1, 14)]  # diameter 13
    df = spark.createDataFrame(chain, "d1 long, d2 long")
    with pytest.raises(RuntimeError, match="did not converge"):
        connected_components(df, max_iter=3)
    # and with enough iterations the same chain fully collapses
    ok = {(r.doc, r.cluster_rep) for r in connected_components(df, max_iter=20).collect()}
    assert ok == {(i, 1) for i in range(1, 15)}
