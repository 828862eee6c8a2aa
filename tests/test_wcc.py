"""WCC parity tests — WccTest.java:121-133 fixtures; exact component
ids = min vertex id in component (union-by-min,
HugeAtomicDisjointSetStruct.java:175-178)."""

import pytest

from graph_data_science_spark.algorithms.wcc import WccConfig, wcc
from tests.conftest import WCC_EDGES, WCC_EXPECTED, edge_df


def test_wcc_exact_components(spark, catalog):
    g = catalog.create("wccg", edge_df(spark, WCC_EDGES), persist=True)
    res = wcc(spark, g)
    got = {r["id"]: r["component"] for r in res.state.collect()}
    assert got == WCC_EXPECTED
    assert res.did_converge


@pytest.mark.parametrize("orientation", ["NATURAL", "REVERSE", "UNDIRECTED"])
def test_wcc_orientation_invariant(spark, catalog, orientation):
    # the reference tests the same fixture under all three orientations
    g = catalog.create(f"wcc_{orientation}", edge_df(spark, WCC_EDGES), orientation=orientation)
    got = {r["id"]: r["component"] for r in wcc(spark, g).state.collect()}
    assert got == WCC_EXPECTED


def test_wcc_threshold(spark, catalog):
    # Wcc.java:299-320 — union only edges with weight > threshold
    edges = edge_df(spark, [(0, 1), (1, 2), (2, 3)], weights=[1.0, 0.1, 1.0])
    g = catalog.create("wcct", edges)
    got = {
        r["id"]: r["component"]
        for r in wcc(spark, g, WccConfig(threshold=0.5)).state.collect()
    }
    assert got == {0: 0, 1: 0, 2: 2, 3: 2}


def test_wcc_threshold_keeps_filtered_vertices(spark, catalog):
    # every node keeps a component even when ALL its edges fail the
    # threshold (Wcc.java filters unions, not nodes): 4-5's only edge
    # is dropped, both must come back as singletons
    edges = edge_df(spark, [(0, 1), (4, 5)], weights=[1.0, 0.1])
    g = catalog.create("wcct_iso", edges)
    got = {
        r["id"]: r["component"]
        for r in wcc(spark, g, WccConfig(threshold=0.5)).state.collect()
    }
    assert got == {0: 0, 1: 0, 4: 4, 5: 5}


def test_wcc_seeded(spark, catalog):
    # Wcc.java:109-142 — seeds pre-merge components; min seed wins
    nodes = spark.createDataFrame(
        [(0, 100), (1, 100), (2, None), (3, 200)], "id long, seed long"
    )
    edges = edge_df(spark, [(0, 1), (2, 3)])
    g = catalog.create("wccs", edges, nodes=nodes)
    got = {
        r["id"]: r["component"]
        for r in wcc(spark, g, WccConfig(seed_column="seed")).state.collect()
    }
    assert got == {0: 100, 1: 100, 2: 2, 3: 2}


def test_wcc_consecutive_ids(spark, catalog):
    g = catalog.create("wccc", edge_df(spark, WCC_EDGES))
    got = {
        r["id"]: r["component"]
        for r in wcc(spark, g, WccConfig(consecutive_ids=True)).state.collect()
    }
    assert got == {0: 0, 1: 0, 2: 0, 3: 1, 4: 1, 5: 1, 6: 2, 7: 2, 8: 2, 9: 3, 10: 3, 11: 3}


def test_wcc_long_path_converges(spark, catalog):
    # pointer-doubling must close a 64-hop path well under 100 rounds
    path = [(i, i + 1) for i in range(64)]
    g = catalog.create("wccpath", edge_df(spark, path))
    res = wcc(spark, g, WccConfig(max_iterations=20))
    got = {r["id"]: r["component"] for r in res.state.collect()}
    assert set(got.values()) == {0}
    assert res.did_converge


def test_wcc_superstep_metrics_counts(spark, catalog):
    # the per-superstep active/row counters ride an Observation on the
    # state materialization job (pregel.py) — assert the observed
    # values are semantically right, not just present: every superstep
    # sees the full vertex set, activity ends at 0 on convergence
    g = catalog.create("wccm", edge_df(spark, WCC_EDGES), persist=True)
    res = wcc(spark, g)
    assert res.did_converge
    n = g.node_count()
    assert len(res.metrics) >= 2
    for m in res.metrics:
        assert m["rows"] == n
        assert 0 <= m["active"] <= n
    assert res.metrics[-1]["active"] == 0
    assert res.metrics[0]["active"] > 0
