"""Triangle count + LCC — IntersectingTriangleCountTest fixtures
(FIXTURES.md §D): exact global and per-node counts, maxDegree
exclusion marks -1, LCC formula 2t/(d(d-1))."""

import math

from graph_data_science_spark.algorithms.triangle import (
    local_clustering_coefficient,
    triangle_count,
)
from tests.conftest import edge_df, persistent_rdd_ids


def test_single_triangle(spark, catalog):
    g = catalog.create("tri1", edge_df(spark, [(0, 1), (1, 2), (2, 0)]))
    res = triangle_count(spark, g)
    assert res.global_count == 1
    assert {r["id"]: r["triangles"] for r in res.local_counts.collect()} == {
        0: 1, 1: 1, 2: 1,
    }
    assert [tuple(r) for r in res.triangles.collect()] == [(0, 1, 2)]


def test_disjoint_triangles(spark, catalog):
    edges = []
    for k in range(10):
        a, b, c = 3 * k, 3 * k + 1, 3 * k + 2
        edges += [(a, b), (b, c), (c, a)]
    g = catalog.create("tri10", edge_df(spark, edges))
    res = triangle_count(spark, g)
    assert res.global_count == 10
    counts = {r["id"]: r["triangles"] for r in res.local_counts.collect()}
    assert all(v == 1 for v in counts.values()) and len(counts) == 30


def test_path_has_no_triangles(spark, catalog):
    g = catalog.create("tripath", edge_df(spark, [(0, 1), (1, 2), (2, 3)]))
    res = triangle_count(spark, g)
    assert res.global_count == 0
    assert all(r["triangles"] == 0 for r in res.local_counts.collect())


def test_undirected_duplicate_edges_counted_once(spark, catalog):
    # both directions + parallel edges present: still one triangle
    g = catalog.create(
        "tridup",
        edge_df(spark, [(0, 1), (1, 0), (1, 2), (2, 1), (2, 0), (0, 2), (0, 1)]),
    )
    assert triangle_count(spark, g).global_count == 1


def test_max_degree_exclusion(spark, catalog):
    # hub 0 in a triangle + star; maxDegree 2 excludes it:
    # its count is -1 and triangles through it vanish
    # (IntersectingTriangleCount.java:162-166)
    edges = [(0, 1), (1, 2), (2, 0), (0, 3), (0, 4), (3, 4)]
    g = catalog.create("trimax", edge_df(spark, edges))
    res = triangle_count(spark, g, max_degree=2)
    counts = {r["id"]: r["triangles"] for r in res.local_counts.collect()}
    assert counts[0] == -1
    assert res.global_count == 0  # both triangles go through the hub
    # without the cap: two triangles
    res_full = triangle_count(spark, g)
    assert res_full.global_count == 2


def test_lcc(spark, catalog):
    g = catalog.create("lcc1", edge_df(spark, [(0, 1), (1, 2), (2, 0)]))
    coeffs = {
        r["id"]: r["coefficient"]
        for r in local_clustering_coefficient(spark, g).collect()
    }
    assert coeffs == {0: 1.0, 1: 1.0, 2: 1.0}

    g2 = catalog.create("lccpath", edge_df(spark, [(0, 1), (1, 2), (2, 3)]))
    coeffs2 = {
        r["id"]: r["coefficient"]
        for r in local_clustering_coefficient(spark, g2).collect()
    }
    assert coeffs2 == {0: 0.0, 1: 0.0, 2: 0.0, 3: 0.0}


def test_lcc_excluded_is_nan(spark, catalog):
    edges = [(0, 1), (1, 2), (2, 0), (0, 3), (0, 4), (3, 4)]
    g = catalog.create("lccex", edge_df(spark, edges))
    coeffs = {
        r["id"]: r["coefficient"]
        for r in local_clustering_coefficient(spark, g, max_degree=2).collect()
    }
    assert math.isnan(coeffs[0])


def test_triangles_stream(spark):
    # TriangleProc.java: stream each triangle once, a < b < c
    from graph_data_science_spark.algorithms.triangle import triangles
    from graph_data_science_spark.catalog import Graph
    from tests.conftest import edge_df, persistent_rdd_ids

    g = Graph(
        name="tri_stream",
        edges=edge_df(spark, [(1, 2), (2, 3), (3, 1), (3, 4), (2, 4), (5, 6)]),
    )
    got = {
        (r["node_a"], r["node_b"], r["node_c"])
        for r in triangles(spark, g).collect()
    }
    assert got == {(1, 2, 3), (2, 3, 4)}


def test_triangles_max_degree_guard(spark):
    from graph_data_science_spark.algorithms.triangle import triangles
    from graph_data_science_spark.catalog import Graph
    from tests.conftest import edge_df, persistent_rdd_ids

    # vertex 3 (degree 4) excluded -> its triangles vanish
    g = Graph(
        name="tri_guard",
        edges=edge_df(spark, [(1, 2), (2, 3), (3, 1), (3, 4), (2, 4), (3, 5)]),
    )
    got = {
        (r["node_a"], r["node_b"], r["node_c"])
        for r in triangles(spark, g, max_degree=3).collect()
    }
    assert got == set()


def test_triangle_count_caches_only_its_result(spark, catalog):
    # the degree and forward-edge tables are working caches: after the
    # call only the returned triangle table may hold block storage
    g = catalog.create("tri_cache", edge_df(spark, [(0, 1), (1, 2), (2, 0), (2, 3)]))
    before = persistent_rdd_ids(spark)
    res = triangle_count(spark, g, max_degree=5)
    assert res.global_count == 1
    assert len(persistent_rdd_ids(spark) - before) == 1
    res.triangles.unpersist()
    assert persistent_rdd_ids(spark) - before == set()
