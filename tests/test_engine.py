"""Tests for the GdsEngine mode surface, graph ops, generator, walks."""

import pytest

from graph_data_science_spark.algorithms.randomwalk import random_walks
from graph_data_science_spark.catalog import Graph
from graph_data_science_spark.engine import GdsEngine, ProcResult
from graph_data_science_spark.generator import generate_graph
from graph_data_science_spark.graph_ops import degree_distribution, density, graph_info
from tests.conftest import PAGERANK_EDGES, PAGERANK_EXPECTED, edge_df


@pytest.fixture()
def gds(spark):
    return GdsEngine(spark)


def test_stream_mode(spark, gds):
    g = gds.graph.create("eg1", edge_df(spark, PAGERANK_EDGES))
    # 41 supersteps @ tol 0 reaches the fixture constants at the
    # reference's own 1e-5 assert precision (PageRankTest.java:65)
    got = {
        r["id"]: r["score"]
        for r in gds.pagerank(g, max_iterations=41, tolerance=0.0).stream().collect()
    }
    for k, v in PAGERANK_EXPECTED.items():
        assert got[k] == pytest.approx(v, abs=1e-5)


def test_stats_mode(spark, gds):
    g = gds.graph.create("eg2", edge_df(spark, PAGERANK_EDGES))
    st = gds.pagerank(g, max_iterations=41, tolerance=0.0).stats()
    assert st["count"] == 11
    assert st["max"] == pytest.approx(3.5604297, abs=1e-5)
    assert "0.5" in st["percentiles"]


def test_mutate_mode(spark, gds):
    g = gds.graph.create("eg3", edge_df(spark, PAGERANK_EDGES))
    g2 = gds.wcc(g).mutate("component", catalog=gds.graph)
    assert "component" in g2.nodes.columns
    assert gds.graph.get("eg3") is g2
    # chained algorithm can read the mutated property
    assert g2.nodes.where("component is null").count() == 0


def test_write_mode(spark, gds, tmp_path):
    g = gds.graph.create("eg4", edge_df(spark, PAGERANK_EDGES))
    out = gds.degree_centrality(g).write(str(tmp_path / "deg"))
    assert out["rows"] == 11
    back = spark.read.parquet(str(tmp_path / "deg"))
    assert back.count() == 11


def test_write_mode_is_one_job(spark, gds, tmp_path):
    """Writing a materialized result is the write job alone: the rows
    are counted on it, not by re-reading the output. Appending counts
    every row at the path, as before."""
    sc = spark.sparkContext
    g = gds.graph.create("eg_write", edge_df(spark, PAGERANK_EDGES))
    state = spark.range(37).repartition(3, "id").localCheckpoint(eager=True)
    proc = ProcResult(graph=g, _compute=lambda: (state, {"k": 1}), value_column="id")
    path = str(tmp_path / "out")
    sc.setJobGroup("engine_write", "engine_write")
    try:
        out = proc.write(path)
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    assert out == {"path": path, "rows": 37, "k": 1}
    assert len(sc.statusTracker().getJobIdsForGroup("engine_write")) == 1
    assert spark.read.parquet(path).count() == 37
    assert proc.write(path, mode="append")["rows"] == 74


def test_estimate(spark, gds):
    g = gds.graph.create("eg5", edge_df(spark, PAGERANK_EDGES))
    est = gds.pagerank(g).estimate()
    assert est["node_count"] == 11
    assert est["relationship_count"] == 17
    assert est["total_bytes"] > 0


def test_graph_ops(spark):
    g = Graph(name="ops", edges=edge_df(spark, PAGERANK_EDGES))
    dd = degree_distribution(g)
    assert dd["max"] == 3 and dd["min"] == 0
    assert 0 < density(g) < 1
    info = graph_info(g)
    assert info["nodeCount"] == 11 and info["relationshipCount"] == 17
    assert info["relationshipTypes"] == ["REL"]


def test_graph_export_import_roundtrip(spark, tmp_path):
    """export_graph -> import_graph restores an equal graph (the
    CsvGraphStoreImporter.java:60 round-trip), for parquet AND csv."""
    from graph_data_science_spark.catalog import GraphCatalog
    from graph_data_science_spark.graph_ops import export_graph, import_graph

    nodes = spark.createDataFrame(
        [(i, float(i) * 1.5) for i in range(11)], "id long, prop double"
    )
    g = Graph(name="rt", edges=edge_df(spark, PAGERANK_EDGES), nodes=nodes,
              directed=False)
    for fmt in ("parquet", "csv"):
        path = str(tmp_path / f"exp_{fmt}")
        out = export_graph(g, path, fmt=fmt)
        assert out["relationships"] == 17 and out["nodes"] == 11
        cat = GraphCatalog()
        g2 = import_graph(spark, cat, "rt2", path)
        assert g2.directed is False
        assert g2.edges.schema == g.edges.schema
        assert g2.edges.exceptAll(g.edges).count() == 0
        assert g.edges.exceptAll(g2.edges).count() == 0
        got_nodes = {r["id"]: r["prop"] for r in g2.nodes.collect()}
        assert got_nodes == {i: i * 1.5 for i in range(11)}


def test_generator_deterministic(spark):
    a = generate_graph(spark, 1000, average_degree=4, seed=7)
    b = generate_graph(spark, 1000, average_degree=4, seed=7)
    assert a.count() == 4000
    assert a.exceptAll(b).count() == 0  # bit-identical
    pl = generate_graph(spark, 1000, average_degree=4, distribution="POWER_LAW", seed=7)
    degs = [r["count"] for r in pl.groupBy("src").count().collect()]
    assert max(degs) > 4  # heavy tail exists
    assert min(degs) >= 1


def test_new_proc_facades(spark, gds):
    """Round-2 engine procs (betweenness / sllpa / conductance /
    graphsage) run through the stream mode on a small graph."""
    ring = [(i, (i + 1) % 6) for i in range(6)]
    g = Graph(name="facades", edges=edge_df(spark, ring), directed=False)
    bw = gds.betweenness(g, directed=False).stream().collect()
    assert len(bw) == 6 and all(r["score"] >= 0 for r in bw)
    sl = gds.sllpa(g, max_iterations=4).stream().collect()
    assert {r["id"] for r in sl} <= set(range(6)) and len(sl) >= 6
    comms = spark.createDataFrame(
        [(i, i % 2) for i in range(6)], "id long, community long"
    )
    cond = gds.conductance(g, communities=comms).stream().collect()
    assert len(cond) == 2
    emb = gds.graphsage(
        g, embedding_dim=4, sample_sizes=[3], epochs=1, max_iterations=1,
        sample_nodes=6,
    ).stream().collect()
    assert len(emb) == 6 and all(len(r["embedding"]) == 4 for r in emb)


def test_random_walks(spark):
    ring = [(i, (i + 1) % 6) for i in range(6)]
    g = Graph(name="walkg", edges=edge_df(spark, ring))
    walks = random_walks(spark, g, walk_length=5, walks_per_node=2, seed=3)
    rows = walks.collect()
    # 6 nodes x 2 walks x 5 steps (ring never dead-ends)
    assert len(rows) == 6 * 2 * 5
    # walks are deterministic
    again = random_walks(spark, g, walk_length=5, walks_per_node=2, seed=3)
    assert walks.exceptAll(again).count() == 0
    # consecutive steps follow edges of the ring
    byw = {}
    for r in rows:
        byw.setdefault(r["walk_id"], {})[r["step"]] = r["id"]
    for steps in byw.values():
        for s in range(len(steps) - 1):
            assert steps[s + 1] == (steps[s] + 1) % 6


def test_random_walks_sink_truncates(spark):
    g = Graph(name="sinkg", edges=edge_df(spark, [(0, 1), (1, 2)]))
    walks = random_walks(spark, g, walk_length=10, walks_per_node=1)
    by_walk = (
        walks.groupBy("walk_id").count().collect()
    )
    assert max(r["count"] for r in by_walk) <= 3  # 0->1->2 then sink


def test_min_component_size_filter(spark, gds):
    # two components: {0,1,2} and {10,11}; minComponentSize=3 keeps
    # only the triangle's nodes (CommunityProcCompanion.applySizeFilter)
    g = gds.graph.create(
        "minsz", edge_df(spark, [(0, 1), (1, 2), (2, 0), (10, 11)])
    )
    all_rows = gds.wcc(g).stream().collect()
    assert len(all_rows) == 5
    kept = gds.wcc(g, min_component_size=3).stream().collect()
    assert sorted(r["id"] for r in kept) == [0, 1, 2]
    # same knob on louvain / label propagation (minCommunitySize)
    lp = gds.label_propagation(g, min_community_size=3).stream().collect()
    assert len({r["id"] for r in lp}) <= 3
    lv = gds.louvain(g, min_community_size=3).stream().collect()
    assert sorted(r["id"] for r in lv) == [0, 1, 2]
    # size 1 / None are no-ops
    assert len(gds.wcc(g, min_component_size=1).stream().collect()) == 5


def test_estimate_per_algorithm_trees(spark, gds):
    """Each facade proc routes to its own estimation tree; the tree
    decomposes into named components like MemoryEstimations."""
    g = gds.graph.create("eg_tree", edge_df(spark, PAGERANK_EDGES))
    pr = gds.pagerank(g).estimate()
    assert pr["algorithm"] == "pagerank"
    names = [c["name"] for c in pr["tree"]["components"]]
    assert "node value (state DataFrame)" in names
    assert "messages (superstep shuffle)" in names
    ns = gds.node_similarity(g).estimate()
    assert ns["algorithm"] == "node_similarity"
    assert ns["total_bytes"] != pr["total_bytes"]
    # unknown algorithms fall back to the generic pregel shape
    from graph_data_science_spark.estimation import estimate as est_tree
    fallback = est_tree("no_such_algo", 100, 200)
    assert fallback.total > 0


def test_estimate_tracks_measured_state(spark, gds):
    """Pregel.java:81-98 contract: the formula must TRACK reality.
    Measured = block-manager bytes of the checkpointed state after a
    pagerank run; assert the tree's absolute number is within a
    32x band on both sizes AND that its growth between a 10x size
    step matches the measured growth within 4x (the scaling claim is
    the part a reject-before-execution guard actually relies on)."""

    def chain_edges(n):
        return [(i, (i + 1) % n) for i in range(n)] + [
            (i, (i * 7 + 3) % n) for i in range(0, n, 3)
        ]

    def run_measured(name, n):
        g = gds.graph.create(name, edge_df(spark, chain_edges(n)))
        jsc = spark.sparkContext._jsc.sc()
        before = sum(r.memSize() for r in jsc.getRDDStorageInfo())
        proc = gds.pagerank(g, max_iterations=5)
        proc.stream().count()
        after = sum(r.memSize() for r in jsc.getRDDStorageInfo())
        est = proc.estimate()
        return max(after - before, 1), est["total_bytes"]

    m_small, e_small = run_measured("eg_sz_small", 300)
    m_big, e_big = run_measured("eg_sz_big", 3000)
    for m, e in ((m_small, e_small), (m_big, e_big)):
        assert e / 32 <= m <= e * 32, (m, e)
    growth_measured = m_big / m_small
    growth_est = e_big / e_small
    assert growth_est / 4 <= growth_measured <= growth_est * 4, (
        growth_measured, growth_est,
    )


def test_gds_list_procs(spark, gds):
    """gds.list analog (ListProc): introspected proc inventory with
    modes; prefix filter narrows like the reference's gds.list(name)."""
    procs = {r["name"] for r in gds.list().collect()}
    for expected in ("gds.pagerank", "gds.wcc", "gds.label_propagation",
                     "gds.triangle_count", "gds.node_similarity"):
        assert expected in procs
    pr_only = gds.list(prefix="pagerank").collect()
    assert [r["name"] for r in pr_only] == ["gds.pagerank"]
    assert all("estimate" in r["modes"] for r in pr_only)


def test_list_progress_and_sys_info(spark, gds):
    """gds.beta.listProgress / gds.debug.sysInfo analogs: a pagerank
    run registers a task that finishes; sys_info reports the session
    environment."""
    g = gds.graph.create("eg_prog", edge_df(spark, PAGERANK_EDGES))
    gds.pagerank(g, max_iterations=3).stream().count()
    prog = gds.list_progress().collect()
    assert prog, "no tasks registered"
    mine = [r for r in prog if "eg_prog" in r["task"]]
    assert mine and mine[0]["status"] == "FINISHED"
    assert mine[0]["iteration"] >= 1
    info = gds.sys_info()
    assert info["master"].startswith("local")
    assert int(info["shufflePartitions"]) > 0


def test_graph_size_of(spark):
    from graph_data_science_spark.graph_ops import size_of

    g = Graph(name="sz", edges=edge_df(spark, PAGERANK_EDGES))
    out = size_of(g)
    assert out["graphName"] == "sz"
    assert out["nodeCount"] == 11 and out["relationshipCount"] == 17
    assert out["totalBytes"] == (
        out["detail"]["relationships"] + out["detail"]["nodes"]
    )
    assert out["totalBytes"] > 0


def test_round4_facade_procs_run(spark, gds):
    """Facade completion: every remaining algorithm callable through
    gds.<proc>() with stream/stats semantics intact."""
    g = gds.graph.create("eg_r4", edge_df(spark, PAGERANK_EDGES))

    assert gds.katz(g, max_iterations=5).stream().count() > 0
    ld = gds.leiden(g)
    assert ld.stream().count() > 0 and "modularity" in ld.stats()
    assert gds.shortest_path_dijkstra(g, source=0).stream().count() > 0
    ts = gds.topological_sort(g)
    assert {"id", "level"} <= set(ts.stream().columns)
    sp = gds.spanning_tree(g).stream()
    assert {"src", "dst", "weight"} <= set(sp.columns)
    kc = gds.k_spanning_tree(g, k=2).stream()
    assert kc.select("component").distinct().count() >= 2
    bf = gds.bfs(g, source=0).stream()
    assert bf.where("id = 0").first()["visit_order"] == 0
    mk = gds.max_k_cut(g, k=2, max_iterations=2)
    assert mk.stream().count() > 0 and mk.stats()["cut_weight"] >= 0
    rw = gds.random_walks(g, walk_length=4, walks_per_node=1).stream()
    assert {"walk_id", "step", "id"} <= set(rw.columns)
    sr = gds.graph_sample_rwr(g, sampling_ratio=0.5)
    assert sr.stream().count() > 0 and sr.stats()["n_nodes"] > 0
    ce = gds.influence_maximization_celf(g, k=2, monte_carlo_sims=2)
    assert ce.stream().count() == 2
    # listed automatically
    names = {r["name"] for r in gds.list().collect()}
    for p in ("gds.katz", "gds.leiden", "gds.spanning_tree",
              "gds.shortest_path_dijkstra", "gds.topological_sort",
              "gds.hdbscan", "gds.knn", "gds.bfs", "gds.dfs"):
        assert p in names, p


def test_facade_hdbscan_stability_mode(spark, gds):
    emb_rows = [(i, [0.01 * i, 0.0]) for i in range(6)] + [
        (10 + i, [5.0 + 0.01 * i, 5.0]) for i in range(6)
    ]
    nodes = spark.createDataFrame(emb_rows, "id long, embedding array<double>")
    g = gds.graph.create(
        "hdb_stab", edge_df(spark, [(0, 1)]), nodes=nodes
    )
    res = gds.hdbscan(g, k=3, min_cluster_size=4, mode="stability")
    got = {r["id"]: r["cluster"] for r in res.stream().collect()}
    assert len({got[i] for i in range(6)}) == 1
    assert len({got[10 + i] for i in range(6)}) == 1
    st = res.stats()
    assert st["n_clusters"] == 2


def test_facade_node_similarity_estimate_has_pairs(spark, gds):
    g = gds.graph.create("ns_est2", edge_df(spark, [(1, 0), (2, 0)]))
    est = gds.node_similarity(g).estimate()
    assert est["candidate_pairs"] == 2
    assert est["algorithm"] == "node_similarity"
