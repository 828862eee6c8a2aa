"""Pre-flight candidate-pair guard for node similarity + the
estimation-routing contract.

The reference rejects/estimates BEFORE execution
(proc/common/.../ProcedureExecutor.java:110); these tests pin the
Spark realization: the exact co-neighbor pair count from one
aggregate, the warning on hub graphs whose pair term dwarfs |E|, the
hard reject when max_candidate_pairs is set, the exact term flowing
into the estimation tree, and every facade proc resolving a
non-generic estimation tree (no silent generic-Pregel fallback).
"""

import inspect
import re

import pytest

from graph_data_science_spark import estimation
from graph_data_science_spark.algorithms.similarity import (
    NodeSimilarityConfig,
    estimate_candidate_pairs,
    node_similarity,
)
from graph_data_science_spark.catalog import Graph
from graph_data_science_spark.engine import GdsEngine
from tests.conftest import edge_df


def _hub_graph(spark, n_sources=1500):
    # every source points at hub 0 plus one private target: the
    # co-neighbor join through the hub generates n*(n-1) ordered
    # pairs from |E| = 2n edges — the fixed-vocab-hub data shape
    pairs = []
    for s in range(1, n_sources + 1):
        pairs.append((s, 0))
        pairs.append((s, 10_000 + s))
    return Graph("hub", edges=edge_df(spark, pairs), directed=True)


def test_estimate_candidate_pairs_exact(spark):
    # 4 sources share target 0, 2 of them also share target 99:
    # pairs = 4*3 + 2*1 = 14
    g = Graph(
        "small",
        edges=edge_df(spark, [(1, 0), (2, 0), (3, 0), (4, 0), (1, 99), (2, 99)]),
        directed=True,
    )
    est = estimate_candidate_pairs(g, NodeSimilarityConfig())
    assert est["candidate_pairs"] == 14
    assert est["edge_count"] == 6
    assert est["max_shared_degree"] == 4


def test_degree_window_shrinks_pair_estimate(spark):
    g = Graph(
        "win",
        edges=edge_df(spark, [(1, 0), (2, 0), (3, 0), (3, 5), (3, 6)]),
        directed=True,
    )
    # upper cutoff 2 drops source 3 (deg 3): only sources 1,2 remain
    est = estimate_candidate_pairs(
        g, NodeSimilarityConfig(upper_degree_cutoff=2)
    )
    assert est["candidate_pairs"] == 2  # (1,2) and (2,1) through hub 0
    assert est["edge_count"] == 2


def test_hub_graph_warns(spark):
    g = _hub_graph(spark)
    # 1500*1499 = 2,248,500 pairs from 3000 edges: > factor*|E| and
    # above the 1M absolute floor -> warning, but the run completes
    with pytest.warns(UserWarning, match="candidate pairs"):
        out = node_similarity(spark, g, NodeSimilarityConfig(top_k=1))
    assert out.count() > 0


def test_max_candidate_pairs_rejects_before_execution(spark):
    g = _hub_graph(spark, n_sources=200)
    with pytest.raises(RuntimeError, match="max_candidate_pairs"):
        node_similarity(
            spark, g, NodeSimilarityConfig(max_candidate_pairs=10_000)
        )


def test_no_warning_on_benign_graph(spark, recwarn):
    g = Graph(
        "benign",
        edges=edge_df(spark, [(1, 0), (2, 0), (3, 1), (1, 2)]),
        directed=True,
    )
    node_similarity(spark, g, NodeSimilarityConfig()).collect()
    assert not [w for w in recwarn if "candidate pairs" in str(w.message)]


def test_estimation_tree_uses_exact_pairs():
    heuristic = estimation.estimate("node_similarity", 1000, 3000)
    exact = estimation.estimate(
        "node_similarity", 1000, 3000, candidate_pairs=2_248_500
    )
    assert exact.total > heuristic.total
    assert any("exact" in c.name for c in exact.children)
    assert not any("exact" in c.name for c in heuristic.children)


def test_estimation_tree_sizes_zero_exact_pairs_at_zero():
    """An exact count of 0 pairs is a count, not a missing one: the
    pair term is 0 bytes under the exact label, not the 4x|E|
    heuristic."""
    tree = estimation.node_similarity(1000, 3000, candidate_pairs=0)
    (pair,) = [c for c in tree.children if c.name.startswith("pair shuffle")]
    assert pair.name == "pair shuffle (exact co-neighbor count)"
    assert pair.bytes == 0


def test_engine_estimate_surfaces_pair_count(spark):
    gds = GdsEngine(spark)
    g = gds.graph.create("est_ns", edge_df(spark, [(1, 0), (2, 0), (3, 0)]))
    est = gds.node_similarity(g).estimate()
    assert est["candidate_pairs"] == 6
    assert est["max_shared_degree"] == 3
    tree = est["tree"]
    assert any("exact" in c["name"] for c in tree["components"])


def test_every_facade_proc_has_nongeneric_estimation():
    # every GdsEngine method that builds a ProcResult must resolve a
    # bespoke estimation tree; _proc raises on unknown names, so this
    # enumerates the facade source for _proc callers and checks the
    # registry covers them all
    src = inspect.getsource(GdsEngine)
    procs, cur = [], None
    for line in src.splitlines():
        m = re.match(r"    def (\w+)\(", line)
        if m:
            cur = m.group(1)
        if "self._proc(" in line and cur and not cur.startswith("_"):
            procs.append(cur)
    assert len(procs) >= 45
    known = set(estimation.known_algorithms())
    missing = [p for p in procs if p not in known]
    assert not missing, f"facade procs without estimation trees: {missing}"


def test_proc_rejects_unknown_name(spark):
    gds = GdsEngine(spark)
    g = gds.graph.create("est_bad", edge_df(spark, [(1, 0)]))
    with pytest.raises(ValueError, match="no estimation tree"):
        gds._proc(g, lambda: None, "x", algo="definitely_not_an_algo")


def test_filtered_guard_counts_filtered_universe(spark):
    """source_filter pushes a semi-join below the pair join, so the
    guard must not reject based on the unfiltered pair count: a hub
    graph whose unfiltered count trips max_candidate_pairs runs fine
    when the filter keeps only a couple of sources."""
    g = _hub_graph(spark, n_sources=200)  # 200*199 = 39,800 unfiltered
    out = node_similarity(
        spark,
        g,
        NodeSimilarityConfig(
            max_candidate_pairs=10_000, source_filter=[1, 2], top_k=5
        ),
    )
    rows = out.collect()
    assert rows and {r["node1"] for r in rows} <= {1, 2}


def test_filtered_guard_still_rejects_large_filtered_runs(spark):
    """...but a filter that keeps the quadratic universe still trips
    the reject — the guard counts the real filtered pair join."""
    g = _hub_graph(spark, n_sources=200)
    with pytest.raises(RuntimeError, match="max_candidate_pairs"):
        node_similarity(
            spark,
            g,
            NodeSimilarityConfig(
                max_candidate_pairs=10_000,
                source_filter=list(range(1, 201)),
            ),
        )
