"""PageRank-family parity tests vs the reference's golden fixtures.

The reference asserts its own output within SCORE_PRECISION = 1e-5 of
the fixture constants (PageRankTest.java:65) — the constants are
7-digit roundings of the true fixpoint. We assert the same 1e-5 vs
the constants AND 1e-6 vs an independent exact simulation of the
reference's delta-formulation (PageRankComputation.java:77-97).
"""

import numpy as np
import pytest
from pyspark.sql import functions as F

from graph_data_science_spark.algorithms.pagerank import (
    PageRankConfig,
    article_rank,
    eigenvector,
    pagerank,
)
from graph_data_science_spark.algorithms.wcc import wcc
from graph_data_science_spark.pregel import PregelComputation, PregelRunner
from tests.conftest import (
    PAGERANK_EDGES,
    PAGERANK_EXPECTED,
    WCC_EDGES,
    WCC_EXPECTED,
    edge_df,
)


def _reference_sim(edges, n, max_iterations=41, tol=0.0, d=0.85):
    """Exact per-superstep simulation of PageRankComputation.java."""
    out = [[] for _ in range(n)]
    for s, t in edges:
        out[s].append(t)
    deg = [len(o) for o in out]
    rank = [1 - d] * n
    delta = [1 - d] * n
    for _ in range(1, max_iterations):
        msgs = [0.0] * n
        for v in range(n):
            if delta[v] > tol and deg[v] > 0:
                share = delta[v] / deg[v]
                for t in out[v]:
                    msgs[t] += share
        for v in range(n):
            delta[v] = d * msgs[v]
            rank[v] += delta[v]
    return rank


def _graph(spark, catalog, name="prg"):
    return catalog.create(name, edge_df(spark, PAGERANK_EDGES), persist=True)


def test_pagerank_fixture_parity(spark, catalog):
    g = _graph(spark, catalog)
    res = pagerank(spark, g, PageRankConfig(max_iterations=41, tolerance=0.0))
    got = {r["id"]: r["score"] for r in res.state.collect()}
    sim = _reference_sim(PAGERANK_EDGES, 11)
    assert set(got) == set(PAGERANK_EXPECTED)
    for v, expected in PAGERANK_EXPECTED.items():
        assert got[v] == pytest.approx(expected, abs=1e-5), f"node {v} vs fixture"
        assert got[v] == pytest.approx(sim[v], abs=1e-6), f"node {v} vs exact sim"


def test_pagerank_tolerance_iterations(spark, catalog):
    # PageRankTest.java:127-141 — tolerance 0.5 -> 2 iterations, 0.1 -> 13
    g = _graph(spark, catalog)
    res = pagerank(spark, g, PageRankConfig(max_iterations=40, tolerance=0.5))
    assert res.ran_iterations == 2
    res = pagerank(spark, g, PageRankConfig(max_iterations=40, tolerance=0.1))
    assert res.ran_iterations == 13


def test_pagerank_personalized(spark, catalog):
    # sources {a, e}: expectedPersonalizedRank1, PageRankTest.java:75-85
    expected = {
        0: 0.17053529152163158, 1: 0.3216114449911402, 2: 0.27329311398643763,
        3: 0.048318333106500536, 4: 0.17053529152163158, 5: 0.048318333106500536,
        6: 0.0, 7: 0.0, 8: 0.0, 9: 0.0, 10: 0.0,
    }
    g = _graph(spark, catalog)
    res = pagerank(
        spark, g, PageRankConfig(max_iterations=41, tolerance=0.0, source_nodes=[0, 4])
    )
    got = {r["id"]: r["score"] for r in res.state.collect()}
    for v, e in expected.items():
        assert got[v] == pytest.approx(e, abs=1e-5), f"node {v}"


def test_article_rank_runs_and_orders_like_pagerank(spark, catalog):
    g = _graph(spark, catalog)
    res = article_rank(spark, g, PageRankConfig(max_iterations=20, tolerance=1e-7))
    got = {r["id"]: r["score"] for r in res.state.collect()}
    # b is the dominant sink in the fixture; dangling nodes stay at alpha
    assert got[1] == max(got.values())
    assert got[6] == pytest.approx(0.15, abs=1e-12)


def test_eigenvector_l2_normalized(spark, catalog):
    g = _graph(spark, catalog)
    res = eigenvector(spark, g, PageRankConfig(max_iterations=40, tolerance=1e-7))
    scores = np.array([r["score"] for r in res.state.collect()])
    assert np.sqrt((scores**2).sum()) == pytest.approx(1.0, abs=1e-6)
    got = {r["id"]: r["score"] for r in res.state.collect()}
    assert got[1] == max(got.values())  # b dominates


def test_pagerank_parallelism_invariance(spark, catalog):
    """Same result at different shuffle parallelism (WccTest concurrency sweep analog)."""
    g = _graph(spark, catalog)
    res1 = pagerank(spark, g, PageRankConfig(max_iterations=21, tolerance=0.0))
    r1 = {r["id"]: r["score"] for r in res1.state.collect()}
    old = spark.conf.get("spark.sql.shuffle.partitions")
    spark.conf.set("spark.sql.shuffle.partitions", "13")
    try:
        g2 = catalog.create("prg13", edge_df(spark, PAGERANK_EDGES))
        res2 = pagerank(spark, g2, PageRankConfig(max_iterations=21, tolerance=0.0))
        r2 = {r["id"]: r["score"] for r in res2.state.collect()}
    finally:
        spark.conf.set("spark.sql.shuffle.partitions", old)
    for v in r1:
        assert r1[v] == pytest.approx(r2[v], abs=1e-12)


def test_salted_reduce_matches_plain(spark, catalog):
    """The two-phase salted reduce (groupBy(dst, salt) then
    groupBy(dst)) gives the plain reduce's answer: PageRank's sum to
    rounding, WCC's min exactly."""
    from graph_data_science_spark.algorithms.wcc import WccConfig, _WccComputation

    g = _graph(spark, catalog, "prg_salted")
    cfg = PageRankConfig(max_iterations=21, tolerance=0.0)
    plain = {r["id"]: r["score"] for r in pagerank(spark, g, cfg).state.collect()}
    salted = pagerank(spark, g, cfg, salt_buckets=4)
    got = {r["id"]: r["score"] for r in salted.state.collect()}
    assert got.keys() == plain.keys()
    assert np.allclose(
        [got[v] for v in plain], list(plain.values()), rtol=0.0, atol=1e-12
    )

    und = WCC_EDGES + [(d, s) for s, d in WCC_EDGES]
    gw = catalog.create("wcc_salted", edge_df(spark, und), persist=True)
    runs = {}
    for salt in (0, 4):
        res = PregelRunner(spark, max_iterations=50, salt_buckets=salt).run(
            _WccComputation(WccConfig(), None), gw
        )
        assert res.did_converge
        runs[salt] = {r["id"]: r["component"] for r in res.state.collect()}
    assert runs[4] == runs[0] == WCC_EXPECTED

    # the salted plan really is the two-phase one
    msgs = spark.createDataFrame([(1, 2.0), (1, 3.0)], "dst long, msg double")
    plan = PregelRunner(spark, salt_buckets=4)._reduce(msgs, "min")
    assert "_salt" in plan._jdf.queryExecution().analyzed().toString()


def test_pagerank_scaler_variants(spark, catalog):
    # PageRankAlgorithm.scaleScores (PageRankAlgorithm.java:77-95):
    # scaler applies to the final scores; NONE is identity; L2NORM on
    # eigenvector is a no-op (already normalized)
    import math

    from graph_data_science_spark.algorithms.pagerank import eigenvector

    g = _graph(spark, catalog, name="prg_scaled")
    base = {
        r["id"]: r["score"]
        for r in pagerank(
            spark, g, PageRankConfig(max_iterations=10, tolerance=0.0)
        ).state.collect()
    }
    l2 = {
        r["id"]: r["score"]
        for r in pagerank(
            spark, g, PageRankConfig(max_iterations=10, tolerance=0.0, scaler="L2NORM")
        ).state.collect()
    }
    norm = math.sqrt(sum(v * v for v in base.values()))
    for k in base:
        assert l2[k] == pytest.approx(base[k] / norm, rel=1e-9)
    assert sum(v * v for v in l2.values()) == pytest.approx(1.0, rel=1e-9)

    mm = {
        r["id"]: r["score"]
        for r in pagerank(
            spark, g, PageRankConfig(max_iterations=10, tolerance=0.0, scaler="MINMAX")
        ).state.collect()
    }
    assert min(mm.values()) == pytest.approx(0.0, abs=1e-12)
    assert max(mm.values()) == pytest.approx(1.0, abs=1e-12)

    # eigenvector + L2NORM: no-op (scores already unit-L2)
    ev = {
        r["id"]: r["score"]
        for r in eigenvector(
            spark, g, PageRankConfig(max_iterations=5, tolerance=0.0, scaler="L2NORM")
        ).state.collect()
    }
    assert sum(v * v for v in ev.values()) == pytest.approx(1.0, rel=1e-6)

    with pytest.raises(ValueError, match="scaler"):
        PageRankConfig(scaler="NOPE")


def _katz_sim(edges, n, iters, alpha=0.5, beta=1.0):
    """Exact numpy simulation of x_{t+1} = beta + alpha * A^T x_t."""
    x = np.full(n, beta)
    for _ in range(iters):
        nxt = np.full(n, beta)
        for s, t in edges:
            nxt[t] += alpha * x[s]
        x = nxt
    return x


def test_katz_fixture_parity(spark, catalog):
    from graph_data_science_spark.algorithms.pagerank import KatzConfig, katz

    g = _graph(spark, catalog, "katzg")
    res = katz(spark, g, KatzConfig(alpha=0.5, tolerance=0.0, max_iterations=8))
    got = {r["id"]: r["score"] for r in res.state.collect()}
    sim = _katz_sim(PAGERANK_EDGES, 11, 8)
    assert set(got) == set(range(11))
    for v in range(11):
        assert got[v] == pytest.approx(sim[v], abs=1e-9), f"node {v}"


def test_katz_converges_with_tolerance(spark, catalog):
    from graph_data_science_spark.algorithms.pagerank import KatzConfig, katz

    g = _graph(spark, catalog, "katzg2")
    # alpha=0.2 < 1/lambda_max on this graph; the geometric tail means
    # per-vertex movement shrinks every round -> tolerance stop fires.
    res = katz(spark, g, KatzConfig(alpha=0.2, tolerance=1e-6, max_iterations=60))
    assert res.ran_iterations < 60
    got = {r["id"]: r["score"] for r in res.state.collect()}
    sim = _katz_sim(PAGERANK_EDGES, 11, 200, alpha=0.2)
    for v in range(11):
        assert got[v] == pytest.approx(sim[v], abs=1e-4), f"node {v}"


def test_katz_alpha_validation():
    from graph_data_science_spark.algorithms.pagerank import KatzConfig

    with pytest.raises(ValueError):
        KatzConfig(alpha=1.5)
    with pytest.raises(ValueError):
        KatzConfig(alpha=0.5, max_iterations=0)


#: session settings PregelRunner.run overrides for the loop only
_LOOP_CONF = (
    "spark.sql.adaptive.enabled",
    "spark.sql.autoBroadcastJoinThreshold",
    "spark.sql.shuffle.partitions",
)
#: jobs a fresh graph's run spends outside its supersteps (|E|, the
#: edge layout's degree pass and hub count, degree/undirected caches)
_SETUP_JOBS = 6


class _FailsAtSecondSuperstep(PregelComputation):
    def __init__(self):
        self.loop_conf = None

    def init(self, graph):
        return graph.vertices().select("id", F.lit(False).alias("_halted"))

    def send(self, active, edges, iteration):
        if iteration == 1:
            raise RuntimeError("send failed")
        self.loop_conf = {k: active.sparkSession.conf.get(k) for k in _LOOP_CONF}
        return edges.select("dst", F.lit(1.0).alias("msg"))

    def step(self, state, inbox, iteration):
        return state.join(inbox, "id", "left").select("id", F.lit(False).alias("_halted"))


def test_pregel_superstep_is_one_job_and_conf_restored(spark, catalog, tmp_path):
    """With AQE and auto-broadcast off inside the loop, a superstep on a
    hub-free graph is the one job that materializes its state, plus the
    snapshot write when checkpointing; the session's settings come back
    after the run, also when it raises."""
    sc = spark.sparkContext
    session_conf = {k: spark.conf.get(k) for k in _LOOP_CONF}
    pr_cfg = PageRankConfig(max_iterations=9, tolerance=0.0)
    runs = (
        ("pr", PAGERANK_EDGES, 1, lambda g: pagerank(spark, g, pr_cfg)),
        ("wcc", [(i, i + 1) for i in range(40)] + WCC_EDGES, 1,
         lambda g: wcc(spark, g)),
        ("pr_ckpt", PAGERANK_EDGES, 2,
         lambda g: pagerank(spark, g, pr_cfg, checkpoint_dir=str(tmp_path / "ckpt"))),
    )
    for name, edges, jobs_per_superstep, algo in runs:
        group = f"pregel_jobs_{name}"
        sc.setJobGroup(group, group)
        try:
            res = algo(catalog.create(f"pregel_jobs_{name}", edge_df(spark, edges)))
        finally:
            sc.setLocalProperty("spark.jobGroup.id", None)
        k = len(res.metrics)
        assert k >= 5, name
        jobs = len(sc.statusTracker().getJobIdsForGroup(group))
        assert jobs <= jobs_per_superstep * k + _SETUP_JOBS, (
            f"{name}: {jobs} jobs for {k} supersteps"
        )
        assert {c: spark.conf.get(c) for c in _LOOP_CONF} == session_conf

    comp = _FailsAtSecondSuperstep()
    g = catalog.create("pregel_raises", edge_df(spark, PAGERANK_EDGES))
    with pytest.raises(RuntimeError, match="send failed"):
        PregelRunner(spark, max_iterations=5).run(comp, g)
    assert comp.loop_conf == {
        "spark.sql.adaptive.enabled": "false",
        "spark.sql.autoBroadcastJoinThreshold": "-1",
        "spark.sql.shuffle.partitions": "1",
    }
    assert {c: spark.conf.get(c) for c in _LOOP_CONF} == session_conf
