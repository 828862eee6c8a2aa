"""Checkpoint/resume tests (north_rule hard requirement, FIXTURES.md §F.2):
kill after superstep k, resume, identical final state."""

import json
import os
import random
import shutil

import pytest
from pyspark.sql import functions as F

from graph_data_science_spark.algorithms.pagerank import (
    PageRankConfig,
    _PageRankComputation,
    pagerank,
)
from graph_data_science_spark.algorithms.wcc import WccConfig, wcc
from graph_data_science_spark.pregel import PregelRunner
from tests.conftest import PAGERANK_EDGES, WCC_EDGES, WCC_EXPECTED, edge_df


def _random_edges(n_nodes=600, n_edges=3000, seed=7):
    rng = random.Random(seed)
    pairs = set()
    while len(pairs) < n_edges:
        s, d = rng.randrange(n_nodes), rng.randrange(n_nodes)
        if s != d:
            pairs.add((s, d))
    return sorted(pairs)


@pytest.mark.parametrize("partitions", [1, 3, 8])
def test_pagerank_checkpoint_resume_identical(spark, catalog, tmp_path, partitions):
    """The uninterrupted run carries its state in memory from superstep
    to superstep; the resumed one restarts from a parquet snapshot. Both
    must give the same floats, whatever the partition layout."""
    ckpt = str(tmp_path / "pr_ckpt")
    g = catalog.create(f"ckg{partitions}", edge_df(spark, _random_edges()), persist=True)
    cfg = PageRankConfig(max_iterations=11, tolerance=0.0)

    def run(resume):
        runner = PregelRunner(
            spark, max_iterations=10, checkpoint_dir=ckpt, partitions=partitions,
            track_active=False,
        )
        return runner.run(_PageRankComputation(cfg), g, resume=resume)

    full = run(resume=False)
    expected = {r["id"]: r["rank"] for r in full.state.collect()}

    # simulate a crash: delete the snapshots after superstep 4
    # (the dir also holds metrics.jsonl — only superstep=* entries count)
    for name in os.listdir(ckpt):
        if name.startswith("superstep=") and int(name.split("=")[1]) > 4:
            shutil.rmtree(os.path.join(ckpt, name))
    assert PregelRunner(spark, checkpoint_dir=ckpt).latest_checkpoint() == 4

    # resume mid-algorithm and finish
    resumed = run(resume=True)
    assert [m["iteration"] for m in resumed.metrics] == list(range(5, 10))
    got = {r["id"]: r["rank"] for r in resumed.state.collect()}
    assert got == expected  # bit-identical: same floats, same supersteps


def test_fresh_run_clears_stale_snapshots(spark, catalog, tmp_path):
    """A fresh run into a dir an earlier, longer run used must not leave
    that run's snapshots for a later resume to pick up."""
    ckpt = str(tmp_path / "shared_ckpt")
    a = catalog.create("stale_a", edge_df(spark, PAGERANK_EDGES))
    pagerank(spark, a, PageRankConfig(max_iterations=11, tolerance=0.0), checkpoint_dir=ckpt)

    b = catalog.create("stale_b", edge_df(spark, [(s + 100, d + 100) for s, d in WCC_EDGES]))
    cfg = PageRankConfig(max_iterations=3, tolerance=0.0)  # 2 supersteps
    fresh = pagerank(spark, b, cfg, checkpoint_dir=ckpt)
    assert PregelRunner(spark, checkpoint_dir=ckpt).latest_checkpoint() == 1
    with open(os.path.join(ckpt, "metrics.jsonl")) as f:
        assert len(f.readlines()) == len(fresh.metrics)

    resumed = pagerank(spark, b, cfg, checkpoint_dir=ckpt, resume=True)
    got = {r["id"]: r["score"] for r in resumed.state.collect()}
    assert got == {r["id"]: r["score"] for r in fresh.state.collect()}
    assert set(got) == {v + 100 for v in WCC_EXPECTED}


def test_manifest_partitions_are_state_partitions(spark, catalog, tmp_path):
    """The manifest's lineage counts the rows of each state partition
    (write task i is state partition i), not of each parquet read split."""
    ckpt = str(tmp_path / "lineage_ckpt")
    g = catalog.create("cklin", edge_df(spark, PAGERANK_EDGES))
    runner = PregelRunner(spark, max_iterations=3, checkpoint_dir=ckpt, partitions=3)
    res = runner.run(_PageRankComputation(PageRankConfig(tolerance=0.0)), g)
    want = sorted(
        (r["p"], r["n"])
        for r in res.state.groupBy(F.spark_partition_id().alias("p"))
        .agg(F.count(F.lit(1)).alias("n"))
        .collect()
    )
    last = runner.latest_checkpoint()
    with open(os.path.join(ckpt, f"superstep={last:05d}", "manifest.json")) as f:
        m = json.load(f)
    assert [(p["partition"], p["rows"]) for p in m["partitions"]] == want
    assert m["rows"] == sum(n for _, n in want) == 11


def test_checkpoint_manifest_lineage(spark, catalog, tmp_path):
    ckpt = str(tmp_path / "wcc_ckpt")
    g = catalog.create("ckw", edge_df(spark, WCC_EDGES))
    res = wcc(spark, g, WccConfig(max_iterations=10), checkpoint_dir=ckpt)
    assert {r["id"]: r["component"] for r in res.state.collect()} == WCC_EXPECTED
    # every superstep sealed with a lineage manifest:
    # per-partition row counts + iteration number
    snaps = sorted(n for n in os.listdir(ckpt) if n.startswith("superstep="))
    assert len(snaps) == len(res.metrics)
    # the run log carries one metrics line per superstep
    with open(os.path.join(ckpt, "metrics.jsonl")) as f:
        assert len(f.readlines()) == len(res.metrics)
    for name in snaps:
        with open(os.path.join(ckpt, name, "manifest.json")) as f:
            m = json.load(f)
        assert m["rows"] == 12
        assert m["superstep"] == int(name.split("=")[1])
        assert sum(p["rows"] for p in m["partitions"]) == m["rows"]
