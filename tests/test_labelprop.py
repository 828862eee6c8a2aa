"""Label propagation tests — LabelPropagationTest.java:65-109 fixture.

Per SURVEY.md §7 the reference is batch-ordered Gauss-Seidel; our
engine is synchronous, so parity is asserted at CONVERGENCE
(the partition {alice,bridget,michael} / {charles,doug,mark}), not at
order-dependent intermediate iterations.
"""

import math

from pyspark.sql import functions as F

from graph_data_science_spark.algorithms.labelprop import (
    LabelPropagationConfig,
    label_propagation,
)
from graph_data_science_spark.algorithms.pagerank import PageRankConfig, pagerank
from graph_data_science_spark.algorithms.wcc import wcc
from tests.conftest import (
    LP_EDGES,
    LP_PARTITION,
    LP_SEEDS,
    PAGERANK_EDGES,
    WCC_EDGES,
    edge_df,
    persistent_rdd_ids,
)


def _partition_of(labels: dict) -> list[set]:
    groups: dict = {}
    for node, lbl in labels.items():
        groups.setdefault(lbl, set()).add(node)
    return sorted(groups.values(), key=lambda s: min(s))


def test_labelprop_converged_partition(spark, catalog):
    g = catalog.create("lpg", edge_df(spark, LP_EDGES), persist=True)
    res = label_propagation(spark, g, LabelPropagationConfig(max_iterations=20))
    got = {r["id"]: r["label"] for r in res.state.collect()}
    assert _partition_of(got) == sorted(LP_PARTITION, key=min)


def test_labelprop_seeded(spark, catalog):
    nodes = spark.createDataFrame(
        [(k, v) for k, v in LP_SEEDS.items()], "id long, seed long"
    )
    g = catalog.create("lpseed", edge_df(spark, LP_EDGES), nodes=nodes)
    res = label_propagation(
        spark, g, LabelPropagationConfig(max_iterations=20, seed_column="seed")
    )
    got = {r["id"]: r["label"] for r in res.state.collect()}
    # seeded labels must come from the seed domain and respect the partition
    assert set(got.values()) <= set(LP_SEEDS.values())
    assert _partition_of(got) == sorted(LP_PARTITION, key=min)


def test_labelprop_tie_breaks_to_smaller_label(spark, catalog):
    # node 2 hears equal-weight votes from labels 0 and 1 -> takes 0
    # (ComputeStepConsumer.java:64-77)
    g = catalog.create("lptie", edge_df(spark, [(2, 0), (2, 1)]))
    res = label_propagation(spark, g, LabelPropagationConfig(max_iterations=1))
    got = {r["id"]: r["label"] for r in res.state.collect()}
    assert got[2] == 0


def test_labelprop_no_votes_keeps_label(spark, catalog):
    # vertex 1 has no out-edges -> keeps its own label forever
    g = catalog.create("lpkeep", edge_df(spark, [(0, 1)]))
    res = label_propagation(spark, g, LabelPropagationConfig(max_iterations=5))
    got = {r["id"]: r["label"] for r in res.state.collect()}
    assert got[1] == 1 and got[0] == 1  # 0 adopts 1's label; 1 keeps it


def test_labelprop_two_cycle(spark, catalog):
    """A 2-cycle's label swap oscillates forever under pure Jacobi
    (blocks=1); block Gauss-Seidel ends it: even 0 adopts 1's label,
    then odd 1 re-votes against it and keeps it."""
    g = catalog.create("lpg_cyc", edge_df(spark, [(0, 1), (1, 0)]), persist=True)
    res = label_propagation(spark, g, LabelPropagationConfig(max_iterations=10))
    assert {r["id"]: r["label"] for r in res.state.collect()} == {0: 1, 1: 1}
    assert res.did_converge and res.ran_iterations == 2
    jacobi = label_propagation(
        spark, g, LabelPropagationConfig(max_iterations=10, blocks=1)
    )
    assert not jacobi.did_converge


def test_labelprop_frees_sub_round_blocks(spark, catalog):
    """Each iteration's lazily checkpointed half-step is released once
    the iteration is materialized: a run leaves only its result state
    in the block manager, however many iterations it ran."""
    path = [(i, i + 1) for i in range(40)]
    g = catalog.create("lp_blocks", edge_df(spark, path), persist=True)
    label_propagation(spark, g, LabelPropagationConfig(max_iterations=1))  # layout
    before = persistent_rdd_ids(spark)
    res = label_propagation(spark, g, LabelPropagationConfig(max_iterations=6))
    assert res.ran_iterations == 6 and not res.did_converge
    assert len(persistent_rdd_ids(spark) - before) == 1  # the result state


def _size_estimate_bits(df) -> float:
    """Bit length of Catalyst's size estimate for `df`."""
    try:
        return df._jdf.queryExecution().optimizedPlan().stats().sizeInBytes().bit_length()
    except ValueError:  # too many digits for Python to convert
        return math.inf


def test_loop_states_keep_bounded_size_estimates(spark, catalog):
    """A superstep's cut must not carry its inputs' size estimate into
    the next superstep: joins multiply estimates, so label propagation
    would grow ~x4 in bits per iteration and WCC double per superstep,
    the driver paying for the big-integer arithmetic."""
    path = catalog.create("lp_est", edge_df(spark, [(i, i + 1) for i in range(40)]))
    lp = label_propagation(spark, path, LabelPropagationConfig(max_iterations=8))
    assert lp.ran_iterations == 8 and not lp.did_converge
    pr = pagerank(
        spark,
        catalog.create("pr_est", edge_df(spark, PAGERANK_EDGES)),
        PageRankConfig(max_iterations=20, tolerance=0.0),
    )
    cc = wcc(
        spark,
        catalog.create("wcc_est", edge_df(spark, [(i, i + 1) for i in range(40)] + WCC_EDGES)),
    )
    for name, res in (("labelprop", lp), ("pagerank", pr), ("wcc", cc)):
        assert _size_estimate_bits(res.state) <= 64, name


def test_local_checkpoint_drops_only_overflowed_estimates(spark):
    """A real estimate survives the cut, so broadcast choices do not
    change; a compounded one is dropped, and the cut keeps its rows and
    hash partitioning."""
    from graph_data_science_spark.util import local_checkpoint

    aqe = spark.conf.get("spark.sql.adaptive.enabled")
    spark.conf.set("spark.sql.adaptive.enabled", "false")  # AQE hides the partitioning
    try:
        small = local_checkpoint(spark.range(50).repartition(3, "id"))
        assert _size_estimate_bits(small) < 20
        big = small
        for _ in range(4):  # each self-join squares the estimate
            big = big.join(big.select(F.col("id").alias("o")), F.col("id") == F.col("o"))
            big = big.select("id").repartition(3, "id")
        assert _size_estimate_bits(big.localCheckpoint()) > 64
        cut = local_checkpoint(big)
        assert _size_estimate_bits(cut) <= 64
        assert cut.count() == 50
        parts = cut._jdf.logicalPlan().outputPartitioning()
        assert parts.toString().startswith("hashpartitioning(id")
        assert parts.numPartitions() == 3
    finally:
        spark.conf.set("spark.sql.adaptive.enabled", aqe)
