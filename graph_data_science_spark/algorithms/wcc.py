"""Weakly connected components — iterative min-label propagation.

Parity contract: the reference's wait-free union-find unions by MIN
set id (/root/reference/core/src/main/java/org/neo4j/gds/core/utils/
paged/dss/HugeAtomicDisjointSetStruct.java:166-193, comment :175-178),
so every vertex's final componentId is the MINIMUM vertex id in its
component. Min-label propagation converges to exactly the same
labels — the reference itself ships this formulation as its Pregel
example (/root/reference/examples/pregel-example/src/main/java/org/
neo4j/gds/beta/pregel/cc/ConnectedComponentsPregel.java:46-75).

Options mirrored from WccBaseConfig.java:29-47 / Wcc.java:109-142,
299-320: `seed` column (incremental), weight `threshold` (union only
edges with weight > threshold), `consecutive_ids` relabeling.

Scale: plain min-propagation needs O(diameter) supersteps. Each
round from superstep 4 on also propagates labels through the
*current label graph* (a pointer-doubling style shortcut: a vertex
additionally learns the component label of its current label-vertex),
which contracts long paths in O(log n) rounds — the DataFrame analog
of path halving (HugeAtomicDisjointSetStruct.java:113-130).
"""

from __future__ import annotations

from dataclasses import dataclass

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from graph_data_science_spark import projection
from graph_data_science_spark.catalog import Graph
from graph_data_science_spark.pregel import PregelComputation, PregelResult, PregelRunner


@dataclass
class WccConfig:
    threshold: float | None = None  # union only edges with weight > threshold
    seed_column: str | None = None  # node property holding seed component ids
    consecutive_ids: bool = False
    max_iterations: int = 100


#: first superstep that ALSO runs the label-of-label shortcut join,
#: once per superstep. Short-diameter graphs (the common case: the
#: sf0.1 event graph converges in 4-5 plain rounds) never reach it and
#: save the shortcut's extra join per superstep (measured 6.2 s ->
#: 4.2 s warm on the headline graph); long-chain graphs start doubling
#: here and still converge in _DOUBLING_FROM + O(log n) rounds instead
#: of O(diameter). One application per superstep: a second one cut a
#: pure 50k chain from 19 to 12 rounds, but the hub-heavy transcript
#: scaling table showed IDENTICAL per-round active decay with two
#: (the limiter there is per-edge message propagation, not label-chain
#: depth) while every doubling round cost ~2x. The fixpoint is
#: identical either way.
_DOUBLING_FROM = 4


class _WccComputation(PregelComputation):
    reducer = "min"

    def __init__(self, cfg: WccConfig, seeds: DataFrame | None):
        self.cfg = cfg
        self.seeds = seeds  # DF(id, seed) or None

    def init(self, graph: Graph) -> DataFrame:
        verts = graph.vertices()
        if self.seeds is not None:
            st = verts.join(self.seeds, "id", "left").select(
                "id", F.coalesce(F.col("seed"), F.col("id")).alias("component")
            )
        else:
            st = verts.select("id", F.col("id").alias("component"))
        return st.withColumn("_halted", F.lit(False))

    def send(self, active: DataFrame, edges: DataFrame, iteration: int) -> DataFrame:
        return active.join(edges, active.id == edges.src).select(
            F.col("dst"), F.col("component").alias("msg")
        )

    def step(self, state: DataFrame, inbox: DataFrame, iteration: int) -> DataFrame:
        # flat selects (no withColumn chains): per-superstep plan
        # re-analysis is the dominant driver-side cost of the loop
        st = state.join(inbox, "id", "left").select(
            "id",
            "component",
            F.least(
                F.col("component"), F.coalesce(F.col("msg"), F.col("component"))
            ).alias("_new"),
        )
        if iteration >= _DOUBLING_FROM:
            # pointer-doubling shortcut: a vertex also learns the label
            # of its current label-vertex, halving the label-graph depth
            labels = st.select(F.col("id").alias("_lid"), F.col("_new").alias("_llabel"))
            st = st.join(labels, st._new == labels._lid, "left").select(
                "id",
                "component",
                F.least(
                    F.col("_new"), F.coalesce(F.col("_llabel"), F.col("_new"))
                ).alias("_new"),
            )
        return st.select(
            "id",
            F.col("_new").alias("component"),
            (~(F.col("_new") < F.col("component"))).alias("_halted"),
        )


def wcc(
    spark: SparkSession,
    graph: Graph,
    config: WccConfig | None = None,
    checkpoint_dir: str | None = None,
    resume: bool = False,
) -> PregelResult:
    """Connected components; result state = (id, component).

    The graph is treated as undirected regardless of stored
    orientation (Wcc unions both endpoints, direction-blind).
    """
    cfg = config or WccConfig()

    def _build() -> Graph:
        edges = graph.view(weight_property=True)
        if cfg.threshold is not None:
            edges = edges.where(F.col("weight") > F.lit(cfg.threshold))
        if graph.directed:
            edges = projection.orient(edges, "UNDIRECTED")
        # threshold-filtered vertices must survive as singleton
        # components (Wcc.java unions only passing edges but keeps
        # every node), so an edges-only graph pins its PRE-filter
        # vertex set explicitly
        nodes = graph.nodes
        if nodes is None and cfg.threshold is not None:
            nodes = graph.vertices()
        return Graph(name=f"{graph.name}__wcc", edges=edges.select(
            "src", "dst", F.lit("REL").alias("rel_type"), F.col("weight")
        ), nodes=nodes, directed=False).persist()

    seeds = None
    if cfg.seed_column and graph.nodes is not None:
        seeds = graph.nodes.select("id", F.col(cfg.seed_column).alias("seed"))

    # memoized on the source graph: the doubled edge DF, its |E| and
    # its Pregel layout survive across runs (lifetime = source graph)
    undirected = graph.derived_graph(("wcc_und", cfg.threshold), _build)

    runner = PregelRunner(
        spark=spark, max_iterations=cfg.max_iterations, checkpoint_dir=checkpoint_dir
    )
    res = runner.run(_WccComputation(cfg, seeds), undirected, resume=resume)

    out = res.state.select("id", "component")
    if cfg.consecutive_ids:
        # dense 0..C-1 relabel without a global single-task window:
        # distinct components -> balanced range-partitioned rank
        # (util.global_rank), then a broadcast-friendly join back
        from graph_data_science_spark.util import global_rank

        mapping = global_rank(
            out.select("component").distinct(), ["component"], rank_col="_c"
        ).withColumn("_c", F.col("_c") - 1)
        out = out.join(mapping, "component").select("id", F.col("_c").alias("component"))
    res.state = out
    return res
