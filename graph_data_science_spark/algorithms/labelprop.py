"""Community label propagation (synchronous / Jacobi variant).

Vote rule replicated from /root/reference/algo/src/main/java/org/
neo4j/gds/labelpropagation/ComputeStepConsumer.java:44-77: each
vertex's out-neighbors vote with weight relWeight * nodeWeight(nbr);
the new label is the argmax of summed vote weight, ties broken by the
SMALLER label id, and a vertex with no votes keeps its label.
Init (InitStep.java:58-79): seed value if a seed column is given
(null seeds fall back to maxSeedId + id + 1), else the vertex id.
Convergence: no vertex changed (LabelPropagation.java:136-145);
default maxIterations 10 (LabelPropagationBaseConfig).

Determinism note (SURVEY.md §7): the reference updates labels
IN-PLACE within a batch (Gauss-Seidel, ComputeStep.java:82-92), so
iteration-bounded mid-run states can differ from any synchronous
engine — and a PURELY synchronous (Jacobi) sweep can oscillate
forever on 2-cycles (label swap A<->B), never reaching the
reference's converged partition. This engine therefore runs
deterministic BLOCK Gauss-Seidel: each iteration updates vertices
with even id first (reading the previous labels), then odd-id
vertices (reading the evens' NEW labels). Two deterministic
sub-rounds kill period-2 oscillation exactly like the reference's
in-place sweep, stay fully data-parallel, and parity is asserted at
CONVERGENCE on the fixtures — where GDS's own contract lives.
``blocks=1`` selects plain Jacobi for callers who want the textbook
synchronous variant.

The argmax reduction is a grouped-top-1 window — a two-shuffle plan
(partial+final sum over (dst,label), then a per-dst top-1). Both key
spaces are vertex-sized; hub skew on dst is bounded by the distinct
labels in the neighborhood, which the (dst,label) pre-aggregation
already collapses map-side.
"""

from __future__ import annotations

from dataclasses import dataclass

from pyspark.sql import Column, DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from graph_data_science_spark.catalog import Graph
from graph_data_science_spark.pregel import (
    PregelComputation,
    PregelResult,
    PregelRunner,
    _free_local_checkpoint,
)


@dataclass
class LabelPropagationConfig:
    max_iterations: int = 10
    seed_column: str | None = None
    node_weight_column: str | None = None
    weighted: bool = False  # use edge weights
    blocks: int = 2  # 2 = block Gauss-Seidel (even ids then odd), 1 = Jacobi


class _LabelPropComputation(PregelComputation):
    send_full_state = True  # argmax needs every neighbor's vote each round
    send_is_linear = False  # _votes aggregates (per-dst argmax) inside send

    def __init__(self, cfg: LabelPropagationConfig, node_props: DataFrame | None):
        self.cfg = cfg
        self.node_props = node_props
        self._edges: DataFrame | None = None  # captured for the odd half-step
        #: this iteration's lazily checkpointed even half-step (step)
        self._sub_rounds: list[DataFrame] = []

    def init(self, graph: Graph) -> DataFrame:
        verts = graph.vertices()
        nw = F.lit(1.0)
        if self.cfg.node_weight_column and self.node_props is not None:
            verts = verts.join(
                self.node_props.select(
                    "id", F.col(self.cfg.node_weight_column).alias("_nw")
                ),
                "id",
                "left",
            )
            nw = F.coalesce(F.col("_nw"), F.lit(1.0))
        if self.cfg.seed_column and self.node_props is not None:
            seeds = self.node_props.select(
                "id", F.col(self.cfg.seed_column).alias("_seed")
            )
            max_seed = seeds.agg(F.max("_seed")).collect()[0][0] or 0
            verts = verts.join(seeds, "id", "left")
            label = F.coalesce(
                F.col("_seed").cast("long"), F.col("id") + F.lit(int(max_seed) + 1)
            )
        else:
            label = F.col("id")
        return verts.select(
            "id", label.alias("label"), nw.alias("node_weight"),
            F.lit(False).alias("_halted"),
        )

    def _votes(self, state: DataFrame, edges: DataFrame) -> DataFrame:
        """Winning label per gathering vertex (dst, msg) — argmax of
        summed relWeight * nodeWeight(neighbor), ties to min label."""
        nbr = state.select(
            F.col("id").alias("_nid"),
            F.col("label").alias("vote_label"),
            F.col("node_weight").alias("_nw"),
        )
        joined = edges.join(nbr, edges.dst == nbr._nid)
        w = (F.col("weight") if self.cfg.weighted else F.lit(1.0)) * F.col("_nw")
        votes = joined.select(
            F.col("src").alias("dst"),  # message target = the gathering vertex
            F.col("vote_label"),
            w.alias("vote_w"),
        )
        totals = votes.groupBy("dst", "vote_label").agg(F.sum("vote_w").alias("total"))
        win = Window.partitionBy("dst").orderBy(F.desc("total"), F.asc("vote_label"))
        return (
            totals.withColumn("_rn", F.row_number().over(win))
            .where(F.col("_rn") == 1)
            .select("dst", F.col("vote_label").alias("msg"))
        )

    def send(self, state: DataFrame, edges: DataFrame, iteration: int) -> DataFrame:
        # the runner has materialized the previous iteration's state
        # before it sends again, so that iteration's sub-rounds are dead
        self.free_sub_rounds()
        self._edges = edges
        return self._votes(state, edges)

    def reduce_messages(self, messages: DataFrame) -> DataFrame:
        return messages  # argmax already applied in _votes

    def step(self, state: DataFrame, inbox: DataFrame, iteration: int) -> DataFrame:
        if self.cfg.blocks <= 1:
            # one flat select — withColumn chains re-analyze the plan
            # per call, a per-superstep driver cost the loop repeats
            new = F.coalesce(F.col("msg"), F.col("label"))
            return state.join(inbox, "id", "left").select(
                "id",
                new.alias("label"),
                "node_weight",
                (new == F.col("label")).alias("_halted"),
            )
        # block Gauss-Seidel: evens adopt phase-1 winners in one flat
        # select (`_old` keeps the input label for the halt vote),
        # lazily localCheckpointed so the odd half re-gathers against
        # it without re-deriving it; free_sub_rounds releases its
        # blocks once the runner has materialized the iteration...
        parity = F.pmod(F.col("id"), F.lit(2))
        half1 = (
            state.join(inbox, "id", "left")
            .select(
                "id",
                _relabel(parity == 0).alias("label"),
                "node_weight",
                F.col("label").alias("_old"),
            )
            .localCheckpoint(eager=False)
        )
        self._sub_rounds.append(half1)
        # ...then odds re-gather against the evens' NEW labels
        inbox2 = self._votes(half1, self._edges)
        new = _relabel(parity == 1)
        return half1.join(inbox2, half1.id == inbox2.dst, "left").select(
            "id",
            new.alias("label"),
            "node_weight",
            (new == F.col("_old")).alias("_halted"),
        )

    def free_sub_rounds(self) -> None:
        for df in self._sub_rounds:
            _free_local_checkpoint(df)
        self._sub_rounds = []


def _relabel(chosen: Column) -> Column:
    """The vote rule's update: where ``chosen`` holds, the inbox winner
    ``msg``, or the current label when the vertex got no votes."""
    return F.when(chosen, F.coalesce(F.col("msg"), F.col("label"))).otherwise(
        F.col("label")
    )


def label_propagation(
    spark: SparkSession,
    graph: Graph,
    config: LabelPropagationConfig | None = None,
    checkpoint_dir: str | None = None,
    resume: bool = False,
) -> PregelResult:
    """Label propagation; result state = (id, label)."""
    cfg = config or LabelPropagationConfig()
    runner = PregelRunner(
        spark=spark, max_iterations=cfg.max_iterations, checkpoint_dir=checkpoint_dir
    )
    computation = _LabelPropComputation(cfg, graph.nodes)
    try:
        res = runner.run(computation, graph, resume=resume)
    finally:
        computation.free_sub_rounds()
    res.state = res.state.select("id", "label")
    return res
