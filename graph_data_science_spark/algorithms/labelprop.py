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
    #: opt-in CHUNK-ORDERED Gauss-Seidel matching the reference's
    #: in-place batch sweep (ComputeStep.java:82-92: vertices update
    #: in id order within a batch, each reading every earlier update):
    #: > 1 partitions the id space into that many contiguous-rank
    #: chunks, updated SEQUENTIALLY within one iteration, each chunk
    #: re-gathering against all earlier chunks' NEW labels. Costs one
    #: vote join per chunk per iteration — a parity-study mode for
    #: iteration-bounded comparisons against the reference, not the
    #: default (convergence fixtures agree across all modes; mid-run
    #: states legitimately differ, see tests). Overrides ``blocks``.
    chunk_ordered: int = 0


class _LabelPropComputation(PregelComputation):
    send_full_state = True  # argmax needs every neighbor's vote each round
    send_is_linear = False  # _votes aggregates (per-dst argmax) inside send

    def __init__(self, cfg: LabelPropagationConfig, node_props: DataFrame | None):
        self.cfg = cfg
        self.node_props = node_props
        self._edges: DataFrame | None = None  # captured for the odd half-step
        #: this iteration's lazily checkpointed sub-rounds (_adopt)
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
        out = verts.select(
            "id", label.alias("label"), nw.alias("node_weight"),
            F.lit(False).alias("_halted"),
        )
        if self.cfg.chunk_ordered > 1:
            from graph_data_science_spark.util import global_rank

            c = self.cfg.chunk_ordered
            n = out.count()
            ranked = global_rank(out.select("id"), ["id"], rank_col="_r")
            chunks = ranked.select(
                "id",
                F.floor((F.col("_r") - 1) * c / F.lit(max(n, 1)))
                .cast("int")
                .alias("_chunk"),
            )
            out = out.join(chunks, "id")
        return out

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
        if self.cfg.chunk_ordered > 1:
            return self._chunk_ordered_step(state, inbox)
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
        # block Gauss-Seidel: evens adopt phase-1 winners...
        parity = F.pmod(F.col("id"), F.lit(2))
        half1 = self._adopt(state, inbox, "id", parity == 0, F.col("label").alias("_old"))
        # ...then odds re-gather against the evens' NEW labels
        inbox2 = self._votes(half1, self._edges)
        new = _relabel(parity == 1)
        return half1.join(inbox2, half1.id == inbox2.dst, "left").select(
            "id",
            new.alias("label"),
            "node_weight",
            (new == F.col("_old")).alias("_halted"),
        )

    def _adopt(
        self,
        state: DataFrame,
        inbox: DataFrame,
        on: str | Column,
        chosen: Column,
        *keep: str | Column,
    ) -> DataFrame:
        """One Gauss-Seidel sub-round as one flat select: the vertices
        where ``chosen`` holds adopt their inbox winner. The result is
        lazily localCheckpointed so later sub-rounds re-gather against
        it without re-deriving it; ``free_sub_rounds`` releases its
        blocks once the runner has materialized the iteration."""
        out = (
            state.join(inbox, on, "left")
            .select("id", _relabel(chosen).alias("label"), "node_weight", *keep)
            .localCheckpoint(eager=False)
        )
        self._sub_rounds.append(out)
        return out

    def free_sub_rounds(self) -> None:
        for df in self._sub_rounds:
            _free_local_checkpoint(df)
        self._sub_rounds = []

    def _chunk_ordered_step(self, state: DataFrame, inbox: DataFrame) -> DataFrame:
        """One reference-batch-semantics iteration: chunk 0 adopts the
        phase-0 winners (computed against last iteration's labels);
        every later chunk re-gathers against the state INCLUDING all
        earlier chunks' new labels — the distributed, deterministic
        analog of the in-place id-ordered sweep."""
        chunk = F.col("_chunk")
        cur = self._adopt(
            state, inbox, "id", chunk == 0, "_chunk", F.col("label").alias("_old")
        )
        for c in range(1, self.cfg.chunk_ordered):
            votes = self._votes(cur, self._edges)
            cur = self._adopt(cur, votes, cur.id == votes.dst, chunk == c, "_chunk", "_old")
        return cur.select(
            "id",
            "label",
            "node_weight",
            (F.col("label") == F.col("_old")).alias("_halted"),
            "_chunk",
        )


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
