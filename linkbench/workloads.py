"""Workload shapes and the timed round of north-rule operations.

Every workload runs the same seven operations, because every
end-to-end metric is reported on every workload; what differs is the
graph shape and how hard each operation is driven (see README.md for
the table and the reasons).

Each operation is one call, or a short chain of calls, into the
program's public functions, timed from outside:

* ``projection``: ``sources.transcripts.read_transcripts`` ->
  ``projection.transcript_edges`` -> ``catalog.Graph.persist`` ->
  ``Graph.edge_count``;
* ``pagerank`` / ``wcc`` / ``labelprop``: the algorithm function
  (``algorithms.pagerank.pagerank``, ``algorithms.wcc.wcc``,
  ``algorithms.labelprop.label_propagation``), whose ``PregelResult``
  carries per-superstep wall times, then ``engine.ProcResult.write``;
* ``triangles``: ``engine.GdsEngine.triangle_count(...).write``;
* ``checkpointed_pagerank``: ``pagerank(..., checkpoint_dir=)`` then
  ``ProcResult.write``;
* ``resume``: after the snapshots past superstep ``CRASH_AFTER`` are
  deleted, ``pagerank(..., checkpoint_dir=, resume=True)`` on a fresh
  ``Graph`` handle, then ``ProcResult.write``.

Each operation runs in its own Spark job group named after it, so the
event log of a traced run splits by operation.
"""

from __future__ import annotations

import os
import shutil
import time
from dataclasses import dataclass

from inputs import Shape

OPS = (
    "projection",
    "pagerank",
    "wcc",
    "triangles",
    "checkpointed_pagerank",
    "resume",
    # last: label propagation's per-iteration lazy localCheckpoint
    # chain slows later jobs in the same session (see README), so no
    # other operation runs after it
    "labelprop",
)
PREGEL_OPS = ("pagerank", "wcc", "labelprop", "checkpointed_pagerank", "resume")
WRITE_OPS = OPS[1:]


@dataclass(frozen=True)
class Workload:
    name: str
    shape: Shape
    #: None = PageRank to convergence (tolerance 1e-7, at most
    #: ``PR_MAX_ITERATIONS``); an int = that many supersteps, tolerance 0
    pagerank_supersteps: int | None
    labelprop_iterations: int


PR_MAX_ITERATIONS = 40
PR_TOLERANCE = 1e-7
#: checkpointed PageRank's supersteps, and the last superstep whose
#: snapshot survives the simulated crash, on every workload
CHECKPOINT_SUPERSTEPS = 8
CRASH_AFTER = 3

WORKLOADS = {
    w.name: w
    for w in (
        # loop-bound: tiny supersteps; PageRank and WCC to convergence,
        # label propagation at the GDS default of 10 iterations, and the
        # checkpoint store's write and read path: a snapshot and manifest
        # every superstep, a simulated crash, a resume on a fresh handle
        Workload(
            "transcripts_small",
            Shape(n_conv=3_500, tool_rate=0.25),
            pagerank_supersteps=None,
            labelprop_iterations=10,
        ),
        # hub-skewed: 30% tool turns over 50 zipf(1.2) tools; fixed
        # 10-superstep PageRank; label propagation at fewer iterations
        Workload(
            "transcripts_skewed",
            Shape(n_conv=8_000, tool_rate=0.30),
            pagerank_supersteps=10,
            labelprop_iterations=5,
        ),
    )
}


#: fixed input of the set-up warm-up (``warm_up``), whatever the seed
WARMUP_SHAPE = Shape(n_conv=200, tool_rate=0.25)


def pagerank_config(supersteps: int | None):
    """PageRankConfig for a fixed superstep count, or to convergence.

    PregelRunner runs ``max_iterations - 1`` supersteps (GDS counts the
    send-only initial superstep), so n supersteps is max_iterations n+1.
    """
    from graph_data_science_spark.algorithms.pagerank import PageRankConfig

    if supersteps is None:
        return PageRankConfig(max_iterations=PR_MAX_ITERATIONS, tolerance=PR_TOLERANCE)
    return PageRankConfig(max_iterations=supersteps + 1, tolerance=0.0)


@dataclass
class OpRecord:
    """One timed operation: wall span (epoch seconds), its parts, and
    what the checks and the trace need from it."""

    name: str
    start: float = 0.0
    end: float = 0.0
    compute_s: float = 0.0
    write_s: float = 0.0
    superstep_walls: tuple = ()
    did_converge: bool = False
    meta: dict | None = None

    @property
    def wall_s(self) -> float:
        return self.end - self.start


def _write(graph, state, meta, value_column, algo, path):
    """Write a result through the engine's write mode; returns seconds."""
    from graph_data_science_spark.engine import ProcResult

    t = time.perf_counter()
    ProcResult(
        graph=graph,
        _compute=lambda: (state, meta),
        value_column=value_column,
        algo=algo,
    ).write(path)
    return time.perf_counter() - t


def _pregel(rec: OpRecord, res, graph, value_column, algo, path) -> None:
    meta = {"ran_iterations": res.ran_iterations, "did_converge": res.did_converge}
    rec.superstep_walls = tuple(m["wall_sec"] for m in res.metrics)
    rec.did_converge = res.did_converge
    rec.write_s = _write(graph, res.state, meta, value_column, algo, path)


def _snapshot_bytes(ckpt_dir: str) -> int:
    total = 0
    for name in os.listdir(ckpt_dir):
        if not name.startswith("superstep="):
            continue
        for root, _, files in os.walk(os.path.join(ckpt_dir, name)):
            total += sum(os.path.getsize(os.path.join(root, f)) for f in files)
    return total


def project(spark, transcripts: str, name: str):
    """The projection chain: transcripts -> edge table -> persisted
    Graph handle (lazy until the first action)."""
    from graph_data_science_spark import projection
    from graph_data_science_spark.catalog import Graph
    from graph_data_science_spark.sources.transcripts import read_transcripts

    return Graph(
        name=name,
        edges=projection.transcript_edges(read_transcripts(spark, transcripts)),
        directed=True,
    ).persist()


def warm_up(spark, transcripts: str) -> None:
    """Projection and two PageRank supersteps on a tiny input, so that
    the JIT compiles the projection and Pregel paths before the first
    timed operation. Without it ``projection_s`` is mostly the cold
    JVM's compilation (3.9 s, against 0.9 s warm on transcripts_skewed)
    and the first Pregel operation absorbs the rest. The warm-up is part
    of ``setup_s``, so work moved into it still shows there."""
    from graph_data_science_spark.algorithms.pagerank import pagerank

    spark.sparkContext.setJobGroup("warmup", "warmup")
    g = project(spark, transcripts, "warmup")
    g.edge_count()
    pagerank(spark, g, pagerank_config(2)).state.count()
    g.unpersist()


def run_round(
    spark, wl: Workload, transcripts: str, out: str, tag: str = ""
) -> dict[str, OpRecord]:
    """Run the workload's operations once, each timed and in its own job
    group (op name + ``tag``); results go under ``out``, with the edge
    table the checks replay the algorithms on. Returns the records by
    op name; the round's graphs are unpersisted before it returns."""
    from graph_data_science_spark.algorithms.labelprop import (
        LabelPropagationConfig,
        label_propagation,
    )
    from graph_data_science_spark.algorithms.pagerank import pagerank
    from graph_data_science_spark.algorithms.wcc import WccConfig, wcc
    from graph_data_science_spark.engine import GdsEngine

    sc = spark.sparkContext
    gds = GdsEngine(spark)
    recs: dict[str, OpRecord] = {}
    graphs: list = []
    ckpt = os.path.join(out, "checkpoints")

    def load_graph(name: str):
        g = project(spark, transcripts, name)
        graphs.append(g)
        return g

    for op in OPS:
        if op == "resume":
            # the crash, untimed: snapshots after CRASH_AFTER are lost
            # (the metrics log is kept; the runner appends to it)
            for name in os.listdir(ckpt):
                if name.startswith("superstep=") and int(name.split("=")[1]) > CRASH_AFTER:
                    shutil.rmtree(os.path.join(ckpt, name))
        rec = OpRecord(op)
        sc.setJobGroup(op + tag, op)
        rec.start = time.time()
        t = time.perf_counter()
        if op == "projection":
            g = load_graph("transcripts")
            g.edge_count()
        elif op == "pagerank":
            res = pagerank(spark, g, pagerank_config(wl.pagerank_supersteps))
            rec.compute_s = time.perf_counter() - t
            _pregel(rec, res, g, "score", "pagerank", os.path.join(out, op))
        elif op == "wcc":
            res = wcc(spark, g, WccConfig())
            rec.compute_s = time.perf_counter() - t
            _pregel(rec, res, g, "component", "wcc", os.path.join(out, op))
        elif op == "labelprop":
            res = label_propagation(
                spark, g, LabelPropagationConfig(max_iterations=wl.labelprop_iterations)
            )
            rec.compute_s = time.perf_counter() - t
            _pregel(rec, res, g, "label", "label_propagation", os.path.join(out, op))
        elif op == "triangles":
            proc = gds.triangle_count(g)
            proc.stream()
            tw = time.perf_counter()
            rec.meta = proc.write(os.path.join(out, op))
            rec.write_s = time.perf_counter() - tw
        elif op == "checkpointed_pagerank":
            res = pagerank(
                spark, g, pagerank_config(CHECKPOINT_SUPERSTEPS), checkpoint_dir=ckpt
            )
            rec.compute_s = time.perf_counter() - t
            _pregel(rec, res, g, "score", "pagerank", os.path.join(out, op))
        elif op == "resume":
            g2 = load_graph("transcripts_resumed")
            res = pagerank(
                spark, g2, pagerank_config(CHECKPOINT_SUPERSTEPS),
                checkpoint_dir=ckpt, resume=True,
            )
            rec.compute_s = time.perf_counter() - t
            _pregel(rec, res, g2, "score", "pagerank", os.path.join(out, op))
        rec.end = time.time()
        if op == "projection":
            rec.meta = {"edges": g.edge_count()}
        if op == "checkpointed_pagerank":
            rec.meta = {"checkpoint_bytes": _snapshot_bytes(ckpt)}
        recs[op] = rec
    sc.setJobGroup("untimed", "untimed")
    g.edges.write.mode("overwrite").parquet(os.path.join(out, "edges"))
    for graph in graphs:
        graph.unpersist()
    return recs
