"""GdsEngine — the procedure-surface facade (stream/stats/mutate/write + estimate).

Mirrors the reference's four execution modes per algorithm
(PageRankStreamProc.java:42-69, MutatePropertyProc.java, StatsProc,
NativeNodePropertyExporter write mode) and the pre-execution memory
estimation guard (ProcedureExecutor.java:110, memory-usage module):

    gds = GdsEngine(spark)
    g = gds.graph.create("g", edges_df)
    gds.pagerank(g).stream()                  # result DataFrame
    gds.pagerank(g).stats()                   # summary dict
    g2 = gds.pagerank(g).mutate("pr")         # graph + node property
    gds.pagerank(g).write("/path/out")        # parquet/csv sink
    gds.pagerank(g).estimate()                # memory estimate dict

Every mode shares one lazily-computed result DataFrame; stats are a
single agg with percentile_approx (the HdrHistogram analog).
"""

from __future__ import annotations

from dataclasses import dataclass, field
from typing import Any, Callable

from pyspark.sql import DataFrame, Observation, SparkSession
from pyspark.sql import functions as F

from graph_data_science_spark.catalog import Graph, GraphCatalog

PERCENTILES = [0.01, 0.05, 0.5, 0.95, 0.99]


@dataclass
class ProcResult:
    """A mode-polymorphic algorithm invocation (AlgoBaseProc analog)."""

    graph: Graph
    _compute: Callable[[], tuple[DataFrame, dict]]
    value_column: str
    algo: str = "pregel"
    #: optional pre-flight hook: () -> dict of measured estimation
    #: inputs (e.g. node_similarity's exact candidate-pair count)
    #: merged into the estimate() config and echoed in its output
    estimate_extras: Callable[[], dict] | None = None
    _cached: tuple[DataFrame, dict] | None = field(default=None, repr=False)

    def _run(self) -> tuple[DataFrame, dict]:
        if self._cached is None:
            self._cached = self._compute()
        return self._cached

    # -- modes ------------------------------------------------------------
    def stream(self) -> DataFrame:
        """Result rows (originalId, value…) — the .stream mode."""
        return self._run()[0]

    def stats(self) -> dict[str, Any]:
        """Aggregate summary — the .stats mode (histograms via
        percentile_approx, the HdrHistogram analog)."""
        df, meta = self._run()
        col = self.value_column
        row = df.agg(
            F.count(F.lit(1)).alias("n"),
            F.min(col).alias("min"),
            F.max(col).alias("max"),
            F.avg(F.col(col).cast("double")).alias("mean"),
            F.percentile_approx(F.col(col).cast("double"), PERCENTILES).alias("pcts"),
            F.countDistinct(col).alias("distinct"),
        ).collect()[0]
        return {
            "count": row["n"],
            "min": row["min"],
            "max": row["max"],
            "mean": row["mean"],
            "percentiles": dict(zip([str(p) for p in PERCENTILES], row["pcts"] or [])),
            "distinct": row["distinct"],
            **meta,
        }

    def mutate(self, property_name: str, catalog: GraphCatalog | None = None) -> Graph:
        """Append the result as a node property — the .mutate mode
        (GraphStore.addNodeProperty, api/GraphStore.java:91-95)."""
        df, _ = self._run()
        renamed = df.withColumnRenamed(self.value_column, property_name)
        g2 = self.graph.with_node_property(renamed)
        if catalog is not None:
            catalog.set(self.graph.name, g2)
        return g2

    def write(self, path: str, fmt: str = "parquet", mode: str = "overwrite") -> dict:
        """Persist the result — the .write mode (targets a table path
        instead of Neo4j). ``rows`` counts the rows at `path` after the
        write."""
        df, meta = self._run()
        if mode.lower() in ("append", "ignore"):
            # `path` may hold rows this write did not write: count the
            # re-read output (counting the lazy df would recompute the
            # whole algorithm a second time)
            df.write.mode(mode).format(fmt).save(path)
            rows = df.sparkSession.read.format(fmt).load(path).count()
        else:
            # `path` holds exactly the written rows: count them on the
            # write job itself, not by re-reading the output (more jobs)
            obs = Observation()
            counted = df.observe(obs, F.count(F.lit(1)).alias("n"))
            counted.write.mode(mode).format(fmt).save(path)
            rows = obs.get["n"]
        return {"path": path, "rows": rows, **meta}

    # -- estimation -------------------------------------------------------
    def estimate(self, **cfg) -> dict[str, Any]:
        """Pre-flight memory estimate (Pregel.memoryEstimation analog,
        Pregel.java:81-98): a per-algorithm estimation TREE from
        graph_data_science_spark.estimation — named components
        (state DataFrame, superstep messages, cached edge layout, …)
        sized against (nodeCount, relationshipCount), like the
        reference's MemoryEstimations builder; unknown procs fall
        back to the generic Pregel shape."""
        from graph_data_science_spark import estimation

        n = self.graph.node_count()
        m = self.graph.edge_count()
        extras = self.estimate_extras() if self.estimate_extras else {}
        tree = estimation.estimate(self.algo, n, m, **{**extras, **cfg})
        est = {
            "algorithm": self.algo,
            "node_count": n,
            "relationship_count": m,
            **extras,
            "total_bytes": tree.total,
            "tree": tree.as_dict(),
        }
        est["human"] = f"{est['total_bytes'] / (1 << 20):.1f} MiB"
        return est


class GdsEngine:
    """Session facade: `gds.<algorithm>(graph, **config) -> ProcResult`."""

    def __init__(self, spark: SparkSession):
        self.spark = spark
        self.graph = GraphCatalog()

    def _proc(self, graph, fn, value_column, algo=None, estimate_extras=None) -> ProcResult:
        # the facade method's own name IS the algorithm name
        # (gds.pagerank -> "pagerank"), so every proc gets routed to
        # its estimation tree without threading a label through all
        # ~50 call sites. The derived name is VALIDATED against the
        # estimation registry — a wrapped/renamed proc fails loudly
        # here instead of silently falling back to the generic Pregel
        # estimation shape; pass algo= explicitly from any wrapper.
        if algo is None:
            import sys

            algo = sys._getframe(1).f_code.co_name
        from graph_data_science_spark import estimation

        if algo not in estimation.known_algorithms():
            raise ValueError(
                f"_proc derived algorithm name {algo!r} has no estimation "
                "tree — pass algo= explicitly (wrappers and renames do not "
                "inherit the facade method name), or register the proc in "
                "estimation._REGISTRY"
            )
        return ProcResult(
            graph=graph, _compute=fn, value_column=value_column, algo=algo,
            estimate_extras=estimate_extras,
        )

    @staticmethod
    def _min_size_filter(df: DataFrame, col: str, min_size: int | None) -> DataFrame:
        """minCommunitySize / minComponentSize post-filter
        (CommunityProcCompanion.java:71-103 `applySizeFilter`): nodes
        whose community holds fewer than min_size members are dropped
        from the result. One count per community key + one join — the
        size table is |communities| rows, broadcast-sized in practice."""
        if not min_size or min_size <= 1:
            return df
        sizes = df.groupBy(col).agg(F.count(F.lit(1)).alias("_csize"))
        return df.join(sizes, col).where(F.col("_csize") >= min_size).drop("_csize")

    @staticmethod
    def _filtered(graph: Graph, cfg: dict) -> Graph:
        """Apply the per-call nodeLabels / relationshipTypes / node-id
        filters every GDS algorithm config accepts
        (AlgoBaseConfig.java:46-57) before the algorithm runs."""
        node_labels = cfg.pop("node_labels", None)
        rel_types = cfg.pop("rel_types", None)
        node_ids = cfg.pop("node_ids", None)
        if node_labels or rel_types or node_ids is not None:
            graph = graph.subgraph(
                node_labels=node_labels, rel_types=rel_types, node_ids=node_ids
            )
        return graph

    # -- centrality -------------------------------------------------------
    def pagerank(self, graph: Graph, **cfg) -> ProcResult:
        graph = self._filtered(graph, cfg)
        from graph_data_science_spark.algorithms.pagerank import PageRankConfig, pagerank

        def run():
            res = pagerank(self.spark, graph, PageRankConfig(**cfg))
            return res.state, {
                "ran_iterations": res.ran_iterations,
                "did_converge": res.did_converge,
            }

        return self._proc(graph, run, "score")

    def article_rank(self, graph: Graph, **cfg) -> ProcResult:
        graph = self._filtered(graph, cfg)
        from graph_data_science_spark.algorithms.pagerank import (
            PageRankConfig,
            article_rank,
        )

        def run():
            res = article_rank(self.spark, graph, PageRankConfig(**cfg))
            return res.state, {
                "ran_iterations": res.ran_iterations,
                "did_converge": res.did_converge,
            }

        return self._proc(graph, run, "score")

    def eigenvector(self, graph: Graph, **cfg) -> ProcResult:
        graph = self._filtered(graph, cfg)
        from graph_data_science_spark.algorithms.pagerank import (
            PageRankConfig,
            eigenvector,
        )

        def run():
            res = eigenvector(self.spark, graph, PageRankConfig(**cfg))
            return res.state, {
                "ran_iterations": res.ran_iterations,
                "did_converge": res.did_converge,
            }

        return self._proc(graph, run, "score")

    def degree_centrality(self, graph: Graph, **cfg) -> ProcResult:
        graph = self._filtered(graph, cfg)
        from graph_data_science_spark.algorithms.degree import degree_centrality

        return self._proc(
            graph, lambda: (degree_centrality(self.spark, graph, **cfg), {}), "score"
        )

    def closeness_centrality(self, graph: Graph, **cfg) -> ProcResult:
        graph = self._filtered(graph, cfg)
        from graph_data_science_spark.algorithms.msbfs import closeness_centrality

        return self._proc(
            graph,
            lambda: (closeness_centrality(self.spark, graph, **cfg), {}),
            "centrality",
        )

    def harmonic_centrality(self, graph: Graph, **cfg) -> ProcResult:
        graph = self._filtered(graph, cfg)
        from graph_data_science_spark.algorithms.msbfs import harmonic_centrality

        return self._proc(
            graph,
            lambda: (harmonic_centrality(self.spark, graph, **cfg), {}),
            "centrality",
        )

    def all_shortest_paths(self, graph: Graph, **cfg) -> ProcResult:
        graph = self._filtered(graph, cfg)
        from graph_data_science_spark.algorithms.msbfs import all_shortest_paths

        return self._proc(
            graph,
            lambda: (all_shortest_paths(self.spark, graph, **cfg), {}),
            "distance",
        )

    def hits(self, graph: Graph, **cfg) -> ProcResult:
        graph = self._filtered(graph, cfg)
        from graph_data_science_spark.algorithms.hits import hits

        return self._proc(graph, lambda: (hits(self.spark, graph, **cfg), {}), "auth")

    def neighborhood_function(self, graph: Graph, **cfg) -> ProcResult:
        graph = self._filtered(graph, cfg)
        from graph_data_science_spark.algorithms.hyperanf import (
            neighborhood_function,
        )

        return self._proc(
            graph,
            lambda: (neighborhood_function(self.spark, graph, **cfg), {}),
            "n_pairs",
        )

    def effective_diameter(self, graph: Graph, **cfg) -> ProcResult:
        graph = self._filtered(graph, cfg)
        from graph_data_science_spark.algorithms.hyperanf import effective_diameter

        return self._proc(
            graph,
            lambda: (effective_diameter(self.spark, graph, **cfg), {}),
            "effective_diameter",
        )

    # -- community --------------------------------------------------------
    def wcc(self, graph: Graph, **cfg) -> ProcResult:
        graph = self._filtered(graph, cfg)
        min_size = cfg.pop("min_component_size", None)
        from graph_data_science_spark.algorithms.wcc import WccConfig, wcc

        def run():
            res = wcc(self.spark, graph, WccConfig(**cfg))
            return self._min_size_filter(res.state, "component", min_size), {
                "ran_iterations": res.ran_iterations,
                "did_converge": res.did_converge,
            }

        return self._proc(graph, run, "component")

    def label_propagation(self, graph: Graph, **cfg) -> ProcResult:
        graph = self._filtered(graph, cfg)
        min_size = cfg.pop("min_community_size", None)
        from graph_data_science_spark.algorithms.labelprop import (
            LabelPropagationConfig,
            label_propagation,
        )

        def run():
            res = label_propagation(
                self.spark, graph, LabelPropagationConfig(**cfg)
            )
            return self._min_size_filter(res.state, "label", min_size), {
                "ran_iterations": res.ran_iterations,
                "did_converge": res.did_converge,
            }

        return self._proc(graph, run, "label")

    def louvain(self, graph: Graph, **cfg) -> ProcResult:
        graph = self._filtered(graph, cfg)
        min_size = cfg.pop("min_community_size", None)
        from graph_data_science_spark.algorithms.louvain import LouvainConfig, louvain

        def run():
            res = louvain(self.spark, graph, LouvainConfig(**cfg))
            return self._min_size_filter(res.communities, "community", min_size), {
                "modularity": res.modularity,
                "modularities": res.modularities,
                "levels": res.levels,
            }

        return self._proc(graph, run, "community")

    def modularity_optimization(self, graph: Graph, **cfg) -> ProcResult:
        """gds.beta.modularityOptimization analog (standalone phase-1)."""
        graph = self._filtered(graph, cfg)
        from graph_data_science_spark.algorithms.modularity_opt import (
            modularity_optimization,
        )

        def run():
            res = modularity_optimization(self.spark, graph, **cfg)
            return res.communities, {
                "modularity": res.modularity,
                "ran_iterations": res.ran_iterations,
                "did_converge": res.did_converge,
            }

        return self._proc(graph, run, "community")

    def scc(self, graph: Graph, **cfg) -> ProcResult:
        graph = self._filtered(graph, cfg)
        from graph_data_science_spark.algorithms.scc import scc

        return self._proc(graph, lambda: (scc(self.spark, graph, **cfg), {}), "component")

    def k1coloring(self, graph: Graph, **cfg) -> ProcResult:
        graph = self._filtered(graph, cfg)
        from graph_data_science_spark.algorithms.k1coloring import k1coloring

        return self._proc(
            graph, lambda: (k1coloring(self.spark, graph, **cfg), {}), "color"
        )

    def triangle_count(self, graph: Graph, **cfg) -> ProcResult:
        graph = self._filtered(graph, cfg)
        from graph_data_science_spark.algorithms.triangle import triangle_count

        def run():
            res = triangle_count(self.spark, graph, **cfg)
            return res.local_counts, {"global_triangle_count": res.global_count}

        return self._proc(graph, run, "triangles")

    def local_clustering_coefficient(self, graph: Graph, **cfg) -> ProcResult:
        graph = self._filtered(graph, cfg)
        from graph_data_science_spark.algorithms.triangle import (
            local_clustering_coefficient,
        )

        return self._proc(
            graph,
            lambda: (local_clustering_coefficient(self.spark, graph, **cfg), {}),
            "coefficient",
        )

    # -- similarity / embeddings ------------------------------------------
    def node_similarity(self, graph: Graph, **cfg) -> ProcResult:
        graph = self._filtered(graph, cfg)
        from graph_data_science_spark.algorithms.similarity import (
            NodeSimilarityConfig,
            estimate_candidate_pairs,
            node_similarity,
        )

        ns_cfg = NodeSimilarityConfig(**cfg)
        return self._proc(
            graph,
            lambda: (node_similarity(self.spark, graph, ns_cfg), {}),
            "similarity",
            algo="node_similarity",
            # estimate() sizes the pair-shuffle term from the EXACT
            # co-neighbor pair count (one aggregate) — the pre-flight
            # the reference's reject-before-execution contract needs
            # for the one term that is quadratic in the data
            estimate_extras=lambda: estimate_candidate_pairs(graph, ns_cfg),
        )

    def fastrp(self, graph: Graph, **cfg) -> ProcResult:
        graph = self._filtered(graph, cfg)
        from graph_data_science_spark.algorithms.fastrp import fastrp

        return self._proc(
            graph, lambda: (fastrp(self.spark, graph, **cfg), {}), "embedding"
        )

    def betweenness(self, graph: Graph, **cfg) -> ProcResult:
        graph = self._filtered(graph, cfg)
        from graph_data_science_spark.algorithms.betweenness import betweenness

        return self._proc(
            graph, lambda: (betweenness(self.spark, graph, **cfg), {}), "score"
        )

    def sllpa(self, graph: Graph, **cfg) -> ProcResult:
        graph = self._filtered(graph, cfg)
        from graph_data_science_spark.algorithms.sllpa import sllpa

        return self._proc(
            graph, lambda: (sllpa(self.spark, graph, **cfg), {}), "community"
        )

    def conductance(self, graph: Graph, communities=None, **cfg) -> ProcResult:
        graph = self._filtered(graph, cfg)
        from graph_data_science_spark.algorithms.conductance import conductance

        return self._proc(
            graph,
            lambda: (conductance(self.spark, graph, communities, **cfg), {}),
            "conductance",
        )

    def graphsage(self, graph: Graph, **cfg) -> ProcResult:
        """gds.beta.graphSage train+stream (mean aggregator)."""
        graph = self._filtered(graph, cfg)
        from graph_data_science_spark.algorithms.graphsage import graphsage

        return self._proc(
            graph, lambda: (graphsage(self.spark, graph, **cfg), {}), "embedding"
        )

    # -- ML pipelines ------------------------------------------------------
    def node_classification_pipeline(self):
        """gds.beta.pipeline.nodeClassification factory."""
        from graph_data_science_spark.mlpipeline import NodeClassificationPipeline

        return NodeClassificationPipeline()

    def link_prediction_pipeline(self):
        """gds.beta.pipeline.linkPrediction factory."""
        from graph_data_science_spark.mlpipeline import LinkPredictionPipeline

        return LinkPredictionPipeline()

    def node_regression_pipeline(self):
        """gds.alpha.pipeline.nodeRegression factory."""
        from graph_data_science_spark.mlpipeline.pipelines import (
            NodeRegressionPipeline,
        )

        return NodeRegressionPipeline()

    # -- path / structure procs (session additions) ------------------------
    def bellman_ford(self, graph: Graph, source: int, **cfg) -> ProcResult:
        """gds.bellmanFord analog: negative weights allowed,
        reachable negative cycles flagged."""
        graph = self._filtered(graph, cfg)
        from graph_data_science_spark.algorithms.paths import bellman_ford

        return self._proc(
            graph,
            lambda: (bellman_ford(self.spark, graph, source, **cfg), {}),
            "distance",
        )

    def steiner_tree(self, graph: Graph, source: int, terminals, **cfg) -> ProcResult:
        """gds.steinerTree analog (shortest-path heuristic)."""
        graph = self._filtered(graph, cfg)
        from graph_data_science_spark.algorithms.steiner import steiner_tree

        def run():
            res = steiner_tree(self.spark, graph, source, terminals, **cfg)
            return res.edges, {
                "total_weight": res.total_weight,
                "reached_terminals": res.reached_terminals,
            }

        return self._proc(graph, run, "weight")

    def bridges(self, graph: Graph, **cfg) -> ProcResult:
        """gds.bridges analog (distributed Tarjan-Vishkin)."""
        graph = self._filtered(graph, cfg)
        from graph_data_science_spark.algorithms.biconnectivity import bridges

        return self._proc(
            graph, lambda: (bridges(self.spark, graph, **cfg), {}), "dst"
        )

    def articulation_points(self, graph: Graph, **cfg) -> ProcResult:
        """gds.articulationPoints analog."""
        graph = self._filtered(graph, cfg)
        from graph_data_science_spark.algorithms.biconnectivity import (
            articulation_points,
        )

        return self._proc(
            graph, lambda: (articulation_points(self.spark, graph, **cfg), {}), "id"
        )

    def hashgnn(self, graph: Graph, **cfg) -> ProcResult:
        """gds.hashgnn analog (binary min-hash embeddings)."""
        graph = self._filtered(graph, cfg)
        from graph_data_science_spark.algorithms.hashgnn import hashgnn_dense

        return self._proc(
            graph, lambda: (hashgnn_dense(self.spark, graph, **cfg), {}), "embedding"
        )

    def list(self, prefix: str = "") -> DataFrame:
        """`gds.list` analog (ListProc): one row per available
        procedure — name, the algorithm's docstring headline as the
        description, and the modes every proc supports. Introspected
        from the facade itself so it can never drift from reality."""
        import inspect

        rows = []
        for name, member in inspect.getmembers(type(self)):
            if name.startswith("_") or name in ("list",):
                continue
            if not callable(member):
                continue
            sig = inspect.signature(member)
            if "graph" not in sig.parameters:
                continue
            doc = (inspect.getdoc(member) or name).splitlines()[0]
            rows.append((f"gds.{name}", doc, "stream,stats,mutate,write,estimate"))
        out = self.spark.createDataFrame(
            sorted(r for r in rows if r[0].startswith(f"gds.{prefix}")),
            "name string, description string, modes string",
        )
        return out

    def list_progress(self) -> DataFrame:
        """`gds.beta.listProgress` analog (ListProgressProc): one row
        per Pregel task this session — registered at run start,
        updated per superstep, marked FINISHED/FAILED on exit."""
        from graph_data_science_spark.pregel import list_progress

        rows = [
            (
                t["task_id"], t["task"], t["status"], t["iteration"],
                t["max_iterations"], t["active"], t["elapsed_sec"],
            )
            for t in list_progress()
        ]
        return self.spark.createDataFrame(
            rows,
            "task_id long, task string, status string, iteration int, "
            "max_iterations int, active long, elapsed_sec double",
        )

    def sys_info(self) -> dict[str, Any]:
        """`gds.debug.sysInfo` analog (SysInfoProc): the execution
        environment an operator actually runs in."""
        sc = self.spark.sparkContext
        conf = self.spark.conf
        import pyspark

        def _get(key, default=None):
            try:
                return conf.get(key)
            except Exception:  # noqa: BLE001 - unset key
                return default

        return {
            "sparkVersion": pyspark.__version__,
            "master": sc.master,
            "defaultParallelism": sc.defaultParallelism,
            "shufflePartitions": _get("spark.sql.shuffle.partitions"),
            "adaptiveEnabled": _get("spark.sql.adaptive.enabled"),
            "arrowEnabled": _get(
                "spark.sql.execution.arrow.pyspark.enabled"
            ),
            "driverMemory": _get("spark.driver.memory"),
            "sessionTimeZone": _get("spark.sql.session.timeZone"),
        }

    # -- round-4 facade completion: every remaining algorithm ------------
    def katz(self, graph: Graph, **cfg) -> ProcResult:
        """gds.alpha.katz analog (attenuated path counting)."""
        graph = self._filtered(graph, cfg)
        from graph_data_science_spark.algorithms.pagerank import KatzConfig, katz

        def run():
            res = katz(self.spark, graph, KatzConfig(**cfg))
            return res.state, {
                "ran_iterations": res.ran_iterations,
                "did_converge": res.did_converge,
            }

        return self._proc(graph, run, "score")

    def leiden(self, graph: Graph, **cfg) -> ProcResult:
        """gds.leiden analog (local moving + refinement + coarsening)."""
        graph = self._filtered(graph, cfg)
        min_size = cfg.pop("min_community_size", None)
        from graph_data_science_spark.algorithms.leiden import LeidenConfig, leiden

        def run():
            res = leiden(self.spark, graph, LeidenConfig(**cfg))
            return (
                self._min_size_filter(res.communities, "community", min_size),
                {"modularity": res.modularity, "levels": res.levels},
            )

        return self._proc(graph, run, "community")

    def knn(self, graph: Graph, node_properties: str = "embedding", **cfg) -> ProcResult:
        """gds.knn analog over a node property column."""
        from graph_data_science_spark.algorithms.knn import knn

        if graph.nodes is None:
            raise ValueError("knn requires a graph with node properties")

        def run():
            return (
                knn(
                    self.spark, graph.nodes, id_col="id",
                    vec_col=node_properties, **cfg,
                ),
                {},
            )

        return self._proc(graph, run, "similarity")

    def node2vec(self, graph: Graph, **cfg) -> ProcResult:
        """gds.beta.node2vec analog (p/q walks + SGNS)."""
        graph = self._filtered(graph, cfg)
        from graph_data_science_spark.algorithms.node2vec import node2vec

        return self._proc(
            graph, lambda: (node2vec(self.spark, graph, **cfg), {}), "embedding"
        )

    def random_walks(self, graph: Graph, **cfg) -> ProcResult:
        """gds.beta.randomWalk analog: (walk_id, step, id) rows."""
        graph = self._filtered(graph, cfg)
        from graph_data_science_spark.algorithms.randomwalk import random_walks

        return self._proc(
            graph, lambda: (random_walks(self.spark, graph, **cfg), {}), "id"
        )

    def shortest_path_dijkstra(self, graph: Graph, source: int, **cfg) -> ProcResult:
        """gds.shortestPath.dijkstra (single-source) analog."""
        graph = self._filtered(graph, cfg)
        from graph_data_science_spark.algorithms.paths import sssp

        return self._proc(
            graph,
            lambda: (sssp(self.spark, graph, source, **cfg), {}),
            "distance",
        )

    def shortest_path_astar(
        self, graph: Graph, source: int, target: int, heuristic, **cfg
    ) -> ProcResult:
        """gds.shortestPath.astar analog: one (cost, path) row."""
        graph = self._filtered(graph, cfg)
        from graph_data_science_spark.algorithms.paths import astar

        def run():
            cost, path = astar(
                self.spark, graph, source, target, heuristic, **cfg
            )
            df = self.spark.createDataFrame(
                [(0, float(cost) if cost is not None else None, path)],
                "index long, cost double, path array<long>",
            )
            return df, {"found": cost is not None}

        return self._proc(graph, run, "cost")

    def shortest_path_yens(
        self, graph: Graph, source: int, target: int, k: int, **cfg
    ) -> ProcResult:
        """gds.shortestPath.yens analog: k (index, cost, path) rows."""
        graph = self._filtered(graph, cfg)
        from graph_data_science_spark.algorithms.paths import yens

        def run():
            paths = yens(self.spark, graph, source, target, k, **cfg)
            df = self.spark.createDataFrame(
                [(i, float(c), p) for i, (c, p) in enumerate(paths)] or [],
                "index long, cost double, path array<long>",
            )
            return df, {"n_paths": len(paths)}

        return self._proc(graph, run, "cost")

    def spanning_tree(self, graph: Graph, **cfg) -> ProcResult:
        """gds.spanningTree analog (Borůvka forest edges)."""
        graph = self._filtered(graph, cfg)
        from graph_data_science_spark.algorithms.spanning import spanning_forest

        return self._proc(
            graph, lambda: (spanning_forest(self.spark, graph, **cfg), {}), "weight"
        )

    def k_spanning_tree(self, graph: Graph, k: int, **cfg) -> ProcResult:
        """gds.alpha.kSpanningTree analog: (id, component)."""
        graph = self._filtered(graph, cfg)
        from graph_data_science_spark.algorithms.spanning import k_spanning_tree

        return self._proc(
            graph,
            lambda: (k_spanning_tree(self.spark, graph, k, **cfg), {}),
            "component",
        )

    def topological_sort(self, graph: Graph, **cfg) -> ProcResult:
        """gds.dag.topologicalSort analog: (id, level) rows."""
        graph = self._filtered(graph, cfg)
        from graph_data_science_spark.algorithms.toposort import topological_sort

        def run():
            res = topological_sort(self.spark, graph, **cfg)
            return res.order, {
                "n_sorted": res.n_sorted, "n_cyclic": res.n_cyclic,
                "rounds": res.rounds,
            }

        return self._proc(graph, run, "level")

    def dag_longest_path(self, graph: Graph, **cfg) -> ProcResult:
        """gds.dag.longestPath analog: (id, level, dist) rows."""
        graph = self._filtered(graph, cfg)
        from graph_data_science_spark.algorithms.toposort import longest_path

        def run():
            res = longest_path(self.spark, graph, **cfg)
            return res.order, {
                "n_sorted": res.n_sorted, "n_cyclic": res.n_cyclic,
            }

        return self._proc(graph, run, "dist")

    def influence_maximization_celf(self, graph: Graph, **cfg) -> ProcResult:
        """gds.beta.influenceMaximization.celf analog: (id, spread)."""
        graph = self._filtered(graph, cfg)
        from graph_data_science_spark.algorithms.celf import celf

        def run():
            seeds = celf(self.spark, graph, **cfg)
            df = self.spark.createDataFrame(
                [(int(n), float(s)) for n, s in seeds] or [],
                "id long, spread double",
            )
            return df, {"n_seeds": len(seeds)}

        return self._proc(graph, run, "spread")

    def influence_maximization_greedy(self, graph: Graph, **cfg) -> ProcResult:
        """gds.alpha.influenceMaximization.greedy analog."""
        graph = self._filtered(graph, cfg)
        from graph_data_science_spark.algorithms.celf import greedy

        def run():
            seeds = greedy(self.spark, graph, **cfg)
            df = self.spark.createDataFrame(
                [(int(n), float(s)) for n, s in seeds] or [],
                "id long, spread double",
            )
            return df, {"n_seeds": len(seeds)}

        return self._proc(graph, run, "spread")

    def max_k_cut(self, graph: Graph, **cfg) -> ProcResult:
        """gds.alpha.maxkcut analog: (id, community)."""
        graph = self._filtered(graph, cfg)
        from graph_data_science_spark.algorithms.maxkcut import approx_max_k_cut

        def run():
            res = approx_max_k_cut(self.spark, graph, **cfg)
            return res.assignments, {"cut_weight": res.cut_weight}

        return self._proc(graph, run, "community")

    def hdbscan(self, graph: Graph, epsilon: float | None = None, **cfg) -> ProcResult:
        """gds.hdbscan analog over a node embedding property;
        mode="stability" (no epsilon) is the GDS 2.5 condensed-tree
        stability cut, mode="epsilon" the DBSCAN* level cut."""
        from graph_data_science_spark.algorithms.hdbscan import hdbscan

        if graph.nodes is None:
            raise ValueError("hdbscan requires a graph with node properties")

        def run():
            res = hdbscan(self.spark, graph.nodes, epsilon, **cfg)
            return res.clusters, {"n_clusters": res.n_clusters}

        return self._proc(graph, run, "cluster")

    def bfs(self, graph: Graph, source: int, **cfg) -> ProcResult:
        """gds.bfs analog: (id, visit_order)."""
        graph = self._filtered(graph, cfg)
        from graph_data_science_spark.algorithms.traverse import bfs

        return self._proc(
            graph,
            lambda: (bfs(self.spark, graph, source, **cfg), {}),
            "visit_order",
        )

    def dfs(self, graph: Graph, source: int, **cfg) -> ProcResult:
        """gds.dfs analog: (id, visit_order)."""
        graph = self._filtered(graph, cfg)
        from graph_data_science_spark.algorithms.traverse import dfs

        return self._proc(
            graph,
            lambda: (dfs(self.spark, graph, source, **cfg), {}),
            "visit_order",
        )

    def graph_sample_rwr(self, graph: Graph, **cfg) -> ProcResult:
        """gds.alpha.graph.sample.rwr analog: sampled edge rows."""
        graph = self._filtered(graph, cfg)
        from graph_data_science_spark.algorithms.graphsample import sample_rwr

        def run():
            res = sample_rwr(self.spark, graph, **cfg)
            return res.graph.edges, {
                "n_nodes": res.n_nodes, "n_edges": res.n_edges,
            }

        return self._proc(graph, run, "dst")

    def graph_sample_cnarw(self, graph: Graph, **cfg) -> ProcResult:
        """gds.graph.sample.cnarw analog: sampled edge rows."""
        graph = self._filtered(graph, cfg)
        from graph_data_science_spark.algorithms.graphsample import sample_cnarw

        def run():
            res = sample_cnarw(self.spark, graph, **cfg)
            return res.graph.edges, {
                "n_nodes": res.n_nodes, "n_edges": res.n_edges,
            }

        return self._proc(graph, run, "dst")
