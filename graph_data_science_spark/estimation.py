"""Per-algorithm memory-estimation trees — the pre-flight "reject
before execution" contract of the reference's memory-usage module.

Mirrors `Pregel.memoryEstimation` (/root/reference/pregel/src/main/
java/org/neo4j/gds/beta/pregel/Pregel.java:81-98): an estimation is
a named TREE of components, each either per-node, per-relationship,
or fixed, evaluated against a graph's (nodeCount, relationshipCount)
dimensions — `MemoryEstimations.builder(...).perNode(...).add(...)`
re-expressed as plain Python.  The numbers model the Spark
realization, not the JVM one: "state" is the vertex-state DataFrame
a superstep materializes (localCheckpoint blocks), "messages" the
shuffle rows of one superstep, "edge layout" the cached per-graph
edge table (algorithms.pagerank's cached layout), all as resident
bytes across the cluster at the peak superstep.

Per-row constants are Tungsten UnsafeRow footprints (8-byte words +
null bitmap, long/double = 8 bytes each), so an estimate is
`rows x row_width + layout overhead` — the same shape as the
reference's HugeArray sizing, with DataFrame rows instead of paged
arrays.  Estimates are deliberately conservative upper bounds on the
steady-state working set; transient shuffle spill is bounded by the
message term.
"""

from __future__ import annotations

from dataclasses import dataclass, field


# Tungsten UnsafeRow: 8-byte null bitset word + 8 bytes per fixed
# field; block-manager bookkeeping folded into a 16-byte row overhead
ROW_OVERHEAD = 16
WORD = 8


def _row(n_fields: int) -> int:
    return ROW_OVERHEAD + WORD * n_fields


@dataclass
class MemoryEstimation:
    """A node of the estimation tree (MemoryEstimations analog)."""

    name: str
    bytes: int = 0
    children: list["MemoryEstimation"] = field(default_factory=list)

    @property
    def total(self) -> int:
        return self.bytes + sum(c.total for c in self.children)

    def render(self, indent: int = 0) -> str:
        pad = "  " * indent
        lines = [f"{pad}{self.name}: {_human(self.total)}"]
        for c in self.children:
            lines.append(c.render(indent + 1))
        return "\n".join(lines)

    def as_dict(self) -> dict:
        return {
            "name": self.name,
            "bytes": self.total,
            "human": _human(self.total),
            "components": [c.as_dict() for c in self.children],
        }


def _human(b: float) -> str:
    return f"{b / (1 << 20):.1f} MiB"


def _pregel_tree(
    name: str,
    n: int,
    m: int,
    state_fields: int,
    message_fields: int = 2,
    extra: list[MemoryEstimation] | None = None,
) -> MemoryEstimation:
    """The Pregel.memoryEstimation shape: vote bits + node value
    columns + message rows + the cached edge layout every superstep
    joins against."""
    children = [
        MemoryEstimation("vote bits", n // 8 + WORD),
        MemoryEstimation("node value (state DataFrame)", n * _row(state_fields)),
        MemoryEstimation("messages (superstep shuffle)", m * _row(message_fields)),
        MemoryEstimation("edge layout (cached)", m * _row(3)),
    ]
    if extra:
        children.extend(extra)
    return MemoryEstimation(name, 0, children)


# -- per-algorithm trees --------------------------------------------------
# signatures: (n, m, **cfg) -> MemoryEstimation


def pagerank(n: int, m: int, **cfg) -> MemoryEstimation:
    # state: id, score, delta; messages: (dst, contribution)
    return _pregel_tree("pagerank", n, m, state_fields=3)


def article_rank(n: int, m: int, **cfg) -> MemoryEstimation:
    return _pregel_tree("article_rank", n, m, state_fields=3)


def eigenvector(n: int, m: int, **cfg) -> MemoryEstimation:
    return _pregel_tree("eigenvector", n, m, state_fields=3)


def katz(n: int, m: int, **cfg) -> MemoryEstimation:
    return _pregel_tree("katz", n, m, state_fields=3)


def wcc(n: int, m: int, **cfg) -> MemoryEstimation:
    # state: id, component, changed; min-label messages both ways
    return _pregel_tree(
        "wcc", n, 2 * m, state_fields=3,
        extra=[MemoryEstimation("label-of-label shortcut table", n * _row(2))],
    )


def label_propagation(n: int, m: int, **cfg) -> MemoryEstimation:
    # undirected: messages flow along both arc directions; the
    # per-neighborhood label-weight agg is bounded by the message set
    return _pregel_tree("label_propagation", n, 2 * m, state_fields=2)


def triangle_count(n: int, m: int, **cfg) -> MemoryEstimation:
    # ordered adjacency (lower->higher) + per-edge intersection rows;
    # intersection working set bounded by sum(min deg) <= m * avg_deg
    # is capped here by the square-root bound m^1.5 spread over
    # partitions — reported as the shuffle term
    inter = int(min(m * _row(2) * 8, (m ** 1.5) * _row(2) // max(1, n) + m * _row(2)))
    return MemoryEstimation("triangle_count", 0, [
        MemoryEstimation("oriented adjacency", m * _row(2)),
        MemoryEstimation("wedge/intersection shuffle", inter),
        MemoryEstimation("per-node counters", n * _row(2)),
    ])


def local_clustering_coefficient(n: int, m: int, **cfg) -> MemoryEstimation:
    t = triangle_count(n, m)
    t.name = "local_clustering_coefficient"
    t.children.append(MemoryEstimation("degree table", n * _row(2)))
    return t


def degree_centrality(n: int, m: int, **cfg) -> MemoryEstimation:
    return MemoryEstimation("degree_centrality", 0, [
        MemoryEstimation("edge scan (no cache)", 0),
        MemoryEstimation("per-node aggregate", n * _row(2)),
    ])


def node_similarity(n: int, m: int, **cfg) -> MemoryEstimation:
    top_k = int(cfg.get("top_k", 10))
    # the pair-shuffle term is quadratic in the DATA (sum over shared
    # targets of indeg^2), not in |E| — when the caller supplies the
    # exact count (algorithms.similarity.estimate_candidate_pairs, one
    # aggregate over the edge table), size the term exactly; otherwise
    # fall back to the 4x|E| heuristic of a hub-free graph
    pairs = cfg.get("candidate_pairs")
    if pairs is None:
        pair_label = "pair shuffle (co-neighbor join, hub-free heuristic)"
        pair_bytes = m * _row(3) * 4
    else:
        pair_label = "pair shuffle (exact co-neighbor count)"
        pair_bytes = int(pairs) * _row(3)
    return MemoryEstimation("node_similarity", 0, [
        MemoryEstimation("neighbor table (cached)", m * _row(2)),
        MemoryEstimation(pair_label, pair_bytes),
        MemoryEstimation("top-k result", n * top_k * _row(3)),
    ])


def betweenness(n: int, m: int, **cfg) -> MemoryEstimation:
    s = int(cfg.get("sampling_size") or min(n, 10_000))
    # forward levels hold (source, id, dist, sigma) rows; the visited
    # set is the dominant term: sources x reachable nodes
    return MemoryEstimation("betweenness", 0, [
        MemoryEstimation("visited set", s * n * _row(2) // max(1, n // 64)),
        MemoryEstimation("frontier levels", s * n * _row(4) // max(1, n // 64)),
        MemoryEstimation("edge layout (cached)", m * _row(2)),
        MemoryEstimation("delta accumulators", n * _row(2)),
    ])


def louvain(n: int, m: int, **cfg) -> MemoryEstimation:
    return MemoryEstimation("louvain", 0, [
        MemoryEstimation("undirected weighted edges", 2 * m * _row(3)),
        MemoryEstimation("community state", n * _row(3)),
        MemoryEstimation("move-gain shuffle", 2 * m * _row(3)),
        MemoryEstimation("coarse levels (geometric tail)", 2 * m * _row(3)),
    ])


def leiden(n: int, m: int, **cfg) -> MemoryEstimation:
    t = louvain(n, m)
    t.name = "leiden"
    t.children.append(MemoryEstimation("refinement sub state", n * _row(4)))
    return t


def knn(n: int, m: int, **cfg) -> MemoryEstimation:
    top_k = int(cfg.get("top_k", 10))
    return MemoryEstimation("knn", 0, [
        MemoryEstimation("current top-k table", n * top_k * _row(4)),
        MemoryEstimation("descent candidate shuffle", n * top_k * top_k * _row(3)),
        MemoryEstimation("property vectors", n * _row(2 + 8)),
    ])


def sssp(n: int, m: int, **cfg) -> MemoryEstimation:
    return _pregel_tree("sssp", n, m, state_fields=3)


def bfs(n: int, m: int, **cfg) -> MemoryEstimation:
    return _pregel_tree("bfs", n, m, state_fields=2)


def hits(n: int, m: int, **cfg) -> MemoryEstimation:
    return _pregel_tree("hits", n, 2 * m, state_fields=3)


def scc(n: int, m: int, **cfg) -> MemoryEstimation:
    # FW-BW: forward + backward reachability frontiers per pivot batch
    return _pregel_tree(
        "scc", n, 2 * m, state_fields=4,
        extra=[MemoryEstimation("pivot reachability sets", 2 * n * _row(2))],
    )


def fastrp(n: int, m: int, **cfg) -> MemoryEstimation:
    dim = int(cfg.get("embedding_dimension", cfg.get("dim", 128)))
    per_vec = ROW_OVERHEAD + dim * 4  # float arrays
    return MemoryEstimation("fastrp", 0, [
        MemoryEstimation("embedding state (2 generations)", 2 * n * per_vec),
        MemoryEstimation("neighbor-mean shuffle", m * per_vec),
        MemoryEstimation("edge layout (cached)", m * _row(3)),
    ])


_GENERIC_STATE_FIELDS = 4

_REGISTRY = {
    fn.__name__: fn
    for fn in (
        pagerank, article_rank, eigenvector, katz, wcc, label_propagation,
        triangle_count, local_clustering_coefficient, degree_centrality,
        node_similarity, betweenness, louvain, leiden, knn, sssp, bfs,
        hits, scc, fastrp,
    )
}
def hdbscan(n: int, m: int, **cfg) -> MemoryEstimation:
    k = int(cfg.get("k", 5))
    return MemoryEstimation("hdbscan", 0, [
        MemoryEstimation("kNN / candidate pairs", n * k * _row(3)),
        MemoryEstimation("mutual-reachability edges", n * k * _row(3)),
        MemoryEstimation("component state (wcc)", n * _row(3)),
    ])


def biconnectivity(n: int, m: int, **cfg) -> MemoryEstimation:
    import math as _math

    levels = max(1, int(_math.ceil(_math.log2(max(2, n)))))
    return MemoryEstimation("biconnectivity", 0, [
        MemoryEstimation("euler arcs (2 per tree edge)", 2 * n * _row(5)),
        MemoryEstimation("dyadic interval tables", n * levels * _row(3)),
        MemoryEstimation("ancestor lifting levels", n * levels * _row(4)),
        MemoryEstimation("aux-graph wcc state", n * _row(3)),
    ])


def steiner_tree(n: int, m: int, **cfg) -> MemoryEstimation:
    t = sssp(n, m)
    t.name = "steiner_tree"
    t.children.append(MemoryEstimation("backtrack frontier + tree edges", n * _row(3)))
    return t


def hashgnn(n: int, m: int, **cfg) -> MemoryEstimation:
    dim = int(cfg.get("embedding_density", cfg.get("dim", 64)))
    per_vec = ROW_OVERHEAD + dim * WORD
    return MemoryEstimation("hashgnn", 0, [
        MemoryEstimation("binary embedding state (2 generations)", 2 * n * per_vec),
        MemoryEstimation("neighbor min-hash shuffle", m * per_vec),
    ])


def msbfs(n: int, m: int, **cfg) -> MemoryEstimation:
    """Multi-source BFS family (closeness/harmonic/all-shortest-paths):
    the frontier carries (source, node) rows — bounded by the source
    batch x reachable set, batched to bound the peak superstep."""
    batch = int(cfg.get("source_batch", 64))
    return MemoryEstimation("msbfs", 0, [
        MemoryEstimation("visited (source x node) set", batch * n * _row(2)),
        MemoryEstimation("frontier messages", batch * m * _row(2) // max(1, n // 64)),
        MemoryEstimation("per-node distance sums", n * _row(3)),
    ])


def hyperanf(n: int, m: int, **cfg) -> MemoryEstimation:
    """HyperANF (neighborhood function / effective diameter): one
    HyperLogLog register set per node, two generations, plus the
    register-merge shuffle."""
    p = int(cfg.get("log2m", 10))
    regs = ROW_OVERHEAD + (1 << p)
    return MemoryEstimation("hyperanf", 0, [
        MemoryEstimation("HLL register state (2 generations)", 2 * n * regs),
        MemoryEstimation("register-merge shuffle", m * regs),
    ])


def modularity_optimization(n: int, m: int, **cfg) -> MemoryEstimation:
    return MemoryEstimation("modularity_optimization", 0, [
        MemoryEstimation("undirected weighted edges", 2 * m * _row(3)),
        MemoryEstimation("community state", n * _row(3)),
        MemoryEstimation("move-gain shuffle", 2 * m * _row(3)),
    ])


def k1coloring(n: int, m: int, **cfg) -> MemoryEstimation:
    return _pregel_tree("k1coloring", n, 2 * m, state_fields=3)


def sllpa(n: int, m: int, **cfg) -> MemoryEstimation:
    k = int(cfg.get("max_communities", 5))
    return _pregel_tree(
        "sllpa", n, 2 * m, state_fields=2,
        extra=[MemoryEstimation("per-node community memory", n * k * _row(2))],
    )


def conductance(n: int, m: int, **cfg) -> MemoryEstimation:
    return MemoryEstimation("conductance", 0, [
        MemoryEstimation("edge scan + boundary flags", 0),
        MemoryEstimation("per-community aggregate", n * _row(3)),
    ])


def random_walks(n: int, m: int, **cfg) -> MemoryEstimation:
    walks = int(cfg.get("walks_per_node", 10))
    length = int(cfg.get("walk_length", 80))
    return MemoryEstimation("random_walks", 0, [
        MemoryEstimation("active walk state", n * walks * _row(4)),
        MemoryEstimation("step join messages", n * walks * _row(3)),
        MemoryEstimation("materialized walks", n * walks * (ROW_OVERHEAD + length * WORD)),
    ])


def spanning(n: int, m: int, **cfg) -> MemoryEstimation:
    t = sssp(n, m)
    t.name = "spanning_tree"
    t.children.append(MemoryEstimation("tree edges + component state", n * _row(3)))
    return t


def influence_maximization(n: int, m: int, **cfg) -> MemoryEstimation:
    mc = int(cfg.get("monte_carlo_simulations", 100))
    return MemoryEstimation("influence_maximization", 0, [
        MemoryEstimation("simulation reachability sketches", n * _row(2 + mc // 64)),
        MemoryEstimation("spread frontier", m * _row(2) // max(1, n // 64)),
        MemoryEstimation("marginal-gain heap (driver)", n * _row(2) // 64),
    ])


_REGISTRY.update({fn.__name__: fn for fn in (
    hdbscan, biconnectivity, steiner_tree, hashgnn, msbfs, hyperanf,
    modularity_optimization, k1coloring, sllpa, conductance, random_walks,
    influence_maximization,
)})

# facade-name aliases (GdsEngine._proc routes by method name; every
# facade proc MUST resolve here — engine._proc rejects unknown names
# so a renamed/wrapped proc fails loudly instead of silently routing
# to the generic Pregel shape. tests/test_engine.py enumerates
# gds.list() against this registry.)
_REGISTRY.update(
    {
        "shortest_path_dijkstra": sssp,
        "shortest_path_astar": sssp,
        "shortest_path_yens": sssp,
        "bellman_ford": sssp,
        "dfs": bfs,
        "graphsage": fastrp,
        "node2vec": fastrp,
        "bridges": biconnectivity,
        "articulation_points": biconnectivity,
        "closeness_centrality": msbfs,
        "harmonic_centrality": msbfs,
        "all_shortest_paths": msbfs,
        "neighborhood_function": hyperanf,
        "effective_diameter": hyperanf,
        "max_k_cut": label_propagation,
        "spanning_tree": spanning,
        "k_spanning_tree": spanning,
        "topological_sort": bfs,
        "dag_longest_path": sssp,
        "influence_maximization_celf": influence_maximization,
        "influence_maximization_greedy": influence_maximization,
        "graph_sample_rwr": random_walks,
        "graph_sample_cnarw": random_walks,
    }
)


def estimate(algo: str, n: int, m: int, **cfg) -> MemoryEstimation:
    """Estimation tree for `algo`; unknown algorithms fall back to
    the generic Pregel shape (the reference's default for computation
    classes without a bespoke estimation)."""
    fn = _REGISTRY.get(algo)
    if fn is not None:
        return fn(n, m, **cfg)
    return _pregel_tree(algo, n, m, state_fields=_GENERIC_STATE_FIELDS)


def known_algorithms() -> list[str]:
    return sorted(_REGISTRY)
