"""Triangle counting + local clustering coefficient.

Semantics replicated from /root/reference/algo/src/main/java/org/
neo4j/gds/triangle/: UNDIRECTED input required
(TriangleCountCompanion.java:58); each triangle counted exactly once
under vertex ordering a < b < c (IntersectingTriangleCount.java:
172-180); vertices with degree > maxDegree are EXCLUDED — their
local count is -1 and no triangle through them is counted
(IntersectingTriangleCount.java:162-166, the reference's skew guard).

Spark plan — the ordered-intersection cursor loop
(GraphIntersect.java:52-152) becomes a relational intersection join
over canonical (src < dst) simple edges:

    wedges   = E(a,b) ⋈ E(b,c) ON b        (a<b<c by construction)
    triangles = wedges ⋈ E ON (a,c)         (closing edge lookup)

Skew note (100 TB story): wedge generation fans out quadratically on
hub degree. The reference's answer is maxDegree exclusion; ours is
the same plus DEGREE ORDERING — orienting each edge from its
lower-(degree,id) endpoint to the higher one before the wedge join
caps per-vertex fan-out at O(sqrt(m)) wedge pairs (the classic
compact-forward bound), while leaving triangle identity unchanged.
Degree ordering changes only which corner *generates* a wedge, not
the set of triangles, so per-node counts are recovered by exploding
all three corners of each found triangle.

Local clustering coefficient (LocalClusteringCoefficient.java:123-135):
C(v) = 2*t(v) / (d(v)*(d(v)-1)), 0 when degree < 2, NaN for excluded.
"""

from __future__ import annotations

from dataclasses import dataclass

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from graph_data_science_spark import projection
from graph_data_science_spark.catalog import Graph


@dataclass
class TriangleCountResult:
    global_count: int
    local_counts: DataFrame  # (id, triangles) — -1 for excluded vertices
    triangles: DataFrame  # (a, b, c) with a < b < c


def _simple_edges(graph: Graph) -> DataFrame:
    """Canonical src<dst deduplicated undirected edge set."""
    return projection.canonical_undirected(graph.edges)


def _simple_degrees(edges: DataFrame) -> DataFrame:
    """(id, degree): undirected simple degree over `_simple_edges`."""
    return (
        edges.select(F.col("src").alias("id"))
        .unionByName(edges.select(F.col("dst").alias("id")))
        .groupBy("id")
        .agg(F.count(F.lit(1)).alias("degree"))
    )


def triangle_count(
    spark: SparkSession,
    graph: Graph,
    max_degree: int | None = None,
) -> TriangleCountResult:
    edges = _simple_edges(graph).persist()
    deg = fwd = None
    try:
        deg = _simple_degrees(edges).persist()

        excluded = None
        kept = edges
        if max_degree is not None:
            excluded = deg.where(F.col("degree") > max_degree).select("id")
            kept = (
                edges.join(excluded.withColumnRenamed("id", "src"), "src", "left_anti")
                .join(excluded.withColumnRenamed("id", "dst"), "dst", "left_anti")
                .select("src", "dst")
            )

        # orient each edge low-(degree,id) -> high-(degree,id):
        # wedge fan-out per vertex bounded by its forward degree
        d1 = deg.select(F.col("id").alias("src"), F.col("degree").alias("_ds"))
        d2 = deg.select(F.col("id").alias("dst"), F.col("degree").alias("_dd"))
        src_low = (F.col("_ds") < F.col("_dd")) | (
            (F.col("_ds") == F.col("_dd")) & (F.col("src") < F.col("dst"))
        )
        fwd = (
            kept.join(d1, "src")
            .join(d2, "dst")
            .select(
                F.when(src_low, F.col("src")).otherwise(F.col("dst")).alias("u"),
                F.when(src_low, F.col("dst")).otherwise(F.col("src")).alias("v"),
            )
            .persist()
        )
        e1 = fwd.select(F.col("u").alias("a"), F.col("v").alias("b"))
        e2 = fwd.select(F.col("u").alias("b2"), F.col("v").alias("c"))
        # wedges centered at the forward-orientation source: a->b, a->c
        # (join on shared source, order the two targets to dedupe)
        wedges = (
            e1.join(e2, e1.a == e2.b2)
            .where(F.col("b") < F.col("c"))
            .select("a", "b", "c")
        )
        # closing edge b~c may be stored in either forward direction;
        # compare in canonical id order (wedge targets already have b<c)
        closing = fwd.select(
            F.least("u", "v").alias("cb"), F.greatest("u", "v").alias("cc")
        )
        tris = wedges.join(
            closing,
            (wedges.b == closing.cb) & (wedges.c == closing.cc),
            "left_semi",
        )
        # canonicalize corners to a<b<c for output parity
        tris = tris.select(
            F.least("a", F.least("b", "c")).alias("x"),
            F.expr("greatest(least(a,b), least(greatest(a,b),c))").alias("y"),
            F.greatest("a", F.greatest("b", "c")).alias("z"),
        ).select(F.col("x").alias("a"), F.col("y").alias("b"), F.col("z").alias("c"))
        tris = tris.persist()

        global_count = tris.count()

        corners = (
            tris.select(F.col("a").alias("id"))
            .unionByName(tris.select(F.col("b").alias("id")))
            .unionByName(tris.select(F.col("c").alias("id")))
        )
        per_node = corners.groupBy("id").agg(F.count(F.lit(1)).alias("triangles"))
        verts = graph.vertices()
        local = verts.join(per_node, "id", "left").select(
            "id", F.coalesce(F.col("triangles"), F.lit(0)).alias("triangles")
        )
        if excluded is not None:
            local = local.join(
                excluded.withColumn("_ex", F.lit(True)), "id", "left"
            ).select(
                "id",
                F.when(F.col("_ex"), F.lit(-1))
                .otherwise(F.col("triangles"))
                .alias("triangles"),
            )
        return TriangleCountResult(
            global_count=global_count, local_counts=local, triangles=tris
        )
    finally:
        # only the returned `tris` stays cached; `excluded` and the
        # lazy local counts recompute from the graph if read again
        for df in (edges, deg, fwd):
            if df is not None:
                df.unpersist()


def triangles(
    spark: SparkSession,
    graph: Graph,
    max_degree: int | None = None,
) -> DataFrame:
    """(node_a, node_b, node_c) with a < b < c — every triangle once.

    The gds.alpha.triangles stream (/root/reference/alpha/alpha-proc/
    src/main/java/org/neo4j/gds/triangle/TriangleProc.java:34-52):
    unlike triangle_count this MATERIALIZES each triangle, so the
    output itself is O(#triangles) — inherent to the proc, alpha-tier
    in the reference too. Enumeration is the canonical-order triple
    join on the deduplicated undirected edge set: (a,b) ⋈ (a,c) ⋈
    (b,c) with a < b < c, so each triangle matches exactly one way.
    ``max_degree`` excludes hub vertices before the join (the
    TriangleCountBaseConfig guard) — on power-law graphs the a-keyed
    wedge fan-out is deg(a)^2, and capping it is the standard
    mitigation.
    """
    edges = _simple_edges(graph)
    if max_degree is not None:
        deg = _simple_degrees(edges)
        hot = deg.where(F.col("degree") > max_degree).select("id")
        edges = edges.join(
            hot.withColumnRenamed("id", "src"), "src", "left_anti"
        ).join(hot.withColumnRenamed("id", "dst"), "dst", "left_anti")
    ab = edges.select(F.col("src").alias("node_a"), F.col("dst").alias("node_b"))
    ac = edges.select(F.col("src").alias("node_a"), F.col("dst").alias("node_c"))
    bc = edges.select(F.col("src").alias("node_b"), F.col("dst").alias("node_c"))
    return (
        ab.join(ac, "node_a")
        .where(F.col("node_b") < F.col("node_c"))
        .join(bc, ["node_b", "node_c"])
        .select("node_a", "node_b", "node_c")
    )


def local_clustering_coefficient(
    spark: SparkSession,
    graph: Graph,
    max_degree: int | None = None,
    triangle_result: TriangleCountResult | None = None,
) -> DataFrame:
    """(id, coefficient) — LocalClusteringCoefficient.java:123-135.

    Can seed from a precomputed triangle result (the reference's
    seed-from-property path, LocalClusteringCoefficient.java:119-121).
    """
    tr = triangle_result or triangle_count(spark, graph, max_degree=max_degree)
    edges = _simple_edges(graph)
    deg = _simple_degrees(edges)
    joined = tr.local_counts.join(deg, "id", "left").select(
        "id",
        F.col("triangles"),
        F.coalesce(F.col("degree"), F.lit(0)).alias("degree"),
    )
    return joined.select(
        "id",
        F.when(F.col("triangles") < 0, F.lit(float("nan")))
        .when(F.col("degree") < 2, F.lit(0.0))
        .otherwise(
            2.0 * F.col("triangles") / (F.col("degree") * (F.col("degree") - 1))
        )
        .alias("coefficient"),
    )
