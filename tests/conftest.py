import pytest
from pyspark.sql import SparkSession

from graph_data_science_spark.catalog import GraphCatalog


@pytest.fixture(scope="session")
def spark() -> SparkSession:
    spark = (
        SparkSession.builder.master("local[4]")
        .appName("gds-spark-tests")
        .config("spark.sql.shuffle.partitions", "4")
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.ui.enabled", "false")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .getOrCreate()
    )
    spark.sparkContext.setLogLevel("ERROR")
    yield spark
    spark.stop()


@pytest.fixture()
def catalog() -> GraphCatalog:
    return GraphCatalog()


def persistent_rdd_ids(spark) -> set:
    """Ids of the RDDs holding block storage (caches and local
    checkpoints) — to check that a call releases its working caches."""
    return set(spark.sparkContext._jsc.getPersistentRDDs().keySet())


def edge_df(spark, pairs, weights=None):
    """Small literal edge table from (src, dst) int pairs."""
    if weights is None:
        rows = [(int(s), int(d), "REL", 1.0) for s, d in pairs]
    else:
        rows = [
            (int(s), int(d), "REL", float(w)) for (s, d), w in zip(pairs, weights)
        ]
    return spark.createDataFrame(rows, "src long, dst long, rel_type string, weight double")


# ---- golden fixtures (FIXTURES.md, transcribed from the reference tests) ----

#: PageRank Wikipedia graph — PageRankTest.java:72-109, nodes a..k -> 0..10
PAGERANK_EDGES = [
    (1, 2), (2, 1), (3, 0), (3, 1), (4, 1), (4, 3), (4, 5), (5, 1), (5, 4),
    (6, 1), (6, 4), (7, 1), (7, 4), (8, 1), (8, 4), (9, 4), (10, 4),
]
PAGERANK_EXPECTED = {
    0: 0.3040965, 1: 3.5604297, 2: 3.1757906, 3: 0.3625935, 4: 0.7503465,
    5: 0.3625935, 6: 0.15, 7: 0.15, 8: 0.15, 9: 0.15, 10: 0.15,
}

#: WCC 4x3-line fixture — WccTest.java:121-133, nodes a..l -> 0..11
WCC_EDGES = [(0, 1), (2, 1), (3, 4), (5, 4), (6, 7), (8, 7), (9, 10), (11, 10)]
WCC_EXPECTED = {0: 0, 1: 0, 2: 0, 3: 3, 4: 3, 5: 3, 6: 6, 7: 6, 8: 6, 9: 9, 10: 9, 11: 9}

#: Label propagation FOLLOW fixture — LabelPropagationTest.java:65-109
#: alice 0, bridget 1, charles 2, doug 3, mark 4, michael 5
LP_EDGES = [
    (0, 1), (0, 2), (4, 3), (1, 5), (3, 4),
    (5, 0), (0, 5), (1, 0), (5, 1), (2, 3),
]
LP_SEEDS = {0: 2, 1: 3, 2: 4, 3: 3, 4: 4, 5: 2}
# converged partition: {alice, bridget, michael} and {charles, doug, mark}
LP_PARTITION = [{0, 1, 5}, {2, 3, 4}]
