"""SparkSession factory tuned for the link-graph engine.

Local-mode defaults mirror what a cluster deployment would set per
executor: AQE on (runtime skew-join + partition coalescing), shuffle
partitions sized to cores (not the 200 default), Arrow transport for
every pandas UDF kernel, UTC session timezone so results compare
bit-for-bit against external oracles. The Pregel superstep loop
(``PregelRunner.run``) turns AQE and auto-broadcast off for its own
span, overriding these defaults, and restores them on exit.
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession


def get_spark(
    app_name: str = "graph_data_science_spark",
    master: str | None = None,
    shuffle_partitions: int | None = None,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    """Build (or reuse) a SparkSession with engine defaults.

    ``master`` defaults to ``local[$SPARK_GRAFT_CPUS]`` (or local[*]).
    On a real cluster this function is a no-op passthrough: submit via
    ``spark-submit --py-files gds_spark.zip job.py`` and the session
    inherits cluster config; everything here is overridable.
    """
    if master is None:
        cpus = os.environ.get("SPARK_GRAFT_CPUS", "*")
        master = f"local[{cpus}]"
    if shuffle_partitions is None:
        n = os.environ.get("SPARK_GRAFT_CPUS")
        shuffle_partitions = int(n) if n and n.isdigit() else 32

    builder = (
        SparkSession.builder.appName(app_name)
        .master(master)
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.ui.enabled", "false")
        .config("spark.driver.memory", os.environ.get("SPARK_GRAFT_DRIVER_MEM", "8g"))
    )
    if extra_conf:
        for k, v in extra_conf.items():
            builder = builder.config(k, v)
    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    return spark
