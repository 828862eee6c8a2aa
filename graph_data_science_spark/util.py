"""Shared utilities: lineage cuts for long iterative loops.

A `localCheckpoint` cuts the RDD lineage, but its `LogicalRDD` keeps
the input plan's Catalyst size estimate (`originStats`). Without CBO,
Spark estimates a join's size as the product of its inputs' sizes, so
a loop that joins last generation's checkpoint into the next one
multiplies the estimate into itself every generation: the plan and the
rows stay constant while the driver spends more and more time in
`SizeInBytesOnlyStatsPlanVisitor` big-integer multiplication. Measured
(Spark 4.1, local[4]) as the state's `sizeInBytes` bit length: label
propagation 20 -> 56 -> 271 -> 1 133 -> 4 582 bits over its first
iterations (x4 each: millions of bits by the tenth, which took 3 s,
and an eleventh took 17-20 s, against 0.7 s early on); WCC doubling
per superstep once its shortcut join starts (73 bits at superstep 4,
6 811 at 10); PageRank about +16 bits per superstep. The lineage
itself stays two lines long. `local_checkpoint` is the cut that does
not carry such an estimate forward.

A parquet round trip resets the estimate too (a file scan is sized by
its files). A `Truncator` cuts through parquet every `every`-th call
and through `local_checkpoint` otherwise; `cut()` writes the DF to a
scratch parquet dir and reads it back (a few hundred ms for
superstep-sized state, and the same device the Pregel runner already
uses for durable checkpoints).

Use as a context manager so the scratch space is removed once the
caller has materialized its final result:

    with Truncator(spark) as tr:
        for i in range(100):
            state = tr.cut(transform(state))
        result = state.localCheckpoint(eager=True)  # outlives scratch
"""

from __future__ import annotations

import os
import shutil
import tempfile
import uuid

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

#: Spark sizes are Longs; an estimate past this is an overflowed
#: product of inputs' estimates and carries no information
_MAX_SIZE_IN_BYTES = (1 << 63) - 1


def local_checkpoint(df: DataFrame) -> DataFrame:
    """`df.localCheckpoint(eager=True)` without the compounded size
    estimate (see the module docstring).

    An estimate past a Long is dropped: the `LogicalRDD` is rebuilt
    with no `originStats`/`originConstraints` (same RDD, output
    partitioning and ordering), so Spark sizes it at
    `spark.sql.defaultSizeInBytes`, its usual unknown size for an RDD.
    A smaller estimate is kept, so no plan choice (broadcast or not)
    changes. Best-effort: on any reflection mismatch with this Spark
    the plain checkpoint is returned."""
    out = df.localCheckpoint(eager=True)
    try:
        plan = out._jdf.logicalPlan()
        try:
            if plan.stats().sizeInBytes() <= _MAX_SIZE_IN_BYTES:
                return out
        except ValueError:  # more digits than Python converts: huge
            pass
        spark = out.sparkSession
        none = spark._jvm.scala.Option.empty()
        bare = plan.copy(
            plan.output(),
            plan.rdd(),
            plan.outputPartitioning(),
            plan.outputOrdering(),
            plan.isStreaming(),
            plan.stream(),
            spark._jsparkSession,
            none,
            none,
        )
        jdf = spark._jvm.org.apache.spark.sql.classic.Dataset.ofRows(
            spark._jsparkSession, bare
        )
        return type(out)(jdf, spark)
    except Exception:
        return out


class Truncator:
    def __init__(self, spark: SparkSession, every: int = 1):
        self.spark = spark
        self.every = max(1, every)
        self._dir = tempfile.mkdtemp(prefix="gds_spark_trunc_")
        self._n = 0

    def cut(self, df: DataFrame) -> DataFrame:
        """Hard-truncate the plan via parquet; cheap local_checkpoint
        on the off-cycles when `every` > 1."""
        self._n += 1
        if self._n % self.every:
            return local_checkpoint(df)
        path = os.path.join(self._dir, f"t{self._n}_{uuid.uuid4().hex[:6]}")
        df.write.mode("overwrite").parquet(path)
        return self.spark.read.parquet(path)

    def close(self) -> None:
        shutil.rmtree(self._dir, ignore_errors=True)

    def __enter__(self) -> "Truncator":
        return self

    def __exit__(self, *exc) -> None:
        self.close()


def global_rank(
    df: DataFrame,
    order_cols: list[str],
    rank_col: str = "_rank",
    n_parts: int | None = None,
) -> DataFrame:
    """Contiguous 1-based global rank by `order_cols` WITHOUT a
    single-task `Window.orderBy` funnel.

    Plan: range-repartition on the order columns (sampled, balanced,
    order-preserving across partitions), rank locally per partition,
    then add per-partition offsets (one tiny driver-side cumsum over
    `n_parts` rows — O(parallelism), not O(rows)). Two balanced
    shuffles instead of one all-rows-through-one-task sort; identical
    output to `row_number().over(Window.orderBy(*order_cols))` when
    the ordering is total (ties broken by the last order column).
    """
    spark = df.sparkSession
    n = n_parts or int(spark.conf.get("spark.sql.shuffle.partitions"))
    ranged = df.repartitionByRange(n, *order_cols).withColumn(
        "_gr_pid", F.spark_partition_id()
    )
    w = Window.partitionBy("_gr_pid").orderBy(*order_cols)
    local = ranged.withColumn("_gr_lr", F.row_number().over(w)).persist()
    counts = sorted(
        (int(r["_gr_pid"]), int(r["_n"]))
        for r in local.groupBy("_gr_pid").agg(F.max("_gr_lr").alias("_n")).collect()
    )
    offsets, acc = [], 0
    for pid, c in counts:
        offsets.append((pid, acc))
        acc += c
    mapping = spark.createDataFrame(offsets or [(0, 0)], "_gr_pid int, _gr_off long")
    out = (
        local.join(F.broadcast(mapping), "_gr_pid")
        .withColumn(rank_col, (F.col("_gr_off") + F.col("_gr_lr")).cast("long"))
        .drop("_gr_pid", "_gr_lr", "_gr_off")
    )
    out = out.localCheckpoint(eager=True)
    local.unpersist()
    return out


def widen_scan(df, target: int | None = None):
    """Widen a NARROW input to the session's default parallelism
    before a compute-heavy per-row kernel (shingling, per-shingle
    hashing, vector math).

    Bytes-based input splitting provisions partitions for scan cost,
    not kernel cost: a few-MB parquet of documents arrives as ONE
    partition, and everything fused into that scan stage (explode +
    16 md5s per shingle) runs on one core — measured 7s single-task
    vs sub-second at 32-way on the sf0.1 corpus. Widening is a cheap
    shuffle of the small input and unlocks the cluster.

    Never NARROWS: at real scale a 100-TB scan already has far more
    partitions than defaultParallelism and must not be re-shuffled —
    inputs with >= target partitions pass through untouched.
    """
    if df.isStreaming:  # no static partition count; leave to the source
        return df
    spark = df.sparkSession
    target = target or spark.sparkContext.defaultParallelism
    if df.rdd.getNumPartitions() < target:
        return df.repartition(target)
    return df
