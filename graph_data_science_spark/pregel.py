"""Vectorized Pregel: the superstep runner at the heart of the engine.

Reference blueprint: /root/reference/pregel/src/main/java/org/neo4j/
gds/beta/pregel/Pregel.java:158-199 (orchestration loop),
PregelComputation.java:38-117 (user surface), ReducingMessenger.java:
62-97 (combiner messaging), ComputeStep.java:95-99 (halted nodes
reactivate on message), PartitionedComputer.java:77-85 (convergence =
no messages AND all voted halt).

Spark realization — each superstep is one Catalyst-planned job:

    messages = active_state  JOIN  edges ON id = src     (hash join)
    inbox    = messages GROUP BY dst AGG reduce          (partial+final agg)
    state'   = state LEFT JOIN inbox ON id = dst         (apply + vote)

* The reference's ReducingMessenger (atomic combine on send) is
  exactly Spark's map-side partial aggregation — the combine happens
  in the mapper before the shuffle, so a hub vertex receives one
  pre-reduced row per upstream partition, not one row per message.
* Hub skew: an optional explicit two-phase salted reduce
  (groupBy(dst, salt) then groupBy(dst)) for reducers where partial
  aggregation is disabled or for extreme fan-in; the join side is the
  explicit degree split (Graph.pregel_layout), not AQE: the loop runs
  with AQE and auto-broadcast off (see PregelRunner.run).
* Vote-to-halt: a `_halted` state column; only non-halted vertices
  send (the frontier), halted vertices reactivate when a message
  arrives — delta iteration for free.
* Lineage: each superstep's eager localCheckpoint cuts the plan (O(1)
  across supersteps) and keeps the state's hash partitioning. The cut
  is util.local_checkpoint, which also drops the Catalyst size
  estimate the checkpoint would otherwise carry into the next
  superstep's joins; that estimate, not the lineage, compounded every
  superstep and made long loops slow on the driver.
* Checkpoint/resume (north_rule hard requirement): that materialized
  state is also snapshotted to the checkpoint store (parquet plus a
  JSON lineage manifest, see PregelRunner._write_checkpoint). A fresh
  run clears an earlier run's snapshots; resume picks up from the last
  sealed superstep after a driver/executor loss.
"""

from __future__ import annotations

import json
import os
import time
from dataclasses import dataclass, field
from typing import Callable

from pyspark.sql import Column, DataFrame, Observation, SparkSession
from pyspark.sql import functions as F

from graph_data_science_spark.catalog import Graph
from graph_data_science_spark.util import local_checkpoint


def _free_local_checkpoint(df: DataFrame) -> None:
    """Unpersist the block-manager storage behind a localCheckpointed
    DataFrame. `DataFrame.unpersist` cannot reach it (localCheckpoint
    bypasses the CacheManager), so go through the plan's LogicalRDD.
    Best-effort: on any reflection mismatch the blocks are simply left
    for the ContextCleaner, which is the status quo."""
    try:
        plan = df._jdf.queryExecution().optimizedPlan()
        if plan.getClass().getSimpleName() == "LogicalRDD":
            plan.rdd().unpersist(False)
    except Exception:
        pass

# -- progress registry (ListProgressProc analog) --------------------------
# gds.beta.listProgress semantics (proc/.../ListProgressProc.java): every
# Pregel run registers a task here, updates it per superstep, and marks
# it FINISHED/FAILED on exit; `list_progress()` snapshots the registry.
# Driver-side only (one entry per run, a handful of fields) — this is
# the task-store mirror of the per-partition metrics jsonl the
# checkpoint dir already records.
_TASK_REGISTRY: dict[int, dict] = {}
_TASK_CAP = 200
_task_seq = iter(range(1, 1 << 62))


def _task_register(task: str, max_iterations: int, start_iter: int) -> int:
    tid = next(_task_seq)
    if len(_TASK_REGISTRY) >= _TASK_CAP:
        # drop the oldest non-running entries first
        for old in sorted(_TASK_REGISTRY):
            if _TASK_REGISTRY[old]["status"] != "RUNNING":
                del _TASK_REGISTRY[old]
            if len(_TASK_REGISTRY) < _TASK_CAP:
                break
    _TASK_REGISTRY[tid] = {
        "task_id": tid,
        "task": task,
        "status": "RUNNING",
        "iteration": start_iter,
        "max_iterations": max_iterations,
        "active": -1,
        "started_unix": time.time(),
        "elapsed_sec": 0.0,
    }
    return tid


def _task_update(tid: int, iteration: int, active: int) -> None:
    t = _TASK_REGISTRY.get(tid)
    if t is not None:
        t["iteration"] = iteration
        t["active"] = active
        t["elapsed_sec"] = round(time.time() - t["started_unix"], 3)


def _task_finish(tid: int, status: str) -> None:
    t = _TASK_REGISTRY.get(tid)
    if t is not None:
        t["status"] = status
        t["elapsed_sec"] = round(time.time() - t["started_unix"], 3)


def list_progress() -> list[dict]:
    """Snapshot of registered Pregel tasks, most recent first
    (gds.beta.listProgress analog)."""
    return [dict(_TASK_REGISTRY[k]) for k in sorted(_TASK_REGISTRY, reverse=True)]


#: PregelRunner's partition auto-sizing target (edges per partition);
#: tuned so a partition is a few MB of edge rows — far under executor
#: memory, large enough that task overhead amortizes
_EDGES_PER_PARTITION = 100_000

_REDUCERS: dict[str, Callable[[str], Column]] = {
    "sum": F.sum,
    "min": F.min,
    "max": F.max,
    "count": lambda c: F.count(F.lit(1)).cast("double"),
}


class _CheckpointFS:
    """Checkpoint-dir metadata IO (manifest / metrics / listing).

    Every operation goes through the JVM's Hadoop FileSystem API via
    py4j, so the same checkpoint_dir that Spark writes parquet state to
    (a local path, hdfs://, s3a://, ...) also carries the manifests on
    a real cluster. Object stores don't support append, so per-iteration
    metrics are written as one small file per superstep on URI paths
    (and appended to metrics.jsonl with ``open`` on a local path).
    """

    def __init__(self, spark: SparkSession, base: str):
        self.spark = spark
        self.base = base
        self.remote = "://" in base

    # -- hadoop plumbing ------------------------------------------------
    def _fs_and_path(self, path: str):
        jvm = self.spark._jvm
        jpath = jvm.org.apache.hadoop.fs.Path(path)
        fs = jpath.getFileSystem(self.spark._jsc.hadoopConfiguration())
        return fs, jpath

    # -- operations ------------------------------------------------------
    def write_text(self, path: str, text: str) -> None:
        fs, p = self._fs_and_path(path)
        out = fs.create(p, True)
        try:
            out.write(bytearray(text.encode("utf-8")))
        finally:
            out.close()

    def append_metric(self, line: str, superstep: int) -> None:
        if not self.remote:
            os.makedirs(self.base, exist_ok=True)
            with open(os.path.join(self.base, "metrics.jsonl"), "a") as f:
                f.write(line + "\n")
            return
        self.write_text(
            f"{self.base}/metrics/iteration={superstep:05d}.json", line + "\n"
        )

    def exists(self, path: str) -> bool:
        fs, p = self._fs_and_path(path)
        return bool(fs.exists(p))

    def list_names(self) -> list[str]:
        fs, p = self._fs_and_path(self.base)
        if not fs.exists(p):
            return []
        return [st.getPath().getName() for st in fs.listStatus(p)]

    def delete(self, name: str) -> None:
        """Remove the entry `name` under base (a file or a whole tree)."""
        fs, p = self._fs_and_path(f"{self.base.rstrip('/')}/{name}")
        fs.delete(p, True)

    def parquet_part_rows(self, path: str) -> dict[int, int]:
        """Rows per write task of the parquet dir `path`, from the part
        files' footers (driver-side, no Spark job). Task i wrote
        ``part-<i>-...``; a task's several files are summed."""
        parquet = self.spark._jvm.org.apache.parquet.hadoop
        conf = self.spark._jsc.hadoopConfiguration()
        fs, p = self._fs_and_path(path)
        rows: dict[int, int] = {}
        for st in fs.listStatus(p):
            name = st.getPath().getName()
            if name.startswith("part-"):
                task = int(name.split("-")[1])
                reader = parquet.ParquetFileReader.open(
                    parquet.util.HadoopInputFile.fromStatus(st, conf)
                )
                try:
                    rows[task] = rows.get(task, 0) + int(reader.getRecordCount())
                finally:
                    reader.close()
        return rows


class PregelComputation:
    """Vectorized computation protocol (PregelComputation.java:38-117).

    Subclasses express init/send/step as *DataFrame transforms* —
    whole columns at a time, never per-row Python. ``send`` receives
    only the active frontier; ``step`` must set ``_halted``.
    """

    #: name of the reducer combining concurrent messages to a vertex;
    #: "queue" delivers a bounded multiset inbox instead of a scalar
    #: (the SyncQueueMessenger analog) — see PregelRunner._queue_reduce
    reducer: str = "sum"

    #: queue reducer only: max inbox entries per vertex (bounded hub
    #: fan-in — a 10^7-degree hub never materializes an unbounded
    #: collect_list array)
    queue_size: int = 64

    #: True for algorithms whose vote is over the FULL neighborhood
    #: (e.g. label propagation's argmax) — frontier-only sends would
    #: drop unchanged neighbors' votes, so the runner passes the whole
    #: state to ``send`` instead of just the active frontier.
    send_full_state: bool = False

    #: True when ``send`` is a per-edge linear transform (one message
    #: per matched (state, edge) row, no aggregation inside send) —
    #: the runner may then invoke it once per edge SUBSET and union
    #: the results, which enables the degree-split hub layout
    #: (Graph.pregel_layout). Computations that aggregate inside
    #: ``send`` (label propagation's argmax) must set False.
    send_is_linear: bool = True

    def init(self, graph: Graph) -> DataFrame:
        """Initial state: DF with `id`, `_halted` + algorithm columns."""
        raise NotImplementedError

    def send(self, active: DataFrame, edges: DataFrame, iteration: int) -> DataFrame:
        """Messages DF(dst, msg) from the active frontier along edges."""
        raise NotImplementedError

    def step(self, state: DataFrame, inbox: DataFrame, iteration: int) -> DataFrame:
        """Apply reduced inbox DF(id, msg) to state; set `_halted`."""
        raise NotImplementedError

    def master_compute(self, state: DataFrame, iteration: int) -> tuple[DataFrame, bool]:
        """Driver-side hook between supersteps (Pregel.java:195).

        Returns (possibly transformed state, converged?).
        """
        return state, False


@dataclass
class PregelResult:
    state: DataFrame
    ran_iterations: int
    did_converge: bool
    metrics: list[dict] = field(default_factory=list)


@dataclass
class PregelRunner:
    """Superstep orchestrator (Pregel.run, Pregel.java:158-199)."""

    spark: SparkSession
    max_iterations: int = 20
    checkpoint_dir: str | None = None
    salt_buckets: int = 0  # >1 enables the explicit two-phase salted reduce
    #: degree-based hub edge splitting (Graph.pregel_layout): srcs
    #: whose out-degree exceeds the threshold have their edges
    #: repartitioned by dst and joined against a broadcast of the hub
    #: state, so no single task owns a hub's whole fan-out. None =
    #: auto threshold max(|E|/n_parts, 256); 0 disables. Only applies
    #: to computations with ``send_is_linear``.
    hub_split_threshold: int | None = None
    #: partitions for the edge/state co-partitioning; None = auto:
    #: ceil(|E| / _EDGES_PER_PARTITION) clamped to [1, session
    #: spark.sql.shuffle.partitions]. Auto-sizing only ever SHRINKS
    #: below the session setting — on a real cluster whose
    #: shuffle.partitions is sized to the executors a 100-TB graph
    #: always saturates the clamp, while a small graph stops paying
    #: fixed per-task scheduling cost for near-empty partitions
    #: (measured: WCC at 200k edges, 32 -> 8 partitions = 1.4x warm,
    #: 2.8x cold). Set explicitly to pin a count.
    partitions: int | None = None
    #: False skips the per-superstep active/row count entirely —
    #: fixed-iteration runs (tolerance 0, no vote-to-halt early exit
    #: possible) don't need it. Metrics then record active = rows =
    #: -1. When True the counts ride the SAME job that materializes
    #: the new state (an Observation on the eager localCheckpoint),
    #: not a second pass over the state.
    track_active: bool = True

    # -- checkpoint store ------------------------------------------------
    def _store(self) -> _CheckpointFS:
        assert self.checkpoint_dir
        return _CheckpointFS(self.spark, self.checkpoint_dir)

    def _ckpt_path(self, superstep: int) -> str:
        assert self.checkpoint_dir
        return f"{self.checkpoint_dir.rstrip('/')}/superstep={superstep:05d}"

    def _write_checkpoint(self, state: DataFrame, superstep: int) -> None:
        """Snapshot the localCheckpointed `state` (one shuffle-free job:
        write task i is state partition i) and seal it with the lineage
        manifest the north_rule requires: rows per state partition, read
        from the parquet footers rather than by a second scan."""
        path = self._ckpt_path(superstep)
        state.write.mode("overwrite").parquet(f"{path}/state")
        store = self._store()
        part_rows = store.parquet_part_rows(f"{path}/state")
        manifest = {
            "superstep": superstep,
            "partitions": [{"partition": p, "rows": n} for p, n in sorted(part_rows.items())],
            "rows": sum(part_rows.values()),
            "iteration": superstep,
        }
        store.write_text(f"{path}/manifest.json", json.dumps(manifest))

    def latest_checkpoint(self) -> int | None:
        """Highest superstep with a complete (manifest-sealed) snapshot."""
        if not self.checkpoint_dir:
            return None
        store = self._store()
        steps = [int(n.split("=")[1]) for n in store.list_names() if n.startswith("superstep=")]
        return max(
            (k for k in steps if store.exists(f"{self._ckpt_path(k)}/manifest.json")),
            default=None,
        )

    # -- message reduction ------------------------------------------------
    def _queue_reduce(self, messages: DataFrame, queue_size: int) -> DataFrame:
        """Bounded multiset inbox — the SyncQueueMessenger analog
        (/root/reference/pregel/src/main/java/org/neo4j/gds/beta/
        pregel/SyncQueueMessenger.java), made hub-safe: messages are
        pre-aggregated to (dst, msg, count), ranked deterministically
        (count desc, msg asc) and truncated to `queue_size` BEFORE the
        array materializes, so a hub's inbox is O(queue_size) — never
        an unbounded collect_list. step() receives
        (id, msg array<struct<msg, n>>), highest-multiplicity first.
        """
        from pyspark.sql import Window

        counts = messages.groupBy("dst", "msg").agg(F.count(F.lit(1)).alias("_n"))
        w = Window.partitionBy("dst").orderBy(F.desc("_n"), F.asc("msg"))
        top = counts.withColumn("_rk", F.row_number().over(w)).where(
            F.col("_rk") <= queue_size
        )
        return top.groupBy("dst").agg(
            F.transform(
                F.array_sort(F.collect_list(F.struct("_rk", "msg", "_n"))),
                lambda s: F.struct(s["msg"].alias("msg"), s["_n"].alias("n")),
            ).alias("msg")
        )

    def _reduce(self, messages: DataFrame, reducer: str) -> DataFrame:
        """groupBy(dst).agg(reduce) — optionally via explicit salting.

        Plain path: Spark's partial aggregation already combines
        map-side (the ReducingMessenger analog). Salted path: first
        reduce on (dst, salt) — spreading a hub's fan-in over
        `salt_buckets` reducers — then combine the partials.
        """
        agg = _REDUCERS[reducer]
        if self.salt_buckets and self.salt_buckets > 1 and reducer != "count":
            # spread each hub's fan-in across salt_buckets reducer keys;
            # sum/min/max are associative+commutative so the two-phase
            # combine is exact regardless of row-to-bucket assignment
            first = messages.groupBy(
                "dst",
                F.pmod(F.monotonically_increasing_id(), F.lit(self.salt_buckets)).alias(
                    "_salt"
                ),
            ).agg(agg("msg").alias("msg"))
            final_fn = F.sum if reducer == "sum" else agg
            return first.groupBy(F.col("dst").alias("id")).agg(
                final_fn("msg").alias("msg")
            )
        # alias dst -> id inside the groupBy: one less plan re-analysis
        # per superstep vs a trailing withColumnRenamed
        return messages.groupBy(F.col("dst").alias("id")).agg(agg("msg").alias("msg"))

    # -- main loop ---------------------------------------------------------
    def run(
        self,
        computation: PregelComputation,
        graph: Graph,
        resume: bool = False,
    ) -> PregelResult:
        """Superstep loop with a ONE-shuffle-per-superstep plan.

        The edge DF is hash-partitioned by `src` once and persisted;
        the state DF is hash-partitioned by `id` with the same
        partition count, and localCheckpoint preserves that
        partitioning across supersteps. Catalyst then plans both the
        send join (state.id == edges.src) and the apply join
        (state.id == inbox.id) without exchanges — the only shuffle
        left is groupBy(dst), i.e. the actual message delivery. AQE
        and auto-broadcast are off for the loop (restored on exit): AQE
        runs each exchange as its own re-planned job and turns small
        state joins into runtime-broadcast jobs, yet with the layout
        pinned and hubs split explicitly it has nothing left to fix. A
        superstep is then one job; explicit F.broadcast hints (the hub
        split) still apply and still cost one job each.
        """
        conf = self.spark.conf
        session_parts = int(conf.get("spark.sql.shuffle.partitions"))
        if self.partitions:
            n_parts = self.partitions
        else:
            n_edges = graph.edge_count()
            n_parts = max(1, min(session_parts, -(-n_edges // _EDGES_PER_PARTITION)))
        # pin the session shuffle width to the loop's partition count:
        # the message-delivery groupBy(dst) exchange follows
        # spark.sql.shuffle.partitions, and a mismatch with the
        # state/edge co-partitioning re-introduces an exchange per
        # superstep join; all three settings are restored on exit
        pinned = {
            "spark.sql.shuffle.partitions": str(n_parts),
            "spark.sql.adaptive.enabled": "false",
            "spark.sql.autoBroadcastJoinThreshold": "-1",
        }
        prev = {k: conf.get(k) for k in pinned}
        for k, v in pinned.items():
            conf.set(k, v)
        tid = _task_register(
            f"{type(computation).__name__} on {graph.name}",
            self.max_iterations,
            0,
        )
        try:
            out = self._run_loop(computation, graph, resume, n_parts, tid)
            _task_finish(tid, "FINISHED")
            return out
        except BaseException:
            _task_finish(tid, "FAILED")
            raise
        finally:
            for k, v in prev.items():
                conf.set(k, v)

    def _run_loop(
        self,
        computation: PregelComputation,
        graph: Graph,
        resume: bool,
        n_parts: int,
        tid: int,
    ) -> PregelResult:
        # repartition+sort+persist once per (graph, layout); cached on
        # the Graph handle so back-to-back runs (warmup, multi-algo
        # sessions) skip the superstep-0 rebuild. Linear sends get the
        # degree-split layout: hub fan-outs move to a dst-partitioned
        # hot table joined against broadcast hub state (no straggler
        # task owns a hub's whole edge block).
        if getattr(computation, "send_is_linear", True) and self.hub_split_threshold != 0:
            edges, hot_edges, hub_ids = graph.pregel_layout(
                n_parts, self.hub_split_threshold
            )
        else:
            edges, hot_edges, hub_ids = graph.pregel_edges(n_parts), None, None
        metrics: list[dict] = []

        start_iter = 0
        last = self.latest_checkpoint() if resume else None
        if last is not None:
            state = self.spark.read.parquet(f"{self._ckpt_path(last)}/state")
            start_iter = last + 1
        else:
            if self.checkpoint_dir:
                # a fresh run: drop the snapshots and metrics log an
                # earlier run left, or a later resume could pick them up
                store = self._store()
                for name in store.list_names():
                    if name.startswith("superstep=") or name in ("metrics.jsonl", "metrics"):
                        store.delete(name)
            state = computation.init(graph)
        state = state.repartition(n_parts, "id")

        did_converge = False
        iteration = start_iter
        for iteration in range(start_iter, self.max_iterations):
            t0 = time.monotonic()
            active = state if computation.send_full_state else state.where(~F.col("_halted"))
            messages = computation.send(active, edges, iteration)
            if hot_edges is not None:
                # hub fan-out: the hub state is <= n_parts rows by the
                # auto-threshold pigeonhole bound, so broadcast it
                # against the dst-partitioned hot edges — same per-edge
                # send transform, skew-free by construction
                hub_active = active.join(F.broadcast(hub_ids), "id", "left_semi")
                messages = messages.unionByName(
                    computation.send(F.broadcast(hub_active), hot_edges, iteration)
                )
            custom_reduce = getattr(computation, "reduce_messages", None)
            if custom_reduce is not None:
                inbox = custom_reduce(messages).withColumnRenamed("dst", "id")
            elif computation.reducer == "queue":
                inbox = self._queue_reduce(
                    messages, computation.queue_size
                ).withColumnRenamed("dst", "id")
            else:
                inbox = self._reduce(messages, computation.reducer)  # keyed as id
            new_state = computation.step(state, inbox, iteration)
            new_state, master_converged = computation.master_compute(
                new_state, iteration
            )

            # convergence counters ride the materialization job below
            # (CollectMetrics fires when the eager localCheckpoint
            # scans the plan) — zero extra jobs, vs a full second pass
            # over the state per superstep
            obs = None
            if self.track_active:
                obs = Observation()
                new_state = new_state.observe(
                    obs,
                    F.count(F.lit(1)).alias("n"),
                    F.sum(F.when(~F.col("_halted"), 1).otherwise(0)).alias("active"),
                )

            new_state = local_checkpoint(new_state)
            if self.checkpoint_dir:
                self._write_checkpoint(new_state, iteration)
            # free the PREVIOUS superstep's localCheckpoint blocks now
            # (the new state is fully materialized): without this the
            # per-superstep snapshots pile up in the block manager and
            # the JVM's lazy ContextCleaner evicts them at random
            # moments mid-superstep — measured as 2-8x wall spikes
            if iteration > start_iter:
                _free_local_checkpoint(state)

            if obs is not None:
                counts = obs.get  # already fired by the eager action above
                n_active, n_rows = int(counts["active"] or 0), int(counts["n"])
            else:
                n_active, n_rows = -1, -1
            wall = time.monotonic() - t0
            m = {
                "iteration": iteration,
                "active": n_active,
                "rows": n_rows,
                "wall_sec": wall,
            }
            metrics.append(m)
            _task_update(tid, iteration, n_active)
            if self.checkpoint_dir:
                # per-iteration run log next to the snapshots — the
                # north_rule's metrics record; append-only jsonl on a
                # local dir, one file per superstep on object stores
                # (which cannot append) — see _CheckpointFS
                self._store().append_metric(json.dumps(m), iteration)
            state = new_state
            if master_converged or n_active == 0:
                did_converge = True
                iteration += 1
                break
        else:
            iteration = self.max_iterations

        # edges stay persisted on the Graph handle (graph.unpersist()
        # releases them) so subsequent runs reuse the layout
        return PregelResult(
            state=state,
            ran_iterations=iteration,
            did_converge=did_converge,
            metrics=metrics,
        )
