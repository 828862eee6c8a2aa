"""North-rule link-graph benchmark: one workload, one seed, one JSON line.

    python3 linkbench/run.py --workload transcripts_small --seed 1 \
        --seconds 20 --trace 0

Run from the root of a checkout of the repository. The run

1. starts one Spark session at ``local[4]`` and warms it up with a
   projection and two PageRank supersteps on a tiny fixed input
   (``setup_s`` is the time from the process's start to the end of
   the warm-up);
2. writes the workload's transcript parquet from ``--seed`` (cached by
   seed and shape under ``.linkbench/inputs``);
3. runs rounds of the workload's operations (``workloads.py``) until
   ``--seconds`` of operation time has been measured, each round on a
   fresh graph handle, and checks every round's outputs with
   ``checks.py``;
4. prints, as the last line of standard output, one JSON object:
   ``correct``, ``attempted``, ``failed`` and ``metrics``.

With ``--trace 0`` the metrics are the end-to-end ones (medians over
rounds); with ``--trace 1`` Spark's event log is on and the metrics are
the per-layer ones, reduced from the log per operation. Scratch files
live under ``.linkbench/runs`` and are removed at the end of the run.
"""

import time

T0 = time.monotonic()


def _process_age_s() -> float:
    """Seconds since this process started (10 ms resolution)."""
    import os

    with open("/proc/self/stat") as f:
        start_ticks = int(f.read().rsplit(")", 1)[1].split()[19])
    with open("/proc/uptime") as f:
        uptime = float(f.read().split()[0])
    return uptime - start_ticks / os.sysconf("SC_CLK_TCK")


AGE0 = _process_age_s()

import argparse  # noqa: E402
import glob  # noqa: E402
import json  # noqa: E402
import os  # noqa: E402
import shutil  # noqa: E402
import statistics  # noqa: E402
import sys  # noqa: E402

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
WORK = os.path.join(ROOT, ".linkbench")
CORES = 4
DRIVER_MEMORY = "1g"

sys.path.insert(0, ROOT)

import checks  # noqa: E402
import eventlog  # noqa: E402
from inputs import ensure_transcripts  # noqa: E402
from workloads import (  # noqa: E402
    OPS,
    PREGEL_OPS,
    WARMUP_SHAPE,
    WORKLOADS,
    WRITE_OPS,
    run_round,
    warm_up,
)

E2E = (
    ("setup_s", "s"),
    ("projection_s", "s"),
    ("pagerank_s", "s"),
    ("pagerank_edges_per_s", "edges/s"),
    ("wcc_s", "s"),
    ("labelprop_s", "s"),
    ("triangles_s", "s"),
    ("checkpointed_pagerank_s", "s"),
    ("resume_s", "s"),
    ("checkpoint_bytes", "bytes"),
    ("peak_rss_mb", "MB"),
)


def per_layer_names() -> list[tuple[str, str]]:
    """(name, unit) of every per-layer metric, in report order."""
    units = {
        "jobs": "count", "stages": "count", "tasks": "count",
        "shuffle_write_bytes": "bytes", "shuffle_read_bytes": "bytes",
        "spill_bytes": "bytes", "output_bytes": "bytes", "task_skew": "ratio",
    }
    out = []
    for op in OPS:
        out.append((f"{op}.wall_s", "s"))
        out += [(f"{op}.{f}", units.get(f, "s")) for f in eventlog.FIELDS]
        if op in PREGEL_OPS:
            out += [
                (f"{op}.supersteps", "count"),
                (f"{op}.superstep0_s", "s"),
                (f"{op}.steady_superstep_s", "s"),
                (f"{op}.jobs_per_superstep", "jobs/superstep"),
            ]
        if op in WRITE_OPS:
            out.append((f"{op}.write_s", "s"))
    return out


def start_spark(run_dir: str, trace: bool, cores: int = CORES):
    from graph_data_science_spark.session import get_spark

    tmp = os.path.join(run_dir, "tmp")
    os.makedirs(tmp, exist_ok=True)
    conf = {
        "spark.local.dir": os.path.join(run_dir, "spark-local"),
        # -XX:-UsePerfData: HotSpot would otherwise write /tmp/hsperfdata_*
        "spark.driver.extraJavaOptions": f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData",
        "spark.sql.warehouse.dir": os.path.join(run_dir, "warehouse"),
    }
    if trace:
        os.makedirs(os.path.join(run_dir, "eventlog"))
        conf.update({
            "spark.eventLog.enabled": "true",
            "spark.eventLog.dir": os.path.join(run_dir, "eventlog"),
            "spark.eventLog.compress": "false",
            "spark.eventLog.rolling.enabled": "false",
        })
    os.environ["SPARK_GRAFT_DRIVER_MEM"] = DRIVER_MEMORY
    return get_spark(
        app_name="linkbench",
        master=f"local[{cores}]",
        shuffle_partitions=cores,
        extra_conf=conf,
    )


def stop_spark(spark) -> None:
    """Stop the session and wait for the JVM to exit: it leaves when its
    stdin (the gateway pipe) closes."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    proc = getattr(gateway, "proc", None)
    spark.stop()
    if gateway is not None:
        gateway.shutdown()
    if proc is not None:
        proc.stdin.close()
        proc.wait(timeout=60)


def jvm_peak_rss_mb(spark) -> float:
    pid = spark._jvm.java.lang.ProcessHandle.current().pid()
    with open(f"/proc/{pid}/status") as f:
        for line in f:
            if line.startswith("VmHWM:"):
                return int(line.split()[1]) / 1024.0
    raise RuntimeError("VmHWM missing from /proc status")


def end_to_end(rounds: list[dict], setup_s: float, rss_mb: float) -> dict[str, float]:
    def med(fn):
        return statistics.median(fn(r) for r in rounds)

    pr = lambda r: r["pagerank"]  # noqa: E731
    return {
        "setup_s": setup_s,
        "projection_s": med(lambda r: r["projection"].wall_s),
        "pagerank_s": med(lambda r: pr(r).wall_s),
        "pagerank_edges_per_s": med(
            lambda r: r["projection"].meta["edges"] * len(pr(r).superstep_walls) / pr(r).compute_s
        ),
        "wcc_s": med(lambda r: r["wcc"].wall_s),
        "labelprop_s": med(lambda r: r["labelprop"].wall_s),
        "triangles_s": med(lambda r: r["triangles"].wall_s),
        "checkpointed_pagerank_s": med(lambda r: r["checkpointed_pagerank"].wall_s),
        "resume_s": med(lambda r: r["resume"].wall_s),
        "checkpoint_bytes": med(lambda r: r["checkpointed_pagerank"].meta["checkpoint_bytes"]),
        "peak_rss_mb": rss_mb,
    }


def per_layer(rounds: list[dict], traces: list[dict]) -> dict[str, float]:
    """Medians over rounds of each op's traced and runner-reported
    figures."""
    samples: dict[str, list[float]] = {}
    for recs, rows in zip(rounds, traces):
        for op in OPS:
            rec, row = recs[op], rows[op]
            vals = {"wall_s": rec.wall_s, **row}
            if op in PREGEL_OPS:
                walls = rec.superstep_walls
                vals.update(
                    supersteps=len(walls),
                    superstep0_s=walls[0],
                    steady_superstep_s=statistics.median(walls[1:] or walls),
                    jobs_per_superstep=row["jobs"] / len(walls),
                )
            if op in WRITE_OPS:
                vals["write_s"] = rec.write_s
            for k, v in vals.items():
                samples.setdefault(f"{op}.{k}", []).append(v)
    return {k: statistics.median(v) for k, v in samples.items()}


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args()
    wl = WORKLOADS[args.workload]
    trace = bool(args.trace)

    run_dir = os.path.join(WORK, "runs", f"{wl.name}-s{args.seed}-t{args.trace}-{os.getpid()}")
    shutil.rmtree(run_dir, ignore_errors=True)
    os.makedirs(run_dir)
    os.environ["TMPDIR"] = os.path.join(run_dir, "tmp")
    try:
        spark = start_spark(run_dir, trace)
        try:
            warm_up(spark, ensure_transcripts(WORK, WARMUP_SHAPE, seed=0))
            setup_s = AGE0 + (time.monotonic() - T0)
            transcripts = ensure_transcripts(WORK, wl.shape, args.seed)
            ref = checks.reference(transcripts)
            rounds, verdicts = [], []
            measured = 0.0
            while not rounds or measured < args.seconds:
                out = os.path.join(run_dir, f"round-{len(rounds)}")
                recs = run_round(spark, wl, transcripts, out, tag=f"#{len(rounds)}")
                measured += sum(r.wall_s for r in recs.values())
                verdicts.append(checks.run_all(checks.load(out, recs, wl), ref))
                shutil.rmtree(out)
                rounds.append(recs)
            rss_mb = jvm_peak_rss_mb(spark)
        finally:
            stop_spark(spark)

        bad = {(i, k): v for i, v in enumerate(verdicts) for k, v in v.items() if v}
        for (i, k), v in bad.items():
            print(f"CHECK FAILED round {i} {k}: {v}", file=sys.stderr)
        # an operation fails when a check of its output fails
        failed = len({(i, checks.CHECKED_OP[k]) for i, k in bad})
        if trace:
            (log,) = glob.glob(os.path.join(run_dir, "eventlog", "*"))
            traces = []
            for i, recs in enumerate(rounds):
                spans = {f"{op}#{i}": (r.start, r.end) for op, r in recs.items()}
                rows = eventlog.reduce_log(log, spans)
                traces.append({op: rows[f"{op}#{i}"] for op in recs})
            values = per_layer(rounds, traces)
            units = dict(per_layer_names())
        else:
            values = end_to_end(rounds, setup_s, rss_mb)
            units = dict(E2E)
        for name, v in values.items():
            print(f"{name:44s} {v:16.6f} {units[name]}")
        result = {
            "correct": not bad,
            "attempted": len(rounds) * len(OPS),
            "failed": failed,
            "metrics": {k: {"value": values[k], "unit": units[k]} for k in units},
        }
        print(json.dumps(result))
    finally:
        shutil.rmtree(run_dir, ignore_errors=True)
    return 0


if __name__ == "__main__":
    sys.exit(main())
