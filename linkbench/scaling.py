"""Reference figure: 1 -> 4 core throughput scaling of PageRank on the
transcripts_skewed graph (not a per-run metric: it doubles run length).

    python3 linkbench/scaling.py --seed 42

Runs, in two fresh processes, the projection and the fixed
10-superstep PageRank of transcripts_skewed at ``local[1]`` and at
``local[4]``, and prints each throughput (|E| x supersteps / PageRank
compute wall) and the scaling efficiency thr(4) / (4 x thr(1)).
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import subprocess
import sys
import time


def measure(cores: int, seed: int) -> dict:
    import run
    from inputs import ensure_transcripts
    from workloads import WORKLOADS, pagerank_config, project

    from graph_data_science_spark.algorithms.pagerank import pagerank

    wl = WORKLOADS["transcripts_skewed"]
    run_dir = os.path.join(run.WORK, "runs", f"scaling-{cores}-{os.getpid()}")
    os.makedirs(run_dir)
    os.environ["TMPDIR"] = os.path.join(run_dir, "tmp")
    try:
        spark = run.start_spark(run_dir, trace=False, cores=cores)
        try:
            g = project(spark, ensure_transcripts(run.WORK, wl.shape, seed), "scaling")
            edges = g.edge_count()
            t = time.perf_counter()
            res = pagerank(spark, g, pagerank_config(wl.pagerank_supersteps))
            wall = time.perf_counter() - t
            g.unpersist()
        finally:
            run.stop_spark(spark)
    finally:
        shutil.rmtree(run_dir, ignore_errors=True)
    steps = len(res.metrics)
    return {"cores": cores, "edges": edges, "supersteps": steps,
            "seconds": wall, "edges_per_s": edges * steps / wall}


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--seed", type=int, default=42)
    ap.add_argument("--cores", type=int, help=argparse.SUPPRESS)
    args = ap.parse_args()
    if args.cores:
        print(json.dumps(measure(args.cores, args.seed)))
        return 0
    rows = []
    for cores in (1, 4):
        out = subprocess.run(
            [sys.executable, __file__, "--seed", str(args.seed), "--cores", str(cores)],
            check=True, capture_output=True, text=True,
        ).stdout
        rows.append(json.loads(out.strip().splitlines()[-1]))
        print(json.dumps(rows[-1]))
    eff = rows[1]["edges_per_s"] / (4 * rows[0]["edges_per_s"])
    print(json.dumps({"scaling_efficiency_1_to_4": eff}))
    return 0


if __name__ == "__main__":
    sys.exit(main())
