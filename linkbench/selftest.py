"""Self-test of the output checks: no check passes by construction.

    python3 linkbench/selftest.py

Runs one round of the operations on a tiny seeded input through Spark,
asserts that every check in ``checks.CHECKS`` passes on the real
outputs, then for each check corrupts one value of the output it reads
and asserts that the check rejects it. Exits 1 if any check passes a
corrupted output or fails a correct one.
"""

from __future__ import annotations

import copy
import os
import shutil
import sys

import numpy as np

import checks
import run
from inputs import Shape, ensure_transcripts
from workloads import CHECKPOINT_SUPERSTEPS, Workload, run_round

TINY = Workload(
    "selftest",
    Shape(n_conv=300, tool_rate=0.30),
    pagerank_supersteps=None,
    labelprop_iterations=3,
)


def _bump(df, col: str, fn) -> None:
    """Replace the value of ``col`` in the middle row by fn(value)."""
    i = len(df) // 2
    df.loc[i, col] = fn(df.loc[i, col])


def corruptions(o: checks.Outputs) -> list[tuple[str, str, checks.Outputs]]:
    """(check, what was changed, corrupted copy of the outputs): at least
    one per check, each changing one value of what that check reads."""

    def edit(fn):
        c = copy.deepcopy(o)
        fn(c)
        return c

    def flip_rel(c):
        i = int(np.flatnonzero(c.edges["rel_type"].to_numpy() == "REPLY")[0])
        c.edges.loc[i, "rel_type"] = "INVOKES"

    def reverse_reply(c):
        i = int(np.flatnonzero(c.edges["rel_type"].to_numpy() == "REPLY")[0])
        c.edges.loc[i, ["src", "dst"]] = c.edges.loc[i, ["dst", "src"]].to_numpy()

    def rerun_from_scratch(c):
        # what a resume that ignored the surviving snapshots would report
        c.resume_supersteps = CHECKPOINT_SUPERSTEPS

    def move_manifest(c):
        k = min(c.manifest_rows)
        c.manifest_rows[k] += 1

    def bump_score(df):
        return lambda c: _bump(getattr(c, df), "score", lambda v: v * 1.001)

    return [
        ("edge_counts", "a REPLY edge typed INVOKES", edit(flip_rel)),
        # a reversed REPLY keeps every count, so only the edge set sees it
        ("edge_set", "a REPLY edge reversed", edit(reverse_reply)),
        ("pagerank", "a score x 1.001", edit(bump_score("pagerank"))),
        ("wcc", "a component + 1", edit(lambda c: _bump(c.wcc, "component", lambda v: v + 1))),
        (
            "triangles",
            "a vertex's count + 1",
            edit(lambda c: _bump(c.triangles, "triangles", lambda v: v + 1)),
        ),
        ("labelprop", "a label + 1", edit(lambda c: _bump(c.labelprop, "label", lambda v: v + 1))),
        ("checkpointed_pagerank", "a score x 1.001", edit(bump_score("checkpointed"))),
        (
            "resume",
            "a score one ulp up",
            edit(lambda c: _bump(c.resumed, "score", lambda v: np.nextafter(v, np.inf))),
        ),
        ("resume", "a resume that starts over", edit(rerun_from_scratch)),
        ("manifests", "a manifest's rows + 1", edit(move_manifest)),
    ]


def main() -> int:
    run_dir = os.path.join(run.WORK, "selftest")
    shutil.rmtree(run_dir, ignore_errors=True)
    os.makedirs(run_dir)
    os.environ["TMPDIR"] = os.path.join(run_dir, "tmp")
    problems = []
    try:
        spark = run.start_spark(run_dir, trace=False)
        try:
            transcripts = ensure_transcripts(run.WORK, TINY.shape, seed=7)
            out = os.path.join(run_dir, "round")
            recs = run_round(spark, TINY, transcripts, out)
            outputs = checks.load(out, recs, TINY)
        finally:
            run.stop_spark(spark)
        ref = checks.reference(transcripts)
        for name, msg in checks.run_all(outputs, ref).items():
            print(f"{'ok  ' if msg is None else 'FAIL'} {name} on the real outputs")
            if msg is not None:
                problems.append(f"{name} rejects a correct output: {msg}")
        bad = corruptions(outputs)
        assert {name for name, _, _ in bad} == set(checks.CHECKS), "every check needs a corruption"
        assert set(checks.CHECKED_OP) == set(checks.CHECKS), "every check names its operation"
        for name, what, corrupted in bad:
            msg = checks.CHECKS[name](corrupted, ref)
            print(f"{'ok  ' if msg else 'FAIL'} {name} rejects {what}: {msg}")
            if msg is None:
                problems.append(f"{name} passes {what}")
    finally:
        shutil.rmtree(run_dir, ignore_errors=True)
    for p in problems:
        print("SELFTEST PROBLEM:", p, file=sys.stderr)
    return 1 if problems else 0


if __name__ == "__main__":
    sys.exit(main())
