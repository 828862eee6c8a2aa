"""Reduce a Spark event log to one row of layer metrics per job group.

The log must be uncompressed (``spark.eventLog.compress=false``):
Spark 4 writes zstd by default, which the standard library cannot
read. Jobs map to groups through the ``spark.jobGroup.id`` property
of their JobStart event, stages map to the first job that lists them,
and task metrics are summed over the stages of a group.
"""

from __future__ import annotations

import json
import statistics
from collections import defaultdict

FIELDS = (
    "jobs",
    "stages",
    "tasks",
    "executor_run_s",
    "executor_cpu_s",
    "gc_s",
    "shuffle_write_bytes",
    "shuffle_read_bytes",
    "spill_bytes",
    "output_bytes",
    "task_skew",
    "driver_only_s",
)


def _union_s(spans: list[tuple[float, float]], lo: float, hi: float) -> float:
    """Seconds of [lo, hi] covered by the union of the spans."""
    covered, cur_end = 0.0, lo
    for a, b in sorted(spans):
        a, b = max(a, cur_end), min(b, hi)
        if b > a:
            covered += b - a
            cur_end = b
    return covered


def reduce_log(path: str, op_spans: dict[str, tuple[float, float]]) -> dict[str, dict]:
    """Per job group in ``op_spans`` (group -> wall span in epoch
    seconds): the counts, times and bytes named in ``FIELDS``."""
    job_group: dict[int, str] = {}
    job_span: dict[int, list[float]] = {}
    stage_job: dict[int, int] = {}
    stages_done: set[tuple[int, int]] = set()
    task_ms: dict[tuple[int, int], list[int]] = defaultdict(list)
    rows = {g: {**dict.fromkeys(FIELDS, 0), "task_skew": 1.0} for g in op_spans}

    with open(path) as f:
        for line in f:
            ev = json.loads(line)
            kind = ev["Event"]
            if kind == "SparkListenerJobStart":
                jid = ev["Job ID"]
                job_group[jid] = (ev.get("Properties") or {}).get("spark.jobGroup.id", "")
                job_span[jid] = [ev["Submission Time"] / 1e3, ev["Submission Time"] / 1e3]
                for sid in ev["Stage IDs"]:
                    stage_job.setdefault(sid, jid)
            elif kind == "SparkListenerJobEnd":
                job_span[ev["Job ID"]][1] = ev["Completion Time"] / 1e3
            elif kind == "SparkListenerStageCompleted":
                info = ev["Stage Info"]
                stages_done.add((info["Stage ID"], info["Stage Attempt ID"]))
            elif kind == "SparkListenerTaskEnd":
                group = job_group.get(stage_job.get(ev["Stage ID"], -1))
                if group not in rows:
                    continue
                info, m = ev["Task Info"], ev.get("Task Metrics") or {}
                row = rows[group]
                row["tasks"] += 1
                row["executor_run_s"] += m.get("Executor Run Time", 0) / 1e3
                row["executor_cpu_s"] += m.get("Executor CPU Time", 0) / 1e9
                row["gc_s"] += m.get("JVM GC Time", 0) / 1e3
                row["spill_bytes"] += m.get("Memory Bytes Spilled", 0) + m.get("Disk Bytes Spilled", 0)
                sw = m.get("Shuffle Write Metrics") or {}
                row["shuffle_write_bytes"] += sw.get("Shuffle Bytes Written", 0)
                sr = m.get("Shuffle Read Metrics") or {}
                row["shuffle_read_bytes"] += sr.get("Remote Bytes Read", 0) + sr.get("Local Bytes Read", 0)
                row["output_bytes"] += (m.get("Output Metrics") or {}).get("Bytes Written", 0)
                task_ms[(ev["Stage ID"], ev["Stage Attempt ID"])].append(
                    info["Finish Time"] - info["Launch Time"]
                )

    for (sid, attempt) in stages_done:
        group = job_group.get(stage_job.get(sid, -1))
        if group not in rows:
            continue
        rows[group]["stages"] += 1
        times = task_ms.get((sid, attempt), [])
        if len(times) >= 2:
            skew = max(times) / max(statistics.median(times), 1)
            rows[group]["task_skew"] = max(rows[group]["task_skew"], skew)
    for group, (lo, hi) in op_spans.items():
        spans = [tuple(job_span[j]) for j, g in job_group.items() if g == group]
        rows[group]["jobs"] = len(spans)
        rows[group]["driver_only_s"] = (hi - lo) - _union_s(spans, lo, hi)
    return rows
