"""Seeded transcript tables in the north-rule schema, made with numpy
and pyarrow only.

The benchmark owns its inputs: nothing here imports the program, so a
change to the program's data generator cannot change a workload's
input. One table is
``(conv_id string, turn_idx int32, role string, text string,
tool string, ts timestamp[us, UTC])``, written as ``N_FILES`` parquet
files so Spark's scan gets one split per core.

Make-up of a table (all drawn from ``numpy.random.default_rng(seed)``):

* ``n_conv`` conversations, ids ``conv-00000000`` upward;
* turns per conversation ``2 + floor((MAX_TURNS - 1) * u**2.5)``,
  ``u`` uniform on [0, 1): 2..MAX_TURNS turns, skewed towards short
  conversations. Every conversation has at least two turns, so every turn is
  an endpoint of a REPLY edge and the graph's vertex set is exactly
  the turns plus the tools invoked;
* roles alternate ``user`` / ``assistant`` from turn 0;
* each turn invokes a tool with probability ``tool_rate``; the tool
  is ``tool_NN`` with NN drawn from a zipf law of exponent
  ``ZIPF_S`` truncated to ``N_TOOLS`` tools (rank k has weight
  ``k**-ZIPF_S``);
* ``ts`` starts at a random second of 2024-01-01 and steps 60 s a turn.
"""

from __future__ import annotations

import os
from dataclasses import dataclass

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

N_FILES = 4
MAX_TURNS = 10
N_TOOLS = 50
ZIPF_S = 1.2


@dataclass(frozen=True)
class Shape:
    n_conv: int
    tool_rate: float

    def key(self) -> str:
        return f"c{self.n_conv}-r{self.tool_rate:g}"


def make_table(shape: Shape, seed: int) -> pa.Table:
    rng = np.random.default_rng(seed)
    n = shape.n_conv
    n_turns = 2 + np.floor((MAX_TURNS - 1) * rng.random(n) ** 2.5).astype(np.int64)
    rows = int(n_turns.sum())
    conv = np.repeat(np.arange(n, dtype=np.int64), n_turns)
    starts = np.cumsum(n_turns) - n_turns
    turn = np.arange(rows, dtype=np.int64) - np.repeat(starts, n_turns)

    weights = np.arange(1, N_TOOLS + 1, dtype=np.float64) ** -ZIPF_S
    tool_idx = rng.choice(N_TOOLS, size=rows, p=weights / weights.sum())
    has_tool = rng.random(rows) < shape.tool_rate

    conv_ids = np.char.add("conv-", np.char.zfill(np.arange(n).astype("U8"), 8))
    conv_str = conv_ids[conv]
    role = np.where(turn % 2 == 0, "user", "assistant")
    tools = np.char.add("tool_", np.char.zfill(tool_idx.astype("U2"), 2))
    text = np.char.add(np.char.add(conv_str, ":"), turn.astype("U2"))
    base = np.datetime64("2024-01-01T00:00:00", "us")
    t0 = base + rng.integers(0, 86_400, size=n).astype("timedelta64[s]")
    ts = np.repeat(t0, n_turns) + (turn * 60).astype("timedelta64[s]")

    return pa.table(
        {
            "conv_id": pa.array(conv_str, pa.string()),
            "turn_idx": pa.array(turn.astype(np.int32), pa.int32()),
            "role": pa.array(role, pa.string()),
            "text": pa.array(text, pa.string()),
            "tool": pa.array(tools, pa.string(), mask=~has_tool),
            "ts": pa.array(ts, pa.timestamp("us", tz="UTC")),
        }
    )


def ensure_transcripts(root: str, shape: Shape, seed: int) -> str:
    """Path of the parquet directory for (shape, seed), written once.

    The directory is sealed by a ``_DONE`` marker, so a run killed
    while writing leaves no half table that a later run would trust.
    """
    path = os.path.join(root, "inputs", f"{shape.key()}-s{seed}")
    if os.path.exists(os.path.join(path, "_DONE")):
        return path
    os.makedirs(path, exist_ok=True)
    table = make_table(shape, seed)
    step = -(-table.num_rows // N_FILES)
    for i in range(N_FILES):
        pq.write_table(
            table.slice(i * step, step), os.path.join(path, f"part-{i}.parquet")
        )
    open(os.path.join(path, "_DONE"), "w").close()
    return path
