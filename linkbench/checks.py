"""Output checks computed apart from the program.

Everything here reads files: the raw transcripts (with DuckDB and
pyarrow) and the result tables the timed operations wrote (with
pyarrow). No Spark and no program code runs, so a fault in the program
cannot make its own check pass. Each check takes the loaded outputs and
the transcript-side reference and returns None when it holds, or a
message saying what differs. ``selftest.py`` corrupts one value per
check and asserts that the check then fails.
"""

from __future__ import annotations

import glob
import json
import os
from dataclasses import dataclass, field

import duckdb
import numpy as np
import pandas as pd
import pyarrow.parquet as pq

from workloads import CHECKPOINT_SUPERSTEPS, CRASH_AFTER, PR_MAX_ITERATIONS, PR_TOLERANCE

PR_DAMPING = 0.85

# XXH64 primes (xxHash spec; Spark's XXH64 uses the same)
_P1 = np.uint64(0x9E3779B185EBCA87)
_P2 = np.uint64(0xC2B2AE3D27D4EB4F)
_P3 = np.uint64(0x165667B19E3779F9)
_P4 = np.uint64(0x85EBCA77C2B2AE63)
_P5 = np.uint64(0x27D4EB2F165667C5)


@dataclass
class Reference:
    """Totals computed from the raw transcripts alone."""

    rows: int
    conversations: int
    tool_rows: int
    distinct_tools: int
    components: int  # conversations without tools + conv-tool components
    triangles: int  # consecutive turns of one conversation, same tool
    edges: pd.DataFrame  # src, dst, rel_type by the north rule, sorted


@dataclass
class Outputs:
    """Result tables of one round, as pandas frames sorted by id."""

    edges: pd.DataFrame  # src, dst, rel_type
    pagerank: pd.DataFrame  # id, score
    wcc: pd.DataFrame  # id, component
    labelprop: pd.DataFrame  # id, label
    triangles: pd.DataFrame  # id, triangles
    triangles_global: int
    checkpointed: pd.DataFrame  # id, score
    resumed: pd.DataFrame  # id, score
    manifest_rows: dict[int, int]  # superstep -> manifest rows
    resume_supersteps: int  # supersteps the resumed run computed
    labelprop_converged: bool
    #: settings the replays need
    pagerank_tolerance: float
    pagerank_max_supersteps: int
    labelprop_iterations: int
    _cache: dict = field(default_factory=dict, repr=False)


def components(n: int, a: np.ndarray, b: np.ndarray) -> np.ndarray:
    """Union-find over dense vertex indices 0..n-1 by min-label hooking
    with pointer jumping: each vertex ends labelled with the smallest
    index of its component."""
    lab = np.arange(n)
    while True:
        new = lab.copy()
        m = np.minimum(lab[a], lab[b])
        np.minimum.at(new, a, m)
        np.minimum.at(new, b, m)
        while True:
            jumped = new[new]
            if np.array_equal(jumped, new):
                break
            new = jumped
        if np.array_equal(new, lab):
            return lab
        lab = new


def _rotl(x: np.ndarray, r: int) -> np.ndarray:
    return (x << np.uint64(r)) | (x >> np.uint64(64 - r))


def _xxh64(data: np.ndarray, seed: np.ndarray) -> np.ndarray:
    """XXH64 of each row of ``data`` (n x L bytes, L < 32) with a per-row
    seed: the short-input path of the xxHash spec."""
    n, length = data.shape
    if length >= 32:
        raise ValueError("only inputs shorter than 32 bytes are supported")
    h = seed + _P5 + np.uint64(length)
    i = 0
    while i + 8 <= length:
        k = np.ascontiguousarray(data[:, i : i + 8]).view("<u8")[:, 0]
        h = _rotl(h ^ (_rotl(k * _P2, 31) * _P1), 27) * _P1 + _P4
        i += 8
    if i + 4 <= length:
        k = np.ascontiguousarray(data[:, i : i + 4]).view("<u4")[:, 0].astype(np.uint64)
        h = _rotl(h ^ (k * _P1), 23) * _P2 + _P3
        i += 4
    for j in range(i, length):
        h = _rotl(h ^ (data[:, j].astype(np.uint64) * _P5), 11) * _P1
    h ^= h >> np.uint64(33)
    h *= _P2
    h ^= h >> np.uint64(29)
    h *= _P3
    h ^= h >> np.uint64(32)
    return h


def spark_xxhash64(*columns: np.ndarray) -> np.ndarray:
    """Spark SQL's ``xxhash64(c1, c2, ...)`` over non-null string columns,
    as int64: seed 42, and each column's UTF-8 bytes hashed with the
    previous column's hash as the seed."""
    h = np.full(len(columns[0]), 42, dtype=np.uint64)
    with np.errstate(over="ignore"):
        for col in columns:
            b = np.char.encode(np.asarray(col, dtype=str), "utf-8")
            raw = b.view(np.uint8).reshape(len(b), b.itemsize)
            lengths = np.char.str_len(b)
            out = np.empty_like(h)
            for length in np.unique(lengths):
                rows = lengths == length
                out[rows] = _xxh64(raw[rows, :length], h[rows])
            h = out
    return h.view(np.int64)


def north_rule_edges(transcripts: str) -> pd.DataFrame:
    """The edge table the north rule derives, rebuilt from the raw
    transcripts: REPLY from turn i to turn i+1 of one conversation, and
    INVOKES from a turn to its tool. Turn ids are
    ``xxhash64(conv_id, ':', turn_idx)`` and tool ids
    ``xxhash64('tool:', tool)``, the ids ``projection.turn_vertex_id``
    and ``tool_vertex_id`` document."""
    t = (
        pq.read_table(transcripts, columns=["conv_id", "turn_idx", "tool"])
        .to_pandas()
        .sort_values(["conv_id", "turn_idx"], ignore_index=True)
    )
    conv = t["conv_id"].to_numpy()
    vid = spark_xxhash64(conv, np.full(len(t), ":"), t["turn_idx"].astype(str).to_numpy())
    same = conv[1:] == conv[:-1]
    has_tool = t["tool"].notna().to_numpy()
    tools = t["tool"].to_numpy()[has_tool]
    edges = pd.DataFrame(
        {
            "src": np.concatenate([vid[:-1][same], vid[has_tool]]),
            "dst": np.concatenate(
                [vid[1:][same], spark_xxhash64(np.full(len(tools), "tool:"), tools)]
            ),
            "rel_type": ["REPLY"] * int(same.sum()) + ["INVOKES"] * len(tools),
        }
    )
    return _sorted_edges(edges)


def _sorted_edges(edges: pd.DataFrame) -> pd.DataFrame:
    return edges.sort_values(["src", "dst", "rel_type"], ignore_index=True)


def reference(transcripts: str) -> Reference:
    con = duckdb.connect()
    src = f"read_parquet('{os.path.join(transcripts, '*.parquet')}')"
    rows, convs, tool_rows, tools = con.execute(
        f"SELECT count(*), count(DISTINCT conv_id), count(tool), "
        f"count(DISTINCT tool) FROM {src}"
    ).fetchone()
    (triangles,) = con.execute(
        f"SELECT count(*) FROM (SELECT tool, lead(tool) OVER "
        f"(PARTITION BY conv_id ORDER BY turn_idx) AS nxt FROM {src}) "
        f"WHERE tool = nxt"
    ).fetchone()
    pairs = con.execute(
        f"SELECT DISTINCT conv_id, tool FROM {src} WHERE tool IS NOT NULL"
    ).fetchnumpy()
    con.close()
    conv_codes, conv_idx = np.unique(pairs["conv_id"], return_inverse=True)
    tool_codes, tool_idx = np.unique(pairs["tool"], return_inverse=True)
    n_conv_tool, n_tool = len(conv_codes), len(tool_codes)
    lab = components(n_conv_tool + n_tool, conv_idx, n_conv_tool + tool_idx)
    return Reference(
        rows=rows,
        conversations=convs,
        tool_rows=tool_rows,
        distinct_tools=tools,
        components=(convs - n_conv_tool) + len(np.unique(lab)),
        triangles=triangles,
        edges=north_rule_edges(transcripts),
    )


def _read(path: str, cols: list[str]) -> pd.DataFrame:
    return pq.read_table(path, columns=cols).to_pandas().sort_values(cols[0], ignore_index=True)


def load(out: str, recs: dict, wl) -> Outputs:
    manifests = {}
    for p in glob.glob(os.path.join(out, "checkpoints", "superstep=*", "manifest.json")):
        with open(p) as f:
            m = json.load(f)
        manifests[int(m["superstep"])] = int(m["rows"])
    return Outputs(
        edges=pq.read_table(os.path.join(out, "edges"), columns=["src", "dst", "rel_type"]).to_pandas(),
        pagerank=_read(os.path.join(out, "pagerank"), ["id", "score"]),
        wcc=_read(os.path.join(out, "wcc"), ["id", "component"]),
        labelprop=_read(os.path.join(out, "labelprop"), ["id", "label"]),
        triangles=_read(os.path.join(out, "triangles"), ["id", "triangles"]),
        triangles_global=int(recs["triangles"].meta["global_triangle_count"]),
        checkpointed=_read(os.path.join(out, "checkpointed_pagerank"), ["id", "score"]),
        resumed=_read(os.path.join(out, "resume"), ["id", "score"]),
        manifest_rows=manifests,
        resume_supersteps=len(recs["resume"].superstep_walls),
        labelprop_converged=recs["labelprop"].did_converge,
        pagerank_tolerance=PR_TOLERANCE if wl.pagerank_supersteps is None else 0.0,
        pagerank_max_supersteps=(
            PR_MAX_ITERATIONS - 1 if wl.pagerank_supersteps is None else wl.pagerank_supersteps
        ),
        labelprop_iterations=wl.labelprop_iterations,
    )


# -- the graph as dense arrays -------------------------------------------


def _dense(o: Outputs):
    """(vertex ids sorted, src index, dst index) of the edge table."""
    if "dense" not in o._cache:
        src = o.edges["src"].to_numpy()
        dst = o.edges["dst"].to_numpy()
        ids, inv = np.unique(np.concatenate([src, dst]), return_inverse=True)
        o._cache["dense"] = (ids, inv[: len(src)], inv[len(src):])
    return o._cache["dense"]


def pagerank_replay(o: Outputs, supersteps: int, tol: float) -> np.ndarray:
    """GDS delta PageRank: rank = delta = 1-d at start; each superstep
    every active vertex with out-degree > 0 sends delta/degree along its
    out-edges, delta' = d * (sum received), rank += delta', and a vertex
    stays active while delta' > tol. With tol > 0 the run stops once no
    vertex is active."""
    ids, s, t = _dense(o)
    n = len(ids)
    deg = np.bincount(s, minlength=n).astype(np.float64)
    rank = np.full(n, 1.0 - PR_DAMPING)
    delta = rank.copy()
    active = np.ones(n, dtype=bool)
    for _ in range(supersteps):
        share = np.where(active & (deg > 0), delta / np.maximum(deg, 1.0), 0.0)
        delta = PR_DAMPING * np.bincount(t, weights=share[s], minlength=n)
        rank = rank + delta
        active = delta > tol
        if tol > 0 and not active.any():
            break
    return rank


def labelprop_step(labels: np.ndarray, ids: np.ndarray, s: np.ndarray, t: np.ndarray) -> np.ndarray:
    """One block Gauss-Seidel iteration of the documented vote rule:
    a vertex takes the label with the most votes among its out-
    neighbours (ties to the smaller label; no out-neighbours keeps its
    label); vertices with even id update first, then odd ids vote
    against the evens' new labels."""

    def winners(lab):
        votes = pd.DataFrame({"v": s, "lab": lab[t]})
        n = votes.groupby(["v", "lab"]).size().reset_index(name="n")
        top = n.sort_values(["v", "n", "lab"], ascending=[True, False, True])
        return top.drop_duplicates("v")

    even = ids % 2 == 0
    half = labels.copy()
    w = winners(labels)
    upd = even[w["v"].to_numpy()]
    half[w["v"].to_numpy()[upd]] = w["lab"].to_numpy()[upd]
    new = half.copy()
    w = winners(half)
    upd = ~even[w["v"].to_numpy()]
    new[w["v"].to_numpy()[upd]] = w["lab"].to_numpy()[upd]
    return new


# -- checks ----------------------------------------------------------------


def check_edge_counts(o: Outputs, ref: Reference) -> str | None:
    got = o.edges["rel_type"].value_counts().to_dict()
    want = {"REPLY": ref.rows - ref.conversations, "INVOKES": ref.tool_rows}
    return None if got == want else f"edge counts {got} != {want}"


def check_edge_set(o: Outputs, ref: Reference) -> str | None:
    """The edge table is exactly the north rule's edges, ids included."""
    got = _sorted_edges(o.edges[["src", "dst", "rel_type"]])
    if got.equals(ref.edges):
        return None
    g = set(got.itertuples(index=False, name=None))
    w = set(ref.edges.itertuples(index=False, name=None))
    extra, missing = sorted(g - w), sorted(w - g)
    return (
        f"edge table: {len(extra)} edges not in the transcripts' rule "
        f"(first {extra[:1]}), {len(missing)} missing (first {missing[:1]}), "
        f"{len(got)} rows against {len(ref.edges)}"
    )


def _vertex_set(o: Outputs, df: pd.DataFrame, ref: Reference, what: str) -> str | None:
    ids = _dense(o)[0]
    n = ref.rows + ref.distinct_tools
    if len(ids) != n:
        return f"edge table has {len(ids)} vertices, transcripts give {n}"
    if len(df) != n or not np.array_equal(df["id"].to_numpy(), ids):
        return f"{what} rows are not the vertex set ({len(df)} rows, {n} vertices)"
    return None


def _scores_match(o: Outputs, df: pd.DataFrame, ref: Reference, supersteps, tol, what) -> str | None:
    bad = _vertex_set(o, df, ref, what)
    if bad:
        return bad
    want = pagerank_replay(o, supersteps, tol)
    got = df["score"].to_numpy()
    if got.min() < 1.0 - PR_DAMPING:
        return f"{what}: a score {got.min()!r} is below 1-d"
    if not np.allclose(got, want, rtol=1e-6, atol=1e-6):
        i = int(np.argmax(np.abs(got - want)))
        return f"{what}: vertex {df['id'].iat[i]} scores {got[i]!r}, replay {want[i]!r}"
    return None


def check_pagerank(o: Outputs, ref: Reference) -> str | None:
    return _scores_match(
        o, o.pagerank, ref, o.pagerank_max_supersteps, o.pagerank_tolerance, "pagerank"
    )


def check_checkpointed_pagerank(o: Outputs, ref: Reference) -> str | None:
    return _scores_match(
        o, o.checkpointed, ref, CHECKPOINT_SUPERSTEPS, 0.0, "checkpointed pagerank"
    )


def check_wcc(o: Outputs, ref: Reference) -> str | None:
    bad = _vertex_set(o, o.wcc, ref, "wcc")
    if bad:
        return bad
    ids, s, t = _dense(o)
    want = ids[components(len(ids), s, t)]
    got = o.wcc["component"].to_numpy()
    if not np.array_equal(got, want):
        i = int(np.argmax(got != want))
        return f"wcc: vertex {ids[i]} in component {got[i]}, union-find gives {want[i]}"
    n = len(np.unique(got))
    if n != ref.components:
        return f"wcc: {n} components, transcripts give {ref.components}"
    return None


def check_triangles(o: Outputs, ref: Reference) -> str | None:
    total = int(o.triangles["triangles"].sum())
    if o.triangles_global != ref.triangles:
        return f"global triangle count {o.triangles_global}, closed form {ref.triangles}"
    if total != 3 * ref.triangles:
        return f"per-vertex triangle counts sum to {total}, not 3 x {ref.triangles}"
    return None


def check_labelprop(o: Outputs, ref: Reference) -> str | None:
    bad = _vertex_set(o, o.labelprop, ref, "labelprop")
    if bad:
        return bad
    ids, s, t = _dense(o)
    labels = ids.copy()
    converged = False
    for _ in range(o.labelprop_iterations):
        new = labelprop_step(labels, ids, s, t)
        converged = np.array_equal(new, labels)
        labels = new
        if converged:
            break
    got = o.labelprop["label"].to_numpy()
    if not np.array_equal(got, labels):
        i = int(np.argmax(got != labels))
        return f"labelprop: vertex {ids[i]} has label {got[i]}, replay {labels[i]}"
    if converged != o.labelprop_converged:
        return f"labelprop reports did_converge={o.labelprop_converged}, replay {converged}"
    if o.labelprop_converged and not np.array_equal(labelprop_step(got, ids, s, t), got):
        return "labelprop reports convergence but its labels are not a fixed point"
    return None


def check_resume(o: Outputs, ref: Reference) -> str | None:
    want = CHECKPOINT_SUPERSTEPS - CRASH_AFTER - 1
    if o.resume_supersteps != want:
        return (
            f"resumed run computed {o.resume_supersteps} supersteps; from the "
            f"snapshot of superstep {CRASH_AFTER} it needs {want}"
        )
    a, b = o.resumed, o.checkpointed
    if not np.array_equal(a["id"].to_numpy(), b["id"].to_numpy()):
        return "resumed run has another vertex set than the uninterrupted run"
    bits_a = a["score"].to_numpy().view(np.int64)
    bits_b = b["score"].to_numpy().view(np.int64)
    if not np.array_equal(bits_a, bits_b):
        i = int(np.argmax(bits_a != bits_b))
        return f"resumed score of vertex {a['id'].iat[i]} is not bit-identical"
    return None


def check_manifests(o: Outputs, ref: Reference) -> str | None:
    want = set(range(CHECKPOINT_SUPERSTEPS))
    if set(o.manifest_rows) != want:
        return f"manifests for supersteps {sorted(o.manifest_rows)}, expected {sorted(want)}"
    n = ref.rows + ref.distinct_tools
    wrong = {k: v for k, v in o.manifest_rows.items() if v != n}
    return f"manifest rows {wrong} != |V| {n}" if wrong else None


CHECKS = {
    "edge_counts": check_edge_counts,
    "edge_set": check_edge_set,
    "pagerank": check_pagerank,
    "wcc": check_wcc,
    "triangles": check_triangles,
    "labelprop": check_labelprop,
    "checkpointed_pagerank": check_checkpointed_pagerank,
    "resume": check_resume,
    "manifests": check_manifests,
}


#: the operation whose output each check reads
CHECKED_OP = {
    "edge_counts": "projection",
    "edge_set": "projection",
    "pagerank": "pagerank",
    "wcc": "wcc",
    "triangles": "triangles",
    "labelprop": "labelprop",
    "checkpointed_pagerank": "checkpointed_pagerank",
    "manifests": "checkpointed_pagerank",
    "resume": "resume",
}


def run_all(o: Outputs, ref: Reference) -> dict[str, str | None]:
    return {name: fn(o, ref) for name, fn in CHECKS.items()}
