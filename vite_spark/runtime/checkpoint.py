"""Per-superstep checkpoint/resume (north_star: "runs resume mid-level").

Layout (versioned, Iceberg-style commit protocol: data first, then an
atomic _COMPLETE marker; readers only trust marked supersteps):

    {dir}/level={L}/iter={I}/assignment/   parquet (id, comm)
    {dir}/level={L}/iter={I}/past/         parquet (id, comm)
    {dir}/level={L}/iter={I}/act/          parquet (id, active, frozen_cw, p), ET only
    {dir}/level={L}/iter={I}/state.json    prev_mod, scalars (iter, nv, ne, two_m)
    {dir}/level={L}/iter={I}/_COMPLETE
    {dir}/level={L}/edges/                 parquet coarse edge table (once per level)
    {dir}/level={L}/_EDGES_COMPLETE
    {dir}/phase_state/comm_all/            parquet (id, label) composed labels
    {dir}/phase_state/meta.json            multi-level loop state
    {dir}/phase_state/_PHASE_COMPLETE

Three writers fill a superstep, one per Louvain tier, all in this layout:

- ``write_superstep`` — the shuffle-join tier: Spark DataFrame writes.
- ``write_superstep_arrays`` — the driver-local tier: NumPy arrays written
  with pyarrow from the driver, no Spark job.
- ``write_shard`` + ``commit_superstep`` — the packed tier: each sweep
  task writes its partition's slice (one parquet file per partition) and
  the driver commits. Sweep job k holds S_{k-1}, so it writes the
  ``assignment`` of iter k-1 and the ``past`` (and ``act``) of iter k; the
  driver commits iter j one job late, after job j+1 — the same protocol
  as the packed tier's modularity.

The per-level tables have two writers each: ``write_level_edges`` and
``write_phase_state`` take DataFrames (the distributed levels);
``write_level_edges_arrays`` and ``write_phase_state_arrays`` take the
driver's NumPy arrays (the levels Louvain runs in the driver) and write
one parquet file with pyarrow, no Spark job.

Every writer empties the superstep dir first (``clear_superstep``): stale
shards of an earlier run with another partition count must never be read.
Supersteps are written when ``iter % checkpoint_every == 0``.

Resume = read the latest complete superstep of the latest level, rebuild
community aggregates from (assignment ⋈ degrees), continue the while-loop.
The assignment parquet doubles as the lineage record: file-per-partition,
deterministic content.
"""

from __future__ import annotations

import json
import os
import re
import shutil


def superstep_dir(root: str, level: int, iter_: int) -> str:
    return os.path.join(root, f"level={level}", f"iter={iter_}")


def _due(iter_: int, every: int) -> bool:
    """Whether superstep ``iter_`` is checkpointed (``checkpoint_every``)."""
    return iter_ >= 1 and iter_ % every == 0


def clear_superstep(root, level, iter_):
    """Empty superstep (level, iter_) before its data is written."""
    d = superstep_dir(root, level, iter_)
    shutil.rmtree(d, ignore_errors=True)
    os.makedirs(d)


def commit_superstep(root, level, iter_, state: dict, has_act=False):
    """state.json, then _COMPLETE — after every data file is in place."""
    d = superstep_dir(root, level, iter_)
    if has_act:
        state = {**state, "has_act": True}
    with open(os.path.join(d, "state.json"), "w") as f:
        json.dump(state, f)
    open(os.path.join(d, "_COMPLETE"), "w").close()


def write_superstep(root, level, iter_, assignment_df, past_df, state: dict,
                    act_df=None):
    """``act_df`` (id, active, frozen_cw, p) is the early-termination
    activity state — persisted whenever the phase runs with ET so a
    resumed run continues the identical freeze/decay trajectory (r2
    VERDICT next#7; resume+ET used to be rejected for lack of it)."""
    clear_superstep(root, level, iter_)
    d = superstep_dir(root, level, iter_)
    assignment_df.write.parquet(os.path.join(d, "assignment"))
    past_df.write.parquet(os.path.join(d, "past"))
    if act_df is not None:
        act_df.write.parquet(os.path.join(d, "act"))
    commit_superstep(root, level, iter_, state, has_act=act_df is not None)


def _write_part(d, part, cols: dict):
    """One parquet file ``{d}/part-{part:05d}.parquet`` from NumPy columns.
    Written under a dot name (readers skip it) and renamed, so a retried
    task never leaves a torn file."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    os.makedirs(d, exist_ok=True)
    name = f"part-{part:05d}.parquet"
    tmp = os.path.join(d, f".{name}.{os.getpid()}")
    pq.write_table(pa.table(cols), tmp)
    os.replace(tmp, os.path.join(d, name))


def write_shard(root, level, iter_, table, part, cols: dict):
    """Table ``table``'s file ``part`` of superstep (level, iter_)."""
    _write_part(os.path.join(superstep_dir(root, level, iter_), table),
                part, cols)


def write_superstep_arrays(root, level, iter_, ids, assignment, past,
                           state: dict, act=None):
    """The NumPy writer: superstep (level, iter_) from per-vertex arrays
    aligned with ``ids`` (``act`` = (active, frozen_cw, p) under ET)."""
    clear_superstep(root, level, iter_)
    write_shard(root, level, iter_, "assignment", 0,
                {"id": ids, "comm": assignment})
    write_shard(root, level, iter_, "past", 0, {"id": ids, "comm": past})
    if act is not None:
        active, frozen_cw, p = act
        write_shard(root, level, iter_, "act", 0, {
            "id": ids, "active": active, "frozen_cw": frozen_cw, "p": p})
    commit_superstep(root, level, iter_, state, has_act=act is not None)


def _replace_table(d, cols: dict):
    """``d`` becomes a one-file parquet table of the NumPy ``cols`` (the
    driver-side ``mode("overwrite")``)."""
    shutil.rmtree(d, ignore_errors=True)
    _write_part(d, 0, cols)


def _mark(d, meta_name, meta: dict, marker):
    with open(os.path.join(d, meta_name), "w") as f:
        json.dump(meta, f)
    open(os.path.join(d, marker), "w").close()


def write_level_edges(root, level, edges_df, meta: dict):
    d = os.path.join(root, f"level={level}")
    edges_df.write.mode("overwrite").parquet(os.path.join(d, "edges"))
    _mark(d, "edges_meta.json", meta, "_EDGES_COMPLETE")


def write_level_edges_arrays(root, level, src, dst, weight, meta: dict):
    """``write_level_edges`` from the driver's arrays (src, dst long,
    weight double)."""
    d = os.path.join(root, f"level={level}")
    _replace_table(os.path.join(d, "edges"),
                   {"src": src, "dst": dst, "weight": weight})
    _mark(d, "edges_meta.json", meta, "_EDGES_COMPLETE")


def latest_complete(root: str):
    """Return (level, iter) of the newest complete superstep, or None."""
    if not os.path.isdir(root):
        return None
    best = None
    for lv in os.listdir(root):
        m = re.match(r"level=(\d+)$", lv)
        if not m:
            continue
        level = int(m.group(1))
        lvdir = os.path.join(root, lv)
        for it in os.listdir(lvdir):
            m2 = re.match(r"iter=(\d+)$", it)
            if not m2:
                continue
            if os.path.exists(os.path.join(lvdir, it, "_COMPLETE")):
                cand = (level, int(m2.group(1)))
                if best is None or cand > best:
                    best = cand
    return best


def read_superstep(spark, root, level, iter_):
    """Returns (assignment, past, state, act) — act is None for non-ET
    checkpoints."""
    d = superstep_dir(root, level, iter_)
    with open(os.path.join(d, "state.json")) as f:
        state = json.load(f)
    assignment = spark.read.parquet(os.path.join(d, "assignment"))
    past = spark.read.parquet(os.path.join(d, "past"))
    act = (
        spark.read.parquet(os.path.join(d, "act"))
        if state.get("has_act") else None
    )
    return assignment, past, state, act


def write_phase_state(root, comm_all_df, meta: dict):
    """Composed labels + multi-level loop state after a completed phase."""
    d = os.path.join(root, "phase_state")
    comm_all_df.write.mode("overwrite").parquet(os.path.join(d, "comm_all"))
    _mark(d, "meta.json", meta, "_PHASE_COMPLETE")


def write_phase_state_arrays(root, ids, labels, meta: dict):
    """``write_phase_state`` from the driver's arrays: ``labels[i]`` is
    the composed label of original vertex ``ids[i]``."""
    d = os.path.join(root, "phase_state")
    _replace_table(os.path.join(d, "comm_all"), {"id": ids, "label": labels})
    _mark(d, "meta.json", meta, "_PHASE_COMPLETE")


def read_phase_state(spark, root):
    d = os.path.join(root, "phase_state")
    if not os.path.exists(os.path.join(d, "_PHASE_COMPLETE")):
        return None
    with open(os.path.join(d, "meta.json")) as f:
        meta = json.load(f)
    comm_all = spark.read.parquet(os.path.join(d, "comm_all"))
    return comm_all, meta


def read_level_edges(spark, root, level):
    d = os.path.join(root, f"level={level}")
    if not os.path.exists(os.path.join(d, "_EDGES_COMPLETE")):
        return None, None
    with open(os.path.join(d, "edges_meta.json")) as f:
        meta = json.load(f)
    return spark.read.parquet(os.path.join(d, "edges")), meta
