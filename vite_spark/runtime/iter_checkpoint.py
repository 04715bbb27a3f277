"""Per-iteration checkpoint/resume for the packed iterative kernels
(PageRank, LPA, connected components, BFS/SSSP) — the north rule's
"resumable from checkpoint with per-partition lineage + metrics" applied
beyond Louvain (whose checkpoints live in runtime/checkpoint.py with a
parquet layout, because its fallback path is cluster-generic).

The packed kernels' state is already per-partition owner-authored arrays
on the shared scratch filesystem, so the checkpoint is the same artifact
promoted to durable storage: each task copies its own state vector PLUS
the vertex ids it covers, and the driver commits with the same data-first
protocol the Louvain checkpoints use (data files, then state.json, then
an atomic _COMPLETE marker — readers only trust marked iterations):

    {root}/{algo}/iter={t}/state_{p}.npy   per-partition state (lineage)
    {root}/{algo}/iter={t}/ids_{p}.npy     vertex ids for state_{p} rows
    {root}/{algo}/iter={t}/state.json      {t, nv, ne, nparts, scalars}
    {root}/{algo}/iter={t}/_COMPLETE

The ids files make the checkpoint LAYOUT-INDEPENDENT. The pack's range
partitioning is NOT reproducible across runs (Spark's repartitionByRange
samples bounds with an RDD-id-dependent seed), so a resumed run's
own_{p} vectors generally differ from the checkpointing run's — and may
even use a different nparts. Restore therefore gathers by id, not by
position: both the old and the new layouts are globally-sorted
range-disjoint slices of the same vertex set, so each new partition's
own range overlaps only a handful of old shards; the restore task mmaps
the old ids files, keeps the 1-2 whose [first, last] range intersects
its own, and searchsorted-extracts its values. The restore runs as one
Spark job (each task pulls only its own slice), so nothing O(nv) touches
the driver.
"""

from __future__ import annotations

import json
import os
import re

import numpy as np


def iter_dir(root: str, algo: str, t: int) -> str:
    return os.path.join(root, algo, f"iter={t}")


def prepare_iter(root: str, algo: str, t: int) -> str:
    """Create (and return) the iteration directory before the job whose
    tasks will write into it."""
    d = iter_dir(root, algo, t)
    os.makedirs(d, exist_ok=True)
    return d


def save_shard(ckpt_dir: str, pid: int, ids: np.ndarray,
               state: np.ndarray) -> None:
    """Task-side: write one partition's (ids, state) shard pair."""
    from vite_spark.kernels.csr import _atomic_save

    _atomic_save(os.path.join(ckpt_dir, f"ids_{pid}.npy"),
                 np.ascontiguousarray(ids))
    _atomic_save(os.path.join(ckpt_dir, f"state_{pid}.npy"), state)


def mark_complete(root: str, algo: str, t: int, scalars: dict) -> None:
    d = iter_dir(root, algo, t)
    tmp = os.path.join(d, f".state.{os.getpid()}")
    with open(tmp, "w") as fh:
        json.dump({"t": t, **scalars}, fh)
    os.replace(tmp, os.path.join(d, "state.json"))
    open(os.path.join(d, "_COMPLETE"), "w").close()


def latest_complete(root: str, algo: str) -> dict | None:
    """state.json of the newest _COMPLETE-marked iteration, or None."""
    base = os.path.join(root, algo)
    if not os.path.isdir(base):
        return None
    best = -1
    for name in os.listdir(base):
        m = re.fullmatch(r"iter=(\d+)", name)
        if m and os.path.exists(os.path.join(base, name, "_COMPLETE")):
            best = max(best, int(m.group(1)))
    if best < 0:
        return None
    with open(os.path.join(iter_dir(root, algo, best), "state.json")) as fh:
        return json.load(fh)


def validate(ck: dict, info: dict, nparts: int) -> bool:
    """The checkpoint is only usable against the SAME input graph: the
    id-keyed shards make it independent of the pack layout (and of
    nparts), so matching (nv, ne) is the guard — two different graphs
    with colliding counts would still restore wrong state, which is why
    callers should point checkpoint_dir at a per-dataset location, the
    same contract as the Louvain checkpoints."""
    del nparts  # restore is layout-independent
    return (ck.get("nv") == int(info["nv"])
            and ck.get("ne") == int(info["ne"]))


def restore_job(spark, pack_dir: str, nparts: int, ckpt_iter_dir: str,
                state_name: str):
    """One job: task p gathers its own ids' values from the id-keyed
    checkpoint shards (mmap range test, then searchsorted extract) and
    writes {pack_dir}/{state_name}_{p}.npy (rows keep the shards'
    trailing shape: BFS state is (nown, L)). Returns True when every
    partition restored every one of its ids."""
    from vite_spark.kernels.csr import _atomic_save, _pid_frame

    try:
        shard_pids = sorted(
            int(m.group(1)) for m in
            (re.fullmatch(r"ids_(\d+)\.npy", f)
             for f in os.listdir(ckpt_iter_dir))
            if m)
    except OSError:
        return False
    if not shard_pids:
        return False

    def run(pdf_iter):
        import pandas as pd

        for pdf in pdf_iter:
            for pid in pdf["pid"]:
                pid = int(pid)
                own = np.load(os.path.join(pack_dir, f"own_{pid}.npy"),
                              mmap_mode="r")
                if len(own) == 0:
                    yield pd.DataFrame({"pid": [pid], "ok": [True]})
                    continue
                lo, hi = int(own[0]), int(own[-1])
                state = None
                filled = 0
                ok = True
                for q in shard_pids:
                    ids = np.load(
                        os.path.join(ckpt_iter_dir, f"ids_{q}.npy"),
                        mmap_mode="r")
                    if len(ids) == 0 or ids[-1] < lo or ids[0] > hi:
                        continue
                    vals = np.load(
                        os.path.join(ckpt_iter_dir, f"state_{q}.npy"),
                        mmap_mode="r")
                    if len(vals) != len(ids):
                        ok = False
                        break
                    # positions in own covered by this shard's id range
                    a = int(np.searchsorted(own, ids[0], "left"))
                    b = int(np.searchsorted(own, ids[-1], "right"))
                    if b <= a:
                        continue
                    pos = np.searchsorted(ids, own[a:b])
                    if not bool((ids[pos] == own[a:b]).all()):
                        ok = False
                        break
                    if state is None:
                        state = np.empty((len(own), *vals.shape[1:]),
                                         vals.dtype)
                    state[a:b] = vals[pos]
                    filled += b - a
                ok = ok and filled == len(own) and state is not None
                if ok:
                    _atomic_save(os.path.join(
                        pack_dir, f"{state_name}_{pid}.npy"), state)
                yield pd.DataFrame({"pid": [pid], "ok": [bool(ok)]})

    res = _pid_frame(spark, nparts).mapInPandas(
        run, schema="pid int, ok boolean").collect()
    return all(r["ok"] for r in res)
