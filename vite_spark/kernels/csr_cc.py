"""Packed-CSR connected components (min-label propagation) on the sharded
pack — the fourth north-rule-named algorithm over the shared kernel
infrastructure (Louvain kernels/csr*.py, PageRank kernels/csr_pr.py, LPA
kernels/csr_lpa.py).

The join-path `algos/components.connected_components` runs the identical
Jacobi operator — label_{t+1}(v) = min(label_t(v), min over N(v)) — as one
shuffle join + grouped min per superstep; measured 0.432 per-core scaling
efficiency 4→16 (BENCH.md r4) because at verification scale each round's
parallel work is small and the fixed per-round job machinery dominates.
This kernel runs the same operator over the sharded CSR pack
(kernels/csr_sharded.py: 1-D range ownership, per-partition sorted
universe ux, pack-time req_{owner}_{reader} interest sets), and it is the
SIMPLEST of the packed kernels: labels are integers (no float-order
domain gate — min is associative/commutative/idempotent, so every
summation order is exact), state is owner-authored like LPA's, and the
pack's (src, dst)-sorted row order means the per-iteration sweep needs no
grouping sort at all — srcl is non-decreasing, so the neighbor minimum is
ONE gather plus `np.minimum.reduceat` over the existing segment bounds.

Two tiers, one gate (csr_pr._run_packed): a run whose pack would have
one partition, with no ``checkpoint_dir``, takes the single-task tier —
csr_pr._single_task moves the edge rows into one task, which runs the
whole fixpoint in place over what a one-partition pack holds (ux ==
own, no exchange) in ONE job. Every other run takes the sharded job
loop. Integer min is order-free, so both tiers produce the same labels
and per-iteration changed counts as the join path.

Sharded job loop, per iteration ONE job; task p:

1. **Gather** curr over U_p at t-1 (identity at t=1) by slicing each
   owner's `cown_{t-1}_{q}` vector through the static req sets into the
   contiguous universe spans (the ascending-id-run invariant the Louvain
   dense advance and the LPA/PageRank exchanges use). Exchange volume is
   Σ_p |U_p| int64s per iteration — the ghost-set lower bound.
2. **Sweep**: nbr_min[s] = min over the partition's rows of curr[dstl]
   per src segment (minimum.reduceat; own = unique(src), so segments
   enumerate own indices densely — asserted); new = min(old, nbr_min).
3. Save `cown_{t}_{p}` (O(nv/p)); the changed count rides the sentinel
   row. Driver stops when Σ changed == 0 — the fixpoint is the exact
   `connected_components` contract (component = min vertex id), and the
   ITERATES match the join path one-for-one (same Jacobi operator on the
   same integers), so per-iteration changed counts are pytest-comparable.

Scale shape: per-partition memory O(nv/p + |U_p|), nothing O(nv) on any
worker, scalars only on the driver — the same 100×-survivability argument
as the LPA/PageRank kernels. Min-propagation converges in O(diameter)
iterations; for high-diameter graphs at cluster scale the
O(log²)-round `connected_components_twophase` (large-star/small-star)
remains the right DataFrame shape, and the join path remains the
multi-cluster fallback for non-local masters and open (non-vertex-closed)
inputs.

Reference analog: Vite has no CC; the owner-authored dense exchange is
its fillRemoteCommunities send shape (/root/reference/louvain.cpp:
2583-2954) at the always-dense operating point, shared with csr_lpa.py.
"""

from __future__ import annotations

import os
import time

import numpy as np

from vite_spark.kernels.csr import _atomic_save, _pid_frame
from vite_spark.kernels.csr_pr import _emit_own, _run_packed, _single_task
from vite_spark.kernels.csr_sharded import (
    _load_bounds,
    _req_of,
    _ux_owner_span,
)

CC_TRANSIENT_PREFIXES = ("cown_",)


def _cc_job(spark, pack_dir, nparts, t, routing, ckpt_dir=None):
    """Iteration ``t``: gather labels at t-1, per-src neighbor min, save
    cown_{t}; one sentinel row (pid, changed) per partition. When
    ``ckpt_dir`` is set, each task also copies its new state vector there
    (runtime/iter_checkpoint.py layout; the driver commits the marker
    after the job returns)."""
    owners_of, _ = routing

    def run(pdf_iter):
        import pandas as pd

        for pdf in pdf_iter:
            for pid in pdf["pid"]:
                pid = int(pid)
                own = np.load(os.path.join(pack_dir, f"own_{pid}.npy"),
                              mmap_mode="r")
                if len(own) == 0:
                    yield pd.DataFrame(
                        {"pid": [pid], "changed": [np.int64(0)]})
                    continue
                ux = np.load(os.path.join(pack_dir, f"ux_{pid}.npy"),
                             mmap_mode="r")

                # --- gather curr over U_p at t-1 ---
                if t == 1:
                    curr = np.asarray(ux, dtype=np.int64)  # identity; read-only below
                else:
                    starts, bpids = _load_bounds(pack_dir)
                    curr = np.empty(len(ux), np.int64)
                    for q in owners_of.get(pid, ()):
                        lo, hi = _ux_owner_span(ux, starts, bpids, q)
                        req = _req_of(pack_dir, q, pid)
                        lq = np.load(os.path.join(
                            pack_dir, f"cown_{t - 1}_{int(q)}.npy"),
                            mmap_mode="r")
                        curr[lo:hi] = lq[req]
                own_pos = np.searchsorted(ux, own)
                old_own = curr[own_pos].copy()

                # --- sweep: per-src min of neighbor labels ---
                # pack rows are (src, dst)-sorted, so srcl is
                # non-decreasing and segments need no grouping sort;
                # own = unique(src) means the segments enumerate own
                # indices 0..nown-1 densely (srcl = cumsum-1 at pack time)
                srcl = np.load(os.path.join(
                    pack_dir, f"srcl_{pid}.npy"), mmap_mode="r")
                dstl = np.load(os.path.join(
                    pack_dir, f"dstl_{pid}.npy"), mmap_mode="r")
                starts_seg = np.flatnonzero(
                    np.r_[True, srcl[1:] != srcl[:-1]])
                assert len(starts_seg) == len(own), \
                    "pack invariant broken: segments must enumerate own"
                nbr_min = np.minimum.reduceat(curr[dstl], starts_seg)
                new_own = np.minimum(old_own, nbr_min)

                changed = int((new_own != old_own).sum())
                _atomic_save(
                    os.path.join(pack_dir, f"cown_{t}_{pid}.npy"), new_own)
                if ckpt_dir is not None:
                    from vite_spark.runtime.iter_checkpoint import \
                        save_shard
                    save_shard(ckpt_dir, pid, own, new_own)
                old = t - 2
                if old >= 1:
                    try:
                        os.remove(os.path.join(
                            pack_dir, f"cown_{old}_{pid}.npy"))
                    except OSError:
                        pass
                yield pd.DataFrame(
                    {"pid": [pid], "changed": [np.int64(changed)]})

    return _pid_frame(spark, nparts).mapInPandas(
        run, schema="pid int, changed long"
    )


def csr_cc(spark, edges, max_iter, cfg, metrics):
    """Packed-CSR connected-components driver. Returns the
    (id, component) DataFrame, or None when a precondition fails (caller
    runs the join path): non-local master (the pack is a shared
    filesystem), or input not vertex-closed (a dst that is never a src
    has no owner to author its label)."""

    def single(edges):
        def body(own, srcl, dstl, seg, w):
            lab = own.astype(np.int64, copy=True)
            chg = []
            for _t in range(1, max_iter + 1):
                new = np.minimum(lab, np.minimum.reduceat(lab[dstl], seg))
                changed = int((new != lab).sum())
                chg.append(changed)
                lab = new
                if changed == 0:
                    break
            return chg, lab

        # no self-loop filter: the packed path packs edges as-is, and a
        # vertex with only self-loops must still receive its identity label
        res = _single_task(spark, edges, ("src", "dst"), "component", "long",
                           body)
        if res is None:
            return None
        out, chg, wall, ne = res
        for t, c in enumerate(chg, 1):
            metrics.record(kind="cc_superstep", iter=t, changed=c,
                           wall_s=wall / max(len(chg), 1),
                           edges_processed=ne, mode="csr_sharded_min")
        return out

    def step(pack_dir, nparts, info, routing):
        from vite_spark.runtime import iter_checkpoint as ic

        ckroot = cfg.checkpoint_dir
        start_t = 0
        if ckroot:
            ck = ic.latest_complete(ckroot, "cc")
            if ck is not None and ic.validate(ck, info, nparts):
                t0 = time.time()
                if ic.restore_job(spark, pack_dir, nparts,
                                  ic.iter_dir(ckroot, "cc", ck["t"]),
                                  f"cown_{ck['t']}"):
                    start_t = min(int(ck["t"]), max_iter)
                    metrics.record(kind="cc_resume", iter=start_t,
                                   wall_s=time.time() - t0,
                                   mode="csr_sharded_min")

        t_final = max(start_t, 1)
        for t in range(start_t + 1, max_iter + 1):
            t_final = t
            ck_dir = None
            if ckroot and t % max(cfg.checkpoint_every, 1) == 0:
                ck_dir = ic.prepare_iter(ckroot, "cc", t)
            t0 = time.time()
            sent = _cc_job(spark, pack_dir, nparts, t, routing,
                           ckpt_dir=ck_dir).collect()
            changed = int(sum(r["changed"] for r in sent))
            if ck_dir is not None:
                ic.mark_complete(ckroot, "cc", t, {
                    "changed": changed, "nv": int(info["nv"]),
                    "ne": int(info["ne"]), "nparts": nparts})
            metrics.record(kind="cc_superstep", iter=t, changed=changed,
                           wall_s=time.time() - t0,
                           edges_processed=int(info["ne"]),
                           mode="csr_sharded_min")
            if changed == 0:
                break
        return _emit_own(spark, pack_dir, nparts, "id long, component long",
                         [("component", f"cown_{t_final}")])

    return _run_packed(spark, edges, cfg, CC_TRANSIENT_PREFIXES, step,
                       single=single)
