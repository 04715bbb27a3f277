"""Packed-CSR synchronous label propagation on the sharded pack.

Same infrastructure as the packed PageRank (kernels/csr_pr.py): the
sharded Louvain pack (range ownership, sorted per-partition universe ux,
pack-time req_{owner}_{reader} interest sets) plus the observation that
synchronous LPA state — like PageRank's and unlike Louvain's — is fully
determined by the previous iteration's labels: no community aggregates,
no flow partials, no replay.

The exchange is even simpler than PageRank's: labels are OWNER-authored,
so each iteration every partition ships exactly ONE array — its post-
iteration own-label vector `lown_{t}_{p}` (O(nv/p) bytes; Σ = nv per
iteration) — and readers assemble their universe view by slicing each
owner's vector through the static req sets into the contiguous
universe spans (the same ascending-id-run invariant the Louvain dense
advance uses). One job per iteration, task p:

1. **Gather** curr over U_p at t-1 (identity at t=1) from the owners'
   `lown_{t-1}_{q}` mmaps — page-touches of the referenced entries only.
2. **Sweep**: drop self-loop rows, group rows by (src, tracked-label)
   via the adaptive radix/timsort grouping the Louvain kernels use
   (csr._grouped_segments), sum weights per group, then per src take the
   max-vote label with min-label tie-break (tkeys sorted ⇒ min tracked
   index ≡ min label — the algos/lpa.py ordered-argmax discipline).
   Chunked at src boundaries (result-invariant) to bound transients.
3. Save `lown_{t}_{p}`; the changed-label count rides the sentinel row
   (known same-job — LPA needs no one-job-late protocol).

Exactness domain: with integer-valued edge weights every vote sum is
exact in both this kernel and the join path (doubles < 2^53), so labels
are IDENTICAL; with non-integer weights a float-tied vote could resolve
differently across summation orders, so the dispatch auto-routes
non-integer-weight graphs to the join path (same gate as the sharded
Louvain kernel, r3 ADVICE #1). Preconditions otherwise as csr_pr:
local master, vertex-closed input (labels of every dst must be owned
somewhere), else None → join path.

Reference analog: Vite has no LPA; the owner-authored dense exchange is
its fillRemoteCommunities send shape (/root/reference/louvain.cpp:
2583-2954) at the always-dense operating point.
"""

from __future__ import annotations

import os
import time

import numpy as np

from vite_spark.kernels.csr import (
    _atomic_save,
    _grouped_segments,
    _pid_frame,
    _take,
)
from vite_spark.kernels.csr_pr import _emit_own, _run_packed
from vite_spark.kernels.csr_sharded import (
    _load_bounds,
    _req_of,
    _ux_owner_span,
)

LPA_TRANSIENT_PREFIXES = ("lown_",)

# rows per sweep sub-call, cut at src boundaries (per-src votes are
# independent, so chunking is result-invariant — same rationale as
# csr_sharded.SWEEP_CHUNK_ROWS)
_CHUNK_ROWS = 1 << 20


def _lpa_votes(srcl, c_dst, w, ntrk, nown):
    """Per-src winning tracked-label index over one chunk: max vote,
    tie → min tracked index. Returns (src_idx, win_idx) for srcs with
    at least one (non-self) row in the chunk."""
    order, start, g_srcidx, g_ci = _grouped_segments(
        srcl, c_dst, ntrk, nown
    )
    ws = _take(w, order, "lpa_ws")
    e_vc = np.add.reduceat(ws, start)
    new_seg = np.r_[True, g_srcidx[1:] != g_srcidx[:-1]]
    bounds = np.flatnonzero(new_seg)
    max_v = np.maximum.reduceat(e_vc, bounds)
    row_max = np.repeat(max_v, np.diff(np.r_[bounds, len(e_vc)]))
    at_max = e_vc == row_max
    ci_masked = np.where(at_max, g_ci.astype(np.int64),
                         np.iinfo(np.int64).max)
    win = np.minimum.reduceat(ci_masked, bounds)
    return g_srcidx[bounds], win


def _lpa_job(spark, pack_dir, nparts, t, routing, ckpt_dir=None):
    """Iteration ``t``: gather labels at t-1, vote, save lown_{t}; one
    sentinel row (pid, changed) per partition. When ``ckpt_dir`` is set,
    each task also copies its new state vector there
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
                own_pos = np.searchsorted(ux, own).astype(np.int32)

                # --- gather curr over U_p at t-1 ---
                if t == 1:
                    curr = np.asarray(ux, dtype=np.int64).copy()
                else:
                    starts, bpids = _load_bounds(pack_dir)
                    curr = np.empty(len(ux), np.int64)
                    for q in owners_of.get(pid, ()):
                        lo, hi = _ux_owner_span(ux, starts, bpids, q)
                        req = _req_of(pack_dir, q, pid)
                        lq = np.load(os.path.join(
                            pack_dir, f"lown_{t - 1}_{int(q)}.npy"),
                            mmap_mode="r")
                        curr[lo:hi] = lq[req]
                old_own = curr[own_pos].copy()

                # --- sweep (self-loop rows excluded from voting) ---
                srcl = np.load(os.path.join(
                    pack_dir, f"srcl_{pid}.npy"), mmap_mode="r")
                dstl = np.load(os.path.join(
                    pack_dir, f"dstl_{pid}.npy"), mmap_mode="r")
                w = np.load(os.path.join(pack_dir, f"w_{pid}.npy"),
                            mmap_mode="r")
                non_self = dstl != own_pos[srcl]
                if not non_self.all():
                    srcl = np.asarray(srcl)[non_self]
                    dstl = np.asarray(dstl)[non_self]
                    w = np.asarray(w)[non_self]
                new_own = old_own.copy()
                n = len(srcl)
                if n:
                    tkeys, tinv = np.unique(curr, return_inverse=True)
                    cidx = tinv.astype(np.int32)
                    ntrk = len(tkeys)
                    lo_r = 0
                    while lo_r < n:
                        hi_r = min(lo_r + _CHUNK_ROWS, n)
                        if hi_r < n:
                            hi_r = int(np.searchsorted(
                                srcl, srcl[hi_r], side="left"))
                            if hi_r <= lo_r:
                                hi_r = int(np.searchsorted(
                                    srcl, srcl[lo_r], side="right"))
                        s_idx, win = _lpa_votes(
                            srcl[lo_r:hi_r], cidx[dstl[lo_r:hi_r]],
                            w[lo_r:hi_r], ntrk, len(own),
                        )
                        new_own[s_idx] = tkeys[win]
                        lo_r = hi_r
                changed = int((new_own != old_own).sum())
                _atomic_save(
                    os.path.join(pack_dir, f"lown_{t}_{pid}.npy"), new_own)
                if ckpt_dir is not None:
                    from vite_spark.runtime.iter_checkpoint import \
                        save_shard
                    save_shard(ckpt_dir, pid, own, new_own)
                old = t - 2
                if old >= 1:
                    try:
                        os.remove(os.path.join(
                            pack_dir, f"lown_{old}_{pid}.npy"))
                    except OSError:
                        pass
                yield pd.DataFrame(
                    {"pid": [pid], "changed": [np.int64(changed)]})

    return _pid_frame(spark, nparts).mapInPandas(
        run, schema="pid int, changed long"
    )


def csr_lpa(spark, edges, max_iter, cfg, metrics):
    """Packed-CSR LPA driver. Returns the (id, label) DataFrame, or None
    when a precondition fails (caller runs the join path)."""

    def step(pack_dir, nparts, info, routing):
        if not info["w_integer"]:
            # float-tied votes could differ across summation orders —
            # join path
            return None

        from vite_spark.runtime import iter_checkpoint as ic

        ckroot = cfg.checkpoint_dir
        start_t = 0
        if ckroot:
            ck = ic.latest_complete(ckroot, "lpa")
            if ck is not None and ic.validate(ck, info, nparts):
                t0 = time.time()
                if ic.restore_job(spark, pack_dir, nparts,
                                  ic.iter_dir(ckroot, "lpa", ck["t"]),
                                  f"lown_{ck['t']}"):
                    start_t = min(int(ck["t"]), max_iter)
                    metrics.record(kind="lpa_resume", iter=start_t,
                                   wall_s=time.time() - t0,
                                   mode="csr_sharded_lpa")

        t_final = max(start_t, 1)
        for t in range(start_t + 1, max_iter + 1):
            t_final = t
            ck_dir = None
            if ckroot and t % max(cfg.checkpoint_every, 1) == 0:
                ck_dir = ic.prepare_iter(ckroot, "lpa", t)
            t0 = time.time()
            sent = _lpa_job(spark, pack_dir, nparts, t, routing,
                            ckpt_dir=ck_dir).collect()
            changed = int(sum(r["changed"] for r in sent))
            if ck_dir is not None:
                ic.mark_complete(ckroot, "lpa", t, {
                    "changed": changed, "nv": int(info["nv"]),
                    "ne": int(info["ne"]), "nparts": nparts})
            metrics.record(kind="lpa_superstep", iter=t, changed=changed,
                           wall_s=time.time() - t0,
                           edges_processed=int(info["ne"]),
                           mode="csr_sharded_lpa")
            if changed == 0:
                break
        return _emit_own(spark, pack_dir, nparts, "id long, label long",
                         [("label", f"lown_{t_final}")])

    return _run_packed(spark, edges, cfg, LPA_TRANSIENT_PREFIXES, step)
