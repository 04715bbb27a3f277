"""Packed-CSR Weisfeiler–Lehman color refinement on the sharded pack.

The join-path `algos/wl.wl_refine` runs each round as one edges ⋈ labels
join + two hash aggregations — the right DataFrame shape, but its
measured scaling row was the engine's worst (BENCH.md r4: 0.225
noise-hit / ~0.5 clean): per-round job machinery fragments the work at
probe scale exactly as it did for the join-path CC (0.432) before
kernels/csr_cc.py. This kernel is the csr_cc shape for WL — per round
ONE job over the sharded CSR pack of the SIMPLE graph (the same
``core_pack`` `kernels/csr_core.py` runs on; the two kernels share the
cache), task p:

1. **Gather** labels at t-1 over U_p through the pack-time req sets
   (identical exchange to csr_cc/csr_core: Σ_p |U_p| words per round,
   the ghost-set lower bound).
2. **Sweep** (all NumPy, no sort — pack rows are (src,dst)-sorted so
   srcl segments need no grouping): h = hash32_np(curr, s_t); neighbor
   multiset sum = add.reduceat(h[dstl]) per segment (int64 exact —
   uint32 values × deg < 2^31 ⇒ sum < 2^63); k2 = (h_own·31 + sum mod
   2^32) mod 2^32; new = hash32_np(k2, s_t + 501). Bit-identical to
   `wl_refine`'s codegen Jenkins chain and `wl_refine_numpy` (same
   modular arithmetic — pytest parity-pinned), so the packed path slots
   under the existing oracle unchanged.
3. Save wlo_{t}_{p}; the sentinel row carries the partition's distinct
   new-label set only when the caller wants the refinement profile.

Round 0 writes the degree labels (segment lengths), int64 like every
later round (labels are uint32 images from round 1 on). WL keeps its own
round jobs instead of an owner sweep: it reports per-round class counts
and runs a fixed round count. Its pack is ``csr_pr._prepare_pack``'s
``core_pack``, the simplified graph k-core also runs on.

Scale shape: per-partition memory O(nv/p + |U_p|), scalars on the
driver, fixed `rounds` jobs — the csr_cc 100×-survivability argument
verbatim. Vite has no WL; reference analog for the exchange is
fillRemoteCommunities (/root/reference/louvain.cpp:2583-2954) at the
always-dense operating point, shared with csr_cc/csr_lpa.
"""

from __future__ import annotations

import os
import time
from functools import partial

import numpy as np

from vite_spark.algos.coloring import hash32_np
from vite_spark.kernels.csr import _atomic_save, _pid_frame
from vite_spark.kernels.csr_pr import _emit_own, _prepare_pack, _run_packed
from vite_spark.kernels.csr_sharded import (
    _load_bounds,
    _req_of,
    _ux_owner_span,
)
from vite_spark.runtime.metrics import MetricsCollector

M32 = 1 << 32


def _wl_init_job(spark, pack_dir, nparts, want_profile):
    """Write wlo_0 = per-owner degree labels (segment lengths of the
    SIMPLE-graph pack). Sentinel rows carry the partition's distinct
    degrees when the profile is requested (round-0 class count)."""

    def run(pdf_iter):
        import pandas as pd

        for pdf in pdf_iter:
            for pid in pdf["pid"]:
                pid = int(pid)
                own = np.load(os.path.join(pack_dir, f"own_{pid}.npy"),
                              mmap_mode="r")
                if len(own) == 0:
                    yield pd.DataFrame({"pid": [pid], "lab": [np.int64(-1)]})
                    continue
                srcl = np.load(os.path.join(
                    pack_dir, f"srcl_{pid}.npy"), mmap_mode="r")
                starts_seg = np.flatnonzero(
                    np.r_[True, srcl[1:] != srcl[:-1]])
                assert len(starts_seg) == len(own), \
                    "pack invariant broken: segments must enumerate own"
                lens = np.diff(np.r_[starts_seg, len(srcl)]).astype(np.int64)
                _atomic_save(os.path.join(pack_dir, f"wlo_0_{pid}.npy"),
                             lens)
                labs = np.unique(lens) if want_profile \
                    else np.empty(0, np.int64)
                yield pd.DataFrame({
                    "pid": np.full(max(len(labs), 1), pid, np.int32),
                    "lab": labs if len(labs) else np.array([-1], np.int64),
                })

    return _pid_frame(spark, nparts).mapInPandas(
        run, schema="pid int, lab long")


def _wl_job(spark, pack_dir, nparts, t, routing, seed, stride, offset,
            want_profile):
    """Round ``t`` (≥ 1): gather wlo_{t-1}, hash-refine, save wlo_{t}.
    Sentinel rows carry per-partition distinct new labels when the
    profile is requested (lab = -1 placeholder otherwise — labels are
    uint32-valued, so -1 never collides)."""
    owners_of, _ = routing

    def run(pdf_iter):
        import pandas as pd

        for pdf in pdf_iter:
            for pid in pdf["pid"]:
                pid = int(pid)
                own = np.load(os.path.join(pack_dir, f"own_{pid}.npy"),
                              mmap_mode="r")
                if len(own) == 0:
                    yield pd.DataFrame({"pid": [pid], "lab": [np.int64(-1)]})
                    continue
                ux = np.load(os.path.join(pack_dir, f"ux_{pid}.npy"),
                             mmap_mode="r")
                srcl = np.load(os.path.join(
                    pack_dir, f"srcl_{pid}.npy"), mmap_mode="r")
                dstl = np.load(os.path.join(
                    pack_dir, f"dstl_{pid}.npy"), mmap_mode="r")
                starts_seg = np.flatnonzero(
                    np.r_[True, srcl[1:] != srcl[:-1]])

                # --- gather labels over U_p at t-1 ---
                starts, bpids = _load_bounds(pack_dir)
                curr = np.empty(len(ux), np.int64)
                for q in owners_of.get(pid, ()):
                    lo, hi = _ux_owner_span(ux, starts, bpids, q)
                    req = _req_of(pack_dir, q, pid)
                    lq = np.load(os.path.join(
                        pack_dir, f"wlo_{t - 1}_{int(q)}.npy"),
                        mmap_mode="r")
                    curr[lo:hi] = lq[req]
                own_pos = np.searchsorted(ux, own)

                # --- sweep: hash, neighbor-multiset sum, combine ---
                s_t = seed + stride * (t - 1)
                h = hash32_np(curr, s_t).astype(np.int64)
                # exact: uint32 values × deg < 2^31 ⇒ segment sum < 2^63
                nsum = np.add.reduceat(h[dstl], starts_seg)
                k2 = (h[own_pos] * 31 + (nsum % M32)) % M32
                new = hash32_np(k2, s_t + offset).astype(np.int64)

                _atomic_save(
                    os.path.join(pack_dir, f"wlo_{t}_{pid}.npy"), new)
                old = t - 2
                if old >= 0:
                    try:
                        os.remove(os.path.join(
                            pack_dir, f"wlo_{old}_{pid}.npy"))
                    except OSError:
                        pass
                labs = np.unique(new) if want_profile \
                    else np.empty(0, np.int64)
                yield pd.DataFrame({
                    "pid": np.full(max(len(labs), 1), pid, np.int32),
                    "lab": labs if len(labs) else np.array([-1], np.int64),
                })

    return _pid_frame(spark, nparts).mapInPandas(
        run, schema="pid int, lab long")


def csr_wl(spark, edges_simple, rounds, seed, stride, offset, cfg, metrics,
           want_profile=False):
    """Packed-CSR WL driver over a SIMPLE undirected edge table (caller
    guarantees symmetrized, deduped, self-loop-free — vertex-closed),
    through ``csr_pr._run_packed`` (sharded tier only). Returns ((id,
    lab) DataFrame, profile-or-None), or None when the caller's join path
    must run: non-local master, empty input, or routing finds the input
    not vertex-closed."""
    metrics = metrics if metrics is not None else MetricsCollector()

    def _class_count(sent_df):
        return sent_df.filter("lab >= 0").select("lab").distinct().count()

    def step(pack_dir, nparts, info, routing):
        profile = [] if want_profile else None
        sent = _wl_init_job(spark, pack_dir, nparts, want_profile)
        if want_profile:
            profile.append((0, _class_count(sent)))
        else:
            sent.count()
        for t in range(1, rounds + 1):
            t0 = time.time()
            sent = _wl_job(spark, pack_dir, nparts, t, routing,
                           seed, stride, offset, want_profile)
            if want_profile:
                profile.append((t, _class_count(sent)))
            else:
                sent.count()
            metrics.record(kind="wl_round", iter=t,
                           wall_s=time.time() - t0,
                           edges_processed=int(info["ne"]),
                           mode="wl_csr_sharded")
        return _emit_own(spark, pack_dir, nparts, "id long, lab long",
                         [("lab", f"wlo_{rounds}")]), profile

    return _run_packed(spark, edges_simple, cfg, metrics, ("wlo_",), step,
                       prepare=partial(_prepare_pack, cache="core_pack"))
