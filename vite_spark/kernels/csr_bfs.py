"""Packed-CSR multi-source BFS (landmark hop distances) on the sharded
pack — the fifth algorithm over the shared kernel infrastructure
(Louvain kernels/csr*.py, PageRank csr_pr.py, LPA csr_lpa.py, CC
csr_cc.py, triangles csr_tri*.py).

Semantics (shared with the join path in algos/bfs.py and the recursive
oracle SQL): for every landmark L and vertex v,
``dist(v, L) = min hops from v to L following edge direction`` —
the Bellman-Ford-style Jacobi operator

    d_{t}(v, L) = min(d_{t-1}(v, L), 1 + min_{(v,u) in E} d_{t-1}(u, L))

seeded d_0(L, L) = 0, run to fixpoint. On the engine's canonical
SYMMETRIZED edge table this is the undirected BFS distance; on a
directed table it is the hops-to-landmark distance. Unreachable pairs
are omitted from the output (the join path and the oracle agree).

This is structurally csr_cc with two changes: state per owned vertex is
an (nown, L) int32 distance MATRIX instead of one label (L = number of
landmarks — the exchange and the sweep vectorize over landmark columns;
`np.minimum.reduceat(..., axis=0)` handles all L columns in the one
segment pass), and the relaxation adds 1 to the gathered neighbor rows.
Distances are small integers (min and +1 are exact in every accumulation
order), so the packed iterates — distances AND per-iteration changed
counts — are IDENTICAL to the join path's by construction
(pytest-enforced, tests/test_bfs_packed.py).

Per iteration, ONE job; task p:

1. **Gather** the (|U_p|, L) distance block at t-1 by slicing each
   owner's ``bfd_{t-1}_{q}`` matrix through the static pack-time req
   sets into the contiguous universe spans (the same ascending-id-run
   invariant every dense exchange here uses). Exchange volume is
   Σ_p |U_p|·L int32s per iteration (int32 state on the unweighted
   path: a hop distance written at superstep t is ≤ t ≤ max_iter, a
   STRUCTURAL bound — distances grow one hop per superstep — so with
   max_iter < 2^30 no reachable distance can approach the INF32 = 2^30
   sentinel, asserted at entry; the narrower dtype HALVES the gather
   and relax traffic of the bandwidth-bound sweep, the kernel's hot
   term at every scale). At t == 1 the block is computed locally: 0 on
   landmark columns' own rows, INF elsewhere.
2. **Sweep**: nbr[s, :] = min over the partition's rows of
   curr[dstl, :] per src segment (one 2-D minimum.reduceat — pack rows
   are (src, dst)-sorted so the segments come free); new = min(old,
   nbr + 1). INF32 + 1 = 2^30 + 1 < 2^31, so +1 never overflows int32
   (and the min against old restores the sentinel for unreached rows).
3. Save ``bfd_{t}_{p}``; the changed count (entries improved) rides the
   sentinel row. Driver stops at Σ changed == 0 — O(eccentricity)
   iterations.

Scale shape: per-partition memory O((nv/p + |U_p|)·L), nothing O(nv) on
any worker, scalars only on the driver. L is a query parameter (a few
to a few dozen landmarks); for landmark counts where nv·L state stops
fitting the exchange budget, run in landmark batches — the driver loop
already takes the landmark array, so batching is a caller-side `for`.

Preconditions (caller falls back to the join path on None): local
master (shared pack filesystem), vertex-closed input (a dst that is
never a src has no owner to author its distances), and every landmark
present as a vertex (validated from the t == 1 sentinels — seeded-row
count must equal L). Reference analog: Vite has no BFS; the
owner-authored dense exchange is its fillRemoteCommunities send shape
(/root/reference/louvain.cpp:2583-2954) at the always-dense operating
point, shared with csr_lpa.py/csr_cc.py.
"""

from __future__ import annotations

import os
import time

import numpy as np

from vite_spark.kernels.csr import _atomic_save, _pid_frame
from vite_spark.kernels.csr_pr import _run_packed
from vite_spark.kernels.csr_sharded import (
    _load_bounds,
    _req_of,
    _ux_owner_span,
)

BFS_TRANSIENT_PREFIXES = ("bfd_",)

INF = np.int64(2) ** 62      # weighted path retains the wide sentinel
INF32 = np.int32(2) ** 30    # unweighted: dist ≤ max_iter < 2^30, +1 safe


def _bfs_job(spark, pack_dir, nparts, t, routing, landmarks,
             weighted=False):
    """Iteration ``t``: gather the (|U_p|, L) distance block at t-1,
    per-src 2-D neighbor min + 1 (or + edge weight under ``weighted`` —
    the min-plus Bellman-Ford relaxation; distances are then float64,
    exact for integer-valued weights < 2^53, and min-plus has no
    accumulation-order ambiguity regardless), save bfd_{t}; one sentinel
    row (pid, changed, seeded) per partition. ``seeded`` (t == 1 only)
    counts owned landmark rows — the driver validates Σ seeded == L."""
    owners_of, _ = routing
    lms = np.asarray(sorted(landmarks), dtype=np.int64)
    L = len(lms)
    dt = np.float64 if weighted else np.int32
    inf = np.float64(np.inf) if weighted else INF32

    def run(pdf_iter):
        import pandas as pd

        for pdf in pdf_iter:
            for pid in pdf["pid"]:
                pid = int(pid)
                own = np.load(os.path.join(pack_dir, f"own_{pid}.npy"),
                              mmap_mode="r")
                if len(own) == 0:
                    yield pd.DataFrame(
                        {"pid": [pid], "changed": [np.int64(0)],
                         "seeded": [np.int64(0)]})
                    continue
                ux = np.load(os.path.join(pack_dir, f"ux_{pid}.npy"),
                             mmap_mode="r")

                # --- gather curr (|U_p|, L) at t-1 ---
                seeded = 0
                if t == 1:
                    curr = np.full((len(ux), L), inf, dt)
                    pos = np.searchsorted(ux, lms)
                    okl = (pos < len(ux))
                    okl[okl] &= np.asarray(ux, np.int64)[pos[okl]] == lms[okl]
                    curr[pos[okl], np.flatnonzero(okl)] = 0
                else:
                    starts, bpids = _load_bounds(pack_dir)
                    curr = np.empty((len(ux), L), dt)
                    for q in owners_of.get(pid, ()):
                        lo, hi = _ux_owner_span(ux, starts, bpids, q)
                        req = _req_of(pack_dir, q, pid)
                        dq = np.load(os.path.join(
                            pack_dir, f"bfd_{t - 1}_{int(q)}.npy"),
                            mmap_mode="r")
                        curr[lo:hi, :] = dq[req, :]
                own_pos = np.searchsorted(ux, own)
                old_own = curr[own_pos, :].copy()
                if t == 1:
                    seeded = int((old_own == 0).sum())

                # --- sweep: per-src 2-D min of neighbor distances + 1 ---
                srcl = np.load(os.path.join(
                    pack_dir, f"srcl_{pid}.npy"), mmap_mode="r")
                dstl = np.load(os.path.join(
                    pack_dir, f"dstl_{pid}.npy"), mmap_mode="r")
                starts_seg = np.flatnonzero(
                    np.r_[True, srcl[1:] != srcl[:-1]])
                assert len(starts_seg) == len(own), \
                    "pack invariant broken: segments must enumerate own"
                relax = curr[np.asarray(dstl, np.int64), :]
                if weighted:
                    w = np.load(os.path.join(
                        pack_dir, f"w_{pid}.npy"), mmap_mode="r")
                    # inf + w stays inf: unreached neighbors never relax
                    relax = relax + np.asarray(w, np.float64)[:, None]
                    nbr_min = np.minimum.reduceat(relax, starts_seg, axis=0)
                    new_own = np.minimum(old_own, nbr_min)
                else:
                    nbr_min = np.minimum.reduceat(relax, starts_seg, axis=0)
                    new_own = np.minimum(old_own, nbr_min + 1)

                changed = int((new_own != old_own).sum())
                _atomic_save(
                    os.path.join(pack_dir, f"bfd_{t}_{pid}.npy"), new_own)
                old = t - 2
                if old >= 1:
                    try:
                        os.remove(os.path.join(
                            pack_dir, f"bfd_{old}_{pid}.npy"))
                    except OSError:
                        pass
                yield pd.DataFrame(
                    {"pid": [pid], "changed": [np.int64(changed)],
                     "seeded": [np.int64(seeded)]})

    return _pid_frame(spark, nparts).mapInPandas(
        run, schema="pid int, changed long, seeded long"
    )


def csr_shortest_paths(spark, edges, landmarks, max_iter, cfg, metrics,
                       weighted=False):
    """Packed-CSR landmark-BFS / weighted-SSSP driver. Returns the
    (id, landmark, dist) DataFrame over reachable pairs (dist long for
    hop counts, double under ``weighted``), or None when a precondition
    fails (caller runs the join path): non-local master, input not
    vertex-closed, or a landmark that is not a graph vertex."""
    if not landmarks:
        return None
    # int32 state safety is structural — a distance written at superstep
    # t is ≤ t — but only while the iteration cap stays below the
    # sentinel; enforce it rather than assume it (the int32 lesson)
    assert max_iter < int(INF32) - 1, \
        f"max_iter {max_iter} would let hop distances reach the int32 " \
        f"sentinel {int(INF32)}"
    lms = np.asarray(sorted(set(int(x) for x in landmarks)), np.int64)

    def step(pack_dir, nparts, info, routing):
        t_final = 1
        for t in range(1, max_iter + 1):
            t_final = t
            t0 = time.time()
            sent = _bfs_job(spark, pack_dir, nparts, t, routing,
                            lms, weighted=weighted).collect()
            changed = int(sum(r["changed"] for r in sent))
            if t == 1:
                seeded = int(sum(r["seeded"] for r in sent))
                if seeded != len(lms):
                    # a landmark is not a graph vertex: the join path's
                    # unconditional (lm, lm, 0) seed row has no owner
                    # here — fall back rather than silently diverge
                    return None
            metrics.record(kind="bfs_superstep", iter=t, changed=changed,
                           wall_s=time.time() - t0,
                           edges_processed=int(info["ne"]),
                           landmarks=len(lms),
                           mode="csr_sharded_sssp" if weighted
                           else "csr_sharded_bfs")
            if changed == 0:
                break

        lms_b = spark.sparkContext.broadcast(lms)

        def emit(pdf_iter):
            import pandas as pd

            lmv = lms_b.value
            for pdf in pdf_iter:
                for pid in pdf["pid"]:
                    pid = int(pid)
                    own = np.load(os.path.join(pack_dir, f"own_{pid}.npy"),
                                  mmap_mode="r")
                    if len(own) == 0:
                        continue
                    d = np.load(os.path.join(
                        pack_dir, f"bfd_{t_final}_{pid}.npy"))
                    ii, jj = np.nonzero(
                        np.isfinite(d) if weighted else d < INF32)
                    yield pd.DataFrame({
                        "id": np.asarray(own, np.int64)[ii],
                        "landmark": lmv[jj],
                        "dist": (d[ii, jj] if weighted
                                 else d[ii, jj].astype(np.int64)),
                    })

        return _pid_frame(spark, nparts).mapInPandas(
            emit,
            schema="id long, landmark long, dist "
                   + ("double" if weighted else "long"),
        ).localCheckpoint(eager=True)

    return _run_packed(spark, edges, cfg, BFS_TRANSIENT_PREFIXES, step)
