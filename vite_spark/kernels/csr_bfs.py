"""Packed-CSR multi-source BFS (landmark hop distances) and landmark SSSP
as an owner-authored sweep (kernels/csr_pr.py ``_owner_sweep`` holds the
exchange, both tiers and the driver loop).

Semantics (shared with the join path in algos/bfs.py and the recursive
oracle SQL): for every landmark L and vertex v,
``dist(v, L) = min hops from v to L following edge direction`` —
the Bellman-Ford-style Jacobi operator

    d_{t}(v, L) = min(d_{t-1}(v, L), 1 + min_{(v,u) in E} d_{t-1}(u, L))

seeded d_0(L, L) = 0, run to fixpoint (O(eccentricity) iterations). On
the engine's canonical SYMMETRIZED edge table this is the undirected BFS
distance; on a directed table it is the hops-to-landmark distance.
Unreachable pairs are omitted from the output (the join path and the
oracle agree). Under ``weighted`` the step is the min-plus relaxation
``+ w(v, u)`` over float64 distances.

This is csr_cc's operator with two changes: state per owned vertex is
an (nown, L) distance MATRIX instead of one label (L = number of
landmarks — the exchange and the sweep vectorize over landmark columns;
`np.minimum.reduceat(..., axis=0)` handles all L columns in the one
segment pass), and the relaxation adds 1 (or the edge weight) to the
gathered neighbor rows. Exchange volume is Σ_p |U_p|·L state entries
per iteration. Per-partition memory O((nv/p + |U_p|)·L); for landmark
counts where nv·L state stops fitting the exchange budget, run in
landmark batches — a caller-side `for` over the landmark array.

int32 state on the unweighted path: a hop distance written at superstep
t is ≤ t ≤ max_iter, a STRUCTURAL bound — distances grow one hop per
superstep — so with max_iter < 2^30 no reachable distance can approach
the INF32 = 2^30 sentinel (asserted at entry); the narrower dtype HALVES
the gather and relax traffic of the bandwidth-bound sweep, the kernel's
hot term at every scale. INF32 + 1 = 2^30 + 1 < 2^31, so +1 never
overflows int32 (and the min against old restores the sentinel for
unreached rows).

Exactness: distances are small integers (min and +1 are exact in every
accumulation order), and min-plus has no accumulation-order ambiguity
(exact for integer-valued weights < 2^53), so distances AND
per-iteration changed counts equal the join path's in every tier
(pytest-enforced, tests/test_bfs_packed.py).

Fallbacks to the join path: a non-local master (sharded loop only), an
input that is not vertex-closed (a dst that is never a src has no owner to author its
distances), and a landmark that is not a graph vertex (the join path's
unconditional (lm, lm, 0) seed row has no owner here).
"""

from __future__ import annotations

import numpy as np

from vite_spark.kernels.csr_pr import OwnerSweep, _members, _owner_sweep

INF32 = np.int32(2) ** 30    # unweighted: dist ≤ max_iter < 2^30, +1 safe


def csr_shortest_paths(spark, edges, landmarks, max_iter, cfg, metrics,
                       weighted=False):
    """Packed-CSR landmark-BFS / weighted-SSSP driver. Returns the
    (id, landmark, dist) DataFrame over reachable pairs (dist long for
    hop counts, double under ``weighted``), or None when a precondition
    fails (caller runs the join path)."""
    if not landmarks:
        return None
    # int32 state safety is structural — a distance written at superstep
    # t is ≤ t — but only while the iteration cap stays below the
    # sentinel; enforce it rather than assume it (the int32 lesson)
    assert max_iter < int(INF32) - 1, \
        f"max_iter {max_iter} would let hop distances reach the int32 " \
        f"sentinel {int(INF32)}"
    lms = np.asarray(sorted(set(int(x) for x in landmarks)), np.int64)
    dt, inf = (np.float64, np.inf) if weighted else (np.int32, INF32)

    def init(ids):
        d = np.full((len(ids), len(lms)), inf, dt)
        pos, hit = _members(ids, lms)
        d[pos[hit], np.flatnonzero(hit)] = 0
        return d

    def sweep(curr, own_pos, srcl, dstl, seg, w):
        relax = curr[np.asarray(dstl, np.int64), :]
        if weighted:
            # inf + w stays inf: unreached neighbors never relax
            relax = relax + np.asarray(w, np.float64)[:, None]
            return np.minimum(curr[own_pos],
                              np.minimum.reduceat(relax, seg, axis=0))
        return np.minimum(curr[own_pos],
                          np.minimum.reduceat(relax, seg, axis=0) + 1)

    def rows(own, d):
        ii, jj = np.nonzero(np.isfinite(d) if weighted else d < INF32)
        return {"id": np.asarray(own, np.int64)[ii], "landmark": lms[jj],
                "dist": d[ii, jj] if weighted
                else d[ii, jj].astype(np.int64)}

    return _owner_sweep(spark, edges, max_iter, cfg, metrics, OwnerSweep(
        algo="bfs", prefix="bfd",
        mode="csr_sharded_sssp" if weighted else "csr_sharded_bfs",
        out="id long, landmark long, dist "
            + ("double" if weighted else "long"),
        init=init, sweep=sweep, rows=rows, weights=weighted, seeds=lms,
        key={"landmarks": lms.tolist(), "weighted": weighted},
        tags={"landmarks": len(lms)}))
