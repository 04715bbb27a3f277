"""Packed-CSR k-core decomposition (coreness per vertex) as an
owner-authored sweep (kernels/csr_pr.py ``_owner_sweep`` holds the
exchange, the driver and sharded tiers, checkpoint/resume and the driver
loop), via the H-index fixpoint of Lü et al., "The H-index of a network
node and its relation to degree and coreness" (Nat. Commun. 7, 10168,
2016): from c_0(v) = degree(v), iterate

    c_s(v) = H({ c_{s-1}(u) : u in N(v) })

where H(S) is the largest h with at least h elements of S ≥ h. The
sequence is pointwise non-increasing and converges exactly to the
coreness (the largest k such that v lies in the k-core) — a published,
purely local Jacobi operator, which is what makes it the right shape for
the engine's one-job-per-iteration dense-exchange kernels (peeling, the
textbook sequential algorithm, is inherently global/ordered).

The degrees need no job of their own: the state starts at INT32_MAX for
every vertex, and the H-index of d copies of that value is d, so the
first sweep (the ``lead`` sweep, no superstep row) yields c_0. Rows,
``max_iter`` and ``force_iters`` count the H-index sweeps after it;
``max_iter=0`` returns the degrees.

Sweep: per src segment, sort the neighbour values descending (one
np.lexsort on (-vals, srcl)), rank within the segment, and
H = max.reduceat(min(vals_sorted, rank)) — the textbook H-index,
vectorized across every segment at once.

Semantics are over the SIMPLE UNDIRECTED graph; the caller
(algos/core.py) symmetrizes and deduplicates before packing, so the pack
has no self-loops or multi-edges and every vertex is a src (vertex-closed
by construction; the pack is ``core_pack``, shared with kernels/csr_wl.py).
All arithmetic is INT32, exact in every order: the iterates are bounded by
the degrees, and ranks by the partition's row count. Corenesses and
per-sweep changed counts equal the join path's in every tier
(pytest-enforced, tests/test_core_packed.py).
"""

from __future__ import annotations

import numpy as np

from vite_spark.kernels.csr_pr import OwnerSweep, _owner_sweep

INT32_MAX = np.iinfo(np.int32).max


def _unbounded(ids):
    """Every vertex at INT32_MAX: the first sweep yields the degrees."""
    return np.full(len(ids), INT32_MAX, np.int32)


def _hindex_sweep(curr, own_pos, srcl, dstl, seg, w):
    """Per-segment H-index of the neighbours' values (module docstring)."""
    assert len(srcl) < 2 ** 31, "partition rows exceed int32 ranks"
    vals = curr[dstl]
    order = np.lexsort((-vals, srcl))
    rank = (np.arange(1, len(srcl) + 1, dtype=np.int32)
            - np.repeat(np.asarray(seg, np.int32),
                        np.diff(np.r_[seg, len(srcl)])))
    return np.maximum.reduceat(np.minimum(vals[order], rank), seg)


def csr_coreness(spark, edges_simple, max_iter, cfg, metrics,
                 force_iters=False):
    """Packed-CSR coreness over a SIMPLE undirected edge table (caller
    guarantees symmetrized, deduped, self-loop-free — hence
    vertex-closed). Returns the (id, coreness) DataFrame, or None when
    the caller's join path must run: non-local master (sharded tier
    only), empty input, or an input that is not vertex-closed after all.
    ``force_iters`` runs exactly ``max_iter`` H-index sweeps
    (post-convergence sweeps are fixpoint no-ops: the scaling probe's
    fixed-sweep protocol)."""
    return _owner_sweep(spark, edges_simple, max_iter, cfg, metrics,
                        OwnerSweep(
                            algo="core", prefix="hco",
                            mode="csr_sharded_hindex",
                            out="id long, coreness long", init=_unbounded,
                            sweep=_hindex_sweep, lead=1,
                            force_iters=force_iters, cache="core_pack"))
