"""Packed-CSR synchronous label propagation as an owner-authored sweep
(kernels/csr_pr.py ``_owner_sweep`` holds the exchange, both tiers and
the driver loop). Synchronous LPA state — like PageRank's and unlike
Louvain's — is fully determined by the previous iteration's labels: no
community aggregates, no flow partials, no replay.

Operator (identity labels at t = 0): drop self-loop rows, group rows by
(src, tracked-label) via the adaptive radix/timsort grouping the Louvain
kernels use (csr._grouped_segments), sum weights per group, then per src
take the max-vote label with min-label tie-break (tkeys sorted ⇒ min
tracked index ≡ min label — the algos/lpa.py ordered-argmax discipline).
A src with no voting row keeps its label. Chunked at src boundaries
(result-invariant) to bound transients.

Exactness domain: with integer-valued edge weights every vote sum is
exact in both this kernel and the join path (doubles < 2^53), so labels
are IDENTICAL; with non-integer weights a float-tied vote could resolve
differently across summation orders, so both tiers send non-integer-
weight graphs to the join path (same gate as the sharded Louvain kernel,
r3 ADVICE #1). The other fallbacks: a non-local master (sharded loop
only), and an input that is not vertex-closed (labels of every dst must be owned somewhere).
"""

from __future__ import annotations

import numpy as np

from vite_spark.kernels.csr import _grouped_segments, _take
from vite_spark.kernels.csr_pr import OwnerSweep, _identity, _owner_sweep

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


def _lpa_sweep(curr, own_pos, srcl, dstl, seg, w):
    """The weighted vote over the non-self rows (module docstring)."""
    new_own = curr[own_pos]
    non_self = dstl != own_pos[srcl]
    if not non_self.all():
        srcl, dstl, w = (np.asarray(a)[non_self] for a in (srcl, dstl, w))
    n = len(srcl)
    if n:
        tkeys, tinv = np.unique(curr, return_inverse=True)
        cidx = tinv.astype(np.int32)
        lo = 0
        while lo < n:
            hi = min(lo + _CHUNK_ROWS, n)
            if hi < n:
                hi = int(np.searchsorted(srcl, srcl[hi], side="left"))
                if hi <= lo:
                    hi = int(np.searchsorted(srcl, srcl[lo], side="right"))
            s_idx, win = _lpa_votes(srcl[lo:hi], cidx[dstl[lo:hi]],
                                    w[lo:hi], len(tkeys), len(own_pos))
            new_own[s_idx] = tkeys[win]
            lo = hi
    return new_own


def csr_lpa(spark, edges, max_iter, cfg, metrics):
    """Packed-CSR LPA driver. Returns the (id, label) DataFrame, or None
    when a precondition fails (caller runs the join path)."""
    return _owner_sweep(spark, edges, max_iter, cfg, metrics, OwnerSweep(
        algo="lpa", prefix="lown", mode="csr_sharded_lpa",
        out="id long, label long", init=_identity, sweep=_lpa_sweep,
        weights=True, integer_weights=True))
