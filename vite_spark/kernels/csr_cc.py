"""Packed-CSR connected components: min-label propagation as an
owner-authored sweep (kernels/csr_pr.py ``_owner_sweep`` holds the
exchange, both tiers and the driver loop).

The join-path `algos/components.connected_components` runs the identical
Jacobi operator — label_{t+1}(v) = min(label_t(v), min over N(v)) — as one
shuffle join + grouped min per superstep; measured 0.432 per-core scaling
efficiency 4→16 (BENCH.md r4) because at verification scale each round's
parallel work is small and the fixed per-round job machinery dominates.
Here the pack's (src, dst)-sorted row order means the sweep needs no
grouping sort at all: the neighbor minimum is ONE gather plus
`np.minimum.reduceat` over the src segments.

Exactness: labels are integers and min is associative, commutative and
idempotent, so every order is exact — labels AND per-iteration changed
counts equal the join path's in every tier (pytest-enforced). The
fixpoint is the `connected_components` contract (component = min vertex
id). Min-propagation converges in O(diameter) iterations; for
high-diameter graphs at cluster scale the O(log²)-round
`connected_components_twophase` (large-star/small-star) remains the
right DataFrame shape.

Fallbacks to the join path: a non-local master (sharded loop only), and
an input that is not vertex-closed (a dst that is never a src has no owner to author its
label). There is no self-loop filter: the packed path packs edges as-is,
and a vertex with only self-loops keeps its identity label.
"""

from __future__ import annotations

import numpy as np

from vite_spark.kernels.csr_pr import OwnerSweep, _identity, _owner_sweep


def _cc_sweep(curr, own_pos, srcl, dstl, seg, w):
    """new = min(old, per-src minimum of the neighbors' labels)."""
    return np.minimum(curr[own_pos], np.minimum.reduceat(curr[dstl], seg))


def csr_cc(spark, edges, max_iter, cfg, metrics):
    """Packed-CSR connected-components driver. Returns the
    (id, component) DataFrame, or None when a precondition fails (caller
    runs the join path)."""
    return _owner_sweep(spark, edges, max_iter, cfg, metrics, OwnerSweep(
        algo="cc", prefix="cown", mode="csr_sharded_min",
        out="id long, component long", init=_identity, sweep=_cc_sweep))
