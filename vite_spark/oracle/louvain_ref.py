"""NumPy oracle for Vite's distributed Louvain — exact reference semantics.

Every numbered rule below cites the reference (/root/reference):
- vDegree & 1/(2m):        louvain.cpp:2161-2218
- singleton init:          louvain.cpp:2564-2581 (past=curr=identity)
- neighbor-comm counter:   louvain.cpp:2419-2466 (self-loop weight lands in
                           own-community bucket AND in selfLoop)
- gain:                    louvain.cpp:2263
      gain(c) = 2*(e_vc - eix) - 2*vdeg[v]*(ay - ax)*const
      with eix = counter[cc] - selfLoop, ax = deg(cc) - vdeg[v],
      ay = deg(c); all community degrees/sizes read from the state at the
      START of the iteration (Jacobi sweep: deltas applied only after the
      full sweep, louvain.cpp:2534-2547 invoked at 525-530).
- acceptance/tie-break:    louvain.cpp:2265-2266 — strictly-greater gain
      wins; equal nonzero gain → smaller community id. maxGain starts at
      0.0, so only gain > 0 moves are ever taken; among them the rule is
      lexicographic (max gain, min community id).
- singleton-swap guard:    louvain.cpp:2275-2276 — if chosen target and
      current community are both singletons and target id > current id,
      stay (prevents two singletons swapping forever).
- e-term (clusterWeight):  louvain.cpp:2329 — per vertex, weight to its
      PRE-move community incl. self-loops; zero for isolated vertices.
- modularity:              louvain.cpp:2468-2532 —
      Q = |sum(clusterWeight)*const - sum(deg_c^2)*const^2| with POST-move
      community degrees; abs() because the default build defines
      ABS_MOD_PER_ITER (Makefile:7).
- loop/return protocol:    louvain.cpp:427-592 — break when
      currMod - prevMod < threshold; prevMod = max(currMod, lower) on
      accept; 3-buffer rotation past←curr←target; on break the function
      returns (pastComm, prevMod): the labels from TWO iterations before
      the breaking one (identity if it breaks within the first two).
- phase loop:              main.cpp:242-513 — lower is always -1.0; phase
      ends when phaseQ - prevPhaseQ <= threshold; threshold cycling
      main.cpp:249-263 with a final guaranteed 1e-6 pass (main.cpp:454-460)
      whose labels are NOT composed into the output (quirk preserved).
- per-phase label renumber main.cpp:392-415: sort + first-seen dictionary
      == dense rank of the label value; composition commAll = cvect[commAll].
- coarsening:              rebuild.cpp:294-478 — super-edges aggregate all
      (comm(u), comm(v), w) with summed weights; intra-community edges
      become self-loops. Community renumbering order in the reference
      (rebuild.cpp:77-292) is rank/insertion-order dependent; this engine
      pins the deterministic choice "dense rank by old community id" on
      both the oracle and Spark sides (SURVEY.md §7.4 parity contract).

Summation order differs from the OpenMP/MPI reference; on integer-weight
graphs all partial sums are exact so decisions are identical.
"""

from __future__ import annotations

from dataclasses import dataclass, field

import numpy as np


def _degrees(src: np.ndarray, w: np.ndarray, nv: int) -> np.ndarray:
    return np.bincount(src, weights=w, minlength=nv).astype(np.float64)


def modularity_oracle(
    src: np.ndarray,
    dst: np.ndarray,
    w: np.ndarray,
    comm: np.ndarray,
    nv: int | None = None,
) -> float:
    """Standard modularity of an assignment over a symmetrized edge table.

    Q = Σ_c [ e_c/(2m) − (deg_c/(2m))² ] where e_c = total weight of rows
    with both endpoints in c (self-loops once, u→v and v→u both counted).
    Equals the reference's converged per-iteration Q when comm is stable.
    """
    if nv is None:
        nv = int(max(src.max(), dst.max())) + 1
    vdeg = _degrees(src, w, nv)
    two_m = vdeg.sum()
    const = 1.0 / two_m
    e_in = w[comm[src] == comm[dst]].sum()
    deg_c = np.bincount(comm, weights=vdeg)
    return float(e_in * const - (deg_c**2).sum() * const * const)


@dataclass
class LouvainOracleResult:
    labels: np.ndarray          # final composed per-vertex community (dense)
    q_per_phase: list = field(default_factory=list)
    iters_per_phase: list = field(default_factory=list)
    levels: int = 0
    # trace of (phase, iter, Q) for superstep-level parity tests
    q_trace: list = field(default_factory=list)


def _phase_sweep_targets(
    src, dst, w, curr, vdeg, self_w, comm_deg, comm_size, const, nv
):
    """One Jacobi sweep: returns (target, cluster_weight_sum)."""
    t, cw = _phase_sweep_targets_cw(
        src, dst, w, curr, vdeg, self_w, comm_deg, comm_size, const, nv
    )
    return t, float(cw.sum())


def _phase_sweep_targets_cw(
    src, dst, w, curr, vdeg, self_w, comm_deg, comm_size, const, nv
):
    """One Jacobi sweep: returns (target, per-vertex clusterWeight e_cc).

    Vectorized over the edge table; semantics per the module docstring.
    Community ids must lie in [0, nv).
    """
    if not len(src):
        return curr.copy(), np.zeros(nv)
    c_dst = curr[dst]

    # group (src, neighbor community) → e_vc. The stable sort keeps each
    # group's rows in table order and bincount sums them sequentially
    # (reduceat would sum pairwise): the reference's counter accumulates
    # over the adjacency in order, and a per-vertex loop gets the same
    # bits.
    key = src.astype(np.int64) * np.int64(nv) + c_dst
    order = np.argsort(key, kind="stable")
    k_sorted = key[order]
    w_sorted = w[order]
    first = np.r_[True, k_sorted[1:] != k_sorted[:-1]]
    grp_start = np.flatnonzero(first)
    e_vc = np.bincount(np.cumsum(first) - 1, weights=w_sorted)
    g_src = (k_sorted[grp_start] // nv).astype(np.int64)
    g_comm = (k_sorted[grp_start] % nv).astype(np.int64)

    # e to own community per vertex (counter[0], incl self-loop weight)
    e_cc = np.zeros(nv)
    own = g_comm == curr[g_src]
    e_cc[g_src[own]] = e_vc[own]
    # e_cc is the per-vertex clusterWeight (e-term, pre-move, louvain.cpp:2329)

    eix = e_cc - self_w                       # louvain.cpp:2234
    ax = comm_deg[curr] - vdeg                # louvain.cpp:2236

    cand = ~own                               # candidates c != cc
    cs, ccomm, cev = g_src[cand], g_comm[cand], e_vc[cand]
    gain = 2.0 * (cev - eix[cs]) - 2.0 * vdeg[cs] * (comm_deg[ccomm] - ax[cs]) * const

    pos = gain > 0.0
    cs, ccomm, gain = cs[pos], ccomm[pos], gain[pos]

    target = curr.copy()
    if cs.size:
        # lexicographic argmax: (max gain, min community id) per vertex
        sel = np.lexsort((ccomm, -gain, cs))  # sorted by src, then -gain, then comm
        cs_s, ccomm_s = cs[sel], ccomm[sel]
        first = np.flatnonzero(np.r_[True, cs_s[1:] != cs_s[:-1]])
        v_best, c_best = cs_s[first], ccomm_s[first]
        # singleton-swap guard (louvain.cpp:2275-2276)
        keep = ~(
            (comm_size[c_best] == 1)
            & (comm_size[curr[v_best]] == 1)
            & (c_best > curr[v_best])
        )
        target[v_best[keep]] = c_best[keep]
    return target, e_cc


def louvain_oracle_phase(
    src: np.ndarray,
    dst: np.ndarray,
    w: np.ndarray,
    nv: int,
    threshold: float = 1.0e-6,
    lower: float = -1.0,
    trace: list | None = None,
    phase_no: int = 0,
    early_term: int = 0,
    et_delta: float = 0.5,
    colors: np.ndarray | None = None,
    max_iters: int = 10_000,
    on_iter=None,
):
    """One Louvain phase (reference distLouvainMethod, louvain.cpp:427-592).

    Returns (labels=pastComm, q=prevMod, iters).

    on_iter: observer called once per accepted iteration, after the
    past/curr rotation and before the max-iteration break (the order of
    the engine's checkpoint write), as ``on_iter(iters, curr, past,
    prev_mod, act)`` — ``act`` is (active, frozen_cw, p) under
    early_term, else None. It must not modify the arrays.

    early_term: 0=off; 1/3 = freeze-after-stable (louvain.cpp:7-205
    documented intent: vertex frozen when target==curr==past after
    iteration 2; the reference's chained-comparison quirk at :174-175 is
    intentionally NOT reproduced — SURVEY.md §7.4); 2/4 = probabilistic
    (louvain.cpp:207-425: p *= 1-δ while curr==past after iteration 2,
    frozen at p ≤ 0.02). Modes 3/4 additionally abort the phase when ≥90%
    of vertices are frozen (documented intent of ET_CUTOFF, README:358-364).
    Frozen vertices keep their community and contribute their last
    clusterWeight (frozenClusterWeight, louvain.cpp:100-113).

    colors: per-vertex color (−1 allowed) → the colored variant
    (louvain.cpp:593-786): one outer iteration sweeps color buckets
    0..maxColor in order with community aggregates updated between buckets
    (uncolored vertices form the last bucket, louvain.cpp:657-658);
    assignments stay Jacobi within the outer iteration.
    """
    src = np.asarray(src, dtype=np.int64)
    dst = np.asarray(dst, dtype=np.int64)
    w = np.asarray(w, dtype=np.float64)

    vdeg = _degrees(src, w, nv)
    const = 1.0 / vdeg.sum()
    self_mask = src == dst
    self_w = np.bincount(src[self_mask], weights=w[self_mask], minlength=nv)

    past = np.arange(nv, dtype=np.int64)
    curr = past.copy()
    comm_deg = vdeg.copy()
    comm_size = np.ones(nv, dtype=np.int64)

    active = np.ones(nv, dtype=bool)
    frozen_cw = np.zeros(nv)
    p_active = np.ones(nv)

    if colors is not None:
        colors = np.asarray(colors, dtype=np.int64)
        n_buckets = int(colors.max()) + 2  # bucket maxColor+1 = uncolored
        bucket = np.where(colors < 0, n_buckets - 1, colors)
        bucket_ids = [np.flatnonzero(bucket == b) for b in range(n_buckets)]
        bucket_ids = [b for b in bucket_ids if b.size]

    prev_mod = lower
    iters = 0
    while True:
        iters += 1
        if colors is None:
            target, cw = _phase_sweep_targets_masked(
                src, dst, w, curr, vdeg, self_w, comm_deg, comm_size, const,
                nv, active,
            )
            e_term = float(cw[active].sum() + frozen_cw[~active].sum())
            frozen_cw[active] = cw[active]
            comm_deg = np.bincount(target, weights=vdeg, minlength=nv)
            comm_size = np.bincount(target, minlength=nv)
        else:
            target = curr.copy()
            cd, cs = comm_deg.copy(), comm_size.copy()
            cw_all = np.zeros(nv)
            for ids in bucket_ids:
                mask = np.zeros(nv, dtype=bool)
                mask[ids] = active[ids]
                t_b, cw_b = _phase_sweep_targets_masked(
                    src, dst, w, curr, vdeg, self_w, cd, cs, const, nv, mask
                )
                moved = np.flatnonzero(mask & (t_b != curr))
                target[mask] = t_b[mask]
                cw_all[mask] = cw_b[mask]
                if moved.size:
                    np.add.at(cd, t_b[moved], vdeg[moved])
                    np.add.at(cs, t_b[moved], 1)
                    np.subtract.at(cd, curr[moved], vdeg[moved])
                    np.subtract.at(cs, curr[moved], 1)
            e_term = float(cw_all[active].sum() + frozen_cw[~active].sum())
            frozen_cw[active] = cw_all[active]
            comm_deg, comm_size = cd, cs

        curr_mod = abs(e_term * const - (comm_deg**2).sum() * const * const)
        if trace is not None:
            trace.append((phase_no, iters, float(curr_mod)))

        if early_term in (3, 4):
            if (~active).sum() >= 0.9 * nv:
                break
        if (curr_mod - prev_mod) < threshold:
            break
        prev_mod = curr_mod if curr_mod > lower else lower

        if early_term in (1, 3) and iters > 2:
            freeze = active & (target == curr) & (curr == past)
            active[freeze] = False
        elif early_term in (2, 4) and iters > 2:
            dec = active & (curr == past)
            p_active[dec] *= 1.0 - et_delta
            active[dec & (p_active <= 0.02)] = False

        rot = active if early_term else slice(None)
        new_past = curr.copy() if early_term else curr
        if early_term:
            new_past = past.copy()
            new_past[rot] = curr[rot]
            new_curr = curr.copy()
            new_curr[rot] = target[rot]
            past, curr = new_past, new_curr
        else:
            past, curr = curr, target

        if on_iter is not None:
            on_iter(iters, curr, past, prev_mod,
                    (active, frozen_cw, p_active) if early_term else None)
        if iters >= max_iters:  # engine cfg.max_total_iterations analog
            break

    return past.copy(), float(prev_mod), iters


def _phase_sweep_targets_masked(
    src, dst, w, curr, vdeg, self_w, comm_deg, comm_size, const, nv, active
):
    """Sweep restricted to `active` vertices (bool mask); inactive keep
    their community and contribute 0 to the returned per-vertex cw."""
    target, cw = _phase_sweep_targets_cw(
        src, dst, w, curr, vdeg, self_w, comm_deg, comm_size, const, nv
    )
    out = curr.copy()
    out[active] = target[active]
    cw_out = np.zeros(nv)
    cw_out[active] = cw[active]
    return out, cw_out


def coarsen_oracle(src, dst, w, labels, nv):
    """rebuild.cpp:294-478 with deterministic dense-rank renumbering.

    Returns (src', dst', w', nv', old_to_new) — old_to_new maps old
    community ids to new vertex ids.
    """
    alive = np.unique(labels)  # sorted → dense rank by community id
    old_to_new = np.full(nv, -1, dtype=np.int64)
    old_to_new[alive] = np.arange(alive.size, dtype=np.int64)
    ns = old_to_new[labels[src]]
    nd = old_to_new[labels[dst]]
    nv2 = alive.size
    key = ns * np.int64(nv2) + nd
    order = np.argsort(key, kind="stable")
    ks, ws = key[order], w[order]
    start = np.flatnonzero(np.r_[True, ks[1:] != ks[:-1]])
    w2 = np.add.reduceat(ws, start)
    s2 = (ks[start] // nv2).astype(np.int64)
    d2 = (ks[start] % nv2).astype(np.int64)
    return s2, d2, w2, nv2, old_to_new


def _dense_renumber(labels: np.ndarray) -> np.ndarray:
    """main.cpp:392-415: sorted first-seen dictionary == dense rank by value."""
    _, inv = np.unique(labels, return_inverse=True)
    return inv.astype(np.int64)


def louvain_oracle_full(
    src,
    dst,
    w,
    nv: int,
    threshold: float = 1.0e-6,
    threshold_cycling: bool = False,
    one_phase: bool = False,
    max_phases: int = 200,
    max_total_iters: int = 10_000,
) -> LouvainOracleResult:
    """Full multi-level run (main.cpp:242-513 protocol)."""
    from vite_spark.config import threshold_for_phase

    src = np.asarray(src, dtype=np.int64)
    dst = np.asarray(dst, dtype=np.int64)
    w = np.asarray(w, dtype=np.float64)

    res = LouvainOracleResult(labels=np.arange(nv, dtype=np.int64))
    comm_all = np.arange(nv, dtype=np.int64)  # effectively identity at phase 0
    prev_phase_mod = -1.0
    phase = 0
    short_phase = 0
    tot_iters = 0
    cur = (src, dst, w, nv)

    while True:
        th = threshold_for_phase(short_phase) if threshold_cycling else threshold
        labels, q, iters = louvain_oracle_phase(
            *cur, threshold=th, lower=-1.0, trace=res.q_trace, phase_no=phase
        )
        tot_iters += iters
        curr_phase_mod = q

        if (curr_phase_mod - prev_phase_mod) > th:
            ren = _dense_renumber(labels)
            comm_all = ren[comm_all] if phase > 0 else ren.copy()
            res.q_per_phase.append(q)
            res.iters_per_phase.append(iters)
            if one_phase:
                break
            s2, d2, w2, nv2, o2n = coarsen_oracle(cur[0], cur[1], cur[2], labels, cur[3])
            cur = (s2, d2, w2, nv2)
        else:
            # final guaranteed 1e-6 pass under cycling (main.cpp:454-460);
            # its labels are intentionally NOT composed (reference quirk)
            if threshold_cycling and not one_phase and phase < 10:
                _, q2, it2 = louvain_oracle_phase(
                    *cur, threshold=1.0e-6, lower=curr_phase_mod,
                    trace=res.q_trace, phase_no=phase,
                )
                res.q_per_phase.append(q2)
                res.iters_per_phase.append(it2)
            break

        prev_phase_mod = curr_phase_mod
        phase += 1
        short_phase = short_phase + 1 if short_phase < 12 else 0
        if phase >= max_phases or tot_iters > max_total_iters:
            break

    res.labels = comm_all
    res.levels = phase + 1
    return res
