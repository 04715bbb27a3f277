"""Leiden-style constrained refinement — well-connected subcommunities.

The Leiden algorithm (Traag, Waltman & van Eck, "From Louvain to Leiden",
Sci. Rep. 9, 5233, 2019) improves Louvain by inserting a REFINEMENT phase
between local moving and aggregation: within each community found by
local moving, vertices restart from singletons and merge only with
refinement communities INSIDE their parent community; the next level then
aggregates the refined partition. Refinement is what breaks Louvain's
arbitrarily-badly-connected communities into well-connected pieces.

This module implements the deterministic greedy variant of that phase as
a first-class distributed operator:

- **Constrained local moving on full-graph modularity** (the
  move_nodes_constrained formulation): a vertex's candidate set is its
  neighbor refinement communities restricted to its own parent; the gain
  is the engine's exact Louvain gain (louvain.cpp:2220-2279 algebra —
  full-graph vertex degrees, full-graph 1/2m, same (gain DESC, comm ASC)
  argmax and singleton-swap guard). Traag et al. select a merge randomly
  among positive-gain candidates (their eq. 4, Θ→0 limit = greedy); this
  engine is deterministic end-to-end, so it takes the same argmax its
  Louvain sweeps take — the Θ→0 / seed-free special case, documented.
- **Jacobi sweeps from the singleton init**, exactly k of them — the
  SQL-expressible fixed-sweep shape (louvain_sweeps' convention), so the
  driver oracle can unroll the identical algebra in DuckDB CTEs.

Spark-first: the ONLY structural difference from the plain sweep is that
the neighbor-counter join runs over the parent-filtered edge table
(p(src) = p(dst)) — refinement labels start as singletons inside one
parent and candidates never cross parents, so every later state is
automatically parent-respecting (pytest-pinned invariant). Everything
else (counter tables with optional hub salting, argmax, guard, aggregate
refresh) is the engine's existing machinery reused verbatim: the filter
is pushed below the join, and the parent map joins once per refinement
(broadcast below the engine's budget).

100 TB shape: the parent filter only SHRINKS every shuffle of the plain
sweep (inter-community edges drop before the counter aggregation);
state is one (id, parent, comm) row per vertex. Cost per sweep =
one filtered join + two keyed aggregations, same as the Louvain sweep
it mirrors.
"""

from __future__ import annotations

import numpy as np

from pyspark.sql import DataFrame, SparkSession, functions as F

from vite_spark.algos.louvain import (
    _argmax_moves,
    _counter_tables,
    _fits_driver,
    _maybe_broadcast,
    modularity_of,
    self_loop_weights,
    weighted_degrees,
)
from vite_spark.config import EngineConfig
from vite_spark.oracle.louvain_ref import _phase_sweep_targets_cw


def parent_filtered_edges(edges: DataFrame, parent: DataFrame,
                          nv: int, cfg: EngineConfig) -> DataFrame:
    """Edge rows whose endpoints share a parent community — the union of
    the parent-induced subgraphs, built with two (broadcastable) joins."""
    p = _maybe_broadcast(parent.select("id", "pcomm"), nv, cfg)
    return (
        edges
        .join(p.select(F.col("id").alias("src"),
                       F.col("pcomm").alias("ps")), "src")
        .join(p.select(F.col("id").alias("dst"),
                       F.col("pcomm").alias("pd")), "dst")
        .filter(F.col("ps") == F.col("pd"))
        .select("src", "dst", "weight")
    )


def leiden_refine_sweeps(
    spark: SparkSession,
    edges: DataFrame,
    parent: DataFrame,
    k: int,
    cfg: EngineConfig | None = None,
) -> DataFrame:
    """Exactly ``k`` constrained Jacobi sweeps from the singleton init
    within ``parent`` (id, pcomm); returns (id, pcomm, comm).

    Gains use FULL-graph vertex degrees and 1/2m (constrained local
    moving on full-graph modularity); candidates are neighbor refinement
    communities within the vertex's parent. Vertices with no
    within-parent neighbor have no candidates and keep their singleton
    label — they stay in the output (left-join application), unlike the
    plain sweep where every vertex has candidates by construction."""
    cfg = cfg or EngineConfig()
    edges = edges.repartition(
        cfg.shuffle_partitions
        or int(spark.conf.get("spark.sql.shuffle.partitions", "32")),
        "src",
    ).persist()
    vdeg = weighted_degrees(edges)
    selfw = self_loop_weights(edges)
    vstate = (
        vdeg.join(selfw, vdeg.id == selfw.id, "left")
        .select(vdeg.id, "vdeg",
                F.coalesce("self_w", F.lit(0.0)).alias("self_w"))
        .persist()
    )
    row = vstate.agg(F.sum("vdeg").alias("tw"),
                     F.count(F.lit(1)).alias("nv")).collect()[0]
    two_m, nv = float(row["tw"]), int(row["nv"])
    const = 1.0 / two_m

    parent = parent.select("id", "pcomm").persist()
    ef = parent_filtered_edges(edges, parent, nv, cfg).persist()

    curr = vstate.select("id", F.col("id").alias("comm"))
    q_prev = modularity_of(edges, curr) if k is None else None
    for _ in range(k if k is not None else MAX_CONVERGE_SWEEPS):
        comm_info = (
            curr.join(_maybe_broadcast(vstate.select("id", "vdeg"), nv, cfg),
                      "id")
            .groupBy("comm")
            .agg(F.sum("vdeg").alias("degree"),
                 F.count(F.lit(1)).alias("size"))
        )
        # the one structural difference vs louvain_sweeps: counters over
        # the parent-filtered table — candidates (and e_cc) are
        # within-parent by construction
        st, e_cc = _counter_tables(ef, curr, vstate, nv, cfg)
        best = _argmax_moves(
            st.filter(F.col("dcomm") != F.col("cc")), e_cc, comm_info,
            const, nv, cfg,
        )
        moved = e_cc.join(best, "src", "left").select(
            F.col("src").alias("id"),
            F.coalesce(F.col("move_comm"), F.col("cc")).alias("comm"),
        )
        # LEFT-join application keeps no-candidate vertices (isolated
        # within their parent) on their current label
        upd = (
            curr.withColumnRenamed("comm", "old_comm")
            .join(moved.withColumnRenamed("comm", "new_comm"), "id", "left")
            .select("id", "old_comm",
                    F.coalesce("new_comm", "old_comm").alias("comm"))
            .localCheckpoint(eager=True)
        )
        nxt = upd.select("id", "comm")
        if k is None:
            # converged protocol: monotone-Q sweeps with revert (Jacobi
            # label dynamics can enter period-2 cycles — see
            # _jacobi_numpy); upd is checkpointed, so the count is a
            # cache read and Q is one agg over it
            if upd.filter(F.col("comm") != F.col("old_comm")).count() == 0:
                curr = nxt
                break
            q_new = modularity_of(edges, nxt)
            if not _q_improved(q_new, q_prev):
                break                  # revert: keep pre-sweep labels
            q_prev = q_new
        curr = nxt
    out = parent.join(curr, "id").select("id", "pcomm", "comm")
    out = out.localCheckpoint(eager=True)
    edges.unpersist()
    vstate.unpersist()
    parent.unpersist()
    ef.unpersist()
    return out


def leiden_refine_numpy(
    src: np.ndarray,
    dst: np.ndarray,
    w: np.ndarray,
    parent: np.ndarray,     # parent[v] over dense ids 0..nv-1
    k: int,
) -> np.ndarray:
    """Independent NumPy mirror of leiden_refine_sweeps over dense ids
    (test oracle; documents the algebra in one screen). Jacobi: all
    decisions of a sweep read the sweep-start state."""
    nv = len(parent)
    vdeg = np.zeros(nv)
    np.add.at(vdeg, src, w)
    selfw = np.zeros(nv)
    sl = src == dst
    np.add.at(selfw, src[sl], w[sl])
    const = 1.0 / w.sum()
    keep = parent[src] == parent[dst]
    fs, fd, fw = src[keep], dst[keep], w[keep]
    comm = np.arange(nv, dtype=np.int64)
    q_prev = _modularity_numpy(src, dst, w, comm) if k is None else None
    for _ in range(k if k is not None else MAX_CONVERGE_SWEEPS):
        cd = np.zeros(nv)
        np.add.at(cd, comm, vdeg)
        cs = np.zeros(nv, np.int64)
        np.add.at(cs, comm, 1)
        new = comm.copy()
        for v in range(nv):
            rows = fs == v
            if not rows.any():
                continue
            nbr_c = comm[fd[rows]]
            evc: dict[int, float] = {}
            for c, ww in zip(nbr_c, fw[rows]):
                evc[int(c)] = evc.get(int(c), 0.0) + float(ww)
            cc = int(comm[v])
            e_cc = evc.get(cc, 0.0)
            eix = e_cc - selfw[v]
            ax = cd[cc] - vdeg[v]
            best_gain, best_c = 0.0, None
            for c in sorted(x for x in evc if x != cc):
                gain = (2.0 * (evc[c] - eix)
                        - 2.0 * vdeg[v] * (cd[c] - ax) * const)
                if gain > 0.0 and (best_c is None or gain > best_gain):
                    best_gain, best_c = gain, c
            if best_c is not None:
                if not (cs[best_c] == 1 and cs[cc] == 1 and best_c > cc):
                    new[v] = best_c
        if k is None:
            # monotone-Q converged refinement (full-graph Q; see
            # _jacobi_numpy) — revert the first non-improving sweep
            if np.array_equal(new, comm):
                break
            q_new = _modularity_numpy(src, dst, w, new)
            if not _q_improved(q_new, q_prev):
                break
            q_prev = q_new
        comm = new
    return comm


def _jacobi_sweeps(
    spark: SparkSession,
    edges: DataFrame,
    init: DataFrame,        # (id, comm) — arbitrary initial assignment
    k: int,
    cfg: EngineConfig,
) -> DataFrame:
    """Exactly ``k`` plain Jacobi Louvain sweeps from an ARBITRARY initial
    assignment (id, comm) — louvain_sweeps generalized past the singleton
    init, which is what Leiden's level handoff needs (the aggregated
    graph starts from the PARENT partition, not singletons). Returns
    (id, comm) after sweep k; left-join application keeps self-loop-only
    vertices."""
    edges = edges.repartition(
        cfg.shuffle_partitions
        or int(spark.conf.get("spark.sql.shuffle.partitions", "32")),
        "src",
    ).persist()
    vdeg = weighted_degrees(edges)
    selfw = self_loop_weights(edges)
    vstate = (
        vdeg.join(selfw, vdeg.id == selfw.id, "left")
        .select(vdeg.id, "vdeg",
                F.coalesce("self_w", F.lit(0.0)).alias("self_w"))
        .persist()
    )
    row = vstate.agg(F.sum("vdeg").alias("tw"),
                     F.count(F.lit(1)).alias("nv")).collect()[0]
    # 2m is invariant under community aggregation (coarsening keeps every
    # edge's weight, intra-community mass becomes self-loops), so the
    # per-level recomputation equals the level-0 constant exactly
    two_m, nv = float(row["tw"]), int(row["nv"])
    const = 1.0 / two_m

    curr = init.select("id", "comm")
    q_prev = modularity_of(edges, curr) if k is None else None
    for _ in range(k if k is not None else MAX_CONVERGE_SWEEPS):
        comm_info = (
            curr.join(_maybe_broadcast(vstate.select("id", "vdeg"), nv, cfg),
                      "id")
            .groupBy("comm")
            .agg(F.sum("vdeg").alias("degree"),
                 F.count(F.lit(1)).alias("size"))
        )
        st, e_cc = _counter_tables(edges, curr, vstate, nv, cfg)
        best = _argmax_moves(
            st.filter(F.col("dcomm") != F.col("cc")), e_cc, comm_info,
            const, nv, cfg,
        )
        moved = e_cc.join(best, "src", "left").select(
            F.col("src").alias("id"),
            F.coalesce(F.col("move_comm"), F.col("cc")).alias("comm"),
        )
        upd = (
            curr.withColumnRenamed("comm", "old_comm")
            .join(moved.withColumnRenamed("comm", "new_comm"), "id", "left")
            .select("id", "old_comm",
                    F.coalesce("new_comm", "old_comm").alias("comm"))
            .localCheckpoint(eager=True)
        )
        nxt = upd.select("id", "comm")
        if k is None:
            # converged protocol: monotone-Q sweeps with revert (Jacobi
            # label dynamics can enter period-2 cycles — see
            # _jacobi_numpy); upd is checkpointed, so the count is a
            # cache read and Q is one agg over it
            if upd.filter(F.col("comm") != F.col("old_comm")).count() == 0:
                curr = nxt
                break
            q_new = modularity_of(edges, nxt)
            if not _q_improved(q_new, q_prev):
                break                  # revert: keep pre-sweep labels
            q_prev = q_new
        curr = nxt
    edges.unpersist()
    vstate.unpersist()
    return curr


def leiden_levels(
    spark: SparkSession,
    edges: DataFrame,
    levels: int | None = 2,
    move_sweeps: int | None = 2,
    refine_sweeps: int | None = 2,
    cfg: EngineConfig | None = None,
) -> DataFrame:
    """The full multi-level Leiden loop (Traag et al. 2019, fig. 3),
    deterministic end-to-end; each count may also be None = run that
    phase to convergence (see ``leiden``). Per level: ``move_sweeps``
    plain Jacobi
    sweeps (level 0 from singletons, later levels from the PARENT
    partition), then Leiden's distinguishing steps: ``refine_sweeps``
    constrained refinement sweeps from singletons within the moving
    result, aggregation on the REFINED partition (dense ids ordered by
    community id — the engine's renumber contract), and the next level's
    initial assignment groups aggregated vertices by their parent
    community (min-new-id representative). The last level runs moving
    only. Fixed sweep counts keep every step SQL-expressible, so the
    whole multi-level protocol — including coarsening and the level
    handoff — is driver-oracled (queries.leiden2_assignment), which the
    convergence-protocol Louvain cannot offer.

    Returns (id, comm) over ORIGINAL vertex ids; comm is canonicalized
    to the MINIMUM original vertex id of the final community (stable
    across the coarse id spaces)."""
    from vite_spark.kernels.ids import dense_ids

    cfg = cfg or EngineConfig()
    # adaptive driver-local tier (the louvain driver-level design): a
    # graph within the one Louvain gate (cfg.local_phase_max_edges, its
    # Leiden crossover walls at the definition; 0 forces the distributed
    # tier) runs the pytest-proven NumPy mirror — one Arrow collect in,
    # one Arrow hand-off out (kernels/csr_pr ``_collect``/
    # ``_emit_local``), identical labels by the parity tests — so small
    # graphs and deep coarse levels never pay cluster job latency.
    # Arbitrary ids handled by a monotone densify (np.unique is sorted,
    # so every min-id tie-break and the min-original-id canonicalization
    # survive the mapping).
    ne = edges.count()
    if _fits_driver(ne, cfg):
        from vite_spark.kernels.csr_pr import _collect, _emit_local

        s0, d0, w0 = _collect(edges, ("src", "dst", "weight"))
        uniq = np.unique(s0)
        # symmetrization contract: every dst must appear as a src, or
        # searchsorted would silently mismap dst ids absent from uniq
        # (the distributed tier would instead drop such endpoints at its
        # dst join — make contract-violating input fail loudly and
        # identically on both tiers)
        assert np.isin(d0, uniq).all(), (
            "leiden_levels: input not symmetrized (dst ids absent from "
            "src set)"
        )
        s = np.searchsorted(uniq, s0)
        d = np.searchsorted(uniq, d0)
        lab = leiden_levels_numpy(s, d, w0, levels=levels,
                                  move_sweeps=move_sweeps,
                                  refine_sweeps=refine_sweeps)
        return _emit_local(spark, {"id": uniq, "comm": uniq[lab]},
                           "id long, comm long")
    cur = edges.select("src", "dst", "weight").persist()
    vmap = None          # orig id → current coarse id (None = identity)
    init = None          # level init; None = singletons
    final_m = None
    n_levels = levels if levels is not None else MAX_CONVERGE_LEVELS
    for lvl in range(n_levels):
        ids = cur.select(F.col("src").alias("id")).distinct()
        lab0 = ids.withColumn("comm", F.col("id")) if init is None else init
        m_lab = _jacobi_sweeps(spark, cur, lab0, move_sweeps, cfg)
        if lvl == n_levels - 1:
            final_m = m_lab
            break
        refined = leiden_refine_sweeps(
            spark, cur, m_lab.withColumnRenamed("comm", "pcomm"),
            refine_sweeps, cfg,
        ).persist()
        ren = dense_ids(refined.select("comm"), "comm").persist()
        if levels is None and ren.count() == ids.count():
            # converged protocol: coarsening stopped shrinking — more
            # levels would rerun the identical moves (exact-integer
            # stop, mirrored in leiden_levels_numpy)
            refined.unpersist()
            ren.unpersist()
            final_m = m_lab
            break
        vm = refined.join(ren, "comm").select("id", "new_id")
        vmap = (vm if vmap is None else
                vmap.withColumnRenamed("new_id", "mid")
                .join(vm.withColumnRenamed("id", "mid"), "mid")
                .select("id", "new_id")).localCheckpoint(eager=True)
        nxt = (
            cur.join(vm.withColumnRenamed("id", "src")
                     .withColumnRenamed("new_id", "ns"), "src")
            .join(vm.withColumnRenamed("id", "dst")
                  .withColumnRenamed("new_id", "nd"), "dst")
            .groupBy(F.col("ns").alias("src"), F.col("nd").alias("dst"))
            .agg(F.sum("weight").alias("weight"))
            .localCheckpoint(eager=True)
        )
        parent_of = refined.select("comm", "pcomm").distinct()
        reps = (
            parent_of.join(ren, "comm")
            .groupBy("pcomm").agg(F.min("new_id").alias("rep"))
        )
        init = (
            parent_of.join(ren, "comm").join(reps, "pcomm")
            .select(F.col("new_id").alias("id"), F.col("rep").alias("comm"))
            .localCheckpoint(eager=True)
        )
        refined.unpersist()
        ren.unpersist()
        cur.unpersist()
        cur = nxt.persist()
    if vmap is None:
        fin = final_m
    else:
        fin = (
            vmap.withColumnRenamed("new_id", "cid")
            .join(final_m.withColumnRenamed("id", "cid"), "cid")
            .select("id", "comm")
        )
    reps = fin.groupBy("comm").agg(F.min("id").alias("rep"))
    out = fin.join(reps, "comm").select(
        "id", F.col("rep").alias("comm")).localCheckpoint(eager=True)
    cur.unpersist()
    return out


# sweep cap for the converged (k=None) protocol. Jacobi sweeps DO
# oscillate in practice (measured period-2 cycle on karate, Q degrading
# mid-cycle), so convergence is monotone-Q: sweep while full-graph
# modularity improves (``_q_improved``), REVERT the first non-improving
# sweep — the reference's ΔQ-threshold break analog — capped here as a
# safety bound. Identical rule on the Spark and NumPy paths
# (pytest-pinned).
MAX_CONVERGE_SWEEPS = 64
# level cap for the converged protocol (levels=None): levels stop when
# coarsening stops shrinking the graph; the cap is a safety bound only
# (real graphs coarsen out in a handful of levels).
MAX_CONVERGE_LEVELS = 10

# the converged protocol's least Q gain, relative to max(1, |Q|): Spark
# and NumPy sum Q in different orders, so a strict ``>`` on ULP-close
# values could keep one path sweeping where its mirror stops
Q_GAIN_RTOL = 1e-12


def _q_improved(q_new: float, q_prev: float) -> bool:
    """Whether a converged sweep continues: its Q gain exceeds
    ``Q_GAIN_RTOL · max(1, |q_prev|)``. Ties, ULP-level differences and
    NaN stop."""
    return q_new - q_prev > Q_GAIN_RTOL * max(1.0, abs(q_prev))


def _modularity_numpy(src, dst, w, comm):
    """Q of a partition over the symmetrized table — the NumPy twin of
    louvain.modularity_of (same formula: e_in/2m − Σ cdeg²/(2m)²)."""
    two_m = float(w.sum())
    const = 1.0 / two_m
    e_in = float(w[comm[src] == comm[dst]].sum())
    deg = np.zeros(len(comm))
    np.add.at(deg, src, w)
    cdeg = np.zeros(int(comm.max()) + 1)
    np.add.at(cdeg, comm, deg)
    return e_in * const - float((cdeg * cdeg).sum()) * const * const


def _jacobi_numpy(src, dst, w, comm0, k, parent=None):
    """Unified NumPy sweep mirror: ``k`` Jacobi sweeps from ``comm0``
    (k=None = monotone-Q converged sweeps, capped at
    MAX_CONVERGE_SWEEPS); with ``parent`` the candidate set is
    restricted within parents (the refinement constraint). Each sweep is
    the Louvain oracle's vectorized one (oracle/louvain_ref.py: the same
    gain, (max gain, min comm) argmax and singleton guard, row-order
    sums), so it equals the per-vertex ``leiden_refine_numpy`` bit for
    bit (pytest-pinned) at O(ne log ne) per sweep. Labels must lie in
    [0, nv). Shared by the leiden_levels mirror."""
    nv = len(comm0)
    vdeg = np.zeros(nv)
    np.add.at(vdeg, src, w)
    selfw = np.zeros(nv)
    sl = src == dst
    np.add.at(selfw, src[sl], w[sl])
    const = 1.0 / w.sum()
    if parent is not None:
        keep = parent[src] == parent[dst]
        fs, fd, fw = src[keep], dst[keep], w[keep]
    else:
        fs, fd, fw = src, dst, w
    comm = np.asarray(comm0, dtype=np.int64).copy()
    q_prev = _modularity_numpy(src, dst, w, comm) if k is None else None
    for _ in range(k if k is not None else MAX_CONVERGE_SWEEPS):
        cd = np.zeros(nv)
        np.add.at(cd, comm, vdeg)
        new, _ = _phase_sweep_targets_cw(
            fs, fd, fw, comm, vdeg, selfw, cd,
            np.bincount(comm, minlength=nv), const, nv)
        if k is None:
            # converged protocol: monotone-Q sweeps. Jacobi label
            # dynamics can enter period-2 cycles (measured on karate:
            # sweeps 6↔8, Q 0.148/0.117), so a label fixpoint is the
            # wrong stop; instead keep sweeping while FULL-graph Q
            # strictly improves and REVERT the first non-improving
            # sweep — the reference's ΔQ-threshold break analog.
            if np.array_equal(new, comm):
                break
            q_new = _modularity_numpy(src, dst, w, new)
            if not _q_improved(q_new, q_prev):
                break
            q_prev = q_new
        comm = new
    return comm


def leiden_levels_numpy(src, dst, w, levels=2, move_sweeps=2,
                        refine_sweeps=2):
    """NumPy mirror of leiden_levels over dense ids 0..nv-1 (ids must be
    exactly the src set). Returns labels canonicalized to min original
    vertex id per final community."""
    src = np.asarray(src, np.int64)
    dst = np.asarray(dst, np.int64)
    w = np.asarray(w, np.float64)
    nv0 = int(src.max()) + 1
    orig2cur = np.arange(nv0, dtype=np.int64)
    init = None
    n_levels = levels if levels is not None else MAX_CONVERGE_LEVELS
    for lvl in range(n_levels):
        nv = int(src.max()) + 1
        comm0 = np.arange(nv, dtype=np.int64) if init is None else init
        m_lab = _jacobi_numpy(src, dst, w, comm0, move_sweeps)
        if lvl == n_levels - 1:
            final_m = m_lab
            break
        refined = _jacobi_numpy(src, dst, w, np.arange(nv, dtype=np.int64),
                                refine_sweeps, parent=m_lab)
        uniq, newid = np.unique(refined, return_inverse=True)
        if levels is None and len(uniq) == nv:
            # converged protocol: coarsening stopped shrinking (the
            # distributed tier's identical exact-integer stop)
            final_m = m_lab
            break
        # parent of each refined community (nesting invariant)
        parent_of = np.full(len(uniq), -1, np.int64)
        parent_of[newid] = m_lab
        # next init: min new-id representative per parent community
        init = _min_member(parent_of)
        # newid is PER-VERTEX (uniq[newid[v]] == refined[v]), so the
        # orig→coarse map composes by direct indexing
        orig2cur = newid[orig2cur]
        # coarsen
        ns, nd = newid[src], newid[dst]
        order = np.lexsort((nd, ns))
        ns, nd, ws = ns[order], nd[order], w[order]
        key = ns * (len(uniq) + 1) + nd
        firsts = np.r_[True, key[1:] != key[:-1]]
        starts = np.flatnonzero(firsts)
        src = ns[starts]
        dst = nd[starts]
        w = np.add.reduceat(ws, starts)
    # canonical min-original-id label per final community
    return _min_member(final_m[orig2cur])


def _min_member(label):
    """Per element i, the smallest j with label[j] == label[i]."""
    first = np.full(int(label.max()) + 1, len(label), np.int64)
    np.minimum.at(first, label, np.arange(len(label), dtype=np.int64))
    return first[label]


def leiden(
    spark: SparkSession,
    edges: DataFrame,
    cfg: EngineConfig | None = None,
) -> DataFrame:
    """Leiden to CONVERGENCE (r4 VERDICT next#6) — the same deterministic
    protocol as leiden_levels with every count data-determined instead
    of fixed: each level's move and refinement phases sweep while
    full-graph modularity strictly improves, reverting the first
    non-improving sweep (monotone-Q — Jacobi label dynamics oscillate,
    see MAX_CONVERGE_SWEEPS; cap is a safety bound),
    and levels continue until coarsening stops shrinking the graph
    (capped at MAX_CONVERGE_LEVELS). Not SQL-expressible (the stopping
    decisions are data-dependent), so the driver row is rows-only; the
    exact-parity gate is tests/test_leiden.py vs leiden_levels_numpy
    with the same None parameters — the Louvain L13 pattern.

    Returns (id, comm) over original vertex ids, canonicalized to the
    minimum original vertex id of the final community."""
    return leiden_levels(spark, edges, levels=None, move_sweeps=None,
                         refine_sweeps=None, cfg=cfg)
