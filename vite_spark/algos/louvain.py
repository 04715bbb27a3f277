"""Distributed Louvain as DataFrame supersteps — Vite semantics, Spark plan.

Reference parity (all citations /root/reference/louvain.cpp unless noted):
one Vite iteration == one superstep of

    L4  counter   = edges ⋈ assignment(dst) → groupBy(src, comm) sum(w)   [:2419-2466]
    L5  target    = ordered argmax of gain with exact tie-breaks           [:2220-2279]
    L6  moves     = gain > 0 moves, singleton-swap guard                   [:2275-2276]
    L7  comm_info = assignment' ⋈ degrees → groupBy(comm)                  [:2534-2547]
    L11 Q         = |Σ e_cc·const − Σ deg_c²·const²|  (pre-move e-term,
                    post-move a-term, ABS_MOD_PER_ITER default)            [:2468-2532]
    L13 protocol  = Jacobi sweep, 3-buffer rotation, break returns the
                    pastComm labels and prevMod                            [:427-592]

Vite's ghost machinery (L8/L9/L10, :2583-3397) disappears: the shuffle join
moves exactly the community records each partition references, and when the
per-vertex state table is small it is broadcast instead (replacing the
ghost exchange with a cluster-wide replica — strictly less traffic than
Vite's 3-round exchange for small state).

Scale design:
- the edge table is hash-partitioned on src once per level and persisted;
  every superstep reuses that partitioning (Vite P3, exchangeVertexReqs
  done once per phase).
- per-vertex state (assignment) and per-community state are nv-row tables:
  broadcast below cfg.broadcast_max_rows, shuffle-join above — at deep
  coarsening levels they always end up broadcast (Vite P4).
- groupBy(src, comm) does map-side partial aggregation (whole-stage
  codegen hash agg), so a high-degree vertex's counter rows collapse
  before the shuffle; residual skew is handled by AQE skew-join splitting
  plus optional salting (cfg.skew_degree_threshold; Vite -b / P2).
- lineage is cut every superstep (localCheckpoint, or parquet when a
  checkpoint dir is configured — which doubles as mid-level resume).
"""

from __future__ import annotations

import math
import time
from dataclasses import dataclass, field

from pyspark.sql import DataFrame, SparkSession, functions as F

from vite_spark.config import EngineConfig
from vite_spark.graph import weighted_degrees, self_loop_weights
from vite_spark.kernels.ids import dense_ids
from vite_spark.runtime.metrics import MetricsCollector
from vite_spark.runtime import checkpoint as ckpt

# Edge rows per partition of a distributed Louvain level (only caps the
# session's count). The sweep is the heaviest per-edge packed kernel
# (radix grouping + segment argmax ≈ 1M edge-rows/s/task on early
# sweeps, vs >10M/s for the PR/CC gathers), hence the smaller target than
# PACK_EDGES_PER_PART. 300k measured best on the 2.39M-edge bench graph
# (interleaved medians 6.42 s vs 7.76 s at 128k vs 6.98 s at 600k
# whole-operator; sf0.01 indifferent): per-task sweep compute then
# roughly matches the ~7 ms/task dispatch + ~190 ms/job floor instead of
# sitting under it.
PACK_ROWS_PER_PART = 300_000


def _maybe_broadcast(df: DataFrame, nrows: int, cfg: EngineConfig) -> DataFrame:
    return F.broadcast(df) if nrows <= cfg.broadcast_max_rows else df


@dataclass
class PhaseResult:
    # (id, comm) — the returned pastComm labels; None from _DriverLevels,
    # which keeps them as arrays
    assignment: DataFrame | None
    q: float
    iters: int
    nv: int = 0
    converged: bool = True
    # Fused end-of-phase outputs from the mirror kernel (see
    # kernels/csr.csr_labels_coarse_packed): the densely-renumbered
    # (id, label) table and the coarse super-edge table for the next
    # level. None when the phase ran a path without the fusion (sharded,
    # colored, join, local) — the caller then uses the generic coarsen.
    renum_labels: DataFrame | None = None
    coarse_edges: DataFrame | None = None


@dataclass
class LouvainResult:
    labels: DataFrame  # (id, comm) dense labels for original vertices
    q_per_phase: list = field(default_factory=list)
    iters_per_phase: list = field(default_factory=list)
    levels: int = 0
    metrics: MetricsCollector | None = None

    @property
    def final_q(self) -> float:
        return self.q_per_phase[-1] if self.q_per_phase else -1.0


def _counter_tables(
    edges: DataFrame,
    curr: DataFrame,          # (id, comm)
    vstate: DataFrame,        # (id, vdeg, self_w)
    nv: int,
    cfg: EngineConfig,
    hubs: DataFrame | None = None,   # (src,) vertices above skew_degree_threshold
) -> tuple[DataFrame, DataFrame]:
    """L4 (louvain.cpp:2419-2466): returns
    st(src, dcomm, evc, cc, vdeg, self_w) — the per-(vertex, neighbor-comm)
    counter joined with vertex state — and
    e_cc(src, cc, vdeg, self_w, e_cc) — counter[0] per vertex (self-loops
    land in the own-community bucket like any neighbor)."""
    curr_b = _maybe_broadcast(curr, nv, cfg)
    nbr = edges.join(
        curr_b.select(F.col("id").alias("dst"), F.col("comm").alias("dcomm")), "dst"
    )
    if cfg.explicit_salting:
        # two-stage salted aggregation (explicit skew split — Vite -b
        # analog, distgraph.cpp:72-116): ONLY vertices whose degree exceeds
        # cfg.skew_degree_threshold (the ``hubs`` set, computed once per
        # phase) have their counters built across salt_parts sub-groups;
        # everyone else keeps salt 0, so stage 1 adds no rows for the
        # non-skewed bulk. Weights are integer-valued, so the two-stage
        # sum is exact and the result is identical to the unsalted path.
        if hubs is not None:
            nbr = nbr.join(
                F.broadcast(hubs.select("src", F.lit(True).alias("is_hub"))),
                "src", "left",
            )
            salt = F.when(
                F.col("is_hub"), F.pmod(F.col("dst"), F.lit(cfg.skew_salt_parts))
            ).otherwise(F.lit(0))
        else:
            salt = F.pmod(F.col("dst"), F.lit(cfg.skew_salt_parts))
        counter = (
            nbr.withColumn("salt", salt)
            .groupBy("src", "dcomm", "salt")
            .agg(F.sum("weight").alias("pw"))
            .groupBy("src", "dcomm")
            .agg(F.sum("pw").alias("evc"))
        )
    else:
        counter = nbr.groupBy("src", "dcomm").agg(F.sum("weight").alias("evc"))
    st = counter.join(
        _maybe_broadcast(
            curr.join(vstate, "id").select(
                F.col("id").alias("src"), F.col("comm").alias("cc"), "vdeg", "self_w"
            ),
            nv,
            cfg,
        ),
        "src",
    )
    own = F.col("dcomm") == F.col("cc")
    e_cc = st.groupBy("src", "cc", "vdeg", "self_w").agg(
        F.sum(F.when(own, F.col("evc")).otherwise(F.lit(0.0))).alias("e_cc")
    )
    return st, e_cc


def _argmax_moves(
    cand_st: DataFrame,       # st rows filtered to dcomm != cc (and any mask)
    e_cc: DataFrame,
    comm_info: DataFrame,     # (comm, degree, size)
    const: float,
    nv: int,
    cfg: EngineConfig,
) -> DataFrame:
    """L5 (louvain.cpp:2220-2279): gain + lexicographic argmax
    (max gain, min community id) over gain > 0, then the singleton-swap
    guard. Returns (src, move_comm)."""
    cinfo_b = _maybe_broadcast(comm_info, nv, cfg)
    # LEFT join for the target community: in the colored variant a
    # candidate community may have been emptied by an earlier color bucket
    # — the reference keeps its (0,0) cinfo slot (louvain.cpp:2534-2547)
    # and such targets have high gain; an inner join would drop them
    cand = (
        cand_st.join(
            cinfo_b.select(
                F.col("comm").alias("dcomm"),
                F.col("degree").alias("ay"),
                F.col("size").alias("tsize"),
            ),
            "dcomm",
            "left",
        )
        .withColumn("ay", F.coalesce("ay", F.lit(0.0)))
        .withColumn("tsize", F.coalesce("tsize", F.lit(0)))
        .join(
            cinfo_b.select(
                F.col("comm").alias("cc"),
                F.col("degree").alias("cc_deg"),
                F.col("size").alias("cc_size"),
            ),
            "cc",
        )
        .join(e_cc.select("src", F.col("e_cc").alias("ecc0")), "src")
    )
    gain = (
        2.0 * (F.col("evc") - (F.col("ecc0") - F.col("self_w")))
        - 2.0
        * F.col("vdeg")
        * (F.col("ay") - (F.col("cc_deg") - F.col("vdeg")))
        * F.lit(const)
    )
    return (
        cand.withColumn("gain", gain)
        .filter(F.col("gain") > 0.0)
        .groupBy("src")
        .agg(
            F.max(
                F.struct(
                    F.col("gain"),
                    (-F.col("dcomm")).alias("neg_comm"),
                    F.col("dcomm").alias("tcomm"),
                    F.col("tsize"),
                    F.col("cc_size"),
                    F.col("cc").alias("bcc"),
                )
            ).alias("m")
        )
        .select(
            "src",
            F.when(
                (F.col("m.tsize") == 1)
                & (F.col("m.cc_size") == 1)
                & (F.col("m.tcomm") > F.col("m.bcc")),
                F.col("m.bcc"),
            )
            .otherwise(F.col("m.tcomm"))
            .alias("move_comm"),
        )
    )


def _superstep(
    edges: DataFrame,
    curr: DataFrame,
    comm_info: DataFrame,
    vstate: DataFrame,
    const: float,
    nv: int,
    cfg: EngineConfig,
    hubs: DataFrame | None = None,
) -> DataFrame:
    """One plain Jacobi sweep. Returns decisions(id, cc, new_comm, e_cc, vdeg)."""
    st, e_cc = _counter_tables(edges, curr, vstate, nv, cfg, hubs=hubs)
    best = _argmax_moves(
        st.filter(F.col("dcomm") != F.col("cc")), e_cc, comm_info, const, nv, cfg
    )
    return e_cc.join(best, "src", "left").select(
        F.col("src").alias("id"),
        F.col("cc"),
        F.coalesce(F.col("move_comm"), F.col("cc")).alias("new_comm"),
        "e_cc",
        "vdeg",
    )


EDGE_COLS = ("src", "dst", "weight")


def _collect_level(tbl, colors: DataFrame | None = None):
    """A level's collected edge table ``tbl`` (Arrow, ``EDGE_COLS``; the
    gate's ``csr_pr._collect_upto``) and its phase-0 colors (one more
    ``_collect_upto``) as driver arrays (``csr_pr._arrays``). Returns
    (s, d, w, ids, col): ``ids`` are the sorted distinct endpoints and
    s, d their positions — a monotone densify, so every id-order
    tie-break survives; ``col`` is aligned with ``ids`` (-1 uncolored),
    or None."""
    import numpy as np

    from vite_spark.kernels.csr_pr import _arrays, _collect_upto

    s, d, w = _arrays(tbl)
    ids = np.unique(np.r_[s, d])
    col = None
    if colors is not None:
        cid, cval = _arrays(_collect_upto(colors, ("id", "color")))
        col = np.full(len(ids), -1, dtype=np.int64)
        col[np.searchsorted(ids, cid)] = cval
    return np.searchsorted(ids, s), np.searchsorted(ids, d), w, ids, col


def _phase_arrays(s, d, w, ids, threshold: float, lower: float,
                  cfg: EngineConfig, metrics: MetricsCollector, level: int,
                  colors=None) -> tuple:
    """One phase in the driver over a level's edge arrays (``s``/``d``:
    positions in ``ids``, the level's sorted vertex ids; ``colors``
    aligned with ``ids`` selects the colored sweep): the oracle-validated
    CSR NumPy sweep (vite_spark/oracle/louvain_ref.py), identical
    labels/Q to the distributed tiers (pytest-proven). With a checkpoint
    dir, every accepted iteration is written from the driver (no Spark
    job) in the join path's layout and order. Returns (labels, q, iters);
    ``labels`` (pastComm) are positions in ``ids``."""
    from vite_spark.oracle.louvain_ref import louvain_oracle_phase

    t0 = time.time()
    nv, ne = len(ids), len(s)
    on_iter = None
    if cfg.checkpoint_dir:
        state = {"two_m": float(w.sum()), "nv": nv, "ne": ne,
                 "early_term": cfg.early_term}

        def on_iter(iters, curr, past, prev_mod, act):
            if ckpt._due(iters, cfg.checkpoint_every):
                ckpt.write_superstep_arrays(
                    cfg.checkpoint_dir, level, iters, ids, ids[curr],
                    ids[past], {"iter": iters, "prev_mod": prev_mod, **state},
                    act=act,
                )
    trace: list = []
    labels, q, iters = louvain_oracle_phase(
        s, d, w, nv, threshold=threshold, lower=lower, trace=trace,
        phase_no=level, early_term=cfg.early_term, colors=colors,
        max_iters=cfg.max_total_iterations, on_iter=on_iter,
    )
    wall = time.time() - t0
    for (_, it, qq) in trace:
        metrics.record(
            kind="superstep", level=level, iter=it, q=qq, moved=-1, active=nv,
            edges_processed=ne, wall_s=wall / max(len(trace), 1),
            edges_per_sec=ne * len(trace) / wall if wall > 0 else 0.0,
            mode="local_csr",
        )
    return labels, float(q), iters


def _local_phase(
    spark: SparkSession,
    edges: DataFrame,
    threshold: float,
    lower: float,
    cfg: EngineConfig,
    metrics: MetricsCollector,
    level: int,
    colors: DataFrame | None = None,
) -> PhaseResult:
    """Driver-local phase for a level whose edge table fits on one node:
    the level comes in and the labels go out through the packed runner's
    driver-tier helpers (kernels/csr_pr ``_collect_upto``/``_emit_local``:
    one Arrow collect, one Arrow hand-off, no Python worker) around
    ``_phase_arrays``."""
    from vite_spark.kernels.csr_pr import _collect_upto, _emit_local

    s, d, w, ids, col = _collect_level(_collect_upto(edges, EDGE_COLS),
                                       colors)
    labels, q, iters = _phase_arrays(s, d, w, ids, threshold, lower, cfg,
                                     metrics, level, colors=col)
    adf = _emit_local(spark, {"id": ids, "comm": ids[labels]},
                      "id long, comm long")
    return PhaseResult(assignment=adf, q=q, iters=iters, nv=len(ids))


class _DriverLevels:
    """The remaining levels of one ``louvain`` run, in the driver. The
    entry level comes in as the gate's collected table (``tbl``, through
    ``_collect_level``); every phase runs ``_phase_arrays``; an accepted
    phase's dense renumber and label composition (``_dense_renumber``)
    and its coarsening (``coarsen_oracle``: super-edges with summed
    weights, communities renumbered by dense rank of community id —
    ``coarsen``'s contract) stay in NumPy; the checkpoint tables are
    written from the driver; and the composed labels go back once
    (``frame``)."""

    def __init__(self, spark, tbl, colors, base):
        self.spark = spark
        # base: (id, label) of the distributed levels before the entry
        # level (labels = entry-level vertex ids), None from level 0
        self.base = base
        self.s, self.d, self.w, self.ids, self.colors = _collect_level(
            tbl, colors)
        self.entry = self.ids    # the entry level's vertex ids
        self.comp = None         # entry vertex -> current level vertex
        self.labels = None

    def phase(self, threshold, lower, cfg, metrics, level, nparts):
        metrics.record(kind="tier", tier="local", reason=None,
                       ne=len(self.s), nparts=nparts)
        # the entry level's colors serve its first phase only (the
        # threshold-cycling final pass runs uncolored, as distributed)
        self.labels, q, iters = _phase_arrays(
            self.s, self.d, self.w, self.ids, threshold, lower, cfg,
            metrics, level, colors=self.colors)
        self.colors = None
        return PhaseResult(assignment=None, q=q, iters=iters,
                           nv=len(self.ids))

    def accept(self):
        """Compose the last phase's renumbered labels (main.cpp:392-415)."""
        from vite_spark.oracle.louvain_ref import _dense_renumber

        ren = _dense_renumber(self.labels)
        self.comp = ren if self.comp is None else ren[self.comp]

    def coarsen(self):
        import numpy as np

        from vite_spark.oracle.louvain_ref import coarsen_oracle

        self.s, self.d, self.w, nv, _ = coarsen_oracle(
            self.s, self.d, self.w, self.labels, len(self.ids))
        self.ids = np.arange(nv, dtype=np.int64)

    def checkpoint(self, root, level, meta):
        """The next level's edges and the phase state after an accepted
        phase; from a distributed base, the composed labels need its
        join, so that table is a Spark write."""
        ckpt.write_level_edges_arrays(root, level, self.s, self.d, self.w,
                                      {"phase": level})
        if self.base is None:
            ckpt.write_phase_state_arrays(root, self.entry, self.comp, meta)
        else:
            ckpt.write_phase_state(root, self.frame(), meta)

    def frame(self) -> DataFrame | None:
        """The composed labels (id, label) through the last accepted
        phase: the driver's labels themselves from level 0, else joined
        once onto the distributed levels' labels."""
        from vite_spark.kernels.csr_pr import _emit_local

        if self.comp is None:
            return self.base
        lab = _emit_local(self.spark, {"id": self.entry, "label": self.comp},
                          "id long, label long")
        if self.base is None:
            return lab
        return self.base.join(
            lab.select(F.col("id").alias("label"),
                       F.col("label").alias("nlabel")), "label",
        ).select("id", F.col("nlabel").alias("label"))


def _probe(edges: DataFrame):
    """One job: max src, max dst and the row count (``ne``) — the local
    gate's input where no capped collect asked (``louvain_phase``, a
    colored level 0) and ``_csr_phase``'s dense-id precheck / partition
    cap."""
    return edges.agg(
        F.max("src").alias("ms"), F.max("dst").alias("md"),
        F.count(F.lit(1)).alias("ne"),
    ).collect()[0]


def _fits_driver(ne: int, cfg: EngineConfig) -> bool:
    """The one Louvain gate (every level): at most
    ``cfg.local_phase_max_edges`` rows run in the driver; 0 disables it."""
    return 0 < cfg.local_phase_max_edges and ne <= cfg.local_phase_max_edges


def _csr_phase(
    spark: SparkSession,
    edges: DataFrame,
    threshold: float,
    lower: float,
    cfg: EngineConfig,
    metrics: MetricsCollector,
    level: int,
    colors: DataFrame | None = None,
    coarsen_gain_over: float | None = None,
    probe=None,
    gate: dict | None = None,
) -> PhaseResult | None:
    """Distributed packed-CSR phase (BASELINE.json core-iteration design).

    One-time pack: the src-partitioned adjacency lands in per-partition
    worker-local .npy files; after that ZERO edge bytes cross the
    JVM/Python boundary. Mutable state (curr/comm_deg/comm_size) lives as a
    per-worker-process mirror advanced by per-superstep MOVE DELTAS that
    travel worker-to-worker as mv_{step}_{pid}.npy files next to the pack
    files — nothing O(nv) or O(moved) ever crosses the driver, whose
    per-superstep job result is nparts scalar sentinel rows (round-2
    redesign; the former collect-moves + re-broadcast design cost ≈1.5 s
    serial per superstep at 128M edges and capped scaling at 0.5).

    Modularity protocol (exact louvain.cpp:427-592 semantics, assembled one
    job late): superstep k's sweep reports the pre-move e-term at S_{k-1}
    AND the per-partition a-term partials Σ cd[owned]² at S_{k-1} — which
    is the POST-move a-term of superstep k-1. The driver therefore checks
    superstep k-1's convergence after job k; labels/Q/iters returned are
    bit-identical to the reference protocol (pytest-enforced), at the cost
    of one extra (discarded) sweep per phase.

    State representation (cfg.csr_mirror_max_ids boundary):
    - MIRROR (kernels/csr.py): every worker holds O(nv_dense) state arrays
      advanced by move deltas — fastest constant, bounded by per-worker
      memory (~40 B/id across the 5 arrays).
    - SHARDED (kernels/csr_sharded.py): per-partition state over the
      partition's universe + owned slice only (Vite's localCinfo /
      remoteCinfo model, louvain.cpp:2583-2954) with self-describing move
      records — no dense-id ceiling; this is the path a 10⁹-vertex graph
      takes. Its pack comes from the one sharded builder,
      ``kernels/csr_pr._prepare_pack`` (range ownership + routes; level 0
      caches it as ``vite_pack`` under ``cfg.pack_cache_dir``, shared
      with the PageRank family; coarse levels build a temporary pack),
      at ``PACK_ROWS_PER_PART`` rows per partition.

    Checkpointing (cfg.checkpoint_dir): the mirror kernel's sweep tasks
    write their owned slices and the driver commits iteration j after job
    j+1, when it accepts j (runtime/checkpoint.py); the sharded and
    colored kernels do not checkpoint, so they decline.

    ``gate`` (the caller's tier row) receives the ``tier`` this phase
    runs (packed/sharded), the pack's ``nparts``, and a ``reason`` when
    the phase declines for a non-local master or a checkpoint dir.

    Preconditions (enforced here; returns None → caller falls back to the
    shuffle-join superstep):
    - local master (pack files need one filesystem; on a multi-executor
      cluster the join path provides the same semantics)
    - grouping-key width: mirror path pre-checks the conservative
      (max_id+1)² < 2^63; the sharded path's tracked-index key is
      partition-local (srcl·ntrk + idx, ntrk ≤ |U_p|), so only the
      memory-bounded per-partition sizes constrain it — any global id
      width fits (checked on the sharded pack's ``info``)
    - sharded: a vertex-closed input (routing) and integer weights,
      unless ``cfg.csr_force_sharded``
    """
    import shutil
    import tempfile

    from vite_spark.kernels.csr import (
        csr_labels_colored,
        csr_labels_packed,
        csr_superstep_colored,
        csr_superstep_packed,
        pack_colors,
        pack_csr_partitions,
    )
    from vite_spark.kernels.csr_pr import _prepare_pack
    from vite_spark.kernels.csr_sharded import (
        csr_advance_sharded,
        csr_labels_sharded,
        csr_superstep_sharded,
        pack_colors_sharded,
    )

    gate = {} if gate is None else gate
    if not spark.sparkContext.master.startswith("local"):
        gate["reason"] = "non_local"
        return None

    nparts = cfg.shuffle_partitions or int(
        spark.conf.get("spark.sql.shuffle.partitions", "32")
    )
    # cheap precheck before paying the pack scan (the count rides the
    # same agg for free and feeds the scale-adaptive partition cap);
    # reuses the caller's probe row when it already ran one
    row = probe if probe is not None else _probe(edges)
    if row["ms"] is None:
        gate["tier"] = "packed"
        return PhaseResult(
            assignment=spark.createDataFrame([], "id long, comm long"),
            q=float(lower), iters=0, nv=0,
        )
    nv_dense = int(max(row["ms"], row["md"])) + 1
    sharded = cfg.csr_force_sharded or nv_dense > cfg.csr_mirror_max_ids
    if not sharded and nv_dense * nv_dense >= 2**63:
        sharded = True   # mirror's conservative key bound; sharded re-checks
    # colored runs (incl. colored+ET and colored-on-sharded, packed this
    # round — r3 VERDICT next#6) stay on whichever kernel the id width
    # selects; with a checkpoint dir they and the sharded kernel take the
    # join path, which writes the checkpoint
    gate["tier"] = "sharded" if sharded else "packed"
    if cfg.checkpoint_dir and (sharded or colors is not None):
        gate["reason"] = "checkpoint"
        return None

    if sharded:
        # the one sharded-pack builder (range ownership, routes, the
        # level-0 vite_pack cache shared with the PageRank family)
        prep = _prepare_pack(spark, edges, cfg, nparts, int(row["ne"]),
                             cache="vite_pack" if level == 0 else None,
                             target=PACK_ROWS_PER_PART)
        if prep is None:
            # some dst is never a src (input not vertex-closed /
            # symmetrized) → shuffle-join path, same semantics
            return None
        pack_dir, nparts, info, routing, cleanup = prep
    else:
        if cfg.shuffle_partitions is None:
            from vite_spark.config import adaptive_pack_nparts

            nparts = adaptive_pack_nparts(nparts, int(row["ne"]),
                                          target=PACK_ROWS_PER_PART)
        from vite_spark.config import resolve_scratch

        edges = edges.repartition(nparts, "src")
        pack_dir = tempfile.mkdtemp(
            prefix="vite_csr_",
            dir=resolve_scratch(cfg.scratch_dir, ne=int(row["ne"])))
        cleanup = True
    try:
        if sharded:
            if info["max_nown"] * (info["max_nux"] + 1) >= 2**63:
                # tracked-index grouping key (srcl·ntrk + idx) is
                # PARTITION-local: ntrk ≤ nux, so this bound depends only
                # on per-partition sizes (both memory-bounded), never on
                # the global id width — unreachable in practice, kept as
                # a formal guard → join path
                return None
            if not info["w_integer"] and not cfg.csr_force_sharded:
                # non-integer weights: the sharded kernel's per-writer
                # flow pre-aggregation changes float summation ORDER vs
                # the mirror/oracle — auto-route to the join path (r3
                # ADVICE #1); csr_force_sharded opts in deliberately
                return None
        else:
            info = pack_csr_partitions(edges, pack_dir, nparts)
        ne, nv, two_m = info["ne"], info["nv"], info["two_m"]
        const = 1.0 / two_m
        gate["nparts"] = nparts

        if colors is not None:
            # colored iteration = one packed job per color bucket; bucket
            # deltas refresh cd/cs while curr stays iteration-start
            # (kernels/csr.py colored block). Same one-job-late modularity
            # protocol: iteration j is judged after bucket 0 of iteration
            # j+1 reports the a-term at S_j.
            packed_ok = (
                pack_colors_sharded(colors.select("id", "color"), pack_dir,
                                    nparts)
                if sharded
                else pack_colors(colors.select("id", "color"), pack_dir,
                                 nparts)
            )
            if not packed_ok:
                # colors misaligned with the edge pack (missing/extra
                # vertices) → shuffle-join colored path, same semantics
                return None
            vals = sorted(
                r["color"] for r in colors.select("color").distinct().collect()
            )
            buckets = [c for c in vals if c >= 0] + ([-1] if -1 in vals else [])
            nb = len(buckets)
            et = cfg.early_term
            e_terms, walls, moveds, frozens = {}, {}, {}, {}
            prev_mod = lower
            k = 0
            labels_at, q_final, iters_final = 0, lower, 0
            done = False
            while not done:
                k += 1
                t0 = time.time()
                e_k, moved_k, a_prev = 0.0, 0, 0.0
                for bi, b in enumerate(buckets):
                    if sharded:
                        sent = csr_superstep_sharded(
                            spark, pack_dir, nparts, nv_dense, const,
                            (k - 1) * nb + bi + 1, routing, early_term=et,
                            bucket=(k, bi, nb, b),
                        ).collect()
                    else:
                        sent = csr_superstep_colored(
                            spark, pack_dir, nparts, nv_dense, const, k, bi,
                            nb, b, early_term=et,
                        ).collect()
                    e_k += float(sum(r["e_part"] for r in sent))
                    moved_k += int(sum(r["moved"] for r in sent))
                    if bi == 0:
                        a_prev = float(sum(r["a_part"] for r in sent))
                        frozens[k] = int(sum(r["frozen"] for r in sent))
                        if k >= 2:
                            j = k - 1
                            mod_j = abs(
                                e_terms[j] * const - a_prev * const * const
                            )
                            metrics.record(
                                kind="superstep", level=level, iter=j,
                                q=mod_j, delta_q=mod_j - prev_mod,
                                moved=moveds[j], active=nv - frozens[j],
                                edges_processed=ne, wall_s=walls[j],
                                edges_per_sec=(
                                    ne / walls[j] if walls[j] > 0 else 0.0
                                ),
                                mode="csr_colored",
                            )
                            if et in (3, 4) and frozens[j] >= 0.9 * nv:
                                # t3/t4 phase abort — checked before the
                                # threshold break with the PRE-iteration
                                # frozen count, the oracle/join order
                                labels_at = max(j - 2, 0)
                                q_final, iters_final = prev_mod, j
                                done = True
                                break
                            if (mod_j - prev_mod) < threshold:
                                labels_at = max(j - 2, 0)
                                q_final, iters_final = prev_mod, j
                                done = True
                                break
                            prev_mod = mod_j if mod_j > lower else lower
                            if j >= cfg.max_total_iterations:
                                labels_at = j - 1
                                q_final, iters_final = prev_mod, j
                                done = True
                                break
                if not done:
                    walls[k] = time.time() - t0
                    e_terms[k] = e_k
                    moveds[k] = moved_k
            if sharded:
                # labels replay is the PLAIN sharded one over linear
                # bucket steps: labels_at full iterations = labels_at·nb
                # self-move files (each vertex moves at most once per
                # iteration, so later iterations supersede exactly)
                lab = csr_labels_sharded(
                    spark, pack_dir, nparts, labels_at * nb
                ).localCheckpoint(eager=True)
            else:
                lab = csr_labels_colored(
                    spark, pack_dir, nparts, nv_dense, labels_at, nb
                ).localCheckpoint(eager=True)
            return PhaseResult(
                assignment=lab, q=float(q_final), iters=iters_final, nv=nv
            )

        et = cfg.early_term
        e_terms: dict = {}
        walls: dict = {}
        moveds: dict = {}
        frozens: dict = {}
        prev_mod = lower
        k = 0
        labels_at = 0
        q_final = lower
        iters_final = 0
        ck, every = cfg.checkpoint_dir, cfg.checkpoint_every
        ck_state = {"two_m": two_m, "nv": nv, "ne": ne, "early_term": et}
        while True:
            k += 1
            t0 = time.time()
            if ck and ckpt._due(k, every):
                ckpt.clear_superstep(ck, level, k)
            # moves travel worker-to-worker via per-(step, pid) files; the
            # driver's job result is nparts scalar sentinel rows only
            if sharded:
                # owner-state advance is normally FUSED into the sweep
                # job (each partition's task is the unique writer of its
                # own ost file; racing readers recompute bit-identically
                # from the (o, k-2) cache + flow partials) — but after a
                # MOVE-HEAVY superstep that racing recompute replays
                # O(nworkers × flow volume), so the driver pays the
                # advance job's ~2 s fixed cost only when the sentinel
                # move count says the duplicated merge work would cost
                # more (measured at 24M vertices: 81 s fused vs ~12 s
                # with the barrier on the first post-bulk-move step).
                if k >= 2 and moveds[k - 1] > max(nv // 50, 1):
                    csr_advance_sharded(spark, pack_dir, nparts, k).collect()
                sent = csr_superstep_sharded(
                    spark, pack_dir, nparts, nv_dense, const, k,
                    routing, early_term=et,
                ).collect()
            else:
                sent = csr_superstep_packed(
                    spark, pack_dir, nparts, nv_dense, const, k,
                    early_term=et,
                    checkpoint=(ck, level, every) if ck else None,
                ).collect()
            walls[k] = time.time() - t0
            e_terms[k] = float(sum(r["e_part"] for r in sent))
            a_prev = float(sum(r["a_part"] for r in sent))
            moveds[k] = int(sum(r["moved"] for r in sent))
            frozens[k] = int(sum(r["frozen"] for r in sent))

            if k >= 2:
                j = k - 1
                mod_j = abs(e_terms[j] * const - a_prev * const * const)
                metrics.record(
                    kind="superstep", level=level, iter=j, q=mod_j,
                    delta_q=mod_j - prev_mod, moved=moveds[j],
                    active=nv - frozens[j],
                    edges_processed=ne, wall_s=walls[j],
                    edges_per_sec=ne / walls[j] if walls[j] > 0 else 0.0,
                    mode="csr_sharded" if sharded else "csr_packed",
                )
                if et in (3, 4) and frozens[j] >= 0.9 * nv:
                    # t3/t4 phase abort (join-path order: after the j
                    # metrics, before the threshold check) — same return
                    # protocol as the convergence break
                    labels_at, q_final, iters_final = max(j - 2, 0), prev_mod, j
                    break
                if (mod_j - prev_mod) < threshold:
                    # reference break at iteration j returns pastComm =
                    # state two supersteps back (identity within the
                    # first two) and prevMod
                    labels_at, q_final, iters_final = max(j - 2, 0), prev_mod, j
                    break
                prev_mod = mod_j if mod_j > lower else lower
                if ck and ckpt._due(j, every):
                    # job k wrote S_j as iter j's assignment; job j wrote
                    # its past (and act)
                    ckpt.commit_superstep(
                        ck, level, j,
                        {"iter": j, "prev_mod": prev_mod, **ck_state},
                        has_act=bool(et),
                    )
                if j >= cfg.max_total_iterations:
                    # reference max-iter break happens AFTER rotation:
                    # past = S_{j-1}, prevMod = mod_j
                    labels_at, q_final, iters_final = j - 1, prev_mod, j
                    break

        if sharded:
            lab = csr_labels_sharded(
                spark, pack_dir, nparts, labels_at
            ).localCheckpoint(eager=True)
        else:
            if (
                coarsen_gain_over is not None
                and (float(q_final) - coarsen_gain_over) > threshold
            ):
                # caller will coarsen (same gain test it applies):
                # fused labels + dense renumber + coarse partials in one
                # kernel job — see csr_labels_coarse_packed
                from vite_spark.kernels.csr import csr_labels_coarse_packed

                mixed = csr_labels_coarse_packed(
                    spark, pack_dir, nparts, nv_dense, labels_at
                ).localCheckpoint(eager=True)
                lab = mixed.filter(F.col("kind") == 0).select(
                    F.col("a").alias("id"), F.col("b").alias("comm")
                )
                renum = mixed.filter(F.col("kind") == 2).select(
                    F.col("a").alias("id"), F.col("b").alias("label")
                )
                coarse = (
                    mixed.filter(F.col("kind") == 1)
                    .groupBy(F.col("a").alias("src"), F.col("b").alias("dst"))
                    .agg(F.sum("w").alias("weight"))
                )
                return PhaseResult(
                    assignment=lab, q=float(q_final), iters=iters_final,
                    nv=nv, renum_labels=renum, coarse_edges=coarse,
                )
            lab = csr_labels_packed(
                spark, pack_dir, nparts, nv_dense, labels_at
            ).localCheckpoint(eager=True)
        return PhaseResult(
            assignment=lab, q=float(q_final), iters=iters_final, nv=nv
        )
    finally:
        if cleanup:
            shutil.rmtree(pack_dir, ignore_errors=True)


def louvain_phase(
    spark: SparkSession,
    edges: DataFrame,
    threshold: float,
    lower: float = -1.0,
    cfg: EngineConfig | None = None,
    metrics: MetricsCollector | None = None,
    level: int = 0,
    resume_from: tuple | None = None,
    colors: DataFrame | None = None,
    coarsen_gain_over: float | None = None,
    probe=None,
) -> PhaseResult:
    """One Louvain phase (reference distLouvainMethod, louvain.cpp:427-592).

    ``edges`` must be the canonical symmetrized table for this level.
    Vertices = distinct src of edges (isolated vertices never move; callers
    compose them as identity). Returns pastComm per the reference protocol.

    cfg.early_term 1-4 enables the reference ET heuristics (documented
    intent, louvain.cpp:7-425); ``colors`` (id, color; -1 allowed) enables
    the colored Gauss-Seidel-by-color variant (louvain.cpp:593-786).

    Adaptive execution: a level of at most cfg.local_phase_max_edges rows
    runs driver-local on the CSR NumPy kernel (``_local_phase``, identical
    semantics), a larger one on the packed kernels (``_csr_phase``), the
    rest on the shuffle-join superstep. (``louvain`` runs every level from
    the first that fits the gate in the driver itself, so it calls this
    only for the distributed levels and for a resumed level.) With a
    checkpoint dir every tier writes the same per-superstep checkpoint
    (runtime/checkpoint.py); a resume runs the join path, which reads it.
    ``probe`` is a ``_probe`` row the caller already ran on ``edges``
    (then the caller owns the input pin).

    Records one ``kind="tier"`` metrics row: ``tier``
    (local/packed/sharded/join), ``reason`` for the join tier (resume,
    config = use_csr_kernel off, checkpoint = a sharded or colored phase
    with a checkpoint dir, non_local, kernel = any other decline of
    ``_csr_phase``) and the gate inputs ``ne`` and ``nparts``.
    """
    cfg = cfg or EngineConfig()
    metrics = metrics or MetricsCollector()
    nparts = cfg.shuffle_partitions or int(
        spark.conf.get("spark.sql.shuffle.partitions", "32"))
    gate = {"tier": "join", "reason": None, "ne": None, "nparts": nparts}

    pin = None
    try:
        if (
            probe is None
            and (cfg.local_phase_max_edges > 0 or cfg.use_csr_kernel)
            and resume_from is None
        ):
            # pin the level's edge table across the probe and whichever
            # tier consumes it next (the local tier's Arrow collect or the
            # packed path's pack job): each re-ran the caller's upstream
            # derivation on an unpersisted input (csr_pr._run_packed's
            # pattern). Skipped when the caller already cached it (the
            # bench does); released once the tier has materialized — on
            # the join path, once its own repartitioned copy is filled
            # (the count below).
            if not edges.is_cached:
                pin = edges = edges.persist()
            # one probe job serves BOTH the local-tier gate and
            # _csr_phase's dense-id precheck / scale-adaptive partition
            # cap (formerly a count job here plus an agg job there)
            probe = _probe(edges)
        if probe is not None:
            gate["ne"] = int(probe["ne"] or 0)
        if probe is not None and _fits_driver(gate["ne"], cfg):
            res = _local_phase(spark, edges, threshold, lower, cfg, metrics,
                               level, colors=colors)
            gate["tier"] = "local"
            metrics.record(kind="tier", **gate)
            return res

        if resume_from is not None:
            gate["reason"] = "resume"
        elif not cfg.use_csr_kernel:
            gate["reason"] = "config"
        else:
            # early_term and colored runs stay on the packed path too
            # (owner-local ET state files; one packed job per color
            # bucket; the colored+ET combination chains ET state per
            # bucket — r2 VERDICT next#6, r3 next#6). _csr_phase returns
            # None for the combinations it does not pack (colored or
            # sharded with a checkpoint dir, non-local master, key-width
            # overflow) and the join superstep below provides identical
            # semantics.
            res = _csr_phase(
                spark, edges, threshold, lower, cfg, metrics, level,
                colors=colors, coarsen_gain_over=coarsen_gain_over,
                probe=probe, gate=gate,
            )
            if res is not None:
                metrics.record(kind="tier", **gate)
                return res
            gate.update(tier="join", nparts=nparts,
                        reason=gate["reason"] or "kernel")

        edges = edges.repartition(nparts, "src").persist()

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
        ne = edges.count()
    finally:
        if pin is not None:
            pin.unpersist()
    if gate["ne"] is None:
        gate["ne"] = ne
    metrics.record(kind="tier", **gate)
    const = 1.0 / two_m

    # state init (louvain.cpp:2564-2581) or resume (north_star)
    start_iter = 0
    prev_mod = lower
    act_resumed: DataFrame | None = None
    if resume_from is not None:
        curr, past, state, act_resumed = resume_from
        if int(state.get("early_term", 0)) != cfg.early_term:
            raise ValueError(
                "checkpoint was written with early_term="
                f"{state.get('early_term', 0)} but resume requested "
                f"early_term={cfg.early_term}: the freeze/decay trajectory "
                "is config-dependent, so mixed resume would diverge"
            )
        if cfg.early_term and act_resumed is None:
            raise ValueError(
                "checkpoint carries no ET activity state (active, "
                "frozen_cw, p) — it predates ET-aware checkpoints; a "
                "resumed ET run would diverge from the uninterrupted "
                "trajectory"
            )
        for key, have in (("nv", nv), ("ne", ne), ("two_m", two_m)):
            if not math.isclose(state[key], have, rel_tol=1e-12):
                raise ValueError(
                    f"checkpoint was written for a graph with {key}="
                    f"{state[key]} but this level has {key}={have}: it "
                    "belongs to another graph"
                )
        start_iter = state["iter"]
        prev_mod = state["prev_mod"]
        curr = curr.persist()
        past = past.persist()
    else:
        past = vstate.select("id", F.col("id").alias("comm")).persist()
        curr = past

    def comm_aggregates(assign: DataFrame) -> DataFrame:
        return (
            assign.join(_maybe_broadcast(vstate.select("id", "vdeg"), nv, cfg), "id")
            .groupBy("comm")
            .agg(F.sum("vdeg").alias("degree"), F.count(F.lit(1)).alias("size"))
        )

    comm_info = comm_aggregates(curr).persist()

    hubs: DataFrame | None = None
    if cfg.explicit_salting:
        # skew set computed ONCE per phase: vertices whose neighbor count
        # exceeds the threshold get salted counters in every superstep
        hubs = (
            edges.groupBy("src")
            .agg(F.count(F.lit(1)).alias("nbrs"))
            .filter(F.col("nbrs") > cfg.skew_degree_threshold)
            .select("src")
            .persist()
        )

    et = cfg.early_term
    act: DataFrame | None = None  # (id, active, frozen_cw, p)
    if et:
        act = (
            act_resumed if act_resumed is not None else vstate.select(
                "id",
                F.lit(True).alias("active"),
                F.lit(0.0).alias("frozen_cw"),
                F.lit(1.0).alias("p"),
            )
        ).persist()

    buckets: list | None = None
    colors_df = None
    if colors is not None:
        colors_df = colors.persist()
        vals = sorted(r["color"] for r in colors_df.select("color").distinct().collect())
        # uncolored (-1) form the LAST bucket (louvain.cpp:657-658)
        buckets = [c for c in vals if c >= 0] + ([-1] if -1 in vals else [])

    iters = start_iter
    while True:
        t0 = time.time()
        iters += 1

        sweep_edges = edges
        if et:
            sweep_edges = edges.join(
                _maybe_broadcast(
                    act.filter(F.col("active")).select(F.col("id").alias("src")),
                    nv, cfg,
                ),
                "src",
                "left_semi",
            )

        colored_tmp: list = []
        if buckets is None:
            decisions = _superstep(sweep_edges, curr, comm_info, vstate, const, nv, cfg, hubs=hubs)
        else:
            # colored variant: community aggregates updated between color
            # buckets; neighbor assignments stay Jacobi (louvain.cpp:684-737)
            st, e_cc = _counter_tables(sweep_edges, curr, vstate, nv, cfg, hubs=hubs)
            st = st.persist()
            e_cc = e_cc.persist()
            colored_tmp = [st, e_cc]  # released after the eager decision cut
            cand_all = st.filter(F.col("dcomm") != F.col("cc")).join(
                _maybe_broadcast(
                    colors_df.select(F.col("id").alias("src"), "color"), nv, cfg
                ),
                "src",
            )
            assign_next = curr
            cinfo = comm_info
            for bi, b in enumerate(buckets):
                best_b = _argmax_moves(
                    cand_all.filter(F.col("color") == b).drop("color"),
                    e_cc, cinfo, const, nv, cfg,
                )
                assign_next = (
                    assign_next.join(
                        best_b.select(F.col("src").alias("id"), "move_comm"),
                        "id", "left",
                    )
                    .select(
                        "id",
                        F.coalesce("move_comm", F.col("comm")).alias("comm"),
                    )
                )
                # plans would chain across buckets (O(B²) optimizer work —
                # measured pathological even at fixture scale): cut eagerly
                # after every bucket so each bucket sees a flat plan
                assign_next = assign_next.localCheckpoint(eager=True)
                cinfo = comm_aggregates(assign_next)
            decisions = e_cc.join(
                assign_next.select(F.col("id").alias("src"), F.col("comm").alias("nc")),
                "src",
            ).select(
                F.col("src").alias("id"), F.col("cc"),
                F.col("nc").alias("new_comm"), "e_cc", "vdeg",
            )

        if et:
            # frozen vertices keep their community and contribute their
            # frozen clusterWeight (louvain.cpp:100-113)
            decisions = (
                act.join(decisions, "id", "left")
                .join(_maybe_broadcast(curr.select("id", F.col("comm").alias("cc0")), nv, cfg), "id")
                .select(
                    "id",
                    F.coalesce("cc", F.col("cc0")).alias("cc"),
                    F.when(F.col("active"), F.coalesce("new_comm", F.col("cc0")))
                    .otherwise(F.col("cc0")).alias("new_comm"),
                    F.when(F.col("active"), F.coalesce("e_cc", F.lit(0.0)))
                    .otherwise(F.col("frozen_cw")).alias("e_cc"),
                    "active",
                )
            )

        # EAGER lineage cut every superstep: the superstep plan references
        # `curr` in several branches; without a hard cut the analyzed plan
        # tree grows exponentially across iterations (measured: OOM+stall).
        decisions = decisions.localCheckpoint(eager=True)
        for df in colored_tmp:  # colored-path per-iteration caches
            df.unpersist()

        srow = decisions.agg(
            F.sum("e_cc").alias("e_term"),
            F.sum(F.when(F.col("new_comm") != F.col("cc"), 1).otherwise(0)).alias("moved"),
        ).collect()[0]
        e_term, moved = float(srow["e_term"] or 0.0), int(srow["moved"] or 0)

        target = decisions.select("id", F.col("new_comm").alias("comm"))
        comm_info_next = comm_aggregates(target).persist()
        a_term = float(
            comm_info_next.agg(F.sum(F.col("degree") * F.col("degree"))).collect()[0][0]
        )
        curr_mod = abs(e_term * const - a_term * const * const)

        n_frozen = 0
        if et:
            n_frozen = decisions.filter(~F.col("active")).count()

        wall = time.time() - t0
        metrics.record(
            kind="superstep",
            level=level,
            iter=iters,
            q=curr_mod,
            delta_q=curr_mod - prev_mod,
            moved=moved,
            active=nv - n_frozen,
            edges_processed=ne,
            wall_s=wall,
            edges_per_sec=ne / wall if wall > 0 else 0.0,
        )

        if et in (3, 4) and n_frozen >= 0.9 * nv:
            comm_info_next.unpersist()
            break
        if (curr_mod - prev_mod) < threshold:
            comm_info_next.unpersist()
            break

        prev_mod = curr_mod if curr_mod > lower else lower

        if et:
            # freeze/decay rules (documented intent; louvain.cpp:173-183,
            # 380-400) evaluated against (target, curr, past)
            tri = (
                act.join(decisions.select("id", F.col("e_cc").alias("cw_now"),
                                          F.col("new_comm").alias("t")), "id")
                .join(curr.select("id", F.col("comm").alias("c")), "id")
                .join(past.select("id", F.col("comm").alias("pa")), "id")
            )
            if et in (1, 3) and iters > 2:
                new_act = tri.select(
                    "id",
                    (F.col("active") & ~((F.col("t") == F.col("c")) & (F.col("c") == F.col("pa")))).alias("active"),
                    F.when(F.col("active"), F.col("cw_now")).otherwise(F.col("frozen_cw")).alias("frozen_cw"),
                    F.col("p"),
                )
            elif et in (2, 4) and iters > 2:
                from vite_spark.config import ET_ALPHA, P_CUTOFF

                dec = F.col("active") & (F.col("c") == F.col("pa"))
                newp = F.when(dec, F.col("p") * (1.0 - ET_ALPHA)).otherwise(F.col("p"))
                new_act = tri.select(
                    "id",
                    (F.col("active") & ~(newp <= P_CUTOFF)).alias("active"),
                    F.when(F.col("active"), F.col("cw_now")).otherwise(F.col("frozen_cw")).alias("frozen_cw"),
                    newp.alias("p"),
                )
            else:
                new_act = tri.select(
                    "id", "active",
                    F.when(F.col("active"), F.col("cw_now")).otherwise(F.col("frozen_cw")).alias("frozen_cw"),
                    "p",
                )
            # eager truncation: act/past derive from each other across
            # iterations — without a cut the plan grows superlinearly
            new_act = new_act.localCheckpoint(eager=True)
            act.unpersist()
            act = new_act

        # rotation past←curr←target (louvain.cpp:565-570); with ET, frozen
        # vertices skip rotation (their past stays pinned, louvain.cpp:173-183)
        old_past = past
        if et:
            past = (
                act.select("id", "active")
                .join(curr.select("id", F.col("comm").alias("c")), "id")
                .join(old_past.select("id", F.col("comm").alias("pa")), "id")
                .select("id", F.when(F.col("active"), F.col("c")).otherwise(F.col("pa")).alias("comm"))
                .localCheckpoint(eager=True)
            )
            curr = target.localCheckpoint(eager=True)
        else:
            past = curr
            curr = target.persist()
        comm_info.unpersist()
        comm_info = comm_info_next
        if old_past is not past and old_past is not curr:
            old_past.unpersist()

        if cfg.checkpoint_dir and ckpt._due(iters, cfg.checkpoint_every):
            ckpt.write_superstep(
                cfg.checkpoint_dir,
                level,
                iters,
                curr,
                past,
                {"iter": iters, "prev_mod": prev_mod, "two_m": two_m,
                 "nv": nv, "ne": ne, "early_term": et},
                act_df=act if et else None,
            )

        if iters >= cfg.max_total_iterations:
            break

    edges.unpersist()
    vstate.unpersist()
    comm_info.unpersist()
    if hubs is not None:
        hubs.unpersist()
    if act is not None:
        act.unpersist()
    if colors_df is not None:
        colors_df.unpersist()
    return PhaseResult(assignment=past, q=float(prev_mod), iters=iters, nv=nv)


def louvain_sweeps(
    spark: SparkSession,
    edges: DataFrame,
    k: int,
    cfg: EngineConfig | None = None,
) -> DataFrame:
    """Exactly ``k`` plain Jacobi sweeps from the singleton init; returns the
    assignment (id, comm) AFTER the k-th move application.

    No convergence protocol, no pastComm rotation — this is the
    SQL-expressible fixed-sweep variant (the driver's DuckDB oracle runs
    the identical unrolled sweeps; VERDICT r1 item 3). The per-sweep
    semantics (L4 counter, L5 gain/tie-breaks, singleton-swap guard,
    between-sweep community aggregate refresh) are the exact distributed
    superstep used by louvain_phase — so an oracle hit here value-checks
    the flagship sweep end-to-end."""
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
        .select(vdeg.id, "vdeg", F.coalesce("self_w", F.lit(0.0)).alias("self_w"))
        .persist()
    )
    row = vstate.agg(F.sum("vdeg").alias("tw"), F.count(F.lit(1)).alias("nv")).collect()[0]
    two_m, nv = float(row["tw"]), int(row["nv"])
    const = 1.0 / two_m

    curr = vstate.select("id", F.col("id").alias("comm"))
    for _ in range(k):
        comm_info = (
            curr.join(_maybe_broadcast(vstate.select("id", "vdeg"), nv, cfg), "id")
            .groupBy("comm")
            .agg(F.sum("vdeg").alias("degree"), F.count(F.lit(1)).alias("size"))
        )
        decisions = _superstep(edges, curr, comm_info, vstate, const, nv, cfg)
        curr = decisions.select("id", F.col("new_comm").alias("comm")).localCheckpoint(
            eager=True
        )
    edges.unpersist()
    vstate.unpersist()
    return curr


def modularity_of(edges: DataFrame, assignment: DataFrame) -> float:
    """Q of an arbitrary assignment (id, comm) over the canonical
    symmetrized table: Σ_c in_c·const − Σ_c (deg_c·const)², const = 1/2m
    (louvain.cpp:2188-2218 formula applied to a fixed partition)."""
    amap = assignment.select(F.col("id"), F.col("comm"))
    e = (
        edges.join(amap.select(F.col("id").alias("src"), F.col("comm").alias("cs")), "src")
        .join(amap.select(F.col("id").alias("dst"), F.col("comm").alias("cd")), "dst")
    )
    row = e.agg(
        F.sum(F.when(F.col("cs") == F.col("cd"), F.col("weight")).otherwise(0.0)).alias("e_in"),
        F.sum("weight").alias("two_m"),
    ).collect()[0]
    two_m = float(row["two_m"])
    const = 1.0 / two_m
    deg = (
        edges.groupBy("src").agg(F.sum("weight").alias("vdeg"))
        .join(amap.select(F.col("id").alias("src"), "comm"), "src")
        .groupBy("comm").agg(F.sum("vdeg").alias("cdeg"))
    )
    a_term = float(deg.agg(F.sum(F.col("cdeg") * F.col("cdeg"))).collect()[0][0])
    return float(row["e_in"]) * const - a_term * const * const


def coarsen(edges: DataFrame, assignment: DataFrame, cfg: EngineConfig, nv: int) -> tuple[DataFrame, DataFrame]:
    """rebuild.cpp:294-478: super-edges with summed weights; communities
    renumbered densely (deterministic: ordered by community id — the
    SURVEY.md §7.4 parity contract replacing the reference's rank/insertion
    order). Returns (coarse_edges, renumber_map(comm, new_id)).
    """
    ren = dense_ids(assignment.select("comm"), "comm", "new_id")
    amap = assignment.join(F.broadcast(ren) if nv <= cfg.broadcast_max_rows else ren, "comm").select(
        "id", F.col("new_id").alias("comm")
    )
    amap_b = _maybe_broadcast(amap, nv, cfg)
    coarse = (
        edges.join(amap_b.select(F.col("id").alias("src"), F.col("comm").alias("ns")), "src")
        .join(amap_b.select(F.col("id").alias("dst"), F.col("comm").alias("nd")), "dst")
        .groupBy(F.col("ns").alias("src"), F.col("nd").alias("dst"))
        .agg(F.sum("weight").alias("weight"))
    )
    return coarse, ren


def resume_phase(
    spark: SparkSession,
    edges: DataFrame,
    threshold: float,
    cfg: EngineConfig,
    level: int = 0,
    metrics: MetricsCollector | None = None,
    colors: DataFrame | None = None,
) -> PhaseResult:
    """Continue a phase from its latest complete superstep checkpoint
    (north_star: 'runs resume mid-level'). Falls back to a fresh phase when
    no checkpoint exists for this level.

    Resume is supported for the plain, colored, and early-termination
    sweeps (colors must be passed back in — coloring is deterministic, so
    the caller recomputes the same buckets; ET activity state (active,
    frozen_cw, p) is persisted in the checkpoint alongside curr/past, and
    louvain_phase rejects a resume whose early_term config differs from
    the checkpoint's)."""
    resume_from = None
    latest = ckpt.latest_complete(cfg.checkpoint_dir) if cfg.checkpoint_dir else None
    if latest is not None and latest[0] == level:
        assignment, past, state, act = ckpt.read_superstep(
            spark, cfg.checkpoint_dir, level, latest[1]
        )
        resume_from = (assignment, past, state, act)
    return louvain_phase(
        spark, edges, threshold=threshold, cfg=cfg, metrics=metrics,
        level=level, resume_from=resume_from, colors=colors,
    )


def louvain(
    spark: SparkSession,
    edges: DataFrame,
    cfg: EngineConfig | None = None,
    metrics: MetricsCollector | None = None,
    resume: bool = False,
) -> LouvainResult:
    """Full multi-level Louvain (reference main.cpp:242-513 protocol).

    Levels run distributed (``louvain_phase``) until one has at most
    ``cfg.local_phase_max_edges`` rows. The gate is one capped Arrow
    collect of the level (``csr_pr._collect_upto``: no pin, no probe job),
    which is also the driver's input when it fits; a level above the cap
    and a colored level 0 (the coloring re-reads the level) take the
    pinned probe instead. From the first level that fits the run stays
    in the driver (``_DriverLevels``): every remaining
    phase, renumber, composition and coarsening in NumPy, the checkpoint
    tables written from the driver, and the composed labels handed back
    once — the labels themselves when level 0 ran in the driver, else one
    join onto the distributed levels' labels. Vite's coarse phases
    likewise collapse onto few ranks. The protocol (threshold cycling and
    its final 1e-6 pass, one_phase, max_phases, max_total_iterations) is
    this one loop's in both places.

    With ``resume=True`` and a checkpoint dir, the run continues from the
    latest completed level's coarse edges + composed labels, and from the
    latest superstep within the in-flight level (``resume_phase``, the
    join tier); the levels after it take the gate as above."""
    from vite_spark.config import threshold_for_phase
    from vite_spark.kernels.csr_pr import _collect_upto

    cfg = cfg or EngineConfig()
    metrics = metrics or MetricsCollector()
    res = LouvainResult(labels=None, metrics=metrics)
    nparts = cfg.shuffle_partitions or int(
        spark.conf.get("spark.sql.shuffle.partitions", "32"))

    cur_edges = edges
    comm_all: DataFrame | None = None  # (id, label) for original vertices
    drv: _DriverLevels | None = None   # set once the run is in the driver
    pin: DataFrame | None = None       # the level's edges, pinned here
    prev_phase_mod = -1.0
    phase = 0
    short_phase = 0
    tot_iters = 0
    mid_level_resume = False

    if resume and cfg.checkpoint_dir:
        st = ckpt.read_phase_state(spark, cfg.checkpoint_dir)
        if st is not None:
            comm_all, meta = st
            res.q_per_phase = meta["q_per_phase"]
            res.iters_per_phase = meta["iters_per_phase"]
            prev_phase_mod = meta["prev_phase_mod"]
            phase = meta["next_phase"]
            short_phase = meta["short_phase"]
            tot_iters = meta["tot_iters"]
            lvl_edges, _ = ckpt.read_level_edges(spark, cfg.checkpoint_dir, phase)
            if lvl_edges is not None:
                cur_edges = lvl_edges
        mid_level_resume = True

    try:
        while True:
            th = threshold_for_phase(short_phase) if cfg.threshold_cycling else cfg.threshold
            probe = tbl = None
            colored = cfg.coloring and phase == 0 and not cfg.vertex_ordering
            if drv is None and not mid_level_resume:
                if cfg.local_phase_max_edges > 0 and not colored:
                    # the driver gate: one capped Arrow collect (no pin,
                    # no probe job) that is also the driver levels' input
                    tbl = _collect_upto(cur_edges, EDGE_COLS,
                                        cfg.local_phase_max_edges)
                if tbl is None and (cfg.local_phase_max_edges > 0
                                    or cfg.use_csr_kernel):
                    # one pin spans the probe, the coloring, and the
                    # level's consumer (the driver collect, or the
                    # distributed phase and the coarsening that re-reads
                    # the level): each would re-run the caller's upstream
                    # derivation. persist() returns the same object, so
                    # ``pin`` alone says whether this loop owns the cache.
                    if not cur_edges.is_cached:
                        pin = cur_edges = cur_edges.persist()
                    probe = _probe(cur_edges)
            # coloring only on phase 0, where the graph is largest
            # (main.cpp:267-269). cfg.vertex_ordering (L17,
            # distLouvainMethodVertexOrder) is treated as the plain path — this
            # is an exact equivalence, not an approximation: in the reference
            # the color loop (louvain.cpp:1379-1400) reads currComm/localCinfo
            # which are NOT mutated between buckets (decisions write targetComm
            # and accumulate into localCupdate only), and localCupdate is
            # applied AFTER all colors (louvain.cpp:1406-1418) — every vertex
            # therefore sees the identical pre-sweep state, i.e. one Jacobi
            # sweep == distLouvainMethod's single parallel-for; the coloring
            # only reorders thread scheduling. (Contrast L16
            # distLouvainMethodWithColoring, which DOES refresh aggregates
            # between buckets and is implemented separately above.)
            phase_colors = None
            if colored:
                from vite_spark.algos.coloring import multi_hash_coloring

                phase_colors, _ = multi_hash_coloring(spark, cur_edges)
            if probe is not None and _fits_driver(int(probe["ne"] or 0), cfg):
                tbl = _collect_upto(cur_edges, EDGE_COLS)
            if tbl is not None:
                drv = _DriverLevels(spark, tbl, phase_colors, comm_all)
                tbl = None
                if pin is not None:
                    pin.unpersist()
                    pin = None
            if drv is not None:
                pres = drv.phase(th, -1.0, cfg, metrics, phase, nparts)
            elif mid_level_resume:
                # coloring is deterministic, so the recomputed phase_colors are
                # identical to the interrupted run's buckets (ADVICE r1)
                pres = resume_phase(
                    spark, cur_edges, threshold=th, cfg=cfg, level=phase,
                    metrics=metrics, colors=phase_colors,
                )
                mid_level_resume = False
            else:
                pres = louvain_phase(
                    spark, cur_edges, threshold=th, lower=-1.0, cfg=cfg, metrics=metrics,
                    level=phase, colors=phase_colors,
                    coarsen_gain_over=prev_phase_mod, probe=probe,
                )
            tot_iters += pres.iters

            if (pres.q - prev_phase_mod) > th:
                # compose labels through this level (main.cpp:381-425) —
                # in the driver, off the fused mirror-kernel outputs when
                # the phase produced them, else the generic renumber+coarsen
                if drv is not None:
                    drv.accept()
                else:
                    if pres.coarse_edges is not None:
                        coarse = pres.coarse_edges
                        level_labels = pres.renum_labels
                    else:
                        coarse, ren = coarsen(cur_edges, pres.assignment, cfg, nv=pres.nv)
                        level_labels = pres.assignment.join(ren, "comm").select(
                            "id", F.col("new_id").alias("label")
                        )
                    if comm_all is None:
                        comm_all = level_labels.select("id", F.col("label"))
                    else:
                        comm_all = (
                            comm_all.join(
                                level_labels.select(
                                    F.col("id").alias("label"), F.col("label").alias("nlabel")
                                ),
                                "label",
                            )
                            .select("id", F.col("nlabel").alias("label"))
                        )
                    comm_all = comm_all.localCheckpoint(eager=True)
                res.q_per_phase.append(pres.q)
                res.iters_per_phase.append(pres.iters)
                metrics.record(kind="phase", level=phase, q=pres.q, iters=pres.iters)
                if cfg.one_phase:
                    break
                if drv is not None:
                    drv.coarsen()
                else:
                    cur_edges = coarse.localCheckpoint(eager=True)
                    if pin is not None:
                        pin.unpersist()
                        pin = None
                if cfg.checkpoint_dir:
                    meta = {
                        "q_per_phase": res.q_per_phase,
                        "iters_per_phase": res.iters_per_phase,
                        "prev_phase_mod": pres.q,
                        "next_phase": phase + 1,
                        "short_phase": short_phase + 1 if short_phase < 12 else 0,
                        "tot_iters": tot_iters,
                    }
                    if drv is not None:
                        drv.checkpoint(cfg.checkpoint_dir, phase + 1, meta)
                    else:
                        ckpt.write_level_edges(
                            cfg.checkpoint_dir, phase + 1, cur_edges, {"phase": phase + 1}
                        )
                        ckpt.write_phase_state(cfg.checkpoint_dir, comm_all, meta)
            else:
                if cfg.threshold_cycling and not cfg.one_phase and phase < 10:
                    if drv is not None:
                        pres2 = drv.phase(1.0e-6, pres.q, cfg, metrics, phase,
                                          nparts)
                    else:
                        pres2 = louvain_phase(
                            spark, cur_edges, threshold=1.0e-6, lower=pres.q, cfg=cfg,
                            metrics=metrics, level=phase, probe=probe,
                        )
                    res.q_per_phase.append(pres2.q)
                    res.iters_per_phase.append(pres2.iters)
                break

            prev_phase_mod = pres.q
            phase += 1
            short_phase = short_phase + 1 if short_phase < 12 else 0
            if phase >= cfg.max_phases or tot_iters > cfg.max_total_iterations:
                break
    finally:
        if pin is not None:
            pin.unpersist()

    if drv is not None:
        comm_all = drv.frame()
    res.labels = comm_all if comm_all is not None else edges.select(
        F.col("src").alias("id"), F.col("src").alias("label")
    ).distinct()
    res.labels = res.labels.withColumnRenamed("label", "comm")
    res.levels = phase + 1
    return res
