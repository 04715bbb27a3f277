"""Engine configuration.

Mirrors the reference CLI surface (/root/reference/main.cpp:609-769) as a
dataclass: convergence threshold (-h), threshold cycling (-i), early
termination (-t 1..4), coloring (-c/-o), one-phase (-p), plus Spark-native
knobs (broadcast threshold, shuffle partitions, skew salting) that replace
Vite's -b edge-balanced partitioning and MPI tuning flags.
"""

from __future__ import annotations

import os

from dataclasses import dataclass


# Reference constants (/root/reference/utils.hpp:67-73, louvain.hpp:68-74)
TERMINATION_PHASE_COUNT = 200
MAX_TOTAL_ITERATIONS = 10_000
CONVERGENCE_THRESHOLD = 1.0e-6
ET_CUTOFF = 2          # freeze after community unchanged for this many extra iters (t1/t3)
P_CUTOFF = 0.02        # probability floor for probabilistic ET (t2/t4)
ET_ALPHA = 0.5         # probability decay for t2/t4 (louvain.cpp:384)
ET_PHASE_ABORT_FRACTION = 0.9  # documented intent of t3/t4 (README:358-369)


def threshold_for_phase(phase: int) -> float:
    """Threshold-cycling schedule (-i), /root/reference/main.cpp:249-263.

    1e-3 for phases 0-2, 1e-4 for 3-6, 1e-5 for 7-9, 1e-6 for 10-12,
    then the 13-phase pattern repeats.
    """
    p = phase % 13
    if p <= 2:
        return 1.0e-3
    if p <= 6:
        return 1.0e-4
    if p <= 9:
        return 1.0e-5
    return 1.0e-6


# Per-partition edge-row target for the packed kernels' scale-adaptive
# partitioning (guide §2: derive parallelism from input size, not a
# constant tuned to one mode). Each pack partition should carry enough
# rows that its per-superstep NumPy sweep dominates the fixed per-task
# dispatch cost (measured ~7 ms/task + ~190 ms/job on this host); 2M rows
# ≈ 30-60 ms of sweep per task. Overridable for clusters whose task
# dispatch or memory profile differs.
#
# At one partition (ne ≤ this target) every kernel with a single-task
# tier runs in the driver (kernels/csr_pr._driver_local), the triangle
# kernels included. Crossover at the top (4-core VM, local[4], seeded
# inputs, 3 interleaved reps, whole call, driver tier vs
# shuffle_partitions=4): PageRank 4M-row ring lattice 5.4/4.7/4.0 s vs
# 10.4/7.5/7.4 s, Chung-Lu (alpha 2.1, 4M rows) 7.5/6.7/6.8 s vs
# 14.7/13.9/13.4 s; CC Chung-Lu 5.5/5.6/6.0 s vs 8.3/8.6/7.9 s; triangle
# count 100-vertex dense communities (p = 0.5) at 2M rows 4.3/4.2/4.0 s vs
# 13.3/9.5/7.5 s, at 4M 6.0/7.3/6.8 s vs 10.0/10.2/10.6 s, ring lattice
# 4M 2.4/2.0/1.8 s vs 9.0/8.6/8.7 s, Chung-Lu 4M 7.7/7.7/7.7 s vs
# 11.5/10.3/10.2 s; per-vertex triangles dense 4M 10.3/10.7/9.6 s vs
# 29.9/21.2/17.5 s, Chung-Lu 4M 10.2/9.4/9.4 s vs 20.1/15.7/16.9 s. Driver
# peak RSS at 4M rows: Python 350-440 MB (PageRank, CC), 590 MB (triangle
# count), 1.1 GB (per-vertex triangles on dense communities); JVM
# 1.1-1.7 GB (3 GB heap).
PACK_EDGES_PER_PART = int(
    os.environ.get("SPARK_GRAFT_PACK_EDGES_PER_PART", "4000000"))


def adaptive_pack_nparts(requested: int, ne: int | None,
                         target: int | None = None) -> int:
    """Cap the packed-kernel partition count so each partition holds
    ~``target`` units of per-superstep work (edge rows for the linear
    gather kernels; callers with superlinear per-partition work — the
    triangle wedge probe, the Louvain argmax sweep — pass their own work
    estimate/target). Only CAPS (never raises): large inputs keep the
    session's full parallelism, while small inputs stop paying nparts
    task dispatches + nparts² exchange files per superstep for
    microseconds of per-task work. Callers apply this only when
    cfg.shuffle_partitions is None — an explicit config pin (parity
    tests, resume-across-nparts tests, scaling probes) is honored as-is.
    """
    if not ne or ne <= 0 or requested <= 1:
        return requested
    t = target or PACK_EDGES_PER_PART
    return max(1, min(int(requested), -(-int(ne) // t)))


# Scratch a pack of ne edge rows needs: 16 B/edge for the pack (int32
# srcl + int32 dstl + float64 w) plus 24 B/edge of per-run state (up to
# three live 8-byte per-vertex arrays: state files, spans, checkpoints;
# nv <= ne).
SCRATCH_BYTES_PER_EDGE = 16 + 24


def resolve_scratch(scratch_dir: str | None,
                    ne: int | None = None) -> str | None:
    """Effective scratch dir for the packed kernels' pack/state/delta
    files. Explicit cfg value wins; $SPARK_GRAFT_SCRATCH next; else
    /dev/shm when present (single-node tmpfs: no disk writeback in the
    superstep path — measured ~2x on per-iteration walls at sf0.1 and
    2-3x step-wall variance on /tmp at 24M vertices); else None (system
    tempdir). On a multi-node cluster pass the shared scratch explicitly
    (cfg.scratch_dir).

    With the pack's edge count ``ne`` known, a /dev/shm whose free space
    is below the estimate (``SCRATCH_BYTES_PER_EDGE`` per edge) is
    skipped for the system tempdir, and the switch is logged: a full
    tmpfs fails the pack write instead of slowing it."""
    if scratch_dir is not None:
        return scratch_dir
    env = os.environ.get("SPARK_GRAFT_SCRATCH")
    if env:
        return env or None
    if not os.path.isdir("/dev/shm"):
        return None
    if ne:
        st = os.statvfs("/dev/shm")
        need = SCRATCH_BYTES_PER_EDGE * int(ne)
        if st.f_bavail * st.f_frsize < need:
            import logging

            logging.getLogger("vite_spark.config").warning(
                "scratch: /dev/shm has %d MB free, the pack needs ~%d MB "
                "(%d edges); using the system tempdir",
                st.f_bavail * st.f_frsize >> 20, need >> 20, int(ne))
            return None
    return "/dev/shm"


@dataclass
class EngineConfig:
    # Convergence (reference -h / utils.hpp:71-73)
    threshold: float = CONVERGENCE_THRESHOLD
    # Threshold cycling (reference -i / main.cpp:249-263)
    threshold_cycling: bool = False
    # Stop after a single phase (reference -p)
    one_phase: bool = False
    # Early termination mode: 0=off, 1..4 = reference -t 1..4
    early_term: int = 0
    # Use distance-1 coloring (reference -c) / vertex ordering (-o)
    coloring: bool = False
    vertex_ordering: bool = False
    max_phases: int = TERMINATION_PHASE_COUNT
    max_total_iterations: int = MAX_TOTAL_ITERATIONS

    # --- Spark-native execution knobs ---
    # Broadcast per-vertex/per-community state when the row count is below
    # this (replaces Vite's ghost-exchange: small state ships to every
    # executor instead of shuffling the big edge table).
    broadcast_max_rows: int = 5_000_000
    # Degree above which a vertex's adjacency is salted into this many
    # sub-groups for two-stage aggregation (replaces reference -b edge
    # balancing, distgraph.cpp:72-116).
    skew_degree_threshold: int = 1_000_000
    skew_salt_parts: int = 32
    # Explicit two-stage salted aggregation for the L4 counter: stage 1
    # groups by (src, comm, salt(dst)) so a super-hub vertex's counter is
    # built by skew_salt_parts tasks before the final merge. Identical
    # results (integer-weight exact); parity-tested. OFF by default: the
    # map-side partial hash agg + AQE skew-join splitting already collapse
    # hub counters before the shuffle, and the extra stage costs ~1 shuffle
    # on the non-skewed bulk. FLIP THIS ON when a phase runs the
    # shuffle-join superstep (not the packed-CSR path) AND the degree
    # distribution has hubs above ~10^6 neighbors (check
    # graph_stats.max_vdeg) — that is where one reducer would otherwise
    # build a 10^6-row counter group alone.
    explicit_salting: bool = False
    # Shuffle partitions for superstep joins; None = session default.
    shuffle_partitions: int | None = None
    # Checkpoint directory for per-superstep resumable state (None =
    # localCheckpoint only, not resumable across processes). Louvain's
    # driver-local, packed-mirror and shuffle-join tiers all write it
    # (runtime/checkpoint.py), so it does not select the tier; the
    # sharded and colored packed kernels do not, so with a checkpoint dir
    # those phases run the join tier, as does every resume.
    checkpoint_dir: str | None = None
    # Checkpoint every k supersteps (1 = every superstep, per north_star).
    # Lineage is ALWAYS cut eagerly once per superstep regardless — the
    # superstep plan references the assignment in several branches, and
    # analyzed plans don't share subtrees, so uncut plans grow
    # exponentially across iterations.
    checkpoint_every: int = 1
    # Use the packed-CSR delta-replay fast path (kernels/csr.py) for
    # distributed phases when its preconditions hold (local master,
    # dense-ish ids); falls back to the shuffle-join superstep otherwise.
    use_csr_kernel: bool = True
    # Packed-CSR state representation switch: at most this many dense ids
    # run the full per-worker state MIRROR (kernels/csr.py — O(nv) arrays
    # per worker process, fastest constant); beyond it the phase runs the
    # SHARDED state kernel (kernels/csr_sharded.py — O(nv/p + |universe_p|)
    # per partition, Vite's localCinfo/remoteCinfo memory model), which has
    # no dense-id ceiling. 5M ids ≈ 200 MB mirror per worker.
    csr_mirror_max_ids: int = 5_000_000
    # Force the sharded kernel at any size (parity tests / benchmarks).
    csr_force_sharded: bool = False
    # Persistent pack cache for the SHARDED kernel (the fileConvert-once
    # analog of the reference, convert.cpp:102-281: convert an immutable
    # graph once, run many analyses against the binary). When set, the
    # level-0 sharded pack (adjacency, universes, bounds, routes) is
    # written to <dir>/vite_pack on first use and REUSED by later runs —
    # only per-run transients (moves, flows, states) are recreated.
    # Caller contract: every run pointing here must use the SAME edge
    # table and shuffle-partition count; coarse levels never use the
    # cache. Intended for repeated benchmark/analysis runs.
    pack_cache_dir: str | None = None
    # Scratch directory for the packed-CSR kernels' pack/state/delta
    # files (None = the system tempdir). The files are the worker-to-
    # worker exchange medium (shared scratch on a real cluster); on one
    # node a tmpfs like /dev/shm removes disk writeback stalls from the
    # superstep path entirely — measured 2-3x step-wall variance on /tmp
    # at 24M vertices from pack+delta writeback alone. Caller's choice
    # because tmpfs capacity (typically RAM/2) must fit the pack.
    scratch_dir: str | None = None
    # The one Louvain gate (every level; also leiden_levels' driver
    # tier): from the first level with at most this many edge rows, the
    # rest of a louvain() run stays in the driver on the CSR NumPy sweep
    # (one collect, NumPy levels, one emit) instead of distributed
    # supersteps — as Vite's coarse phases collapse onto few ranks. Set
    # to 0 to force the distributed path everywhere (the scaling bench
    # does). Crossover (4-core VM, local[4], 3 GB heap, whole louvain()
    # call plus a labels collect, warm, 3 interleaved reps after a
    # warm-up; the driver loop vs level 0 on the packed tier with the
    # coarse levels in the driver; labels and Q equal in every pair):
    #
    #   rows       input                         driver s        packed s
    #   231,458    lineitem sf0.01               1.57/1.40/1.43  7.37/6.65/6.71
    #   903,296    RGG 110k vertices, weight 1   4.65/4.19/4.66  9.65/9.07/9.24
    #   1,197,704  lineitem sf0.1, even orders  10.34/11.08/10.78 15.81/14.33/13.48
    #   2,392,000  lineitem sf0.1               10.93/10.85/11.42 9.41/9.61/9.54
    #   3,441,504  RGG 425k vertices, weight 1  16.88/18.38/20.04 15.96/17.40/17.07
    #
    # (RGG: io/generators.rgg_edges_spark.) The one-core NumPy sweep loses
    # from ~2.4M rows, so the gate is the measured top where the driver
    # still wins every input, not PACK_EDGES_PER_PART. Peak RSS of one
    # call at the top (1.2M rows, fresh process): Python 333 MB, JVM
    # VmHWM 724 MB; packed level 0: 281 MB, 1,425 MB (workers excluded).
    #
    # leiden_levels (2 levels, 2 + 2 sweeps; same VM, whole call plus a
    # labels collect, warm, 3 interleaved reps; the vectorized NumPy
    # mirror vs the join-path sweeps; labels equal):
    #
    #   rows       input                         driver s        join s
    #   231,458    lineitem sf0.01               0.51/0.50/0.46  13.28/10.14/9.49
    #   972,170    RGG 110k vertices, weight 1   2.10/2.09/2.01  27.48/24.07/21.45
    #
    # (that RGG: the coordinates and radius of rgg_edges_spark at 16
    # strips, pairs counted exactly.)
    local_phase_max_edges: int = 1_200_000
    # Borůvka MSF adaptive contraction tier (algos/msf.py): when a
    # round's picked pseudo-forest (one edge per active component) has
    # at most this many rows, the contraction map is computed
    # driver-local (NumPy min-label + pointer doubling) and broadcast —
    # the relabel join becomes map-side. Above it, the distributed
    # two-phase CC contraction runs. The threshold is the crossover
    # between the local tier's SERIAL cost (toPandas + pointer-doubling
    # union-find + createDataFrame: measured ~5 s/M rows, independent
    # of cores) and the distributed tier's wall (measured ~25 s on a
    # 746k-pair round-1 pseudo-forest at 16 cores — two-phase CC is
    # O(log)-rounds of small jobs, floor-bound at this size regardless
    # of cores). Local wins until the map is several million rows;
    # beyond that (a 10⁹-vertex round 1) the distributed tier both
    # fits memory and finally has enough per-round work to scale.
    msf_local_contract_max_rows: int = 4_000_000
