"""Packed-CSR k-core decomposition (coreness per vertex) on the sharded
pack, via the H-index fixpoint of Lü et al., "The H-index of a network
node and its relation to degree and coreness" (Nat. Commun. 7, 10168,
2016): initialize c_0(v) = degree(v) and iterate

    c_s(v) = H({ c_{s-1}(u) : u in N(v) })

where H(S) is the largest h with at least h elements of S ≥ h. The
sequence is pointwise non-increasing and converges exactly to the
coreness (the largest k such that v lies in the k-core) — a published,
purely local Jacobi operator, which is what makes it the right shape for
the engine's one-job-per-iteration dense-exchange kernels (peeling, the
textbook sequential algorithm, is inherently global/ordered).

Semantics are over the SIMPLE UNDIRECTED graph; the caller
(algos/core.py) symmetrizes and deduplicates before packing, so the pack
seen here has no self-loops or multi-edges and every vertex is a src
(vertex-closed by construction). All arithmetic is small-integer INT32
(exact in every accumulation/sort order): every H-index iterate is
bounded by the initial degree vector — the sequence is pointwise
non-increasing — so int32 is exact whenever every degree fits, asserted
at the hco_0 entry point; the narrower dtype halves the gather and
two-key-sort traffic of the bandwidth-bound sweep (the csr_bfs int32
lesson). The packed iterates (corenesses AND per-iteration changed
counts) are IDENTICAL to the join path's (pytest-enforced,
tests/test_core_packed.py).

State files: ``hco_{s}_{pid}.npy`` = partition pid's owned coreness
vector after sweep s (s = 0 is the degree vector, written by a one-off
init job). Sweep s reads every owner's ``hco_{s-1}`` and writes
``hco_{s}`` — never in place, so the gather always sees a consistent
snapshot. Per sweep, ONE job; task p:

1. **Gather** curr over U_p at s-1 through the static req sets into the
   contiguous universe spans (the dense exchange shared with
   csr_lpa/csr_cc/csr_bfs).
2. **Sweep**: per src segment, sort neighbor values descending
   (one np.lexsort on (-vals, srcl)), rank within segment, and
   H = max.reduceat(min(vals_sorted, rank)) — the textbook H-index,
   vectorized across every segment at once.
3. Save ``hco_{s}_{p}``; changed count rides the sentinel. Driver stops
   at Σ changed == 0.

Scale shape: per-partition memory O(edges/p + |U_p|), one O(edges/p ·
log) sort per task per sweep (vals change every round, so the sort
cannot be hoisted like the Louvain grouping), nothing O(nv) anywhere,
scalars only on the driver. Reference analog: Vite has no k-core; the
dense owner-authored exchange is the fillRemoteCommunities send shape
(/root/reference/louvain.cpp:2583-2954) shared with csr_lpa/csr_cc.
"""

from __future__ import annotations

import json
import os
import shutil
import tempfile
import time

import numpy as np

from vite_spark.kernels.csr import _atomic_save, _pid_frame
from vite_spark.kernels.csr_pr import _Fallback, _emit_own, _purge, _run_packed
from vite_spark.kernels.csr_sharded import (
    _load_bounds,
    _req_of,
    _ux_owner_span,
    build_routes,
    pack_csr_partitions_sharded,
)

# also purge csr_wl's wlo_ transients: both kernels share the core_pack
# cache dir, and a hard-killed WL run (finally-block skipped) must not
# leave stale wlo_* accumulating in the persistent cache (r5 ADVICE)
CORE_TRANSIENT_PREFIXES = ("hco_", "wlo_")


def _degree_job(spark, pack_dir, nparts):
    """Write hco_0 = per-owner degree vectors (segment lengths — the
    caller packed the SIMPLE graph, so segment length IS the degree)."""

    def run(pdf_iter):
        import pandas as pd

        for pdf in pdf_iter:
            for pid in pdf["pid"]:
                pid = int(pid)
                own = np.load(os.path.join(pack_dir, f"own_{pid}.npy"),
                              mmap_mode="r")
                if len(own) == 0:
                    yield pd.DataFrame({"pid": [pid], "n": [0]})
                    continue
                srcl = np.load(os.path.join(
                    pack_dir, f"srcl_{pid}.npy"), mmap_mode="r")
                starts_seg = np.flatnonzero(
                    np.r_[True, srcl[1:] != srcl[:-1]])
                assert len(starts_seg) == len(own), \
                    "pack invariant broken: segments must enumerate own"
                lens = np.diff(np.r_[starts_seg, len(srcl)])
                # int32 state: every H-index iterate is bounded by the
                # initial degree vector (the sequence is pointwise
                # non-increasing), so int32 is exact whenever every
                # degree fits — asserted here, the one entry point of
                # the chain (the BFS int32-state lesson: the narrower
                # dtype halves the gather and sort traffic of the
                # bandwidth-bound sweep)
                assert int(lens.max()) < 2 ** 31, \
                    "vertex degree exceeds int32 — widen kernel state"
                _atomic_save(os.path.join(pack_dir, f"hco_0_{pid}.npy"),
                             lens.astype(np.int32))
                yield pd.DataFrame({"pid": [pid], "n": [len(lens)]})

    return _pid_frame(spark, nparts).mapInPandas(
        run, schema="pid int, n long")


def _core_job(spark, pack_dir, nparts, s, routing):
    """Sweep ``s`` (≥ 1): gather hco_{s-1}, per-segment H-index, save
    hco_{s}; sentinel (pid, changed)."""
    owners_of, _ = routing

    def run(pdf_iter):
        import pandas as pd

        for pdf in pdf_iter:
            for pid in pdf["pid"]:
                pid = int(pid)
                own = np.load(os.path.join(pack_dir, f"own_{pid}.npy"),
                              mmap_mode="r")
                if len(own) == 0:
                    yield pd.DataFrame(
                        {"pid": [pid], "changed": [np.int64(0)]})
                    continue
                ux = np.load(os.path.join(pack_dir, f"ux_{pid}.npy"),
                             mmap_mode="r")
                srcl = np.load(os.path.join(
                    pack_dir, f"srcl_{pid}.npy"), mmap_mode="r")
                dstl = np.load(os.path.join(
                    pack_dir, f"dstl_{pid}.npy"), mmap_mode="r")
                starts_seg = np.flatnonzero(
                    np.r_[True, srcl[1:] != srcl[:-1]])
                lens = np.diff(np.r_[starts_seg, len(srcl)])

                # --- gather curr over U_p at s-1 ---
                starts, bpids = _load_bounds(pack_dir)
                curr = np.empty(len(ux), np.int32)
                for q in owners_of.get(pid, ()):
                    lo, hi = _ux_owner_span(ux, starts, bpids, q)
                    req = _req_of(pack_dir, q, pid)
                    cq = np.load(os.path.join(
                        pack_dir, f"hco_{s - 1}_{int(q)}.npy"),
                        mmap_mode="r")
                    curr[lo:hi] = cq[req]
                own_pos = np.searchsorted(ux, own)
                old_own = curr[own_pos].copy()

                # --- sweep: per-segment H-index of neighbor values ---
                # all-int32 hot path (values bounded by int32 degrees —
                # the hco_0 guard — and per-partition row counts < 2^31
                # by the same pack invariant): half the bytes through
                # the gather, the two-key sort, and the rank clamp
                vals = curr[dstl]
                o2 = np.lexsort((-vals, srcl))
                vs = vals[o2]
                rank = (np.arange(len(srcl), dtype=np.int32)
                        - np.repeat(starts_seg.astype(np.int32),
                                    lens) + np.int32(1))
                new_own = np.maximum.reduceat(
                    np.minimum(vs, rank), starts_seg)

                changed = int((new_own != old_own).sum())
                _atomic_save(
                    os.path.join(pack_dir, f"hco_{s}_{pid}.npy"), new_own)
                old = s - 2
                if old >= 0:
                    try:
                        os.remove(os.path.join(
                            pack_dir, f"hco_{old}_{pid}.npy"))
                    except OSError:
                        pass
                yield pd.DataFrame(
                    {"pid": [pid], "changed": [np.int64(changed)]})

    return _pid_frame(spark, nparts).mapInPandas(
        run, schema="pid int, changed long"
    )


def _prepare_core_pack(spark, edges_simple, cfg, nparts, ne):
    """(pack_dir, nparts, info, routing, cleanup) — the sharded pack of
    the SIMPLIFIED graph + routes. Never the shared vite_pack (that cache
    holds the canonical weighted table — different graph, different
    semantics); with cfg.pack_cache_dir set it caches under its OWN
    <pack_cache_dir>/core_pack (the tri_pack convention), so repeated
    runs — the scaling probe's interleaved reps — skip the
    simplify+pack, the fileConvert-once analog. Same caller contract as
    every pack cache: one cache dir ↔ one edge table + nparts; the
    nparts half of that contract is validated against the manifest (a
    stale cache left by a killed run with a different layout is wiped
    and repacked, not silently reused; the table half stays the
    documented dir-naming convention)."""
    routing = None
    info = None
    pack_dir = None
    cleanup = True
    requested_nparts = nparts
    if cfg.pack_cache_dir:
        pack_dir = os.path.join(cfg.pack_cache_dir, "core_pack")
        cleanup = False
        mf = os.path.join(pack_dir, "manifest.json")
        if os.path.exists(mf):
            with open(mf) as fh:
                man = json.load(fh)
            if man.get("requested_nparts") != nparts:
                shutil.rmtree(pack_dir, ignore_errors=True)
            else:
                info = man["info"]
                nparts = man["nparts"]
                routing = (
                    {int(k): v for k, v in man["owners_of"].items()},
                    {int(k): v for k, v in man["rdrs_of"].items()},
                )
                _purge(pack_dir, CORE_TRANSIENT_PREFIXES)
    if info is None:
        # the runner (csr_pr._run_packed) pins edges_simple across its
        # count, the range sample and the pack job
        if ne is not None:
            # scale-adaptive partition count (guide §2) over the
            # runner's count
            from vite_spark.config import adaptive_pack_nparts

            nparts = adaptive_pack_nparts(nparts, ne)
        e = edges_simple.repartitionByRange(nparts, "src")
        nparts = e.rdd.getNumPartitions()
        if pack_dir is None:
            from vite_spark.config import resolve_scratch

            pack_dir = tempfile.mkdtemp(
                prefix="vite_csr_core_",
                dir=resolve_scratch(cfg.scratch_dir, ne=ne))
        else:
            os.makedirs(pack_dir, exist_ok=True)
        try:
            info = pack_csr_partitions_sharded(e, pack_dir, nparts)
            if info["nv"] == 0:
                # no partition wrote files: nothing to route
                raise _Fallback("empty")
        except BaseException:
            if cleanup:
                shutil.rmtree(pack_dir, ignore_errors=True)
            raise
    if routing is None:
        routing = build_routes(spark, pack_dir, nparts)
        if routing is None:
            if cleanup:
                shutil.rmtree(pack_dir, ignore_errors=True)
            return None
        if not cleanup:
            tmp = os.path.join(pack_dir, f".mf.{os.getpid()}")
            with open(tmp, "w") as fh:
                json.dump({
                    "info": info, "nparts": nparts,
                    "requested_nparts": requested_nparts,
                    "owners_of": routing[0], "rdrs_of": routing[1],
                }, fh)
            os.replace(tmp, os.path.join(pack_dir, "manifest.json"))
    return pack_dir, nparts, info, routing, cleanup


def csr_coreness(spark, edges_simple, max_iter, cfg, metrics,
                 force_iters=False):
    """Packed-CSR coreness driver over a SIMPLE undirected edge table
    (caller guarantees symmetrized, deduped, self-loop-free — hence
    vertex-closed), through ``csr_pr._run_packed`` (sharded tier only).
    Returns the (id, coreness) DataFrame, or None when the caller's join
    path must run: non-local master, empty input, or routing finds the
    input not vertex-closed after all."""

    def step(pack_dir, nparts, info, routing):
        _degree_job(spark, pack_dir, nparts).collect()
        s_final = 0
        for s in range(1, max_iter + 1):
            t0 = time.time()
            sent = _core_job(spark, pack_dir, nparts, s, routing).collect()
            changed = int(sum(r["changed"] for r in sent))
            s_final = s
            metrics.record(kind="core_superstep", iter=s,
                           changed=changed, wall_s=time.time() - t0,
                           edges_processed=int(info["ne"]),
                           mode="csr_sharded_hindex")
            if changed == 0 and not force_iters:
                # force_iters (probe use): post-convergence sweeps are
                # fixpoint no-ops — identical gather/compute, identical
                # hco arrays — so running them measures the kernel's
                # steady per-superstep cost on any input
                break
        return _emit_own(spark, pack_dir, nparts, "id long, coreness long",
                         [("coreness", f"hco_{s_final}")])

    return _run_packed(spark, edges_simple, cfg, metrics,
                       CORE_TRANSIENT_PREFIXES, step,
                       prepare=_prepare_core_pack)
