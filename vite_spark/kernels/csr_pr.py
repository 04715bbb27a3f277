"""Packed-CSR PageRank on the sharded pack (north-rule first-class op),
plus the one runner every route-pack kernel (PageRank, CC, LPA, BFS,
HITS) shares.

The join+agg PageRank (algos/pagerank.py) is the cluster-correct shape,
but on one box its per-iteration cost is a full edge-table shuffle join —
measured 0.539 per-core scaling efficiency 4→16 (BENCH.md r4), bounded by
shuffle machinery, not by the algorithm. This kernel re-expresses the
iteration over the SAME sharded CSR pack the Louvain kernel uses
(kernels/csr_sharded.py: 1-D range ownership, per-partition sorted
universe ux, pack-time req_{owner}_{reader} interest sets), exploiting a
property Louvain doesn't have: **PageRank state is fully determined by
the previous iteration's inbound messages** — no community aggregates, no
tracked pulls, no replay chains.

Two tiers, one gate (``_run_packed``): a run whose pack would have one
partition (``cfg.shuffle_partitions``, else the scale-adaptive count
``adaptive_pack_nparts``), with no ``checkpoint_dir``, takes the
single-task tier; every other run takes the sharded job loop.

- **Single task** (``_single_task``): ONE job maps the edge rows into one
  task, which lexsorts them into pack order and derives own/srcl/dstl
  exactly as a one-partition pack would (ux == own when vertex-closed,
  the merge is the identity, there is no exchange), then runs the whole
  recurrence in place. No range exchange, pack/route files or
  per-iteration jobs. PageRank and CC share this prologue and its driver
  side; each keeps only its recurrence.
- **Sharded job loop**, per iteration ONE job; task p:

  1. **Merge** r_{t-1} over own vertices: accumulate inbound
     contribution spans `prc_{t-1}_{w}_{p}` through the static
     req_{p}_{w} index sets in fixed ascending writer order
     (deterministic float order → every run bit-reproducible), then
     r = (1-d)/n + d·inflow. Saved as `rnk_{t-1}_{p}` (O(nv/p)); the L1
     delta vs `rnk_{t-2}_{p}` rides the sentinel row — the same
     two-scalar driver sync as the join path, one job late.
  2. **Scatter** contributions from r_{t-1}:
     contrib = bincount(dstl, weights=coef·r[srcl]) over the partition's
     universe, where coef = w/out_w (weighted) or 1/outdeg (unweighted)
     is a pack-level static computed once (`coefw_{p}` / `coefu_{p}`).
     srcs are always OWNED under range ownership, so ranks never need a
     remote pull — the only exchange is the per-owner universe span
     `prc_{t}_{p}_{q}` (dense, aligned with req_{q}_{p}: both are the
     ascending q-owned run of the sorted universe — same invariant the
     Louvain dense advance uses).

Per-iteration exchange volume is Σ_p |U_p| floats (the ghost-set size —
Vite's exchange lower bound), compute is O(edges/p) gathers + one
bincount, per-partition memory O(nv/p + |U_p|). Nothing O(nv) on any
worker and nothing but scalars on the driver, so the plan survives a
100× scale-up the same way the Louvain sharded kernel does.

Preconditions (caller falls back to the join path on None): local master
(shared pack filesystem), vertex-closed input (every dst also a src —
build_routes, resp. the single task's sentinel, detects this; open graphs
have dangling mass the join path redistributes), non-empty edges.

Semantics match algos/pagerank.pagerank exactly (same damping/base/
convergence contract; float sums differ only in accumulation order) —
parity pytest-enforced, and the driver's `pagerank` oracle row runs this
path at sf0.01. Reference analog: Vite has no PageRank; the exchange
pattern mirrors its fillRemoteCommunities send shape
(/root/reference/louvain.cpp:2583-2954) reused from csr_sharded.py.
Vite's DistGraph likewise runs one code path at any rank count: one rank
simply owns [0, nv].
"""

from __future__ import annotations

import json
import os
import shutil
import tempfile
import time

import numpy as np

from pyspark.sql import functions as F

from vite_spark.kernels.csr import _atomic_save, _pid_frame
from vite_spark.kernels.csr_sharded import (
    _check_pack_generation,
    _load_bounds,
    _req_of,
    _ux_owner_span,
    build_routes,
    pack_csr_partitions_sharded,
    register_pack_cache,
)

# Per-run scratch the pack-cache purge must clear (statics like coefu_/
# coefw_ are pack-derived and deliberately kept across runs). Includes
# the packed-LPA label files and packed-CC component files: every
# route-pack kernel shares _prepare_pack, so any kernel opening a cached
# pack clears every sibling's run transients.
PR_TRANSIENT_PREFIXES = ("prc_", "rnk_", "lown_", "cown_", "bfd_",
                         "hac_", "aown_", "hown_")


def _prepare_pack(spark, edges, cfg, nparts, ne_precounted=None):
    """(pack_dir, nparts, info, routing, cleanup) — the sharded pack +
    routes, reusing the persistent pack cache exactly like the Louvain
    phase (same manifest.json, so a cached pack serves both algorithms).
    Returns None when routing finds the input not vertex-closed; a fresh
    temporary pack is removed then, and when the build fails. The caller
    (_run_packed) pins ``edges`` across the count, range-boundary sample
    and pack job."""
    routing = None
    info = None
    pack_dir = None
    cleanup = True
    if cfg.pack_cache_dir:
        pack_dir = os.path.join(cfg.pack_cache_dir, "vite_pack")
        cleanup = False
        mf = os.path.join(pack_dir, "manifest.json")
        if os.path.exists(mf):
            with open(mf) as fh:
                man = json.load(fh)
            info = man["info"]
            nparts = man["nparts"]
            routing = (
                {int(k): v for k, v in man["owners_of"].items()},
                {int(k): v for k, v in man["rdrs_of"].items()},
            )
            _purge(pack_dir, PR_TRANSIENT_PREFIXES)
    if info is None:
        if cfg.shuffle_partitions is None:
            # scale-adaptive partition count (guide §2): one extra count
            # job (its shuffle work is reused by the range exchange
            # below) buys every downstream superstep job a task count
            # matched to the input size instead of the session constant
            from vite_spark.config import adaptive_pack_nparts

            nparts = adaptive_pack_nparts(
                nparts,
                edges.count() if ne_precounted is None else ne_precounted,
            )
        edges = edges.repartitionByRange(nparts, "src")
        nparts = edges.rdd.getNumPartitions()
        if pack_dir is None:
            from vite_spark.config import resolve_scratch

            pack_dir = tempfile.mkdtemp(
                prefix="vite_csr_pr_",
                dir=resolve_scratch(cfg.scratch_dir))
        else:
            os.makedirs(pack_dir, exist_ok=True)
    fresh = routing is None
    try:
        if info is None:
            info = pack_csr_partitions_sharded(edges, pack_dir, nparts)
        if fresh:
            routing = build_routes(spark, pack_dir, nparts)
    except BaseException:
        if cleanup:
            shutil.rmtree(pack_dir, ignore_errors=True)
        raise
    if routing is None:
        if cleanup:
            shutil.rmtree(pack_dir, ignore_errors=True)
        return None
    if fresh and not cleanup:
        tmp = os.path.join(pack_dir, f".mf.{os.getpid()}")
        with open(tmp, "w") as fh:
            json.dump({
                "info": info, "nparts": nparts,
                "owners_of": routing[0], "rdrs_of": routing[1],
            }, fh)
        os.replace(tmp, os.path.join(pack_dir, "manifest.json"))
    return pack_dir, nparts, info, routing, cleanup


def _purge(pack_dir, prefixes):
    for f in os.listdir(pack_dir):
        if f.startswith(prefixes):
            try:
                os.remove(os.path.join(pack_dir, f))
            except OSError:
                pass


def _run_packed(spark, edges, cfg, prefixes, step, single=None):
    """The route-pack kernels' one runner. Returns None when the caller's
    join path must run instead: a non-local master (the pack is a shared
    filesystem), an empty input, or an input that is not vertex-closed.

    Gate (kernels with a single-task tier pass ``single(edges)``): the
    pack's partition count is ``cfg.shuffle_partitions``, else
    ``adaptive_pack_nparts`` over one count job; at one partition with no
    ``cfg.checkpoint_dir`` the run is ``single(edges)``. Every other run
    builds (or reopens the cached) pack and returns
    ``step(pack_dir, nparts, info, routing)``; afterwards the pack is
    removed, or — a cached pack — only the run's files starting with
    ``prefixes``.

    One pin spans every consumer of ``edges`` (gate count, single task or
    range-boundary sample + pack job): without it each re-ran the
    caller's whole upstream derivation (interleaved A/B at sf0.1:
    q_pagerank 4.73 s vs 6.50 s, packed-CC query 4.66 s vs 7.52 s
    medians, every pair wins). Skipped when the caller already cached
    the table."""
    if not spark.sparkContext.master.startswith("local"):
        return None
    nparts = cfg.shuffle_partitions or int(
        spark.conf.get("spark.sql.shuffle.partitions", "32")
    )
    pin = None
    if not edges.is_cached:
        pin = edges = edges.persist()
    try:
        ne = None
        if single is not None:
            if cfg.shuffle_partitions is None:
                from vite_spark.config import adaptive_pack_nparts

                ne = edges.count()
                if ne == 0:
                    return None
                nparts = adaptive_pack_nparts(nparts, ne)
            if nparts == 1 and not cfg.checkpoint_dir:
                return single(edges)
        prep = _prepare_pack(spark, edges, cfg, nparts, ne_precounted=ne)
    finally:
        if pin is not None:
            pin.unpersist()
    if prep is None:
        return None
    pack_dir, nparts, info, routing, cleanup = prep
    try:
        if info["nv"] == 0:
            return None
        return step(pack_dir, nparts, info, routing)
    finally:
        if cleanup:
            shutil.rmtree(pack_dir, ignore_errors=True)
        else:
            _purge(pack_dir, prefixes)


def _emit_own(spark, pack_dir, nparts, schema, states):
    """One row per owned vertex: ``id`` plus, for each (column, prefix)
    of ``states``, the vertex's entry of ``{prefix}_{pid}.npy``. Cut
    eagerly, so the pack can be removed on return."""

    def emit(pdf_iter):
        import pandas as pd

        for pdf in pdf_iter:
            for pid in pdf["pid"]:
                pid = int(pid)
                own = np.load(os.path.join(pack_dir, f"own_{pid}.npy"),
                              mmap_mode="r")
                if len(own) == 0:
                    continue
                yield pd.DataFrame({"id": own, **{
                    c: np.load(os.path.join(pack_dir, f"{pre}_{pid}.npy"))
                    for c, pre in states}})

    return _pid_frame(spark, nparts).mapInPandas(
        emit, schema=schema).localCheckpoint(eager=True)


def _single_task(spark, edges, cols, col, vtype, body):
    """The single-task tier's shared prologue and driver side (PageRank
    and CC). ONE job moves every edge row into one task, which lexsorts
    them into pack row order and derives what a one-partition pack holds:
    own = sorted distinct src, srcl, dstl (ux == own when the input is
    vertex-closed) and the src segment starts. ``body(own, srcl, dstl,
    seg, w)`` (w = the weights when ``cols`` has them, else None) returns
    (per-iteration stats, final state over own).

    Returns (DataFrame(id, ``col``), stats, wall_s, ne), or None when the
    input is empty or not vertex-closed (sentinel row kind 3) — the join
    path then provides the open-graph semantics, exactly like the packed
    path's routes fallback."""

    def run(pdf_iter):
        import pandas as pd

        parts = [p for p in pdf_iter if len(p)]
        closed = False
        if parts:
            pdf = (pd.concat(parts, ignore_index=True) if len(parts) > 1
                   else parts[0])
            src = pdf["src"].to_numpy(np.int64)
            dst = pdf["dst"].to_numpy(np.int64)
            order = np.lexsort((dst, src))          # pack row order
            src, dst = src[order], dst[order]
            w = (pdf["weight"].to_numpy(np.float64)[order]
                 if "weight" in pdf else None)
            first = np.r_[True, src[1:] != src[:-1]]
            seg = np.flatnonzero(first)
            own = src[seg]
            srcl = (np.cumsum(first) - 1).astype(np.int64)
            pos = np.searchsorted(own, dst)
            closed = bool((pos < len(own)).all()) and \
                bool((own[np.minimum(pos, len(own) - 1)] == dst).all())
        if not closed:
            yield pd.DataFrame({"kind": [np.int32(3)], "id": [0],
                                col: [0]})
            return
        stats, state = body(own, srcl, pos, seg, w)
        # kind 1: id 0 carries the edge count, ids 1..K the stats
        yield pd.DataFrame({
            "kind": np.ones(len(stats) + 1, np.int32),
            "id": np.arange(len(stats) + 1, dtype=np.int64),
            col: np.asarray([len(src), *stats]),
        })
        yield pd.DataFrame({
            "kind": np.zeros(len(own), np.int32), "id": own, col: state,
        })

    t0 = time.time()
    mixed = edges.select(*cols).repartition(1).mapInPandas(
        run, schema=f"kind int, id long, {col} {vtype}"
    ).localCheckpoint(eager=True)
    wall = time.time() - t0
    if mixed.filter(F.col("kind") == 3).count() > 0:
        return None
    stats = [v for _, v in sorted(
        (int(r["id"]), r[col])
        for r in mixed.filter(F.col("kind") == 1).collect()
    )]
    return (mixed.filter(F.col("kind") == 0).select("id", col),
            stats[1:], wall, int(stats[0]))



# Per-worker cache of the merge layout for partition p: the writers'
# req_{p}_{q} sets concatenated in fixed ascending-q order (static per
# phase), plus the per-writer offsets. One np.bincount over this
# concatenated index replaces a per-writer np.add.at chain — bincount's
# sequential accumulate runs ~10x faster than add.at's scatter, and the
# merge was a measured term of the per-iteration wall at 256M rows.
# Deterministic: fixed concatenation order = fixed summation order.
_MERGE_CACHE: dict = register_pack_cache({})


def _merge_layout(pack_dir: str, pid: int, writers):
    _check_pack_generation(pack_dir)
    key = (pack_dir, pid)
    hit = _MERGE_CACHE.get(key)
    if hit is None:
        from vite_spark.kernels.csr_sharded import _evict_other_dirs

        _evict_other_dirs(_MERGE_CACHE, pack_dir)
        parts = [np.asarray(_req_of(pack_dir, pid, q)) for q in writers]
        idx = (np.concatenate(parts) if parts
               else np.empty(0, np.int32))
        offs = np.zeros(len(parts) + 1, np.int64)
        np.cumsum([len(p) for p in parts], out=offs[1:])
        hit = (idx, offs)
        _MERGE_CACHE[key] = hit
    return hit


def _pr_job(spark, pack_dir, nparts, n, damping, t, routing, weighted,
            compute_contrib, ckpt_dir=None, restored=False,
            mode="pagerank", seeds=None, katz_beta=1.0):
    """Job ``t``: merge r_{t-1} from inbound spans, report the L1 delta
    vs r_{t-2}, and (when ``compute_contrib``) scatter iteration ``t``'s
    contribution spans. ``ckpt_dir``: tasks also copy r_{t-1} there
    (runtime/iter_checkpoint.py layout; driver commits the marker).
    ``restored``: first job after a resume — r_{t-1} was just restored
    into the pack, so skip the merge (no prc spans exist) and report an
    inf delta (sentinel: unknown, never satisfies the tol check).

    ``mode``: "pagerank" → r = (1-d)/n + d·inflow over STOCHASTIC
    coefficients (w/out_w resp. 1/outdeg), x₀ = 1/n. "eigen" → plain
    power iteration over the ADJACENCY coefficients (w resp. 1),
    r = inflow, x₀ = 1 — normalization is deferred to the emit (power
    iteration is scale-invariant; float64 headroom covers λ^iters for
    any realistic spectral radius at fixed small iters).

    ``seeds`` (sorted int64 array, pagerank mode only) → PERSONALIZED
    teleport: base/init become the seed-uniform vector (1-d)·s resp. s
    with s(v) = 1/|seeds| on seeds else 0 — per-partition np.isin over
    own, everything else identical (closed graphs have no dangling
    mass, so no redistribution term is needed on this path)."""
    owners_of, rdrs_of = routing
    # "eigen" and "katz" both run over ADJACENCY coefficients; katz adds
    # the constant β each step (r = β + α·inflow, x₀ = β — the Katz
    # recurrence from x₀ = 0 shifted one step) where eigen has base 0
    adj = mode in ("eigen", "katz")
    base = (0.0 if mode == "eigen" else katz_beta) if adj \
        else (1.0 - damping) / n
    init = (1.0 if mode == "eigen" else katz_beta) if adj else 1.0 / n
    if seeds is not None:
        seeds = np.asarray(seeds, dtype=np.int64)
    if adj:
        cname = "w" if weighted else None
    else:
        cname = "coefw" if weighted else "coefu"

    def run(pdf_iter):
        import pandas as pd

        for pdf in pdf_iter:
            for pid in pdf["pid"]:
                pid = int(pid)
                own = np.load(os.path.join(pack_dir, f"own_{pid}.npy"),
                              mmap_mode="r")
                if len(own) == 0:
                    yield pd.DataFrame({"pid": [pid], "delta": [0.0]})
                    continue

                # --- merge r_{t-1} over own (fixed writer order) ---
                if seeds is not None:
                    svec = np.isin(own, seeds).astype(np.float64)
                    svec /= len(seeds)
                if restored:
                    r = np.load(os.path.join(
                        pack_dir, f"rnk_{t - 1}_{pid}.npy"))
                elif t == 1:
                    r = svec.copy() if seeds is not None \
                        else np.full(len(own), init)
                else:
                    writers = sorted(rdrs_of.get(pid, ()))
                    idx, offs = _merge_layout(pack_dir, pid, writers)
                    vals = np.empty(len(idx))
                    for i, q in enumerate(writers):
                        f = os.path.join(pack_dir,
                                         f"prc_{t - 1}_{q}_{pid}.npy")
                        v = np.load(f, mmap_mode="r")
                        assert len(v) == offs[i + 1] - offs[i], \
                            "contribution span / req set mismatch"
                        vals[offs[i]:offs[i + 1]] = v
                    acc = np.bincount(idx, weights=vals,
                                      minlength=len(own))
                    bvec = ((1.0 - damping) * svec
                            if seeds is not None else base)
                    r = bvec + damping * acc
                if not restored:
                    _atomic_save(
                        os.path.join(pack_dir, f"rnk_{t - 1}_{pid}.npy"), r)
                    if ckpt_dir is not None:
                        from vite_spark.runtime.iter_checkpoint import \
                            save_shard
                        save_shard(ckpt_dir, pid, own, r)
                if restored:
                    delta = float("inf")
                elif t == 1:
                    delta = 0.0
                else:
                    prev = ((svec if seeds is not None else
                             np.full(len(own), init)) if t == 2 else
                            np.load(os.path.join(
                                pack_dir, f"rnk_{t - 2}_{pid}.npy"),
                                mmap_mode="r"))
                    delta = float(np.abs(r - prev).sum())
                # consume-and-delete, one step delayed (retry-safe)
                if t >= 3 and not restored:
                    for q in rdrs_of.get(pid, ()):
                        try:
                            os.remove(os.path.join(
                                pack_dir, f"prc_{t - 2}_{q}_{pid}.npy"))
                        except OSError:
                            pass
                    old = t - 4
                    if old >= 0:
                        try:
                            os.remove(os.path.join(
                                pack_dir, f"rnk_{old}_{pid}.npy"))
                        except OSError:
                            pass

                # --- scatter contributions from r_{t-1} ---
                if compute_contrib:
                    srcl = np.load(os.path.join(
                        pack_dir, f"srcl_{pid}.npy"), mmap_mode="r")
                    if cname is None:              # eigen, unweighted
                        coef = None
                    elif cname == "w":             # eigen, weighted:
                        coef = np.load(os.path.join(   # the pack static
                            pack_dir, f"w_{pid}.npy"), mmap_mode="r")
                    else:
                        cf = os.path.join(pack_dir, f"{cname}_{pid}.npy")
                        if os.path.exists(cf):
                            coef = np.load(cf, mmap_mode="r")
                        else:
                            if weighted:
                                w = np.load(os.path.join(
                                    pack_dir, f"w_{pid}.npy"), mmap_mode="r")
                                vdeg = np.load(os.path.join(
                                    pack_dir, f"vdeg_{pid}.npy"),
                                    mmap_mode="r")
                                coef = w / vdeg[srcl]
                            else:
                                outdeg = np.bincount(srcl,
                                                     minlength=len(own))
                                coef = 1.0 / outdeg[srcl]
                            _atomic_save(cf, coef)
                    dstl = np.load(os.path.join(
                        pack_dir, f"dstl_{pid}.npy"), mmap_mode="r")
                    ux = np.load(os.path.join(pack_dir, f"ux_{pid}.npy"),
                                 mmap_mode="r")
                    gathered = (r[srcl] if coef is None
                                else coef * r[srcl])
                    contrib = np.bincount(
                        dstl, weights=gathered, minlength=len(ux))
                    starts, bpids = _load_bounds(pack_dir)
                    for q in owners_of.get(pid, ()):
                        lo, hi = _ux_owner_span(ux, starts, bpids, q)
                        _atomic_save(
                            os.path.join(
                                pack_dir, f"prc_{t}_{pid}_{int(q)}.npy"),
                            contrib[lo:hi],
                        )
                yield pd.DataFrame({"pid": [pid], "delta": [delta]})

    return _pid_frame(spark, nparts).mapInPandas(
        run, schema="pid int, delta double"
    )




def csr_pagerank(spark, edges, damping, tol, max_iter, weighted, cfg,
                 metrics, mode="pagerank", seeds=None, katz_beta=1.0):
    """Packed-CSR PageRank driver. Returns the (id, rank) DataFrame, or
    None when a precondition fails (caller runs the join path).

    ``mode="eigen"`` runs the same recurrence as deferred-normalization
    power iteration (see _pr_job): caller passes damping=1.0, tol=0.0
    and a fixed max_iter; the emit normalizes by the global L1 mass.
    ``mode="katz"`` is the same adjacency loop with the additive β
    (damping carries α); the emit is raw (Katz scores are absolute)."""
    algo = (mode if mode in ("eigen", "katz") else
            "ppr" if seeds is not None else "pagerank")
    mode_str = ("csr_sharded_" + mode if mode in ("eigen", "katz")
                else "csr_sharded_pr")

    def single(edges):
        adj = mode in ("eigen", "katz")
        seeds_arr = (np.asarray(sorted(set(int(x) for x in seeds)), np.int64)
                     if seeds is not None else None)

        def body(own, srcl, dstl, seg, w):
            n = len(own)
            if adj:
                coef = w if weighted else None
                bvec = 0.0 if mode == "eigen" else katz_beta
                r = np.full(n, 1.0 if mode == "eigen" else katz_beta)
            else:
                if weighted:
                    vdeg = np.add.reduceat(w, seg)
                    coef = w / vdeg[srcl]
                else:
                    outdeg = np.bincount(srcl, minlength=n)
                    coef = 1.0 / outdeg[srcl]
                if seeds_arr is not None:
                    svec = np.isin(own, seeds_arr).astype(np.float64)
                    svec /= len(seeds_arr)
                    bvec = (1.0 - damping) * svec
                    r = svec.copy()
                else:
                    bvec = (1.0 - damping) / n
                    r = np.full(n, 1.0 / n)
            deltas = []
            for _t in range(1, max_iter + 1):
                gathered = r[srcl] if coef is None else coef * r[srcl]
                acc = np.bincount(dstl, weights=gathered, minlength=n)
                r_new = bvec + damping * acc
                delta = float(np.abs(r_new - r).sum())
                deltas.append(delta)
                r = r_new
                if delta < tol:
                    break
            norm = float(r.sum()) if mode == "eigen" else 1.0
            return deltas, r / norm

        res = _single_task(spark, edges, ("src", "dst", "weight"), "rank",
                           "double", body)
        if res is None:
            return None
        out, deltas, wall, ne = res
        # metrics rows mirror the job loop's one-job-late delta protocol
        # exactly: row t (a scatter job there) carries Δ_{t-1};
        # convergence at Δ_K stops the rows at t = K+1; a finalize row
        # appears only when the loop ran to max_iter
        K = len(deltas)
        w_ = wall / max(min(K + 1, max_iter + 1), 1)
        for t in range(1, min(K + 1, max_iter) + 1):
            extra = ({"l1_delta": deltas[t - 2]} if t >= 2 else {})
            metrics.record(kind=f"{algo}_superstep", iter=t, wall_s=w_,
                           edges_processed=ne, mode=mode_str, **extra)
        if K == max_iter:
            metrics.record(kind=f"{algo}_finalize", iter=max_iter + 1,
                           l1_delta=deltas[K - 1], wall_s=w_)
        return out

    def step(pack_dir, nparts, info, routing):
        import math

        from vite_spark.runtime import iter_checkpoint as ic

        n = int(info["nv"])
        ne = int(info["ne"])
        ckroot = cfg.checkpoint_dir
        resume_t = None
        start_t = 0
        if ckroot:
            ck = ic.latest_complete(ckroot, algo)
            if ck is not None and ic.validate(ck, info, nparts):
                k = min(int(ck["t"]), max_iter)   # checkpointed ranks r_k
                t0 = time.time()
                if ic.restore_job(spark, pack_dir, nparts,
                                  ic.iter_dir(ckroot, algo, int(ck["t"])),
                                  f"rnk_{k}"):
                    # job k+1 re-scatters from the restored r_k (no prc
                    # spans survive a crash); merges resume at k+2
                    start_t = k
                    resume_t = k + 1
                    metrics.record(kind=f"{algo}_resume", iter=k,
                                   wall_s=time.time() - t0,
                                   mode=mode_str)

        k_final = max_iter
        t = start_t
        while True:
            t += 1
            contrib = t <= max_iter
            restored = t == resume_t
            ck_dir = None
            s = t - 1      # the state this job writes is r_{t-1}
            if (ckroot and not restored and s >= 1
                    and s % max(cfg.checkpoint_every, 1) == 0):
                ck_dir = ic.prepare_iter(ckroot, algo, s)
            t0 = time.time()
            sent = _pr_job(spark, pack_dir, nparts, n, damping, t, routing,
                           weighted, contrib, ckpt_dir=ck_dir,
                           restored=restored, mode=mode,
                           seeds=seeds, katz_beta=katz_beta).collect()
            wall = time.time() - t0
            delta_prev = float(sum(r["delta"] for r in sent))
            if ck_dir is not None:
                ic.mark_complete(ckroot, algo, s, {
                    "l1_delta": delta_prev, "nv": n, "ne": ne,
                    "nparts": nparts})
            if t <= max_iter:
                # one row per contribution job — same row count and
                # meaning as the join path's per-iteration records; the
                # delta is known one job late (job t reports Δ_{t-1});
                # unknown (inf) right after a resume
                extra = ({"l1_delta": delta_prev}
                         if t >= 2 and not math.isinf(delta_prev) else {})
                metrics.record(
                    kind=f"{algo}_superstep", iter=t, wall_s=wall,
                    edges_processed=ne, mode=mode_str, **extra,
                )
            else:
                metrics.record(kind=f"{algo}_finalize", iter=t,
                               l1_delta=delta_prev, wall_s=wall)
            if t >= 2 and delta_prev < tol:
                k_final = t - 1
                break
            if t == max_iter + 1:
                break

        out = _emit_own(spark, pack_dir, nparts, "id long, rank double",
                        [("rank", f"rnk_{k_final}")])
        if mode != "eigen":
            return out

        # deferred L1 normalization: one tiny job of per-partition
        # partial sums (nparts scalars), fixed ascending-pid summation
        # order on the driver → deterministic total
        def psum(pdf_iter):
            import pandas as pd

            for pdf in pdf_iter:
                for pid in pdf["pid"]:
                    pid = int(pid)
                    f = os.path.join(pack_dir, f"rnk_{k_final}_{pid}.npy")
                    s = (float(np.load(f, mmap_mode="r").sum())
                         if os.path.exists(f) else 0.0)
                    yield pd.DataFrame({"pid": [pid], "s": [s]})

        rows = _pid_frame(spark, nparts).mapInPandas(
            psum, schema="pid int, s double").collect()
        norm = float(sum(r["s"] for r in
                         sorted(rows, key=lambda r: r["pid"])))
        return out.select("id", (F.col("rank") / norm).alias("rank"))

    return _run_packed(spark, edges, cfg, PR_TRANSIENT_PREFIXES, step,
                       single=single)
