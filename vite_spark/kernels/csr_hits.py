"""Packed-CSR HITS on the sharded pack.

Same infrastructure as packed PageRank/LPA (csr_pr._run_packed: range
ownership, sorted per-partition universe ux, pack-time req_{owner}_{reader}
interest sets), composing BOTH established exchange shapes — one per
direction of the alternating recurrence:

- authority (a_t = Aᵀ h_{t-1}): reader-PUSH — each partition scatters
  w·h over its owned-src rows with one bincount over dstl and ships
  per-owner universe spans ``hac_{t}_{p}_{q}`` (csr_pr's contribution
  shape); owners merge in fixed ascending-writer order
  (csr_pr._merge_layout) → ``aown_{t}``.
- hub (h_t = A a_t): owner-PUBLISH / reader-GATHER — readers assemble
  a_t over U_p from the owners' ``aown_{t}`` mmaps through the static
  req sets (csr_lpa/csr_cc's dense owner-authored shape) and compute
  h_t(own) with one bincount over srcl → ``hown_{t}``.

Two jobs per iteration (merge, then gather+scatter): the gather needs
every owner's merged a_t — a real barrier PageRank's one-job merge +
scatter doesn't have, inherent to the alternating-direction recurrence. Exchange per
iteration = 2·Σ_p |U_p| floats (one push + one pull of the ghost set —
twice Vite's one-direction exchange bound, the minimum for A then Aᵀ).
Every accumulate is a sequential bincount in a fixed order, so runs are
bit-reproducible; vs the join path (algos/centrality.hits) float sums
differ only in accumulation order — parity pytest-enforced at tolerance,
the eigen/pagerank discipline.

Preconditions (None → caller's join path): local master (shared pack
filesystem), vertex-closed input (every dst also a src — build_routes
detects; needed so every universe id has an owner to merge it). The
driver's directed precedence graph is vertex-closed, so the ``hits``
oracle row exercises THIS kernel at sf0.01.

Reference analog: Vite has no HITS; the push shape mirrors its
fillRemoteCommunities sends and the pull shape its community-info
replies (/root/reference/louvain.cpp:2583-2954), both already reused by
the PR/LPA kernels.
"""

from __future__ import annotations

import os
import time

import numpy as np

from vite_spark.kernels.csr import _atomic_save, _pid_frame
from vite_spark.kernels.csr_pr import _emit_own, _merge_layout, _run_packed
from vite_spark.kernels.csr_sharded import (
    _load_bounds,
    _req_of,
    _ux_owner_span,
)

HITS_TRANSIENT_PREFIXES = ("hac_", "aown_", "hown_")


def _merge_job(spark, pack_dir, nparts, t, routing):
    """Job X_t: a_t(own) = fixed-order merge of the ``hac_{t}_{q}_{p}``
    spans pushed by job Y_{t-1}; save ``aown_{t}_{p}``. Also reaps the
    t-1 spans (consumed by X_{t-1}; one job late → retry-safe)."""
    _, rdrs_of = routing

    def run(pdf_iter):
        import pandas as pd

        for pdf in pdf_iter:
            for pid in pdf["pid"]:
                pid = int(pid)
                own = np.load(os.path.join(pack_dir, f"own_{pid}.npy"),
                              mmap_mode="r")
                if len(own) == 0:
                    yield pd.DataFrame({"pid": [pid]})
                    continue
                writers = sorted(rdrs_of.get(pid, ()))
                idx, offs = _merge_layout(pack_dir, pid, writers)
                vals = np.empty(len(idx))
                for i, q in enumerate(writers):
                    f = os.path.join(pack_dir, f"hac_{t}_{q}_{pid}.npy")
                    v = np.load(f, mmap_mode="r")
                    assert len(v) == offs[i + 1] - offs[i], \
                        "hits contribution span / req set mismatch"
                    vals[offs[i]:offs[i + 1]] = v
                a = np.bincount(idx, weights=vals, minlength=len(own))
                _atomic_save(
                    os.path.join(pack_dir, f"aown_{t}_{pid}.npy"), a)
                if t >= 2:
                    for q in writers:
                        try:
                            os.remove(os.path.join(
                                pack_dir, f"hac_{t - 1}_{q}_{pid}.npy"))
                        except OSError:
                            pass
                yield pd.DataFrame({"pid": [pid]})

    return _pid_frame(spark, nparts).mapInPandas(run, schema="pid int")


def _scatter_job(spark, pack_dir, nparts, t, routing, weighted, last):
    """Job Y_t: gather a_t over U_p from the owners' ``aown_{t}`` (t ≥ 1;
    at t = 0 there is no a yet), h_t(own) = bincount(srcl, w·a[dstl])
    (h_0 = 1), save ``hown_{t}``; unless ``last``, push the a_{t+1}
    contribution spans ``hac_{t+1}_{p}_{q}`` = owner spans of
    bincount(dstl, w·h[srcl])."""
    owners_of, _ = routing

    def run(pdf_iter):
        import pandas as pd

        for pdf in pdf_iter:
            for pid in pdf["pid"]:
                pid = int(pid)
                own = np.load(os.path.join(pack_dir, f"own_{pid}.npy"),
                              mmap_mode="r")
                if len(own) == 0:
                    yield pd.DataFrame({"pid": [pid]})
                    continue
                srcl = np.load(os.path.join(
                    pack_dir, f"srcl_{pid}.npy"), mmap_mode="r")
                dstl = np.load(os.path.join(
                    pack_dir, f"dstl_{pid}.npy"), mmap_mode="r")
                w = (np.load(os.path.join(pack_dir, f"w_{pid}.npy"),
                             mmap_mode="r") if weighted else None)
                ux = np.load(os.path.join(pack_dir, f"ux_{pid}.npy"),
                             mmap_mode="r")

                if t == 0:
                    h = np.ones(len(own))
                else:
                    starts, bpids = _load_bounds(pack_dir)
                    a_ux = np.empty(len(ux))
                    for q in owners_of.get(pid, ()):
                        lo, hi = _ux_owner_span(ux, starts, bpids, q)
                        req = _req_of(pack_dir, q, pid)
                        aq = np.load(os.path.join(
                            pack_dir, f"aown_{t}_{int(q)}.npy"),
                            mmap_mode="r")
                        a_ux[lo:hi] = aq[req]
                    g = a_ux[dstl] if w is None else np.asarray(w) * a_ux[dstl]
                    h = np.bincount(srcl, weights=g, minlength=len(own))
                _atomic_save(
                    os.path.join(pack_dir, f"hown_{t}_{pid}.npy"), h)
                old = t - 2
                if old >= 0:
                    for pref in ("hown", "aown"):
                        try:
                            os.remove(os.path.join(
                                pack_dir, f"{pref}_{old}_{pid}.npy"))
                        except OSError:
                            pass

                if not last:
                    g = h[srcl] if w is None else np.asarray(w) * h[srcl]
                    contrib = np.bincount(dstl, weights=g, minlength=len(ux))
                    starts, bpids = _load_bounds(pack_dir)
                    for q in owners_of.get(pid, ()):
                        lo, hi = _ux_owner_span(ux, starts, bpids, q)
                        _atomic_save(
                            os.path.join(
                                pack_dir, f"hac_{t + 1}_{pid}_{int(q)}.npy"),
                            contrib[lo:hi],
                        )
                yield pd.DataFrame({"pid": [pid]})

    return _pid_frame(spark, nparts).mapInPandas(run, schema="pid int")


def csr_hits(spark, edges, iters, weighted, cfg, metrics):
    """Packed-CSR HITS driver. Returns the raw (id, hv, av) DataFrame
    (unnormalized h_iters / a_iters — the caller applies the shared L1
    emit), or None when a precondition fails (caller runs the join
    path)."""
    if iters < 1:
        return None

    def step(pack_dir, nparts, info, routing):
        t0 = time.time()
        _scatter_job(spark, pack_dir, nparts, 0, routing, weighted,
                     last=False).collect()
        metrics.record(kind="hits_superstep", iter=0, phase="scatter",
                       wall_s=time.time() - t0, mode="csr_sharded_hits",
                       edges_processed=int(info["ne"]))
        for t in range(1, iters + 1):
            t0 = time.time()
            _merge_job(spark, pack_dir, nparts, t, routing).collect()
            _scatter_job(spark, pack_dir, nparts, t, routing, weighted,
                         last=(t == iters)).collect()
            metrics.record(kind="hits_superstep", iter=t,
                           wall_s=time.time() - t0,
                           mode="csr_sharded_hits",
                           edges_processed=int(info["ne"]))
        return _emit_own(spark, pack_dir, nparts,
                         "id long, hv double, av double",
                         [("hv", f"hown_{iters}"), ("av", f"aown_{iters}")])

    return _run_packed(spark, edges, cfg, metrics, HITS_TRANSIENT_PREFIXES,
                       step)
