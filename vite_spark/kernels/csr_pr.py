"""The packed kernels' one runner and owner-authored sweep, plus
packed-CSR PageRank (north-rule first-class op).

Every route-pack kernel (PageRank, HITS, CC, LPA, BFS, k-core, WL)
iterates over a sharded CSR pack (kernels/csr_sharded.py: 1-D range
ownership, per-partition sorted universe ux, pack-time
req_{owner}_{reader} interest sets) through one runner, ``_run_packed``:
one gate, the input pin, pack build or reuse and the local-master check
of the sharded loop, cleanup, and one ``kind="tier"`` metrics row naming
the tier that ran and why. ``_prepare_pack`` is the one builder of that
pack, for these kernels and for Louvain's sharded levels
(algos/louvain._csr_phase): range partitioning, the temporary dir or the
named pack cache (``vite_pack`` for the canonical table, ``core_pack``
for k-core's and WL's simplified graph) with its manifest and one purge
list, and the routes. Only the triangle kernels build their own pack
(the runner's ``prepare`` argument; kernels/csr_tri.py: oriented
rank-relabeled pack, single-task tier on open inputs too). WL keeps its
own round jobs (per-round class counts, a fixed round count; sharded
tier only). Vite's DistGraph likewise runs one code path at any rank
count: one rank simply owns [0, nv].

Gate: a run whose pack would have one partition (``cfg.shuffle_partitions``,
else the scale-adaptive count ``adaptive_pack_nparts``), with no
``checkpoint_dir``, takes the single-task tier, on any master; every
other run takes the sharded job loop. A non-local master (sharded loop
only: the pack is a shared filesystem), an empty input, an input that is
not vertex-closed (except for the triangle kernels, whose bodies take
open inputs), or a kernel's own precondition sends the run to the
caller's join path (the runner returns None).

- **Single task** (``_driver_local``), run in the driver: the gate's
  ONE capped Arrow collect (``_collect_upto``: no persist, no count job)
  is both the question "does the input fit?" and the tier's whole input;
  the driver sorts the rows into pack order and derives own/srcl/dstl
  exactly as a one-partition pack would (ux == own when vertex-closed,
  there is no exchange), runs the whole recurrence in place and hands
  the result back as one Arrow table. No shuffle,
  Python worker, pack/route or scratch files, per-iteration jobs or
  persisted blocks. Louvain's driver levels (algos/louvain) and
  ``kernels/ids.dense_ids`` gate, collect and emit through the same
  helpers.
- **Sharded job loop**: one job per iteration, in one of two shapes.

**Owner-authored sweep** (CC, LPA, BFS, k-core — ``OwnerSweep``): the
state of a vertex at t is a function of the states at t-1 of the vertex
and its out-neighbours, and the vertex's owner authors it. Each kernel
supplies only ``init`` and ``sweep``; task p of job t:

1. **Gather** curr over U_p at t-1 by slicing each owner's
   ``{prefix}_{t-1}_{q}`` through the static req sets into the contiguous
   universe spans (the ascending-id-run invariant the Louvain dense
   advance uses); at t = 1 the kernel's ``init(ux)``. Exchange volume is
   Σ_p |U_p| state rows per iteration — the ghost-set lower bound; the
   owners' files are mmaps, so only referenced entries are touched.
2. **Sweep**: ``sweep(curr, own_pos, srcl, dstl, seg, w)`` → new own
   state. Pack rows are (src, dst)-sorted, so srcl is non-decreasing and
   the src segments need no grouping sort; own = unique(src), so the
   segments enumerate own densely (asserted).
3. Save ``{prefix}_{t}_{p}`` (O(nv/p)) and the optional checkpoint shard,
   drop ``{prefix}_{t-2}_{p}``; the changed count rides the sentinel row.

The driver loop resumes from the newest valid checkpoint, stops at
Σ changed == 0 or ``max_iter``, records one ``{algo}_superstep`` row per
iteration (none for a kernel's ``lead`` sweeps, k-core's degree sweep)
and emits the last state (``init`` at t = 0). The
single-task tier runs the same ``init`` and ``sweep`` over the in-task
CSR (ux == own), so its states and changed counts equal the sharded
loop's. Reference analog: Vite's fillRemoteCommunities send shape
(louvain.cpp:2583-2954) at the always-dense operating point.

**PageRank** is merge + scatter instead, per iteration ONE job; task p:

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

The join+agg PageRank (algos/pagerank.py) is the cluster-correct shape,
but on one box its per-iteration cost is a full edge-table shuffle join —
measured 0.539 per-core scaling efficiency 4→16 (BENCH.md r4), bounded by
shuffle machinery, not by the algorithm. PageRank state is fully
determined by the previous iteration's inbound messages — no community
aggregates, no tracked pulls, no replay chains. Per-iteration exchange
volume is Σ_p |U_p| floats (the ghost-set size — Vite's exchange lower
bound), compute is O(edges/p) gathers + one bincount, per-partition
memory O(nv/p + |U_p|). Nothing O(nv) on any worker and nothing but
scalars on the driver, so the plan survives a 100× scale-up the same way
the Louvain sharded kernel does.

Vertex-closed input matters: every dst must also be a src (build_routes,
resp. the single task's membership test, detects this; open graphs have
dangling mass the join path redistributes, and a dst that is never a src
has no owner to author its state).

PageRank semantics match algos/pagerank.pagerank exactly (same
damping/base/convergence contract; float sums differ only in
accumulation order) — parity pytest-enforced, and the driver's
`pagerank` oracle row runs this path at sf0.01.
"""

from __future__ import annotations

import json
import os
import shutil
import tempfile
import time
from collections.abc import Callable
from dataclasses import dataclass, field
from functools import partial

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

# Per-run files of every kernel that opens a cached pack: the PageRank
# family's spans and states (prc_/rnk_, HITS, CC, LPA, BFS), k-core's and
# WL's states, Louvain's moves, flows, owner states and colors. Whichever
# kernel opens a cached pack purges them all, so a sibling's hard-killed
# run (its cleanup skipped) leaves nothing behind. Pack-derived statics
# (coefu_/coefw_, req_, ...) are deliberately kept.
TRANSIENT_PREFIXES = (
    "prc_", "rnk_", "lown_", "cown_", "bfd_", "hac_", "aown_", "hown_",
    "hco_", "wlo_", "mvu_", "mvd_", "flw_", "cur_", "ost_", "et_", "tm_",
    "colw_", "colr_", "col_")


def _prepare_pack(spark, edges, cfg, nparts, ne, cache="vite_pack",
                  target=None):
    """(pack_dir, nparts, info, routing, cleanup): the sharded CSR pack
    and its routes, the one builder of every sharded kernel. Returns None
    when routing finds the input not vertex-closed; a temporary pack is
    removed then, and when the build fails. The caller pins ``edges``
    across its count, the range-boundary sample and the pack job.

    ``nparts`` is the requested partition count. Without
    ``cfg.shuffle_partitions`` it is capped by ``adaptive_pack_nparts``
    over the row count ``ne``, at ``target`` rows per partition when
    given (Louvain's heavier sweep). With ``cfg.pack_cache_dir`` the
    pack lives in ``<pack_cache_dir>/<cache>`` and later runs reuse it
    (the fileConvert-once analog): ``vite_pack`` holds the canonical
    table (PageRank family, Louvain's level 0), ``core_pack`` the
    simplified graph (k-core, WL); ``cache=None`` (Louvain's coarse
    levels) always builds a temporary pack. A manifest built for another
    requested count is wiped and rebuilt, and opening a cached pack
    purges every ``TRANSIENT_PREFIXES`` file. Caller contract: one cache
    dir holds one edge table."""
    cleanup = not (cfg.pack_cache_dir and cache)
    if not cleanup:
        pack_dir = os.path.join(cfg.pack_cache_dir, cache)
        mf = os.path.join(pack_dir, "manifest.json")
        if os.path.exists(mf):
            with open(mf) as fh:
                man = json.load(fh)
            if man.get("requested_nparts") == nparts:
                _purge(pack_dir, TRANSIENT_PREFIXES)
                return pack_dir, man["nparts"], man["info"], (
                    {int(k): v for k, v in man["owners_of"].items()},
                    {int(k): v for k, v in man["rdrs_of"].items()},
                ), False
            shutil.rmtree(pack_dir, ignore_errors=True)
        os.makedirs(pack_dir, exist_ok=True)
    requested = nparts
    if cfg.shuffle_partitions is None and ne is not None:
        # scale-adaptive partition count (guide §2): every superstep job
        # gets a task count matched to the input size
        from vite_spark.config import adaptive_pack_nparts

        nparts = adaptive_pack_nparts(nparts, ne, target)
    # RANGE partitioning: Vite's 1-D block ownership (distgraph.cpp:
    # 165-169) with row-sampled bounds, the edge-balanced -b variant.
    # Ranges keep neighborhoods local, so universes (ghost sets) stay
    # near O(nv/p), and owner(id) is a searchsorted over the bounds.
    edges = edges.repartitionByRange(nparts, "src")
    # RangePartitioner caps at the distinct-sample count: every pid loop
    # must see the real count
    nparts = edges.rdd.getNumPartitions()
    if cleanup:
        from vite_spark.config import resolve_scratch

        pack_dir = tempfile.mkdtemp(
            prefix="vite_csr_", dir=resolve_scratch(cfg.scratch_dir, ne=ne))
    try:
        info = pack_csr_partitions_sharded(edges, pack_dir, nparts)
        if info["nv"] == 0:
            # no partition wrote files: nothing to route
            raise _Fallback("empty")
        routing = build_routes(spark, pack_dir, nparts)
    except BaseException:
        if cleanup:
            shutil.rmtree(pack_dir, ignore_errors=True)
        raise
    if routing is None:
        if cleanup:
            shutil.rmtree(pack_dir, ignore_errors=True)
        return None
    if not cleanup:
        tmp = os.path.join(pack_dir, f".mf.{os.getpid()}")
        with open(tmp, "w") as fh:
            json.dump({
                "info": info, "nparts": nparts, "requested_nparts": requested,
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


class _Fallback(Exception):
    """A tier cannot take this input; ``args[0]`` is the reason
    (``empty``/``open``/``kernel``). ``_run_packed`` records it and
    returns None, so the caller's join path runs."""


def _run_packed(spark, edges, cfg, metrics, prefixes, step, single=None,
                cols=("src", "dst"), prepare=_prepare_pack):
    """The packed kernels' one runner. Returns None when the caller's
    join path must run instead: a non-local master on the sharded loop
    (the pack is a shared filesystem), an empty input, an input that is
    not vertex-closed, or a tier raising ``_Fallback`` (a kernel's own
    precondition).

    Gate: the pack's partition count is ``cfg.shuffle_partitions``,
    else ``adaptive_pack_nparts`` of the session's count at
    ``config.PACK_EDGES_PER_PART`` edge rows per partition (read at call
    time). A kernel with a single-task tier and no ``cfg.checkpoint_dir``
    asks one question first: ``_collect_upto`` collects its ``cols`` of
    at most ``PACK_EDGES_PER_PART`` rows (no cap when the requested count
    is one) with ONE Arrow job, no persist and no count, and when the
    rows fit, ``single(table)`` runs in the driver (``_driver_local``: no
    scratch files, so on any master). An explicit
    ``cfg.shuffle_partitions`` above one skips that question.

    Every other run needs a local master and builds (or reopens the
    cached) pack through ``prepare(spark, edges, cfg, nparts, ne)``
    (``_prepare_pack``, or the triangle kernels' own builder): given the
    requested partition count and the gate's count (None when
    ``cfg.shuffle_partitions`` fixes the layout), the builder picks the
    layout and returns ``(pack_dir, nparts, info, routing, cleanup)``,
    or None when not vertex-closed. The runner then returns
    ``step(pack_dir, nparts, info, routing)``; afterwards the pack is
    removed, or — a cached pack — only the run's files starting with
    ``prefixes``. Records one ``kind="tier"`` row: ``tier``
    (single/sharded/join), ``reason`` (non_local/empty/open/kernel, join
    only) and the gate inputs ``nparts`` and ``ne`` (the gate's row
    count, else the pack's; None when neither exists).

    On that pack path one pin spans every consumer of ``edges`` (gate
    count, range-boundary sample, pack job): without it each re-ran the
    caller's whole upstream derivation (interleaved A/B at sf0.1:
    q_pagerank 4.73 s vs 6.50 s, packed-CC query 4.66 s vs 7.52 s
    medians, every pair wins). Skipped when the caller already cached
    the table."""
    from vite_spark import config

    requested = cfg.shuffle_partitions or int(
        spark.conf.get("spark.sql.shuffle.partitions", "32")
    )
    gate = {"ne": None, "nparts": requested}

    def tier(name, reason=None):
        metrics.record(kind="tier", tier=name, reason=reason, **gate)

    local = spark.sparkContext.master.startswith("local")
    if not local and (single is None or cfg.checkpoint_dir):
        tier("join", "non_local")
        return None
    try:
        if (single is not None and not cfg.checkpoint_dir
                and (requested == 1 or cfg.shuffle_partitions is None)):
            tbl = _collect_upto(edges, cols, None if requested == 1
                                else config.PACK_EDGES_PER_PART)
            if tbl is not None:
                if cfg.shuffle_partitions is None:
                    gate["ne"] = tbl.num_rows
                    if not tbl.num_rows:
                        raise _Fallback("empty")
                    gate["nparts"] = 1
                # pack row order (stable, like np.lexsort); the unsorted
                # rows are released before the kernel runs
                tbl = tbl.sort_by([("src", "ascending"),
                                   ("dst", "ascending")])
                out = single(tbl)
                tier("single")
                return out
        pin = None
        if not edges.is_cached:
            pin = edges = edges.persist()
        try:
            if cfg.shuffle_partitions is None:
                gate["ne"] = ne = edges.count()
                if ne == 0:
                    raise _Fallback("empty")
                gate["nparts"] = config.adaptive_pack_nparts(requested, ne)
            if not local:
                raise _Fallback("non_local")
            prep = prepare(spark, edges, cfg, requested, gate["ne"])
        finally:
            if pin is not None:
                pin.unpersist()
        if prep is None:
            raise _Fallback("open")
        pack_dir, nparts, info, routing, cleanup = prep
        if gate["ne"] is None:
            gate["ne"] = int(info["ne"])
        try:
            if info["nv"] == 0:
                raise _Fallback("empty")
            out = step(pack_dir, nparts, info, routing)
        finally:
            if cleanup:
                shutil.rmtree(pack_dir, ignore_errors=True)
            else:
                _purge(pack_dir, prefixes)
    except _Fallback as fb:
        tier("join", fb.args[0])
        return None
    tier("sharded")
    return out


def _emit_own(spark, pack_dir, nparts, schema, states, rows=None):
    """One row per owned vertex: ``id`` plus, for each (column, prefix)
    of ``states``, the vertex's entry of ``{prefix}_{pid}.npy``;
    ``rows(own, *state arrays)`` builds the frame instead when given. Cut
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
                st = [np.load(os.path.join(pack_dir, f"{pre}_{pid}.npy"))
                      for _, pre in states]
                yield pd.DataFrame(rows(own, *st) if rows else {
                    "id": own, **{c: s for (c, _), s in zip(states, st)}})

    return _pid_frame(spark, nparts).mapInPandas(
        emit, schema=schema).localCheckpoint(eager=True)


def _members(ids, x):
    """(pos, hit): searchsorted positions of ``x`` in the sorted ``ids``
    and whether each x is present."""
    pos = np.searchsorted(ids, x)
    hit = pos < len(ids)
    hit[hit] = np.asarray(ids)[pos[hit]] == x[hit]
    return pos, hit


def _collect_upto(df, cols, cap=None):
    """The columns ``cols`` of ``df`` as one Arrow table in the driver, or
    None when ``df`` has more than ``cap`` rows: ONE collect job
    (``limit(cap + 1)`` then ``DataFrame.toArrow``, whatever the
    session's Arrow setting), with no persist and no count. ``cap=None``
    collects every row. The driver tiers' gate: a table that comes back
    is the tier's whole input."""
    q = df.select(*cols)
    tbl = (q if cap is None else q.limit(cap + 1)).toArrow()
    return None if cap is not None and tbl.num_rows > cap else tbl


def _arrays(tbl):
    """The columns of the Arrow table ``tbl`` as NumPy arrays: ``weight``
    as float64, the rest int64. A one-chunk column of that type comes
    back as a read-only view of the table's buffer (no copy)."""
    return [np.asarray(tbl.column(c).to_numpy(),
                       np.float64 if c == "weight" else np.int64)
            for c in tbl.column_names]


def _emit_local(spark, cols, out):
    """A DataFrame of schema ``out`` ("id long, ...") over the driver's
    arrays ``cols`` (column name → array), handed to the JVM as one Arrow
    table: no job, no Python worker, nothing persisted."""
    import pyarrow as pa

    names = [c.split()[0] for c in out.split(",")]
    return spark.createDataFrame(
        pa.table({n: np.asarray(cols[n]) for n in names}), schema=out)


def _driver_local(spark, tbl, out, body, open_ok=False):
    """The single-task tier, run in the driver over the runner's collected
    edge table ``tbl`` (``_collect_upto``: src, dst and, when the kernel
    reads them, the weights), already sorted into pack row order (src,
    dst): derive what a one-partition pack holds: own = sorted distinct
    src, srcl, dstl (ux == own when the input is vertex-closed) and the
    src segment starts. ``body(own, srcl, dstl, seg, w)`` (w = the weights
    when ``tbl`` has them, else None) returns (per-iteration stats, the
    columns of the output schema ``out``), or None when the kernel's own
    precondition fails.

    Returns (DataFrame(``out``) via ``_emit_local``, stats, wall_s, ne);
    the DataFrame is None when the body's columns are (the scalar
    triangle count). Raises ``_Fallback`` when the input is empty or not
    vertex-closed, or body returned None — the join path then provides
    the open-graph semantics, exactly like the packed path's routes
    fallback. A body that handles open inputs itself (the triangle
    kernels, ``open_ok``) is called on every nonempty input as
    ``body(own, srcl, dstl, seg, w, hit, dst)``: ``hit`` marks the rows
    whose dst is a src (dstl is its position in own only there) and
    ``dst`` holds the rows' dst ids."""
    t0 = time.time()
    src, dst, *w = _arrays(tbl)
    if not len(src):
        raise _Fallback("empty")
    w = w[0] if w else None
    first = np.r_[True, src[1:] != src[:-1]]
    seg = np.flatnonzero(first)
    own = src[seg]
    srcl = np.cumsum(first) - 1
    pos, hit = _members(own, dst)
    if open_ok:
        res = body(own, srcl, pos, seg, w, hit, dst)
    elif not hit.all():
        raise _Fallback("open")
    else:
        res = body(own, srcl, pos, seg, w)
    if res is None:
        raise _Fallback("kernel")
    stats, rows = res
    frame = None if rows is None else _emit_local(spark, rows, out)
    return frame, stats, time.time() - t0, len(src)


def _identity(ids):
    """Identity labels: every vertex starts as its own label (CC, LPA)."""
    return np.asarray(ids, dtype=np.int64)


@dataclass(frozen=True)
class OwnerSweep:
    """One owner-authored kernel for ``_owner_sweep`` (module docstring):
    its operator, names and preconditions.

    ``init(ids)`` is the state of the sorted vertex ids at t = 0;
    ``sweep(curr, own_pos, srcl, dstl, seg, w)`` maps the state over the
    universe at t-1 to the new own state (``own_pos`` = own's rows in the
    universe, ``seg`` = the src segment starts, ``w`` = the edge weights
    when ``weights``); ``frame(own, state)`` shapes the output rows
    (``rows``, default ``id`` + state). Preconditions, checked in both
    tiers (join path otherwise): integer-valued weights when
    ``integer_weights``, every ``seeds`` id a vertex. ``key`` joins
    (nv, ne) as the checkpoint's identity; ``tags`` ride every superstep
    row. The first ``lead`` sweeps only initialise (k-core's degree
    sweep): they record no superstep row and do not count toward
    ``max_iter``, so row ``iter`` is the sweep number minus ``lead``.
    ``force_iters`` runs every sweep, past a zero changed count. With
    ``cfg.pack_cache_dir`` the sharded tier caches its pack under
    ``cache``."""
    algo: str        # metrics kinds {algo}_superstep/_resume, checkpoints
    prefix: str      # state files {prefix}_{t}_{pid}.npy
    mode: str
    out: str         # output schema, "id long, ..."
    init: Callable
    sweep: Callable
    rows: Callable | None = None
    weights: bool = False
    integer_weights: bool = False
    seeds: np.ndarray | None = None
    key: dict = field(default_factory=dict)
    tags: dict = field(default_factory=dict)
    lead: int = 0
    force_iters: bool = False
    cache: str = "vite_pack"

    def frame(self, own, state=None):
        state = self.init(own) if state is None else state
        if self.rows is not None:
            return self.rows(own, state)
        return {"id": own, self.out.split(",")[1].split()[0]: state}

    def admits(self, own, w):
        if self.integer_weights and not (w == np.rint(w)).all():
            return False
        return self.seeds is None or bool(_members(own, self.seeds)[1].all())


def _sweep_job(spark, pack_dir, nparts, t, routing, op, ckpt_dir=None):
    """Iteration ``t`` of ``op`` (module docstring): one sentinel row
    (pid, changed, seeded) per partition; ``seeded`` (t == 1) counts the
    ``op.seeds`` ids the partition owns. With ``ckpt_dir`` each task also
    copies its new state there (runtime/iter_checkpoint.py layout; the
    driver commits the marker after the job returns)."""
    owners_of, _ = routing

    def run(pdf_iter):
        import pandas as pd

        for pdf in pdf_iter:
            for pid in pdf["pid"]:
                pid = int(pid)

                def load(name):
                    return np.load(os.path.join(
                        pack_dir, f"{name}_{pid}.npy"), mmap_mode="r")

                own = load("own")
                seeded = 0
                if len(own) == 0:
                    yield pd.DataFrame({"pid": [pid], "changed": [0],
                                        "seeded": [0]})
                    continue
                ux = load("ux")
                if t == 1:
                    curr = op.init(ux)
                    if op.seeds is not None:
                        seeded = int(_members(own, op.seeds)[1].sum())
                else:
                    starts, bpids = _load_bounds(pack_dir)
                    for i, q in enumerate(owners_of.get(pid, ())):
                        lo, hi = _ux_owner_span(ux, starts, bpids, q)
                        prev = np.load(os.path.join(
                            pack_dir, f"{op.prefix}_{t - 1}_{int(q)}.npy"),
                            mmap_mode="r")
                        if i == 0:
                            curr = np.empty((len(ux), *prev.shape[1:]),
                                            prev.dtype)
                        curr[lo:hi] = prev[_req_of(pack_dir, q, pid)]
                own_pos = np.searchsorted(ux, own).astype(np.int32)
                srcl, dstl = load("srcl"), load("dstl")
                seg = np.flatnonzero(np.r_[True, srcl[1:] != srcl[:-1]])
                assert len(seg) == len(own), \
                    "pack invariant broken: segments must enumerate own"
                new_own = op.sweep(curr, own_pos, srcl, dstl, seg,
                                   load("w") if op.weights else None)
                changed = int((new_own != curr[own_pos]).sum())
                _atomic_save(os.path.join(
                    pack_dir, f"{op.prefix}_{t}_{pid}.npy"), new_own)
                if ckpt_dir is not None:
                    from vite_spark.runtime.iter_checkpoint import \
                        save_shard
                    save_shard(ckpt_dir, pid, own, new_own)
                if t >= 3:
                    try:
                        os.remove(os.path.join(
                            pack_dir, f"{op.prefix}_{t - 2}_{pid}.npy"))
                    except OSError:
                        pass
                yield pd.DataFrame({"pid": [pid], "changed": [changed],
                                    "seeded": [seeded]})

    return _pid_frame(spark, nparts).mapInPandas(
        run, schema="pid int, changed long, seeded long")


def _owner_sweep(spark, edges, max_iter, cfg, metrics, op):
    """The owner-authored kernels' driver (module docstring). Returns the
    ``op.out`` DataFrame, or None when the caller's join path must run."""
    kind = f"{op.algo}_superstep"
    tags = {"mode": op.mode, **op.tags}
    sweeps = max_iter + op.lead

    def record(t, changed, wall_s, ne):
        if t > op.lead:
            metrics.record(kind=kind, iter=t - op.lead, changed=changed,
                           wall_s=wall_s, edges_processed=ne, **tags)

    def single(tbl):
        def body(own, srcl, dstl, seg, w):
            if not op.admits(own, w):
                return None
            own_pos = np.arange(len(own))
            curr, chg = op.init(own), []
            for _t in range(sweeps):
                new = op.sweep(curr, own_pos, srcl, dstl, seg, w)
                chg.append(int((new != curr).sum()))
                curr = new
                if chg[-1] == 0 and not op.force_iters:
                    break
            return chg, op.frame(own, curr)

        out, chg, wall, ne = _driver_local(spark, tbl, op.out, body)
        for t, c in enumerate(chg, 1):
            record(t, int(c), wall / len(chg), ne)
        return out

    def step(pack_dir, nparts, info, routing):
        from vite_spark.runtime import iter_checkpoint as ic

        if op.integer_weights and not info["w_integer"]:
            raise _Fallback("kernel")
        ckroot = cfg.checkpoint_dir
        scalars = {"nv": int(info["nv"]), "ne": int(info["ne"]),
                   "nparts": nparts, **op.key}
        t_final = 0
        ck = ic.latest_complete(ckroot, op.algo) if ckroot else None
        if (ck is not None and sweeps > 0 and ic.validate(ck, info, nparts)
                and all(ck.get(k) == v for k, v in op.key.items())):
            # a checkpoint beyond the last sweep stands in for its state,
            # like PageRank's restore into rnk_{min(t, max_iter)}
            k = min(int(ck["t"]), sweeps)
            t0 = time.time()
            if ic.restore_job(spark, pack_dir, nparts,
                              ic.iter_dir(ckroot, op.algo, int(ck["t"])),
                              f"{op.prefix}_{k}"):
                t_final = k
                metrics.record(kind=f"{op.algo}_resume", iter=k - op.lead,
                               wall_s=time.time() - t0, mode=op.mode)

        for t in range(t_final + 1, sweeps + 1):
            ck_dir = None
            if ckroot and t % max(cfg.checkpoint_every, 1) == 0:
                ck_dir = ic.prepare_iter(ckroot, op.algo, t)
            t0 = time.time()
            sent = _sweep_job(spark, pack_dir, nparts, t, routing, op,
                              ckpt_dir=ck_dir).collect()
            changed = int(sum(r["changed"] for r in sent))
            if (t == 1 and op.seeds is not None
                    and sum(r["seeded"] for r in sent) != len(op.seeds)):
                raise _Fallback("kernel")
            if ck_dir is not None:
                ic.mark_complete(ckroot, op.algo, t,
                                 {"changed": changed, **scalars})
            record(t, changed, time.time() - t0, int(info["ne"]))
            t_final = t
            if changed == 0 and not op.force_iters:
                break
        # t_final == 0: no state file; frame() falls back to init(own)
        return _emit_own(spark, pack_dir, nparts, op.out,
                         [("", f"{op.prefix}_{t_final}")] if t_final else [],
                         rows=op.frame)

    return _run_packed(spark, edges, cfg, metrics, (op.prefix + "_",), step,
                       single=single,
                       cols=("src", "dst", "weight") if op.weights
                       else ("src", "dst"),
                       prepare=partial(_prepare_pack, cache=op.cache))


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

    def single(tbl):
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
            return deltas, {"id": own, "rank": r / norm}

        out, deltas, wall, ne = _driver_local(
            spark, tbl, "id long, rank double", body)
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

    return _run_packed(spark, edges, cfg, metrics, ("prc_", "rnk_"),
                       step, single=single, cols=("src", "dst", "weight"))
