"""Packed-CSR triangle counting — the fifth and last north-rule-named
algorithm ("PageRank, connected components, label propagation, triangle
count") over the shared kernel infrastructure (Louvain kernels/csr*.py,
PageRank csr_pr.py, LPA csr_lpa.py, CC csr_cc.py).

Two entry points share everything below: ``csr_triangles`` (the global
count) and ``csr_triangles_per_vertex`` (every triangle credited to each
of its three vertices, zero rows included). Both run through the packed
runner ``csr_pr._run_packed``: the edge-row gate (one capped Arrow
collect at the shared ``config.PACK_EDGES_PER_PART`` rows per partition;
the crossover is measured there), the input pin and local-master check
of the sharded tier, cleanup and the ``kind="tier"`` row. Two tiers,
each one body with a ``credits`` flag for the two outputs:

- **Single task** (the rows fit that target, no ``checkpoint_dir``):
  ``csr_pr._driver_local`` runs ``_tri_single`` in the driver over the
  runner's collected rows — ``algos/triangles._oriented`` and the local
  probe below, in NumPy. Inputs that are not vertex-closed stay on this
  tier (the body takes the miss mask). No pack files, no Python worker,
  one Spark job (the collect).
- **Sharded**: the pack and count phases below, one ``_wedge_job``.
  ``_prepare_tri_pack`` is the runner's pack builder; it keeps its own
  partition cap from the wedge volume.

The count's tiers record the same ``triangles_packed`` row (``wedges``,
``queries``, ``edges_oriented``, ``triangles``; at one partition every
query is local, so ``queries`` is 0); the per-vertex tiers record
``triangles_vertex_packed``.

The join-path `algos/triangles.triangle_count` is the cluster-correct
DataFrame shape (degree-oriented wedge self-join + closing-edge join);
measured 0.661 per-core scaling efficiency 4→16 (BENCH.md r4) because the
O(Σ outdeg²) wedge table moves through TWO exchanges — precisely the
memory/shuffle traffic class that stops scaling past ~7 concurrent
streams on this host. This kernel keeps the identical algorithm —
degree-orientation makes every triangle a single wedge at its
minimum-order vertex — but moves the wedge traffic out of the shuffle:

Pack phase (once per input, cached like the Louvain pack):

1. **Rank relabel**: vertices get a dense rank by (degree, id) — the
   orientation order of algos/triangles._oriented — via a distributed
   two-job rank (repartitionByRange on (deg, id), per-partition counts →
   exclusive offsets → per-partition `offset + arange`). After the
   relabel, "lower (deg, id) endpoint" is simply the smaller integer, so
   the kernel never needs degree lookups.
2. **Orient + pack**: keep edges rank_src < rank_dst (each undirected
   edge once, low→high) and write the standard sharded CSR pack
   (kernels/csr_sharded.pack_csr_partitions_sharded: 1-D range ownership
   on src, per-partition sorted universe ux, (src,dst)-sorted rows,
   bounds.npz ownership table). Max oriented out-degree is bounded by
   ~sqrt(2m) (the arboricity argument), so no segment is hub-sized.

Count phase (ONE job, no shuffle, no barrier):

3. **Probe keys**: each partition's (src,dst)-sorted rows collapse to a
   single strictly-increasing int64 key array
   `krw_{pid}.npy = srcl * (|ux|+1) + dstl` — built once at pack time
   (one more pack artifact), so closing-edge membership is one
   searchsorted against an IMMUTABLE file.

Task p enumerates, per owned segment, all pairs
(v, w) = (dst[i], dst[i+k]) within the segment (per-segment dst is
ascending = orientation order, so v < w and each candidate closing edge
is queried in its stored direction exactly once). Each query is a
membership test against owner(v)'s key array (owner by the bounds
table — the getOwner analog, /root/reference/distgraph.hpp:260-271):
local queries (owner == p, the bulk under range partitioning) are
answered against p's own arrays with zero per-wedge searchsorteds (the
positions are pack coordinates the enumerator already holds); remote
queries are batched per owner to O(FLUSH) memory and probed directly
against the owner's `own/ux/krw` files. Those files are STATIC
pack-time artifacts, so reading them from any task is a lookup into an
immutable distributed index — a broadcast-join shape, not a
mutable-state exchange — which is why no second job or barrier is
needed. Single box: one read-only mmap copy in the page cache shared
by every worker. Real cluster: the same shared pack store the kernel
already requires (the reads are rank-sorted batches, one seek + one
sequential range per batch per owner).

Total = Σ hits: every triangle {a<b<c in rank order} is counted exactly
once, as wedge (b, c) at apex a with closing edge (b, c). The count is
an exact integer — no float-order domain gate needed (unlike the Louvain
sharded kernel) — and equals algos/triangles.triangle_count on every
input (same orientation, same distinct/self-loop handling;
pytest-enforced parity).

Per-vertex credits (``credits=True``): a closed wedge credits all three
RANK ids. The apex is always owned (rows are src-range-partitioned), so
its credits go into a dense count over own; v and w may be owned
anywhere, so they accumulate as (rank, count) runs compacted per batch —
never a dense nv array per task. Remote buffers then carry the apex's
own index with the pair. Each task emits its compacted (rk, cnt) rows —
O(|own_p| + |U_p|), the ghost-set bound — and one groupBy(rk) over that
bounded table is the only shuffle. Output must name ORIGINAL ids, so the
per-vertex tier adds one pack artifact, ``rank_map.parquet`` (rk, id),
written lazily by re-running the deterministic rank job (the count path
never pays for it), and joins the credits against it plus a left join
from the distinct vertices for the zero rows.

Scale shape: per-partition memory O(edges/p + FLUSH); the O(Σ outdeg²)
wedge volume never materializes anywhere — not in a shuffle (the join
path moves it through TWO exchanges), not even on scratch (the first
packed design routed it through per-reader files; the local fraction
plus static-index probes removed the files entirely) — it exists only
as per-pass NumPy transients inside the enumerating task. Nothing on
the driver but per-partition scalars. All int64 key arithmetic is
explicit-cast (NumPy 1.x value-based casting — the r3 int32-overflow
lesson, kernels/csr.py:199).

Preconditions (caller falls back to the join path on None): local
master (shared pack filesystem), nonempty input. Reference analog: Vite has no triangle
counting; the owner routing reuses csr_sharded.py's getOwner bounds
table, and the remote probe replaces its exchangeVertexReqs-style
request exchange (/root/reference/louvain.cpp:3251-3397) with one-sided
reads of immutable pack state — legal here precisely because, unlike
Louvain community state, the closing-edge index never changes.
"""

from __future__ import annotations

import json
import os
import shutil
import tempfile
import time

import numpy as np

from vite_spark.kernels import csr_pr
from vite_spark.kernels.csr import _atomic_save
from vite_spark.kernels.csr_sharded import (
    _load_bounds,
    _positions,
    pack_csr_partitions_sharded,
)

# routed-query files written by the pre-r4 two-job design; scrubbed from
# reused pack caches so stale files can't linger
TRI_TRANSIENT_PREFIXES = ("twq_",)

# remote wedge queries buffered per task before a probe batch (bounds
# per-task memory; bigger batches amortize the per-owner searchsorteds)
FLUSH_PAIRS = 8_000_000


def _pid_tasks(spark, nparts):
    """pid frame with ~2 tasks per core instead of one task per pid: the
    probe-key and wedge jobs' per-pid work items are independent and every run()
    loop already iterates the pids inside its frame, so grouping pids per
    task changes nothing about the result — but it removes the per-task
    python-runner handshake (~50-85 ms/task measured on this host) that
    dominated the probe job's wall (a no-op 64-task mapInPandas job
    measured 5.5 s at 4 cores). 2× parallelism keeps enough slack for
    stragglers on skewed pid blocks."""
    from pyspark.sql import functions as F

    par = max(1, spark.sparkContext.defaultParallelism)
    ntasks = max(1, min(nparts, 2 * par))
    return spark.range(0, nparts, 1, ntasks).select(
        F.col("id").cast("int").alias("pid"))


def _rank_by_degree(spark, e, nparts):
    """(id, rk) — dense rank of every vertex by (degree, id), where
    degree = out-degree of the distinct self-loop-free edge table (equals
    the undirected degree on symmetric inputs — the same contract as
    algos/triangles._oriented). Two jobs: per-range-partition counts →
    exclusive offsets (nparts scalars on the driver) → offset + arange.
    """
    from pyspark.sql import functions as F

    deg = e.groupBy(F.col("src").alias("id")).agg(
        F.count(F.lit(1)).alias("deg"))
    d2 = deg.repartitionByRange(nparts, "deg", "id").persist()

    def cnt(pdf_iter):
        import pandas as pd
        from pyspark import TaskContext

        pid = TaskContext.get().partitionId()
        n = 0
        sd = np.int64(0)
        wd = np.int64(0)
        for p in pdf_iter:
            n += len(p)
            d = p["deg"].to_numpy(np.int64)
            sd += d.sum()
            wd += (d * (d - 1) // 2).sum()
        yield pd.DataFrame({"pid": [pid], "n": [np.int64(n)],
                            "sd": [sd], "wd": [wd]})

    try:
        rows = d2.mapInPandas(
            cnt, schema="pid int, n long, sd long, wd long").collect()
    except BaseException:
        d2.unpersist()
        raise
    offs = {}
    acc = 0
    for r in sorted(rows, key=lambda r: r["pid"]):
        offs[int(r["pid"])] = acc
        acc += int(r["n"])
    boffs = spark.sparkContext.broadcast(offs)
    # degree stats ride the same job (Σdeg, Σ C(deg,2)) — the caller's
    # scale-adaptive partition cap needs them and formerly paid an
    # extra agg job
    stats = {"sum_deg": int(sum(int(r["sd"]) for r in rows)),
             "wedges_est": int(sum(int(r["wd"]) for r in rows))}

    def rk(pdf_iter):
        import pandas as pd
        from pyspark import TaskContext

        pid = TaskContext.get().partitionId()
        parts = [p for p in pdf_iter if len(p)]
        if not parts:
            return
        pdf = pd.concat(parts, ignore_index=True) if len(parts) > 1 else parts[0]
        pdf = pdf.sort_values(["deg", "id"], ignore_index=True)
        base = boffs.value.get(pid, 0)
        yield pd.DataFrame({
            "id": pdf["id"].to_numpy(np.int64),
            "rk": base + np.arange(len(pdf), dtype=np.int64),
        })

    return d2, d2.mapInPandas(rk, schema="id long, rk long"), stats


def _prepare_tri_pack(spark, edges, cfg, nparts, ne):
    """The sharded tier's pack builder for ``csr_pr._run_packed``:
    (pack_dir, nparts, info, None, cleanup) — the oriented rank-relabeled
    sharded pack (no routes: the wedge job reads the owners' static
    files), cached under <pack_cache_dir>/tri_pack (NOT the shared
    vite_pack: the triangle pack stores a different graph — oriented,
    relabeled). Same caller contract as the Louvain pack cache: every
    run pointing at one cache dir must use the same edge table and
    shuffle-partition count. The runner pins ``edges`` across the build
    and passes the requested partition count ``nparts`` and its gate
    count ``ne`` (None when ``cfg.shuffle_partitions`` fixes the
    layout)."""
    from pyspark.sql import functions as F

    from vite_spark.config import adaptive_pack_nparts, resolve_scratch

    pack_dir = None
    cleanup = True
    if cfg.pack_cache_dir:
        pack_dir = os.path.join(cfg.pack_cache_dir, "tri_pack")
        cleanup = False
        mf = os.path.join(pack_dir, "manifest.json")
        if os.path.exists(mf):
            with open(mf) as fh:
                man = json.load(fh)
            if not os.path.exists(os.path.join(pack_dir, "krw_0.npy")):
                # cache written before probe keys were pack-time artifacts
                _build_probe_keys(spark, pack_dir, man["nparts"])
            return pack_dir, man["nparts"], man["info"], None, False
    if pack_dir is None:
        pack_dir = tempfile.mkdtemp(
            prefix="vite_csr_tri_",
            dir=resolve_scratch(cfg.scratch_dir, ne=ne))
    else:
        os.makedirs(pack_dir, exist_ok=True)

    # persist the distinct self-loop-free table: the degree job, the
    # oriented range-boundary sample and the pack job each consume it,
    # and without the cache each re-runs the distinct shuffle.
    # Released alongside ranks/d2 — never outlives the pack build, also
    # when it fails (a fresh temporary pack is then removed too).
    e = (edges.select("src", "dst")
         .filter(F.col("src") != F.col("dst")).distinct().persist())
    d2 = ranks = None
    try:
        d2, ranks, dstats = _rank_by_degree(spark, e, nparts)
        ranks = ranks.persist()
        if ne is not None:
            # the wedge job's work is the WEDGE probe, not an edge
            # gather, so the requested partition count is capped by the
            # wedge-volume upper bound Σ C(deg, 2) (computed inside the
            # rank job's count pass — no extra job) alongside
            # |oriented| = Σdeg/2 — a graph with heavy wedges keeps its
            # parallelism
            work = max(dstats["sum_deg"] // 2, dstats["wedges_est"])
            nparts = adaptive_pack_nparts(nparts, work)
        oriented = (
            e.join(ranks.select(F.col("id").alias("src"),
                                F.col("rk").alias("rs")), "src")
            .join(ranks.select(F.col("id").alias("dst"),
                               F.col("rk").alias("rd")), "dst")
            .filter(F.col("rs") < F.col("rd"))
            .select(F.col("rs").alias("src"), F.col("rd").alias("dst"),
                    F.lit(1.0).alias("weight"))
        )
        oriented = oriented.repartitionByRange(nparts, "src")
        # the range partitioner may collapse to fewer partitions on small
        # inputs — the pack's file set is per ACTUAL partition
        nparts = oriented.rdd.getNumPartitions()
        info = pack_csr_partitions_sharded(oriented, pack_dir, nparts)
        _build_probe_keys(spark, pack_dir, nparts)
    except BaseException:
        if cleanup:
            shutil.rmtree(pack_dir, ignore_errors=True)
        raise
    finally:
        for df in (ranks, d2, e):
            if df is not None:
                df.unpersist()
    if not cleanup:
        with open(os.path.join(pack_dir, "manifest.json"), "w") as fh:
            json.dump({"info": info, "nparts": nparts}, fh)
    return pack_dir, nparts, info, None, cleanup


def _tri_single(own, srcl, dstl, hit, dst, credits=False):
    """The single-task tier's count: ``algos/triangles._oriented`` and
    the wedge job's local probe, step by step, on one task's lexsorted
    rows (``csr_pr._driver_local``'s open-input body arguments). Returns
    (stats, cr): stats = [wedges, queries, edges_oriented, triangles]
    exactly as the sharded wedge job sums them at one partition (no
    remote queries); cr = per-own-vertex triangle counts (every triangle
    credited to its three vertices) with ``credits``, else None."""
    n = len(own)
    src = own[srcl]
    # 1. self-loops and duplicate rows (the rows are lexsorted)
    keep = (src != dst) & np.r_[True, (src[1:] != src[:-1])
                                | (dst[1:] != dst[:-1])]
    s, d, hit = srcl[keep], dstl[keep], hit[keep]
    # 2. out-degree of the distinct self-loop-free table
    deg = np.bincount(s, minlength=n)
    # 3. rows whose dst has no out-edge: the join path's inner degree
    #    join drops them
    hit[hit] = deg[d[hit]] > 0
    s, d = s[hit], d[hit]
    # 4. rank by (deg, id) — own is id-sorted — and orient low → high
    rank = np.empty(n, np.int64)
    rank[np.lexsort((own, deg))] = np.arange(n, dtype=np.int64)
    rs, rd = rank[s], rank[d]
    o = rs < rd
    rs, rd = rs[o], rd[o]
    o = np.lexsort((rd, rs))
    rs, rd = rs[o], rd[o]
    m = len(rs)
    if m == 0:
        return [0, 0, 0, 0], np.zeros(n, np.int64) if credits else None
    # 5. offset-k wedge passes; each closing edge (v, w) is a
    #    searchsorted membership test against the sorted key array. The
    #    active rows (those with a row k further on in their segment)
    #    only shrink, so each pass touches its wedges only.
    keys = rs * np.int64(n) + rd
    seg = np.flatnonzero(np.r_[True, rs[1:] != rs[:-1]])
    row_end = np.repeat(np.r_[seg[1:], m], np.diff(np.r_[seg, m]))
    act = np.arange(m, dtype=np.int64)
    lo = rs[0]
    wedges = tri = 0
    found_i, found_k = [], []
    k = 0
    while len(act):
        k += 1
        act = act[act + k < row_end[act]]
        v, w = rd[act], rd[act + k]
        # the wedge job's wedge tally: v below every owner range (below
        # the smallest oriented src) has no out-edge and is not queried
        wedges += int((v >= lo).sum())
        _, f = _positions(keys, v * np.int64(n) + w)
        tri += int(f.sum())
        if credits and f.any():
            found_i.append(act[f])
            found_k.append(np.full(int(f.sum()), k, np.int64))
    if not credits:
        return [wedges, 0, m, tri], None
    i = np.concatenate(found_i) if found_i else np.empty(0, np.int64)
    j = i + (np.concatenate(found_k) if found_k else 0)
    # 6. credit each triangle's three vertices (ranks → own positions)
    cr = (np.bincount(rs[i], minlength=n) + np.bincount(rd[i], minlength=n)
          + np.bincount(rd[j], minlength=n))
    return [wedges, 0, m, tri], cr[rank]


def _build_probe_keys(spark, pack_dir, nparts):
    """One job at pack time: per partition, save the strictly-increasing
    closing-edge key array `krw_{pid}.npy` (srcl·(|ux|+1) + dstl — rows
    are (src, dst)-sorted, so the composite is sorted). The wedge job
    membership-tests against it via read-only mmap, so the array is
    built once per pack and lives once in the page cache instead of
    being recomputed into fresh private pages per task per run (fresh
    first-touch is host-serialized — BENCH.md host physics — and was the
    probe job's dominant cost, not the searchsorteds)."""

    def run(pdf_iter):
        import pandas as pd

        for pdf in pdf_iter:
            for pid in pdf["pid"]:
                pid = int(pid)
                sp = os.path.join(pack_dir, f"srcl_{pid}.npy")
                if not os.path.exists(sp):
                    # empty input: the pack job may not materialize every
                    # partition's files (the wedge job only runs for
                    # ne > 0) — write empty keys so the krw file set is
                    # complete for the cache-validity check
                    _atomic_save(os.path.join(pack_dir, f"krw_{pid}.npy"),
                                 np.empty(0, np.int64))
                    yield pd.DataFrame({"pid": [pid], "n": [0]})
                    continue
                srcl = np.load(sp, mmap_mode="r")
                dstl = np.load(os.path.join(pack_dir, f"dstl_{pid}.npy"),
                               mmap_mode="r")
                ux = np.load(os.path.join(pack_dir, f"ux_{pid}.npy"),
                             mmap_mode="r")
                own = np.load(os.path.join(pack_dir, f"own_{pid}.npy"),
                              mmap_mode="r")
                stride = np.int64(len(ux) + 1)
                assert len(own) < 2 ** 62 // max(int(stride), 1), \
                    "probe key would overflow int64"
                keys = (np.asarray(srcl, np.int64) * stride
                        + np.asarray(dstl, np.int64))
                _atomic_save(
                    os.path.join(pack_dir, f"krw_{pid}.npy"), keys)
                yield pd.DataFrame({"pid": [pid], "n": [len(keys)]})

    _pid_tasks(spark, nparts).mapInPandas(
        run, schema="pid int, n long").collect()


def _wedge_job(spark, pack_dir, nparts, flush_pairs, credits=False):
    """Enumerate wedge queries, probe local ones in place and remote
    ones against the owners' static index files. Without ``credits``:
    one sentinel row (pid, wedges, queries, tri) per pid, remote buffers
    of (v, w) pairs. With ``credits``: compacted (rk, cnt) rows, every
    closed wedge crediting its three ranks (apex u into a dense count
    over own, v and w as per-batch ``np.unique`` runs), remote buffers of
    (u, v, w) triples — the apex's own index rides along so a remote hit
    can credit it on the way back.

    Local shortcut: a query (v, w) whose closing edge would live in THIS
    partition (owner(v) == pid — rows are src-range-partitioned) is
    answered immediately against the partition's own sorted key array
    with positions the enumerator already holds. Range partitioning
    preserves rank locality (rank ≈ id order on near-regular graphs, and
    graphs with any neighborhood structure keep most wedge endpoints
    near the apex), so the local fraction is the bulk of the volume —
    measured ~90% on the scaling input. The remote residue is batched
    per owner (``flush_pairs`` bounds memory; closure-captured so the
    executor-side value is the driver's at dispatch time) and probed
    against the owner's immutable ``own/ux/krw`` pack files via
    read-only mmap — static data, so no barrier, no second job, no
    exchange files."""

    def run(pdf_iter):
        import pandas as pd

        # per-task cache of remote owners' static arrays (mmap handles)
        stats: dict = {}

        def owner_stats(q):
            st = stats.get(q)
            if st is None:
                op = os.path.join(pack_dir, f"own_{q}.npy")
                if not os.path.exists(op):
                    st = ()   # owner has no rows → no closing edges
                else:
                    own_q = np.load(op, mmap_mode="r")
                    ux_q = np.load(
                        os.path.join(pack_dir, f"ux_{q}.npy"),
                        mmap_mode="r")
                    krw_q = np.load(
                        os.path.join(pack_dir, f"krw_{q}.npy"),
                        mmap_mode="r")
                    st = (own_q, ux_q, np.int64(len(ux_q) + 1), krw_q)
                stats[q] = st
            return st

        for pdf in pdf_iter:
            for pid in pdf["pid"]:
                pid = int(pid)
                srcl = np.load(os.path.join(pack_dir, f"srcl_{pid}.npy"),
                               mmap_mode="r")
                nrows = len(srcl)
                if nrows == 0:
                    if not credits:
                        yield pd.DataFrame(
                            {"pid": [pid], "wedges": [np.int64(0)],
                             "queries": [np.int64(0)],
                             "tri": [np.int64(0)]})
                    continue
                ux = np.load(os.path.join(pack_dir, f"ux_{pid}.npy"),
                             mmap_mode="r")
                dstl = np.load(os.path.join(pack_dir, f"dstl_{pid}.npy"),
                               mmap_mode="r")
                dst_g = np.asarray(ux, np.int64)[
                    np.asarray(dstl, np.int64)]
                srcl64 = np.asarray(srcl, np.int64)
                seg_start = np.flatnonzero(
                    np.r_[True, srcl64[1:] != srcl64[:-1]])
                seg_end = np.r_[seg_start[1:], nrows]
                lens = seg_end - seg_start
                row_end = np.repeat(seg_end, lens)
                idx = np.arange(nrows, dtype=np.int64)
                starts_b, bpids = _load_bounds(pack_dir)
                own = np.load(os.path.join(pack_dir, f"own_{pid}.npy"),
                              mmap_mode="r")
                stride = np.int64(len(ux) + 1)
                # pack-time closing-edge key array, one page-cache copy
                # shared by both modes and across reps
                key_rows = np.load(
                    os.path.join(pack_dir, f"krw_{pid}.npy"),
                    mmap_mode="r")
                # per-ROW precomputes hoisted out of the k-passes (each
                # pass's v = dst_g[i] re-queries the same rows):
                #   owner pid of dst_g (bounds routing),
                #   position of dst_g in own + found mask (local-probe v),
                # and w's ux position per pass is just dstl[i+k] — dstl
                # IS the ux index, so the local probe needs no
                # per-wedge searchsorted at all.
                rpos_b = np.searchsorted(
                    starts_b, dst_g, side="right") - 1
                rq = np.where(
                    rpos_b >= 0,
                    np.asarray(bpids, np.int64)[np.maximum(rpos_b, 0)],
                    np.int64(-1))
                rvl, rok = _positions(own, dst_g)
                rvl64 = rvl.astype(np.int64)
                dstl64 = np.asarray(dstl, np.int64)

                bufs: dict = {}
                buffered = 0
                wedges = 0
                queries = 0
                tri = 0
                if credits:
                    # apex credits: dense over own (u is always local);
                    # v/w credits: compacted (rank, count) runs
                    own_cnt = np.zeros(len(own), np.int64)
                    runs: list = []

                def close(u, v, w):
                    np.add.at(own_cnt, u, 1)
                    for r in (v, w):
                        uq, c = np.unique(r, return_counts=True)
                        runs.append((uq, c.astype(np.int64)))

                def flush():
                    nonlocal buffered, queries, tri
                    for q, arrs in bufs.items():
                        arr = (np.concatenate(arrs, axis=1)
                               if len(arrs) > 1 else arrs[0])
                        queries += arr.shape[1]
                        st = owner_stats(q)
                        if not st:
                            continue
                        own_q, ux_q, stride_q, krw_q = st
                        # (v, w) are the last two rows in both modes
                        vl, okv = _positions(own_q, arr[-2])
                        wl, okw = _positions(ux_q, arr[-1])
                        ok = okv & okw
                        if not ok.any():
                            continue
                        kq = (vl[ok].astype(np.int64) * stride_q
                              + wl[ok].astype(np.int64))
                        _, found = _positions(krw_q, kq)
                        tri += int(found.sum())
                        if credits and found.any():
                            hit = np.flatnonzero(ok)[found]
                            close(arr[0][hit], arr[1][hit], arr[2][hit])
                    bufs.clear()
                    buffered = 0

                # offset-k pass: pairs (dst[i], dst[i+k]) within a
                # segment; per-segment dst ascending → v < w and the
                # query direction matches the stored orientation.
                # Segment contributions max(0, L-k) are monotone
                # decreasing in k, so the first empty pass ends the loop.
                for k in range(1, int(lens.max())):
                    m = idx + k < row_end
                    if not m.any():
                        break
                    i = idx[m]
                    qs = rq[i]
                    ok = qs >= 0      # v below every range: no out-edges
                    i, qs = i[ok], qs[ok]
                    wedges += len(i)
                    if not len(i):
                        continue
                    loc = qs == pid
                    if loc.any():
                        # the same membership test as the remote probe,
                        # on this partition's rows; v's own position and
                        # w's ux position come from the hoisted per-row
                        # arrays — zero searchsorteds beyond the
                        # key-array membership test itself
                        il = i[loc]
                        okb = rok[il]
                        if okb.any():
                            ilk = il[okb]
                            kq = (rvl64[ilk] * stride
                                  + dstl64[ilk + k])
                            _, found = _positions(key_rows, kq)
                            tri += int(found.sum())
                            if credits and found.any():
                                hit = ilk[found]
                                close(srcl64[hit], dst_g[hit],
                                      dst_g[hit + k])
                        rem = ~loc
                        i, qs = i[rem], qs[rem]
                    if not len(i):
                        continue
                    cols = [dst_g[i], dst_g[i + k]]
                    if credits:
                        cols.insert(0, srcl64[i])
                    order = np.argsort(qs, kind="stable")
                    qs = qs[order]
                    cols = np.stack([c[order] for c in cols])
                    qb = np.flatnonzero(np.r_[True, qs[1:] != qs[:-1]])
                    qe = np.r_[qb[1:], len(qs)]
                    for b, e_ in zip(qb, qe):
                        bufs.setdefault(int(qs[b]), []).append(
                            cols[:, b:e_])
                    buffered += len(qs)
                    if buffered >= flush_pairs:
                        flush()
                flush()
                if not credits:
                    yield pd.DataFrame(
                        {"pid": [pid], "wedges": [np.int64(wedges)],
                         "queries": [np.int64(queries)],
                         "tri": [np.int64(tri)]})
                    continue
                # compact the task's credits into one (rk, cnt) frame
                nz = np.flatnonzero(own_cnt)
                parts = [(np.asarray(own, np.int64)[nz], own_cnt[nz])] + runs
                rk = np.concatenate([p[0] for p in parts])
                cnt = np.concatenate([p[1] for p in parts])
                if len(rk):
                    order = np.argsort(rk, kind="stable")
                    rk, cnt = rk[order], cnt[order]
                    first = np.r_[True, rk[1:] != rk[:-1]]
                    gid = np.cumsum(first) - 1
                    rk = rk[first]
                    cnt = np.bincount(gid, weights=cnt).astype(np.int64)
                    yield pd.DataFrame({"rk": rk, "cnt": cnt})

    return _pid_tasks(spark, nparts).mapInPandas(
        run, schema="rk long, cnt long" if credits
        else "pid int, wedges long, queries long, tri long")


def csr_triangles(spark, edges, cfg, metrics) -> int | None:
    """Packed-CSR global triangle count through ``csr_pr._run_packed``.
    Returns the exact count, or None when the caller's wedge-join path
    must run (non-local master above the gate, empty input). Both tiers
    record one ``triangles_packed`` row (``wedges``, ``queries``,
    ``edges_oriented``, ``triangles``)."""

    def record(wall, wedges, queries, oriented, tri):
        metrics.record(kind="triangles_packed", mode="tri_csr_packed",
                       wall_s=wall, wedges=int(wedges),
                       queries=int(queries), edges_oriented=int(oriented),
                       triangles=int(tri))
        return int(tri)

    def single(tbl):
        def body(own, srcl, dstl, seg, w, hit, dst):
            return _tri_single(own, srcl, dstl, hit, dst)[0], None

        _, stats, wall, _ = csr_pr._driver_local(
            spark, tbl, "id long, triangles long", body, open_ok=True)
        return record(wall, *stats)

    def step(pack_dir, nparts, info, routing):
        t0 = time.time()
        sent = _wedge_job(spark, pack_dir, nparts, FLUSH_PAIRS).collect()
        return record(time.time() - t0,
                      sum(r["wedges"] for r in sent),
                      sum(r["queries"] for r in sent), info["ne"],
                      sum(r["tri"] for r in sent))

    return csr_pr._run_packed(spark, edges, cfg, metrics,
                              TRI_TRANSIENT_PREFIXES, step, single=single,
                              prepare=_prepare_tri_pack)


def _ensure_rank_map(spark, edges, pack_dir, nparts):
    """rank_map.parquet (rk, id) in the pack dir — written once; the
    rank job is deterministic, so re-running it reproduces exactly the
    relabel the pack was built with."""
    from pyspark.sql import functions as F

    path = os.path.join(pack_dir, "rank_map.parquet")
    if os.path.exists(os.path.join(path, "_SUCCESS")):
        return path
    e = (edges.select("src", "dst")
         .filter(F.col("src") != F.col("dst")).distinct())
    d2, ranks, _ = _rank_by_degree(spark, e, nparts)
    try:
        ranks.select("rk", "id").write.mode("overwrite").parquet(path)
    finally:
        d2.unpersist()
    return path


def csr_triangles_per_vertex(spark, edges, cfg, metrics):
    """(id, triangles) DataFrame through ``csr_pr._run_packed``, or None
    when the caller's wedge-join path must run (non-local master above the
    gate, empty input). Zero-triangle vertices included, like the join
    path. Both tiers record one ``triangles_vertex_packed`` row."""
    from pyspark.sql import functions as F

    def record(t0, oriented):
        metrics.record(kind="triangles_vertex_packed",
                       mode="tri_vertex_csr_packed",
                       wall_s=round(time.time() - t0, 3),
                       edges_oriented=int(oriented))

    def single(tbl):
        def body(own, srcl, dstl, seg, w, hit, dst):
            stats, cr = _tri_single(own, srcl, dstl, hit, dst,
                                    credits=True)
            # dst ids that are never a src: in no triangle, still rows
            miss = np.setdiff1d(dst[~hit], own)
            return stats, {"id": np.r_[own, miss],
                           "triangles": np.r_[cr, np.zeros(len(miss),
                                                           np.int64)]}

        t0 = time.time()
        out, stats, _, _ = csr_pr._driver_local(
            spark, tbl, "id long, triangles long", body, open_ok=True)
        record(t0, stats[2])
        return out

    def step(pack_dir, nparts, info, routing):
        t0 = time.time()
        verts = (edges.select(F.col("src").alias("id"))
                 .union(edges.select(F.col("dst").alias("id")))
                 .distinct())
        rank_map = spark.read.parquet(
            _ensure_rank_map(spark, edges, pack_dir, nparts))
        credits = (_wedge_job(spark, pack_dir, nparts, FLUSH_PAIRS,
                              credits=True)
                   .groupBy("rk").agg(F.sum("cnt").alias("triangles")))
        counted = credits.join(rank_map, "rk").select("id", "triangles")
        out = verts.join(counted, "id", "left").select(
            "id",
            F.coalesce("triangles", F.lit(0))
            .cast("long").alias("triangles"))
        if not cfg.pack_cache_dir:
            # no pack cache: the result is a lazy plan over pack files
            # that the runner removes on return — materialize
            # executor-side (truncates lineage past the pack reads)
            out = out.localCheckpoint(eager=True)
        record(t0, info["ne"])
        return out

    return csr_pr._run_packed(spark, edges, cfg, metrics,
                              TRI_TRANSIENT_PREFIXES, step, single=single,
                              prepare=_prepare_tri_pack)
