"""Packed-CSR PER-VERTEX triangle counts — the by-vertex companion of
kernels/csr_tri.py (global count), sharing its two tiers through
``csr_pr._run_packed``: the single-task tier (``csr_tri._tri_single``'s
per-vertex credits over original ids, plus zero rows for the dst ids
that are never a src) and the sharded tier below, on the global
kernel's pack (rank-relabeled oriented sharded CSR + pack-time
closing-edge key arrays) and its single-job, no-shuffle-of-wedges count
phase.

Semantics match algos/triangles.triangles_per_vertex exactly (every
triangle credited to each of its 3 vertices; vertices in no triangle
included with 0) — parity pytest-enforced, and the driver query
`triangles_by_vertex` is DuckDB-oracled.

What the sharded tier changes vs the global kernel:

- **Credits**: when a wedge (v, w) at apex u closes, the job credits all
  three RANK ids. Apex credits accumulate into a dense per-own bincount
  (u is always owned — rows are src-range-partitioned). v/w credits are
  global rank ids owned anywhere; they accumulate per task as sorted
  (rank, count) runs compacted with np.unique per batch — never a dense
  nv array per task.
- **Output rows instead of scalars**: each task emits its compacted
  (rk, cnt) pairs — O(|own_p| + |U_p|) rows, the ghost-set bound — and
  one groupBy(rk).sum() shuffle of that bounded table aggregates
  cross-partition credits. This is the only shuffle; the O(Σ outdeg²)
  wedge volume still never materializes anywhere.
- **Rank map**: per-vertex output must name ORIGINAL vertex ids, so the
  pack gains one artifact: `rank_map.parquet` (rk, id), written once per
  pack by re-running the deterministic rank job (same input → same
  ranks as the pack's relabel; csr_tri._rank_by_degree). The final
  (id, triangles) is one join of the aggregated credits against it,
  plus a left join from the distinct-vertex table for the zero rows.

Remote buffers carry (u, v, w) triples (the global kernel ships pairs —
the apex is only needed when crediting), flushed at FLUSH_PAIRS like
every packed kernel here.

Reference analog: Vite has no triangle counting (csr_tri.py docstring);
cited parity target is the repo's own join path.
"""

from __future__ import annotations

import os

import numpy as np

from vite_spark.kernels import csr_pr
from vite_spark.kernels.csr_sharded import _load_bounds, _positions
from vite_spark.kernels.csr_tri import (
    FLUSH_PAIRS,
    TRI_TRANSIENT_PREFIXES,
    _pid_tasks,
    _prepare_tri_pack,
    _rank_by_degree,
    _tri_single,
)


def _ensure_rank_map(spark, edges, pack_dir, nparts):
    """rank_map.parquet (rk, id) in the pack dir — written once; the
    rank job is deterministic, so re-running it reproduces exactly the
    relabel the pack was built with."""
    from pyspark.sql import functions as F

    path = os.path.join(pack_dir, "rank_map.parquet")
    done = os.path.join(path, "_SUCCESS")
    if os.path.exists(done):
        return path
    e = (edges.select("src", "dst")
         .filter(F.col("src") != F.col("dst")).distinct())
    d2, ranks, _dstats = _rank_by_degree(spark, e, nparts)
    ranks.select("rk", "id").write.mode("overwrite").parquet(path)
    d2.unpersist()
    return path


def _credit_job(spark, pack_dir, nparts, flush_pairs):
    """Enumerate wedges and probe closing edges exactly like
    csr_tri._count_job, but emit per-rank triangle credits instead of
    scalar sentinels. Rows: (rk long, cnt long), compacted per task."""

    def run(pdf_iter):
        import pandas as pd

        stats: dict = {}

        def owner_stats(q):
            st = stats.get(q)
            if st is None:
                op = os.path.join(pack_dir, f"own_{q}.npy")
                if not os.path.exists(op):
                    st = ()
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
                    continue
                ux = np.load(os.path.join(pack_dir, f"ux_{pid}.npy"),
                             mmap_mode="r")
                dstl = np.load(os.path.join(pack_dir, f"dstl_{pid}.npy"),
                               mmap_mode="r")
                dst_g = np.asarray(ux, np.int64)[
                    np.asarray(dstl, np.int64)]
                srcl64 = np.asarray(srcl, np.int64)
                own = np.load(os.path.join(pack_dir, f"own_{pid}.npy"),
                              mmap_mode="r")
                own64 = np.asarray(own, np.int64)
                seg_start = np.flatnonzero(
                    np.r_[True, srcl64[1:] != srcl64[:-1]])
                seg_end = np.r_[seg_start[1:], nrows]
                lens = seg_end - seg_start
                row_end = np.repeat(seg_end, lens)
                idx = np.arange(nrows, dtype=np.int64)
                starts_b, bpids = _load_bounds(pack_dir)
                stride = np.int64(len(ux) + 1)
                key_rows = np.load(
                    os.path.join(pack_dir, f"krw_{pid}.npy"),
                    mmap_mode="r")
                # hoisted per-row arrays (csr_tri._count_job comments)
                rpos_b = np.searchsorted(
                    starts_b, dst_g, side="right") - 1
                rq = np.where(
                    rpos_b >= 0,
                    np.asarray(bpids, np.int64)[np.maximum(rpos_b, 0)],
                    np.int64(-1))
                rvl, rok = _positions(own, dst_g)
                rvl64 = rvl.astype(np.int64)
                dstl64 = np.asarray(dstl, np.int64)

                # apex credits: dense over own (u is always local)
                own_cnt = np.zeros(len(own), np.int64)
                # v/w credits: compacted (rank, count) runs
                runs: list = []

                def credit(ranks):
                    if len(ranks):
                        uq, c = np.unique(ranks, return_counts=True)
                        runs.append((uq, c.astype(np.int64)))

                bufs: dict = {}
                buffered = 0

                def flush():
                    nonlocal buffered
                    for q, arrs in bufs.items():
                        arr = (np.concatenate(arrs, axis=1)
                               if len(arrs) > 1 else arrs[0])
                        st = owner_stats(q)
                        if not st:
                            continue
                        own_q, ux_q, stride_q, krw_q = st
                        vl, okv = _positions(own_q, arr[1])
                        wl, okw = _positions(ux_q, arr[2])
                        ok = okv & okw
                        if not ok.any():
                            continue
                        kq = (vl[ok].astype(np.int64) * stride_q
                              + wl[ok].astype(np.int64))
                        _, found = _positions(krw_q, kq)
                        if found.any():
                            hit = np.flatnonzero(ok)[found]
                            # apex is a local own index → dense credit
                            np.add.at(own_cnt, arr[0][hit], 1)
                            credit(arr[1][hit])
                            credit(arr[2][hit])
                    bufs.clear()
                    buffered = 0

                for k in range(1, int(lens.max())):
                    m = idx + k < row_end
                    if not m.any():
                        break
                    i = idx[m]
                    qs = rq[i]
                    ok = qs >= 0
                    i, qs = i[ok], qs[ok]
                    if not len(i):
                        continue
                    loc = qs == pid
                    if loc.any():
                        il = i[loc]
                        okb = rok[il]
                        if okb.any():
                            ilk = il[okb]
                            kq = (rvl64[ilk] * stride
                                  + dstl64[ilk + k])
                            _, found = _positions(key_rows, kq)
                            if found.any():
                                hit = ilk[found]
                                np.add.at(own_cnt, srcl64[hit], 1)
                                credit(dst_g[hit])
                                credit(dst_g[hit + k])
                        rem = ~loc
                        i, qs = i[rem], qs[rem]
                    if not len(i):
                        continue
                    # remote buffers carry the apex's OWN index (int64 —
                    # it indexes own_cnt on the way back) plus the
                    # query's global rank pair
                    u = srcl64[i]
                    v = dst_g[i]
                    w = dst_g[i + k]
                    order = np.argsort(qs, kind="stable")
                    qs, u, v, w = qs[order], u[order], v[order], w[order]
                    qb = np.flatnonzero(np.r_[True, qs[1:] != qs[:-1]])
                    qe = np.r_[qb[1:], len(qs)]
                    for b, e_ in zip(qb, qe):
                        bufs.setdefault(int(qs[b]), []).append(
                            np.stack([u[b:e_], v[b:e_], w[b:e_]]))
                    buffered += len(v)
                    if buffered >= flush_pairs:
                        flush()
                flush()

                # compact the task's credits into one (rk, cnt) frame
                nz = np.flatnonzero(own_cnt)
                parts = [(own64[nz], own_cnt[nz])] + runs
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
        run, schema="rk long, cnt long")


def csr_triangles_per_vertex(spark, edges, cfg, metrics):
    """(id, triangles) DataFrame through ``csr_pr._run_packed``, or None
    when the caller's wedge-join path must run (non-local master above the
    gate, empty input). Zero-triangle vertices included, like the join
    path. Both tiers record one ``triangles_vertex_packed`` row."""
    import time

    from pyspark.sql import functions as F

    def record(t0, oriented):
        metrics.record(kind="triangles_vertex_packed",
                       mode="tri_vertex_csr_packed",
                       wall_s=round(time.time() - t0, 3),
                       edges_oriented=int(oriented))

    def single(edges):
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
            spark, edges, ("src", "dst"), "id long, triangles long", body,
            open_ok=True)
        record(t0, stats[2])
        return out

    def step(pack_dir, nparts, info, routing):
        t0 = time.time()
        verts = (edges.select(F.col("src").alias("id"))
                 .union(edges.select(F.col("dst").alias("id")))
                 .distinct())
        rank_map = spark.read.parquet(
            _ensure_rank_map(spark, edges, pack_dir, nparts))
        credits = (_credit_job(spark, pack_dir, nparts, FLUSH_PAIRS)
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
