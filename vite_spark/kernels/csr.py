"""CSR-packed Arrow-UDF Louvain superstep — the BASELINE.json fast path.

One superstep = one job over partition ids. Per task the kernel mmaps its
partition's pre-packed adjacency (one-time pack, zero edge bytes over Arrow
per superstep) and sweeps the whole L4+L5 gather-scatter vectorized
(segment reduceat argmax) — no per-row Python anywhere.

State model (round-2 redesign — no O(nv) driver state, nothing O(nv) or
even O(moved) through the driver): every python worker process keeps a
full mirror of the mutable per-vertex / per-community state (curr,
comm_deg, comm_size) in a process-level cache and advances it by applying
per-superstep MOVE DELTAS. The deltas are exchanged WORKER-TO-WORKER
through per-(superstep, partition) files next to the pack files — each
sweep task writes its partition's moves (mv_{step}_{pid}.npy), and every
worker's first task of the next superstep reads that superstep's files
once (O(moved) bytes off the shared page cache). The driver's per-superstep
job returns exactly one scalar sentinel row per partition (e/a-term
partials + move count) — the earlier design's collect-all-moves +
re-broadcast was the measured Amdahl bottleneck (≈1.5 s serial per
superstep at 128M edges). The static arrays (vdeg, self_w, presence) are
assembled once per worker from the pack files. This is the Spark
re-expression of Vite's model (louvain.cpp:2583-2954): static local CSR
per rank, only the mutable community state is exchanged per iteration.

Colored phases run the same job once per color bucket: ``step`` is the
linear bucket counter, so one move-file chain, one ET chain and one
replay serve both modes (plain = one bucket per iteration; the sharded
kernel's protocol, kernels/csr_sharded.py).

Cluster contract: pack AND move files require that every superstep task
can read the files any partition wrote — true in local mode (one
filesystem) and on any shared-scratch cluster; the caller
(algos/louvain.py) gates this path on a local master and falls back to the
shuffle-join superstep otherwise (same semantics, cluster-correct).

Decision semantics are IDENTICAL to the NumPy oracle
(vite_spark/oracle/louvain_ref.py) — gain/tie-break/guard are the same
algorithm applied per partition; parity is pytest-enforced.
"""

from __future__ import annotations

import os

import numpy as np

from pyspark.sql import DataFrame


# Per-worker-process scratch arena: name → ndarray, grown as needed and
# reused across supersteps/tasks. On this class of VM, freshly-mmapped
# pages fault in at <1 GB/s and faulting does NOT scale with workers (it
# serializes host-side) while reused memory streams at ~15-20 GB/s/core —
# so steady-state zero-allocation is the difference between a kernel that
# scales and one that collapses beyond 4 workers (measured; see BENCH.md).
_ARENA: dict = {}


def _buf(name: str, n: int, dtype) -> np.ndarray:
    a = _ARENA.get(name)
    if a is None or len(a) < n or a.dtype != np.dtype(dtype):
        a = np.empty(int(n * 1.25) + 16, dtype)
        _ARENA[name] = a
    return a[:n]


def _take(src: np.ndarray, idx: np.ndarray, name: str) -> np.ndarray:
    out = _buf(name, len(idx), src.dtype)
    np.take(src, idx, out=out)
    return out


def _radix_order(srcl: np.ndarray, c_dst: np.ndarray,
                 nvl: int, nv_local: int) -> np.ndarray:
    """LSD radix grouping order by (src_local, c_dst) via a chain of
    uint16 STABLE argsorts (numpy uses O(n) counting radix only for
    ≤16-bit ints; int64 stable is comparison timsort): c_dst low half,
    c_dst high half, then src_local low/high — each pass ~25 ms / 2M rows
    vs ~280 ms for one random int64 argsort. Precondition (caller-checked):
    nvl < 2^32 and nv_local < 2^32, else the uint16 truncation would
    silently mis-group (r2 ADVICE).

    The shift/mask passes run in the INPUT array's integer loop (int64 for
    the mirror's c_dst, int32 for the sharded tracked index / packed srcl)
    and same-kind-cast the ≤16-bit results into the int32 scratch — the
    r3 int32-loop hazard needs a scalar OPERAND that fits a narrower
    loop *with an int32 array input*; here the array input fixes the loop
    width, so >>16 of values in [2^31, 2^32) is computed in int64, never
    sign-wrapped."""
    n = len(srcl)
    lo = _buf("rad_lo", n, np.uint16)
    tmp = _buf("rad_tmp32", n, np.int32)

    np.bitwise_and(c_dst, 0xFFFF, out=tmp)
    lo[:] = tmp
    order = np.argsort(lo, kind="stable")        # pass 1: c_dst low
    flip = 0
    if nvl > (1 << 16):                           # pass 2: c_dst high
        np.right_shift(c_dst, 16, out=tmp)
        lo[:] = _take(tmp, order, "rad_perm")
        order = _take(order, np.argsort(lo, kind="stable"),
                      f"rad_ord{flip}")
        flip ^= 1
    np.bitwise_and(srcl, 0xFFFF, out=tmp)         # pass 3: src_local low
    lo[:] = _take(tmp, order, "rad_perm")
    order = _take(order, np.argsort(lo, kind="stable"), f"rad_ord{flip}")
    flip ^= 1
    if nv_local > (1 << 16):                      # pass 4: src_local high
        np.right_shift(srcl, 16, out=tmp)
        lo[:] = _take(tmp, order, "rad_perm")
        order = _take(order, np.argsort(lo, kind="stable"),
                      f"rad_ord{flip}")
    return order


def _grouped_segments(srcl: np.ndarray, c_dst: np.ndarray,
                      nvl: int, nv_local: int):
    """Stable grouping of rows by (src_local, c_dst) — the L4 counter's
    sort — WITHOUT materializing the int64 composite key on the hot path.

    v1 built key = srcl·nvl + c_dst always (3 passes, ~48B/row), gathered
    it (16B/row), segment-compared it (16B/row) and divided it back per
    segment (int64 div, and n_seg ≈ n on early supersteps) — ~80B/row of
    DRAM traffic whose only information content is the (srcl, c_dst) int32
    pair. On the 24M-vertex sharded run the sweep is bandwidth-bound at 16
    workers (BENCH.md host physics), so that overhead is paid at the
    contended margin. Now the radix path orders off the int32 halves
    directly, and segments come from pair inequality on two int32 gathers.

    Adaptive exactly as before (bit-identical order, pytest parity):

    - nearly-sorted (the common case after the first sweeps: the pack is
      (src, dst)-sorted and converged labels correlate with dst) → ONE
      int64 stable argsort of the composite key (built only on this
      branch; timsort detects the runs, ~10x faster than random) —
      descent is sampled on the lexicographic PAIR, which equals key
      descent since key is monotone in (srcl, c_dst).
    - otherwise → _radix_order uint16 LSD chain (requires ids < 2^32;
      wider ids fall back to the key argsort, r2 ADVICE).

    Returns (order, start, g_srcidx, g_comm): the grouping permutation,
    segment-start row indices (into the ordered rows), and each segment's
    (src_local, c_dst) — native int32/int-input dtypes, callers index
    float/int64 arrays with them directly.
    """
    n = len(srcl)
    order = None
    if n >= (1 << 16) and nvl < (1 << 32) and nv_local < (1 << 32):
        ss_s, cs_s = srcl[::127], c_dst[::127]
        desc = int(np.count_nonzero(
            (ss_s[:-1] > ss_s[1:])
            | ((ss_s[:-1] == ss_s[1:]) & (cs_s[:-1] > cs_s[1:]))
        ))
        if desc * 32 >= len(ss_s):
            order = _radix_order(srcl, c_dst, nvl, nv_local)
    if order is None:
        key = _buf("key", n, np.int64)
        # upcast BEFORE the multiply: NumPy 1.x value-based casting routes
        # np.multiply(int32_arr, int64_scalar, out=int64) through the
        # INT32 loop, silently overflowing once max(srcl)·nvl ≥ 2^31 —
        # i.e. on any benchmark-scale graph (caught in r3; pinned by
        # tests/test_kernel_overflow.py)
        key[:] = srcl
        key *= np.int64(nvl)
        key += c_dst
        order = np.argsort(key, kind="stable")
    ss = _take(srcl, order, "gs_ss")
    cs = _take(c_dst, order, "gs_cs")
    start = np.flatnonzero(
        np.r_[True, (ss[1:] != ss[:-1]) | (cs[1:] != cs[:-1])]
    )
    return order, start, ss[start], cs[start]


def _decide_grouped(
    g_comm: np.ndarray,     # grouped rows: neighbor community
    e_vc: np.ndarray,       # grouped rows: Σ weight to that community
    ids: np.ndarray,        # distinct vertices (global ids), segment order
    new_seg: np.ndarray,
    curr: np.ndarray,
    vdeg: np.ndarray,
    self_w: np.ndarray,
    comm_deg: np.ndarray,
    comm_size: np.ndarray,
    const: float,
):
    """L5 gain argmax + tie-breaks + singleton guard over grouped counters
    (the exact louvain.cpp:2220-2279 algebra; shared by both sweep paths)."""
    seg_id = np.cumsum(new_seg) - 1          # per grouped row → vertex index
    n_seg = len(ids)

    cc = curr[ids]
    e_cc = np.zeros(n_seg)
    own = g_comm == cc[seg_id]
    e_cc[seg_id[own]] = e_vc[own]

    eix = e_cc - self_w[ids]
    ax = comm_deg[cc] - vdeg[ids]

    cand = ~own
    cs_seg = seg_id[cand]
    ccomm = g_comm[cand]
    gain = (
        2.0 * (e_vc[cand] - eix[cs_seg])
        - 2.0 * vdeg[ids][cs_seg] * (comm_deg[ccomm] - ax[cs_seg]) * const
    )
    pos_m = gain > 0.0
    cs_seg, ccomm, gain = cs_seg[pos_m], ccomm[pos_m], gain[pos_m]

    new_comm = cc.copy()
    if cs_seg.size:
        # cs_seg is still sorted; per-segment lexicographic argmax
        # (max gain, min comm) via two reduceats
        bnew = np.r_[True, cs_seg[1:] != cs_seg[:-1]]
        bounds = np.flatnonzero(bnew)
        segs = cs_seg[bounds]                          # segments w/ candidates
        max_g = np.maximum.reduceat(gain, bounds)
        row_max = np.repeat(max_g, np.diff(np.r_[bounds, len(gain)]))
        at_max = gain == row_max
        comm_masked = np.where(at_max, ccomm, np.iinfo(np.int64).max)
        c_best = np.minimum.reduceat(comm_masked, bounds)
        # singleton-swap guard (louvain.cpp:2275-2276)
        keep = ~(
            (comm_size[c_best] == 1)
            & (comm_size[cc[segs]] == 1)
            & (c_best > cc[segs])
        )
        new_comm[segs[keep]] = c_best[keep]
    return ids, cc, new_comm, e_cc


def sweep_partition_np(
    src: np.ndarray,
    dst: np.ndarray,
    w: np.ndarray,
    curr: np.ndarray,       # nv-sized: vertex → community
    vdeg: np.ndarray,       # nv-sized
    self_w: np.ndarray,     # nv-sized
    comm_deg: np.ndarray,   # nv-sized (community id space == vertex ids)
    comm_size: np.ndarray,
    const: float,
    srcl: np.ndarray | None = None,   # packed path: per-partition dense
    own_ids: np.ndarray | None = None,  # src index into own_ids (sorted)
):
    """Louvain decisions for the vertices whose FULL adjacency is in this
    partition. Returns (ids, cc, new_comm, e_cc) for distinct src.

    Packed path (srcl/own_ids given, rows pre-sorted by (src, dst)): the
    grouping key is src_local·nv + curr[dst]; the adaptive radix/timsort
    order and all big temporaries come from the worker arena — steady-state
    the sweep allocates only the (much smaller) grouped arrays. Generic
    path (no pack; the packed path's reference in
    tests/test_kernel_overflow.py): one int64 stable argsort of the
    global key, identical semantics."""
    n = len(dst)
    c_dst = _buf("c_dst", n, np.int64)
    np.take(curr, dst, out=c_dst)
    nvl = np.int64(len(curr))
    if srcl is not None:
        order, start, g_srcidx, g_comm = _grouped_segments(
            srcl, c_dst, int(nvl), int(len(own_ids))
        )
        ws = _take(w, order, "ws")
        e_vc = np.add.reduceat(ws, start)
        new_seg = np.r_[True, g_srcidx[1:] != g_srcidx[:-1]]
        ids = own_ids[g_srcidx[new_seg]]
    else:
        key = src * nvl + c_dst
        order = np.argsort(key, kind="stable")
        ks, ws = key[order], w[order]
        start = np.flatnonzero(np.r_[True, ks[1:] != ks[:-1]])
        e_vc = np.add.reduceat(ws, start)
        gk = ks[start]
        g_src = (gk // nvl).astype(np.int64)
        g_comm = (gk % nvl).astype(np.int64)
        new_seg = np.r_[True, g_src[1:] != g_src[:-1]]
        ids = g_src[new_seg]
    return _decide_grouped(
        g_comm, e_vc, ids, new_seg,
        curr, vdeg, self_w, comm_deg, comm_size, const,
    )


def pack_csr_partitions(edges: DataFrame, pack_dir: str, nparts: int) -> dict:
    """ONE Arrow pass per phase: pack each src-hash partition's adjacency
    into raw .npy files under pack_dir (the literal 'CSR-packed adjacency
    partitions' of BASELINE.json), together with the partition's OWNED
    vertex statics: distinct src ids, their weighted degrees and self-loop
    weights (louvain.cpp:2161-2186 computed per rank). Supersteps then
    never re-stream the edge table — tasks mmap their partition's arrays
    from the OS page cache and only move deltas travel.

    Returns {"ne": rows, "nv": owned vertices, "max_id": max id seen,
    "two_m": total weight} aggregated from per-partition sentinels — the
    driver never holds an nv-sized array.
    """
    import os

    os.makedirs(pack_dir, exist_ok=True)

    def pack(pdf_iter):
        import pandas as pd
        from pyspark import TaskContext

        pid = TaskContext.get().partitionId()
        parts = [p for p in pdf_iter if len(p)]
        if parts:
            pdf = pd.concat(parts, ignore_index=True) if len(parts) > 1 else parts[0]
            src = pdf["src"].to_numpy(np.int64)
            dst = pdf["dst"].to_numpy(np.int64)
            w = pdf["weight"].to_numpy(np.float64)
        else:
            src = np.empty(0, np.int64)
            dst = np.empty(0, np.int64)
            w = np.empty(0, np.float64)
        # pre-sort by (src, dst): the superstep's grouping sort then runs
        # on almost-sorted keys, and segments are contiguous
        order = np.lexsort((dst, src))
        src, dst, w = src[order], dst[order], w[order]
        # owned statics: every edge of v lives in v's src partition, so the
        # per-partition degree sums are exact (no cross-partition merge).
        # srcl = per-partition DENSE src index (int32, row → index into
        # own): lets the superstep's grouping sort radix on 16-bit halves
        # of a small domain instead of global int64 ids.
        if len(src):
            first = np.r_[True, src[1:] != src[:-1]]
            starts = np.flatnonzero(first)
            own = src[starts]
            srcl = (np.cumsum(first) - 1).astype(np.int32)
            vdeg = np.add.reduceat(w, starts)
            sw = np.zeros_like(vdeg)
            self_rows = src == dst
            if self_rows.any():
                np.add.at(sw, srcl[self_rows].astype(np.int64), w[self_rows])
            max_id = int(max(src.max(), dst.max()))
        else:
            own = np.empty(0, np.int64)
            srcl = np.empty(0, np.int32)
            vdeg = np.empty(0, np.float64)
            sw = np.empty(0, np.float64)
            max_id = -1
        for name, arr in (("src", src), ("srcl", srcl), ("dst", dst),
                          ("w", w), ("own", own), ("vdeg", vdeg),
                          ("selfw", sw)):
            _atomic_save(os.path.join(pack_dir, f"{name}_{pid}.npy"), arr)
        import pandas as pd

        yield pd.DataFrame({
            "pid": [pid], "rows": [len(src)], "nown": [len(own)],
            "max_id": [max_id], "sum_w": [float(w.sum())],
        })

    res = edges.mapInPandas(
        pack, schema="pid int, rows long, nown long, max_id long, sum_w double"
    ).collect()
    return {
        "ne": int(sum(r["rows"] for r in res)),
        "nv": int(sum(r["nown"] for r in res)),
        "max_id": max((r["max_id"] for r in res), default=-1),
        "two_m": float(sum(r["sum_w"] for r in res)),
    }


def _atomic_save(path: str, arr: np.ndarray) -> None:
    """np.save via tmp+rename: task retries / speculative duplicates write
    the same deterministic bytes, and readers never see a torn file."""
    import os

    tmp = f"{path}.tmp.{os.getpid()}"
    with open(tmp, "wb") as f:   # handle, not path: np.save(path) appends .npy
        np.save(f, arr)
    os.replace(tmp, path)


# Per-worker-process state cache: pack_dir → mutable replayed state. Python
# workers are reused across jobs (spark.python.worker.reuse), so in steady
# state each superstep applies only the newest delta. At most ONE phase's
# state is kept per worker (older pack_dirs evicted on first touch of a new
# one).
_WORKER_STATE: dict = {}


def _assemble_static(pack_dir: str, nparts: int, nv_dense: int):
    """Full static arrays from the per-partition pack files (once per
    worker process per phase; reads ride the shared OS page cache)."""
    import os

    vdeg = np.zeros(nv_dense)
    self_w = np.zeros(nv_dense)
    present = np.zeros(nv_dense, dtype=bool)
    for p in range(nparts):
        own = np.load(os.path.join(pack_dir, f"own_{p}.npy"))
        if len(own) == 0:
            continue
        vdeg[own] = np.load(os.path.join(pack_dir, f"vdeg_{p}.npy"))
        self_w[own] = np.load(os.path.join(pack_dir, f"selfw_{p}.npy"))
        present[own] = True
    return vdeg, self_w, present


def _load_moves(pack_dir: str, nparts: int, step: int):
    """Concatenated (mid, mnew) of superstep ``step`` from its per-partition
    move files (each a (2, m) int64 array)."""
    import os

    parts = [
        np.load(os.path.join(pack_dir, f"mv_{step}_{p}.npy"))
        for p in range(nparts)
    ]
    mv = np.concatenate(parts, axis=1) if len(parts) > 1 else parts[0]
    return mv[0], mv[1]


def _apply_delta(st: dict, mid: np.ndarray, mnew: np.ndarray, nv: int,
                 scatter: bool = False) -> None:
    """Advance the mirror's aggregates cd/cs by one move file (curr is
    the caller's: it may wait for the iteration's end). bincount (two
    O(nv) passes) beats np.add.at's scattered writes once the delta is a
    few % of nv; below that the scatter wins. ``scatter`` forces the
    scatter: the colored oracle refreshes its bucket aggregates with
    np.add.at, so colored phases stay bit-identical to it."""
    mold = st["curr"][mid]
    wts = st["vdeg"][mid]
    if scatter or len(mid) * 32 < nv:
        np.add.at(st["cd"], mnew, wts)
        np.add.at(st["cs"], mnew, 1)
        np.subtract.at(st["cd"], mold, wts)
        np.subtract.at(st["cs"], mold, 1)
    else:
        st["cd"] += np.bincount(mnew, weights=wts, minlength=nv)
        st["cd"] -= np.bincount(mold, weights=wts, minlength=nv)
        st["cs"] += np.bincount(mnew, minlength=nv)
        st["cs"] -= np.bincount(mold, minlength=nv)


def _replayed_state(pack_dir: str, nparts: int, nv_dense: int, n_deltas: int,
                    nb: int = 1, cache: bool = True) -> dict:
    """State after applying move files 1..n_deltas (linear bucket steps,
    ``nb`` per iteration) to the singleton init (louvain.cpp:2564-2581):
    cd/cs advance after every bucket, curr only at iteration boundaries
    (the iteration's moves wait in ``pending``), so at nb = 1 every file
    advances both. With cache=True the worker's persistent mirror is
    advanced incrementally (typically by exactly one file); cache=False
    replays fresh (used by the label jobs, which may need an EARLIER
    state than the cached one)."""
    st = _WORKER_STATE.get(pack_dir) if cache else None
    if st is None or st["applied"] > n_deltas:
        vdeg, self_w, present = _assemble_static(pack_dir, nparts, nv_dense)
        st = {
            "applied": 0,
            "pending": [],
            "curr": np.arange(nv_dense, dtype=np.int64),
            "cd": vdeg.copy(),
            "cs": present.astype(np.int64),
            "vdeg": vdeg,
            "self_w": self_w,
            "present": present,
        }
        if cache:
            _WORKER_STATE.clear()   # at most one phase's mirror per worker
            _WORKER_STATE[pack_dir] = st
    for j in range(st["applied"] + 1, n_deltas + 1):
        mid, mnew = _load_moves(pack_dir, nparts, j)
        # mold is the iteration-start community: each vertex is swept in
        # exactly one bucket, so its curr has not moved yet
        _apply_delta(st, mid, mnew, nv_dense, scatter=nb > 1)
        st["pending"].append((mid, mnew))
        if j % nb == 0:
            for mid_p, mnew_p in st["pending"]:
                st["curr"][mid_p] = mnew_p
            st["pending"] = []
        st["applied"] = j
    return st


def _pid_frame(spark, nparts: int):
    # range with numPartitions=nparts → one pid per partition, NO shuffle
    from pyspark.sql import functions as F

    return spark.range(0, nparts, 1, nparts).select(
        F.col("id").cast("int").alias("pid")
    )


def _load_et(pack_dir: str, pid: int, step: int, own: np.ndarray):
    """Early-termination state of partition ``pid`` after superstep
    ``step`` (all-active init for step 0). ET state is owner-local
    (louvain.cpp:100-113 keeps it per rank too): (active, frozen_cw, p,
    past_own) over the owned vertices, written once per superstep by the
    single task that swept the partition — job barriers order the files,
    so no replay machinery is needed."""
    import os

    if step == 0:
        return {
            "active": np.ones(len(own), dtype=bool),
            "frozen_cw": np.zeros(len(own)),
            "p": np.ones(len(own)),
            "past": own.copy(),
        }
    with np.load(os.path.join(pack_dir, f"et_{step}_{pid}.npz")) as z:
        return {k: z[k].copy() for k in ("active", "frozen_cw", "p", "past")}


def _advance_et(et: dict, k: int, mode: int, cc: np.ndarray,
                new_comm: np.ndarray, e_cc: np.ndarray,
                swept: np.ndarray) -> dict:
    """Post-sweep ET update for superstep ``k`` — the exact algebra of the
    shuffle-join path (algos/louvain.py ET block; reference intent
    louvain.cpp:173-183, 380-400): t1/t3 freeze after target==curr==past
    beyond iteration 2; t2/t4 decay p by (1-α) while curr==past and freeze
    at the cutoff. frozen_cw tracks the most recent e_cc while active and
    pins on deactivation; past pins for frozen vertices.

    ``swept`` maps the sweep outputs (cc/new_comm/e_cc, one row per
    ACTIVE vertex) to positions in the owned arrays."""
    from vite_spark.config import ET_ALPHA, P_CUTOFF

    active = et["active"]
    new = {k2: v.copy() for k2, v in et.items()}
    # cw_now for pre-update-active vertices (incl. those freezing NOW) —
    # matches the join path's when(active, cw_now).otherwise(frozen_cw)
    new["frozen_cw"][swept] = e_cc
    if k > 2:
        if mode in (1, 3):
            same = (new_comm == cc) & (cc == et["past"][swept])
            na = active.copy()
            na[swept] &= ~same
            new["active"] = na
        elif mode in (2, 4):
            dec = cc == et["past"][swept]
            pnew = new["p"]
            pnew[swept] = np.where(dec, pnew[swept] * (1.0 - ET_ALPHA),
                                   pnew[swept])
            na = active.copy()
            na[swept] &= ~(pnew[swept] <= P_CUTOFF)
            new["active"] = na
    # past rotation with pinning: past <- pre-sweep curr for POST-update
    # actives only (the join path rotates with the updated act; for a
    # vertex freezing now the two agree — freeze requires cc == past —
    # but the faithful order is pin-first)
    still = new["active"][swept]
    new["past"][swept[still]] = cc[still]
    return new


def csr_superstep_packed(
    spark,
    pack_dir: str,
    nparts: int,
    nv_dense: int,
    const: float,
    step: int,
    early_term: int = 0,
    checkpoint: tuple | None = None,
    bucket: tuple | None = None,
) -> DataFrame:
    """Superstep ``step`` (1-based) over packed partitions with
    delta-replayed worker state.

    The job maps over partition ids only; each task advances its worker's
    state mirror to S_{step-1} (move files 1..step-1), reports this
    partition's a-term partial Σ cd[owned]² at S_{step-1} (= the POST-move
    a-term of superstep step-1 — modularity is therefore assembled one job
    later by the driver, louvain.cpp:2468-2532), sweeps, WRITES this
    partition's moves to mv_{step}_{pid}.npy, and returns exactly one
    scalar sentinel row — the driver never sees a move row.

    ``bucket = (k_iter, bi, n_buckets, bucket_color)`` runs this job as
    color bucket ``bi`` of colored iteration ``k_iter``, with ``step`` the
    linear bucket counter (k_iter-1)·n_buckets + bi + 1 (the protocol of
    csr_sharded.csr_superstep_sharded; plain mode is (step, 0, 1)): the
    sweep takes only own rows of ``bucket_color``, against the
    iteration-start curr and the cd/cs refreshed by the earlier buckets
    (_replayed_state). a_part, the frozen count and the frozen
    clusterWeight e-term ride bucket-0 sentinels, once per iteration.

    With early_term != 0 the sweep SKIPS rows of frozen src vertices (the
    work saving of the heuristic), frozen vertices contribute their pinned
    frozen_cw to the e-term, and the sentinel carries the frozen count for
    the driver's t3/t4 phase-abort check. The ET chain is per linear step
    (each active vertex is in one bucket, so its record advances once per
    iteration); the freeze rules count iterations (k_iter). Delta replay
    and labels are UNCHANGED: frozen vertices simply stop producing
    moves, and an ET-pinned pastComm equals the frozen vertex's
    stationary label (it froze only after 2 static iterations, so curr at
    every j ≥ f-2 equals the pinned past) — the labels_at = j-2 replay
    stays exact under ET.

    ``checkpoint`` = (dir, level, every) (plain mode only) makes each task
    write its owned slice of the superstep checkpoint
    (runtime/checkpoint.py layout, one parquet file per partition):
    S_{step-1} is the ``assignment`` of iter step-1 and the ``past`` of
    iter step; under ET the ``past`` and ``act`` of iter step come from
    the advanced ET state. The driver commits (state.json + _COMPLETE)
    once it accepts the iteration.

    Output schema: (pid, e_part, a_part, moved, frozen).
    """
    k_iter, bi, nb = (step, 0, 1) if bucket is None else bucket[:3]

    def run(pdf_iter):
        import os

        import pandas as pd

        from vite_spark.runtime import checkpoint as ckpt

        def shard(it, table, **cols):
            if checkpoint is not None and ckpt._due(it, checkpoint[2]):
                ckpt.write_shard(checkpoint[0], checkpoint[1], it, table,
                                 pid, cols)

        for pdf in pdf_iter:
            for pid in pdf["pid"]:
                pid = int(pid)
                st = _replayed_state(pack_dir, nparts, nv_dense, step - 1, nb)
                own = np.load(os.path.join(pack_dir, f"own_{pid}.npy"))
                a_part = float((st["cd"][own] ** 2).sum()) if bi == 0 else 0.0
                et = _load_et(pack_dir, pid, step - 1, own) if early_term else None
                shard(step - 1, "assignment", id=own, comm=st["curr"][own])
                if not early_term:
                    shard(step, "past", id=own, comm=st["curr"][own])
                # mmap views, never copied: edge bytes are read straight
                # off the shared page cache (no per-superstep 48 MB/task
                # fresh-page faulting — see _ARENA note)
                srcl, dst, w = (
                    np.load(os.path.join(pack_dir, f"{name}_{pid}.npy"),
                            mmap_mode="r")
                    for name in ("srcl", "dst", "w"))
                rows = None
                if bucket is not None:
                    col = np.load(os.path.join(pack_dir, f"col_{pid}.npy"))
                    rows = col[srcl] == bucket[3]
                n_frozen = 0
                if early_term:
                    inactive = ~et["active"]
                    n_inactive = int(inactive.sum())
                    if bi == 0:
                        n_frozen = n_inactive
                    if n_inactive:      # skip frozen src rows
                        act = et["active"][srcl]
                        rows = act if rows is None else rows & act
                if rows is not None:
                    srcl, dst, w = srcl[rows], dst[rows], w[rows]
                if len(dst):
                    ids, cc, new_comm, e_cc = sweep_partition_np(
                        None, dst, w,
                        st["curr"], st["vdeg"], st["self_w"], st["cd"],
                        st["cs"], const, srcl=srcl, own_ids=own,
                    )
                else:
                    ids = np.empty(0, np.int64)
                    cc = new_comm = ids
                    e_cc = np.empty(0)
                mvd = new_comm != cc
                _atomic_save(
                    os.path.join(pack_dir, f"mv_{step}_{pid}.npy"),
                    np.vstack([ids[mvd], new_comm[mvd]]),
                )
                e_part = float(e_cc.sum())
                if early_term:
                    if bi == 0:
                        e_part += float(et["frozen_cw"][inactive].sum())
                    swept = np.searchsorted(own, ids)
                    et = _advance_et(et, k_iter, early_term, cc, new_comm,
                                     e_cc, swept)
                    _save_et(pack_dir, pid, step, et)
                    shard(step, "past", id=own, comm=et["past"])
                    shard(step, "act", id=own, active=et["active"],
                          frozen_cw=et["frozen_cw"], p=et["p"])
                yield pd.DataFrame({
                    "pid": [pid], "e_part": [e_part],
                    "a_part": [a_part], "moved": [np.int64(mvd.sum())],
                    "frozen": [np.int64(n_frozen)],
                })

    return _pid_frame(spark, nparts).mapInPandas(
        run,
        schema="pid int, e_part double, a_part double, moved long, frozen long",
    )


def _save_et(pack_dir: str, pid: int, step: int, et: dict) -> None:
    import os

    tmp = os.path.join(pack_dir, f"et_{step}_{pid}.npz.tmp.{os.getpid()}")
    with open(tmp, "wb") as f:
        np.savez(f, **et)
    os.replace(tmp, os.path.join(pack_dir, f"et_{step}_{pid}.npz"))


# Colored Louvain (L16, louvain.cpp:593-786 / distLouvainMethodWithColoring)
# is the plain superstep run once per color bucket on a linear step
# counter: move files, the ET chain and the replay are indexed by linear
# step, cd/cs refresh after every bucket, and curr (the neighbors'
# assignments) advances only when an iteration ends — the join path's
# "refresh cinfo between buckets, decide against the iteration-start
# assignment" (algos/louvain.py colored block). col_{pid}.npy holds the
# owned colors.


def pack_colors(colors_df: DataFrame, pack_dir: str, nparts: int) -> bool:
    """col_{pid}.npy: per-partition colors aligned with own_{pid}.

    colors_df(id, color) is hash-repartitioned on id with the same
    partitioner as the edge pack's repartition(nparts, "src") (same
    single-long key, same numPartitions → identical placement), so
    partition p holds exactly the colors of its owned vertices; sorting
    by id aligns them with the sorted own array.

    Returns True when every partition aligned. A caller-supplied colors
    table that omits a vertex with edges (or carries extras) returns
    False instead of crashing the phase from inside an executor — the
    caller then falls back to the shuffle-join colored path, like every
    other _csr_phase precondition failure (r3 ADVICE #2)."""
    import os

    def write(pdf_iter):
        import pandas as pd
        from pyspark import TaskContext

        pid = TaskContext.get().partitionId()
        parts = [p for p in pdf_iter if len(p)]
        if parts:
            pdf = pd.concat(parts, ignore_index=True) if len(parts) > 1 else parts[0]
            pdf = pdf.sort_values("id", ignore_index=True)
            ids = pdf["id"].to_numpy(np.int64)
            col = pdf["color"].to_numpy(np.int64)
        else:
            ids = np.empty(0, np.int64)
            col = np.empty(0, np.int64)
        own = np.load(os.path.join(pack_dir, f"own_{pid}.npy"))
        ok = np.array_equal(ids, own)
        if ok:
            _atomic_save(os.path.join(pack_dir, f"col_{pid}.npy"), col)
        yield pd.DataFrame({"pid": [pid], "n": [len(ids)], "ok": [ok]})

    res = colors_df.repartition(nparts, "id").mapInPandas(
        write, schema="pid int, n long, ok boolean"
    ).collect()
    return all(r["ok"] for r in res)


def csr_labels_coarse_packed(
    spark, pack_dir: str, nparts: int, nv_dense: int, n_deltas: int
) -> DataFrame:
    """Fused end-of-phase job for the MIRROR kernel: every task already
    replays the FULL label array (csr_labels_packed's shape), so the
    dense community renumber (np.unique of the present vertices' labels
    — identical to kernels/ids.dense_ids' order-by-value contract) and
    this partition's coarse super-edge partials (renumbered src/dst
    comms, per-partition pre-aggregated) come for free in the same job.
    Replaces the former labels job + distributed dense_ids (distinct +
    range exchange + two jobs) + two renumber joins + the coarse
    groupBy's full edge-row shuffle with ONE kernel job; the only
    remaining shuffle is the grouped merge of the (much smaller)
    per-partition coarse partials.

    Emits a tagged union (kind, a, b, w):
      kind 0 — raw assignment row   (a=id, b=comm)         [pastComm]
      kind 2 — renumbered label row (a=id, b=new dense id)
      kind 1 — coarse partial       (a=new src, b=new dst, w=Σweight)
    Caller filters by kind off one localCheckpoint. Coarse weights are
    per-partition partial sums merged by groupBy — same values as the
    former join+groupBy coarsen (integer-valued weights sum exactly;
    float inputs differ only in accumulation order, as any grouped
    shuffle already does)."""

    def run(pdf_iter):
        import os

        import pandas as pd

        st = None
        uniq = None
        for pdf in pdf_iter:
            for pid in pdf["pid"]:
                pid = int(pid)
                own = np.load(os.path.join(pack_dir, f"own_{pid}.npy"))
                if len(own) == 0:
                    continue
                if st is None:
                    st = _replayed_state(pack_dir, nparts, nv_dense,
                                         n_deltas, cache=False)
                    uniq = np.unique(st["curr"][st["present"]])
                lab = st["curr"][own]
                new = np.searchsorted(uniq, lab)
                yield pd.DataFrame({
                    "kind": np.zeros(len(own), np.int32), "a": own,
                    "b": lab, "w": np.zeros(len(own)),
                })
                yield pd.DataFrame({
                    "kind": np.full(len(own), 2, np.int32), "a": own,
                    "b": new.astype(np.int64), "w": np.zeros(len(own)),
                })
                src = np.load(os.path.join(pack_dir, f"src_{pid}.npy"),
                              mmap_mode="r")
                dst = np.load(os.path.join(pack_dir, f"dst_{pid}.npy"),
                              mmap_mode="r")
                w = np.load(os.path.join(pack_dir, f"w_{pid}.npy"),
                            mmap_mode="r")
                rs = np.searchsorted(uniq, st["curr"][src])
                rd = np.searchsorted(uniq, st["curr"][dst])
                key = rs.astype(np.int64) * len(uniq) + rd
                uk, inv = np.unique(key, return_inverse=True)
                ws = np.bincount(inv, weights=w)
                yield pd.DataFrame({
                    "kind": np.ones(len(uk), np.int32),
                    "a": (uk // len(uniq)).astype(np.int64),
                    "b": (uk % len(uniq)).astype(np.int64),
                    "w": ws,
                })

    return _pid_frame(spark, nparts).mapInPandas(
        run, schema="kind int, a long, b long, w double"
    )


def csr_labels_packed(
    spark, pack_dir: str, nparts: int, nv_dense: int, n_deltas: int
) -> DataFrame:
    """(id, comm) for every present vertex at the state after applying move
    files 1..n_deltas — each task emits labels for its OWNED vertices only,
    so the assignment is produced fully distributed (the driver never holds
    it). Replays fresh (cache bypassed): the requested state is usually
    EARLIER than the worker mirrors (the phase protocol returns pastComm).
    A colored phase asks for whole iterations (labels_at·n_buckets linear
    steps); a vertex moves at most once per iteration, so the plain
    replay's curr is exact there too."""

    def run(pdf_iter):
        import os

        import pandas as pd

        st = None
        for pdf in pdf_iter:
            for pid in pdf["pid"]:
                pid = int(pid)
                own = np.load(os.path.join(pack_dir, f"own_{pid}.npy"))
                if len(own) == 0:
                    continue
                if st is None:  # one replay per task, shared across its pids
                    st = _replayed_state(pack_dir, nparts, nv_dense, n_deltas,
                                         cache=False)
                yield pd.DataFrame({"id": own, "comm": st["curr"][own]})

    return _pid_frame(spark, nparts).mapInPandas(
        run, schema="id long, comm long"
    )
