"""Deterministic synthetic graph generators reproducing the reference.

G1 — parallel multiplicative LCG (/root/reference/utils.hpp:75-82,135-330):
    x_{i+1} = 16807·x_i mod (2^31−1), x0 = std::seed_seq({seed}) output;
    logical rank r of p starts at x0·a^(r·n) mod M (closed-form jump that
    replaces the reference's 2×2-matrix parallel prefix — identical
    values); drand = x / 2^31−1... precisely x · (1/(1+(M−1))).

G2 — random geometric graph (/root/reference/distgraph.cpp:391-983):
    rank r owns the horizontal strip y ∈ [r/p, (r+1)/p); generates 2n LCG
    values with seed 1: first n are X ∈ [0,1), second n rescaled to the
    strip for Y; connect pairs with Euclidean distance ≤ rn where
    rn = (sqrt(ln nv/(π·nv)) + sqrt(2.0736/nv))/2; edge weight = distance;
    cross-strip edges only between adjacent strips (boundary ghosts).

G3 — extra random edges (-e pct, distgraph.cpp:702-892): pct% of ne
    uniformly random endpoint pairs, de-duplicated, weight = 0.01..1.0;
    the reference seeds with time^getpid (nondeterministic, distgraph.cpp:
    755) — this engine fixes the seed (documented deviation).

The std::seed_seq single-seed scramble is reimplemented bit-exactly
(validated against g++ in tests/test_generators.py).
"""

from __future__ import annotations

import math

import numpy as np

MLCG = 2147483647  # 2^31 - 1
ALCG = 16807       # 7^5


def seed_seq_1(seed: int) -> int:
    """std::seed_seq({seed}).generate(1 value) — C++11 [rand.util.seedseq]."""
    n = 1
    s = 1
    v = [seed & 0xFFFFFFFF]
    out = [0x8B8B8B8B] * n
    t = (n >= 623) and 11 or (n >= 68) and 7 or (n >= 39) and 5 or (n >= 7) and 3 or (n - 1) // 2
    p = (n - t) // 2
    q = p + t
    m = max(s + 1, n)

    def T(x):
        return (x ^ (x >> 27)) & 0xFFFFFFFF

    for k in range(m):
        r1 = (1664525 * T(out[k % n] ^ out[(k + p) % n] ^ out[(k - 1) % n])) & 0xFFFFFFFF
        if k == 0:
            r2 = (r1 + s) & 0xFFFFFFFF
        elif k <= s:
            r2 = (r1 + (k % n) + v[k - 1]) & 0xFFFFFFFF
        else:
            r2 = (r1 + (k % n)) & 0xFFFFFFFF
        out[(k + p) % n] = (out[(k + p) % n] + r1) & 0xFFFFFFFF
        out[(k + q) % n] = (out[(k + q) % n] + r2) & 0xFFFFFFFF
        out[k % n] = r2
    for k in range(m, m + n):
        r3 = (1566083941 * T((out[k % n] + out[(k + p) % n] + out[(k - 1) % n]) & 0xFFFFFFFF)) & 0xFFFFFFFF
        r4 = (r3 - (k % n)) & 0xFFFFFFFF
        out[(k + p) % n] ^= r3
        out[(k + q) % n] ^= r4
        out[k % n] = r4
    return out[0]


def lcg_stream(seed: int, count: int, start_index: int = 0) -> np.ndarray:
    """`count` raw LCG values x_{start_index}..  (x_0 = seed_seq output).

    Vectorized: x_i = x0·a^i mod M computed in O(count) int64 multiplies
    via block decomposition a^i = a^(q·B)·a^r (all products < 2^62)."""
    x0 = seed_seq_1(seed)
    a_start = pow(ALCG, start_index, MLCG)
    base = (x0 * a_start) % MLCG

    B = max(1, int(math.isqrt(count)) + 1)
    # a^r for r in [0, B)
    pr = np.empty(B, dtype=np.int64)
    pr[0] = 1
    for i in range(1, B):
        pr[i] = (pr[i - 1] * ALCG) % MLCG
    aB = (pr[B - 1] * ALCG) % MLCG
    nq = count // B + 2
    pq = np.empty(nq, dtype=np.int64)
    pq[0] = 1
    for i in range(1, nq):
        pq[i] = (pq[i - 1] * aB) % MLCG
    idx = np.arange(count, dtype=np.int64)
    x = (pq[idx // B] * pr[idx % B]) % MLCG
    return (x * base) % MLCG


def lcg_drand(seed: int, count: int, start_index: int = 0) -> np.ndarray:
    """Reference `generate()`: drand = x · (1/(1+(M−1))) ∈ [0,1)."""
    return lcg_stream(seed, count, start_index) * (1.0 / (1.0 + (MLCG - 1)))


def rgg_radius(nv: int) -> float:
    rc = math.sqrt(math.log(nv) / (math.pi * nv))
    rt = math.sqrt(2.0736 / nv)
    return (rc + rt) / 2.0


def rgg_coords(nv: int, nprocs: int, seed: int = 1):
    """Per-vertex (x, y) exactly as generateRGG lays them out: logical rank
    r generates 2n drands; X = first n, Y = lo + (1/p)·second-half."""
    assert nv % nprocs == 0, "reference requires nv divisible by nprocs"
    n = nv // nprocs
    X = np.empty(nv)
    Y = np.empty(nv)
    rec_np = 1.0 / nprocs
    for r in range(nprocs):
        d = lcg_drand(seed, 2 * n, start_index=r * 2 * n)
        lo = r * rec_np
        X[r * n : (r + 1) * n] = d[:n]
        Y[r * n : (r + 1) * n] = lo + rec_np * d[n:]
    return X, Y


def rgg_edges_np(nv: int, nprocs: int, seed: int = 1):
    """Reference-semantics RGG as numpy COO (src, dst, weight, nv).

    Vectorized distance check restricted to in-strip plus ADJACENT-strip
    pairs — the reference only exchanges rank±1 ghost bands
    (generators/graph500/...rgg: nearest-neighbor exchange), so a pair two
    strips apart is never connected even if within radius. The radius must
    not exceed the strip height for that rule to capture all in-radius
    pairs; both variants assert it (ADVICE r1)."""
    X, Y = rgg_coords(nv, nprocs, seed)
    rn = rgg_radius(nv)
    assert rn <= 1.0 / nprocs, (
        f"RGG radius {rn:.4f} exceeds strip height {1.0 / nprocs:.4f}; the "
        "reference's rank±1 exchange (and this generator) would miss "
        "in-radius pairs — use fewer strips or more vertices"
    )
    n = nv // nprocs
    strip = np.arange(nv, dtype=np.int64) // n
    dx = X[:, None] - X[None, :]
    dy = Y[:, None] - Y[None, :]
    ed = np.sqrt(dx * dx + dy * dy)
    adj = np.abs(strip[:, None] - strip[None, :]) <= 1
    iu, ju = np.where(np.triu((ed <= rn) & adj, k=1))
    w = ed[iu, ju]
    src = np.r_[iu, ju].astype(np.int64)
    dst = np.r_[ju, iu].astype(np.int64)
    return src, dst, np.r_[w, w], nv


def strip_pairs(X, Y, rn: float, chunk: int = 1 << 22):
    """(i, j, dist): every pair of the points (X, Y) at Euclidean distance
    ≤ ``rn``, each once, as positions into X/Y. A sort-by-y sweep: after
    sorting on y, the partners of a point lie in the run of points that
    follow it with y within ``rn`` (one searchsorted); the candidates are
    then checked with the exact distance, ``chunk`` at a time, so memory
    stays O(chunk + n) instead of the dense n×n matrix."""
    order = np.argsort(Y, kind="stable")
    xs, ys = X[order], Y[order]
    n = len(ys)
    # the window is padded far above float rounding, so the exact
    # distance test alone decides (dy == rn pairs included)
    cnt = (np.searchsorted(ys, ys + (rn + 1e-12), side="right")
           - np.arange(n) - 1)
    ends = np.cumsum(cnt)
    out_i, out_j, out_w = [], [], []
    a = 0
    while a < n:
        b = max(a + 1, int(np.searchsorted(ends, ends[a] - cnt[a] + chunk,
                                           side="right")))
        c = cnt[a:b]
        i = np.repeat(np.arange(a, b), c)
        j = i + 1 + np.arange(len(i)) - np.repeat(np.cumsum(c) - c, c)
        dx = xs[i] - xs[j]
        dy = ys[i] - ys[j]
        ed = np.sqrt(dx * dx + dy * dy)
        keep = ed <= rn
        out_i.append(order[i[keep]])
        out_j.append(order[j[keep]])
        out_w.append(ed[keep])
        a = b
    if not out_i:
        e = np.empty(0, np.int64)
        return e, e, np.empty(0)
    return np.concatenate(out_i), np.concatenate(out_j), np.concatenate(out_w)


def rgg_edges_spark(spark, nv: int, nprocs: int, seed: int = 1):
    """Distributed RGG: one Arrow task per logical strip generates its
    coords (closed-form LCG jump), each strip's pairs come from one
    grouped task (``strip_pairs``), and boundary pairs are found by
    joining adjacent strips' boundary bands — the reference's rank±1
    ghost exchange as a DataFrame join."""
    from pyspark.sql import functions as F
    from pyspark.sql.types import (
        DoubleType,
        LongType,
        StructField,
        StructType,
    )

    n = nv // nprocs
    rn = rgg_radius(nv)
    assert rn <= 1.0 / nprocs, (
        f"RGG radius {rn:.4f} exceeds strip height {1.0 / nprocs:.4f}; the "
        "rank±1 boundary-band join would miss in-radius pairs (ADVICE r1)"
    )

    coord_schema = StructType(
        [
            StructField("id", LongType(), False),
            StructField("x", DoubleType(), False),
            StructField("y", DoubleType(), False),
            StructField("strip", LongType(), False),
        ]
    )

    ranks = spark.createDataFrame([(r,) for r in range(nprocs)], "r long").repartition(
        nprocs, "r"
    )

    def gen_coords(pdf_iter):
        import pandas as pd

        for pdf in pdf_iter:
            for r in pdf["r"]:
                r = int(r)
                d = lcg_drand(seed, 2 * n, start_index=r * 2 * n)
                ids = np.arange(r * n, (r + 1) * n, dtype=np.int64)
                yield pd.DataFrame(
                    {
                        "id": ids,
                        "x": d[:n],
                        "y": r / nprocs + (1.0 / nprocs) * d[n:],
                        "strip": np.full(n, r, dtype=np.int64),
                    }
                )

    # not persisted: the strip pass and both boundary bands each
    # regenerate the coordinates, a vectorized closed-form LCG per strip
    coords = ranks.mapInPandas(gen_coords, schema=coord_schema)

    edge_schema = StructType(
        [
            StructField("src", LongType(), False),
            StructField("dst", LongType(), False),
            StructField("weight", DoubleType(), False),
        ]
    )

    def local_pairs(pdf):
        # one call per strip (the group), however many Arrow batches the
        # strip's rows arrive in
        import pandas as pd

        i, j, w = strip_pairs(pdf["x"].to_numpy(), pdf["y"].to_numpy(), rn)
        ids = pdf["id"].to_numpy()
        return pd.DataFrame({"src": np.r_[ids[i], ids[j]],
                             "dst": np.r_[ids[j], ids[i]],
                             "weight": np.r_[w, w]})

    local = coords.groupBy("strip").applyInPandas(
        local_pairs, schema=edge_schema
    )

    # cross-strip: only boundary bands of adjacent strips can connect
    up = coords.filter(
        (F.col("y") >= (F.col("strip") + 1) / nprocs - rn)
    ).select(
        F.col("id").alias("src"), F.col("x").alias("xa"), F.col("y").alias("ya"),
        (F.col("strip") + 1).alias("nstrip"),
    )
    dn = coords.filter(F.col("y") <= F.col("strip") / nprocs + rn).select(
        F.col("id").alias("dst"), F.col("x").alias("xb"), F.col("y").alias("yb"),
        F.col("strip").alias("nstrip"),
    )
    dist = F.sqrt(
        (F.col("xa") - F.col("xb")) * (F.col("xa") - F.col("xb"))
        + (F.col("ya") - F.col("yb")) * (F.col("ya") - F.col("yb"))
    )
    cross_half = (
        up.join(dn, "nstrip")
        .withColumn("weight", dist)
        .filter(F.col("weight") <= rn)
        .select("src", "dst", "weight")
    )
    cross = cross_half.unionByName(
        cross_half.select(
            F.col("dst").alias("src"), F.col("src").alias("dst"), "weight"
        )
    )
    return local.unionByName(cross)


def extra_random_edges_np(src, dst, w, nv, pct: float, seed: int = 42):
    """G3 with a FIXED seed: add pct% × (ne/2) undirected random edges with
    uniform endpoints, de-duplicated against existing and self pairs,
    weights uniform 0.01..1.0 (reference distgraph.cpp:702-892)."""
    rng = np.random.default_rng(seed)
    n_extra = int((len(src) / 2) * pct / 100.0)
    existing = set(zip(src.tolist(), dst.tolist()))
    es, ed, ew = [], [], []
    while len(es) < n_extra:
        u = int(rng.integers(0, nv))
        v = int(rng.integers(0, nv))
        if u == v or (u, v) in existing:
            continue
        wt = 0.01 + 0.99 * float(rng.random())
        existing.add((u, v))
        existing.add((v, u))
        es += [u, v]
        ed += [v, u]
        ew += [wt, wt]
    return (
        np.r_[src, np.array(es, dtype=np.int64)],
        np.r_[dst, np.array(ed, dtype=np.int64)],
        np.r_[w, np.array(ew)],
        nv,
    )
