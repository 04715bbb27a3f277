"""Packed-CSR PageRank (kernels/csr_pr.py) vs the join path and the NumPy
reference: value parity at float-accumulation-order tolerance, dispatch
gating (closed vs dangling inputs), early-convergence parity, and
persistent pack-cache reuse."""

from __future__ import annotations

import numpy as np
import pandas as pd
import pytest

from vite_spark.algos.pagerank import pagerank
from vite_spark.config import EngineConfig
from vite_spark.runtime.metrics import MetricsCollector


def _rand_sym_edges(seed: int, nv: int = 800, ne: int = 4000,
                    sparse_ids: bool = True):
    rng = np.random.default_rng(seed)
    ids = (np.sort(rng.choice(50 * nv, nv, replace=False))
           if sparse_ids else np.arange(nv))
    a = rng.integers(0, nv, ne)
    b = rng.integers(0, nv, ne)
    m = a != b
    a, b = ids[a[m]], ids[b[m]]
    src = np.concatenate([a, b])
    dst = np.concatenate([b, a])
    w = rng.integers(1, 6, len(src)).astype(np.float64)
    return pd.DataFrame({"src": src, "dst": dst, "weight": w})


def _modes(m):
    return {r.get("mode") for r in m.rows if r.get("kind") == "pagerank_superstep"}


@pytest.mark.parametrize("weighted", [False, True])
def test_packed_matches_join_path(spark, weighted):
    edges = spark.createDataFrame(_rand_sym_edges(3)).persist()
    edges.count()
    mp = MetricsCollector()
    got = pagerank(spark, edges, tol=0.0, max_iter=12, weighted=weighted,
                   metrics=mp).toPandas().sort_values("id")
    assert _modes(mp) == {"csr_sharded_pr"}
    ref = pagerank(
        spark, edges, tol=0.0, max_iter=12, weighted=weighted,
        cfg=EngineConfig(use_csr_kernel=False),
    ).toPandas().sort_values("id")
    assert np.array_equal(got["id"].to_numpy(), ref["id"].to_numpy())
    # same math, different float accumulation order only
    assert np.allclose(got["rank"], ref["rank"], rtol=1e-12, atol=1e-18)
    assert got["rank"].sum() == pytest.approx(1.0, abs=1e-9)
    edges.unpersist()


def test_packed_convergence_break_parity(spark):
    """tol-based early stop lands on the same iteration as the join path
    (the packed driver learns Δ one job late but still returns r_K for
    the same K)."""
    edges = spark.createDataFrame(_rand_sym_edges(11, nv=300, ne=1500))
    mp, mj = MetricsCollector(), MetricsCollector()
    got = pagerank(spark, edges, tol=1e-7, max_iter=100,
                   metrics=mp).toPandas().sort_values("id")
    ref = pagerank(spark, edges, tol=1e-7, max_iter=100,
                   cfg=EngineConfig(use_csr_kernel=False),
                   metrics=mj).toPandas().sort_values("id")
    assert np.allclose(got["rank"], ref["rank"], rtol=1e-10, atol=1e-16)
    # identical deltas → identical stop iteration (packed runs one extra
    # merge-only job, recorded as pagerank_finalize, not a superstep)
    k_packed = max(r["iter"] for r in mp.rows
                   if r.get("kind") == "pagerank_superstep"
                   and r.get("l1_delta") is not None
                   and r["l1_delta"] < 1e-7) - 1
    k_join = max(r["iter"] for r in mj.rows
                 if r.get("kind") == "pagerank_superstep")
    assert k_packed == k_join


def test_dangling_input_falls_back_to_join_path(spark):
    """A dst that is never a src (dangling mass) is outside the packed
    kernel's model — build_routes detects the open vertex set and the
    dispatch falls back, with correct dangling redistribution."""
    edges = spark.createDataFrame(
        pd.DataFrame({"src": [0, 1, 2], "dst": [1, 2, 3],
                      "weight": [1.0, 1.0, 1.0]}))
    m = MetricsCollector()
    got = pagerank(spark, edges, tol=0.0, max_iter=50, metrics=m)
    assert "csr_sharded_pr" not in _modes(m)
    rows = {r["id"]: r["rank"] for r in got.collect()}
    # closed-form check: chain 0→1→2→3 with uniform dangling return from 3
    r = np.full(4, 0.25)
    for _ in range(50):
        inflow = np.array([0.0, r[0], r[1], r[2]]) + r[3] / 4.0
        r = 0.15 / 4 + 0.85 * inflow
    assert np.allclose([rows[i] for i in range(4)], r, atol=1e-9)
    assert sum(rows.values()) == pytest.approx(1.0, abs=1e-9)


def test_packed_pack_cache_reuse(spark, tmp_path):
    """Second run against the same pack_cache_dir reuses the manifest
    (fileConvert-once) and returns identical ranks. Four partitions: a
    one-partition run takes the single-task tier, which builds no pack."""
    import os

    edges = spark.createDataFrame(_rand_sym_edges(7, nv=400, ne=2000))
    cfg = EngineConfig(pack_cache_dir=str(tmp_path), shuffle_partitions=4)
    m1, m2 = MetricsCollector(), MetricsCollector()
    r1 = pagerank(spark, edges, tol=0.0, max_iter=8, cfg=cfg,
                  metrics=m1).toPandas().sort_values("id")
    assert os.path.exists(tmp_path / "vite_pack" / "manifest.json")
    r2 = pagerank(spark, edges, tol=0.0, max_iter=8, cfg=cfg,
                  metrics=m2).toPandas().sort_values("id")
    assert _modes(m1) == _modes(m2) == {"csr_sharded_pr"}
    assert np.array_equal(r1["rank"].to_numpy(), r2["rank"].to_numpy())
    # per-run transients purged, statics kept
    leftovers = [f for f in os.listdir(tmp_path / "vite_pack")
                 if f.startswith(("prc_", "rnk_"))]
    assert leftovers == []
