"""Packed-CSR PER-VERTEX triangle counts (kernels/csr_tri.py) vs
the wedge-join path (algos/triangles.triangles_per_vertex) and a
brute-force NumPy reference: exact per-vertex equality including the
zero rows, dispatch evidence via metrics, pack-cache reuse, and the
small-FLUSH remote-batch path."""

from __future__ import annotations

import itertools

import numpy as np
import pandas as pd
import pytest

from vite_spark import fixtures as fx
from vite_spark.algos.triangles import triangles_per_vertex
from vite_spark.config import EngineConfig
from vite_spark.runtime.metrics import MetricsCollector


def _brute_per_vertex(src, dst):
    """{vertex: triangles} on the undirected simple graph (every vertex
    appearing in any row included, zeros too)."""
    adj: dict = {}
    verts = set()
    for a, b in zip(src, dst):
        a, b = int(a), int(b)
        verts.add(a)
        verts.add(b)
        if a == b:
            continue
        adj.setdefault(a, set()).add(b)
        adj.setdefault(b, set()).add(a)
    cnt = {v: 0 for v in verts}
    for v, nbrs in adj.items():
        for a, b in itertools.combinations(sorted(nbrs), 2):
            if v < a and b in adj.get(a, ()):
                for x in (v, a, b):
                    cnt[x] += 1
    return cnt


def _per_vertex(spark, edges, cfg=None):
    mp, mj = MetricsCollector(), MetricsCollector()
    packed = triangles_per_vertex(spark, edges, cfg=cfg, metrics=mp)
    assert {r.get("mode") for r in mp.rows
            if r.get("kind") == "triangles_vertex_packed"} \
        == {"tri_vertex_csr_packed"}, "packed path must have dispatched"
    join = triangles_per_vertex(
        spark, edges, cfg=EngineConfig(use_csr_kernel=False), metrics=mj)
    assert not mj.rows, "use_csr_kernel=False must not dispatch the kernel"
    p = {int(r["id"]): int(r["triangles"]) for r in packed.collect()}
    j = {int(r["id"]): int(r["triangles"]) for r in join.collect()}
    return p, j


def test_vertex_packed_matches_join_and_brute_karate(spark):
    s, d, w, nv = fx.karate()
    edges = fx.to_spark_edges(spark, (s, d, w, nv))
    p, j = _per_vertex(spark, edges)
    ref = _brute_per_vertex(s, d)
    assert p == j == ref
    assert sum(p.values()) == 3 * 45  # karate: 45 triangles, 3 credits


@pytest.mark.parametrize("seed", [3, 11])
def test_vertex_packed_random_sparse_ids(spark, seed):
    """Random symmetric graph on SPARSE ids — the rank map must carry
    original ids back out, and zero-triangle vertices must appear."""
    rng = np.random.default_rng(seed)
    nv = 220
    ids = np.sort(rng.choice(50_000 * (seed + 1), nv, replace=False))
    a = rng.integers(0, nv, 2600)
    b = rng.integers(0, nv, 2600)
    m = a != b
    s, d = ids[a[m]], ids[b[m]]
    edges = spark.createDataFrame(pd.DataFrame({
        "src": np.r_[s, d], "dst": np.r_[d, s],
        "weight": np.ones(2 * len(s)),
    }))
    p, j = _per_vertex(spark, edges)
    ref = _brute_per_vertex(np.r_[s, d], np.r_[d, s])
    assert p == j == ref
    assert sum(v > 0 for v in p.values()) > 50


def test_vertex_packed_small_flush_batches(spark, monkeypatch):
    """FLUSH_PAIRS=64 forces many remote probe batches through both modes
    of the one wedge job — (u, v, w) triples with credits, (v, w) pairs
    without: per-vertex credits must equal the join path's, and sum to
    three times the count. Remote probes exist only in the sharded tier,
    hence 4 partitions."""
    from vite_spark.algos.triangles import triangle_count
    from vite_spark.kernels import csr_tri

    monkeypatch.setattr(csr_tri, "FLUSH_PAIRS", 64)
    s, d, w, nv, _truth = fx.planted_partition()
    edges = fx.to_spark_edges(spark, (s, d, w, nv))
    cfg = EngineConfig(shuffle_partitions=4)
    p, j = _per_vertex(spark, edges, cfg)
    assert p == j
    m = MetricsCollector()
    total = triangle_count(spark, edges, cfg=cfg, metrics=m)
    (row,) = [r for r in m.rows if r.get("kind") == "triangles_packed"]
    assert row["queries"] > 64, "remote probes must have been batched"
    assert sum(p.values()) == 3 * total > 0


def test_vertex_packed_pack_cache_reuse(spark, tmp_path):
    """Global count then per-vertex on one cache dir: the second call
    reuses the pack (manifest + krw + rank_map written once) and both
    agree with each other. The pack exists only in the sharded tier,
    hence 4 partitions."""
    import os

    from vite_spark.algos.triangles import triangle_count

    s, d, w, nv = fx.karate()
    edges = fx.to_spark_edges(spark, (s, d, w, nv))
    cfg = EngineConfig(pack_cache_dir=str(tmp_path), shuffle_partitions=4)
    m = MetricsCollector()
    total = triangle_count(spark, edges, cfg=cfg, metrics=m)
    pack = tmp_path / "tri_pack"
    assert (pack / "manifest.json").exists()
    assert any(f.startswith("krw_") for f in os.listdir(pack))
    out = triangles_per_vertex(spark, edges, cfg=cfg, metrics=m)
    per_v = {int(r["id"]): int(r["triangles"]) for r in out.collect()}
    assert (pack / "rank_map.parquet" / "_SUCCESS").exists()
    assert sum(per_v.values()) == 3 * total == 3 * 45
    assert [r["tier"] for r in m.rows if r.get("kind") == "tier"] \
        == ["sharded", "sharded"]
    # second per-vertex call hits the cached rank_map too
    out2 = triangles_per_vertex(spark, edges, cfg=cfg, metrics=m)
    assert {int(r["id"]): int(r["triangles"])
            for r in out2.collect()} == per_v
    assert [r["tier"] for r in m.rows if r.get("kind") == "tier"][-1] \
        == "sharded"


def test_vertex_packed_triangle_free_and_empty(spark):
    s, d, w, nv = fx.ring(10)
    edges = fx.to_spark_edges(spark, (s, d, w, nv))
    p, j = _per_vertex(spark, edges)
    assert p == j and set(p.values()) == {0} and len(p) == 10
    empty = edges.filter("src < 0")
    m = MetricsCollector()
    assert triangles_per_vertex(spark, empty, metrics=m).count() == 0
