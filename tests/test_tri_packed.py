"""Packed-CSR triangle counting (kernels/csr_tri.py) vs the wedge-join
path and a brute-force NumPy reference: exact count equality (identical
degree-orientation algorithm), dispatch evidence via metrics, dedup /
self-loop / non-symmetric-input contracts, and the chunked-flush path."""

from __future__ import annotations

import itertools

import numpy as np
import pandas as pd
import pytest

from vite_spark import fixtures as fx
from vite_spark.algos.triangles import triangle_count
from vite_spark.config import EngineConfig
from vite_spark.runtime.metrics import MetricsCollector


def _brute_triangles(src, dst):
    """Exact count on the undirected simple graph induced by the rows."""
    adj: dict = {}
    for a, b in zip(src, dst):
        a, b = int(a), int(b)
        if a == b:
            continue
        adj.setdefault(a, set()).add(b)
        adj.setdefault(b, set()).add(a)
    tri = 0
    for v, nbrs in adj.items():
        for a, b in itertools.combinations(sorted(nbrs), 2):
            if v < a and b in adj.get(a, ()):
                tri += 1
    return tri


def _counts(spark, edges, cfg=None):
    mp, mj = MetricsCollector(), MetricsCollector()
    packed = triangle_count(spark, edges, cfg=cfg, metrics=mp)
    assert {r.get("mode") for r in mp.rows
            if r.get("kind") == "triangles_packed"} == {"tri_csr_packed"}
    join = triangle_count(
        spark, edges, cfg=EngineConfig(use_csr_kernel=False), metrics=mj)
    assert not mj.rows, "use_csr_kernel=False must not dispatch the kernel"
    return packed, join, mp


def test_packed_matches_join_and_brute_karate(spark):
    s, d, w, nv = fx.karate()
    edges = fx.to_spark_edges(spark, (s, d, w, nv))
    packed, join, _ = _counts(spark, edges)
    assert packed == join == 45


def test_self_loops_and_multi_edges_ignored(spark):
    s, d, w, nv = fx.self_loops_triangle()
    base = pd.DataFrame({"src": s, "dst": d, "weight": w})
    dup = pd.concat([base, base, base], ignore_index=True)  # multi-edges
    edges = spark.createDataFrame(dup)
    packed, join, _ = _counts(spark, edges)
    assert packed == join == 1


@pytest.mark.parametrize("seed", [3, 11])
def test_packed_matches_brute_random_sparse_ids(spark, seed):
    """Random symmetric graph on SPARSE ids (rank relabel must not assume
    dense input ids), dense enough to have many triangles."""
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
    packed, join, mp = _counts(spark, edges)
    ref = _brute_triangles(s, d)
    assert packed == join == ref
    assert ref > 50  # the fixture actually exercises the probe
    row = [r for r in mp.rows if r.get("kind") == "triangles_packed"][0]
    assert row["triangles"] == ref and row["wedges"] >= ref


def test_non_symmetric_input_same_contract_as_join_path(spark):
    """Both paths compute degree as out-degree of the distinct directed
    table — on a one-directional input they must still agree with each
    other (the documented shared contract)."""
    s, d, w, nv = fx.two_cliques(6)
    keep = s < d  # one direction only
    edges = spark.createDataFrame(pd.DataFrame(
        {"src": s[keep], "dst": d[keep], "weight": w[keep]}))
    packed, join, _ = _counts(spark, edges)
    assert packed == join


def test_chunked_flush_parity(spark, monkeypatch):
    """Force many small remote-probe batches: FLUSH_PAIRS=64 on a graph
    with thousands of wedges must change nothing but the batch count.
    Remote probes exist only in the sharded tier, hence 4 partitions."""
    from vite_spark.kernels import csr_tri

    monkeypatch.setattr(csr_tri, "FLUSH_PAIRS", 64)
    s, d, w, nv, _truth = fx.planted_partition()
    edges = fx.to_spark_edges(spark, (s, d, w, nv))
    packed, join, mp = _counts(spark, edges,
                               EngineConfig(shuffle_partitions=4))
    assert packed == join
    row = [r for r in mp.rows if r.get("kind") == "triangles_packed"][0]
    assert row["wedges"] > 64  # the flush path actually ran


def test_triangle_free_and_empty(spark):
    s, d, w, nv = fx.ring(10)
    edges = fx.to_spark_edges(spark, (s, d, w, nv))
    packed, join, _ = _counts(spark, edges)
    assert packed == join == 0
    empty = edges.filter("src < 0")
    m = MetricsCollector()
    assert triangle_count(spark, empty, metrics=m) == 0
