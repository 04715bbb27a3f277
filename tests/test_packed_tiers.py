"""Tier equivalence of the route-pack kernels (PageRank, CC, LPA,
BFS/SSSP), the tier rows ``_run_packed`` records, and input pins and
temporary packs released when the tier after the gate fails.

Each kernel runs one sparse-id input through its three tiers: the
single-task tier (a one-partition pack: ``shuffle_partitions=1``), the
sharded job loop (``shuffle_partitions=4``) and the join path
(``use_csr_kernel=False``). Ranks agree to float accumulation order;
CC/LPA labels, BFS/SSSP distances and per-iteration changed counts are
equal."""

from __future__ import annotations

import os
import tempfile

import numpy as np
import pandas as pd
import pytest

from vite_spark.algos.bfs import shortest_paths
from vite_spark.algos.centrality import katz_centrality
from vite_spark.algos.components import connected_components
from vite_spark.algos.lpa import label_propagation
from vite_spark.algos.pagerank import pagerank
from vite_spark.config import EngineConfig, resolve_scratch
from vite_spark.kernels import csr_pr
from vite_spark.runtime.metrics import MetricsCollector

TIERS = {
    "single": EngineConfig(shuffle_partitions=1),
    "sharded": EngineConfig(shuffle_partitions=4),
    "join": EngineConfig(use_csr_kernel=False),
}


def _rand_sym_edges(seed: int, nv: int = 500, ne: int = 1200):
    """Symmetric (hence vertex-closed) over sparse ids, with multi-edges
    and a few self-loops; sparse enough for several components."""
    rng = np.random.default_rng(seed)
    ids = np.sort(rng.choice(60 * nv, nv, replace=False))
    a = rng.integers(0, nv, ne)
    b = rng.integers(0, nv, ne)
    m = a != b
    a, b = ids[a[m]], ids[b[m]]
    s = np.concatenate([a, b, ids[:10]])
    d = np.concatenate([b, a, ids[:10]])
    w = rng.integers(1, 6, len(s)).astype(np.float64)
    return pd.DataFrame({"src": s, "dst": d, "weight": w})


@pytest.fixture
def single_calls(monkeypatch):
    """Counts calls into the single-task tier."""
    calls = []
    real = csr_pr._single_task

    def spy(*a, **k):
        calls.append(a[3])
        return real(*a, **k)

    monkeypatch.setattr(csr_pr, "_single_task", spy)
    return calls


@pytest.fixture
def edges(spark):
    return spark.createDataFrame(_rand_sym_edges(23))


def _tiers(m):
    return [(r["tier"], r["reason"]) for r in m.rows
            if r.get("kind") == "tier"]


def _by_tier(run, single_calls):
    """``run(cfg, metrics)`` in each tier, checking which tier ran."""
    out = {}
    for tier, cfg in TIERS.items():
        before = len(single_calls)
        m = MetricsCollector()
        out[tier] = run(cfg, m)
        assert (len(single_calls) - before) == (tier == "single"), tier
        assert _tiers(m) == ([] if tier == "join" else [(tier, None)]), tier
    return out


def _ranks(df, col):
    return df.toPandas().sort_values("id")[["id", col]].to_numpy()


@pytest.mark.parametrize("case", ["unweighted", "weighted", "ppr", "katz"])
def test_pagerank_tiers_agree(spark, edges, single_calls, case):
    seeds = edges.select("src").limit(3).toPandas()["src"].tolist()

    def run(cfg, m):
        if case == "katz":
            return _ranks(katz_centrality(
                spark, edges, alpha=0.02, iters=8, weighted=True, cfg=cfg,
                metrics=m), "score")
        return _ranks(pagerank(
            spark, edges, tol=0.0, max_iter=15, weighted=case == "weighted",
            seeds=seeds if case == "ppr" else None, cfg=cfg, metrics=m),
            "rank")

    got = _by_tier(run, single_calls)
    for tier in ("sharded", "join"):
        assert np.array_equal(got[tier][:, 0], got["single"][:, 0])
        assert np.allclose(got[tier][:, 1], got["single"][:, 1],
                           rtol=1e-12, atol=1e-18), tier


def _labels_and_changed(spark, edges, cfg, m, algo, max_iter=20):
    fn, col = {"cc": (connected_components, "component"),
               "lpa": (label_propagation, "label")}[algo]
    labels = {r["id"]: r[col] for r in fn(
        spark, edges, max_iter=max_iter, cfg=cfg, metrics=m).collect()}
    return labels, [r["changed"] for r in m.rows
                    if r.get("kind") == f"{algo}_superstep"]


def test_cc_tiers_agree(spark, edges, single_calls):
    got = _by_tier(
        lambda cfg, m: _labels_and_changed(spark, edges, cfg, m, "cc"),
        single_calls)
    assert got["sharded"] == got["single"] == got["join"]
    assert len(set(got["single"][0].values())) > 1
    assert got["single"][1][-1] == 0 and len(got["single"][1]) > 1


def test_lpa_tiers_agree(spark, edges, single_calls):
    got = _by_tier(
        lambda cfg, m: _labels_and_changed(spark, edges, cfg, m, "lpa"),
        single_calls)
    assert got["sharded"] == got["single"] == got["join"]
    assert len(set(got["single"][0].values())) > 1
    assert len(got["single"][1]) > 1


@pytest.mark.parametrize("weighted", [False, True], ids=["bfs", "sssp"])
def test_bfs_tiers_agree(spark, edges, single_calls, weighted):
    lms = edges.select("src").distinct().orderBy("src").limit(3) \
        .toPandas()["src"].tolist()

    def run(cfg, m):
        dists = {(r["id"], r["landmark"]): r["dist"] for r in shortest_paths(
            spark, edges, lms, cfg=cfg, metrics=m, weighted=weighted)
            .collect()}
        return dists, [r["changed"] for r in m.rows
                       if r.get("kind") == "bfs_superstep"]

    got = _by_tier(run, single_calls)
    assert got["sharded"] == got["single"]
    # the join path counts newly reached pairs: the same per-iteration
    # count for hop distances only (algos/bfs.py)
    assert got["join"][0] == got["single"][0]
    assert got["join"][1] == got["single"][1] or weighted
    assert len(got["single"][0]) > len(lms)
    assert got["single"][1][-1] == 0 and len(got["single"][1]) > 1


@pytest.mark.parametrize("algo", ["cc", "lpa"])
def test_max_iter_zero_is_identity(spark, edges, single_calls, algo):
    got = _by_tier(
        lambda cfg, m: _labels_and_changed(spark, edges, cfg, m, algo,
                                           max_iter=0),
        single_calls)
    ids = {r["src"] for r in edges.select("src").collect()}
    for tier, (labels, changed) in got.items():
        assert labels == {v: v for v in ids} and changed == [], tier


def test_tier_rows(spark, edges, monkeypatch):
    from perfbench.trace import _is_superstep

    def run(cfg, e=edges, fn=connected_components):
        m = MetricsCollector()
        fn(spark, e, cfg=cfg, metrics=m).collect()
        return m

    ne = edges.count()
    for cfg, gate in ((EngineConfig(), ("single", ne, 1)),
                      (TIERS["sharded"], ("sharded", ne, 4))):
        assert [(r["tier"], r["ne"], r["nparts"]) for r in run(cfg).rows
                if r.get("kind") == "tier"] == [gate]
    open_edges = spark.createDataFrame(
        pd.DataFrame({"src": [0, 1], "dst": [1, 2], "weight": [1.0, 1.0]}))
    assert _tiers(run(EngineConfig(), open_edges)) == [("join", "open")]
    assert _tiers(run(TIERS["sharded"], open_edges)) == [("join", "open")]
    # a kernel's own precondition, in both tiers: LPA's integer weights,
    # BFS's landmark that is no vertex
    frac = spark.createDataFrame(_rand_sym_edges(23).assign(weight=1.5))
    for cfg in (EngineConfig(), TIERS["sharded"]):
        assert _tiers(run(cfg, frac, label_propagation)) == \
            [("join", "kernel")]
        assert _tiers(run(cfg, fn=lambda s, e, **k: shortest_paths(
            s, e, [-1], **k))) == [("join", "kernel")]
    monkeypatch.setattr(spark.sparkContext, "master", "spark://elsewhere:7077")
    assert _tiers(run(EngineConfig())) == [("join", "non_local")]
    # the tier row is no superstep: perfbench's counters skip it
    assert not _is_superstep("tier")


def _persistent(spark):
    # ids, not a count: the context cleaner may drop an earlier test's
    # RDDs while the call runs
    return set(spark.sparkContext._jsc.getPersistentRDDs().keys())


def _packs(scratch):
    return {f for f in os.listdir(scratch) if f.startswith("vite_")}


@pytest.mark.parametrize("kernel", ["pagerank", "triangles", "louvain"])
def test_pins_released_when_pack_build_fails(spark, monkeypatch, kernel):
    """The input pin (and the triangle pack's intermediate tables) must
    not outlive a failure of the tier that follows the gate, nor must a
    half-built temporary pack."""
    from vite_spark.algos import louvain as lv
    from vite_spark.algos.triangles import triangle_count
    from vite_spark.kernels import csr_tri

    def boom(*a, **k):
        raise RuntimeError("tier failed")

    edges = spark.createDataFrame(_rand_sym_edges(5))   # not cached
    module, name, call = {
        "pagerank": (csr_pr, "pack_csr_partitions_sharded", lambda: pagerank(
            spark, edges, max_iter=3, cfg=EngineConfig(shuffle_partitions=4))),
        "triangles": (csr_tri, "pack_csr_partitions_sharded",
                      lambda: triangle_count(spark, edges)),
        "louvain": (lv, "_local_phase",
                    lambda: lv.louvain_phase(spark, edges, 1e-6)),
    }[kernel]
    monkeypatch.setattr(module, name, boom)
    scratch = resolve_scratch(None) or tempfile.gettempdir()
    rdds, packs = _persistent(spark), _packs(scratch)
    with pytest.raises(RuntimeError, match="tier failed"):
        call()
    assert _persistent(spark) - rdds == set()
    assert _packs(scratch) - packs == set()
