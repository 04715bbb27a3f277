"""Tier equivalence of the packed PageRank and CC kernels, and input pins
and temporary packs released when the tier after the gate fails.

PageRank and CC each run one sparse-id input through their three tiers:
the single-task tier (a one-partition pack: ``shuffle_partitions=1``),
the sharded job loop (``shuffle_partitions=4``) and the join path
(``use_csr_kernel=False``). Ranks agree to float accumulation order;
CC labels and per-iteration changed counts are equal."""

from __future__ import annotations

import os
import tempfile

import numpy as np
import pandas as pd
import pytest

from vite_spark.algos.centrality import katz_centrality
from vite_spark.algos.components import connected_components
from vite_spark.algos.pagerank import pagerank
from vite_spark.config import EngineConfig, resolve_scratch
from vite_spark.kernels import csr_cc, csr_pr
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
    monkeypatch.setattr(csr_cc, "_single_task", spy)
    return calls


@pytest.fixture
def edges(spark):
    return spark.createDataFrame(_rand_sym_edges(23))


def _by_tier(run, single_calls):
    out = {}
    for tier, cfg in TIERS.items():
        before = len(single_calls)
        out[tier] = run(cfg)
        assert (len(single_calls) - before) == (tier == "single"), tier
    return out


def _ranks(df, col):
    return df.toPandas().sort_values("id")[["id", col]].to_numpy()


@pytest.mark.parametrize("case", ["unweighted", "weighted", "ppr", "katz"])
def test_pagerank_tiers_agree(spark, edges, single_calls, case):
    seeds = edges.select("src").limit(3).toPandas()["src"].tolist()

    def run(cfg):
        if case == "katz":
            return _ranks(katz_centrality(spark, edges, alpha=0.02, iters=8,
                                          weighted=True, cfg=cfg), "score")
        return _ranks(pagerank(
            spark, edges, tol=0.0, max_iter=15, weighted=case == "weighted",
            seeds=seeds if case == "ppr" else None, cfg=cfg), "rank")

    got = _by_tier(run, single_calls)
    for tier in ("sharded", "join"):
        assert np.array_equal(got[tier][:, 0], got["single"][:, 0])
        assert np.allclose(got[tier][:, 1], got["single"][:, 1],
                           rtol=1e-12, atol=1e-18), tier


def test_cc_tiers_agree(spark, edges, single_calls):
    def run(cfg):
        m = MetricsCollector()
        labels = {r["id"]: r["component"] for r in connected_components(
            spark, edges, cfg=cfg, metrics=m).collect()}
        return labels, [r["changed"] for r in m.rows
                        if r.get("kind") == "cc_superstep"]

    got = _by_tier(run, single_calls)
    assert got["sharded"] == got["single"] == got["join"]
    assert len(set(got["single"][0].values())) > 1
    assert got["single"][1][-1] == 0 and len(got["single"][1]) > 1


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
