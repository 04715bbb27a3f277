"""Packed-CSR connected components (kernels/csr_cc.py) vs the join path:
exact label AND per-iteration changed-count equality (identical Jacobi
operator on the same integers), dispatch gating (open inputs), and
cross-validation against the independent two-phase star algorithm."""

from __future__ import annotations

import numpy as np
import pandas as pd
import pytest

from vite_spark import fixtures as fx
from vite_spark.algos.components import (
    connected_components,
    connected_components_twophase,
)
from vite_spark.config import EngineConfig
from vite_spark.runtime.metrics import MetricsCollector


def _modes(m):
    return {r.get("mode") for r in m.rows if r.get("kind") == "cc_superstep"}


def _labels(df):
    return {r["id"]: r["component"] for r in df.collect()}


def _rand_sym_edges(seed: int, nv: int = 600, ne: int = 420):
    """Sparse enough that several components exist; sparse ids, self-loops
    and multi-edges included (all must be no-ops for the min operator)."""
    rng = np.random.default_rng(seed)
    ids = np.sort(rng.choice(40 * nv, nv, replace=False))
    a = rng.integers(0, nv, ne)
    b = rng.integers(0, nv, ne)
    m = a != b
    a, b = ids[a[m]], ids[b[m]]
    s = np.concatenate([a, b, ids[:20]])
    d = np.concatenate([b, a, ids[:20]])
    w = rng.integers(1, 6, len(s)).astype(np.float64)
    return pd.DataFrame({"src": s, "dst": d, "weight": w})


def test_packed_cc_matches_join_exactly_karate(spark):
    s, d, w, nv = fx.karate()
    edges = fx.to_spark_edges(spark, (s, d, w, nv))
    mp, mj = MetricsCollector(), MetricsCollector()
    got = _labels(connected_components(spark, edges, metrics=mp))
    assert _modes(mp) == {"csr_sharded_min"}
    ref = _labels(connected_components(
        spark, edges, cfg=EngineConfig(use_csr_kernel=False), metrics=mj))
    assert got == ref
    # identical Jacobi iterates → identical per-iteration changed counts
    # and identical stop iteration
    cp = [r["changed"] for r in mp.rows if r.get("kind") == "cc_superstep"]
    cj = [r["changed"] for r in mj.rows if r.get("kind") == "cc_superstep"]
    assert cp == cj


@pytest.mark.parametrize("seed", [5, 17])
def test_packed_cc_matches_join_exactly_random(spark, seed):
    edges = spark.createDataFrame(_rand_sym_edges(seed)).persist()
    edges.count()
    mp = MetricsCollector()
    got = _labels(connected_components(spark, edges, metrics=mp))
    assert _modes(mp) == {"csr_sharded_min"}
    ref = _labels(connected_components(
        spark, edges, cfg=EngineConfig(use_csr_kernel=False)))
    assert got == ref
    # multiple components must survive (otherwise the test is trivial)
    assert len(set(got.values())) > 1
    edges.unpersist()


def test_packed_cc_ring_matches_twophase(spark):
    """High-diameter ring: min-propagation needs O(diameter) sweeps;
    cross-validate the converged packed labels against the INDEPENDENT
    large-star/small-star algorithm (different operator, same fixpoint:
    component = min vertex id)."""
    n = 60
    ids = np.arange(3, 3 + 2 * n, 2, dtype=np.int64)   # sparse odd ids
    nxt = np.roll(ids, -1)
    pdf = pd.DataFrame({
        "src": np.concatenate([ids, nxt]),
        "dst": np.concatenate([nxt, ids]),
        "weight": np.ones(2 * n),
    })
    edges = spark.createDataFrame(pdf)
    mp = MetricsCollector()
    got = _labels(connected_components(spark, edges, max_iter=200,
                                       metrics=mp))
    assert _modes(mp) == {"csr_sharded_min"}
    ref = _labels(connected_components_twophase(spark, edges))
    assert got == ref
    assert set(got.values()) == {3}


def test_packed_cc_open_input_falls_back(spark):
    """A dst that is never a src (vertex set not closed) → join path."""
    edges = spark.createDataFrame(
        pd.DataFrame({"src": [0, 1], "dst": [1, 2], "weight": [1.0, 1.0]}))
    m = MetricsCollector()
    got = _labels(connected_components(spark, edges, metrics=m))
    assert "csr_sharded_min" not in _modes(m)
    assert set(got) == {0, 1, 2}


@pytest.mark.parametrize("cfg", [EngineConfig(),
                                 EngineConfig(use_csr_kernel=False)],
                         ids=["single", "join"])
def test_cc_unconverged_run_warns(spark, caplog, cfg):
    """A path of 12 vertices needs 11 min-label sweeps: stopped at 4 the
    labels are still changing, so the call warns and marks its rows
    converged=False; with room to converge every row reads True."""
    n = 12
    a = np.arange(n - 1, dtype=np.int64)
    s, d = np.r_[a, a + 1], np.r_[a + 1, a]
    edges = fx.to_spark_edges(spark, (s, d, np.ones(len(s)), n))
    for max_iter, converged in ((4, False), (50, True)):
        m = MetricsCollector()
        caplog.clear()
        with caplog.at_level("WARNING", logger="vite_spark.components"):
            lab = _labels(connected_components(spark, edges, max_iter=max_iter,
                                               cfg=cfg, metrics=m))
        rows = [r for r in m.rows if r.get("kind") == "cc_superstep"]
        assert rows and {r["converged"] for r in rows} == {converged}
        assert any("max_iter" in r.getMessage()
                   for r in caplog.records) is not converged
        assert (set(lab.values()) == {0}) is converged
