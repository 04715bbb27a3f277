"""k-core decomposition (algos/core.py + kernels/csr_core.py):
packed-vs-join exact coreness parity, truth vs networkx core_number,
input normalization (direction/multi-edge/self-loop invariance), and the
oracle unroll slack."""

from __future__ import annotations

import numpy as np
import pandas as pd
import pytest

from vite_spark import fixtures as fx
from vite_spark.algos.core import coreness
from vite_spark.config import EngineConfig
from vite_spark.runtime.metrics import MetricsCollector


def _modes(m):
    return {r.get("mode") for r in m.rows if r.get("kind") == "core_superstep"}


def _iters(m):
    return [r["changed"] for r in m.rows if r.get("kind") == "core_superstep"]


def _cores(df):
    return {r["id"]: r["coreness"] for r in df.collect()}


def _nx_truth(s, d):
    import networkx as nx

    G = nx.Graph()
    G.add_edges_from((int(a), int(b)) for a, b in zip(s, d) if a != b)
    return nx.core_number(G)


def _tiers(m):
    return [r["tier"] for r in m.rows if r.get("kind") == "tier"]


def _karate():
    s, d, w, nv = fx.karate()
    return pd.DataFrame({"src": s, "dst": d, "weight": w})


def _dirty():
    """One-directional rows, duplicates and self-loops over sparse ids."""
    rng = np.random.default_rng(11)
    nv, ne = 400, 1400
    ids = np.sort(rng.choice(20 * nv, nv, replace=False))
    a = ids[rng.integers(0, nv, ne)]
    b = ids[rng.integers(0, nv, ne)]
    s = np.concatenate([a, a[:200], ids[:10]])   # dupes + self-loops
    d = np.concatenate([b, b[:200], ids[:10]])
    return pd.DataFrame({"src": s, "dst": d, "weight": np.ones(len(s))})


def _path(n=60):
    return pd.DataFrame({"src": np.arange(n - 1), "dst": np.arange(1, n),
                         "weight": np.ones(n - 1)})


def test_packed_matches_join_and_networkx_karate(spark):
    s, d, w, nv = fx.karate()
    edges = fx.to_spark_edges(spark, (s, d, w, nv))
    mp, mj = MetricsCollector(), MetricsCollector()
    got = _cores(coreness(spark, edges, metrics=mp))
    # the default config runs a one-partition pack in the driver
    assert _modes(mp) == {"csr_sharded_hindex"}
    assert _tiers(mp) == ["single"]
    ref = _cores(coreness(
        spark, edges, cfg=EngineConfig(use_csr_kernel=False), metrics=mj))
    assert _modes(mj) == {"join_hindex"}
    assert got == ref
    assert got == _nx_truth(s, d)
    # identical H-index iterates → same changed counts, same sweep count
    assert _iters(mp) == _iters(mj)


def test_random_graph_with_dirt_matches_networkx(spark):
    """One-directional rows, duplicates and self-loops must all be
    normalized away — coreness is over the simple undirected graph."""
    pdf = _dirty()
    edges = spark.createDataFrame(pdf)
    mp = MetricsCollector()
    got = _cores(coreness(spark, edges, metrics=mp))
    assert _modes(mp) == {"csr_sharded_hindex"}
    ref = _cores(coreness(
        spark, edges, cfg=EngineConfig(use_csr_kernel=False)))
    assert got == ref
    assert got == _nx_truth(pdf["src"], pdf["dst"])


def test_path_graph_worst_case_convergence(spark):
    """A path graph is the H-index fixpoint's slow case (information
    crawls one hop per sweep) — parity must hold across many sweeps."""
    pdf = _path()
    edges = spark.createDataFrame(pdf)
    mp = MetricsCollector()
    got = _cores(coreness(spark, edges, metrics=mp))
    assert got == _nx_truth(pdf["src"], pdf["dst"])
    assert all(v == 1 for v in got.values())


@pytest.mark.parametrize("make", [_karate, _dirty, _path],
                         ids=["karate", "dirty", "path"])
def test_kcore_tiers_agree(spark, make):
    """The driver tier (default config), the sharded job loop
    (``shuffle_partitions=4``) and the join path give equal coreness and
    equal per-sweep changed counts; ``max_iter=0`` returns the degrees
    in every tier."""
    edges = spark.createDataFrame(make())
    tiers = {"single": EngineConfig(),
             "sharded": EngineConfig(shuffle_partitions=4),
             "join": EngineConfig(use_csr_kernel=False)}
    got, deg = {}, {}
    for tier, cfg in tiers.items():
        m = MetricsCollector()
        got[tier] = _cores(coreness(spark, edges, cfg=cfg, metrics=m)), \
            _iters(m)
        assert _tiers(m) == ([] if tier == "join" else [tier]), tier
        deg[tier] = _cores(coreness(spark, edges, max_iter=0, cfg=cfg))
    assert got["single"] == got["sharded"] == got["join"]
    assert got["single"][1][-1] == 0
    assert deg["single"] == deg["sharded"] == deg["join"]
    und = {}
    for a, b in zip(*(make()[c] for c in ("src", "dst"))):
        if a != b:
            und.setdefault(int(a), set()).add(int(b))
            und.setdefault(int(b), set()).add(int(a))
    assert deg["single"] == {v: len(n) for v, n in und.items()}


def test_kcore_oracle_slack(spark):
    """The SQL oracle unrolls KCORE_ORACLE_ROUNDS H-index sweeps; the
    engine's fixpoint on the driver graph must converge in HALF that or
    fewer (extra unrolled rounds are no-ops after convergence, so slack
    going down is the early warning, not a failure at the boundary)."""
    from vite_spark.derive import lineitem_part_edges
    from vite_spark.queries import KCORE_ORACLE_ROUNDS

    e = lineitem_part_edges(spark, "/root/testdata/sf0.001")
    m = MetricsCollector()
    coreness(spark, e, metrics=m)
    sweeps = len(_iters(m))
    assert sweeps <= KCORE_ORACLE_ROUNDS // 2, \
        f"oracle unroll slack eroded: {sweeps} sweeps"


def test_force_iters_is_fixpoint_noop(spark):
    """force_iters (the scaling probe's fixed-sweep protocol) runs extra
    post-convergence sweeps; they must be no-ops — identical coreness on
    BOTH paths, and the packed path must record exactly max_iter sweeps
    with trailing changed == 0."""
    s, d, w, nv = fx.karate()
    edges = spark.createDataFrame(pd.DataFrame(
        {"src": s, "dst": d, "weight": w}))
    base = _cores(coreness(spark, edges))
    for kw in ({}, {"cfg": EngineConfig(use_csr_kernel=False)}):
        m = MetricsCollector()
        forced = _cores(coreness(spark, edges, max_iter=9,
                                 force_iters=True, metrics=m, **kw))
        assert forced == base
        its = _iters(m)
        assert len(its) == 9
        assert its[-1] == 0


def test_shared_core_pack_cache_across_kernels(spark, tmp_path):
    """k-core and packed WL share <pack_cache_dir>/core_pack (both pack
    the same simplified graph): the second kernel must REUSE the cached
    pack (manifest survives, adjacency files not rewritten), results
    stay correct, and a different requested nparts wipes and repacks
    rather than silently reusing a mismatched layout."""
    import os

    from vite_spark.algos.wl import wl_refine, wl_refine_numpy

    s, d, w, nv = fx.karate()
    df = spark.createDataFrame(
        pd.DataFrame({"src": np.r_[s], "dst": np.r_[d],
                      "weight": np.r_[w].astype(float)}))
    cache = str(tmp_path / "cache")
    cfg = EngineConfig(use_csr_kernel=True, pack_cache_dir=cache,
                       shuffle_partitions=4)

    got_core = _cores(coreness(spark, df, cfg=cfg))
    truth = _nx_truth(s, d)
    assert got_core == {int(k): int(v) for k, v in truth.items()}

    pack = os.path.join(cache, "core_pack")
    mf = os.path.join(pack, "manifest.json")
    assert os.path.exists(mf)
    mtime_before = {f: os.path.getmtime(os.path.join(pack, f))
                    for f in os.listdir(pack) if f.startswith("own_")}

    labels = wl_refine(spark, df, rounds=2, cfg=cfg)
    got = {int(r["id"]): int(r["lab"]) for r in labels.collect()}
    sym_s, sym_d = np.r_[s, d], np.r_[d, s]
    ids, labs = wl_refine_numpy(sym_s, sym_d, rounds=2)
    # karate fixture is already symmetrized; dedupe the doubled rows
    ids2, labs2 = wl_refine_numpy(s, d, rounds=2)
    assert got == {int(i): int(l) for i, l in zip(ids2, labs2)}

    mtime_after = {f: os.path.getmtime(os.path.join(pack, f))
                   for f in os.listdir(pack) if f.startswith("own_")}
    assert mtime_after == mtime_before, "pack was rebuilt, not reused"

    # nparts mismatch: stale layout must be wiped and repacked, loudly
    cfg8 = EngineConfig(use_csr_kernel=True, pack_cache_dir=cache,
                        shuffle_partitions=8)
    got8 = _cores(coreness(spark, df, cfg=cfg8))
    assert got8 == got_core
    import json

    with open(mf) as fh:
        assert json.load(fh)["requested_nparts"] == 8
