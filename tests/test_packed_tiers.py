"""Tier equivalence of the packed kernels (PageRank, CC, LPA, BFS/SSSP,
triangles; k-core's is in tests/test_core_packed.py), the tier rows
``_run_packed`` records, and input pins and temporary packs released
when the tier after the gate fails.

Each kernel runs one sparse-id input through its three tiers: the
single-task tier (a one-partition pack: ``shuffle_partitions=1``), the
sharded job loop (``shuffle_partitions=4``) and the join path
(``use_csr_kernel=False``). Ranks agree to float accumulation order;
CC/LPA labels, BFS/SSSP distances and per-iteration changed counts are
equal. Triangle counts and per-vertex rows are equal on five input
shapes, with the single tier taken by the default edge gate."""

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
    real = csr_pr._driver_local

    def spy(*a, **k):
        calls.append(a[2])
        return real(*a, **k)

    monkeypatch.setattr(csr_pr, "_driver_local", spy)
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
    # a non-local master: the driver tier writes no scratch files, so
    # only the sharded loop declines
    monkeypatch.setattr(spark.sparkContext, "master", "spark://elsewhere:7077")
    assert _tiers(run(EngineConfig())) == [("single", None)]
    assert _tiers(run(TIERS["sharded"])) == [("join", "non_local")]
    # the tier row is no superstep: perfbench's counters skip it
    assert not _is_superstep("tier")


def test_gate_boundary(spark, edges, monkeypatch):
    """The runner's gate (one capped collect) moves exactly at
    ``PACK_EDGES_PER_PART``: an input of ne rows takes the single tier at
    ne and the sharded loop at ne - 1, with the same outputs and the same
    gate inputs in the tier row. A session with one shuffle partition
    takes the single tier whatever the target."""
    from vite_spark import config
    from vite_spark.algos.core import coreness
    from vite_spark.algos.triangles import triangle_count, \
        triangles_per_vertex

    kernels = {
        "pagerank": lambda cfg, m: _ranks(pagerank(
            spark, edges, tol=0.0, max_iter=15, weighted=True, cfg=cfg,
            metrics=m), "rank"),
        "cc": lambda cfg, m: _labels_and_changed(spark, edges, cfg, m, "cc"),
        "lpa": lambda cfg, m: _labels_and_changed(spark, edges, cfg, m,
                                                  "lpa"),
        "kcore": lambda cfg, m: sorted(map(tuple, coreness(
            spark, edges, cfg=cfg, metrics=m).collect())),
        "triangles": lambda cfg, m: triangle_count(spark, edges, cfg=cfg,
                                                   metrics=m),
        "triangles_v": lambda cfg, m: sorted(map(tuple, triangles_per_vertex(
            spark, edges, cfg=cfg, metrics=m).collect())),
    }

    def run(fn):
        m = MetricsCollector()
        out = fn(EngineConfig(), m)
        return out, [(r["tier"], r["ne"], r["nparts"]) for r in m.rows
                     if r.get("kind") == "tier"]

    for name, fn in kernels.items():
        (_, [(_, ne, _)]) = run(fn)
        got = {}
        for target in (ne, ne - 1):
            monkeypatch.setattr(config, "PACK_EDGES_PER_PART", target)
            got[target] = run(fn)
        assert got[ne][1] == [("single", ne, 1)], name
        # 8 session partitions capped at ceil(ne / (ne - 1)) rows
        assert got[ne - 1][1] == [("sharded", ne, 2)], name
        a, b = got[ne][0], got[ne - 1][0]
        if name == "pagerank":
            assert np.array_equal(a[:, 0], b[:, 0])
            assert np.allclose(a[:, 1], b[:, 1], rtol=1e-12, atol=1e-18)
        else:
            assert a == b, name
        monkeypatch.setattr(config, "PACK_EDGES_PER_PART", 1)
        old = spark.conf.get("spark.sql.shuffle.partitions")
        spark.conf.set("spark.sql.shuffle.partitions", "1")
        try:
            assert run(fn)[1] == [("single", ne, 1)], name
        finally:
            spark.conf.set("spark.sql.shuffle.partitions", old)


def _group_jobs(spark, gid):
    """Ids of the jobs run under job group ``gid``, once the listener has
    seen every event posted so far."""
    sc = spark.sparkContext
    sc._jsc.sc().listenerBus().waitUntilEmpty()
    return list(sc.statusTracker().getJobIdsForGroup(gid))


def test_driver_tier_is_one_job(spark):
    """q_pagerank's runner on the materialized sf0.001 derivation: the
    gate's capped collect is the tier's only Spark job (no count, no
    pin), and nothing stays persisted."""
    from vite_spark.derive import lineitem_part_edges
    from vite_spark.queries import PR_ITERS

    sc = spark.sparkContext
    e = lineitem_part_edges(spark, "/root/testdata/sf0.001").persist()
    try:
        e.count()
        before = _persistent(spark)
        m = MetricsCollector()
        sc.setJobGroup("driver-tier-jobs", "driver tier")
        try:
            ranks = pagerank(spark, e, damping=0.85, tol=0.0,
                             max_iter=PR_ITERS, metrics=m)
        finally:
            sc.setLocalProperty("spark.jobGroup.id", None)
        assert len(_group_jobs(spark, "driver-tier-jobs")) == 1
        assert _tiers(m) == [("single", None)]
        assert _persistent(spark) - before == set()
        assert ranks.count() > 0
    finally:
        e.unpersist()


def _persistent(spark):
    # ids, not a count: the context cleaner may drop an earlier test's
    # RDDs while the call runs
    return set(spark.sparkContext._jsc.getPersistentRDDs().keys())


def _packs(scratch):
    return {f for f in os.listdir(scratch) if f.startswith("vite_")}


@pytest.mark.parametrize("kernel", ["pagerank", "triangles",
                                    "triangles_vertex", "louvain",
                                    "kcore", "wl"])
def test_pins_released_when_pack_build_fails(spark, monkeypatch, kernel):
    """The input pin (and the triangle pack's intermediate tables) must
    not outlive a failure of the tier that follows the gate, nor must a
    half-built temporary pack. The per-vertex case fails the rank-map
    write (the sharded triangle tier's only parquet write), after its
    rank job has pinned the degree table."""
    from pyspark.sql import DataFrameWriter

    from vite_spark.algos import louvain as lv
    from vite_spark.algos.core import coreness
    from vite_spark.algos.triangles import triangle_count, triangles_per_vertex
    from vite_spark.algos.wl import wl_refine
    from vite_spark.kernels import csr_tri

    def boom(*a, **k):
        raise RuntimeError("tier failed")

    edges = spark.createDataFrame(_rand_sym_edges(5))   # not cached
    module, name, call = {
        "pagerank": (csr_pr, "pack_csr_partitions_sharded", lambda: pagerank(
            spark, edges, max_iter=3, cfg=EngineConfig(shuffle_partitions=4))),
        "triangles": (csr_tri, "pack_csr_partitions_sharded",
                      lambda: triangle_count(
                          spark, edges, EngineConfig(shuffle_partitions=4))),
        "triangles_vertex": (DataFrameWriter, "parquet",
                             lambda: triangles_per_vertex(
                                 spark, edges,
                                 EngineConfig(shuffle_partitions=4))),
        "louvain": (lv, "_local_phase",
                    lambda: lv.louvain_phase(spark, edges, 1e-6)),
        "kcore": (csr_pr, "pack_csr_partitions_sharded", lambda: coreness(
            spark, edges, cfg=EngineConfig(shuffle_partitions=4))),
        "wl": (csr_pr, "pack_csr_partitions_sharded", lambda: wl_refine(
            spark, edges, rounds=2, cfg=EngineConfig(shuffle_partitions=4))),
    }[kernel]
    monkeypatch.setattr(module, name, boom)
    scratch = resolve_scratch(None) or tempfile.gettempdir()
    rdds, packs = _persistent(spark), _packs(scratch)
    with pytest.raises(RuntimeError, match="tier failed"):
        call()
    assert _persistent(spark) - rdds == set()
    assert _packs(scratch) - packs == set()


def _tri_inputs():
    """The triangle tier-equivalence inputs: (name, src/dst/weight frame)."""
    from vite_spark import fixtures as fx

    def frame(s, d):
        return pd.DataFrame({"src": np.asarray(s, np.int64),
                             "dst": np.asarray(d, np.int64),
                             "weight": np.ones(len(s))})

    s, d, _, _ = fx.karate()
    yield "karate", frame(s, d)
    s, d, _, _, _ = fx.planted_partition()
    yield "planted", frame(s, d)
    r = _rand_sym_edges(7, nv=200, ne=2500)
    yield "sparse_ids", frame(r["src"], r["dst"])
    s, d, _, _ = fx.self_loops_triangle()
    yield "loops_multi", frame(np.r_[s, s, s], np.r_[d, d, d])
    # one direction, plus sinks: some dst is never a src
    rng = np.random.default_rng(11)
    s, d = rng.integers(0, 60, 700), rng.integers(0, 60, 700)
    sink = rng.integers(0, 60, 12)
    yield "one_direction", frame(np.r_[s, sink], np.r_[d, 1000 + sink])


TRI_TIERS = {
    "single": EngineConfig(),
    "sharded": EngineConfig(shuffle_partitions=4),
    "join": EngineConfig(use_csr_kernel=False),
}


def _tri_by_tier(spark, run, single_calls):
    """``run(edges, cfg, metrics)`` per input and tier, checking which
    tier ran; {input: {tier: (result, metrics rows)}}."""
    got = {}
    for name, pdf in _tri_inputs():
        edges = spark.createDataFrame(pdf)
        for tier, cfg in TRI_TIERS.items():
            before = len(single_calls)
            m = MetricsCollector()
            res = run(edges, cfg, m)
            assert (len(single_calls) - before) == (tier == "single"), \
                (name, tier)
            assert _tiers(m) == ([] if tier == "join" else [(tier, None)]), \
                (name, tier)
            got.setdefault(name, {})[tier] = (res, m.rows)
    return got


def test_triangles_tiers_agree(spark, single_calls):
    from vite_spark.algos.triangles import triangle_count

    kept = []

    def run(e, cfg, m):
        before = _persistent(spark)
        out = triangle_count(spark, e, cfg=cfg, metrics=m)
        kept.extend(_persistent(spark) - before)
        return out

    got = _tri_by_tier(spark, run, single_calls)
    # a scalar count leaves no persisted RDD behind in any tier
    assert kept == []

    def row(rows):
        (r,) = [r for r in rows if r.get("kind") == "triangles_packed"]
        return r

    for name, by in got.items():
        assert by["single"][0] == by["sharded"][0] == by["join"][0], name
        single, sharded = row(by["single"][1]), row(by["sharded"][1])
        for k in ("wedges", "edges_oriented", "triangles"):
            assert single[k] == sharded[k], (name, k)
        assert single["queries"] == 0 and single["mode"] == sharded["mode"]
    assert got["karate"]["single"][0] == 45
    assert got["planted"]["single"][0] > 100
    assert got["loops_multi"]["single"][0] == 1
    assert got["one_direction"]["single"][0] > 0


def test_triangles_per_vertex_tiers_agree(spark, single_calls):
    from vite_spark.algos.triangles import triangles_per_vertex

    got = _tri_by_tier(spark, lambda e, cfg, m: {
        r["id"]: r["triangles"] for r in triangles_per_vertex(
            spark, e, cfg=cfg, metrics=m).collect()}, single_calls)
    for name, by in got.items():
        assert by["single"][0] == by["sharded"][0] == by["join"][0], name
    assert sum(got["karate"]["single"][0].values()) == 3 * 45
    # the sinks: vertices that are only ever a dst get zero rows
    one = got["one_direction"]["single"][0]
    assert all(one[1000 + v] == 0 for v in range(60) if 1000 + v in one)
    assert sum(v >= 1000 for v in one) > 5 and sum(one.values()) > 0


def test_tier_rows_triangles_kcore_wl(spark, edges, monkeypatch):
    """Triangles, triangle-vertex, k-core and WL record the runner's tier
    row: single or sharded, else join with the reason."""
    from vite_spark.algos.core import coreness
    from vite_spark.algos.triangles import triangle_count, \
        triangles_per_vertex
    from vite_spark.algos.wl import wl_refine
    from vite_spark.kernels.csr_core import csr_coreness
    from vite_spark.kernels.csr_wl import csr_wl

    def tri(s, e, **k):
        return triangle_count(s, e, **k)

    def tri_v(s, e, **k):
        return triangles_per_vertex(s, e, **k).collect()

    def kcore(s, e, **k):
        return coreness(s, e, **k).collect()

    def wl(s, e, **k):
        return wl_refine(s, e, rounds=2, **k).collect()

    def rows(fn, cfg, e=edges):
        m = MetricsCollector()
        fn(spark, e, cfg=cfg, metrics=m)
        return [(r["tier"], r["reason"]) for r in m.rows
                if r.get("kind") == "tier"]

    sharded = EngineConfig(shuffle_partitions=4)
    empty = edges.filter("src < 0")
    for fn in (tri, tri_v):
        assert rows(fn, EngineConfig()) == [("single", None)]
        assert rows(fn, sharded) == [("sharded", None)]
        assert rows(fn, EngineConfig(), empty) == [("join", "empty")]
    # the triangle gate is the shared edge-row target
    from vite_spark import config

    ne = edges.count()
    for target, want in ((ne - 1, "sharded"), (ne, "single")):
        monkeypatch.setattr(config, "PACK_EDGES_PER_PART", target)
        for fn in (tri, tri_v):
            assert rows(fn, EngineConfig()) == [(want, None)], target
    # k-core is an owner sweep: the default config takes the driver
    # tier; WL has no driver tier
    assert rows(kcore, EngineConfig()) == [("single", None)]
    assert rows(wl, EngineConfig()) == [("sharded", None)]
    for fn in (kcore, wl):
        assert rows(fn, sharded) == [("sharded", None)]
        assert rows(fn, EngineConfig(), empty) == [("join", "empty")]
    # k-core and WL simplify to a symmetric table before the kernel; an
    # open table handed to the kernel itself takes the join path
    open_edges = spark.createDataFrame(pd.DataFrame(
        {"src": [0, 1], "dst": [1, 2], "weight": [1.0, 1.0]}))
    for call in (
            lambda m: csr_coreness(spark, open_edges, 5, EngineConfig(), m),
            lambda m: csr_wl(spark, open_edges, 2, 0, 1, 0, EngineConfig(),
                             m)):
        m = MetricsCollector()
        assert call(m) is None
        assert _tiers(m) == [("join", "open")]
    monkeypatch.setattr(spark.sparkContext, "master", "spark://elsewhere:7077")
    for fn in (tri, tri_v):
        assert rows(fn, EngineConfig()) == [("single", None)]
        assert rows(fn, sharded) == [("join", "non_local")]
    assert rows(kcore, EngineConfig()) == [("single", None)]
    for fn in (kcore, wl):
        assert rows(fn, sharded) == [("join", "non_local")]


def test_scratch_skips_full_tmpfs(monkeypatch, caplog):
    """Without an explicit scratch dir, a pack larger than free /dev/shm
    goes to the system tempdir, and the switch is logged."""
    import logging

    from vite_spark import config

    if not os.path.isdir("/dev/shm"):
        pytest.skip("no /dev/shm")
    monkeypatch.delenv("SPARK_GRAFT_SCRATCH", raising=False)

    class Vfs:
        f_bavail, f_frsize = 1000, 4096    # ~4 MB free

    monkeypatch.setattr(config.os, "statvfs", lambda path: Vfs)
    fits = 4096 * 1000 // config.SCRATCH_BYTES_PER_EDGE
    with caplog.at_level(logging.WARNING, logger="vite_spark.config"):
        assert resolve_scratch(None, ne=fits) == "/dev/shm"
        assert not caplog.records
        assert resolve_scratch(None, ne=fits + 1) is None
        assert "system tempdir" in caplog.records[-1].getMessage()
    assert resolve_scratch(None) == "/dev/shm"          # size unknown
    assert resolve_scratch("/x", ne=10 ** 12) == "/x"   # explicit wins
    monkeypatch.setenv("SPARK_GRAFT_SCRATCH", "/y")
    assert resolve_scratch(None, ne=10 ** 12) == "/y"
