"""Checkpoint/resume for the packed PageRank / LPA / CC / BFS kernels
(runtime/iter_checkpoint.py): a run killed mid-iteration resumes from the
last _COMPLETE-marked state and finishes with results identical to an
uninterrupted run — labels exactly equal, ranks equal to ~ulp (the
resumed pack's range bounds legitimately differ, so float accumulation
order differs; the id-keyed restore is exact). Also pins the guards:
a checkpoint from a different input is ignored (validate), and the
resumed run's metrics continue at the right iteration."""

from __future__ import annotations

import numpy as np
import pandas as pd
import pytest

from vite_spark import fixtures as fx
from vite_spark.algos.bfs import shortest_paths
from vite_spark.algos.components import connected_components
from vite_spark.algos.lpa import label_propagation
from vite_spark.algos.pagerank import pagerank
from vite_spark.config import EngineConfig
from vite_spark.runtime import iter_checkpoint as ic
from vite_spark.runtime.metrics import MetricsCollector


def _edges(spark, seed=7, nv=400, ne=1600):
    rng = np.random.default_rng(seed)
    a = rng.integers(0, nv, ne)
    b = rng.integers(0, nv, ne)
    m = a != b
    a, b = a[m], b[m]
    return spark.createDataFrame(pd.DataFrame({
        "src": np.r_[a, b], "dst": np.r_[b, a],
        "weight": np.ones(2 * len(a)),
    }))


def _map(df):
    return {r[0]: r[1] for r in df.collect()}


def _iters(m, kind):
    return [r["iter"] for r in m.rows if r.get("kind") == kind]


def test_cc_resume_identical_labels(spark, tmp_path):
    edges = _edges(spark, seed=7)
    ref = _map(connected_components(spark, edges))

    ck = str(tmp_path / "ck_cc")
    # "crash" after 2 iterations (max_iter as the kill switch; CC needs
    # more to converge on this graph — asserted via the reference run)
    m1 = MetricsCollector()
    connected_components(spark, edges, max_iter=2,
                         cfg=EngineConfig(checkpoint_dir=ck), metrics=m1)
    assert _iters(m1, "cc_superstep") == [1, 2]
    assert ic.latest_complete(ck, "cc")["t"] == 2

    m2 = MetricsCollector()
    got = _map(connected_components(
        spark, edges, cfg=EngineConfig(checkpoint_dir=ck), metrics=m2))
    assert got == ref
    # resumed: restore recorded, iterations continue at 3
    assert _iters(m2, "cc_resume") == [2]
    sup2 = _iters(m2, "cc_superstep")
    assert sup2 and sup2[0] == 3
    # combined iteration count equals the uninterrupted run's
    m0 = MetricsCollector()
    connected_components(spark, edges, metrics=m0)
    assert 2 + len(sup2) == len(_iters(m0, "cc_superstep"))


def test_lpa_resume_identical_labels(spark, tmp_path):
    edges = _edges(spark, seed=11)
    ref = _map(label_propagation(spark, edges, max_iter=6))

    ck = str(tmp_path / "ck_lpa")
    label_propagation(spark, edges, max_iter=3,
                      cfg=EngineConfig(checkpoint_dir=ck))
    assert ic.latest_complete(ck, "lpa")["t"] == 3

    m2 = MetricsCollector()
    got = _map(label_propagation(
        spark, edges, max_iter=6,
        cfg=EngineConfig(checkpoint_dir=ck), metrics=m2))
    assert got == ref
    assert _iters(m2, "lpa_superstep") == [4, 5, 6]


def test_pagerank_resume_ranks_match(spark, tmp_path):
    edges = _edges(spark, seed=13)
    ref = _map(pagerank(spark, edges, tol=-1.0, max_iter=6))

    ck = str(tmp_path / "ck_pr")
    pagerank(spark, edges, tol=-1.0, max_iter=3,
             cfg=EngineConfig(checkpoint_dir=ck))
    assert ic.latest_complete(ck, "pagerank")["t"] == 3

    m2 = MetricsCollector()
    got = _map(pagerank(spark, edges, tol=-1.0, max_iter=6,
                        cfg=EngineConfig(checkpoint_dir=ck), metrics=m2))
    assert set(got) == set(ref)
    # NOT bit-identical: the resumed run's pack has different range bounds
    # (repartitionByRange samples with an RDD-id-dependent seed), so float
    # accumulation segments differ by design; values agree to ~ulp scale,
    # far inside the north rule's 1e-6
    for k in ref:
        assert abs(got[k] - ref[k]) <= 1e-12 * max(abs(ref[k]), 1e-30), k
    assert _iters(m2, "pagerank_resume") == [3]
    # job 4 is the re-scatter (no l1_delta — unknown after resume),
    # merges resume at 5
    sup = [r for r in m2.rows if r.get("kind") == "pagerank_superstep"]
    assert [r["iter"] for r in sup] == [4, 5, 6]
    assert "l1_delta" not in sup[0] and "l1_delta" in sup[1]


def test_pagerank_resume_with_tol_convergence(spark, tmp_path):
    """Resume must not let the inf sentinel satisfy (or bypass) the tol
    check: converged result equals the uninterrupted tol run."""
    edges = _edges(spark, seed=17)
    ref = _map(pagerank(spark, edges, tol=1e-7))

    ck = str(tmp_path / "ck_pr_tol")
    pagerank(spark, edges, tol=-1.0, max_iter=4,
             cfg=EngineConfig(checkpoint_dir=ck))
    got = _map(pagerank(spark, edges, tol=1e-7,
                        cfg=EngineConfig(checkpoint_dir=ck)))
    assert set(got) == set(ref)
    for k in ref:
        assert abs(got[k] - ref[k]) < 1e-9, k


def test_resume_across_nparts(spark, tmp_path):
    """The id-keyed shards make checkpoints layout-independent: a run
    checkpointed at 4 partitions resumes correctly at 8 (the cluster
    grew/shrank between attempts — the real-world restart case)."""
    edges = _edges(spark, seed=37)
    ref = _map(connected_components(spark, edges))
    ck = str(tmp_path / "ck_np")
    connected_components(spark, edges, max_iter=2,
                         cfg=EngineConfig(checkpoint_dir=ck,
                                          shuffle_partitions=4))
    m = MetricsCollector()
    got = _map(connected_components(
        spark, edges,
        cfg=EngineConfig(checkpoint_dir=ck, shuffle_partitions=8),
        metrics=m))
    assert got == ref
    assert _iters(m, "cc_resume") == [2]
    assert _iters(m, "cc_superstep")[0] == 3


def test_foreign_checkpoint_ignored(spark, tmp_path):
    """A checkpoint from a DIFFERENT graph fails validate and the run
    starts fresh (correct labels, iterations from 1)."""
    ck = str(tmp_path / "ck_mix")
    connected_components(spark, _edges(spark, seed=23, nv=300),
                         max_iter=2, cfg=EngineConfig(checkpoint_dir=ck))
    other = _edges(spark, seed=29, nv=500)
    ref = _map(connected_components(spark, other))
    m = MetricsCollector()
    got = _map(connected_components(
        spark, other, cfg=EngineConfig(checkpoint_dir=ck), metrics=m))
    assert got == ref
    assert not _iters(m, "cc_resume")
    assert _iters(m, "cc_superstep")[0] == 1


def test_checkpoint_every_interval(spark, tmp_path):
    """checkpoint_every=2 marks only even iterations; resume restarts
    from the newest marked one."""
    edges = _edges(spark, seed=31)
    ck = str(tmp_path / "ck_int")
    label_propagation(spark, edges, max_iter=5,
                      cfg=EngineConfig(checkpoint_dir=ck,
                                       checkpoint_every=2))
    assert ic.latest_complete(ck, "lpa")["t"] == 4
    ref = _map(label_propagation(spark, edges, max_iter=7))
    m = MetricsCollector()
    got = _map(label_propagation(
        spark, edges, max_iter=7,
        cfg=EngineConfig(checkpoint_dir=ck, checkpoint_every=2),
        metrics=m))
    assert got == ref
    assert _iters(m, "lpa_superstep") == [5, 6, 7]


@pytest.mark.parametrize("algo", ["cc", "lpa"])
def test_resume_beyond_max_iter(spark, tmp_path, algo):
    """A checkpoint newer than ``max_iter`` stands in for state
    ``max_iter`` (PageRank's rule): no iteration runs, and the restored
    labels are emitted."""
    fn = {"cc": connected_components, "lpa": label_propagation}[algo]
    edges = _edges(spark, seed=41)
    ck = str(tmp_path / f"ck_{algo}_past")
    cfg = EngineConfig(checkpoint_dir=ck, checkpoint_every=1)
    ref = _map(fn(spark, edges, max_iter=8, cfg=cfg))
    assert ic.latest_complete(ck, algo)["t"] > 3
    m = MetricsCollector()
    got = _map(fn(spark, edges, max_iter=3, cfg=cfg, metrics=m))
    assert got == ref
    assert _iters(m, f"{algo}_resume") == [3]
    assert not _iters(m, f"{algo}_superstep")


def _dists(df):
    return {(r["id"], r["landmark"]): r["dist"] for r in df.collect()}


def test_bfs_resume_identical_distances(spark, tmp_path):
    """BFS state is an (nown, L) matrix: the restore keeps its shape, and
    a checkpoint of other landmarks is not resumed."""
    edges = _edges(spark, seed=43, nv=600, ne=900)
    ids = sorted(r["src"] for r in edges.select("src").distinct().collect())
    lms = [ids[0], ids[len(ids) // 2], ids[-1]]
    ref = _dists(shortest_paths(spark, edges, lms))
    ck = str(tmp_path / "ck_bfs")
    cfg = EngineConfig(checkpoint_dir=ck)
    shortest_paths(spark, edges, lms, max_iter=2, cfg=cfg).count()
    assert ic.latest_complete(ck, "bfs")["t"] == 2

    m = MetricsCollector()
    got = _dists(shortest_paths(spark, edges, lms, cfg=cfg, metrics=m))
    assert got == ref
    assert _iters(m, "bfs_resume") == [2]
    assert _iters(m, "bfs_superstep")[0] == 3

    m = MetricsCollector()
    other = _dists(shortest_paths(spark, edges, lms[:2], cfg=cfg, metrics=m))
    assert other == {k: v for k, v in ref.items() if k[1] in lms[:2]}
    assert not _iters(m, "bfs_resume")


def test_kcore_resume_identical_coreness(spark, tmp_path):
    """k-core resumes from an iteration-k checkpoint (a checkpoint dir
    selects the sharded tier): coreness equals the uninterrupted run's,
    and the H-index sweeps continue at k + 1. The degree sweep is the
    checkpoint's iteration 1, so H-index sweep 2 is its iteration 3."""
    from vite_spark.algos.core import coreness

    edges = _edges(spark, seed=53, nv=300, ne=900)
    m0 = MetricsCollector()
    ref = _map(coreness(spark, edges, metrics=m0))
    n0 = len(_iters(m0, "core_superstep"))
    assert n0 > 3
    ck = str(tmp_path / "ck_core")
    cfg = EngineConfig(checkpoint_dir=ck)
    m1 = MetricsCollector()
    coreness(spark, edges, max_iter=2, cfg=cfg, metrics=m1).count()
    assert _iters(m1, "core_superstep") == [1, 2]
    assert ic.latest_complete(ck, "core")["t"] == 3

    m2 = MetricsCollector()
    got = _map(coreness(spark, edges, cfg=cfg, metrics=m2))
    assert got == ref
    assert _iters(m2, "core_resume") == [2]
    assert _iters(m2, "core_superstep") == list(range(3, n0 + 1))
