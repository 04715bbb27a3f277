"""Spark engine ↔ NumPy oracle parity (the BASELINE.json correctness gate):
per-vertex labels exactly equal and Q within 1e-6 at convergence."""

from __future__ import annotations

import numpy as np
import pytest

from vite_spark import fixtures as fx
from vite_spark.algos.louvain import louvain, louvain_phase
from vite_spark.config import EngineConfig
from vite_spark.oracle import louvain_oracle_full, louvain_oracle_phase


def _labels_from_df(df, nv):
    rows = df.collect()
    out = np.arange(nv, dtype=np.int64)  # isolated vertices = identity
    for r in rows:
        out[r["id"]] = r[df.columns[1]]
    return out


FIXTURES = {
    "karate": lambda: fx.karate(),
    "two_cliques": lambda: fx.two_cliques(),
    "ring_8": lambda: fx.ring(),
    "singleton_pairs": lambda: fx.singleton_pairs(),
    "self_loops": lambda: fx.self_loops_triangle(),
    "weighted_star": lambda: fx.weighted_star(),
    "sbm": lambda: fx.planted_partition()[:4],
}


@pytest.mark.parametrize("name", list(FIXTURES))
def test_phase_parity(spark, name):
    s, d, w, nv = FIXTURES[name]()
    edges = fx.to_spark_edges(spark, (s, d, w, nv))

    o_labels, o_q, o_iters = louvain_oracle_phase(s, d, w, nv)
    # force the distributed shuffle-JOIN superstep path (the adaptive engine
    # would take the driver-local kernel at fixture scale, and the default
    # use_csr_kernel=True would take the packed-CSR path, covered separately
    # by test_csr_kernel_phase_parity)
    pres = louvain_phase(spark, edges, threshold=1e-6,
                         cfg=EngineConfig(local_phase_max_edges=0,
                                          use_csr_kernel=False))

    assert pres.iters == o_iters
    assert pres.q == pytest.approx(o_q, abs=1e-6)
    got = _labels_from_df(pres.assignment, nv)
    assert np.array_equal(got, o_labels), f"{name}: {got} != {o_labels}"


@pytest.mark.parametrize("csr", [False, True])
@pytest.mark.parametrize("name", ["karate", "sbm", "two_cliques"])
def test_full_parity(spark, name, csr):
    s, d, w, nv = FIXTURES[name]()
    edges = fx.to_spark_edges(spark, (s, d, w, nv))

    oracle = louvain_oracle_full(s, d, w, nv)
    res = louvain(spark, edges, EngineConfig(local_phase_max_edges=0,
                                             use_csr_kernel=csr))

    assert res.iters_per_phase == oracle.iters_per_phase
    assert len(res.q_per_phase) == len(oracle.q_per_phase)
    for a, b in zip(res.q_per_phase, oracle.q_per_phase):
        assert a == pytest.approx(b, abs=1e-6)
    got = _labels_from_df(res.labels, nv)
    assert np.array_equal(got, oracle.labels), f"{name}: {got} != {oracle.labels}"


def test_threshold_cycling_parity(spark):
    s, d, w, nv = fx.planted_partition()[:4]
    edges = fx.to_spark_edges(spark, (s, d, w, nv))
    oracle = louvain_oracle_full(s, d, w, nv, threshold_cycling=True)
    res = louvain(spark, edges, EngineConfig(threshold_cycling=True,
                                             local_phase_max_edges=0))
    assert res.iters_per_phase == oracle.iters_per_phase
    for a, b in zip(res.q_per_phase, oracle.q_per_phase):
        assert a == pytest.approx(b, abs=1e-6)
    got = _labels_from_df(res.labels, nv)
    assert np.array_equal(got, oracle.labels)


def test_one_phase_flag(spark):
    s, d, w, nv = fx.karate()
    edges = fx.to_spark_edges(spark, (s, d, w, nv))
    oracle_labels, oracle_q, oracle_iters = louvain_oracle_phase(s, d, w, nv)
    res = louvain(spark, edges, EngineConfig(one_phase=True,
                                             local_phase_max_edges=0))
    assert res.levels == 1
    assert res.q_per_phase[0] == pytest.approx(oracle_q, abs=1e-6)


def test_partition_count_independence(spark):
    """Same labels regardless of input partitioning (shuffle determinism)."""
    s, d, w, nv = fx.karate()
    e1 = fx.to_spark_edges(spark, (s, d, w, nv)).repartition(3)
    e2 = fx.to_spark_edges(spark, (s, d, w, nv)).repartition(11)
    r1 = louvain(spark, e1, EngineConfig(local_phase_max_edges=0))
    r2 = louvain(spark, e2, EngineConfig(local_phase_max_edges=0))
    assert np.array_equal(_labels_from_df(r1.labels, nv), _labels_from_df(r2.labels, nv))
    assert r1.q_per_phase == pytest.approx(r2.q_per_phase, abs=1e-12)


def test_local_path_equals_distributed(spark):
    """The adaptive driver-local CSR path and the distributed superstep
    path produce identical labels and Q."""
    s, d, w, nv = FIXTURES["sbm"]()
    edges = fx.to_spark_edges(spark, (s, d, w, nv))
    r_local = louvain(spark, edges)  # default: local path at this scale
    r_dist = louvain(spark, edges, EngineConfig(local_phase_max_edges=0))
    assert r_local.q_per_phase == pytest.approx(r_dist.q_per_phase, abs=1e-9)
    assert np.array_equal(_labels_from_df(r_local.labels, nv),
                          _labels_from_df(r_dist.labels, nv))


def test_coarse_local_gate_equals_distributed(spark):
    """One gate for every level (local_phase_max_edges): a level 0 above
    it runs distributed and the run moves to the driver at the first
    coarse level that fits, with labels/Q identical to the all-distributed
    run; local_phase_max_edges == 0 (the scaling-bench force-distributed
    contract) keeps every level distributed."""
    from vite_spark.runtime.metrics import MetricsCollector

    s, d, w, nv = FIXTURES["sbm"]()
    edges = fx.to_spark_edges(spark, (s, d, w, nv))
    ne = edges.count()
    m1 = MetricsCollector()
    r_coarse = louvain(spark, edges, EngineConfig(
        local_phase_max_edges=ne - 1), metrics=m1)
    sup1 = [r for r in m1.rows if r.get("kind") == "superstep"]
    assert all(r["mode"] != "local_csr" for r in sup1 if r["level"] == 0)
    assert any(r["mode"] == "local_csr" for r in sup1 if r["level"] >= 1)
    m2 = MetricsCollector()
    r_dist = louvain(spark, edges, EngineConfig(local_phase_max_edges=0),
                     metrics=m2)
    assert all(r["mode"] != "local_csr" for r in m2.rows
               if r.get("kind") == "superstep")
    assert r_coarse.q_per_phase == pytest.approx(r_dist.q_per_phase, abs=1e-12)
    assert np.array_equal(_labels_from_df(r_coarse.labels, nv),
                          _labels_from_df(r_dist.labels, nv))


@pytest.mark.parametrize("name", ["karate", "sbm", "self_loops", "weighted_star"])
def test_csr_kernel_phase_parity(spark, name):
    """The distributed CSR-broadcast Arrow-UDF path (kernels/csr.py) matches
    the oracle exactly — the BASELINE.json core-iteration design."""
    s, d, w, nv = FIXTURES[name]()
    edges = fx.to_spark_edges(spark, (s, d, w, nv))
    o_labels, o_q, o_iters = louvain_oracle_phase(s, d, w, nv)
    pres = louvain_phase(
        spark, edges, threshold=1e-6,
        cfg=EngineConfig(local_phase_max_edges=0, use_csr_kernel=True),
    )
    assert pres.iters == o_iters
    assert pres.q == pytest.approx(o_q, abs=1e-6)
    assert np.array_equal(_labels_from_df(pres.assignment, nv), o_labels)


def test_explicit_salting_identical_results(spark):
    """Two-stage salted L4 aggregation (explicit skew split) produces the
    exact same phase outcome as the direct aggregation."""
    s, d, w, nv = fx.weighted_star(16)
    edges = fx.to_spark_edges(spark, (s, d, w, nv))
    base = louvain_phase(spark, edges, threshold=1e-6,
                         cfg=EngineConfig(local_phase_max_edges=0,
                                          use_csr_kernel=False))
    salted = louvain_phase(
        spark, edges, threshold=1e-6,
        cfg=EngineConfig(local_phase_max_edges=0, use_csr_kernel=False,
                         explicit_salting=True, skew_salt_parts=4,
                         skew_degree_threshold=0),
    )
    assert salted.iters == base.iters
    assert salted.q == pytest.approx(base.q, abs=1e-12)
    assert np.array_equal(_labels_from_df(salted.assignment, nv),
                          _labels_from_df(base.assignment, nv))


@pytest.mark.parametrize("name", ["karate", "sbm"])
def test_vertex_ordering_equals_plain(spark, name):
    """L17 (distLouvainMethodVertexOrder): the reference's color loop never
    mutates currComm/localCinfo between buckets and applies localCupdate
    after ALL colors (louvain.cpp:1379-1418), so the ordered sweep is
    bit-identical to the plain Jacobi sweep. The engine's -o path must
    therefore reproduce the plain oracle exactly."""
    s, d, w, nv = FIXTURES[name]()
    edges = fx.to_spark_edges(spark, (s, d, w, nv))
    oracle = louvain_oracle_full(s, d, w, nv)
    res = louvain(spark, edges,
                  EngineConfig(coloring=True, vertex_ordering=True))
    assert res.final_q == pytest.approx(oracle.q_per_phase[-1], abs=1e-9)
    assert np.array_equal(_labels_from_df(res.labels, nv), oracle.labels)


def test_degree_aware_salting_hub_graph(spark):
    """skew_degree_threshold is LIVE (r1 VERDICT missing#3): on a graph with
    one 512-degree hub, only the hub crosses the threshold; the salted run
    is label- and Q-identical to the unsalted run."""
    s, d, w, nv = fx.weighted_star(512)
    edges = fx.to_spark_edges(spark, (s, d, w, nv))
    base = louvain_phase(spark, edges, threshold=1e-6,
                         cfg=EngineConfig(local_phase_max_edges=0,
                                          use_csr_kernel=False))
    salted = louvain_phase(
        spark, edges, threshold=1e-6,
        cfg=EngineConfig(local_phase_max_edges=0, use_csr_kernel=False,
                         explicit_salting=True, skew_salt_parts=8,
                         skew_degree_threshold=100),
    )
    assert salted.iters == base.iters
    assert salted.q == pytest.approx(base.q, abs=1e-12)
    assert np.array_equal(_labels_from_df(salted.assignment, nv),
                          _labels_from_df(base.assignment, nv))


@pytest.mark.parametrize("name", ["karate", "sbm", "self_loops",
                                  "weighted_star", "two_cliques", "ring_8",
                                  "singleton_pairs"])
def test_csr_sharded_phase_parity(spark, name):
    """The SHARDED-state packed path (kernels/csr_sharded.py — per-
    partition universe + owned-slice state, self-describing move records)
    matches the oracle exactly."""
    s, d, w, nv = FIXTURES[name]()
    edges = fx.to_spark_edges(spark, (s, d, w, nv))
    o_labels, o_q, o_iters = louvain_oracle_phase(s, d, w, nv)
    pres = louvain_phase(
        spark, edges, threshold=1e-6,
        cfg=EngineConfig(local_phase_max_edges=0, use_csr_kernel=True,
                         csr_force_sharded=True),
    )
    assert pres.iters == o_iters
    assert pres.q == pytest.approx(o_q, abs=1e-6)
    assert np.array_equal(_labels_from_df(pres.assignment, nv), o_labels)


@pytest.mark.parametrize("name", ["karate", "sbm"])
def test_csr_sharded_full_parity(spark, name):
    """Full multi-level Louvain through the sharded kernel: identical
    phase trajectory and final labels to the oracle."""
    s, d, w, nv = FIXTURES[name]()
    edges = fx.to_spark_edges(spark, (s, d, w, nv))
    oracle = louvain_oracle_full(s, d, w, nv)
    res = louvain(
        spark, edges,
        EngineConfig(local_phase_max_edges=0, use_csr_kernel=True,
                     csr_force_sharded=True),
    )
    assert res.iters_per_phase == oracle.iters_per_phase
    for a, b in zip(res.q_per_phase, oracle.q_per_phase):
        assert a == pytest.approx(b, abs=1e-6)
    assert np.array_equal(_labels_from_df(res.labels, nv), oracle.labels)


def test_csr_sharded_equals_mirror(spark):
    """Sharded state and full-mirror state are the same algorithm: labels
    and Q bit-identical on a multi-phase run."""
    s, d, w, nv = FIXTURES["sbm"]()
    edges = fx.to_spark_edges(spark, (s, d, w, nv))
    r_mirror = louvain(spark, edges, EngineConfig(
        local_phase_max_edges=0, use_csr_kernel=True))
    r_shard = louvain(spark, edges, EngineConfig(
        local_phase_max_edges=0, use_csr_kernel=True,
        csr_force_sharded=True))
    assert r_mirror.q_per_phase == r_shard.q_per_phase
    assert np.array_equal(_labels_from_df(r_mirror.labels, nv),
                          _labels_from_df(r_shard.labels, nv))


def test_sharded_pack_builder_and_cache(spark, tmp_path):
    """Every sharded level builds its pack through csr_pr._prepare_pack:
    with and without a pack cache the labels, Q and iterations equal the
    oracle's, a second cached run reuses vite_pack (the adjacency files
    are not rewritten), and a non-integer-weight input still declines to
    the join tier unless csr_force_sharded opts in."""
    import os

    from vite_spark.runtime.metrics import MetricsCollector

    s, d, w, nv = FIXTURES["sbm"]()
    oracle = louvain_oracle_full(s, d, w, nv)
    pack = tmp_path / "vite_pack"

    def run(w, **kw):
        m = MetricsCollector()
        res = louvain(spark, fx.to_spark_edges(spark, (s, d, w, nv)),
                      EngineConfig(local_phase_max_edges=0,
                                   shuffle_partitions=4, **kw), metrics=m)
        return res, [(r["tier"], r["reason"]) for r in m.rows
                     if r.get("kind") == "tier"]

    def adjacency():
        return {f: os.path.getmtime(pack / f) for f in os.listdir(pack)
                if f.startswith(("own_", "srcl_"))}

    runs = [run(w, csr_force_sharded=True)]
    for _ in range(2):
        runs.append(run(w, csr_force_sharded=True,
                        pack_cache_dir=str(tmp_path)))
        if len(runs) == 2:
            first = adjacency()
    assert first and adjacency() == first
    for res, tiers in runs:
        assert set(tiers) == {("sharded", None)}
        assert res.iters_per_phase == oracle.iters_per_phase
        assert res.q_per_phase == runs[0][0].q_per_phase
        assert np.array_equal(_labels_from_df(res.labels, nv),
                              oracle.labels)
    # sharded by id width, not forced: non-integer weights take the join
    # tier at level 0
    _, tiers = run(w * 1.5, csr_mirror_max_ids=0)
    assert tiers[0] == ("join", "kernel")


def test_sharded_phase_is_shift_invariant(spark):
    """The sharded kernel's grouping keys are partition-local, so global
    id width does not matter: karate at ids + 2^61 (one partition) yields
    the base run's iterations, Q and labels, shifted."""
    s, d, w, nv = FIXTURES["karate"]()
    cfg = EngineConfig(local_phase_max_edges=0, use_csr_kernel=True,
                       csr_force_sharded=True, shuffle_partitions=1)
    base = louvain_phase(
        spark, fx.to_spark_edges(spark, (s, d, w, nv)), threshold=1e-6,
        cfg=cfg,
    )
    shift = 1 << 61
    big = louvain_phase(
        spark, fx.to_spark_edges(spark, (s + shift, d + shift, w, nv)),
        threshold=1e-6, cfg=cfg,
    )
    assert big.iters == base.iters
    assert big.q == pytest.approx(base.q, abs=1e-9)
    a = big.assignment.orderBy("id").toPandas()
    b = base.assignment.orderBy("id").toPandas()
    assert np.array_equal(a["id"].to_numpy() - shift, b["id"].to_numpy())
    assert np.array_equal(a["comm"].to_numpy() - shift, b["comm"].to_numpy())


def test_key_overflow_guard_routes_to_join(spark, monkeypatch):
    """A sharded pack whose tracked-index key (``max_nown`` ·
    (``max_nux`` + 1)) would reach 2^63 declines in ``_csr_phase``: the
    phase records the ``join`` tier and the join superstep gives the
    oracle's labels. The guard is unreachable at fixture sizes, so the
    pack builder's ``info`` is inflated."""
    from vite_spark.kernels import csr_pr
    from vite_spark.runtime.metrics import MetricsCollector

    real = csr_pr._prepare_pack
    built = []

    def huge(*a, **k):
        prep = real(*a, **k)
        if prep is not None:
            info = dict(prep[2], max_nown=2**62)
            prep = (prep[0], prep[1], info, *prep[3:])
            built.append(prep[0])
        return prep

    monkeypatch.setattr(csr_pr, "_prepare_pack", huge)
    s, d, w, nv = FIXTURES["karate"]()
    o_labels, o_q, o_iters = louvain_oracle_phase(s, d, w, nv)
    m = MetricsCollector()
    pres = louvain_phase(
        spark, fx.to_spark_edges(spark, (s, d, w, nv)), threshold=1e-6,
        cfg=EngineConfig(local_phase_max_edges=0, csr_force_sharded=True,
                         shuffle_partitions=4), metrics=m)
    assert built, "the sharded pack builder did not run"
    assert [(r["tier"], r["reason"]) for r in m.rows
            if r.get("kind") == "tier"] == [("join", "kernel")]
    assert pres.iters == o_iters
    assert pres.q == pytest.approx(o_q, abs=1e-6)
    assert np.array_equal(_labels_from_df(pres.assignment, nv), o_labels)
