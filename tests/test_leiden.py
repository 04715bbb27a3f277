"""Leiden-style constrained refinement (algos/leiden.py).

- Spark path ≡ independent NumPy mirror exactly (labels) on fixtures and
  random graphs, under random parents AND under 2-sweep Louvain parents.
- refinement RESPECTS parents: every refined community is contained in
  one parent community (the Leiden invariant).
- with a single parent the constraint is vacuous: constrained sweeps ≡
  plain louvain_sweeps labels exactly.
- isolated-within-parent vertices keep their singleton label.
"""

from __future__ import annotations

import numpy as np
import pytest

import vite_spark.fixtures as fx
from vite_spark.algos.leiden import leiden_refine_numpy, leiden_refine_sweeps
from vite_spark.algos.louvain import louvain_sweeps


def _df(spark, s, d, w):
    import pandas as pd

    return spark.createDataFrame(
        pd.DataFrame({"src": s, "dst": d, "weight": w}))


def _parent_df(spark, parent):
    import pandas as pd

    return spark.createDataFrame(
        pd.DataFrame({"id": np.arange(len(parent), dtype=np.int64),
                      "pcomm": parent}))


def _rand_graph(n, m, seed):
    rng = np.random.default_rng(seed)
    a = rng.integers(0, n, m)
    b = rng.integers(0, n, m)
    keep = a != b
    a, b = a[keep], b[keep]
    pairs = np.unique(np.stack([np.concatenate([a, b]),
                                np.concatenate([b, a])], 1), axis=0)
    s, d = pairs[:, 0], pairs[:, 1]
    # make every vertex 0..n-1 appear (wire stragglers into a ring)
    missing = np.setdiff1d(np.arange(n), np.unique(s))
    if len(missing):
        extra_s = np.concatenate([missing, (missing + 1) % n])
        extra_d = np.concatenate([(missing + 1) % n, missing])
        s, d = np.concatenate([s, extra_s]), np.concatenate([d, extra_d])
        pairs = np.unique(np.stack([s, d], 1), axis=0)
        s, d = pairs[:, 0], pairs[:, 1]
    return s.astype(np.int64), d.astype(np.int64), np.ones(len(s))


@pytest.mark.parametrize("seed", [1, 2, 3])
def test_vectorized_sweep_equals_per_vertex_reference(seed):
    """leiden_levels' NumPy sweep (``_jacobi_numpy``, the Louvain
    oracle's vectorized sweep) equals the per-vertex
    ``leiden_refine_numpy`` bit for bit on random weighted graphs with
    duplicate rows and self-loops, with and without parents, for fixed
    and converged sweep counts."""
    from vite_spark.algos.leiden import _jacobi_numpy

    rng = np.random.default_rng(seed)
    n = 80
    s, d, _ = _rand_graph(n, 400, seed)
    dup = rng.choice(len(s), 60, replace=False)
    loops = rng.choice(n, 8, replace=False)
    s = np.concatenate([s, s[dup], d[dup], loops])
    d = np.concatenate([d, d[dup], s[dup], loops])
    pw = rng.random((n, n)) * 3 + 0.1
    w = (pw + pw.T)[s, d]              # symmetric, non-integer
    ident = np.arange(n, dtype=np.int64)
    for parent in (rng.integers(0, 4, n), None):
        for k in (1, 3, None):
            ref = leiden_refine_numpy(
                s, d, w, np.zeros(n, np.int64) if parent is None
                else parent, k)
            got = _jacobi_numpy(s, d, w, ident, k, parent=parent)
            assert np.array_equal(got, ref), (parent is None, k)
            assert not np.array_equal(got, ident)
    # the sums behind the decisions keep the row order: each vertex's
    # weight to its own community, summed row by row
    from vite_spark.oracle.louvain_ref import _phase_sweep_targets_cw

    comm = rng.integers(0, 3, n)
    _, cw = _phase_sweep_targets_cw(s, d, w, comm, np.zeros(n), np.zeros(n),
                                    np.zeros(n), np.ones(n, np.int64), 1.0, n)
    seq = np.zeros(n)
    for a, b, x in zip(s, d, w):
        if comm[a] == comm[b]:
            seq[a] += x
    assert np.array_equal(cw, seq)


@pytest.mark.parametrize("seed", [0, 4])
def test_spark_matches_numpy_random_parents(spark, seed):
    n = 50
    s, d, w = _rand_graph(n, 220, seed)
    rng = np.random.default_rng(seed + 100)
    parent = rng.integers(0, 5, n).astype(np.int64)
    ref = leiden_refine_numpy(s, d, w, parent, k=2)
    out = leiden_refine_sweeps(
        spark, _df(spark, s, d, w), _parent_df(spark, parent), k=2)
    got = {int(r["id"]): (int(r["pcomm"]), int(r["comm"]))
           for r in out.collect()}
    assert got == {v: (int(parent[v]), int(ref[v])) for v in range(n)}


def test_spark_matches_numpy_louvain_parents(spark):
    s, d, w, nv = fx.karate()
    parents = louvain_sweeps(spark, _df(spark, s, d, w), 2)
    pmap = {int(r["id"]): int(r["comm"]) for r in parents.collect()}
    parent = np.array([pmap[v] for v in range(nv)], dtype=np.int64)
    ref = leiden_refine_numpy(s, d, w, parent, k=2)
    out = leiden_refine_sweeps(
        spark, _df(spark, s, d, w),
        parents.withColumnRenamed("comm", "pcomm"), k=2)
    got = {int(r["id"]): int(r["comm"]) for r in out.collect()}
    assert got == {v: int(ref[v]) for v in range(nv)}
    # the Leiden invariant: refined communities nest inside parents
    comm_parent = {}
    for v in range(nv):
        c = got[v]
        assert comm_parent.setdefault(c, pmap[v]) == pmap[v]


def test_single_parent_equals_plain_sweeps(spark):
    s, d, w, nv = fx.karate()
    e = _df(spark, s, d, w)
    plain = {int(r["id"]): int(r["comm"])
             for r in louvain_sweeps(spark, e, 2).collect()}
    one = _parent_df(spark, np.zeros(nv, dtype=np.int64))
    ref = {int(r["id"]): int(r["comm"])
           for r in leiden_refine_sweeps(spark, e, one, k=2).collect()}
    assert ref == plain


def test_isolated_within_parent_stays_singleton(spark):
    # path 0-1-2-3; parents {0,1} and {2,3} except vertex 3 is alone in
    # parent 9 — no within-parent neighbor, must keep label 3
    s = np.array([0, 1, 1, 2, 2, 3])
    d = np.array([1, 0, 2, 1, 3, 2])
    w = np.ones(len(s))
    parent = np.array([0, 0, 1, 9], dtype=np.int64)
    out = leiden_refine_sweeps(
        spark, _df(spark, s, d, w), _parent_df(spark, parent), k=2)
    got = {int(r["id"]): int(r["comm"]) for r in out.collect()}
    assert got[3] == 3
    assert got == {v: int(x) for v, x in enumerate(
        leiden_refine_numpy(s, d, w, parent, 2))}
    # vertices 0,1 share a parent and an edge: they merge
    assert got[0] == got[1]


def test_levels_spark_matches_numpy_karate(spark):
    from vite_spark.algos.leiden import leiden_levels, leiden_levels_numpy

    s, d, w, nv = fx.karate()
    lab = leiden_levels_numpy(s, d, w, levels=2)
    out = leiden_levels(spark, _df(spark, s, d, w), levels=2)
    got = {int(r["id"]): int(r["comm"]) for r in out.collect()}
    assert got == {v: int(lab[v]) for v in range(nv)}


@pytest.mark.parametrize("seed", [2, 8])
def test_levels_spark_matches_numpy_random(spark, seed):
    from vite_spark.algos.leiden import leiden_levels, leiden_levels_numpy

    n = 48
    s, d, w = (lambda t: (t[0], t[1], t[2]))(_rand_graph(n, 200, seed))
    lab = leiden_levels_numpy(s, d, w, levels=2)
    out = leiden_levels(spark, _df(spark, s, d, w), levels=2)
    got = {int(r["id"]): int(r["comm"]) for r in out.collect()}
    assert got == {v: int(lab[v]) for v in range(n)}


def test_levels_one_is_canonicalized_plain_sweeps(spark):
    import collections

    from vite_spark.algos.leiden import leiden_levels

    s, d, w, nv = fx.karate()
    e = _df(spark, s, d, w)
    one = {int(r["id"]): int(r["comm"])
           for r in leiden_levels(spark, e, levels=1).collect()}
    plain = {int(r["id"]): int(r["comm"])
             for r in louvain_sweeps(spark, e, 2).collect()}

    def part(m):
        g = collections.defaultdict(list)
        for k, v in m.items():
            g[v].append(k)
        return sorted(tuple(sorted(x)) for x in g.values())

    assert part(one) == part(plain)
    # canonical labels: every community labeled by its min member
    assert all(c == min(ids) for c, ids in
               ((c, [k for k, v in one.items() if v == c])
                for c in set(one.values())))


def test_levels_improve_modularity_on_karate(spark):
    # the point of the second level: aggregation + parent-init moving
    # strictly improves Q on the karate fixture (deterministic protocol,
    # so the values are pinned as a regression guard)
    from vite_spark.algos.leiden import leiden_levels
    from vite_spark.algos.louvain import modularity_of

    s, d, w, nv = fx.karate()
    e = _df(spark, s, d, w).persist()
    q1 = modularity_of(e, leiden_levels(spark, e, levels=1))
    q2 = modularity_of(e, leiden_levels(spark, e, levels=2))
    assert q2 > q1
    assert round(q1, 6) == 0.191239
    assert round(q2, 6) == 0.260684


def test_levels_local_tier_matches_distributed(spark):
    # adaptive driver-local NumPy tier (graphs under
    # local_phase_max_edges) ≡ the distributed path exactly — including
    # non-dense original ids (densify is monotone)
    from vite_spark.algos.leiden import leiden_levels
    from vite_spark.config import EngineConfig

    s, d, w, nv = fx.karate()
    s2, d2 = s * 7 + 3, d * 7 + 3   # arbitrary (non-dense) ids
    e = _df(spark, s2, d2, w)
    local = {int(r["id"]): int(r["comm"])
             for r in leiden_levels(spark, e, levels=2).collect()}
    dist = {int(r["id"]): int(r["comm"])
            for r in leiden_levels(
                spark, e, levels=2,
                cfg=EngineConfig(local_phase_max_edges=0)).collect()}
    assert local == dist
    assert len(local) == nv


def test_converged_spark_matches_numpy(spark):
    """leiden() (all phases to convergence, levels until no shrink) ≡
    leiden_levels_numpy with the same None parameters — the Louvain L13
    exact-parity pattern — on karate AND a planted-partition fixture."""
    from vite_spark.algos.leiden import leiden, leiden_levels_numpy

    pp = fx.planted_partition()
    for s, d, w, nv in (fx.karate(), pp[:4]):
        lab = leiden_levels_numpy(s, d, w, levels=None,
                                  move_sweeps=None, refine_sweeps=None)
        got = {int(r["id"]): int(r["comm"])
               for r in leiden(spark, _df(spark, s, d, w)).collect()}
        assert got == {v: int(lab[v]) for v in range(nv)}


def test_converged_distributed_tier_matches_local(spark):
    from vite_spark.algos.leiden import leiden
    from vite_spark.config import EngineConfig

    s, d, w, nv = fx.karate()
    e = _df(spark, s, d, w)
    local = {int(r["id"]): int(r["comm"])
             for r in leiden(spark, e).collect()}
    dist = {int(r["id"]): int(r["comm"])
            for r in leiden(
                spark, e, cfg=EngineConfig(local_phase_max_edges=0))
            .collect()}
    assert local == dist
    assert len(local) == nv


def test_converged_improves_modularity_two_fixtures(spark):
    """Converged Leiden's Q must be ≥ the fixed 2-level protocol's on
    karate AND the planted-partition fixture (the r4 VERDICT next#6
    second-fixture pin); values pinned as regression guards."""
    from vite_spark.algos.leiden import leiden, leiden_levels
    from vite_spark.algos.louvain import modularity_of

    pins = {}
    for name, (s, d, w, nv) in (("karate", fx.karate()),
                                ("planted", fx.planted_partition()[:4])):
        e = _df(spark, s, d, w).persist()
        q_fixed = modularity_of(e, leiden_levels(spark, e, levels=2))
        q_conv = modularity_of(e, leiden(spark, e))
        assert q_conv >= q_fixed - 1e-12, (name, q_conv, q_fixed)
        pins[name] = round(q_conv, 6)
        e.unpersist()
    # deterministic protocol — floor pins as regression guards
    assert pins["karate"] > 0.25
    assert pins["planted"] > 0.0


def test_converged_stop_rule_ignores_ulp_gains():
    """The converged protocol continues only on a Q gain above
    1e-12·max(1, |Q|): ties and ULP-close pairs (the two paths' sums in
    different orders) stop."""
    from vite_spark.algos.leiden import _q_improved

    for q in (0.0, 0.41, -0.3, 2.5, 1e-20):
        assert not _q_improved(q, q)
        ulp = np.spacing(max(1.0, abs(q)))
        for k in (1, 4, 64):
            assert not _q_improved(q + k * ulp, q), (q, k)
            assert not _q_improved(q - k * ulp, q), (q, k)
        assert _q_improved(q + 1e-9 * max(1.0, abs(q)), q)
        assert not _q_improved(q - 1e-9, q)
    assert not _q_improved(float("nan"), 0.3)
    assert not _q_improved(0.3, float("nan"))
