"""Louvain's tiers, its driver loop and its checkpoint.

The driver-local tier (default config at fixture scale), the packed tier
(``local_phase_max_edges=0``) and the shuffle-join tier
(``use_csr_kernel=False, local_phase_max_edges=0``) run the same phase and
write the same checkpoint: the same complete supersteps, equal
``assignment``/``past``/``act`` rows and equal ``state.json`` scalars. A
resume (always on the join tier) from any of them reproduces the
uninterrupted run. Each phase records one ``kind="tier"`` row.

A whole ``louvain`` run moves to the driver from the first level that
fits the gate (``_DriverLevels``): it matches the packed and join runs
under every protocol option, writes the same checkpoint tables, resumes,
and leaves no cached block or scratch entry behind."""

from __future__ import annotations

import json
import os

import numpy as np
import pyarrow.parquet as pq
import pytest

from vite_spark import fixtures as fx
from vite_spark.algos.louvain import louvain, louvain_phase, resume_phase
from vite_spark.config import EngineConfig
from vite_spark.runtime import checkpoint as ckpt
from vite_spark.runtime.metrics import MetricsCollector

# the packed tier at four partitions, so each checkpoint table is sharded
TIERS = {
    "join": dict(use_csr_kernel=False, local_phase_max_edges=0),
    "packed": dict(local_phase_max_edges=0, shuffle_partitions=4),
    "local": {},
}


@pytest.fixture
def sbm(spark):
    s, d, w, nv, _ = fx.planted_partition()
    return fx.to_spark_edges(spark, (s, d, w, nv)), nv


def _labels(df, nv):
    out = np.arange(nv, dtype=np.int64)
    for r in df.collect():
        out[r["id"]] = r["comm"]
    return out


def _tiers(m):
    return [(r["tier"], r["reason"]) for r in m.rows
            if r.get("kind") == "tier"]


def _phase(spark, edges, tier, **kw):
    m = MetricsCollector()
    res = louvain_phase(spark, edges, threshold=1e-6,
                        cfg=EngineConfig(**TIERS[tier], **kw), metrics=m)
    assert _tiers(m) == [(tier, None if tier != "join" else "config")]
    return res


def _read_checkpoint(root):
    """{(level, iter): (state, {table: sorted rows})} of the complete
    supersteps."""
    out = {}
    for lv in os.listdir(root):
        for it in os.listdir(os.path.join(root, lv)):
            d = os.path.join(root, lv, it)
            if not os.path.exists(os.path.join(d, "_COMPLETE")):
                continue
            with open(os.path.join(d, "state.json")) as f:
                state = json.load(f)
            tables = {
                t: sorted(zip(*pq.read_table(os.path.join(d, t))
                              .to_pydict().values()))
                for t in ("assignment", "past", "act")
                if os.path.isdir(os.path.join(d, t))
            }
            out[(lv, it)] = (state, tables)
    return out


def _assert_same_checkpoint(a, b):
    assert a.keys() == b.keys()
    for key in a:
        (sa, ta), (sb, tb) = a[key], b[key]
        assert ta == tb, key
        for k in ("iter", "nv", "ne", "early_term", "has_act"):
            assert sa.get(k) == sb.get(k), (key, k)
        for k in ("prev_mod", "two_m"):
            assert sa[k] == pytest.approx(sb[k], abs=1e-12), (key, k)


def test_max_total_iterations_all_tiers(spark, sbm):
    """The iteration cap binds in every tier (the local tier used to run
    on to convergence)."""
    edges, nv = sbm
    got = {t: _phase(spark, edges, t, max_total_iterations=3) for t in TIERS}
    for t, r in got.items():
        assert r.iters == 3, t
        assert r.q == pytest.approx(got["join"].q, abs=1e-12), t
        assert np.array_equal(_labels(r.assignment, nv),
                              _labels(got["join"].assignment, nv)), t


@pytest.mark.parametrize("et", [0, 1], ids=["plain", "et1"])
def test_checkpoint_tiers_agree(spark, sbm, tmp_path, et):
    """Plain runs converge (the breaking iteration is never committed);
    ET runs stop at the cap of 5, which is committed — the join tier's
    ET superstep slows with every iteration (test_heuristics caps it
    the same way)."""
    edges, _ = sbm
    got = {}
    for t in TIERS:
        ck = str(tmp_path / t)
        _phase(spark, edges, t, checkpoint_dir=ck, checkpoint_every=1,
               early_term=et, max_total_iterations=5 if et else 10_000)
        got[t] = _read_checkpoint(ck)
    assert len(got["join"]) >= 3
    for t in ("packed", "local"):
        _assert_same_checkpoint(got[t], got["join"])
    tables = set(next(iter(got["join"].values()))[1])
    assert tables == ({"assignment", "past", "act"} if et
                      else {"assignment", "past"})


@pytest.mark.parametrize("et", [0, 1], ids=["plain", "et1"])
@pytest.mark.parametrize("tier", list(TIERS))
def test_resume_from_each_tier(spark, sbm, tmp_path, tier, et):
    """Killed after 3 supersteps on one tier, resumed on the join tier:
    the uninterrupted labels exactly, its Q within 1e-12."""
    edges, nv = sbm
    ref = louvain_phase(spark, edges, threshold=1e-6,
                        cfg=EngineConfig(early_term=et))
    ck = str(tmp_path / "ck")
    _phase(spark, edges, tier, checkpoint_dir=ck, max_total_iterations=3,
           early_term=et)
    assert ckpt.latest_complete(ck) == (0, 3)
    m = MetricsCollector()
    res = resume_phase(spark, edges, threshold=1e-6, metrics=m,
                       cfg=EngineConfig(checkpoint_dir=ck, early_term=et))
    assert _tiers(m) == [("join", "resume")]
    assert res.iters == ref.iters
    assert res.q == pytest.approx(ref.q, abs=1e-12)
    assert np.array_equal(_labels(res.assignment, nv),
                          _labels(ref.assignment, nv))


def test_stale_shards_not_read(spark, sbm, tmp_path):
    """An earlier run with more partitions left more shards in the same
    iter= dirs; a later run's checkpoint holds only its own."""
    edges, _ = sbm
    ck, fresh = str(tmp_path / "ck"), str(tmp_path / "fresh")
    cfg = dict(local_phase_max_edges=0, checkpoint_dir=ck)
    louvain_phase(spark, edges, threshold=1e-6,
                  cfg=EngineConfig(shuffle_partitions=8, **cfg))
    louvain_phase(spark, edges, threshold=1e-6,
                  cfg=EngineConfig(shuffle_partitions=2, **cfg))
    louvain_phase(spark, edges, threshold=1e-6,
                  cfg=EngineConfig(shuffle_partitions=2,
                                   **{**cfg, "checkpoint_dir": fresh}))
    _assert_same_checkpoint(_read_checkpoint(ck), _read_checkpoint(fresh))
    shards = os.listdir(os.path.join(ckpt.superstep_dir(ck, 0, 1),
                                     "assignment"))
    assert sorted(shards) == ["part-00000.parquet", "part-00001.parquet"]


def test_resume_rejects_other_graph(spark, sbm, tmp_path):
    edges, _ = sbm
    ck = str(tmp_path / "ck")
    louvain_phase(spark, edges, threshold=1e-6,
                  cfg=EngineConfig(checkpoint_dir=ck, max_total_iterations=2))
    s, d, w, nv = fx.karate()
    other = fx.to_spark_edges(spark, (s, d, w, nv))
    with pytest.raises(ValueError, match="another graph"):
        resume_phase(spark, other, threshold=1e-6,
                     cfg=EngineConfig(checkpoint_dir=ck))


def test_tier_rows(spark, sbm, tmp_path, monkeypatch):
    from perfbench.trace import _is_superstep
    from vite_spark.algos.coloring import multi_hash_coloring

    edges, _ = sbm
    ne = edges.count()

    def rows(colors=None, **kw):   # two supersteps: the tier is decided
        m = MetricsCollector()
        louvain_phase(spark, edges, threshold=1e-6, metrics=m, colors=colors,
                      cfg=EngineConfig(max_total_iterations=2, **kw))
        return [(r["tier"], r["reason"], r["ne"], r["nparts"])
                for r in m.rows if r.get("kind") == "tier"]

    # the test session runs 8 shuffle partitions; the packed tier's
    # scale-adaptive pack takes one at this size
    assert rows() == [("local", None, ne, 8)]
    assert rows(local_phase_max_edges=0) == [("packed", None, ne, 1)]
    assert rows(local_phase_max_edges=0, checkpoint_dir=str(tmp_path / "a")) \
        == [("packed", None, ne, 1)]
    assert rows(local_phase_max_edges=0, csr_force_sharded=True) \
        == [("sharded", None, ne, 1)]
    assert rows(local_phase_max_edges=0, use_csr_kernel=False) \
        == [("join", "config", ne, 8)]
    # the sharded and colored kernels write no checkpoint
    assert rows(local_phase_max_edges=0, csr_force_sharded=True,
                checkpoint_dir=str(tmp_path / "b")) \
        == [("join", "checkpoint", ne, 8)]
    colors, _ = multi_hash_coloring(spark, edges)
    assert rows(colors, local_phase_max_edges=0,
                checkpoint_dir=str(tmp_path / "c")) \
        == [("join", "checkpoint", ne, 8)]
    m = MetricsCollector()
    resume_phase(spark, edges, threshold=1e-6, metrics=m,
                 cfg=EngineConfig(checkpoint_dir=str(tmp_path / "a"),
                                  max_total_iterations=3))
    assert _tiers(m) == [("join", "resume")]
    monkeypatch.setattr(spark.sparkContext, "master", "spark://elsewhere:7077")
    assert rows(local_phase_max_edges=0) == [("join", "non_local", ne, 8)]
    assert not _is_superstep("tier")


# the protocol options of a whole run; the ET and colored runs stop at 5
# supersteps a phase (the join tier's ET superstep slows per iteration)
RUNS = {
    "plain": {},
    **{f"et{et}": dict(early_term=et, max_total_iterations=5)
       for et in (1, 2, 3, 4)},
    "coloring": dict(coloring=True, max_total_iterations=5),
    "cycling": dict(threshold_cycling=True),
    "one_phase": dict(one_phase=True),
    "max_phases": dict(max_phases=1),
    "checkpoint": dict(checkpoint_dir=True),
}


def _run(spark, edges, tier, tmp_path=None, metrics=None, **kw):
    if kw.get("checkpoint_dir") is True:
        kw["checkpoint_dir"] = str(tmp_path / tier)
    return louvain(spark, edges, EngineConfig(**TIERS[tier], **kw),
                   metrics=metrics)


def _read_run_tables(root):
    """{table: sorted rows} of every level-edge table and the phase
    state, plus the meta files."""
    out = {}
    for dirpath, _, files in os.walk(root):
        rel = os.path.relpath(dirpath, root)
        if rel.endswith(("edges", "comm_all")):
            out[rel] = sorted(zip(*pq.read_table(dirpath)
                                  .to_pydict().values()))
        for f in files:
            if f.endswith("meta.json"):
                with open(os.path.join(dirpath, f)) as fh:
                    out[os.path.join(rel, f)] = json.load(fh)
    return out


@pytest.mark.parametrize("opt", list(RUNS))
def test_driver_run_matches_distributed(spark, tmp_path, opt):
    """Labels exact, Q within 1e-12 and the same phases and supersteps
    as the packed and join runs; every phase of the default run is on the
    local tier. With a checkpoint dir the three runs also write the same
    level edges, phase state and supersteps."""
    s, d, w, nv = fx.karate()
    edges = fx.to_spark_edges(spark, (s, d, w, nv))
    got = {}
    for tier in TIERS:
        m = MetricsCollector()
        r = _run(spark, edges, tier, tmp_path, metrics=m, **RUNS[opt])
        got[tier] = (r, _labels(r.labels, nv), m)
    ref, ref_lab, _ = got["join"]
    for tier, (r, lab, m) in got.items():
        assert np.array_equal(lab, ref_lab), tier
        assert r.q_per_phase == pytest.approx(ref.q_per_phase, abs=1e-12)
        assert r.iters_per_phase == ref.iters_per_phase, tier
        assert r.levels == ref.levels, tier
    assert {t for t, _ in _tiers(got["local"][2])} == {"local"}
    if opt == "checkpoint":
        tables = {t: _read_run_tables(str(tmp_path / t)) for t in TIERS}
        assert any(k.endswith("edges") for k in tables["local"])
        for t in ("packed", "local"):
            assert tables[t].keys() == tables["join"].keys()
            for k, v in tables["join"].items():
                if not k.endswith("meta.json"):
                    assert tables[t][k] == v, (t, k)
                    continue
                for f, x in v.items():   # q lists and prev_phase_mod: 1e-12
                    exact = not isinstance(x, float) and f != "q_per_phase"
                    assert tables[t][k][f] == (
                        x if exact else pytest.approx(x, abs=1e-12)), (t, k, f)
            _assert_same_checkpoint(_read_checkpoint(str(tmp_path / t)),
                                    _read_checkpoint(str(tmp_path / "join")))


@pytest.mark.parametrize("ck", [False, True], ids=["plain", "checkpoint"])
def test_run_switches_to_driver_mid_run(spark, tmp_path, ck):
    """A gate below level 0's rows: level 0 runs packed, every coarse
    level in the driver (and with a checkpoint dir, the phase state is
    the join of the driver's labels onto the packed level's); the same
    labels and Q as the all-packed run."""
    s, d, w, nv = fx.grid_graph()
    edges = fx.to_spark_edges(spark, (s, d, w, nv))
    ne = edges.count()
    extra = dict(checkpoint_dir=str(tmp_path / "mixed")) if ck else {}
    m = MetricsCollector()
    mixed = louvain(spark, edges, EngineConfig(local_phase_max_edges=ne - 1,
                                               **extra), metrics=m)
    ref = louvain(spark, edges, EngineConfig(local_phase_max_edges=0))
    assert _tiers(m)[0] == ("packed", None)
    assert {t for t, _ in _tiers(m)[1:]} == {"local"}
    assert len(mixed.q_per_phase) >= 3   # the driver accepted coarse phases
    assert np.array_equal(_labels(mixed.labels, nv), _labels(ref.labels, nv))
    assert mixed.q_per_phase == pytest.approx(ref.q_per_phase, abs=1e-12)
    assert mixed.iters_per_phase == ref.iters_per_phase
    if ck:
        st, _ = ckpt.read_phase_state(spark, str(tmp_path / "mixed"))
        assert _labels(st.withColumnRenamed("label", "comm"), nv).tolist() \
            == _labels(mixed.labels, nv).tolist()


@pytest.mark.parametrize("ck", [False, True], ids=["plain", "ckpt"])
def test_gate_boundary(spark, tmp_path, ck):
    """The entry gate (one capped collect) moves exactly at
    ``local_phase_max_edges``: level 0 of ne rows runs in the driver at
    ne and packed at ne - 1 (the coarse levels in the driver), with the
    same labels, Q and iterations."""
    s, d, w, nv = fx.grid_graph()
    edges = fx.to_spark_edges(spark, (s, d, w, nv))
    ne = edges.count()
    runs = {}
    for gate in (ne, ne - 1):
        extra = dict(checkpoint_dir=str(tmp_path / str(gate))) if ck else {}
        m = MetricsCollector()
        res = louvain(spark, edges, EngineConfig(local_phase_max_edges=gate,
                                                 **extra), metrics=m)
        runs[gate] = res, [(r["tier"], r["ne"]) for r in m.rows
                           if r.get("kind") == "tier"]
    (at, rows_at), (below, rows_below) = runs[ne], runs[ne - 1]
    assert rows_at[0] == ("local", ne)
    assert rows_below[0] == ("packed", ne)
    assert {t for t, _ in rows_at + rows_below[1:]} == {"local"}
    assert np.array_equal(_labels(at.labels, nv), _labels(below.labels, nv))
    assert at.q_per_phase == pytest.approx(below.q_per_phase, abs=1e-12)
    assert at.iters_per_phase == below.iters_per_phase


def test_driver_checkpoint_resumes(spark, tmp_path, monkeypatch):
    """A driver run killed after superstep 3 of level 1 resumes through
    louvain(resume=True) from the files the driver wrote (level edges,
    phase state, supersteps) to the uninterrupted labels and Q."""
    s, d, w, nv = fx.grid_graph()
    edges = fx.to_spark_edges(spark, (s, d, w, nv))
    ref = louvain(spark, edges)
    ck = str(tmp_path / "ck")
    real = ckpt.write_superstep_arrays

    def killed(root, level, iter_, *a, **k):
        real(root, level, iter_, *a, **k)
        if (level, iter_) == (1, 3):
            raise RuntimeError("killed")

    monkeypatch.setattr(ckpt, "write_superstep_arrays", killed)
    with pytest.raises(RuntimeError, match="killed"):
        louvain(spark, edges, EngineConfig(checkpoint_dir=ck))
    monkeypatch.undo()
    assert ckpt.latest_complete(ck) == (1, 3)
    m = MetricsCollector()
    res = louvain(spark, edges, EngineConfig(checkpoint_dir=ck), metrics=m,
                  resume=True)
    assert _tiers(m)[0] == ("join", "resume")
    assert np.array_equal(_labels(res.labels, nv), _labels(ref.labels, nv))
    assert res.q_per_phase == pytest.approx(ref.q_per_phase, abs=1e-12)
    assert res.iters_per_phase == ref.iters_per_phase


@pytest.mark.parametrize("opt", ["plain", "checkpoint"])
def test_driver_run_leaves_no_state(spark, tmp_path, opt):
    """No persistent RDD created by the call and no new vite_* scratch
    entry remain after a run in the driver (the input pin is released).
    Not with coloring: multi_hash_coloring returns a localCheckpointed
    frame, which no unpersist releases."""
    import tempfile

    def scratch():
        return {os.path.join(d, f) for d in ("/dev/shm", tempfile.gettempdir())
                if os.path.isdir(d) for f in os.listdir(d)
                if f.startswith("vite_")}

    s, d, w, nv = fx.grid_graph()
    edges = fx.to_spark_edges(spark, (s, d, w, nv))
    jsc = spark.sparkContext._jsc
    before, scratch0 = set(jsc.getPersistentRDDs().keySet()), scratch()
    r = _run(spark, edges, "local", tmp_path, **RUNS[opt])
    r.labels.collect()
    assert set(jsc.getPersistentRDDs().keySet()) <= before
    assert scratch() <= scratch0
