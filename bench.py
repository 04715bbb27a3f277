#!/usr/bin/env python
"""Benchmark harness.

Default: run the headline queries at $SPARK_GRAFT_SF_DIR (default
/root/testdata/sf0.1) on local[$SPARK_GRAFT_CPUS] and print ONE JSON line:
  {"metric": "...", "value": <total sec>, "unit": "sec",
   "queries": {...per-query sec...}, "sf": ..., "louvain_edges_per_sec": ...}

--scaling: the BASELINE.json two-cluster-size evidence — the same Louvain
superstep job on the same (larger, deterministic) input at local[N] and
local[4N]; reports throughput at both + scaling efficiency, and appends the
table to BENCH.md.
"""

from __future__ import annotations

import argparse
import json
import os
import sys
import time


def _sf_value(sf_dir: str) -> float:
    import re

    m = re.search(r"sf([0-9.]+)", sf_dir)
    return float(m.group(1)) if m else -1.0


def make_spark(cores: int | str, shuffle_parts: int | None = None):
    from vite_spark.session import get_spark

    return get_spark(app_name="vite_spark_bench", cores=cores,
                     shuffle_partitions=shuffle_parts)


def run_headline(spark, sf_dir: str, reps: int | None = None) -> dict:
    """Headline suite with INTERLEAVED full-suite repeats and per-query
    medians (same discipline --scaling learned in r2: this host's noise
    comes in multi-minute windows with 2-4x swings, so a single-shot
    headline number is weather — r2's apparent 43% regression was exactly
    that). reps defaults to $SPARK_GRAFT_HEADLINE_REPS or 3; per-rep values
    are reported alongside the medians so any window effect is visible."""
    import statistics

    if reps is None:
        reps = int(os.environ.get("SPARK_GRAFT_HEADLINE_REPS", "3"))
    per_rep: list[dict] = []
    extra: dict = {}
    for i in range(reps):
        t, e = _headline_once(spark, sf_dir)
        per_rep.append(t)
        if i == 0:
            extra = e          # deterministic values (q, supersteps, edges)
        else:
            # throughput metrics: keep per-rep, median below
            for k in ("louvain_edges_per_sec", "TEPS"):
                extra[f"_{k}_reps"] = extra.get(f"_{k}_reps", [extra[k]]) + [e[k]]
    timings = {
        q: round(statistics.median(r[q] for r in per_rep), 3)
        for q in per_rep[0]
    }
    for k in ("louvain_edges_per_sec", "TEPS"):
        vals = extra.pop(f"_{k}_reps", None)
        if vals:
            extra[k] = round(statistics.median(vals), 1)
    return {
        "timings": timings,
        "extra": {
            **extra,
            "headline_reps": reps,
            "queries_per_rep": per_rep,
        },
    }


def _headline_once(spark, sf_dir: str) -> tuple[dict, dict]:
    from pyspark.sql import functions as F

    from vite_spark.algos.louvain import louvain
    from vite_spark.config import EngineConfig
    from vite_spark.derive import lineitem_part_edges
    from vite_spark.queries import (
        q_ann_topk,
        q_cc_sizes,
        q_minhash_pairs,
        q_pagerank,
        q_quality,
        q_simhash,
        q_triangles_total,
    )
    from vite_spark.runtime.metrics import MetricsCollector

    timings: dict[str, float] = {}
    extra: dict = {}

    def timed(name, fn):
        t0 = time.time()
        out = fn()
        timings[name] = round(time.time() - t0, 3)
        return out

    # graph build once per rep (also timed — it is a real operator)
    t0 = time.time()
    edges = lineitem_part_edges(spark, sf_dir).persist()
    ne = edges.count()
    timings["graph_build"] = round(time.time() - t0, 3)
    extra["edges"] = ne

    metrics = MetricsCollector()
    t0 = time.time()
    res = louvain(spark, edges, EngineConfig(), metrics=metrics)
    res.labels.count()
    timings["louvain"] = round(time.time() - t0, 3)
    tot = metrics.totals()
    extra["louvain_q"] = round(res.final_q, 6)
    extra["louvain_supersteps"] = tot["supersteps"]
    extra["louvain_edges_per_sec"] = round(tot["edges_per_sec"], 1)
    # reference end-of-run metrics (main.cpp:466,528-529)
    extra["TEPS"] = round(tot["edges_per_sec"], 1)
    extra["MODS"] = round(res.final_q * tot["wall_s"], 4)

    timed("pagerank10", lambda: q_pagerank(spark, sf_dir).count())
    timed("connected_components", lambda: q_cc_sizes(spark, sf_dir).count())
    timed("triangles", lambda: q_triangles_total(spark, sf_dir).collect())
    timed("minhash_lsh_dedup", lambda: q_minhash_pairs(spark, sf_dir).count())
    timed("ann_cosine_topk", lambda: q_ann_topk(spark, sf_dir).count())
    timed("simhash", lambda: q_simhash(spark, sf_dir).count())
    timed("quality_scores", lambda: q_quality(spark, sf_dir).count())

    edges.unpersist()   # keep executor storage flat across repeats
    return timings, extra


def superstep_throughput(spark, edges, iters: int = 5, warmup: int = 2,
                         csr: bool = True, sharded: bool = False,
                         metrics=None) -> float:
    """edges/sec per Louvain superstep (BASELINE.md metric): run `iters`
    fixed supersteps, report the mean of the post-warmup ones (the first
    pay one-off costs: python worker spin-up, cache build, first broadcast)."""
    from vite_spark.algos.louvain import louvain_phase
    from vite_spark.config import EngineConfig
    from vite_spark.runtime.metrics import MetricsCollector

    m = metrics if metrics is not None else MetricsCollector()
    # force a distributed superstep path — this measures cluster scaling;
    # csr=True uses the CSR-broadcast Arrow kernel (the flagship design),
    # csr=False the shuffle-join path (the very-large-nv fallback)
    # sharded=True forces the O(nv/p + |universe_p|) sharded-state kernel
    # (the path any graph beyond csr_mirror_max_ids dense ids takes)
    scratch = "/dev/shm" if os.path.isdir("/dev/shm") else None
    cfg = EngineConfig(
        max_total_iterations=iters, local_phase_max_edges=0,
        use_csr_kernel=csr, csr_force_sharded=sharded,
        scratch_dir=scratch,   # tmpfs: no disk writeback in the hot loop
        # persistent pack reuse across the interleaved reps (the
        # fileConvert-once analog): the pack is identical for every rep
        # (same input/partitioning); only measured supersteps recompute
        pack_cache_dir=os.environ.get("SPARK_GRAFT_PACK_CACHE") or None,
    )
    louvain_phase(spark, edges, threshold=-1e9, cfg=cfg, metrics=m)
    # threshold=-1e9 forces `iters` full supersteps (never converges early).
    # Throughput = total edges / total wall over the measured supersteps
    # (NOT the mean of per-superstep rates, which overweights the light
    # near-converged tail sweeps).
    sup = [r for r in m.rows if r.get("kind") == "superstep"][warmup:]
    wall = sum(r["wall_s"] for r in sup)
    return sum(r["edges_processed"] for r in sup) / wall


def pagerank_throughput(spark, edges, iters: int = 5, warmup: int = 1,
                        packed: bool = True, metrics=None) -> float:
    """edges/sec per PageRank iteration — the secondary scaling probe
    (the north rule names PageRank/CC/LPA/triangles alongside Louvain).
    packed=True runs the packed-CSR sharded-pack kernel
    (kernels/csr_pr.py — the engine's production path); packed=False the
    generic join+agg superstep shape (the multi-cluster fallback, kept as
    a measured reference point). tol=-1 forces exactly `iters` full
    iterations."""
    from vite_spark.algos.pagerank import pagerank
    from vite_spark.config import EngineConfig
    from vite_spark.runtime.metrics import MetricsCollector

    m = metrics if metrics is not None else MetricsCollector()
    ne = edges.count()
    scratch = "/dev/shm" if os.path.isdir("/dev/shm") else None
    cfg = EngineConfig(
        use_csr_kernel=packed,
        scratch_dir=scratch,
        pack_cache_dir=os.environ.get("SPARK_GRAFT_PACK_CACHE") or None,
    )
    pagerank(spark, edges, tol=-1.0, max_iter=iters, cfg=cfg, metrics=m)
    sup = [r for r in m.rows if r.get("kind") == "pagerank_superstep"][warmup:]
    wall = sum(r["wall_s"] for r in sup)
    return ne * len(sup) / wall


def lpa_throughput(spark, edges, iters: int = 5, warmup: int = 1,
                   packed: bool = True, metrics=None) -> float:
    """edges/sec per label-propagation iteration — third scaling probe
    (the north rule names PageRank/CC/LPA/triangles alongside Louvain).
    packed=True runs the packed-CSR sharded-pack kernel
    (kernels/csr_lpa.py — owner-authored dense label exchange, one job
    per iteration); packed=False the generic join+agg vote shape. LPA
    stops early only when NO label changes; on the ring-lattice scaling
    input labels keep moving for far more than `iters` sweeps, so every
    rep runs exactly `iters` full iterations (asserted below)."""
    from vite_spark.algos.lpa import label_propagation
    from vite_spark.config import EngineConfig
    from vite_spark.runtime.metrics import MetricsCollector

    m = metrics if metrics is not None else MetricsCollector()
    ne = edges.count()
    scratch = "/dev/shm" if os.path.isdir("/dev/shm") else None
    cfg = EngineConfig(
        use_csr_kernel=packed,
        scratch_dir=scratch,
        pack_cache_dir=os.environ.get("SPARK_GRAFT_PACK_CACHE") or None,
    )
    label_propagation(spark, edges, max_iter=iters, cfg=cfg, metrics=m)
    sup = [r for r in m.rows if r.get("kind") == "lpa_superstep"][warmup:]
    assert len(sup) == iters - warmup, (
        f"LPA converged early ({len(sup) + warmup}/{iters} iters) — "
        "throughput would mix a partial sweep; grow the input")
    wall = sum(r["wall_s"] for r in sup)
    return ne * len(sup) / wall


def cc_throughput(spark, edges, reps: int = 2, metrics=None) -> float:
    """edges/sec for a FULL connected-components run on the JOIN path
    (min-label propagation, one shuffle join + grouped min per superstep,
    to fixpoint) — unlike the iterative probes this is a whole-job number:
    the iteration count is data-determined and identical at every
    parallelism level, so edges/total-wall compares cleanly. The first run
    is the warmup (python worker spin-up, parquet page cache); the LAST
    run is the measurement. (An earlier BENCH.md row labeled this probe
    "cc_star_fixpoint"; it has always measured the min-label join
    fixpoint — the star algorithm is `connected_components_twophase` and
    was never the probe. Corrected in place.)"""
    from vite_spark.algos.components import connected_components
    from vite_spark.config import EngineConfig
    from vite_spark.runtime.metrics import MetricsCollector

    m = metrics if metrics is not None else MetricsCollector()
    ne = edges.count()
    cfg = EngineConfig(use_csr_kernel=False)
    wall = None
    for _ in range(max(2, reps)):
        t0 = time.time()
        connected_components(spark, edges, cfg=cfg, metrics=m).count()
        wall = time.time() - t0
        m.record(kind="cc_job", wall_s=wall, edges=ne)
    return ne / wall


def msf_throughput(spark, edges, reps: int = 2, metrics=None) -> float:
    """edges/sec for a FULL Borůvka minimum-spanning-forest run
    (round-compacted: edge-level labels, monotone candidate shrink, and
    the adaptive driver-local/broadcast contraction tier — see
    algos/msf.py). Whole-job number like cc_fixpoint:
    the round count is data-determined and identical at every
    parallelism level, so edges/total-wall compares cleanly. First run
    warms (python workers, parquet page cache); the LAST run measures.

    Weights are replaced by a DETERMINISTIC hash of (src, dst): the
    synth scaling input is uniform-weight, under which the (weight,
    src, dst) total order makes every vertex pick its lowest-id
    neighbor — on the ring lattice those picks chain into ONE component
    and Borůvka degenerates to a single round ending in a pathological
    1M-vertex-chain contraction. Hashed weights restore the generic
    multi-round structure the operator actually has on real data;
    identical bytes at both parallelism levels."""
    from pyspark.sql import functions as F

    from vite_spark.algos.msf import minimum_spanning_forest
    from vite_spark.runtime.metrics import MetricsCollector

    m = metrics if metrics is not None else MetricsCollector()
    edges = edges.withColumn(
        "weight",
        (F.pmod(F.xxhash64("src", "dst"), F.lit(1_000_000)) + F.lit(1))
        .cast("double"),
    )
    ne = edges.count()
    wall = None
    for _ in range(max(2, reps)):
        t0 = time.time()
        minimum_spanning_forest(spark, edges, metrics=m).count()
        wall = time.time() - t0
        m.record(kind="msf_job", wall_s=wall, edges=ne)
    return ne / wall


def truss_throughput(spark, edges, k: int | None = None, reps: int = 2,
                     variant: str = "frontier", metrics=None) -> float:
    """edges/sec for a FULL k-truss peel to fixpoint. Whole-job number
    like msf_throughput: the round count is data-determined and
    identical at every parallelism level. variant="frontier" runs the
    maintained-support peel (decrements enumerated from deleted edges —
    per-round cost ∝ the deleted frontier); "recompute" runs the
    full-wedge-join-per-round reference shape. SPARK_GRAFT_TRUSS_K
    overrides k (default 4 — k=3 deletes nothing on triangle-bearing
    graphs until supports hit 0, k=4 actually peels)."""
    from vite_spark.algos.truss import ktruss, ktruss_recompute
    from vite_spark.runtime.metrics import MetricsCollector

    m = metrics if metrics is not None else MetricsCollector()
    ne = edges.count()
    k = k if k is not None else int(os.environ.get("SPARK_GRAFT_TRUSS_K", "4"))
    fn = ktruss if variant == "frontier" else ktruss_recompute
    wall = None
    for _ in range(max(2, reps)):
        t0 = time.time()
        fn(spark, edges, k, metrics=m).count()
        wall = time.time() - t0
        m.record(kind="ktruss_job", wall_s=wall, edges=ne)
    return ne / wall


def cc_superstep_throughput(spark, edges, iters: int = 5, warmup: int = 1,
                            packed: bool = True, metrics=None) -> float:
    """edges/sec per connected-components superstep — the production-path
    probe for the fourth north-rule-named algorithm. packed=True runs the
    packed-CSR sharded-pack kernel (kernels/csr_cc.py — owner-authored
    dense label exchange, gather + minimum.reduceat per iteration, one
    job per iteration); packed=False the generic join+agg min shape. On
    the ring-lattice scaling input the minimum label travels ~avg_deg/2
    ring positions per iteration, so labels keep changing for far more
    than `iters` sweeps — every rep runs exactly `iters` full iterations
    (asserted below, same discipline as lpa_throughput)."""
    from vite_spark.algos.components import connected_components
    from vite_spark.config import EngineConfig
    from vite_spark.runtime.metrics import MetricsCollector

    m = metrics if metrics is not None else MetricsCollector()
    ne = edges.count()
    scratch = "/dev/shm" if os.path.isdir("/dev/shm") else None
    cfg = EngineConfig(
        use_csr_kernel=packed,
        scratch_dir=scratch,
        pack_cache_dir=os.environ.get("SPARK_GRAFT_PACK_CACHE") or None,
    )
    connected_components(spark, edges, max_iter=iters, cfg=cfg, metrics=m)
    sup = [r for r in m.rows if r.get("kind") == "cc_superstep"][warmup:]
    assert len(sup) == iters - warmup, (
        f"CC converged early ({len(sup) + warmup}/{iters} iters) — "
        "throughput would mix a partial sweep; grow the input")
    wall = sum(r["wall_s"] for r in sup)
    return ne * len(sup) / wall


def triangles_throughput(spark, edges, reps: int = 2, packed: bool = True,
                         metrics=None) -> float:
    """edges/sec for a FULL global triangle count. packed=True runs the
    packed-CSR kernel (kernels/csr_tri.py — rank-relabeled oriented pack,
    ONE count job: local wedges probed in place against pack coordinates,
    remote residue batched against the owners' immutable own/ux/krw index
    files via read-only mmap; the pack cache makes reps after the first
    measure only the count job, like every other packed probe);
    packed=False the degree-oriented wedge-JOIN shape (two shuffles of the
    O(Σ outdeg²) wedge table — the multi-cluster fallback, kept as the
    measured reference point). Whole-job wall like cc_throughput; warmup
    runs first, last run measured; the exact integer total must be
    identical across reps (asserted). NOTE: wedge volume grows with the
    square of the oriented degree — run this probe on a lighter input
    than the Louvain cert (e.g. SPARK_GRAFT_SCALING_DEG=16), or the
    4-core level dominates the session."""
    from vite_spark.algos.triangles import triangle_count
    from vite_spark.config import EngineConfig
    from vite_spark.runtime.metrics import MetricsCollector

    m = metrics if metrics is not None else MetricsCollector()
    ne = edges.count()
    scratch = "/dev/shm" if os.path.isdir("/dev/shm") else None
    cfg = EngineConfig(
        use_csr_kernel=packed,
        scratch_dir=scratch,
        pack_cache_dir=os.environ.get("SPARK_GRAFT_PACK_CACHE") or None,
    )
    wall = None
    totals = []
    for _ in range(max(2, reps)):
        t0 = time.time()
        totals.append(triangle_count(spark, edges, cfg=cfg, metrics=m))
        wall = time.time() - t0
        m.record(kind="triangles_job", wall_s=wall, edges=ne,
                 triangles=totals[-1])
    assert len(set(totals)) == 1, \
        f"triangle total varied across reps: {totals}"
    return ne / wall


def hits_throughput(spark, edges, iters: int = 5, warmup: int = 1,
                    packed: bool = True, metrics=None) -> float:
    """edges/sec per HITS iteration (one Aᵀ + one A matvec — TWO packed
    jobs, the barrier inherent to the alternating recurrence).
    packed=True measures the packed kernel's per-iteration walls
    (kernels/csr_hits.py records one hits_superstep row per merge+scatter
    pair; the t=0 bootstrap scatter and `warmup` first iterations are
    excluded, same discipline as pagerank_throughput); packed=False the
    join+agg shape, whole-job wall (its supersteps are lazy, so
    per-superstep walls don't exist — cc_throughput's convention:
    first run warms up, second is measured)."""
    from vite_spark.algos.centrality import hits
    from vite_spark.config import EngineConfig
    from vite_spark.runtime.metrics import MetricsCollector

    m = metrics if metrics is not None else MetricsCollector()
    ne = edges.count()
    scratch = "/dev/shm" if os.path.isdir("/dev/shm") else None
    cfg = EngineConfig(
        use_csr_kernel=packed,
        scratch_dir=scratch,
        pack_cache_dir=os.environ.get("SPARK_GRAFT_PACK_CACHE") or None,
    )
    if packed:
        hits(spark, edges, iters=iters, cfg=cfg, metrics=m).count()
        sup = [r for r in m.rows
               if r.get("kind") == "hits_superstep"
               and r.get("mode") == "csr_sharded_hits"
               and r.get("iter", 0) >= 1][warmup:]
        assert sup, "packed HITS kernel did not run (fallback?)"
        wall = sum(r["wall_s"] for r in sup)
        return ne * len(sup) / wall
    wall = None
    for _ in range(2):
        t0 = time.time()
        hits(spark, edges, iters=iters, cfg=cfg, metrics=m).count()
        wall = time.time() - t0
        m.record(kind="hits_job", wall_s=wall, edges=ne)
    return ne * iters / wall


def bfs_throughput(spark, edges, iters: int = 5, warmup: int = 1,
                   landmarks=(0, 1_000, 2_000, 3_000),
                   packed: bool = True, metrics=None) -> float:
    """edges/sec per multi-source-BFS superstep. The packed kernel
    (kernels/csr_bfs.py) is a DENSE relaxation: every superstep gathers
    the (|U_p|, L) distance block and takes the per-src 2-D neighbor min
    over ALL edges — work is |E|·L per superstep regardless of frontier
    size, so fixed-iteration interleaved timing compares cleanly across
    parallelism levels (the ring-lattice input's frontier never dies
    inside the probe window). Reported rate is edges/sec per superstep
    at L = len(landmarks) (L is identical at both levels — a width
    constant, like PageRank's one-column state). max_iter = iters caps
    the run; `warmup` first supersteps excluded (pagerank_throughput's
    convention). packed=False measures the join+agg frontier shape."""
    from vite_spark.algos.bfs import shortest_paths
    from vite_spark.config import EngineConfig
    from vite_spark.runtime.metrics import MetricsCollector

    m = metrics if metrics is not None else MetricsCollector()
    ne = edges.count()
    scratch = "/dev/shm" if os.path.isdir("/dev/shm") else None
    cfg = EngineConfig(
        use_csr_kernel=packed,
        scratch_dir=scratch,
        pack_cache_dir=os.environ.get("SPARK_GRAFT_PACK_CACHE") or None,
    )
    shortest_paths(spark, edges, list(landmarks), max_iter=iters,
                   cfg=cfg, metrics=m).count()
    sup = [r for r in m.rows if r.get("kind") == "bfs_superstep"][warmup:]
    if packed:
        assert all(r.get("mode") == "csr_sharded_bfs" for r in sup), \
            "packed BFS kernel did not run (fallback?)"
    wall = sum(r["wall_s"] for r in sup)
    return ne * len(sup) / wall


def core_throughput(spark, edges, warmup: int = 1, iters: int | None = None,
                    packed: bool = True, metrics=None) -> float:
    """edges/sec per k-core H-index superstep. Every superstep is a full
    gather over all edges (each vertex recomputes the H-index of its
    neighbors' current values), so per-superstep walls compare cleanly
    across parallelism levels. ``iters`` FORCES exactly that many sweeps
    (force_iters: the converged-early stop is disabled; post-convergence
    sweeps are fixpoint no-ops doing the identical gather/compute, so
    each forced sweep measures the kernel's steady per-superstep cost).
    Forcing rather than capping is required here: the near-regular
    ring+rewire scaling input reaches the H-index fixpoint in ~2 sweeps
    — too few to measure — while real heavy-tailed graphs take dozens.
    iters=None runs the data-determined fixpoint."""
    from vite_spark.algos.core import coreness
    from vite_spark.config import EngineConfig
    from vite_spark.runtime.metrics import MetricsCollector

    m = metrics if metrics is not None else MetricsCollector()
    ne = edges.count()
    scratch = "/dev/shm" if os.path.isdir("/dev/shm") else None
    cfg = EngineConfig(
        use_csr_kernel=packed,
        scratch_dir=scratch,
        pack_cache_dir=os.environ.get("SPARK_GRAFT_PACK_CACHE") or None,
    )
    coreness(spark, edges, cfg=cfg, metrics=m,
             **({} if iters is None
                else {"max_iter": iters, "force_iters": True})).count()
    sup = [r for r in m.rows if r.get("kind") == "core_superstep"][warmup:]
    if packed:
        # the driver tier shares the mode but splits one wall evenly
        # across its sweeps: only the sharded job loop has per-sweep walls
        tiers = [r["tier"] for r in m.rows if r.get("kind") == "tier"]
        assert tiers[-1:] == ["sharded"] and all(
            r.get("mode") == "csr_sharded_hindex" for r in sup), \
            f"packed k-core sharded loop did not run (tiers {tiers})"
    assert len(sup) >= 2, f"input converged too fast ({len(sup)} measured)"
    wall = sum(r["wall_s"] for r in sup)
    return ne * len(sup) / wall


def wl_throughput(spark, edges, iters: int = 5, warmup: int = 1,
                  packed: bool = True, metrics=None) -> float:
    """edges/sec per WL color-refinement round. packed=True runs the
    sharded-CSR kernel (kernels/csr_wl.py — one job per round over the
    pack shared with k-core, asserted via the metrics mode); False runs
    the DataFrame-native join shape (one edges ⋈ labels join + two hash
    aggregations per round, Jenkins chain fully inside whole-stage
    codegen, algos/wl.py). Every round touches all edges exactly once,
    so per-round walls compare cleanly across parallelism levels; the
    labels argument of round t is data-dependent but identically so at
    both levels (deterministic hash ladder)."""
    from vite_spark.algos.wl import wl_refine
    from vite_spark.config import EngineConfig
    from vite_spark.runtime.metrics import MetricsCollector

    m = metrics if metrics is not None else MetricsCollector()
    ne = edges.count()
    scratch = "/dev/shm" if os.path.isdir("/dev/shm") else None
    cfg = EngineConfig(
        use_csr_kernel=packed,
        scratch_dir=scratch,
        pack_cache_dir=os.environ.get("SPARK_GRAFT_PACK_CACHE") or None,
    )
    wl_refine(spark, edges, rounds=iters, metrics=m, cfg=cfg).count()
    sup = [r for r in m.rows if r.get("kind") == "wl_round"][warmup:]
    if packed:
        assert all(r.get("mode") == "wl_csr_sharded" for r in sup), \
            "packed WL kernel did not run (fallback?)"
    assert len(sup) >= 2
    wall = sum(r["wall_s"] for r in sup)
    return ne * len(sup) / wall


def synth_edges(spark, n_vertices: int = 200_000, avg_deg: int = 16,
                seed: int = 42, parts: int = 64):
    """Deterministic synthetic edge table for the scaling run (seeded LCG
    ring-lattice + random rewires, generated in parallel via mapInPandas —
    reproduces the spirit of the reference RGG generator G2 at any size)."""
    from pyspark.sql import functions as F
    from pyspark.sql.types import DoubleType, LongType, StructField, StructType

    schema = StructType([
        StructField("src", LongType(), False),
        StructField("dst", LongType(), False),
        StructField("weight", DoubleType(), False),
    ])
    part_df = spark.range(parts).select(F.col("id").alias("pid"))

    half = avg_deg // 2

    def gen(pdf_iter):
        import numpy as np
        import pandas as pd

        for pdf in pdf_iter:
            for pid in pdf["pid"]:
                lo = n_vertices * pid // parts
                hi = n_vertices * (pid + 1) // parts
                ids = np.arange(lo, hi, dtype=np.int64)
                rng = np.random.default_rng(seed + pid)
                srcs, dsts = [], []
                for k in range(1, half + 1):
                    srcs.append(ids)
                    dsts.append((ids + k) % n_vertices)
                # 10% random long-range edges for community structure noise
                nrand = max(1, len(ids) // 10)
                srcs.append(rng.choice(ids, nrand))
                dsts.append(rng.integers(0, n_vertices, nrand, dtype=np.int64))
                s = np.concatenate(srcs)
                d = np.concatenate(dsts)
                m = s != d
                s, d = s[m], d[m]
                yield pd.DataFrame({
                    "src": np.r_[s, d], "dst": np.r_[d, s],
                    "weight": np.ones(2 * len(s)),
                })

    e = part_df.repartition(parts, "pid").mapInPandas(gen, schema=schema)
    return e.groupBy("src", "dst").agg(F.sum("weight").alias("weight"))


# 2M vertices × ~128 degree ≈ 256M directed rows: large enough that the
# parallel sweep dominates the fixed per-superstep job overhead at 16
# cores (at 128M rows the overhead floor capped efficiency near 0.8).
# SPARK_GRAFT_SCALING_NV / _DEG override the input shape — e.g. NV=24M
# runs the SHARDED-state kernel (the engine auto-switches beyond
# csr_mirror_max_ids dense ids), the path the r2 verdict asked to measure.
_NV_DEFAULT, _DEG_DEFAULT = 2_000_000, 128
SCALING_NV = int(os.environ.get("SPARK_GRAFT_SCALING_NV", _NV_DEFAULT))
SCALING_DEG = int(os.environ.get("SPARK_GRAFT_SCALING_DEG", _DEG_DEFAULT))
SCALING_PARQUET = (
    "/tmp/vite_spark_scaling_edges_v2.parquet"
    if (SCALING_NV, SCALING_DEG) == (_NV_DEFAULT, _DEG_DEFAULT)
    else f"/tmp/vite_spark_scaling_edges_nv{SCALING_NV}_d{SCALING_DEG}.parquet"
)


def run_scaling(n_low: int, sf_dir: str) -> dict:
    import os as _os

    # the ~128M-row cached edge table + per-superstep broadcasts need heap;
    # identical setting for both parallelism levels
    _os.environ.setdefault("SPARK_DRIVER_MEMORY", "48g")
    n_high = 4 * n_low

    # generate the input ONCE (deterministic) — both parallelism levels
    # must see the same bytes (BASELINE.json: "same input both runs")
    if not _os.path.exists(SCALING_PARQUET):
        spark = make_spark(32, shuffle_parts=64)
        try:
            synth_edges(
                spark, n_vertices=SCALING_NV, avg_deg=SCALING_DEG, parts=128
            ).write.mode("overwrite").parquet(SCALING_PARQUET)
        finally:
            spark.stop()

    # hard CPU affinity per measurement: in local mode `local[N]` caps JVM
    # task slots but NOT the Arrow python workers — without taskset the
    # "8-core" run borrows the other 24 cores and the comparison is
    # meaningless. taskset -c 0..N-1 makes each run a true N-core machine.
    #
    # INTERLEAVED repeats (low, high, low, high, ...) with per-level
    # medians: this host's background noise comes in multi-minute windows
    # (measured swings of 2-4x on identical runs); alternating the two
    # levels samples the same noise environment for both, and the median
    # rejects a single bad window. Sequential single-shot runs produced
    # r1's irreproducible 0.13-1.15 efficiency spread.
    import statistics
    import subprocess
    import sys as _sys

    reps = int(_os.environ.get("SPARK_GRAFT_SCALING_REPS", "3"))
    eps: dict[int, list] = {n_low: [], n_high: []}
    walls: dict[int, list] = {n_low: [], n_high: []}
    mode = "?"
    env = {**_os.environ, "SPARK_DRIVER_MEMORY": "48g"}
    pack_cache = None
    if _os.path.isdir("/dev/shm"):
        # pack once (fileConvert-once analog), reuse across every rep —
        # the pack is unmeasured either way; this just removes ~10-30 min
        # of redundant per-rep setup. Removed again at the end.
        pack_cache = f"/dev/shm/vite_pack_{SCALING_NV}_{SCALING_DEG}"
        env["SPARK_GRAFT_PACK_CACHE"] = pack_cache
    # SPARK_GRAFT_SCALING_RESERVE="28-31": pin the DRIVER side (python
    # driver + the whole local-mode JVM — scheduler, shuffle, Arrow
    # passthrough) to a fixed reserved core set OUTSIDE the measured one,
    # and re-pin the Arrow python workers (where the packed kernels do all
    # the work; they are exec'd fresh per daemon, so a PYSPARK_PYTHON
    # wrapper re-taskset-ing to cores 0..N-1 takes effect) to exactly the
    # measured N. This removes the whole-machine caveat of the plain
    # n_high == total-cores pair: at e.g. 7→28 with reserve 28-31, neither
    # level shares a core with the driver, scheduler, or harness
    # (r2 VERDICT #9 / r3 VERDICT next#4). sched_setaffinity is not
    # clamped by the parent's mask, so the wrapper can widen from the
    # reserved set back onto the measured one.
    reserve = _os.environ.get("SPARK_GRAFT_SCALING_RESERVE")
    try:
        for _ in range(reps):
            for cores in (n_low, n_high):
                if reserve:
                    wrapper = f"/tmp/vite_pyworker_{cores}.sh"
                    with open(wrapper, "w") as fh:
                        fh.write(
                            "#!/bin/sh\n"
                            f'exec taskset -c 0-{cores - 1} '
                            f'"{_sys.executable}" "$@"\n'
                        )
                    _os.chmod(wrapper, 0o755)
                    env["PYSPARK_PYTHON"] = wrapper
                    pin = ["taskset", "-c", reserve]
                else:
                    pin = ["taskset", "-c", f"0-{cores - 1}"]
                out = subprocess.run(
                    pin + [_sys.executable,
                     __file__, "--scaling-worker", str(cores),
                     "--scaling-nparts", str(4 * n_high)],
                    capture_output=True, text=True, timeout=6000, env=env,
                )
                line = [l for l in out.stdout.splitlines()
                        if l.startswith("{")][-1]
                rec = json.loads(line)
                eps[cores].append(rec["edges_per_sec"])
                walls[cores].append(rec.get("superstep_walls"))
                mode = rec.get("mode", "?")
    finally:
        if pack_cache:
            import shutil

            shutil.rmtree(pack_cache, ignore_errors=True)
    t_low = statistics.median(eps[n_low])
    t_high = statistics.median(eps[n_high])
    eff = (t_high / t_low) / 4.0
    out = {
        "nv": SCALING_NV,
        "avg_deg": SCALING_DEG,
        "kernel_mode": mode,
        "n_cores_low": n_low,
        "n_cores_high": n_high,
        "throughput_low_eps": t_low,
        "throughput_high_eps": t_high,
        "reps_low_eps": eps[n_low],
        "reps_high_eps": eps[n_high],
        "speedup": round(t_high / t_low, 3),
        "scaling_efficiency": round(eff, 3),
        "walls_low": walls[n_low],
        "walls_high": walls[n_high],
        "driver_reserve_cores": reserve,
    }
    return out


def scaling_worker(cores: int, nparts: int):
    from vite_spark.runtime.metrics import MetricsCollector

    # IDENTICAL partitioning at both levels — only concurrency differs
    spark = make_spark(cores, shuffle_parts=nparts)
    try:
        edges = spark.read.parquet(SCALING_PARQUET)
        ne = edges.count()
        # warmup=1 absorbs the one-off cold page-cache read of the packed
        # partitions; supersteps 2..iters (the work-heavy phase any real
        # run spends its time in) are measured. SPARK_GRAFT_SCALING_ITERS
        # trims the per-rep cost for very large inputs.
        iters = int(os.environ.get("SPARK_GRAFT_SCALING_ITERS", "5"))
        algo = os.environ.get("SPARK_GRAFT_SCALING_ALGO", "louvain")
        m = MetricsCollector()
        if algo == "cc_fixpoint":
            # whole-job min-label JOIN fixpoint (previously mislabeled
            # "cc_star_fixpoint" in its BENCH.md row — same measurement)
            eps = cc_throughput(spark, edges, metrics=m)
            kind = "cc_job"
            mode = "cc_minlabel_join_fixpoint"
        elif algo.startswith("cc"):
            # "cc" = packed-CSR kernel; "cc_join" = join+agg min shape
            packed = algo != "cc_join"
            eps = cc_superstep_throughput(spark, edges, iters=iters,
                                          warmup=1, packed=packed,
                                          metrics=m)
            kind = "cc_superstep"
            mode = ("cc_" + "+".join(sorted(
                {r.get("mode", "join_agg") for r in m.rows
                 if r.get("kind") == kind})))
        elif algo.startswith("triangles"):
            # "triangles" = packed-CSR kernel; "triangles_join" = the
            # degree-oriented wedge-join shape (measured reference point)
            packed = algo != "triangles_join"
            eps = triangles_throughput(spark, edges, packed=packed,
                                       metrics=m)
            kind = "triangles_job"
            packed_modes = sorted(
                {r.get("mode") for r in m.rows
                 if r.get("kind") == "triangles_packed"})
            mode = ("+".join(packed_modes) if packed_modes
                    else "triangles_wedge_join")
        elif algo == "msf":
            # whole-job Borůvka MSF (edge-label rounds + adaptive
            # driver-local/broadcast contraction tier)
            eps = msf_throughput(spark, edges, metrics=m)
            kind = "msf_job"
            mode = "msf_" + "+".join(sorted(
                {str(r.get("mode", "boruvka")) for r in m.rows
                 if r.get("kind") == "msf_round"}))
        elif algo.startswith("ktruss"):
            # "ktruss" = frontier peel (maintained supports);
            # "ktruss_recompute" = full wedge join per round
            variant = "recompute" if algo == "ktruss_recompute" \
                else "frontier"
            eps = truss_throughput(spark, edges, variant=variant,
                                   metrics=m)
            kind = "ktruss_round"
            mode = "truss_" + variant
        elif algo.startswith("core"):
            # "core" = packed H-index kernel; "core_join" = the window
            # join+agg H-index shape
            packed = algo != "core_join"
            eps = core_throughput(spark, edges, warmup=2, iters=iters,
                                  packed=packed, metrics=m)
            kind = "core_superstep"
            mode = ("core_" + "+".join(sorted(
                {str(r.get("mode", "join")) for r in m.rows
                 if r.get("kind") == kind})))
        elif algo.startswith("bfs"):
            # "bfs" = packed dense-relaxation kernel; "bfs_join" = the
            # frontier join+agg shape
            packed = algo != "bfs_join"
            eps = bfs_throughput(spark, edges, iters=iters, warmup=1,
                                 packed=packed, metrics=m)
            kind = "bfs_superstep"
            mode = ("bfs_" + "+".join(sorted(
                {str(r.get("mode", "join")) for r in m.rows
                 if r.get("kind") == kind})))
        elif algo.startswith("wl"):
            # "wl" = packed-CSR kernel; "wl_join" = codegen join shape
            packed = algo != "wl_join"
            eps = wl_throughput(spark, edges, iters=iters, warmup=1,
                                packed=packed, metrics=m)
            kind = "wl_round"
            mode = "wl_csr_sharded" if packed else "wl_hashagg_join"
        elif algo.startswith("lpa"):
            # "lpa" = packed-CSR kernel; "lpa_join" = join+agg vote shape
            packed = algo != "lpa_join"
            eps = lpa_throughput(spark, edges, iters=iters, warmup=1,
                                 packed=packed, metrics=m)
            kind = "lpa_superstep"
            mode = ("lpa_" + "+".join(sorted(
                {r.get("mode", "join_agg") for r in m.rows
                 if r.get("kind") == kind})))
        elif algo.startswith("hits"):
            # "hits" = packed-CSR kernel (kernels/csr_hits.py);
            # "hits_join" = the join+agg superstep shape
            packed = algo != "hits_join"
            eps = hits_throughput(spark, edges, iters=iters,
                                  packed=packed, metrics=m)
            kind = "hits_superstep" if packed else "hits_job"
            mode = ("hits_" + "+".join(sorted(
                {r.get("mode", "join") for r in m.rows
                 if r.get("kind") == "hits_superstep"})))
        elif algo.startswith("pagerank"):
            # "pagerank" = packed-CSR kernel (production path);
            # "pagerank_join" = the generic join+agg fallback shape
            packed = algo != "pagerank_join"
            eps = pagerank_throughput(spark, edges, iters=iters, warmup=1,
                                      packed=packed, metrics=m)
            kind = "pagerank_superstep"
            mode = ("pagerank_" + "+".join(sorted(
                {r.get("mode", "join_agg") for r in m.rows
                 if r.get("kind") == kind})))
        else:
            # "louvain" = packed-CSR kernels (production path);
            # "louvain_join" = the shuffle-join superstep (tier-4 fallback)
            eps = superstep_throughput(spark, edges, iters=iters, warmup=1,
                                       csr=algo != "louvain_join", metrics=m)
            kind = "superstep"
            mode = "+".join(sorted({r.get("mode", "join") for r in m.rows
                                    if r.get("kind") == "superstep"}))
        walls = [round(r["wall_s"], 2) for r in m.rows
                 if r.get("kind") == kind]
        print(json.dumps({"edges": ne, "edges_per_sec": round(eps, 1),
                          "mode": mode,
                          "superstep_walls": walls}))
    finally:
        spark.stop()


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--scaling", action="store_true")
    ap.add_argument("--scaling-worker", type=int, default=None)
    ap.add_argument("--scaling-nparts", type=int, default=64)
    ap.add_argument("--cores-low", type=int, default=4)
    args = ap.parse_args()

    if args.scaling_worker:
        scaling_worker(args.scaling_worker, args.scaling_nparts)
        return

    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    cpus = os.environ.get("SPARK_GRAFT_CPUS", "32")

    if args.scaling:
        res = run_scaling(args.cores_low, sf_dir)
        print(json.dumps(res))
        lines = [
            "",
            f"## Measured scaling (bench.py --scaling, nv={res['nv']:,}, "
            f"avg_deg={res['avg_deg']}, kernel={res['kernel_mode']})",
            "",
            "| cores | superstep throughput (edges/sec, median) | per-rep (interleaved) |",
            "|---|---|---|",
            f"| {res['n_cores_low']} | {res['throughput_low_eps']:,} | "
            f"{', '.join(f'{x:,.0f}' for x in res['reps_low_eps'])} |",
            f"| {res['n_cores_high']} | {res['throughput_high_eps']:,} | "
            f"{', '.join(f'{x:,.0f}' for x in res['reps_high_eps'])} |",
            "",
            f"speedup {res['n_cores_low']}→{res['n_cores_high']} cores: "
            f"{res['speedup']}×; per-core scaling efficiency: "
            f"**{res['scaling_efficiency']}** (target ≥ 0.8)",
        ]
        with open(os.path.join(os.path.dirname(__file__) or ".", "BENCH.md"), "a") as f:
            f.write("\n".join(lines) + "\n")
        return

    spark = make_spark(cpus)
    try:
        out = run_headline(spark, sf_dir)
    finally:
        spark.stop()
    timings = out["timings"]
    total = round(sum(timings.values()), 3)
    print(
        json.dumps(
            {
                "metric": "headline suite wall time (louvain/pagerank/cc/"
                "triangles/dedup/ann on the co-occurrence link graph)",
                "value": total,
                "unit": "sec",
                "queries": timings,
                "sf": _sf_value(sf_dir),
                **out["extra"],
            }
        )
    )


if __name__ == "__main__":
    main()
