"""Connected components (SURVEY.md §2.8): min-label propagation to fixpoint.

label_{t+1}(v) = min(label_t(v), min_{u ∈ N(v)} label_t(u)); converges in
O(diameter) supersteps on the symmetrized edge table with exact label
equality as the contract. Each superstep is one join + groupBy(src) min —
map-side combine keeps shuffle volume at |V|, not |E|.

Scale note: on high-diameter graphs the two-phase "large-star/small-star"
algorithm (Kiveris et al.) converges in O(log²) rounds; implemented here as
``connected_components_twophase`` for path-like graphs. Both return
identical labels (min vertex id per component).

Callers: every registry CC row (``connected_components``, ``cc_sizes``,
``cc_gini``) and every other algorithm runs ``connected_components``, i.e.
the packed runner CC (kernels/csr_cc.py: single-task tier below the pack
gate, sharded job loop above it, this module's join loop as the fallback).
Only MSF's contraction (algos/msf.py) keeps ``connected_components_twophase``:
its contracted forests can be path-like, the one shape where the O(log²)
round bound beats O(diameter) supersteps. Whether it stays is decided by
a measured crossover of the two on high-diameter graphs.
"""

from __future__ import annotations

import logging
import time

from pyspark.sql import DataFrame, SparkSession, Window, functions as F

from vite_spark.config import EngineConfig
from vite_spark.runtime.metrics import MetricsCollector

log = logging.getLogger("vite_spark.components")


def connected_components(
    spark: SparkSession,
    edges: DataFrame,
    max_iter: int = 200,
    cfg: EngineConfig | None = None,
    metrics: MetricsCollector | None = None,
) -> DataFrame:
    """Returns (id, component) where component = min vertex id reachable.

    Min-label propagation needs O(diameter) sweeps. A run that stops at
    ``max_iter`` with labels still changing returns those unconverged
    labels, logs a warning and marks its ``cc_superstep`` rows
    ``converged=False`` (every row of a converged run reads True)."""
    cfg = cfg or EngineConfig()
    metrics = metrics or MetricsCollector()
    n0 = len(metrics.rows)
    out = _cc(spark, edges, max_iter, cfg, metrics)
    steps = [r for r in metrics.rows[n0:] if r.get("kind") == "cc_superstep"]
    converged = bool(steps) and steps[-1]["changed"] == 0
    for r in steps:
        r["converged"] = converged
    if not converged:
        log.warning("connected_components: stopped at max_iter=%d with "
                    "labels still changing; the components are not final",
                    max_iter)
    return out


def _cc(spark, edges, max_iter, cfg, metrics):
    if cfg.use_csr_kernel:
        # packed-CSR fast path on the sharded pack (kernels/csr_cc.py):
        # one job per iteration, owner-authored dense label exchange,
        # no grouping sort (pack row order gives the segments). Falls
        # back here (None) for non-local masters and non-vertex-closed
        # inputs. Same Jacobi operator on the same integers → iterates
        # (labels AND per-iteration changed counts) are IDENTICAL to
        # this join path; pytest-enforced.
        from vite_spark.kernels.csr_cc import csr_cc

        res = csr_cc(spark, edges, max_iter, cfg, metrics)
        if res is not None:
            return res

    return _label_fixpoint(
        spark, edges, max_iter, cfg, metrics, "component", "cc_superstep",
        lambda nbr: nbr.groupBy(F.col("src").alias("id"))
        .agg(F.min("component").alias("new")),
        F.least)


def _label_fixpoint(spark, edges, max_iter, cfg, metrics, col, kind,
                    update, merge, weighted=False):
    """The join path of ``connected_components`` and
    ``label_propagation``: labels start as the vertex ids; per superstep
    ``update(nbr)``, over nbr = the self-loop-free edges (src, dst[,
    weight]) joined with their dst's label ``col``, gives (id, new) for
    the srcs it reaches, and ``merge(label, new)`` the next label (new is
    null for the others). One ``kind`` row per superstep; stops when no
    label changes. The label table is broadcast up to
    ``cfg.broadcast_max_rows`` vertices."""
    e = (
        edges.select("src", "dst", *(["weight"] if weighted else []))
        .filter(F.col("src") != F.col("dst"))
        .repartition(
            cfg.shuffle_partitions
            or int(spark.conf.get("spark.sql.shuffle.partitions", "32")),
            "dst",
        )
        .persist()
    )
    verts = (
        edges.select(F.col("src").alias("id"))
        .union(edges.select(F.col("dst").alias("id")))
        .distinct()
        .persist()
    )
    nv = verts.count()
    labels = verts.select("id", F.col("id").alias(col)).persist()

    for it in range(1, max_iter + 1):
        t0 = time.time()
        cur = labels.select(F.col("id").alias("dst"), col)
        new = update(e.join(
            F.broadcast(cur) if nv <= cfg.broadcast_max_rows else cur, "dst"))
        new_labels = (
            labels.join(new, "id", "left")
            .select("id", merge(F.col(col), F.col("new")).alias(col))
            .localCheckpoint(eager=True)
        )
        changed = (
            new_labels.join(labels.select("id", F.col(col).alias("old")), "id")
            .filter(F.col(col) != F.col("old"))
            .count()
        )
        labels.unpersist()
        labels = new_labels
        metrics.record(kind=kind, iter=it, changed=changed,
                       wall_s=time.time() - t0)
        if changed == 0:
            break

    e.unpersist()
    verts.unpersist()
    return labels


def connected_components_twophase(
    spark: SparkSession,
    edges: DataFrame,
    max_rounds: int = 64,
    cfg: EngineConfig | None = None,
    metrics: MetricsCollector | None = None,
) -> DataFrame:
    """Alternating large-star / small-star CC (Kiveris et al., "Connected
    Components in MapReduce and Beyond", SoCC'14): converges in O(log² n)
    rounds regardless of graph diameter — the 100× scale path for
    path-like/high-diameter graphs where min-label propagation needs
    O(diameter) supersteps. Returns (id, component = min vertex id), exactly
    the ``connected_components`` contract.

    Edge set is kept canonical (u > v); each round is two grouped
    aggregations + dedups, with eager lineage cuts. Convergence = stable
    (row count, Σsrc, Σdst) checksum — the small-star output decreases
    monotonically toward the star fixpoint, so a stable checksum is a
    fixpoint.
    """
    cfg = cfg or EngineConfig()
    metrics = metrics or MetricsCollector()

    # pin the input for the two init consumers (canonical edge checkpoint
    # + vertex set): without it each re-ran the caller's whole upstream
    # derivation — the vertex set is materialized below while the cache
    # is hot, so the pin never outlives init (interleaved A/B at sf0.1:
    # q_cc_sizes 6.68 s vs 7.21 s medians, every pair wins)
    pin = None
    if not edges.is_cached:
        pin = edges = edges.persist()
    try:
        verts = (
            edges.select(F.col("src").alias("id"))
            .union(edges.select(F.col("dst").alias("id")))
            .distinct()
            .persist()
        )
        e = (
            edges.select("src", "dst")
            .filter(F.col("src") != F.col("dst"))
            .select(F.greatest("src", "dst").alias("u"),
                    F.least("src", "dst").alias("v"))
            .distinct()
            .localCheckpoint(eager=True)
        )
        verts.count()
    finally:
        if pin is not None:
            pin.unpersist()

    def checksum(df: DataFrame) -> tuple:
        r = df.agg(
            F.count(F.lit(1)).alias("n"),
            F.sum("u").alias("su"),
            F.sum("v").alias("sv"),
        ).collect()[0]
        return (int(r["n"] or 0), int(r["su"] or 0), int(r["sv"] or 0))

    prev = None
    for rnd in range(1, max_rounds + 1):
        t0 = time.time()
        # large-star: center a over symmetric nbrs b; m = min(Γ(a) ∪ {a});
        # emit (b, m) for b > a. The per-center minimum is a WINDOW over
        # the same shuffle the former groupBy+self-join paid — one
        # exchange, no join (optimization guide §2.4: two operations
        # keyed the same way share one exchange).
        sym = e.select(F.col("u").alias("a"), F.col("v").alias("b")).union(
            e.select(F.col("v").alias("a"), F.col("u").alias("b"))
        )
        wl = sym.withColumn(
            "m", F.least(F.col("a"), F.min("b").over(Window.partitionBy("a")))
        )
        e = wl.filter(F.col("b") > F.col("a")).select(
            F.col("b").alias("u"), F.col("m").alias("v")
        )
        # No mid-round distinct/materialization: small-star's per-u MIN
        # is duplicate-insensitive and its end-of-round distinct
        # restores the canonical edge SET, so the large-star output can
        # flow through as a multiset — identical round trajectory
        # (checksums are computed on the post-distinct set).
        # small-star: center u over canonical smaller nbrs; m = min(Γ⁻(u));
        # emit (u, m) and (v, m) for v ∈ Γ⁻(u), v ≠ m — again one window
        # instead of groupBy+join; the (u, m) rows are emitted per input
        # row and collapsed by the end-of-round distinct
        ws = e.withColumn("m", F.min("v").over(Window.partitionBy("u")))
        e = (
            ws.filter(F.col("v") != F.col("m"))
            .select(F.col("v").alias("u"), F.col("m").alias("v"))
            .union(ws.select("u", F.col("m").alias("v")))
            .distinct()
            .localCheckpoint(eager=True)
        )
        cur = checksum(e)
        metrics.record(kind="cc2_round", iter=rnd, edges=cur[0],
                       wall_s=time.time() - t0)
        if cur == prev:
            break
        prev = cur

    labels = (
        verts.join(
            e.select(F.col("u").alias("id"), F.col("v").alias("component")),
            "id",
            "left",
        )
        .select("id", F.coalesce("component", F.col("id")).alias("component"))
        # materialize the (small) label table while the cached vertex set
        # is still live: returning it lazy made the caller's first action
        # recompute verts — and with it the whole upstream derivation —
        # after the unpersist below had already dropped the cache
        .localCheckpoint(eager=True)
    )
    verts.unpersist()
    return labels
