"""k-core decomposition: coreness (core number) per vertex of the simple
undirected graph — the largest k such that the vertex survives in the
k-core (the maximal subgraph of minimum degree ≥ k).

Computed as the H-index fixpoint of Lü et al. (Nat. Commun. 7, 10168,
2016): c_0(v) = degree(v), c_s(v) = H-index of N(v)'s previous values;
the sequence is pointwise non-increasing and converges exactly to the
coreness. Unlike textbook peeling (a global ordered scan), the H-index
operator is purely vertex-local — the same Jacobi shape as the engine's
other packed kernels, so it distributes with one job per sweep and a
dense owner-authored exchange.

Input is ANY edge table; the operator symmetrizes and simplifies first
(self-loops dropped, multi-edges collapsed, both directions present), so
coreness is always the undirected notion and the packed path's
vertex-closure precondition holds by construction.

Two paths, identical iterates (pytest-enforced vs networkx truth,
tests/test_core_packed.py):

- **Packed kernel** (kernels/csr_core.py): an owner-authored sweep on
  the packed runner (kernels/csr_pr.py), so it has the runner's tiers —
  in the driver when the pack would have one partition and no
  checkpoint dir is set, else one job per sweep over the sharded pack of
  the simplified table (``core_pack``) — and per-sweep
  checkpoint/resume. One lexsort + max.reduceat per sweep.
- **Join path** (below): one join + per-src descending-rank window +
  grouped max(min(c, rank)) per sweep — the multi-cluster fallback.
  The window partitions by src (never a global window), so it
  shuffle-scales like any keyed aggregation.

Vite has no k-core; this operator extends the §2.8 analytics set.
"""

from __future__ import annotations

import time

from pyspark.sql import DataFrame, SparkSession, Window, functions as F

from vite_spark.config import EngineConfig
from vite_spark.runtime.metrics import MetricsCollector


def _simple_undirected(edges: DataFrame) -> DataFrame:
    e = edges.select("src", "dst")
    return (
        e.union(e.select(F.col("dst").alias("src"),
                         F.col("src").alias("dst")))
        .filter(F.col("src") != F.col("dst"))
        .distinct()
        # unit weight: coreness ignores weights, but the shared pack
        # writer (and the canonical edge schema) expects the column
        .withColumn("weight", F.lit(1.0))
    )


def coreness(
    spark: SparkSession,
    edges: DataFrame,
    max_iter: int = 500,
    cfg: EngineConfig | None = None,
    metrics: MetricsCollector | None = None,
    force_iters: bool = False,
) -> DataFrame:
    """(id, coreness) for every vertex with at least one non-loop edge.

    ``force_iters`` disables the converged-early stop and runs exactly
    ``max_iter`` sweeps (post-convergence H-index sweeps are fixpoint
    no-ops — identical gather/compute, identical values; pytest-pinned).
    Probe use only: per-superstep scaling measurements need a fixed
    superstep count even on fast-converging inputs."""
    cfg = cfg or EngineConfig()
    metrics = metrics or MetricsCollector()
    und = _simple_undirected(edges)

    if cfg.use_csr_kernel:
        # packed-CSR fast path (kernels/csr_core.py): falls back here
        # (None) when the sharded tier meets a non-local master. Same
        # H-index operator on the same integers → identical iterates;
        # pytest-enforced.
        from vite_spark.kernels.csr_core import csr_coreness

        res = csr_coreness(spark, und, max_iter, cfg, metrics,
                           force_iters=force_iters)
        if res is not None:
            return res

    nparts = cfg.shuffle_partitions or int(
        spark.conf.get("spark.sql.shuffle.partitions", "32")
    )
    und = und.repartition(nparts, "dst").persist()
    c = (
        und.groupBy(F.col("src").alias("id"))
        .agg(F.count(F.lit(1)).alias("coreness"))
        .persist()
    )

    w = Window.partitionBy("src").orderBy(F.desc("c"))
    for s in range(1, max_iter + 1):
        t0 = time.time()
        nbr = und.join(
            c.select(F.col("id").alias("dst"), F.col("coreness").alias("c")),
            "dst",
        ).select("src", "c")
        new_c = (
            nbr.withColumn("rn", F.row_number().over(w))
            .groupBy(F.col("src").alias("id"))
            .agg(F.max(F.least(F.col("c"), F.col("rn"))).alias("coreness"))
            .localCheckpoint(eager=True)
        )
        changed = (
            new_c.join(c.select("id", F.col("coreness").alias("old")), "id")
            .filter(F.col("coreness") != F.col("old"))
            .count()
        )
        c.unpersist()
        c = new_c
        metrics.record(kind="core_superstep", iter=s, changed=changed,
                       wall_s=time.time() - t0, mode="join_hindex")
        if changed == 0 and not force_iters:
            break

    und.unpersist()
    return c
