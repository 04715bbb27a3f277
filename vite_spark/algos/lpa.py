"""Synchronous label propagation (SURVEY.md §2.8).

label_{t+1}(v) = argmax_c Σ w(v→u), label_t(u) = c; tie → smaller label
(deterministic — same ordered-argmax discipline as Louvain L5). Synchronous
(Jacobi) updates make the result independent of partitioning and row order.
Fixed max_iter with early stop when no label changes.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, functions as F

from vite_spark.algos.components import _label_fixpoint
from vite_spark.config import EngineConfig
from vite_spark.runtime.metrics import MetricsCollector


def label_propagation(
    spark: SparkSession,
    edges: DataFrame,
    max_iter: int = 20,
    cfg: EngineConfig | None = None,
    metrics: MetricsCollector | None = None,
) -> DataFrame:
    """Returns (id, label). Self-loops are excluded from voting."""
    cfg = cfg or EngineConfig()
    metrics = metrics or MetricsCollector()

    if cfg.use_csr_kernel:
        # packed-CSR fast path on the sharded pack (kernels/csr_lpa.py):
        # one job per iteration, owner-authored dense label exchange.
        # Falls back here (None) for non-local masters, non-vertex-closed
        # inputs, and non-integer weights (float-tied votes could resolve
        # differently across summation orders). Labels are IDENTICAL to
        # this join path on the integer-weight domain; pytest-enforced.
        from vite_spark.kernels.csr_lpa import csr_lpa

        res = csr_lpa(spark, edges, max_iter, cfg, metrics)
        if res is not None:
            return res

    # ordered argmax: max vote, tie → min label
    return _label_fixpoint(
        spark, edges, max_iter, cfg, metrics, "label", "lpa_superstep",
        lambda nbr: nbr.groupBy("src", "label")
        .agg(F.sum("weight").alias("vote"))
        .groupBy(F.col("src").alias("id"))
        .agg(F.max(F.struct(F.col("vote"), (-F.col("label")).alias("neg"),
                            F.col("label"))).alias("m"))
        .select("id", F.col("m.label").alias("new")),
        lambda label, new: F.coalesce(new, label), weighted=True)
