"""Triangle counting (SURVEY.md §2.8) — degree-oriented join.

Orient each undirected edge from the lower-(degree, id) endpoint to the
higher one; every triangle then has exactly one wedge u→v→w with a closing
edge u→w, so the count is exact with no double counting. Orientation bounds
the join fan-out by the graph arboricity (the standard trick for skewed
degree distributions — the hub vertex's O(d²) wedge explosion lands on the
low-degree side instead).

All joins are equi-joins planned by Catalyst; AQE handles residual skew.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, functions as F

from vite_spark.config import EngineConfig
from vite_spark.runtime.metrics import MetricsCollector


def _oriented(edges: DataFrame) -> DataFrame:
    e = edges.select("src", "dst").filter(F.col("src") != F.col("dst")).distinct()
    deg = e.groupBy(F.col("src").alias("id")).agg(F.count(F.lit(1)).alias("deg"))
    e2 = (
        e.join(deg.select(F.col("id").alias("src"), F.col("deg").alias("ds")), "src")
        .join(deg.select(F.col("id").alias("dst"), F.col("deg").alias("dd")), "dst")
    )
    # keep direction low (deg, id) → high (deg, id); each undirected edge once
    return e2.filter(
        (F.col("ds") < F.col("dd"))
        | ((F.col("ds") == F.col("dd")) & (F.col("src") < F.col("dst")))
    ).select("src", "dst")


def _closed_wedges(o: DataFrame) -> DataFrame:
    """The closed wedges (u, v, w) of the oriented table ``o``: wedge
    u→v→w of its self-join whose closing edge u→w exists."""
    wedges = o.alias("a").join(
        o.alias("b"), F.col("a.dst") == F.col("b.src")
    ).select(F.col("a.src").alias("u"), F.col("a.dst").alias("v"), F.col("b.dst").alias("w"))
    return wedges.join(
        o.select(F.col("src").alias("u"), F.col("dst").alias("w")), ["u", "w"]
    )


def triangle_count(spark: SparkSession, edges: DataFrame,
                   cfg: EngineConfig | None = None,
                   metrics: MetricsCollector | None = None) -> int:
    """Global triangle count."""
    cfg = cfg or EngineConfig()
    metrics = metrics or MetricsCollector()

    if cfg.use_csr_kernel:
        # packed-CSR fast path (kernels/csr_tri.py): identical
        # degree-orientation algorithm, but the O(Σ outdeg²) wedge
        # volume never materializes — small inputs count in the driver,
        # larger ones in one wedge job that probes closing edges against
        # immutable pack-time key arrays instead of moving the wedge
        # table through two shuffles. Exact integer count — parity
        # pytest-enforced. Falls back here (None) for non-local masters
        # above the driver tier's gate.
        from vite_spark.kernels.csr_tri import csr_triangles

        res = csr_triangles(spark, edges, cfg, metrics)
        if res is not None:
            return res

    # the pin serves the count's three reads of the oriented table
    o = _oriented(edges).persist()
    n = _closed_wedges(o).count()
    o.unpersist()
    return int(n)


def triangles_per_vertex(spark: SparkSession, edges: DataFrame,
                         cfg: EngineConfig | None = None,
                         metrics: MetricsCollector | None = None) -> DataFrame:
    """(id, triangles) — every triangle credited to each of its 3 vertices.
    Vertices in no triangle are included with 0."""
    cfg = cfg or EngineConfig()
    metrics = metrics or MetricsCollector()

    if cfg.use_csr_kernel:
        # packed-CSR fast path (kernels/csr_tri.py): the global count's
        # tiers, pack and wedge job with credits on, emitting per-vertex
        # credits instead of scalars; the sharded tier's only shuffle is
        # the groupBy over the ghost-set-bounded credit table. Exact
        # equality with the join path pytest-enforced. Falls back here
        # (None) for non-local masters above the driver tier's gate.
        from vite_spark.kernels.csr_tri import csr_triangles_per_vertex

        res = csr_triangles_per_vertex(spark, edges, cfg, metrics)
        if res is not None:
            return res

    # a lazy plan (no pin outlives the call): one closed-wedge plan,
    # each triangle credited to u, v and w by one explode
    counts = (
        _closed_wedges(_oriented(edges))
        .select(F.explode(F.array("u", "v", "w")).alias("id"))
        .groupBy("id")
        .agg(F.count(F.lit(1)).alias("triangles"))
    )
    verts = (
        edges.select(F.col("src").alias("id"))
        .union(edges.select(F.col("dst").alias("id")))
        .distinct()
    )
    out = verts.join(counts, "id", "left").select(
        "id", F.coalesce("triangles", F.lit(0)).cast("long").alias("triangles")
    )
    return out
