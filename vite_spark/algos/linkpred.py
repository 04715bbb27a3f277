"""Link prediction over the co-occurrence link graph: classical
neighborhood scores for NON-adjacent vertex pairs.

For a candidate pair (u, v), u < v, not an edge of the simple undirected
graph, with shared-neighbor set W = N(u) ∩ N(v):

- ``cn``      = |W|                       (common neighbors)
- ``jaccard`` = |W| / |N(u) ∪ N(v)|
- ``aa``      = Σ_{w ∈ W} 1 / ln(deg(w))  (Adamic–Adar)
- ``pa``      = deg(u) · deg(v)           (preferential attachment)

Candidate generation is wedge enumeration — exactly the distance-2 pair
set — which at web scale explodes through hub centers: an id appearing in
d rows spawns d·(d-1)/2 wedge pairs, so one 10⁶-degree hub alone is
5·10¹¹ shuffle rows. The standard production mitigation (and this
module's scale contract) is a CENTER DEGREE CAP: wedges are only counted
through centers w with deg(w) ≤ ``max_center_degree``, bounding the
wedge shuffle by Σ_{deg(w)≤cap} deg(w)² ≤ 2·ne·cap, linear in edges for a
fixed cap. Hub centers are precisely the ones Adamic–Adar down-weights
toward zero (1/ln d), so the cap removes the least informative and most
expensive evidence first. The cap is part of the score DEFINITION here
(engine and oracle share it), not a sampling knob: cn/jaccard/aa count
only capped-center wedges, while deg/pa keep true degrees.

Everything is a declarative DataFrame composition (one self-join + one
aggregation + two dimension joins): Catalyst plans the wedge shuffle on
the center key and the pair aggregation map-side-partially; the top-k is
a TakeOrderedAndProject, never a global sort materialization. No kernel
needed — this IS the right distributed shape.

Reference scope: the C++ reference (ECP-ExaGraph/vite) has no link
prediction; this extends the engine's analytics the way its Louvain /
coloring utilities consume the same CSR inputs (SURVEY.md §2.8 class).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

DEFAULT_MAX_CENTER_DEGREE = 1 << 10


def link_prediction_topk(
    spark: SparkSession,
    edges: DataFrame,
    k: int = 500,
    max_center_degree: int = DEFAULT_MAX_CENTER_DEGREE,
) -> DataFrame:
    """Top-``k`` non-adjacent pairs by (cn DESC, u ASC, v ASC) — an
    all-integer total order, so the selected set is deterministic across
    engines and partitionings. Columns (u, v, cn, jaccard, aa, pa);
    jaccard is one exact division, aa is rounded to 6 decimals (float
    SUM accumulation order is engine-specific; every other score is
    exact int64 arithmetic).

    ``edges`` is the symmetric directed co-occurrence table (both
    orientations present, possible self-loops, float weights ignored —
    scores are over the simple undirected graph).
    """
    und = (
        edges.select("src", "dst")
        .filter(F.col("src") != F.col("dst"))
        .distinct()
    )
    deg = und.groupBy(F.col("src").alias("id")).agg(
        F.count(F.lit(1)).alias("d")
    )
    # center-keyed adjacency, hub centers dropped (the scale contract)
    cadj = (
        und.join(
            deg.filter(F.col("d") <= max_center_degree),
            und.src == F.col("id"),
        )
        .select(F.col("src").alias("w"), F.col("dst").alias("n"),
                F.col("d").alias("dw"))
    )
    a, b = cadj.alias("a"), cadj.alias("b")
    wedges = a.join(
        b,
        (F.col("a.w") == F.col("b.w")) & (F.col("a.n") < F.col("b.n")),
    ).select(
        F.col("a.n").alias("u"),
        F.col("b.n").alias("v"),
        F.col("a.dw").alias("dw"),
    )
    pair = wedges.groupBy("u", "v").agg(
        F.count(F.lit(1)).alias("cn"),
        F.sum(F.lit(1.0) / F.log(F.col("dw").cast("double"))).alias("aa_raw"),
    )
    half = und.filter(F.col("src") < F.col("dst")).select(
        F.col("src").alias("u"), F.col("dst").alias("v")
    )
    nonadj = pair.join(half, ["u", "v"], "left_anti")
    du = deg.select(F.col("id").alias("u"), F.col("d").alias("du"))
    dv = deg.select(F.col("id").alias("v"), F.col("d").alias("dv"))
    scored = (
        nonadj.join(du, "u").join(dv, "v")
        .select(
            "u", "v", "cn",
            (F.col("cn").cast("double")
             / (F.col("du") + F.col("dv") - F.col("cn"))).alias("jaccard"),
            F.round(F.col("aa_raw"), 6).alias("aa"),
            (F.col("du") * F.col("dv")).alias("pa"),
        )
    )
    if k > 1 << 20:
        # Spark's top-k operator sizes each task's heap by k: a k far past
        # the row count (k = 10**9 for "every pair") committed GBs of empty
        # slots on the driver JVM, so a large k is clamped to the row count
        k = min(k, scored.count())
    return scored.orderBy(F.col("cn").desc(), "u", "v").limit(k)
