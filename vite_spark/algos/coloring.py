"""Distance-1 coloring — reference distColoringMultiHashMinMax
(/root/reference/coloring.cpp:52-247) as DataFrame supersteps.

Per round (Jacobi over the uncolored subgraph):
- vHash[t] = hash32(v, seed + 1043·t) for t < nHash (Jenkins-style mix,
  coloring.cpp:120-131, reproduced bit-exactly on uint32 in NumPy);
- against every uncolored neighbor u: vHash[t] ≤ uHash[t] sets the
  'not_max' bit t, ≥ sets 'not_min' (ties set both);
- possible = 2·nHash − popcount(not_min) − popcount(not_max); if 0 the
  vertex stays uncolored this round;
- else slot (v mod possible) of the available-slot list
  [min₀, max₀, min₁, max₁, …] picks the color 2t+nextColor / 2t+1+nextColor;
- round end: nextColor += 2·nHash, seed = hash32(seed, 0); stop at ≥
  target_percent (MAX_COVG=70, coloring.hpp:69-71) colored or no progress.
  Uncolored vertices keep -1 (processed last by colored Louvain,
  louvain.cpp:657-658).

The hash table (nv × nHash) is built by one Arrow pass; everything else is
joins/aggregations (bit_or) — per round two shuffles on the shrinking
uncolored subgraph.
"""

from __future__ import annotations

import numpy as np

from pyspark.sql import DataFrame, SparkSession, functions as F
from pyspark.sql.types import ArrayType, LongType, StructField, StructType

from vite_spark.session import release

MAX_COVG = 70      # coloring.hpp:69-71
DEFAULT_NHASH = 4  # maxColors/2 with maxColors=8 (main.cpp:80,269)


def hash32_np(a: np.ndarray, seed: int) -> np.ndarray:
    """coloring.cpp:120-131 on uint32 (vectorized, bit-exact)."""
    a = a.astype(np.uint32)
    s = np.uint32(seed & 0xFFFFFFFF)
    with np.errstate(over="ignore"):
        a = a ^ s
        a = (a + np.uint32(0x7ED55D16)) + (a << np.uint32(12))
        a = (a ^ np.uint32(0xC761C23C)) + (a >> np.uint32(19))
        a = (a + np.uint32(0x165667B1)) + (a << np.uint32(5))
        a = (a ^ np.uint32(0xD3A2646C)) + (a << np.uint32(9))
        a = (a + np.uint32(0xFD7046C5)) + (a << np.uint32(3))
        a = (a ^ np.uint32(0xB55A4F09)) + (a >> np.uint32(16))
    return a


def _vertex_hashes(verts: DataFrame, n_hash: int, seed: int) -> DataFrame:
    """(id, hashes: array<long>[n_hash]) via one Arrow pass."""
    out_schema = StructType(
        [
            StructField("id", LongType(), False),
            StructField("hashes", ArrayType(LongType()), False),
        ]
    )

    def compute(pdf_iter):
        import pandas as pd

        for pdf in pdf_iter:
            ids = pdf["id"].to_numpy(dtype=np.int64)
            cols = [
                hash32_np(ids, seed + 1043 * t).astype(np.int64) for t in range(n_hash)
            ]
            yield pd.DataFrame(
                {"id": ids, "hashes": [list(row) for row in np.stack(cols, axis=1)]}
            )

    return verts.mapInPandas(compute, schema=out_schema)


def multi_hash_coloring(
    spark: SparkSession,
    edges: DataFrame,
    n_hash: int = DEFAULT_NHASH,
    target_percent: int = MAX_COVG,
    single_iteration: bool = False,
    max_rounds: int = 64,
) -> tuple[DataFrame, int]:
    """Returns (colors(id, color) with -1 for uncolored, num_colors=nextColor).
    ``colors`` is a ``localCheckpoint`` cut: the caller releases it with
    ``session.release`` after its last reader."""
    e = edges.select("src", "dst").filter(F.col("src") != F.col("dst")).persist()
    verts = (
        edges.select(F.col("src").alias("id")).distinct().persist()
    )
    tnv = verts.count()
    target = (tnv * target_percent) // 100

    colors = verts.select("id", F.lit(-1).cast("long").alias("color")).persist()
    next_color = 0
    seed = 1012
    last_count = 0

    n_slots = 2 * n_hash
    while True:
        unc = colors.filter(F.col("color") == -1).select("id")
        h = _vertex_hashes(unc, n_hash, seed).persist()
        h.count()

        # only edges between two uncolored vertices constrain this round
        ee = (
            e.join(h.select(F.col("id").alias("src"), F.col("hashes").alias("hs")), "src")
            .join(h.select(F.col("id").alias("dst"), F.col("hashes").alias("hd")), "dst")
        )
        seq = F.sequence(F.lit(0), F.lit(n_hash - 1))
        notmin_bits = F.aggregate(
            seq,
            F.lit(0).cast("long"),
            lambda acc, t: acc.bitwiseOR(
                F.when(
                    F.element_at("hs", t.cast("int") + 1)
                    >= F.element_at("hd", t.cast("int") + 1),
                    F.lit(1).cast("long"),
                ).otherwise(F.lit(0).cast("long"))
                * F.pow(F.lit(2.0), t).cast("long")
            ),
        )
        notmax_bits = F.aggregate(
            seq,
            F.lit(0).cast("long"),
            lambda acc, t: acc.bitwiseOR(
                F.when(
                    F.element_at("hs", t.cast("int") + 1)
                    <= F.element_at("hd", t.cast("int") + 1),
                    F.lit(1).cast("long"),
                ).otherwise(F.lit(0).cast("long"))
                * F.pow(F.lit(2.0), t).cast("long")
            ),
        )
        bits = (
            ee.select(
                F.col("src").alias("id"),
                notmin_bits.alias("nmin"),
                notmax_bits.alias("nmax"),
            )
            .groupBy("id")
            .agg(F.bit_or("nmin").alias("not_min"), F.bit_or("nmax").alias("not_max"))
        )

        st = unc.join(bits, "id", "left").select(
            "id",
            F.coalesce("not_min", F.lit(0)).alias("not_min"),
            F.coalesce("not_max", F.lit(0)).alias("not_max"),
        )
        possible = (
            F.lit(n_slots) - F.bit_count("not_min") - F.bit_count("not_max")
        )
        # available slots in order [min0, max0, min1, max1, ...]
        def _bit(col, t):
            # bit t of col (shiftright needs a literal count, so arithmetic)
            return (F.col(col) / F.pow(F.lit(2.0), t)).cast("long") % 2

        slots = F.filter(
            F.flatten(
                F.transform(
                    seq,
                    lambda t: F.array(
                        F.when(_bit("not_min", t) == 0, 2 * t),
                        F.when(_bit("not_max", t) == 0, 2 * t + 1),
                    ),
                )
            ),
            lambda x: x.isNotNull(),
        )
        newly = st.select(
            "id",
            F.when(
                possible > 0,
                F.element_at(slots, (F.pmod(F.col("id"), possible) + 1).cast("int"))
                + F.lit(next_color),
            )
            .otherwise(F.lit(-1))
            .cast("long")
            .alias("new_color"),
        )

        colors_next = (
            colors.join(newly, "id", "left")
            .select(
                "id",
                F.when(F.col("color") != -1, F.col("color"))
                .otherwise(F.coalesce("new_color", F.lit(-1)))
                .alias("color"),
            )
            .localCheckpoint(eager=True)
        )
        release(colors)     # round 1's persist, later rounds' cuts
        h.unpersist()
        colors = colors_next

        current = colors.filter(F.col("color") != -1).count()
        next_color += n_slots
        seed = int(hash32_np(np.array([seed]), 0)[0])
        if (
            single_iteration
            or current >= target
            or current == last_count
            or next_color >= max_rounds * n_slots
        ):
            break
        last_count = current

    e.unpersist()
    verts.unpersist()
    return colors, next_color


def check_coloring(edges: DataFrame, colors: DataFrame) -> int:
    """C5 validator (coloring.cpp:493-639): adjacent same-color pairs among
    COLORED vertices (uncolored -1 never conflicts). 0 == valid."""
    c = colors.filter(F.col("color") != -1)
    return (
        edges.filter(F.col("src") != F.col("dst"))
        .join(c.select(F.col("id").alias("src"), F.col("color").alias("cs")), "src")
        .join(c.select(F.col("id").alias("dst"), F.col("color").alias("cd")), "dst")
        .filter(F.col("cs") == F.col("cd"))
        .count()
    )
