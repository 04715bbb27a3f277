"""Scalable deterministic dense-id assignment.

Replaces the reference community renumbering (rebuild.cpp:77-292) with a
deterministic, cluster-scalable scheme: dense rank ordered by value,
computed as range-repartition → per-partition offsets (one tiny collect) →
vectorized in-partition rank. No global single-partition window, no
driver-side materialization of the values — works at 10^12 distinct ids.

Two tiers, one rank function. Small inputs (≤ ``local_max_rows`` distinct
values, default 2M / $SPARK_GRAFT_DENSE_IDS_LOCAL_MAX; 0 forces the
distributed tier) are the distributed tier at ONE partition with offset
0: the cached distinct set is coalesced into one task that sorts and
ranks it in place — 2 jobs total (count + rank) versus the distributed
tier's range-boundary sample + offsets collect + rank, and no range
exchange. Output is identical by construction (rank ordered by value is
a pure function of the value set).

A null value takes id 0, ahead of every other value, as in Spark's
ascending order (nulls first); it never enters the rank tasks, so the
tiers cannot place it differently and a long column is never widened to
float by pandas' null handling.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, functions as F
from pyspark.sql.types import LongType, StructField, StructType


def dense_ids(df: DataFrame, col: str, out_col: str = "new_id",
              num_parts: int | None = None,
              local_max_rows: int | None = None) -> DataFrame:
    """Map distinct values of ``col`` to contiguous 0-based longs ordered by
    value (null first). Returns DataFrame(col, out_col).
    """
    spark = df.sparkSession
    if num_parts is None:
        num_parts = int(spark.conf.get("spark.sql.shuffle.partitions", "32"))
    if local_max_rows is None:
        local_max_rows = int(
            os.environ.get("SPARK_GRAFT_DENSE_IDS_LOCAL_MAX", "2000000")
        )

    d = df.select(col).distinct().persist()
    vals = None
    try:
        # materializes the distinct set into the cache
        cnt = d.agg(F.count(F.lit(1)).alias("n"),
                    F.count(col).alias("nn")).collect()[0]
        n, base = cnt["nn"], cnt["n"] - cnt["nn"]   # base 1: a null exists
        src = d.filter(F.col(col).isNotNull()) if base else d
        out_schema = StructType(
            list(d.schema.fields) + [StructField(out_col, LongType(), False)]
        )

        if 0 < local_max_rows and n <= local_max_rows:
            # single-task tier: one rank job over the cached distinct set
            ranked, offsets = src.coalesce(1), {0: base}
        else:
            # distributed tier (the 10^12-id path): range partition the
            # cached distinct (the boundary sample reads the cache instead
            # of recomputing the distinct), offsets from per-partition
            # counts, vectorized in-partition rank.
            ranked = vals = src.repartitionByRange(
                num_parts, F.col(col)).persist()
            counts = (
                vals.select(F.spark_partition_id().alias("pid"))
                .groupBy("pid")
                .count()
                .collect()
            )
            # the collect filled `vals`: the distinct set is no longer read
            d.unpersist()
            offsets = {}
            acc = base
            for r in sorted(counts, key=lambda r: r["pid"]):
                offsets[r["pid"]] = acc
                acc += r["count"]

        def rank_partition(pdf_iter):
            import numpy as np
            import pandas as pd
            from pyspark import TaskContext

            parts = [p for p in pdf_iter]
            if not parts:
                return
            pdf = (pd.concat(parts, ignore_index=True)
                   if len(parts) > 1 else parts[0])
            pdf = pdf.sort_values(col, kind="mergesort", ignore_index=True)
            lo = offsets.get(TaskContext.get().partitionId(), 0)
            pdf[out_col] = np.arange(lo, lo + len(pdf), dtype=np.int64)
            yield pdf

        # eager cut so the cached sets can be released before returning
        # (`vals` was a measured cache leak when left to context GC)
        out = ranked.mapInPandas(
            rank_partition, schema=out_schema
        ).localCheckpoint(eager=True)
        if base:
            out = out.unionByName(spark.createDataFrame([(None, 0)],
                                                        out_schema))
        return out
    finally:
        if vals is not None:
            vals.unpersist()
        d.unpersist()
