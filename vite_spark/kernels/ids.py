"""Scalable deterministic dense-id assignment.

Replaces the reference community renumbering (rebuild.cpp:77-292) with a
deterministic, cluster-scalable scheme: dense rank ordered by value,
computed as range-repartition → per-partition offsets (one tiny collect) →
vectorized in-partition rank. That tier has no global single-partition
window and no driver-side materialization of the values — it works at
10^12 distinct ids.

Two tiers, one order. Small inputs (≤ ``local_max_rows`` distinct
values, default 2M / $SPARK_GRAFT_DENSE_IDS_LOCAL_MAX; 0 forces the
distributed tier) rank in the driver: the cached distinct set comes back
with one Arrow collect, Arrow sorts it and the ranked
table goes back to the JVM with one Arrow ``createDataFrame`` — 2 jobs
(count + collect), no shuffle, Python worker or checkpointed block.
Output is identical by construction (rank ordered by value is a pure
function of the value set; Arrow and Spark both order strings by UTF-8
bytes).

Both tiers sort with the same Arrow function (``_ascending``), over the
whole set in the driver and per range partition in the rank tasks
(``mapInArrow``: no pandas, so a NaN stays a NaN and a long column is
never widened to float). A null value takes id 0, ahead of every other
value, as in Spark's ascending order (nulls first); in the distributed
tier it never enters the rank tasks.
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
        out_schema = StructType(
            list(d.schema.fields) + [StructField(out_col, LongType(), False)]
        )

        if 0 < local_max_rows and n <= local_max_rows:
            return _rank_in_driver(spark, d, col, out_schema)
        # distributed tier (the 10^12-id path): range partition the
        # cached distinct (the boundary sample reads the cache instead
        # of recomputing the distinct), offsets from per-partition
        # counts, vectorized in-partition rank.
        src = d.filter(F.col(col).isNotNull()) if base else d
        vals = src.repartitionByRange(num_parts, F.col(col)).persist()
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

        def rank_partition(batches):
            import numpy as np
            import pyarrow as pa
            from pyspark import TaskContext

            batches = list(batches)
            if not batches:
                return
            ranked = _ascending(pa.Table.from_batches(batches), col)
            lo = offsets.get(TaskContext.get().partitionId(), 0)
            yield from pa.table({
                col: ranked,
                out_col: np.arange(lo, lo + len(ranked), dtype=np.int64),
            }).to_batches()

        # eager cut so the cached sets can be released before returning
        # (`vals` was a measured cache leak when left to context GC)
        out = vals.mapInArrow(
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


def _ascending(tbl, col: str):
    """Column ``col`` of the distinct set ``tbl`` in Spark's ascending
    order: null first, NaN above every number, strings by UTF-8 bytes.
    Arrow places NaN with the nulls, so both sort last and the null (at
    most one) then moves to the front."""
    import pyarrow as pa
    import pyarrow.compute as pc

    vals = tbl.column(col).take(pc.sort_indices(
        tbl, sort_keys=[(col, "ascending")], null_placement="at_end"))
    n = len(vals)
    if vals.null_count:
        vals = pa.chunked_array(
            vals.slice(n - 1).chunks + vals.slice(0, n - 1).chunks, vals.type)
    return vals


def _rank_in_driver(spark, d: DataFrame, col: str, out_schema) -> DataFrame:
    """The small tier: the distinct set ``d`` (null included) ranked
    0.. in the driver."""
    import numpy as np
    import pyarrow as pa

    vals = _ascending(d.toArrow(), col)
    return spark.createDataFrame(
        pa.table({col: vals, out_schema.fieldNames()[-1]:
                  np.arange(len(vals), dtype=np.int64)}),
        schema=out_schema)
