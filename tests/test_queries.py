"""Driver-contract rehearsal: every registry query runs on Spark AND its
DuckDB oracle SQL on the same parquet tables; results must match exactly
(row count, column names, order-insensitive values) — the same comparison
the round driver performs at sf=0.01 (here at sf=0.001 for speed)."""

from __future__ import annotations

import math

import duckdb
import pytest

from vite_spark.queries import registry

SF_DIR = "/root/testdata/sf0.001"
TABLES = [
    "region", "nation", "customer", "supplier", "part", "orders",
    "lineitem", "events", "documents", "embeddings",
]


@pytest.fixture(scope="module")
def ddb():
    con = duckdb.connect()
    for t in TABLES:
        con.sql(f"CREATE VIEW {t} AS FROM '{SF_DIR}/{t}.parquet'")
    return con


def _normalize(rows, cols):
    out = []
    for r in rows:
        vals = []
        for c in cols:
            v = r[c]
            if isinstance(v, float):
                if math.isnan(v):
                    v = "nan"
                else:
                    v = round(v, 9)
            elif hasattr(v, "__int__") and not isinstance(v, (int, bool)):
                v = int(v)
            vals.append(v)
        out.append(tuple(vals))
    out.sort(key=lambda t: tuple(str(x) for x in t))
    return out


PAIRS = {k: v for k, v in registry().items() if v[1] is not None}


@pytest.mark.parametrize("name", list(PAIRS))
def test_query_matches_oracle(spark, ddb, name):
    fn, sql = PAIRS[name]
    sdf = fn(spark, SF_DIR)
    scols = sorted(sdf.columns)
    srows = [r.asDict() for r in sdf.collect()]

    res = ddb.sql(sql)
    dcols = sorted(res.columns)
    assert scols == dcols, f"{name}: columns {scols} != {dcols}"
    drows = [dict(zip(res.columns, t)) for t in res.fetchall()]

    assert len(srows) == len(drows), f"{name}: {len(srows)} vs {len(drows)} rows"
    a = _normalize(srows, scols)
    b = _normalize(drows, dcols)
    mism = [i for i, (x, y) in enumerate(zip(a, b)) if x != y][:5]
    assert a == b, f"{name}: first mismatches {[(a[i], b[i]) for i in mism]}"


ROWS_ONLY = {k: v for k, v in registry().items() if v[1] is None}


@pytest.mark.parametrize("name", list(ROWS_ONLY))
def test_rows_only_queries_run(spark, name):
    fn, _ = ROWS_ONLY[name]
    df = fn(spark, SF_DIR)
    assert df.count() >= 0
    assert len(df.columns) >= 1


def test_cc_rows_match_twophase(spark):
    """`cc_sizes` and `cc_gini` run the runner CC; the large-star/
    small-star CC gives the same labels, sizes and Gini."""
    from pyspark.sql import functions as F

    from vite_spark.algos.components import (
        connected_components,
        connected_components_twophase,
    )
    from vite_spark.eval.compare import gini_coefficient
    from vite_spark.queries import lineitem_part_edges

    e = lineitem_part_edges(spark, SF_DIR)
    two = connected_components_twophase(spark, e)
    assert sorted(map(tuple, connected_components(spark, e).collect())) \
        == sorted(map(tuple, two.select("id", "component").collect()))
    sizes = two.groupBy("component").agg(
        F.count(F.lit(1)).cast("long").alias("n"))
    fn = registry()["cc_sizes"][0]
    assert sorted(map(tuple, fn(spark, SF_DIR).collect())) \
        == sorted(map(tuple, sizes.collect()))
    g = gini_coefficient(two.select("id", F.col("component").alias("comm")))
    want = spark.createDataFrame([(g,)], "g double").select(
        F.round("g", 6).alias("gini")).collect()
    assert registry()["cc_gini"][0](spark, SF_DIR).collect() == want


def test_graph_queries_leave_no_state(spark):
    """PageRank, CC sizes, the triangle total and LPA each leave no
    persisted RDD and no engine scratch entry behind: their single-task
    tier runs in the driver."""
    import os
    import tempfile

    from vite_spark.config import resolve_scratch

    jsc = spark.sparkContext._jsc
    scratch = resolve_scratch(None) or tempfile.gettempdir()

    def packs():
        return {f for f in os.listdir(scratch) if f.startswith("vite_")}

    for name in ("pagerank", "cc_sizes", "triangles_total", "lpa_labels"):
        rdds, before = set(jsc.getPersistentRDDs().keys()), packs()
        assert registry()[name][0](spark, SF_DIR).collect(), name
        # ids, not a count: the context cleaner may drop an earlier
        # test's RDDs while the call runs
        assert set(jsc.getPersistentRDDs().keys()) - rdds == set(), name
        assert packs() - before == set(), name
