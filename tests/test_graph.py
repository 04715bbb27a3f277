"""Canonical edge-table invariants (graph.py, FIXTURES.md F2)."""

from __future__ import annotations

import pytest

from pyspark.sql import functions as F

from vite_spark.graph import (
    GraphFrame,
    check_symmetry,
    edges_from_pairs,
    graph_stats,
    renumber_contiguous,
    self_loop_weights,
    symmetrize,
    weighted_degrees,
)


def test_symmetrize_and_invariants(spark):
    e = edges_from_pairs(spark, [(0, 1, 2.0), (1, 2, 1.0), (2, 2, 0.5)])
    rows = {(r["src"], r["dst"]): r["weight"] for r in e.collect()}
    # both directions for u≠v, self-loop once
    assert rows == {(0, 1): 2.0, (1, 0): 2.0, (1, 2): 1.0, (2, 1): 1.0, (2, 2): 0.5}
    assert check_symmetry(e) == 0
    s = graph_stats(e)
    # Σ weighted degree == total weight == 2m (self-loop counted once)
    deg = {r["id"]: r["vdeg"] for r in weighted_degrees(e).collect()}
    assert sum(deg.values()) == pytest.approx(s["two_m"])
    sl = {r["id"]: r["self_w"] for r in self_loop_weights(e).collect()}
    assert sl == {2: 0.5}


def test_duplicate_pairs_combined(spark):
    e = edges_from_pairs(spark, [(0, 1, 1.0), (0, 1, 2.0)])
    rows = {(r["src"], r["dst"]): r["weight"] for r in e.collect()}
    assert rows == {(0, 1): 3.0, (1, 0): 3.0}


def test_asymmetry_detected(spark):
    bad = spark.createDataFrame(
        [(0, 1, 1.0), (1, 0, 2.0)], "src long, dst long, weight double"
    )
    assert check_symmetry(bad) == 2  # weight mismatch both directions


def test_renumber_contiguous(spark):
    e = spark.createDataFrame(
        [(100, 7, 1.0), (7, 900, 1.0)], "src long, dst long, weight double"
    )
    e2, mapping = renumber_contiguous(e)
    m = {r["orig_id"]: r["id"] for r in mapping.collect()}
    assert m == {7: 0, 100: 1, 900: 2}
    rows = {(r["src"], r["dst"]) for r in e2.collect()}
    assert rows == {(1, 0), (0, 2)}


def test_dense_ids_tiers_identical(spark):
    """The single-task small-input tier and the distributed range tier of
    dense_ids must produce the identical value→rank mapping (rank ordered
    by value is a pure function of the distinct value set)."""
    from vite_spark.kernels.ids import dense_ids

    df = spark.createDataFrame(
        [("b",), ("a",), ("c",), ("a",), ("zz",), ("m",), ("aa",)],
        "v string",
    )
    small = {r["v"]: r["id"] for r in dense_ids(df, "v", "id").collect()}
    forced_dist = {
        r["v"]: r["id"]
        for r in dense_ids(df, "v", "id", local_max_rows=0).collect()
    }
    assert small == {"a": 0, "aa": 1, "b": 2, "c": 3, "m": 4, "zz": 5}
    assert forced_dist == small

    ints = spark.createDataFrame([(9,), (3,), (700,), (3,)], "v long")
    small_i = {r["v"]: r["id"] for r in dense_ids(ints, "v", "id").collect()}
    dist_i = {
        r["v"]: r["id"]
        for r in dense_ids(ints, "v", "id", local_max_rows=0).collect()
    }
    assert small_i == {3: 0, 9: 1, 700: 2} and dist_i == small_i

    empty = spark.createDataFrame([], "v string")
    out = dense_ids(empty, "v", "id")
    assert out.collect() == [] and set(out.columns) == {"v", "id"}


def test_dense_ids_null_same_id_in_both_tiers(spark, monkeypatch):
    """A null value takes id 0 in both tiers (Spark's ascending order puts
    nulls first), and local_max_rows=0 forces the distributed tier even
    on an empty input."""
    from vite_spark.kernels.ids import dense_ids

    for rows, schema, want in (
        ([(5,), (None,), (2,), (None,), (9,)], "v long",
         {None: 0, 2: 1, 5: 2, 9: 3}),
        ([("b",), (None,), ("a",)], "v string", {None: 0, "a": 1, "b": 2}),
        ([(None,)], "v long", {None: 0}),
    ):
        df = spark.createDataFrame(rows, schema)
        small = {r["v"]: r["id"] for r in dense_ids(df, "v", "id").collect()}
        dist = {r["v"]: r["id"] for r in
                dense_ids(df, "v", "id", local_max_rows=0).collect()}
        assert small == dist == want

    empty = spark.createDataFrame([], "v string")
    ranged = []
    real = type(empty).repartitionByRange

    def spy(self, *a, **k):
        ranged.append(a)
        return real(self, *a, **k)

    monkeypatch.setattr(type(empty), "repartitionByRange", spy)
    assert dense_ids(empty, "v", "id", local_max_rows=0).collect() == []
    assert len(ranged) == 1


def test_dense_ids_driver_tier_matches_distributed(spark):
    """The driver tier (Arrow sort) ranks exactly like the distributed
    tier and Spark's ascending order: non-ASCII strings by UTF-8 bytes,
    negative longs, NaN above every double, the null first. It leaves no
    persisted block behind."""
    from pyspark.sql import functions as F

    from vite_spark.kernels.ids import dense_ids

    def key(v):
        return "nan" if isinstance(v, float) and v != v else v

    sc = spark.sparkContext
    for rows, schema in (
        ([("é",), ("Z",), ("a",), (None,), ("ß",), ("日本",), ("",),
          ("a",), ("éa",)], "v string"),
        ([(-5,), (3,), (None,), (-(2 ** 62),), (0,), (2 ** 62,), (-5,)],
         "v long"),
        ([(float("nan"),), (-1.5,), (None,), (2.0,), (float("-inf"),)],
         "v double"),
    ):
        df = spark.createDataFrame(rows, schema)
        want = [key(r["v"]) for r in df.select("v").distinct()
                .orderBy(F.col("v").asc_nulls_first()).collect()]
        got = {}
        for lim in (None, 0):
            before = set(sc._jsc.getPersistentRDDs().keySet())
            out = dense_ids(df, "v", "id", local_max_rows=lim).collect()
            got[lim] = sorted((r["id"], key(r["v"])) for r in out)
            if lim is None:
                assert set(sc._jsc.getPersistentRDDs().keySet()) <= before
        assert got[None] == list(enumerate(want)), schema
        assert got[0] == got[None], schema


def test_graphframe(spark):
    e = edges_from_pairs(spark, [(0, 1), (1, 2)])
    gf = GraphFrame.from_edges(e)
    assert gf.nv == 3 and gf.two_m == pytest.approx(4.0)
    assert gf.constant == pytest.approx(0.25)


def test_degree_assortativity_matches_networkx(spark):
    """Karate club: networkx degree_assortativity_coefficient is the
    published ground truth (-0.4756); the engine's exact-int64
    sufficient statistics must reproduce it. Dirt rows (self-loops,
    duplicate directions) must be normalized away."""
    import networkx as nx

    from vite_spark import fixtures as fx
    from vite_spark.graph import degree_assortativity

    s, d, w, nv = fx.karate()
    edges = fx.to_spark_edges(spark, (s, d, w, nv))
    got = degree_assortativity(edges).collect()[0]["assortativity"]
    G = nx.Graph()
    G.add_edges_from((int(a), int(b)) for a, b in zip(s, d) if a != b)
    want = nx.degree_assortativity_coefficient(G)
    assert got == pytest.approx(want, abs=5e-7)
    # self-loops and repeated rows change nothing
    dirty = edges.unionByName(
        spark.createDataFrame(
            [(0, 0, 9.0), (0, 1, 1.0)], "src long, dst long, weight double"
        )
    )
    assert (
        degree_assortativity(dirty).collect()[0]["assortativity"] == got
    )


def test_degree_histogram_and_powerlaw_alpha(spark):
    """Histogram counts the per-vertex neighbor counts; alpha matches the
    pure-Python CSN continuous MLE with identical round-12 decimal
    accumulation (star graph: hub degree n, leaves degree 1)."""
    import math
    from decimal import Decimal

    from vite_spark.graph import degree_histogram, powerlaw_alpha

    # star with 6 leaves + one triangle glued to leaf 1
    und = [(0, i) for i in range(1, 7)] + [(1, 7), (7, 8), (8, 1)]
    rows = [(u, v, 1.0) for u, v in und] + [(v, u, 1.0) for u, v in und]
    df = spark.createDataFrame(rows, "src long, dst long, weight double")

    hist = {r["deg"]: r["n_vertices"]
            for r in degree_histogram(df).collect()}
    degs = {}
    for u, v in und:
        degs[u] = degs.get(u, 0) + 1
        degs[v] = degs.get(v, 0) + 1
    exp = {}
    for d in degs.values():
        exp[d] = exp.get(d, 0) + 1
    assert hist == exp

    got = powerlaw_alpha(df, dmin=2).collect()[0]
    tail = [d for d in degs.values() if d >= 2]
    s = sum((Decimal(str(round(math.log(d / 1.5), 12))) for d in tail),
            Decimal(0))
    assert got["n_tail"] == len(tail)
    assert got["alpha"] == round(1.0 + len(tail) / float(s), 6)
    assert got["dmin"] == 2
