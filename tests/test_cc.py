"""connected_components: the adaptive driver-side union-find path must be
byte-identical to the distributed large-star/small-star loop (same rows, same
min-email labels) — pinned on random graphs and structured edge shapes."""

import random

import pytest
from pyspark.sql import functions as F

from email_address_parser_spark.operators.cc import connected_components


def _sets(df):
    return {(r["email"], r["cluster_id"]) for r in df.collect()}


def _run_both(spark, edges):
    df = spark.createDataFrame(edges, "src string, dst string")
    local = connected_components(df)  # default threshold -> local path
    dist = connected_components(df, local_threshold=0)  # force the loop
    return _sets(local), _sets(dist)


def test_local_equals_distributed_random_graphs(spark):
    rng = random.Random(11)
    for trial in range(3):
        n = rng.choice([20, 120, 400])
        nodes = [f"u{i:04d}@x.com" for i in range(n)]
        edges = [
            (rng.choice(nodes), rng.choice(nodes))
            for _ in range(rng.randint(n // 2, 2 * n))
        ]
        local, dist = _run_both(spark, edges)
        assert local == dist, f"trial {trial}"


def test_local_equals_distributed_structured_shapes(spark):
    # chain (worst case for naive star), two disjoint cliques, self-loops
    chain = [(f"c{i}@x", f"c{i+1}@x") for i in range(40)]
    k = [f"k{i}@x" for i in range(6)]
    clique = [(a, b) for a in k for b in k if a < b]
    loops = [("z@x", "z@x"), ("c0@x", "c0@x")]
    local, dist = _run_both(spark, chain + clique + loops)
    assert local == dist
    # the chain is one component labeled by its min node
    assert ("c39@x", "c0@x") in local
    # the clique collapses to its min
    assert all((m, "k0@x") in local for m in k)


def test_empty_graph_fast_exit(spark):
    df = spark.createDataFrame([], "src string, dst string")
    assert connected_components(df).count() == 0


def test_local_path_returns_a_local_relation(spark):
    """Below the bound the labels come back as a LocalRelation, which every
    read scans in the JVM — not a LogicalRDD of pickled rows, which starts
    Python workers again on each read. Integer node ids (the dedup callers)
    take the same path and keep their type: the local path and the star
    loop return the same long-typed rows."""
    for edges, schema in (
        ([("a@x", "b@x"), ("b@x", "c@x")], "src string, dst string"),
        ([(10, 9), (9, 100)], "src long, dst long"),
    ):
        out = connected_components(spark.createDataFrame(edges, schema))
        plan = out._jdf.queryExecution().optimizedPlan().toString()
        assert "LocalRelation" in plan and "LogicalRDD" not in plan, plan
    ints = spark.createDataFrame([(10, 9), (9, 100), (3, 4)], "src long, dst long")
    want = [(3, 3), (4, 3), (9, 9), (10, 9), (100, 9)]
    for kw in ({}, {"local_threshold": 0}):  # the local path, the star loop
        out = connected_components(ints, **kw)
        assert [f.dataType.simpleString() for f in out.schema] == ["bigint", "bigint"]
        assert sorted(map(tuple, out.collect())) == want, kw
