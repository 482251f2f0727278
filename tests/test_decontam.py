"""Benchmark decontamination (operators/decontam.py): semantics + plan shape."""

from __future__ import annotations

import pandas as pd
from pyspark.sql import functions as F

from email_address_parser_spark.operators.decontam import ngram_decontaminate


def _df(spark, rows):
    return spark.createDataFrame(pd.DataFrame(rows, columns=["doc_id", "text"]))


def test_decontam_counts_and_flag(spark):
    """Known-overlap fixture at n=3: doc 1 is a verbatim benchmark copy
    (contamination 1.0), doc 2 shares a 4-token run (two of its five grams),
    doc 3 shares nothing, doc 4 is too short for any gram."""
    bench_text = "alpha beta gamma delta epsilon"
    train = _df(
        spark,
        [
            (1, bench_text),
            (2, "alpha beta gamma delta UNIQUE2 zeta eta"),
            (3, "one two three four five six"),
            (4, "too short"),
        ],
    )
    bench = _df(spark, [(100, bench_text)])
    out = {
        r["doc_id"]: r
        for r in ngram_decontaminate(train, bench, n=3, threshold=0.5).collect()
    }
    assert out[1]["n_grams"] == 3 and out[1]["n_shared"] == 3
    assert out[1]["contamination"] == 1.0 and out[1]["contaminated"]
    assert out[2]["n_grams"] == 5 and out[2]["n_shared"] == 2
    assert not out[2]["contaminated"]
    assert out[3]["n_shared"] == 0 and not out[3]["contaminated"]
    assert out[4]["n_grams"] == 0 and out[4]["n_shared"] == 0
    assert out[4]["contamination"] == 0.0 and not out[4]["contaminated"]
    assert set(out) == {1, 2, 3, 4}, "every train doc appears exactly once"


def test_decontam_dedupes_repeated_grams(spark):
    """A gram repeated inside one doc counts once (distinct-gram semantics)."""
    train = _df(spark, [(1, "a b c a b c a b c")])
    bench = _df(spark, [(9, "a b c")])
    row = ngram_decontaminate(train, bench, n=3).collect()[0]
    # distinct grams of the 9-token doc: 'a b c','b c a','c a b' = 3
    assert row["n_grams"] == 3 and row["n_shared"] == 1


def test_decontam_benchmark_side_is_broadcast(spark):
    """The benchmark gram set must ride a BroadcastExchange: the corpus-side
    gram stream is never shuffled for the probe join — its only Exchange is
    the final groupBy(doc_id)."""
    from tests.plans import explain_str

    train = _df(spark, [(i, f"w{i} x y z q r s t u v") for i in range(50)])
    bench = _df(spark, [(999, "x y z q r s t u v w")])
    df = ngram_decontaminate(train, bench, n=8)
    plan = explain_str(df)
    assert "BroadcastExchange" in plan or "BroadcastHashJoin" in plan
    assert "SortMergeJoin" not in plan

def test_decontam_size_gate_falls_back_to_shuffled_join(spark):
    """Above the broadcast gate (a 10M-example benchmark's gram dim can
    exceed executor memory) the probe must run as a shuffled join, NOT a
    broadcast — same result either way."""
    from tests.plans import explain_str

    train = _df(spark, [(i, f"w{i} x y z q r s t u v") for i in range(20)])
    bench = _df(spark, [(999, "x y z q r s t u v w")])
    forced = ngram_decontaminate(train, bench, n=8, broadcast_grams=False)
    plan = explain_str(forced)
    assert "SortMergeJoin" in plan or "ShuffledHashJoin" in plan
    # gate decisions are value-neutral: both strategies agree row-for-row
    auto = ngram_decontaminate(train, bench, n=8)
    assert sorted(map(tuple, forced.collect())) == sorted(map(tuple, auto.collect()))


def test_decontam_gate_measures_when_unset(spark):
    """broadcast_grams=None measures the dim: a gate of 0 distinct grams
    forces the shuffled plan; the default (5M) keeps the broadcast."""
    from tests.plans import explain_str

    train = _df(spark, [(1, "a b c d e f g h i j")])
    bench = _df(spark, [(9, "c d e f g h i j k l")])
    small_gate = ngram_decontaminate(train, bench, n=8, broadcast_max_grams=0)
    assert "SortMergeJoin" in explain_str(small_gate) or "ShuffledHashJoin" in explain_str(small_gate)
    big_gate = ngram_decontaminate(train, bench, n=8)
    p = explain_str(big_gate)
    assert "BroadcastExchange" in p or "BroadcastHashJoin" in p
