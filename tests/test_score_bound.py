"""The builtin score bound match_edges filters on before the Jaro-Winkler
score (operators/scoring.py): it must never drop an edge the score keeps."""

from __future__ import annotations

from pyspark.sql import functions as F

from email_address_parser_spark.operators.scoring import (
    match_edges,
    score_bound,
    score_pairs,
)
from tests.test_plans import SF_DIR


def _pairset(df, a="email_a", b="email_b"):
    return {(r[0], r[1]) for r in df.select(a, b).collect()}


def test_bound_is_at_least_the_score_on_every_scored_pair(spark):
    from email_address_parser_spark.operators.extract import (
        extract_mentions,
        with_canonical,
    )
    from email_address_parser_spark.pipeline import resolve
    from email_address_parser_spark.sources.testdata import derive_transcripts

    mentions = with_canonical(extract_mentions(derive_transcripts(spark, SF_DIR)))
    chain = resolve(mentions)
    scored = chain["scored"].withColumn("bound", score_bound()).persist()
    assert scored.count() > 0
    assert scored.where(F.col("bound") < F.col("score")).count() == 0
    # the bound removes pairs (else it saves nothing) but no edge
    assert scored.where(F.col("bound") < F.lit(0.9)).count() > 0
    by_score = scored.where(F.col("score") >= F.lit(0.9))
    assert _pairset(chain["fuzzy"], "src", "dst") == _pairset(by_score) != set()
    scored.unpersist()
    chain["dim"].unpersist()
    chain["uniq"].unpersist()


def test_edge_whose_score_rounds_up_to_the_threshold_is_kept(spark):
    """Same dotless local (JW = 1, so bound == score), domains one edit
    apart over 7 characters: the unrounded score 0.96428571... sits under
    a 0.964286 threshold that its 6-decimal rounding reaches. An unrounded
    bound would drop the pair."""
    pairs = spark.createDataFrame(
        [("jo.hn@abcdefg", "john@abcdefh", "jo.hn", "john", "abcdefg", "abcdefh")],
        "email_a string, email_b string, local_canon_a string, local_canon_b string, "
        "domain_canon_a string, domain_canon_b string",
    )
    threshold = 0.964286
    unrounded = 0.35 * 1.0 + 0.20 * (1.0 - 0 / 4) + 0.25 * (1.0 - 1 / 7) + 0.20 * 1.0
    assert unrounded < threshold
    scored = score_pairs(pairs, rebalance=False)
    assert scored.select("jw_local", "score").first() == (1.0, threshold)
    edges = match_edges(scored, threshold).collect()
    assert [(r.src, r.dst, r.score) for r in edges] == [
        ("jo.hn@abcdefg", "john@abcdefh", threshold)
    ]


def test_edges_of_a_score_without_features_are_thresholded_on_score(spark):
    """A scored frame from elsewhere (no score_pairs features, so no bound)
    is thresholded on score alone; duplicates keep their max score."""
    scored = spark.createDataFrame(
        [("a", "b", 0.95), ("a", "b", 0.5), ("a", "c", 0.89), ("b", "c", None)],
        "email_a string, email_b string, score double",
    )
    assert [tuple(r) for r in match_edges(scored).collect()] == [("a", "b", 0.95)]
