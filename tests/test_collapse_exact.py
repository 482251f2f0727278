"""The collapsed-representative production chain (pipeline.resolve:
exact-dedup before fuzzy match) must produce EXACTLY the same clusters as
the full pair-enumeration reference path."""

from __future__ import annotations

import pytest

from email_address_parser_spark.operators.blocking import candidate_pairs
from email_address_parser_spark.operators.extract import extract_mentions, with_canonical
from email_address_parser_spark.operators.scoring import match_edges, score_pairs
from email_address_parser_spark.pipeline import cluster_mentions, resolve
from tests.synth import synthesize

BLOCKING = dict(hot_threshold=50, target_block_size=40)


@pytest.fixture(scope="module")
def corpus():
    return synthesize(n_convs=80, turns_per_conv=8, n_entities=20, seed=7)


def _as_dict(clusters):
    return {r.email: r.cluster_id for r in clusters.collect()}


def test_collapsed_path_matches_full_path(spark, corpus):
    mentions = with_canonical(extract_mentions(spark.createDataFrame(corpus.transcripts)))
    full = cluster_mentions(
        mentions, match_edges(score_pairs(candidate_pairs(mentions, **BLOCKING)))
    )
    collapsed = resolve(mentions, **BLOCKING)["clusters"]
    assert _as_dict(collapsed) == _as_dict(full)


def test_exact_match_edges_are_stars(spark, corpus):
    from email_address_parser_spark.operators.blocking import exact_match_edges

    sdf = spark.createDataFrame(corpus.transcripts)
    mentions = with_canonical(extract_mentions(sdf))
    edges = exact_match_edges(mentions)
    rows = edges.collect()
    assert all(r.src < r.dst and r.score == 1.0 for r in rows)
    # star shape: no dst is ever a src (depth-1 forest)
    srcs = {r.src for r in rows}
    dsts = {r.dst for r in rows}
    assert not (srcs & dsts)
