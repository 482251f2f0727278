"""G42: incremental golden records — fold == full recompute, replay no-op."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from email_address_parser_spark.operators.extract import (
    extract_mentions,
    with_canonical,
)
from email_address_parser_spark.operators.incremental import (
    build_incremental_state,
    fold_batch,
)
from email_address_parser_spark.operators.incremental_golden import (
    build_golden_state,
    fold_golden,
)
from email_address_parser_spark.operators.survivorship import golden_records
from tests.synth import synthesize


@pytest.fixture(scope="module")
def corpus_df(spark):
    corpus = synthesize(n_convs=150, turns_per_conv=8, n_entities=40, seed=7)
    return spark.createDataFrame(corpus.transcripts)


def _split(corpus_df):
    prev = corpus_df.where(F.pmod(F.xxhash64("conv_id"), F.lit(5)) < 4)
    new = corpus_df.where(F.pmod(F.xxhash64("conv_id"), F.lit(5)) >= 4)
    return prev, new


def _as_rows(df):
    return {tuple(r) for r in df.collect()}


def _fold_once(spark, corpus_df):
    prev_t, new_t = _split(corpus_df)
    state = build_incremental_state(spark, prev_t, hot_threshold=1 << 40)
    prev_m = with_canonical(extract_mentions(prev_t))
    gstate = build_golden_state(prev_m, state["clusters"])
    new_m = with_canonical(extract_mentions(new_t))
    out = fold_batch(
        spark, new_t, state, hot_threshold=1 << 40, new_mentions=new_m
    )
    gout = fold_golden(
        spark, new_m, out["delta"], out["clusters"], state["clusters"], gstate
    )
    return new_m, out, gout


def test_fold_golden_equals_full_recompute(spark, corpus_df):
    """The folded golden table equals golden_records over the full corpus
    and the post-fold clustering — including clusters the batch never
    touched (pass-through) and merged-away ids (tombstoned)."""
    _, out, gout = _fold_once(spark, corpus_df)
    full = golden_records(
        with_canonical(extract_mentions(corpus_df)), out["clusters"]
    )
    assert _as_rows(gout["golden"]) == _as_rows(full)
    # the fold's write surface is smaller than the table it maintains
    n_upserts = gout["golden_upserts"].count()
    assert 0 < n_upserts < gout["golden"].count()


def test_fold_golden_refold_is_noop(spark, corpus_df):
    """Replaying an already-folded batch drains through the mention-key
    anti-join: no new ledger rows, golden values unchanged."""
    new_m, out, gout = _fold_once(spark, corpus_df)
    folded = {k: gout[k].localCheckpoint() for k in ("men", "golden")}
    clusters = out["clusters"].localCheckpoint()
    again = fold_golden(
        spark,
        new_m,
        out["delta"].localCheckpoint(),
        clusters,
        clusters,  # post-fold assignment is now also the pre-fold one
        folded,
    )
    assert again["new_men"].count() == 0
    assert _as_rows(again["golden"]) == _as_rows(folded["golden"])
