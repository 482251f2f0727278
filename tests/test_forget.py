"""G58 right-to-be-forgotten contract (operators/forget.py).

The exactness claim: forgetting an identity leaves state ROW-IDENTICAL to a
from-scratch build over the corpus with that identity's mentions removed —
for every table, not just clusters — and subsequent folds behave as if the
identity had never existed (until its address lawfully reappears in new
data, which re-creates it).
"""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from email_address_parser_spark.operators.extract import (
    extract_mentions,
    with_canonical,
)
from email_address_parser_spark.operators.forget import forget_apply, forget_payload
from email_address_parser_spark.operators.incremental import (
    STATE_TABLES,
    build_incremental_state,
    fold_batch,
)
from tests.synth import synthesize

FOLD_KW = dict(hot_threshold=1 << 40, target_block_size=5_000)


@pytest.fixture(scope="module")
def corpus(spark):
    c = synthesize(n_convs=120, turns_per_conv=6, n_entities=30, seed=33)
    df = spark.createDataFrame(c.transcripts)
    is_batch = F.pmod(F.xxhash64("conv_id"), F.lit(4)) == 0
    return df.where(~is_batch).persist(), df.where(is_batch).persist()


def _rows(df, cols=None):
    cols = cols or df.columns
    return {
        tuple(
            tuple(v) if isinstance(v, list) else v
            for v in (r[c] for c in cols)
        )
        for r in df.select(*cols).collect()
    }


def _target(state):
    """Deterministic 1-row target frame: the min clustered email."""
    return state["clusters"].agg(F.min("email").alias("email"))


def _reduced_mentions(mentions, doomed):
    return mentions.join(doomed.select("email"), "email", "left_anti")


def test_forget_apply_equals_from_scratch_everywhere(spark, corpus):
    prev_t, _ = corpus
    mentions = with_canonical(extract_mentions(prev_t)).persist()
    state = build_incremental_state(spark, prev_t, mentions=mentions, **FOLD_KW)
    payload = forget_payload(state, _target(state))
    doomed = payload["doomed"].persist()
    assert doomed.count() > 1  # a real multi-email identity got erased

    after = forget_apply(state, payload)
    rebuilt = build_incremental_state(
        spark, prev_t, mentions=_reduced_mentions(mentions, doomed), **FOLD_KW
    )
    for table in STATE_TABLES:
        got, want = after.get(table), rebuilt.get(table)
        assert _rows(got, sorted(got.columns)) == _rows(
            want, sorted(want.columns)
        ), table


def test_fold_after_forget_equals_from_scratch(spark, corpus):
    """forget_apply (the apply er_forget runs) then fold_batch equals a
    from-scratch build over the reduced corpus plus the batch."""
    prev_t, new_t = corpus
    prev_m = with_canonical(extract_mentions(prev_t)).persist()
    state = build_incremental_state(spark, prev_t, mentions=prev_m, **FOLD_KW)
    payload = forget_payload(state, _target(state))
    doomed = payload["doomed"].persist()

    out = fold_batch(spark, new_t, forget_apply(state, payload), **FOLD_KW)

    # from-scratch model: (prev mentions minus the erased identity) ∪ the
    # batch's mentions IN FULL — a forgotten address reappearing in new data
    # is new data and lawfully re-creates an identity
    new_m = with_canonical(extract_mentions(new_t))
    want = build_incremental_state(
        spark,
        prev_t,
        mentions=_reduced_mentions(prev_m, doomed).unionByName(new_m),
        **FOLD_KW,
    )
    cols = ["email", "cluster_id"]
    assert _rows(out["clusters"], cols) == _rows(want["clusters"], cols)
    # reappeared doomed addresses (the synth entity pool spans the conv
    # split, so some always reappear) are clustered again post-fold
    reappeared = new_m.join(doomed.select("email"), "email").select("email")
    n_re = reappeared.distinct().count()
    assert n_re > 0
    assert out["clusters"].join(reappeared, "email").select(
        "email"
    ).distinct().count() == n_re
    # ...and each reappeared email has exactly ONE clusters row: the forget
    # removed the old one, so the fold's new-email anti-join re-adds it
    live = out["state"]["clusters"].join(reappeared.distinct(), "email")
    assert live.count() == n_re
