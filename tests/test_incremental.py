"""Incremental cluster maintenance: equivalence to full recompute + scale
invariants (operators/incremental.py).

The load-bearing claim is the equivalence contract: folding batch B into
state bootstrapped from batch A must equal `pipeline.resolve` over A UNION B
whenever no data-driven blocking transition separates the runs. Tests
exercise the contract at the default threshold (where edges <=> match-key
equality, the driver-oracle regime), at a low threshold (genuine fuzzy
cross-key merges, including merges of two PRE-EXISTING clusters by a
bridging new email), under active hot-domain salting across chained folds,
for a new variant that becomes its key's minimum, for a re-applied batch and
for the empty-batch no-op.
"""

from __future__ import annotations

import pandas as pd
import pytest
from pyspark.sql import functions as F

from email_address_parser_spark.operators.blocking import LOCAL_MAX_BLOCK, candidate_pairs
from email_address_parser_spark.operators.extract import extract_mentions, with_canonical
from email_address_parser_spark.operators.incremental import (
    build_incremental_state,
    fold_batch,
)
from email_address_parser_spark.operators.scoring import DEFAULT_THRESHOLD, score_pairs
from email_address_parser_spark.pipeline import HOT_THRESHOLD, TARGET_BLOCK, resolve
from tests.synth import synthesize


def _as_set(df):
    return {(r["email"], r["cluster_id"]) for r in df.collect()}


@pytest.fixture(scope="module")
def corpus_df(spark):
    corpus = synthesize(n_convs=150, turns_per_conv=8, n_entities=40, seed=7)
    return spark.createDataFrame(corpus.transcripts)


def _split(corpus_df):
    prev = corpus_df.where(F.pmod(F.xxhash64("conv_id"), F.lit(5)) < 4)
    new = corpus_df.where(F.pmod(F.xxhash64("conv_id"), F.lit(5)) >= 4)
    return prev, new


def _full_collapsed(
    mentions, hot_threshold, target_block_size=5_000, threshold=DEFAULT_THRESHOLD
):
    return resolve(
        mentions,
        hot_threshold=hot_threshold,
        target_block_size=target_block_size,
        threshold=threshold,
    )["clusters"]


_COLS = ["conv_id", "turn_idx", "role", "text", "tool", "ts"]


@pytest.mark.parametrize("threshold", [0.90, 0.70])
def test_fold_batch_equals_batch_collapsed(spark, corpus_df, threshold):
    """fold_batch over bootstrap state == the batch collapsed chain on the
    union corpus, at the default threshold and at a low one where cross-key
    fuzzy edges exist, so the CC loop does real merging work; the delta is a
    subset of the final view and disjoint-union with the untouched rows
    reconstructs it."""
    prev_t, new_t = _split(corpus_df)
    state = build_incremental_state(
        spark, prev_t, hot_threshold=1 << 40, threshold=threshold
    )
    out = fold_batch(spark, new_t, state, hot_threshold=1 << 40, threshold=threshold)
    full = _full_collapsed(
        with_canonical(extract_mentions(corpus_df)), 1 << 40, threshold=threshold
    )
    got = _as_set(out["clusters"])
    assert got == _as_set(full)
    delta = _as_set(out["delta"])
    assert delta <= got
    assert len(delta) < len(got), "delta must be smaller than the full view"


def test_fold_batch_merges_two_prev_clusters(spark):
    """A new email bridging two pre-existing clusters must merge them.

    The bridge 'annsmith@ex.com' is one edit from 'ansmith@ex.com' (deletion)
    and one edit from 'annsmyth@ex.com' (substitution); the two A-batch
    emails are two edits apart and score lower against each other. (Since
    round 4 the scorer works on DOTLESS locals, so the members must differ in
    real characters, not dot placement.) The threshold is derived from the
    actual scorer as the midpoint between the direct A<->A score and the
    weakest bridge score, so the test is robust to scoring-formula tweaks as
    long as the bridge stays the strongest link."""
    a_email, b_email, c_email = "ansmith@ex.com", "annsmyth@ex.com", "annsmith@ex.com"
    rows = [
        ("c1", 0, "user", f"contact {a_email} please", None, 0.0),
        ("c2", 0, "user", f"contact {b_email} please", None, 0.0),
    ]
    bridge = [("c3", 0, "user", f"cc {c_email} too", None, 0.0)]
    prev_t = spark.createDataFrame(pd.DataFrame(rows, columns=_COLS))
    new_t = spark.createDataFrame(pd.DataFrame(bridge, columns=_COLS))
    all_m = with_canonical(extract_mentions(prev_t.unionByName(new_t)))
    scores = {
        (r["email_a"], r["email_b"]): r["score"]
        for r in score_pairs(candidate_pairs(all_m, hot_threshold=1 << 40)).collect()
    }

    def s(x, y):
        return scores[(min(x, y), max(x, y))]

    direct = s(a_email, b_email)
    weakest_bridge = min(s(a_email, c_email), s(b_email, c_email))
    assert direct < weakest_bridge, "fixture: bridge must be the strongest link"
    threshold = (direct + weakest_bridge) / 2

    state = build_incremental_state(
        spark, prev_t, hot_threshold=1 << 40, threshold=threshold
    )
    assert (
        state["clusters"].select("cluster_id").distinct().count() == 2
    ), "precondition: the two A-batch emails start in separate clusters"

    out = fold_batch(spark, new_t, state, hot_threshold=1 << 40, threshold=threshold)
    full = _full_collapsed(all_m, 1 << 40, threshold=threshold)
    got = _as_set(out["clusters"])
    assert got == _as_set(full)
    assert len({cid for _, cid in got}) == 1, "all three emails share one cluster"


def test_fold_batch_empty_batch_is_noop(spark, corpus_df):
    prev_t, _ = _split(corpus_df)
    state = build_incremental_state(spark, prev_t, hot_threshold=1 << 40)
    out = fold_batch(
        spark, corpus_df.where(F.lit(False)), state, hot_threshold=1 << 40
    )
    assert _as_set(out["clusters"]) == _as_set(state["clusters"])
    assert out["edges"].count() == 0
    assert out["delta"].count() == 0


def _turns(spark, emails, conv):
    """One single-mention turn per email, each in its own conversation."""
    rows = [
        (f"{conv}{i}", 0, "user", f"mail {e} now", None, 0.0)
        for i, e in enumerate(emails)
    ]
    return spark.createDataFrame(pd.DataFrame(rows, columns=_COLS))


def test_fold_batch_new_key_minimum_attaches(spark):
    """A new variant that becomes its key's MINIMUM email must still join the
    key's existing component (anchor = prev key root, not the union min)."""
    prev_t = _turns(spark, ["bb@d.com"], "p")
    new_t = _turns(spark, ["b.b@d.com"], "n")
    state = build_incremental_state(spark, prev_t, hot_threshold=1 << 40)
    out = fold_batch(spark, new_t, state, hot_threshold=1 << 40)
    got = _as_set(out["clusters"])
    assert got == {("bb@d.com", "b.b@d.com"), ("b.b@d.com", "b.b@d.com")}


def test_fold_cluster_frames_are_email_then_cluster_id(spark):
    """Every (email, cluster_id) frame of the bootstrap and the fold has the
    same column order, so positional consumers (`union`, column-ordered
    compares) pair the right columns."""
    prev_t = _turns(spark, ["bb@d.com", "cc@d.com"], "p")
    new_t = _turns(spark, ["b.b@d.com", "dd@d.com"], "n")
    state = build_incremental_state(spark, prev_t, hot_threshold=1 << 40)
    out = fold_batch(spark, new_t, state, hot_threshold=1 << 40)
    frames = {
        "bootstrap clusters": state["clusters"],
        "fold clusters": out["clusters"],
        "fold state clusters": out["state"]["clusters"],
        "delta": out["delta"],
    }
    for name, df in frames.items():
        assert df.columns == ["email", "cluster_id"], name


@pytest.mark.parametrize(
    "n_prev, links", [(LOCAL_MAX_BLOCK - 1, True), (LOCAL_MAX_BLOCK + 1, False)]
)
def test_fold_at_and_over_the_local_block_cap(spark, n_prev, links):
    """`info@` over distinct domains is one xd_local block, and no other
    channel pairs its emails (one email per domain, one dotless local).
    Bootstrapping LOCAL_MAX_BLOCK - 1 domains and folding one more lands the
    block exactly at the inclusive cap, so the fold links the new email to
    every old one; bootstrapping LOCAL_MAX_BLOCK + 1 keeps it over the cap,
    so the fold adds no edge. Neither fold crosses the cap, so both equal
    `resolve` over the union at the production blocking config."""
    emails = [f"info@org{i:03d}.example" for i in range(n_prev + 1)]
    prev_t = _turns(spark, emails[:-1], "p")
    new_t = _turns(spark, emails[-1:], "n")
    kw = dict(hot_threshold=HOT_THRESHOLD, target_block_size=TARGET_BLOCK)
    state = build_incremental_state(spark, prev_t, **kw)
    out = fold_batch(spark, new_t, state, **kw)
    full = _full_collapsed(
        with_canonical(extract_mentions(prev_t.unionByName(new_t))),
        HOT_THRESHOLD,
        target_block_size=TARGET_BLOCK,
    )
    assert _as_set(out["clusters"]) == _as_set(full)
    edges = [(r["src"], r["dst"]) for r in out["edges"].collect()]
    if links:
        assert len(edges) == n_prev
        assert all(a.split("@")[1] != b.split("@")[1] for a, b in edges)
        assert len({cid for _, cid in _as_set(out["clusters"])}) == 1
    else:
        assert edges == []


def test_fold_batch_chained_salted(spark, corpus_df):
    """Two successive folds (state threaded through, salting ACTIVE) equal
    the batch collapsed chain over the 3-way union — the state tables
    (uniq/reps/clusters) stay consistent across folds, and the salting and
    cap counts each fold takes over its reps slice match the union's."""
    h = F.pmod(F.xxhash64("conv_id"), F.lit(3))
    b0 = corpus_df.where(h == 0)
    b1 = corpus_df.where(h == 1)
    b2 = corpus_df.where(h == 2)

    def _ckpt(state):
        return {
            k: (v.localCheckpoint() if v is not None else None)
            for k, v in state.items()
        }

    state = _ckpt(
        build_incremental_state(spark, b0, hot_threshold=25, target_block_size=16)
    )
    mid = fold_batch(
        spark, b1, state, hot_threshold=25, target_block_size=16
    )
    state2 = _ckpt(mid["state"])
    out = fold_batch(
        spark, b2, state2, hot_threshold=25, target_block_size=16
    )
    full = _full_collapsed(
        with_canonical(extract_mentions(corpus_df)), 25, target_block_size=16
    )
    assert _as_set(out["clusters"]) == _as_set(full)


def test_fold_batch_refold_is_noop(spark, corpus_df):
    """Resume safety: re-applying an already-folded batch (the crash-between-
    fold-and-checkpoint-ack restart case) must leave the clustering unchanged
    and produce an empty new-assignment surface — every batch email is
    already in state.uniq, so the anti-join drains the batch."""
    prev_t, new_t = _split(corpus_df)
    state = build_incremental_state(spark, prev_t, hot_threshold=1 << 40)
    first = fold_batch(spark, new_t, state, hot_threshold=1 << 40)
    folded_state = {
        k: (v.localCheckpoint() if v is not None else None)
        for k, v in first["state"].items()
    }
    again = fold_batch(spark, new_t, folded_state, hot_threshold=1 << 40)
    first_clusters = _as_set(first["clusters"])
    assert _as_set(again["clusters"]) == first_clusters
    # no genuinely-new emails -> the re-fold's delta introduces no assignment
    # outside the already-folded view (set compare, not a join: an anti-join
    # between these two lineage-sharing plans trips Spark 4.1's
    # PushDownLeftSemiAntiJoin optimizer validation bug)
    assert _as_set(again["delta"]) <= first_clusters
