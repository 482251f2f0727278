"""Incremental cluster maintenance: equivalence to full recompute + scale
invariants (operators/incremental.py).

The load-bearing claim is the equivalence contract: folding batch B into
clusters(batch A) must equal clustering A UNION B from scratch whenever no
data-driven blocking transition separates the runs. Tests exercise the
contract at the default threshold (where edges <=> match-key equality, the
driver-oracle regime), at a low threshold (genuine fuzzy cross-key merges,
including merges of two PRE-EXISTING clusters by a bridging new email), under
active hot-domain salting, and for the empty-batch no-op.
"""

from __future__ import annotations

import pandas as pd
import pytest
from pyspark.sql import functions as F

from email_address_parser_spark.operators.blocking import (
    candidate_pairs,
    uniq_valid_mentions,
)
from email_address_parser_spark.operators.extract import extract_mentions, with_canonical
from email_address_parser_spark.operators.incremental import incremental_cluster_update
from email_address_parser_spark.operators.scoring import match_edges, score_pairs
from email_address_parser_spark.pipeline import cluster_mentions
from email_address_parser_spark.synth import synthesize


def _full_clusters(mentions, hot_threshold, threshold):
    return cluster_mentions(
        mentions,
        match_edges(
            score_pairs(candidate_pairs(mentions, hot_threshold=hot_threshold)),
            threshold,
        ),
    )


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


def _run_incremental(spark, prev_t, new_t, hot_threshold, threshold):
    prev_m = with_canonical(extract_mentions(prev_t))
    prev_uniq = uniq_valid_mentions(prev_m)
    prev_clusters = _full_clusters(prev_m, hot_threshold, threshold)
    return incremental_cluster_update(
        spark,
        new_t,
        prev_clusters,
        prev_uniq,
        hot_threshold=hot_threshold,
        threshold=threshold,
    )


def test_incremental_equals_full_recompute(spark, corpus_df):
    """Default threshold (driver-oracle regime): byte-identical clusters."""
    prev_t, new_t = _split(corpus_df)
    out = _run_incremental(spark, prev_t, new_t, 1 << 40, 0.90)
    full = _full_clusters(
        with_canonical(extract_mentions(corpus_df)), 1 << 40, 0.90
    )
    assert _as_set(out["clusters"]) == _as_set(full)


def test_incremental_equals_full_recompute_fuzzy_threshold(spark, corpus_df):
    """Low threshold: cross-key fuzzy edges exist, so the CC loop does real
    merging work (including old-cluster merges) — still identical."""
    prev_t, new_t = _split(corpus_df)
    out = _run_incremental(spark, prev_t, new_t, 1 << 40, 0.70)
    full = _full_clusters(
        with_canonical(extract_mentions(corpus_df)), 1 << 40, 0.70
    )
    assert _as_set(out["clusters"]) == _as_set(full)


def test_incremental_merges_two_prev_clusters(spark):
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
    cols = ["conv_id", "turn_idx", "role", "text", "tool", "ts"]
    prev_t = spark.createDataFrame(pd.DataFrame(rows, columns=cols))
    new_t = spark.createDataFrame(pd.DataFrame(bridge, columns=cols))
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

    prev_m = with_canonical(extract_mentions(prev_t))
    prev_clusters = _full_clusters(prev_m, 1 << 40, threshold)
    assert (
        prev_clusters.select("cluster_id").distinct().count() == 2
    ), "precondition: the two A-batch emails start in separate clusters"

    out = incremental_cluster_update(
        spark,
        new_t,
        prev_clusters,
        uniq_valid_mentions(prev_m),
        hot_threshold=1 << 40,
        threshold=threshold,
    )
    full = _full_clusters(all_m, 1 << 40, threshold)
    got = _as_set(out["clusters"])
    assert got == _as_set(full)
    assert len({cid for _, cid in got}) == 1, "all three emails share one cluster"


def test_incremental_untouched_clusters_pass_through(spark, corpus_df):
    """Clusters with no new-incident edge are emitted verbatim (no relabel)."""
    prev_t, new_t = _split(corpus_df)
    prev_m = with_canonical(extract_mentions(prev_t))
    prev_clusters = _full_clusters(prev_m, 1 << 40, 0.90)
    out = incremental_cluster_update(
        spark, new_t, prev_clusters, uniq_valid_mentions(prev_m),
        hot_threshold=1 << 40,
    )
    touched = (
        out["edges"].select(F.col("src").alias("email"))
        .union(out["edges"].select(F.col("dst").alias("email")))
        .join(prev_clusters, "email", "inner")
        .select("cluster_id")
        .distinct()
    )
    untouched_prev = prev_clusters.join(touched, "cluster_id", "left_anti")
    assert _as_set(untouched_prev) <= _as_set(out["clusters"])


def test_incremental_salted_match_key_recall(spark, corpus_df):
    """With hot-domain salting ACTIVE in both the prev run and the update,
    every match-key group still lands in one output cluster (the F1 >= 0.99
    acceptance invariant: salt = hash(dotless local) is variant-stable)."""
    prev_t, new_t = _split(corpus_df)
    out = _run_incremental(spark, prev_t, new_t, hot_threshold=20, threshold=0.90)
    m = with_canonical(extract_mentions(corpus_df))
    keyed = uniq_valid_mentions(m).join(out["clusters"], "email")
    violated = (
        keyed.groupBy("match_key")
        .agg(F.countDistinct("cluster_id").alias("n"))
        .where(F.col("n") > 1)
        .count()
    )
    assert violated == 0


def test_incremental_empty_batch_is_noop(spark, corpus_df):
    prev_t, _ = _split(corpus_df)
    empty = corpus_df.where(F.lit(False))
    prev_m = with_canonical(extract_mentions(prev_t))
    prev_clusters = _full_clusters(prev_m, 1 << 40, 0.90)
    out = incremental_cluster_update(
        spark, empty, prev_clusters, uniq_valid_mentions(prev_m),
        hot_threshold=1 << 40,
    )
    assert _as_set(out["clusters"]) == _as_set(prev_clusters)
    assert out["edges"].count() == 0


def test_incremental_known_email_reappearing_changes_nothing(spark, corpus_df):
    """A batch consisting solely of already-known emails adds no edges and
    leaves every assignment unchanged (dedup against prev_uniq)."""
    prev_t, _ = _split(corpus_df)
    prev_m = with_canonical(extract_mentions(prev_t))
    prev_clusters = _full_clusters(prev_m, 1 << 40, 0.90)
    out = incremental_cluster_update(
        spark, prev_t, prev_clusters, uniq_valid_mentions(prev_m),
        hot_threshold=1 << 40,
    )
    assert _as_set(out["clusters"]) == _as_set(prev_clusters)
    assert out["edges"].count() == 0


# --- collapsed (scale) path -------------------------------------------------


def _full_collapsed(mentions, hot_threshold, target_block_size=5_000):
    from email_address_parser_spark.pipeline import resolve

    return resolve(
        mentions, hot_threshold=hot_threshold, target_block_size=target_block_size
    )["clusters"]


def test_incremental_collapsed_equals_batch_collapsed(spark, corpus_df):
    """collapse_exact=True fold == the batch collapsed chain over the union."""
    prev_t, new_t = _split(corpus_df)
    prev_m = with_canonical(extract_mentions(prev_t))
    prev_clusters = _full_collapsed(prev_m, 1 << 40)
    out = incremental_cluster_update(
        spark, new_t, prev_clusters, uniq_valid_mentions(prev_m),
        hot_threshold=1 << 40, collapse_exact=True,
    )
    full = _full_collapsed(with_canonical(extract_mentions(corpus_df)), 1 << 40)
    assert _as_set(out["clusters"]) == _as_set(full)


def test_incremental_collapsed_salted_equals_batch_collapsed(spark, corpus_df):
    """Same equivalence with hot-domain salting active in both runs (stars
    bypass blocking entirely, so salting cannot break within-key recall)."""
    prev_t, new_t = _split(corpus_df)
    prev_m = with_canonical(extract_mentions(prev_t))
    prev_clusters = _full_collapsed(prev_m, 20, target_block_size=16)
    out = incremental_cluster_update(
        spark, new_t, prev_clusters, uniq_valid_mentions(prev_m),
        hot_threshold=20, target_block_size=16, collapse_exact=True,
    )
    full = _full_collapsed(
        with_canonical(extract_mentions(corpus_df)), 20, target_block_size=16
    )
    assert _as_set(out["clusters"]) == _as_set(full)


def test_incremental_collapsed_new_key_minimum_attaches(spark):
    """A new variant that becomes its key's MINIMUM email must still join the
    key's existing component (anchor = prev key root, not the union min)."""
    cols = ["conv_id", "turn_idx", "role", "text", "tool", "ts"]
    prev_t = spark.createDataFrame(
        pd.DataFrame([("c1", 0, "user", "mail bb@d.com now", None, 0.0)], columns=cols)
    )
    new_t = spark.createDataFrame(
        pd.DataFrame([("c2", 0, "user", "mail b.b@d.com now", None, 0.0)], columns=cols)
    )
    prev_m = with_canonical(extract_mentions(prev_t))
    out = incremental_cluster_update(
        spark,
        new_t,
        _full_collapsed(prev_m, 1 << 40),
        uniq_valid_mentions(prev_m),
        hot_threshold=1 << 40,
        collapse_exact=True,
    )
    got = _as_set(out["clusters"])
    assert got == {("bb@d.com", "b.b@d.com"), ("b.b@d.com", "b.b@d.com")}


# --- v2: state-maintained delta fold -----------------------------------------


def test_fold_batch_equals_batch_collapsed(spark, corpus_df):
    """fold_batch over bootstrap state == the batch collapsed chain on the
    union corpus; the delta is a subset of the final view and disjoint-union
    with the untouched rows reconstructs it."""
    from email_address_parser_spark.operators.incremental import (
        build_incremental_state,
        fold_batch,
    )

    prev_t, new_t = _split(corpus_df)
    state = build_incremental_state(spark, prev_t, hot_threshold=1 << 40)
    out = fold_batch(spark, new_t, state, hot_threshold=1 << 40)
    full = _full_collapsed(with_canonical(extract_mentions(corpus_df)), 1 << 40)
    got = _as_set(out["clusters"])
    assert got == _as_set(full)
    delta = _as_set(out["delta"])
    assert delta <= got
    assert len(delta) < len(got), "delta must be smaller than the full view"


def test_fold_batch_chained_salted(spark, corpus_df):
    """Two successive folds (state threaded through, salting ACTIVE) equal
    the batch collapsed chain over the 3-way union — the state tables
    (reps/domain_counts/bucket_counts) stay consistent across folds."""
    from email_address_parser_spark.operators.incremental import (
        build_incremental_state,
        fold_batch,
    )

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
    from email_address_parser_spark.operators.incremental import (
        build_incremental_state,
        fold_batch,
    )

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


def test_stale_fullwidth_email_bands_state_reconciles_to_prefix(spark):
    """Round-5 review: a dim state persisted BEFORE the EMAIL_N_BANDS=4 cut
    carries 8-element email_bands arrays. Because the reduced banding is a
    PREFIX of the old family, the channel filters band_idx < EMAIL_N_BANDS
    after the explode — so stale state must produce EXACTLY the pairs a
    freshly-banded dim produces, and never a pair on a band the 4-band
    contract lacks."""
    from pyspark.sql import functions as F

    from email_address_parser_spark.operators.blocking import minhash_bands_udf
    from email_address_parser_spark.operators.incremental import (
        incremental_candidate_pairs,
        with_email_bands,
    )

    rows = [
        ("jon@old1.com", "jon", "old1.com", False),
        ("john@old2.com", "john", "old2.com", False),
        ("jhn@new.com", "jhn", "new.com", True),
    ]
    dim = spark.createDataFrame(
        rows, ["email", "local_canon", "domain_canon", "_is_new"]
    )
    email_expr = F.concat(F.col("local_canon"), F.lit("@"), F.col("domain_canon"))
    stale = dim.withColumn("email_bands", minhash_bands_udf(email_expr))  # 8 bands
    fresh = with_email_bands(dim)                                        # 4 bands
    def pairset(d):
        return {
            (r["email_a"], r["email_b"])
            for r in incremental_candidate_pairs(d, hot_threshold=1 << 40).collect()
        }

    assert pairset(stale) == pairset(fresh)
