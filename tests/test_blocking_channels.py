"""Invariants of the round-3 disjoint-channel candidate generation
(operators/blocking.py): the exact-domain channel and the LSH channel must
be disjoint AND their union must equal the old overlapping-channels-then-
full-dedup formulation, including under hot-domain salting. The removal of
the full-pair-set dropDuplicates is only sound while these hold."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from email_address_parser_spark.operators.blocking import (
    _unique_mentions,
    candidate_pairs,
    minhash_bands_udf,
    with_salted_domain_block,
)

HOT, TGT, CAP = 4, 2, 50  # tiny thresholds: salting triggers on ~5-row domains


@pytest.fixture(scope="module")
def mentions(spark):
    # one hot domain (9 near-duplicate locals -> salted into blocks of ~2,
    # so LSH must carry the cross-block typo pairs) + one cold domain
    rows = [(f"user{i}x@hot.example", f"user{i}x", "hot.example") for i in range(6)]
    rows += [("userAx@hot.example", "userax", "hot.example"),
             ("user0y@hot.example", "user0y", "hot.example"),
             ("us.er0x@hot.example", "us.er0x", "hot.example")]
    rows += [(f"v{i}@cold.example", f"v{i}", "cold.example") for i in range(3)]
    df = spark.createDataFrame(
        rows, schema="email string, local_canon string, domain_canon string"
    ).withColumn("valid_lax", F.lit(True))
    return df


def _old_full_dedup_pairs(mentions):
    """The pre-round-3 formulation: overlapping channels, full-set dedup."""
    uniq = _unique_mentions(mentions)
    blocked = with_salted_domain_block(uniq, HOT, TGT)

    def self_join(df, key):
        a, b = df.alias("a"), df.alias("b")
        return (
            a.join(b, on=key)
            .where(F.col("a.email") < F.col("b.email"))
            .select(
                F.col("a.email").alias("email_a"),
                F.col("b.email").alias("email_b"),
            )
        )

    pairs = self_join(
        blocked.select("block_key", "email", "local_canon", "domain_canon"),
        ["block_key"],
    )
    bands = uniq.select(
        "email", "domain_canon",
        F.posexplode(minhash_bands_udf(F.col("local_canon"))).alias(
            "band_idx", "band_sig"
        ),
    )
    sizes = bands.groupBy("band_idx", "band_sig").agg(F.count(F.lit(1)).alias("_bn"))
    bounded = bands.join(sizes.where(F.col("_bn") <= CAP), ["band_idx", "band_sig"])
    lsh = self_join(bounded, ["band_idx", "band_sig", "domain_canon"])
    return pairs.unionByName(lsh).dropDuplicates(["email_a", "email_b"])


def _pairset(df):
    return {(r.email_a, r.email_b) for r in df.select("email_a", "email_b").collect()}


def test_salting_is_active(spark, mentions):
    blocked = with_salted_domain_block(_unique_mentions(mentions), HOT, TGT)
    hot_keys = {
        r.block_key
        for r in blocked.where(F.col("domain_canon") == "hot.example").collect()
    }
    assert len(hot_keys) > 1 and all("#" in k for k in hot_keys)


def test_channels_are_disjoint(spark, mentions):
    exact = candidate_pairs(
        mentions, HOT, TGT, use_lsh=False, dedupe=False, materialize=False
    )
    both = candidate_pairs(mentions, HOT, TGT, dedupe=True, materialize=False)
    lsh_only = _pairset(both) - _pairset(exact)
    # the LSH channel contributed pairs (cross-block typo pairs exist) ...
    assert lsh_only
    # ... and the union has no duplicates without any full-set dedup
    assert both.count() == len(_pairset(both))


def test_union_matches_old_full_dedup_formulation(spark, mentions):
    new = candidate_pairs(mentions, HOT, TGT, dedupe=True, materialize=False)
    assert _pairset(new) == _pairset(_old_full_dedup_pairs(mentions))


def test_unsalted_lsh_adds_nothing(spark, mentions):
    """With no hot domains every same-domain pair is exact-channel; the LSH
    channel must contribute zero pairs (the sf0.01 oracle relies on this)."""
    exact = candidate_pairs(
        mentions, 1 << 40, TGT, use_lsh=False, dedupe=False, materialize=False
    )
    both = candidate_pairs(mentions, 1 << 40, TGT, dedupe=True, materialize=False)
    assert _pairset(both) == _pairset(exact)


def test_salted_pair_completeness_is_total(spark):
    """Salting is recall-preserving BY CONSTRUCTION (salt = hash of the
    dotless local, which all variants of one match_key share), so even
    absurdly aggressive salting must cover every true match-key pair.
    Measured on the derived sf0.001 transcripts."""
    from email_address_parser_spark.operators.blocking import uniq_valid_mentions
    from email_address_parser_spark.operators.extract import (
        extract_mentions,
        with_canonical,
    )
    from email_address_parser_spark.sources.testdata import derive_transcripts

    m = with_canonical(extract_mentions(derive_transcripts(spark, "/root/testdata/sf0.001")))
    uniq = uniq_valid_mentions(m).select("email", "match_key")
    true_pairs = {
        (a, b)
        for r in uniq.groupBy("match_key").agg(F.collect_list("email").alias("es")).collect()
        for i, a in enumerate(sorted(r.es))
        for b in sorted(r.es)[i + 1 :]
    }
    assert true_pairs  # non-vacuous
    cand = candidate_pairs(m, hot_threshold=3, target_block_size=1, materialize=False)
    covered = _pairset(cand)
    assert true_pairs <= covered, sorted(true_pairs - covered)[:5]


def test_cap_buckets_drops_only_over_cap_buckets(spark):
    """_cap_buckets drops every row of a bucket holding more than `cap` rows
    and keeps every row of the others, whatever their content."""
    from email_address_parser_spark.operators.blocking import _cap_buckets

    rows = [
        # bucket k1: uniform in dom, at cap (cap=3)
        ("k1", "a1", "x.com"), ("k1", "a2", "x.com"), ("k1", "a3", "x.com"),
        # bucket k2: mixed, at cap
        ("k2", "b1", "x.com"), ("k2", "b2", "y.com"), ("k2", "b3", "x.com"),
        # bucket k3: over cap
        ("k3", "c1", "x.com"), ("k3", "c2", "y.com"),
        ("k3", "c3", "z.com"), ("k3", "c4", "w.com"),
    ]
    df = spark.createDataFrame(rows, ["key", "email", "dom"])
    capped = _cap_buckets(df, ["key"], 3)
    assert capped.columns == df.columns
    assert sorted(tuple(r) for r in capped.collect()) == sorted(rows[:6])
