"""Invariants of the round-3 disjoint-channel candidate generation
(operators/blocking.py): the exact-domain channel and the LSH channel must
be disjoint AND their union must equal the old overlapping-channels-then-
full-dedup formulation, including under hot-domain salting. The removal of
the full-pair-set dropDuplicates is only sound while these hold."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from email_address_parser_spark.operators.blocking import (
    LOCAL_MAX_BLOCK,
    LSH_MAX_BUCKET,
    _unique_mentions,
    blocked_dim,
    blocking_channels,
    candidate_pairs,
    dim_channels,
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
    ch = blocking_channels(mentions, HOT, TGT)
    lsh = _pairset(ch["local_lsh"])
    # the LSH channel contributed pairs (cross-block typo pairs exist) ...
    assert lsh
    # ... none of which the exact channel generates, so the union has no
    # duplicates without any full-set dedup
    assert lsh.isdisjoint(_pairset(ch["block"]))
    both = ch["block"].unionByName(ch["local_lsh"])
    assert both.count() == len(_pairset(both))


def test_union_matches_old_full_dedup_formulation(spark, mentions):
    new = candidate_pairs(mentions, HOT, TGT, dedupe=True)
    assert _pairset(new) == _pairset(_old_full_dedup_pairs(mentions))


def test_unsalted_lsh_adds_nothing(spark, mentions):
    """With no hot domains every same-domain pair is exact-channel; the LSH
    channel must contribute zero pairs (the sf0.01 oracle relies on this)."""
    assert blocking_channels(mentions, 1 << 40, TGT)["local_lsh"].count() == 0


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
    cand = candidate_pairs(m, hot_threshold=3, target_block_size=1)
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


def test_new_side_channels_are_the_full_channels_with_a_new_side(spark):
    """A dim carrying `_is_new` yields, per channel, exactly the rows of the
    same dim without it that have a new side, same orientation and
    multiplicity, with every cap counted over the whole dim. hot.example is
    salted 4 ways, which puts jonathan/jonathon and alexander/alexandre
    (each shares one `band_sigs` bucket) in different blocks. The
    jonathan bucket is filled to LSH_MAX_BUCKET (kept), the alexander bucket
    to LSH_MAX_BUCKET + 2 (dropped); the dotless block `info` holds
    LOCAL_MAX_BLOCK emails (kept), `alexander` LOCAL_MAX_BLOCK + 1
    (dropped). williamjones@company.com / williamjone@compnay.com share an
    `email_bands` bucket (xd_email)."""
    hot = ["jonathan", "jonathon", "alexander", "alexandre", "alpha", "bravo",
           "charlie", "delta"]
    emails = [f"{local}@hot.example" for local in hot]
    emails += [f"jonathan@j{i:02d}.test" for i in range(LSH_MAX_BUCKET - 2)]
    emails += [f"alexander@a{i:02d}.test" for i in range(LOCAL_MAX_BLOCK)]
    emails += [f"info@i{i:02d}.test" for i in range(LOCAL_MAX_BLOCK)]
    emails += ["williamjones@company.com", "williamjone@compnay.com"]
    new = ["jonathon@hot.example", "alexandre@hot.example", "bravo@hot.example",
           "jonathan@j00.test", "info@i00.test", "williamjone@compnay.com"]
    mentions = spark.createDataFrame(
        [(e, *e.split("@")) for e in emails],
        "email string, local_canon string, domain_canon string",
    ).withColumn("valid_lax", F.lit(True))
    dim = (
        blocked_dim(mentions, HOT, TGT)
        .withColumn("_is_new", F.col("email").isin(new))
        .localCheckpoint()
    )
    block = {r.email: r.block_key for r in dim.where("domain_canon = 'hot.example'").collect()}
    for a, b in (("jonathan", "jonathon"), ("alexander", "alexandre")):
        assert block[f"{a}@hot.example"] != block[f"{b}@hot.example"]

    def rows(df):
        return sorted(tuple(r) for r in df.collect())

    with_new = dim_channels(dim, dedupe=False)
    full = dim_channels(dim.drop("_is_new"), dedupe=False)
    has_new = F.col("email_a").isin(new) | F.col("email_b").isin(new)
    for name, df in with_new.items():
        got = rows(df)
        assert got, name  # every channel is reached
        assert got == rows(full[name].where(has_new)), name
    # old<->old pairs exist, so a dim that ignored `_is_new` would fail above
    assert all(full[name].where(~has_new).count() for name in ("block", "xd_local"))
    lsh = {(r.email_a, r.email_b) for r in with_new["local_lsh"].collect()}
    assert ("jonathan@hot.example", "jonathon@hot.example") in lsh
    assert ("alexander@hot.example", "alexandre@hot.example") not in lsh
    xd = {(r.email_a, r.email_b) for r in with_new["xd_local"].collect()}
    assert ("info@i00.test", "info@i01.test") in xd
    assert not [p for p in xd if p[0].startswith("alexander@")]
