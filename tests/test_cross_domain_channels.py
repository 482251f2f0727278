"""Invariants of the round-4 CROSS-DOMAIN candidate channels
(operators/blocking.py `xd_local` and `xd_email`): the four channels must
stratify the pair space (same/different canonical domain × same/different
dotless local or block), a domain-typo variant of one identity must become a
candidate AND a match edge, globally-common locals must be capped out of
`xd_local`, and the `xd_email` full-email LSH replay must agree between Spark
and the DuckDB CTE (`oracles.email_lsh_pairs_cte`) — the contract the sf0.01
driver gate runs at corpus scale."""

from __future__ import annotations

import duckdb
import pandas as pd
import pytest
from pyspark.sql import functions as F

from email_address_parser_spark.operators.blocking import (
    LOCAL_MAX_BLOCK,
    blocking_channels,
    candidate_pairs,
)
from email_address_parser_spark.operators.scoring import match_edges, score_pairs

HOT, TGT = 1 << 40, 5_000  # salting off: isolate the cross-domain behavior


def _mentions(spark, rows):
    return spark.createDataFrame(
        rows, schema="email string, local_canon string, domain_canon string"
    ).withColumn("valid_lax", F.lit(True))


def _pairset(df):
    return {(r.email_a, r.email_b) for r in df.select("email_a", "email_b").collect()}


@pytest.fixture(scope="module")
def typo_mentions(spark):
    # one identity with local-dot AND domain-typo variants (cross-domain true
    # matches), one unrelated same-domain neighbour, one unrelated identity on
    # the typo'd domain (the hard negative channel 3 must NOT link: different
    # dotless local)
    rows = [
        ("jo.hn@gmail.com", "jo.hn", "gmail.com"),
        ("john@gmail.com", "john", "gmail.com"),
        ("jo.hn@gmial.com", "jo.hn", "gmial.com"),   # domain-typo variant
        ("johnx@gmail.com", "johnx", "gmail.com"),   # same-domain neighbour
        ("mary@gmial.com", "mary", "gmial.com"),     # unrelated on typo domain
    ]
    return _mentions(spark, rows)


def test_domain_typo_pair_is_candidate_and_match_edge(spark, typo_mentions):
    """The round-3 verdict's lead gap: jo.hn@gmial.com ↔ john@gmail.com must
    be reachable. Channel 3 (cross-domain exact dotless local) generates it,
    and the scorer's dom_edit feature — constant-zero before this channel
    existed — now discriminates: the true pair clears the 0.90 threshold."""
    cand = candidate_pairs(typo_mentions, HOT, TGT)
    got = _pairset(cand)
    assert ("jo.hn@gmial.com", "john@gmail.com") in got
    assert ("jo.hn@gmail.com", "jo.hn@gmial.com") in got
    edges = {
        (r.src, r.dst)
        for r in match_edges(score_pairs(cand)).collect()
    }
    assert ("jo.hn@gmial.com", "john@gmail.com") in edges
    # the unrelated identity on the typo'd domain never becomes an edge
    assert not any("mary" in a or "mary" in b for a, b in edges)


def test_without_cross_domain_the_typo_is_unreachable(spark, typo_mentions):
    """Regression pin for the old behaviour: the same-domain channels alone
    (`block` ∪ `local_lsh`) never reach the typo pair — every candidate
    shares domain_canon and dom_edit is structurally zero."""
    ch = blocking_channels(typo_mentions, HOT, TGT)
    cand = ch["block"].unionByName(ch["local_lsh"])
    feats = score_pairs(cand).select("dom_edit").distinct().collect()
    assert {r.dom_edit for r in feats} <= {0}
    assert ("jo.hn@gmial.com", "john@gmail.com") not in _pairset(cand)


def test_channels_stratify_the_pair_space(spark, typo_mentions):
    """Pairwise disjointness: the union carries no duplicate pairs without
    any full-pair-set dedup, and every row of each channel sits in the
    stratum its predicate defines (block/local_lsh: same domain; xd_local:
    cross-domain same dotless local; xd_email: cross-domain different
    dotless local)."""
    def same_dom(r):
        return r.domain_canon_a == r.domain_canon_b

    def same_local(r):
        return r.local_canon_a.replace(".", "") == r.local_canon_b.replace(".", "")

    stratum = {
        "block": same_dom,
        "local_lsh": same_dom,
        "xd_local": lambda r: not same_dom(r) and same_local(r),
        "xd_email": lambda r: not same_dom(r) and not same_local(r),
    }
    ch = blocking_channels(typo_mentions, HOT, TGT)
    assert list(ch) == list(stratum)
    for name, frame in ch.items():
        for r in frame.collect():
            assert stratum[name](r), (name, r)
    rows = candidate_pairs(typo_mentions, HOT, TGT).collect()
    assert len(rows) == len({(r.email_a, r.email_b) for r in rows})


def test_common_local_is_capped_out_of_channel_3(spark):
    """info@<n domains> is non-discriminative once n exceeds LOCAL_MAX_BLOCK:
    `xd_local` then contributes nothing (otherwise it would mint a quadratic
    pair set linking distinct organisations). A block of exactly the cap is
    kept whole — the cap is inclusive."""
    def xd_local(n):
        rows = [(f"info@org{i:03d}.example", "info", f"org{i:03d}.example") for i in range(n)]
        return blocking_channels(_mentions(spark, rows), HOT, TGT)["xd_local"].count()

    n = LOCAL_MAX_BLOCK
    assert xd_local(n) == n * (n - 1) // 2
    assert xd_local(n + 1) == 0


def test_email_lsh_reaches_simultaneous_local_and_domain_typo(spark):
    """Channel 4's residual role: BOTH the dotless local and the domain
    differ, so channels 1–3 are all structurally blind; the full-email
    minhash must still surface the near-identical address."""
    rows = [
        ("alexander.hamilton@federalist.example.com", "alexander.hamilton", "federalist.example.com"),
        ("alexander.hamiltom@federalist.exemple.com", "alexander.hamiltom", "federalist.exemple.com"),
    ]
    ch = blocking_channels(_mentions(spark, rows), HOT, TGT)
    for name in ("block", "local_lsh", "xd_local"):
        assert ch[name].count() == 0, name
    assert _pairset(ch["xd_email"]) == {
        ("alexander.hamiltom@federalist.exemple.com",
         "alexander.hamilton@federalist.example.com")
    }


def test_email_lsh_spark_matches_duckdb_replay(spark):
    """Seed contract for channel 4: the DuckDB CTE the sf0.01 oracle embeds
    (fixed-seed 3-gram minhash → affine perms → banded fold → bucket cap →
    cross-domain cross-local join) reproduces the Spark channel pair-for-pair
    on a corpus dense enough to exercise collisions and the cap."""
    from email_address_parser_spark import oracles

    base = "customer.service.team"
    rows = []
    for i in range(12):
        local = base[:i] + base[i + 1:]  # one deletion each — high Jaccard
        rows.append((f"{local}@dom{i:02d}.example", local, f"dom{i:02d}.example"))
    got = _pairset(blocking_channels(_mentions(spark, rows), HOT, TGT)["xd_email"])

    uniq = pd.DataFrame(
        [
            {
                "email": e,
                "domain_canon": d,
                "dotless": l.replace(".", ""),
                "canon_email": f"{l}@{d}",
            }
            for e, l, d in rows
        ]
    )
    con = duckdb.connect()
    con.register("uniq_src", uniq)
    sql = (
        "WITH uniq AS (SELECT * FROM uniq_src),\n"
        + oracles.email_lsh_pairs_cte()
        + "\nSELECT email_a, email_b FROM xd_lsh"
    )
    want = {(a, b) for a, b in con.execute(sql).fetchall()}
    assert got == want
    assert got  # non-vacuous: collisions actually happened
