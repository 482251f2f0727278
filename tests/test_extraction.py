"""DataFrame-level extraction tests on the synthesized transcripts corpus."""

from __future__ import annotations

import pandas as pd
import pytest

from email_address_parser_spark.functions.udfs import extract_candidates, parse_batch
from email_address_parser_spark.kernel.parser import parse_email
from email_address_parser_spark.operators.extract import extract_mentions, with_canonical
from tests.synth import synthesize


def test_parse_batch_agrees_with_scalar_kernel():
    samples = [
        "foo@bar.com", "foo-@bar.com", "foo@-bar.com", "foö@bär.com",
        '"test@test"@iana.org', "\r\n test@iana.org", "(comment)test@iana.org",
        "test@[127.0.0.0]", "te..st@x.com", None, "", "no-at-sign",
        "test . test@iana.org", "test@ iana .com",
    ]
    out = parse_batch(pd.Series(samples))
    for i, s in enumerate(samples):
        strict = parse_email(s, False) if s is not None else None
        lax = parse_email(s, True) if s is not None else None
        assert bool(out["valid_strict"][i]) == (strict is not None), s
        assert bool(out["valid_lax"][i]) == (lax is not None), s
        if lax is not None:
            assert (out["local_part"][i], out["domain"][i]) == lax, s


def test_extract_candidates_contract():
    assert extract_candidates("cc a@b.com on this") == ["a@b.com"]
    assert extract_candidates('send to <"te st"@iana.org> today') == ['"te st"@iana.org']
    assert extract_candidates("x <a@b.c> y d@e.f") == ["a@b.c", "d@e.f"]
    assert extract_candidates("no mentions here") == []
    assert extract_candidates("") == []
    assert extract_candidates("<no-at-inside> keep@this.one") == ["keep@this.one"]


@pytest.fixture(scope="module")
def small_corpus():
    return synthesize(n_convs=40, turns_per_conv=8, n_entities=12, seed=42)


def test_synthesis_is_deterministic(small_corpus):
    again = synthesize(n_convs=40, turns_per_conv=8, n_entities=12, seed=42)
    pd.testing.assert_frame_equal(small_corpus.transcripts, again.transcripts)
    pd.testing.assert_frame_equal(small_corpus.labeled_pairs, again.labeled_pairs)


def test_extraction_recovers_ground_truth(spark, small_corpus):
    sdf = spark.createDataFrame(small_corpus.transcripts)
    mentions = extract_mentions(sdf).toPandas()
    truth = small_corpus.mentions_truth

    # per-turn alignment on (conv_id, turn_idx, mention_idx)
    key = ["conv_id", "turn_idx", "mention_idx"]
    merged = truth.merge(mentions, on=key, how="outer", suffixes=("_t", ""), indicator=True)
    assert (merged["_merge"] == "both").all(), merged[merged["_merge"] != "both"].head()

    # verbatim recovery: extracted raw == embedded mention string
    assert (merged["raw"] == merged["raw_t"]).all()

    # validity verdicts match ground truth (truth 'valid' means lax-valid)
    assert (merged["valid_lax"] == merged["valid"]).all()
    lax_only = merged[merged["lax_only"]]
    assert (~lax_only["valid_strict"]).all()

    # round-trip: for valid mentions, local@domain reassembles the raw verbatim
    valid = merged[merged["valid_lax"]]
    assert (valid["email"] == valid["raw"]).all()


def test_canonicalization(spark, small_corpus):
    sdf = spark.createDataFrame(small_corpus.transcripts)
    m = with_canonical(extract_mentions(sdf)).where("valid_lax").toPandas()
    truth = small_corpus.mentions_truth.merge(
        m, on=["conv_id", "turn_idx", "mention_idx"], suffixes=("_t", "")
    )
    # within one entity, variants collapse to one match_key PER canonical
    # domain: the engine key cannot (by design) cross the domain-typo gap —
    # that is the cross-domain candidate channels' job, not canonicalization's
    labeled = truth[truth["entity_id"].notna()].copy()
    labeled["mention_domain"] = labeled["raw_t"].str.rsplit("@", n=1).str[1].str.lower()
    keys_per_entity = labeled.groupby("entity_id")["match_key"].nunique()
    domains_per_entity = labeled.groupby("entity_id")["mention_domain"].nunique()
    assert (keys_per_entity == domains_per_entity).all(), (
        keys_per_entity[keys_per_entity != domains_per_entity]
    )
    # distinct entities never share a match_key
    entities_per_key = labeled.groupby("match_key")["entity_id"].nunique()
    assert (entities_per_key == 1).all()
