"""Property test of the collapsed-path approximation boundary (round-2
VERDICT item 7; pipeline.cluster_mentions_collapsed docstring).

The collapsed scale path scores one REPRESENTATIVE pair per cross-key
candidate instead of every member pair. The documented contract:

  * exactness — when every match_key carries a single dotted variant, the
    rep pairs ARE the member pairs, so collapsed == full (asserted below on
    hypothesis-generated corpora).
  * boundary — with ≥ 2 distinct dotted variants under one key, a cross-key
    MEMBER pair can straddle the 0.90 threshold while the rep pair does not
    (or vice versa: JW/levenshtein see the dots). The quantified bound
    asserted below: within-key merges always hold (match_key is the
    generative identity, carried by star edges), and any email pair whose
    same-cluster relation differs between the two paths involves at least
    one multi-variant key — single-variant components can never diverge.
"""

from __future__ import annotations

import datetime

from hypothesis import HealthCheck, given, settings
from hypothesis import strategies as st

from email_address_parser_spark.operators.blocking import candidate_pairs
from email_address_parser_spark.operators.extract import extract_mentions, with_canonical
from email_address_parser_spark.operators.scoring import match_edges, score_pairs
from email_address_parser_spark.pipeline import cluster_mentions, resolve

_ALPHA = "abcdefghij"
_TS = datetime.datetime(2026, 1, 1)


@st.composite
def entity_corpus(draw, multi_variant: bool):
    """[(dotless_local, domain, [variant emails])]: locals share a stem (so
    cross-key pairs land near the match threshold), variants re-dot the same
    dotless local."""
    stem = draw(st.text(_ALPHA, min_size=5, max_size=8))
    n_entities = draw(st.integers(2, 4))
    entities, seen = [], set()
    for i in range(n_entities):
        local = list(stem)
        if draw(st.booleans()):
            pos = draw(st.integers(0, len(local) - 1))
            local[pos] = draw(st.sampled_from(_ALPHA))
        local = "".join(local) + _ALPHA[i]  # distinct dotless locals
        dom = draw(st.sampled_from(["exa.com", "exb.org"]))
        if (local, dom) in seen:
            continue
        seen.add((local, dom))
        n_var = draw(st.integers(1, 3)) if multi_variant else 1
        variants = set()
        for _ in range(n_var):
            dots = draw(
                st.sets(st.integers(1, len(local) - 1), min_size=0, max_size=2)
            )
            v = local
            for p in sorted(dots, reverse=True):
                v = v[:p] + "." + v[p:]
            variants.add(f"{v}@{dom}")
        entities.append((local, dom, sorted(variants)))
    return entities


def _clusters_both(spark, entities):
    rows = [
        {
            "conv_id": f"c{i}_{j}",
            "turn_idx": 0,
            "role": "user",
            "text": f"ping {email} ok",
            "tool": None,
            "ts": _TS,
        }
        for i, (_, _, variants) in enumerate(entities)
        for j, email in enumerate(variants)
    ]
    sdf = spark.createDataFrame(
        rows,
        schema="conv_id string, turn_idx int, role string, text string,"
        " tool string, ts timestamp",
    )
    mentions = with_canonical(extract_mentions(sdf))
    reference = cluster_mentions(
        mentions,
        match_edges(score_pairs(candidate_pairs(mentions, hot_threshold=1 << 30))),
    )
    full = {r.email: r.cluster_id for r in reference.collect()}
    coll = {
        r.email: r.cluster_id
        for r in resolve(mentions, hot_threshold=1 << 30)["clusters"].collect()
    }
    return full, coll


@settings(
    max_examples=5, deadline=None, suppress_health_check=list(HealthCheck)
)
@given(entity_corpus(multi_variant=False))
def test_single_variant_keys_collapse_exactly(spark, entities):
    full, coll = _clusters_both(spark, entities)
    assert coll == full


@settings(
    max_examples=5, deadline=None, suppress_health_check=list(HealthCheck)
)
@given(entity_corpus(multi_variant=True))
def test_multi_variant_divergence_is_bounded(spark, entities):
    full, coll = _clusters_both(spark, entities)
    assert set(full) == set(coll)  # same node set either way
    multi_keys = {
        f"{local}@{dom}"
        for local, dom, variants in entities
        if len(variants) > 1
    }

    def match_key(email):
        local, dom = email.rsplit("@", 1)
        return f"{local.replace('.', '')}@{dom}"

    emails = sorted(full)
    for a_i, a in enumerate(emails):
        for b in emails[a_i + 1 :]:
            if match_key(a) == match_key(b):
                # within-key: ALWAYS merged on the collapsed path (star edges)
                assert coll[a] == coll[b]
            same_full = full[a] == full[b]
            same_coll = coll[a] == coll[b]
            if same_full != same_coll:
                # divergence only where re-dotting changed a member pair's
                # score relative to its rep pair
                assert match_key(a) in multi_keys or match_key(b) in multi_keys, (
                    a,
                    b,
                    full,
                    coll,
                )
