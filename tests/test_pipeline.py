"""End-to-end pipeline acceptance tests: pairwise F1, clustering, resume."""

from __future__ import annotations

import json

import duckdb
import pandas as pd
import pytest

from email_address_parser_spark.operators.scoring import jaro_winkler_similarity
from email_address_parser_spark.pipeline import PipelineConfig, resolve, run_pipeline
from email_address_parser_spark.synth import synthesize


@pytest.fixture(scope="module")
def corpus():
    return synthesize(n_convs=120, turns_per_conv=10, n_entities=30, seed=42)


@pytest.fixture(scope="module")
def results(spark, corpus, tmp_path_factory):
    ckpt = tmp_path_factory.mktemp("ckpt")
    sdf = spark.createDataFrame(corpus.transcripts)
    cfg = PipelineConfig(checkpoint_dir=str(ckpt), hot_threshold=50, target_block_size=40)
    out = run_pipeline(spark, sdf, cfg)
    return {k: v.toPandas() for k, v in out.items()}, ckpt


def test_jaro_winkler_matches_duckdb():
    con = duckdb.connect()
    samples = [
        ("martha", "marhta"), ("dixon", "dicksonx"), ("jellyfish", "smellyfish"),
        ("ada.lovelace0", "adalovelace0"), ("john", "jhon"), ("", ""), ("a", ""),
        ("duane", "dwayne"), ("same", "same"), ("foö", "foo"),
    ]
    for a, b in samples:
        expected = con.execute(
            "SELECT jaro_winkler_similarity(?, ?)", [a, b]
        ).fetchone()[0]
        assert jaro_winkler_similarity(a, b) == pytest.approx(expected, abs=1e-9), (a, b)


def test_pairwise_f1(results, corpus):
    """BASELINE.json acceptance: F1 >= 0.99 on labeled pairs at the same
    blocking key (exact lowercased domain). A pair is predicted a match when
    both emails land in one cluster: the collapsed chain scores only
    representative pairs, so within-key matches never appear in `scored`."""
    out, _ = results
    cluster_of = dict(zip(out["clusters"]["email"], out["clusters"]["cluster_id"]))
    predicted = {
        (a, b)
        for a in cluster_of
        for b in cluster_of
        if a != b and cluster_of[a] == cluster_of[b]
    }

    tp = fp = fn = 0
    for r in corpus.labeled_pairs.itertuples():
        pred = (r.email_a, r.email_b) in predicted
        if r.is_match and pred:
            tp += 1
        elif r.is_match and not pred:
            fn += 1
        elif not r.is_match and pred:
            fp += 1
    precision = tp / (tp + fp) if tp + fp else 1.0
    recall = tp / (tp + fn) if tp + fn else 1.0
    f1 = 2 * precision * recall / (precision + recall) if precision + recall else 0.0
    assert tp > 0
    assert f1 >= 0.99, f"F1={f1:.4f} (P={precision:.4f} R={recall:.4f} tp={tp} fp={fp} fn={fn})"


def test_clusters_match_union_find_oracle(results):
    """Spark large-star/small-star == plain union-find on the same edges."""
    out, _ = results
    edges = pd.concat([out["fuzzy"], out["stars"]])
    clusters = out["clusters"]

    parent = {}

    def find(x):
        parent.setdefault(x, x)
        while parent[x] != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        return x

    def union(a, b):
        ra, rb = find(a), find(b)
        if ra != rb:
            parent[max(ra, rb)] = min(ra, rb)

    for r in edges.itertuples():
        union(r.src, r.dst)
    for email in clusters["email"]:
        find(email)  # materialize singletons

    oracle = {e: find(e) for e in clusters["email"]}
    got = dict(zip(clusters["email"], clusters["cluster_id"]))
    assert got == oracle


def test_clusters_equal_entity_ground_truth(results, corpus):
    """Cluster partition == entity partition over valid mention strings."""
    out, _ = results
    clusters = out["clusters"]
    truth = (
        corpus.mentions_truth[corpus.mentions_truth["valid"]]
        .drop_duplicates("raw")[["raw", "entity_id"]]
    )
    merged = truth.merge(clusters, left_on="raw", right_on="email", how="inner")
    assert len(merged) == len(truth)
    # one cluster per entity and one entity per cluster
    assert (merged.groupby("entity_id")["cluster_id"].nunique() == 1).all()
    assert (merged.groupby("cluster_id")["entity_id"].nunique() == 1).all()
    # deterministic cluster id: min email of the component
    mins = merged.groupby("cluster_id")["email"].min()
    assert (mins.index == mins.values).all()


def test_checkpoint_manifests_and_resume(spark, results, corpus):
    out, ckpt = results
    manifest = json.loads((ckpt / "mentions_MANIFEST.json").read_text())
    assert manifest["rows"] == len(out["mentions"])
    assert sum(manifest["partitions"].values()) == manifest["rows"]

    # resume: feed an EMPTY input — if resume works, checkpointed stages load
    # instead of recomputing and the clusters are unchanged. The config must
    # match the original run (the manifest fingerprint gates reuse).
    sdf = spark.createDataFrame(
        [],
        schema="conv_id string, turn_idx int, role string, text string, tool string, ts timestamp",
    )
    cfg = PipelineConfig(
        checkpoint_dir=str(ckpt), resume=True, hot_threshold=50, target_block_size=40
    )
    resumed = run_pipeline(spark, sdf, cfg)
    assert resumed["clusters"].count() == len(out["clusters"])


def test_checkpoint_invalidated_on_config_change(spark, results):
    """A different plan-affecting config must NOT reuse checkpointed stages:
    rerunning with a changed threshold against the same checkpoint_dir and an
    empty input recomputes from scratch (round-1 ADVICE)."""
    out, ckpt = results
    sdf = spark.createDataFrame(
        [],
        schema="conv_id string, turn_idx int, role string, text string, tool string, ts timestamp",
    )
    cfg = PipelineConfig(
        checkpoint_dir=str(ckpt), resume=True, hot_threshold=50,
        target_block_size=40, threshold=0.95,
    )
    rerun = run_pipeline(spark, sdf, cfg)
    assert rerun["clusters"].count() == 0  # stale tables were not reused


def test_resolve_stages_compose_with_set_operations(spark, corpus):
    """Every frame resolve() returns survives exceptAll/intersectAll (Spark
    4.1 raises INTERNAL_ERROR_ATTRIBUTE_NOT_FOUND on subset-dropDuplicates
    output there), and uniq keeps exactly one row per email."""
    from email_address_parser_spark.operators.extract import (
        extract_mentions,
        with_canonical,
    )

    mentions = with_canonical(extract_mentions(spark.createDataFrame(corpus.transcripts)))
    chain = resolve(mentions, hot_threshold=50, target_block_size=40)
    assert set(chain) == {"uniq", "stars", "dim", "pairs", "scored", "fuzzy", "clusters"}
    for name, df in chain.items():
        n = df.count()
        head = df.limit(3)
        assert df.exceptAll(head).count() == n - min(n, 3), name
        assert df.intersectAll(head).count() == min(n, 3), name
    uniq = chain["uniq"]
    assert uniq.count() == uniq.select("email").distinct().count() > 0


def test_resolve_caches_are_released_by_their_owner(spark, corpus):
    """resolve() persists the blocked dim (and uniq, when it derives it) and
    returns them; the caller releases them. Two resolve calls in one
    session, each followed by the release, leave no cache entry behind —
    the second call caches afresh instead of hitting the first call's."""
    from pyspark import StorageLevel

    from email_address_parser_spark.operators.extract import (
        extract_mentions,
        with_canonical,
    )

    mentions = with_canonical(extract_mentions(spark.createDataFrame(corpus.transcripts)))

    cache = spark._jsparkSession.sharedState().cacheManager()

    def cached_rdd(df) -> int:
        """Id of the RDD holding `df`'s cache entry."""
        entry = cache.lookupCachedData(df._jdf)
        assert entry.isDefined()
        return entry.get().cachedRepresentation().cacheBuilder().cachedColumnBuffers().id()

    def persistent_rdds() -> set:
        return set(spark.sparkContext._jsc.getPersistentRDDs().keys())

    seen = set()
    for _ in range(2):
        chain = resolve(mentions, hot_threshold=50, target_block_size=40)
        assert chain["clusters"].count() > 0
        rdds = {cached_rdd(chain["dim"]), cached_rdd(chain["uniq"])}
        assert len(rdds) == 2 and rdds <= persistent_rdds() and not rdds & seen
        seen |= rdds
        chain["dim"].unpersist()
        chain["uniq"].unpersist()
        for name in ("dim", "uniq"):
            assert not cache.lookupCachedData(chain[name]._jdf).isDefined(), name
            assert chain[name].storageLevel == StorageLevel.NONE, name
        assert not rdds & persistent_rdds()
