"""IVF ANN recall, iceberg adapter fallback, checkpoint counters, and the
spark-submit job entry point."""

from __future__ import annotations

import json

from pyspark.sql import Row


def _vec_corpus(spark, n=40):
    import numpy as np

    rng = np.random.RandomState(11)
    base = rng.standard_normal((n, 64)).astype("float32")
    base[1] = base[0] + 0.01 * rng.standard_normal(64).astype("float32")
    return spark.createDataFrame(
        [Row(vec_id=i, embedding=[float(x) for x in base[i]]) for i in range(n)]
    )


def test_ivf_topk_recall_vs_brute_force(spark):
    from email_address_parser_spark.operators.similarity import (
        brute_force_topk,
        ivf_topk,
    )

    df = _vec_corpus(spark)
    exact = {
        r.neighbor_id
        for r in brute_force_topk(df, [0], k=5).collect()
    }
    approx = ivf_topk(df, [0], k=5, n_centroids=8, n_probe=4).collect()
    got = {r.neighbor_id for r in approx}
    # the planted near-duplicate must be found, and probing half the cells
    # should recover most of the exact top-5
    assert 1 in got
    assert len(exact & got) >= 3


def test_iceberg_adapter_parquet_fallback(spark, tmp_path):
    from email_address_parser_spark.sources.iceberg import (
        iceberg_available,
        read_table,
        write_table,
    )

    assert not iceberg_available(spark)  # no catalog in the sandbox
    df = spark.createDataFrame([Row(a=1), Row(a=2)])
    path = str(tmp_path / "t")
    write_table(df, path)
    assert sorted(r.a for r in read_table(spark, path).collect()) == [1, 2]


def test_checkpoint_manifest_counters(spark, tmp_path):
    from email_address_parser_spark.pipeline import PipelineConfig, run_pipeline
    from email_address_parser_spark.synth import synthesize

    corpus = synthesize(n_convs=30, turns_per_conv=5, n_entities=10, seed=3)
    sdf = spark.createDataFrame(corpus.transcripts)
    ck = tmp_path / "ck"
    run_pipeline(spark, sdf, PipelineConfig(checkpoint_dir=str(ck), hot_threshold=50, target_block_size=40))
    m = json.loads((ck / "mentions_MANIFEST.json").read_text())
    assert m["counters"]["n_valid_lax"] >= m["counters"]["n_valid_strict"] > 0
    assert sum(m["partitions"].values()) == m["rows"]
    e = json.loads((ck / "fuzzy_MANIFEST.json").read_text())
    assert "counters" in e


def test_run_pipeline_job_cli(spark, tmp_path):
    import jobs.run_pipeline as job

    out = str(tmp_path / "clusters")
    rc = job.main(
        [
            "--sf-dir", "/root/testdata/sf0.001",
            "--output", out,
            "--checkpoint-dir", str(tmp_path / "ck"),
        ]
    )
    assert rc == 0
    manifest = json.loads((tmp_path / "clusters_RUN_MANIFEST.json").read_text())
    assert manifest["n_emails"] > 0
    assert manifest["n_clusters"] < manifest["n_emails"]


def test_ivf_fold_equals_full_index(spark):
    """G27: queries over folded IVF state equal ivf_topk over the union
    corpus (same frozen quantizer — the bootstrap holds the lowest ids),
    and re-applying a folded batch is a no-op."""
    from pyspark.sql import functions as F

    from email_address_parser_spark.operators.incremental_ann import (
        build_ivf_state,
        fold_embeddings,
        ivf_topk_from_state,
    )
    from email_address_parser_spark.operators.similarity import ivf_topk

    docs = _vec_corpus(spark, n=60)
    prev = docs.where(F.col("vec_id") < 45)
    batch = docs.where(F.col("vec_id") >= 45)
    state = build_ivf_state(spark, prev, n_centroids=8)
    out = fold_embeddings(spark, batch, state)
    got = {
        tuple(r)
        for r in ivf_topk_from_state(
            out["state"], list(range(5)), k=5, n_probe=3
        ).collect()
    }
    want = {
        tuple(r)
        for r in ivf_topk(docs, list(range(5)), k=5, n_centroids=8, n_probe=3).collect()
    }
    assert got == want
    # restart safety: the same batch folds to an empty delta
    folded = {k: v.localCheckpoint() for k, v in out["state"].items()}
    again = fold_embeddings(spark, batch, folded)
    assert again["delta"].count() == 0
    assert {
        tuple(r)
        for r in ivf_topk_from_state(
            again["state"], list(range(5)), k=5, n_probe=3
        ).collect()
    } == want
