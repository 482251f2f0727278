#!/usr/bin/env python
"""Benchmark harness (driver contract): runs the headline queries at
$SPARK_GRAFT_SF_DIR (default /root/testdata/sf0.1) on local[$SPARK_GRAFT_CPUS]
and prints ONE JSON line:
  {"metric": ..., "value": <total sec>, "unit": "sec",
   "queries": {name: sec, ...}, "sf": ..., "turns": N, "turns_per_sec": ...}

Every query is forced end-to-end with a noop-format write (full
materialization, no driver collect). The flagship is the complete
identity-resolution pipeline (extract -> parse -> salted blocking -> LSH ->
score -> threshold -> connected components) over transcripts derived from the
sf dir; salted blocking bounds the pair blow-up (hot domains are split on the
dotless-local hash, which preserves every true-match pair).
"""

from __future__ import annotations

import json
import os
import re
import sys
import time

from pyspark.sql import functions as F

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

from email_address_parser_spark.operators.blocking import (
    candidate_pairs,
    uniq_valid_mentions,
)
from email_address_parser_spark.operators.extract import extract_mentions, with_canonical
from email_address_parser_spark.operators.scoring import score_pairs
from email_address_parser_spark.pipeline import HOT_THRESHOLD, TARGET_BLOCK, resolve
from email_address_parser_spark.session import build_session
from email_address_parser_spark.sources.testdata import derive_transcripts


def _force(df) -> int:
    df.write.format("noop").mode("overwrite").save()
    return 0


def main() -> None:
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    cpus = int(os.environ.get("SPARK_GRAFT_CPUS", "32"))
    sf_match = re.search(r"sf([0-9.]+)", sf_dir)
    sf = float(sf_match.group(1)) if sf_match else -1.0

    os.makedirs("/dev/shm/spark-local", exist_ok=True)
    spark = build_session(
        app_name=f"bench-local{cpus}",
        cores=cpus,
        shuffle_partitions=max(2 * cpus, 16),
        extra_conf={
            # same tuning as scale_bench.py: keep AQE from under-parallelizing
            # CPU-bound stages, shuffle on tmpfs (sandbox disk serializes
            # concurrent writers)
            "spark.sql.adaptive.advisoryPartitionSizeInBytes": "16m",
            "spark.local.dir": "/dev/shm/spark-local",
        },
    )

    transcripts = derive_transcripts(spark, sf_dir).persist()
    n_turns = transcripts.count()

    mentions = with_canonical(extract_mentions(transcripts))

    # untimed warmup: fork + import the per-core Python worker pool and JIT
    # the codegen paths for the WHOLE chain (extraction, minhash banding,
    # JW scoring, join/agg codegen) — the long-lived-executor model
    # scale_bench.py documents. Narrow 2% filter so every partition
    # contributes (limit() would collapse to one task and warm one worker).
    warm = with_canonical(
        extract_mentions(
            transcripts.where(F.pmod(F.xxhash64("conv_id", "turn_idx"), F.lit(50)) == 0)
        )
    )
    _force(
        score_pairs(
            candidate_pairs(
                warm, hot_threshold=HOT_THRESHOLD, target_block_size=TARGET_BLOCK
            )
        )
    )
    # warm the PPRL codegen paths too (encode explode/md5, 32-min signature
    # aggregation, window cap, mask popcount join)
    from email_address_parser_spark.operators.pprl import (
        clk_composite_pairs,
        clk_encode,
        clk_lsh_pairs,
        with_dotless,
    )

    warm_uniq = with_dotless(uniq_valid_mentions(warm))
    _force(
        clk_composite_pairs(
            clk_lsh_pairs(clk_encode(warm_uniq, text_col="dotless")), warm_uniq
        )
    )

    def q_mentions():
        # true extraction+parse cost (not yet cached)
        _force(mentions)

    # downstream stages consume the cached mentions (the pipeline would
    # checkpoint this stage anyway — see pipeline.CheckpointManager)
    mentions_c = mentions.persist()

    def q_pairs_scored():
        pairs = candidate_pairs(
            mentions_c, hot_threshold=HOT_THRESHOLD, target_block_size=TARGET_BLOCK
        )
        _force(score_pairs(pairs))

    def q_pipeline():
        # the production chain (pipeline.resolve): shared distinct-email
        # table, exact-canonical collapse before the quadratic stages, star
        # edges bypassing the scorer, CC only over the rep fuzzy graph
        chain = resolve(mentions_c)
        _force(chain["clusters"])
        chain["uniq"].unpersist()
        chain["dim"].unpersist()

    def q_q1():
        from __spark_entry__ import queries

        _force(queries()["q1_pricing_summary"](spark, sf_dir))

    def q_q3():
        from __spark_entry__ import queries

        _force(queries()["q3_shipping_priority"](spark, sf_dir))

    def q_top_order():
        from __spark_entry__ import queries

        _force(queries()["top_order_per_customer"](spark, sf_dir))

    def q_events():
        from __spark_entry__ import queries

        _force(queries()["events_daily"](spark, sf_dir))

    def q_dedup():
        from __spark_entry__ import queries

        _force(queries()["dedup_minhash"](spark, sf_dir))

    def q_ann():
        from __spark_entry__ import queries

        _force(queries()["ann_topk"](spark, sf_dir))

    def q_docs():
        from __spark_entry__ import queries

        _force(queries()["doc_fingerprints"](spark, sf_dir))

    def q_simhash():
        from __spark_entry__ import queries

        _force(queries()["dedup_simhash"](spark, sf_dir))

    def q_splits():
        from __spark_entry__ import queries

        _force(queries()["doc_splits"](spark, sf_dir))

    def q_packing():
        from __spark_entry__ import queries

        _force(queries()["doc_packing"](spark, sf_dir))

    def q_repetition():
        from __spark_entry__ import queries

        _force(queries()["doc_repetition"](spark, sf_dir))

    def q_tfidf():
        from __spark_entry__ import queries

        _force(queries()["doc_tfidf_topk"](spark, sf_dir))

    def q_semantic():
        from __spark_entry__ import queries

        _force(queries()["dedup_semantic"](spark, sf_dir))

    def q_wsample():
        from __spark_entry__ import queries

        _force(queries()["doc_sample_weighted"](spark, sf_dir))

    def q_colloc():
        from __spark_entry__ import queries

        _force(queries()["doc_collocations"](spark, sf_dir))

    def q_funnel():
        from __spark_entry__ import queries

        _force(queries()["events_funnel"](spark, sf_dir))

    # the round-3/4 flagship incremental operators, driver-visible so a
    # regression in either fold shows up in BENCH_r{N}. The timed region is
    # the production steady state — read MoR state from parquet, fold the
    # ~20% batch, force the delta. The one-time state BOOTSTRAP is a full
    # pipeline over the other 80% and is prepared untimed below (in prod the
    # state already exists; a 145 s line that is 70% bootstrap would bury
    # the fold regressions this entry exists to surface). The fixed-batch
    # scaling laws live in bench_incremental*.py.
    import shutil

    from email_address_parser_spark.operators.incremental import (
        build_incremental_state,
        fold_batch,
    )
    from email_address_parser_spark.operators.incremental_dedup import (
        DEDUP_STATE_TABLES,
        build_dedup_state,
        fold_docs,
    )
    from email_address_parser_spark.sources.testdata import load_documents
    from email_address_parser_spark.streaming.incremental_stream import (
        DEDUP_BUCKET_KEYS,
        DEDUP_STATE_KEYS,
        read_state,
        write_state_mor,
    )

    _state_root = "/dev/shm/spark-local/bench_incr"
    shutil.rmtree(_state_root, ignore_errors=True)
    _is_prev_t = F.pmod(F.xxhash64("conv_id"), F.lit(5)) != 0
    write_state_mor(
        build_incremental_state(
            spark,
            transcripts.where(_is_prev_t),
            hot_threshold=HOT_THRESHOLD,
            target_block_size=TARGET_BLOCK,
        ),
        f"{_state_root}/er",
        mode="overwrite",
    )
    docs_all = load_documents(spark, sf_dir).persist()
    _is_prev_d = F.pmod(F.xxhash64("doc_id"), F.lit(5)) != 0
    write_state_mor(
        build_dedup_state(
            spark, docs_all.where(_is_prev_d), threshold=0.2, max_bucket=64
        ),
        f"{_state_root}/dedup",
        mode="overwrite",
        tables=DEDUP_STATE_TABLES,
        merge_keys=DEDUP_STATE_KEYS,
        bucket_keys=DEDUP_BUCKET_KEYS,
    )

    def q_incr_fold():
        out = fold_batch(
            spark,
            transcripts.where(~_is_prev_t),
            read_state(spark, f"{_state_root}/er"),
            hot_threshold=HOT_THRESHOLD,
            target_block_size=TARGET_BLOCK,
        )
        _force(out["delta"])

    def q_dedup_incr():
        out = fold_docs(
            spark,
            docs_all.where(~_is_prev_d),
            read_state(
                spark, f"{_state_root}/dedup", tables=DEDUP_STATE_TABLES
            ),
            threshold=0.2,
            max_bucket=64,
        )
        _force(out["delta"])

    def q_metablock():
        from email_address_parser_spark.operators.metablocking import metablock_pairs

        _force(metablock_pairs(uniq_valid_mentions(mentions_c)))

    def q_pprl():
        # G67+G68 fully private chain: CLK-LSH blocking over encodings
        # feeding the field-wise Dice composite scorer
        from email_address_parser_spark.operators.pprl import (
            clk_composite_pairs,
            clk_encode,
            clk_lsh_pairs,
        )

        # the distinct-email dim feeds both field encodes AND both sides of
        # the blocking self-join — persist it like q_pipeline's uniq (A/B at
        # sf0.1, warm, 2 reps: 14.4/14.8 s plain vs 9.9/9.8 s persisted)
        uniqv = with_dotless(uniq_valid_mentions(mentions_c)).persist()
        _force(
            clk_composite_pairs(
                clk_lsh_pairs(clk_encode(uniqv, text_col="dotless")), uniqv
            )
        )
        uniqv.unpersist()

    suite = {
        "er_mentions": q_mentions,
        "er_metablocking": q_metablock,
        "er_pprl": q_pprl,
        "er_pairs_scored": q_pairs_scored,
        "er_pipeline": q_pipeline,
        "q1_pricing_summary": q_q1,
        "q3_shipping_priority": q_q3,
        "top_order_per_customer": q_top_order,
        "events_daily": q_events,
        "dedup_minhash": q_dedup,
        "dedup_simhash": q_simhash,
        "ann_topk": q_ann,
        "doc_fingerprints": q_docs,
        "doc_splits": q_splits,
        "doc_packing": q_packing,
        "doc_repetition": q_repetition,
        "doc_tfidf_topk": q_tfidf,
        "dedup_semantic": q_semantic,
        "doc_sample_weighted": q_wsample,
        "doc_collocations": q_colloc,
        "events_funnel": q_funnel,
        "er_incremental_fold": q_incr_fold,
        "dedup_keep_best_incr": q_dedup_incr,
    }

    timings = {}
    for name, fn in suite.items():
        t0 = time.perf_counter()
        fn()
        timings[name] = round(time.perf_counter() - t0, 3)

    total = round(sum(timings.values()), 3)
    pipeline_sec = timings["er_pipeline"]
    result = {
        "metric": "headline suite wall time (identity-resolution pipeline + relational ops)",
        "value": total,
        "unit": "sec",
        "queries": timings,
        "sf": sf,
        "cpus": cpus,
        "turns": n_turns,
        "turns_per_sec": round(n_turns / pipeline_sec, 1) if pipeline_sec else None,
    }
    mentions_c.unpersist()
    transcripts.unpersist()
    spark.stop()
    print(json.dumps(result))


if __name__ == "__main__":
    main()
