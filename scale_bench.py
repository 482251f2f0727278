#!/usr/bin/env python
"""Two-parallelism scaling benchmark (north_rule evidence).

Runs the IDENTICAL end-to-end identity-resolution job (extract → parse →
salted blocking + LSH → score → threshold → connected components) on the
IDENTICAL input (sf0.1-derived transcripts replicated ×SCALE_FACTOR with
disjoint identity spaces) at a given parallelism level, and prints one JSON
line with per-stage and total timings + turns/sec.

The driver runs this at local[8] and local[32] (the sandbox analog of N and
4N executors — no real cluster exists here) and the two outputs are combined
into BENCH/BASELINE.md with efficiency = (thr_4N / thr_N) / 4.

Usage: SPARK_GRAFT_CPUS=8|32 [SCALE_FACTOR=8] python scale_bench.py
"""

from __future__ import annotations

import json
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

from email_address_parser_spark.operators.blocking import uniq_valid_mentions
from email_address_parser_spark.operators.extract import extract_mentions, with_canonical
from email_address_parser_spark.pipeline import resolve
from email_address_parser_spark.session import build_session
from email_address_parser_spark.sources.testdata import (
    derive_transcripts,
    replicate_transcripts,
)


def main() -> None:
    cpus = int(os.environ.get("SPARK_GRAFT_CPUS", "32"))
    factor = int(os.environ.get("SCALE_FACTOR", "8"))
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")

    spark = build_session(
        app_name=f"scale-bench-local{cpus}",
        cores=cpus,
        shuffle_partitions=2 * cpus,
        extra_conf={
            # CPU-bound pandas-UDF stages: don't let AQE coalesce shuffle
            # output below the core count just because the bytes are small
            "spark.sql.adaptive.advisoryPartitionSizeInBytes": "16m",
            # shuffle files on tmpfs: the sandbox VM's disk serializes
            # concurrent shuffle writers; a cluster would spread this across
            # executors' local SSDs
            "spark.local.dir": "/dev/shm/spark-local",
        },
    )

    stages = {}

    t0 = time.perf_counter()
    transcripts = replicate_transcripts(
        derive_transcripts(spark, sf_dir), factor
    ).persist()
    n_turns = transcripts.count()
    stages["derive"] = round(time.perf_counter() - t0, 2)

    # Warm-up (untimed): spin up the Python worker pool and JIT the codegen
    # paths with a miniature end-to-end pass. Cold-start profiling shows the
    # first Python stage spends >50% in sys time forking+importing one worker
    # per core — a fixed cost that a long-lived executor (the real-cluster
    # deployment this benchmark models) pays once, not per job.
    t0 = time.perf_counter()
    # narrow 2% filter (NOT limit(): CollectLimit collapses to one task and
    # would warm a single worker) — every partition contributes, so the full
    # per-core worker pool forks and imports during the untimed phase
    from pyspark.sql import functions as F

    warm_input = transcripts.where(F.pmod(F.xxhash64("conv_id", "turn_idx"), F.lit(50)) == 0)
    warm = resolve(with_canonical(extract_mentions(warm_input)))
    warm["clusters"].write.format("noop").mode("overwrite").save()
    warm["uniq"].unpersist()
    warm["dim"].unpersist()
    stages["warmup"] = round(time.perf_counter() - t0, 2)

    # The raw mention stream has exactly ONE consumer at scale — the
    # distinct-email table — so it is never cached: extraction fuses into
    # the dedup shuffle's map side (no 4.8M-row cache write/read, which
    # profiling showed as a flat ~10s tax that caps scaling).
    t0 = time.perf_counter()
    mentions = with_canonical(extract_mentions(transcripts))
    uniq = uniq_valid_mentions(mentions).persist()
    n_mentions = uniq.count()
    stages["extract_dedup"] = round(time.perf_counter() - t0, 2)

    t_pipeline0 = time.perf_counter()
    # the production chain (pipeline.resolve): exact-canonical duplicates
    # collapse to one representative before the quadratic stages; their
    # guaranteed-match star edges bypass the scorer
    chain = resolve(mentions, uniq)
    n_clusters = chain["clusters"].count()
    chain["dim"].unpersist()
    stages["block_score_cluster"] = round(time.perf_counter() - t_pipeline0, 2)

    total = stages["extract_dedup"] + stages["block_score_cluster"]
    result = {
        "metric": "identity-resolution pipeline turns/sec (scaling evidence)",
        "value": round(total, 2),
        "unit": "sec",
        "queries": {"extract_dedup": stages["extract_dedup"],
                    "block_score_cluster": stages["block_score_cluster"]},
        "sf": 0.1,
        "scale_factor": factor,
        "cpus": cpus,
        "turns": n_turns,
        "distinct_emails": n_mentions,
        "clusters": n_clusters,
        "turns_per_sec": round(n_turns / total, 1),
    }
    spark.stop()
    print(json.dumps(result))


if __name__ == "__main__":
    main()
