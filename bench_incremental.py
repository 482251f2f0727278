#!/usr/bin/env python
"""Incremental-maintenance A/B: fold one transcript batch into persisted
state (operators/incremental.fold_batch) vs recomputing clusters from
scratch (the nightly-rebuild alternative). Same session and blocking config
as bench.py, best-of-N with the cache cleared between repetitions (the box
is +/-30% noisy; see BENCH/BASELINE.md methodology).

State (reps + clusters) is written
to and re-read from parquet, like pipeline.CheckpointManager state in prod
(Iceberg tables bucketed by their join keys there).

Variants timed:
  fold_delta      — the per-batch cost that matters at 10^12 turns:
                    extract the batch, score only batch-incident rep pairs,
                    quotient CC, emit the DELTA of assignments (prod writes
                    it with a partition-pruned MERGE)
  fold_commit     — fold_delta INCLUDING the durable state commit: the
                    merge-on-read append of every update table
                    (streaming.incremental_stream.write_state_mor) — the
                    true end-to-end per-batch cost a streaming deployment
                    pays. Each rep restarts from a pristine copy of the
                    bootstrap state (untimed reset), so reps are i.i.d.
  fold_full_view  — same fold, but also materializing the full updated
                    clusters view (the O(dim) union a small-corpus caller
                    might want)
  full            — recompute from raw transcripts, optimized collapsed
                    batch chain (bench.py's er_pipeline path)

The scaling law to read: at a FIXED batch size, fold_delta AND fold_commit
stay flat as SPARK_GRAFT_REPL grows the corpus (disjoint identity spaces) —
commit writes are batch-sized appends, not state rewrites — while `full`
grows linearly. Prints ONE JSON line.
"""

from __future__ import annotations

import json
import os
import re
import sys
import time

from pyspark.sql import functions as F

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

from email_address_parser_spark.operators.extract import extract_mentions, with_canonical
from email_address_parser_spark.operators.incremental import (
    build_incremental_state,
    fold_batch,
)
from email_address_parser_spark.pipeline import HOT_THRESHOLD, TARGET_BLOCK, resolve
from email_address_parser_spark.session import build_session
from email_address_parser_spark.sources.testdata import derive_transcripts

REPS = 3
# corpus replication factor (disjoint identity spaces — see
# sources.testdata.replicate_transcripts) and batch denominator: 1/D of
# conversations form the fold batch. The scaling law that matters at 10^12
# turns is fold-vs-corpus-size at a FIXED batch: SPARK_GRAFT_REPL=4,8,...
# with SPARK_GRAFT_BATCH_DEN scaled to keep the batch constant.
REPL = int(os.environ.get("SPARK_GRAFT_REPL", "1"))
BATCH_DEN = int(os.environ.get("SPARK_GRAFT_BATCH_DEN", "5"))


def _force(df) -> None:
    df.write.format("noop").mode("overwrite").save()


def _full_collapsed_clusters(mentions):
    """bench.py's er_pipeline chain (pipeline.resolve)."""
    return resolve(mentions)["clusters"]


def main() -> None:
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    cpus = int(os.environ.get("SPARK_GRAFT_CPUS", "32"))
    sf_match = re.search(r"sf([0-9.]+)", sf_dir)
    sf = float(sf_match.group(1)) if sf_match else -1.0

    os.makedirs("/dev/shm/spark-local", exist_ok=True)
    state_dir = "/dev/shm/spark-local/incr_state"
    spark = build_session(
        app_name=f"bench-incremental-local{cpus}",
        cores=cpus,
        shuffle_partitions=max(2 * cpus, 16),
        extra_conf={
            "spark.sql.adaptive.advisoryPartitionSizeInBytes": "16m",
            "spark.local.dir": "/dev/shm/spark-local",
        },
    )

    transcripts = derive_transcripts(spark, sf_dir)
    if REPL > 1:
        from email_address_parser_spark.sources.testdata import replicate_transcripts

        transcripts = replicate_transcripts(transcripts, REPL)
    transcripts = transcripts.persist()
    n_turns = transcripts.count()
    is_prev = F.pmod(F.xxhash64("conv_id"), F.lit(BATCH_DEN)) != 0
    prev_t = transcripts.where(is_prev).persist()
    new_t = transcripts.where(~is_prev).persist()
    n_batch = new_t.count()

    # ---- bootstrap + checkpoint state (untimed; doubles as chain warmup).
    # MoR layout (epoch-0 base): fold_commit appends to a pristine COPY.
    import shutil

    from email_address_parser_spark.streaming.incremental_stream import (
        read_state,
        write_state_mor,
    )

    base_dir = f"{state_dir}_base"
    write_state_mor(
        build_incremental_state(
            spark, prev_t, hot_threshold=HOT_THRESHOLD, target_block_size=TARGET_BLOCK
        ),
        base_dir,
        mode="overwrite",
    )

    def _reset_state():
        shutil.rmtree(state_dir, ignore_errors=True)
        shutil.copytree(base_dir, state_dir)

    _reset_state()

    def run_fold_delta() -> None:
        out = fold_batch(
            spark, new_t, read_state(spark, state_dir),
            hot_threshold=HOT_THRESHOLD, target_block_size=TARGET_BLOCK,
        )
        _force(out["delta"])

    def run_fold_commit() -> None:
        out = fold_batch(
            spark, new_t, read_state(spark, state_dir),
            hot_threshold=HOT_THRESHOLD, target_block_size=TARGET_BLOCK,
        )
        write_state_mor(out["updates"], state_dir)

    def run_fold_full_view() -> None:
        out = fold_batch(
            spark, new_t, read_state(spark, state_dir),
            hot_threshold=HOT_THRESHOLD, target_block_size=TARGET_BLOCK,
        )
        _force(out["clusters"])

    def run_full() -> None:
        _force(_full_collapsed_clusters(with_canonical(extract_mentions(transcripts))))

    variants = {
        "fold_delta": run_fold_delta,
        "fold_commit": run_fold_commit,
        "fold_full_view": run_fold_full_view,
        "full": run_full,
    }
    timings = {}
    for name, fn in variants.items():
        best = None
        for _ in range(REPS):
            spark.catalog.clearCache()
            transcripts.persist(), prev_t.persist(), new_t.persist()
            new_t.count()
            # untimed: EVERY fold rep starts from the pristine base. Without
            # this, any variant running after a fold_commit rep reads a
            # state that already contains the batch — the new-email
            # anti-join drains and the "fold" times a no-op re-fold
            # (measured: ~2x too fast; the idempotency that makes streaming
            # replay safe makes a polluted-state benchmark silently wrong)
            _reset_state()
            t0 = time.perf_counter()
            fn()
            dt = time.perf_counter() - t0
            best = dt if best is None else min(best, dt)
        timings[name] = round(best, 3)

    result = {
        "metric": "incremental fold (delta) vs full recompute "
        f"(1/{BATCH_DEN} batch, corpus x{REPL})",
        "value": timings["fold_delta"],
        "unit": "sec",
        "queries": timings,
        "speedup_vs_full": round(timings["full"] / timings["fold_delta"], 2),
        "commit_speedup_vs_full": round(
            timings["full"] / timings["fold_commit"], 2
        ),
        "sf": sf,
        "cpus": cpus,
        "turns": n_turns,
        "batch_turns": n_batch,
        "repl": REPL,
        "reps": REPS,
        "aggregation": "best-of-N per variant, cache cleared between reps",
    }
    spark.stop()
    print(json.dumps(result))


if __name__ == "__main__":
    main()
