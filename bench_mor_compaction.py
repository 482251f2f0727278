#!/usr/bin/env python
"""Merge-on-read amplification: fold cost vs epochs since compaction.

`write_state_mor` keeps fold WRITES batch-sized by appending epoch-stamped
update rows; the price is read amplification — `read_state` resolves
base-anti-join-deltas, and the delta side grows with every fold until
`compact_state` rewrites the base. This campaign measures that price
directly, answering "how often must a 10^12-turn deployment compact":

  1. bootstrap state from the 80% split (epoch 0);
  2. append E epochs of disjoint mini-folds (each 1/DEN of conversations,
     untimed) for E in EPOCHS;
  3. time the NEXT fold (read resolved state + fold + force delta),
     best-of-REPS, fresh state copy per rep;
  4. after the largest E, `compact_state` and time the same fold again.

Prints ONE JSON line:
  {"epochs": {E: fold_sec}, "compacted_sec": s, "compact_sec": s, ...}

Usage: [SPARK_GRAFT_SF_DIR=...] python bench_mor_compaction.py
"""

from __future__ import annotations

import json
import os
import shutil
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

from pyspark.sql import functions as F

from email_address_parser_spark.operators.incremental import (
    build_incremental_state,
    fold_batch,
)
from email_address_parser_spark.pipeline import HOT_THRESHOLD as HOT
from email_address_parser_spark.pipeline import TARGET_BLOCK as TB
from email_address_parser_spark.session import build_session
from email_address_parser_spark.sources.testdata import derive_transcripts
from email_address_parser_spark.streaming.incremental_stream import (
    compact_state,
    read_state,
    write_state_mor,
)

EPOCHS = [0, 2, 4, 8]
REPS = 2
DEN = 40  # each mini-fold and the timed fold use 1/DEN of conversations


def _force(df) -> None:
    df.write.format("noop").mode("overwrite").save()


def main() -> None:
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    cpus = int(os.environ.get("SPARK_GRAFT_CPUS", "32"))
    os.makedirs("/dev/shm/spark-local", exist_ok=True)
    spark = build_session(
        app_name=f"bench-mor-compaction-local{cpus}",
        cores=cpus,
        shuffle_partitions=max(2 * cpus, 16),
        extra_conf={
            "spark.sql.adaptive.advisoryPartitionSizeInBytes": "16m",
            "spark.local.dir": "/dev/shm/spark-local",
        },
    )
    transcripts = derive_transcripts(spark, sf_dir).persist()
    transcripts.count()
    part = F.pmod(F.xxhash64("conv_id"), F.lit(DEN))
    # slices 0..max_epochs-1 feed the untimed mini-folds, slice DEN-1 is the
    # timed fold, everything else bootstraps the base
    max_e = max(EPOCHS)
    prev_t = transcripts.where((part >= max_e) & (part < DEN - 1)).persist()
    timed_t = transcripts.where(part == DEN - 1).persist()
    n_batch = timed_t.count()

    root = "/dev/shm/spark-local/mor_compaction"
    shutil.rmtree(root, ignore_errors=True)
    base_dir = f"{root}/e0"
    write_state_mor(
        build_incremental_state(
            spark, prev_t, hot_threshold=HOT, target_block_size=TB
        ),
        base_dir,
        mode="overwrite",
    )
    # build the epoch ladder once: eK = e(K-1) + one appended mini-fold
    dirs = {0: base_dir}
    for e in range(1, max_e + 1):
        d = f"{root}/e{e}"
        shutil.copytree(dirs[e - 1], d)
        out = fold_batch(
            spark,
            transcripts.where(part == e - 1),
            read_state(spark, d),
            hot_threshold=HOT,
            target_block_size=TB,
        )
        write_state_mor(out["updates"], d)
        dirs[e] = d

    def timed_fold(state_dir: str) -> float:
        best = None
        for _ in range(REPS):
            spark.catalog.clearCache()
            transcripts.persist(), timed_t.persist()
            timed_t.count()
            work = f"{root}/work"
            shutil.rmtree(work, ignore_errors=True)
            shutil.copytree(state_dir, work)
            t0 = time.perf_counter()
            out = fold_batch(
                spark, timed_t, read_state(spark, work),
                hot_threshold=HOT, target_block_size=TB,
            )
            _force(out["delta"])
            dt = time.perf_counter() - t0
            best = dt if best is None else min(best, dt)
        return round(best, 3)

    results = {e: timed_fold(dirs[e]) for e in EPOCHS}

    # compaction: rewrite the deepest ladder rung as a fresh base, then time
    # the same fold on it (and time the compaction itself once)
    compacted = f"{root}/compacted"
    shutil.copytree(dirs[max_e], compacted)
    t0 = time.perf_counter()
    compact_state(spark, compacted)
    compact_sec = round(time.perf_counter() - t0, 3)
    compacted_fold = timed_fold(compacted)

    print(json.dumps({
        "metric": "MoR fold cost vs epochs since compaction",
        "unit": "sec",
        "epochs": {str(e): results[e] for e in EPOCHS},
        "compacted_sec": compacted_fold,
        "compact_sec": compact_sec,
        "batch_turns": n_batch,
        "sf_dir": sf_dir,
        "cpus": cpus,
        "reps": REPS,
        "aggregation": "best-of-N, fresh state copy per rep",
    }))
    spark.stop()


if __name__ == "__main__":
    main()
