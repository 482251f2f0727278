"""Merge-on-read (MoR) storage for the incremental folds' state
(`operators/incremental.fold_batch`, the dedup and CLK folds): a state
directory holds one parquet table per state table plus a small metadata
file recording the current epoch and each table's merge key.

  * `write_state_mor` APPENDS one fold's update rows — each row stamped
    with a monotonically increasing `_epoch` and a stable key bucket
    `_b = pmod(xxhash64(key), N)` — so per-fold write I/O is O(batch),
    never O(corpus). This is the parquet-dir analog of an Iceberg
    equality-delete MERGE: upserts land as new data files; nothing is
    rewritten. (A fold's update keys are hash-scattered across the corpus,
    so partition-overwrite CANNOT be batch-sized — with batch ≫ #buckets
    every partition is touched; append + late merge is the only flat-write
    layout, and it is what merge-on-read Iceberg actually does.)
    mode='overwrite' writes a fresh epoch-0 base instead (bootstrap).
  * `read_state` resolves LATEST-EPOCH-WINS per key lazily (update rows
    always carry the complete merged value for their key, so resolution is
    one max_by per table). Append-only tables such as the dedup fold's
    `bands` — new documents only — need no resolution at all.
  * `compact_state` is the Iceberg table-maintenance analog: rewrite each
    table resolved, at epoch 0, amortizing read amplification; run it every
    K folds. The `_b` bucket column gives compaction (and file skipping via
    parquet min-max stats / Iceberg hidden bucket partitioning) a stable
    layout key. `_epoch`/`_b` ride as regular columns rather than directory
    partitions because a partitionBy write of an EMPTY table stores no
    schema — and an empty bootstrap is a supported entry point.

A fold is idempotent under replay — already-folded emails drain through the
new-email anti-join (`tests/test_incremental.py::
test_fold_batch_refold_is_noop`) — so re-appending a batch's updates adds
value-identical rows at a higher epoch, which latest-wins resolution
absorbs. `localCheckpoint` materializes every update BEFORE the first
append so the lazy plans never read a directory they are appending to, and
the materialized set is batch-sized.
"""

from __future__ import annotations

import json
import os
from typing import Dict, Optional

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..operators.incremental import STATE_TABLES

# merge keys per state table (latest-epoch row wins per key)
STATE_KEYS = {"reps": ["match_key"], "clusters": ["email"]}
# the G26 dedup fold's state uses the same MoR layout with its own keys:
# bands/grams/meta are append-only (batch rows only), clusters merges on id
DEDUP_STATE_KEYS = {"clusters": ["id"]}
DEDUP_BUCKET_KEYS = {"bands": ["id"], "grams": ["id"], "meta": ["id"]}
N_STATE_BUCKETS = 32


def _meta_path(state_dir: str) -> str:
    return f"{state_dir}/_MOR_META.json"


def _read_meta(state_dir: str) -> dict:
    try:
        with open(_meta_path(state_dir)) as fh:
            return json.load(fh)
    except (OSError, ValueError):
        return {"epoch": -1, "keys": {}}


def _write_meta(state_dir: str, epoch: int, keys: dict) -> None:
    os.makedirs(state_dir, exist_ok=True)
    with open(_meta_path(state_dir), "w") as fh:
        json.dump({"epoch": epoch, "keys": keys}, fh)


def write_state_mor(
    updates: Dict[str, DataFrame],
    state_dir: str,
    tables=STATE_TABLES,
    mode: str = "append",
    merge_keys: Dict[str, list] = STATE_KEYS,
    bucket_keys: Optional[Dict[str, list]] = None,
) -> None:
    """Append one epoch of per-table UPDATE rows (mode='overwrite' writes a
    fresh base at epoch 0 — the bootstrap / compaction path).

    Two phases that must not interleave: materialize EVERY table
    (batch-sized here), then write. The tables share lazy subtrees that read
    the CURRENT state directories: the fold's new-email anti-join reads
    state.clusters — the very table being appended — and feeds reps and
    clusters both, so writing any directory before every table is
    materialized would make later tables re-evaluate against the
    already-updated state — the batch would drain through the anti-join
    and the fold would silently no-op. localCheckpoint is eager, so phase
    one pins all values first.

    merge_keys: per-table latest-wins key (absent = append-only);
    bucket_keys: layout key for append-only tables (default: none, so such
    a table buckets by its first column). The merge keys are
    recorded in the state dir's metadata (the parquet-dir analog of Iceberg
    identifier-field metadata), so `read_state` resolves any state dir
    without being told whose keys it holds."""
    meta = _read_meta(state_dir)
    epoch = 0 if mode == "overwrite" else meta["epoch"] + 1
    materialized = {
        name: updates[name].localCheckpoint()
        for name in tables
        if updates.get(name) is not None
    }
    key_meta = {} if mode == "overwrite" else dict(meta.get("keys", {}))
    for name, df in materialized.items():
        keys = (
            merge_keys.get(name) or (bucket_keys or {}).get(name) or [df.columns[0]]
        )
        key_meta[name] = merge_keys.get(name)
        out = (
            df.withColumn("_epoch", F.lit(epoch))
            .withColumn(
                "_b",
                F.pmod(
                    F.xxhash64(*[F.col(k) for k in keys]),
                    F.lit(N_STATE_BUCKETS),
                ).cast("int"),
            )
        )
        out.write.mode(mode).parquet(f"{state_dir}/{name}")
    _write_meta(state_dir, epoch, key_meta)


def _resolve_latest(
    name: str,
    df: DataFrame,
    merge_keys: Dict[str, list] = STATE_KEYS,
    epoch: int = None,
) -> DataFrame:
    """Latest-epoch-wins per merge key; pass-through for append-only tables
    and for non-MoR (full-rewrite) layouts.

    Resolution must NOT be a full-state shuffle aggregation (the round-4
    REPL=1 campaign measured that shape at +2.4x fold cost): the base is
    O(corpus) but the deltas are O(batch x folds-since-compaction), so the
    merged view is base ANTI-JOIN delta-keys UNION resolved-deltas — the
    delta side aggregates and broadcasts, the base never shuffles. Each
    parquet file holds a single `_epoch` value, so the `_epoch > 0` delta
    scan file-skips the base via footer min-max stats (Iceberg's MoR read
    does exactly this: data files stream through, equality-deletes/upserts
    join in broadcast-sized). On a freshly written/compacted base
    (`epoch == 0`, from dir metadata) resolution short-circuits to a
    column drop — no join, no aggregation."""
    if "_epoch" not in df.columns:
        return df
    if name not in merge_keys:  # append-only (dedup bands/grams/meta)
        return df.drop("_epoch", "_b")
    if epoch is not None and epoch <= 0:  # base only: nothing to merge
        return df.drop("_epoch", "_b")
    keys = merge_keys[name]
    vals = [c for c in df.columns if c not in keys + ["_epoch", "_b"]]
    deltas = (
        df.where(F.col("_epoch") > 0)
        .groupBy(*keys)
        .agg(F.max_by(F.struct(*vals), F.col("_epoch")).alias("_s"))
        .select(*keys, *[F.col(f"_s.{v}").alias(v) for v in vals])
        # batch-sized and referenced twice here plus once per downstream use
        # of the resolved view — Spark reuses no exchanges across repeated
        # non-cached subtree references, so pin the aggregation (lazy: a
        # table the caller never evaluates costs nothing)
        .localCheckpoint(eager=False)
    )
    base = df.where(F.col("_epoch") == 0).drop("_epoch", "_b")
    return base.join(deltas, keys, "left_anti").unionByName(deltas)


def read_state(
    spark: SparkSession,
    state_dir: str,
    tables=STATE_TABLES,
    merge_keys: Dict[str, list] = None,
) -> Dict[str, DataFrame]:
    """Read state tables, resolving merge-on-read layouts to their
    latest-epoch view (plain full-rewrite layouts pass through). Merge keys
    default to the ones recorded in the dir's metadata at write time, so any
    state dir (cluster-maintenance, dedup, ...) reads back correctly."""
    meta = _read_meta(state_dir)
    if merge_keys is None:
        recorded = meta.get("keys", {})
        merge_keys = {k: v for k, v in recorded.items() if v} or STATE_KEYS
    epoch = int(meta.get("epoch", -1))
    return {
        name: _resolve_latest(
            name, spark.read.parquet(f"{state_dir}/{name}"), merge_keys, epoch
        )
        for name in tables
    }


def compact_state(
    spark: SparkSession,
    state_dir: str,
    tables=STATE_TABLES,
    merge_keys: Dict[str, list] = None,
    bucket_keys: Optional[Dict[str, list]] = None,
) -> None:
    """Iceberg table-maintenance analog: rewrite every table resolved, as a
    fresh epoch-0 base, bounding read amplification. Run every K folds; the
    cost is O(corpus) but amortizes to O(corpus/K) per fold."""
    if merge_keys is None:
        recorded = _read_meta(state_dir).get("keys", {})
        merge_keys = {k: v for k, v in recorded.items() if v} or STATE_KEYS
    write_state_mor(
        read_state(spark, state_dir, tables, merge_keys),
        state_dir,
        tables,
        mode="overwrite",
        merge_keys=merge_keys,
        bucket_keys=bucket_keys,
    )
