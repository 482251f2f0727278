"""Continuous identity-resolution ingestion: the G24 state-maintained fold
(`operators/incremental.fold_batch`) as a Structured Streaming
`foreachBatch` consumer.

This is the production shape of 10^12-turn maintenance: transcripts land on
a stream (Kafka/Iceberg; file source in-sandbox), every micro-batch is
folded into the persisted cluster state — extraction, banding, and scoring
run over the micro-batch only; derived dims (key reps, domain counts, LSH
bucket counts) are merged, never re-aggregated — and the updated state is
committed back. Exactly-once comes from composing two mechanisms:

  * the streaming checkpoint replays a micro-batch after a crash;
  * the fold is idempotent under replay — already-folded emails drain
    through the new-email anti-join (`tests/test_incremental.py::
    test_fold_batch_refold_is_noop`) — so a replayed batch is a no-op.

State storage is MERGE-ON-READ (round-4: "fold writes are batch-sized",
proven in-sandbox rather than by reference to prod):

  * a fold APPENDS only its update rows — each row stamped with a
    monotonically increasing `_epoch` and a stable key bucket
    `_b = pmod(xxhash64(key), N)` — so per-fold write I/O is O(batch),
    never O(corpus). This is the parquet-dir analog of an Iceberg
    equality-delete MERGE: upserts land as new data files; nothing is
    rewritten. (A fold's update keys are hash-scattered across the corpus,
    so partition-overwrite CANNOT be batch-sized — with batch ≫ #buckets
    every partition is touched; append + late merge is the only flat-write
    layout, and it is what merge-on-read Iceberg actually does.)
  * `read_state` resolves LATEST-EPOCH-WINS per key lazily (update rows
    always carry the complete merged value for their key, so resolution is
    one max_by per table). `uniq` is append-only — new emails only — and
    needs no resolution at all.
  * `compact_state` is the Iceberg table-maintenance analog: rewrite each
    table resolved, at epoch 0, amortizing read amplification; run it every
    K folds. The `_b` bucket column gives compaction (and prod file
    skipping via parquet min-max stats / Iceberg hidden bucket
    partitioning) a stable layout key. `_epoch`/`_b` ride as regular
    columns rather than directory partitions because a partitionBy write of
    an EMPTY table stores no schema — and an empty bootstrap is a supported
    entry point.

`localCheckpoint` materializes every update BEFORE the first append so the
lazy plans never read a directory they are appending to — and with MoR the
materialized set is batch-sized, where the old full-rewrite path
checkpointed O(corpus) tables every fold.
"""

from __future__ import annotations

import json
import os
from typing import Dict

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..operators.incremental import STATE_TABLES, build_incremental_state, fold_batch
from ..operators.incremental_dedup import (
    DEDUP_STATE_TABLES,
    build_dedup_state,
    fold_docs,
)
from ..operators.incremental_golden import (
    MENTION_KEY,
    build_golden_state,
    fold_golden,
)

# merge keys per state table (latest-epoch row wins per key); `uniq` is
# append-only and absent here on purpose
STATE_KEYS = {
    "reps": ["match_key"],
    "domain_counts": ["domain_canon"],
    "bucket_counts": ["band_idx", "band_sig"],
    "local_counts": ["_dl"],
    "ebucket_counts": ["band_idx", "band_sig"],
    "clusters": ["email"],
}
# stable layout key for append-only tables (no merge key to bucket by)
STATE_BUCKET_KEYS = {"uniq": ["email"]}
# the G26 dedup fold's state uses the same MoR layout with its own keys:
# bands/grams/meta are append-only (batch rows only), clusters merges on id
DEDUP_STATE_KEYS = {"clusters": ["id"]}
DEDUP_BUCKET_KEYS = {"bands": ["id"], "grams": ["id"], "meta": ["id"]}
# the G42 golden fold's state: the mention ledger is append-only (the
# exactly-once anti-join key is the mention key; email is the prune/bucket
# key); golden merges on cluster_id, with MERGED-AWAY ids appended as
# all-null TOMBSTONE rows (the parquet-dir analog of an Iceberg equality
# delete) that `read_golden_state` filters after latest-wins resolution
GOLDEN_STATE_TABLES = ("men", "golden")
GOLDEN_STATE_KEYS = {"golden": ["cluster_id"]}
GOLDEN_BUCKET_KEYS = {"men": ["email"]}
# the G43 membership-history fold's state: SCD2 rows merge on
# (email, valid_from) — a fold's closure REPLACES the open row it closes
# (same key, valid_to filled), opens insert fresh keys, so latest-wins
# resolution IS the SCD2 update and the per-fold append stays batch-sized
HISTORY_STATE_TABLES = ("history",)
HISTORY_STATE_KEYS = {"history": ["email", "valid_from"]}
N_STATE_BUCKETS = 32


def _meta_path(state_dir: str) -> str:
    return f"{state_dir}/_MOR_META.json"


def _read_meta(state_dir: str) -> dict:
    try:
        with open(_meta_path(state_dir)) as fh:
            return json.load(fh)
    except (OSError, ValueError):
        return {"epoch": -1, "keys": {}}


def _read_epoch(state_dir: str) -> int:
    return int(_read_meta(state_dir).get("epoch", -1))


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
    bucket_keys: Dict[str, list] = STATE_BUCKET_KEYS,
) -> None:
    """Append one epoch of per-table UPDATE rows (mode='overwrite' writes a
    fresh base at epoch 0 — the bootstrap / compaction path).

    Two phases that must not interleave: materialize EVERY table
    (batch-sized here), then write. The tables share lazy subtrees that read
    the CURRENT state directories (e.g. the new-email anti-join against
    state.uniq feeds reps/bucket_counts/clusters too), so writing any
    directory before every table is materialized would make later tables
    re-evaluate against the already-updated state — the batch would drain
    through the anti-join and the fold would silently no-op. localCheckpoint
    is eager, so phase one pins all values first.

    merge_keys: per-table latest-wins key (absent = append-only);
    bucket_keys: layout key for append-only tables. The merge keys are
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
        keys = merge_keys.get(name) or bucket_keys.get(name) or [df.columns[0]]
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
    if name not in merge_keys:  # append-only (uniq; dedup bands/grams/meta)
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


def read_er_state(
    spark: SparkSession, state_dir: str, tables=STATE_TABLES
) -> Dict[str, DataFrame]:
    """`read_state` plus the G58 erasure conventions (operators/forget.py):

      * all-null tombstones filtered from the keyed tables (clusters on
        null cluster_id, reps on null email) after latest-wins resolution;
      * count dims filtered to positive rows (a forget decrements counts;
        zero == absent in a from-scratch build);
      * the `deletes` equality-delete ledger applied to the append-only
        `uniq` with SEQUENCE semantics: a uniq row survives iff it is newer
        than every delete for its email (Iceberg's eq-delete rule), so a
        post-erasure reappearance survives while pre-erasure rows stay
        dead.

    On a forget-free state dir every step is a no-op filter, so this is a
    drop-in superset of `read_state` for the cluster-maintenance tables."""
    out = read_state(spark, state_dir, tables)
    if out.get("clusters") is not None:
        out["clusters"] = out["clusters"].where(F.col("cluster_id").isNotNull())
    if out.get("reps") is not None:
        out["reps"] = out["reps"].where(F.col("email").isNotNull())
    for name, cnt in (
        ("domain_counts", "_dom_n"),
        ("bucket_counts", "_bn"),
        ("local_counts", "_ln"),
        ("ebucket_counts", "_bn"),
    ):
        if out.get(name) is not None:
            out[name] = out[name].where(F.col(cnt) > 0)
    if "uniq" in tables and os.path.isdir(f"{state_dir}/deletes"):
        raw = spark.read.parquet(f"{state_dir}/uniq")
        dels = (
            spark.read.parquet(f"{state_dir}/deletes")
            .groupBy("email")
            .agg(F.max("_epoch").alias("_del_epoch"))
        )
        out["uniq"] = (
            raw.join(F.broadcast(dels), "email", "left")
            .where(
                F.col("_del_epoch").isNull()
                | (F.col("_epoch") > F.col("_del_epoch"))
            )
            .drop("_del_epoch", "_epoch", "_b")
        )
    return out


def _null_cols(df: DataFrame, keys: list) -> list:
    return [
        F.lit(None).cast(f.dataType).alias(f.name)
        for f in df.schema.fields
        if f.name not in keys
    ]


def forget_identities(
    spark: SparkSession,
    state_dir: str,
    targets: DataFrame,
    golden_dir: str = None,
    history_dir: str = None,
) -> DataFrame:
    """Erase every identity (cluster) containing a target email from the
    on-disk MoR state — ONE batch-sized append epoch per state dir carrying
    the ledger rows, tombstones, and count decrements (operators/forget.py
    has the mechanics). Idempotent: a re-forget finds no surviving cluster
    rows for the targets, so every frame is empty. Returns the
    (email, cluster_id) audit frame of what was erased — the erasure-log
    record.

    golden_dir / history_dir cascade the erasure through the co-maintained
    states (GDPR erasure is ALL the subject's data, not just the live
    view): the G42 golden record of each doomed cluster is tombstoned and
    the mention LEDGER takes an eq-delete on the doomed emails; the G43
    SCD2 history tombstones EVERY row (open and closed) the doomed emails
    ever held. Write order is cascade-first, cluster-state LAST: the doomed
    expansion needs live cluster rows, so a crash anywhere mid-cascade
    leaves the targets still resolvable and a re-run re-appends
    value-identical rows (latest-wins absorbs them) — the same
    replay-idempotency argument as the folds. Ordering caveat shared with
    any eq-delete store: run erasures only after the stream's checkpoint
    frontier has passed the batches that carried the erased mentions, or a
    crash-REPLAY of an older batch lawfully re-ingests them as new data."""
    from ..operators.forget import forget_payload

    payload = forget_payload(read_er_state(spark, state_dir), targets)
    doomed = payload["doomed"]
    if golden_dir:
        golden = read_golden_state(spark, golden_dir)["golden"]
        g_updates = {
            "golden": doomed.select("cluster_id")
            .distinct()
            .select("cluster_id", *_null_cols(golden, ["cluster_id"])),
            "deletes": doomed.select("email"),
        }
        write_state_mor(
            g_updates,
            golden_dir,
            tables=("golden", "deletes"),
            merge_keys=GOLDEN_STATE_KEYS,
            bucket_keys={**GOLDEN_BUCKET_KEYS, "deletes": ["email"]},
        )
    if history_dir:
        hist = read_history_state(spark, history_dir)["history"]
        h_tomb = hist.join(
            F.broadcast(doomed.select("email")), "email", "left_semi"
        ).select(
            "email",
            F.lit(None).cast("string").alias("cluster_id"),
            "valid_from",
            F.lit(None).cast("long").alias("valid_to"),
            F.lit(None).cast("boolean").alias("is_current"),
        )
        write_state_mor(
            {"history": h_tomb},
            history_dir,
            tables=HISTORY_STATE_TABLES,
            merge_keys=HISTORY_STATE_KEYS,
            bucket_keys={},
        )
    updates = {
        k: v for k, v in payload.items() if k != "doomed" and v is not None
    }
    write_state_mor(
        updates,
        state_dir,
        tables=tuple(updates),
        bucket_keys={**STATE_BUCKET_KEYS, "deletes": ["email"]},
    )
    return doomed


def compact_er_state(
    spark: SparkSession, state_dir: str, tables=STATE_TABLES
) -> None:
    """Compaction for a state dir that may carry erasures: rewrite the base
    with the ledger/tombstones/zero-counts APPLIED (Iceberg's
    rewrite-data-files + drop-stale-deletes maintenance), then drop the
    ledger — post-compaction reads are filter-free and the forgotten rows
    are physically gone from storage, which is what an erasure SLA
    ultimately requires."""
    import shutil

    write_state_mor(
        read_er_state(spark, state_dir, tables),
        state_dir,
        tables=tables,
        mode="overwrite",
    )
    shutil.rmtree(f"{state_dir}/deletes", ignore_errors=True)


def compact_state(
    spark: SparkSession,
    state_dir: str,
    tables=STATE_TABLES,
    merge_keys: Dict[str, list] = None,
    bucket_keys: Dict[str, list] = STATE_BUCKET_KEYS,
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


def compact_if_needed(
    spark: SparkSession,
    state_dir: str,
    every_k_epochs: int = 8,
    tables=STATE_TABLES,
    merge_keys: Dict[str, list] = None,
    bucket_keys: Dict[str, list] = STATE_BUCKET_KEYS,
) -> bool:
    """Compaction POLICY around compact_state: rewrite the base once
    `every_k_epochs` folds have appended since the last base (the epoch
    counter IS folds-since-compaction — overwrite resets it to 0). → True
    iff a compaction ran.

    The cadence knob is measured, not guessed (`bench_mor_compaction.py` /
    BENCH/BASELINE.md): read amplification is a flat step as soon as ANY
    delta exists and does not grow 2→8 epochs at sandbox scale, so the
    policy amortizes the O(corpus) rewrite to O(corpus/K) per fold without
    a mid-ladder cliff to dodge. Call it after each fold's commit — e.g.
    from the foreachBatch in streaming_cluster_maintenance."""
    if _read_epoch(state_dir) < int(every_k_epochs):
        return False
    compact_state(
        spark, state_dir, tables=tables, merge_keys=merge_keys, bucket_keys=bucket_keys
    )
    return True


def bootstrap_state(
    spark: SparkSession,
    transcripts: DataFrame,
    state_dir: str,
    **fold_kwargs,
) -> None:
    """Initialize the state directory from a (possibly EMPTY) corpus — an
    empty bootstrap makes the stream self-contained: the first micro-batch
    folds into empty tables."""
    write_state_mor(
        build_incremental_state(spark, transcripts, **fold_kwargs),
        state_dir,
        mode="overwrite",
    )


def bootstrap_golden_state(
    spark: SparkSession,
    transcripts: DataFrame,
    cluster_state: Dict[str, DataFrame],
    golden_dir: str,
) -> None:
    """Epoch-0 base for the golden fold's MoR state, derived from the SAME
    corpus/clustering the cluster state was bootstrapped from (an empty
    corpus yields empty-but-typed tables, so a from-nothing stream works)."""
    from ..operators.extract import extract_mentions, with_canonical

    mentions = with_canonical(extract_mentions(transcripts))
    write_state_mor(
        build_golden_state(mentions, cluster_state["clusters"]),
        golden_dir,
        tables=GOLDEN_STATE_TABLES,
        mode="overwrite",
        merge_keys=GOLDEN_STATE_KEYS,
        bucket_keys=GOLDEN_BUCKET_KEYS,
    )


def bootstrap_history_state(
    spark: SparkSession,
    cluster_state: Dict[str, DataFrame],
    history_dir: str,
) -> None:
    """Epoch-0 base for the G43 SCD2 membership history: every bootstrap
    assignment becomes an open row valid from 0 (empty clusters yield an
    empty-but-typed table, so a from-nothing stream works)."""
    from ..operators.history import snapshot_history

    write_state_mor(
        {"history": snapshot_history(cluster_state["clusters"], 0)},
        history_dir,
        tables=HISTORY_STATE_TABLES,
        mode="overwrite",
        merge_keys=HISTORY_STATE_KEYS,
        bucket_keys={},
    )


def read_golden_state(spark: SparkSession, golden_dir: str) -> Dict[str, DataFrame]:
    """Resolved golden state: latest-wins per cluster_id, then tombstones
    (all-null aggregate rows appended for merged-away ids — and by G58
    forgets) filtered out. A forget's eq-delete ledger applies to the
    append-only mention ledger with the same sequence semantics as the
    cluster state's uniq (read_er_state)."""
    state = read_state(spark, golden_dir, tables=GOLDEN_STATE_TABLES)
    state["golden"] = state["golden"].where(F.col("n_members").isNotNull())
    if os.path.isdir(f"{golden_dir}/deletes"):
        raw = spark.read.parquet(f"{golden_dir}/men")
        dels = (
            spark.read.parquet(f"{golden_dir}/deletes")
            .groupBy("email")
            .agg(F.max("_epoch").alias("_del_epoch"))
        )
        state["men"] = (
            raw.join(F.broadcast(dels), "email", "left")
            .where(
                F.col("_del_epoch").isNull()
                | (F.col("_epoch") > F.col("_del_epoch"))
            )
            .drop("_del_epoch", "_epoch", "_b")
        )
    return state


def read_history_state(
    spark: SparkSession, history_dir: str
) -> Dict[str, DataFrame]:
    """Resolved SCD2 history with G58 erasure tombstones (all-null value
    rows per (email, valid_from)) filtered out after latest-wins
    resolution. On a forget-free dir the filter is a no-op."""
    state = read_state(spark, history_dir, tables=HISTORY_STATE_TABLES)
    state["history"] = state["history"].where(F.col("cluster_id").isNotNull())
    return state


def compact_golden_state(spark: SparkSession, golden_dir: str) -> None:
    """Rewrite the golden state's base with tombstones and the mention
    ledger's eq-deletes APPLIED, then drop the ledger — the erased
    mentions are physically gone from storage (erasure-SLA end state)."""
    import shutil

    write_state_mor(
        read_golden_state(spark, golden_dir),
        golden_dir,
        tables=GOLDEN_STATE_TABLES,
        mode="overwrite",
        merge_keys=GOLDEN_STATE_KEYS,
        bucket_keys=GOLDEN_BUCKET_KEYS,
    )
    shutil.rmtree(f"{golden_dir}/deletes", ignore_errors=True)


def compact_history_state(spark: SparkSession, history_dir: str) -> None:
    """Rewrite the SCD2 history base with erasure tombstones applied —
    the forgotten rows are physically removed."""
    write_state_mor(
        read_history_state(spark, history_dir),
        history_dir,
        tables=HISTORY_STATE_TABLES,
        mode="overwrite",
        merge_keys=HISTORY_STATE_KEYS,
        bucket_keys={},
    )


def _golden_tombstone_rows(upserts: DataFrame, tombstones: DataFrame) -> DataFrame:
    """Tombstone ids as all-null golden rows in the upsert frame's schema."""
    nulls = [
        F.lit(None).cast(f.dataType).alias(f.name)
        for f in upserts.schema.fields
        if f.name != "cluster_id"
    ]
    return tombstones.select("cluster_id", *nulls)


def streaming_cluster_maintenance(
    transcript_stream: DataFrame,
    state_dir: str,
    checkpoint_dir: str,
    compact_every: int = 0,
    golden_dir: str = None,
    history_dir: str = None,
    **fold_kwargs,
):
    """writeStream query folding each transcript micro-batch into
    `state_dir`. Returns the started StreamingQuery (availableNow trigger:
    drain what exists, then stop — swap for a processingTime trigger in a
    long-running deployment).

    Per-batch state I/O is BATCH-SIZED: only `fold_batch`'s update frames
    are appended (merge-on-read, module docstring). Crash-replay stays
    exactly-once: a replayed batch's already-folded emails drain through the
    new-email anti-join, so its appended updates are value-identical rows at
    a higher epoch — latest-wins resolution makes the replay a no-op.

    compact_every > 0 runs the measured compaction cadence inline: after a
    fold commits, `compact_if_needed` rewrites the base once that many
    epochs have accumulated (value-neutral — pinned by the cadence test).

    golden_dir != None co-maintains the G42 golden-record state: the
    survivorship fold (upserts for touched clusters, tombstones for
    merged-away ids, ledger append) runs off the same micro-batch and its
    batch-sized update frames are MATERIALIZED before either state dir is
    appended — the golden fold's lazy plans read the pre-write cluster
    state, so the write order can never feed a fold its own output. Replay
    safety composes the same way: a replayed batch drains through the
    mention-key anti-join, so its golden upserts are value-identical rows
    at a higher epoch.

    history_dir != None co-maintains the G43 SCD2 membership history off
    the cluster fold's batch-sized assignment DELTA (emails absent from the
    delta keep their rows — the property tests/test_history.py pins as
    delta == full view). The fold's epoch is the history dir's own next
    epoch, so a crash-replay that did not reach the history append re-folds
    at the SAME epoch and produces byte-identical rows, while a replay
    after a completed append drains to zero updates (re-fold no-op)."""

    def _fold(batch_df: DataFrame, batch_id: int) -> None:
        spark = batch_df.sparkSession
        # erasure-aware read (drop-in superset of read_state): folds compose
        # with G58 forgets — a forgotten email arriving in a later batch is
        # NEW again, and decremented dims enter the count merges directly
        state = read_er_state(spark, state_dir)
        new_mentions = None
        if golden_dir:
            from ..operators.extract import extract_mentions, with_canonical

            new_mentions = with_canonical(extract_mentions(batch_df))
        out = fold_batch(
            spark, batch_df, state, new_mentions=new_mentions, **fold_kwargs
        )
        g_updates = None
        if golden_dir:
            gout = fold_golden(
                spark,
                new_mentions,
                out["delta"],
                out["clusters"],
                state["clusters"],
                read_golden_state(spark, golden_dir),
            )
            # materialize the batch-sized golden updates BEFORE any append
            g_updates = {
                "men": gout["new_men"].localCheckpoint(),
                "golden": gout["golden_upserts"]
                .unionByName(
                    _golden_tombstone_rows(
                        gout["golden_upserts"], gout["golden_tombstones"]
                    )
                )
                .localCheckpoint(),
            }
        h_updates = None
        if history_dir:
            from ..operators.history import fold_history

            hist = read_history_state(spark, history_dir)
            hout = fold_history(
                hist["history"], out["delta"], _read_epoch(history_dir) + 1
            )
            h_updates = {"history": hout["updates"].localCheckpoint()}
        write_state_mor(out["updates"], state_dir)
        if g_updates is not None:
            write_state_mor(
                g_updates,
                golden_dir,
                tables=GOLDEN_STATE_TABLES,
                merge_keys=GOLDEN_STATE_KEYS,
                bucket_keys=GOLDEN_BUCKET_KEYS,
            )
        if h_updates is not None:
            write_state_mor(
                h_updates,
                history_dir,
                tables=HISTORY_STATE_TABLES,
                merge_keys=HISTORY_STATE_KEYS,
                bucket_keys={},
            )
        if compact_every:
            compact_if_needed(spark, state_dir, every_k_epochs=compact_every)

    return (
        transcript_stream.writeStream.foreachBatch(_fold)
        .option("checkpointLocation", checkpoint_dir)
        .trigger(availableNow=True)
        .start()
    )


def bootstrap_dedup_state(
    spark: SparkSession,
    docs: DataFrame,
    state_dir: str,
    **fold_kwargs,
) -> None:
    write_state_mor(
        build_dedup_state(spark, docs, **fold_kwargs),
        state_dir,
        tables=DEDUP_STATE_TABLES,
        mode="overwrite",
        merge_keys=DEDUP_STATE_KEYS,
        bucket_keys=DEDUP_BUCKET_KEYS,
    )


def streaming_dedup_maintenance(
    doc_stream: DataFrame,
    state_dir: str,
    checkpoint_dir: str,
    **fold_kwargs,
):
    """G26's fold as a foreachBatch consumer: each document micro-batch is
    deduplicated against the persisted keep-best state and folded in — same
    exactly-once composition (checkpoint replay × re-fold idempotency) and
    same batch-sized merge-on-read state writes as
    `streaming_cluster_maintenance`: bands/grams/meta append the batch's
    rows, clusters appends latest-wins rows for touched ids only."""

    def _fold(batch_df: DataFrame, batch_id: int) -> None:
        spark = batch_df.sparkSession
        out = fold_docs(
            spark,
            batch_df,
            read_state(
                spark, state_dir,
                tables=DEDUP_STATE_TABLES, merge_keys=DEDUP_STATE_KEYS,
            ),
            **fold_kwargs,
        )
        write_state_mor(
            out["updates"],
            state_dir,
            tables=DEDUP_STATE_TABLES,
            merge_keys=DEDUP_STATE_KEYS,
            bucket_keys=DEDUP_BUCKET_KEYS,
        )

    return (
        doc_stream.writeStream.foreachBatch(_fold)
        .option("checkpointLocation", checkpoint_dir)
        .trigger(availableNow=True)
        .start()
    )
