"""Merge-on-read state-store contract (streaming/incremental_stream.py).

The round-4 claim under test: **fold writes are batch-sized**, proven on
disk rather than by reference to prod Iceberg MERGE. Three properties:

  1. a fold APPENDS — every base file survives byte-identical, and the rows
     added per table equal the fold's update-frame sizes (O(batch)), never
     the corpus;
  2. latest-epoch-wins resolution (`read_state`) reconstructs the fold's
     full-view state exactly;
  3. `compact_state` preserves the resolved view while resetting the layout
     to a single epoch-0 base (read-amplification maintenance).
"""

from __future__ import annotations

from pathlib import Path

import pytest
from pyspark.sql import functions as F

from email_address_parser_spark.operators.extract import extract_mentions, with_canonical
from email_address_parser_spark.operators.incremental import (
    STATE_TABLES,
    build_incremental_state,
    fold_batch,
)
from email_address_parser_spark.streaming.incremental_stream import (
    DEDUP_BUCKET_KEYS,
    DEDUP_STATE_KEYS,
    _read_meta,
    compact_state,
    read_state,
    write_state_mor,
)
from tests.synth import synthesize

FOLD_KW = dict(hot_threshold=1 << 40, target_block_size=5_000)


def _snapshot(state_dir: str, table: str) -> dict:
    """{relative file name: (size, mtime_ns)} — identity of on-disk files."""
    root = Path(state_dir) / table
    return {
        str(p.relative_to(root)): (p.stat().st_size, p.stat().st_mtime_ns)
        for p in root.rglob("*.parquet")
    }


@pytest.fixture(scope="module")
def corpus(spark):
    c = synthesize(n_convs=120, turns_per_conv=6, n_entities=30, seed=21)
    df = spark.createDataFrame(c.transcripts)
    is_prev = F.pmod(F.xxhash64("conv_id"), F.lit(4)) != 0
    return df.where(is_prev).persist(), df.where(~is_prev).persist()


def test_fold_append_is_batch_sized_and_resolves_exactly(spark, corpus, tmp_path):
    prev_t, new_t = corpus
    state_dir = str(tmp_path / "state")
    write_state_mor(
        build_incremental_state(spark, prev_t, **FOLD_KW),
        state_dir,
        mode="overwrite",
    )
    before = {t: _snapshot(state_dir, t) for t in STATE_TABLES}
    base_counts = {
        t: spark.read.parquet(f"{state_dir}/{t}").count() for t in STATE_TABLES
    }

    out = fold_batch(spark, new_t, read_state(spark, state_dir), **FOLD_KW)
    update_counts = {t: out["updates"][t].count() for t in STATE_TABLES}
    full_view = {
        (r["email"], r["cluster_id"]) for r in out["clusters"].collect()
    }
    write_state_mor(out["updates"], state_dir)

    for t in STATE_TABLES:
        after = _snapshot(state_dir, t)
        # property 1a: pure append — every base file intact
        assert set(before[t]) <= set(after)
        assert all(after[f] == sig for f, sig in before[t].items())
        # property 1b: appended rows == the fold's update frame (batch-sized)
        raw = spark.read.parquet(f"{state_dir}/{t}").count()
        assert raw - base_counts[t] == update_counts[t]
    # the batch really is small relative to the corpus (non-vacuous bound)
    assert update_counts["clusters"] < base_counts["clusters"]

    # property 2: latest-wins resolution == the fold's full view
    got = {
        (r["email"], r["cluster_id"])
        for r in read_state(spark, state_dir)["clusters"].collect()
    }
    assert got == full_view

    # property 3: compaction preserves the view at a single epoch-0 base
    compact_state(spark, state_dir)
    assert _read_meta(state_dir)["epoch"] == 0
    compacted = read_state(spark, state_dir)
    assert {
        (r["email"], r["cluster_id"]) for r in compacted["clusters"].collect()
    } == full_view
    # compacted tables carry no stale versions: raw row count == resolved
    for t in STATE_TABLES:
        raw = spark.read.parquet(f"{state_dir}/{t}").count()
        assert raw == compacted[t].count()


def test_dedup_fold_mor_roundtrip(spark, tmp_path):
    """G26 state through the same MoR layer with its own merge keys: append
    is batch-sized, resolution equals the fold's full clusters view."""
    from email_address_parser_spark.operators.incremental_dedup import (
        DEDUP_STATE_TABLES,
        build_dedup_state,
        fold_docs,
    )

    docs = [
        (i, f"alpha beta gamma delta epsilon zeta{i % 7} eta theta " * 3)
        for i in range(40)
    ]
    df = spark.createDataFrame(docs, "doc_id long, text string")
    prev, batch = df.where("doc_id < 30"), df.where("doc_id >= 30")
    state_dir = str(tmp_path / "dstate")
    write_state_mor(
        build_dedup_state(spark, prev),
        state_dir,
        tables=DEDUP_STATE_TABLES,
        mode="overwrite",
        merge_keys=DEDUP_STATE_KEYS,
        bucket_keys=DEDUP_BUCKET_KEYS,
    )
    before = {t: _snapshot(state_dir, t) for t in DEDUP_STATE_TABLES}
    out = fold_docs(
        spark,
        batch,
        read_state(
            spark, state_dir, tables=DEDUP_STATE_TABLES, merge_keys=DEDUP_STATE_KEYS
        ),
    )
    def _rows(df):
        # compare by NAME: join keys migrate to the front of column lists,
        # so positional tuples differ between the lazy view and the re-read
        return {
            (r["id"], r["cluster_id"], r["quality_score"], r["is_kept"])
            for r in df.collect()
        }

    update_counts = {t: out["updates"][t].count() for t in DEDUP_STATE_TABLES}
    full_view = _rows(out["clusters"])
    write_state_mor(
        out["updates"],
        state_dir,
        tables=DEDUP_STATE_TABLES,
        merge_keys=DEDUP_STATE_KEYS,
        bucket_keys=DEDUP_BUCKET_KEYS,
    )
    for t in DEDUP_STATE_TABLES:
        after = _snapshot(state_dir, t)
        assert set(before[t]) <= set(after)
        assert all(after[f] == sig for f, sig in before[t].items())
    resolved = read_state(
        spark, state_dir, tables=DEDUP_STATE_TABLES, merge_keys=DEDUP_STATE_KEYS
    )
    assert _rows(resolved["clusters"]) == full_view
    # meta is append-only: appended rows == the batch's genuinely-new docs
    raw_meta = spark.read.parquet(f"{state_dir}/meta").count()
    assert raw_meta == 30 + update_counts["meta"]
