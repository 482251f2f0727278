"""Structured Streaming: streamed mention extraction must agree with batch,
and watermarked windows must aggregate event-time correctly."""

from __future__ import annotations

import datetime

from pyspark.sql import Row
from pyspark.sql import functions as F


def _write_transcripts(spark, path):
    ts0 = datetime.datetime(2026, 1, 1, 10, 0, 0)
    rows = [
        Row(conv_id="c1", turn_idx=0, role="user",
            text="mail me at alice@example.com please", tool=None, ts=ts0),
        Row(conv_id="c1", turn_idx=1, role="agent",
            text="cc <bob@other.org> and <\"q uote\"@example.com>", tool=None,
            ts=ts0 + datetime.timedelta(minutes=30)),
        Row(conv_id="c2", turn_idx=0, role="user",
            text="no address here", tool=None,
            ts=ts0 + datetime.timedelta(hours=2)),
        Row(conv_id="c2", turn_idx=1, role="user",
            text="late alice@example.com again", tool=None,
            ts=ts0 + datetime.timedelta(hours=2, minutes=10)),
    ]
    from email_address_parser_spark.streaming.extract_stream import TRANSCRIPTS_SCHEMA

    df = spark.createDataFrame(rows, schema=TRANSCRIPTS_SCHEMA)
    # two files so the stream sees >1 micro-batch with maxFilesPerTrigger=1
    df.where(F.col("conv_id") == "c1").coalesce(1).write.mode("overwrite").parquet(f"{path}/p1")
    df.where(F.col("conv_id") == "c2").coalesce(1).write.mode("append").parquet(f"{path}/p1")
    return df


def test_stream_matches_batch(spark, tmp_path):
    from email_address_parser_spark.operators.extract import extract_mentions, with_canonical
    from email_address_parser_spark.streaming.extract_stream import (
        read_transcript_stream,
        run_once_to_memory,
        stream_mentions,
    )

    batch_df = _write_transcripts(spark, tmp_path)
    stream = read_transcript_stream(spark, f"{tmp_path}/p1", max_files_per_trigger=1)
    run_once_to_memory(stream_mentions(stream), "mentions_stream")
    got = spark.sql(
        "SELECT conv_id, turn_idx, mention_idx, raw, email FROM mentions_stream"
    ).collect()
    want = with_canonical(extract_mentions(batch_df)).select(
        "conv_id", "turn_idx", "mention_idx", "raw", "email"
    ).collect()
    assert sorted(map(tuple, got)) == sorted(map(tuple, want))
    assert len(got) == 4  # 3 valid + 0 from c2t0 + 1 late


def test_windowed_domain_counts(spark, tmp_path):
    from email_address_parser_spark.streaming.extract_stream import (
        read_transcript_stream,
        run_once_to_memory,
        stream_mentions,
        windowed_domain_counts,
    )

    _write_transcripts(spark, tmp_path)
    stream = read_transcript_stream(spark, f"{tmp_path}/p1")
    windowed = windowed_domain_counts(stream_mentions(stream), window="1 hour")
    # complete mode: append would emit only watermark-finalized windows, and
    # the test corpus's max event time never advances past its own windows
    run_once_to_memory(windowed, "windowed_counts", output_mode="complete")
    rows = spark.sql(
        "SELECT window_start, domain_canon, n_mentions FROM windowed_counts"
    ).collect()
    by_key = {(r.window_start.hour, r.domain_canon): r.n_mentions for r in rows}
    # 10:00 window: alice@example.com, "q uote"@example.com, bob@other.org
    assert by_key[(10, "example.com")] == 2
    assert by_key[(10, "other.org")] == 1
    # 12:00 window: the late alice mention
    assert by_key[(12, "example.com")] == 1


def test_conversation_state_counts(spark, tmp_path):
    from email_address_parser_spark.streaming.extract_stream import (
        conversation_state_counts,
        read_transcript_stream,
        run_once_to_memory,
        stream_mentions,
    )

    _write_transcripts(spark, tmp_path)
    stream = read_transcript_stream(spark, f"{tmp_path}/p1")
    stateful = conversation_state_counts(stream_mentions(stream))
    run_once_to_memory(stateful, "conv_state", output_mode="update")
    rows = spark.sql(
        "SELECT conv_id, n_mentions, n_valid, n_distinct_domains FROM conv_state"
    ).collect()
    # update mode: keep the LAST emitted row per conversation
    final = {}
    for r in rows:
        final[r.conv_id] = r
    # c1: alice + bob + quoted (all valid, 2 domains); c2: late alice only
    assert final["c1"].n_mentions == 3
    assert final["c1"].n_valid == 3
    assert final["c1"].n_distinct_domains == 2
    assert final["c2"].n_valid == 1


def test_streaming_exact_dedup(spark, tmp_path):
    """The watermarked streaming dedup emits each fingerprint exactly once
    across micro-batches, matching the batch exact_dedup canonical set."""
    import datetime

    from pyspark.sql import Row

    from email_address_parser_spark.operators.dedup import exact_dedup
    from email_address_parser_spark.streaming.extract_stream import (
        streaming_exact_dedup,
    )

    t0 = datetime.datetime(2026, 1, 1)
    rows = [
        Row(doc_id=1, text="alpha beta gamma", ts=t0),
        Row(doc_id=2, text="  ALPHA beta   gamma ", ts=t0),  # dup of 1
        Row(doc_id=3, text="something else", ts=t0),
        Row(doc_id=4, text="alpha beta gamma", ts=t0),       # dup of 1
        Row(doc_id=5, text="fifth document", ts=t0),
    ]
    src = tmp_path / "docs_in"
    # two separate files → at least two micro-batches with maxFilesPerTrigger=1
    spark.createDataFrame(rows[:3]).write.mode("overwrite").parquet(str(src / "a"))
    spark.createDataFrame(rows[3:]).write.mode("append").parquet(str(src / "a"))
    stream = (
        spark.readStream.schema("doc_id bigint, text string, ts timestamp")
        .option("maxFilesPerTrigger", 1)
        .parquet(str(src / "a"))
    )
    out = tmp_path / "dedup_out"
    q = (
        streaming_exact_dedup(stream)
        .writeStream.format("parquet")
        .option("path", str(out))
        .option("checkpointLocation", str(tmp_path / "ckpt"))
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    got = spark.read.parquet(str(out))
    fps = [r.fp_md5 for r in got.collect()]
    assert len(fps) == len(set(fps))  # each fingerprint exactly once
    batch = exact_dedup(spark.createDataFrame(rows))
    batch_fps = {r.fp_md5 for r in batch.collect()}
    assert set(fps) == batch_fps  # same fingerprint universe as batch dedup


def test_streaming_cluster_maintenance_matches_batch(spark, tmp_path):
    """The G24 fold as a foreachBatch consumer: stream a synthesized corpus
    in 3 single-file micro-batches into an EMPTY bootstrap state; the final
    persisted clustering equals the batch collapsed chain over the whole
    corpus (salting active), and a second drain of the same stream from a
    fresh checkpoint is a no-op (replay idempotency)."""
    from email_address_parser_spark.operators.extract import (
        extract_mentions,
        with_canonical,
    )
    from email_address_parser_spark.pipeline import resolve
    from email_address_parser_spark.streaming.extract_stream import (
        read_transcript_stream,
    )
    from email_address_parser_spark.streaming.incremental_stream import (
        bootstrap_state,
        read_state,
        streaming_cluster_maintenance,
    )
    from email_address_parser_spark.synth import synthesize

    corpus = synthesize(n_convs=90, turns_per_conv=6, n_entities=25, seed=13)
    df = spark.createDataFrame(corpus.transcripts)
    land = f"{tmp_path}/landing"
    h = F.pmod(F.xxhash64("conv_id"), F.lit(3))
    for k in range(3):
        df.where(h == k).coalesce(1).write.mode("append").parquet(land)

    fold_kwargs = dict(hot_threshold=25, target_block_size=16)
    state_dir = f"{tmp_path}/state"
    bootstrap_state(spark, df.limit(0), state_dir, **fold_kwargs)
    # compact_every=2: the 3 micro-batches cross the cadence once mid-stream,
    # so the parity assertion below also pins that inline compaction is
    # value-neutral for the resolved state
    q = streaming_cluster_maintenance(
        read_transcript_stream(spark, land, max_files_per_trigger=1),
        state_dir,
        f"{tmp_path}/ckpt",
        compact_every=2,
        **fold_kwargs,
    )
    q.awaitTermination()

    full = resolve(with_canonical(extract_mentions(df)), **fold_kwargs)["clusters"]
    got = {
        (r["email"], r["cluster_id"])
        for r in read_state(spark, state_dir)["clusters"].collect()
    }
    want = {(r["email"], r["cluster_id"]) for r in full.collect()}
    assert got == want

    # replay idempotency: drain the same landing zone from a NEW checkpoint
    q2 = streaming_cluster_maintenance(
        read_transcript_stream(spark, land, max_files_per_trigger=8),
        state_dir,
        f"{tmp_path}/ckpt2",
        **fold_kwargs,
    )
    q2.awaitTermination()
    again = {
        (r["email"], r["cluster_id"])
        for r in read_state(spark, state_dir)["clusters"].collect()
    }
    assert again == want


def test_streaming_dedup_maintenance_matches_batch(spark, tmp_path):
    """G26's fold as a foreachBatch consumer: stream documents in 2
    single-file micro-batches into an empty bootstrap; the persisted
    keep-best clustering equals the batch path over the whole corpus."""
    from email_address_parser_spark.operators.dedup import dedup_keep_best
    from email_address_parser_spark.operators.incremental_dedup import (
        DEDUP_STATE_TABLES,
    )
    from email_address_parser_spark.streaming.incremental_stream import (
        bootstrap_dedup_state,
        read_state,
        streaming_dedup_maintenance,
    )
    from tests.test_incremental_dedup import _corpus

    docs = _corpus(spark, n_groups=14, seed=21)
    land = f"{tmp_path}/docs_landing"
    h = F.pmod(F.xxhash64("doc_id"), F.lit(2))
    for k in range(2):
        docs.where(h == k).coalesce(1).write.mode("append").parquet(land)

    kw = dict(threshold=0.2, max_bucket=64)
    state_dir = f"{tmp_path}/dedup_state"
    bootstrap_dedup_state(spark, docs.limit(0), state_dir, **kw)
    stream = (
        spark.readStream.schema("doc_id string, text string")
        .option("maxFilesPerTrigger", 1)
        .parquet(land)
    )
    q = streaming_dedup_maintenance(stream, state_dir, f"{tmp_path}/dckpt", **kw)
    q.awaitTermination()

    got = {
        (r["id"], r["cluster_id"], r["is_kept"])
        for r in read_state(spark, state_dir, tables=DEDUP_STATE_TABLES)[
            "clusters"
        ].collect()
    }
    want = {
        (r["doc_id"], r["cluster_id"], r["is_kept"])
        for r in dedup_keep_best(docs, use_lsh=True, **kw).collect()
    }
    assert got == want


def test_streaming_sessions_match_batch(spark, tmp_path):
    """G32 streaming twin: built-in session_window + watermark must produce
    the same sessions (key, start, last-event ts, count, value sum) as the
    batch sessionize/session_stats rollup on the same events."""
    from email_address_parser_spark.operators.sessions import session_stats
    from email_address_parser_spark.streaming.extract_stream import run_once_to_memory
    from email_address_parser_spark.streaming.sessions_stream import streaming_sessions

    ts0 = datetime.datetime(2024, 1, 1, 0, 0, 0)
    rows = []
    eid = 0
    # user 1: two sessions (events 10 min apart, then a 3 h hole);
    # user 2: one long session crossing what would be user 1's hole
    for u, offsets_min in ((1, (0, 10, 20, 200, 215)), (2, (5, 45, 90, 130))):
        for m in offsets_min:
            rows.append(Row(event_id=eid, user_id=u,
                            ts=ts0 + datetime.timedelta(minutes=m), value=1.5))
            eid += 1
    df = spark.createDataFrame(rows)
    src = f"{tmp_path}/events_in"
    df.where("user_id = 1").coalesce(1).write.mode("overwrite").parquet(src)
    df.where("user_id = 2").coalesce(1).write.mode("append").parquet(src)

    stream = (
        spark.readStream.schema(df.schema).option("maxFilesPerTrigger", 1).parquet(src)
    )
    out = streaming_sessions(stream, gap="1 hour", watermark="2 hours")
    run_once_to_memory(out, "sessions_stream", output_mode="complete")
    got = {
        (r.user_id, r.session_start, r.session_last_ts, r.n_events, r.sum_value_e4)
        for r in spark.sql("SELECT * FROM sessions_stream").collect()
    }

    batch = session_stats(df, gap_s=3600).collect()
    want = {
        (
            r.user_id,
            datetime.datetime.utcfromtimestamp(r.start_us / 1e6),
            datetime.datetime.utcfromtimestamp(r.end_us / 1e6),
            r.n_events,
            r.sum_value_e4,
        )
        for r in batch
    }
    assert got == want
    assert len(got) == 3


def test_streaming_golden_comaintenance_matches_batch(spark, tmp_path):
    """G42 as a foreachBatch co-consumer: stream a corpus in 3 micro-batches
    with golden_dir set; the persisted golden state (latest-wins + tombstone
    filter) equals `golden_records` over the full corpus and the streamed
    final clustering, and a replay drain leaves it unchanged."""
    from email_address_parser_spark.operators.extract import (
        extract_mentions,
        with_canonical,
    )
    from email_address_parser_spark.operators.survivorship import golden_records
    from email_address_parser_spark.streaming.extract_stream import (
        read_transcript_stream,
    )
    from email_address_parser_spark.streaming.incremental_stream import (
        bootstrap_golden_state,
        bootstrap_state,
        read_golden_state,
        read_state,
        streaming_cluster_maintenance,
    )
    from email_address_parser_spark.synth import synthesize

    corpus = synthesize(n_convs=60, turns_per_conv=5, n_entities=18, seed=29)
    df = spark.createDataFrame(corpus.transcripts)
    land = f"{tmp_path}/landing"
    h = F.pmod(F.xxhash64("conv_id"), F.lit(3))
    for k in range(3):
        df.where(h == k).coalesce(1).write.mode("append").parquet(land)

    fold_kwargs = dict(hot_threshold=25, target_block_size=16)
    state_dir, golden_dir = f"{tmp_path}/state", f"{tmp_path}/golden"
    bootstrap_state(spark, df.limit(0), state_dir, **fold_kwargs)
    bootstrap_golden_state(
        spark, df.limit(0), read_state(spark, state_dir), golden_dir
    )
    q = streaming_cluster_maintenance(
        read_transcript_stream(spark, land, max_files_per_trigger=1),
        state_dir,
        f"{tmp_path}/ckpt",
        golden_dir=golden_dir,
        **fold_kwargs,
    )
    q.awaitTermination()

    clusters = read_state(spark, state_dir)["clusters"]
    want = {
        tuple(r) for r in golden_records(
            with_canonical(extract_mentions(df)), clusters
        ).collect()
    }
    gstate = read_golden_state(spark, golden_dir)
    got = {tuple(r) for r in gstate["golden"].collect()}
    assert got == want
    # the ledger holds each valid mention exactly once
    men = gstate["men"]
    assert men.count() == men.dropDuplicates(
        ["conv_id", "turn_idx", "mention_idx"]
    ).count()

    # replay: drain the same landing zone from a NEW checkpoint — the
    # mention-key anti-join makes the golden fold value-idempotent
    q2 = streaming_cluster_maintenance(
        read_transcript_stream(spark, land, max_files_per_trigger=8),
        state_dir,
        f"{tmp_path}/ckpt2",
        golden_dir=golden_dir,
        **fold_kwargs,
    )
    q2.awaitTermination()
    again = {
        tuple(r)
        for r in read_golden_state(spark, golden_dir)["golden"].collect()
    }
    assert again == want


def test_streaming_history_comaintenance(spark, tmp_path):
    """G43 as a foreachBatch co-consumer: stream a corpus in 3 micro-batches
    with history_dir set. The resolved SCD2 table must (a) carry exactly one
    open row per email whose assignment equals the final streamed
    clustering, (b) satisfy the SCD2 interval invariants, and (c) survive a
    full replay drain unchanged."""
    from email_address_parser_spark.streaming.extract_stream import (
        read_transcript_stream,
    )
    from email_address_parser_spark.streaming.incremental_stream import (
        HISTORY_STATE_TABLES,
        bootstrap_history_state,
        bootstrap_state,
        read_state,
        streaming_cluster_maintenance,
    )
    from email_address_parser_spark.synth import synthesize

    corpus = synthesize(n_convs=60, turns_per_conv=5, n_entities=18, seed=31)
    df = spark.createDataFrame(corpus.transcripts)
    land = f"{tmp_path}/landing"
    h = F.pmod(F.xxhash64("conv_id"), F.lit(3))
    for k in range(3):
        df.where(h == k).coalesce(1).write.mode("append").parquet(land)

    fold_kwargs = dict(hot_threshold=25, target_block_size=16)
    state_dir, history_dir = f"{tmp_path}/state", f"{tmp_path}/history"
    bootstrap_state(spark, df.limit(0), state_dir, **fold_kwargs)
    bootstrap_history_state(spark, read_state(spark, state_dir), history_dir)
    q = streaming_cluster_maintenance(
        read_transcript_stream(spark, land, max_files_per_trigger=1),
        state_dir,
        f"{tmp_path}/ckpt",
        history_dir=history_dir,
        **fold_kwargs,
    )
    q.awaitTermination()

    hist = read_state(spark, history_dir, tables=HISTORY_STATE_TABLES)[
        "history"
    ].collect()
    opens = {r.email: r for r in hist if r.is_current}
    clusters = {
        (r.email, r.cluster_id)
        for r in read_state(spark, state_dir)["clusters"].collect()
    }
    # (a) one open row per email, matching the final clustering
    assert {(e, r.cluster_id) for e, r in opens.items()} == clusters
    assert all(r.valid_to is None for r in opens.values())
    # (b) SCD2 invariants per email: closed intervals are disjoint, ordered,
    # and each closure's valid_to equals its successor's valid_from
    by_email = {}
    for r in hist:
        by_email.setdefault(r.email, []).append(r)
    for email, rows in by_email.items():
        rows.sort(key=lambda r: r.valid_from)
        assert sum(1 for r in rows if r.is_current) == 1
        assert rows[-1].is_current
        for a, b in zip(rows, rows[1:]):
            assert not a.is_current and a.valid_to == b.valid_from
            assert a.cluster_id != b.cluster_id or a.valid_to != a.valid_from

    # (c) replay drain from a fresh checkpoint: re-folds are no-ops
    q2 = streaming_cluster_maintenance(
        read_transcript_stream(spark, land, max_files_per_trigger=8),
        state_dir,
        f"{tmp_path}/ckpt2",
        history_dir=history_dir,
        **fold_kwargs,
    )
    q2.awaitTermination()
    again = read_state(spark, history_dir, tables=HISTORY_STATE_TABLES)[
        "history"
    ].collect()
    assert {tuple(r) for r in again} == {tuple(r) for r in hist}
