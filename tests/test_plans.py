"""Physical-plan shape tests (email_address_parser_spark.plans helpers).

Results matching is not enough at 100 TB — these tests fail when a plan
regression reintroduces a shuffle or drops a partial top-k, even if the rows
still match at test scale."""

from __future__ import annotations

from pyspark.sql import Row

SF_DIR = "/root/testdata/sf0.001"


def _emb(spark):
    from email_address_parser_spark.sources.testdata import load_table

    return load_table(spark, SF_DIR, "embeddings")


def test_brute_force_topk_has_partial_window_group_limit(spark):
    """row_number() <= k must plan a per-partition WindowGroupLimit(Partial)
    BELOW the exchange (SPARK-37099): the shuffle carries ~k rows per
    (partition, query) instead of the full |corpus| x |queries| product."""
    from email_address_parser_spark.operators.similarity import brute_force_topk
    from email_address_parser_spark.plans import has_partial_window_group_limit

    df = brute_force_topk(_emb(spark), list(range(4)), k=5)
    df.write.format("noop").mode("overwrite").save()  # finalize AQE plan
    assert has_partial_window_group_limit(df)


def test_ivf_corpus_side_has_no_shuffle(spark):
    """The IVF cell assignment is a literal-quantizer HOF argmax: between the
    corpus parquet scan and the cell equi-join there must be NO shuffle
    Exchange (the round-1 crossJoin+window formulation shuffled the corpus
    x n_centroids — VERDICT.md 'What's wrong' #4)."""
    from email_address_parser_spark.operators.similarity import ivf_topk
    from email_address_parser_spark.plans import explain_str

    df = ivf_topk(_emb(spark), list(range(4)), k=5, n_centroids=8, n_probe=2)
    plan = explain_str(df, "simple")
    lines = plan.splitlines()
    join_ix = next(
        i for i, l in enumerate(lines) if "BroadcastHashJoin" in l and "cell" in l
    )
    # the corpus branch is the ':-' side of the join, ending where the
    # broadcast (query) side starts
    for line in lines[join_ix + 1 :]:
        if "BroadcastExchange" in line:
            break
        assert "Exchange hashpartitioning" not in line, plan


def test_media_metadata_scan_prunes_payload_readschema(spark, tmp_path):
    from email_address_parser_spark.operators.multimodal import (
        attach_image_payload,
        media_metadata,
    )
    from email_address_parser_spark.plans import scan_read_schema

    docs = spark.createDataFrame([Row(doc_id=1, text="prune me")])
    path = str(tmp_path / "media")
    attach_image_payload(docs).write.mode("overwrite").parquet(path)
    cols = scan_read_schema(media_metadata(spark.read.parquet(path)))
    assert cols and "payload" not in cols


def test_q1_scan_prunes_and_pushes_filter(spark):
    """TPC-H Q1 shape: the lineitem scan must read only the referenced
    columns and push the shipdate filter into the scan."""
    import __spark_entry__ as entry

    from email_address_parser_spark.plans import explain_str, scan_read_schema

    df = entry.queries()["q1_pricing_summary"](spark, SF_DIR)
    cols = scan_read_schema(df)
    assert set(cols) <= {
        "l_returnflag", "l_linestatus", "l_quantity", "l_extendedprice",
        "l_discount", "l_shipdate",
    }
    assert "PushedFilters: [IsNotNull(l_shipdate), LessThanOrEqual(l_shipdate" in explain_str(
        df, "formatted"
    )


def test_minhash_near_dup_single_signature_pass(spark):
    """The banded-minhash candidate stage must evaluate the signature UDF
    exactly once over the corpus (groupBy + HOF pair explosion): Spark
    cannot reuse exchanges across pandas-UDF subtrees, so a bucket
    self-join would silently double the most expensive pass at 100 TB."""
    from email_address_parser_spark.operators.dedup import minhash_near_dup
    from email_address_parser_spark.plans import executed_plan
    from email_address_parser_spark.sources.testdata import load_table

    df = minhash_near_dup(load_table(spark, SF_DIR, "documents"), threshold=0.2)
    df.write.format("noop").mode("overwrite").save()
    plan = executed_plan(df)
    assert plan.count("ArrowEvalPython") == 1, plan


def test_pack_sequences_sharded_window_and_invariance(spark):
    """Hierarchical packing (VERDICT item 4): the running-sum window must
    partition by (source, shard) — >1 task per source — and the shard width
    must not change cum_before/bin_id (floor-division shards are contiguous
    in the order column, so sharded == unsharded)."""
    from pyspark.sql import Row

    from email_address_parser_spark.operators.sampling import pack_sequences
    from email_address_parser_spark.plans import explain_str

    docs = spark.createDataFrame(
        [Row(doc_id=i, source="s0", n_tokens=100 + i) for i in range(64)]
        + [Row(doc_id=i, source="s1", n_tokens=50 + i) for i in range(64)]
    )
    sharded = pack_sequences(docs, "n_tokens", budget=512, shard_width=8)
    plan = explain_str(sharded, "simple")
    assert "hashpartitioning(source" in plan and "_shard" in plan, plan
    wide = pack_sequences(docs, "n_tokens", budget=512, shard_width=1 << 30)
    cols = ["doc_id", "source", "n_tokens", "cum_before", "bin_id"]
    got = sorted(map(tuple, sharded.select(*cols).collect()))
    want = sorted(map(tuple, wide.select(*cols).collect()))
    assert got == want
    # one source spreads over 64/8 = 8 shard groups -> 8-way parallel sort
    n_shards = sharded.where("source = 's0'").select("cum_before").count()
    assert n_shards == 64


def test_kmv_sketch_two_level_and_invariance(spark):
    """Mergeable KMV (VERDICT item 3): level 1 aggregates on (grp, salt) so
    no buffer ever holds a full group's distinct hash set; the salt/partial
    count must not change the k minima (min-merge is exact)."""
    from pyspark.sql import Row

    from email_address_parser_spark.operators.sampling import kmv_sketch
    from email_address_parser_spark.plans import explain_str

    rows = [
        Row(grp="g0", v=f"val{i}") for i in range(500)
    ] + [Row(grp="g1", v=f"val{i % 7}") for i in range(100)]
    df = spark.createDataFrame(rows)
    sketch = kmv_sketch(df, "grp", "v", k=16, n_partials=8)
    plan = explain_str(sketch, "simple")
    assert "_salt" in plan, plan
    got = sorted(map(tuple, sketch.collect()))
    other = sorted(
        map(tuple, kmv_sketch(df, "grp", "v", k=16, n_partials=3).collect())
    )
    assert got == other
    by_grp = {r[0]: r for r in got}
    assert by_grp["g1"][1] == 7 and by_grp["g1"][2] == 7.0  # exact below k
    assert by_grp["g0"][1] == 500


def test_candidate_pairs_no_dedup_above_union(spark):
    """Round-3 disjoint channels: the candidate-pair plan must have NO
    deduplicating aggregate (and no exchange) downstream of the channel
    Union — the full-pair-set dropDuplicates was the widest shuffle in
    er_pairs_scored and its removal is only safe while the channels stay
    disjoint (tests/test_blocking_channels.py proves the set equality;
    this pins the plan)."""
    from email_address_parser_spark.operators.blocking import candidate_pairs
    from email_address_parser_spark.operators.extract import (
        extract_mentions,
        with_canonical,
    )
    from email_address_parser_spark.plans import explain_str
    from email_address_parser_spark.sources.testdata import derive_transcripts

    mentions = with_canonical(extract_mentions(derive_transcripts(spark, SF_DIR)))
    df = candidate_pairs(mentions, hot_threshold=5, target_block_size=2)
    plan = explain_str(df, "simple")
    for line in plan.splitlines():
        if "Union" in line:
            break
        assert "HashAggregate" not in line and not (
            "Exchange" in line and "BroadcastExchange" not in line
        ), f"dedup/shuffle above the channel Union:\n{plan}"
    else:
        raise AssertionError(f"no Union in candidate_pairs plan:\n{plan}")


def test_blocking_channels_read_one_persisted_dim(spark):
    """All four channels read the ONE persisted blocked dim: the
    candidate_pairs plan scans the cache once per self-join side of each
    channel (block, local_lsh, xd_local, xd_email: 2 each). A channel that
    re-derived the dim instead of reading it would drop the count."""
    from email_address_parser_spark.operators.blocking import candidate_pairs
    from email_address_parser_spark.operators.extract import (
        extract_mentions,
        with_canonical,
    )
    from email_address_parser_spark.plans import explain_str
    from email_address_parser_spark.sources.testdata import derive_transcripts

    mentions = with_canonical(extract_mentions(derive_transcripts(spark, SF_DIR)))
    plan = explain_str(candidate_pairs(mentions, hot_threshold=5, target_block_size=2), "simple")
    assert sum("InMemoryTableScan" in line for line in plan.splitlines()) == 8, plan


def _unwrap(plan):
    return plan.inputPlan() if plan.nodeName() == "AdaptiveSparkPlan" else plan


def _physical(df):
    """The physical plan root before AQE re-planning. InMemoryTableScan is a
    leaf of it: a cached frame's own plan hangs off the scan's relation."""
    return _unwrap(df._jdf.queryExecution().executedPlan())


def _children(node) -> list:
    ch = node.children()
    return [ch.apply(i) for i in range(ch.size())]


def _nodes(node):
    yield node
    for child in _children(node):
        yield from _nodes(child)


def _describe(node) -> str:
    return node.simpleString(10_000)


def test_minhash_udfs_run_only_inside_the_cached_dim(spark):
    """The band signatures ride the persisted blocked dim: outside the cache
    the production pairs plan evaluates no MinHash UDF, and the dim's own
    cached plan evaluates each signature kind exactly once."""
    from email_address_parser_spark.operators.extract import (
        extract_mentions,
        with_canonical,
    )
    from email_address_parser_spark.pipeline import resolve
    from email_address_parser_spark.sources.testdata import derive_transcripts

    mentions = with_canonical(extract_mentions(derive_transcripts(spark, SF_DIR)))
    chain = resolve(mentions)
    nodes = list(_nodes(_physical(chain["pairs"])))
    assert not [n for n in nodes if "minhash" in _describe(n)]
    cached = {
        n.relation().cachedPlan().toString(): _unwrap(n.relation().cachedPlan())
        for n in nodes
        if n.nodeName() == "InMemoryTableScan"
    }
    dims = [p for p in cached.values() if "band_sigs" in p.toString()]
    assert len(dims) == 1, list(cached)
    udfs = [
        _describe(n)
        for n in _nodes(dims[0])
        if n.nodeName() == "ArrowEvalPython" and "minhash" in _describe(n)
    ]
    assert len(udfs) == 1, udfs
    # one evaluation of each signature kind, local and email
    assert udfs[0].count("minhash_bands_udf(") == 2, udfs
    assert udfs[0].count("email_minhash_bands_udf(") == 1, udfs
    chain["dim"].unpersist()
    chain["uniq"].unpersist()


# match_edges' score_bound(): the score with JW = 1, which Catalyst folds
# to a leading literal 0.35 (the score itself reads 0.35 * <JW>)
_BOUND = "round((((0.35 + (0.2 * "


def _bounded(node) -> bool:
    """Every path from `node` down to a leaf crosses a filter or join
    condition on the score bound."""
    if _BOUND in _describe(node):
        return True
    children = _children(node)
    return bool(children) and all(_bounded(c) for c in children)


def test_jaro_winkler_reads_only_bound_filtered_rows(spark):
    """The JW UDF of the production edge plan only sees rows that passed
    the builtin score bound: Catalyst pushes match_edges' bound filter
    through the scorer's Project and the rebalance into each channel's
    join condition, and the score threshold, applied after the dedup
    aggregate, pulls no JW evaluation into the channel branches."""
    from email_address_parser_spark.operators.extract import (
        extract_mentions,
        with_canonical,
    )
    from email_address_parser_spark.pipeline import resolve
    from email_address_parser_spark.sources.testdata import derive_transcripts

    mentions = with_canonical(extract_mentions(derive_transcripts(spark, SF_DIR)))
    chain = resolve(mentions)
    jw = [
        n
        for n in _nodes(_physical(chain["fuzzy"]))
        if n.nodeName() == "ArrowEvalPython" and "jaro_winkler_udf" in _describe(n)
    ]
    assert len(jw) == 1, [_describe(n) for n in jw]
    assert _bounded(jw[0]), _describe(jw[0])
    # the scored stage itself is unfiltered: every candidate keeps its features
    assert chain["scored"].count() == chain["pairs"].count()
    chain["dim"].unpersist()
    chain["uniq"].unpersist()


def test_sessionize_and_rollup_share_one_exchange(spark):
    """session_stats must plan exactly ONE hashpartitioning exchange: the
    lag window, the running-sum window, and the session-level groupBy all
    key on user_id, so Catalyst must reuse the same partitioning for all
    three (a second exchange means the rollup lost the co-partitioning)."""
    from email_address_parser_spark.operators.sessions import session_stats
    from email_address_parser_spark.plans import count_exchanges
    from email_address_parser_spark.sources.testdata import load_table

    df = session_stats(load_table(spark, SF_DIR, "events"), gap_s=3600)
    assert count_exchanges(df) == 1


def test_asof_join_single_exchange_no_range_join(spark):
    """The union-and-fill as-of join must be one shuffle on the key and one
    in-partition sort — never a join operator (the naive range-join
    encoding is quadratic per key)."""
    from pyspark.sql import functions as F

    from email_address_parser_spark.operators.asof import asof_join
    from email_address_parser_spark.plans import count_exchanges, explain_str
    from email_address_parser_spark.sources.testdata import load_table

    ev = load_table(spark, SF_DIR, "events")
    df = asof_join(
        ev.where(F.col("event_type") == "purchase"),
        ev.where(F.col("event_type") == "click"),
    )
    assert count_exchanges(df) == 1
    plan = explain_str(df, "simple")
    assert "Join" not in plan, plan


def test_stratified_sample_plans_window_group_limit(spark):
    """rank-then-filter per stratum must become WindowGroupLimit (a
    per-stratum top-n heap), not a full per-stratum sort + filter."""
    from email_address_parser_spark.operators.sampling import stratified_sample
    from email_address_parser_spark.plans import executed_plan
    from email_address_parser_spark.sources.testdata import load_table

    df = stratified_sample(
        load_table(spark, SF_DIR, "documents"), "source", n_per_stratum=5
    )
    df.write.format("noop").mode("overwrite").save()
    assert "WindowGroupLimit" in executed_plan(df)


def test_collocations_global_topk_plans_take_ordered(spark):
    """G39: the global rank<=k filter must become TakeOrderedAndProject
    (per-partition heaps) so the unbounded-window warning path only ever
    sees the k survivors — never a single-partition sort of the full
    min_count-filtered bigram set."""
    from email_address_parser_spark.operators.ranking import collocations_topk
    from email_address_parser_spark.plans import executed_plan
    from email_address_parser_spark.sources.testdata import load_documents

    df = collocations_topk(load_documents(spark, SF_DIR), k=10, min_count=2)
    df.write.format("noop").mode("overwrite").save()
    plan = executed_plan(df)
    assert "TakeOrderedAndProject" in plan


def test_funnel_stages_share_key_partitioning(spark):
    """G38: every funnel stage keys on user_id — no exchange on any other
    column may appear (the per-step frontiers may broadcast at small scale,
    but nothing may repartition off-key)."""
    import re

    from email_address_parser_spark.operators.funnel import funnel
    from email_address_parser_spark.plans import executed_plan
    from email_address_parser_spark.sources.testdata import load_table

    df = funnel(load_table(spark, SF_DIR, "events"))
    df.write.format("noop").mode("overwrite").save()
    plan = executed_plan(df)
    for m in re.finditer(r"Exchange hashpartitioning\(([a-z_]+)#", plan):
        assert m.group(1) == "user_id", plan


def test_hard_negatives_plans_take_ordered(spark):
    """G44: the near-miss band's global top-k must be TakeOrderedAndProject
    (per-partition heaps over the scored pair stream), never a
    single-partition full sort of every scored pair."""
    import importlib.util

    spec = importlib.util.spec_from_file_location(
        "entry_for_plan_test", "/root/repo/__spark_entry__.py"
    )
    mod = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(mod)
    from email_address_parser_spark.plans import executed_plan

    df = mod.queries()["er_hard_negatives"](spark, SF_DIR)
    df.write.format("noop").mode("overwrite").save()
    assert "TakeOrderedAndProject" in executed_plan(df)


def test_comention_all_joins_are_equi_joins(spark):
    """G47: the a.email < b.email ordering predicate must ride the conv_id
    equi-join as a post-condition — never degrade the pair step to a
    CartesianProduct / BroadcastNestedLoopJoin (which would be the full
    |emails|^2 cross product at corpus scale)."""
    from email_address_parser_spark.operators.comention import comention_edges
    from email_address_parser_spark.plans import executed_plan

    from pyspark.sql import functions as F

    m = spark.createDataFrame(
        [("c1", "a@x.com"), ("c1", "b@x.com"), ("c2", "a@x.com")],
        "conv_id string, email string",
    ).withColumn("valid_lax", F.lit(True))
    df = comention_edges(m)
    df.write.format("noop").mode("overwrite").save()
    plan = executed_plan(df)
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan


def test_bcubed_is_join_free_of_cross_products(spark):
    """G45: cells/size-dim joins are keyed equi-joins and the reduce is a
    single-row aggregate — no cross product may appear anywhere."""
    from email_address_parser_spark.operators.evaluation import bcubed
    from email_address_parser_spark.plans import executed_plan

    pred = spark.createDataFrame(
        [("a", "1"), ("b", "1"), ("c", "2")], "email string, cluster_id string"
    )
    truth = spark.createDataFrame(
        [("a", "X"), ("b", "Y"), ("c", "Y")], "email string, match_key string"
    )
    df = bcubed(pred, truth)
    df.write.format("noop").mode("overwrite").save()
    plan = executed_plan(df)
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan


def _entry_mod():
    import importlib.util

    spec = importlib.util.spec_from_file_location(
        "entry_for_plan_test2", "/root/repo/__spark_entry__.py"
    )
    mod = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(mod)
    return mod


def test_threshold_sweep_windows_run_over_bucket_dim(spark):
    """er_threshold_sweep: the pair stream must collapse to <=101 bucket rows
    via a PARTIAL aggregate below its exchange; the cumulative windows (and
    their single-partition exchange) may only ever see that bucket dim,
    never the scored pairs."""
    from email_address_parser_spark.plans import executed_plan

    df = _entry_mod().queries()["er_threshold_sweep"](spark, SF_DIR)
    df.write.format("noop").mode("overwrite").save()
    plan = executed_plan(df)
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan
    # map-side combine on the bucket groupBy (partial_count/partial_sum)
    assert "partial_count" in plan
    # the full-frame total (_tt) and the running sums are Window nodes; the
    # only single-partition exchange in the plan is the one feeding them,
    # i.e. it sits ABOVE the bucket aggregate, carrying <=101 rows
    assert "Window" in plan
    assert plan.count("Exchange SinglePartition") <= 2


def test_mention_provenance_single_arrow_stage_partial_agg(spark):
    """er_mention_provenance: role/tool ride extract_mentions' passthrough —
    exactly ONE ArrowEvalPython (the fused extract+parse stage, no join back
    to transcripts) and a map-side partial agg on the 3x3 cell."""
    from email_address_parser_spark.plans import executed_plan

    df = _entry_mod().queries()["er_mention_provenance"](spark, SF_DIR)
    df.write.format("noop").mode("overwrite").save()
    plan = executed_plan(df)
    assert plan.count("ArrowEvalPython") == 1
    assert "partial_count" in plan


def test_block_skew_plans_take_ordered_and_broadcast_total(spark):
    """er_block_skew: the top-20 must be TakeOrderedAndProject over the
    block dim (never a global sort), and the single-row total must join by
    broadcast (never a shuffled or nested-loop join of the block dim)."""
    from email_address_parser_spark.plans import executed_plan

    df = _entry_mod().queries()["er_block_skew"](spark, SF_DIR)
    df.write.format("noop").mode("overwrite").save()
    plan = executed_plan(df)
    assert "TakeOrderedAndProject" in plan
    assert "CartesianProduct" not in plan
    # single-row total joined via BroadcastNestedLoopJoin (a 1-row cross
    # join IS the broadcast pattern here) or folded by AQE — what must
    # never appear is a shuffled join of the sizes dim against the total
    assert "SortMergeJoin" not in plan


def test_entity_activity_joins_are_equi_joins(spark):
    """er_entity_activity: mention stream x cluster assignment must be an
    email equi-join; no cross product anywhere in the timeline plan."""
    from email_address_parser_spark.plans import executed_plan

    df = _entry_mod().queries()["er_entity_activity"](spark, SF_DIR)
    df.write.format("noop").mode("overwrite").save()
    plan = executed_plan(df)
    assert "CartesianProduct" not in plan


def test_fs_weights_partial_agg_and_broadcast_totals(spark):
    """er_fs_weights: the labeled pair stream must collapse map-side to the
    <=16 pattern cells (partial agg below the exchange), and the 1-row
    totals must ride a broadcast — never a shuffled join of the cells."""
    from email_address_parser_spark.plans import executed_plan

    df = _entry_mod().queries()["er_fs_weights"](spark, SF_DIR)
    df.write.format("noop").mode("overwrite").save()
    plan = executed_plan(df)
    assert "partial_sum" in plan
    assert "CartesianProduct" not in plan
    # the totals crossJoin is a 1-row BroadcastNestedLoopJoin (the broadcast
    # pattern for an unconditioned join); a SortMergeJoin of the cell dim
    # against the totals would mean the broadcast hint was lost
    assert "SortMergeJoin" not in plan or "BroadcastNestedLoopJoin" in plan


def test_metablocking_partial_agg_no_cross_product(spark):
    """er_metablocking: the CBS weight count must combine map-side before
    the pair exchange, and nothing in the plan may degenerate to a cross
    product (the key join is an equi-join on the block key)."""
    from email_address_parser_spark.plans import executed_plan

    df = _entry_mod().queries()["er_metablocking"](spark, SF_DIR)
    df.write.format("noop").mode("overwrite").save()
    plan = executed_plan(df)
    assert "partial_count" in plan
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan
    # the purge is a window COUNT over the block key, not a sizes-dim
    # aggregate + join-back: the window's hash exchange on `key` is exactly
    # the CBS self-join's key partitioning, so the SMJ must reuse it (the
    # −72% plan, BENCH/BASELINE.md "Round-4 meta-blocking plan: window purge
    # + pinned edge frame"). The full tree is only visible with
    # the edge checkpoint off (a localCheckpoint truncates EXPLAIN at an
    # RDD scan); semantics are identical.
    from email_address_parser_spark.operators.blocking import uniq_valid_mentions
    from email_address_parser_spark.operators.extract import (
        extract_mentions,
        with_canonical,
    )
    from email_address_parser_spark.operators.metablocking import metablock_pairs
    from email_address_parser_spark.sources.testdata import derive_transcripts

    full = metablock_pairs(
        uniq_valid_mentions(
            with_canonical(extract_mentions(derive_transcripts(spark, SF_DIR)))
        ),
        pin_edges=False,
    )
    full.write.format("noop").mode("overwrite").save()
    fplan = executed_plan(full)
    assert "Window" in fplan
    # the old shape's sizes dim was a key-keyed HashAggregate joined back;
    # its reappearance means the purge regressed to the join-back plan
    assert "HashAggregate(keys=[key#" not in fplan


def test_domain_aliases_runs_on_dim_only(spark):
    """er_domain_aliases: every join is an equi-join (gram block join +
    winner window) — no cross product of the domain dim, and the mention
    stream is touched exactly once (the uniq groupBy)."""
    from email_address_parser_spark.plans import executed_plan

    df = _entry_mod().queries()["er_domain_aliases"](spark, SF_DIR)
    df.write.format("noop").mode("overwrite").save()
    plan = executed_plan(df)
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan


def test_snm_rank_is_range_partitioned_not_single_partition(spark):
    """with_global_rank: the sort must ride a RANGE partitioning (the
    scalable distributed sort) — the only single-partition exchange allowed
    is the #partitions-sized offsets prefix sum. A plan whose row_number
    windows over ONE partition has reintroduced the textbook bottleneck.
    (Inspected on the rank chain itself: snm_pairs pins it behind a
    localCheckpoint so both join sides share one evaluation.)"""
    from pyspark.sql import functions as F

    from email_address_parser_spark.operators.snm import with_global_rank
    from email_address_parser_spark.plans import executed_plan
    from email_address_parser_spark.sources.testdata import load_table

    keyed = (
        load_table(spark, SF_DIR, "customer")
        .select(
            F.col("c_name").alias("email"),
            F.concat("c_mktsegment", F.lit("|"), F.col("c_custkey")).alias(
                "sort_key"
            ),
        )
        .dropDuplicates(["email"])
    )
    df = with_global_rank(keyed, ["sort_key", "email"], n_partitions=4)
    df.write.format("noop").mode("overwrite").save()
    plan = executed_plan(df)
    assert "rangepartitioning" in plan
    # exactly one single-partition exchange: the offsets prefix sum over the
    # #partitions-sized counts dim
    assert plan.count("Exchange SinglePartition") == 1
    # the offsets come back via broadcast, never a shuffled join
    assert "BroadcastExchange" in plan
    assert "SortMergeJoin" not in plan


def test_best_match_edges_single_window_exchange(spark):
    """G63: the per-node argmax is a window row_number over the symmetrized
    pairs — ONE hash exchange on the node key and no groupBy-max join-back
    (which would cost two)."""
    from email_address_parser_spark.operators.bestmatch import best_match_edges
    from email_address_parser_spark.plans import count_exchanges, executed_plan

    scored = spark.createDataFrame(
        [("a", "b", 0.9), ("b", "c", 0.8)], ["email_a", "email_b", "score"]
    )
    df = best_match_edges(scored, floor=0.7)
    df.write.format("noop").mode("overwrite").save()
    assert count_exchanges(df) == 1
    assert executed_plan(df).count("Window") >= 1


def test_clk_dice_pairs_no_generate_fanout(spark):
    """G67: the Dice comparison rides packed 64-bit masks — the pair path
    must contain NO Generate (explode) node; intersecting is AND/popcount
    expressions, not a per-position row fan-out."""
    from email_address_parser_spark.operators.pprl import clk_dice_pairs
    from email_address_parser_spark.plans import executed_plan

    clk = spark.createDataFrame(
        [("a", 3), ("a", 70), ("b", 3), ("b", 130)], ["email", "pos"]
    )
    pairs = spark.createDataFrame([("a", "b")], ["email_a", "email_b"])
    df = clk_dice_pairs(pairs, clk)
    df.write.format("noop").mode("overwrite").save()
    assert "Generate" not in executed_plan(df)


def test_must_link_remap_is_broadcast(spark):
    """G62: the quotient remap joins back to the corpus-sized cluster table
    as a broadcast probe — never a shuffled join on the big side."""
    from email_address_parser_spark.operators.repair import must_link_merge
    from email_address_parser_spark.plans import executed_plan

    clusters = spark.createDataFrame(
        [("a", "a"), ("b", "a"), ("c", "c")], ["email", "cluster_id"]
    )
    cons = spark.createDataFrame([("a", "c")], ["email_x", "email_y"])
    df = must_link_merge(clusters, cons)
    df.write.format("noop").mode("overwrite").save()
    assert "BroadcastHashJoin" in executed_plan(df)


def test_clk_lsh_cap_is_window_not_join_back(spark):
    """G68: the bucket cap is a window count over (band_idx, band_sig) —
    the house cap plan: one Window per self-join side (the signature
    subtree is duplicated by design, like the plaintext channels — cheap
    vs the expansion) and the window's band-key exchange is the ONLY
    band-keyed exchange on each side, i.e. the self-join reuses it
    instead of re-shuffling."""
    from email_address_parser_spark.operators.pprl import clk_encode, clk_lsh_pairs
    from email_address_parser_spark.plans import executed_plan

    rec = spark.createDataFrame(
        [("a", "john"), ("b", "john"), ("c", "kate")], ["email", "dotless"]
    )
    df = clk_lsh_pairs(clk_encode(rec, text_col="dotless"))
    df.write.format("noop").mode("overwrite").save()
    plan = executed_plan(df)
    assert plan.count("Window") == 2
    assert plan.count("Exchange hashpartitioning(band_idx") == 2
