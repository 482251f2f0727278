"""Batch-incremental cluster maintenance — fold new transcripts into an
existing clustering without reprocessing the corpus.

At 10^12 turns, re-running the full ER chain for every new day of
transcripts rescans the entire history to re-derive clusters that are
99.99% unchanged. `build_incremental_state` bootstraps the fold state once
from a corpus (the production chain `pipeline.resolve` plus the derived
dims the fold maintains); `fold_batch` then folds ONE new batch into that
state with cost proportional to |new batch| + |affected neighborhood|:

  1. extract/canonicalize ONLY the new batch and anti-join it against
     `state.uniq` — the historical corpus is never rescanned, and an email
     already in state is never re-blocked. LSH band signatures are pure
     functions of the email, so they ride the dim state (append-only) and
     the signature UDFs only ever run over the batch;
  2. min-merge the batch into the touched match-key representatives and
     anchor every new variant to its key's PREVIOUS root with an unscored
     star edge (the collapsed chain's within-key merge);
  3. block only pairs touching >= 1 new representative, over the same four
     disjoint channels as `blocking.candidate_pairs`. Partners come from
     `state.reps` pruned to the batch's domains, LSH buckets and dotless
     locals, so the pruned slice plus the merged reps holds every current
     rep of each touched block: every cap and salting statistic (reps per
     domain, per bucket, per dotless local) is counted over it by the batch
     chain's own code (`with_salted_domain_block`, `blocking._cap_buckets`),
     never re-aggregated over the corpus dim and never kept as state;
  4. score only those pairs (same Arrow-batch JW/Levenshtein kernels as the
     batch path) and threshold to edges;
  5. contract old clusters to their roots (quotient graph): every OLD edge
     endpoint is rewritten to its prev cluster_id before the CC loop, so the
     loop's node set is {affected roots} ∪ {edge-incident new emails} — old
     members never enter an iteration shuffle, yet transitive merges across
     old clusters still happen (contraction preserves connectivity, and
     min-over-roots == min-over-members because a root IS its cluster's min
     email). Members inherit the root's new label with one post-loop join;
  6. emit a DELTA of assignments (changed or new emails) plus batch-sized
     per-table update frames; untouched clusters pass through unchanged.

Equivalence contract (asserted by tests/test_incremental.py, certified by
the `er_incremental_fold` oracle): with the same hot_threshold,
target_block_size and threshold, and no data-driven blocking transition
between runs (no domain crossing `hot_threshold`, no LSH bucket or dotless
block crossing its cap — all monotone corpus-growth events), the folded
clustering is row-identical to `pipeline.resolve` over the union corpus:

  * old components enter the loop as depth-1 stars, so their transitive
    closure is preserved;
  * a new representative's edge set under slice-counted blocking is exactly
    the edge set the full run would give it (blocking keys are pure
    functions of the email string plus union-dim statistics);
  * old<->old edges add nothing — their closure IS `state.clusters`.

When a blocking transition DOES occur, the full path only ever REMOVES
candidate pairs (salt splits, bucket-cap evictions); the fold never
unmerges, so its clusters are the closure of a superset of the full path's
edges. Match-key recall is unaffected either way: same-key variants join
their key's root by a star edge, which bypasses blocking entirely, and that
is what the BASELINE F1 >= 0.99 acceptance keys on.

Reference tie-in: the per-address semantics (what counts as the same
identity) remain the Rust crate's parse/canonicalize contract
(rust-lib/src/email_address.rs getters; nom_parser.rs grammar) — this
module only changes WHEN pairwise work is redone, never what a pair scores.
"""

from __future__ import annotations

from typing import Dict, Optional

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from .blocking import (
    _BAND_KEY,
    LOCAL_MAX_BLOCK,
    LSH_MAX_BUCKET,
    _cap_buckets,
    channel_pair_filter,
    dotless_local,
    uniq_valid_mentions,
    with_minhash_bands,
    with_salted_domain_block,
)
from .cc import connected_components
from .extract import extract_mentions, with_canonical
from .scoring import DEFAULT_THRESHOLD, match_edges, score_pairs


def _pin(df: DataFrame) -> DataFrame:
    """Pin a fold-internal fan-out frame with a LAZY localCheckpoint. Each
    pinned frame is referenced by many downstream subtrees; persist() caches
    EXECUTION but every reference still embeds the frame's full LOGICAL
    subtree, so the fold delta's plan grows multiplicatively with fan-out
    depth (a 92 MB plan string, with Catalyst re-analysis as the fold's
    floor). The checkpoint truncates lineage to a LogicalRDD at first
    materialization, so each subtree is analyzed and optimized exactly once:
    15.6 s vs 46.4 s for persist at the production blocking config
    (BENCH/BASELINE.md, "Round-4 fold lineage pinning: lazy localCheckpoint
    vs persist"). The same section measures the opposite winner at a
    big-block config (hot=10k, block=5k), which no shipped caller runs.

    "Lazy" is only half true under AQE: localCheckpoint(eager=False) plans
    the frame's RDD when it is called, and AQE plans by running the frame's
    shuffle-map stages first — one Spark job at call time for a groupBy
    frame, zero with AQE off (local[4], Spark 4.1). Each pin of a shuffled
    frame therefore costs its map jobs up front, whether or not the pinned
    frame is ever read."""
    return df.localCheckpoint(eager=False)


def _restricted_pairs(
    blocked: DataFrame,
    key: list,
    cross_block: bool = False,
    cross_domain: bool = False,
    diff_local: bool = False,
) -> DataFrame:
    """Self-join on `key`, keeping only pairs with >= 1 new side, each
    unordered pair exactly once:

      * new<->new: emitted once by the `email_a < email_b` predicate;
      * new<->old: the new row is always the `a` side (old<->old never
        joins), so the pair appears exactly once regardless of email order —
        the output columns are least/greatest-normalized so downstream
        scoring sees the same (email_a < email_b) orientation as the batch
        path (the feature set is symmetric, so normalization is free).

    The b side is pre-restricted to key values that contain >= 1 new row
    (a semi-join against the tiny new-side key set): blocks untouched by the
    batch never enter the self-join shuffle."""
    new_keys = blocked.where(F.col("_is_new")).select(*key).distinct()
    blocked = blocked.join(new_keys, key, "left_semi")
    a = blocked.where(F.col("_is_new")).alias("a")
    b = blocked.alias("b")
    cond = (~F.col("b._is_new")) | (F.col("a.email") < F.col("b.email"))
    cond = channel_pair_filter(
        cond & (F.col("a.email") != F.col("b.email")),
        cross_block=cross_block,
        cross_domain=cross_domain,
        diff_local=diff_local,
    )
    a_first = F.col("a.email") < F.col("b.email")

    def pick(col: str, first: bool):
        lhs, rhs = (f"a.{col}", f"b.{col}") if first else (f"b.{col}", f"a.{col}")
        return F.when(a_first, F.col(lhs)).otherwise(F.col(rhs))

    return (
        a.join(b, on=key)
        .where(cond)
        .select(
            F.least(F.col("a.email"), F.col("b.email")).alias("email_a"),
            F.greatest(F.col("a.email"), F.col("b.email")).alias("email_b"),
            pick("local_canon", True).alias("local_canon_a"),
            pick("local_canon", False).alias("local_canon_b"),
            pick("domain_canon", True).alias("domain_canon_a"),
            pick("domain_canon", False).alias("domain_canon_b"),
        )
    )


def _assign_components(rewritten: DataFrame) -> DataFrame:
    """(src, dst) quotient edges → (email, cluster_id = component min).

    Fast path: when the edge set is structurally a STAR FOREST — no node is
    both a src and a dst, and every dst has exactly one edge — each
    component is one src plus its dsts, so labels are a single
    groupBy(src).min(dst) with no iterative loop. This is the overwhelmingly
    common fold shape (new variants anchored to their key root, no cross-key
    merges): two cheap structural probes replace ~6 CC-loop barriers. Any
    other shape (fuzzy merges, anchor chains) falls back to the exact
    large-star/small-star loop. The caller must hand in a deduplicated,
    checkpointed edge set (the probes and the assignment both re-read it)."""
    anchors_also_leaves = rewritten.alias("x").join(
        rewritten.alias("y"), F.col("x.dst") == F.col("y.src"), "left_semi"
    )
    multi_anchor = (
        rewritten.groupBy("dst").agg(F.count(F.lit(1)).alias("_n")).where(F.col("_n") > 1)
    )
    if anchors_also_leaves.isEmpty() and multi_anchor.isEmpty():
        labels = (
            rewritten.groupBy("src")
            .agg(F.min("dst").alias("_min_dst"))
            .select("src", F.least("src", "_min_dst").alias("_label"))
        )
        return (
            labels.select(F.col("src").alias("email"), F.col("_label").alias("cluster_id"))
            .unionByName(
                rewritten.join(labels, "src").select(
                    F.col("dst").alias("email"), F.col("_label").alias("cluster_id")
                )
            )
        )
    return connected_components(rewritten)


def _rep_aggs() -> list:
    """Per-match_key representative: the min email with its own
    local_canon and band signatures (blocking.match_key_representatives)."""
    return [
        F.min("email").alias("email"),
        F.min_by("local_canon", "email").alias("local_canon"),
        F.min_by("band_sigs", "email").alias("band_sigs"),
        F.min_by("email_bands", "email").alias("email_bands"),
    ]


def _tagged(reps: DataFrame, is_new: bool, *extra) -> DataFrame:
    """The blocking columns of `reps` (email, local_canon, domain_canon and
    the dotless local `_dl`) tagged `_is_new`, plus the `extra` columns."""
    return reps.select(
        "email", "local_canon", "domain_canon",
        dotless_local().alias("_dl"),
        F.lit(is_new).alias("_is_new"),
        *extra,
    )


def _capped_buckets(merged_reps: DataFrame, others: DataFrame, col: str) -> DataFrame:
    """Every current rep in each LSH bucket (of array column `col`) that a
    merged rep falls in: the merged reps plus the `others` (the state reps
    outside the batch keys) sharing one of their buckets, one row per (rep,
    band). Over-cap buckets are dropped by the batch chain's own
    `_cap_buckets`; the rows are the bucket's whole union-corpus population,
    so the count equals the batch chain's."""
    band = F.posexplode(col).alias(*_BAND_KEY)
    new = _tagged(merged_reps, True, band)
    old = _tagged(others, False, band).join(
        F.broadcast(new.select(*_BAND_KEY).distinct()), _BAND_KEY, "left_semi"
    )
    return _cap_buckets(new.unionByName(old), _BAND_KEY, LSH_MAX_BUCKET)


STATE_TABLES = ("uniq", "reps", "clusters")


def build_incremental_state(
    spark: SparkSession,
    transcripts: DataFrame,
    hot_threshold: int = 10_000,
    target_block_size: int = 5_000,
    threshold: float = DEFAULT_THRESHOLD,
    mentions: Optional[DataFrame] = None,
) -> Dict[str, DataFrame]:
    """One-time bootstrap of the fold state from a corpus (the production
    chain `pipeline.resolve` plus the derived dims `fold_batch` maintains).
    `mentions` overrides the transcript extraction (the same seam as
    fold_batch's `new_mentions`) — the G58 erasure tests rebuild
    from-scratch state over a mention set with one identity removed, which
    no transcript filter can express when turns carry multiple mentions:

      uniq     — distinct valid emails + canon cols + band_sigs + email_bands
      reps     — one representative per match_key (min email, its
                 local_canon, band_sigs, email_bands)
      clusters — (email, cluster_id), the collapsed-path clustering

    No blocking count is stored: `fold_batch` counts each cap and salting
    statistic over the reps slice it already reads.

    In prod every table is an Iceberg table bucketed by its join key; a fold
    then co-locates against state with partition-pruned scans instead of
    shuffles."""
    from ..pipeline import resolve

    if mentions is None:
        mentions = with_canonical(extract_mentions(transcripts))
    # persist the expensive subtrees: the state tables and the pairs chain
    # all hang off uniq, and a caller materializes each table separately —
    # without the persist every materialization re-runs extraction + banding
    # (measured: bootstrap 31.8 s → the extraction UDF dominating, sf0.01)
    uniq = with_minhash_bands(uniq_valid_mentions(mentions)).persist()
    reps = uniq.groupBy("match_key", "domain_canon").agg(*_rep_aggs()).persist()
    clusters = resolve(
        mentions,
        uniq.select("email", "local_canon", "domain_canon", "match_key"),
        hot_threshold=hot_threshold,
        target_block_size=target_block_size,
        threshold=threshold,
    )["clusters"].persist()  # fold_batch references clusters several times
    # (quotient contraction, untouched passthrough, delta) — each ref would
    # otherwise re-run the whole bootstrap clustering chain
    return {
        "uniq": uniq,
        "reps": reps,
        "clusters": clusters,
    }


def fold_batch(
    spark: SparkSession,
    new_transcripts: DataFrame,
    state: Dict[str, DataFrame],
    hot_threshold: int = 10_000,
    target_block_size: int = 5_000,
    threshold: float = DEFAULT_THRESHOLD,
    new_mentions: Optional[DataFrame] = None,
) -> Dict[str, DataFrame]:
    """Fold one batch into `state` touching only the batch and its affected
    neighborhood — the web-scale shape of G24:

      * key reps are READ from state and min-merged with the batch; every
        blocking count (reps per domain, per LSH bucket, per dotless local)
        is counted by the batch chain's own code over the reps slice the
        fold reads anyway, which holds every current rep it counts — never
        re-aggregated over the corpus dim and never kept as state;
      * scoring partners come from state.reps pruned to the batch's domains
        and touched (band, sig) buckets — broadcast filters over a scan, no
        dim shuffle (in prod the scan itself partition-prunes);
      * the CC loop runs on the quotient graph (prev clusters contracted to
        roots) with the star-forest fast path;
      * the result is a DELTA of assignments (changed or new emails only).
        `clusters` (the full updated view) and the updated state tables are
        returned lazily; prod persists them with partition-level MERGE
        writes, so the per-fold write cost is also delta-sized.

    Equivalence contract: identical clusters to `pipeline.resolve` over the
    union corpus at the same hot_threshold, target_block_size and
    threshold, provided no blocking transition separates the bootstrap from
    the fold: no domain crosses `hot_threshold` and no LSH bucket or
    dotless-local block crosses its cap. Such a transition only removes
    pairs from the full run, so the fold's clusters are then a coarsening
    of it, never a split. Pinned by tests/test_incremental.py (single and
    chained folds)."""
    if new_mentions is None:
        new_mentions = with_canonical(extract_mentions(new_transcripts))
    batch_uniq = with_minhash_bands(uniq_valid_mentions(new_mentions))
    # prod: state.uniq is bucketed by email -> co-located anti-join.
    # every fan-out frame below is pinned (lazy localCheckpoint — see _pin
    # for the measured rationale)
    new_uniq = batch_uniq.join(
        state["uniq"].select("email"), "email", "left_anti"
    ).transform(_pin)

    batch_keys = new_uniq.select("match_key").distinct()
    batch_domains = new_uniq.select("domain_canon").distinct()

    # --- affected reps: min-merge of the state slice with the batch --------
    # NOT persisted although referenced once per channel: the reps scan is a
    # 120k-row parquet read here and a pruned co-located scan in prod, while
    # a cache write costs a full materialization pass on this
    # memory-bandwidth-bound box (measured round 4: persist() made the fold
    # ~10% SLOWER, 45-46 s -> 50-55 s best-of-3)
    state_reps = state["reps"].select(
        "match_key", "domain_canon", "email", "local_canon", "band_sigs", "email_bands"
    )
    prev_slice = state_reps.join(
        F.broadcast(batch_keys), "match_key", "left_semi"
    ).transform(_pin)
    merged_reps = (
        prev_slice.unionByName(
            new_uniq.select(*prev_slice.columns)
        )
        .groupBy("match_key", "domain_canon")
        .agg(*_rep_aggs())
        .transform(_pin)
    )

    # --- star edges: new variants anchor to the key's prev root ------------
    anchors = (
        new_uniq.groupBy("match_key").agg(F.min("email").alias("_new_root"))
        .join(
            prev_slice.select("match_key", F.col("email").alias("_prev_root")),
            "match_key",
            "left",
        )
        .select(
            "match_key", F.coalesce("_prev_root", "_new_root").alias("_root")
        )
    )
    star_edges = (
        new_uniq.select("email", "match_key")
        .join(F.broadcast(anchors), "match_key")
        .where(F.col("email") != F.col("_root"))
        .select(
            F.col("_root").alias("src"),
            F.col("email").alias("dst"),
            F.lit(1.0).alias("score"),
        )
    )

    # --- channel 1: salted exact-domain blocks. match_key fixes the domain,
    # so fold_dim holds every current rep of each batch domain and counts
    # them exactly as the batch chain counts the union dim ------------------
    outside_keys = state_reps.join(F.broadcast(batch_keys), "match_key", "left_anti")
    partners = outside_keys.join(F.broadcast(batch_domains), "domain_canon", "left_semi")
    fold_dim = _tagged(partners, False).unionByName(_tagged(merged_reps, True))
    blocked = with_salted_domain_block(
        fold_dim, hot_threshold, target_block_size
    ).transform(_pin)
    pairs = _restricted_pairs(
        blocked.select("block_key", "email", "local_canon", "domain_canon", "_is_new"),
        ["block_key"],
    )

    # --- channel 2: same-domain local LSH. The join on `blocked` after the
    # cap keeps the batch domains' rows and adds their block_key. Pinned:
    # _restricted_pairs references this subtree three times (new-key probe +
    # both self-join sides) and Spark has no compile-time exchange reuse
    # across repeated non-cached refs -----------------------------------------
    bounded = (
        _capped_buckets(merged_reps, outside_keys, "band_sigs")
        .join(blocked.select("email", "block_key"), "email")
        .transform(_pin)
    )
    lsh_pairs = _restricted_pairs(
        bounded, ["band_idx", "band_sig", "domain_canon"], cross_block=True
    ).dropDuplicates(["email_a", "email_b"])
    pairs = pairs.unionByName(lsh_pairs)

    # --- channel 3: cross-domain exact-local. A rep's dotless local is its
    # match_key's, so xd_dim holds every current rep of each batch dotless
    # local (prod: the reps table's dotless secondary partition prunes the
    # partner scan) ------------------------------------------------------------
    batch_dls = new_uniq.select(dotless_local().alias("_dl")).distinct()
    xd_dim = (
        _tagged(outside_keys, False)
        .join(F.broadcast(batch_dls), "_dl", "left_semi")
        .unionByName(_tagged(merged_reps, True))
    )
    xd_pairs = _restricted_pairs(
        _cap_buckets(xd_dim, ["_dl"], LOCAL_MAX_BLOCK), ["_dl"], cross_domain=True
    )
    pairs = pairs.unionByName(xd_pairs)

    # --- channel 4: cross-domain full-email LSH (pinned like channel 2) ---
    ebounded = _capped_buckets(merged_reps, outside_keys, "email_bands").transform(_pin)
    e_pairs = _restricted_pairs(
        ebounded,
        _BAND_KEY,
        cross_domain=True,
        diff_local=True,
    ).dropDuplicates(["email_a", "email_b"])
    pairs = pairs.unionByName(e_pairs)

    edges = (
        # batch-sized pair set: skip the rebalance stage (fold floor)
        match_edges(score_pairs(pairs, rebalance=False), threshold)
        .unionByName(star_edges)
        .transform(_pin)
    )

    # --- quotient contraction + assignment (module docstring, step 5) ------
    root_of = state["clusters"].select(
        F.col("email").alias("_member"), F.col("cluster_id").alias("_root")
    )
    edge_set = edges.select("src", "dst")
    rewritten = (
        edge_set
        .join(root_of, F.col("src") == F.col("_member"), "left")
        .select(F.coalesce(F.col("_root"), F.col("src")).alias("src_q"), "dst")
        .join(root_of, F.col("dst") == F.col("_member"), "left")
        .select(
            F.col("src_q").alias("src"),
            F.coalesce(F.col("_root"), F.col("dst")).alias("dst"),
        )
        .where(F.col("src") != F.col("dst"))
        .distinct()
        .localCheckpoint()
    )
    quotient_assign = _assign_components(rewritten)

    root_relabel = quotient_assign.select(
        F.col("email").alias("cluster_id"), F.col("cluster_id").alias("_new")
    )
    member_assign = state["clusters"].join(
        F.broadcast(root_relabel), "cluster_id"
    ).select("email", F.col("_new").alias("cluster_id"))
    new_assign = quotient_assign.join(new_uniq.select("email"), "email", "semi")
    singletons = (
        new_uniq.select("email")
        .join(quotient_assign.select("email"), "email", "left_anti")
        .select("email", F.col("email").alias("cluster_id"))
    )
    delta = member_assign.unionByName(new_assign).unionByName(singletons)

    untouched = state["clusters"].join(
        F.broadcast(root_relabel.select("cluster_id")), "cluster_id", "left_anti"
    ).select("email", "cluster_id")
    clusters_view = untouched.unionByName(delta)

    new_state = {
        # column-pruned: a state table read back from storage may carry
        # bookkeeping columns the fold does not maintain
        "uniq": state["uniq"].select(*new_uniq.columns).unionByName(new_uniq),
        "reps": outside_keys.unionByName(merged_reps),
        "clusters": clusters_view,
    }
    # batch-sized per-table update frames — what a merge-on-read state store
    # appends per fold (streaming.incremental_stream.write_state_mor). Every
    # frame carries the COMPLETE merged value for each key it touches, so
    # latest-epoch-wins resolution reconstructs new_state exactly.
    updates = {
        "uniq": new_uniq,
        "reps": merged_reps,
        "clusters": delta,
    }
    return {
        "delta": delta,
        "clusters": clusters_view,
        "edges": edges,
        "state": new_state,
        "updates": updates,
    }
