"""Batch-incremental cluster maintenance — fold new transcripts into an
existing clustering without reprocessing the corpus.

At 10^12 turns, re-running the full ER chain for every new day of
transcripts rescans the entire history to re-derive clusters that are
99.99% unchanged. `build_incremental_state` bootstraps the fold state once
from a corpus (two stages of the production chain `pipeline.resolve`:
its banded dim and its clusters); `fold_batch` then folds ONE new batch
into that state with cost proportional to |new batch| + |affected
neighborhood|:

  1. extract/canonicalize ONLY the new batch and anti-join it against the
     emails of `state.clusters` (every clustered email has a row there) —
     the historical corpus is never rescanned, and an email already in
     state is never re-blocked. LSH band signatures are pure functions of
     the email, so they ride `state.reps` and the signature UDFs only ever
     run over the merged reps of the batch's keys;
  2. min-merge the batch into the touched match-key representatives and
     anchor every new variant to its key's PREVIOUS root with an unscored
     star edge (the collapsed chain's within-key merge);
  3. block only pairs touching >= 1 new representative, with the batch
     chain's own channels: `fold_batch` builds one blocking slice (the
     merged reps, tagged `_is_new`, plus every state rep outside the batch
     keys that shares a domain, a dotless local or a `band_sigs`/
     `email_bands` bucket with one of them) and hands it to
     `union_channels(blocking.dim_channels(slice))`. The slice holds every
     current rep of each block and bucket a merged rep falls in, so every
     cap and salting statistic (reps per domain, per bucket, per dotless
     local) is counted over it by the batch chain's own code, never
     re-aggregated over the corpus dim and never kept as state; given
     `_is_new`, `dim_channels` joins only the new rows, broadcast, against
     the slice;
  4. score only those pairs (same Arrow-batch JW/Levenshtein kernels as the
     batch path) and threshold to edges;
  5. contract old clusters to their roots (quotient graph): every OLD edge
     endpoint is rewritten to its prev cluster_id before connected
     components, so the graph's node set is {affected roots} ∪
     {edge-incident new emails} — old members never enter it, yet
     transitive merges across old clusters still happen (contraction
     preserves connectivity, and min-over-roots == min-over-members because
     a root IS its cluster's min email). The quotient graph is batch-sized,
     so `connected_components` solves it with its local union-find (the
     star loop stays the fallback above `cc.LOCAL_EDGE_THRESHOLD`).
     Members inherit the root's new label with one join;
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

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F

from .blocking import (
    dim_channels,
    dotless_local,
    match_key_representatives,
    union_channels,
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


def _blocking_keys() -> Column:
    """Every blocking key of a banded rep, one string each, tagged by its
    channel: the domain (block), the dotless local (xd_local) and each
    (band_idx, band_sig) of `band_sigs` (local_lsh) and `email_bands`
    (xd_email)."""

    def bands(col: str, tag: str) -> Column:
        return F.transform(
            col,
            lambda sig, i: F.concat(
                F.lit(tag), i.cast("string"), F.lit(":"), sig.cast("string")
            ),
        )

    return F.concat(
        F.array(
            F.concat(F.lit("d:"), F.col("domain_canon")),
            F.concat(F.lit("l:"), dotless_local()),
        ),
        bands("band_sigs", "b"),
        bands("email_bands", "e"),
    )


STATE_TABLES = ("reps", "clusters")
# the `reps` layout: one banded representative per match_key, the column
# order of with_minhash_bands(match_key_representatives(...))
_REP_COLUMNS = (
    "match_key", "domain_canon", "email", "local_canon", "band_sigs", "email_bands"
)


def build_incremental_state(
    spark: SparkSession,
    transcripts: DataFrame,
    hot_threshold: int = 10_000,
    target_block_size: int = 5_000,
    threshold: float = DEFAULT_THRESHOLD,
    mentions: Optional[DataFrame] = None,
) -> Dict[str, DataFrame]:
    """One-time bootstrap of the fold state from a corpus: both tables are
    stages of the production chain `pipeline.resolve`. `mentions` overrides
    the transcript extraction (the same seam as fold_batch's
    `new_mentions`) — the G58 erasure tests rebuild from-scratch state over
    a mention set with one identity removed, which no transcript filter can
    express when turns carry multiple mentions:

      reps     — one representative per match_key (min email, its
                 local_canon, band_sigs, email_bands): resolve's persisted
                 banded `dim`, projected, so each rep is banded once
      clusters — (email, cluster_id), the collapsed-path clustering; its
                 email set is the distinct valid emails, which the fold's
                 new-email anti-join reads

    No blocking count is stored: `fold_batch` counts each cap and salting
    statistic over the reps slice it already reads.

    In prod every table is an Iceberg table bucketed by its join key; a fold
    then co-locates against state with partition-pruned scans instead of
    shuffles."""
    from ..pipeline import resolve

    if mentions is None:
        mentions = with_canonical(extract_mentions(transcripts))
    chain = resolve(
        mentions,
        hot_threshold=hot_threshold,
        target_block_size=target_block_size,
        threshold=threshold,
    )
    return {
        "reps": chain["dim"].select(*_REP_COLUMNS),
        # fold_batch references clusters several times (new-email anti-join,
        # quotient contraction, untouched passthrough, delta) — each ref
        # would otherwise re-run the whole bootstrap clustering chain
        "clusters": chain["clusters"].persist(),
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

      * new emails are the batch's distinct valid emails absent from
        state.clusters;
      * key reps are READ from state and min-merged with the new emails by
        the batch chain's `match_key_representatives`, then banded, so the
        MinHash UDFs see only the merged reps;
      * candidate pairs are `union_channels(dim_channels(slice))` over one
        blocking slice: the merged reps (`_is_new`) plus the state reps
        outside the batch keys that share a domain, a dotless local or an
        LSH bucket with one of them. It holds the whole union-corpus
        population of every block and bucket a merged rep falls in, so the
        batch chain's caps and salting count exactly what a full run would,
        and only pairs with a new side are emitted (broadcast new side, no
        slice shuffle). Finding those partners explodes the blocking keys
        of every state rep outside the batch keys, O(|state.reps|) per fold;
      * connected components run on the quotient graph (prev clusters
        contracted to roots), solved by the local union-find below
        `cc.LOCAL_EDGE_THRESHOLD` edges;
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
    # prod: state.clusters is bucketed by email -> co-located anti-join.
    # every fan-out frame below is pinned (lazy localCheckpoint — see _pin
    # for the measured rationale)
    new_uniq = uniq_valid_mentions(new_mentions).join(
        state["clusters"].select("email"), "email", "left_anti"
    ).transform(_pin)

    batch_keys = new_uniq.select("match_key").distinct()

    # --- affected reps: min-merge of the state slice with the batch --------
    # NOT persisted although read three times (the batch keys' reps, the
    # blocking slice's partners, the new state's reps): the reps scan is a
    # 120k-row parquet read here and a pruned co-located scan in prod, while
    # a cache write costs a full materialization pass on this
    # memory-bandwidth-bound box (measured round 4: persist() made the fold
    # ~10% SLOWER, 45-46 s -> 50-55 s best-of-3)
    state_reps = state["reps"].select(*_REP_COLUMNS)
    prev_slice = state_reps.join(
        F.broadcast(batch_keys), "match_key", "left_semi"
    ).transform(_pin)
    # banded after the min-merge: the MinHash UDFs run once per merged rep
    merged_reps = with_minhash_bands(
        match_key_representatives(
            None, uniq=prev_slice.select(*new_uniq.columns).unionByName(new_uniq)
        )
    ).transform(_pin)

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

    # --- the blocking slice: the merged reps (`_is_new`) and every state rep
    # outside the batch keys that shares a blocking key with one of them.
    # It holds every current rep of each block and bucket a merged rep falls
    # in, so the batch chain's `dim_channels` counts each cap and salt over
    # it exactly as over the union dim, and (given `_is_new`) emits only the
    # pairs with a new side -----------------------------------------------------
    outside_keys = state_reps.join(F.broadcast(batch_keys), "match_key", "left_anti")
    # batch-bounded broadcast: 2 + N_BANDS + EMAIL_N_BANDS keys per merged rep
    touched = merged_reps.select(F.explode(_blocking_keys()).alias("_k"))
    partners = (
        outside_keys.select("*", F.explode(_blocking_keys()).alias("_k"))
        .join(F.broadcast(touched), "_k", "left_semi")
        .drop("_k")
        .distinct()  # a rep sharing several keys with the batch, once
    )
    dim = with_salted_domain_block(
        partners.withColumn("_is_new", F.lit(False)).unionByName(
            merged_reps.withColumn("_is_new", F.lit(True))
        ),
        hot_threshold,
        target_block_size,
    ).withColumn("_dl", dotless_local()).transform(_pin)
    pairs = union_channels(dim_channels(dim, dedupe=False))

    edges = (
        # batch-sized pair set: skip the rebalance stage (fold floor). A
        # pair sharing several LSH bands repeats in its channel; the
        # duplicates score identically and match_edges keeps one
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
    )
    quotient_assign = connected_components(rewritten)

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
        "reps": outside_keys.unionByName(merged_reps),
        "clusters": clusters_view,
    }
    # batch-sized per-table update frames — what a merge-on-read state store
    # appends per fold (streaming.incremental_stream.write_state_mor). Every
    # frame carries the COMPLETE merged value for each key it touches, so
    # latest-epoch-wins resolution reconstructs new_state exactly.
    updates = {
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
