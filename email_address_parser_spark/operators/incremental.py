"""Batch-incremental cluster maintenance — fold new transcripts into an
existing clustering without reprocessing the corpus.

At 10^12 turns, re-running the full ER pipeline for every new day of
transcripts rescans the entire history to re-derive clusters that are
99.99% unchanged. `incremental_cluster_update` folds ONE new batch into an
existing clustering with cost proportional to |new batch| + |affected
neighborhood|:

  1. extract/canonicalize ONLY the new batch — the historical corpus is
     never rescanned; its distinct-email dim (`prev_uniq`) is the persisted
     state, exactly the table `pipeline.py` already checkpoints per stage
     (in prod: the mentions/uniq Iceberg snapshot);
  2. re-block the union dim (an O(|distinct emails|) aggregate + join over
     the tiny dim, NOT the corpus) and generate only pairs touching >= 1
     genuinely new email. Old<->old pairs are never regenerated — their
     match verdicts are already folded into `prev_clusters`. LSH band
     signatures are pure functions of the email, so they ride the dim state
     (append-only: `with_minhash_bands`) and the signature UDF only ever
     runs over the batch; the pair self-join's b side is semi-restricted to
     key values containing a new row, so untouched blocks never enter the
     join shuffle;
  3. score only those pairs (same Arrow-batch JW/Levenshtein kernels as the
     batch path) and threshold to edges;
  4. contract old clusters to their roots (quotient graph): every OLD edge
     endpoint is rewritten to its prev cluster_id before the CC loop, so the
     loop's node set is {affected roots} ∪ {edge-incident new emails} — old
     members never enter an iteration shuffle, yet transitive merges across
     old clusters still happen (contraction preserves connectivity, and
     min-over-roots == min-over-members because a root IS its cluster's min
     email). Members inherit the root's new label with one post-loop join;
  5. pass every untouched cluster through unchanged (anti-join on the
     affected cluster-id set — a semi/anti pair on the clusters table, the
     only full-state shuffle, and it is keyed by the already-partitioned
     cluster table).

Equivalence contract (asserted by tests/test_incremental.py): with the same
blocking/scoring config and no data-driven blocking transition between runs
(no domain crossing `hot_threshold`, no LSH bucket crossing the cap — both
monotone corpus-growth events), the output is row-identical to
`pipeline.cluster_mentions` over the full corpus:

  * old components enter the loop as depth-1 stars, so their transitive
    closure is preserved;
  * a new email's edge set under union-dim blocking is exactly the edge set
    the full run would give it (blocking keys are pure functions of the
    email string plus union-dim statistics);
  * old<->old edges add nothing — their closure IS `prev_clusters`.

When a blocking transition DOES occur, the full path only ever REMOVES
candidate pairs (salt splits, bucket-cap evictions); the incremental path
never unmerges, so its clusters are the closure of a superset of the full
path's edges. Match-key recall is unaffected either way: same-key variants
share the dotless-local salt hash, hence the block, under every salting
state (`blocking.with_salted_domain_block`), which is what the BASELINE
F1 >= 0.99 acceptance keys on.

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
    EMAIL_N_BANDS,
    LOCAL_MAX_BLOCK,
    LSH_MAX_BUCKET,
    email_minhash_bands_udf,
    minhash_bands_udf,
    uniq_valid_mentions,
    with_salted_domain_block,
)
from .cc import connected_components
from .extract import extract_mentions, with_canonical
from .scoring import DEFAULT_THRESHOLD, match_edges, score_pairs

_BAND_KEY = ["band_idx", "band_sig"]


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
    big-block config (hot=10k, block=5k), which no shipped caller runs."""
    return df.localCheckpoint(eager=False)


def with_minhash_bands(df: DataFrame, local_col: str = "local_canon") -> DataFrame:
    """Add `band_sigs: array<long>` — the LSH band keys of `local_col`.

    Band signatures are a pure function of the string, so at scale they are
    computed ONCE per distinct email and persisted with the dim state
    (append-only across batches); the incremental path then runs the
    signature UDF only over the batch's new emails instead of re-banding the
    whole corpus dim every fold."""
    return df.withColumn("band_sigs", minhash_bands_udf(F.col(local_col)))


def with_email_bands(df: DataFrame) -> DataFrame:
    """Add `email_bands: array<long>` — the half-width LSH band keys of the
    assembled canonical address (cross-domain channel 4, EMAIL_N_BANDS).
    Pure function of the email, so it rides the dim state exactly like
    `band_sigs`."""
    return df.withColumn(
        "email_bands",
        email_minhash_bands_udf(
            F.concat(F.col("local_canon"), F.lit("@"), F.col("domain_canon"))
        ),
    )


def _dotless(col: str = "local_canon") -> F.Column:
    return F.regexp_replace(F.col(col), r"\.", "")


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
    cond = cond & (F.col("a.email") != F.col("b.email"))
    if cross_block:
        cond = cond & (F.col("a.block_key") != F.col("b.block_key"))
    if cross_domain:
        cond = cond & (F.col("a.domain_canon") != F.col("b.domain_canon"))
    if diff_local:
        cond = cond & (F.col("a._dl") != F.col("b._dl"))
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


def incremental_candidate_pairs(
    updated_dim: DataFrame,
    hot_threshold: int = 10_000,
    target_block_size: int = 5_000,
) -> DataFrame:
    """Candidate pairs touching >= 1 new email, over the flagged union dim
    (`_is_new` boolean column). Channel structure mirrors
    `blocking.candidate_pairs` — exact salted-block, same-domain cross-block
    local-LSH, cross-domain exact-local, cross-domain full-email LSH — with
    the same pairwise-disjointness predicates, so no full-pair dedup shuffle
    runs here either."""
    blocked = with_salted_domain_block(
        updated_dim, hot_threshold, target_block_size
    ).persist()

    pairs = _restricted_pairs(
        blocked.select("block_key", "email", "local_canon", "domain_canon", "_is_new"),
        ["block_key"],
    )

    # use persisted band signatures when the dim carries them (the
    # incremental state path — signatures are append-only per email); fall
    # back to the UDF for plain dims
    band_col = (
        F.col("band_sigs")
        if "band_sigs" in blocked.columns
        else minhash_bands_udf(F.col("local_canon"))
    )
    with_bands = blocked.select(
        "email",
        "local_canon",
        "domain_canon",
        "block_key",
        "_is_new",
        F.posexplode(band_col).alias("band_idx", "band_sig"),
    )
    # bucket sizes are computed over the UNION dim so cap decisions match
    # what a full recompute over the grown corpus would make
    bucket_sizes = with_bands.groupBy(*_BAND_KEY).agg(F.count(F.lit(1)).alias("_bn"))
    # persist: referenced three times by _restricted_pairs (see above)
    bounded = with_bands.join(
        bucket_sizes.where(F.col("_bn") <= LSH_MAX_BUCKET), _BAND_KEY
    ).persist()
    lsh_pairs = _restricted_pairs(
        bounded, ["band_idx", "band_sig", "domain_canon"], cross_block=True
    ).dropDuplicates(["email_a", "email_b"])
    pairs = pairs.unionByName(lsh_pairs)

    # channel 3 — cross-domain exact-local: block sizes over the UNION dim
    # so cap decisions match a full recompute over the grown corpus
    dotted = blocked.withColumn("_dl", _dotless()).persist()
    local_sizes = dotted.groupBy("_dl").agg(F.count(F.lit(1)).alias("_ln"))
    bounded_local = dotted.join(
        local_sizes.where(F.col("_ln") <= LOCAL_MAX_BLOCK), ["_dl"]
    )
    xd_pairs = _restricted_pairs(
        bounded_local.select("_dl", "email", "local_canon", "domain_canon", "_is_new"),
        ["_dl"],
        cross_domain=True,
    )
    pairs = pairs.unionByName(xd_pairs)

    # channel 4 — cross-domain cross-local full-email LSH; persisted
    # email_bands when the dim carries them (state path)
    eband_col = (
        F.col("email_bands")
        if "email_bands" in blocked.columns
        else email_minhash_bands_udf(
            F.concat(F.col("local_canon"), F.lit("@"), F.col("domain_canon"))
        )
    )
    with_ebands = dotted.select(
        "email",
        "local_canon",
        "domain_canon",
        "_dl",
        "_is_new",
        F.posexplode(eband_col).alias("band_idx", "band_sig"),
    # stale-state reconciliation: a dim state written before the
    # EMAIL_N_BANDS=4 cut carries 8-element arrays, but the reduced banding
    # is a PREFIX of the old one (same permutations, same fold), so keeping
    # band_idx < EMAIL_N_BANDS makes old state byte-identical to
    # freshly-encoded rows — no version flag, no re-encode, and mixed
    # old/new dims can never pair on a band the 4-band contract (and the
    # DuckDB replay) doesn't have
    ).where(F.col("band_idx") < F.lit(EMAIL_N_BANDS))
    ebucket_sizes = with_ebands.groupBy(*_BAND_KEY).agg(F.count(F.lit(1)).alias("_bn"))
    ebounded = with_ebands.join(
        ebucket_sizes.where(F.col("_bn") <= LSH_MAX_BUCKET), _BAND_KEY
    ).persist()
    email_lsh_pairs = _restricted_pairs(
        ebounded,
        _BAND_KEY,
        cross_domain=True,
        diff_local=True,
    ).dropDuplicates(["email_a", "email_b"])
    return pairs.unionByName(email_lsh_pairs)


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


def _band_counts(df: DataFrame, col: str, alias: str = "_bn") -> DataFrame:
    """Row count per LSH (band_idx, band_sig) bucket of array column `col`."""
    return (
        df.select(F.posexplode(col).alias("band_idx", "band_sig"))
        .groupBy(*_BAND_KEY)
        .agg(F.count(F.lit(1)).alias(alias))
    )


def incremental_cluster_update(
    spark: SparkSession,
    new_transcripts: DataFrame,
    prev_clusters: DataFrame,
    prev_uniq: DataFrame,
    hot_threshold: int = 10_000,
    target_block_size: int = 5_000,
    threshold: float = DEFAULT_THRESHOLD,
    new_mentions: Optional[DataFrame] = None,
    collapse_exact: bool = False,
) -> Dict[str, DataFrame]:
    """Fold `new_transcripts` into (`prev_clusters`, `prev_uniq`).

    prev_clusters: (email, cluster_id) — output of a prior
        `pipeline.cluster_mentions` / this function (cluster_id = min email
        of the component; every distinct valid email has a row).
    prev_uniq: (email, local_canon, domain_canon, match_key) — the distinct
        valid-email dim of everything already clustered
        (`blocking.uniq_valid_mentions`; pipeline checkpoints it).

    collapse_exact mirrors the batch pipeline's scale switch: within-key
    merges become unscored star edges (a new variant connects straight to
    its match-key root) and the pairwise scorer sees one REPRESENTATIVE per
    key, restricted to keys the batch touched — so scorer work is
    proportional to |new keys|, not |new variants| × block width. Same
    approximation contract as pipeline.cluster_mentions_collapsed, with one
    incremental addendum: fuzzy verdicts between two untouched keys are
    inherited from prev_clusters rather than rescored (a key whose rep
    changed is rescored; its old rep's folded-in edges are never unmerged).

    Returns {"clusters", "uniq", "edges"}:
      clusters — the full updated assignment (old + new emails);
      uniq     — the updated dim (state for the next batch);
      edges    — the new-incident match edges found this batch (audit /
                 lineage; the old edge set is never rematerialized).
    """
    if new_mentions is None:
        new_mentions = with_canonical(extract_mentions(new_transcripts))
    batch_uniq = uniq_valid_mentions(new_mentions)
    if "band_sigs" not in prev_uniq.columns:
        # fallback for callers whose state predates signature persistence:
        # re-band the whole prev dim once (prod keeps band_sigs in state so
        # the UDF only ever runs over the batch)
        prev_uniq = with_minhash_bands(prev_uniq)
    if "email_bands" not in prev_uniq.columns:
        prev_uniq = with_email_bands(prev_uniq)
    new_uniq = batch_uniq.join(prev_uniq.select("email"), "email", "left_anti")
    new_uniq = with_email_bands(with_minhash_bands(new_uniq)).persist()
    updated_uniq = prev_uniq.unionByName(new_uniq)
    dim_cols = ["email", "local_canon", "domain_canon", "band_sigs", "email_bands"]

    if collapse_exact:
        # --- guaranteed within-key merges: star edges, no scorer ----------
        # per-key roots/reps over the union dim (O(|distinct keys|) groupBy;
        # prod maintains this dim incrementally alongside prev_uniq)
        rep_rows = updated_uniq.groupBy("match_key", "domain_canon").agg(*_rep_aggs())
        batch_keys = new_uniq.select("match_key").distinct()
        # anchor = the key's PREV root when the key already exists (so new
        # variants attach to the existing component even when a new email
        # becomes the key minimum), else the min new email of the key
        prev_roots = (
            prev_uniq.join(batch_keys, "match_key", "semi")
            .groupBy("match_key")
            .agg(F.min("email").alias("_prev_root"))
        )
        new_roots = new_uniq.groupBy("match_key").agg(
            F.min("email").alias("_new_root")
        )
        anchors = new_roots.join(prev_roots, "match_key", "left").select(
            "match_key",
            F.coalesce("_prev_root", "_new_root").alias("_root"),
        )
        star_edges = (
            new_uniq.select("email", "match_key")
            .join(anchors, "match_key")
            .where(F.col("email") != F.col("_root"))
            .select(
                F.col("_root").alias("src"),
                F.col("email").alias("dst"),
                F.lit(1.0).alias("score"),
            )
        )
        # --- fuzzy channel: rep-level pairs touching >= 1 batch key -------
        rep_dim = (
            rep_rows.join(
                batch_keys.withColumn("_b", F.lit(True)), "match_key", "left"
            )
            .select(
                *dim_cols,
                F.coalesce(F.col("_b"), F.lit(False)).alias("_is_new"),
            )
        )
        fuzzy_pairs = incremental_candidate_pairs(
            rep_dim, hot_threshold=hot_threshold, target_block_size=target_block_size
        )
        edges = (
            # batch-sized pair set: the rebalance stage barrier costs
            # more than the tiny-batch memo loss it buys (fold floor)
            match_edges(score_pairs(fuzzy_pairs, rebalance=False), threshold)
            .unionByName(star_edges)
            .persist()
        )
    else:
        updated_dim = (
            prev_uniq.select(*dim_cols).withColumn("_is_new", F.lit(False))
        ).unionByName(new_uniq.select(*dim_cols).withColumn("_is_new", F.lit(True)))

        pairs = incremental_candidate_pairs(
            updated_dim, hot_threshold=hot_threshold, target_block_size=target_block_size
        )
        # batch-sized pair set: skip the rebalance stage (fold floor)
        edges = match_edges(
            score_pairs(pairs, rebalance=False), threshold
        ).persist()

    # Quotient-graph contraction (exactness-preserving): rewrite each OLD
    # endpoint to its prev cluster root before the CC loop, so the loop's
    # node set is {affected roots} ∪ {edge-incident new emails} — old
    # members never enter an iteration shuffle. Label correctness: roots
    # are the min email of their member set and new emails are themselves,
    # so min-over-quotient-nodes == min-over-underlying-emails, the same
    # invariant the collapsed batch path relies on
    # (pipeline.cluster_mentions_collapsed).
    def _rewrite(col: str) -> Column:
        return F.coalesce(F.col("_root"), F.col(col)).alias(f"{col}_q")

    root_of = prev_clusters.select(
        F.col("email").alias("_member"), F.col("cluster_id").alias("_root")
    )
    rewritten = (
        edges.select("src", "dst")
        .join(root_of, F.col("src") == F.col("_member"), "left")
        .select(_rewrite("src"), "dst")
        .join(root_of, F.col("dst") == F.col("_member"), "left")
        .select(F.col("src_q").alias("src"), _rewrite("dst"))
        .withColumnRenamed("dst_q", "dst")
        .where(F.col("src") != F.col("dst"))
        .distinct()
        .localCheckpoint()
    )
    quotient_assign = _assign_components(rewritten)

    # expand: every member of a relabeled old cluster inherits the root's
    # new label (the root itself is a member, so it is covered too)
    root_relabel = quotient_assign.select(
        F.col("email").alias("cluster_id"), F.col("cluster_id").alias("_new")
    )
    member_assign = prev_clusters.join(root_relabel, "cluster_id").select(
        "email", F.col("_new").alias("cluster_id")
    )
    new_assign = quotient_assign.join(
        new_uniq.select("email"), "email", "semi"
    )

    untouched = prev_clusters.join(
        root_relabel.select("cluster_id"), "cluster_id", "left_anti"
    )
    singletons = (
        new_uniq.select("email")
        .join(quotient_assign.select("email"), "email", "left_anti")
        .select("email", F.col("email").alias("cluster_id"))
    )
    clusters = (
        untouched.unionByName(member_assign)
        .unionByName(new_assign)
        .unionByName(singletons)
    )
    return {"clusters": clusters, "uniq": updated_uniq, "edges": edges}


# ---------------------------------------------------------------------------
# v2: fully state-maintained fold (delta-emitting, no O(dim) shuffle)
# ---------------------------------------------------------------------------

STATE_TABLES = (
    "uniq", "reps", "domain_counts", "bucket_counts",
    "local_counts", "ebucket_counts", "clusters",
)


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

      uniq           — distinct valid emails + canon cols + band_sigs +
                       email_bands
      reps           — one representative per match_key (min email, its
                       local_canon, band_sigs, email_bands)
      domain_counts  — rep count per domain_canon (the salting statistic the
                       collapsed batch path derives on the fly)
      bucket_counts  — rep count per local-LSH (band_idx, band_sig) bucket
      local_counts   — rep count per dotless local (cross-domain channel-3
                       block cap)
      ebucket_counts — rep count per full-email-LSH bucket (channel-4 cap)
      clusters       — (email, cluster_id), the collapsed-path clustering

    In prod every table is an Iceberg table bucketed by its join key; a fold
    then co-locates against state with partition-pruned scans instead of
    shuffles."""
    from ..pipeline import resolve

    if mentions is None:
        mentions = with_canonical(extract_mentions(transcripts))
    # persist the expensive subtrees: 7 state tables + the pairs chain all
    # hang off uniq/reps, and a caller materializes each table separately —
    # without the persist every materialization re-runs extraction + banding
    # (measured: bootstrap 31.8 s → the extraction UDF dominating, sf0.01)
    uniq = with_email_bands(with_minhash_bands(uniq_valid_mentions(mentions))).persist()
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
        "domain_counts": reps.groupBy("domain_canon").agg(
            F.count(F.lit(1)).alias("_dom_n")
        ),
        "bucket_counts": _band_counts(reps, "band_sigs"),
        "local_counts": reps.groupBy(_dotless().alias("_dl")).agg(
            F.count(F.lit(1)).alias("_ln")
        ),
        "ebucket_counts": _band_counts(reps, "email_bands"),
        "clusters": clusters,
    }


def _bucket_updates(
    counts: DataFrame, prev_slice: DataFrame, merged_reps: DataFrame, col: str
) -> DataFrame:
    """Merged LSH bucket counts for every bucket a fold touches: the state
    count minus the replaced reps' bands plus the merged reps' bands."""
    removed = _band_counts(prev_slice, col, "_rm")
    added = _band_counts(merged_reps, col, "_ad")
    touched = removed.select(*_BAND_KEY).union(added.select(*_BAND_KEY)).distinct()
    return (
        counts.join(F.broadcast(touched), _BAND_KEY, "left_semi")
        .join(removed, _BAND_KEY, "outer")
        .join(added, _BAND_KEY, "outer")
        .select(
            "band_idx",
            "band_sig",
            (
                F.coalesce(F.col("_bn"), F.lit(0))
                - F.coalesce(F.col("_rm"), F.lit(0))
                + F.coalesce(F.col("_ad"), F.lit(0))
            ).alias("_bn"),
        )
    )


def _upsert(table: DataFrame, updates: DataFrame, keys: list) -> DataFrame:
    """`table` with the rows keyed in `updates` replaced by `updates`."""
    return table.join(
        F.broadcast(updates.select(*keys)), keys, "left_anti"
    ).unionByName(updates)


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

      * every derived statistic (key reps, domain counts, LSH bucket counts)
        is READ from state and min-/count-merged with the batch — never
        re-aggregated over the corpus dim;
      * scoring partners come from state.reps pruned to the batch's domains
        and touched (band, sig) buckets — broadcast filters over a scan, no
        dim shuffle (in prod the scan itself partition-prunes);
      * the CC loop runs on the quotient graph (prev clusters contracted to
        roots) with the star-forest fast path;
      * the result is a DELTA of assignments (changed or new emails only).
        `clusters` (the full updated view) and the updated state tables are
        returned lazily; prod persists them with partition-level MERGE
        writes, so the per-fold write cost is also delta-sized.

    Equivalence contract: identical clusters to `build_incremental_state`'s
    collapsed batch chain over the union corpus, under the same
    no-blocking-transition proviso as `incremental_cluster_update` — pinned
    by tests/test_incremental.py (single and chained folds)."""
    if new_mentions is None:
        new_mentions = with_canonical(extract_mentions(new_transcripts))
    batch_uniq = with_email_bands(with_minhash_bands(uniq_valid_mentions(new_mentions)))
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

    # --- salting statistics: touched domains only ---------------------------
    new_key_domains = (
        merged_reps.join(F.broadcast(prev_slice.select("match_key")),
                         "match_key", "left_anti")
        .groupBy("domain_canon")
        .agg(F.count(F.lit(1)).alias("_delta"))
    )
    # NOTE: no broadcast hints on the outer merges — a FULL OUTER join
    # cannot hash-broadcast either side, so the hint degrades to a
    # BroadcastNestedLoopJoin (quadratic compares). Both sides here are
    # touched-slice sized; sort-merge is the right plan.
    touched_counts = (
        state["domain_counts"]
        .join(F.broadcast(batch_domains), "domain_canon", "left_semi")
        .join(new_key_domains, "domain_canon", "outer")
        .select(
            "domain_canon",
            (F.coalesce(F.col("_dom_n"), F.lit(0))
             + F.coalesce(F.col("_delta"), F.lit(0))).alias("_dom_n"),
        )
    ).transform(_pin)

    # --- partner slice: state reps in the batch's domains -------------------
    partners = (
        state_reps
        .join(F.broadcast(batch_domains), "domain_canon", "left_semi")
        .join(F.broadcast(batch_keys), "match_key", "left_anti")
    )
    fold_dim = (
        partners.withColumn("_is_new", F.lit(False))
        .unionByName(merged_reps.withColumn("_is_new", F.lit(True)))
        .drop("match_key")
    )
    blocked = with_salted_domain_block(
        fold_dim, hot_threshold, target_block_size, sizes=touched_counts
    ).transform(_pin)
    pairs = _restricted_pairs(
        blocked.select("block_key", "email", "local_canon", "domain_canon", "_is_new"),
        ["block_key"],
    )

    # --- channel 2: bucket counts remove replaced reps' bands, add merged
    # reps' --------------------------------------------------------------------
    bucket_updates = _bucket_updates(
        state["bucket_counts"], prev_slice, merged_reps, "band_sigs"
    ).transform(_pin)
    new_bands = merged_reps.select(
        "email", "local_canon", "domain_canon",
        F.lit(True).alias("_is_new"),
        F.posexplode("band_sigs").alias("band_idx", "band_sig"),
    )
    partner_bands = (
        partners.select(
            "email", "local_canon", "domain_canon",
            F.lit(False).alias("_is_new"),
            F.posexplode("band_sigs").alias("band_idx", "band_sig"),
        )
        .join(
            F.broadcast(new_bands.select(*_BAND_KEY).distinct()),
            _BAND_KEY,
            "left_semi",
        )
    )
    # pinned: _restricted_pairs references this subtree three times
    # (new-key probe + both self-join sides) and Spark has no compile-time
    # exchange reuse across repeated non-cached refs
    bounded = (
        new_bands.unionByName(partner_bands)
        .join(
            F.broadcast(bucket_updates.where(F.col("_bn") <= LSH_MAX_BUCKET)),
            _BAND_KEY,
        )
        .join(
            blocked.select("email", "block_key"), "email"
        )
        .transform(_pin)
    )
    lsh_pairs = _restricted_pairs(
        bounded, ["band_idx", "band_sig", "domain_canon"], cross_block=True
    ).dropDuplicates(["email_a", "email_b"])
    pairs = pairs.unionByName(lsh_pairs)

    # --- channel 3: cross-domain exact-local. Counts merged from state (a
    # rep's dotless local never changes — all members of a match_key share
    # it — so the delta is purely the batch's NEW keys) ---------------------
    batch_dls = new_uniq.select(_dotless().alias("_dl")).distinct()
    new_key_dls = (
        merged_reps.join(
            F.broadcast(prev_slice.select("match_key")), "match_key", "left_anti"
        )
        .groupBy(_dotless().alias("_dl"))
        .agg(F.count(F.lit(1)).alias("_delta"))
    )
    local_updates = (
        state["local_counts"]
        .join(F.broadcast(batch_dls), "_dl", "left_semi")
        .join(new_key_dls, "_dl", "outer")
        .select(
            "_dl",
            (
                F.coalesce(F.col("_ln"), F.lit(0))
                + F.coalesce(F.col("_delta"), F.lit(0))
            ).alias("_ln"),
        )
    ).transform(_pin)
    # partner slice: state reps sharing a batch dotless local (prod: the
    # reps table's dotless secondary partition prunes this scan)
    xd_partners = (
        state_reps
        .withColumn("_dl", _dotless())
        .join(F.broadcast(batch_dls), "_dl", "left_semi")
        .join(F.broadcast(batch_keys), "match_key", "left_anti")
    )
    xd_cols = ["_dl", "email", "local_canon", "domain_canon", "_is_new"]
    xd_dim = (
        xd_partners.withColumn("_is_new", F.lit(False)).select(*xd_cols)
        .unionByName(
            merged_reps.withColumn("_dl", _dotless())
            .withColumn("_is_new", F.lit(True))
            .select(*xd_cols)
        )
    )
    xd_bounded = xd_dim.join(
        F.broadcast(local_updates.where(F.col("_ln") <= LOCAL_MAX_BLOCK)),
        ["_dl"],
    )
    xd_pairs = _restricted_pairs(xd_bounded, ["_dl"], cross_domain=True)
    pairs = pairs.unionByName(xd_pairs)

    # --- channel 4: cross-domain full-email LSH; bucket counts merged
    # exactly like the local-LSH bucket_counts --------------------------------
    ebucket_updates = _bucket_updates(
        state["ebucket_counts"], prev_slice, merged_reps, "email_bands"
    ).transform(_pin)
    e_cols = [
        "email", "local_canon", "domain_canon", "_dl", "_is_new",
        "band_idx", "band_sig",
    ]
    new_ebands = (
        merged_reps.withColumn("_dl", _dotless())
        .withColumn("_is_new", F.lit(True))
        .select(
            "email", "local_canon", "domain_canon", "_dl", "_is_new",
            F.posexplode("email_bands").alias("band_idx", "band_sig"),
        )
    )
    partner_ebands = (
        state_reps
        .join(F.broadcast(batch_keys), "match_key", "left_anti")
        .withColumn("_dl", _dotless())
        .withColumn("_is_new", F.lit(False))
        .select(
            "email", "local_canon", "domain_canon", "_dl", "_is_new",
            F.posexplode("email_bands").alias("band_idx", "band_sig"),
        )
        .join(
            F.broadcast(new_ebands.select(*_BAND_KEY).distinct()),
            _BAND_KEY,
            "left_semi",
        )
    )
    # pinned: _restricted_pairs references this three times
    ebounded = (
        new_ebands.select(*e_cols)
        .unionByName(partner_ebands.select(*e_cols))
        .join(
            F.broadcast(ebucket_updates.where(F.col("_bn") <= LSH_MAX_BUCKET)),
            _BAND_KEY,
        )
        .transform(_pin)
    )
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

    # --- quotient contraction + assignment (shared with v1 semantics) ------
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
    )
    clusters_view = untouched.unionByName(delta)

    new_state = {
        # column-pruned: a state table read back from storage may carry
        # bookkeeping columns the fold does not maintain
        "uniq": state["uniq"].select(*new_uniq.columns).unionByName(new_uniq),
        "reps": state_reps
        .join(F.broadcast(batch_keys), "match_key", "left_anti")
        .unionByName(merged_reps),
        "domain_counts": state["domain_counts"]
        .join(F.broadcast(batch_domains), "domain_canon", "left_anti")
        .unionByName(touched_counts),
        "bucket_counts": _upsert(state["bucket_counts"], bucket_updates, _BAND_KEY),
        "local_counts": _upsert(state["local_counts"], local_updates, ["_dl"]),
        "ebucket_counts": _upsert(state["ebucket_counts"], ebucket_updates, _BAND_KEY),
        "clusters": clusters_view,
    }
    # batch-sized per-table update frames — what a merge-on-read state store
    # appends per fold (streaming.incremental_stream.write_state_mor). Every
    # frame carries the COMPLETE merged value for each key it touches, so
    # latest-epoch-wins resolution reconstructs new_state exactly.
    updates = {
        "uniq": new_uniq,
        "reps": merged_reps,
        "domain_counts": touched_counts,
        "bucket_counts": bucket_updates,
        "local_counts": local_updates,
        "ebucket_counts": ebucket_updates,
        "clusters": delta,
    }
    return {
        "delta": delta,
        "clusters": clusters_view,
        "edges": edges,
        "state": new_state,
        "updates": updates,
    }
