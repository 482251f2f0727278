"""F6/F7/F8 — blocking and candidate-pair generation.

FOUR candidate channels, pairwise DISJOINT by construction (they stratify the
pair space on two axes — same/different canonical domain × same/different
dotless local or block — so their union needs no full-pair dedup shuffle).
All four read one persisted `blocked_dim` that carries the band signatures;
`dim_channels` returns them as named frames, `union_channels` as their union
(`blocking_channels`/`candidate_pairs` persist a dim of their own first):

  1. block     — exact-domain blocking, salted for hot-domain skew (F6). The
                 salt hashes the DOTLESS canonical local part, so every variant
                 of one identity lands in the same salt bucket (dot/quote/case/
                 CFWS variants share the dotless local) — the split is
                 recall-preserving for true matches while breaking a
                 gmail.com-sized block into bounded pieces. Hot domains are
                 detected from data (block size > threshold) and broadcast back
                 (small dim).
  2. local_lsh — MinHash-LSH over character 3-gram shingles of the canonical
                 local part (F7): banded signatures, bucket-join, SAME domain,
                 cross-block only. Catches near-duplicate locals (typos) the
                 salt split separated. Hand-rolled (deterministic seeds) instead
                 of pyspark.ml's MinHashLSH to stay Arrow/DataFrame-native.
                 Buckets capped at LSH_MAX_BUCKET.
  3. xd_local  — cross-domain exact-local blocking: pairs sharing the DOTLESS
                 canonical local across DIFFERENT canonical domains — the
                 domain-typo channel (jo.hn@gmial.com ↔ john@gmail.com).
                 Deterministic recall for every same-local domain edit; blocks
                 keyed by the (highly selective) local, capped at
                 LOCAL_MAX_BLOCK because globally common locals (info@, admin@)
                 are non-discriminative across millions of domains and would
                 regenerate a quadratic pair set for entities that are not the
                 same.
  4. xd_email  — cross-domain full-email MinHash-LSH: banded signatures of
                 local_canon || '@' || domain_canon, restricted to pairs where
                 BOTH the domain and the dotless local differ — the residual
                 channel for simultaneous local + domain typos that neither
                 local_lsh nor xd_local can reach. Buckets capped at
                 LSH_MAX_BUCKET.

block/local_lsh require equal domain_canon, xd_local/xd_email different;
xd_local requires equal dotless local, xd_email different — a partition,
proven by tests/test_blocking_channels.py + test_cross_domain_channels.py.

Pair generation (F8) is a self-join on the block key with an ordered-pair
predicate (a < b) so each unordered pair appears exactly once. A dim that
carries `_is_new` (the incremental fold's blocking slice) is probed instead:
each channel broadcasts its `_is_new` rows against the whole dim and keeps
only pairs with >= 1 new side, oriented a < b — one definition of the
channels for the batch chain and the fold. That broadcast is bounded by the
batch, not the corpus.
"""

from __future__ import annotations

from functools import reduce
from typing import Dict

import numpy as np
import pandas as pd
from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F
from pyspark.sql.functions import pandas_udf
from pyspark.sql.types import ArrayType, LongType

# --- minhash parameters (fixed seeds — determinism is a hard requirement) ------
#
# Hash design constraints (in priority order):
#   1. vectorizable: one numpy pass per Arrow batch, zero per-row Python in the
#      hot path (np.frombuffer code-point view + sliding-window polynomial +
#      np.minimum.reduceat over per-row gram segments);
#   2. SQL-replayable: every operation is exact int64 arithmetic that DuckDB
#      evaluates identically (products bounded < 2^62; 31-bit AND masks
#      instead of division), so the dedup_minhash oracle can replay
#      signatures → bands → bucket join → exact Jaccard verification
#      bit-for-bit;
#   3. deterministic across runs/processes (fixed RandomState seed, no
#      Python hash()).

N_HASHES = 32
N_BANDS = 8
ROWS_PER_BAND = N_HASHES // N_BANDS
_P_GRAM = 65599          # gram polynomial base (code points < 2^21 ⇒ products < 2^56)
M31 = (1 << 31) - 1      # 31-bit mask (x & M31 ≡ x mod 2^31): no int64 division
_BAND_MULT = 1_000_003   # band fold multiplier (acc*mult < 2^51)
_SHINGLE = 3
_rng = np.random.RandomState(0xE5EED)
# affine-mod-2^31 permutations: h ↦ (a*h + b) & M31 with a forced ODD is a
# bijection on [0, 2^31) (odd a is invertible mod 2^31) — a genuine random
# permutation family for the min-hash, with a 31-bit AND instead of an int64
# division. Products < 2^62 — exact on both numpy and DuckDB.
MINHASH_A = (_rng.randint(1, M31, size=N_HASHES).astype(np.int64) | 1)
MINHASH_B = _rng.randint(0, M31, size=N_HASHES).astype(np.int64)


def _gram_hash_str(s: str) -> int:
    """Polynomial hash of one (whole) short string — the <3-char fallback."""
    h = 0
    for ch in s:
        h = (h * _P_GRAM + ord(ch)) & M31
    return h


def minhash_signatures_batch(strings: list, n_hashes: int = N_HASHES) -> np.ndarray:
    """(n, n_hashes) int64 minhash signatures for a batch of strings — the
    first `n_hashes` of the house permutation family, so a reduced-width
    caller (the email channel) computes a PREFIX of the full signature and
    stays replayable with the same constants.

    Fully vectorized: the batch is concatenated once, viewed as a code-point
    array (utf-32-le frombuffer), the 3-gram polynomial hashes are one sliding
    -window expression over the whole batch, and the per-row minima under each
    affine permutation are np.minimum.reduceat over row segments. Strings
    shorter than the shingle width hash as a single whole-string gram
    (per-row fallback; rare)."""
    n = len(strings)
    sigs = np.empty((n, n_hashes), dtype=np.int64)
    if n == 0:
        return sigs
    lens = np.fromiter((len(s) for s in strings), dtype=np.int64, count=n)
    big = "".join(strings)
    cp = np.frombuffer(big.encode("utf-32-le"), dtype=np.uint32).astype(np.int64)
    offs = np.concatenate(([0], np.cumsum(lens)))
    total = len(cp)
    g = (
        ((cp[:-2] * _P_GRAM + cp[1:-1]) * _P_GRAM + cp[2:]) & M31
        if total >= 3
        else np.empty(0, dtype=np.int64)
    )
    long_rows = np.nonzero(lens >= _SHINGLE)[0]
    if len(long_rows):
        counts = lens[long_rows] - (_SHINGLE - 1)
        mark = np.zeros(len(g) + 1, dtype=np.int64)
        np.add.at(mark, offs[long_rows], 1)
        np.add.at(mark, offs[long_rows] + counts, -1)
        valid = np.cumsum(mark[:-1]) > 0
        gv = g[valid]
        seg = np.concatenate(([0], np.cumsum(counts)[:-1]))
        for k in range(n_hashes):
            vals = (MINHASH_A[k] * gv + MINHASH_B[k]) & M31
            sigs[long_rows, k] = np.minimum.reduceat(vals, seg)
    for i in np.nonzero(lens < _SHINGLE)[0]:
        h = _gram_hash_str(strings[i])
        sigs[i, :] = (MINHASH_A[:n_hashes] * h + MINHASH_B[:n_hashes]) & M31
    return sigs


def minhash_band_sigs(sigs: np.ndarray) -> np.ndarray:
    """(n, n_bands) band keys: polynomial fold of each band's ROWS_PER_BAND
    consecutive signature values, masked to 31 bits (exact in int64 and in
    DuckDB). The band count follows the signature width, so reduced-width
    signatures (the email channel) fold into proportionally fewer bands."""
    n = sigs.shape[0]
    n_bands = sigs.shape[1] // ROWS_PER_BAND
    out = np.empty((n, n_bands), dtype=np.int64)
    for b in range(n_bands):
        acc = np.zeros(n, dtype=np.int64)
        for r in range(ROWS_PER_BAND):
            acc = (acc * _BAND_MULT + sigs[:, b * ROWS_PER_BAND + r]) & M31
        out[:, b] = acc
    return out


def minhash_oracle_sql_parts() -> dict:
    """The hash constants, formatted for embedding in DuckDB oracle SQL that
    replays the signature/band computation exactly (see __spark_entry__)."""
    return {
        "p_gram": _P_GRAM,
        "m31": M31,
        "band_mult": _BAND_MULT,
        "a": [int(x) for x in MINHASH_A],
        "b": [int(x) for x in MINHASH_B],
        "n_hashes": N_HASHES,
        "n_bands": N_BANDS,
        "rows_per_band": ROWS_PER_BAND,
    }


@pandas_udf(ArrayType(LongType()))
def minhash_bands_udf(locals_: pd.Series) -> pd.Series:
    """Per string: N_BANDS band signatures (the LSH bucket keys), one
    vectorized batch pass (no per-row Python)."""
    strings = [s if isinstance(s, str) else "" for s in locals_]
    bands = minhash_band_sigs(minhash_signatures_batch(strings))
    return pd.Series(list(bands))


# xd_email (cross-domain full-email LSH) runs HALF-width: the residual
# channel for simultaneous local+domain typos needs far less collision
# probability than the primary same-domain typo channel — and its per-band
# costs (signature hashing on the dim, explode rows, cap-window size,
# self-join fan-in) all scale linearly with the band count. Measured at
# sf0.01: the channel's responsibility set (true pairs where BOTH the
# domain and the dotless local differ) is covered at EVERY band count
# (/tmp probe, round 5 — the corpus' cross-domain true pairs all share the
# dotless local and ride channel 3), so PC = 1.0 is band-count-invariant
# here; the 4-band floor keeps the residual recall surface real
# (P[collide] = 1-(1-s^4)^4 ≈ 66% at gram-similarity 0.7) at half the
# cost. The oracle replays the same prefix constants
# (oracles.email_lsh_pairs_cte reads EMAIL_N_BANDS).
EMAIL_N_BANDS = 4


@pandas_udf(ArrayType(LongType()))
def email_minhash_bands_udf(emails_: pd.Series) -> pd.Series:
    """Half-width banding for the email channel: the FIRST
    EMAIL_N_BANDS*ROWS_PER_BAND permutations of the house family (a prefix,
    so the DuckDB replay uses the same constants)."""
    strings = [s if isinstance(s, str) else "" for s in emails_]
    sigs = minhash_signatures_batch(strings, n_hashes=EMAIL_N_BANDS * ROWS_PER_BAND)
    return pd.Series(list(minhash_band_sigs(sigs)))


def with_minhash_bands(df: DataFrame) -> DataFrame:
    """Add the LSH band signatures of a distinct-email frame (email,
    local_canon, domain_canon): the one place the MinHash UDFs run.

      band_sigs   — N_BANDS band keys of local_canon (local_lsh)
      email_bands — EMAIL_N_BANDS band keys of the canonical assembled
                    address local_canon || '@' || domain_canon (xd_email)

    Both are pure functions of the email, so they are computed once per
    representative and ride every table that carries it: the persisted
    blocked dim (`blocked_dim`), which under the fold bootstrap becomes the
    fold state's `reps`, and the fold's merged reps (incremental.py), where
    the UDFs then only ever see the reps of the batch's keys."""
    return df.withColumn(
        "band_sigs", minhash_bands_udf(F.col("local_canon"))
    ).withColumn(
        "email_bands",
        email_minhash_bands_udf(
            F.concat(F.col("local_canon"), F.lit("@"), F.col("domain_canon"))
        ),
    )


# Bucket caps of the capped channels: an LSH bucket (local_lsh, xd_email) or
# a cross-domain dotless-local block (xd_local) with more emails than this is
# non-discriminative and dropped whole. The incremental fold and the DuckDB
# replay (oracles.email_lsh_pairs_cte, __spark_entry__._ORACLE_PAIRS) read
# these same constants.
LSH_MAX_BUCKET = 50
LOCAL_MAX_BLOCK = 50


def dotless_local(col: str = "local_canon") -> Column:
    """A canonical local part (`col`) with its dots removed: every dot
    variant of one identity shares it (the salt input, the cross-domain
    block key, and the scorer's JW/Levenshtein input)."""
    return F.regexp_replace(F.col(col), r"\.", "")


# --- exact-domain salted blocking ----------------------------------------------


def with_salted_domain_block(
    mentions: DataFrame,
    hot_threshold: int = 10_000,
    target_block_size: int = 5_000,
) -> DataFrame:
    """Add `block_key`: domain_canon, salted when the domain block exceeds
    hot_threshold rows. Salt = hash(dotless local) % n_salts, so variants of
    one identity always share a bucket. The hot-domain dim is tiny (only
    domains above threshold) and is broadcast.

    The counts are taken over `mentions` itself, so a caller that blocks a
    slice (the incremental fold) must hand in every row of each domain it
    blocks; salting decisions are then identical to a full run."""
    sizes = (
        mentions.groupBy("domain_canon")
        .agg(F.count(F.lit(1)).alias("_dom_n"))
        .where(F.col("_dom_n") > hot_threshold)
        .withColumn(
            "_n_salts",
            F.ceil(F.col("_dom_n") / F.lit(target_block_size)).cast("int"),
        )
        .select("domain_canon", "_n_salts")
    )
    joined = mentions.join(F.broadcast(sizes), "domain_canon", "left")
    return joined.withColumn(
        "block_key",
        F.when(
            F.col("_n_salts").isNotNull(),
            F.concat(
                F.col("domain_canon"),
                F.lit("#"),
                F.pmod(F.xxhash64(dotless_local()), F.col("_n_salts")).cast("string"),
            ),
        ).otherwise(F.col("domain_canon")),
    ).drop("_n_salts")


# --- candidate pairs -------------------------------------------------------------


def _valid_per_email(mentions: DataFrame, *cols: str) -> DataFrame:
    """One row per distinct valid email carrying `cols`.

    An explicit groupBy rather than dropDuplicates(["email"]): the canonical
    columns are functions of the email, so first() is exact, and unlike the
    subset dedup the result composes with exceptAll/intersectAll (Spark 4.1
    fails those with INTERNAL_ERROR_ATTRIBUTE_NOT_FOUND). Same physical
    plan as the dedup: one exchange on email."""
    return (
        mentions.where(F.col("valid_lax"))
        .groupBy("email")
        .agg(*[F.first(c).alias(c) for c in cols])
    )


def _unique_mentions(mentions: DataFrame) -> DataFrame:
    """Entity resolution operates on distinct valid mention strings, not
    occurrences: dedupe first so pair generation is quadratic in DISTINCT
    emails per block, not in raw mention count."""
    return _valid_per_email(mentions, "local_canon", "domain_canon")


def uniq_valid_mentions(mentions: DataFrame) -> DataFrame:
    """Distinct valid emails with their canonical/matching columns — the ONE
    table every downstream ER stage keys off. Compute (and persist) it once:
    reps, star edges, and the cluster node set all derive from it with
    shuffles over |distinct emails| rows instead of re-scanning and
    re-deduplicating the full mention stream per stage."""
    return _valid_per_email(mentions, "local_canon", "domain_canon", "match_key")


def match_key_representatives(mentions: DataFrame, uniq: DataFrame = None) -> DataFrame:
    """One representative per exact-canonical key (match_key = dotless local
    @ lower domain): the min email, carrying that email's OWN local_canon
    (dotted) as the scoring feature. Emails sharing a match_key are trivially
    the same entity (score formula: jw=1, lev=0, dom=0, dotless_eq=1 ⇒
    score=1.0), so the quadratic fuzzy stage only needs to compare KEYS —
    the standard exact-dedup-before-fuzzy-match reduction. At 10^12 turns
    this shrinks the pair space by the per-entity variant multiplicity
    squared.

    The rep keeps the min email's actual local_canon (min_by) rather than the
    dot-stripped key local: JW/Levenshtein then see the same dotted strings
    the full path scores (dot-insensitivity is already captured by the
    dotless_eq feature), so cross-key pairs near the threshold score
    identically on both paths instead of flipping sides when dots are
    stripped (round-1 ADVICE).

    → (match_key, domain_canon, email, local_canon): the grouping key stays
    in the output, so the fold state's `reps` (keyed by match_key) is a
    projection of the banded dim built from these rows."""
    src = uniq if uniq is not None else uniq_valid_mentions(mentions)
    return src.groupBy("match_key", "domain_canon").agg(
        F.min("email").alias("email"),
        F.min_by("local_canon", "email").alias("local_canon"),
    )


def exact_match_edges(mentions: DataFrame, uniq: DataFrame = None) -> DataFrame:
    """Star edges (root = min email) inside each exact-canonical group —
    guaranteed matches that never enter the pairwise scorer. One shuffle on
    match_key; output is already depth-1, so the CC loop converges on these
    immediately."""
    src = uniq if uniq is not None else uniq_valid_mentions(mentions)
    uniq = src.select("email", "match_key")
    roots = uniq.groupBy("match_key").agg(F.min("email").alias("_root"))
    return (
        uniq.join(roots, "match_key")
        .where(F.col("email") != F.col("_root"))
        .select(
            F.col("_root").alias("src"),
            F.col("email").alias("dst"),
            F.lit(1.0).alias("score"),
        )
    )


_BAND_KEY = ["band_idx", "band_sig"]


def _cap_buckets(df: DataFrame, keys: list, cap: int) -> DataFrame:
    """Drop every row whose bucket (group on `keys`) holds more than `cap`
    rows — the over-populous-key purge shared by the LSH and exact-local
    channels. A window count: ONE hash exchange on `keys`, a per-partition
    sort, count(*) over the frame, filter. The window's output partitioning
    is exactly the downstream self-join's join key partitioning, so the SMJ
    reuses the exchange instead of re-shuffling both sides (BENCH/BASELINE.md,
    "Round-4 bucket-cap plan shape: window count vs groupBy + join-back")."""
    out = df.withColumn("_bn", F.count(F.lit(1)).over(Window.partitionBy(*keys)))
    return out.where(F.col("_bn") <= cap).drop("_bn")


def blocked_dim(
    mentions: DataFrame,
    hot_threshold: int,
    target_block_size: int,
    collapse_exact: bool = False,
    uniq: DataFrame = None,
) -> DataFrame:
    """The distinct-email dim every channel reads: (email, local_canon,
    domain_canon) plus `block_key` (salted exact-domain block), `_dl` (the
    dotless local, the cross-domain block key) and the band signatures
    `band_sigs`/`email_bands` (`with_minhash_bands`).

      * collapse_exact — one representative per match_key instead of every
        distinct email; pair with exact_match_edges() for the within-key
        guaranteed matches.
      * uniq — an already-built distinct-email table to block instead of
        re-deriving it from `mentions`.

    Lazy and unpersisted: `dim_channels` reads it eight times (both join
    sides of each channel), so its reader persists it, and whoever
    persists it owns the cache entry and releases it — `pipeline.resolve`
    returns the dim it persists as its `dim` stage. Under the fold
    bootstrap (`incremental.build_incremental_state`) that owner is the
    fold state: its `reps` table is a projection of this dim."""
    if collapse_exact:
        uniq = match_key_representatives(mentions, uniq=uniq)
    elif uniq is not None:
        uniq = uniq.select("email", "local_canon", "domain_canon")
    else:
        uniq = _unique_mentions(mentions)
    return with_minhash_bands(
        with_salted_domain_block(uniq, hot_threshold, target_block_size)
        .withColumn("_dl", dotless_local())
    )


def dim_channels(dim: DataFrame, dedupe: bool = True) -> Dict[str, DataFrame]:
    """The four disjoint candidate channels of the module docstring, read
    from one `blocked_dim`, as named frames in order: `block`, `local_lsh`,
    `xd_local`, `xd_email`. Each is (email_a, email_b, local_canon_a/b,
    domain_canon_a/b) with email_a < email_b.

    A dim that carries a boolean `_is_new` (the incremental fold's slice)
    yields only the pairs with >= 1 new side: each channel joins its
    `_is_new` rows, broadcast, against all of its rows, so the dim streams
    through the join unshuffled and old<->old pairs never form. The
    broadcast is bounded by the batch: its new rows, times the band count
    on the LSH channels. A new<->new pair is kept from its lower side, a
    new<->old pair from its only new side, and both come out oriented
    email_a < email_b. Every cap and salt is still counted over the whole
    dim, so each block and bucket with a new row must be complete in it.

    dedupe=False skips the LSH-channel dropDuplicates shuffles; the few
    duplicated candidates (LSH multi-band collisions) score identically,
    and match_edges de-duplicates the far smaller edge set instead.

    `dim` should be persisted: without the cache each of its references
    re-runs the distinct + hot-domain + banding subtree — Spark's
    compile-time plan shows zero ReusedExchange across them. The dim is
    O(|distinct emails|), tiny next to the pair set. Measured same-session
    pinned A/B at sf0.1 ×3 runs: old overlapping-channels plan best
    15.1 s, disjoint+persist best 7.5 s for the full score_pairs chain."""
    probe = "_is_new" in dim.columns
    cols = ["email", "local_canon", "domain_canon"] + (["_is_new"] if probe else [])

    # The self-join carries all pair columns through its exchange: measured
    # at replicated scale (x32 corpus, 1.7M distinct emails), generating
    # id-only pairs and re-attaching local/domain via equi-joins LOSES —
    # once the distinct-email table outgrows the broadcast threshold the two
    # attach joins are full sort-merge shuffles of the pair set, costing
    # more than the wider payload ever did. Exchange COUNT beats exchange
    # bytes.
    def self_join(
        df: DataFrame,
        key: list,
        cross_block: bool = False,
        cross_domain: bool = False,
        diff_local: bool = False,
    ) -> DataFrame:
        a = df.alias("a")
        b = df.alias("b")
        a_first = F.col("a.email") < F.col("b.email")
        cond = a_first
        if probe:
            a = F.broadcast(df.where(F.col("_is_new"))).alias("a")
            cond = a_first | ~F.col("b._is_new")
        # the channel's stratum (module docstring)
        if cross_block:
            cond = cond & (F.col("a.block_key") != F.col("b.block_key"))
        if cross_domain:
            cond = cond & (F.col("a.domain_canon") != F.col("b.domain_canon"))
        if diff_local:
            cond = cond & (F.col("a._dl") != F.col("b._dl"))

        def side(col: str, s: str) -> Column:
            own, other = F.col(f"a.{col}"), F.col(f"b.{col}")
            if s == "b":
                own, other = other, own
            return F.when(a_first, own).otherwise(other) if probe else own

        return a.join(b, on=key).where(cond).select(
            *[
                side(col, s).alias(f"{col}_{s}")
                for col in ("email", "local_canon", "domain_canon")
                for s in "ab"
            ]
        )

    def lsh_dedupe(pairs: DataFrame) -> DataFrame:
        # only multi-band duplicates remain, and only within the channel
        return pairs.dropDuplicates(["email_a", "email_b"]) if dedupe else pairs

    # Frequent-bucket pruning: a bucket holding more than LSH_MAX_BUCKET
    # emails is non-discriminative (e.g. a corpus whose locals share a long
    # prefix makes most pairs band-collide) and would regenerate the full
    # quadratic pair set; true near-duplicate groups are small. Standard
    # LSH-at-scale practice; the exact-domain channel keeps full recall on
    # the blocking key regardless.
    #
    # Shape note (measured at x32 corpus / 1.7M distinct emails): the
    # tungsten sort-merge self-join beats a collect_list + HOF pair
    # explosion ~3x here (per-row array/struct allocation dominates at
    # email-corpus pair volumes). The band signatures ride the persisted
    # dim, so both self-join sides (and the cap window) posexplode cached
    # arrays and the banding UDF runs once per distinct email; evaluating
    # it in this select instead ran it once per side, most of the
    # channel's cost at sf0.01 (BENCH/BASELINE.md, "Band once, verify only
    # what can match"). dedup.py keeps the single-eval
    # HOF form for DOCUMENT corpora, where signatures (long texts) dominate
    # and buckets are few. LSH pairs only gate the scorer; restricting to
    # same canonical domain keeps the channel to hard same-domain
    # candidates (identity variants never change the domain).
    local_bands = dim.select(
        *cols, "block_key", F.posexplode(F.col("band_sigs")).alias(*_BAND_KEY)
    )
    # xd_email: signatures over the canonical assembled address, bucket
    # sizes counted over all emails in the bucket
    email_bands = dim.select(
        *cols, "_dl", F.posexplode(F.col("email_bands")).alias(*_BAND_KEY)
    )
    return {
        "block": self_join(dim.select("block_key", *cols), ["block_key"]),
        "local_lsh": lsh_dedupe(
            self_join(
                _cap_buckets(local_bands, _BAND_KEY, LSH_MAX_BUCKET),
                _BAND_KEY + ["domain_canon"],
                cross_block=True,
            )
        ),
        # block sizes are counted over the whole dim (not per domain): a
        # local shared by more than LOCAL_MAX_BLOCK emails is
        # non-discriminative wherever it appears
        "xd_local": self_join(
            _cap_buckets(dim, ["_dl"], LOCAL_MAX_BLOCK).select("_dl", *cols),
            ["_dl"],
            cross_domain=True,
        ),
        "xd_email": lsh_dedupe(
            self_join(
                _cap_buckets(email_bands, _BAND_KEY, LSH_MAX_BUCKET),
                _BAND_KEY,
                cross_domain=True,
                diff_local=True,
            )
        ),
    }


def blocking_channels(
    mentions: DataFrame,
    hot_threshold: int,
    target_block_size: int,
    collapse_exact: bool = False,
    dedupe: bool = True,
    uniq: DataFrame = None,
) -> Dict[str, DataFrame]:
    """`dim_channels` over a `blocked_dim` built (same parameters) and
    persisted here. No handle to that dim is returned, so its cache entry
    lives until the session's cache is cleared or LRU-evicts it; a caller
    that must release it builds the dim itself, as `pipeline.resolve`
    does."""
    dim = blocked_dim(mentions, hot_threshold, target_block_size, collapse_exact, uniq)
    return dim_channels(dim.persist(), dedupe)


def candidate_pairs(
    mentions: DataFrame,
    hot_threshold: int = 10_000,
    target_block_size: int = 5_000,
    collapse_exact: bool = False,
    dedupe: bool = True,
    uniq: DataFrame = None,
) -> DataFrame:
    """→ (email_a, email_b, local_canon_a/b, domain_canon_a/b), each unordered
    pair once: `union_channels` of the four `blocking_channels` (same
    parameters)."""
    return union_channels(
        blocking_channels(
            mentions, hot_threshold, target_block_size, collapse_exact, dedupe, uniq
        )
    )


def union_channels(channels: Dict[str, DataFrame]) -> DataFrame:
    """The union of the `dim_channels` frames, each unordered pair once.

    The channels are pairwise DISJOINT by construction, so no full-pair-set
    dedup shuffle ever runs (round-3: this removed the single biggest
    exchange in er_pairs_scored — the wide 2M-row dropDuplicates):
      * every local_lsh pair shares domain_canon (join key), so in a non-hot
        domain both sides carry block_key == domain_canon and the pair is
        already generated by the block channel;
      * in a hot domain, a same-salt-bucket pair shares block_key and is
        likewise a block-channel pair;
      * therefore local_lsh keeps ONLY cross-block pairs (block_key_a !=
        block_key_b — the typo'd locals whose dotless hashes landed in
        different salt buckets), which the block channel can never produce.
        Block-channel pairs are unique outright (one block_key per email ⇒
        one join hit per pair);
      * xd_local and xd_email require domain_canon_a != domain_canon_b
        (block and local_lsh require equality); xd_email additionally
        requires the dotless locals to DIFFER, making it disjoint from
        xd_local. LSH multi-band duplicates are removed within each (far
        smaller) channel when dedupe=True; xd_local is duplicate-free
        outright (single join key)."""
    return reduce(DataFrame.unionByName, channels.values())
