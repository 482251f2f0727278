"""F9/F10 — batched pairwise scoring and the match decision.

Features per candidate pair (north_star feature list):
  * jw_local      — Jaro-Winkler similarity of canonical local parts
                    (pandas UDF: distinct-pair memo feeding the vectorized
                    numpy kernel, or rapidfuzz's C kernel when installed —
                    semantics match DuckDB's jaro_winkler_similarity:
                    byte mode, prefix scale 0.1, max prefix 4, boost
                    threshold 0.7, so the oracle can replay it)
  * lev_local     — builtin levenshtein(local_canon_a, local_canon_b)
                    (JVM, whole-stage codegen)
  * dom_edit      — builtin levenshtein(domain_canon_a, domain_canon_b)
  * dotless_eq    — exact equality of dot-stripped locals (the reference's
                    Eq is exact pair equality, email_address.rs:78; dot
                    variants are therefore distinct strings by construction
                    and this feature is what re-unites them)

score = 0.35*jw + 0.20*(1 - lev_norm) + 0.25*dom_sim + 0.20*dotless_eq
edges = pairs where score >= threshold (default 0.90), found through the
        builtin upper bound score_bound() (jw = 1) first, so Jaro-Winkler
        runs only on pairs that can still match (filter, then verify).
"""

from __future__ import annotations

import numpy as np
import pandas as pd
from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql.functions import pandas_udf
from pyspark.sql.types import DoubleType

from .blocking import dotless_local

DEFAULT_THRESHOLD = 0.90

try:  # vectorized C implementation if present
    from rapidfuzz.distance.JaroWinkler import similarity as _jw_fast  # type: ignore
except Exception:  # pragma: no cover - sandbox has no rapidfuzz
    _jw_fast = None
# Shipping rapidfuzz to the executors (round-2 item 1a / round-4 item 4) is
# CLOSED AS BLOCKED in-sandbox: the container has no rapidfuzz wheel and no
# network to fetch one, so there is nothing to vendor under dist/. The seam
# stays live for deployments that have it: install the wheel (or pass it via
# jobs/package_pyfiles.py --py-files), and this import routes every JW call
# through the C kernel via the same distinct-pair memo (no code change).
# Measured fallback cost: the numpy-batch kernel below scores ~410k
# pairs/s/core, within the envelope BENCH/BASELINE.md documents.


def jaro_similarity(s1, s2) -> float:
    # operate on UTF-8 bytes, not code points: this matches DuckDB's
    # jaro_winkler_similarity exactly, which keeps the feature replayable in
    # the DuckDB oracle (and the levenshtein feature is Spark-builtin anyway)
    if isinstance(s1, str):
        s1 = s1.encode("utf-8")
    if isinstance(s2, str):
        s2 = s2.encode("utf-8")
    len1, len2 = len(s1), len(s2)
    if len1 == 0 or len2 == 0:
        return 0.0  # DuckDB convention: jaro('', '') == 0.0
    if s1 == s2:
        return 1.0
    window = max(len1, len2) // 2 - 1
    if window < 0:
        window = 0
    flags1 = [False] * len1
    flags2 = [False] * len2
    matches = 0
    for i, c in enumerate(s1):
        lo = max(0, i - window)
        hi = min(len2, i + window + 1)
        for j in range(lo, hi):
            if not flags2[j] and s2[j] == c:
                flags1[i] = flags2[j] = True
                matches += 1
                break
    if matches == 0:
        return 0.0
    transpositions = 0
    j = 0
    for i in range(len1):
        if flags1[i]:
            while not flags2[j]:
                j += 1
            if s1[i] != s2[j]:
                transpositions += 1
            j += 1
    t = transpositions // 2
    return (matches / len1 + matches / len2 + (matches - t) / matches) / 3.0


def jaro_winkler_similarity(s1, s2, prefix_scale: float = 0.1, boost_threshold: float = 0.7) -> float:
    if isinstance(s1, str):
        s1 = s1.encode("utf-8")
    if isinstance(s2, str):
        s2 = s2.encode("utf-8")
    jaro = jaro_similarity(s1, s2)
    if jaro <= boost_threshold:
        return jaro
    prefix = 0
    for a, b in zip(s1[:4], s2[:4]):
        if a == b:
            prefix += 1
        else:
            break
    return jaro + prefix * prefix_scale * (1.0 - jaro)


# strings longer than this fall back to the scalar loop (rare; keeps the padded
# batch matrices bounded at _MAXLEN_VECTOR**2 bools per pair)
_MAXLEN_VECTOR = 256
_LEN_BUCKETS = (8, 12, 16, 24, 32, 48, 64, 96, 128, _MAXLEN_VECTOR)


def _pack_padded(byte_rows: list, lens: np.ndarray, width: int) -> np.ndarray:
    """(m, width) uint8 matrix from variable-length byte strings, zero-padded —
    one bulk scatter, no per-row numpy calls."""
    m = len(byte_rows)
    out = np.zeros((m, width), dtype=np.uint8)
    if m == 0 or lens.sum() == 0:
        return out
    flat = np.frombuffer(b"".join(byte_rows), dtype=np.uint8)
    offs = np.concatenate(([0], np.cumsum(lens)[:-1]))
    idx = (
        np.arange(lens.sum(), dtype=np.int64)
        - np.repeat(offs, lens)
        + np.repeat(np.arange(m, dtype=np.int64) * width, lens)
    )
    out.ravel()[idx] = flat
    return out


def _jw_kernel(s1: list, s2: list) -> np.ndarray:
    """Vectorized Jaro-Winkler over a batch of UTF-8 byte-string pairs.

    Bit-exact replica of jaro_winkler_similarity(): the greedy window match is
    run as an (i, j) double loop over PADDED positions with all pair-level
    state (window bounds, match flags, found-this-i) as batch-wide boolean
    masks, so every numpy op is O(batch) and no Python executes per pair.
    Division/boost expressions mirror the scalar code token-for-token so the
    float64 results are identical (and therefore still replayable by DuckDB's
    jaro_winkler_similarity in the oracle)."""
    m = len(s1)
    l1 = np.fromiter((len(s) for s in s1), dtype=np.int64, count=m)
    l2 = np.fromiter((len(s) for s in s2), dtype=np.int64, count=m)
    L1 = int(l1.max()) if m else 0
    L2 = int(l2.max()) if m else 0
    A = _pack_padded(s1, l1, L1)
    B = _pack_padded(s2, l2, L2)

    w = np.maximum(np.maximum(l1, l2) // 2 - 1, 0)
    wg = int(w.max()) if m else 0
    flags1 = np.zeros((m, L1), dtype=bool)
    flags2 = np.zeros((m, L2), dtype=bool)
    row_ix = np.arange(m)
    # greedy window matching: i advances sequentially (later matches depend on
    # earlier flags2 state), but "first available j for this i" is one argmax
    # over an (m, window) validity slab — ~8 vectorized ops per i, no per-j loop
    for i in range(L1):
        j0 = max(0, i - wg)
        j1 = min(L2, i + wg + 1)
        if j0 >= j1:
            break
        lo = np.maximum(0, i - w)
        hi = np.minimum(l2, i + w + 1)
        jj = np.arange(j0, j1)
        valid = (
            (B[:, j0:j1] == A[:, i][:, None])
            & ~flags2[:, j0:j1]
            & (jj[None, :] >= lo[:, None])
            & (jj[None, :] < hi[:, None])
        )
        first = valid.argmax(axis=1)
        has = valid[row_ix, first] & (i < l1)
        rows = np.nonzero(has)[0]
        flags2[rows, j0 + first[rows]] = True
        flags1[:, i] = has

    matches = flags1.sum(axis=1)
    mm = int(matches.max()) if m else 0
    t = np.zeros(m, dtype=np.int64)
    if mm > 0:
        M1 = np.zeros((m, mm), dtype=np.uint8)
        M2 = np.zeros((m, mm), dtype=np.uint8)
        r1 = flags1.cumsum(axis=1) - 1
        rows, cols = np.nonzero(flags1)
        M1[rows, r1[rows, cols]] = A[rows, cols]
        r2 = flags2.cumsum(axis=1) - 1
        rows, cols = np.nonzero(flags2)
        M2[rows, r2[rows, cols]] = B[rows, cols]
        t = (
            ((M1 != M2) & (np.arange(mm)[None, :] < matches[:, None])).sum(axis=1)
            // 2
        )

    safe_m = np.maximum(matches, 1)
    jaro = np.where(
        matches > 0,
        (
            matches / np.maximum(l1, 1)
            + matches / np.maximum(l2, 1)
            + (matches - t) / safe_m
        )
        / 3.0,
        0.0,
    )

    prefix = np.zeros(m, dtype=np.int64)
    cont = np.ones(m, dtype=bool)
    for p in range(min(4, L1, L2)):
        cont = cont & (p < l1) & (p < l2) & (A[:, p] == B[:, p])
        prefix += cont
    return np.where(jaro > 0.7, jaro + prefix * 0.1 * (1.0 - jaro), jaro)


def jaro_winkler_batch(a: pd.Series, b: pd.Series) -> np.ndarray:
    """Batch JW with within-batch pair memoization: unique both columns,
    compute each DISTINCT (a, b) string pair exactly once (candidate pairs
    repeat the same local-part pairs across domains), then run the distinct
    hard pairs through the vectorized kernel in max-length buckets.

    np.unique (Python string comparisons), NOT pd.factorize: pandas'
    StringHashTable compares via NUL-terminated C strings, so a local part
    containing an escaped NUL (quoted-pair '\\\\x00' — grammar-legal) would
    collide with its truncated prefix and score as the wrong pair."""
    n = len(a)
    if n == 0:
        return np.empty(0, dtype=np.float64)
    ua, ca = np.unique(a.to_numpy(dtype=object), return_inverse=True)
    ub, cb = np.unique(b.to_numpy(dtype=object), return_inverse=True)
    pk = ca.astype(np.int64) * len(ub) + cb
    upk, inv = np.unique(pk, return_inverse=True)
    a_u = ua[upk // len(ub)]
    b_u = ub[upk % len(ub)]

    res = np.empty(len(upk), dtype=np.float64)
    la = np.fromiter((len(s) for s in a_u), dtype=np.int64, count=len(a_u))
    lb = np.fromiter((len(s) for s in b_u), dtype=np.int64, count=len(b_u))
    eq = a_u == b_u
    res[eq] = 1.0
    res[(la == 0) | (lb == 0)] = 0.0
    hard = np.nonzero(~eq & (la > 0) & (lb > 0))[0]
    if len(hard):
        ab = [s.encode("utf-8") for s in a_u[hard]]
        bb = [s.encode("utf-8") for s in b_u[hard]]
        if _jw_fast is not None:
            # rapidfuzz C kernel, fed DISTINCT hard pairs in byte mode (same
            # memo as the numpy path — never per input row; round-2 ADVICE)
            res[hard] = [_jw_fast(x, y) for x, y in zip(ab, bb)]
            return res[inv]
        hla = np.fromiter((len(s) for s in ab), dtype=np.int64, count=len(ab))
        hlb = np.fromiter((len(s) for s in bb), dtype=np.int64, count=len(bb))
        hmax = np.maximum(hla, hlb)
        bucket = np.searchsorted(np.asarray(_LEN_BUCKETS), hmax)
        for bi in range(len(_LEN_BUCKETS) + 1):
            sel = np.nonzero(bucket == bi)[0]
            if not len(sel):
                continue
            if bi == len(_LEN_BUCKETS):  # over _MAXLEN_VECTOR: scalar fallback
                res[hard[sel]] = [
                    jaro_winkler_similarity(ab[k], bb[k]) for k in sel
                ]
            else:
                res[hard[sel]] = _jw_kernel(
                    [ab[k] for k in sel], [bb[k] for k in sel]
                )
    return res[inv]


@pandas_udf(DoubleType())
def jaro_winkler_udf(a: pd.Series, b: pd.Series) -> pd.Series:
    a = a.fillna("")
    b = b.fillna("")
    return pd.Series(jaro_winkler_batch(a, b), index=a.index, dtype="float64")


# the feature columns score_pairs adds, which its score is built from
_FEATURES = {"jw_local", "lev_local", "dom_edit", "dotless_eq"}


def _weighted_score(jw: Column) -> Column:
    """The match score of a `score_pairs` frame with `jw` as its
    Jaro-Winkler term; every other term is a JVM builtin over the frame's
    feature columns."""
    max_local_len = F.greatest(
        F.length(dotless_local("local_canon_a")),
        F.length(dotless_local("local_canon_b")),
        F.lit(1),
    )
    max_dom_len = F.greatest(
        F.length("domain_canon_a"), F.length("domain_canon_b"), F.lit(1)
    )
    return F.round(
        F.lit(0.35) * jw
        + F.lit(0.20) * (F.lit(1.0) - F.col("lev_local") / max_local_len)
        + F.lit(0.25) * (F.lit(1.0) - F.col("dom_edit") / max_dom_len)
        + F.lit(0.20) * F.col("dotless_eq"),
        6,
    )


def score_bound() -> Column:
    """An upper bound on `score` that needs no Python: the score with JW at
    its maximum 1. Exact as a filter: JW <= 1, floating-point products and
    sums are monotone in each operand and the bound adds the same terms in
    the same order, and round() is monotone, so score >= t implies
    score_bound() >= t for every threshold t. The bound is rounded like the
    score for that reason: a pair whose unrounded score sits just under t
    but rounds up to it keeps a bound >= t."""
    return _weighted_score(F.lit(1.0))


def score_pairs(pairs: DataFrame, rebalance: bool = True) -> DataFrame:
    """Add feature + score columns to candidate pairs.

    jw_local / lev_local are computed over the DOTLESS locals: dot placement
    is canonically insignificant (match_key strips it), so a dot difference
    must not spend edit budget a real typo needs. Round-4 case in point:
    jo.hn@gmial.com ↔ john@gmail.com is one identity (dot variant × domain
    typo); scored on dotted forms the dot eats 0.06 of margin and the pair
    misses the 0.90 threshold, scored dotless it clears at ≈0.944 while the
    hard negative johnx@gmail.com stays at 0.746
    (tests/test_cross_domain_channels.py).

    rebalance (default on): an AQE REBALANCE exchange between candidate
    generation and the Arrow scorer. Without it the UDF pipelines into the
    channels' final join stages — hundreds of small output partitions, so
    the scorer sees tiny Arrow batches and the within-batch distinct-pair
    memo barely fires; consolidated to advisory-sized partitions the same
    2.4M-pair chain drops 14.0 → 9.1 s at sf0.1/local[32] (−35%, probed
    against repartition(32)≈9.0 — the hint matches the magic number while
    staying size-adaptive at any corpus). Values are identical either way;
    callers scoring BATCH-sized pair sets in a fold hot loop can pass
    False to save the stage barrier.

    The rebalance only shapes a consumer that reads every scored row
    (`resolve()["scored"]`, er_pairs_scored). A filter on `score` right
    above this frame is pushed by Catalyst through the scorer's Project and
    through the rebalance into every channel branch below the Union: the
    UDF then runs inside the unbalanced join partitions on every candidate,
    and once more above the rebalance for the projected `jw_local`.
    match_edges therefore filters on the builtin `score_bound()`, which
    lands in each branch's join condition, and thresholds `score` only
    after its dedup aggregate, which Catalyst cannot push through: JW runs
    once, above the rebalance, on the pairs that can still match."""
    if rebalance:
        pairs = pairs.hint("rebalance")
    dotless_a = dotless_local("local_canon_a")
    dotless_b = dotless_local("local_canon_b")
    return (
        pairs.withColumn(
            "jw_local", jaro_winkler_udf(dotless_a, dotless_b)
        )
        .withColumn(
            "lev_local", F.levenshtein(dotless_a, dotless_b)
        )
        .withColumn(
            "dom_edit", F.levenshtein(F.col("domain_canon_a"), F.col("domain_canon_b"))
        )
        .withColumn("dotless_eq", (dotless_a == dotless_b).cast("double"))
        .withColumn("score", _weighted_score(F.col("jw_local")))
    )


def match_edges(scored: DataFrame, threshold: float = DEFAULT_THRESHOLD) -> DataFrame:
    """F10: threshold filter → edges(src, dst, score), filter then verify:

      1. on `score_pairs` output, keep pairs whose builtin `score_bound()`
         reaches the threshold — exact, so no edge is lost, and Catalyst
         pushes it into every channel's join condition below the
         rebalance. A frame without the scorer's features (a score from
         elsewhere) skips this step;
      2. de-duplicate (src, dst) with max(score): when candidate
         generation skipped its pair-level dropDuplicates
         (blocking.candidate_pairs(dedupe=False)), the duplicate
         candidates score identically and this far smaller shuffle
         removes them;
      3. keep groups whose max score reaches the threshold. That is
         exactly the groups with a row at or above it, with the same max,
         so it equals thresholding before the dedup — and Catalyst cannot
         push a filter on an aggregate below it: the Jaro-Winkler UDF runs
         once, above the rebalance, on the bound's survivors only
         (score_pairs' docstring has the plan).

    A groupBy rather than dropDuplicates(["src", "dst"]), so the edges
    compose with exceptAll/intersectAll (the subset dedup does not on
    Spark 4.1)."""
    if _FEATURES <= set(scored.columns):
        scored = scored.where(score_bound() >= F.lit(threshold))
    return (
        scored.groupBy(F.col("email_a").alias("src"), F.col("email_b").alias("dst"))
        .agg(F.max("score").alias("score"))
        .where(F.col("score") >= F.lit(threshold))
    )
