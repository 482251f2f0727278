"""DuckDB oracle SQL builders for the engine-specific (hash/ANN) queries.

Round 1 left five queries rows-only ("no_oracle"). These builders close that
gap by REPLAYING the engine's deterministic kernels in pure SQL:

  * dedup_minhash  — polynomial gram hashes → affine-mod-2^31 minhash →
    banded bucket join (with the frequent-bucket cap) → exact word-bigram
    Jaccard verification. Exact int64 arithmetic on both engines
    (operators/blocking.py documents the bounds).
  * dedup_simhash  — md5 token hashes (the same hex-parse pattern the
    doc_fingerprints oracle uses) → per-bit votes → signed-int64 signature →
    FULL self-join hamming filter. The Spark side's 4×16 banding is
    recall-complete for hamming ≤ 3 (pigeonhole), so banded == exact.
  * ann_topk_ivf   — the deterministic coarse quantizer (n lowest ids),
    6-decimal-rounded cell assignment/probing, exact cosine re-rank.
  * ann_topk_lsh   — the fixed-seed hyperplane constants embedded as SQL
    literals (float64 repr round-trips exactly), multi-probe expansion via
    xor, exact cosine re-rank.

All constants are emitted from the same Python arrays the Spark UDFs use, so
the two sides cannot drift apart.
"""

from __future__ import annotations

from .operators.blocking import EMAIL_N_BANDS, LSH_MAX_BUCKET, minhash_oracle_sql_parts
from .operators.similarity import LSH_BITS, _PLANES

# ---------------------------------------------------------------------------
# dedup_minhash
# ---------------------------------------------------------------------------


def _minhash_verified_cte(max_bucket: int = 64) -> str:
    """CTE chain (no WITH keyword) replaying the banded-minhash candidate
    generation + exact word-bigram-Jaccard verification: ... , verified(id_a,
    id_b, jaccard). Shared by dedup_minhash and the LSH keep-best oracle."""
    p = minhash_oracle_sql_parts()
    ab_pairs = ", ".join(f"[{a}, {b}]" for a, b in zip(p["a"], p["b"]))
    P, M, C = p["p_gram"], p["m31"], p["band_mult"]
    rpb, nb = p["rows_per_band"], p["n_bands"]
    return rf"""d AS (
    SELECT doc_id, regexp_replace(lower(trim(text)), '\s+', ' ', 'g') AS norm
    FROM documents
),
gh AS (
    SELECT doc_id,
        CASE WHEN length(norm) >= 3 THEN
            list_transform(range(1, length(norm) - 1),
                i -> ((CAST(ord(substr(norm, CAST(i AS INT), 1)) AS BIGINT) * {P}
                       + ord(substr(norm, CAST(i AS INT) + 1, 1))) * {P}
                      + ord(substr(norm, CAST(i AS INT) + 2, 1))) & {M})
        WHEN length(norm) = 2 THEN
            [(CAST(ord(substr(norm, 1, 1)) AS BIGINT) * {P} + ord(substr(norm, 2, 1))) & {M}]
        WHEN length(norm) = 1 THEN [CAST(ord(substr(norm, 1, 1)) AS BIGINT) & {M}]
        ELSE [CAST(0 AS BIGINT)] END AS gh
    FROM d
),
sig AS (
    SELECT doc_id,
        list_transform([{ab_pairs}],
            ab -> list_min(list_transform(gh, h -> (ab[1] * h + ab[2]) & {M}))) AS s
    FROM gh
),
bands AS (
    SELECT doc_id, t.band_idx,
        (((((((s[{rpb} * band_idx + 1] * {C} + s[{rpb} * band_idx + 2]) & {M})
            * {C} + s[{rpb} * band_idx + 3]) & {M}) * {C})
            + s[{rpb} * band_idx + 4]) & {M}) AS band_sig
    FROM sig CROSS JOIN range(0, {nb}) AS t(band_idx)
),
sizes AS (
    SELECT band_idx, band_sig, count(*) AS bn FROM bands GROUP BY band_idx, band_sig
),
bounded AS (
    SELECT bands.* FROM bands JOIN sizes USING (band_idx, band_sig)
    WHERE bn <= {max_bucket}
),
cand AS (
    SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b
    FROM bounded a JOIN bounded b USING (band_idx, band_sig)
    WHERE a.doc_id < b.doc_id
),
g AS (
    SELECT doc_id AS id,
        list_distinct(CASE WHEN len(w) >= 2
            THEN list_transform(range(1, len(w)),
                     i -> w[CAST(i AS INT)] || ' ' || w[CAST(i AS INT) + 1])
            ELSE CAST([] AS VARCHAR[]) END) AS grams
    FROM (SELECT doc_id, regexp_extract_all(lower(text), '[A-Za-z0-9]+') AS w
          FROM documents)
),
verified AS (
    SELECT id_a, id_b,
        round(len(list_intersect(ga.grams, gb.grams))
            / CAST(greatest(len(list_distinct(list_concat(ga.grams, gb.grams))), 1) AS DOUBLE),
            6) AS jaccard
    FROM cand
    JOIN g ga ON ga.id = cand.id_a
    JOIN g gb ON gb.id = cand.id_b
)"""


def email_lsh_pairs_cte() -> str:
    """CTE chain (no WITH keyword) replaying the cross-domain full-email LSH
    channel (blocking.blocking_channels()["xd_email"]) over a preceding
    `uniq` CTE with columns (email, domain_canon, dotless, canon_email): the
    same fixed-seed 3-gram minhash → affine permutations → banded fold →
    bucket cap (LSH_MAX_BUCKET) → cross-domain cross-local self-join, ending
    in xd_lsh(email_a, email_b). Exact int64 arithmetic on both engines.

    EMAIL_N_BANDS is the channel's half-width banding (a PREFIX of the
    permutation family, so the same constants replay it)."""
    p = minhash_oracle_sql_parts()
    rpb = p["rows_per_band"]
    n = EMAIL_N_BANDS * rpb
    ab_pairs = ", ".join(f"[{a}, {b}]" for a, b in zip(p["a"][:n], p["b"][:n]))
    P, M, C = p["p_gram"], p["m31"], p["band_mult"]
    return rf"""egh AS (
    SELECT email,
        list_transform(range(1, length(canon_email) - 1),
            i -> ((CAST(ord(substr(canon_email, CAST(i AS INT), 1)) AS BIGINT) * {P}
                   + ord(substr(canon_email, CAST(i AS INT) + 1, 1))) * {P}
                  + ord(substr(canon_email, CAST(i AS INT) + 2, 1))) & {M}) AS gh
    FROM uniq
),
esig AS (
    SELECT email,
        list_transform([{ab_pairs}],
            ab -> list_min(list_transform(gh, h -> (ab[1] * h + ab[2]) & {M}))) AS s
    FROM egh
),
ebands AS (
    SELECT email, t.band_idx,
        (((((((s[{rpb} * band_idx + 1] * {C} + s[{rpb} * band_idx + 2]) & {M})
            * {C} + s[{rpb} * band_idx + 3]) & {M}) * {C})
            + s[{rpb} * band_idx + 4]) & {M}) AS band_sig
    FROM esig CROSS JOIN range(0, {EMAIL_N_BANDS}) AS t(band_idx)
),
esizes AS (
    SELECT band_idx, band_sig, count(*) AS bn
    FROM ebands GROUP BY band_idx, band_sig
),
ebounded AS (
    SELECT eb.email, eb.band_idx, eb.band_sig, u.domain_canon, u.dotless
    FROM ebands eb JOIN esizes USING (band_idx, band_sig)
    JOIN uniq u ON u.email = eb.email
    WHERE bn <= {LSH_MAX_BUCKET}
),
xd_lsh AS (
    SELECT DISTINCT a.email AS email_a, b.email AS email_b
    FROM ebounded a JOIN ebounded b USING (band_idx, band_sig)
    WHERE a.email < b.email
      AND a.domain_canon <> b.domain_canon
      AND a.dotless <> b.dotless
)"""


def dedup_minhash_oracle(threshold: float = 0.2, max_bucket: int = 64) -> str:
    return (
        f"WITH {_minhash_verified_cte(max_bucket)}\n"
        f"SELECT id_a, id_b, jaccard FROM verified WHERE jaccard >= {threshold}"
    )


def dedup_keep_best_lsh_oracle(threshold: float = 0.2, max_bucket: int = 64) -> str:
    """LSH-blocked keep-best: minhash banded candidates → verified Jaccard
    edges ≥ threshold → RECURSIVE min-root components → best exemplar per
    cluster (quality desc, id asc)."""
    return rf"""
WITH RECURSIVE {_minhash_verified_cte(max_bucket)},
p AS (SELECT id_a, id_b FROM verified WHERE jaccard >= {threshold}),
sym AS (SELECT id_a AS a, id_b AS b FROM p UNION ALL SELECT id_b, id_a FROM p),
walk(id, root) AS (
    SELECT doc_id, doc_id FROM documents
    UNION
    SELECT s.b, w.root FROM walk w JOIN sym s ON s.a = w.id
),
comp AS (SELECT id AS doc_id, min(root) AS cluster_id FROM walk GROUP BY id),
{_QUALITY_CTE},
r AS (
    SELECT c.doc_id, c.cluster_id, qs.quality_score,
        row_number() OVER (PARTITION BY c.cluster_id
            ORDER BY qs.quality_score DESC, c.doc_id ASC) AS rn
    FROM comp c JOIN qs USING (doc_id)
)
SELECT doc_id, cluster_id, quality_score, rn = 1 AS is_kept FROM r"""


# ---------------------------------------------------------------------------
# dedup_simhash
# ---------------------------------------------------------------------------


def dedup_simhash_oracle(max_hamming: int = 3) -> str:
    bit_rows = ", ".join(f"({i}, {1 << i}::HUGEINT)" for i in range(64))
    return rf"""
WITH bits(bit, p) AS (VALUES {bit_rows}),
tok AS (
    SELECT doc_id, unnest(regexp_extract_all(lower(text), '[a-z0-9]+')) AS t
    FROM documents
),
th AS (
    SELECT doc_id,
        list_reduce(list_transform(range(1, 17),
            j -> CAST(strpos('0123456789abcdef', substr(md5(t), CAST(j AS INT), 1)) - 1 AS HUGEINT)),
            (acc, x) -> acc * 16 + x) AS h
    FROM tok
),
votes AS (
    SELECT doc_id, bit, sum(CASE WHEN (h // p) % 2 = 1 THEN 1 ELSE -1 END) AS v
    FROM th CROSS JOIN bits GROUP BY doc_id, bit
),
sig0 AS (
    SELECT doc_id,
        CAST(sum(CASE WHEN v > 0 THEN
                CASE WHEN bit = 63 THEN -9223372036854775808
                     ELSE (CAST(1 AS BIGINT) << bit) END
            ELSE 0 END) AS BIGINT) AS sig
    FROM votes GROUP BY doc_id
),
sigs AS (
    SELECT d.doc_id, COALESCE(s.sig, 0) AS sig
    FROM documents d LEFT JOIN sig0 s USING (doc_id)
),
pairs AS (
    SELECT a.doc_id AS id_a, b.doc_id AS id_b,
        CAST(bit_count(xor(a.sig, b.sig)) AS INT) AS hamming
    FROM sigs a JOIN sigs b ON a.doc_id < b.doc_id
)
SELECT id_a, id_b, hamming FROM pairs WHERE hamming <= {max_hamming}"""


# ---------------------------------------------------------------------------
# shared ANN fragments
# ---------------------------------------------------------------------------

_ANN_NORM_CTE = r"""
n AS (
    SELECT vec_id, v, sqrt(list_sum(list_transform(v, x -> x * x))) AS nrm
    FROM (SELECT vec_id,
              list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v
          FROM embeddings)
)"""


def _cos(qv: str, v: str, qn: str, n: str) -> str:
    return (
        f"round(list_sum(list_transform(range(1, len({qv}) + 1), "
        f"i -> {qv}[CAST(i AS INT)] * {v}[CAST(i AS INT)])) "
        f"/ greatest({qn} * {n}, 1e-12), 6)"
    )


# ---------------------------------------------------------------------------
# ann_topk_ivf
# ---------------------------------------------------------------------------


def ann_topk_ivf_oracle(
    query_ids: list, k: int = 10, n_centroids: int = 16, n_probe: int = 4
) -> str:
    qids = ", ".join(str(int(q)) for q in query_ids)
    return rf"""
WITH {_ANN_NORM_CTE},
cent AS (
    SELECT vec_id AS cid, v AS cvec, nrm AS cnrm FROM n
    ORDER BY vec_id LIMIT {n_centroids}
),
assign AS (
    SELECT vec_id, cell FROM (
        SELECT n.vec_id, c.cid AS cell,
            row_number() OVER (PARTITION BY n.vec_id
                ORDER BY {_cos('n.v', 'c.cvec', 'n.nrm', 'c.cnrm')} DESC, c.cid ASC) AS rn
        FROM n CROSS JOIN cent c)
    WHERE rn = 1
),
qprobe AS (
    SELECT query_id, cell FROM (
        SELECT n.vec_id AS query_id, c.cid AS cell,
            row_number() OVER (PARTITION BY n.vec_id
                ORDER BY {_cos('n.v', 'c.cvec', 'n.nrm', 'c.cnrm')} DESC, c.cid ASC) AS rn
        FROM n CROSS JOIN cent c
        WHERE n.vec_id IN ({qids}))
    WHERE rn <= {n_probe}
),
cand AS (
    SELECT q.query_id, a.vec_id AS neighbor_id
    FROM qprobe q JOIN assign a ON a.cell = q.cell
    WHERE a.vec_id <> q.query_id
),
scored AS (
    SELECT cand.query_id, cand.neighbor_id,
        {_cos('qn.v', 'nn.v', 'qn.nrm', 'nn.nrm')} AS cosine
    FROM cand
    JOIN n qn ON qn.vec_id = cand.query_id
    JOIN n nn ON nn.vec_id = cand.neighbor_id
),
r AS (
    SELECT *, row_number() OVER (
        PARTITION BY query_id ORDER BY cosine DESC, neighbor_id ASC) AS rank
    FROM scored
)
SELECT query_id, neighbor_id, cosine, CAST(rank AS INT) AS rank
FROM r WHERE rank <= {k}"""


# ---------------------------------------------------------------------------
# ann_topk_lsh
# ---------------------------------------------------------------------------


def ann_topk_lsh_oracle(query_ids: list, k: int = 10, probe_hamming: int = 2) -> str:
    qids = ", ".join(str(int(q)) for q in query_ids)
    # plane constants: repr() of a float64 round-trips exactly, so the SQL
    # literals are bit-identical to the numpy matrix the UDF multiplies by
    plane_rows = ", ".join(
        f"({b}, [{', '.join(repr(float(x)) for x in _PLANES[:, b])}])"
        for b in range(LSH_BITS)
    )
    flips = [0] + [1 << i for i in range(LSH_BITS)]
    if probe_hamming >= 2:
        flips += [
            (1 << i) | (1 << j)
            for i in range(LSH_BITS)
            for j in range(i + 1, LSH_BITS)
        ]
    flip_rows = ", ".join(f"({f})" for f in flips)
    return rf"""
WITH {_ANN_NORM_CTE},
planes(b, pv) AS (VALUES {plane_rows}),
pb AS (
    SELECT vec_id,
        CAST(sum(CASE WHEN list_sum(list_transform(range(1, len(v) + 1),
                    i -> v[CAST(i AS INT)] * pv[CAST(i AS INT)])) > 0
                 THEN (CAST(1 AS BIGINT) << b) ELSE 0 END) AS BIGINT) AS bucket
    FROM n CROSS JOIN planes GROUP BY vec_id
),
q AS (
    SELECT vec_id AS query_id, bucket AS qb FROM pb WHERE vec_id IN ({qids})
),
flipt(flip) AS (VALUES {flip_rows}),
expd AS (
    SELECT query_id, xor(qb, CAST(flip AS BIGINT)) AS bucket FROM q CROSS JOIN flipt
),
cand AS (
    SELECT DISTINCT e.query_id, p.vec_id AS neighbor_id
    FROM expd e JOIN pb p ON p.bucket = e.bucket
    WHERE p.vec_id <> e.query_id
),
scored AS (
    SELECT cand.query_id, cand.neighbor_id,
        {_cos('qn.v', 'nn.v', 'qn.nrm', 'nn.nrm')} AS cosine
    FROM cand
    JOIN n qn ON qn.vec_id = cand.query_id
    JOIN n nn ON nn.vec_id = cand.neighbor_id
),
r AS (
    SELECT *, row_number() OVER (
        PARTITION BY query_id ORDER BY cosine DESC, neighbor_id ASC) AS rank
    FROM scored
)
SELECT query_id, neighbor_id, cosine, CAST(rank AS INT) AS rank
FROM r WHERE rank <= {k}"""


# ---------------------------------------------------------------------------
# training-data assembly oracles (splits / packing / sketch / redact / keep-best)
# ---------------------------------------------------------------------------

_HEX8 = (
    "list_reduce(list_transform(range(1, 9), j -> CAST(strpos('0123456789abcdef', "
    "substr(md5({arg}), CAST(j AS INT), 1)) - 1 AS BIGINT)), (acc, x) -> acc * 16 + x)"
)
_HEX15 = (
    "list_reduce(list_transform(range(1, 16), j -> CAST(strpos('0123456789abcdef', "
    "substr(md5({arg}), CAST(j AS INT), 1)) - 1 AS BIGINT)), (acc, x) -> acc * 16 + x)"
)


def uniform_hash_sql(arg: str) -> str:
    """The doc_splits md5 uniform u ~ [0,1) as a DuckDB SQL expression over
    an arbitrary string expression (same first-8-hex-chars / 2^32 construction
    as operators/sampling._uniform_hash)."""
    return _HEX8.format(arg=arg) + " / 4294967296.0"


def doc_splits_oracle(weights=(("train", 0.8), ("val", 0.1), ("test", 0.1)), salt="split") -> str:
    """Thresholds accumulate in PYTHON float arithmetic and are embedded via
    repr() so the SQL compares against bit-identical doubles (0.8 + 0.1 is
    not the literal 0.9 in IEEE754)."""
    case = "CASE"
    acc = 0.0
    for name, w in weights[:-1]:
        acc += w
        case += f" WHEN u < {acc!r} THEN '{name}'"
    case += f" ELSE '{weights[-1][0]}' END"
    h = _HEX8.format(arg=f"'{salt}:' || CAST(doc_id AS VARCHAR)")
    return f"""
WITH raw AS (
    SELECT *, {h} / 4294967296.0 AS _u FROM documents
)
SELECT doc_id, round(_u, 9) AS u, {case.replace('u <', '_u <')} AS split
FROM raw"""


def doc_redact_oracle(email_re: str, ipv4_re: str, phone_re: str) -> str:
    return f"""
SELECT doc_id,
    CAST(len(regexp_extract_all(text, '{email_re}')) AS INT) AS n_emails,
    CAST(len(regexp_extract_all(text, '{ipv4_re}')) AS INT) AS n_ips,
    CAST(len(regexp_extract_all(text, '{phone_re}')) AS INT) AS n_phones,
    regexp_replace(regexp_replace(regexp_replace(text,
        '{email_re}', '[EMAIL]', 'g'),
        '{ipv4_re}', '[IP]', 'g'),
        '{phone_re}', '[PHONE]', 'g') AS redacted
FROM documents"""


_QUALITY_CTE = r"""
qs AS (
    SELECT doc_id,
        round(0.4 * (n_alpha / CAST(greatest(n_chars, 1) AS DOUBLE))
            + 0.3 * (1.0 - (n_chars - n_ws - n_alpha - n_digit) / CAST(greatest(n_chars, 1) AS DOUBLE))
            + 0.3 * least(n_tokens / 100.0, 1.0), 6) AS quality_score
    FROM (
        SELECT doc_id,
            length(text) AS n_chars,
            len(regexp_extract_all(text, '\s')) AS n_ws,
            len(regexp_extract_all(text, '[A-Za-z]')) AS n_alpha,
            len(regexp_extract_all(text, '[0-9]')) AS n_digit,
            len(regexp_extract_all(text, '\S+')) AS n_tokens
        FROM documents
    )
)"""


def dedup_keep_best_oracle(threshold: float = 0.6) -> str:
    """Connected components replayed with a RECURSIVE min-root walk over the
    near-dup graph — the SQL ground truth for the Spark large-star/small-star
    operator on a second domain (documents)."""
    return rf"""
WITH RECURSIVE g AS (
    SELECT doc_id AS id, source AS block,
        list_distinct(CASE WHEN len(w) >= 2
            THEN list_transform(range(1, len(w)),
                     i -> w[CAST(i AS INT)] || ' ' || w[CAST(i AS INT) + 1])
            ELSE CAST([] AS VARCHAR[]) END) AS grams
    FROM (SELECT doc_id, source,
              regexp_extract_all(lower(text), '[A-Za-z0-9]+') AS w
          FROM documents)
),
p AS (
    SELECT a.id AS id_a, b.id AS id_b
    FROM g a JOIN g b ON a.block = b.block AND a.id < b.id
    WHERE round(len(list_intersect(a.grams, b.grams))
        / CAST(greatest(len(list_distinct(list_concat(a.grams, b.grams))), 1) AS DOUBLE),
        6) >= {threshold}
),
sym AS (SELECT id_a AS a, id_b AS b FROM p UNION ALL SELECT id_b, id_a FROM p),
walk(id, root) AS (
    SELECT doc_id, doc_id FROM documents
    UNION
    SELECT s.b, w.root FROM walk w JOIN sym s ON s.a = w.id
),
comp AS (SELECT id AS doc_id, min(root) AS cluster_id FROM walk GROUP BY id),
{_QUALITY_CTE},
r AS (
    SELECT c.doc_id, c.cluster_id, qs.quality_score,
        row_number() OVER (PARTITION BY c.cluster_id
            ORDER BY qs.quality_score DESC, c.doc_id ASC) AS rn
    FROM comp c JOIN qs USING (doc_id)
)
SELECT doc_id, cluster_id, quality_score, rn = 1 AS is_kept FROM r"""


def domain_kmv_oracle(mentions_cte: str, k: int = 64) -> str:
    h = _HEX15.format(arg="email")
    scale = float(1 << 60)
    return f"""{mentions_cte},
uniqv AS (
    SELECT DISTINCT domain_canon, email FROM mentions_expected WHERE valid_lax
),
hashed AS (SELECT domain_canon, {h} AS h FROM uniqv),
agg AS (
    SELECT domain_canon, CAST(count(*) AS BIGINT) AS n_exact,
        (list_sort(list(h)))[1:{k}] AS mins
    FROM hashed GROUP BY domain_canon
)
SELECT domain_canon, n_exact,
    CASE WHEN n_exact < {k} THEN CAST(n_exact AS DOUBLE)
         ELSE round({float(k - 1)!r} / (mins[{k}] / {scale!r}), 6) END AS kmv_estimate
FROM agg"""


def doc_packing_oracle(budget: int = 2048) -> str:
    return rf"""
WITH t AS (
    SELECT doc_id, source,
        CAST(len(regexp_extract_all(text, '\S+')) AS INT) AS n_tokens
    FROM documents
),
c AS (
    SELECT doc_id, source, n_tokens,
        CAST(COALESCE(sum(n_tokens) OVER (PARTITION BY source ORDER BY doc_id
            ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS BIGINT) AS cum_before
    FROM t
)
SELECT doc_id, source, n_tokens, cum_before,
    CAST(floor(CAST(cum_before AS DOUBLE) / {budget}) AS BIGINT) AS bin_id
FROM c"""


def doc_decontam_oracle(
    n: int = 8,
    threshold: float = 0.5,
    weights=(("train", 0.8), ("val", 0.1), ("test", 0.1)),
    salt: str = "split",
) -> str:
    """Replay of operators/decontam.ngram_decontaminate over the split_assign
    train/test partition: same tokenizer regex, same n-gram windows (DuckDB
    list_slice is inclusive where Spark slice takes a length), same
    left-join/zero-gram semantics, same rounded-ratio flag."""
    case = "CASE"
    acc = 0.0
    for name, w in weights[:-1]:
        acc += w
        case += f" WHEN _u < {acc!r} THEN '{name}'"
    case += f" ELSE '{weights[-1][0]}' END"
    h = _HEX8.format(arg="'" + salt + ":' || CAST(doc_id AS VARCHAR)")
    return rf"""
WITH assigned AS (
    SELECT doc_id, text, {case} AS split
    FROM (SELECT *, {h} / 4294967296.0 AS _u FROM documents)
),
toks AS (
    SELECT doc_id, split, regexp_extract_all(lower(text), '[a-z0-9]+') AS t
    FROM assigned
),
grams AS (
    SELECT doc_id, split,
        CASE WHEN len(t) >= {n}
             THEN list_transform(range(1, len(t) - {n} + 2),
                                 i -> array_to_string(list_slice(t, i, i + {n} - 1), ' '))
             ELSE CAST([] AS VARCHAR[]) END AS gs
    FROM toks
),
train_grams AS (
    SELECT DISTINCT doc_id, unnest(gs) AS gram FROM grams WHERE split = 'train'
),
bench_grams AS (
    SELECT DISTINCT unnest(gs) AS gram FROM grams WHERE split = 'test'
),
counts AS (
    SELECT tg.doc_id,
        CAST(count(*) AS BIGINT) AS n_grams,
        CAST(coalesce(sum(CASE WHEN bg.gram IS NOT NULL THEN 1 ELSE 0 END), 0) AS BIGINT)
            AS n_shared
    FROM train_grams tg LEFT JOIN bench_grams bg USING (gram)
    GROUP BY tg.doc_id
),
final AS (
    SELECT a.doc_id,
        coalesce(c.n_grams, 0) AS n_grams,
        coalesce(c.n_shared, 0) AS n_shared
    FROM assigned a LEFT JOIN counts c USING (doc_id)
    WHERE a.split = 'train'
)
SELECT doc_id, n_grams, n_shared,
    round(n_shared / CAST(greatest(n_grams, 1) AS DOUBLE), 6) AS contamination,
    round(n_shared / CAST(greatest(n_grams, 1) AS DOUBLE), 6) >= {threshold!r} AS contaminated
FROM final"""


# ---------------------------------------------------------------------------
# dedup_semantic (SemDeDup one-pass variant)
# ---------------------------------------------------------------------------


def dedup_semantic_oracle(threshold: float = 0.3, n_centroids: int = 16) -> str:
    """Replays operators/similarity.semantic_dedup exactly: the same
    lowest-id literal quantizer and 6-decimal rounded cell assignment as
    ann_topk_ivf_oracle, then within-cell ordered pairs and the one-pass
    drop rule (dup_of = lowest-id in-cell neighbor with cosine >= t)."""
    return rf"""
WITH {_ANN_NORM_CTE},
cent AS (
    SELECT vec_id AS cid, v AS cvec, nrm AS cnrm FROM n
    ORDER BY vec_id LIMIT {n_centroids}
),
assign AS (
    SELECT vec_id, cell FROM (
        SELECT n.vec_id, c.cid AS cell,
            row_number() OVER (PARTITION BY n.vec_id
                ORDER BY {_cos('n.v', 'c.cvec', 'n.nrm', 'c.cnrm')} DESC, c.cid ASC) AS rn
        FROM n CROSS JOIN cent c)
    WHERE rn = 1
),
pairs AS (
    SELECT a.vec_id AS cand, b.vec_id AS vid,
        {_cos('na.v', 'nb.v', 'na.nrm', 'nb.nrm')} AS c
    FROM assign a
    JOIN assign b ON a.cell = b.cell AND a.vec_id < b.vec_id
    JOIN n na ON na.vec_id = a.vec_id
    JOIN n nb ON nb.vec_id = b.vec_id
),
best AS (
    SELECT vid, cand, c FROM (
        SELECT vid, cand, c,
            row_number() OVER (PARTITION BY vid ORDER BY cand ASC) AS rn
        FROM pairs WHERE c >= {float(threshold)!r})
    WHERE rn = 1
)
SELECT a.vec_id, a.cell, best.vid IS NULL AS keep,
    best.cand AS dup_of, best.c AS dup_cos
FROM assign a LEFT JOIN best ON a.vec_id = best.vid"""


# ---------------------------------------------------------------------------
# doc_sample_weighted (A-ES weighted sampling without replacement)
# ---------------------------------------------------------------------------


def doc_sample_weighted_oracle(
    n: int = 100, weight_col: str = "n_chars", salt: str = "wsample"
) -> str:
    """Replays operators/sampling.weighted_sample: the same md5-derived
    uniform as doc_splits_oracle, priority = round(pow(u, 1/w), 9), top-n by
    (priority DESC, doc_id ASC)."""
    h = _HEX8.format(arg=f"'{salt}:' || CAST(doc_id AS VARCHAR)")
    return rf"""
WITH raw AS (
    SELECT doc_id, {weight_col} AS weight,
        {h} / 4294967296.0 AS u
    FROM documents
),
p AS (
    SELECT doc_id, weight,
        round(pow(u, 1.0 / greatest(CAST(weight AS DOUBLE), 1e-12)), 9) AS priority
    FROM raw
),
r AS (
    SELECT *, row_number() OVER (ORDER BY priority DESC, doc_id ASC) AS rank
    FROM p
)
SELECT doc_id, weight, priority, CAST(rank AS INT) AS rank
FROM r WHERE rank <= {n}"""


# ---------------------------------------------------------------------------
# events_sessions (gap-based sessionization rollup)
# ---------------------------------------------------------------------------


def events_sessions_oracle(gap_s: float = 12 * 3600) -> str:
    """Replays operators/sessions.session_stats: integer-microsecond gap
    test via lag, running sum of start flags, session-level rollup. All
    comparisons are on epoch_us longs — bit-exact vs unix_micros."""
    gap_us = int(round(float(gap_s) * 1_000_000))
    return rf"""
WITH e AS (
    SELECT user_id, event_id, value, epoch_us(ts) AS ts_us,
        lag(epoch_us(ts)) OVER (PARTITION BY user_id ORDER BY ts ASC, event_id ASC) AS prev_us
    FROM events
),
flagged AS (
    SELECT *, CAST(prev_us IS NULL OR (ts_us - prev_us) > {gap_us} AS INT) AS is_start
    FROM e
),
numbered AS (
    SELECT *, CAST(sum(is_start) OVER (PARTITION BY user_id
        ORDER BY ts_us ASC, event_id ASC
        ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS INT) AS session_idx
    FROM flagged
)
SELECT user_id, session_idx,
    CAST(user_id AS VARCHAR) || ':' || CAST(session_idx AS VARCHAR) AS session_id,
    count(*) AS n_events,
    min(ts_us) AS start_us,
    max(ts_us) AS end_us,
    CAST(sum(CAST(round(value * 1e4) AS BIGINT)) AS BIGINT) AS sum_value_e4,
    round((max(ts_us) - min(ts_us)) / 1e6, 6) AS duration_s
FROM numbered
GROUP BY user_id, session_idx"""


# ---------------------------------------------------------------------------
# events_last_touch (as-of join: purchase <- latest at-or-before click)
# ---------------------------------------------------------------------------


def events_last_touch_oracle(
    left_type: str = "purchase", right_type: str = "click"
) -> str:
    """Replays operators/asof.asof_join exactly: union both sides tagged
    (right=0 sorts before left=1 at equal ts; right ties resolve to the
    greatest event_id), carry the right columns forward with
    last_value IGNORE NULLS over a running ROWS frame."""
    return rf"""
WITH u AS (
    SELECT user_id AS k, epoch_us(ts) AS ts_us, 0 AS tag,
        CAST(event_id AS BIGINT) AS rid,
        event_id AS v_event_id, epoch_us(ts) AS v_ts_us,
        NULL::BIGINT AS l_event_id, NULL::TIMESTAMP AS l_ts
    FROM events WHERE event_type = '{right_type}'
    UNION ALL
    SELECT user_id AS k, epoch_us(ts) AS ts_us, 1 AS tag,
        NULL::BIGINT AS rid,
        NULL::BIGINT AS v_event_id, NULL::BIGINT AS v_ts_us,
        event_id AS l_event_id, ts AS l_ts
    FROM events WHERE event_type = '{left_type}'
),
filled AS (
    SELECT *,
        last_value(v_event_id IGNORE NULLS) OVER w AS f_event_id,
        last_value(v_ts_us IGNORE NULLS) OVER w AS f_ts_us
    FROM u
    WINDOW w AS (PARTITION BY k ORDER BY ts_us ASC, tag ASC, rid ASC NULLS FIRST
        ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
)
SELECT l_event_id AS event_id, k AS user_id, ts_us,
    f_event_id AS asof_event_id, f_ts_us AS asof_ts_us,
    round((ts_us - f_ts_us) / 1e6, 6) AS gap_s
FROM filled WHERE tag = 1"""


# ---------------------------------------------------------------------------
# doc_sample_stratified (fixed-n-per-stratum deterministic sampling)
# ---------------------------------------------------------------------------


def doc_sample_stratified_oracle(
    n_per_stratum: int = 50,
    strata_col: str = "source",
    salt: str = "strat",
) -> str:
    """Replays operators/sampling.stratified_sample: same md5 uniform,
    n smallest draws per stratum, rank ties on doc_id."""
    h = _HEX8.format(arg=f"'{salt}:' || CAST(doc_id AS VARCHAR)")
    return rf"""
WITH raw AS (
    SELECT doc_id, {strata_col} AS stratum,
        round({h} / 4294967296.0, 9) AS u
    FROM documents
),
r AS (
    SELECT *, CAST(row_number() OVER (PARTITION BY stratum
        ORDER BY u ASC, doc_id ASC) AS INT) AS stratum_rank
    FROM raw
)
SELECT doc_id, stratum, u, stratum_rank
FROM r WHERE stratum_rank <= {int(n_per_stratum)}"""


# ---------------------------------------------------------------------------
# events_rolling (trailing event-time RANGE window)
# ---------------------------------------------------------------------------


def events_rolling_oracle(window_s: float = 7 * 86400) -> str:
    """Replays operators/rolling.rolling_agg: the same RANGE frame over
    epoch_us longs (SQL-standard peer handling on both engines)."""
    window_us = int(round(float(window_s) * 1_000_000))
    return rf"""
SELECT event_id, user_id, epoch_us(ts) AS ts_us,
    count(*) OVER w AS n_trailing,
    CAST(sum(CAST(round(value * 1e4) AS BIGINT)) OVER w AS BIGINT) AS sum_value_e4_trailing
FROM events
WINDOW w AS (PARTITION BY user_id ORDER BY epoch_us(ts)
    RANGE BETWEEN {window_us} PRECEDING AND CURRENT ROW)"""


def pprl_encode_cte(bits: int = 256) -> str:
    """G67 encode replay: field-wise CLK positions and filter weights —
    assumes `uniq(email, dotless, domain_canon)` exists. Produces
    pp_pl/pp_pd (positions per field) and pp_wl/pp_wd (popcounts)."""
    h0 = _HEX8.format(arg="'clk0:' || gram")
    h1 = _HEX8.format(arg="'clk1:' || gram")
    return f"""
pp_rec AS (
    SELECT email, '_' || dotless || '_' AS s_l, '_' || domain_canon || '_' AS s_d
    FROM uniq
),
pp_gl AS (
    SELECT email, unnest(list_transform(range(1, length(s_l)),
        i -> substr(s_l, CAST(i AS INT), 2))) AS gram
    FROM pp_rec
),
pp_gd AS (
    SELECT email, unnest(list_transform(range(1, length(s_d)),
        i -> substr(s_d, CAST(i AS INT), 2))) AS gram
    FROM pp_rec
),
pp_pl AS (
    SELECT DISTINCT email, pos FROM (
        SELECT email, {h0} % {bits} AS pos FROM pp_gl
        UNION ALL
        SELECT email, {h1} % {bits} AS pos FROM pp_gl
    )
),
pp_pd AS (
    SELECT DISTINCT email, pos FROM (
        SELECT email, {h0} % {bits} AS pos FROM pp_gd
        UNION ALL
        SELECT email, {h1} % {bits} AS pos FROM pp_gd
    )
),
pp_wl AS (SELECT email, CAST(count(*) AS BIGINT) AS n FROM pp_pl GROUP BY email),
pp_wd AS (SELECT email, CAST(count(*) AS BIGINT) AS n FROM pp_pd GROUP BY email)"""


def pprl_compare_cte(pairs_cte: str = "pairs", weights=(0.7, 0.3)) -> str:
    """G67 compare replay: Dice via list_intersect over per-record position
    lists (no per-position join fan-out — the exploded equi-join form
    spilled DuckDB temp storage at sf0.01) for an arbitrary candidate CTE
    carrying (email_a, email_b, mk_a, mk_b). Produces pp_scored(email_a,
    email_b, mk_a, mk_b, dice_local, dice_domain, clk_score)."""
    wl, wd = weights
    return f"""
pp_ll AS (SELECT email, list(pos) AS pl FROM pp_pl GROUP BY email),
pp_ld AS (SELECT email, list(pos) AS pl FROM pp_pd GROUP BY email),
pp_comp AS (
    SELECT p.email_a, p.email_b, p.mk_a, p.mk_b,
        round(2.0 * len(list_intersect(la.pl, lb.pl))
              / (len(la.pl) + len(lb.pl)), 6) AS dice_local,
        round(2.0 * len(list_intersect(da.pl, db.pl))
              / (len(da.pl) + len(db.pl)), 6) AS dice_domain
    FROM {pairs_cte} p
    JOIN pp_ll la ON la.email = p.email_a
    JOIN pp_ll lb ON lb.email = p.email_b
    JOIN pp_ld da ON da.email = p.email_a
    JOIN pp_ld db ON db.email = p.email_b
),
pp_scored AS (
    SELECT email_a, email_b, mk_a, mk_b, dice_local, dice_domain,
        round({wl!r} * dice_local + {wd!r} * dice_domain, 6) AS clk_score
    FROM pp_comp
)"""


def pprl_cte(bits: int = 256, weights=(0.7, 0.3), pairs_cte: str = "pairs") -> str:
    """G67 PPRL replay (encode + compare; see pprl_encode_cte /
    pprl_compare_cte). The hash is the house first-8-hex md5 kernel
    (_HEX8), so positions match operators/pprl._hash8 bit-for-bit."""
    return (
        pprl_encode_cte(bits=bits)
        + ","
        + pprl_compare_cte(pairs_cte=pairs_cte, weights=weights)
    )

def pprl_blocking_cte(max_bucket: int = 50) -> str:
    """G68 replay: banded minhash-LSH over the local-field CLK positions —
    assumes `pp_pl(email, pos)` exists (from pprl_cte). Same affine
    permutations, band fold, and bucket cap as the plaintext channels
    (minhash_oracle_sql_parts). Produces `pb_pairs(email_a, email_b)`."""
    p = minhash_oracle_sql_parts()
    ab_pairs = ", ".join(f"[{a}, {b}]" for a, b in zip(p["a"], p["b"]))
    M, C = p["m31"], p["band_mult"]
    rpb, nb = p["rows_per_band"], p["n_bands"]
    return f"""
pb_sig AS (
    SELECT email,
        list_transform([{ab_pairs}],
            ab -> list_min(list_transform(pl, x -> (ab[1] * x + ab[2]) & {M}))) AS s
    FROM (SELECT email, list(pos) AS pl FROM pp_pl GROUP BY email)
),
pb_bands AS (
    SELECT email, t.band_idx,
        (((((((s[{rpb} * band_idx + 1] * {C} + s[{rpb} * band_idx + 2]) & {M})
            * {C} + s[{rpb} * band_idx + 3]) & {M}) * {C})
            + s[{rpb} * band_idx + 4]) & {M}) AS band_sig
    FROM pb_sig CROSS JOIN range(0, {nb}) AS t(band_idx)
),
pb_sizes AS (
    SELECT band_idx, band_sig, count(*) AS bn
    FROM pb_bands GROUP BY band_idx, band_sig
),
pb_bounded AS (
    SELECT b.email, b.band_idx, b.band_sig
    FROM pb_bands b JOIN pb_sizes USING (band_idx, band_sig)
    WHERE bn <= {max_bucket}
),
pb_pairs AS (
    SELECT DISTINCT a.email AS email_a, b.email AS email_b
    FROM pb_bounded a JOIN pb_bounded b USING (band_idx, band_sig)
    WHERE a.email < b.email
)"""


def doc_curation_oracle(
    quality_cut: float = 0.70,
    lang: str = "en",
    threshold: float = 0.6,
    weights=(("train", 0.8), ("val", 0.1), ("test", 0.1)),
    salt: str = "split",
) -> str:
    """G71 replay: the full curation chain stage-for-stage — row-local
    filters (quality/LID/repetition), exact dedup over SURVIVORS, keep-best
    near-dup over the remainder, split hash over the final set. Each stage
    reuses the exact SQL its standalone oracle certifies, re-rooted on the
    shrinking survivor CTEs (intersecting standalone outputs would be
    wrong: canonicals/exemplars must be re-elected within the survivor
    set)."""
    case = "CASE"
    acc = 0.0
    for name, w in weights[:-1]:
        acc += w
        case += f" WHEN u < {acc!r} THEN '{name}'"
    case += f" ELSE '{weights[-1][0]}' END"
    h = _HEX8.format(arg=f"'{salt}:' || CAST(doc_id AS VARCHAR)")
    return rf"""
WITH RECURSIVE cu_q AS (
    SELECT doc_id,
        round(0.4 * (n_alpha / CAST(greatest(n_chars, 1) AS DOUBLE))
            + 0.3 * (1.0 - (n_chars - n_ws - n_alpha - n_digit) / CAST(greatest(n_chars, 1) AS DOUBLE))
            + 0.3 * least(n_tokens / 100.0, 1.0), 6) AS quality_score
    FROM (
        SELECT doc_id,
            length(text) AS n_chars,
            len(regexp_extract_all(text, '\s')) AS n_ws,
            len(regexp_extract_all(text, '[A-Za-z]')) AS n_alpha,
            len(regexp_extract_all(text, '[0-9]')) AS n_digit,
            len(regexp_extract_all(text, '\S+')) AS n_tokens
        FROM documents
    )
),
cu_l AS (
    SELECT doc_id,
        CASE WHEN greatest(s_en, s_de, s_fr, s_es, s_zh) = 0 THEN 'und'
             WHEN s_en = greatest(s_en, s_de, s_fr, s_es, s_zh) THEN 'en'
             WHEN s_de = greatest(s_en, s_de, s_fr, s_es, s_zh) THEN 'de'
             WHEN s_fr = greatest(s_en, s_de, s_fr, s_es, s_zh) THEN 'fr'
             WHEN s_es = greatest(s_en, s_de, s_fr, s_es, s_zh) THEN 'es'
             ELSE 'zh' END AS lang_pred
    FROM (
        SELECT doc_id,
            len(regexp_extract_all(lower(text), '\b(the|and|is|of|to|in|that)\b')) AS s_en,
            len(regexp_extract_all(lower(text), '\b(der|die|und|das|ist|nicht|ein)\b')) AS s_de,
            len(regexp_extract_all(lower(text), '\b(le|les|et|est|une|dans|pour)\b')) AS s_fr,
            len(regexp_extract_all(lower(text), '\b(el|los|las|y|es|una|que)\b')) AS s_es,
            len(regexp_extract_all(text, '[\x{{4e00}}-\x{{9fff}}]')) AS s_zh
        FROM documents
    )
),
cu_r AS (
    SELECT doc_id, rep_keep FROM (
        WITH toks AS (
            SELECT doc_id,
                string_split(regexp_replace(lower(trim(text)), '\s+', ' ', 'g'), ' ') AS t
            FROM documents
        ),
        g AS (
            SELECT doc_id, 1 AS n, unnest(t) AS g FROM toks
            UNION ALL
            SELECT doc_id, 2 AS n,
                unnest(list_transform(range(1, greatest(len(t) - 1, 0) + 1),
                    i -> array_to_string(t[i:i+1], ' '))) AS g
            FROM toks
            UNION ALL
            SELECT doc_id, 5 AS n,
                unnest(list_transform(range(1, greatest(len(t) - 4, 0) + 1),
                    i -> array_to_string(t[i:i+4], ' '))) AS g
            FROM toks
        ),
        gc AS (SELECT doc_id, n, g, count(*) AS c FROM g GROUP BY 1, 2, 3),
        agg AS (
            SELECT doc_id,
                sum(CASE WHEN n = 1 THEN c END) AS occ1,
                count(CASE WHEN n = 1 THEN 1 END) AS dis1,
                sum(CASE WHEN n = 2 THEN c END) AS occ2,
                count(CASE WHEN n = 2 THEN 1 END) AS dis2,
                max(CASE WHEN n = 2 THEN c END) AS top2,
                sum(CASE WHEN n = 5 THEN c END) AS occ5,
                count(CASE WHEN n = 5 THEN 1 END) AS dis5
            FROM gc GROUP BY 1
        )
        SELECT doc_id,
            round(coalesce(top2, 0) / CAST(greatest(coalesce(occ2, 0), 1) AS DOUBLE), 6) <= 0.20
                AND round(coalesce(occ5 - dis5, 0) / CAST(greatest(coalesce(occ5, 0), 1) AS DOUBLE), 6) <= 0.10
                AND round(coalesce(dis1, 0) / CAST(greatest(coalesce(occ1, 0), 1) AS DOUBLE), 6) >= 0.20
                AS rep_keep
        FROM agg
    )
),
cu_keep1 AS (
    SELECT q.doc_id, q.quality_score
    FROM cu_q q
    JOIN cu_l l USING (doc_id)
    JOIN cu_r r USING (doc_id)
    WHERE l.lang_pred = '{lang}' AND r.rep_keep
      AND q.quality_score >= {quality_cut}
),
cu_sv1 AS (
    SELECT d.doc_id, d.source, d.text
    FROM documents d JOIN cu_keep1 USING (doc_id)
),
cu_fp AS (
    SELECT doc_id,
        md5(regexp_replace(lower(trim(text)), '\s+', ' ', 'g')) AS fp
    FROM cu_sv1
),
cu_canon AS (SELECT fp, min(doc_id) AS canonical FROM cu_fp GROUP BY fp),
cu_sv2 AS (
    SELECT s.doc_id, s.source, s.text
    FROM cu_sv1 s
    JOIN cu_fp f USING (doc_id)
    JOIN cu_canon c ON c.fp = f.fp
    WHERE s.doc_id = c.canonical
),
cu_g AS (
    SELECT doc_id AS id, source AS block,
        list_distinct(CASE WHEN len(w) >= 2
            THEN list_transform(range(1, len(w)),
                     i -> w[CAST(i AS INT)] || ' ' || w[CAST(i AS INT) + 1])
            ELSE CAST([] AS VARCHAR[]) END) AS grams
    FROM (SELECT doc_id, source,
              regexp_extract_all(lower(text), '[A-Za-z0-9]+') AS w
          FROM cu_sv2)
),
cu_p AS (
    SELECT a.id AS id_a, b.id AS id_b
    FROM cu_g a JOIN cu_g b ON a.block = b.block AND a.id < b.id
    WHERE round(len(list_intersect(a.grams, b.grams))
        / CAST(greatest(len(list_distinct(list_concat(a.grams, b.grams))), 1) AS DOUBLE),
        6) >= {threshold}
),
cu_sym AS (SELECT id_a AS a, id_b AS b FROM cu_p UNION ALL SELECT id_b, id_a FROM cu_p),
cu_walk(id, root) AS (
    SELECT doc_id, doc_id FROM cu_sv2
    UNION
    SELECT s.b, w.root FROM cu_walk w JOIN cu_sym s ON s.a = w.id
),
cu_comp AS (SELECT id AS doc_id, min(root) AS cluster_id FROM cu_walk GROUP BY id),
cu_rank AS (
    SELECT c.doc_id,
        row_number() OVER (PARTITION BY c.cluster_id
            ORDER BY q.quality_score DESC, c.doc_id ASC) AS rn
    FROM cu_comp c JOIN cu_q q USING (doc_id)
),
cu_sv3 AS (SELECT doc_id FROM cu_rank WHERE rn = 1),
cu_split AS (
    SELECT doc_id, {h} / 4294967296.0 AS u FROM cu_sv3
)
SELECT s.doc_id, {case.replace('u <', 's.u <')} AS split, k.quality_score
FROM cu_split s JOIN cu_keep1 k USING (doc_id)"""


# ---------------------------------------------------------------------------
# G46 — trained logistic match scorer, SQL replay (round-5 verdict item 6)
# ---------------------------------------------------------------------------
# Two FROZEN Newton/IRLS iterations from beta = 0 are closed-form: each is
# one aggregation (X^T W X, X^T (y - p)) plus a d×d linear solve. The solve
# is replayed in SQL by Cramer's rule with machine-generated determinant
# expansions (d = 5: 4 features + intercept → 120-term determinants), so the
# full training computation — not just the scoring — is oracle-checked.
# Numerics: features are quantized to 6 decimals on BOTH engines before any
# aggregation, so the only cross-engine difference is float addition order
# (~1e-15 relative). That difference is AMPLIFIED by the solve's condition
# number — the pair features are highly collinear (jw ≈ norm_lev on most
# pairs), so with a token ridge the 1e-15 input noise surfaced as ~1e-5
# weight disagreement (measured at sf0.01). The ridge therefore scales with
# the row count (ridge_per_row * n, identical in both engines since n is an
# exact integer): it floors every eigenvalue at ~1e-4 of the Hessian's
# scale, bounding the condition number so the solve agrees to ~1e-10; weights
# round to 4 decimals (a residual ~1e-10 disagreement straddles a 1e-4
# grid boundary with probability ~1e-6 — at the 1e-6 grid one weight
# actually straddled at sf0.01). Weights get `+ 0.0` after
# rounding so a -0.0 on one engine can't mismatch a 0.0 on the other; the
# metrics derive from integer counts.


def _det_sql(elem, n: int) -> str:
    """Leibniz determinant expansion as a SQL arithmetic expression.
    `elem(i, j)` returns the SQL text of matrix element (i, j)."""
    from itertools import permutations

    terms = []
    for perm in permutations(range(n)):
        inv = sum(
            1 for i in range(n) for j in range(i + 1, n) if perm[i] > perm[j]
        )
        sign = "-" if inv % 2 else "+"
        terms.append(sign + " " + " * ".join(elem(i, perm[i]) for i in range(n)))
    return "0 " + " ".join(terms)


def _newton_delta_sql(h, g, n: int, ridge: str) -> list:
    """Cramer's-rule SQL for delta = (H + ridge*I)^-1 g: one expression per
    component. `h(i, j)` / `g(i)` return SQL refs to the aggregated sums;
    `ridge` is SQL text (a literal or a column reference)."""

    def hd(i, j):
        return f"({h(i, j)} + {ridge})" if i == j else h(i, j)

    det = _det_sql(hd, n)
    out = []
    for k in range(n):
        num = _det_sql(lambda i, j: g(i) if j == k else hd(i, j), n)
        out.append(f"(({num}) / ({det}))")
    return out


def trained_match_f1_oracle(ridge_per_row: float = 1e-4) -> str:
    """SQL suffix for _ORACLE_PAIRS (uses its `features` CTE): replays
    classifier.logistic_train(iters=2, ridge=ridge_per_row * n) +
    logistic_score + the 0.5-threshold decision, emitting the trained
    weights and the er_match_f1-shaped metrics row."""
    n = 5  # x0..x3 features + intercept

    def X(i):
        return f"x{i}" if i < 4 else "1.0"

    def sums(tag: str, w_expr: str, r_expr: str) -> str:
        cols = []
        for i in range(n):
            for j in range(i, n):
                cols.append(
                    f"sum({w_expr} * {X(i)} * {X(j)}) AS {tag}h_{i}_{j}"
                )
        for i in range(n):
            cols.append(f"sum({r_expr} * {X(i)}) AS {tag}g_{i}")
        return ", ".join(cols)

    def href(tag):
        return lambda i, j: f"{tag}h_{min(i, j)}_{max(i, j)}"

    def gref(tag):
        return lambda i: f"{tag}g_{i}"

    d1 = _newton_delta_sql(href("a1."), gref("a1."), n, "a1.rdg")
    d2 = _newton_delta_sql(href("a2."), gref("a2."), n, "a2.rdg")
    b1_cols = ", ".join(f"{d1[k]} AS b1_{k}" for k in range(n))
    d2_cols = ", ".join(f"{d2[k]} AS d2_{k}" for k in range(n))
    z1 = " + ".join(f"b1_{k} * {X(k)}" for k in range(n))
    wnames = ["w_jw", "w_lev", "w_dom", "w_dotless", "w_intercept"]
    w_cols = ", ".join(
        f"round(b1_{k} + d2_{k}, 4) + 0.0 AS {wnames[k]}" for k in range(n)
    )
    zw = " + ".join(f"{wnames[k]} * {X(k)}" for k in range(n))
    rdg = f"{ridge_per_row!r} * count(*)"
    return f""",
tr AS (
    SELECT round(jw_local, 6) AS x0,
           round(1.0 - lev_local / _mll, 6) AS x1,
           round(1.0 - dom_edit / _mdl, 6) AS x2,
           dotless_eq AS x3,
           CASE WHEN mk_a = mk_b THEN 1.0 ELSE 0.0 END AS y
    FROM features
),
a1 AS (SELECT {sums('', '0.25', '(y - 0.5)')}, {rdg} AS rdg FROM tr),
b1 AS (SELECT {b1_cols} FROM a1),
p2 AS (
    SELECT tr.*, 1.0 / (1.0 + exp(-({z1}))) AS p FROM tr, b1
),
a2 AS (SELECT {sums('', 'p * (1.0 - p)', '(y - p)')}, {rdg} AS rdg FROM p2),
d2 AS (SELECT {d2_cols} FROM a2),
w AS (SELECT {w_cols} FROM b1, d2),
ev AS (
    SELECT y,
        CASE WHEN 1.0 / (1.0 + exp(-({zw}))) >= 0.5 THEN 1.0 ELSE 0.0 END
            AS pred
    FROM tr, w
),
m AS (
    SELECT CAST(sum(pred * y) AS BIGINT) AS tp,
           CAST(sum(pred * (1.0 - y)) AS BIGINT) AS fp,
           CAST(sum((1.0 - pred) * y) AS BIGINT) AS fn
    FROM ev
),
pr AS (
    SELECT tp, fp, fn,
           tp / CAST(greatest(tp + fp, 1) AS DOUBLE) AS _p,
           tp / CAST(greatest(tp + fn, 1) AS DOUBLE) AS _r
    FROM m
)
SELECT w_jw, w_lev, w_dom, w_dotless, w_intercept, tp, fp, fn,
       round(_p, 6) AS precision, round(_r, 6) AS recall,
       round(CASE WHEN _p + _r > 0 THEN 2.0 * _p * _r / (_p + _r)
             ELSE 0.0 END, 6) AS f1
FROM w, pr"""
