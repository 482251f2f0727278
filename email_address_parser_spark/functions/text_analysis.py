"""Text-analysis operators for the training-data pipeline over `documents`.

Everything here is pure Catalyst (builtin `pyspark.sql.functions`, JVM-side,
whole-stage-codegen) — no Python UDFs in any hot path. Each operator has a
dialect-neutral formulation so the DuckDB oracles in `__spark_entry__` can
replay it verbatim:

  * token counting       — whitespace tokens, word tokens, BPE-ish subtokens
  * quality scoring      — char-class ratios + stopword ratio + length prior
  * language ID          — marker-stopword counting (en/de/fr/es) + CJK chars
  * fingerprinting       — winnowing fingerprint (k-gram rolling hashes,
                           window minima) for near-dup detection at scale

Reference anchor: the reference repo is a string-processing kernel
(`rust-lib/src/nom_parser.rs`) — the same "precompile the pattern, stream the
corpus through it" discipline applies; here the "patterns" are Catalyst regex
expressions evaluated inside codegen, so a 1000-executor scan parallelizes
with zero Python worker traffic.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

# -- shared regexes (keep in sync with the oracle SQL in __spark_entry__) -------

TOKEN_RE = r"\S+"
WORD_RE = r"[A-Za-z0-9]+"
SUBTOKEN_RE = r"[A-Za-z]+|[0-9]|[^A-Za-z0-9\s]"
STOPWORD_RE = r"\b(the|a|an|and|or|of|to|in|is|it)\b"

LANG_MARKERS = {
    "en": r"\b(the|and|is|of|to|in|that)\b",
    "de": r"\b(der|die|und|das|ist|nicht|ein)\b",
    "fr": r"\b(le|les|et|est|une|dans|pour)\b",
    "es": r"\b(el|los|las|y|es|una|que)\b",
}
CJK_RE = "[一-鿿]"

# winnowing parameters (fixed: part of the fingerprint definition)
WINNOW_K = 8  # k-gram length in chars
WINNOW_W = 4  # window size in grams


def normalized_text(col: Column) -> Column:
    """Lowercased, whitespace-collapsed, trimmed text (matching canon)."""
    return F.regexp_replace(F.lower(F.trim(col)), r"\s+", " ")


def with_token_counts(df: DataFrame, text_col: str = "text") -> DataFrame:
    """n_tokens (whitespace), n_words (alnum runs), n_subtokens (BPE-ish:
    letter runs + single digits + single punctuation)."""
    t = F.col(text_col)
    return (
        df.withColumn("n_tokens", F.regexp_count(t, F.lit(TOKEN_RE)))
        .withColumn("n_words", F.regexp_count(t, F.lit(WORD_RE)))
        .withColumn("n_subtokens", F.regexp_count(t, F.lit(SUBTOKEN_RE)))
    )


def with_quality(df: DataFrame, text_col: str = "text") -> DataFrame:
    """Char-class ratios + stopword ratio + a length prior, combined into
    quality_score ∈ [0,1]. All ratios rounded to 6 decimals at the output."""
    t = F.col(text_col)
    n_chars = F.length(t)
    n_ws = F.regexp_count(t, F.lit(r"\s"))
    n_alpha = F.regexp_count(t, F.lit("[A-Za-z]"))
    n_digit = F.regexp_count(t, F.lit("[0-9]"))
    n_tokens = F.regexp_count(t, F.lit(TOKEN_RE))
    n_stop = F.regexp_count(F.lower(t), F.lit(STOPWORD_RE))

    denom_c = F.greatest(n_chars, F.lit(1)).cast("double")
    denom_t = F.greatest(n_tokens, F.lit(1)).cast("double")
    alpha_ratio = n_alpha.cast("double") / denom_c
    other_ratio = (n_chars - n_ws - n_alpha - n_digit).cast("double") / denom_c
    stop_ratio = n_stop.cast("double") / denom_t
    avg_token_len = (n_chars - n_ws).cast("double") / denom_t
    length_prior = F.least(n_tokens.cast("double") / F.lit(100.0), F.lit(1.0))
    score = (
        F.lit(0.4) * alpha_ratio
        + F.lit(0.3) * (F.lit(1.0) - other_ratio)
        + F.lit(0.3) * length_prior
    )
    return (
        df.withColumn("n_chars_m", n_chars)
        .withColumn("n_tokens", n_tokens)
        .withColumn("alpha_ratio", F.round(alpha_ratio, 6))
        .withColumn("other_ratio", F.round(other_ratio, 6))
        .withColumn("stop_ratio", F.round(stop_ratio, 6))
        .withColumn("avg_token_len", F.round(avg_token_len, 6))
        .withColumn("quality_score", F.round(score, 6))
    )


def with_lang_id(df: DataFrame, text_col: str = "text") -> DataFrame:
    """Marker-stopword language ID. Scores = marker hits per language (CJK =
    han char count); prediction = first max in fixed order en>de>fr>es>zh,
    'und' when all scores are zero. Deterministic, oracle-replayable."""
    low = F.lower(F.col(text_col))
    s = {k: F.regexp_count(low, F.lit(p)) for k, p in LANG_MARKERS.items()}
    s["zh"] = F.regexp_count(F.col(text_col), F.lit(CJK_RE))
    order = ["en", "de", "fr", "es", "zh"]
    best = F.greatest(*[s[k] for k in order])
    pred = F.when(best == 0, F.lit("und"))
    for k in order:
        pred = pred.when(s[k] == best, F.lit(k))
    out = df
    for k in order:
        out = out.withColumn(f"score_{k}", s[k])
    return out.withColumn("lang_pred", pred)


def _word_grams(toks: Column, n: int) -> Column:
    """All n-word grams of a token array as space-joined strings; empty array
    when the document has fewer than n tokens."""
    if n == 1:
        return toks
    return F.when(
        F.size(toks) >= n,
        F.transform(
            F.sequence(F.lit(1), F.size(toks) - F.lit(n - 1)),
            lambda i: F.array_join(F.slice(toks, i, n), " "),
        ),
    ).otherwise(F.array().cast("array<string>"))


# Gopher-rule thresholds (Rae et al. 2021 §A1.1-style repetition filters,
# re-parameterized for word-grams): drop a document when any one repetition
# signal crosses its line. Part of the operator definition — keep in sync
# with the oracle SQL in __spark_entry__.
REP_MAX_TOP_BIGRAM = 0.20
REP_MAX_DUP_5GRAM = 0.10
REP_MIN_TTR = 0.20


def with_repetition(
    df: DataFrame, text_col: str = "text", id_col: str = "doc_id"
) -> DataFrame:
    """Gopher-style repetition filters over word n-grams: type-token ratio
    (n=1), the fraction of bigram occurrences taken by the single most
    frequent bigram (n=2), and the duplicate-occurrence fraction for bigrams
    and 5-grams — the standard "remove boilerplate / looped generations"
    quality gate for LLM training corpora.

    Plan shape (scale path): ONE scan of the corpus emits all three gram
    sizes through a single explode (the per-row struct tag avoids three
    scans), then two keyed aggregations — `(doc, n, gram)` counts with
    map-side partial aggregation, then a conditional rollup to one row per
    document. Both shuffles key on high-cardinality ids, so the operator
    parallelizes like a word count at any corpus size; no Python runs
    anywhere.

    Reference anchor: same streaming-kernel discipline as the rest of this
    module (`rust-lib/src/nom_parser.rs` precompiles its grammar; here the
    "grammar" is the gram construction, compiled once into codegen).
    """
    toks = F.split(normalized_text(F.col(text_col)), " ")
    def _tag(n: int):
        # NB: must return a ONE-argument lambda — F.transform hands a
        # two-argument lambda (element, index), which would shadow a
        # default-arg n with the element index
        return lambda g: F.struct(F.lit(n).alias("n"), g.alias("g"))

    tagged = F.flatten(
        F.array(
            *[
                F.transform(_word_grams(F.col("_rep_toks"), n), _tag(n))
                for n in (1, 2, 5)
            ]
        )
    )
    rows = (
        df.select(F.col(id_col), toks.alias("_rep_toks"))
        .select(F.col(id_col), F.explode(tagged).alias("_s"))
        .select(F.col(id_col), F.col("_s.n").alias("n"), F.col("_s.g").alias("g"))
    )
    gc = rows.groupBy(id_col, "n", "g").agg(F.count("*").alias("c"))

    def _occ(n: int) -> Column:
        return F.sum(F.when(F.col("n") == n, F.col("c")))

    def _dis(n: int) -> Column:
        return F.count(F.when(F.col("n") == n, F.lit(1)))

    agg = gc.groupBy(id_col).agg(
        _occ(1).alias("occ1"),
        _dis(1).alias("dis1"),
        _occ(2).alias("occ2"),
        _dis(2).alias("dis2"),
        F.max(F.when(F.col("n") == 2, F.col("c"))).alias("top2"),
        _occ(5).alias("occ5"),
        _dis(5).alias("dis5"),
    )

    def _ratio(num: Column, den: Column) -> Column:
        return F.round(
            F.coalesce(num, F.lit(0)).cast("double")
            / F.greatest(F.coalesce(den, F.lit(0)), F.lit(1)).cast("double"),
            6,
        )

    ttr = _ratio(F.col("dis1"), F.col("occ1"))
    top_bigram = _ratio(F.col("top2"), F.col("occ2"))
    dup_bigram = _ratio(F.col("occ2") - F.col("dis2"), F.col("occ2"))
    dup_5gram = _ratio(F.col("occ5") - F.col("dis5"), F.col("occ5"))
    return agg.select(
        F.col(id_col),
        ttr.alias("ttr"),
        top_bigram.alias("top_bigram_frac"),
        dup_bigram.alias("dup_bigram_frac"),
        dup_5gram.alias("dup_5gram_frac"),
        (
            (top_bigram <= F.lit(REP_MAX_TOP_BIGRAM))
            & (dup_5gram <= F.lit(REP_MAX_DUP_5GRAM))
            & (ttr >= F.lit(REP_MIN_TTR))
        ).alias("rep_keep"),
    )


def _gram_hash(gram: Column) -> Column:
    """Deterministic 60-bit integer hash of a k-gram, identical in Spark and
    DuckDB: first 15 hex chars of md5, parsed base-16."""
    return F.conv(F.substring(F.md5(gram), 1, 15), 16, 10).cast("long")


def winnow_fingerprints(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    k: int = WINNOW_K,
    w: int = WINNOW_W,
) -> DataFrame:
    """Winnowing document fingerprint (Schleimer et al., SIGMOD'03): hash all
    k-char grams of the normalized text, keep the minimum of each w-gram
    window, emit distinct selected hashes as (id, gram_hash) rows.

    Two near-duplicate documents share most fingerprints, so a groupBy on
    gram_hash is a scalable (shuffle-once) near-dup candidate generator.
    Entirely Catalyst higher-order functions — no Python.

    Each intermediate (norm, grams) is materialized as a real column before
    the next higher-order function consumes it: Catalyst inlines lambda-free
    subexpressions into every element evaluation otherwise (no CSE inside
    HOF lambdas), which turns O(n) into O(n·cost(norm))."""
    norm_col = F.col("_winnow_norm")
    n_grams = F.greatest(F.length(norm_col) - F.lit(k - 1), F.lit(1))
    grams = F.transform(
        F.sequence(F.lit(1), n_grams), lambda i: _gram_hash(norm_col.substr(i, F.lit(k)))
    )
    grams_col = F.col("_winnow_grams")
    n_wins = F.greatest(F.size(grams_col) - F.lit(w - 1), F.lit(1))
    wins = F.transform(
        F.sequence(F.lit(1), n_wins),
        lambda j: F.array_min(F.slice(grams_col, j, w)),
    )
    fp = F.array_sort(F.array_distinct(wins))
    return (
        df.withColumn("_winnow_norm", normalized_text(F.col(text_col)))
        .withColumn("_winnow_grams", grams)
        .select(F.col(id_col), F.explode(fp).alias("gram_hash"))
    )
