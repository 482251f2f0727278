"""G72 — phonetic blocking (the Soundex family), the fourth classic
blocking strategy next to key blocking (F6), LSH (F7), and sorted
neighborhood (G57).

Phonetic keys group names that SOUND alike — `jon`/`john`, `smith`/
`smyth` — which string-edit channels only catch within their edit budget
and LSH only catches with gram overlap. The key here is a house variant of
American Soundex (public-domain algorithm, Russell 1918; also the model
for Spark's own `F.soundex`):

    1. lowercase the dotless local, strip non-letters;
    2. key head = the first letter;
    3. over the REMAINDER: drop h/w, map consonant classes to digits
       (bfpv→1 cgjkqsxz→2 dt→3 l→4 mn→5 r→6), collapse digit runs, drop
       vowels (a e i o u y);
    4. key tail = first three digits, zero-padded.

Deviation from textbook Soundex, chosen for engine parity: the
first-letter's own class is not merged with an identical adjacent code
(rule 3 of the original), because expressing that merge needs regex
backreferences — Java regex (Spark) has them, RE2 (DuckDB) does not. The
house chain uses only class-character sets and bounded repetition, so the
SAME expression sequence evaluates identically in Catalyst and DuckDB and
the oracle replays it verbatim (the `phonetic_key_sql` twin below is
generated from the same _STEPS table — one source of truth).

Scale shape: the key is a pure per-row expression (zero shuffle to
compute); blocking is the house capped self-join (`_cap_buckets` window →
SMJ on the key, exchange reused). Phonetic keys are coarse — `max_block`
matters more here than in any other channel (every `j.n`-class name
collides) — so the cap is load-bearing, exactly like the exact-local
channel's."""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

# (pattern, replacement) chain applied to the post-head remainder. ORDER
# MATTERS and is shared verbatim by the Spark and SQL twins: h/w first
# (classic), then class digits, then run-collapse (bounded repetition, no
# backreferences), then vowel removal.
_STEPS = (
    ("[hw]", ""),
    ("[bfpv]", "1"),
    ("[cgjkqsxz]", "2"),
    ("[dt]", "3"),
    ("l", "4"),
    ("[mn]", "5"),
    ("r", "6"),
    ("1{2,}", "1"),
    ("2{2,}", "2"),
    ("3{2,}", "3"),
    ("4{2,}", "4"),
    ("5{2,}", "5"),
    ("6{2,}", "6"),
    ("[aeiouy]", ""),
)


def phonetic_key(col: Column) -> Column:
    """House Soundex-family key of a string column (module docstring).
    Empty/no-letter inputs key to '' (callers drop them — a key shared by
    every numeric local would be one giant junk block)."""
    s = F.regexp_replace(F.lower(col), "[^a-z]", "")
    tail = F.substring(s, 2, 1_000_000)
    for pat, rep in _STEPS:
        tail = F.regexp_replace(tail, pat, rep)
    return F.when(
        F.length(s) == 0, F.lit("")
    ).otherwise(
        F.concat(F.upper(F.substring(s, 1, 1)), F.rpad(F.substring(tail, 1, 3), 3, "0"))
    )


def phonetic_key_sql(expr: str) -> str:
    """The DuckDB twin of phonetic_key over SQL expression `expr` —
    generated from the SAME _STEPS table so the engines cannot drift."""
    s = f"regexp_replace(lower({expr}), '[^a-z]', '', 'g')"
    tail = f"substr({s}, 2)"
    for pat, rep in _STEPS:
        tail = f"regexp_replace({tail}, '{pat}', '{rep}', 'g')"
    return (
        f"CASE WHEN length({s}) = 0 THEN '' "
        f"ELSE upper(substr({s}, 1, 1)) || rpad(substr({tail}, 1, 3), 3, '0') END"
    )


def phonetic_pairs(
    uniq: DataFrame,
    local_col: str = "local_canon",
    max_block: int = 50,
) -> DataFrame:
    """Capped phonetic-block candidate pairs over the distinct-email dim:
    → (email_a, email_b, pkey), each unordered pair once. Dot-insignificant
    (keys ignore non-letters), cross-domain by design — phonetic identity
    of the name is evidence regardless of provider."""
    from email_address_parser_spark.operators.blocking import _cap_buckets

    keyed = uniq.select(
        "email", phonetic_key(F.col(local_col)).alias("pkey")
    ).where(F.col("pkey") != "")
    bounded = _cap_buckets(keyed, ["pkey"], max_block)
    a = bounded.select(F.col("email").alias("email_a"), "pkey")
    b = bounded.select(F.col("email").alias("email_b"), "pkey")
    return (
        a.join(b, "pkey")
        .where(F.col("email_a") < F.col("email_b"))
        .select("email_a", "email_b", "pkey")
    )
