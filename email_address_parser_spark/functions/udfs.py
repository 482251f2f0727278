"""Vectorized (Arrow/pandas) UDFs — the engine's only Python-side hot path.

Design rules (SURVEY.md §2F F17, north_star "no per-row Python"):
  * scalar pandas UDFs only; regexes compiled once per Python worker at module
    import (the reference's precompile-once strategy, index.ts:52-53);
  * strict-first execution: the strict pattern runs vectorized over the whole
    batch, the lax pattern only over the strict misses (mirrors
    nom_parser.rs:12-22 where the strict attempt always runs first);
  * everything stays in pandas .str (C-level loops over Arrow-backed blocks).
"""

from __future__ import annotations

import re

import pandas as pd
from pyspark.sql.functions import pandas_udf
from pyspark.sql.types import (
    ArrayType,
    BooleanType,
    StringType,
    StructField,
    StructType,
)

from ..kernel.grammar import (
    EMAIL_LAX_PATTERN,
    EMAIL_STRICT_PATTERN,
    deep_patterns,
    paren_depth_bound,
)

# \A/\Z anchors (NOT ^/$: '$' would accept a trailing newline, which the
# all_consuming parser rejects)
_STRICT_ANCHORED = re.compile(rf"\A{EMAIL_STRICT_PATTERN}\Z")
_LAX_ANCHORED = re.compile(rf"\A{EMAIL_LAX_PATTERN}\Z")

# Candidate pre-scan: a candidate is either an <angle-bracketed> span (the only
# way an address containing spaces/folds/comments survives tokenization) or a
# whitespace-delimited token containing '@'. Length-capped to bound regex cost
# on garbage (RFC 5322 line limit is 998; no VALID corpus address exceeds it).
_ANGLE_RE = re.compile(r"<([^<>]{1,998})>")
_TOKEN_RE = re.compile(r"[^\s<>]{1,998}")


def parse_batch(values: pd.Series) -> pd.DataFrame:
    """Strict-first anchored parse of a batch of candidate strings.

    Returns columns (local_part, domain, valid_strict, valid_lax); the capture
    columns are the VERBATIM grammar slices (SURVEY.md §1.4) and are null when
    both grammars reject.
    """
    values = values.astype("string")
    strict = values.str.extract(_STRICT_ANCHORED)
    valid_strict = strict["local"].notna()
    valid_lax = valid_strict.copy()

    misses = ~valid_strict & values.notna()
    local = strict["local"]
    domain = strict["domain"]
    if misses.any():
        lax = values[misses].str.extract(_LAX_ANCHORED)
        lax_hit = lax["local"].notna()
        valid_lax.loc[misses] = lax_hit
        local = local.copy()
        domain = domain.copy()
        local.loc[misses] = lax["local"]
        domain.loc[misses] = lax["domain"]

    # comment nesting beyond the default patterns' bound: candidates that
    # failed BOTH grammars but contain >= 2 '(' retry against the depth-128
    # patterns (Rust parity, nom_parser.rs:9,425-450). Scalar loop over a
    # residual set that is empty on real corpora; the .all() short-circuit
    # keeps the all-valid fast path free of extra batch passes.
    if not bool(valid_lax.all()):
        resid = values.notna() & ~valid_lax.fillna(False).astype(bool)
        cand = values[resid & (values.str.count(r"\(") >= 2)]
        if len(cand):
            for ix, s in cand.items():
                deep = deep_patterns(paren_depth_bound(s))
                m = deep.strict.fullmatch(s)
                if m is not None:
                    valid_strict.loc[ix] = True
                    valid_lax.loc[ix] = True
                else:
                    m = deep.lax.fullmatch(s)
                    if m is not None:
                        valid_lax.loc[ix] = True
                if m is not None:
                    local.loc[ix] = m.group("local")
                    domain.loc[ix] = m.group("domain")

    return pd.DataFrame(
        {
            "local_part": local,
            "domain": domain,
            "valid_strict": valid_strict.fillna(False),
            "valid_lax": valid_lax.fillna(False),
        }
    )


def extract_candidates(text: str) -> list:
    """Candidate mention substrings of one turn's text, in reading order.

    Two channels (extraction contract, see operators/extract.py):
      1. <angle-bracketed> spans — complex addresses (quoted strings, CFWS,
         folds) are only recoverable when delimited;
      2. whitespace tokens containing '@' (angle spans excluded from this pass).
    The anchored validator decides validity downstream; this stage only finds
    plausible boundaries (first-byte gating analog, nom_parser.rs:510).
    """
    if not text or "@" not in text and "<" not in text:
        return []
    out = []
    spans = []
    for m in _ANGLE_RE.finditer(text):
        if "@" in m.group(1):
            out.append((m.start(), m.group(1)))
            spans.append((m.start(), m.end()))
    for m in _TOKEN_RE.finditer(text):
        if "@" not in m.group(0):
            continue
        inside = any(s <= m.start() < e for s, e in spans)
        if not inside:
            out.append((m.start(), m.group(0)))
    out.sort(key=lambda t: t[0])
    return [c for _, c in out]


MENTION_STRUCT = StructType(
    [
        StructField("raw", StringType()),
        StructField("local_part", StringType()),
        StructField("domain", StringType()),
        StructField("valid_strict", BooleanType()),
        StructField("valid_lax", BooleanType()),
    ]
)


@pandas_udf(ArrayType(MENTION_STRUCT))
def extract_parse_udf(texts: pd.Series) -> pd.Series:
    """Fused extract+parse: ONE Arrow boundary crossing per batch, so no
    candidate is re-serialized back into Python between extraction and
    parsing. The parse stays fully vectorized: all
    candidates of the batch are flattened into a single Series, run through
    parse_batch once, then regrouped per turn."""
    cand_lists = [
        extract_candidates(t) if isinstance(t, str) else [] for t in texts
    ]
    flat = [c for lst in cand_lists for c in lst]
    if not flat:
        return pd.Series([[] for _ in cand_lists], dtype=object)
    parsed = parse_batch(pd.Series(flat))

    def _opt(v):
        return None if pd.isna(v) else v

    recs = list(
        zip(
            flat,
            parsed["local_part"],
            parsed["domain"],
            parsed["valid_strict"],
            parsed["valid_lax"],
        )
    )
    rows, idx = [], 0
    for lst in cand_lists:
        row = []
        for _ in lst:
            raw, lp, dom, vs, vl = recs[idx]
            idx += 1
            row.append(
                {
                    "raw": raw,
                    "local_part": _opt(lp),
                    "domain": _opt(dom),
                    "valid_strict": bool(vs),
                    "valid_lax": bool(vl),
                }
            )
        rows.append(row)
    return pd.Series(rows, dtype=object)
