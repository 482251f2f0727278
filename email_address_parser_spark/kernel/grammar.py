"""RFC 5322 addr-spec + RFC 6532 (Unicode) grammar, as anchored regular expressions.

This is the *decision kernel* of the engine: a pure-Python, dependency-free module
(importable on Spark executors) that reproduces the reference parser's grammar,
including its deliberate deviations from pure RFC 5322.

Provenance (see SURVEY.md §2B/§2C for the full production-by-production map):
  - grammar productions:   /root/reference/rust-lib/src/nom_parser.rs:12-637
  - regex formulation:     /root/reference/npm-packages/regex/src/index.ts:1-57
    (the reference itself proves a regex formulation of this exact grammar is
    corpus-equivalent to the recursive-descent parser)
  - character classes:     nom_parser.rs:582-637

Reference-specific deviations from RFC 5322 that are load-bearing here:
  1. dot-atom labels may not start or end with '-' (nom_parser.rs:121-138); this
     applies per dot-separated label, in both local part and domain.
  2. strict dot-atom tolerates at most ONE WSP char on each side, not full CFWS
     (nom_parser.rs:97-102).
  3. obs (lax) local part allows leading FWS and CFWS around dots
     (nom_parser.rs:147-168).
  4. obs (lax) domain labels are joined by '.' OR runs of '-', with CFWS between
     labels and trailing FWS (nom_parser.rs:221-257).
  5. quoted-pair accepts any ASCII octet after '\\' (incl. NUL/CR/LF), but never
     a non-ASCII code point (nom_parser.rs:598-603).
  6. comments nest; corpus nesting depth is <= 2, and the regex bounds nesting at
     one inner level (index.ts:20), which is corpus-equivalent.
  7. no length limits, no IP/DNS validation: grammar only.

Everything is code-point based: Python `str` + `re` operate on code points, which
matches the Rust parser's UTF-8 stepping (nom_parser.rs:548-552) and the JS 'u'
flag semantics.
"""

from __future__ import annotations

import re

# --- terminals (character classes) — nom_parser.rs:582-637 ---------------------

WSP = r"[ \t]"
# 0x01-0x08, 0x0B, 0x0C, 0x0E-0x1F, 0x7F (obs-NO-WS-CTL, RFC 5322 §4.1)
OBS_NO_WS_CTL = "[\\x01-\\x08\\x0B\\x0C\\x0E-\\x1F\\x7F]"
# RFC 6532: any code point >= U+0080 (Python re lacks \P{ASCII}; this is equivalent
# because Python strings are sequences of code points, not bytes)
NON_ASCII = "[^\\x00-\\x7F]"

_ATEXT_ASCII = r"[A-Za-z0-9!#$%&'*+/=?^_`{|}~-]"
_ATEXT_ASCII_NO_DASH = r"[A-Za-z0-9!#$%&'*+/=?^_`{|}~]"

ATEXT = f"(?:{_ATEXT_ASCII}|{NON_ASCII})"
ATEXT_NO_DASH = f"(?:{_ATEXT_ASCII_NO_DASH}|{NON_ASCII})"

# printable US-ASCII minus the chars each class excludes (nom_parser.rs:605-623)
QTEXT = f"(?:[\\x21\\x23-\\x5B\\x5D-\\x7E]|{NON_ASCII}|{OBS_NO_WS_CTL})"   # not " \
DTEXT = f"(?:[\\x21-\\x5A\\x5E-\\x7E]|{NON_ASCII}|{OBS_NO_WS_CTL})"        # not [ ] \
CTEXT = f"(?:[\\x21-\\x27\\x2A-\\x5B\\x5D-\\x7E]|{NON_ASCII}|{OBS_NO_WS_CTL})"  # not ( ) \

# quoted-pair: '\' + any ASCII octet (incl. NUL, CR, LF, controls); non-ASCII after
# '\' is rejected (nom_parser.rs:598-603 is ASCII-only)
QUOTED_PAIR = "\\\\[\\x00-\\x7F]"

# --- folding whitespace & comments — nom_parser.rs:383-494 ----------------------
#
# The canonical grammar is fws = (WSP+ | WSP* CRLF WSP+)(CRLF WSP+)*: a CRLF must
# be followed by >=1 WSP, bare CR or LF is never whitespace (nom_parser.rs:471-494).
# Written that way (as the regex twin does, index.ts:19), `(?:FWS)*` is a nested
# ambiguous quantifier and exhibits CATASTROPHIC backtracking on adversarial
# candidates (e.g. '<60 spaces>@<60 spaces>' never terminates) — unacceptable for
# an engine fed untrusted 100 TB text. The FWS *language* is exactly
#   { nonempty mixes of WSP and CRLF where every CRLF is immediately followed by
#     WSP and the string ends in WSP }
# which is closed under concatenation (so FWS+ == FWS and FWS* == FWS?), and has
# a deterministic single-token-lookahead form. We use that form everywhere: same
# accepted language, linear-time matching.

# Deterministic form AND possessive repetition (Python 3.11+; see the probe
# below, shared with deep_patterns). Determinism alone keeps each closure's
# own match linear, but a backtracking engine still re-enters the closure
# token-by-token when the FOLLOWING production fails — adjacent closures
# (FWS_STAR then WORD's CFWS_STAR in obs-local-part) then recheck the same
# WSP run from every split point, which is O(n^2) on adversarial candidates
# like '<5k spaces>@<5k spaces>' in lax mode. Maximal munch is language-safe
# at EVERY junction in this grammar: everything that can follow a WSP run
# (atext, qtext, dtext, ctext, '\\' of a quoted-pair, '(', ')', '"', '[',
# ']', '.', '@', '-') excludes WSP, and the \r\n[ \t] token only consumes a
# CRLF that is whitespace-folding by definition — so no follower ever needs
# a character the closure gave up. Possessive quantifiers therefore preserve
# the accepted language and make failure linear. On < 3.11 they degrade to
# plain greedy (same language, slower worst case) — same policy as
# deep_patterns below.
try:  # possessive quantifiers require Python >= 3.11
    re.compile("a*+")
    _PSTAR = "*+"
    _POPT = "?+"
except re.error:  # pragma: no cover — container runs 3.11
    _PSTAR = "*"
    _POPT = "?"

_FWS_TAIL = rf"(?:[ \t]|\r\n[ \t]){_PSTAR}"  # deterministic: branch chosen by next char
FWS = r"(?:\r\n)?[ \t]" + _FWS_TAIL          # ≡ canonical FWS, unambiguous
FWS_OPT = f"(?:{FWS}){_POPT}"                # ≡ (?:FWS)? ≡ (?:FWS)*
FWS_STAR = FWS_OPT

# comment, with exactly one inner nesting level (corpus max depth is 2:
# isemail_tests.xml case '(comment(comment))test@iana.org'); the regex twin bounds
# nesting the same way (index.ts:20)
#
# ccontent = ctext / quoted-pair. CTEXT above mirrors the reference's union of
# RFC productions for audit parity; the patterns use the provably-equal single
# negated class — the union admits every codepoint EXCEPT
# {NUL, TAB, LF, CR, SP, '(', ')', '\\'} (pinned by test_grammar_properties) —
# which is 1/3 the characters per occurrence. That matters for deep_patterns()
# below: ccontent appears once per nesting level at up to 15 grammar sites in
# the lax pattern, so the depth-128 compile cost scales with this literal.
_CTEXT_COMPACT = r"[^\x00\t\n\r ()\\]"
_CCONTENT_FLAT = f"(?:{_CTEXT_COMPACT}|{QUOTED_PAIR})"
COMMENT = (
    f"\\((?:{FWS_OPT}(?:{_CCONTENT_FLAT}|\\((?:{_CCONTENT_FLAT})*\\)))*{FWS_OPT}\\)"
)
# cfws = ((FWS? comment)+ FWS?) | FWS (nom_parser.rs:383-388). As a language this
# is any nonempty sequence of whitespace-runs and comments; CFWS_STAR below is its
# reflexive closure in deterministic form (comments start '(', FWS starts WSP/CR).
CFWS = f"(?:{FWS}|(?:(?:{FWS_OPT}{COMMENT})+{FWS_OPT}))"
# possessive comment loop: no follower of CFWS consumes '(' (see the
# maximal-munch argument at the FWS definitions), so never re-splitting the
# comment run preserves the language
CFWS_STAR = f"{FWS_OPT}(?:{COMMENT}{FWS_OPT}){_PSTAR}"  # ≡ (?:CFWS)* ≡ (?:CFWS)?

# --- dot-atom (strict) — nom_parser.rs:91-138 -----------------------------------

# label: no leading or trailing '-' (project-specific deviation)
DOT_ATOM_LABEL = f"{ATEXT_NO_DASH}(?:{ATEXT}*{ATEXT_NO_DASH})?"
DOT_ATOM_TEXT = f"{DOT_ATOM_LABEL}(?:\\.{DOT_ATOM_LABEL})*"
# at most one WSP char on each side (nom_parser.rs:97-102)
DOT_ATOM = f"{WSP}?{DOT_ATOM_TEXT}{WSP}?"

# --- quoted string — nom_parser.rs:274-320 --------------------------------------

QCONTENT = f"(?:{QTEXT}|{QUOTED_PAIR})"
_QUOTED_STRING_CORE = f'"(?:{FWS_OPT}{QCONTENT})*{FWS_OPT}"'
QUOTED_STRING = f"{CFWS_STAR}{_QUOTED_STRING_CORE}{CFWS_STAR}"

# --- domain literal — nom_parser.rs:334-374 -------------------------------------
# NOTE: the Rust parser's dtext loop does NOT accept quoted-pair inside brackets,
# while the regex twin does; the 3 corpus cases exercising '\' inside a domain
# literal are ignored by both test suites (build.rs:214-218), so either choice is
# corpus-equivalent. We keep the regex-twin form (quoted-pair allowed).

DCONTENT = f"(?:{DTEXT}|{QUOTED_PAIR})"
_DOMAIN_LITERAL_CORE = f"\\[(?:{FWS_OPT}{DCONTENT})*{FWS_OPT}\\]"
DOMAIN_LITERAL = f"{CFWS_STAR}{_DOMAIN_LITERAL_CORE}{CFWS_STAR}"

# --- strict addr-spec — nom_parser.rs:55-78 -------------------------------------

LOCAL_PART_STRICT = f"(?:{DOT_ATOM}|{QUOTED_STRING})"
DOMAIN_STRICT = f"(?:{DOT_ATOM}|{DOMAIN_LITERAL})"

# --- obsolete (lax) addr-spec — nom_parser.rs:63-68,141-271 ---------------------

ATOM = f"{CFWS_STAR}{ATEXT}+{CFWS_STAR}"
WORD = f"(?:{ATOM}|{QUOTED_STRING})"
# leading FWS* and CFWS around dots (deviation from RFC obs-local-part)
LOCAL_PART_OBS = f"{FWS_STAR}{WORD}(?:{CFWS_STAR}\\.{CFWS_STAR}{WORD})*"

_OBS_DOMAIN_LABEL = f"{ATEXT_NO_DASH}+"
DOMAIN_OBS = (
    "(?:"
    f"{CFWS_STAR}{_OBS_DOMAIN_LABEL}"
    f"(?:{CFWS_STAR}(?:\\.|-+){CFWS_STAR}{_OBS_DOMAIN_LABEL})*{FWS_STAR}"
    f"|{DOMAIN_LITERAL}"
    ")"
)

# --- anchored full patterns (all_consuming ≙ re.fullmatch) ----------------------

EMAIL_STRICT_PATTERN = f"(?P<local>{LOCAL_PART_STRICT})@(?P<domain>{DOMAIN_STRICT})"
EMAIL_LAX_PATTERN = f"(?P<local>{LOCAL_PART_OBS})@(?P<domain>{DOMAIN_OBS})"

# Compiled once per interpreter (≙ once per Spark Python worker), amortized over
# Arrow batches — mirrors the reference's precompile-once strategy (index.ts:52-53).
EMAIL_STRICT_RE = re.compile(EMAIL_STRICT_PATTERN)
EMAIL_LAX_RE = re.compile(EMAIL_LAX_PATTERN)


# --- deep comment nesting (Rust parity beyond the corpus) ------------------------
#
# The Rust parser accepts comments nested to depth 128 (nom_parser.rs:9,425-450);
# the corpus only exercises depth <= 2, which the default COMMENT covers (and the
# default also matches the TS regex twin, index.ts:20). For the rare candidate
# that *might* contain deeper nesting (cheap gate: >= 2 '(' characters), the
# parser retries with a depth-128 pattern built recursively below.
#
# Deterministic + possessive: inside a comment, the next token is uniquely
# determined by its first character (')' close, '(' nested comment, WSP/CRLF
# whitespace, anything else ctext/quoted-pair), so possessive quantifiers
# ((?:...)*+ — Python 3.11+) preserve the language while making matching
# linear: no backtracking blowup even on adversarial unclosed 128-deep input.
# On an interpreter whose `re` lacks possessive support (< 3.11) the probe
# below degrades to plain greedy quantifiers — same language (possessive only
# prunes backtracking), so verdicts are identical; only the adversarial-input
# worst case slows down. Without the probe, deep_patterns() would raise
# re.error inside the UDF on a 3.10 executor instead of returning a verdict.

MAX_COMMENT_DEPTH = 128

# _PSTAR probed once above (shared with the FWS/CFWS closures)


def _comment_pattern(depth: int) -> str:
    """Comment nested to exactly <= `depth`, in TOKEN form: inside a comment
    the body is any sequence over {WSP, CRLF WSP, ctext, quoted-pair, nested
    comment}. This is language-equal to the grammar's (FWS? ccontent)* FWS?
    spelling — FWS? is precisely the possibly-empty token sequences over
    {WSP, CRLF WSP} (first-token case split: a nonempty run starts WSP ≡ FWS
    without leading CRLF, or CRLF WSP ≡ FWS with one), so interleavings of
    FWS runs and ccontent are exactly the token sequences. Equivalence is
    fuzz-pinned by tests. The next token is decided by its first character
    ([ \\t] WSP, \\r CRLF, '(' nested, '\\\\' quoted-pair, ')' close, else
    ctext), so possessive repetition preserves the language while keeping
    matching linear on adversarial input — and the flat alternation compiles
    ~2x faster than the FWS?-factored form (re compile cost tracks group
    nesting, not just pattern bytes; this is the deep-bucket cold-start)."""
    body = f"(?:[ \\t]|\\r\\n[ \\t]|{_CCONTENT_FLAT}"
    pat = f"\\({body}){_PSTAR}\\)"
    for _ in range(depth - 1):
        pat = f"\\({body}|{pat}){_PSTAR}\\)"
    return pat


_DEEP_CACHE: dict = {}
_DEPTH_BUCKETS = (4, 16, 64, MAX_COMMENT_DEPTH)


def paren_depth_bound(value: str) -> int:
    """Upper bound on comment nesting depth: the max running excess of '('
    over ')' (one linear scan; actual grammar depth can only be lower)."""
    depth = best = 0
    for ch in value:
        if ch == "(":
            depth += 1
            if depth > best:
                best = depth
        elif ch == ")" and depth > 0:
            depth -= 1
    return best


class DeepPair:
    """Deep (strict, lax) patterns for one depth bucket, compiled lazily PER
    KIND: the lax grammar embeds the bucket's comment pattern at 15 sites vs
    the strict grammar's 4, so its compile costs ~4x — and strict-only
    callers (parse with is_lax=False) never need it.
    Indexable like the old tuple ([0]=strict, [1]=lax); indexing one kind
    does not compile the other."""

    __slots__ = ("_comment", "_strict", "_lax")

    def __init__(self, comment: str):
        self._comment = comment
        self._strict = None
        self._lax = None

    @property
    def strict(self):
        if self._strict is None:
            self._strict = re.compile(
                EMAIL_STRICT_PATTERN.replace(COMMENT, self._comment)
            )
        return self._strict

    @property
    def lax(self):
        if self._lax is None:
            self._lax = re.compile(
                EMAIL_LAX_PATTERN.replace(COMMENT, self._comment)
            )
        return self._lax

    def __getitem__(self, i: int):
        if i == 0:
            return self.strict
        if i in (1, -1):
            return self.lax
        raise IndexError(i)


def deep_patterns(depth_needed: int) -> DeepPair:
    """DeepPair whose comments nest to the smallest bucket >= depth_needed
    (capped at MAX_COMMENT_DEPTH — deeper input is invalid under the bucket
    pattern exactly as under the Rust parser's cap). The pair is cached per
    bucket and each kind compiles on first use — a one-time, per-interpreter
    cost (bucket-128 strict ~60 ms; lax ~4x), amortized across every row the
    worker processes; matching itself stays linear on adversarial input."""
    bucket = next(
        (b for b in _DEPTH_BUCKETS if b >= depth_needed), MAX_COMMENT_DEPTH
    )
    if bucket not in _DEEP_CACHE:
        _DEEP_CACHE[bucket] = DeepPair(_comment_pattern(bucket))
    return _DEEP_CACHE[bucket]


def maybe_deep_comment(value: str) -> bool:
    """Cheap gate for the deep-comment retry: any nesting beyond what the
    default COMMENT accepts requires at least two '(' in the input."""
    return value.count("(") >= 2

