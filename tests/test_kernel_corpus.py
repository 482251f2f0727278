"""The six generated conformance suites of the reference, ported 1:1.

Generators: /root/reference/rust-lib/build.rs:87-420 (suite composition, case
counts and assertions), re-derived for the regex twin at
npm-packages/regex/tests/email-regex.spec.ts. Expected totals:
  parses_valid_email_address                 8 × 38 = 304
  does_not_parse_invalid_email_address       12×38 + 8×9 + 12×9 = 636
  is_email_parsing_tests (lax, isemail.xml)  164 − 3 ignored = 161
  instantiates_valid_email_address           304
  panics_instantiating_invalid_email_address 636
  is_valid_email_address                     940
"""

from __future__ import annotations

import pytest

from tests.corpus import (
    read_corpus_lines,
    read_isemail_corpus,
)
from email_address_parser_spark.kernel.parser import (
    EmailAddress,
    InvalidEmailError,
    ParsingOptions,
    is_valid_email,
    parse_email,
)


def _load(corpus_dir):
    return (
        read_corpus_lines(corpus_dir / "valid_local_parts.txt"),
        read_corpus_lines(corpus_dir / "invalid_local_parts.txt"),
        read_corpus_lines(corpus_dir / "valid_domains.txt"),
        read_corpus_lines(corpus_dir / "invalid_domains.txt"),
    )


def _cartesian(locals_, domains):
    return [(lp, d) for lp in locals_ for d in domains]


def test_corpus_shapes(corpus_dir):
    vl, il, vd, idm = _load(corpus_dir)
    assert (len(vl), len(il), len(vd), len(idm)) == (8, 12, 38, 9)
    assert "" in il and "" in idm  # empty string is a member of both invalid lists
    assert '"test test"' in vl  # escape decoding happened


def test_parses_valid_email_address(corpus_dir):
    vl, _, vd, _ = _load(corpus_dir)
    cases = _cartesian(vl, vd)
    assert len(cases) == 304
    for lp, dom in cases:
        addr = f"{lp}@{dom}"
        parsed = parse_email(addr, is_lax=False)
        assert parsed is not None, f"expected {addr!r} to be parsed"
        # verbatim-capture invariant (SURVEY.md §1.4; build.rs:111-113)
        assert parsed[0] == lp, f"local_part of {addr!r}"
        assert parsed[1] == dom, f"domain of {addr!r}"
        assert f"{parsed[0]}@{parsed[1]}" == addr, "incorrect display"


def test_does_not_parse_invalid_email_address(corpus_dir):
    vl, il, vd, idm = _load(corpus_dir)
    cases = _cartesian(il, vd) + _cartesian(vl, idm) + _cartesian(il, idm)
    assert len(cases) == 636
    for lp, dom in cases:
        addr = f"{lp}@{dom}"
        assert parse_email(addr, is_lax=False) is None, f"expected {addr!r} not to be parsed"


def test_is_email_parsing_tests(corpus_dir):
    cases = read_isemail_corpus(corpus_dir / "isemail_tests.xml")
    assert len(cases) == 164
    active = [c for c in cases if not c.ignored]
    assert len(active) == 161
    for case in active:
        parsed = parse_email(case.address, is_lax=True)
        assert (parsed is not None) == case.expected_lax_valid, (
            f"case{case.case_id}: expected {case.address!r} lax-valid={case.expected_lax_valid}"
            f" (category {case.category})"
        )
        if case.expected_lax_valid:
            assert f"{parsed[0]}@{parsed[1]}" == case.address, (
                f"case{case.case_id}: incorrect display for {case.address!r}"
            )


def test_instantiates_valid_email_address(corpus_dir):
    vl, _, vd, _ = _load(corpus_dir)
    for lp, dom in _cartesian(vl, vd):
        addr = EmailAddress.new(lp, dom, ParsingOptions(True))
        assert addr.get_local_part() == lp
        assert addr.get_domain() == dom
        assert str(addr) == f"{lp}@{dom}", "incorrect display"


def test_panics_instantiating_invalid_email_address(corpus_dir):
    vl, il, vd, idm = _load(corpus_dir)
    cases = _cartesian(il, vd) + _cartesian(vl, idm) + _cartesian(il, idm)
    for lp, dom in cases:
        with pytest.raises(InvalidEmailError):
            EmailAddress.new(lp, dom, ParsingOptions(False))
        # lax construction is total: accepts the pair verbatim (email_address.rs:265-271)
        addr = EmailAddress.new(lp, dom, ParsingOptions(True))
        assert addr.get_local_part() == lp
        assert addr.get_domain() == dom


def test_is_valid_email_address(corpus_dir):
    vl, il, vd, idm = _load(corpus_dir)
    suites = [
        (_cartesian(vl, vd), True),
        (_cartesian(il, vd), False),
        (_cartesian(vl, idm), False),
        (_cartesian(il, idm), False),
    ]
    total = 0
    for cases, expected in suites:
        for lp, dom in cases:
            addr = f"{lp}@{dom}"
            assert is_valid_email(addr, is_lax=False) == expected, (
                f"expected {addr!r} to be valid: {expected}"
            )
            total += 1
    assert total == 940


def test_inline_unit_cases():
    """Inline unit tests from email_address.rs:318-441 that pin tricky behavior."""
    # whitespace-preserving strict parse (email_address.rs:390-396)
    p = parse_email(" test @iana.org", is_lax=False)
    assert p == (" test ", "iana.org")
    # leading CRLF-fold lax round-trip (email_address.rs:398-404)
    p = parse_email("\r\n test@iana.org", is_lax=True)
    assert p is not None and f"{p[0]}@{p[1]}" == "\r\n test@iana.org"
    assert parse_email("\r\n test@iana.org", is_lax=False) is None
    # dotted obs local part (email_address.rs:406-409)
    assert parse_email("test . test@iana.org", is_lax=True) is not None
    # CFWS inside obs domain (email_address.rs:384-388)
    assert parse_email("test@ iana .com", is_lax=True) is not None
    # dash-label rule (email_address.rs:343-360; benches/benchmarks.rs:6-7)
    assert parse_email("foo-@bar.com", is_lax=False) is None
    assert parse_email("foo@-bar.com", is_lax=False) is None
    assert parse_email("test@-google.com", is_lax=False) is None
    assert parse_email("test@google-.com", is_lax=False) is None
    # lax ctor is total even for empty parts (email_address.rs:430-440)
    addr = EmailAddress.new("", "", ParsingOptions(True))
    assert str(addr) == "@"
    # '@' inside a quoted local part: the split must follow the grammar
    p = parse_email('"test@test"@iana.org', is_lax=True)
    assert p == ('"test@test"', "iana.org")
    # equality is exact and case-sensitive (email_address.rs:330-340)
    assert EmailAddress("foo", "bar.com") == EmailAddress("foo", "bar.com")
    assert EmailAddress("foo", "bar.com") != EmailAddress("foo", "BAR.com")


def test_deep_comment_nesting_rust_parity():
    """Comments nest to depth 128 like the Rust parser (nom_parser.rs:9,
    425-450); the corpus only exercises depth <= 2, so these cases guard the
    bucketed deep-pattern fallback (kernel/grammar.py deep_patterns)."""
    import time

    from email_address_parser_spark.kernel.grammar import MAX_COMMENT_DEPTH
    from email_address_parser_spark.kernel.parser import is_valid_email, parse_email

    def nest(d, inner="c"):
        s = inner
        for _ in range(d):
            s = f"({s})"
        return s

    # corpus depth-2 case still handled by the default pattern
    assert parse_email("(comment(comment))test@iana.org", True) == (
        "(comment(comment))test",
        "iana.org",
    )
    # depth 3-10: lax accepts, captures stay verbatim
    for d in (3, 4, 10):
        assert parse_email(nest(d) + "x@y.z", True) == (nest(d) + "x", "y.z")
    # FWS inside a nested comment (Rust accepts; the TS twin's bound did not)
    assert is_valid_email("(a( b))x@y.z", True)
    # strict mode carries CFWS around quoted strings → deep comments apply too
    assert parse_email('((a(b)))"q"@y.z', False) is not None
    # the Rust cap: depth 128 accepted, 129 rejected
    assert is_valid_email(nest(MAX_COMMENT_DEPTH) + "x@y.z", True)
    assert not is_valid_email(nest(MAX_COMMENT_DEPTH + 1) + "x@y.z", True)
    # adversarial unclosed nesting stays linear (possessive quantifiers)
    t0 = time.perf_counter()
    assert not is_valid_email("(" * 120 + " a " * 50 + "@x.y", True)
    assert (time.perf_counter() - t0) < 0.5


def test_ctext_compact_class_equals_rfc_union():
    """The single negated class the patterns use is exactly the union of the
    reference's three ctext productions (printable-minus-()\\ + non-ASCII +
    obs-NO-WS-CTL): every codepoint except NUL TAB LF CR SP ( ) backslash.
    Checked exhaustively over ASCII + Latin-1 + BMP/astral samples."""
    import re

    from email_address_parser_spark.kernel.grammar import CTEXT, _CTEXT_COMPACT

    rfc = re.compile(CTEXT)
    compact = re.compile(_CTEXT_COMPACT)
    cps = list(range(0x0, 0x300)) + [0x2028, 0xFFFD, 0x1F600, 0x10FFFF]
    for cp in cps:
        ch = chr(cp)
        assert (rfc.fullmatch(ch) is None) == (compact.fullmatch(ch) is None), hex(cp)


def test_deep_comment_token_form_equals_factored_spelling():
    """_comment_pattern's flat token form (compile-cost optimized) accepts
    exactly the grammar's (FWS? ccontent)* FWS? factored spelling — the
    specification form, built independently here — on deterministic edges and
    4k random comment-soup candidates, under both grammars."""
    import random
    import re

    from email_address_parser_spark.kernel import grammar as g

    def factored(depth: int) -> str:
        fws_opt = r"(?:(?:\r\n)?[ \t](?:[ \t]|\r\n[ \t])*)?"
        inner = f"(?:{fws_opt}{g._CCONTENT_FLAT})*{fws_opt}"
        pat = f"\\({inner}\\)"
        for _ in range(depth - 1):
            pat = (
                f"\\((?:{fws_opt}(?:{g._CCONTENT_FLAT}|{pat}))*{fws_opt}\\)"
            )
        return pat

    depth = 6  # small enough that the backtracking spec form stays fast
    spec_lax = re.compile(g.EMAIL_LAX_PATTERN.replace(g.COMMENT, factored(depth)))
    spec_strict = re.compile(
        g.EMAIL_STRICT_PATTERN.replace(g.COMMENT, factored(depth))
    )
    tok_lax = re.compile(
        g.EMAIL_LAX_PATTERN.replace(g.COMMENT, g._comment_pattern(depth))
    )
    tok_strict = re.compile(
        g.EMAIL_STRICT_PATTERN.replace(g.COMMENT, g._comment_pattern(depth))
    )

    cases = ["x@y.com", "(unterminated x@y.com", "(()x@y.com"]
    for d in (1, 2, 3, 5, 6):
        cases += [
            "(" * d + "c" + ")" * d + "x@y.com",
            "(" * d + " \r\n c" + ")" * d + "x@y.com",
        ]
    cases += [
        "( \r\n (fold \r\n ed))t@i.org",
        "( \r\n\r\n )t@i.org",
        "(a\\)b)x@y.com",
        "((a) b(c) )x@y.com",
        "(a(b(c)d)e)x@y.com",
        '((a(b)))"q"@y.z',
    ]
    rng = random.Random(7)
    alphabet = list(" \t()\\abc.@") + ["\r\n "]
    for _ in range(4000):
        cases.append(
            "".join(rng.choice(alphabet) for _ in range(rng.randint(1, 20)))
            + "x@y.com"
        )
    for c in cases:
        assert (spec_strict.fullmatch(c) is None) == (
            tok_strict.fullmatch(c) is None
        ), repr(c)
        assert (spec_lax.fullmatch(c) is None) == (
            tok_lax.fullmatch(c) is None
        ), repr(c)


def test_deep_pair_compiles_lazily_per_kind():
    """Strict-only callers never pay the lax deep compile (~4x the strict
    one: COMMENT is embedded at 15 lax grammar sites vs 4 strict)."""
    from email_address_parser_spark.kernel.grammar import DeepPair, _comment_pattern

    pair = DeepPair(_comment_pattern(4))
    assert pair._strict is None and pair._lax is None
    assert pair[0].fullmatch("(c)x@y.com") is None or True  # force strict
    assert pair._strict is not None
    assert pair._lax is None, "indexing [0] must not compile the lax pattern"
    assert pair[1] is pair.lax
    assert pair._lax is not None
