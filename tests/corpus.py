"""Loaders for the reference conformance corpora (tests/data/*).

The corpus files are stored as escaped Rust-string-literal fragments: the build
script embeds each line verbatim into a Rust string literal
(the reference's rust-lib/build.rs:77-84), so '\\"' means '"' and '\\\\' means
'\\'. Decoder parity: npm-packages/regex/tests/email-regex.spec.ts:25-28.

The isemail XML corpus encodes control characters as U+2400-block symbols,
decoded per build.rs:247-253. Three domain-literal quoted-pair cases are ignored
by both reference suites (build.rs:214-218) and therefore here too.
"""

from __future__ import annotations

import re
import xml.etree.ElementTree as ET
from dataclasses import dataclass
from pathlib import Path
from typing import List

_ESCAPE_RE = re.compile(r'\\(["\\])')

# decoded forms of build.rs:214-218's ignored_emails
IGNORED_ISEMAIL_ADDRESSES = frozenset(
    {
        "test@[RFC-5322-\\\t-domain-literal]",
        "test@[RFC-5322-\\\x07-domain-literal]",
        "test@[RFC-5322-\\]-domain-literal]",
    }
)

_CTRL_DECODE = {
    "␍": "\r",
    "␊": "\n",
    "␀": "\x00",
    "␇": "\x07",
    "␉": "\t",
}


def decode_corpus_escapes(value: str) -> str:
    return _ESCAPE_RE.sub(r"\1", value)


def read_corpus_lines(path: Path) -> List[str]:
    """Read one corpus file with Rust str::lines() semantics (no trailing empty
    line; interior empty lines kept — the empty string IS a corpus member of
    both invalid lists)."""
    content = path.read_text(encoding="utf-8").replace("\r", "")
    lines = content.split("\n")
    if lines and lines[-1] == "":
        lines.pop()
    return [decode_corpus_escapes(line) for line in lines]


@dataclass(frozen=True)
class IsEmailCase:
    case_id: int
    address: str
    category: str
    expected_lax_valid: bool
    ignored: bool


def read_isemail_corpus(path: Path) -> List[IsEmailCase]:
    root = ET.fromstring(path.read_text(encoding="utf-8"))
    cases: List[IsEmailCase] = []
    idx = 0
    for test in root.iter("test"):
        address_el = test.find("address")
        category_el = test.find("category")
        if address_el is None or category_el is None:
            continue
        idx += 1
        address = address_el.text or ""
        for sym, ch in _CTRL_DECODE.items():
            address = address.replace(sym, ch)
        category = (category_el.text or "").strip()
        cases.append(
            IsEmailCase(
                case_id=idx,
                address=address,
                category=category,
                expected_lax_valid=category != "ISEMAIL_ERR",
                ignored=address in IGNORED_ISEMAIL_ADDRESSES,
            )
        )
    return cases
