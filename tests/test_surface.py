"""No package definition survives that only tests reach.

A shipped caller is the identity chain, a registered driver query, `jobs/`,
a root script (`bench.py`, ...) or perfbench. This scan parses every non-test
`.py` file and repeatedly drops each top-level package definition (function,
class or assigned name) that no other live top-level node names — as a
variable, an attribute, an import alias or an identifier-shaped string (a
registry key, a getattr target). Comments and docstrings name nothing.

What is dropped must be exactly ALLOWED: new test-only surface fails here,
and an allowed name that gains a shipped caller must leave the list. Pure
AST, no Spark.
"""

from __future__ import annotations

import ast
from collections import Counter
from pathlib import Path

ROOT = Path(__file__).resolve().parent.parent
PACKAGE = "email_address_parser_spark"

_PARSER_API = "kernel/parser: the reference parser's public API"
_CLK_LAYOUT = "pprl: MoR layout of the CLK fold state, pinned by a round-trip test"
ALLOWED = {
    "EmailAddress": _PARSER_API,
    "ParsingOptions": _PARSER_API,
    "InvalidEmailError": _PARSER_API,
    "CTEXT": "kernel/grammar: the RFC ctext union the compact class is pinned to",
    "CFWS": "kernel/grammar: the RFC cfws production CFWS_STAR is derived from",
    "register_er_views": "sql_views: the documented spark.sql surface",
    "clk_dice_pairs": "pprl: exact CLK Dice compare whose properties tests pin",
    "CLK_STATE_TABLES": _CLK_LAYOUT,
    "CLK_STATE_KEYS": _CLK_LAYOUT,
    "CLK_BUCKET_KEYS": _CLK_LAYOUT,
}


def _sources():
    for path in sorted(ROOT.rglob("*.py")):
        rel = path.relative_to(ROOT)
        if "tests" in rel.parts or rel.parts[0].startswith("."):
            continue
        yield rel, ast.parse(path.read_text(), filename=str(rel))


def _defined(node: ast.stmt) -> set:
    if isinstance(node, (ast.FunctionDef, ast.AsyncFunctionDef, ast.ClassDef)):
        return {node.name}
    if isinstance(node, ast.Assign):
        return {t.id for t in node.targets if isinstance(t, ast.Name)}
    if isinstance(node, ast.AnnAssign) and isinstance(node.target, ast.Name):
        return {node.target.id}
    return set()


def _named(node: ast.stmt) -> Counter:
    out = Counter()
    for n in ast.walk(node):
        if isinstance(n, ast.Name):
            out[n.id] += 1
        elif isinstance(n, ast.Attribute):
            out[n.attr] += 1
        elif isinstance(n, ast.alias):
            out.update(n.name.split("."))
        elif (
            isinstance(n, ast.Constant)
            and isinstance(n.value, str)
            and n.value.isidentifier()
        ):
            out[n.value] += 1
    return out


def unreached_definitions() -> dict:
    """{name: "module:line"} of package definitions no shipped caller
    reaches, directly or through another reached definition."""
    nodes = []  # (where, defined names, named names)
    for rel, tree in _sources():
        in_package = rel.parts[0] == PACKAGE
        for node in tree.body:
            names = _defined(node) if in_package else set()
            nodes.append((f"{rel}:{node.lineno}", names, _named(node)))
    live = set(range(len(nodes)))
    total = Counter()
    for _, _, named in nodes:
        total.update(named)
    dropped = True
    while dropped:
        dropped = False
        for i in sorted(live):
            _, names, named = nodes[i]
            if names and not any(total[n] - named[n] > 0 for n in names):
                live.remove(i)
                total.subtract(named)
                dropped = True
    return {
        name: where
        for i, (where, names, _) in enumerate(nodes)
        if i not in live
        for name in names
    }


def test_only_allowlisted_definitions_lack_a_shipped_caller():
    unreached = unreached_definitions()
    assert set(unreached) == set(ALLOWED), {
        "unreached, not allowed": {
            n: w for n, w in unreached.items() if n not in ALLOWED
        },
        "allowed, now reached": sorted(set(ALLOWED) - set(unreached)),
    }
