"""Reachability guard: every top-level def in go_htmldate_spark/ must be
reachable from a product root, or be a named test oracle.

Roots are the driver entry module, the frozen bench, the CLI jobs, the
benchmark harness and the scripts. A def is reached when a reached piece
of code mentions its name (a Name or an attribute); module-level code
outside defs runs at import, so its names are reached too. Matching is
by name only — no imports are resolved, no Spark is started — so a name
shared by two defs reaches both: the guard errs towards "reached". A def
called only through a string (getattr, importlib) would show as
unreached.
"""

from __future__ import annotations

import ast
from pathlib import Path

REPO = Path(__file__).resolve().parents[1]
PACKAGE = REPO / "go_htmldate_spark"
ROOTS = ("__spark_entry__.py", "bench.py", "jobs", "perfbench", "scripts")

# Defs that no product path calls but a test uses as the reference for a
# live one. Each entry: name → the live code it checks.
TEST_ORACLES = {
    "_idiosyncrasies_search_slow":
        "finders: plain-finditer reference for _idiosyncrasies_search_fast",
    "_md5_plane":
        "similarity: per-row plane expression that _plane_literals must equal",
    "hll_estimate_py":
        "sketches: single-threaded HyperLogLog reference for hll_estimate",
    "write_bucketed_corpus":
        "scheduler: writes the bucketed table that fetch_join(mode='bucketed') reads",
    "render_children":
        "parser: pure-Python serializer that _cdom.render_inner must equal byte for byte",
    "_escape":
        "parser: render_children's x/net/html escape set",
    "_parse_attrs":
        "fastparse: regex attribute parser that _cdom.parse_attrs and NodeBase.attr must equal",
    "slow_date":
        "selectors: full-search date rule that _cdom.filter_date(fast=False) must equal",
    "fast_date":
        "selectors: skip-extensive date rule that _cdom.filter_date(fast=True) must equal",
    "date_rule":
        "selectors: attribute predicate shared by slow_date and fast_date",
    "_str_or":
        "selectors: date_rule's strOr short-circuit",
    "discard_rule":
        "selectors: archive.org banner rule that _cdom.prune_and_collect must apply",
}


def _mentions(node: ast.AST) -> set[str]:
    out = set()
    for n in ast.walk(node):
        if isinstance(n, ast.Name):
            out.add(n.id)
        elif isinstance(n, ast.Attribute):
            out.add(n.attr)
    return out


def _scan_module(stmts, path, defs, seeds) -> None:
    for s in stmts:
        if isinstance(s, (ast.FunctionDef, ast.AsyncFunctionDef, ast.ClassDef)):
            defs.setdefault(s.name, []).append((path, s))
        elif isinstance(s, (ast.If, ast.Try)):
            if isinstance(s, ast.If):
                seeds |= _mentions(s.test)
            _scan_module(s.body, path, defs, seeds)
            _scan_module(s.orelse, path, defs, seeds)
            for h in getattr(s, "handlers", ()):
                _scan_module(h.body, path, defs, seeds)
            _scan_module(getattr(s, "finalbody", ()), path, defs, seeds)
        elif not isinstance(s, (ast.Import, ast.ImportFrom)):
            seeds |= _mentions(s)


def _root_files():
    for root in ROOTS:
        p = REPO / root
        for f in [p] if p.is_file() else sorted(p.rglob("*.py")):
            if "tests" not in f.relative_to(REPO).parts:
                yield f


def unreached_defs() -> dict[str, list[str]]:
    """name → ['file:line', …] of package defs no root reaches."""
    defs: dict[str, list] = {}
    seeds: set[str] = set()
    for f in sorted(PACKAGE.rglob("*.py")):
        _scan_module(ast.parse(f.read_text()).body, f, defs, seeds)
    for f in _root_files():
        seeds |= _mentions(ast.parse(f.read_text()))
    reached: set[str] = set()
    todo = list(seeds)
    while todo:
        name = todo.pop()
        if name in reached:
            continue
        reached.add(name)
        for _, node in defs.get(name, ()):
            todo.extend(_mentions(node) - reached)
    return {
        name: [f"{p.relative_to(REPO)}:{n.lineno}" for p, n in sites]
        for name, sites in sorted(defs.items())
        if name not in reached
    }


def test_every_package_def_is_reached_or_a_named_oracle():
    orphans = {
        name: sites
        for name, sites in unreached_defs().items()
        if name not in TEST_ORACLES
    }
    assert not orphans, (
        "defs no product root reaches (delete them with their tests, wire "
        f"them into a root, or list a test oracle in TEST_ORACLES): {orphans}"
    )


def test_oracle_allow_list_is_tight():
    """Each allow-listed oracle still exists and is still unreached, so
    the list cannot hide a def that was deleted or wired in."""
    unreached = unreached_defs()
    stale = sorted(set(TEST_ORACLES) - set(unreached))
    assert not stale, f"TEST_ORACLES entries that are reached or gone: {stale}"
