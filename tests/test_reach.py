"""Every public top-level definition in the package is reached by code
that is not a test.

A static scan with ``ast``: a definition counts as reached when some
non-test module (the package, ``tools/``, ``perfbench/``, ``bench.py``,
``__spark_entry__.py``) names it in code — as a name, an attribute, an
imported name, or a string that is a whole dotted name (``getattr``,
registry keys). Docstrings and comments never count, and neither does a
package ``__init__`` re-export, since it only renames what it imports.
Querybank cases (``@register``) are reached through the registry.

A definition that only tests reach is a second path to delete, unless it
is the only implementation of what it does: then it goes in
``KEPT_FOR_TESTS`` with the reason it stays.
"""

from __future__ import annotations

import ast
import re
from pathlib import Path

ROOT = Path(__file__).resolve().parent.parent
PACKAGE = ROOT / "youcruit_tap_rawpostgresql_spark"
ENTRY_POINTS = [
    ROOT / "bench.py",
    ROOT / "__spark_entry__.py",
    ROOT / "tools",
    ROOT / "perfbench",
]

KEPT_FOR_TESTS = {
    "vacuum": "the only physical removal of a versioned table's dead files",
    "delete_keys": "the only keyed row delete on a versioned table",
    "prune_files": "the only public probe of the versioned table's file skipping",
    "run_streaming_versioned_sink": (
        "the only streaming writer into a versioned table; its txn marker "
        "is the exactly-once contract a streaming target reuses"
    ),
    "write_zordered": "the only Z-order clustered write",
    "exact_cosine_topk": "ANN reference kernel the querybank tests compare against",
    "ivf_rank_cells": "ANN reference kernel the querybank tests compare against",
    "lsh_signatures": "ANN reference kernel the querybank tests compare against",
    "pq_codes_df": "ANN reference kernel the querybank tests compare against",
}

_DOTTED = re.compile(r"[A-Za-z_][A-Za-z0-9_]*(\.[A-Za-z_][A-Za-z0-9_]*)*")


def _modules() -> list[Path]:
    paths = sorted(PACKAGE.rglob("*.py"))
    for p in ENTRY_POINTS:
        paths += sorted(p.rglob("*.py")) if p.is_dir() else [p]
    return [p for p in paths if not p.name.startswith("test_")]


def _docstrings(tree: ast.AST) -> set[int]:
    out = set()
    for node in ast.walk(tree):
        if isinstance(
            node, (ast.Module, ast.ClassDef, ast.FunctionDef, ast.AsyncFunctionDef)
        ):
            first = node.body[0] if node.body else None
            if (
                isinstance(first, ast.Expr)
                and isinstance(first.value, ast.Constant)
                and isinstance(first.value.value, str)
            ):
                out.add(id(first.value))
    return out


def _named(tree: ast.AST, is_init: bool) -> set[str]:
    """The identifiers ``tree``'s code names."""
    skip = _docstrings(tree)
    if is_init:
        skip |= {
            id(alias)
            for node in ast.walk(tree)
            if isinstance(node, ast.ImportFrom)
            for alias in node.names
        }
    names = set()
    for node in ast.walk(tree):
        if id(node) in skip:
            continue
        if isinstance(node, ast.Name):
            names.add(node.id)
        elif isinstance(node, ast.Attribute):
            names.add(node.attr)
        elif isinstance(node, ast.alias):
            names.add(node.name.rsplit(".", 1)[-1])
        elif (
            isinstance(node, ast.Constant)
            and isinstance(node.value, str)
            and _DOTTED.fullmatch(node.value)
        ):
            names.add(node.value.rsplit(".", 1)[-1])
    return names


def _is_register(decorator: ast.expr) -> bool:
    target = decorator.func if isinstance(decorator, ast.Call) else decorator
    return getattr(target, "id", getattr(target, "attr", None)) == "register"


def _scan() -> tuple[dict[str, str], set[str]]:
    """(public top-level definition → its module, every name non-test
    code uses)."""
    defs: dict[str, str] = {}
    named: set[str] = set()
    for path in _modules():
        tree = ast.parse(path.read_text(), filename=str(path))
        named |= _named(tree, path.name == "__init__.py")
        if PACKAGE not in path.parents:
            continue
        for node in tree.body:
            if (
                isinstance(node, (ast.FunctionDef, ast.AsyncFunctionDef, ast.ClassDef))
                and not node.name.startswith("_")
                and not any(_is_register(d) for d in node.decorator_list)
            ):
                defs[node.name] = str(path.relative_to(ROOT))
    return defs, named


def test_every_public_definition_is_reached():
    defs, named = _scan()
    unreached = {n: m for n, m in defs.items() if n not in named}
    extra = {n: m for n, m in unreached.items() if n not in KEPT_FOR_TESTS}
    assert not extra, (
        "named by no non-test module: delete them, or list them in "
        f"KEPT_FOR_TESTS with a reason: {sorted(extra.items())}"
    )
    stale = sorted(set(KEPT_FOR_TESTS) - set(unreached))
    assert not stale, f"KEPT_FOR_TESTS names that are gone or now reached: {stale}"
