"""Dead-code guard: every top-level ``def`` / ``class`` and every module-level
assigned name (dunder names aside) in the package must be referenced
somewhere in the package, ``__spark_entry__.py``, ``tools/`` or ``tests/``.
Pure AST scan, no Spark.

A reference is any use of the name as an identifier, an attribute or an
imported name; a mention inside a string or comment does not count, nor
does a function calling itself or a constant defined in terms of itself.
"""

from __future__ import annotations

import ast
from pathlib import Path

ROOT = Path(__file__).resolve().parents[1]
PKG = ROOT / "p5_rdf_rdb2rdf_spark"


def _names(tree: ast.AST) -> set[str]:
    out: set[str] = set()
    for node in ast.walk(tree):
        if isinstance(node, ast.Name):
            out.add(node.id)
        elif isinstance(node, ast.Attribute):
            out.add(node.attr)
        elif isinstance(node, ast.alias):
            out.add(node.name.rsplit(".", 1)[-1])
    return out


def _defined_names(node: ast.stmt) -> list[str]:
    """Names a top-level statement defines: a def/class name, or the plain
    names an assignment binds (dunder names such as ``__all__`` excluded)."""
    if isinstance(node, (ast.FunctionDef, ast.AsyncFunctionDef, ast.ClassDef)):
        return [node.name]
    if isinstance(node, ast.Assign):
        targets = node.targets
    elif isinstance(node, ast.AnnAssign):
        targets = [node.target]
    else:
        return []
    names = []
    for target in targets:
        elts = target.elts if isinstance(target, ast.Tuple) else [target]
        names += [e.id for e in elts if isinstance(e, ast.Name)]
    return [n for n in names if not (n.startswith("__") and n.endswith("__"))]


def unreferenced_definitions() -> list[str]:
    files = [
        *PKG.rglob("*.py"),
        ROOT / "__spark_entry__.py",
        *(ROOT / "tools").rglob("*.py"),
        *(ROOT / "tests").rglob("*.py"),
    ]
    referenced: set[str] = set()
    defs: list[tuple[str, str]] = []
    for path in files:
        tree = ast.parse(path.read_text(), str(path))
        module = path.relative_to(ROOT).with_suffix("").as_posix().replace("/", ".")
        for node in tree.body:
            names = _defined_names(node) if path.is_relative_to(PKG) else []
            defs += [(module, n) for n in names]
            # a definition's own body does not keep it alive
            referenced |= _names(node) - set(names)
    return sorted(f"{m}.{n}" for m, n in defs if n not in referenced)


def test_no_unreferenced_top_level_definitions():
    assert unreferenced_definitions() == []
