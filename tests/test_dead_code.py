"""Dead-code guard: every top-level ``def`` / ``class`` in the package must be
referenced somewhere in the package, ``__spark_entry__.py``, ``tools/`` or
``tests/``. Pure AST scan, no Spark.

A reference is any use of the name as an identifier, an attribute or an
imported name; a mention inside a string or comment does not count, nor
does a function calling itself.
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
        own_defs = []
        for node in tree.body:
            if path.is_relative_to(PKG) and isinstance(
                node, (ast.FunctionDef, ast.AsyncFunctionDef, ast.ClassDef)
            ):
                module = path.relative_to(ROOT).with_suffix("").as_posix().replace("/", ".")
                defs.append((module, node.name))
                # a definition's own body does not keep it alive
                own_defs.append(node)
            else:
                referenced |= _names(node)
        for node in own_defs:
            referenced |= _names(node) - {node.name}
    return sorted(f"{m}.{n}" for m, n in defs if n not in referenced)


def test_no_unreferenced_top_level_definitions():
    assert unreferenced_definitions() == []
