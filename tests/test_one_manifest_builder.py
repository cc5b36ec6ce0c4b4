"""Manifest guard: ``io/tableformat._commit`` (the claim, lock and
pointer swap) has exactly one caller in ``kblock_spark/``, the one
manifest builder ``_commit_change``. A write operation that builds its
own manifest and commits it directly fails here. Pure AST scan: no
Spark, well under a second.
"""

from __future__ import annotations

import ast
import os

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
PKG = os.path.join(REPO, "kblock_spark")


class _Uses(ast.NodeVisitor):
    """(file, innermost enclosing function, line) of every load of a
    name."""

    def __init__(self, rel: str, name: str):
        self.rel, self.name = rel, name
        self.scope = ["<module>"]
        self.found: list[tuple[str, str, int]] = []

    def _enter(self, node):
        self.scope.append(node.name)
        self.generic_visit(node)
        self.scope.pop()

    visit_FunctionDef = visit_AsyncFunctionDef = visit_ClassDef = _enter

    def visit_Name(self, node: ast.Name):
        if node.id == self.name and isinstance(node.ctx, ast.Load):
            self.found.append((self.rel, self.scope[-1], node.lineno))


def uses(name: str) -> list[tuple[str, str, int]]:
    out = []
    for d, dirs, files in os.walk(PKG):
        dirs[:] = [x for x in dirs if x != "__pycache__"]
        for f in sorted(files):
            if f.endswith(".py"):
                full = os.path.join(d, f)
                with open(full, encoding="utf-8") as fh:
                    tree = ast.parse(fh.read(), full)
                v = _Uses(os.path.relpath(full, REPO), name)
                v.visit(tree)
                out.extend(v.found)
    return out


def test_commit_has_one_caller_the_manifest_builder():
    found = uses("_commit")
    assert [(f, fn) for f, fn, _line in found] == [
        ("kblock_spark/io/tableformat.py", "_commit_change")
    ], f"_commit must only be called by _commit_change, found: {found}"
