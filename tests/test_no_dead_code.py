"""Dead-code guard: every top-level function, class and constant in
``kblock_spark/`` must be referenced somewhere other than its own
definition, by any ``.py`` file of the repository (library, tests,
scripts, harnesses). Pure AST scan: no Spark, about a second.

A reference is a name load, an attribute access, an import alias, a
``global`` statement, or a string literal spelling the name (covers
``getattr``/registry lookups). References inside the definition's own
body (recursion, a class naming itself) do not count.
"""

from __future__ import annotations

import ast
import os
from collections import Counter

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
PKG = os.path.join(REPO, "kblock_spark")
_SKIP_DIRS = {"__pycache__", "spark-warehouse", "metastore_db"}


def _py_files():
    for d, dirs, files in os.walk(REPO):
        dirs[:] = [x for x in dirs if not x.startswith(".") and x not in _SKIP_DIRS]
        for f in files:
            if f.endswith(".py"):
                yield os.path.join(d, f)


def _refs(node) -> Counter:
    c: Counter = Counter()
    for n in ast.walk(node):
        if isinstance(n, ast.Name) and not isinstance(n.ctx, ast.Store):
            c[n.id] += 1
        elif isinstance(n, ast.Attribute):
            c[n.attr] += 1
        elif isinstance(n, ast.alias):
            c[n.name.rsplit(".", 1)[-1]] += 1
        elif isinstance(n, ast.Global):
            c.update(n.names)
        elif isinstance(n, ast.Constant) and isinstance(n.value, str):
            if n.value.isidentifier():
                c[n.value] += 1
    return c


def _defined_names(stmt) -> list[str]:
    """Names a top-level statement defines (dunders excepted)."""
    if isinstance(stmt, (ast.FunctionDef, ast.AsyncFunctionDef, ast.ClassDef)):
        return [stmt.name]
    if isinstance(stmt, ast.Assign):
        targets = stmt.targets
    elif isinstance(stmt, ast.AnnAssign):
        targets = [stmt.target]
    else:
        return []
    return [
        t.id for t in targets
        if isinstance(t, ast.Name) and not t.id.startswith("__")
    ]


def unreferenced_names() -> list[str]:
    total: Counter = Counter()
    own: list[tuple[str, int, str, int]] = []
    for f in _py_files():
        with open(f, encoding="utf-8") as fh:
            tree = ast.parse(fh.read(), f)
        in_pkg = f.startswith(PKG + os.sep)
        for stmt in tree.body:
            refs = _refs(stmt)
            total.update(refs)
            if in_pkg:
                for name in _defined_names(stmt):
                    own.append((f, stmt.lineno, name, refs[name]))
    return [
        f"{os.path.relpath(f, REPO)}:{line} {name}"
        for f, line, name, n_own in own
        if total[name] <= n_own
    ]


def test_every_library_name_has_a_reference():
    dead = unreferenced_names()
    assert not dead, "unreferenced library names:\n" + "\n".join(dead)
