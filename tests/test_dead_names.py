"""Dead-code guard: every top-level ``def``, ``class`` and module constant
of the package is referenced somewhere in the repo's Python files.

A reference is a Load-context name, an attribute or an imported name in
any ``.py`` file, counted outside the node that defines the name (so a
recursive function does not keep itself alive).  Dunder names are
exempt.  A name that only tests reach still passes: whether a test-only
oracle stays is decided case by case, not here."""

from __future__ import annotations

import ast
import os
from collections import Counter

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
PACKAGE = "usc_ds_relationextraction_spark"


def _py_files():
    for root, dirs, files in os.walk(REPO):
        dirs[:] = [d for d in dirs
                   if not d.startswith(".") and d != "__pycache__"]
        for f in files:
            if f.endswith(".py"):
                yield os.path.join(root, f)


def _references(node: ast.AST) -> Counter:
    refs: Counter = Counter()
    for n in ast.walk(node):
        if isinstance(n, ast.Name) and isinstance(n.ctx, ast.Load):
            refs[n.id] += 1
        elif isinstance(n, ast.Attribute) and isinstance(n.ctx, ast.Load):
            refs[n.attr] += 1
        elif isinstance(n, ast.ImportFrom):
            refs.update(a.name for a in n.names)
    return refs


def _definitions(tree: ast.Module):
    """(name, defining node) for each top-level def/class/constant."""
    for stmt in tree.body:
        if isinstance(stmt, (ast.FunctionDef, ast.AsyncFunctionDef,
                             ast.ClassDef)):
            yield stmt.name, stmt
        elif isinstance(stmt, (ast.Assign, ast.AnnAssign)):
            targets = (stmt.targets if isinstance(stmt, ast.Assign)
                       else [stmt.target])
            for t in targets:
                if isinstance(t, ast.Name):
                    yield t.id, stmt


def test_every_package_name_is_referenced():
    total: Counter = Counter()
    defs = []
    for path in _py_files():
        with open(path, encoding="utf-8") as fh:
            tree = ast.parse(fh.read(), filename=path)
        total.update(_references(tree))
        rel = os.path.relpath(path, REPO)
        if rel.split(os.sep)[0] == PACKAGE:
            defs += [(rel, name, node) for name, node in _definitions(tree)]
    dead = sorted(
        f"{rel}:{node.lineno} {name}" for rel, name, node in defs
        if not (name.startswith("__") and name.endswith("__"))
        and total[name] - _references(node)[name] == 0)
    assert not dead, "names no .py file references:\n" + "\n".join(dead)
