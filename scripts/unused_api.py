"""List the package's definitions that nothing outside tests/ references.

    python scripts/unused_api.py

Prints every top-level function and class, and every method, defined under
``document_ai_spark/`` whose name no Python file outside ``tests/`` refers
to, apart from its own definition. A reference is a name in the syntax
tree: a bare name, an attribute (``obj.name``) or an imported name.
Docstrings and comments do not count, so a function that is only
mentioned in prose shows up here. Names are matched by spelling alone, so
a method named like another attribute (``read``, ``close``) counts as
referenced wherever that attribute appears. Dunder methods are skipped
(the language calls them).

It reports and does not gate: the exit status is always 0.
"""

from __future__ import annotations

import ast
import os

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
PACKAGE = "document_ai_spark"
SKIP_DIRS = {"tests", "dist", "__pycache__", "spark-warehouse", "metastore_db"}


def _sources():
    for root, dirs, files in os.walk(REPO):
        dirs[:] = sorted(d for d in dirs if d not in SKIP_DIRS and not d.startswith("."))
        for f in sorted(files):
            if f.endswith(".py"):
                path = os.path.join(root, f)
                with open(path, encoding="utf-8") as fh:
                    yield os.path.relpath(path, REPO), ast.parse(fh.read(), path)


def _definitions(rel: str, tree: ast.Module):
    """(qualified name, bare name, node) of top-level defs and methods."""
    defs = (ast.FunctionDef, ast.AsyncFunctionDef, ast.ClassDef)
    for node in tree.body:
        if not isinstance(node, defs):
            continue
        yield f"{rel}:{node.name}", node.name, node
        if isinstance(node, ast.ClassDef):
            for sub in node.body:
                if isinstance(sub, defs) and not sub.name.startswith("__"):
                    yield f"{rel}:{node.name}.{sub.name}", sub.name, sub


def _references(tree: ast.Module):
    """(name, node) of every name use, attribute and imported name."""
    for node in ast.walk(tree):
        if isinstance(node, ast.Name):
            yield node.id, node
        elif isinstance(node, ast.Attribute):
            yield node.attr, node
        elif isinstance(node, ast.ImportFrom):
            for alias in node.names:
                yield alias.name, node


def main() -> None:
    trees = dict(_sources())
    defs = [
        (qual, name, rel, node)
        for rel, tree in trees.items()
        if rel.startswith(PACKAGE + os.sep)
        for qual, name, node in _definitions(rel, tree)
    ]
    # every reference's (file, line); one inside a definition's own line
    # span is that definition referring to itself
    refs: dict[str, list] = {}
    for rel, tree in trees.items():
        for name, node in _references(tree):
            refs.setdefault(name, []).append((rel, node.lineno))
    unused = []
    for qual, name, rel, node in defs:
        own = range(node.lineno, node.end_lineno + 1)
        if not any(not (r == rel and line in own) for r, line in refs.get(name, [])):
            unused.append(qual)
    for qual in unused:
        print(qual)
    print(f"{len(unused)} of {len(defs)} definitions unreferenced outside tests/")


if __name__ == "__main__":
    main()
