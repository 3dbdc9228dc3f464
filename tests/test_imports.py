"""Every ``from aegisthus_spark... import name`` in the repository resolves,
and the package writes no files through a per-partition RDD loop.

Deleting or renaming a function leaves dangling imports behind in tools,
benchmarks and function-local imports that no test happens to execute;
this parses every source file instead of running it."""

from __future__ import annotations

import ast
import importlib
import importlib.util
import os

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
PACKAGE = "aegisthus_spark"
TREES = (PACKAGE, "tools", "perfbench", "tests")


def _sources():
    for tree in TREES:
        for d, dirs, files in os.walk(os.path.join(ROOT, tree)):
            dirs[:] = [x for x in dirs if not x.startswith((".", "__"))]
            for f in files:
                if f.endswith(".py"):
                    yield os.path.join(d, f)


def _absolute(node: ast.ImportFrom, path: str) -> str | None:
    """The absolute module of ``node``, if it lies in the package."""
    if node.level == 0:
        return node.module
    rel = os.path.relpath(path, ROOT)
    if not rel.startswith(PACKAGE + os.sep):
        return None
    parts = rel[:-3].split(os.sep)[: -node.level]
    return ".".join(parts + ([node.module] if node.module else []))


def test_package_imports_resolve():
    checked, missing = 0, []
    for path in _sources():
        with open(path) as f:
            tree = ast.parse(f.read(), path)
        for node in ast.walk(tree):
            if not isinstance(node, ast.ImportFrom):
                continue
            module = _absolute(node, path)
            if module is None or module.split(".")[0] != PACKAGE:
                continue
            mod = importlib.import_module(module)
            for alias in node.names:
                checked += 1
                if not (
                    alias.name == "*"
                    or hasattr(mod, alias.name)
                    or importlib.util.find_spec(f"{module}.{alias.name}") is not None
                ):
                    missing.append(f"{os.path.relpath(path, ROOT)}:{node.lineno} "
                                   f"{module}.{alias.name}")
    assert checked > 500
    assert not missing, missing


def test_package_writes_files_only_through_the_sink():
    """File sinks run on ``aegisthus_spark.sink`` (attempt directories,
    atomic commit), not on their own ``rdd.mapPartitionsWithIndex`` loops
    writing final file names."""
    calls = []
    for path in _sources():
        if not os.path.relpath(path, ROOT).startswith(PACKAGE + os.sep):
            continue
        with open(path) as f:
            tree = ast.parse(f.read(), path)
        calls += [
            f"{os.path.relpath(path, ROOT)}:{node.lineno}"
            for node in ast.walk(tree)
            if isinstance(node, ast.Attribute) and node.attr == "mapPartitionsWithIndex"
        ]
    assert not calls, calls


def test_package_names_no_checkout_path():
    """The package finds its fixtures relative to itself: a string literal
    naming an absolute path into a checkout (this one's, or any path that
    runs into one of the repository's source trees) breaks every copy of
    the repository at another path."""
    import re

    into_tree = re.compile(r"^/(?:[^/\s]+/)*(?:%s)(?:/|$)" % "|".join(TREES))
    hits = []
    for path in _sources():
        if not os.path.relpath(path, ROOT).startswith(PACKAGE + os.sep):
            continue
        with open(path) as f:
            tree = ast.parse(f.read(), path)
        hits += [
            f"{os.path.relpath(path, ROOT)}:{node.lineno} {node.value!r}"
            for node in ast.walk(tree)
            if isinstance(node, ast.Constant) and isinstance(node.value, str)
            and (node.value == ROOT or node.value.startswith(ROOT + os.sep)
                 or into_tree.match(node.value))
        ]
    assert not hits, hits
