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


def _package_tree(rel: str) -> ast.Module:
    with open(os.path.join(ROOT, rel)) as f:
        return ast.parse(f.read(), rel)


def _functions_modules() -> list[str]:
    d = os.path.join(PACKAGE, "functions")
    return sorted(os.path.join(d, f) for f in os.listdir(os.path.join(ROOT, d)) if f.endswith(".py"))


def test_expression_library_is_sql_text():
    """``aegisthus_spark/functions`` builds SQL text templates: the only
    ``pyspark.sql.functions`` member it may use is ``expr``, which hands a
    template to the JVM in one call."""
    hits = []
    for rel in _functions_modules():
        tree = _package_tree(rel)
        aliases = set()
        for node in ast.walk(tree):
            if isinstance(node, ast.ImportFrom) and node.module == "pyspark.sql":
                aliases |= {a.asname or a.name for a in node.names if a.name == "functions"}
            elif isinstance(node, ast.ImportFrom) and node.module == "pyspark.sql.functions":
                hits += [f"{rel}:{node.lineno} {a.name}" for a in node.names if a.name != "expr"]
            elif isinstance(node, ast.Import):
                aliases |= {a.asname for a in node.names if a.name == "pyspark.sql.functions" and a.asname}
        hits += [
            f"{rel}:{node.lineno} {node.value.id}.{node.attr}"
            for node in ast.walk(tree)
            if isinstance(node, ast.Attribute) and isinstance(node.value, ast.Name)
            and node.value.id in aliases and node.attr != "expr"
        ]
    assert not hits, hits


def test_merge_and_render_run_no_python_udf():
    """The job, compact, the aeg-JSON output and the expression library
    never wrap Python in a UDF: a comparator with no template fails
    loudly instead of falling back to a row-at-a-time Python path."""
    rels = [os.path.join(PACKAGE, f) for f in ("job.py", "compact.py", "output.py")]
    hits = []
    for rel in rels + _functions_modules():
        hits += [
            f"{rel}:{node.lineno}"
            for node in ast.walk(_package_tree(rel))
            if (isinstance(node, ast.Attribute) and node.attr in ("udf", "pandas_udf"))
            or (isinstance(node, ast.Name) and node.id in ("udf", "pandas_udf"))
        ]
    assert not hits, hits
