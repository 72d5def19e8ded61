"""Static import checks: the scripts outside the test suite still
import names the package has; package modules reach each other only
through public names, import at module top, and form an acyclic graph
in which every query module imports first."""

from __future__ import annotations

import ast
import glob
import importlib
import os
import subprocess
import sys

import pytest

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
PKG = "left_join_on_timeout_spark"
SCRIPTS = sorted(glob.glob(os.path.join(ROOT, "tools", "*.py"))) + [
    os.path.join(ROOT, "bench.py"), os.path.join(ROOT, "__spark_entry__.py")]
MODULES = {
    os.path.relpath(p, ROOT)[:-3].replace(os.sep, ".").removesuffix(
        ".__init__"): p
    for p in glob.glob(os.path.join(ROOT, PKG, "**", "*.py"), recursive=True)}
# Optional dependencies imported where they are used, on purpose.
OPTIONAL = ("PIL", "google.protobuf", "pyarrow", "importlib.util")


def _package_imports(path):
    for node in ast.walk(ast.parse(open(path).read(), path)):
        if (isinstance(node, ast.ImportFrom) and node.module
                and node.level == 0 and node.module.split(".")[0] == PKG):
            for alias in node.names:
                yield node.module, alias.name


@pytest.mark.parametrize("script", SCRIPTS,
                         ids=[os.path.relpath(s, ROOT) for s in SCRIPTS])
def test_script_package_imports_resolve(script):
    importlib.import_module(f"{PKG}.queries")
    missing = []
    for module, name in _package_imports(script):
        mod = importlib.import_module(module)
        if not hasattr(mod, name):
            try:
                importlib.import_module(f"{module}.{name}")
            except ModuleNotFoundError:
                missing.append(f"{module}.{name}")
    assert not missing, missing


def test_index_modules_import_no_private_names():
    """Package modules use each other's public names only. The index
    core (``index_store``) keeps its exemption: it holds the tiers'
    lifecycle helpers."""
    bad = [f"{m}: {mod}.{name}"
           for m, path in sorted(MODULES.items())
           if m != f"{PKG}.operators.index_store"
           for mod, name in _package_imports(path)
           if name.startswith("_")]
    assert not bad, bad


def _leading_block_end(tree):
    """Index of the first module statement that is not the docstring, an
    import, or a ``try`` that only imports (an optional-API guard)."""
    for i, node in enumerate(tree.body):
        if i == 0 and isinstance(node, ast.Expr) and isinstance(
                node.value, ast.Constant):
            continue
        if isinstance(node, (ast.Import, ast.ImportFrom)):
            continue
        if isinstance(node, ast.Try) and all(
                isinstance(n, (ast.Import, ast.ImportFrom))
                for n in node.body):
            continue
        return i
    return len(tree.body)


def _imported(node):
    if isinstance(node, ast.ImportFrom):
        return [node.module]
    return [a.name for a in node.names]


def test_package_imports_sit_at_module_top():
    """No import inside a function body or after the first non-import
    statement, except the optional dependencies in ``OPTIONAL``."""
    bad = []
    for m, path in sorted(MODULES.items()):
        tree = ast.parse(open(path).read(), path)
        end = _leading_block_end(tree)
        for node in tree.body[end:]:
            for sub in ast.walk(node):
                if isinstance(sub, (ast.Import, ast.ImportFrom)) and not any(
                        n == o or n.startswith(o + ".")
                        for n in _imported(sub) for o in OPTIONAL):
                    bad.append(f"{m}:{sub.lineno}")
    assert not bad, bad


def test_package_import_graph_is_acyclic():
    graph = {}
    for m, path in MODULES.items():
        deps = set()
        for node in ast.parse(open(path).read(), path).body:
            if isinstance(node, ast.ImportFrom) and node.module in MODULES:
                deps.add(node.module)
                deps.update(f"{node.module}.{a.name}" for a in node.names
                            if f"{node.module}.{a.name}" in MODULES)
            elif isinstance(node, ast.Import):
                deps.update(a.name for a in node.names if a.name in MODULES)
        graph[m] = deps - {m, PKG}
    done, path = set(), []

    def visit(m):
        assert m not in path, f"import cycle: {path[path.index(m):] + [m]}"
        if m in done:
            return
        path.append(m)
        for d in sorted(graph[m]):
            visit(d)
        path.pop()
        done.add(m)

    for m in sorted(graph):
        visit(m)


QUERY_MODULES = sorted(m for m in MODULES if m.startswith(f"{PKG}.queries")
                       ) + [f"{PKG}.registry"]


@pytest.mark.parametrize("module", QUERY_MODULES)
def test_query_module_imports_first(module):
    """Each query module, and the registry, imports first in a fresh
    interpreter: registration order cannot depend on who imports whom."""
    out = subprocess.run([sys.executable, "-c", f"import {module}"],
                         cwd=ROOT, capture_output=True, text=True)
    assert out.returncode == 0, out.stderr[-2000:]
