"""Static import checks: the scripts outside the test suite still
import names the package has, and the index tiers reach each other
only through public names."""

from __future__ import annotations

import ast
import glob
import importlib
import os

import pytest

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
PKG = "left_join_on_timeout_spark"
SCRIPTS = sorted(glob.glob(os.path.join(ROOT, "tools", "*.py"))) + [
    os.path.join(ROOT, "bench.py"), os.path.join(ROOT, "__spark_entry__.py")]


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
    """Only the core's own module may hold the lifecycle helpers; the
    tiers and the admin module use its public names."""
    ops = os.path.join(ROOT, PKG, "operators")
    bad = [f"{m}: {mod}.{name}"
           for m in ("ann_index", "lsh_index", "srp_index", "text_index",
                     "index_admin")
           for mod, name in _package_imports(os.path.join(ops, f"{m}.py"))
           if name.startswith("_")]
    assert not bad, bad
