"""Import surface of the scripts outside the package.

The tools, jobs, perfbench harness, bench.py and __spark_entry__.py
import package names inside function bodies (and bench_scaling.py
inside job-body code strings), so a rename or deletion in the package
breaks them only when they run.  This test walks their source with
`ast` and checks, without running any Spark job, that

  * every `from data_quality_check_spark... import name` resolves, and
  * every `X.attr`, read or assigned, on a name bound to a package
    module (`import ... as X`, `from ... import module as X`) is an
    attribute of that module.
"""

from __future__ import annotations

import ast
import importlib
import types
from pathlib import Path

import pytest

PKG = "data_quality_check_spark"
ROOT = Path(__file__).resolve().parent.parent
SCRIPTS = sorted(
    [p for d in ("tools", "jobs", "perfbench") for p in (ROOT / d).glob("*.py")]
    + [ROOT / "bench.py", ROOT / "__spark_entry__.py"])


def _is_pkg(mod: str | None) -> bool:
    return mod is not None and (mod == PKG or mod.startswith(PKG + "."))


def _resolve(mod: str, name: str):
    """The object `from mod import name` binds: an attribute of the
    module or, failing that, its submodule."""
    m = importlib.import_module(mod)
    if hasattr(m, name):
        return getattr(m, name)
    return importlib.import_module(f"{mod}.{name}")


def _trees(path: Path):
    """The file's AST, plus the AST of every string constant in it that
    is itself Python importing the package (embedded job bodies)."""
    tree = ast.parse(path.read_text(), str(path))
    yield tree
    for node in ast.walk(tree):
        if (isinstance(node, ast.Constant) and isinstance(node.value, str)
                and "import" in node.value and PKG in node.value):
            try:
                yield ast.parse(node.value)
            except SyntaxError:
                continue


def _problems(tree: ast.AST) -> list[str]:
    bad: list[str] = []
    modules: dict[str, str] = {}    # local name -> package module path
    for node in ast.walk(tree):
        if isinstance(node, ast.ImportFrom) and _is_pkg(node.module):
            for a in node.names:
                try:
                    obj = _resolve(node.module, a.name)
                except ImportError:
                    bad.append(f"{node.lineno}: from {node.module} "
                               f"import {a.name}")
                    continue
                if isinstance(obj, types.ModuleType):
                    modules[a.asname or a.name] = obj.__name__
        elif isinstance(node, ast.Import):
            for a in node.names:
                if _is_pkg(a.name) and a.asname:
                    try:
                        importlib.import_module(a.name)
                    except ImportError:
                        bad.append(f"{node.lineno}: import {a.name}")
                        continue
                    modules[a.asname] = a.name
    for node in ast.walk(tree):
        if (isinstance(node, ast.Attribute)
                and isinstance(node.value, ast.Name)
                and node.value.id in modules):
            # stores count too: a monkeypatch of a renamed function
            # (perfbench's session._local_dir) silently patches nothing
            mod = importlib.import_module(modules[node.value.id])
            if not hasattr(mod, node.attr):
                bad.append(f"{node.lineno}: {node.value.id}.{node.attr} "
                           f"({modules[node.value.id]})")
    return bad


def test_scripts_found():
    names = {p.name for p in SCRIPTS}
    assert {"bench.py", "__spark_entry__.py", "run.py",
            "trace_layers.py", "check_contract.py"} <= names


@pytest.mark.parametrize("path", SCRIPTS,
                         ids=[str(p.relative_to(ROOT)) for p in SCRIPTS])
def test_package_names_resolve(path):
    from pyspark import SparkContext

    before = SparkContext._active_spark_context
    bad = [p for t in _trees(path) for p in _problems(t)]
    assert SparkContext._active_spark_context is before, \
        "resolving imports must not start Spark"
    assert not bad, f"{path.name}: unresolved package names: {bad}"
