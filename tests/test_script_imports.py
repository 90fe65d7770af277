"""Every import of the package in ``scripts/`` and ``perfbench/`` names
something that exists. Those files run only by hand or from the
benchmark, so a rename in the package would otherwise break them
unseen. Spark-free: the files are parsed, never run, and only the
package modules they name are imported."""

from __future__ import annotations

import ast
import importlib
import pathlib

ROOT = pathlib.Path(__file__).resolve().parent.parent
PACKAGE = "similarity_search_with_hadoop_mapreduce_spark"


def _package_imports(path: pathlib.Path):
    """``(line, module, name)`` for each import of the package in
    ``path``, at any depth; ``name`` is None for ``import module``."""
    for node in ast.walk(ast.parse(path.read_text(), str(path))):
        if isinstance(node, ast.ImportFrom) and node.level == 0:
            if (node.module or "").split(".")[0] == PACKAGE:
                for alias in node.names:
                    yield node.lineno, node.module, alias.name
        elif isinstance(node, ast.Import):
            for alias in node.names:
                if alias.name.split(".")[0] == PACKAGE:
                    yield node.lineno, alias.name, None


def _resolves(module: str, name: str | None) -> bool:
    try:
        found = importlib.import_module(module)
    except ModuleNotFoundError:
        return False
    if name is None or name == "*" or hasattr(found, name):
        return True
    try:  # ``from package import submodule``
        importlib.import_module(f"{module}.{name}")
    except ModuleNotFoundError:
        return False
    return True


def test_script_and_benchmark_imports_resolve():
    files = sorted([*ROOT.glob("scripts/*.py"), *ROOT.glob("perfbench/*.py")])
    imports = [
        (f"{path.relative_to(ROOT)}:{line}", module, name)
        for path in files
        for line, module, name in _package_imports(path)
    ]
    assert imports  # the scan found them
    missing = [
        f"{where}: {module} {name or ''}".rstrip()
        for where, module, name in imports
        if not _resolves(module, name)
    ]
    assert missing == []
