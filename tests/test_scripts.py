"""Guard for scripts/: every tool compiles, and every import it takes from
this repository (a top-level module such as ``bench``, or a package such
as ``stream_processor_spark``, ``scripts`` or ``tests``) names a module
and an attribute that exist. The tools themselves are not run; only the
modules they import are imported, which starts no Spark session. A kept
tool that still imports a deleted or renamed one fails here rather than
at its next run."""

from __future__ import annotations

import ast
import importlib
import importlib.util
import os

import pytest

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
SCRIPTS_DIR = os.path.join(REPO, "scripts")
SCRIPTS = sorted(f for f in os.listdir(SCRIPTS_DIR) if f.endswith(".py"))
# Every name importable from the repository root: top-level modules and
# the directories holding Python files (regular or namespace packages).
LOCAL_ROOTS = {
    entry[:-3] if entry.endswith(".py") else entry
    for entry in os.listdir(REPO)
    if not entry.startswith(".")
    and (
        entry.endswith(".py")
        or (
            os.path.isdir(os.path.join(REPO, entry))
            and any(f.endswith(".py") for f in os.listdir(os.path.join(REPO, entry)))
        )
    )
}


def _local_imports(tree: ast.AST):
    """(line, module, imported name or None) for every repo-local import,
    at any depth (the tools import lazily inside ``main``)."""
    for node in ast.walk(tree):
        if isinstance(node, ast.ImportFrom) and node.level == 0 and node.module:
            if node.module.split(".")[0] in LOCAL_ROOTS:
                for alias in node.names:
                    yield node.lineno, node.module, alias.name
        elif isinstance(node, ast.Import):
            for alias in node.names:
                if alias.name.split(".")[0] in LOCAL_ROOTS:
                    yield node.lineno, alias.name, None


def _has(module, name: str) -> bool:
    """``from module import name`` succeeds: an attribute or a submodule."""
    if hasattr(module, name):
        return True
    if not hasattr(module, "__path__"):  # a plain module has no submodules
        return False
    return importlib.util.find_spec(f"{module.__name__}.{name}") is not None


def test_local_roots_cover_the_imported_repo_modules():
    assert {"bench", "stream_processor_spark", "scripts", "tests"} <= LOCAL_ROOTS


@pytest.mark.parametrize("script", SCRIPTS)
def test_script_compiles_and_local_imports_resolve(script):
    path = os.path.join(SCRIPTS_DIR, script)
    with open(path) as fh:
        src = fh.read()
    compile(src, path, "exec")
    problems = []
    for line, module, name in _local_imports(ast.parse(src, path)):
        try:
            mod = importlib.import_module(module)
        except ImportError as exc:
            problems.append(f"{script}:{line}: cannot import {module}: {exc}")
            continue
        if name is not None and name != "*" and not _has(mod, name):
            problems.append(f"{script}:{line}: {module} has no {name}")
    assert not problems, "\n".join(problems)
