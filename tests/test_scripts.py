"""The probe scripts and entry points import only names the library
has: a deletion in ``ddsketch_spark`` must not silently break a script
that no test runs."""

import ast
import importlib
import pathlib
import re

import pytest

REPO = pathlib.Path(__file__).resolve().parent.parent
SCRIPTS = sorted(REPO.glob("tools/*.py")) + [REPO / "bench.py",
                                             REPO / "__spark_entry__.py"]


EMBEDDED = re.compile(r"from (ddsketch_spark[\w.]*) import ([\w, ]+)")


def _library_imports(path):
    """``(module, name)`` of every ``from ddsketch_spark... import name``
    in the script's AST (function bodies included), and in the worker
    code it embeds as string constants."""
    for node in ast.walk(ast.parse(path.read_text(), str(path))):
        if (isinstance(node, ast.ImportFrom) and node.level == 0
                and node.module.split(".")[0] == "ddsketch_spark"):
            for alias in node.names:
                yield node.module, alias.name
        elif isinstance(node, ast.Constant) and isinstance(node.value, str):
            for module, names in EMBEDDED.findall(node.value):
                for name in names.split(","):
                    yield module, name.split()[0]  # drop "as alias"


@pytest.mark.parametrize("script", SCRIPTS,
                         ids=lambda p: p.relative_to(REPO).as_posix())
def test_script_library_imports_resolve(script):
    """Read from the AST, never executed: some scripts start Spark at
    import."""
    missing = []
    for module, name in _library_imports(script):
        if hasattr(importlib.import_module(module), name):
            continue
        try:  # a submodule imported by name (from pkg import mod)
            importlib.import_module(f"{module}.{name}")
        except ModuleNotFoundError:
            missing.append(f"{module}.{name}")
    assert not missing, missing
