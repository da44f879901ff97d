"""One runtime path per operator: no public operator takes an ``impl``
switch between renderings, and the runtime package never imports the
test-only reference renderings (tests/expr_twins.py)."""

from __future__ import annotations

import ast
import importlib
import inspect
import pkgutil
from pathlib import Path

import baseline_magician_spark
import baseline_magician_spark.operators as operators

PKG_DIR = Path(baseline_magician_spark.__file__).parent


def test_no_operator_takes_an_impl_switch():
    offenders = []
    for info in pkgutil.iter_modules(operators.__path__):
        mod = importlib.import_module(f"{operators.__name__}.{info.name}")
        for name, obj in vars(mod).items():
            if (
                name.startswith("_")
                or not callable(obj)
                or getattr(obj, "__module__", None) != mod.__name__
            ):
                continue
            try:
                params = inspect.signature(obj).parameters
            except (TypeError, ValueError):
                continue
            if "impl" in params:
                offenders.append(f"{info.name}.{name}")
    assert not offenders, offenders


def _imports_tests(node: ast.AST) -> bool:
    if isinstance(node, ast.Import):
        return any(
            a.name == "tests" or a.name.startswith("tests.")
            for a in node.names
        )
    if isinstance(node, ast.ImportFrom) and node.level == 0:
        mod = node.module or ""
        return mod == "tests" or mod.startswith("tests.")
    return False


def test_runtime_never_imports_tests():
    offenders = [
        f"{path.relative_to(PKG_DIR)}:{node.lineno}"
        for path in sorted(PKG_DIR.rglob("*.py"))
        for node in ast.walk(ast.parse(path.read_text()))
        if _imports_tests(node)
    ]
    assert not offenders, offenders
