"""Regrowth guard: every package module must be reachable by static
imports from the two entry points — the CLI (``ffi_export_etl_spark/
__main__.py``) and the driver contract (``__spark_entry__.py``). A module
that only tests import is code nothing ships; this test fails the suite
when one appears, so it gets wired in or deleted instead of accreting.

Stdlib ``ast`` only: imports are read, never executed, so the walk needs
no Spark session and sees imports inside function bodies too.
"""

from __future__ import annotations

import ast
import os

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
PKG = "ffi_export_etl_spark"
# (file, the module name it runs as)
ENTRY_POINTS = (
    (os.path.join(ROOT, PKG, "__main__.py"), f"{PKG}.__main__"),
    (os.path.join(ROOT, "__spark_entry__.py"), "__spark_entry__"),
)

# The reference job's Load step — staged MERGE into a relational target
# in FK order with an audit row (sinks/jdbc_merge.py builds the SQL,
# sinks/jdbc_exec.py runs it). Kept on purpose although no entry point
# calls it yet: it is the one loader stage the parquet-warehouse CLI does
# not cover, and tests/test_jdbc_exec.py pins it.
KEPT_UNREACHED = {f"{PKG}.sinks.jdbc_exec"}


def _package_modules() -> dict[str, str]:
    """dotted module name -> file path, for every .py in the package."""
    out = {}
    base = os.path.join(ROOT, PKG)
    for dirpath, _dirs, files in os.walk(base):
        for f in files:
            if not f.endswith(".py"):
                continue
            rel = os.path.relpath(os.path.join(dirpath, f), ROOT)[: -len(".py")]
            parts = rel.split(os.sep)
            if parts[-1] == "__init__":
                parts = parts[:-1]
            out[".".join(parts)] = os.path.join(dirpath, f)
    return out


def _imported_names(path: str, module: str) -> set[str]:
    """Dotted names a file imports, relative imports resolved against
    ``module``. ``from X import y`` yields both X and X.y (y may be a
    submodule); non-module names are filtered by the caller."""
    with open(path, encoding="utf-8") as f:
        tree = ast.parse(f.read(), filename=path)
    pkg_parts = module.split(".")
    if not path.endswith("__init__.py"):
        pkg_parts = pkg_parts[:-1]
    names: set[str] = set()
    for node in ast.walk(tree):
        if isinstance(node, ast.Import):
            names.update(a.name for a in node.names)
        elif isinstance(node, ast.ImportFrom):
            if node.level:
                anchor = pkg_parts[: len(pkg_parts) - (node.level - 1)]
                base = ".".join(anchor + ([node.module] if node.module else []))
            else:
                base = node.module or ""
            names.add(base)
            names.update(f"{base}.{a.name}" for a in node.names)
    return names


def _reached(modules: dict[str, str]) -> set[str]:
    seen: set[str] = set()
    todo = list(ENTRY_POINTS)
    while todo:
        path, module = todo.pop()
        for name in _imported_names(path, module):
            parts = name.split(".")
            # importing a.b.c runs a/__init__ and a/b/__init__ as well
            for i in range(1, len(parts) + 1):
                dotted = ".".join(parts[:i])
                if dotted in modules and dotted not in seen:
                    seen.add(dotted)
                    todo.append((modules[dotted], dotted))
    return seen


def test_every_package_module_is_reached_from_an_entry_point():
    modules = _package_modules()
    unreached = set(modules) - _reached(modules) - {f"{PKG}.__main__"}
    assert unreached == KEPT_UNREACHED, (
        "package modules no entry point imports (wire them into the CLI "
        "or the query registry, or delete them with their tests): "
        f"{sorted(unreached - KEPT_UNREACHED)}; "
        f"expected-unreached now reached: {sorted(KEPT_UNREACHED - unreached)}"
    )
