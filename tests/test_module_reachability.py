"""Regrowth guard: every package module must be reachable by static
imports from the two entry points — the CLI (``ffi_export_etl_spark/
__main__.py``) and the driver contract (``__spark_entry__.py``). A module
that only tests import is code nothing ships; this test fails the suite
when one appears, so it gets wired in or deleted instead of accreting.
The second guard does the same for top-level functions and classes,
walking the identifiers the entry points can reach.

Stdlib ``ast`` only: code is read, never executed, so the walks need
no Spark session and see imports inside function bodies too.
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


# Top-level package defs no entry point reaches, each kept on purpose:
# "module:def" -> why it stays.
KEPT_UNREACHED_DEFS = {
    # the JDBC Load stack (see KEPT_UNREACHED), kept to be wired into
    # the CLI
    "sinks.jdbc_exec:DbApiExecutor": "JDBC Load stack",
    "sinks.jdbc_exec:_dbapi_placeholder": "JDBC Load stack",
    "sinks.jdbc_exec:dbapi_staging_writer": "JDBC Load stack",
    "sinks.jdbc_exec:jdbc_merge_loader": "JDBC Load stack",
    "sinks.jdbc_exec:spark_staging_writer": "JDBC Load stack",
    "sinks.jdbc_exec:sqlite_merge_loader": "JDBC Load stack",
    "sources.jdbc:JdbcCatalog": "JDBC Load stack (target catalog)",
    "sources.jdbc:build_metas": "JDBC Load stack (target catalog)",
    "sources.jdbc:read_query": "JDBC Load stack (target catalog)",
    "sources.jdbc:read_table": "JDBC Load stack (target catalog)",
    # test references and hooks
    "operators.components:connected_components":
        "min-label reference connected_components_alternating is "
        "checked against",
    "operators.components:_persistent_ids": "checkpoint-leak probe",
    "operators.similarity:cosine_pairs":
        "exact all-pairs reference for semdedup_pairs",
    "operators.quantize:dequantize_embedding":
        "inverse used by the quantization round-trip test",
    "operators.media_codecs:encode_ppm": "builds image fixtures",
    "operators.multimodal:set_decoder": "injects a fake decoder in tests",
    "sinks.files:csv_dump":
        "the reference's debug CSV path (parser/xml.py:758-765)",
    "plans.curation:release_curation_caches":
        "the benchmark's curate_docs workload calls it",
}

_DEFS = (ast.FunctionDef, ast.AsyncFunctionDef, ast.ClassDef)


def _identifiers(nodes) -> set[str]:
    """Names a code fragment can call or look up: ``ast.Name`` ids,
    attribute names and import aliases. String constants (docstrings
    included) never count."""
    out: set[str] = set()
    for node in nodes:
        for x in ast.walk(node):
            if isinstance(x, ast.Name):
                out.add(x.id)
            elif isinstance(x, ast.Attribute):
                out.add(x.attr)
            elif isinstance(x, ast.alias):
                out.add(x.name.rsplit(".", 1)[-1])
                if x.asname:
                    out.add(x.asname)
    return out


def _unreached_defs() -> set[str]:
    """Top-level package defs outside the identifier closure of the
    entry points. Roots: every package module's module-level statements
    (decorators included — they run at import), ``__main__.main`` and
    all of ``__spark_entry__.py``. A def whose NAME is reached counts as
    reached, whichever module it lives in — a conservative walk: it can
    miss dead code that shares a live def's name, never flag live code
    (barring getattr-by-string lookups, which the package does not use
    for its own defs)."""
    defs: dict[str, list[tuple[str, ast.AST]]] = {}
    roots: list[ast.AST] = []
    for module, path in _package_modules().items():
        with open(path, encoding="utf-8") as f:
            tree = ast.parse(f.read(), filename=path)
        short = module.removeprefix(f"{PKG}.")
        for stmt in tree.body:
            if not isinstance(stmt, _DEFS):
                roots.append(stmt)
                continue
            defs.setdefault(stmt.name, []).append((short, stmt))
            roots.extend(stmt.decorator_list)
            if short == "__main__" and stmt.name == "main":
                roots.append(stmt)
    with open(ENTRY_POINTS[1][0], encoding="utf-8") as f:
        roots.append(ast.parse(f.read()))
    seen = _identifiers(roots)
    todo = list(seen & set(defs))
    while todo:
        for _module, node in defs[todo.pop()]:
            new = _identifiers([node]) - seen
            seen |= new
            todo.extend(new & set(defs))
    return {
        f"{module}:{name}"
        for name, found in defs.items()
        if name not in seen
        for module, _node in found
    }


def test_every_package_def_is_reached_from_an_entry_point():
    unreached = _unreached_defs()
    kept = set(KEPT_UNREACHED_DEFS)
    assert unreached == kept, (
        "top-level package defs no entry point reaches (wire them in or "
        "delete them with their tests): "
        f"{sorted(unreached - kept)}; "
        f"expected-unreached now reached: {sorted(kept - unreached)}"
    )
