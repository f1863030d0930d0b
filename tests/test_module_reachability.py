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


# Defaulted parameters no caller outside tests ever sets, each kept on
# purpose: "module:def(param)" (or "module:Class.method(param)") -> why
# it stays. A reason is one of: (a) a reference implementation tests
# compare against; (b) a check on outside input; (c) a test seam that
# lets a small test reach a path production inputs reach only at scale
# (the test is named); (d) the reference Load step not wired yet;
# (e) the JDBC Load stack.
KEPT_UNSET_PARAMS = {
    "operators.components:connected_components(max_iter)":
        "(a) min-label reference; tests/test_scale_ops.py caps it to show "
        "the non-convergence raise",
    "operators.similarity:cosine_pairs(threshold)":
        "(a) exact all-pairs reference semdedup_pairs is checked against",
    "operators.bpe:train_bpe_full(batch_candidates)":
        "(a) batch_candidates=1 is the sequential reference trainer the "
        "batched selection is checked against (tests/test_operators.py::"
        "test_bpe_batched_equals_sequential_in_fewer_rounds)",
    "operators.pivot:eav_pivot(strict)":
        "(b) the pandas .pivot uniqueness assertion on the export's keys",
    "operators.fingerprints:winnow_overlap_pairs(max_bucket_size)":
        "(c) tests/test_fingerprints.py::"
        "test_bucket_cap_drops_boilerplate_hubs",
    "operators.sampling:stratified_take(prefilter_margin)":
        "(c) tests/test_operators.py::test_stratified_take_exact_counts "
        "forces the rescue path",
    "operators.semdedup:semdedup_pairs(max_cell_size)":
        "(c) tests/test_semdedup.py::test_cell_cap_skips_degenerate_cells",
    "__main__:main(argv)":
        "(c) tests/test_cli.py drives every subcommand in-process",
    "session:get_spark(master)":
        "(c) tests/conftest.py runs the suite on local[4]",
    "plans.batch_driver:process_exports(maps)":
        "(d) LoadMaps, the TableMap/FieldMap projection",
    "plans.batch_driver:process_exports_batched(maps)":
        "(d) LoadMaps, the TableMap/FieldMap projection",
    "plans.batch_driver:process_exports_glob(maps)":
        "(d) LoadMaps, the TableMap/FieldMap projection",
    "sinks.jdbc_exec:dbapi_staging_writer(placeholder)": "(e)",
    "sinks.jdbc_exec:jdbc_merge_loader(dialect)": "(e)",
    "sinks.jdbc_exec:spark_staging_writer(mode)": "(e)",
    "sources.jdbc:JdbcCatalog.__init__(properties)": "(e)",
    "sources.jdbc:read_table(lower_bound)": "(e)",
    "sources.jdbc:read_table(num_partitions)": "(e)",
    "sources.jdbc:read_table(partition_column)": "(e)",
    "sources.jdbc:read_table(upper_bound)": "(e)",
}

# The callers that count: the package itself, the driver contract, the
# bench scripts and the benchmark workloads.
_CALLER_FILES = ("__spark_entry__.py", "bench.py", "bench_ffi.py")


def _schema_name(param: str) -> bool:
    """Column and edge-endpoint names describe the caller's schema, not
    behaviour, so the parameter census exempts them."""
    return param.endswith("_col") or param in ("src", "dst")


def _defaulted_params(fn, skip_self: bool):
    """(param, positional index or None) for every parameter of ``fn``
    with a default; the index counts from the first argument a caller
    passes (``self``/``cls`` excluded)."""
    a = fn.args
    pos = a.posonlyargs + a.args
    first = len(pos) - len(a.defaults)
    out = [
        (arg.arg, i - skip_self)
        for i, arg in enumerate(pos)
        if i >= first
    ]
    out += [
        (arg.arg, None)
        for arg, d in zip(a.kwonlyargs, a.kw_defaults)
        if d is not None
    ]
    return out


def _param_census() -> tuple[int, set[str]]:
    """(defaulted parameter count, the unset ones that are not schema
    names) over top-level defs and methods of top-level classes.

    A parameter is set when some call outside tests/ to a callable of
    its def's name (a class's name for ``__init__``) passes it by
    keyword, passes enough positional arguments to reach it, forwards
    ``*args``, or forwards a ``**`` mapping known to hold its name (see
    ``carried``). Passing on the caller's own parameter counts only
    while that parameter is set. Nested closures are out of scope:
    their defaults are late-binding captures."""
    fn_types = (ast.FunctionDef, ast.AsyncFunctionDef)
    params = []  # (key, callable name, param, positional index)
    # callable name -> [(call, the def whose body holds it, or None)]
    calls: dict[str, list[tuple[ast.Call, ast.FunctionDef | None]]] = {}
    helpers: dict[str, ast.FunctionDef] = {}
    prefixes: dict[int, str] = {}  # id(package def) -> "module:qualname"
    callers = [
        (os.path.join(ROOT, f), None) for f in _CALLER_FILES
    ] + sorted(
        (os.path.join(ROOT, "etlbench", f), None)
        for f in os.listdir(os.path.join(ROOT, "etlbench"))
        if f.endswith(".py")
    ) + [
        (path, module.removeprefix(f"{PKG}."))
        for module, path in _package_modules().items()
    ]
    for path, short in callers:
        with open(path, encoding="utf-8") as f:
            tree = ast.parse(f.read(), filename=path)
        scopes = []  # (statement, def, callable name, qualname)
        for stmt in tree.body:
            if isinstance(stmt, fn_types):
                helpers[stmt.name] = stmt
                scopes.append((stmt, stmt, stmt.name, stmt.name))
            elif isinstance(stmt, ast.ClassDef):
                scopes += [
                    (m, m, stmt.name if m.name == "__init__" else m.name,
                     f"{stmt.name}.{m.name}")
                    if isinstance(m, fn_types) else (m, None, None, None)
                    for m in stmt.body
                ]
            else:
                scopes.append((stmt, None, None, None))
        for top, fn, name, qual in scopes:
            if short is not None and fn is not None:
                prefixes[id(fn)] = f"{short}:{qual}"
                static = any(
                    isinstance(d, ast.Name) and d.id == "staticmethod"
                    for d in fn.decorator_list
                )
                params += [
                    (f"{short}:{qual}({p})", name, p, i)
                    for p, i in _defaulted_params(
                        fn, qual != name and not static
                    )
                ]
            for node in ast.walk(top):
                if not isinstance(node, ast.Call):
                    continue
                func = node.func
                if isinstance(func, ast.Name):
                    calls.setdefault(func.id, []).append((node, fn))
                elif isinstance(func, ast.Attribute):
                    calls.setdefault(func.attr, []).append((node, fn))

    def carried(expr, enclosing, seen: frozenset = frozenset()) -> set[str]:
        """The keys a ``**expr`` forward is known to carry: those of a
        dict display or a ``dict(k=...)`` call, of the dict a helper def
        returns, or, for the enclosing def's own ``**kwargs``, the keys
        its callers put there. Any other mapping carries none, so it
        cannot hide an unset knob."""
        if isinstance(expr, ast.Dict):
            return {
                k.value for k in expr.keys
                if isinstance(k, ast.Constant) and isinstance(k.value, str)
            }
        kwarg = enclosing.args.kwarg if enclosing is not None else None
        if isinstance(expr, ast.Name) and kwarg and expr.id == kwarg.arg:
            return forwarded_keys(enclosing, seen)
        if not isinstance(expr, ast.Call):
            return set()
        func = expr.func
        name = func.id if isinstance(func, ast.Name) else getattr(
            func, "attr", None
        )
        if name == "dict":
            return {k.arg for k in expr.keywords if k.arg is not None}
        if name not in helpers or name in seen:
            return set()
        return set().union(*(
            carried(r.value, None, seen | {name})
            for r in ast.walk(helpers[name])
            if isinstance(r, ast.Return) and r.value is not None
        ))

    def forwarded_keys(fn, seen: frozenset) -> set[str]:
        """The keys callers of ``fn`` pass into its ``**kwargs``."""
        if fn.name in seen:
            return set()
        a = fn.args
        named = {x.arg for x in a.posonlyargs + a.args + a.kwonlyargs}
        keys = set()
        for c, enclosing in calls.get(fn.name, ()):
            for k in c.keywords:
                keys |= (
                    {k.arg} if k.arg is not None
                    else carried(k.value, enclosing, seen | {fn.name})
                )
        return keys - named

    def passes(value, fn, unset: set[str]) -> bool:
        """An argument sets the parameter unless it is the enclosing
        def's own parameter passed through while that one is unset."""
        prefix = prefixes.get(id(fn))
        return not (
            isinstance(value, ast.Name) and prefix is not None
            and f"{prefix}({value.id})" in unset
        )

    def is_set(name, param, index, unset: set[str]) -> bool:
        return any(
            any(
                (k.arg == param and passes(k.value, fn, unset))
                or (k.arg is None and param in carried(k.value, fn))
                for k in c.keywords
            )
            or any(isinstance(a, ast.Starred) for a in c.args)
            or (
                index is not None and len(c.args) > index
                and passes(c.args[index], fn, unset)
            )
            for c, fn in calls.get(name, ())
        )

    # an unset parameter unsets what it is passed through to: grow the
    # set until no pass-through changes it
    unset: set[str] = set()
    while True:
        grown = {
            key
            for key, name, param, index in params
            if not _schema_name(param)
            and not is_set(name, param, index, unset)
        }
        if grown == unset:
            break
        unset = grown
    return len(params), unset


def test_every_default_parameter_is_set_by_a_caller():
    _count, unset = _param_census()
    kept = set(KEPT_UNSET_PARAMS)
    assert unset == kept, (
        "defaulted parameters no caller outside tests sets (delete the "
        "knob and the branch behind it, or keep it in KEPT_UNSET_PARAMS "
        f"with its reason): {sorted(unset - kept)}; "
        f"kept but now set or gone: {sorted(kept - unset)}"
    )
