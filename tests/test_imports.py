"""Import-graph guards.

- Import-order robustness: every query module must be importable FIRST
  (before the registry root) from a clean interpreter. Guards the circular
  chain queries_ivf -> queries -> queries_pq -> (IVF oracle prelude) that
  once broke any direct `import queries_ivf`.
- Reachability: every package module is imported, directly or
  transitively, by an entry point (registry, CLI, `__spark_entry__.py`,
  bench, perfbench, tools). A module only tests import is dead weight.
- Settings: every defaulted public parameter of a package function is set
  by some call outside the tests, apart from named test seams. A value
  only tests select is a code path only tests run.
- Worker preamble: every Python stage (``mapInPandas`` function or
  ``pandas_udf`` body) starts with the one ``worker_preamble()`` device.
- Table reads: parquet is read through ``catalog.load_table``, whose
  schema cache a direct ``spark.read.parquet(...)`` would bypass.
"""

from __future__ import annotations

import ast
import subprocess
import sys
from pathlib import Path

import pytest

ROOT = Path(__file__).resolve().parents[1]
REPO = str(ROOT)
PKG = "py_datalake_move_files_spark"

MODULES = [
    "queries",
    "queries_analytics",
    "queries_profiling",
    "queries_corpus",
    "queries_ivf",
    "queries_pq",
    "queries_tpch",
    "queries_scale",
    "queries_retrieval",
    "queries_knn",
    "queries_insights",
    "queries_stats",
    "queries_mining",
    "queries_pipeline",
    "queries_eval",
    "oracle_ivf",
]


@pytest.mark.parametrize("mod", MODULES)
def test_module_imports_first(mod):
    code = (
        f"import sys; sys.path.insert(0, {REPO!r}); "
        f"import py_datalake_move_files_spark.{mod}; "
        "from py_datalake_move_files_spark.queries import QUERIES, ORACLE; "
        "assert len(QUERIES) == len(ORACLE) >= 148, len(QUERIES)"
    )
    r = subprocess.run(
        [sys.executable, "-c", code], capture_output=True, text=True, timeout=120
    )
    assert r.returncode == 0, f"{mod}: {r.stderr[-800:]}"


def _package_modules() -> dict[str, Path]:
    mods = {}
    for path in (ROOT / PKG).rglob("*.py"):
        parts = list(path.relative_to(ROOT).with_suffix("").parts)
        if parts[-1] == "__init__":
            parts.pop()
        mods[".".join(parts)] = path
    return mods


def _imported_names(path: Path, modname: str | None) -> set[str]:
    """Every dotted name an ``import``/``from`` statement anywhere in
    ``path`` could bind (``from a import b`` yields ``a`` and ``a.b``, so
    submodules imported by name count); relative imports are resolved
    against ``modname``. Parsed, never executed."""
    is_pkg = path.name == "__init__.py"
    names = set()
    for node in ast.walk(ast.parse(path.read_text(), str(path))):
        if isinstance(node, ast.Import):
            names.update(a.name for a in node.names)
        elif isinstance(node, ast.ImportFrom):
            base = node.module or ""
            if node.level:
                parts = modname.split(".")
                parts = parts if is_pkg else parts[:-1]
                parts = parts[: len(parts) - (node.level - 1)]
                base = ".".join(parts + ([node.module] if node.module else []))
            names.add(base)
            names.update(f"{base}.{a.name}" for a in node.names)
    return names


def test_every_package_module_is_reached_from_an_entry_point():
    mods = _package_modules()
    entry_files = [
        ROOT / "__spark_entry__.py",
        ROOT / "bench.py",
        *sorted((ROOT / "perfbench").glob("*.py")),
        *sorted((ROOT / "tools").glob("*.py")),
    ]
    todo = [f"{PKG}.queries", f"{PKG}.cli", f"{PKG}.__main__"]
    for path in entry_files:
        todo.extend(_imported_names(path, None))
    reached: set[str] = set()
    while todo:
        name = todo.pop()
        if name not in mods or name in reached:
            continue
        reached.add(name)
        # importing a submodule imports every enclosing package first
        parent = name.rpartition(".")[0]
        if parent:
            todo.append(parent)
        todo.extend(_imported_names(mods[name], name))
    unreached = sorted(set(mods) - reached)
    assert not unreached, f"package modules no entry point imports: {unreached}"


#: Defaulted parameters no entry point sets that stay anyway: each lets a
#: test substitute a fake or force a schedule.
TEST_SEAMS = {
    ("execute_plan", "parallelism"), ("execute_plan", "filesystem_factory"),
    ("execute_plan", "_stagger_s"), ("execute_plan", "_fail_task_once"),
    ("optimize_zorder", "n_files"), ("from_env", "env"),
}


def _public_functions(path: Path) -> list[ast.FunctionDef]:
    """The module's public top-level functions and public class methods."""
    funcs = []
    for node in ast.parse(path.read_text(), str(path)).body:
        if isinstance(node, ast.ClassDef) and not node.name.startswith("_"):
            funcs.extend(n for n in node.body if isinstance(n, ast.FunctionDef))
        elif isinstance(node, ast.FunctionDef):
            funcs.append(node)
    return [f for f in funcs if not f.name.startswith("_")]


def _passed_values(path: Path, positional: dict[str, list[str]]) -> set:
    """``(function, parameter, forwarded_from)`` for every argument a call
    in ``path`` passes by keyword or position. ``forwarded_from`` is
    ``(enclosing function, parameter)`` when the call forwards the
    enclosing function's own same-named parameter (``glob=glob``), else
    None."""
    passed = set()

    def visit(node, fn, enclosing: set[str]):
        if isinstance(node, (ast.FunctionDef, ast.AsyncFunctionDef, ast.Lambda)):
            a = node.args
            enclosing = {p.arg for p in a.posonlyargs + a.args + a.kwonlyargs}
            fn = getattr(node, "name", fn)
        if isinstance(node, ast.Call):
            f = node.func
            name = f.id if isinstance(f, ast.Name) else getattr(f, "attr", None)
            args = [(kw.arg, kw.value) for kw in node.keywords if kw.arg]
            for param, value in zip(positional.get(name, []), node.args):
                if isinstance(value, ast.Starred):
                    break
                args.append((param, value))
            for param, value in args:
                forwards = (
                    isinstance(value, ast.Name)
                    and value.id == param
                    and param in enclosing
                )
                passed.add((name, param, (fn, param) if forwards else None))
        for child in ast.iter_child_nodes(node):
            visit(child, fn, enclosing)

    visit(ast.parse(path.read_text(), str(path)), None, set())
    return passed


def test_package_parameters_are_set_by_an_entry_point():
    """A setting only tests select is a code path only tests run. A
    forwarded parameter (``f(x=x)``) counts as set only when the
    forwarding function's own parameter is."""
    entry_files = [
        *(ROOT / PKG).rglob("*.py"),
        ROOT / "__spark_entry__.py",
        ROOT / "bench.py",
        *(ROOT / "perfbench").glob("*.py"),
        *(ROOT / "tools").glob("*.py"),
    ]
    funcs = [f for p in (ROOT / PKG).rglob("*.py") for f in _public_functions(p)]
    defaults, positional = set(), {}
    for f in funcs:
        a = f.args
        pos = a.posonlyargs + a.args
        defaults.update((f.name, p.arg) for p in pos[len(pos) - len(a.defaults):])
        defaults.update(
            (f.name, p.arg) for p, d in zip(a.kwonlyargs, a.kw_defaults) if d is not None
        )
        positional[f.name] = [p.arg for p in pos if p.arg not in ("self", "cls")]
    calls = set().union(
        *(
            _passed_values(p, positional)
            for p in entry_files
            if not p.name.startswith("test_")
        )
    )
    passed = {(name, param) for name, param, src in calls if src is None}
    forwards = {(name, param, src) for name, param, src in calls if src is not None}
    while True:
        more = {(name, param) for name, param, src in forwards if src in passed}
        if more <= passed:
            break
        passed |= more
    unset = sorted(defaults - passed - TEST_SEAMS)
    assert not unset, f"defaulted parameters no entry point sets: {unset}"


#: Methods that run a Python function per task over Arrow batches.
_PYTHON_STAGE_CALLS = {"mapInPandas", "applyInPandas", "mapInArrow", "applyInArrow"}
_PREAMBLE_FACTORY = "make_worker_preamble"


def _call_name(node) -> str | None:
    f = node.func if isinstance(node, ast.Call) else node
    return f.id if isinstance(f, ast.Name) else getattr(f, "attr", None)


def _scope_nodes(scope):
    """The nodes of ``scope``'s body, not descending into nested
    functions, lambdas or classes."""
    stack = list(scope.body)
    while stack:
        node = stack.pop()
        yield node
        if not isinstance(
            node, (ast.FunctionDef, ast.AsyncFunctionDef, ast.ClassDef, ast.Lambda)
        ):
            stack.extend(ast.iter_child_nodes(node))


def _python_stages_without_preamble(pkg_dir: Path) -> list[str]:
    """``module:line function`` for every function in ``pkg_dir`` that is
    passed to ``mapInPandas`` (or a sibling Arrow-batch method) or wrapped
    by ``pandas_udf`` and whose first statement, after any docstring, is
    not a call of a name bound to ``make_worker_preamble()``. A stage
    function that cannot be resolved to a ``def`` in the calling scope is
    listed as ``<unresolved>``."""
    missing = []
    for path in sorted(pkg_dir.rglob("*.py")):
        tree = ast.parse(path.read_text(), str(path))
        devices = {
            t.id
            for node in ast.walk(tree)
            if isinstance(node, ast.Assign)
            and isinstance(node.value, ast.Call)
            and _call_name(node.value) == _PREAMBLE_FACTORY
            for t in node.targets
            if isinstance(t, ast.Name)
        }
        stages = []
        scopes = [tree, *(n for n in ast.walk(tree) if isinstance(n, ast.FunctionDef))]
        for scope in scopes:
            nodes = list(_scope_nodes(scope))
            defs = {n.name: n for n in nodes if isinstance(n, ast.FunctionDef)}
            for node in nodes:
                if isinstance(node, ast.FunctionDef) and any(
                    _call_name(d) == "pandas_udf" for d in node.decorator_list
                ):
                    stages.append(node)
                if not isinstance(node, ast.Call) or not node.args:
                    continue
                name = _call_name(node)
                if name in _PYTHON_STAGE_CALLS or name == "pandas_udf":
                    fn = node.args[0]
                    if isinstance(fn, ast.Name) and fn.id in defs:
                        stages.append(defs[fn.id])
                    elif name in _PYTHON_STAGE_CALLS:
                        missing.append(f"{path.name}:{node.lineno} <unresolved>")
        for fn in stages:
            body = [
                s for s in fn.body
                if not (isinstance(s, ast.Expr) and isinstance(s.value, ast.Constant))
            ]
            first = body[0] if body else None
            if not (
                isinstance(first, ast.Expr)
                and isinstance(first.value, ast.Call)
                and _call_name(first.value) in devices
            ):
                missing.append(f"{path.name}:{fn.lineno} {fn.name}")
    return missing


def test_every_python_stage_starts_with_the_worker_preamble():
    """Each Python task otherwise re-reads every cached zip importer's
    archive on CPython < 3.13 (functions/worker.py)."""
    missing = _python_stages_without_preamble(ROOT / PKG)
    assert not missing, f"Python stages without worker_preamble(): {missing}"


def test_the_worker_preamble_has_one_definition():
    """One device: no other module defines it or touches the importer cache."""
    hits = sorted(
        path.relative_to(ROOT / PKG).as_posix()
        for path in (ROOT / PKG).rglob("*.py")
        if "path_importer_cache" in path.read_text()
        or f"def {_PREAMBLE_FACTORY}" in path.read_text()
    )
    assert hits == ["functions/worker.py"], hits


#: (module file, function) that may call ``<session>.read....parquet(``:
#: the catalog's one cached read, and the CLI's reads of snapshots given on
#: its command line (a previous card, two schema-diff directories), which
#: are not catalog tables.
_PARQUET_READERS = {
    ("catalog.py", "_read_parquet"),
    ("cli.py", "cmd_card"),
    ("cli.py", "cmd_schema_diff"),
}


def _reads_parquet(call: ast.Call) -> bool:
    """``call`` is ``<x>.read<...>.parquet(...)``: a ``parquet`` method
    whose receiver chain passes through a ``.read`` attribute."""
    if not (isinstance(call.func, ast.Attribute) and call.func.attr == "parquet"):
        return False
    node = call.func.value
    while isinstance(node, (ast.Call, ast.Attribute)):
        if isinstance(node, ast.Attribute):
            if node.attr == "read":
                return True
            node = node.value
        else:
            node = node.func
    return False


def test_parquet_is_read_through_the_catalog():
    """Every other module builds its tables with ``catalog.load_table``,
    which infers a table's schema once per process; a direct read would
    run a footer job on every query build."""
    hits = []

    def visit(node, path: Path, fn: str):
        if isinstance(node, (ast.FunctionDef, ast.AsyncFunctionDef)):
            fn = node.name
        if (
            isinstance(node, ast.Call)
            and _reads_parquet(node)
            and (path.name, fn) not in _PARQUET_READERS
        ):
            hits.append(f"{path.relative_to(ROOT / PKG)}:{node.lineno} {fn}")
        for child in ast.iter_child_nodes(node):
            visit(child, path, fn)

    for path in sorted((ROOT / PKG).rglob("*.py")):
        visit(ast.parse(path.read_text(), str(path)), path, "<module>")
    assert not hits, f"direct parquet reads outside the catalog: {hits}"
