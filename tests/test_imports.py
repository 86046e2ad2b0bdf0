"""Import-graph guards.

- Import-order robustness: every query module must be importable FIRST
  (before the registry root) from a clean interpreter. Guards the circular
  chain queries_ivf -> queries -> queries_pq -> (IVF oracle prelude) that
  once broke any direct `import queries_ivf`.
- Reachability: every package module is imported, directly or
  transitively, by an entry point (registry, CLI, `__spark_entry__.py`,
  bench, perfbench, tools). A module only tests import is dead weight.
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
