"""Every engine module, and every top-level function and class in it,
must have a caller outside the tests.

A module or function that only its own test calls is library surface
no registered query, pipeline or script runs: it drifts from the code
the queries execute and documents features the engine does not serve.
These guards need no Spark: they parse every non-test caller (the
package itself, ``scripts/``, ``bench.py`` and ``__spark_entry__.py``).
A module is called when a caller imports it or quotes its dotted name,
the form a dynamic ``importlib.import_module`` call would use. A
top-level name is called when another definition loads, imports or
reads it as an attribute, or when it is a query ``@register`` hands to
the registry. Names are matched without their module, so a name that
is also some other object's attribute counts as called.
"""

from __future__ import annotations

import ast
import re
from pathlib import Path

ROOT = Path(__file__).resolve().parents[1]
PKG = "nemscraper_spark"

# top-level names with no such caller, each with the reason it stays
NO_CALLER = {
    "nemscraper_spark.sources.avro_py.write_container": (
        "the module-level encoder tests/test_avro_py.py compares "
        "write_avro's task-closure encoder with, byte for byte"
    ),
    "nemscraper_spark.sources.avro_py.decode_container": (
        "the decoder tests/test_avro_py.py reads Python- and "
        "Java-written containers with"
    ),
    "nemscraper_spark.sources.evolve.list_parquet_files": (
        "benchmark hook point: perfbench/workloads.py lists the ingest "
        "workload's table with it"
    ),
    "nemscraper_spark.sources.evolve.read_evolved": (
        "benchmark hook point: perfbench/workloads.py reads the ingest "
        "workload's table with it"
    ),
    "nemscraper_spark.queries.trunk_cache.clear_trunk_caches": (
        "benchmark hook point: perfbench/workloads.py drops the trunks "
        "before each corpus pass"
    ),
    "nemscraper_spark.plans.zorder.write_zordered": (
        "the Z-order layout writer; the registered zorder_curve_keys "
        "checks only its key, tests/test_zorder.py the pruning it gives"
    ),
    "nemscraper_spark.queries.training_data.lsh_verified_pairs": (
        "the xxhash64 LSH pipeline, which no query registers because "
        "the DuckDB oracle cannot reproduce xxhash64; "
        "tests/test_training_ops.py pins its recall and its verify"
    ),
}


def _module_name(path: Path) -> str:
    parts = list(path.relative_to(ROOT).with_suffix("").parts)
    if parts[-1] == "__init__":
        parts.pop()
    return ".".join(parts)


def _imported_names(path: Path) -> set[str]:
    """Dotted names an import statement in ``path`` may resolve to: the
    module itself plus ``module.attr`` for every ``from`` import (the
    attr may be a submodule)."""
    name = _module_name(path)
    package = name if path.name == "__init__.py" else name.rpartition(".")[0]
    out: set[str] = set()
    for node in ast.walk(ast.parse(path.read_text(), str(path))):
        if isinstance(node, ast.Import):
            out.update(alias.name for alias in node.names)
        elif isinstance(node, ast.ImportFrom):
            base = node.module or ""
            if node.level:
                anchor = package.split(".")[: len(package.split(".")) - node.level + 1]
                base = ".".join(anchor + ([base] if base else []))
            out.add(base)
            out.update(f"{base}.{alias.name}" for alias in node.names)
    return out


def _callers() -> list[Path]:
    return [
        *sorted((ROOT / PKG).rglob("*.py")),
        *sorted((ROOT / "scripts").glob("*.py")),
        ROOT / "bench.py",
        ROOT / "__spark_entry__.py",
    ]


def test_every_module_has_a_non_test_caller():
    callers = {p: (_imported_names(p), p.read_text()) for p in _callers()}
    modules = [p for p in sorted((ROOT / PKG).rglob("*.py")) if p.name != "__init__.py"]
    assert modules

    orphans = []
    for mod in modules:
        name = _module_name(mod)
        quoted = re.compile(rf"""["']{re.escape(name)}["']""")
        if not any(
            any(n == name or n.startswith(name + ".") for n in names)
            or quoted.search(text)
            for path, (names, text) in callers.items()
            if path != mod
        ):
            orphans.append(str(mod.relative_to(ROOT)))
    assert not orphans, (
        "modules no query, pipeline or script imports (wire them in or "
        f"delete them with their tests): {orphans}"
    )


def _references(tree: ast.AST) -> set[str]:
    """Every name ``tree`` loads, imports or reads as an attribute."""
    out: set[str] = set()
    for node in ast.walk(tree):
        if isinstance(node, ast.Name):
            out.add(node.id)
        elif isinstance(node, ast.Attribute):
            out.add(node.attr)
        elif isinstance(node, ast.alias):
            out.add(node.name.rpartition(".")[2])
    return out


def _registered(node: ast.AST) -> bool:
    return any(
        isinstance(d, ast.Call) and getattr(d.func, "id", None) == "register"
        for d in node.decorator_list
    )


def test_every_top_level_name_has_a_non_test_caller():
    trees = {p: ast.parse(p.read_text(), str(p)) for p in _callers()}
    refs = {p: _references(tree) for p, tree in trees.items()}
    orphans = set()
    for mod in sorted((ROOT / PKG).rglob("*.py")):
        body = [(node, _references(node)) for node in trees[mod].body]
        elsewhere = set().union(*(r for p, r in refs.items() if p != mod))
        for node, _ in body:
            if not isinstance(node, (ast.FunctionDef, ast.ClassDef)) or _registered(node):
                continue
            # a definition's own body (recursion) is not a caller
            here = set().union(*(r for n, r in body if n is not node))
            if node.name not in elsewhere | here:
                orphans.add(f"{_module_name(mod)}.{node.name}")
    unexplained = sorted(orphans - NO_CALLER.keys())
    assert not unexplained, (
        "top-level names no query, pipeline or script calls (wire them "
        "in, delete them with their tests, or list them in NO_CALLER "
        f"with a reason): {unexplained}"
    )
    stale = sorted(NO_CALLER.keys() - orphans)
    assert not stale, f"NO_CALLER names that now have a caller or are gone: {stale}"
