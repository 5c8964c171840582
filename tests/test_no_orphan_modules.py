"""Every engine module must have a caller outside the tests.

A module that only its own test imports is library surface no
registered query, pipeline or script runs: it drifts from the code the
queries execute and documents features the engine does not serve.
This guard needs no Spark: it parses the import statements of every
non-test caller (the package itself, ``scripts/``, ``bench.py`` and
``__spark_entry__.py``) and also accepts a quoted dotted module name,
the form a dynamic ``importlib.import_module`` call would use.
"""

from __future__ import annotations

import ast
import re
from pathlib import Path

ROOT = Path(__file__).resolve().parents[1]
PKG = "nemscraper_spark"


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
