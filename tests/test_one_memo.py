"""One memo in the engine.

``queries/trunk_cache.trunk`` is the only place a session keeps a value
between queries: each entry carries the footprint of the corpus it was
built over, so a corpus rewritten in place is rebuilt, not served stale.
A module-level dict that some function fills at run time is a second
memo that no footprint covers. This guard needs no Spark: it parses the
package source and lists every store into a module-level dict made
inside a function.
"""

from __future__ import annotations

import ast
from pathlib import Path

PKG = Path(__file__).resolve().parents[1] / "nemscraper_spark"
MEMO = "queries/trunk_cache.py"
# (module, name) -> why the store is not a memo of corpus data
ALLOWED = {
    ("sql.py", "_REGISTERED"): "catalog state per SparkSession: temp views "
    "are per session and re-read the files on every query, so a rewrite "
    "needs no footprint",
    ("queries/common.py", "REGISTRY"): "query registration: @register fills "
    "it with functions while the query modules import, never with data",
}
MUTATORS = {"setdefault", "update", "__setitem__"}


def _module_dicts(tree: ast.Module) -> set[str]:
    """Names bound at module level to a dict display or ``dict()``."""
    names = set()
    for node in tree.body:
        if isinstance(node, ast.Assign):
            targets, value = node.targets, node.value
        elif isinstance(node, ast.AnnAssign) and node.value is not None:
            targets, value = [node.target], node.value
        else:
            continue
        is_dict = isinstance(value, (ast.Dict, ast.DictComp)) or (
            isinstance(value, ast.Call)
            and isinstance(value.func, ast.Name)
            and value.func.id == "dict"
        )
        if is_dict:
            names |= {t.id for t in targets if isinstance(t, ast.Name)}
    return names


def _base_name(node: ast.expr) -> str | None:
    """``X`` for ``X[a]``, ``X[a][b]``, ``mod.X[a]`` and ``X.method``."""
    while isinstance(node, ast.Subscript):
        node = node.value
    if isinstance(node, ast.Name):
        return node.id
    if isinstance(node, ast.Attribute):
        return node.attr
    return None


def runtime_stores(src: str, names: set[str]) -> list[tuple[str, int]]:
    """(dict name, line) of each store into one of ``names`` made inside
    a function body: ``X[k] = v`` (also augmented and annotated) and
    ``X.setdefault`` / ``X.update`` / ``X.__setitem__`` calls."""
    hits = []
    for fn in ast.walk(ast.parse(src)):
        if not isinstance(fn, (ast.FunctionDef, ast.AsyncFunctionDef, ast.Lambda)):
            continue
        for node in ast.walk(fn):
            if isinstance(node, ast.Subscript) and isinstance(node.ctx, ast.Store):
                name = _base_name(node.value)
            elif (
                isinstance(node, ast.Call)
                and isinstance(node.func, ast.Attribute)
                and node.func.attr in MUTATORS
            ):
                name = _base_name(node.func.value)
            else:
                continue
            if name in names:
                hits.append((name, node.lineno))
    return sorted(set(hits), key=lambda h: h[1])


def test_scan_sees_each_store_form():
    src = (
        "_C = {}\n"
        "def f(k, v):\n"
        "    _C[k] = v\n"
        "    _C.setdefault(k, v)\n"
        "    _C.update({k: v})\n"
        "    _C[k][0] = v\n"
        "    local = {}\n"
        "    local[k] = v\n"
        "    return _C.get(k)\n"
        "_C['import-time'] = 1\n"
    )
    tree = ast.parse(src)
    assert _module_dicts(tree) == {"_C"}
    assert runtime_stores(src, {"_C"}) == [("_C", 3), ("_C", 4), ("_C", 5), ("_C", 6)]


def test_only_trunk_cache_memoizes():
    sources = {str(p.relative_to(PKG)): p.read_text() for p in sorted(PKG.rglob("*.py"))}
    # a dict may be imported and filled elsewhere, so every module is
    # scanned for the names of every module-level dict in the package
    names = set().union(*(_module_dicts(ast.parse(s)) for s in sources.values()))
    hits = {
        (mod, name): line
        for mod, src in sources.items()
        if mod != MEMO
        for name, line in runtime_stores(src, names)
        if (mod, name) not in ALLOWED
    }
    assert hits == {}, f"memoize through trunk_cache.trunk, not a module dict: {hits}"
