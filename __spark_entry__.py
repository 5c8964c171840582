"""Driver contract for the spark-graft builder (PySpark target).

entry(spark)   — flagship FPP performance pipeline on sf0.001
queries()      — every implemented operator from SURVEY.md §2 (+ the
                 training-data ops), one callable per name
oracle_sql()   — DuckDB-dialect equivalents (recursive EWMA included,
                 via a bit-exact recursive CTE); keys without an oracle
                 are the genuinely non-deterministic-SQL ops
                 (xxhash-seeded ANN float paths) and get the driver's
                 rows-only check.

Ordering contract (the driver verifies the first ~50 entries of the
queries() dict each round, so iteration order IS the verification
schedule):

1. UNCHECKED / INVALIDATED first — any query without a hash-green
   CORRECTNESS row, plus any query whose (implementation source,
   oracle, transitive-helper-closure) fingerprint changed since
   QUERY_FINGERPRINTS.json was last blessed (an edited query — or an
   edit to any shared helper it reaches — must re-earn its green,
   never coast on a stale row — see _green_names / _closure_parts).
2. GREEN ROTATION next, oldest-checked-first — spare window slots
   re-validate the greens that have gone longest without a driver row
   (last-green round read from the CORRECTNESS_r*.json files on disk,
   so the rotation is self-maintaining round over round).
3. PERMANENT ROWS-ONLY names dead last — the xxhash/float production
   paths that can never hash-match by design (each shadowed by a
   hash-green md5 twin); they still get a row when the driver checks
   everything, but never displace a re-validation candidate.
"""

from __future__ import annotations

import ast
import functools
import glob
import hashlib
import importlib
import inspect
import json
import re
import sys
import textwrap
import types
from collections.abc import Callable
from pathlib import Path

from pyspark.sql import DataFrame, SparkSession

_REPO = str(Path(__file__).resolve().parent)
if _REPO not in sys.path:
    sys.path.insert(0, _REPO)

from nemscraper_spark.queries import REGISTRY  # noqa: E402

# Names that can NEVER hash-match as registered: hash-seeded (xxhash64)
# or float-ranked production paths whose every algorithm is pinned by a
# hash-green md5/integer-grid twin (ann_*_md5) and recall tests.  They
# sort dead last so their guaranteed `no_oracle` rows never consume a
# driver window slot ahead of a real re-validation candidate.
_PERMANENT_ROWS_ONLY = frozenset(
    {
        "ann_lsh_cosine",
        "ann_ivf_cosine",
        "ann_pq_adc",
        "ann_ivfpq_adc",
        "approx_sketches",  # sketch internals engine-specific; bounds
        # contract hash-gated by sketch_error_bounds
    }
)


# Package prefix whose helpers participate in fingerprints (a module
# constant so the unit tests can point it at a throwaway package).
_PKG = "nemscraper_spark"

# Fingerprint ALGORITHM version, embedded in every digest payload.  Bump
# it whenever the fingerprinting machinery itself changes (closure walk,
# canonical reprs, payload layout): every stored digest then mismatches
# mechanically, so an algorithm re-bless is distinguishable in the
# QUERY_FINGERPRINTS.json history from a behavior re-bless — the round-7
# verdict's audit gap ("nothing in the repo distinguishes an algorithm
# re-bless from a behavior re-bless except prose").  gen_fingerprints.py
# logs every blessing (version, changed names, --allow-coast, reason) to
# PROGRESS.jsonl.
#   v2 (round 8): version field introduced; _local_imports beyond-root
#      relative-import guard fixed (ADVICE r7).
_FP_ALGO_VERSION = "v2"

# Immutable plain data only — plus NON-EMPTY dicts of plain data, which
# in this repo are always behaviour tunables (STOPWORDS, _QC_W, _KEYS):
# editing one changes query results, so it must move the fingerprint.
# EMPTY module-level dicts stay excluded: those are runtime caches
# (trunk_cache._TRUNKS, sql._REGISTERED) that fill as the
# session runs — admitting them would make a fingerprint computed after
# query execution differ from the bless-time one.  (All real flows
# compute fingerprints BEFORE any query runs — _driver_order is called
# at import/ordering time and _closure_digest is lru-cached — so the
# cache-mutation hazard is belt-and-braces, not load-bearing.)  Reprs
# of arbitrary objects embed memory addresses and stay excluded.
def _is_plain_const(val) -> bool:
    if isinstance(val, (str, bytes, int, float, bool, complex)) or val is None:
        return True
    if isinstance(val, (tuple, frozenset)):
        return all(_is_plain_const(v) for v in val)
    if isinstance(val, dict):
        return bool(val) and all(
            _is_plain_const(k) and _is_plain_const(v) for k, v in val.items()
        )
    return False


def _const_repr(val) -> str:
    """Deterministic canonical repr for fingerprinting: frozensets sort
    their element reprs (the builtin repr orders by str hash, which
    varies with PYTHONHASHSEED — a bless-vs-driver process pair would
    disagree and permanently demote every consumer), and dicts sort
    their items so insertion order never matters."""
    if isinstance(val, frozenset):
        return "frozenset({%s})" % ",".join(sorted(_const_repr(v) for v in val))
    if isinstance(val, dict):
        items = sorted(
            (_const_repr(k), _const_repr(v)) for k, v in val.items()
        )
        return "{%s}" % ",".join(f"{k}:{v}" for k, v in items)
    if isinstance(val, tuple):
        return "(%s)" % ",".join(_const_repr(v) for v in val)
    return repr(val)


def _code_names(code) -> set[str]:
    """co_names of a code object and every nested code object (inner
    defs / lambdas / comprehensions share the enclosing globals)."""
    names = set(code.co_names)
    for c in code.co_consts:
        if isinstance(c, types.CodeType):
            names |= _code_names(c)
    return names


def _local_imports(src: str, host_mod: str = "") -> list[object]:
    """Objects pulled in by `from <pkg>... import x` / `import <pkg>...`
    statements appearing in a function's source (typically lazy imports
    inside the body, invisible to the globals walk — they store into
    LOCALS).  AST-parsed, not regex: `import x as y`, trailing
    comments, multi-line parenthesized forms, and relative imports all
    resolve exactly (the round-6 regex silently dropped `x as y` — the
    captured name failed the hasattr probe and the helper escaped
    fingerprinting with no warning)."""
    try:
        tree = ast.parse(textwrap.dedent(src))
    except SyntaxError:
        return []
    out: list[object] = []
    for node in ast.walk(tree):
        if isinstance(node, ast.ImportFrom):
            mod_name = node.module or ""
            if node.level:  # relative: resolve against the host module
                # A plain host module `pkg.mod` supports at most
                # level == count(".") dots-only ascents (level 1 = its
                # own package `pkg`); anything deeper is Python's
                # "beyond top-level package" error — skip it rather
                # than mis-attributing the import to a shallower
                # module (the round-7 ADVICE off-by-one: level ==
                # dots+1 slipped through and resolved to the root).
                if host_mod.count(".") < node.level:
                    continue
                prefix = host_mod.rsplit(".", node.level)[0]
                mod_name = f"{prefix}.{mod_name}" if mod_name else prefix
            if not mod_name.startswith(_PKG):
                continue
            try:
                mod = importlib.import_module(mod_name)
            except ImportError:
                continue
            for alias in node.names:
                attr = alias.name
                if attr == "*":
                    out.append(mod)
                    continue
                # `from pkg.sources import fsutil` names a SUBMODULE
                # that may not be imported yet — hasattr would answer
                # False cold and True after any other walk imports it
                # (order-dependent fingerprints).  Import it first.
                try:
                    out.append(importlib.import_module(f"{mod_name}.{attr}"))
                    continue
                except ImportError:
                    pass
                if hasattr(mod, attr):
                    out.append(getattr(mod, attr))
        elif isinstance(node, ast.Import):
            for alias in node.names:
                if alias.name.startswith(_PKG):
                    try:
                        out.append(importlib.import_module(alias.name))
                    except ImportError:
                        pass
    return out


def _closure_parts(fn) -> dict[str, str]:
    """key -> source/repr for every in-package helper the query's code
    transitively references: functions and classes by their own source,
    whole modules (rare, module-object references) by module source,
    plain-data module constants by repr.  This is what lets a shared
    helper edit (queries/common.py, operators/*) drop every dependent
    query out of the green set automatically — round 5 needed a manual
    16-name _RECHECK_FIRST block for exactly this gap."""
    parts: dict[str, str] = {}
    seen: set[int] = set()
    keep: list[object] = []  # pin visited objects: a gc'd visitee would
    # free its id for reuse and make the id-based dedup skip a NEW
    # object nondeterministically (heap-layout-dependent fingerprints)
    stack: list[object] = [fn]
    while stack:
        obj = stack.pop()
        if id(obj) in seen:
            continue
        seen.add(id(obj))
        keep.append(obj)
        if _is_plain_const(obj):
            # a constant reached by value (function-local `from pkg
            # import SOME_SQL`) has no name here — key it by content
            canon = _const_repr(obj)
            key = hashlib.sha256(canon.encode()).hexdigest()[:12]
            parts.setdefault(f"const:imported:{key}", canon)
            continue
        obj = inspect.unwrap(obj) if callable(obj) else obj
        if isinstance(obj, types.ModuleType):
            if obj.__name__.startswith(_PKG):
                try:
                    parts[f"mod:{obj.__name__}"] = inspect.getsource(obj)
                except (OSError, TypeError):
                    pass
            continue
        if isinstance(obj, type):
            if getattr(obj, "__module__", "").startswith(_PKG):
                key = f"cls:{obj.__module__}.{obj.__qualname__}"
                try:
                    parts[key] = inspect.getsource(obj)
                except (OSError, TypeError):
                    parts[key] = key
                for attr in vars(obj).values():
                    if isinstance(
                        attr, (types.FunctionType, staticmethod, classmethod)
                    ):
                        stack.append(getattr(attr, "__func__", attr))
            continue
        code = getattr(obj, "__code__", None)
        if code is None:
            continue
        mod = getattr(obj, "__module__", "") or ""
        in_pkg = mod.startswith(_PKG)
        if in_pkg and obj is not fn:
            key = f"fn:{mod}.{obj.__qualname__}"
            try:
                parts[key] = inspect.getsource(obj)
            except (OSError, TypeError):
                parts[key] = key
        if not in_pkg and obj is not fn:
            continue  # don't walk into external libraries
        g = getattr(obj, "__globals__", {})
        try:
            src = inspect.getsource(obj)
        except (OSError, TypeError):
            src = ""
        stack.extend(_local_imports(src, mod))
        for name in _code_names(code):
            if name not in g:
                continue
            val = g[name]
            if callable(val) or isinstance(val, types.ModuleType):
                stack.append(val)
            elif _is_plain_const(val):
                # module-level tunables (_PPJOIN_T, SQL templates, band
                # geometries, STOPWORDS/_QC_W dicts) are behaviour — a
                # change must invalidate every consumer
                parts.setdefault(f"const:{mod}.{name}", _const_repr(val))
    return parts


@functools.lru_cache(maxsize=None)
def _closure_digest(fn) -> str:
    parts = _closure_parts(fn)
    joined = "\x00".join(f"{k}\x01{parts[k]}" for k in sorted(parts))
    return hashlib.sha256(joined.encode()).hexdigest()[:16]


def _fingerprint(name: str) -> str:
    """Stable digest of a query's implementation source + oracle SQL +
    the source of every in-package helper it transitively references.
    Used to drop edited queries out of the green set automatically: a
    green is only trusted while ALL the code that earned it is
    unchanged — including shared helpers like queries/common.py and
    operators/* (the round-5 gap that needed a manual recheck list)."""
    spec = REGISTRY[name]
    try:
        src = inspect.getsource(spec.fn)
    except (OSError, TypeError):  # source unavailable (REPL, C ext)
        src = spec.fn.__qualname__
    payload = (
        _FP_ALGO_VERSION
        + "\x00"
        + src
        + "\x00"
        + (spec.oracle or "")
        + "\x00"
        + _closure_digest(spec.fn)
    )
    return hashlib.sha256(payload.encode()).hexdigest()[:16]


def _blessed_fingerprints() -> dict[str, str]:
    try:
        return json.loads(
            (Path(_REPO) / "QUERY_FINGERPRINTS.json").read_text()
        )
    except (OSError, json.JSONDecodeError):
        return {}


def _correctness_rows() -> list[tuple[int, dict]]:
    """(round, rows) per CORRECTNESS_r*.json on disk, sorted by round."""
    out = []
    for path in glob.glob(str(Path(_REPO) / "CORRECTNESS_r*.json")):
        m = re.search(r"CORRECTNESS_r(\d+)\.json$", path)
        if not m:
            continue
        try:
            rows = json.loads(Path(path).read_text())
        except (OSError, json.JSONDecodeError):
            continue
        out.append((int(m.group(1)), rows))
    return sorted(out)


def _last_green_round() -> dict[str, int]:
    """name -> latest round with a hash-green driver row."""
    last: dict[str, int] = {}
    for rnd, rows in _correctness_rows():
        for name, row in rows.items():
            if isinstance(row, dict) and row.get("hash_match"):
                last[name] = max(last.get(name, 0), rnd)
    return last


def _green_names() -> frozenset[str]:
    """Names trusted green: a hash-green CORRECTNESS row exists AND the
    query's current fingerprint matches the blessed one (edited queries
    drop out and re-queue first — the q17 lesson from round 4)."""
    blessed = _blessed_fingerprints()
    green = set()
    for name in _last_green_round():
        if name not in REGISTRY:
            continue
        if blessed.get(name) == _fingerprint(name):
            green.add(name)
    return frozenset(green)


# Queries edited + locally verified THIS round whose fingerprints were
# re-blessed before the round's driver run — they must record a FRESH
# driver row under the new code, ahead of the green rotation.  The
# block self-expires: a name drops out as soon as a CORRECTNESS round
# >= _RECHECK_SINCE contains a completed row for it (hash-green when it
# has an oracle; any completed rows-check otherwise).
#
# Round 6 note: the list is now SHORT by construction — fingerprints
# cover each query's transitive helper closure, so helper-edit victims
# (round 5 needed 7 shingle-cache names here) re-queue automatically;
# only whole-registry re-blessings after verified edits still need the
# explicit push past the blessing.
# Round 8: EMPTY by design.  Every behavior-touched name this round
# (the LSH verify swap consumers, the avro logical-type fixes, the
# concat null-parity edit) is instead HELD OUT of the blessing
# (scripts/gen_fingerprints.py --hold), so fingerprint invalidation —
# not a hand-written list — pushes each one through the driver's
# unchecked tier.  The round-7 verdict required exactly this: the
# bless must never precede the green.  (The round-7 entries below are
# gone because all three recorded hash-green r7 rows.)
_RECHECK_SINCE = 8
_RECHECK_FIRST: tuple[str, ...] = ()


def _forced_rechecks() -> list[str]:
    done = set()
    for rnd, rows in _correctness_rows():
        if rnd < _RECHECK_SINCE:
            continue
        for name, row in rows.items():
            if not isinstance(row, dict) or row.get("spark_rows") is None:
                continue
            if REGISTRY.get(name) is None:
                continue
            if REGISTRY[name].oracle is None or row.get("hash_match"):
                done.add(name)
    return [n for n in _RECHECK_FIRST if n in REGISTRY and n not in done]


def _driver_order() -> list[str]:
    green = _green_names()
    last = _last_green_round()
    forced = _forced_rechecks()
    placed = set(forced)
    unchecked = [
        n
        for n in REGISTRY
        if n not in green and n not in _PERMANENT_ROWS_ONLY and n not in placed
    ]
    # Oracle-bearing unchecked/invalidated first (hash gate = full
    # signal); registry order within each class.
    unchecked.sort(key=lambda n: REGISTRY[n].oracle is None)
    rotation = sorted(
        (
            n
            for n in REGISTRY
            if n in green and n not in _PERMANENT_ROWS_ONLY and n not in placed
        ),
        key=lambda n: last.get(n, 0),  # oldest-checked first
    )
    tail = [
        n for n in REGISTRY if n in _PERMANENT_ROWS_ONLY and n not in placed
    ]
    return [*forced, *unchecked, *rotation, *tail]


def entry(spark: SparkSession) -> DataFrame:
    """Flagship query: the full FPP performance pipeline (SURVEY.md §3.2
    steps 2-5 — spine ⨯ units → prev/next forecast join → linear
    interpolation → deviations → p_lower/p_raise) on sf0.001."""
    from nemscraper_spark.queries.fpp_pipeline import performance

    return performance(spark, "/root/testdata/sf0.001")


def queries() -> dict[str, Callable[[SparkSession, str], DataFrame]]:
    return {name: REGISTRY[name].fn for name in _driver_order()}


def oracle_sql() -> dict[str, str]:
    return {
        name: REGISTRY[name].oracle
        for name in _driver_order()
        if REGISTRY[name].oracle is not None
    }
