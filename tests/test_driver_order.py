"""Unit tests for __spark_entry__'s verification scheduling: the
driver checks the first ~50 queries() entries, so the ordering logic
(fingerprint-invalidated greens re-queue, oldest greens rotate forward,
forced rechecks self-expire, permanent rows-only names sort dead last)
is load-bearing.  No Spark needed — synthetic CORRECTNESS/fingerprint
files in a tmp repo root."""

from __future__ import annotations

import json

import pytest

import __spark_entry__ as entry
from nemscraper_spark.queries import REGISTRY


@pytest.fixture
def fake_repo(tmp_path, monkeypatch):
    """Point the entry module at a synthetic repo root and return a
    helper that writes CORRECTNESS_r{n}.json files there."""
    monkeypatch.setattr(entry, "_REPO", str(tmp_path))

    def write_round(n: int, rows: dict) -> None:
        (tmp_path / f"CORRECTNESS_r{n:02d}.json").write_text(json.dumps(rows))

    def bless(names) -> None:
        fps = {m: entry._fingerprint(m) for m in names}
        (tmp_path / "QUERY_FINGERPRINTS.json").write_text(json.dumps(fps))

    return write_round, bless


def _green_row(n=5):
    return {"hash_match": True, "spark_rows": n, "err": None}


def test_unchecked_sort_before_greens_and_tail_last(fake_repo):
    write_round, bless = fake_repo
    names = list(REGISTRY)
    write_round(1, {names[0]: _green_row()})
    bless(names)
    order = entry._driver_order()
    # the one green name sorts after every unchecked oracle-bearing name
    green_pos = order.index(names[0])
    assert green_pos >= len(
        [n for n in REGISTRY if REGISTRY[n].oracle is not None]
    ) - 1
    # permanent rows-only names occupy the very end (minus any that the
    # round's forced-recheck block pulled to the front)
    expected_tail = entry._PERMANENT_ROWS_ONLY - set(entry._forced_rechecks())
    tail = order[-len(expected_tail):]
    assert set(tail) == expected_tail


def test_fingerprint_mismatch_drops_green(fake_repo):
    write_round, bless = fake_repo
    names = [n for n in REGISTRY if REGISTRY[n].oracle is not None][:2]
    write_round(1, {m: _green_row() for m in names})
    bless(names)
    assert set(names) <= entry._green_names()
    # corrupt one blessed fingerprint -> that name re-queues
    fps = {m: entry._fingerprint(m) for m in names}
    fps[names[0]] = "0" * 16
    (entry.Path(entry._REPO) / "QUERY_FINGERPRINTS.json").write_text(
        json.dumps(fps)
    )
    green = entry._green_names()
    assert names[0] not in green and names[1] in green
    order = entry._driver_order()
    assert order.index(names[0]) < order.index(names[1])


def test_rotation_is_oldest_green_first(fake_repo):
    write_round, bless = fake_repo
    names = [n for n in REGISTRY if REGISTRY[n].oracle is not None][:3]
    write_round(1, {names[2]: _green_row()})
    write_round(2, {names[0]: _green_row()})
    write_round(4, {names[1]: _green_row()})
    bless(names)
    order = entry._driver_order()
    assert order.index(names[2]) < order.index(names[0]) < order.index(names[1])


def test_forced_recheck_expires_on_clean_row(fake_repo, monkeypatch):
    # The round-8 list is empty by design (behavior edits go through
    # --hold invalidation instead) — pin the MECHANISM with a synthetic
    # list: one oracle-bearing name, one rows-only name.
    write_round, bless = fake_repo
    synth = [n for n in REGISTRY if REGISTRY[n].oracle is not None][:1] + [
        n for n in REGISTRY if REGISTRY[n].oracle is None
    ][:1]
    monkeypatch.setattr(entry, "_RECHECK_FIRST", tuple(synth))
    forced = [n for n in entry._RECHECK_FIRST if n in REGISTRY]
    assert forced
    bless(list(REGISTRY))
    # no round >= _RECHECK_SINCE on disk: every forced name queues first
    assert entry._forced_rechecks() == forced
    # a clean row in round _RECHECK_SINCE expires that name
    target = forced[0]
    row = (
        _green_row()
        if REGISTRY[target].oracle is not None
        else {"hash_match": None, "spark_rows": 7, "err": "no_oracle"}
    )
    write_round(entry._RECHECK_SINCE, {target: row})
    assert target not in entry._forced_rechecks()
    # a CRASHED row (spark_rows null) does NOT expire it
    write_round(entry._RECHECK_SINCE, {target: {"spark_rows": None, "err": "boom"}})
    assert target in entry._forced_rechecks()


def test_last_green_round_takes_max(fake_repo):
    write_round, bless = fake_repo
    name = next(iter(REGISTRY))
    write_round(1, {name: _green_row()})
    write_round(3, {name: _green_row()})
    assert entry._last_green_round()[name] == 3


def test_closure_captures_shared_helpers():
    """The fingerprint closure must see through the query fn into the
    shared helper surface: queries/common.py loaders, module-private
    helper chains, tunable constants, and function-local imports."""
    parts = entry._closure_parts(REGISTRY["filter_eq"].fn)
    assert "fn:nemscraper_spark.queries.common.load_table" in parts

    parts = entry._closure_parts(REGISTRY["jaccard_ppjoin_pairs"].fn)
    keys = set(parts)
    # transitive helper chain + the threshold constants ADVICE flagged
    assert any("._ppjoin_prefix_frame" in k for k in keys)
    assert any("._ppjoin_candidates" in k for k in keys)
    assert any("_PPJOIN_T" in k for k in keys)

    # function-local `from nemscraper_spark... import x` (lazy import
    # inside the body) — invisible to a plain globals walk
    parts = entry._closure_parts(REGISTRY["recursive_cte_hierarchy"].fn)
    assert any("parquet_rows" in k for k in parts)


def test_closure_skips_mutable_runtime_caches():
    """Module-level dict caches mutate as the session runs — they must
    never enter the digest or fingerprints would drift mid-session."""
    import nemscraper_spark.queries.trunk_cache as tc

    fn = REGISTRY["minhash_lsh_pairs"].fn
    before = entry._closure_parts(fn)
    assert "fn:nemscraper_spark.queries.trunk_cache.trunk" in before
    assert not any("_TRUNKS" in k for k in before)
    tc._TRUNKS[("__fp_test__", "x")] = object()
    try:
        assert entry._closure_parts(fn) == before
    finally:
        tc._TRUNKS.pop(("__fp_test__", "x"), None)


def test_helper_edit_demotes_green(tmp_path, monkeypatch, fake_repo):
    """Editing a SHARED HELPER (not the query fn itself) must change the
    query's fingerprint and demote it out of _green_names(), so the
    driver rechecks instead of letting it coast on a stale row — the
    round-5 gap that needed a manual _RECHECK_FIRST list."""
    import importlib
    import json
    import linecache
    import sys
    import textwrap

    from nemscraper_spark.queries.common import QuerySpec

    write_round, _ = fake_repo
    name = "__fp_closure_test__"
    pkg = tmp_path / "fpclosure_testpkg"
    pkg.mkdir()
    (pkg / "__init__.py").write_text("")
    mod_src = textwrap.dedent(
        """
        def helper():
            return {ret}

        def query(spark, sf_dir):
            return helper()
        """
    )
    (pkg / "mod.py").write_text(mod_src.format(ret=1))
    monkeypatch.syspath_prepend(str(tmp_path))
    monkeypatch.setattr(entry, "_PKG", "fpclosure_testpkg")
    mod = importlib.import_module("fpclosure_testpkg.mod")
    try:
        monkeypatch.setitem(
            REGISTRY, name, QuerySpec(name, mod.query, None)
        )
        fp_before = entry._fingerprint(name)
        # a hash-green driver row + a blessing of the CURRENT code
        write_round(1, {name: _green_row()})
        (entry.Path(entry._REPO) / "QUERY_FINGERPRINTS.json").write_text(
            json.dumps({name: fp_before})
        )
        assert name in entry._green_names()

        # edit ONLY the helper — the query fn source is byte-identical
        (pkg / "mod.py").write_text(mod_src.format(ret=2))
        linecache.clearcache()
        mod = importlib.reload(mod)
        entry._closure_digest.cache_clear()
        monkeypatch.setitem(
            REGISTRY, name, QuerySpec(name, mod.query, None)
        )
        fp_after = entry._fingerprint(name)
        assert fp_before != fp_after
        # the green is gone and the query re-queues ahead of rotation
        assert name not in entry._green_names()
        order = entry._driver_order()
        greens = entry._green_names()
        first_green = next(
            (i for i, n in enumerate(order) if n in greens), len(order)
        )
        assert order.index(name) < first_green
    finally:
        sys.modules.pop("fpclosure_testpkg.mod", None)
        sys.modules.pop("fpclosure_testpkg", None)
        entry._closure_digest.cache_clear()


def test_fingerprints_are_deterministic_within_session():
    """Two cold closure sweeps over the full registry must agree —
    pins the gc/id-reuse and lazy-submodule-import ordering hazards
    the closure walk explicitly defends against."""
    fp1 = {n: entry._fingerprint(n) for n in REGISTRY}
    entry._closure_digest.cache_clear()
    fp2 = {n: entry._fingerprint(n) for n in REGISTRY}
    assert fp1 == fp2


def test_closure_precision_unreachable_helper_ignored(
    tmp_path, monkeypatch
):
    """Fingerprints must be PRECISE, not just complete: editing a
    helper the query never reaches must NOT move its fingerprint —
    a too-coarse digest (e.g. whole-module hashing) would demote
    entire modules of greens on every edit and churn the rotation."""
    import importlib
    import linecache
    import sys
    import textwrap

    from nemscraper_spark.queries.common import QuerySpec

    name = "__fp_precision_test__"
    pkg = tmp_path / "fpprecision_testpkg"
    pkg.mkdir()
    (pkg / "__init__.py").write_text("")
    mod_src = textwrap.dedent(
        """
        def used_helper():
            return {used}

        def unused_helper():
            return {unused}

        def query(spark, sf_dir):
            return used_helper()
        """
    )
    (pkg / "mod.py").write_text(mod_src.format(used=1, unused=1))
    monkeypatch.syspath_prepend(str(tmp_path))
    monkeypatch.setattr(entry, "_PKG", "fpprecision_testpkg")
    mod = importlib.import_module("fpprecision_testpkg.mod")

    def reload_with(used, unused):
        (pkg / "mod.py").write_text(
            mod_src.format(used=used, unused=unused)
        )
        linecache.clearcache()
        entry._closure_digest.cache_clear()
        m = importlib.reload(mod)
        monkeypatch.setitem(
            REGISTRY, name, QuerySpec(name, m.query, None)
        )
        return entry._fingerprint(name)

    try:
        monkeypatch.setitem(
            REGISTRY, name, QuerySpec(name, mod.query, None)
        )
        fp0 = entry._fingerprint(name)
        # edit ONLY the unreachable helper: fingerprint must not move
        assert reload_with(used=1, unused=2) == fp0
        # edit the REACHED helper: fingerprint must move
        assert reload_with(used=2, unused=2) != fp0
    finally:
        sys.modules.pop("fpprecision_testpkg.mod", None)
        sys.modules.pop("fpprecision_testpkg", None)
        entry._closure_digest.cache_clear()


# ---------------------------------------------------------- round 7 --


def test_dict_tunables_enter_the_closure():
    """ADVICE r6: dict-valued behaviour tunables read inside function
    bodies (STOPWORDS, _QC_W) must enter the digest — editing one
    changes query results, so it must move the fingerprint."""
    parts = entry._closure_parts(REGISTRY["lang_id_heuristic"].fn)
    assert any("STOPWORDS" in k for k in parts), sorted(parts)[:20]

    parts = entry._closure_parts(REGISTRY["quality_classifier_linear"].fn)
    assert any("_QC_W" in k for k in parts), sorted(parts)[:20]


def test_empty_dict_caches_stay_excluded():
    """The dict admission must not pull in runtime caches: they are
    EMPTY at fingerprint time (all real flows fingerprint before any
    query runs) and _is_plain_const rejects empty dicts outright."""
    assert not entry._is_plain_const({})
    # populated with non-plain values (DataFrames, py4j objects) they
    # stay excluded too
    assert not entry._is_plain_const({"k": object()})
    # non-empty all-plain = a tunable, admitted
    assert entry._is_plain_const({"en": ("the", "a"), "w": 1.5})


def test_const_repr_is_insertion_and_hashseed_stable():
    """_const_repr must canonicalize: dicts sort items (insertion order
    never matters), frozensets sort element reprs (builtin repr orders
    by str hash, which varies with PYTHONHASHSEED)."""
    a = {"x": 1, "y": (2.0, "z")}
    b = {"y": (2.0, "z"), "x": 1}
    assert entry._const_repr(a) == entry._const_repr(b)
    fs1 = frozenset({"alpha", "beta", "gamma", "delta"})
    fs2 = frozenset(["delta", "gamma", "beta", "alpha"])
    assert entry._const_repr(fs1) == entry._const_repr(fs2)
    assert "alpha" in entry._const_repr(fs1)


def test_fingerprints_stable_across_hashseed_processes():
    """The bless process and the driver process run with different
    PYTHONHASHSEEDs — a digest that depends on set/dict iteration
    order would permanently demote every affected green (ADVICE r6
    frozenset item).  Spawn two interpreters with forced distinct
    seeds and compare fingerprints for queries whose closures carry
    dict tunables."""
    import subprocess
    import sys as _sys

    prog = (
        "import sys; sys.path.insert(0, '/root/repo'); "
        "import __spark_entry__ as e; "
        "print(e._fingerprint('lang_id_heuristic'), "
        "e._fingerprint('quality_classifier_linear'), "
        "e._fingerprint('jaccard_ppjoin_pairs'))"
    )

    def run(seed: str) -> str:
        import os

        env = dict(os.environ, PYTHONHASHSEED=seed)
        out = subprocess.run(
            [_sys.executable, "-c", prog],
            capture_output=True,
            text=True,
            env=env,
            cwd="/tmp",
            check=True,
        )
        return out.stdout.strip()

    assert run("1") == run("2")


def test_aliased_local_import_enters_closure(tmp_path, monkeypatch):
    """ADVICE r6: `from pkg.mod import helper as h` inside a function
    body must pull helper into the closure — the round-6 regex
    captured the literal 'helper as h', failed the hasattr probe, and
    silently dropped it."""
    import importlib
    import sys
    import textwrap

    from nemscraper_spark.queries.common import QuerySpec

    pkg = tmp_path / "fpalias_testpkg"
    pkg.mkdir()
    (pkg / "__init__.py").write_text("")
    (pkg / "helpers.py").write_text(
        "def the_helper():\n    return {v}\n".format(v=1)
    )
    (pkg / "mod.py").write_text(
        textwrap.dedent(
            """
            def query(spark, sf_dir):
                from fpalias_testpkg.helpers import the_helper as h  # comment
                return h()
            """
        )
    )
    monkeypatch.syspath_prepend(str(tmp_path))
    monkeypatch.setattr(entry, "_PKG", "fpalias_testpkg")
    name = "__fp_alias_test__"
    try:
        mod = importlib.import_module("fpalias_testpkg.mod")
        monkeypatch.setitem(REGISTRY, name, QuerySpec(name, mod.query, None))
        entry._closure_digest.cache_clear()
        parts = entry._closure_parts(mod.query)
        assert any("the_helper" in k for k in parts), sorted(parts)
        fp0 = entry._fingerprint(name)
        # editing the aliased helper must move the fingerprint
        (pkg / "helpers.py").write_text(
            "def the_helper():\n    return {v}\n".format(v=2)
        )
        importlib.reload(sys.modules["fpalias_testpkg.helpers"])
        mod = importlib.reload(mod)
        monkeypatch.setitem(REGISTRY, name, QuerySpec(name, mod.query, None))
        entry._closure_digest.cache_clear()
        assert entry._fingerprint(name) != fp0
    finally:
        sys.modules.pop("fpalias_testpkg.helpers", None)
        sys.modules.pop("fpalias_testpkg.mod", None)
        sys.modules.pop("fpalias_testpkg", None)
        entry._closure_digest.cache_clear()


def test_const_repr_canonical_under_fuzz():
    """Property: _const_repr is invariant to dict insertion order and
    set construction order for arbitrarily nested plain-const shapes,
    and distinct values never collide."""
    from hypothesis import given, settings
    from hypothesis import strategies as st

    scalars = st.one_of(
        st.integers(-1000, 1000),
        st.floats(allow_nan=False, allow_infinity=False, width=32),
        st.text(max_size=8),
        st.booleans(),
        st.none(),
    )
    nested = st.recursive(
        scalars,
        lambda inner: st.one_of(
            st.tuples(inner, inner),
            st.frozensets(st.text(max_size=6), max_size=5),
            st.dictionaries(st.text(max_size=6), inner, min_size=1, max_size=4),
        ),
        max_leaves=12,
    )

    @given(nested, st.randoms())
    @settings(max_examples=150, deadline=None)
    def check(val, rnd):
        r1 = entry._const_repr(val)
        # rebuild with shuffled insertion/iteration order
        def rebuild(v):
            if isinstance(v, dict):
                items = [(k, rebuild(x)) for k, x in v.items()]
                rnd.shuffle(items)
                return dict(items)
            if isinstance(v, frozenset):
                items = list(v)
                rnd.shuffle(items)
                return frozenset(items)
            if isinstance(v, tuple):
                return tuple(rebuild(x) for x in v)
            return v

        assert entry._const_repr(rebuild(val)) == r1

    check()


def test_fp_algo_version_moves_every_digest(monkeypatch):
    """The fingerprint-algorithm version is part of the digest payload
    (round-7 verdict item 3): bumping it must move EVERY fingerprint,
    so an algorithm re-bless is mechanically distinguishable in the
    QUERY_FINGERPRINTS.json history from a behavior re-bless."""
    name = next(iter(REGISTRY))
    fp_now = entry._fingerprint(name)
    monkeypatch.setattr(entry, "_FP_ALGO_VERSION", "vTEST")
    assert entry._fingerprint(name) != fp_now
    monkeypatch.undo()
    assert entry._fingerprint(name) == fp_now


def test_beyond_root_relative_import_skipped(tmp_path, monkeypatch):
    """ADVICE r7: from host module 'pkg.mod' (depth 1), a level-2
    relative import is Python's 'beyond top-level package' error — the
    old guard (dots+1 < level) let exactly level==dots+1 through and
    rsplit attributed it to the package root, polluting the closure
    with a wrong module.  It must be skipped; the valid level-1 form
    must still resolve."""
    import textwrap

    pkg = tmp_path / "fprel_testpkg"
    pkg.mkdir()
    (pkg / "__init__.py").write_text("")
    (pkg / "helpers.py").write_text("def the_helper():\n    return 1\n")
    monkeypatch.syspath_prepend(str(tmp_path))
    monkeypatch.setattr(entry, "_PKG", "fprel_testpkg")

    beyond = textwrap.dedent(
        """
        def query():
            from .. import helpers
            return helpers
        """
    )
    assert entry._local_imports(beyond, "fprel_testpkg.mod") == []

    valid = textwrap.dedent(
        """
        def query():
            from . import helpers
            return helpers.the_helper()
        """
    )
    got = entry._local_imports(valid, "fprel_testpkg.mod")
    assert any(
        getattr(m, "__name__", "") == "fprel_testpkg.helpers" for m in got
    ), got


def test_compute_blessing_hold_and_coast_semantics():
    """gen_fingerprints.compute_blessing: held names keep (or stay
    absent from) the blessed set so they remain invalidated; coast
    detection flags exactly the green-holding changed names not queued
    for a forced recheck."""
    import sys

    sys.path.insert(0, "/root/repo/scripts")
    from gen_fingerprints import compute_blessing

    old = {"a": "1", "b": "2", "c": "3", "gone": "9"}
    current = {"a": "1", "b": "2x", "c": "3x", "new": "5"}
    out, changed, removed, coast = compute_blessing(
        old,
        current,
        held=["c", "new"],          # c keeps old digest; new stays absent
        last_green={"b": 6, "c": 6},
        recheck_first=(),
    )
    assert out == {"a": "1", "b": "2x", "c": "3"}
    assert changed == ["b"]          # c held, new held-absent, a unchanged
    assert removed == ["gone"]
    assert coast == ["b"]            # green + changed + not recheck-queued
    # queuing b for a forced recheck clears the coast refusal
    *_, coast2 = compute_blessing(
        old, current, ["c", "new"], {"b": 6, "c": 6}, ("b",)
    )
    assert coast2 == []
    # a green HELD name never counts as coasting (digest did not move)
    *_, coast3 = compute_blessing(
        old, current, ["b", "c", "new"], {"b": 6, "c": 6}, ()
    )
    assert coast3 == []
