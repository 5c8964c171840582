"""The verdicts of scripts/perf_pairs.py on hand-made numbers (no Spark)."""

from __future__ import annotations

import ast
import sys
from pathlib import Path

SCRIPTS = Path(__file__).resolve().parents[1] / "scripts"
sys.path.insert(0, str(SCRIPTS))

import perf_pairs as pp  # noqa: E402

PARENT = [10.0, 10.5, 11.0, 11.5, 12.0, 10.2, 10.8, 11.2, 11.8, 12.2]


def test_claim_needs_nine_of_ten_wins_and_a_gap_beyond_parent_spread():
    change = [p - 3.0 for p in PARENT]
    assert pp.claim_verdict(PARENT, change, "lower") == (10, "gain")
    # 8 of 10 wins: not met, however large the gap
    two_losses = change[:8] + [p + 0.1 for p in PARENT[8:]]
    assert pp.claim_verdict(PARENT, two_losses, "lower") == (8, "not met")
    # one loss and one tie still reach 9/10 wins
    one_loss = change[:9] + [PARENT[9] + 0.1]
    assert pp.claim_verdict(PARENT, one_loss, "lower") == (9, "gain")
    tie = change[:9] + [PARENT[9]]
    assert pp.claim_verdict(PARENT, tie, "lower") == (9, "gain")
    # every pair won, but the median gap (0.3) is inside the parent's
    # quartile spread (~1.1): not met
    small = [p - 0.3 for p in PARENT]
    assert pp.claim_verdict(PARENT, small, "lower") == (10, "not met")
    # higher-is-better metrics win upwards
    assert pp.claim_verdict(PARENT, [p + 3.0 for p in PARENT], "higher") == (10, "gain")
    assert pp.claim_verdict(PARENT, change, "higher") == (0, "not met")


def test_bound_verdicts():
    # +5 % median, tight runs: within a 0.25 bound
    assert pp.bound_verdict(PARENT, [p * 1.05 for p in PARENT], "lower", 0.25) == "within bound"
    # +40 % median: worse, whatever the spread
    assert pp.bound_verdict(PARENT, [p * 1.4 for p in PARENT], "lower", 0.25) == "worse"
    assert pp.bound_verdict(PARENT, [p * 0.6 for p in PARENT], "higher", 0.25) == "worse"
    # a change side whose quartiles span more than the bound: unresolved
    wide = [6.0, 8.0, 10.0, 14.0, 16.0, 7.0, 9.0, 11.0, 13.0, 15.0]
    assert pp.bound_verdict(PARENT, wide, "lower", 0.25) == "unresolved"
    # ... unless every change run beats every parent run
    wide_better = [w / 4 for w in wide]
    assert pp.bound_verdict(PARENT, wide_better, "lower", 0.25) == "within bound"


def test_quartiles_and_seed_ranges():
    assert pp.quartiles([1.0, 2.0, 3.0, 4.0, 5.0]) == (2.0, 3.0, 4.0)
    assert pp.quartiles([7.0]) == (7.0, 7.0, 7.0)
    assert pp.parse_seeds("1001-1010") == list(range(1001, 1011))
    assert pp.parse_seeds("5") == [5]


def test_script_imports_nothing_from_the_engine():
    tree = ast.parse((SCRIPTS / "perf_pairs.py").read_text())
    names = [a.name for n in ast.walk(tree) if isinstance(n, ast.Import) for a in n.names]
    names += [n.module or "" for n in ast.walk(tree) if isinstance(n, ast.ImportFrom)]
    assert names and not any(m.startswith("nemscraper_spark") for m in names)
