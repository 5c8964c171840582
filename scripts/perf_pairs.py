#!/usr/bin/env python3
"""Alternating parent/change pairs of the benchmark, with a verdict per
end-to-end metric.

    python3 scripts/perf_pairs.py --parent /path/to/parent --change . \\
        --workload corpus --seeds 1001-1010 --claim pass_s

For each seed it runs ``python3 perfbench/run.py --workload W --seed S
--seconds 5 --trace 0`` in both checkouts, each with its own
``perfbench/``; the parent goes first on even pairs, the change on odd
ones.  Each run prints one JSON line as it finishes.  At the end, for
every end-to-end metric in the change checkout's BENCHMARK.json, it
prints each side's median and quartiles and a verdict:

* the claimed metric: the change's wins (ties count for neither) and
  ``gain`` when it wins at least nine tenths of the pairs and the
  medians differ by more than the parent's quartile spread, else
  ``not met``;
* every other metric, against the metric's bound: ``worse`` when the
  change's median is worse than the parent's by more than the bound;
  else ``unresolved`` when either side's quartile spread is wider than
  the bound, unless every change run is better than every parent run;
  else ``within bound``.

It also prints each side's failed operations.  The script needs no
Spark of its own and imports nothing from the engine.
"""

from __future__ import annotations

import argparse
import json
import statistics
import subprocess
import sys
from pathlib import Path


def quartiles(xs: list[float]) -> tuple[float, float, float]:
    """(q1, median, q3) of ``xs``, inclusive method."""
    if len(xs) == 1:
        return xs[0], xs[0], xs[0]
    q1, med, q3 = statistics.quantiles(xs, n=4, method="inclusive")
    return q1, med, q3


def _better(a: float, b: float, better: str) -> bool:
    return a < b if better == "lower" else a > b


def claim_verdict(parent: list[float], change: list[float], better: str) -> tuple[int, str]:
    """(wins, verdict) for a claimed gain over paired runs: the change
    must win at least 9/10 of the pairs, and the medians must differ in
    its favour by more than the parent's quartile spread."""
    wins = sum(_better(c, p, better) for p, c in zip(parent, change))
    q1, med_p, q3 = quartiles(parent)
    gap = med_p - statistics.median(change)
    if better != "lower":
        gap = -gap
    ok = wins * 10 >= 9 * len(parent) and gap > q3 - q1
    return wins, "gain" if ok else "not met"


def bound_verdict(parent: list[float], change: list[float], better: str, bound: float) -> str:
    """'within bound', 'worse' or 'unresolved' for a metric the change
    does not claim, with ``bound`` a fraction of the parent's median."""
    med_p = statistics.median(parent)
    worse = (statistics.median(change) - med_p) / med_p
    if better != "lower":
        worse = -worse
    if worse > bound:
        return "worse"
    spread = max((q3 - q1) / med for q1, med, q3 in map(quartiles, (parent, change)))
    all_better = all(_better(c, p, better) for c in change for p in parent)
    if spread > bound and not all_better:
        return "unresolved"
    return "within bound"


def parse_seeds(text: str) -> list[int]:
    lo, _, hi = text.partition("-")
    return list(range(int(lo), int(hi or lo) + 1))


def run_once(checkout: Path, workload: str, seed: int) -> dict:
    """One untraced benchmark run in ``checkout``: its final JSON line,
    with {metric: value} and the run's CPU-steal seconds."""
    cmd = [sys.executable, "perfbench/run.py", "--workload", workload,
           "--seed", str(seed), "--seconds", "5", "--trace", "0"]
    proc = subprocess.run(cmd, cwd=checkout, capture_output=True, text=True)
    lines = proc.stdout.strip().splitlines()
    if proc.returncode != 0 or not lines:
        sys.exit(f"{checkout}: seed {seed} exited {proc.returncode}\n{proc.stderr[-2000:]}")
    out = json.loads(lines[-1])
    out["metrics"] = {k: v["value"] for k, v in out["metrics"].items()}
    records = [ln for ln in proc.stderr.splitlines() if ln.startswith("{")]
    out["steal_s"] = json.loads(records[-1]).get("steal_s") if records else None
    return out


def main() -> None:
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--parent", required=True, type=Path)
    ap.add_argument("--change", required=True, type=Path)
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seeds", required=True, help="A-B, inclusive")
    ap.add_argument("--claim", help="the end-to-end metric the change claims improves")
    args = ap.parse_args()

    spec = json.loads((args.change / "BENCHMARK.json").read_text())["end_to_end"]
    if args.claim and args.claim not in {m["name"] for m in spec}:
        sys.exit(f"--claim {args.claim}: not an end-to-end metric")
    sides = {"parent": args.parent, "change": args.change}
    runs: dict[str, list[dict]] = {"parent": [], "change": []}
    for i, seed in enumerate(parse_seeds(args.seeds)):
        order = ("parent", "change") if i % 2 == 0 else ("change", "parent")
        for side in order:
            out = run_once(sides[side], args.workload, seed)
            runs[side].append(out)
            print(json.dumps({"side": side, "seed": seed, **out}), flush=True)

    for side, outs in runs.items():
        failed = sum(o["failed"] for o in outs)
        print(f"{side}: {failed} of {sum(o['attempted'] for o in outs)} operations failed")
    for m in spec:
        name, better = m["name"], m["better"]
        vals = {side: [o["metrics"][name] for o in outs] for side, outs in runs.items()}
        cells = [f"{side} {q[1]:.3f} [{q[0]:.3f}, {q[2]:.3f}]"
                 for side, q in ((s, quartiles(v)) for s, v in vals.items())]
        if name == args.claim:
            wins, verdict = claim_verdict(vals["parent"], vals["change"], better)
            verdict = f"claimed: {wins}/{len(vals['parent'])} wins, {verdict}"
        else:
            verdict = bound_verdict(vals["parent"], vals["change"], better, m["bound"])
        print(f"{name} ({m['unit']}): {'; '.join(cells)}: {verdict}")


if __name__ == "__main__":
    main()
