"""Metric names, units and the statistics the benchmark reports.

``END_TO_END`` is what a user of the engine sees; it is printed with
tracing off.  The operation tail (the highest percentile with at least
ten samples beyond it) is kept in the run record with its percentile and
sample count: a run holds too few operations (4 on ``corpus``, 2 ticks on
``ingest``) for any percentile to have ten beyond it, and the maximum of
so few samples is too noisy to gate a change on.  ``PER_LAYER`` comes
from the traced run, one value per timed pass (window totals divided by
the passes run), named after the module each layer measures;
``trace.overhead_s`` is the traced less the untraced pass wall, and
``trace.noise_s`` the spread of the untraced walls it is measured
against.  Both dicts map name -> (unit, better).  Quantities that only
exist on one workload (``rows_per_s``, ``read_s``, ``write_amp``,
``space_amp`` on ``ingest``; the ingest and streaming layer times) and
``failed_frac`` live in the run's detail record rather than in the
printed metrics, because every printed metric must exist, and be
non-zero, on every workload.
"""

from __future__ import annotations

END_TO_END = {
    "setup_s": ("s", "lower"),
    "pass_s": ("s", "lower"),
    "op_p50_s": ("s", "lower"),
    "peak_rss_mb": ("MB", "lower"),
}

PER_LAYER = {
    "session.start_s": ("s", "lower"),
    "queries.construct_s": ("s", "lower"),
    "queries.construct_jobs": ("count", "lower"),
    "plan.analysis_ms": ("ms", "lower"),
    "plan.optimization_ms": ("ms", "lower"),
    "plan.planning_ms": ("ms", "lower"),
    "exec.s": ("s", "lower"),
    "exec.jobs": ("count", "lower"),
    "exec.stages": ("count", "lower"),
    "exec.tasks": ("count", "lower"),
    "exec.failed_tasks": ("count", "lower"),
    "exec.run_s": ("s", "lower"),
    "exec.cpu_s": ("s", "lower"),
    "exec.gc_s": ("s", "lower"),
    "exec.input_bytes": ("B", "lower"),
    "exec.shuffle_read_bytes": ("B", "lower"),
    "exec.shuffle_write_bytes": ("B", "lower"),
    "exec.spill_bytes": ("B", "lower"),
    "trunk.builds": ("count", "lower"),
    "trunk.cached_bytes": ("B", "lower"),
    "fetch.files": ("count", "lower"),
    "nemcsv.rows": ("count", "higher"),
    "nemcsv.bytes_written": ("B", "lower"),
    "compact.partitions": ("count", "lower"),
    "compact.noop_rewrites": ("count", "lower"),
    "compact.bytes_rewritten": ("B", "lower"),
    "history.rows": ("count", "lower"),
    "sync.copied": ("count", "lower"),
    "sync.bytes_copied": ("B", "lower"),
    "stream.batches": ("count", "lower"),
    "stream.state_rows": ("count", "lower"),
    "stream.state_bytes": ("B", "lower"),
    "trace.overhead_s": ("s", "lower"),
    "trace.noise_s": ("s", "lower"),
}

# Layer times that read 0 on every workload that never enters the layer;
# they go to the ledger file with the self times, not to the printed line.
LEDGER_ONLY = {
    "trunk.build_s": "s",
    "fetch.poll_s": "s",
    "nemcsv.ingest_s": "s",
    "compact.s": "s",
    "history.read_s": "s",
    "history.add_s": "s",
    "history.vacuum_s": "s",
    "sync.mirror_s": "s",
    "stream.batch_ms": "ms",
    "stream.commit_ms": "ms",
    "write_amp": "ratio",
}

TAIL_BEYOND = 10


def tail(samples: list[float]) -> dict:
    """The highest percentile with at least ``TAIL_BEYOND`` samples
    above it: the (TAIL_BEYOND+1)-th largest sample.  A run with fewer
    samples reports its maximum, and the record shows how few lie
    beyond."""
    xs = sorted(samples)
    n = len(xs)
    if n > TAIL_BEYOND:
        k = n - 1 - TAIL_BEYOND
        return {
            "percentile": round(100.0 * (k + 1) / n, 2),
            "value": xs[k],
            "samples": n,
            "beyond": TAIL_BEYOND,
        }
    return {"percentile": 100.0, "value": xs[-1], "samples": n, "beyond": 0}


def metric_line(values: dict[str, float], spec: dict) -> dict:
    """``{"name": {"value": v, "unit": u}}`` for every metric in ``spec``."""
    missing = [n for n in spec if n not in values]
    if missing:
        raise KeyError(f"metrics not measured: {missing}")
    return {n: {"value": values[n], "unit": spec[n][0]} for n in spec}
