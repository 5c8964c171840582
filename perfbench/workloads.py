"""The benchmark's workloads: closed loops with one client.

Each workload has an untimed check pass (it also warms the JIT and the
Python workers), then timed passes.  A query workload's pass runs each of
its registry queries once, in an order drawn from the run's seed,
through the ``noop`` sink; an ingest pass runs a fixed number of ticks
of one service over a growing seeded feed.
"""

from __future__ import annotations

import contextlib
import hashlib
import os
import time
from dataclasses import dataclass

# Registry queries per workload, in units: the seed permutes the units
# of a pass, and the queries of one unit run in the order given, so a
# trunk shared inside a unit is built by its first query and reused by
# the next whatever the seed.  Each list is a cross-section of its
# family small enough that one run does several passes: the full sets
# (65 panel/crunch queries, 54 corpus queries, 13 streaming queries)
# take minutes per pass on four cores.
DASHBOARD = [
    ("q1_pricing_summary",),
    ("q3_shipping_priority",),
    ("join_dim_cascade",),
    ("time_bucket_sums",),
    ("ewma_per_entity",),
    ("fpp_performance", "fpp_interval_charge"),
    ("sql_latest_rownum_panel",),
    ("sql_bucket_sums_panel",),
    ("sql_byte_rate_panel",),
]
CORPUS = [
    # the MinHash-LSH counted-pairs trunk
    ("minhash_containment_pairs", "dedup_incremental_delta"),
    # PQ-ADC over the ANN grid and sample caches
    ("ann_pq_adc_md5",),
    # the dedup family's streaming member: micro-batches and state store
    ("streaming_dedup_replay",),
]
STREAM = [
    ("streaming_window_counts",),
    ("streaming_dedup_replay",),
    ("streaming_session_windows",),
]
# The ingest feed: each tick publishes FILES_PER_TICK ZIPs of
# ROWS_PER_FILE D-rows (the live feed's ZIPs hold ~20k).  A timed pass
# is one tick and its read; the check pass runs the ticks up to and
# including the schema change.
TICKS_PER_PASS = 1
FILES_PER_TICK = 4
ROWS_PER_FILE = 20000


def canon_digest(rows, cols) -> str:
    """sha256 of the canonical form scripts/driver_sim.py compares
    (columns sorted by name, floats as %.9e, rows sorted)."""
    from driver_sim import canon

    return hashlib.sha256("\n".join(canon(rows, cols)).encode()).hexdigest()


@dataclass
class OpResult:
    name: str
    latency: float | None = None
    ok: bool = True
    error: str | None = None


class QueryWorkload:
    # timed passes per run at least: one, because every run also pays a
    # JVM start and a cold check pass, and a set of runs has a time
    # budget; two passes of one run differ far less than two runs do
    min_passes = 1

    def __init__(self, name: str, units: list[tuple[str, ...]], tables: str, clear_trunks: bool = False):
        from nemscraper_spark.queries import REGISTRY

        self.name = name
        self.units = units
        self.specs = {q: REGISTRY[q] for unit in units for q in unit}
        no_oracle = [q for q, s in self.specs.items() if not s.oracle]
        if no_oracle:
            raise ValueError(f"queries without a DuckDB oracle cannot be checked: {no_oracle}")
        self.tables = tables
        self.clear_trunks = clear_trunks

    def oracles(self) -> dict[str, str]:
        return {q: s.oracle for q, s in self.specs.items()}

    def collect(self, spark) -> dict[str, dict]:
        """The untimed check pass: collect every query once and keep its
        row count, sorted columns and canonical digest (or its error)."""
        out = {}
        for q, spec in self.specs.items():
            try:
                df = spec.fn(spark, self.tables)
                cols = df.columns
                rows = df.collect()
                out[q] = {"rows": len(rows), "cols": sorted(cols), "digest": canon_digest(rows, cols)}
            except Exception as e:  # noqa: BLE001 — a failed query is a result
                out[q] = {"error": f"{type(e).__name__}: {str(e).splitlines()[0][:200]}"}
        return out

    def verify(self, observed: dict, expected: dict) -> list[dict]:
        """Compare the check pass with the DuckDB oracle digests."""
        out = []
        for q in self.specs:
            ok = observed[q] == expected[q]
            rec = {"op": q, "ok": ok}
            if not ok:
                rec.update(observed=observed[q], expected=expected[q])
            out.append(rec)
        return out

    def run_pass(self, spark, order_rng, tracer=None) -> list[OpResult]:
        if self.clear_trunks:
            from nemscraper_spark.queries.trunk_cache import clear_trunk_caches

            clear_trunk_caches()
        units = list(self.units)
        order_rng.shuffle(units)
        return [self._run_query(spark, q, tracer) for unit in units for q in unit]

    def _run_query(self, spark, q, tracer) -> OpResult:
        with _operation(tracer, q):
            t0 = time.perf_counter()
            try:
                with _span(tracer, "queries.construct"):
                    df = self.specs[q].fn(spark, self.tables)
                if tracer is not None:
                    tracer.analysis(df)
                with _span(tracer, "exec.sink"):
                    df.write.format("noop").mode("overwrite").save()
            except Exception as e:  # noqa: BLE001 — a failed query is a result
                return OpResult(q, ok=False, error=f"{type(e).__name__}: {str(e)[:200]}")
            return OpResult(q, time.perf_counter() - t0)


def _operation(tracer, name):
    return contextlib.nullcontext() if tracer is None else tracer.operation(name)


def _span(tracer, name):
    return contextlib.nullcontext() if tracer is None else tracer.span(name)


def _visible_tree(root: str) -> dict[str, str]:
    """{relative path: sha256} of the files a mirror must carry: every
    regular file except ``*.tmp`` and hidden paths (sources/sync.py)."""
    out = {}
    for dirpath, _, files in os.walk(root):
        for f in files:
            p = os.path.join(dirpath, f)
            rel = os.path.relpath(p, root)
            if rel.endswith(".tmp") or any(c.startswith(".") for c in rel.split(os.sep)):
                continue
            with open(p, "rb") as fh:
                out[rel] = hashlib.sha256(fh.read()).hexdigest()
    return out


class IngestWorkload:
    """``scripts/run_pipeline.run_once`` ticks of one service over a
    growing seeded feed: poll + fetch, NEM-CSV ingest, compaction, the
    history ledgers and a ``file://`` mirror, then one fixed read over
    the ingested table.

    The service runs for the whole run, as the real one does: the check
    pass holds the cold first tick and the schema change at
    ``nemfeed.EVOLVE_BATCH``, and every later tick does the same steady
    work (one partition re-compacted, one opened; see ``nemfeed``).
    Every tick is followed by untimed output checks."""

    name = "ingest"
    ticks_per_pass = TICKS_PER_PASS
    min_passes = 2

    def __init__(self, root: str, seed: int):
        import nemfeed

        self.svc = os.path.join(root, "svc")
        self.mirror = os.path.join(root, "mirror")
        self.parquet = os.path.join(self.svc, "parquet")
        self.feed = nemfeed.Feed(os.path.join(root, "feed"), seed, FILES_PER_TICK, ROWS_PER_FILE)
        self.ticks = 0
        self.checks: list[dict] = []
        self.last_pass: dict | None = None

    def run_pass(self, spark, order_rng=None, tracer=None, ticks=None) -> list[OpResult]:
        """One pass of ``ticks`` ticks (default ``ticks_per_pass``), each
        followed by its read (named ``read``).  A tick is named ``tick``
        once the feed is in its steady state, else ``tick.cold`` or
        ``tick.evolve``."""
        import nemfeed
        from nemscraper_spark.sources import fsutil
        from run_pipeline import run_once

        feed = self.feed
        rows0, csv0 = sum(feed.d_rows.values()), feed.csv_bytes
        out = []
        windows = []
        for _ in range(ticks or self.ticks_per_pass):
            t = self.ticks
            self.ticks += 1
            name = {0: "tick.cold", nemfeed.EVOLVE_BATCH: "tick.evolve"}.get(t, "tick")
            feed.publish()
            w0 = time.time()
            with _operation(tracer, name):
                t0 = time.perf_counter()
                try:
                    run_once(spark, self.svc, [feed.url], None, mirror="file://" + self.mirror)
                except Exception as e:  # noqa: BLE001
                    out.append(OpResult(name, ok=False, error=f"{type(e).__name__}: {e}"[:300]))
                    break
                out.append(OpResult(name, time.perf_counter() - t0))
            windows.append((w0, time.time()))
            with _operation(tracer, "read"):
                t0 = time.perf_counter()
                try:
                    read_rows = self.read(spark, self.parquet, tracer)
                except Exception as e:  # noqa: BLE001
                    out.append(OpResult("read", ok=False, error=f"{type(e).__name__}: {e}"[:300]))
                    break
                out.append(OpResult("read", time.perf_counter() - t0))
            landed = {
                table: fsutil.parquet_rows(os.path.join(self.parquet, table)) for table in feed.d_rows
            }
            check = {
                "op": f"tick{t}",
                "conserved": landed == feed.d_rows,
                "read_rows": read_rows == feed.d_rows[nemfeed.UNIT_TABLE],
                "mirror_equal": _visible_tree(self.parquet) == _visible_tree(self.mirror),
            }
            check["ok"] = all(check[c] for c in ("conserved", "read_rows", "mirror_equal"))
            if not check["ok"]:
                out[-2].ok = False  # the tick's output is wrong: it failed
                check.update(landed=landed, generated=dict(feed.d_rows))
            self.checks.append(check)
        from spans import parquet_bytes

        self.last_pass = {
            "d_rows": sum(feed.d_rows.values()) - rows0,
            "csv_bytes": feed.csv_bytes - csv0,
            "space_amp": parquet_bytes(self.parquet) / feed.csv_bytes,
            "tick_windows": windows,
        }
        return out

    @staticmethod
    def read(spark, parquet: str, tracer=None) -> int:
        """The fixed read after each tick: per-unit count and mean MW
        over the ingested ``UNIT_MW`` table, under its evolved schema."""
        import nemfeed
        from pyspark.sql import functions as F

        from nemscraper_spark.sources.evolve import list_parquet_files, read_evolved

        with _span(tracer, "queries.construct"):
            files = list_parquet_files(os.path.join(parquet, nemfeed.UNIT_TABLE))
            df = (
                read_evolved(spark, files)
                .groupBy("FPP_UNITID")
                .agg(F.count("*").alias("n"), F.avg("MEASURED_MW").alias("mw"))
            )
        if tracer is not None:
            tracer.analysis(df)
        with _span(tracer, "exec.sink"):
            rows = df.collect()
        return sum(r["n"] for r in rows)
