#!/usr/bin/env python
"""End-to-end operational runner — the engine's equivalent of running
the reference's three processes (nemscraper + compactor + crunch,
docker-compose.yaml:2-85) as one Spark driver program:

    poll feeds → download unseen ZIPs (ledger-deduped)
      → NEM-CSV split/typed ingest (+ conservation check)
      → per-partition compaction under the evolved schema
      → FPP analytics outputs (01/03/04-style parquet)

One --once pass is the testable unit (tests/test_pipeline_script.py
drives it on the in-repo fixture ZIP); --loop N repeats with the
reference's poll cadence (urls.rs:176-184). Feeds are any URLs
``fetch.parse_feed_links`` can read — file:// directory listings work,
which is what the smoke test uses.

Usage:
  python scripts/run_pipeline.py --workdir /tmp/nem --feed file:///...listing.html --once
  python scripts/run_pipeline.py --workdir /tmp/nem --landing-only --once
      (skip polling; process whatever ZIPs are already in
       <workdir>/zips — the daily re-enqueue sweep shape, main.rs:286-307)
"""

from __future__ import annotations

import argparse
import contextlib
import glob
import json
import os
import signal
import sys
import threading
import time
from concurrent.futures import ThreadPoolExecutor
from pathlib import Path

_REPO = str(Path(__file__).resolve().parent.parent)
if _REPO not in sys.path:
    sys.path.insert(0, _REPO)

PHASES = ("poll", "ingest", "compact", "mirror", "outputs", "ledger")


@contextlib.contextmanager
def _phase(seconds: dict, name: str):
    """Add the wall seconds of the ``with`` body to ``seconds[name]``."""
    t0 = time.perf_counter()
    try:
        yield
    finally:
        seconds[name] += time.perf_counter() - t0


def run_once(
    spark,
    workdir: str,
    feeds: list[str],
    sf_dir: str | None,
    mirror: str | None = None,
) -> dict:
    """One tick: returns a summary dict of what moved.

    The processed ledger is the one record of what has been ingested:
    a tick ingests the landing dir's ZIPs the ledger lacks, then adds
    one row per ZIP. A crash between the two re-ingests the ZIPs on the
    next tick (at least once, as the reference's main.rs:248-275). A ZIP
    that ingest cannot read (truncated, empty, a corrupt member) is
    listed in ``summary["failed"]`` with its reason and left out of the
    ledger, so every tick retries it; the tick's other ZIPs are ingested.

    ``summary["seconds"]`` holds the wall seconds of each phase in
    ``PHASES`` (0.0 when it did not run); ``ledger`` is the ledgers'
    key reads, appends and vacuums, all driver-side with no Spark job."""
    from nemscraper_spark.plans.compact import compact_table
    from nemscraper_spark.plans.history import TableHistory
    from nemscraper_spark.sources import fetch
    from nemscraper_spark.sources.nemcsv import ingest

    zips_dir = os.path.join(workdir, "zips")
    parquet_dir = os.path.join(workdir, "parquet")
    history_root = os.path.join(workdir, "history")
    output_dir = os.path.join(workdir, "output")
    for d in (zips_dir, parquet_dir, history_root, output_dir):
        os.makedirs(d, exist_ok=True)

    downloaded = TableHistory(spark, history_root, "downloaded")
    processed = TableHistory(spark, history_root, "processed")

    seconds = dict.fromkeys(PHASES, 0.0)
    summary: dict = {
        "downloaded": 0, "processed": 0, "tables": {}, "compacted": {}, "seconds": seconds
    }

    # 1. poll + download, deduped against the ledger (main.rs:147-197)
    if feeds:
        with _phase(seconds, "ledger"):
            seen = downloaded.keys()
        with _phase(seconds, "poll"):
            rows = fetch.poll_feeds_once(
                feeds, zips_dir, already_downloaded=lambda n: n in seen
            )
        if rows:
            with _phase(seconds, "ledger"):
                downloaded.add(rows)
        summary["downloaded"] = len(rows)

    # 2. ingest every ZIP the processed ledger lacks (main.rs:248-275)
    with _phase(seconds, "ledger"):
        done = processed.keys()
    with _phase(seconds, "ingest"):
        todo = [
            z
            for z in sorted(glob.glob(os.path.join(zips_dir, "*.zip")))
            if os.path.basename(z) not in done
        ]
        counts = ingest(spark, todo, parquet_dir) if todo else {}
    # a file ingest skipped stays out of the ledger, so the next tick retries it
    summary["failed"] = counts.failed if todo else []
    bad = {f["filename"] for f in summary["failed"]}
    names = [n for n in map(os.path.basename, todo) if n not in bad]
    if names:
        with _phase(seconds, "ledger"):
            processed.add(
                [
                    {
                        "filename": n,
                        "size_bytes": os.path.getsize(os.path.join(zips_dir, n)),
                    }
                    for n in names
                ]
            )
        summary["processed"] = len(names)
        summary["tables"] = counts

    # 3. compact each table's multi-file partitions, every table at once
    #    (compactor.rs:584-792)
    with _phase(seconds, "compact"):
        troots = [t for t in sorted(glob.glob(os.path.join(parquet_dir, "*"))) if os.path.isdir(t)]
        with ThreadPoolExecutor(max_workers=max(1, min(8, len(troots)))) as pool:
            res = pool.map(lambda t: compact_table(spark, t), troots)
            summary["compacted"] = {os.path.basename(t): r for t, r in zip(troots, res) if r}

    # 3b. mirror the compacted tree to the bucket (S15 — the
    #     reference's gcloud-sync sidecar, scripts/gcloud-sync.sh:22-41)
    if mirror:
        from nemscraper_spark.sources.sync import mirror_tree

        with _phase(seconds, "mirror"):
            summary["mirror"] = mirror_tree(parquet_dir, mirror)

    # 4. analytics outputs (crunch.rs:39-82's 01..05 parquet), snappy
    #    like the reference's hot outputs (crunch.rs:163-166)
    if sf_dir:
        from nemscraper_spark.queries.fpp_pipeline import (
            actual_performance,
            fpp_frequency_measure_ewma,
            performance,
            reference_trajectory,
            unit_deviations,
        )

        # the full crunch output set 01..05 (crunch.rs:39-82)
        with _phase(seconds, "outputs"):
            for name, df in (
                ("01_frequency_measure", fpp_frequency_measure_ewma(spark, sf_dir)),
                ("02_reference_trajectory", reference_trajectory(spark, sf_dir)),
                ("03_unit_deviations", unit_deviations(spark, sf_dir)),
                ("04_performance", performance(spark, sf_dir)),
                ("05_actual_performance", actual_performance(spark, sf_dir)),
            ):
                df.write.mode("overwrite").option("compression", "snappy").parquet(
                    os.path.join(output_dir, f"{name}.parquet")
                )
        summary["outputs"] = 5

    with _phase(seconds, "ledger"):
        downloaded.vacuum()
        processed.vacuum()
    return summary


def run_loop(
    spark,
    workdir: str,
    feeds: list[str],
    sf_dir: str | None,
    extra_ticks: int = 0,
    interval_sec: float = 60.0,
    stop: threading.Event | None = None,
    mirror: str | None = None,
) -> list[dict]:
    """The reference's long-running service shape, as one driver loop:

    * every tick is a FULL zips-dir sweep — run_once re-globs the
      directory and diffs it against the processed ledger each time,
      so files that arrive out-of-band (scp'd in, a crashed tick's
      leftovers, a previously failed ingest that never reached the
      ledger) are picked up on the next tick.
      This subsumes the reference's daily re-enqueue sweep
      (main.rs:286-307): same idempotence contract (filename-keyed
      skip), tighter cadence.
    * SIGINT/SIGTERM stop the loop GRACEFULLY (utils.rs:5-31): the
      in-flight tick finishes — ingest + ledger append + compaction
      swap are never interrupted mid-write, so the ledger stays
      consistent with the parquet on disk — then the loop exits before
      the next tick. The sleep is an interruptible Event.wait, so an
      idle loop reacts immediately.

    Returns the per-tick summaries (the driver prints them as JSON).
    """
    stop = stop or threading.Event()
    prev_handlers = {}

    def _on_signal(signum, frame):
        print(
            json.dumps({"event": "shutdown_signal", "signal": int(signum)}),
            flush=True,
        )
        stop.set()

    # install only in the main thread (signal.signal raises elsewhere —
    # tests drive this function directly, sometimes off-thread)
    if threading.current_thread() is threading.main_thread():
        for sig in (signal.SIGINT, signal.SIGTERM):
            prev_handlers[sig] = signal.signal(sig, _on_signal)
    try:
        summaries = []
        for i in range(1 + extra_ticks):
            # the first tick starts at once, later ones keep the poll
            # cadence (urls.rs:176-184); wait() returns True on stop
            if stop.wait(interval_sec) if i else stop.is_set():
                break
            s = run_once(spark, workdir, feeds, sf_dir, mirror=mirror)
            print(json.dumps({"event": "tick", **s}), flush=True)
            summaries.append(s)
        if stop.is_set():
            print(json.dumps({"event": "graceful_stop"}), flush=True)
        return summaries
    finally:
        for sig, h in prev_handlers.items():
            signal.signal(sig, h)


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("--workdir", required=True)
    ap.add_argument("--feed", action="append", default=[], help="feed URL (repeatable)")
    ap.add_argument("--landing-only", action="store_true", help="skip polling")
    ap.add_argument("--sf-dir", default=None, help="run FPP outputs over this table dir")
    ap.add_argument("--once", action="store_true")
    ap.add_argument("--loop", type=int, default=0, help="N extra ticks")
    ap.add_argument("--interval", type=float, default=60.0, help="tick spacing, sec")
    ap.add_argument(
        "--mirror",
        default=None,
        help="mirror the compacted tree to this URI after each tick "
        "(file:// gs:// s3:// — the reference's gcloud-sync sidecar)",
    )
    args = ap.parse_args()

    from nemscraper_spark.session import get_spark

    spark = get_spark(app_name="nem_pipeline")
    feeds = [] if args.landing_only else args.feed
    run_loop(
        spark,
        args.workdir,
        feeds,
        args.sf_dir,
        extra_ticks=0 if args.once else args.loop,
        interval_sec=args.interval,
        mirror=args.mirror,
    )
    spark.stop()


if __name__ == "__main__":
    main()
