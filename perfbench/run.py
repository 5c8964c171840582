#!/usr/bin/env python3
"""Benchmark of the NEM engine: closed-loop workloads over its public entry
points, one client, run from one process on local[nproc].

    python3 perfbench/run.py --workload corpus --seed 7 --seconds 5 --trace 0

Run it from the root of a checkout.  It writes its inputs (the analytics
tables and, for ``ingest``, a seeded NEM ZIP feed) into a work
directory under ``.perfbench_runs/`` in the checkout.  ``setup_s`` is
the engine's cold start in this process: importing the engine modules
the workload drives, launching the session's JVM and running a first
job.  It then runs an untimed check pass, which also warms the JIT and
the Python workers (its time is ``warmup_s`` in the record; the DuckDB
oracles for the query outputs run beside it), and times whole passes
until ``--seconds`` have gone by and the workload's minimum number of
passes is done.
The last line of standard output is one JSON object: ``correct``,
``attempted``, ``failed`` and ``metrics`` (the end-to-end metrics with
``--trace 0``, the per-layer metrics with ``--trace 1``).  The full
record, with the noise disclosure (cores, CPU steal, seed, driver
memory), goes to standard error and to ``record.json`` beside the run's
work files; a traced run also writes its spans and per-operation
layer records to ``trace.json``.

Workloads (``workloads.py``):
  dashboard  panel and crunch queries; fixed per-query cost dominates
  corpus     dedup/similarity queries; trunk caches cleared every pass
  ingest     run_pipeline.run_once ticks over a growing feed, each
             followed by one read of the ingested table
  stream     streaming queries (micro-batches, state store, checkpoints)
"""

from __future__ import annotations

import argparse
import contextlib
import importlib
import json
import os
import random
import resource
import shutil
import statistics
import subprocess
import sys
import time
from pathlib import Path

import record

BENCH = Path(__file__).resolve().parent
ROOT = BENCH.parent
WORKLOADS = ("dashboard", "corpus", "ingest", "stream")
DRIVER_MEM_MB = 1024
# Keep every job and stage of a run in the status store: the per-layer
# and write-amplification figures are read from it after the window.
SPARK_CONF = {
    "spark.ui.showConsoleProgress": "false",
    "spark.ui.retainedJobs": "100000",
    "spark.ui.retainedStages": "100000",
}
# The engine modules each workload drives, imported by the cold start.
ENGINE_IMPORTS = {
    "ingest": ["run_pipeline", "nemscraper_spark.sources.fetch", "nemscraper_spark.sources.nemcsv",
               "nemscraper_spark.plans.compact", "nemscraper_spark.plans.history",
               "nemscraper_spark.sources.sync"],
}
QUERY_IMPORTS = ["nemscraper_spark.queries"]


def steal_s() -> float:
    """Aggregate CPU-steal seconds from /proc/stat."""
    with open("/proc/stat") as fh:
        parts = fh.readline().split()
    return int(parts[8]) / os.sysconf("SC_CLK_TCK")


def host_loop_s() -> float:
    """Seconds for a fixed pure-Python loop: a host-speed reading that
    also moves when the host is contended without reporting steal."""
    t0 = time.perf_counter()
    x = 0
    for i in range(2_000_000):
        x += i
    return time.perf_counter() - t0


def peak_rss_kb(pid: int) -> int:
    with open(f"/proc/{pid}/status") as fh:
        for line in fh:
            if line.startswith("VmHWM:"):
                return int(line.split()[1])
    raise RuntimeError(f"no VmHWM for pid {pid}")


def pin_environment(work: Path) -> dict:
    """Pin cores and driver memory, keep every file inside ``work`` and
    leave the family cache at its default; return the disclosure."""
    cores = len(os.sched_getaffinity(0))
    phys_mb = os.sysconf("SC_PAGE_SIZE") * os.sysconf("SC_PHYS_PAGES") // 2**20
    mem_mb = min(DRIVER_MEM_MB, phys_mb // 4)
    for d in ("tmp", "spark-local"):
        (work / d).mkdir(parents=True, exist_ok=True)
    os.environ.update(
        SPARK_GRAFT_CPUS=str(cores),
        SPARK_GRAFT_DRIVER_MEM=f"{mem_mb}m",
        SPARK_LOCAL_DIRS=str(work / "spark-local"),
        TMPDIR=str(work / "tmp"),
        PYSPARK_PYTHON=sys.executable,
        PYSPARK_DRIVER_PYTHON=sys.executable,
    )
    os.environ.pop("SPARK_GRAFT_FAMILY_CACHE", None)
    return {
        "cores": cores,
        "driver_mem_mb": mem_mb,
        "physical_mem_mb": phys_mb,
        "family_cache": "off (SPARK_GRAFT_FAMILY_CACHE unset, the default)",
        "workdir": str(work.relative_to(ROOT)),
    }


def build_workload(name: str, tables: str, work: Path, seed: int):
    import workloads as w

    if name == "ingest":
        return w.IngestWorkload(str(work / "ingest"), seed)
    queries = {"dashboard": w.DASHBOARD, "corpus": w.CORPUS, "stream": w.STREAM}[name]
    return w.QueryWorkload(name, queries, tables, clear_trunks=name == "corpus")


def start_session(imports: list[str], extra: dict):
    """The engine's cold start: import ``imports``, start its session and
    run one job.  Returns (spark, timings)."""
    t0 = time.perf_counter()
    for mod in imports:
        importlib.import_module(mod)
    from nemscraper_spark.session import get_spark

    t1 = time.perf_counter()
    spark = get_spark(app_name="perfbench", extra_conf={**SPARK_CONF, **extra})
    t2 = time.perf_counter()
    spark.range(1).count()
    t3 = time.perf_counter()
    return spark, {"setup_s": t3 - t0, "import_s": t1 - t0, "session_s": t2 - t1,
                   "first_job_s": t3 - t2}


def stop_session(spark) -> None:
    """Stop the session, then the JVM it launched, and wait for it."""
    from pyspark import SparkContext

    spark.stop()
    gw = SparkContext._gateway
    if gw is None:
        return
    proc = getattr(gw, "proc", None)
    gw.shutdown()
    SparkContext._gateway = None
    SparkContext._jvm = None
    if proc is not None:
        proc.stdin.close()
        proc.wait(timeout=60)


def measure(args, wl, spark, work: Path, tables: str) -> dict:
    """The check pass and the timed window; returns the raw
    observations, read from Spark before the session stops."""
    from spans import SparkStatus, Tracer, cache_entries

    jvm_pid = spark.sparkContext._gateway.proc.pid
    status = SparkStatus(spark)
    t0 = time.perf_counter()

    # untimed check pass
    check_ops = []
    if args.workload == "ingest":
        # a wrong tick output is already a failed check record; add the
        # operations that raised
        import nemfeed

        ops = wl.run_pass(spark, ticks=nemfeed.EVOLVE_BATCH + 1)
        check_ops = [(o.name, o.latency, o.ok, o.error) for o in ops]
        checks = wl.checks + [{"op": f"check.{o.name}", "ok": False, "error": o.error}
                              for o in ops if o.error is not None]
    else:
        # the DuckDB oracle runs beside the pass, in a child process so
        # its memory stays out of the driver's peak RSS
        req, ans = work / "oracle_request.json", work / "oracle_answer.json"
        req.write_text(json.dumps({"tables": tables, "oracles": wl.oracles()}))
        child = subprocess.Popen([sys.executable, str(BENCH / "oracle.py"), str(req), str(ans)])
        try:
            observed = wl.collect(spark)
        finally:
            child.wait(timeout=150)
        if child.returncode != 0:
            raise RuntimeError("oracle child failed")
        checks = wl.verify(observed, json.loads(ans.read_text()))

    t1 = time.perf_counter()

    # timed whole passes; a traced run orders them untraced, traced,
    # traced, untraced, so the JIT's warm-up drift cancels out of the
    # tracing overhead
    rng = random.Random(args.seed)
    tracer = Tracer(drain=status.drain) if args.trace else None
    passes = []
    deadline = time.perf_counter() + args.seconds
    while True:
        traced = bool(args.trace) and len(passes) % 4 in (1, 2)
        if traced:
            tracer.pass_no = len(passes)
            tracer.start_listeners(spark)
        with tracer.hooks() if traced else contextlib.nullcontext():
            ops = wl.run_pass(spark, rng, tracer if traced else None)
        if traced:
            status.drain()
            tracer.stop_listeners()
        passes.append({
            "traced": traced,
            "ops": [(o.name, o.latency, o.ok, o.error) for o in ops],
            "trunk_entries": cache_entries(),
            "cached_bytes": status.cached_bytes() if traced else None,
            "ingest": getattr(wl, "last_pass", None),
        })
        done = time.perf_counter() >= deadline and len(passes) >= wl.min_passes
        if done and (not args.trace or len(passes) % 4 == 0):
            break
    return {
        "phases_s": {"check": t1 - t0, "timed": time.perf_counter() - t1},
        "checks": checks,
        "check_ops": check_ops,
        "passes": passes,
        "tracer": tracer,
        "stages": status.stages(),
        "jobs": status.jobs(),
        "rss_mb": (peak_rss_kb(jvm_pid) + resource.getrusage(resource.RUSAGE_SELF).ru_maxrss) / 1024,
    }


def run(args, work: Path, disclosure: dict) -> dict:
    from spans import in_windows, stage_totals

    # a fixed-size heap, so the JVM's resident set does not depend on when
    # the collector chose to grow it
    mem = os.environ["SPARK_GRAFT_DRIVER_MEM"]
    java_opts = {"spark.driver.extraJavaOptions": f"-Xms{mem} -Djava.io.tmpdir={work / 'tmp'}"}
    spark = None
    try:
        spark, setup = start_session(ENGINE_IMPORTS.get(args.workload, QUERY_IMPORTS), java_opts)
        tables = str(work / "tables")
        if args.workload != "ingest":
            # in a child, so the table writer's memory stays out of the
            # driver's peak RSS
            subprocess.run([sys.executable, str(BENCH / "tabledata.py"), tables],
                           timeout=120, check=True)
        wl = build_workload(args.workload, tables, work, args.seed)
        raw = measure(args, wl, spark, work, tables)
    finally:
        if spark is not None:
            stop_session(spark)
    checks, passes = raw["checks"], raw["passes"]

    is_ingest = args.workload == "ingest"
    measured = [p for p in passes if not p["traced"]]
    op_lat = [lat for p in measured for n, lat, ok, _ in p["ops"]
              if ok and (not is_ingest or n.startswith("tick"))]
    pass_walls = [sum(lat for _, lat, _, _ in p["ops"]) for p in measured
                  if all(ok for _, _, ok, _ in p["ops"])]
    timed_ops = [o for p in passes for o in p["ops"]]
    failures = [o for o in timed_ops if not o[2]] + [c for c in checks if not c["ok"]]
    attempted = len(timed_ops) + len(checks)
    tail = record.tail(op_lat) if op_lat else None
    per_op: dict[str, list[float]] = {}
    for p in measured:
        for n, lat, ok, _ in p["ops"]:
            if ok:
                per_op.setdefault(n, []).append(lat)
    rec = {
        "workload": args.workload,
        "seed": args.seed,
        "seconds": args.seconds,
        "trace": args.trace,
        **disclosure,
        "closed_loop_clients": 1,
        "setup": setup,
        "warmup_s": raw["phases_s"]["check"],
        "phases_s": raw["phases_s"],
        "passes": len(measured),
        "pass_walls_s": pass_walls,
        "op_tail": tail,
        "attempted": attempted,
        "failed": len(failures),
        "failed_frac": len(failures) / attempted,
        "failures": failures,
        "checks": checks,
        "per_op_median_s": {n: statistics.median(v) for n, v in sorted(per_op.items())},
        "trunk_entries_per_pass": [p["trunk_entries"] for p in passes],
        "end_to_end": {
            "setup_s": setup["setup_s"],
            "pass_s": statistics.median(pass_walls) if pass_walls else 0.0,
            "op_p50_s": statistics.median(op_lat) if op_lat else 0.0,
            "peak_rss_mb": raw["rss_mb"],
        },
    }
    if is_ingest and op_lat:
        feeds = [p["ingest"] for p in measured]
        windows = [w for f in feeds for w in f["tick_windows"]]
        tick_stages = [s for s in raw["stages"] if in_windows(s["submissionTime"], windows)]
        csv_bytes = sum(f["csv_bytes"] for f in feeds)
        rec["ingest"] = {
            "ticks_per_pass": wl.ticks_per_pass,
            "files_per_tick": wl.feed.files_per_batch,
            "d_rows_per_pass": feeds[0]["d_rows"],
            "csv_bytes_per_pass": feeds[0]["csv_bytes"],
            "check_pass_ticks_s": {n: lat for n, lat, _, _ in raw["check_ops"] if n != "read"},
            "rows_per_s": sum(f["d_rows"] for f in feeds) / sum(op_lat),
            "read_s": statistics.median([lat for p in measured for n, lat, ok, _ in p["ops"]
                                         if ok and n == "read"]),
            # every byte the tick windows' stages wrote, the history
            # ledgers included; the traced run's write_amp counts ingest
            # and compaction output only
            "stage_output_amp": stage_totals(tick_stages)["exec.output_bytes"] / csv_bytes,
            "space_amp": passes[-1]["ingest"]["space_amp"],
            "tick_checks": wl.checks,
        }
    if args.trace:
        rec["layers"] = layer_metrics(raw["tracer"], passes, raw["stages"], raw["jobs"],
                                    setup["session_s"], work)
    return rec


def layer_metrics(tracer, passes, stages, jobs, session_s: float, work: Path) -> dict:
    """Per-layer figures of the traced passes, per pass, plus the ledger
    file with every span and each operation's layer record."""
    from spans import in_windows, self_times, stage_totals

    traced = [p for p in passes if p["traced"]]
    n = len(traced)
    ops = [s for s in tracer.spans if s["name"] == "op"]
    op_windows = [(s["start"], s["end"]) for s in ops]
    by_name: dict[str, float] = {}
    for s in tracer.spans:
        by_name[s["name"]] = by_name.get(s["name"], 0.0) + s["end"] - s["start"]
    self_s = self_times(tracer.spans)
    construct = [(s["start"], s["end"]) for s in tracer.spans if s["name"] == "queries.construct"]

    w_stages = [s for s in stages if in_windows(s["submissionTime"], op_windows)]
    w_jobs = [j for j in jobs if in_windows(j["submissionTime"], op_windows)]
    counts: dict[str, float] = {}
    for c in tracer.counts.values():
        for k, v in c.items():
            counts[k] = counts.get(k, 0) + v
    plan = {k: sum(e[k] for e in tracer.plan_events) for k in ("analysis", "optimization", "planning")}
    last_batch: dict[tuple, dict] = {}
    for e in tracer.stream_events:
        last_batch[(e["op"], e["query"])] = e
    untraced = [sum(lat for _, lat, _, _ in p["ops"]) for p in passes if not p["traced"]]
    traced_walls = [sum(lat for _, lat, _, _ in p["ops"]) for p in traced]

    totals = {
        "queries.construct_s": by_name.get("queries.construct", 0.0),
        "queries.construct_jobs": sum(1 for j in w_jobs if in_windows(j["submissionTime"], construct)),
        "plan.analysis_ms": plan["analysis"] + counts.get("plan.analysis_ms", 0),
        "plan.optimization_ms": plan["optimization"],
        "plan.planning_ms": plan["planning"],
        "exec.s": sum((j["completionTime"] - j["submissionTime"]) / 1e3 for j in w_jobs
                      if j.get("completionTime")),
        "exec.jobs": len(w_jobs),
        **{k: v for k, v in stage_totals(w_stages).items()},
        "stream.batches": len(tracer.stream_events),
        "stream.state_rows": sum(e["state_rows"] for e in last_batch.values()),
        "stream.state_bytes": sum(e["state_bytes"] for e in last_batch.values()),
        "trunk.build_s": by_name.get("trunk.build", 0.0),
        "fetch.poll_s": by_name.get("fetch.poll", 0.0),
        "nemcsv.ingest_s": by_name.get("nemcsv.ingest", 0.0),
        "compact.s": by_name.get("compact.table", 0.0),
        "history.read_s": by_name.get("history.read", 0.0),
        "history.add_s": by_name.get("history.add", 0.0),
        "history.vacuum_s": by_name.get("history.vacuum", 0.0),
        "sync.mirror_s": by_name.get("sync.mirror", 0.0),
        "stream.batch_ms": sum(e["batch_ms"] for e in tracer.stream_events),
        "stream.commit_ms": sum(e["commit_ms"] for e in tracer.stream_events),
    }
    for k in ("trunk.builds", "fetch.files", "nemcsv.rows", "nemcsv.bytes_written",
              "compact.partitions", "compact.noop_rewrites", "compact.bytes_rewritten",
              "history.rows", "sync.copied", "sync.bytes_copied"):
        totals[k] = counts.get(k, 0)
    per_pass = {k: v / n for k, v in totals.items()}
    per_pass["session.start_s"] = session_s
    per_pass["trunk.cached_bytes"] = statistics.median([p["cached_bytes"] for p in traced])
    # the overhead is resolved only when it exceeds the spread of the
    # untraced passes it is measured against
    per_pass["trace.overhead_s"] = statistics.median(traced_walls) - statistics.median(untraced)
    per_pass["trace.noise_s"] = max(untraced) - min(untraced)
    overhead = {"traced_pass_s": traced_walls, "untraced_pass_s": untraced,
                "resolved": abs(per_pass["trace.overhead_s"]) > per_pass["trace.noise_s"]}
    feeds = [p["ingest"] for p in traced if p["ingest"]]
    if feeds:
        per_pass["write_amp"] = (totals["nemcsv.bytes_written"] + totals["compact.bytes_rewritten"]) \
            / sum(f["csv_bytes"] for f in feeds)

    # per-operation layer records
    op_records = []
    for s in ops:
        win = [(s["start"], s["end"])]
        mine = [x for x in tracer.spans if x["op"] == s["op"] and x["name"] != "op"]
        layer_s: dict[str, float] = {}
        for x in mine:
            layer_s[x["name"]] = layer_s.get(x["name"], 0.0) + x["end"] - x["start"]
        op_records.append({
            "op_id": s["op"],
            "name": s["op_name"],
            "pass": s["pass_no"],
            "wall_s": s["end"] - s["start"],
            "layer_s": layer_s,
            "counts": tracer.counts.get(s["op"], {}),
            "plan_ms": {k: sum(e[k] for e in tracer.plan_events if e["op"] == s["op"])
                        for k in ("analysis", "optimization", "planning")},
            "jobs": sum(1 for j in jobs if in_windows(j["submissionTime"], win)),
            **stage_totals([x for x in stages if in_windows(x["submissionTime"], win)]),
            "stream_batches": sum(1 for e in tracer.stream_events if e["op"] == s["op"]),
        })
    builds_by_pass: dict[int, float] = {}
    for s in ops:
        builds_by_pass[s["pass_no"]] = (builds_by_pass.get(s["pass_no"], 0)
                                        + tracer.counts.get(s["op"], {}).get("trunk.builds", 0))
    ledger = {
        "traced_passes": n,
        "per_pass": per_pass,
        "units": {**{k: u for k, (u, _) in record.PER_LAYER.items()}, **record.LEDGER_ONLY},
        "trunk_builds_by_pass": builds_by_pass,
        "self_s_per_pass": {k: v / n for k, v in sorted(self_s.items())},
        "trace_overhead": overhead,
        "operations": op_records,
        "spans": tracer.spans,
        "plan_events": tracer.plan_events,
        "stream_events": tracer.stream_events,
    }
    (work / "trace.json").write_text(json.dumps(ledger, indent=1, default=str))
    return {"per_pass": per_pass, "self_s_per_pass": ledger["self_s_per_pass"],
            "trace_overhead": overhead, "trunk_builds_by_pass": builds_by_pass,
            "ledger": str((work / "trace.json").relative_to(ROOT))}


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)

    missing = [p for p in ("nemscraper_spark/__init__.py", "scripts/run_pipeline.py",
                           "scripts/driver_sim.py") if not (ROOT / p).is_file()]
    if missing:
        print(f"perfbench: engine sources missing from {ROOT}: {missing}", file=sys.stderr)
        return 2

    work = ROOT / ".perfbench_runs" / f"{args.workload}-s{args.seed}-t{args.trace}-p{os.getpid()}"
    shutil.rmtree(work, ignore_errors=True)
    work.mkdir(parents=True)
    disclosure = pin_environment(work)
    os.chdir(work)
    sys.path[:0] = [str(BENCH), str(ROOT), str(ROOT / "scripts")]

    steal0, loop0 = steal_s(), host_loop_s()
    try:
        rec = run(args, work, disclosure)
    finally:
        for d in ("tables", "ingest", "spark-local", "tmp", "spark-warehouse"):
            shutil.rmtree(work / d, ignore_errors=True)
    rec["steal_s"] = steal_s() - steal0
    rec["host_loop_s"] = [loop0, host_loop_s()]
    (work / "record.json").write_text(json.dumps(rec, indent=1, default=str))
    print(json.dumps(rec, default=str), file=sys.stderr)


    if args.trace:
        metrics = record.metric_line(rec["layers"]["per_pass"], record.PER_LAYER)
    else:
        metrics = record.metric_line(rec["end_to_end"], record.END_TO_END)
    correct = rec["failed"] == 0
    print(json.dumps({"correct": correct, "attempted": rec["attempted"],
                      "failed": rec["failed"], "metrics": metrics}))
    return 0


if __name__ == "__main__":
    sys.exit(main())
