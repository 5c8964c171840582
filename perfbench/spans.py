"""Tracing for the benchmark's traced run, measured from outside the engine.

* Spans: one per operation and one child per layer call, kept in memory
  (name, start, end, parent, operation id) and written when the run ends.
  Layer calls are timed by wrapping the public functions of each engine
  module for the duration of a traced pass (:meth:`Tracer.hooks`).
* Spark's own accounting: stage and job records from the status store,
  Catalyst phase times from each QueryExecution's planning tracker (via a
  QueryExecutionListener), micro-batch progress from a
  StreamingQueryListener, and persisted-RDD sizes from the storage info.
"""

from __future__ import annotations

import contextlib
import json
import os
import threading
import time

TRUNK_CACHES = (
    ("nemscraper_spark.queries.trunk_cache", "_TRUNKS"),
    ("nemscraper_spark.queries.training_data", "_SHINGLE_CACHE"),
    ("nemscraper_spark.queries.training_data", "_BANDS_CACHE"),
    ("nemscraper_spark.queries.ann_twins", "_GRID_CACHE"),
    ("nemscraper_spark.queries.ann_twins", "_SAMPLE_CACHE"),
    ("nemscraper_spark.queries.streaming_ops", "_STAGE_CACHE"),
)


def _cache_dicts():
    import importlib

    return [getattr(importlib.import_module(m), a) for m, a in TRUNK_CACHES]


def cache_entries() -> int:
    """Entries across the trunk registry and its five side caches."""
    return sum(len(d) for d in _cache_dicts())


def tree_bytes(root: str) -> dict[str, int]:
    """{relative path: size} of every regular file under ``root``."""
    out = {}
    for dirpath, _, files in os.walk(root):
        for f in files:
            p = os.path.join(dirpath, f)
            out[os.path.relpath(p, root)] = os.path.getsize(p)
    return out


def parquet_bytes(root: str) -> int:
    return sum(s for p, s in tree_bytes(root).items() if p.endswith(".parquet"))


class SparkStatus:
    """Reads the driver's status store and storage info as JSON."""

    def __init__(self, spark):
        self.spark = spark
        jvm = spark._jvm
        self._mapper = jvm.com.fasterxml.jackson.databind.ObjectMapper()
        scala_mod = getattr(jvm.com.fasterxml.jackson.module.scala, "DefaultScalaModule$")
        self._mapper.registerModule(getattr(scala_mod, "MODULE$"))

    @property
    def _store(self):
        return self.spark.sparkContext._jsc.sc().statusStore()

    def stages(self) -> list[dict]:
        store = self._store
        d4 = getattr(store, "stageList$default$4")()
        d5 = getattr(store, "stageList$default$5")()
        return json.loads(self._mapper.writeValueAsString(store.stageList(None, False, False, d4, d5)))

    def jobs(self) -> list[dict]:
        return json.loads(self._mapper.writeValueAsString(self._store.jobsList(None)))

    def cached_bytes(self) -> int:
        infos = self.spark.sparkContext._jsc.sc().getRDDStorageInfo()
        return sum(int(i.memSize()) + int(i.diskSize()) for i in infos)

    def drain(self) -> None:
        """Block until every posted listener event has been delivered."""
        self.spark.sparkContext._jsc.sc().listenerBus().waitUntilEmpty()


def stage_totals(stages: list[dict]) -> dict[str, float]:
    t = {
        "exec.stages": 0, "exec.tasks": 0, "exec.failed_tasks": 0, "exec.run_s": 0.0,
        "exec.cpu_s": 0.0, "exec.gc_s": 0.0, "exec.input_bytes": 0,
        "exec.shuffle_read_bytes": 0, "exec.shuffle_write_bytes": 0,
        "exec.spill_bytes": 0, "exec.output_bytes": 0, "exec.input_records": 0,
    }
    for s in stages:
        t["exec.stages"] += 1
        t["exec.tasks"] += s["numTasks"]
        t["exec.failed_tasks"] += s["numFailedTasks"]
        t["exec.run_s"] += s["executorRunTime"] / 1e3
        t["exec.cpu_s"] += s["executorCpuTime"] / 1e9
        t["exec.gc_s"] += s["jvmGcTime"] / 1e3
        t["exec.input_bytes"] += s["inputBytes"]
        t["exec.input_records"] += s["inputRecords"]
        t["exec.output_bytes"] += s["outputBytes"]
        t["exec.shuffle_read_bytes"] += s["shuffleReadBytes"]
        t["exec.shuffle_write_bytes"] += s["shuffleWriteBytes"]
        t["exec.spill_bytes"] += s["memoryBytesSpilled"] + s["diskBytesSpilled"]
    return t


def in_windows(ms, windows) -> bool:
    return ms is not None and any(a <= ms / 1e3 <= b for a, b in windows)


def self_times(spans: list[dict]) -> dict[str, float]:
    """Seconds per span name, each span's duration less the part of its
    interval that its children cover (children may overlap when the
    engine runs them on a thread pool)."""
    kids: dict[int, list[tuple[float, float]]] = {}
    for s in spans:
        if s["parent"] is not None:
            kids.setdefault(s["parent"], []).append((s["start"], s["end"]))
    out: dict[str, float] = {}
    for s in spans:
        covered, reach = 0.0, s["start"]
        for a, b in sorted(kids.get(s["id"], [])):
            a, b = max(a, reach), min(b, s["end"])
            if b > a:
                covered += b - a
                reach = b
        out[s["name"]] = out.get(s["name"], 0.0) + (s["end"] - s["start"]) - covered
    return out


class Tracer:
    """In-memory span recorder plus Spark listeners for traced passes.

    ``drain`` is called as each operation ends, so listener events are
    delivered while the operation is still current and attribute to it.
    """

    def __init__(self, drain=None):
        self.spans: list[dict] = []
        self.op: int | None = None
        self.ops = 0
        self.pass_no: int | None = None
        self.drain = drain
        self.plan_events: list[dict] = []
        self.stream_events: list[dict] = []
        self.counts: dict[int, dict[str, float]] = {}
        self._tls = threading.local()
        self._lock = threading.Lock()
        self._op_span: int | None = None
        self._op_stack: list[int] | None = None
        self._listeners = None

    # -- spans -------------------------------------------------------
    def _stack(self) -> list[int]:
        if not hasattr(self._tls, "stack"):
            self._tls.stack = []
        return self._tls.stack

    @contextlib.contextmanager
    def span(self, name: str, **fields):
        """A child of the innermost open span on this thread or, on a
        worker thread the engine started, of the operation thread's."""
        stack = self._stack()
        if stack:
            parent = stack[-1]
        elif self._op_stack:
            parent = self._op_stack[-1]
        else:
            parent = self._op_span
        rec = {"name": name, "start": time.time(), "end": None,
               "parent": parent, "op": self.op, **fields}
        with self._lock:
            rec["id"] = len(self.spans)
            self.spans.append(rec)
        stack.append(rec["id"])
        try:
            yield rec
        finally:
            stack.pop()
            rec["end"] = time.time()

    @contextlib.contextmanager
    def operation(self, name: str):
        """The root span of one operation; counts trunk-cache entries
        added while it runs."""
        self.op = self.ops
        self.ops += 1
        before = cache_entries()
        with self.span("op", op_name=name, pass_no=self.pass_no) as rec:
            self._op_span, self._op_stack = rec["id"], self._stack()
            try:
                yield rec
            finally:
                self.count("trunk.builds", max(0, cache_entries() - before))
                if self.drain is not None:
                    self.drain()
                self._op_span, self._op_stack = None, None
        self.op = None

    def count(self, key: str, n: float) -> None:
        if self.op is None:
            return
        with self._lock:
            c = self.counts.setdefault(self.op, {})
            c[key] = c.get(key, 0) + n

    def analysis(self, df) -> None:
        """Catalyst analysis time of the operation's final DataFrame."""
        phase = df._jdf.queryExecution().tracker().phases().get("analysis")
        if phase.isDefined():
            self.count("plan.analysis_ms", int(phase.get().durationMs()))

    # -- Spark listeners ---------------------------------------------
    def start_listeners(self, spark) -> None:
        from pyspark.java_gateway import ensure_callback_server_started
        from pyspark.sql.streaming import StreamingQueryListener

        tracer = self
        ensure_callback_server_started(spark.sparkContext._gateway)

        class PlanListener:
            def onSuccess(self, func_name, qe, duration_ns):
                tracer._on_plan(func_name, qe)

            def onFailure(self, func_name, qe, exc):
                tracer._on_plan(func_name, qe)

            class Java:
                implements = ["org.apache.spark.sql.util.QueryExecutionListener"]

        class StreamListener(StreamingQueryListener):
            def onQueryStarted(self, event):
                pass

            def onQueryProgress(self, event):
                tracer._on_progress(event.progress)

            def onQueryIdle(self, event):
                pass

            def onQueryTerminated(self, event):
                pass

        plan, stream = PlanListener(), StreamListener()
        spark._jsparkSession.listenerManager().register(plan)
        spark.streams.addListener(stream)
        self._listeners = (spark, plan, stream)

    def stop_listeners(self) -> None:
        if self._listeners is None:
            return
        spark, plan, stream = self._listeners
        spark._jsparkSession.listenerManager().unregister(plan)
        spark.streams.removeListener(stream)
        self._listeners = None

    def _on_plan(self, func_name, qe) -> None:
        phases = qe.tracker().phases()
        rec = {"op": self.op, "func": func_name}
        for k in ("analysis", "optimization", "planning"):
            o = phases.get(k)
            rec[k] = int(o.get().durationMs()) if o.isDefined() else 0
        with self._lock:
            self.plan_events.append(rec)

    def _on_progress(self, p) -> None:
        d = p.durationMs or {}
        rec = {
            "op": self.op,
            "query": p.name,
            "batch": p.batchId,
            "batch_ms": d.get("triggerExecution", 0),
            "commit_ms": d.get("commitOffsets", 0) + d.get("walCommit", 0),
            "state_rows": sum(s.numRowsTotal for s in p.stateOperators),
            "state_bytes": sum(s.memoryUsedBytes for s in p.stateOperators),
        }
        with self._lock:
            self.stream_events.append(rec)

    # -- engine module hooks -----------------------------------------
    @contextlib.contextmanager
    def hooks(self):
        """Wrap the public functions of the ingest-path modules and the
        trunk registry for one traced pass; restore them afterwards."""
        from nemscraper_spark.plans import compact, history
        from nemscraper_spark.queries import trunk_cache
        from nemscraper_spark.sources import fetch, nemcsv, sync

        patches = []

        def patch(owner, attr, wrapper_factory):
            orig = getattr(owner, attr)
            patches.append((owner, attr, orig))
            setattr(owner, attr, wrapper_factory(orig))

        def timed(name, after=None, before=None):
            def factory(fn):
                def wrapper(*a, **kw):
                    ctx = before(*a, **kw) if before else None
                    with self.span(name):
                        out = fn(*a, **kw)
                    if after:
                        after(out, ctx, *a, **kw)
                    return out
                return wrapper
            return factory

        # sources.fetch
        patch(fetch, "poll_feeds_once", timed(
            "fetch.poll", after=lambda out, _c, *a, **k: self.count("fetch.files", len(out))))

        # sources.nemcsv: rows and bytes landed, from the output tree
        def ingest_before(spark, paths, out_dir, *a, **k):
            from nemscraper_spark.sources import fsutil

            if not os.path.isdir(out_dir):
                return {}, 0
            rows = sum(fsutil.parquet_rows(os.path.join(out_dir, t)) for t in os.listdir(out_dir))
            return tree_bytes(out_dir), rows

        def ingest_after(counts, ctx, spark, paths, out_dir, *a, **k):
            before, rows_before = ctx
            self.count("nemcsv.rows", sum(counts.values()) - rows_before)
            after = tree_bytes(out_dir)
            self.count("nemcsv.bytes_written", sum(
                s for p, s in after.items() if p.endswith(".parquet") and before.get(p) != s))

        patch(nemcsv, "ingest", timed("nemcsv.ingest", after=ingest_after, before=ingest_before))

        # plans.compact: per-partition spans, rewrites that carried no new file
        patch(compact, "compact_table", timed("compact.table"))

        def part_before(spark, part, *a, **k):
            return [f for f in os.listdir(part) if f.endswith(".parquet")]

        def part_after(rows, names, spark, part, *a, **k):
            self.count("compact.partitions", 1)
            if names and all(n.startswith("compacted-") for n in names):
                self.count("compact.noop_rewrites", 1)
            self.count("compact.bytes_rewritten", sum(
                os.path.getsize(os.path.join(part, f)) for f in os.listdir(part)
                if f.endswith(".parquet") and f not in names))

        patch(compact, "compact_partition", timed(
            "compact.partition", after=part_after, before=part_before))

        # plans.history
        def add_after(out, _c, ledger, rows, *a, **k):
            self.count("history.rows", len(rows))

        patch(history.TableHistory, "read", timed("history.read"))
        patch(history.TableHistory, "add", timed("history.add", after=add_after))
        patch(history.TableHistory, "vacuum", timed("history.vacuum"))

        # sources.sync: files copied and their bytes, from the mirror tree
        def mirror_before(src, dst, *a, **k):
            local = dst[len("file://"):] if dst.startswith("file://") else dst
            return local, (tree_bytes(local) if os.path.isdir(local) else {})

        def mirror_after(out, ctx, src, dst, *a, **k):
            local, before = ctx
            after = tree_bytes(local)
            self.count("sync.copied", out["copied"])
            self.count("sync.bytes_copied", sum(
                s for p, s in after.items() if before.get(p) != s))

        patch(sync, "mirror_tree", timed("sync.mirror", after=mirror_after, before=mirror_before))

        # queries.trunk_cache: the registry's build path, wherever imported
        import sys

        registry = trunk_cache._TRUNKS

        def trunk_factory(fn):
            def wrapper(family, key, build):
                if (family, *key) in registry:
                    return fn(family, key, build)
                with self.span("trunk.build", family=family):
                    return fn(family, key, build)
            return wrapper

        orig_trunk = trunk_cache.trunk
        wrapped = trunk_factory(orig_trunk)
        for mod in list(sys.modules.values()):
            if getattr(mod, "__name__", "").startswith("nemscraper_spark") and \
                    getattr(mod, "trunk", None) is orig_trunk:
                patches.append((mod, "trunk", orig_trunk))
                mod.trunk = wrapped
        try:
            yield
        finally:
            for owner, attr, orig in reversed(patches):
                setattr(owner, attr, orig)
