"""ONE memo for every shared sub-result of a session.

Round-11 consolidation of the four parallel cache dicts that grew
over rounds 8-10 (training_data._COUNTED_CACHE / _PPJOIN_CAND_CACHE,
corpus_ops._DUP_EDGES_CACHE, corpus_extra._SEM_PAIRS_CACHE — the
round-10 verdict: "the next trunk cache should be a generalization,
not a fifth copy"), since joined by the ANN grids and training
samples (ann_twins) and the streaming stage dirs (streaming_ops).  A
*trunk* is a shared sub-result whose OUTPUT is small (candidate
pairs, near-dup edges, SemDeDup pairs, a vector grid, a sample-row
list, a staged source dir) while its build pays the family's full
explode/join/window or write cost, so building it once per session
and keeping it is near-free and every extra consumer saves the whole
build — the trade measured for the ANN grid cache (~65%) and the
dedup family (BENCH_r10: second consumer 6.5 s -> ~1.4 s).

FOOTPRINT RULE: an entry is keyed by (family, applicationId,
norm_dir() corpus directory, every behavior tunable a caller can
vary) and stores the corpus directory's footprint (fsutil.footprint:
file count, total bytes, latest mtime) next to its value.  Every
lookup lists the directory once; when the footprint differs, every
entry built over that directory is released (a frame unpersisted, a
staged dir removed) and the requested one is rebuilt.  A corpus
rewritten in place mid-session therefore never serves a stale
answer, and no caller owes a hook call after a rewrite.  Keys include
applicationId (a string, never a stopped context) so a fresh session
can never read frames from a dead one.  Entries live for the session
— bounded: one small value per (family, corpus, tunables) actually
queried.
"""

from __future__ import annotations

import contextlib
import json
import logging
import os
import shutil
import time
from collections.abc import Callable

from pyspark.sql import DataFrame

from nemscraper_spark.sources.fsutil import footprint

_LOG = logging.getLogger("nemscraper_spark.trunk")

# (family, *key) -> (corpus footprint, value); an EMPTY module-level
# dict (runtime cache) is deliberately outside the fingerprint walk —
# see __spark_entry__._is_plain_const.
_TRUNKS: dict[tuple, tuple] = {}


def norm_dir(sf_dir) -> str:
    """Canonical cache-key form of a corpus directory: absolute +
    normalized, so two spellings of the same directory (trailing
    slash, relative vs absolute) share one persisted trunk instead of
    building and pinning duplicates (round-10 ADVICE)."""
    return os.path.normpath(os.path.abspath(str(sf_dir)))


def persist_trunk_adaptive(out):
    """Persist a tiny trunk-output frame MEMORY_AND_DISK with AQE
    allowed to size the cached plan, restoring the session conf
    afterwards.  Cached-plan compilation bypasses AQE partition
    coalescing unless spark.sql.optimizer.
    canChangeCachedPlanOutputPartitioning is on (Spark default
    false): without it the frame persists at the raw
    shuffle-partition count and every consumer pays per-task
    overhead on mostly-empty partitions (measured +0.7 s
    steady-state on dup_graph_core_peel's iterative rounds).  The
    conf is read when the cache entry is registered/compiled, so it
    is set around persist() + an eager materialization and then
    restored — the round-9 ADVICE fix for the old set-and-forget.
    The eager count() moves the trunk build from the first consumer
    into the builder (same total work, one extra tiny job) and
    guarantees the cached data is laid out while the conf is in
    force.  If that materialization RAISES, the frame is unpersisted
    before re-raising so a failed build never leaves an orphaned
    persisted plan that no clear hook can reach (round-10 ADVICE).
    Returns (persisted frame, its row count from that count())."""
    from pyspark import StorageLevel

    conf = out.sparkSession.conf
    name = "spark.sql.optimizer.canChangeCachedPlanOutputPartitioning"
    prev = conf.get(name, None)
    conf.set(name, "true")
    try:
        out = out.persist(StorageLevel.MEMORY_AND_DISK)
        try:
            rows = out.count()
        except Exception:
            try:
                out.unpersist()
            except Exception:
                pass  # release best-effort; surface the build error
            raise
    finally:
        if prev is None:
            conf.unset(name)
        else:
            conf.set(name, prev)
    return out, rows


def _release(value) -> None:
    """Free what an entry holds: unpersist a frame, remove a staged
    dir; a row list holds nothing outside the process."""
    if isinstance(value, str):
        shutil.rmtree(value, ignore_errors=True)
    elif isinstance(value, DataFrame):
        with contextlib.suppress(Exception):  # session already stopped
            value.unpersist()


def trunk(family: str, key: tuple, build: Callable[[], object]):
    """Return the session's memoized value for (family, *key), building
    it on first request or when the corpus directory ``key[1]`` no
    longer has the footprint it was built over.  ``key`` must carry the
    applicationId, the norm_dir()-canonical corpus directory and every
    tunable the build depends on (see the module docstring).  A
    DataFrame from ``build`` is persisted (persist_trunk_adaptive); any
    other value (a sample-row list, a staged-dir path) is kept as it
    is.  Each build logs one JSON record: family, tunables (the key
    after applicationId and directory), build seconds and, for a
    frame, row count."""
    k = (family, *key)
    fp = footprint(key[1])
    # release every entry over this corpus built before a rewrite, not
    # only the requested one: Spark's cache matches a fresh read of the
    # same path to a persisted scan of it, so a stale frame left
    # persisted would stand in for any new plan of the same shape
    for old in [o for o, (f, _) in _TRUNKS.items() if o[2] == key[1] and f != fp]:
        _release(_TRUNKS.pop(old)[1])
    hit = _TRUNKS.get(k)
    # a staged dir deleted from outside is restaged
    if hit is not None and (not isinstance(hit[1], str) or os.path.isdir(hit[1])):
        return hit[1]
    t0 = time.perf_counter()
    out, rows = build(), None
    if isinstance(out, DataFrame):
        out, rows = persist_trunk_adaptive(out)
    _TRUNKS[k] = (fp, out)
    record = {
        "event": "trunk_build",
        "family": family,
        "tunables": list(key[2:]),
        "seconds": round(time.perf_counter() - t0, 3),
        "rows": rows,
    }
    _LOG.info(json.dumps(record, default=str))
    return out


def clear_trunk_caches() -> None:
    """Teardown: unpersist every memoized frame and drop every sample
    list, in every family.  Staged dirs stay: they hold no executor
    memory and their footprint check already rebuilds them after a
    rewrite, so a caller that clears before each pass keeps its
    stage instead of rewriting it."""
    for k in [k for k, (_, v) in _TRUNKS.items() if not isinstance(v, str)]:
        _release(_TRUNKS.pop(k)[1])
