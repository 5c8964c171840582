"""ONE registry for every memoized-and-persisted trunk frame.

Round-11 consolidation of the four parallel cache dicts that grew
over rounds 8-10 (training_data._COUNTED_CACHE / _PPJOIN_CAND_CACHE,
corpus_ops._DUP_EDGES_CACHE, corpus_extra._SEM_PAIRS_CACHE — the
round-10 verdict: "the next trunk cache should be a generalization,
not a fifth copy").  A *trunk* is a shared sub-plan whose OUTPUT is
tiny (candidate pairs, near-dup edges, SemDeDup pairs) while its
build pays the family's full explode/join/window cost, so building
it once per session and persisting MEMORY_AND_DISK is near-free and
every extra consumer saves the whole trunk — the trade measured for
the ANN grid cache (~65%) and the dedup family (BENCH_r10: second
consumer 6.5 s -> ~1.4 s).

CORPUS-IMMUTABILITY CONTRACT (the single copy — the per-family
builders cite this): cache keys carry the family name, the Spark
applicationId, the canonicalized corpus directory, and every
behavior tunable a caller can vary (threshold rationals, provenance
slice tag; a module constant such as the counted family's geometry
set, training_data._COUNTED_GEOMETRIES, stays out) — but NO file
footprint.  A cached
trunk is therefore only correct while the parquet files under its
directory are immutable for the lifetime of the Spark application.
That is the driver-testdata contract (TESTDATA.md: tables are
generated once, read-only) and the same assumption every persisted
Spark frame already makes about its source files.  A pipeline that
rewrites its corpus in-session must call clear_trunk_caches() at the
rewrite boundary — ONE hook, covering every family (the round-10
ADVICE gap: the old per-module hooks each cleared only their own
dict, so a caller following any one doc got silently stale results
from the others).  Keys include applicationId (a string, never a
stopped context) so a fresh session can never read frames from a
dead one.  Entries are pinned for the session lifetime unless the
hook runs — bounded: one tiny trunk per (family, corpus, tunables)
actually queried.
"""

from __future__ import annotations

import json
import logging
import os
import time
from collections.abc import Callable

_LOG = logging.getLogger("nemscraper_spark.trunk")

# family-keyed registry; an EMPTY module-level dict (runtime cache)
# is deliberately outside the fingerprint walk — see
# __spark_entry__._is_plain_const.
_TRUNKS: dict[tuple, object] = {}


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


def trunk(family: str, key: tuple, build: Callable[[], object]):
    """Return the session's persisted trunk for (family, *key),
    building + persisting it on first request.  ``key`` must carry
    the applicationId, the norm_dir()-canonical corpus directory,
    and every tunable the build depends on (see the module contract
    above); ``build`` is only invoked on a miss, which logs one JSON
    record: family, tunables (the key after applicationId and
    directory), build seconds and row count."""
    k = (family, *key)
    hit = _TRUNKS.get(k)
    if hit is not None:
        return hit
    t0 = time.perf_counter()
    out, rows = persist_trunk_adaptive(build())
    _TRUNKS[k] = out
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
    """THE rewrite-boundary / teardown hook: unpersist and drop every
    memoized trunk in every family — counted-pairs, ppjoin
    candidates, near-dup edges, SemDeDup pairs, dup-graph edges —
    plus the ANN grid/sample caches (ann_twins), so a session that
    rewrites its corpus files in place can never be served a stale
    frame from ANY registry (round-10 ADVICE: the per-module hooks
    left the other modules' caches alive — the ANN grid had the same
    staleness hazard with no hook at all)."""
    from nemscraper_spark.queries.ann_twins import (
        _GRID_CACHE,
        _SAMPLE_CACHE,
    )

    _SAMPLE_CACHE.clear()  # plain lists — nothing persisted to release
    for cache in (_TRUNKS, _GRID_CACHE):
        while cache:
            _, frame = cache.popitem()
            try:
                frame.unpersist()
            except Exception:
                pass  # session already stopped — nothing to release
