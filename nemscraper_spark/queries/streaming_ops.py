"""Driver-checkable Structured Streaming queries (SURVEY.md §2.9).

Each query here runs a REAL Structured Streaming query (file source →
stateful operator → sink) through one runner, :func:`_drain`: a bounded
``Trigger.AvailableNow`` drain, so the run ends and the result is
deterministic. The query returns the sink contents as its result
DataFrame. The DuckDB oracle is the batch equivalent: for a single
bounded replay, streaming semantics must agree exactly with the batch
aggregation/dedup — the same invariant the reference's continuous poll
loop relies on when it re-processes a day's files (`src/main.rs:286-307`
re-enqueue sweep: reprocessing must be a no-op).

Scale notes: the memory sink here holds only the bounded query RESULT
(≤ days × event-types rows for the window agg); production streams
write parquet/Kafka sinks.  State size is bounded by the watermark
horizon, not history — the property that lets these operators run
forever on a 100 TB/day feed.
"""

from __future__ import annotations

import json
import logging
import os
import shutil
import tempfile

from pyspark.sql import functions as F

from nemscraper_spark.queries.common import (
    dec_sum,
    load_table,
    oracle_dec_sum,
    register,
)
from nemscraper_spark.queries.trunk_cache import norm_dir, trunk

_LOG = logging.getLogger("nemscraper_spark.stream")

# Never written; perfbench/spans.py:TRUNK_CACHES reads the name.
_STAGE_CACHE: dict = {}


def _staged(spark, sf_dir, tag, write):
    """The session's staged dir for (corpus, tag), a trunk: on first
    use, after the corpus is rewritten, or if the dir is gone,
    ``write(dir)`` fills a fresh empty temp dir (and a stale one is
    removed).  The staged source is identical for every streaming
    query that reads it, so it is written ONCE per session and shared —
    re-staging per query was ~2 s of pure write I/O apiece.  The dir is
    shared and must NOT be deleted by the caller; production streams
    read the ingest sink's directory directly and never stage."""

    def build():
        stage = tempfile.mkdtemp(prefix=f"nemspark-{tag}-")
        write(stage)
        return stage

    key = (spark.sparkContext.applicationId, norm_dir(sf_dir), tag)
    return trunk("stage", key, build)


def _staged_stream(spark, sf_dir, tag="events"):
    """Normalize the events table (NANOS ts → TIMESTAMP_NTZ via
    load_table), stage it as a parquet directory (see _staged) and
    return a file-source stream over it.

    ``tag`` picks the staged rows.  "events" is the table itself.
    "flush" is (user_id, ts, value) plus ONE sentinel event per user in
    2099: under a bounded drain with NoTimeout a custom sessionizer only
    emits a session when a LATER event arrives, so the sentinel closes
    every user's final real session.  "ojoin" is the table plus TWO
    sentinel rows in 2099 with negative user_ids that match nothing,
    one with event_id % 20 == 0 so it passes the forecast filter: after
    the final real batch both join watermarks jump past every real
    event, and the no-data batch evicts the join state, emitting the
    NULL-padded rows an outer stream-stream join may only release once
    the watermark proves no match can still arrive.  Callers filter the
    sentinels back out of their results.

    The driver's testdata is one parquet FILE; Spark's file stream
    source wants a directory it can list for new files — exactly the
    layout the ingest sink produces in production (one dir, files
    arriving over time), so the stage step is the honest shape, not a
    workaround.
    """
    ev = load_table(spark, sf_dir, "events")
    far = F.lit("2099-01-01 00:00:00").cast("timestamp_ntz")
    if tag == "flush":
        ev = ev.select("user_id", "ts", "value")
        ev = ev.unionByName(
            ev.select("user_id").distinct().select(
                "user_id", far.alias("ts"), F.lit(0.0).alias("value")
            )
        )
    elif tag == "ojoin":
        ev = ev.unionByName(
            spark.createDataFrame(
                [(-1, -1, "sentinel", 0.0, None), (-20, -2, "sentinel", 0.0, None)],
                "event_id long, user_id long, event_type string,"
                " value double, props string",
            ).select(
                "event_id", far.alias("ts"), "user_id", "event_type",
                "value", "props",
            )
        )
    stage = _staged(
        spark, sf_dir, tag, lambda d: ev.write.mode("overwrite").parquet(d)
    )
    stream = spark.readStream.schema(ev.schema).parquet(stage)
    # Watermarks require TIMESTAMP (instant) — the table carries
    # TIMESTAMP_NTZ.  Track event time on a cast twin (`ts_w`); under a
    # fixed session timezone the ntz→ts→ntz round trip is the identity,
    # so query OUTPUTS keep the original ntz column and stay
    # hash-comparable with the batch oracle.
    return stream.withColumn("ts_w", F.col("ts").cast("timestamp"))


def _state_width(spark, sf_dir, rows_per_partition: int = 25_000) -> int:
    """State-store width for a bounded streaming run, sized by INPUT
    VOLUME (parquet footer row count — metadata-only, no scan), capped
    at core count. Stateful operators fix their state-store count to
    spark.sql.shuffle.partitions at query start (no AQE in streaming),
    and every state partition pays per-micro-batch maintenance whether
    or not it holds data: a 100k-row drain on 32 state partitions
    measured 2.5x slower than on 4. A real deployment does the same
    sizing once per stream from its expected per-batch volume; at
    production volume this formula saturates to full parallelism."""
    from nemscraper_spark.sources.fsutil import parquet_rows

    rows = parquet_rows(os.path.join(sf_dir, "events.parquet"))
    return max(2, min(
        spark.sparkContext.defaultParallelism, rows // rows_per_partition
    ))


_DURATIONS = ("triggerExecution", "addBatch", "queryPlanning", "walCommit", "commitOffsets")


def _drain(stream, name, sf_dir, *, mode="append", sink="memory", ckpt=None, path=None):
    """THE streaming runner: drain ``stream`` under Trigger.AvailableNow
    into ``sink`` as query ``name`` and wait for it to end.  Returns the
    memory sink's table, or None for any other sink.

    Stateful operators key their state store on
    spark.sql.shuffle.partitions AT QUERY START (no AQE coalescing in
    streaming) — a foreign session's default of 200 means 200 state
    tasks per micro-batch regardless of data size.  The width is pinned
    to _state_width and the caller's setting restored right after
    start(), which has already captured it; a real deployment sizes
    this once per stream at creation, same as here.

    Logs one JSON record per micro-batch on the
    ``nemscraper_spark.stream`` logger: batchId, input rows, the
    durationMs parts and each state operator's rows, memory and width.
    A checkpoint this call creates is removed afterwards; one the
    caller passes (to resume a later drain from it, or to read its
    state) is kept."""
    spark = stream.sparkSession
    own = ckpt is None
    if own:
        ckpt = tempfile.mkdtemp(prefix=f"nemspark-ckpt-{name}-")
    key = "spark.sql.shuffle.partitions"
    prev = spark.conf.get(key, None)
    spark.conf.set(key, str(_state_width(spark, sf_dir)))
    try:
        q = (
            stream.writeStream.outputMode(mode)
            .format(sink)
            .queryName(name)
            .option("checkpointLocation", ckpt)
            .trigger(availableNow=True)
            .start(path)
        )
    finally:
        if prev is None:
            spark.conf.unset(key)
        else:
            spark.conf.set(key, prev)
    try:
        q.awaitTermination()
    finally:
        if own:
            shutil.rmtree(ckpt, ignore_errors=True)
    for p in q.recentProgress:
        record = {
            "event": "stream_batch",
            "query": name,
            "batchId": p.batchId,
            "numInputRows": p.numInputRows,
            "durationMs": {k: p.durationMs.get(k) for k in _DURATIONS},
            "stateOperators": [
                {
                    "operatorName": s.operatorName,
                    "numRowsTotal": s.numRowsTotal,
                    "memoryUsedBytes": s.memoryUsedBytes,
                    "numShufflePartitions": s.numShufflePartitions,
                }
                for s in p.stateOperators
            ],
        }
        _LOG.info(json.dumps(record))
    return spark.table(name) if sink == "memory" else None


@register(
    "streaming_window_counts",
    oracle=f"""
    SELECT CAST(date_trunc('day', ts) AS TIMESTAMP) AS day_start, event_type,
           CAST(COUNT(*) AS BIGINT) AS n_events,
           {oracle_dec_sum("value")} AS sum_value
    FROM events GROUP BY 1, 2
    """,
    tags=("streaming", "W3", "A8"),
)
def streaming_window_counts(spark, sf_dir):
    """Watermarked tumbling-window aggregation as a REAL streaming
    query: file source → withWatermark(1h) → window(1 day) × event_type
    → count + decimal-exact sum — the §2.9 continuous version of the
    batch time-bucket rollup (fpp.json:1010's shape).

    Complete output mode emits every window, so a bounded AvailableNow
    replay must match the batch GROUP BY bit-for-bit (decimal sums are
    order-independent).  Epoch-aligned 1-day windows coincide with
    date_trunc('day') in the oracle.
    """
    stream = _staged_stream(spark, sf_dir)
    agg = (
        stream.withWatermark("ts_w", "1 hour")
        .groupBy(F.window("ts_w", "1 day").alias("w"), "event_type")
        .agg(
            F.count("*").alias("n_events"),
            dec_sum("value").alias("sum_value"),
        )
    )
    out = _drain(agg, "nemspark_streaming_window_counts", sf_dir, mode="complete")
    return out.select(
        F.col("w.start").cast("timestamp_ntz").alias("day_start"),
        "event_type",
        "n_events",
        "sum_value",
    )


@register(
    "streaming_topk_complete",
    oracle="""
    SELECT CAST(date_trunc('hour', ts) AS TIMESTAMP) AS hour_start,
           event_type, CAST(COUNT(*) AS BIGINT) AS n_events
    FROM events
    GROUP BY 1, 2
    ORDER BY n_events DESC, hour_start, event_type
    LIMIT 10
    """,
    tags=("streaming", "O1", "A8"),
)
def streaming_topk_complete(spark, sf_dir):
    """Streaming GLOBAL TOP-K — the live leaderboard: tumbling 1-hour
    windows × event_type, ordered by count with a total tie-break
    (count desc, window start, type) and LIMIT 10, all INSIDE the
    streaming query.  Sort + limit are legal only on a Complete-mode
    aggregate, and Spark recomputes the exact top-10 every micro-batch
    from the full aggregation state — the one output-mode/operator
    combination that gives continuously-correct rankings (an
    append-mode consumer would have to re-rank downstream).  Bounded
    AvailableNow drain = the batch top-10 bit-for-bit, which is what
    the oracle pins."""
    stream = _staged_stream(spark, sf_dir)
    agg = (
        stream.withWatermark("ts_w", "1 hour")
        .groupBy(F.window("ts_w", "1 hour").alias("w"), "event_type")
        .agg(F.count("*").alias("n_events"))
    )
    top = agg.orderBy(
        F.desc("n_events"), F.col("w.start"), "event_type"
    ).limit(10)
    out = _drain(top, "nemspark_streaming_topk_complete", sf_dir, mode="complete")
    return out.select(
        F.col("w.start").cast("timestamp_ntz").alias("hour_start"),
        "event_type",
        "n_events",
    )


@register(
    "streaming_dedup_replay",
    oracle="SELECT event_id, ts, user_id, event_type, value, props FROM events",
    tags=("streaming", "M1", "dedup"),
)
def streaming_dedup_replay(spark, sf_dir):
    """Streaming dedup under replay: the event stream unioned with
    itself (every row delivered twice — the at-least-once redelivery
    case) flows through ``dropDuplicatesWithinWatermark(event_id)``,
    which must restore exactly-once output: the original events table,
    row for row.

    This is §2.8 M1 (the reference's dedup-against-history,
    `table_history.rs:58-92`) in its streaming form — state bounded by
    the 1 h watermark horizon instead of an ever-growing history set,
    the property that holds at 100 TB/day.  Oracle: SELECT * FROM
    events — redelivery must be invisible.
    """
    stream = _staged_stream(spark, sf_dir)
    redelivered = stream.union(stream)
    deduped = redelivered.withWatermark("ts_w", "1 hour").dropDuplicatesWithinWatermark(
        ["event_id"]
    )
    out = _drain(deduped, "nemspark_streaming_dedup_replay", sf_dir)
    return out.select("event_id", "ts", "user_id", "event_type", "value", "props")


@register(
    "streaming_session_windows",
    oracle=f"""
    WITH g AS (
      SELECT user_id, ts, value,
             CASE WHEN LAG(ts) OVER w IS NULL
                  OR ts - LAG(ts) OVER w >= INTERVAL '30 minutes'
                  THEN 1 ELSE 0 END AS is_new
      FROM events
      WINDOW w AS (PARTITION BY user_id ORDER BY ts)
    ),
    s AS (
      SELECT user_id, ts, value,
             SUM(is_new) OVER (PARTITION BY user_id ORDER BY ts
                 ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS sid
      FROM g
    )
    SELECT user_id, MIN(ts) AS session_start,
           CAST(COUNT(*) AS BIGINT) AS n_events,
           {oracle_dec_sum("value")} AS sum_value
    FROM s GROUP BY user_id, sid
    """,
    tags=("streaming", "W-session"),
)
def streaming_session_windows(spark, sf_dir):
    """Native streaming session windows (`F.session_window`, 30 min
    gap) as a REAL streaming query — the continuous form of the batch
    `sessionize` islands pattern, with state merged per key as events
    arrive instead of a lag/cumsum over history.

    Boundary semantics: Spark sessions are [start, last + gap), so an
    event exactly 30 min after the previous one opens a NEW session —
    the oracle's island break is therefore `gap >= 30 minutes` (the
    batch `sessionize` query keeps `>` for the classic islands idiom;
    with continuous timestamps the two agree except on exact-boundary
    gaps, which the generator's ns-precision data cannot produce).

    Complete output mode emits every merged session at the end of the
    bounded AvailableNow replay, so the result must equal the batch
    islands aggregation row for row; DECIMAL sums keep the values
    hash-exact. At scale, state is per-open-session (bounded by the
    watermark horizon), the property that lets sessionization run
    continuously over a 100 TB/day stream.
    """
    stream = _staged_stream(spark, sf_dir)
    agg = (
        stream.withWatermark("ts_w", "1 hour")
        .groupBy(
            F.session_window(F.col("ts_w"), "30 minutes").alias("sw"),
            "user_id",
        )
        .agg(
            F.count("*").alias("n_events"),
            dec_sum("value").alias("sum_value"),
        )
    )
    out = _drain(agg, "nemspark_streaming_session_windows", sf_dir, mode="complete")
    return out.select(
        F.col("sw.start").cast("timestamp_ntz").alias("session_start"),
        "user_id",
        "n_events",
        "sum_value",
    )


@register(
    "streaming_interval_join",
    oracle="""
    WITH fc AS (
      SELECT user_id, ts AS fc_ts, value AS fc_value
      FROM events WHERE event_id % 20 = 0
    )
    SELECT e.event_id, e.user_id, e.ts, f.fc_ts, f.fc_value
    FROM events e
    JOIN fc f
      ON e.user_id = f.user_id
     AND f.fc_ts >= e.ts - INTERVAL '1 hour'
     AND f.fc_ts <= e.ts
    """,
    tags=("streaming", "J5"),
)
def streaming_interval_join(spark, sf_dir):
    """Stream-stream interval join as a REAL streaming query: the event
    stream inner-joined to a sparse forecast stream (every 20th event)
    on user_id with the forecast timestamp inside the event's trailing
    hour — the continuous form of J5's range join, which
    `operators/rangejoin.py` runs in batch as a bucketed equi-join. INNER join
    rows emit as soon as both sides arrive (the watermark bounds STATE
    retention, not emission), so a bounded AvailableNow replay must
    equal the batch interval join exactly — joined values are copied,
    never recomputed, so the hash gate is exact. State per key is the
    1-hour horizon of both sides — the property that holds at
    100 TB/day.
    """
    stream = _staged_stream(spark, sf_dir)
    left = stream.select(
        "event_id", "user_id", "ts", F.col("ts_w").alias("e_ts")
    ).withWatermark("e_ts", "1 hour")
    right = (
        stream.filter(F.col("event_id") % 20 == 0)
        .select(
            F.col("user_id").alias("fc_user"),
            F.col("ts").alias("fc_ts"),
            F.col("ts_w").alias("f_ts"),
            F.col("value").alias("fc_value"),
        )
        .withWatermark("f_ts", "1 hour")
    )
    joined = left.join(
        right,
        (F.col("user_id") == F.col("fc_user"))
        & (F.col("f_ts") >= F.col("e_ts") - F.expr("INTERVAL 1 HOUR"))
        & (F.col("f_ts") <= F.col("e_ts")),
        "inner",
    ).select("event_id", "user_id", "ts", "fc_ts", "fc_value")
    return _drain(joined, "nemspark_streaming_interval_join", sf_dir)


@register(
    "streaming_stateful_sessionize",
    oracle=f"""
    WITH g AS (
      SELECT user_id, ts, value,
             CASE WHEN LAG(ts) OVER w IS NULL
                  OR epoch_us(ts) - epoch_us(LAG(ts) OVER w) > 1800000000
             THEN 1 ELSE 0 END AS is_new
      FROM events
      WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
    ),
    s AS (
      SELECT user_id, ts, value,
             SUM(is_new) OVER (PARTITION BY user_id ORDER BY ts
                 ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS sid
      FROM g
    )
    SELECT user_id, MIN(ts) AS session_start, MAX(ts) AS session_end,
           CAST(COUNT(*) AS BIGINT) AS n_events,
           {oracle_dec_sum("value")} AS sum_value
    FROM s GROUP BY user_id, sid
    """,
    tags=("streaming", "W-session", "UDF-state"),
)
def streaming_stateful_sessionize(spark, sf_dir):
    """The CUSTOM stateful operator behind the driver's hash gate: gap
    sessionization via ``applyInPandasWithState``
    (streaming/stateful.py) as a REAL streaming query — per-user open
    session carried in typed state across micro-batches, closed
    sessions emitted in Append mode. Where streaming_session_windows
    uses Spark's built-in session_window, THIS is the §2.10 surface a
    pipeline reaches for when the state machine isn't expressible as a
    built-in (multi-metric sessions, abandonment rules, …).

    Determinism: per-user events process in timestamp order (kernel
    sorts each batch; the AvailableNow drain is one batch); session
    sums accumulate in 4-dp DECIMAL (exact_decimal_sums — the engine's
    dec_sum convention), so the output is bit-identical to the batch
    islands aggregation at any parallelism. A per-user far-future
    sentinel closes each final session (NoTimeout drain semantics) and
    is filtered from the result. Gap break is EXCLUSIVE (> 30 min),
    matching the kernel's `t - end <= gap_us` extension rule at µs
    precision. At scale: state is one open session per active user in
    the state store (RocksDB on a cluster), shuffled once on user_id —
    the same partitioning as the batch twin, but incremental.
    """
    from nemscraper_spark.streaming.stateful import sessionize_stream

    stream = _staged_stream(spark, sf_dir, "flush")
    sessions = sessionize_stream(
        stream.select("user_id", F.col("ts_w").alias("ts"), "value"),
        gap_seconds=1800,
        idle_flush_ms=None,
        exact_decimal_sums=True,
    )
    out = _drain(sessions, "nemspark_streaming_stateful_sessionize", sf_dir)
    return out.filter(
        F.col("session_start") < F.lit("2090-01-01").cast("timestamp")
    ).select(
        "user_id",
        F.col("session_start").cast("timestamp_ntz").alias("session_start"),
        F.col("session_end").cast("timestamp_ntz").alias("session_end"),
        "n_events",
        "sum_value",
    )


@register(
    "streaming_hopping_counts",
    oracle=f"""
    WITH w AS (
      SELECT value,
             make_timestamp((epoch_us(ts) // 1800000000 - t.k) * 1800000000)
               AS window_start
      FROM events, UNNEST(generate_series(0, 1)) AS t(k)
    )
    SELECT window_start, CAST(COUNT(*) AS BIGINT) AS n_events,
           {oracle_dec_sum("value")} AS sum_value
    FROM w GROUP BY window_start
    """,
    tags=("streaming", "W3", "A8"),
)
def streaming_hopping_counts(spark, sf_dir):
    """Hopping windows as a REAL streaming query: the continuous twin
    of the batch hopping_window_counts — file source → watermark →
    ``window(ts, '1 hour', '30 minutes')`` → count + decimal sum.
    Each event enters exactly two overlapping windows; in streaming
    the state store keys on the window start, so the 2x assignment
    multiplies state entries, not input passes.  Complete mode over an
    AvailableNow drain must reproduce the batch assignment
    arithmetic bit-for-bit (the oracle computes both 30-min-aligned
    starts per event directly)."""
    stream = _staged_stream(spark, sf_dir)
    agg = (
        stream.withWatermark("ts_w", "1 hour")
        .groupBy(F.window("ts_w", "1 hour", "30 minutes").alias("w"))
        .agg(
            F.count("*").alias("n_events"),
            dec_sum("value").alias("sum_value"),
        )
    )
    out = _drain(agg, "nemspark_streaming_hopping_counts", sf_dir, mode="complete")
    return out.select(
        F.col("w.start").cast("timestamp_ntz").alias("window_start"),
        "n_events",
        "sum_value",
    )


@register(
    "streaming_interval_join_outer",
    oracle="""
    WITH fc AS (
      SELECT user_id, ts AS fc_ts, value AS fc_value
      FROM events WHERE event_id % 20 = 0
    )
    SELECT e.event_id, e.user_id, e.ts, f.fc_ts, f.fc_value
    FROM events e
    LEFT JOIN fc f
      ON e.user_id = f.user_id
     AND f.fc_ts >= e.ts - INTERVAL '1 hour'
     AND f.fc_ts <= e.ts
    """,
    tags=("streaming", "J5", "outer"),
)
def streaming_interval_join_outer(spark, sf_dir):
    """Stream-stream LEFT OUTER interval join — the attribution shape
    that must also KEEP the unmatched events (sessions with no
    preceding forecast).  Matched rows emit eagerly like the inner
    join; the NULL-padded rows are held in state until the watermark
    on BOTH sides passes the event's match window, because only then
    has Spark proven no matching forecast can still arrive — the
    correctness contract that makes streaming outer joins hard and the
    reason both sides carry watermarks.  A far-future sentinel row per
    side (_staged_stream "ojoin") advances the final watermark
    so the bounded AvailableNow drain flushes every pending NULL row;
    the batch LEFT JOIN oracle then pins the complete output exactly.

    State is the 1-hour horizon of both sides, independent of history
    — the 100 TB/day property — and the sentinel trick is exactly how
    a production backfill closes the books on a bounded replay."""
    stream = _staged_stream(spark, sf_dir, "ojoin")
    left = stream.select(
        "event_id", "user_id", "ts", F.col("ts_w").alias("e_ts")
    ).withWatermark("e_ts", "1 hour")
    right = (
        stream.filter(F.col("event_id") % 20 == 0)
        .select(
            F.col("user_id").alias("fc_user"),
            F.col("ts").alias("fc_ts"),
            F.col("ts_w").alias("f_ts"),
            F.col("value").alias("fc_value"),
        )
        .withWatermark("f_ts", "1 hour")
    )
    joined = left.join(
        right,
        (F.col("user_id") == F.col("fc_user"))
        & (F.col("f_ts") >= F.col("e_ts") - F.expr("INTERVAL 1 HOUR"))
        & (F.col("f_ts") <= F.col("e_ts")),
        "leftOuter",
    ).select("event_id", "user_id", "ts", "fc_ts", "fc_value")
    out = _drain(joined, "nemspark_streaming_interval_join_outer", sf_dir)
    return out.filter(F.col("user_id") >= 0)


@register(
    "streaming_restart_exactly_once",
    oracle="SELECT event_id, ts, user_id, event_type, value, props FROM events",
    tags=("streaming", "M1", "recovery"),
)
def streaming_restart_exactly_once(spark, sf_dir):
    """Checkpoint RESTART recovery behind the driver gate: half the
    events drain to a parquet sink and the query ENDS (a deploy, a
    crash); the other half lands while the stream is down; a second
    drain resumes from the same checkpoint and takes the rest.  The
    sink must then hold exactly the events table — every row once,
    none lost while down, none replayed after resume.  This is the
    operational contract that lets a 100 TB/day pipeline restart
    mid-stream without reconciliation jobs; the dedup/session state
    analogue is pinned by the in-repo restart tests, this entry pins
    the source-offset + file-sink commit-log handshake end to end,
    hash-exact against SELECT * FROM events.  The flow runs once per
    session (see _staged); repeats read the same sink directory."""

    def restart(base):
        ev = load_table(spark, sf_dir, "events")
        landing = os.path.join(base, "landing")

        def drain():
            _drain(
                spark.readStream.schema(ev.schema).parquet(landing),
                "nemspark_streaming_restart_exactly_once", sf_dir,
                sink="parquet", ckpt=os.path.join(base, "ckpt"),
                path=os.path.join(base, "out"),
            )

        ev.filter(F.col("event_id") % 2 == 0).write.parquet(landing)
        drain()
        # the other half arrives while the stream is DOWN
        ev.filter(F.col("event_id") % 2 == 1).write.mode("append").parquet(landing)
        drain()

    base = _staged(spark, sf_dir, "restart", restart)
    return spark.read.parquet(os.path.join(base, "out")).select(
        "event_id", "ts", "user_id", "event_type", "value", "props"
    )


@register(
    "streaming_static_enrich",
    oracle=f"""
    SELECT CAST(date_trunc('day', e.ts) AS TIMESTAMP) AS day_start,
           c.c_mktsegment AS mktsegment,
           CAST(COUNT(*) AS BIGINT) AS n_events,
           {oracle_dec_sum("e.value")} AS sum_value
    FROM events e JOIN customer c ON e.user_id = c.c_custkey
    GROUP BY 1, 2
    """,
    tags=("streaming", "J1", "A8"),
)
def streaming_static_enrich(spark, sf_dir):
    """STREAM-STATIC join — the one streaming join class the family
    didn't yet cover (stream-stream interval/outer joins are
    streaming_interval_join / _outer): each micro-batch of the events
    stream inner-joins the STATIC customer dim (user_id = c_custkey),
    then rolls up watermarked 1-day windows per market segment.

    Stream-static inner joins are STATELESS by construction — Spark
    re-plans the static side into every micro-batch, so a
    broadcast-sized dim costs one broadcast per batch and ZERO state
    store entries (contrast the interval join's watermark-bounded
    buffers).  That is the 100 TB enrichment pattern: dims live in the
    lakehouse, the feed joins them on the fly, and dim updates take
    effect at the next micro-batch without restarting the query.
    Complete-mode bounded replay == the batch join+rollup, which is
    exactly what the oracle asserts (decimal-exact sums, so the hash
    can't drift on aggregation order)."""
    stream = _staged_stream(spark, sf_dir)
    dim = load_table(spark, sf_dir, "customer").select(
        F.col("c_custkey").alias("user_id"), "c_mktsegment"
    )
    agg = (
        stream.join(F.broadcast(dim), "user_id")
        .withWatermark("ts_w", "1 hour")
        .groupBy(F.window("ts_w", "1 day").alias("w"), "c_mktsegment")
        .agg(
            F.count("*").alias("n_events"),
            dec_sum("value").alias("sum_value"),
        )
    )
    out = _drain(agg, "nemspark_streaming_static_enrich", sf_dir, mode="complete")
    return out.select(
        F.col("w.start").cast("timestamp_ntz").alias("day_start"),
        F.col("c_mktsegment").alias("mktsegment"),
        "n_events",
        "sum_value",
    )


@register(
    "streaming_interval_join_full",
    oracle="""
    WITH le AS (
      SELECT event_id, user_id, ts FROM events WHERE event_type <> 'error'
    ),
    fc AS (
      SELECT user_id AS fc_user, ts AS fc_ts, value AS fc_value
      FROM events WHERE event_id % 20 = 0
    )
    SELECT e.event_id, e.user_id, e.ts, f.fc_user, f.fc_ts, f.fc_value
    FROM le e
    FULL JOIN fc f
      ON e.user_id = f.fc_user
     AND f.fc_ts >= e.ts - INTERVAL '1 hour'
     AND f.fc_ts <= e.ts
    """,
    tags=("streaming", "J5", "outer"),
)
def streaming_interval_join_full(spark, sf_dir):
    """Stream-stream FULL OUTER interval join — the last cell of the
    streaming join matrix (inner: streaming_interval_join; left outer:
    streaming_interval_join_outer).  Left side = non-error events,
    right side = the forecast slice; the corpus then exercises ALL
    THREE row classes (432 matched, 7,554 left-only, 95 right-only at
    sf0.01): forecasts with no in-window event emit NULL-padded LEFT
    columns — the reconciliation shape ("which forecasts never saw a
    session?") a left join cannot answer.

    Same correctness contract as the left-outer entry, now on both
    sides: an unmatched row may only flush once BOTH watermarks pass
    its match window; the far-future sentinel per side (see
    _staged_stream "ojoin") advances the final watermark so the
    bounded AvailableNow drain releases every pending row, and the
    batch FULL JOIN oracle pins the complete output hash-exact.  State
    stays the 1-hour horizon of both sides, independent of history."""
    stream = _staged_stream(spark, sf_dir, "ojoin")
    left = (
        stream.filter(F.col("event_type") != "error")
        .select("event_id", "user_id", "ts", F.col("ts_w").alias("e_ts"))
        .withWatermark("e_ts", "1 hour")
    )
    right = (
        stream.filter(F.col("event_id") % 20 == 0)
        .select(
            F.col("user_id").alias("fc_user"),
            F.col("ts").alias("fc_ts"),
            F.col("ts_w").alias("f_ts"),
            F.col("value").alias("fc_value"),
        )
        .withWatermark("f_ts", "1 hour")
    )
    joined = left.join(
        right,
        (F.col("user_id") == F.col("fc_user"))
        & (F.col("f_ts") >= F.col("e_ts") - F.expr("INTERVAL 1 HOUR"))
        & (F.col("f_ts") <= F.col("e_ts")),
        "fullOuter",
    ).select("event_id", "user_id", "ts", "fc_user", "fc_ts", "fc_value")
    out = _drain(joined, "nemspark_streaming_interval_join_full", sf_dir)
    return out.filter(
        (F.col("user_id").isNull() | (F.col("user_id") >= 0))
        & (F.col("fc_user").isNull() | (F.col("fc_user") >= 0))
    )
