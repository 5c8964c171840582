"""Dashboard panels as LITERAL SQL text (SURVEY.md §3.3 breadth).

The reference's Grafana dashboards issue raw DuckDB SQL over the
parquet tree; a user migrating them to this engine pastes the panel
text into ``nemscraper_spark.sql.sql()`` over the registered views.
These queries prove that path end to end: each one is a single SQL
string — written once, dialect-neutral — executed VERBATIM by both
Spark (`spark.sql` over temp views) and the DuckDB oracle (views of
the same parquet), so the driver's hash gate certifies true
paste-compatibility, not just an equivalent DataFrame plan.

Panel provenance (reference file:line):
- latest-value-per-series via ROW_NUMBER:
  grafana/dashboards/fpp.json:187 (ranked CTE, rn = 1)
- byte-rate timeseries (two states union-stacked):
  grafana/dashboards/files.json:795 ("Downloaded Input vs Processed
  Output": time_bucket + SUM(size_bytes) per state)
- scalar completion ratio:
  grafana/dashboards/files.json:624 ("Percent Processed")
- per-bucket file counts, two states:
  grafana/dashboards/files.json:703 ("Files")

Scale notes: every panel is a pushdown-friendly scan→filter→agg; the
union-stacked panels scan the fact table once per state with the state
filter pushed to parquet. ROW_NUMBER latest-per-key shuffles once on
the partition key. All BIGINT/DOUBLE outputs are cast explicitly so
both engines agree on schema; sums go through DECIMAL accumulation for
order-independent hashes (queries/common.py:dec_sum rationale).
"""

from __future__ import annotations

from nemscraper_spark.queries.common import register
from nemscraper_spark.sql import sql as run_sql

# fpp.json:187 — the "latest forecast per (run, duid, origin)" shape:
# rank within the series by recency (with a total tiebreak) and keep
# rn = 1. Output columns are exactly the ordering columns, so rank
# ties cannot make the result nondeterministic.
_LATEST_ROWNUM_SQL = """
WITH ranked AS (
  SELECT user_id, event_type, ts, value,
         ROW_NUMBER() OVER (
           PARTITION BY user_id, event_type
           ORDER BY ts DESC, value DESC
         ) AS rn
  FROM events
)
SELECT user_id, event_type, ts AS latest_ts, value AS latest_value
FROM ranked
WHERE rn = 1
"""

# files.json:795 — byte-rate per time bucket for two pipeline states,
# union-stacked the way Grafana wants series.
_BYTE_RATE_SQL = """
SELECT date_trunc('hour', ts) AS time, 'Downloaded' AS metric,
       CAST(SUM(CAST(value AS DECIMAL(25,4))) AS DOUBLE) AS value
FROM events
WHERE event_type IN ('click', 'view')
GROUP BY date_trunc('hour', ts)
UNION ALL
SELECT date_trunc('hour', ts) AS time, 'Processed' AS metric,
       CAST(SUM(CAST(value AS DECIMAL(25,4))) AS DOUBLE) AS value
FROM events
WHERE event_type = 'purchase'
GROUP BY date_trunc('hour', ts)
"""

# files.json:624 — single-stat completion ratio via scalar subqueries.
_PERCENT_SQL = """
SELECT CASE WHEN total_downloaded = 0 THEN CAST(0 AS DOUBLE)
            ELSE CAST(total_processed AS DOUBLE) / total_downloaded
       END AS percent_complete
FROM (
  SELECT (SELECT COUNT(*) FROM events
          WHERE event_type IN ('click', 'view')) AS total_downloaded,
         (SELECT COUNT(*) FROM events
          WHERE event_type = 'purchase') AS total_processed
) AS counts
"""

# files.json:703 — per-bucket event counts for two states. The day
# bucket is CAST to TIMESTAMP because DuckDB's date_trunc('day') yields
# DATE while Spark's yields TIMESTAMP — the cast makes the shared text
# render identically in both engines.
_FILE_COUNTS_SQL = """
SELECT CAST(date_trunc('day', ts) AS TIMESTAMP) AS time,
       CAST(COUNT(*) AS BIGINT) AS value, 'Downloaded' AS metric
FROM events
WHERE event_type IN ('click', 'view')
GROUP BY date_trunc('day', ts)
UNION ALL
SELECT CAST(date_trunc('day', ts) AS TIMESTAMP) AS time,
       CAST(COUNT(*) AS BIGINT) AS value, 'Processed' AS metric
FROM events
WHERE event_type = 'purchase'
GROUP BY date_trunc('day', ts)
"""


@register("sql_latest_rownum_panel", oracle=_LATEST_ROWNUM_SQL, tags=("D-SQL", "W2"))
def sql_latest_rownum_panel(spark, sf_dir):
    """fpp.json:187's latest-forecast panel verbatim: ranked CTE with
    ROW_NUMBER per series, keep rn = 1. One shuffle on the partition
    key; at scale Spark runs it as a partial top-1 per key under AQE."""
    return run_sql(spark, sf_dir, _LATEST_ROWNUM_SQL)


@register("sql_byte_rate_panel", oracle=_BYTE_RATE_SQL, tags=("D-SQL", "A8"))
def sql_byte_rate_panel(spark, sf_dir):
    """files.json:795's byte-rate panel verbatim: time-bucketed DECIMAL
    sums per state, union-stacked. State filters push to the scan; each
    branch is a map-side partial agg."""
    return run_sql(spark, sf_dir, _BYTE_RATE_SQL)


@register("sql_percent_processed_panel", oracle=_PERCENT_SQL, tags=("D-SQL",))
def sql_percent_processed_panel(spark, sf_dir):
    """files.json:624's completion-ratio single-stat verbatim: two
    scalar COUNT subqueries and a guarded division — metadata-cheap
    (count-star over parquet statistics where possible)."""
    return run_sql(spark, sf_dir, _PERCENT_SQL)


@register("sql_file_counts_panel", oracle=_FILE_COUNTS_SQL, tags=("D-SQL", "A8"))
def sql_file_counts_panel(spark, sf_dir):
    """files.json:703's per-bucket file-count panel verbatim: day
    buckets × two states, union-stacked counts."""
    return run_sql(spark, sf_dir, _FILE_COUNTS_SQL)


# fpp.json:1010/1068 — the "Performance Sums" panels: 5-minute bucket
# sums of the lower/raise performance components, bucket stamped at its
# END (the reference text adds the bucket width back on).  DuckDB's
# time_bucket() doesn't exist in Spark SQL, so the shared text builds
# the bucket from day-trunc + minute-of-day arithmetic — parseable and
# value-identical in both engines (the CAST on the multiplier is what
# keeps DuckDB's INTERVAL * BIGINT overload and Spark's interval math
# on the same exact integer).  Lower/raise split mirrors the FPP
# decomposition: negative deviations feed p_lower, positive p_raise.
_BUCKET_SUMS_SQL = """
SELECT CAST(date_trunc('day', ts) AS TIMESTAMP)
         + INTERVAL '5' MINUTE * CAST(FLOOR((EXTRACT(HOUR FROM ts) * 60
             + EXTRACT(MINUTE FROM ts)) / 5) AS BIGINT)
         + INTERVAL '5' MINUTE AS five_minute_interval,
       CAST(SUM(CAST(CASE WHEN value < 0 THEN value ELSE 0 END
                     AS DECIMAL(25,4))) AS DOUBLE) AS p_lower_5m_sum,
       CAST(SUM(CAST(CASE WHEN value >= 0 THEN value ELSE 0 END
                     AS DECIMAL(25,4))) AS DOUBLE) AS p_raise_5m_sum
FROM events
WHERE event_type = 'purchase'
GROUP BY 1
"""

# fpp.json:722-1068 — the actual-vs-hypothetical comparison the
# "Performance Actual" row renders: the same aggregate computed over
# the actual and the hypothetical trajectory, joined on the bucket,
# with the delta the analyst actually reads.
_ACTUAL_VS_HYP_SQL = """
WITH actual AS (
  SELECT CAST(date_trunc('hour', ts) AS TIMESTAMP) AS t,
         CAST(SUM(CAST(value AS DECIMAL(25,4))) AS DOUBLE) AS perf
  FROM events WHERE event_type = 'purchase' GROUP BY 1
),
hypothetical AS (
  SELECT CAST(date_trunc('hour', ts) AS TIMESTAMP) AS t,
         CAST(SUM(CAST(value AS DECIMAL(25,4))) AS DOUBLE) AS perf
  FROM events WHERE event_type = 'click' GROUP BY 1
)
SELECT a.t AS time, a.perf AS actual_perf, h.perf AS hypothetical_perf,
       a.perf - h.perf AS delta
FROM actual a JOIN hypothetical h ON h.t = a.t
"""


@register("sql_bucket_sums_panel", oracle=_BUCKET_SUMS_SQL, tags=("D-SQL", "A8"))
def sql_bucket_sums_panel(spark, sf_dir):
    """fpp.json:1010's 5-minute performance-sum panel verbatim:
    end-stamped 5-min buckets, DECIMAL-exact lower/raise sums.  One
    map-side partial agg + one bounded shuffle on the bucket key; the
    state filter pushes to the parquet scan."""
    return run_sql(spark, sf_dir, _BUCKET_SUMS_SQL)


@register("sql_actual_vs_hyp_panel", oracle=_ACTUAL_VS_HYP_SQL, tags=("D-SQL", "A8"))
def sql_actual_vs_hyp_panel(spark, sf_dir):
    """fpp.json:722-1068's actual-vs-hypothetical comparison verbatim:
    two bucketed DECIMAL aggregates joined on the bucket with the
    delta column.  Both branches scan with pushed state filters; the
    join keys are the low-cardinality buckets, broadcast under AQE."""
    return run_sql(spark, sf_dir, _ACTUAL_VS_HYP_SQL)


# all.json:15/47 — the generic explore panels: per-series AVG and
# global SUM per time bucket, with the $__timeFilter(date) partition
# filter expressed as a plain date-range predicate (the partition
# pruning it exists for is pinned in test_plan_quality).
_AVG_PER_SERIES_SQL = """
SELECT CAST(date_trunc('hour', ts) AS TIMESTAMP) AS time,
       CAST(user_id % 10 AS STRING) AS metric,
       CAST(SUM(CAST(value AS DECIMAL(25,4))) AS DOUBLE) / COUNT(value) AS value
FROM events
WHERE ts >= TIMESTAMP '2024-01-01 00:00:00'
  AND ts < TIMESTAMP '2024-01-08 00:00:00'
GROUP BY date_trunc('hour', ts), user_id % 10
"""


@register("sql_avg_per_series_panel", oracle=_AVG_PER_SERIES_SQL, tags=("D-SQL", "A8"))
def sql_avg_per_series_panel(spark, sf_dir):
    """all.json:15's explore panel verbatim: time-bucketed per-series
    average (DECIMAL-exact sum / count) under a time-range predicate.
    With this, every panel across the reference's three dashboards
    (fpp.json, files.json, all.json) has a hash-gated literal-SQL or
    pipeline-query equivalent.  One scan with the range pushed down,
    one partial-aggregated shuffle on (bucket, series)."""
    return run_sql(spark, sf_dir, _AVG_PER_SERIES_SQL)


# Spark 4 recursive CTE (SPARK-24497): dialect-shared with DuckDB, so
# the SAME text runs on both engines — the strongest possible gate for
# an iterative surface (PageRank/PCA had to unroll; this one recurses
# natively).  The hierarchy is a derived 10-ary tree over customers
# (parent(k) = floor(k/10)): synthetic but structurally honest — walk
# depth is log10(|customer|), and the recursion's per-step frame is a
# self-join Spark plans as an iterated shuffle, the BOM-explosion /
# org-rollup shape.
_RECURSIVE_HIERARCHY_SQL = """
WITH RECURSIVE walk(custkey, node, depth) AS (
  SELECT c_custkey, c_custkey, CAST(0 AS BIGINT) FROM customer
  UNION ALL
  SELECT custkey, CAST(FLOOR(node / 10) AS BIGINT), depth + 1
  FROM walk WHERE node >= 10
)
SELECT custkey,
       MAX(depth) AS depth,
       MIN(CASE WHEN node < 10 THEN node END) AS root
FROM walk
GROUP BY custkey
"""


@register(
    "recursive_cte_hierarchy",
    oracle=_RECURSIVE_HIERARCHY_SQL,
    tags=("D-SQL", "iterative"),
)
def recursive_cte_hierarchy(spark, sf_dir):
    """Native WITH RECURSIVE (Spark 4) walking every customer up a
    derived 10-ary tree to its root: per-customer depth + root id,
    hash-gated by running the VERBATIM same SQL in DuckDB.  Recursion
    depth is log10(n) — 6 levels at 1.5M customers — and each level is
    one equi-join against the previous frontier, so the plan scales
    exactly like the unrolled fixed-point family (pagerank/PCA) while
    letting the ENGINE own termination.

    Spark guards runaway recursion with a 1M-row safety valve
    (spark.sql.cteRecursionRowLimit) counted across ALL iterations —
    the walk frame is n_customers x ~log10(n) rows, so any serious
    corpus trips it by volume, not by divergence.  Raise it to the
    footer-derived worst case (rows x the 100-level depth limit),
    run the recursion EAGERLY under the raised limit via
    localCheckpoint (the grouped result is n_customers rows — small),
    then RESTORE the conf: leaving the valve raised session-wide
    would weaken runaway-recursion protection for every later
    recursive query sharing the session.  The checkpoint truncates
    the returned frame's lineage to the materialized blocks, so the
    caller's collect no longer needs the conf at all."""
    import os

    from nemscraper_spark.sources.fsutil import parquet_rows

    n = parquet_rows(os.path.join(sf_dir, "customer.parquet"))
    need = max(1_000_000, (n + 1) * 101)
    prev = spark.conf.get("spark.sql.cteRecursionRowLimit")
    try:
        if need > int(prev):
            spark.conf.set("spark.sql.cteRecursionRowLimit", str(need))
        return run_sql(spark, sf_dir, _RECURSIVE_HIERARCHY_SQL).localCheckpoint(
            eager=True
        )
    finally:
        spark.conf.set("spark.sql.cteRecursionRowLimit", prev)
