"""Shared column-expression helpers.

All of these are pure Catalyst column expressions (JVM-side, codegen'd) —
no Python UDFs — so they stay inside whole-stage codegen at any scale.

Reference parity notes cite /root/reference file:line.
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F

NEM_TS_FORMAT = "yyyy/MM/dd HH:mm:ss"  # chunk.rs:103 "%Y/%m/%d %H:%M:%S"


def clean_str(col: Column | str) -> Column:
    """Trim whitespace and strip ONE pair of outer double quotes.

    Parity: clean_str at src/process/chunk.rs:21-28 (trim, then strip a
    single leading+trailing '"' pair if both present).
    """
    c = F.trim(F.col(col) if isinstance(col, str) else col)
    return F.regexp_replace(c, '^"(.*)"$', "$1")


def time_bucket(col: Column | str, seconds: int, end_label: bool = False) -> Column:
    """Tumbling time bucket of ``seconds``, label = bucket start (or end).

    Epoch-aligned like DuckDB's time_bucket (grafana/dashboards/fpp.json:1010
    uses time_bucket(INTERVAL '5 minutes', ts) + INTERVAL '5 minutes' for
    end-labelled buckets). Pure integer arithmetic on unix seconds — stays
    in codegen, unlike F.window which produces a struct.

    Input may be TIMESTAMP or TIMESTAMP_NTZ; output is TIMESTAMP_NTZ
    (naive, interpreted in the session timezone) so results are
    bit-identical with naive-timestamp engines.
    """
    c = F.col(col) if isinstance(col, str) else col
    bucket = (F.unix_seconds(c.cast("timestamp")).cast("long") / seconds).cast("long") * seconds
    if end_label:
        bucket = bucket + seconds
    return F.timestamp_seconds(bucket).cast("timestamp_ntz")


def epoch_ms(col: Column | str) -> Column:
    """Epoch milliseconds. Parity: src/bin/crunch.rs:423-428
    (.dt().timestamp(TimeUnit::Milliseconds))."""
    c = F.col(col) if isinstance(col, str) else col
    return F.unix_millis(c.cast("timestamp"))


def date_from_filename(col: Column | str) -> Column:
    """Extract a date from a filename: 8-digit YYYYMMDD or
    YYYY-MM-DD / YYYY_MM_DD, validated to 2000-2030; else 'unknown-date'.

    Parity: src/process/chunk.rs:258-308 (+ partition use at 348-351).
    """
    c = F.col(col) if isinstance(col, str) else col
    compact = F.regexp_extract(c, r"(20[0-3]\d)(0[1-9]|1[0-2])(0[1-9]|[12]\d|3[01])", 0)
    dashed = F.regexp_extract(c, r"(20[0-3]\d)[-_](0[1-9]|1[0-2])[-_](0[1-9]|[12]\d|3[01])", 0)
    return (
        F.when(
            compact != "",
            F.concat_ws(
                "-",
                F.substring(compact, 1, 4),
                F.substring(compact, 5, 2),
                F.substring(compact, 7, 2),
            ),
        )
        .when(dashed != "", F.translate(dashed, "_", "-"))
        .otherwise(F.lit("unknown-date"))
    )
