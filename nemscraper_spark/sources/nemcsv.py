"""NEM-format CSV ingest: ZIP/CSV → typed, Hive-partitioned Parquet.

The NEM "multi-table CSV" grammar (reference: src/process/split.rs:64-125,
src/process/csv_batch_processor.rs:42-94; fixture spec FIXTURES.md §A):

    C,NEMP.WORLD,...                     file header — skipped
    I,FPP,UNIT_MW,1,<col4>,<col5>,...    schema row — starts a table block
    D,FPP,UNIT_MW,1,v4,v5,...            data rows for the current block
    I,...                                new schema row → new block
    C,"END OF REPORT",...                footer — stop

Table name = fields 1-3 of the I row joined "---" (chunk.rs:77-82);
the first 4 columns (marker, table, subtable, version) are dropped from
output (chunk.rs:336-345); rows before any I row are dropped
(csv_batch_processor.rs:72-74).

Spark execution model — one task per input file, matching the
reference's per-file worker pool (main.rs:208-239):

    binaryFile/wholetext scan → per-file python parse (mapInPandas —
    genuinely imperative text parsing, the one place SURVEY.md §7.1
    sanctions the slow path) → generic (file, table, headers, fields)
    rows → per-table projection + first-non-null type inference →
    cast plan (double / NEM timestamp / trimmed string) →
    write.partitionBy("date")

At 100TB the file corpus parallelizes as |files| tasks; each table's
convert/write is an independent job over a filtered view of the parsed
scan, which Spark caches once (the reference re-reads the CSV per batch
instead, chunk.rs:320-332).
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from nemscraper_spark.functions import (
    clean_str,
    date_from_filename,
    to_double,
    to_nem_timestamp,
)
from nemscraper_spark.sources import fsutil

PARSED_SCHEMA = "src_file string, table_key string, headers string, line string"
BLOCK_SCHEMA = (
    "src_file string, table_key string, headers string, lines array<string>"
)
INFERENCE_SAMPLE_ROWS = 1000  # chunk.rs:324 — first 1k rows drive inference
_HDR_SEP = "\x1f"  # joins header names into one string column
SLICE_LINES = 100_000  # ~7MB/slice row — the reference's 100MiB batch
# cap (split.rs:34) scaled to line units; bounds single-row size AND
# gives the post-parse repartition slice-granular units to balance


def nem_segmenter():
    """Build the I/D grammar segmenter ``segment(text)`` → one
    ``(table_key, headers, lines)`` tuple per block.

    An ``I,`` row with >= 5 csv fields opens a block (table_key =
    fields 1-3 joined "---", headers = the rest joined by _HDR_SEP,
    csv-parsed so quoting round-trips); a short/malformed I row keeps
    the CURRENT block open (csv_batch_processor.rs:72-74 state-machine
    semantics); lines before the first I row belong to no block. The
    block body is every raw line up to the next I row (C/D/other rows
    alike — callers filter), split on ``\n`` with the trailing ``\r``
    dropped, so a quoted field holding any other line-break character
    (``\x0c``, ``\u2028``, ...) stays inside its row.

    Built in function scope on purpose: cloudpickle ships the returned
    closure BY VALUE, so executors in a foreign-driver deployment never
    import ``nemscraper_spark`` to run it. Stdlib only. Shared by the
    mapInPandas splitter (:func:`parse_blocks`) and the ``nemcsv``
    connector (sources/nemsource.py)."""
    import csv as _csv
    import re

    i_row = re.compile(r"(?m)^I,[^\r\n]*")
    sep = _HDR_SEP

    def segment(text: str) -> list[tuple[str, str, list[str]]]:
        marks = list(i_row.finditer(text))
        blocks: list[tuple[str, str, list[str]]] = []
        for k, m in enumerate(marks):
            row = next(_csv.reader([m.group(0)]))
            end = marks[k + 1].start() if k + 1 < len(marks) else len(text)
            body = [
                ln[:-1] if ln.endswith("\r") else ln
                for ln in text[m.end() : end].split("\n")
            ]
            if len(row) >= 5:
                blocks.append(("---".join(row[1:4]), sep.join(row[4:]), body))
            elif blocks:
                blocks[-1][2].extend(body)
        return blocks

    return segment


def parse_blocks(spark: SparkSession, input_path: str | list[str]) -> DataFrame:
    """Scan ZIPs and/or raw CSVs → block slices (BLOCK_SCHEMA).

    One input file = one Spark task (binaryFile rows are file-granular),
    so the ZIP-member iteration (split.rs:36-55) runs partition-parallel.
    ``input_path``: a directory/glob or an explicit list of files.

    The python side does SEGMENTATION ONLY (:func:`nem_segmenter` —
    find ``I,`` block boundaries with one C-speed regex pass and split
    each block body into lines); no python CSV parsing of data rows.
    Each output row is one <=SLICE_LINES slice of a block's raw lines
    as an Arrow list<string> (one offsets buffer + one data
    buffer — per-line metadata is NOT repeated, which is what keeps the
    python->JVM transfer and the fan-out shuffle at ~file size instead
    of 3x). Line-level rows come from a JVM-side explode; the CSV
    tokenization happens in ``table_frame`` via ``from_csv`` inside
    whole-stage codegen. Net effect: the 2.2M-row single-file ingest
    moved from ~60k rows/s (python csv.reader row loop) to the python
    stage being a ~2s slice of the job.
    """
    paths = input_path if isinstance(input_path, list) else [input_path]
    binf = (
        spark.read.format("binaryFile")
        .option("pathGlobFilter", "*.[zZcC][iIsS][pPvV]*")  # *.zip / *.csv
        .load(paths)
        .select("path", "content")
    )

    segment = nem_segmenter()

    def extract(iterator):
        import io
        import os as _os
        import zipfile

        import pandas as pd

        for pdf in iterator:
            src_files, keys, hdrs, line_lists = [], [], [], []
            for path, content in zip(pdf["path"], pdf["content"]):
                base = _os.path.basename(path)
                members = []
                if base.lower().endswith(".zip"):
                    with zipfile.ZipFile(io.BytesIO(content)) as zf:
                        for m in zf.namelist():
                            if m.lower().endswith(".csv"):
                                members.append(zf.read(m))
                else:
                    members.append(bytes(content))
                for raw in members:
                    for k2, h, body in segment(raw.decode("utf-8", "replace")):
                        for off in range(0, max(len(body), 1), SLICE_LINES):
                            src_files.append(base)
                            keys.append(k2)
                            hdrs.append(h)
                            line_lists.append(body[off : off + SLICE_LINES])
            yield pd.DataFrame(
                {
                    "src_file": pd.Series(src_files, dtype="object"),
                    "table_key": pd.Series(keys, dtype="object"),
                    "headers": pd.Series(hdrs, dtype="object"),
                    "lines": pd.Series(line_lists, dtype="object"),
                }
            )

    return binf.mapInPandas(extract, schema=BLOCK_SCHEMA)


def parse_files(spark: SparkSession, input_path: str | list[str]) -> DataFrame:
    """Line-granular view of :func:`parse_blocks` (PARSED_SCHEMA): the
    slice rows exploded JVM-side to one row per raw line."""
    return parse_blocks(spark, input_path).select(
        "src_file", "table_key", "headers", F.explode("lines").alias("line")
    )


def _looks_float(s: str) -> bool:
    try:
        float(s)
        return True
    except (TypeError, ValueError):
        return False


def _looks_nem_ts(s: str) -> bool:
    from datetime import datetime

    try:
        datetime.strptime(s, "%Y/%m/%d %H:%M:%S")
        return True
    except (TypeError, ValueError):
        return False


def infer_types(samples: dict[str, str | None]) -> dict[str, str]:
    """First-non-null single-value inference (chunk.rs:85-130):
    parses-as-f64 → double; parses NEM ts → timestamp; else string.
    Returns column → {'double','timestamp','string'}."""
    plan = {}
    for col, v in samples.items():
        if v is not None and _looks_float(v):
            plan[col] = "double"
        elif v is not None and _looks_nem_ts(v):
            plan[col] = "timestamp"
        else:
            plan[col] = "string"
    return plan


def sample_query(parsed: DataFrame, table_key: str) -> DataFrame:
    """Bounded per-table inference sample: filter + limit on the
    (cached) slice frame. CollectLimit scans partitions incrementally
    and stops at N rows, so this job shuffles NOTHING and usually
    touches only the first cached partition(s) — mirroring the
    reference's "first 1000 rows of one batch" sampling
    (chunk.rs:320-332). Plan shape pinned in tests/test_plan_quality.py."""
    return (
        parsed.filter(F.col("table_key") == table_key)
        .filter(F.col("line").startswith("D,"))
        .select("headers", "line")
        .limit(INFERENCE_SAMPLE_ROWS)
    )


def discover_tables(blocks: DataFrame) -> DataFrame:
    """Distinct table keys among slices holding >=1 D-line. Partial
    (map-side) distinct collapses each partition to its local key set
    before the exchange, so the shuffle carries |tables| x |partitions|
    tiny rows — never the line data."""
    return (
        blocks.filter(F.exists("lines", lambda x: x.startswith("D,")))
        .select("table_key")
        .distinct()
    )


def table_frame(parsed: DataFrame, table_key: str, sample=None) -> DataFrame:
    """Project one table's rows out of the segmented scan: JVM-side
    ``from_csv`` tokenization (quote-aware, whole-stage codegen — the
    python side never parses data rows), then the reference's cleaning
    + type inference."""
    import csv as _csv

    sub = parsed.filter(F.col("table_key") == table_key)
    if sample is None:
        sample = sample_query(parsed, table_key).collect()
    if not sample:
        raise KeyError(f"no rows for table {table_key!r}")
    headers = sample[0]["headers"].split(_HDR_SEP)

    def _clean_py(v):
        # python twin of clean_str + empty-string→null, for inference
        # over the collected sample only (the data path cleans in Spark)
        if v is None:
            return None
        v = v.strip()
        if len(v) >= 2 and v[0] == '"' and v[-1] == '"':
            v = v[1:-1]
        return v or None

    sample_fields = []
    for r in sample:
        row = next(_csv.reader([r["line"]]), None)
        if row and row[0] == "D":
            sample_fields.append(row[4:])
    samples: dict[str, str | None] = {}
    for i, h in enumerate(headers):
        samples[h] = next(
            (
                _clean_py(f[i])
                for f in sample_fields
                if i < len(f) and _clean_py(f[i]) is not None
            ),
            None,
        )
    plan = infer_types(samples)

    # JVM CSV tokenization: 4 marker cols + the block's headers, all
    # string; PERMISSIVE mode null-pads ragged short rows and ignores
    # extras (the splitter's pad/truncate, csv_batch_processor.rs:80-88)
    ddl = ", ".join(
        [f"_c{i} STRING" for i in range(4)] + [f"`{h}` STRING" for h in headers]
    )
    rec = F.from_csv(F.col("line"), ddl)
    sub = sub.select("src_file", rec.alias("r")).filter(F.col("r._c0") == "D")
    raw = sub.select(
        "src_file",
        *[clean_str(F.col("r").getField(h)).alias(h) for h in headers],
    )
    # empty strings are nulls (chunk.rs:211-216 parses "" to None)
    raw = raw.select(
        "src_file",
        *[F.when(F.col(h) == "", None).otherwise(F.col(h)).alias(h) for h in headers],
    )

    cols = []
    for h in headers:
        if plan[h] == "double":
            cols.append(to_double(F.col(h)).alias(h))
        elif plan[h] == "timestamp":
            cols.append(to_nem_timestamp(F.col(h)).alias(h))
        else:
            cols.append(F.col(h).alias(h))
    return raw.select("src_file", *cols)


def ingest(
    spark: SparkSession,
    input_path: str | list[str],
    out_dir: str,
    compression: str = "snappy",
) -> dict[str, int]:
    """Full S4-S7 pipeline: parse → per-table typed frames → Hive
    `date=` partitioned parquet under out_dir/<TABLE>/.

    Partition value = date extracted from the source FILENAME
    (chunk.rs:258-308, 348-351), not from row data.

    Compression: SNAPPY on the hot ingest sink, dense zstd at
    compaction — a measured deviation from the reference's brotli-5-
    everywhere (which needs an extra codec jar on Spark's classpath,
    SURVEY.md §7.1). On parquet-java's zstd-jni path a partitioned
    zstd write ran 3-4x slower than snappy per write and degraded
    monotonically within long sessions (native buffer growth;
    measured 9s -> 44s -> 85s across repeats at 8x300k rows, while
    snappy recovered to ~1-2s). The compactor (plans/compact.py)
    rewrites every partition to zstd through pyarrow, so data at REST
    keeps the dense codec — only the write-once hot path
    pays snappy's ~1.5x size for its ~4x speed and stability.

    Returns {table_key: row_count} so callers can run the conservation
    check (verify.rs:56-133: D-row count == parquet row count).
    """
    blocks = parse_blocks(spark, input_path)
    # a single big file parses as ONE binaryFile task; spread its block
    # SLICES across the cluster before the (explode + from_csv + cast +
    # write) heavy stage — slice rows carry no per-line metadata, so
    # this shuffle moves ~the raw line bytes, nothing more. Only when
    # files < cores: with a real file corpus the natural per-file
    # parallelism stands and nothing is shuffled.
    n_files, n_bytes = _input_stats(input_path)
    par = spark.sparkContext.defaultParallelism
    # fan out only when it can pay for its shuffle: few files AND enough
    # bytes that the heavy stage benefits from extra tasks (a small
    # batch's whole job is cheaper than one extra stage boundary)
    if 0 < n_files < par and n_bytes >= FAN_OUT_MIN_BYTES:
        blocks = blocks.repartition(par)
    # cache the SLICE rows (compact list<string> columnar form, ~file
    # size); each consumer re-explodes from cache — explode is
    # whole-stage-codegen'd and costs far less than materializing the
    # line-granular cache would
    blocks = blocks.cache()
    parsed = blocks.select(
        "src_file", "table_key", "headers", F.explode("lines").alias("line")
    )
    try:
        # Discovery job: tiny post-partial-distinct shuffle. (The
        # previous design ranked EVERY D-line with a row_number window
        # partitioned by table_key: a full-corpus shuffle that also
        # funneled each table's entire data through one task.)
        keys = [r[0] for r in discover_tables(blocks).collect()]

        def _write_table(key: str) -> tuple[str, int]:
            # per-table bounded sample job (filter + CollectLimit on the
            # cached slice frame — no shuffle, early-exit after N rows)
            df = table_frame(parsed, key)
            out = df.withColumn("date", date_from_filename(F.col("src_file"))).drop(
                "src_file"
            )
            # NOTE on row order: the fan-out shuffle moves whole SLICES
            # (each a contiguous run of file lines), so within-row-group
            # time clustering survives without an explicit sort — a
            # sortWithinPartitions("date", ts) here was measured to add
            # ~1.5s for zero size/stats gain. Re-clustering across
            # files is the compactor's job (plans/compact.py).
            path = os.path.join(out_dir, key)
            out.write.mode("append").partitionBy("date").option(
                "compression", compression
            ).parquet(path)
            # conservation count from the written footers (metadata
            # only — no extra scan job; verify.rs:56-133 semantics)
            return key, fsutil.parquet_rows(path)

        # Tables write to DISJOINT directories, so the per-table jobs
        # are independent — submit them from a driver-side thread pool
        # (the compact_table/rayon shape): each table's sample + write
        # job is latency-bound on small batches, and on a cluster a
        # serial loop would leave executors idle between tables.
        if len(keys) > 1:
            from concurrent.futures import ThreadPoolExecutor

            with ThreadPoolExecutor(max_workers=min(8, len(keys))) as pool:
                written = dict(pool.map(_write_table, sorted(keys)))
        else:
            written = dict(map(_write_table, keys))
        return written
    finally:
        blocks.unpersist()


FAN_OUT_MIN_BYTES = 32 * 1024 * 1024  # below this the shuffle costs more
# than the parallelism buys (one ~7MB slice per SLICE_LINES lines; a
# <32MB batch yields too few slices to spread anyway)


def _input_stats(input_path: str | list[str]) -> tuple[int, int]:
    """Driver-side (file count, total bytes) for the fan-out decision.
    (0, 0) when the path isn't locally listable (then the natural
    partitioning stands)."""
    import glob as _glob

    if isinstance(input_path, list):
        files = list(input_path)
    else:
        try:
            if os.path.isdir(input_path):
                files = [
                    os.path.join(input_path, f)
                    for f in os.listdir(input_path)
                    if f.lower().endswith((".zip", ".csv"))
                ]
            else:
                files = _glob.glob(input_path)
        except OSError:
            return 0, 0
    import zipfile as _zf

    total = 0
    for f in files:
        try:
            if f.lower().endswith(".zip"):
                # the work scales with UNCOMPRESSED bytes (NEM CSVs
                # deflate 5-15x); the central directory is a cheap
                # driver-side read
                with _zf.ZipFile(f) as z:
                    total += sum(zi.file_size for zi in z.infolist())
            else:
                total += os.path.getsize(f)
        except (OSError, _zf.BadZipFile):
            pass
    return len(files), total
