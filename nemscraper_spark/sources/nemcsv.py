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

:func:`ingest` runs on the driver with pyarrow and starts no Spark job,
as the reference splits and converts each file inside one process
(split.rs:27-62, chunk.rs:312-422, main.rs:208-239):

    list inputs (sources/fsutil) → each file's *.csv members →
    nem_segmenter blocks (text) → pyarrow.csv tokenization, D-rows
    only → per (table, I-header) group and file date, the files'
    tables in input order → first-1000-row type inference → clean +
    cast (sources/evolve.arrow_cast) → one part file per (group, date=)
    in the at-rest layout (fsutil.write_parquet)

The files are read and segmented one after another on the calling
thread, and each block goes to a driver thread pool as soon as its file
is segmented, as the reference hands each file to a worker as soon as
it is read (split.rs:27-62, main.rs:208-239): pyarrow tokenizes one
file's blocks while the next file is read. A file that fails to read,
unzip or tokenize is skipped whole and reported; the rest are
ingested. Then each group's types are inferred from its parts in input
order, and every part is cast and written in parallel. pyarrow releases
the GIL in those kernels, so ingest throughput is bounded by one
machine, like the reference's single-process worker pool.
"""

from __future__ import annotations

import csv
import fnmatch
import io
import logging
import posixpath
import re
import zipfile
from concurrent.futures import ThreadPoolExecutor

import numpy as np
import pyarrow as pa
import pyarrow.compute as pc
import pyarrow.csv as pacsv
from pyspark.sql import SparkSession

from nemscraper_spark.sources import fsutil
from nemscraper_spark.sources.evolve import arrow_cast, clean_text, written_schema

_LOG = logging.getLogger(__name__)
INFERENCE_SAMPLE_ROWS = 1000  # chunk.rs:324 — first 1k rows drive inference
_HDR_SEP = "\x1f"  # joins header names into one string column
_MARKERS = ["_c0", "_c1", "_c2", "_c3"]  # marker, table, subtable, version
# functions.date_from_filename's two patterns (chunk.rs:258-308)
_COMPACT_DATE = re.compile(r"(20[0-3]\d)(0[1-9]|1[0-2])(0[1-9]|[12]\d|3[01])", re.ASCII)
_DASHED_DATE = re.compile(r"(20[0-3]\d)[-_](0[1-9]|1[0-2])[-_](0[1-9]|[12]\d|3[01])", re.ASCII)


def nem_segmenter():
    """Build the I/D grammar segmenter ``segment(text)`` → one
    ``(table_key, headers, body)`` tuple per block.

    An ``I,`` row with >= 5 csv fields opens a block (table_key =
    fields 1-3 joined "---", headers = the rest joined by _HDR_SEP,
    csv-parsed so quoting round-trips); a short/malformed I row keeps
    the CURRENT block open (csv_batch_processor.rs:72-74 state-machine
    semantics); lines before the first I row belong to no block. An I
    row starts a line: the text starts with ``I,`` or it follows a
    ``\n``, and it ends at its first ``\r`` or ``\n``. A block's body
    is the raw text from the end of its I row to the next I row (C/D/
    other rows alike — callers filter), less the short I rows it runs
    past. Callers split it into lines on ``\n``, a ``\r\n`` as one
    break and a trailing ``\r`` dropped, so a quoted field holding any
    other line-break character (``\x0c``, ``\u2028``, ...) stays inside
    its row. The I-row scan is C-level ``str.find``, with no Python step
    per line.

    Built in function scope on purpose: cloudpickle ships the returned
    closure BY VALUE, so executors in a foreign-driver deployment never
    import ``nemscraper_spark`` to run it. Stdlib only. Shared by the
    driver-side :func:`ingest` and the executor-side ``nemcsv``
    connector (sources/nemsource.py)."""
    import csv as _csv

    sep = _HDR_SEP

    def segment(text: str) -> list[tuple[str, str, str]]:
        starts = [0] if text.startswith("I,") else []
        at = text.find("\nI,")
        while at >= 0:
            starts.append(at + 1)
            at = text.find("\nI,", at + 3)
        starts.append(len(text))
        blocks: list[tuple[str, str, list[str]]] = []
        for start, end in zip(starts, starts[1:]):
            eol = text.find("\n", start, end)
            eol = end if eol < 0 else eol
            cr = text.find("\r", start, eol)
            eol = eol if cr < 0 else cr  # the I row ends at its first \r or \n
            row = next(_csv.reader([text[start:eol]]))
            if len(row) >= 5:
                blocks.append(("---".join(row[1:4]), sep.join(row[4:]), [text[eol:end]]))
            elif blocks:
                blocks[-1][2].append(text[eol:end])
        return [(key, headers, "".join(body)) for key, headers, body in blocks]

    return segment


def file_date(name: str) -> str:
    """Python twin of ``functions.date_from_filename``: ``YYYY-MM-DD``
    from an 8-digit ``YYYYMMDD`` or a ``YYYY-MM-DD`` / ``YYYY_MM_DD``
    run in ``name`` (years 2000-2039), else ``unknown-date``."""
    m = _COMPACT_DATE.search(name) or _DASHED_DATE.search(name)
    return "-".join(m.groups()) if m else "unknown-date"


def infer_types(samples: dict[str, str | None]) -> dict[str, str]:
    """First-non-null single-value inference (chunk.rs:85-130), with the
    parsers ingest then casts with (evolve.arrow_cast): a sample that
    casts to float64 → double; else one that casts to a NEM timestamp →
    timestamp; else string. So no column's first value is nulled by its
    own type's cast. Returns column → {'double','timestamp','string'}."""
    t = pa.table({c: pa.array([v], pa.string()) for c, v in samples.items()})
    # a zone shifts a parsed time but never nulls it, so UTC decides for every zone
    casts = {
        kind: arrow_cast(t, written_schema(dict.fromkeys(samples, kind)), "UTC")
        for kind in ("double", "timestamp")
    }
    return {
        c: next((k for k, cast in casts.items() if cast.column(c)[0].is_valid), "string")
        for c in samples
    }


def _list_inputs(input_path: str | list[str]) -> list[str]:
    """A list as is; a directory or a glob's ``*.zip`` / ``*.csv`` files."""
    if isinstance(input_path, list):
        return input_path
    head, pattern = input_path, "*"
    if any(ch in posixpath.basename(input_path) for ch in "*?["):
        head, pattern = posixpath.split(input_path)
    return [
        f
        for f in fsutil.list_files(head)
        if fnmatch.fnmatch(posixpath.basename(f), pattern)
        and f.lower().endswith((".zip", ".csv"))
    ]


def _blocks(path: str, segment) -> list[tuple[str, str, str]]:
    """The blocks of each ``*.csv`` member of a ZIP, or of a CSV, in
    order. A member's decoded text goes once it is segmented."""
    with fsutil.open_input(path) as fh:
        raw = fh.read()
    if not path.lower().endswith(".zip"):
        return segment(raw.decode("utf-8", "replace"))
    with zipfile.ZipFile(io.BytesIO(raw)) as zf:
        return [
            block
            for m in zf.namelist()
            if m.lower().endswith(".csv")
            for block in segment(zf.read(m).decode("utf-8", "replace"))
        ]


def _d_rows(text: str, headers: list[str]) -> pa.Table | None:
    """The D-rows of a block's text as raw string columns named
    ``headers``, or None if it holds none. A row of the wrong width is
    null-padded or truncated in its place, as Spark's PERMISSIVE
    ``from_csv`` does (csv_batch_processor.rs:80-88)."""
    if not text.strip("\r\n"):  # pyarrow rejects an empty input
        return None
    names = _MARKERS + headers
    ragged: list[tuple[int, str]] = []

    def keep(row) -> str:
        ragged.append((row.number, row.text))
        return "skip"

    t = pacsv.read_csv(
        pa.py_buffer(text.encode("utf-8")),
        # serial, so the handler sees every row's number
        read_options=pacsv.ReadOptions(column_names=names, use_threads=False),
        parse_options=pacsv.ParseOptions(invalid_row_handler=keep),
        convert_options=pacsv.ConvertOptions(
            column_types=dict.fromkeys(names, pa.string()),
            strings_can_be_null=False,
            quoted_strings_can_be_null=False,
        ),
    )
    fixed = [(n, row) for n, line in ragged for row in csv.reader([line]) if row[:1] == ["D"]]
    if fixed:
        pad = [None] * len(names)
        cols = zip(*((row + pad)[: len(names)] for _, row in fixed))
        extra = pa.Table.from_arrays([pa.array(c, pa.string()) for c in cols], names=names)
        # row numbers count the non-empty rows, kept and skipped alike
        n_rows = t.num_rows + len(ragged)
        kept = np.setdiff1d(np.arange(1, n_rows + 1), [n for n, _ in ragged])
        order = np.argsort(np.concatenate([kept, [n for n, _ in fixed]]), kind="stable")
        t = pa.concat_tables([t, extra]).take(order)
    t = t.filter(pc.equal(t.column(0), "D")).select(range(len(_MARKERS), len(names)))
    return t if t.num_rows else None


def _cleaned(c):
    """A text column as written: cleaned (clean_str), with "" as null
    (chunk.rs:211-216)."""
    s = clean_text(c)
    return pc.if_else(pc.equal(s, ""), None, s)


class Ingested(dict):
    """``{table_key: rows}`` of one :func:`ingest` call; ``failed`` lists
    each input file it skipped as ``{"filename", "reason"}``."""

    def __init__(self, counts: dict[str, int], failed: list[dict[str, str]]):
        super().__init__(counts)
        self.failed = failed


def ingest(spark: SparkSession, input_path: str | list[str], out_dir: str) -> Ingested:
    """Full S4-S7 pipeline: parse → per-table typed tables → Hive
    ``date=`` partitioned parquet under ``out_dir/<TABLE>/``.

    ``input_path`` is a list of files, or a directory or glob whose
    ``*.zip`` / ``*.csv`` files are read. Blocks are grouped by
    (table, I-header), so two header versions of one table in one call
    each keep their own columns. Each group's types come from its first
    ``INFERENCE_SAMPLE_ROWS`` D-rows; text that does not parse as the
    inferred type becomes null. Timestamps are NEM text in the Spark
    session time zone, the only thing ``spark`` supplies.

    Partition value = date extracted from the source FILENAME
    (chunk.rs:258-308, 348-351), not from row data. Files are written
    as the compactor (plans/compact.py) writes them: the written types
    of ``evolve.written_schema`` with fields sorted by name, through
    ``fsutil.write_parquet``. So a partition that one tick writes is
    already at rest; the compactor merges a partition once it holds two
    or more files.

    A file that cannot be read, unzipped or tokenized (a truncated or
    empty ZIP, a corrupt member) is skipped whole and listed in the
    result's ``failed``; every other file is still ingested.

    Returns {table_key: row_count} over every file of each table written
    to (footers only), so callers can run the conservation check
    (verify.rs:56-133: D-row count == parquet row count).
    """
    tz = spark.conf.get("spark.sql.session.timeZone")
    segment = nem_segmenter()
    failed: list[dict[str, str]] = []

    def skip(path: str, e: Exception) -> None:
        _LOG.warning("ingest skipped %s", path, exc_info=e)
        failed.append({"filename": posixpath.basename(path), "reason": f"{type(e).__name__}: {e}"})

    def write(key: str, date: str, t: pa.Table, schema: pa.Schema) -> None:
        # text columns are cleaned here; arrow_cast cleans the ones it parses
        cols = [
            _cleaned(c) if schema.field(name).type == pa.string() else c
            for name, c in zip(t.column_names, t.columns)
        ]
        t = pa.Table.from_arrays(cols, names=t.column_names)
        fsutil.write_parquet(
            posixpath.join(out_dir, key, f"date={date}"), schema, [arrow_cast(t, schema, tz)]
        )

    keys, writes = set(), []
    with ThreadPoolExecutor(max_workers=8) as pool:
        # a file's blocks are tokenized while the next file is read
        files = []
        for path in _list_inputs(input_path):
            try:
                blocks = _blocks(path, segment)
            except Exception as e:  # noqa: BLE001 - one bad file must not stall the rest
                skip(path, e)
                continue
            tasks = [
                ((key, headers), pool.submit(_d_rows, text, headers.split(_HDR_SEP)))
                for key, headers, text in blocks
            ]
            files.append((path, tasks))
        # each (table, I-header) group's tables by file date, both in input order
        groups: dict[tuple[str, str], dict[str, list[pa.Table]]] = {}
        while files:  # popped, so only the groups hold the tables
            path, tasks = files.pop(0)
            try:
                tables = [(group, f.result()) for group, f in tasks]
            except Exception as e:  # noqa: BLE001
                skip(path, e)
                continue
            date = file_date(posixpath.basename(path))
            for group, t in tables:
                part = groups.setdefault(group, {}).setdefault(date, [])
                if t is not None:
                    part.append(t)
        for group in list(groups):  # popped, so a group's tables go once they are written
            key, headers = group
            parts = [(date, pa.concat_tables(ts)) for date, ts in groups.pop(group).items() if ts]
            if not parts:
                continue
            head = pa.concat_tables(t for _, t in parts).slice(0, INFERENCE_SAMPLE_ROWS)
            # each column's first value that is not empty once cleaned, as
            # raw text: arrow_cast cleans it once, as it cleans the column
            firsts = [c.filter(pc.not_equal(clean_text(c), "")) for c in head.columns]
            samples = {
                h: c[0].as_py() if len(c) else None
                for h, c in zip(headers.split(_HDR_SEP), firsts)
            }
            schema = written_schema(infer_types(samples))
            writes += [pool.submit(write, key, date, t, schema) for date, t in parts]
            keys.add(key)
        for w in writes:
            w.result()
    counts = {k: fsutil.parquet_rows(posixpath.join(out_dir, k)) for k in sorted(keys)}
    return Ingested(counts, failed)
