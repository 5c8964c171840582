"""Evolved-schema parquet reader (SURVEY.md §1.3, custom code #3).

Spark's mergeSchema handles union-of-fields with compatible types but
FAILS on string-vs-double / string-vs-timestamp conflicts. The
reference resolves those with a supertype lattice on compaction
(compactor.rs:230-256, 335-406):

    Utf8 < Float64          Utf8 < Timestamp      (nullability ORed,
    fields unioned, sorted alphabetically, missing columns null-filled)

Implementation: one metadata-only pyarrow footer pass (like
compactor.rs:199-227 — no data read) gives the evolved target and each
file's Spark types, as Spark's schema inference would give them. Files
whose types agree share one scan, handed that schema (so no inference
job starts); each scan is cast to the target, and unionByName joins
only scans whose types conflict. Ordinary DataFrame code — no
Catalyst extension needed (SURVEY.md §4). Text that does not parse
becomes null (compactor.rs:409-479), under ANSI too (try_cast);
``arrow_cast`` is the same cast on an arrow batch, for plans/compact.py.

At scale the footer pass is O(|files|) driver-side metadata reads
(parallelizable with a thread pool); the data pass stays fully
distributed and each file group keeps pushdown/pruning because casts
sit above per-group scans, not above a lowest-common-denominator
all-string scan.
"""

from __future__ import annotations

import re
from collections.abc import Collection
from functools import reduce

import pyarrow as pa
import pyarrow.compute as pc
import pyarrow.parquet as pq
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

from nemscraper_spark.functions import clean_str
from nemscraper_spark.functions.columns import NEM_TS_FORMAT
from nemscraper_spark.sources import fsutil

_STRINGY = {pa.string(), pa.large_string()}


def _rank(t: pa.DataType) -> int:
    if t in _STRINGY:
        return 0
    return 1


def evolve_types(a: pa.DataType, b: pa.DataType) -> pa.DataType:
    """Most-evolved of two arrow types under the reference lattice."""
    if a.equals(b):
        return a
    # Utf8 promotes to anything non-string (compactor.rs:230-256)
    if _rank(a) < _rank(b):
        return b
    if _rank(b) < _rank(a):
        return a
    # timestamps: normalize to the NEM fixed offset (compactor.rs:409-427)
    if pa.types.is_timestamp(a) and pa.types.is_timestamp(b):
        return pa.timestamp("ms", tz="+10:00")
    # int widening to the wider numeric
    if pa.types.is_integer(a) and pa.types.is_floating(b):
        return b
    if pa.types.is_floating(a) and pa.types.is_integer(b):
        return a
    if pa.types.is_integer(a) and pa.types.is_integer(b):
        return pa.int64()
    raise TypeError(f"no supertype for {a} vs {b}")


def _footers(files: list[str]) -> list[tuple[pa.Schema, pq.ParquetSchema]]:
    """Each file's arrow schema and parquet schema, from its footer
    alone (compactor.rs:199-227: no data read)."""
    out = []
    for f in files:
        with fsutil.open_input(f) as fh:
            pf = pq.ParquetFile(fh)
            out.append((pf.schema_arrow, pf.schema))
    return out


def _lattice(schemas) -> dict[str, pa.DataType]:
    """Union-of-fields + supertype per field across arrow schemas,
    alphabetically ordered (compactor.rs:335-406)."""
    fields: dict[str, pa.DataType] = {}
    for sch in schemas:
        for field in sch:
            if field.name in fields:
                fields[field.name] = evolve_types(fields[field.name], field.type)
            else:
                fields[field.name] = field.type
    return dict(sorted(fields.items()))


def evolved_schema(files: list[str]) -> dict[str, pa.DataType]:
    """The evolved target of ``files``, from their parquet footers."""
    return _lattice(arrow for arrow, _ in _footers(files))


# arrow type → the Spark type Spark's parquet schema inference gives it
# (timestamps and decimals are handled in _spark_types)
_INFERRED = (
    (pa.types.is_string, T.StringType()),
    (pa.types.is_large_string, T.StringType()),
    (pa.types.is_float64, T.DoubleType()),
    (pa.types.is_int64, T.LongType()),
    (pa.types.is_int32, T.IntegerType()),
    (pa.types.is_boolean, T.BooleanType()),
    (pa.types.is_date32, T.DateType()),
)


def wall_clock_columns(arrow: pa.Schema, parquet: pq.ParquetSchema, ntz: bool) -> set[str]:
    """The columns of one file's footer that Spark's parquet inference
    reads as ``timestamp_ntz``: naive timestamps not stored as INT96,
    when ``ntz`` (spark.sql.parquet.inferTimestampNTZ.enabled). Spark
    casts them to ``timestamp`` as wall-clock times in the session
    zone."""
    if not ntz:
        return set()
    stored = (parquet.column(i) for i in range(len(parquet)))
    int96 = {col.path for col in stored if col.physical_type == "INT96"}
    return {
        f.name
        for f in arrow
        if pa.types.is_timestamp(f.type) and f.type.tz is None and f.name not in int96
    }


def _spark_types(
    file: str, arrow: pa.Schema, parquet: pq.ParquetSchema, ntz: bool
) -> dict[str, T.DataType]:
    """``{name: Spark type}`` of one file's footer, as Spark's parquet
    schema inference gives it: a timestamp stored as INT96 or with a
    time zone is a ``timestamp``, any other a ``timestamp_ntz`` when
    ``ntz`` (wall_clock_columns). A type this map does not know raises
    ``TypeError``."""
    stored = {parquet.column(i).path: parquet.column(i) for i in range(len(parquet))}
    local = wall_clock_columns(arrow, parquet, ntz)
    out = {}
    for field in arrow:
        t = field.type
        if pa.types.is_timestamp(t):
            if "nanoseconds" in str(stored[field.name].logical_type):
                sp = None  # Spark reads no TIMESTAMP(NANOS) as a timestamp
            else:
                sp = T.TimestampNTZType() if field.name in local else T.TimestampType()
        elif pa.types.is_decimal128(t):
            sp = T.DecimalType(t.precision, t.scale)
        else:
            sp = next((s for is_t, s in _INFERRED if is_t(t)), None)
        if sp is None:
            raise TypeError(f"column {field.name!r} of {file}: no Spark type for parquet {t}")
        out[field.name] = sp
    return out


def _spark_cast(col: str, t: pa.DataType, src: T.DataType):
    """Column ``col`` of Spark type ``src`` as the evolved type ``t``: text
    is cleaned and parsed, timestamps as NEM text (chunk.rs:425-444)."""
    c = F.col(col)
    to = _written(t)[0]
    if isinstance(src, T.StringType) and to != "string":
        c = clean_str(c)
        if to == "timestamp":
            return F.try_to_timestamp(c, F.lit(NEM_TS_FORMAT)).alias(col)
    return c.try_cast(to).alias(col)


_NEM_STRPTIME = "%Y/%m/%d %H:%M:%S"  # NEM_TS_FORMAT
# the text NEM_TS_FORMAT takes under Spark's strict parser, less the
# day-of-month check (RE2's \d is ASCII only, as Spark's digits are)
_NEM_TS_TEXT = r"^\d{4}/(0[1-9]|1[0-2])/(0[1-9]|[12]\d|3[01]) ([01]\d|2[0-3]):[0-5]\d:[0-5]\d$"
# text that Spark's try_cast takes as a double / long / boolean (Java's
# "d"/"f" suffixes and longs of 19 digits are left out: they parse null)
_DOUBLE_TEXT = r"^[+-]?(\d+\.?\d*|\.\d+)([eE][+-]?\d+)?$|^(?i:[+-]?(inf|infinity|nan))$"
_LONG_TEXT = r"^[+-]?\d{1,18}$"
_TRUE_TEXT = pa.array(["t", "true", "y", "yes", "1"])
_BOOL_TEXT = pa.array(["t", "true", "y", "yes", "1", "f", "false", "n", "no", "0"])


def written_schema(target: dict[str, pa.DataType | str]) -> pa.Schema:
    """The arrow schema ingest and the compactor write for evolved
    arrow types or inferred Spark type names: written types, fields
    sorted by name (compactor.rs:335-406)."""
    return pa.schema([(name, _written(t)[1]) for name, t in sorted(target.items())])


def arrow_cast(
    batch: pa.RecordBatch | pa.Table,
    schema: pa.Schema,
    tz: str,
    wall_clock: Collection[str] = (),
):
    """``_spark_cast`` on one arrow batch or table: every column of
    ``schema`` (a ``written_schema``) from ``batch``, typed nulls where
    the batch lacks it. Text is cleaned (clean_str) and parsed to null on
    failure; NEM timestamps, and the naive timestamp columns named in
    ``wall_clock`` (Spark's ``timestamp_ntz``, see wall_clock_columns),
    are wall-clock times in the Spark session zone ``tz``. Other naive
    timestamps (Spark's INT96) are UTC instants."""
    cols = []
    for name, t in zip(schema.names, schema.types):
        if name not in batch.schema.names:
            cols.append(pa.nulls(batch.num_rows, t))
            continue
        c = batch.column(name)
        if c.type not in _STRINGY or t == pa.string():
            if name in wall_clock:
                c = _to_utc(c, tz)
            cols.append(pc.cast(c, t, safe=False))
            continue
        s = clean_text(c)
        if pa.types.is_timestamp(t):
            # strptime takes one-digit fields and rolls 2025/02/30 over
            # into March; Spark's strict parser gives null for both. The
            # shape check keeps zero-padded, in-range fields only; the day
            # check drops a date that rolled over.
            s = pc.if_else(pc.match_substring_regex(s, _NEM_TS_TEXT), s, None)
            local = pc.strptime(s, format=_NEM_STRPTIME, unit="s", error_is_null=True)
            day = pc.utf8_slice_codeunits(s, 8, 10).cast(pa.int64())
            local = pc.if_else(pc.equal(pc.day(local), day), local, None)
            cols.append(_to_utc(local, tz).cast(t))
        elif pa.types.is_boolean(t):
            low = pc.utf8_lower(s)
            cols.append(pc.if_else(pc.is_in(low, _BOOL_TEXT), pc.is_in(low, _TRUE_TEXT), None))
        else:
            ok = pc.match_substring_regex(s, _LONG_TEXT if pa.types.is_integer(t) else _DOUBLE_TEXT)
            cols.append(pc.if_else(ok, pc.utf8_ltrim(s, characters="+"), None).cast(t))
    return type(batch).from_arrays(cols, schema=schema)


def clean_text(s):
    """``clean_str`` on an arrow string array: trim spaces, then strip
    one pair of outer double quotes (chunk.rs:21-28)."""
    s = pc.utf8_trim(s, characters=" ")
    if not pc.any(pc.starts_with(s, '"')).as_py():  # no quote to strip: skip the regex
        return s
    return pc.replace_substring_regex(s, pattern='^"(.*)"$', replacement=r"\1")


def _to_utc(local: pa.Array, tz: str) -> pa.Array:
    """Naive wall-clock times in zone ``tz`` as UTC instants, resolved
    as java.time does: a DST overlap takes the earlier instant, a time
    in a DST gap moves later by the gap's length."""
    m = re.fullmatch(r"([+-])(\d\d):(\d\d)", tz)
    if m is None:
        u = pc.assume_timezone(local, timezone=tz, ambiguous="earliest", nonexistent="earliest")
        return pc.add(u, pc.subtract(local, pc.local_timestamp(u)))  # 0 outside a gap
    offset = int(m[1] + "1") * (int(m[2]) * 3600 + int(m[3]) * 60)
    utc = local.cast(pa.timestamp(local.type.unit, tz="UTC"))
    return pc.subtract(utc, pa.scalar(offset, pa.duration("s")))


def read_evolved(spark: SparkSession, files: list[str]) -> DataFrame:
    """Read many parquet files as one DataFrame under the evolved
    schema, null-filling missing columns.

    One footer pass gives the evolved target and each file's Spark
    types. A file joins the first group whose types never give one of
    its columns a different type, so files that only lack columns share
    a group. Each group is ONE distributed scan handed its schema
    (``spark.read.schema``: no schema-inference job; Spark null-fills
    a column a file lacks) and listed without a job, cast to the
    target; groups whose types conflict (string vs double, say) are
    unioned by name.
    """
    if not files:
        raise ValueError("read_evolved: no files given")
    footers = _footers(files)
    target = _lattice(arrow for arrow, _ in footers)
    ntz = spark.conf.get("spark.sql.parquet.inferTimestampNTZ.enabled").lower() == "true"
    groups: list[tuple[dict[str, T.DataType], list[str]]] = []
    for f, (arrow, parquet) in zip(files, footers):
        types = _spark_types(f, arrow, parquet, ntz)
        for group_types, group_files in groups:
            if all(group_types.get(name, t) == t for name, t in types.items()):
                group_types.update(types)
                group_files.append(f)
                break
        else:
            groups.append((types, [f]))

    parts = []
    for types, group_files in groups:
        schema = T.StructType([T.StructField(name, t) for name, t in types.items()])
        df = _scan(spark, schema, group_files)
        cols = []
        for name, t in target.items():
            if name in types:
                cols.append(_spark_cast(name, t, types[name]))
            else:
                cols.append(F.lit(None).cast(_written(t)[0]).alias(name))
        parts.append(df.select(*cols))
    return reduce(lambda a, b: a.unionByName(b, allowMissingColumns=True), parts)


_LISTING_THRESHOLD = "spark.sql.sources.parallelPartitionDiscovery.threshold"


def _scan(spark: SparkSession, schema: T.StructType, files: list[str]) -> DataFrame:
    """One parquet scan of ``files`` handed ``schema``. Spark lists more
    paths than ``_LISTING_THRESHOLD`` with a job, so the threshold is
    raised to the file count around the call and then restored: the
    listing stays on the driver."""
    conf = spark.conf
    prev = conf.get(_LISTING_THRESHOLD, None)
    conf.set(_LISTING_THRESHOLD, str(max(len(files), int(prev or 0))))
    try:
        return spark.read.schema(schema).parquet(*files)
    finally:
        if prev is None:
            conf.unset(_LISTING_THRESHOLD)
        else:
            conf.set(_LISTING_THRESHOLD, prev)


# evolved arrow type → its Spark type and the arrow type ingest and the
# compactor write (anything else is a string)
_WRITTEN = (
    (pa.types.is_timestamp, "timestamp", pa.timestamp("us", tz="UTC")),
    (pa.types.is_floating, "double", pa.float64()),
    (pa.types.is_integer, "long", pa.int64()),
    (pa.types.is_boolean, "boolean", pa.bool_()),
)


def _written(t: pa.DataType | str) -> tuple[str, pa.DataType]:
    """``t`` is an evolved arrow type, or a Spark type name (ingest's
    inferred types, nemcsv.infer_types)."""
    return next(
        ((sp, ar) for is_t, sp, ar in _WRITTEN if (sp == t if isinstance(t, str) else is_t(t))),
        ("string", pa.string()),
    )


def list_parquet_files(root: str) -> list[str]:
    """All parquet data files under root (any partition depth), hidden
    ones left out as Spark leaves them out."""
    return fsutil.list_files(root, ".parquet", recursive=True)
