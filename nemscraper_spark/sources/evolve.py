"""Evolved-schema parquet reader (SURVEY.md §1.3, custom code #3).

Spark's mergeSchema handles union-of-fields with compatible types but
FAILS on string-vs-double / string-vs-timestamp conflicts. The
reference resolves those with a supertype lattice on compaction
(compactor.rs:230-256, 335-406):

    Utf8 < Float64          Utf8 < Timestamp      (nullability ORed,
    fields unioned, sorted alphabetically, missing columns null-filled)

Implementation: a metadata-only pyarrow footer pass (like
compactor.rs:199-227 — no data read), then per-file read + cast +
unionByName(allowMissingColumns=True). Ordinary DataFrame code — no
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


def evolved_schema(files: list[str]) -> dict[str, pa.DataType]:
    """Union-of-fields + supertype per field across parquet footers,
    alphabetically ordered (compactor.rs:335-406)."""
    fields: dict[str, pa.DataType] = {}
    for f in files:
        sch = pq.read_schema(f)
        for field in sch:
            if field.name in fields:
                fields[field.name] = evolve_types(fields[field.name], field.type)
            else:
                fields[field.name] = field.type
    return dict(sorted(fields.items()))


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


def arrow_cast(batch: pa.RecordBatch | pa.Table, schema: pa.Schema, tz: str):
    """``_spark_cast`` on one arrow batch or table: every column of
    ``schema`` (a ``written_schema``) from ``batch``, typed nulls where
    the batch lacks it. Text is cleaned (clean_str) and parsed to null on
    failure; NEM timestamps are wall-clock times in the Spark session
    zone ``tz``. Naive timestamps (Spark's INT96) are UTC instants."""
    cols = []
    for name, t in zip(schema.names, schema.types):
        if name not in batch.schema.names:
            cols.append(pa.nulls(batch.num_rows, t))
            continue
        c = batch.column(name)
        if c.type not in _STRINGY or t == pa.string():
            cols.append(pc.cast(c, t, safe=False))
            continue
        s = clean_text(c)
        if pa.types.is_timestamp(t):
            local = pc.strptime(s, format=_NEM_STRPTIME, unit="s", error_is_null=True)
            # strptime takes one-digit fields and rolls 2025/02/30 over
            # into March; Spark's strict parser gives null for both
            exact = pc.equal(pc.strftime(local, format=_NEM_STRPTIME), s)
            cols.append(_to_utc(pc.if_else(exact, local, None), tz).cast(t))
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
    return pc.subtract(local.cast(pa.timestamp("s", tz="UTC")), pa.scalar(offset, pa.duration("s")))


def read_evolved(spark: SparkSession, files: list[str]) -> DataFrame:
    """Read many parquet files as one DataFrame under the evolved
    schema, null-filling missing columns.

    Files are grouped by their field set (name → type; Spark reads
    parquet columns by name, so column order does not split a group) so
    each group is ONE distributed scan (not |files| jobs), then each
    group is cast to the evolved schema and unioned by name.
    """
    target = evolved_schema(files)
    groups: dict[frozenset, list[str]] = {}
    for f in files:
        fields = frozenset((fld.name, str(fld.type)) for fld in pq.read_schema(f))
        groups.setdefault(fields, []).append(f)

    parts = []
    for group_files in groups.values():
        df = spark.read.parquet(*group_files)
        present = {f.name: f.dataType for f in df.schema.fields}
        cols = []
        for name, t in target.items():
            if name in present:
                cols.append(_spark_cast(name, t, present[name]))
            else:
                cols.append(F.lit(None).cast(_written(t)[0]).alias(name))
        parts.append(df.select(*cols))
    return reduce(lambda a, b: a.unionByName(b, allowMissingColumns=True), parts)


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
