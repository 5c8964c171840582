"""Append-only history/ledger tables with dedup-by-key semantics
(SURVEY.md §2.8 M1/M3; reference src/history/table_history.rs).

The reference keeps an in-memory HashSet hydrated from per-row parquet
files and vacuums them into consolidated files every 30s
(table_history.rs:58-140). The engine keeps that shape on the driver:

  * the ledger is a parquet table partitioned by ``date=YYYYMMDD``
    (the UTC date of the row's first timestamp, "now" when null);
  * membership is a driver-side set: ``keys()`` reads the key column
    of every part file with pyarrow, one filename per ZIP, far smaller
    than the data it guards. The service tick
    (scripts/run_pipeline.run_once) calls it once per ledger per tick
    and runs no Spark job for it;
  * ``add()`` writes one small parquet file per date on the driver
    through ``fsutil.write_parquet``, in the at-rest layout of every
    driver-written file, so ``file://`` / ``gs://`` roots work as bare
    paths do. Each file is staged as a hidden ``.<name>.tmp`` (Spark
    skips dot-files) and renamed into place;
  * ``vacuum()`` (M3) merges only partitions that hold two or more
    files, partition by partition (table_history.rs:143-185): its cost
    follows the tick's appends, not the ledger's age. A crash between
    the merged file's rename and the source deletes leaves duplicate
    rows, never a lost key; membership is a set, so dedup is
    unaffected;
  * ``read()`` returns the ledger as a Spark DataFrame of its declared
    fields, for queries and tests.

Schemas per FIXTURES.md §C (downloaded / processed / compacted);
UInt64/UInt32 in the reference become long/int (Spark has no unsigned).
Files written by Spark's own parquet writer (INT96 timestamps, ``.crc``
sidecars) read, merge and vacuum the same way.
"""

from __future__ import annotations

import posixpath
from datetime import datetime, timezone

import pyarrow as pa
import pyarrow.parquet as pq
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import types as T

from nemscraper_spark.sources import fsutil

DOWNLOADED_SCHEMA = T.StructType(
    [
        T.StructField("filename", T.StringType(), False),  # dedup key
        T.StructField("url", T.StringType(), True),
        T.StructField("size_bytes", T.LongType(), True),
        T.StructField("download_start", T.TimestampType(), True),
        T.StructField("download_end", T.TimestampType(), True),
        T.StructField("thread", T.IntegerType(), True),
    ]
)

PROCESSED_SCHEMA = T.StructType(
    [
        T.StructField("filename", T.StringType(), False),
        T.StructField("total_rows", T.LongType(), True),
        T.StructField("size_bytes", T.LongType(), True),
        T.StructField("processing_start", T.TimestampType(), True),
        T.StructField("processing_end", T.TimestampType(), True),
        T.StructField("thread", T.IntegerType(), True),
    ]
)

COMPACTED_SCHEMA = T.StructType(
    [
        T.StructField("input_file", T.StringType(), False),
        T.StructField("partition", T.DateType(), True),
        T.StructField("compaction_start", T.TimestampType(), True),
        T.StructField("compaction_end", T.TimestampType(), True),
        T.StructField("thread", T.IntegerType(), True),
    ]
)

_SCHEMAS = {
    "downloaded": DOWNLOADED_SCHEMA,
    "processed": PROCESSED_SCHEMA,
    "compacted": COMPACTED_SCHEMA,
}

_ARROW_TYPES = {
    T.StringType: pa.string(),
    T.LongType: pa.int64(),
    T.IntegerType: pa.int32(),
    T.TimestampType: pa.timestamp("us", tz="UTC"),
    T.DateType: pa.date32(),
}


class TableHistory:
    """One ledger (downloaded/processed/compacted) rooted at
    ``root/<name>`` with `date=YYYYMMDD` partitions
    (table_history.rs:111-119)."""

    def __init__(self, spark: SparkSession, root: str, name: str):
        if name not in _SCHEMAS:
            raise ValueError(f"unknown history table {name!r}")
        self.spark = spark
        self.name = name
        self.path = posixpath.join(root, name)
        self.schema = _SCHEMAS[name]
        self.arrow_schema = pa.schema(
            [
                pa.field(f.name, _ARROW_TYPES[type(f.dataType)], f.nullable)
                for f in self.schema.fields
            ]
        )

    def _partitions(self) -> dict[str, list[str]]:
        """Each ``date=`` partition's parquet files, by partition path."""
        return {
            part: fsutil.list_files(part, suffix=".parquet")
            for part in fsutil.list_dirs(self.path, name_prefix="date=")
        }

    def _read_file(self, path: str, columns: list[str] | None = None) -> pa.Table:
        with fsutil.open_input(path) as fh:
            return pq.read_table(fh, columns=columns)

    def keys(self) -> set:
        """The values of the ledger's key column (its first field)."""
        key = self.schema.fields[0].name
        return {
            k
            for files in self._partitions().values()
            for f in files
            for k in self._read_file(f, [key]).column(0).to_pylist()
        }

    def read(self) -> DataFrame:
        """The declared fields, nullable as a parquet scan reads them
        (no ``date`` partition column), whether empty or not."""
        if not fsutil.list_dirs(self.path, name_prefix="date="):
            fields = [T.StructField(f.name, f.dataType) for f in self.schema.fields]
            return self.spark.createDataFrame([], T.StructType(fields))
        df = self.spark.read.schema(self.schema).parquet(self.path)
        return df.select(*self.schema.fieldNames())

    def add(self, rows: list[dict]) -> None:
        """Append rows, one file per UTC date of the first timestamp
        column (the reference partitions by write date,
        table_history.rs:113). A null timestamp dates the row now.
        Naive datetimes are driver-local time, as Spark's
        ``createDataFrame`` reads them."""
        ts_cols = [
            f.name for f in self.schema.fields if isinstance(f.dataType, T.TimestampType)
        ]
        now = datetime.now(timezone.utc)
        by_date: dict[str, list[dict]] = {}
        for r in rows:
            rec = {f.name: r.get(f.name) for f in self.schema.fields}
            for c in ts_cols:
                if rec[c] is not None:
                    rec[c] = rec[c].astimezone(timezone.utc)
            day = (rec[ts_cols[0]] or now).strftime("%Y%m%d")
            by_date.setdefault(day, []).append(rec)
        for day, recs in by_date.items():
            fsutil.write_parquet(
                posixpath.join(self.path, f"date={day}"),
                self.arrow_schema,
                [pa.Table.from_pylist(recs, schema=self.arrow_schema)],
            )

    def vacuum(self) -> None:
        """M3: merge each partition that holds two or more files into
        one (table_history.rs:95-103, 143-185); single-file partitions
        are not touched. Sources are cast to the ledger's arrow schema
        (Spark-written files carry INT96 timestamps), the merged file
        is renamed into place, then the sources and their Hadoop
        ``.crc`` sidecars are deleted. A crash before the deletes
        leaves duplicate rows, never a lost key."""
        names = self.arrow_schema.names
        for part, files in self._partitions().items():
            if len(files) < 2:
                continue
            fsutil.write_parquet(
                part,
                self.arrow_schema,
                (self._read_file(f).select(names).cast(self.arrow_schema) for f in files),
            )
            for f in files:
                fsutil.delete_with_crc(f)
