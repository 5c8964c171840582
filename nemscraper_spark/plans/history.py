"""Append-only history/ledger tables with dedup-by-key semantics
(SURVEY.md §2.8 M1/M3; reference src/history/table_history.rs).

The reference keeps an in-memory HashSet hydrated from per-row parquet
files and vacuums them into consolidated files every 30s
(table_history.rs:58-140). Spark-first equivalent:

  * the ledger IS a parquet table partitioned by date
  * membership stays a driver-side set, as in the reference: the
    service tick (scripts/run_pipeline.run_once) collects the key
    column of read() once per tick — one filename per ZIP, far smaller
    than the data it guards. In --streaming mode the stream checkpoint
    is the dedup set and this ledger only records what was ingested.
  * appends are plain partitioned writes; vacuum() compacts each
    partition's small files (M3)

Schemas per FIXTURES.md §C (downloaded / processed / compacted);
UInt64/UInt32 in the reference become long/int (Spark has no unsigned).
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

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


class TableHistory:
    """One ledger (downloaded/processed/compacted) rooted at
    ``root/<name>`` with `date=YYYYMMDD` partitions
    (table_history.rs:111-119)."""

    def __init__(self, spark: SparkSession, root: str, name: str):
        if name not in _SCHEMAS:
            raise ValueError(f"unknown history table {name!r}")
        self.spark = spark
        self.name = name
        self.path = os.path.join(root, name)
        self.schema = _SCHEMAS[name]

    def _exists(self) -> bool:
        import glob

        return bool(glob.glob(os.path.join(self.path, "date=*")))

    def read(self) -> DataFrame:
        if not self._exists():
            return self.spark.createDataFrame([], self.schema)
        return self.spark.read.schema(self.schema).parquet(self.path)

    def add(self, rows: DataFrame | list[dict]) -> None:
        """Append rows (keyed on the first timestamp column's date —
        the reference partitions by write date, table_history.rs:113)."""
        if not isinstance(rows, DataFrame):
            rows = self.spark.createDataFrame(
                [tuple(r.get(f.name) for f in self.schema.fields) for r in rows],
                self.schema,
            )
        ts_col = next(
            f.name for f in self.schema.fields if isinstance(f.dataType, T.TimestampType)
        )
        out = rows.withColumn(
            "date", F.date_format(F.coalesce(F.col(ts_col), F.current_timestamp()), "yyyyMMdd")
        )
        out.write.mode("append").partitionBy("date").parquet(self.path)

    def vacuum(self) -> None:
        """M3: merge each partition's many small files into one
        (table_history.rs:95-103, 143-185). Dynamic partition overwrite
        keeps the swap atomic per partition."""
        if not self._exists():
            return
        df = self.spark.read.schema(
            T.StructType(list(self.schema.fields) + [T.StructField("date", T.StringType())])
        ).option("basePath", self.path).parquet(self.path)
        (
            # hash-repartition on the partition column: each date lands
            # wholly in one task → exactly one output file per partition
            df.repartition("date")
            .write.mode("overwrite")
            .partitionBy("date")
            .option("partitionOverwriteMode", "dynamic")
            .parquet(self.path)
        )
