"""nemscraper_spark — a PySpark-native analytics engine with the query and
data-processing capabilities of brensch/nemscraper.

Built from scratch on the public Apache Spark DataFrame/SQL API. The
reference (read-only at /root/reference) is a Rust/Polars/DuckDB system;
this package re-expresses WHAT it computes in idiomatic Spark, letting
Catalyst/Tungsten pick the physical strategies the reference hand-rolls
(predicate pushdown, partition pruning, vectorized parquet IO, atomic
output commit — see SURVEY.md §4).

Layout:
  session     SparkSession factory with the engine's canonical configs
  sources     NEM-CSV splitter, typed parquet ingest, evolved-schema reader
  operators   relational / time-series / dedup / similarity / text operators
  functions   shared column-expression helpers (clean_str, time buckets, ...)
  plans       maintenance jobs: compaction, history ledgers
  streaming   stateful Structured Streaming operators (sessionization)
  queries     the driver-facing query registry (__spark_entry__ re-exports)
"""

from nemscraper_spark.session import get_spark

__all__ = ["get_spark"]
__version__ = "0.1.0"
