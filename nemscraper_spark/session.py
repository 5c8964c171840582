"""SparkSession factory.

The reference pins a fixed +10:00 offset for all NEM timestamps
(/root/reference/src/process/chunk.rs:425-444 stores epoch-millis with a
"+10:00" zone, AEST, no DST). For the NEM ingest path we honour that via
``NEM_TIMEZONE``; the analytics/oracle surface runs in UTC so results are
bit-identical with naive-timestamp engines (DuckDB).

Scale notes (the configs below are chosen for a real cluster, merely
exercised on local[N]):
  - AQE on: runtime shuffle-partition coalescing + skew-join splitting
    replaces the reference's hand-tuned batch sizes (BASELINE.md).
  - shuffle.partitions defaults to cores locally; on a 1000-executor
    cluster it should be ~2-3x total cores — pass via ``extra_conf``.
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession

NEM_TIMEZONE = "+10:00"  # chunk.rs:436 — fixed offset, never DST

_DEFAULTS = {
    "spark.sql.adaptive.enabled": "true",
    "spark.sql.adaptive.coalescePartitions.enabled": "true",
    "spark.sql.adaptive.skewJoin.enabled": "true",
    "spark.sql.session.timeZone": "UTC",
    "spark.sql.execution.arrow.pyspark.enabled": "true",
    # the reference appends to hive-style date= partitions; dynamic mode
    # makes per-partition rewrites atomic without clobbering siblings
    "spark.sql.sources.partitionOverwriteMode": "dynamic",
    # explicit per-read (evolved-schema resolver handles the hard cases)
    "spark.sql.parquet.mergeSchema": "false",
    # ~128MB input splits hold at 100TB: a 1000-executor cluster gets
    # ~800k well-sized tasks rather than a handful of monster partitions
    "spark.sql.files.maxPartitionBytes": "134217728",
    "spark.serializer": "org.apache.spark.serializer.KryoSerializer",
}


def get_spark(
    app_name: str = "nemscraper_spark",
    master: str | None = None,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    """Build (or fetch) the engine's SparkSession.

    ``SPARK_GRAFT_CPUS`` controls local parallelism (driver contract);
    on a real cluster pass ``master=None`` with a cluster manager URL in
    the environment and override via ``extra_conf``.
    """
    cpus = os.environ.get("SPARK_GRAFT_CPUS", "32")
    if master is None:
        master = f"local[{cpus}]"
    builder = SparkSession.builder.appName(app_name).master(master)
    conf = dict(_DEFAULTS)
    conf.setdefault("spark.sql.shuffle.partitions", cpus)
    conf.setdefault("spark.default.parallelism", cpus)
    if master.startswith("local"):
        conf.setdefault("spark.driver.memory", os.environ.get("SPARK_GRAFT_DRIVER_MEM", "48g"))
        conf.setdefault("spark.ui.enabled", "false")
    if extra_conf:
        conf.update(extra_conf)
    for k, v in conf.items():
        builder = builder.config(k, v)
    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    return spark

