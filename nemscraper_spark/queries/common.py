"""Query registry plumbing + testdata loading.

Every query is a callable (spark, sf_dir) -> DataFrame registered together
with its DuckDB oracle SQL (or None for non-SQL-expressible operators —
the driver then records a rows-only check; see __spark_entry__.py).
"""

from __future__ import annotations

import os
from collections.abc import Callable
from dataclasses import dataclass, field

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

TABLES = (
    "region",
    "nation",
    "customer",
    "supplier",
    "part",
    "orders",
    "lineitem",
    "events",
    "documents",
    "embeddings",
)


@dataclass
class QuerySpec:
    name: str
    fn: Callable[[SparkSession, str], DataFrame]
    oracle: str | None
    tags: tuple[str, ...] = field(default_factory=tuple)


REGISTRY: dict[str, QuerySpec] = {}


def register(name: str, oracle: str | None, tags: tuple[str, ...] = ()):
    """Decorator: add a (query fn, oracle sql) pair to the registry."""

    def deco(fn: Callable[[SparkSession, str], DataFrame]):
        REGISTRY[name] = QuerySpec(name, fn, oracle, tags)
        return fn

    return deco


def dec_sum(col, scale: int = 4, precision: int = 25):
    """SUM(double) that hash-matches across engines.

    A plain double SUM depends on accumulation order (Spark partial aggs
    vs DuckDB's sequential scan), so the last bits differ run to run.
    Casting to DECIMAL first makes the aggregation exact integer
    arithmetic — identical in any engine and at any parallelism — and the
    single DECIMAL→DOUBLE conversion at the end is deterministic. The
    oracle SQL mirrors it as
    ``CAST(SUM(CAST(x AS DECIMAL(p,s))) AS DOUBLE)``.
    """
    c = F.col(col) if isinstance(col, str) else col
    return F.sum(c.cast(f"decimal({precision},{scale})")).cast("double")


def dec_avg(col, scale: int = 4, precision: int = 25):
    """AVG(double) via exact DECIMAL sum / COUNT — see dec_sum."""
    c = F.col(col) if isinstance(col, str) else col
    return dec_sum(c, scale, precision) / F.count(c)


def oracle_dec_sum(expr: str, scale: int = 4, precision: int = 25) -> str:
    return f"CAST(SUM(CAST({expr} AS DECIMAL({precision},{scale}))) AS DOUBLE)"


def oracle_dec_avg(expr: str, scale: int = 4, precision: int = 25) -> str:
    return f"{oracle_dec_sum(expr, scale, precision)} / COUNT({expr})"


def fan_out(df: DataFrame) -> DataFrame:
    """Spread a small input across all cores before compute-heavy
    per-row work (all-pairs loops, shingle explodes, hash towers).

    The local testdata arrives as ONE single-row-group parquet file per
    table, so every downstream map stage would otherwise run on one
    core out of 32. Guarded on the actual split count: on a real
    cluster the 100TB input already has >= parallelism splits and this
    is a no-op — it never introduces an extra shuffle on the scale
    path.
    """
    target = df.sparkSession.sparkContext.defaultParallelism
    if df.rdd.getNumPartitions() >= max(2, target // 2):
        return df
    out = df.repartition(target)
    tag = getattr(df, "_sg_table_tag", None)
    if tag is not None:
        out._sg_table_tag = tag
    return out


def fan_out_sized(df: DataFrame, n_rows: int, rows_per_task: int = 1000) -> DataFrame:
    """fan_out with width proportional to the row count.

    For Arrow/Pandas-UDF stages the per-task cost floor (python worker
    handshake + Arrow batch framing) is milliseconds — fanning 2k rows
    out to 32 partitions costs more in task overhead than the kernel
    computes. Width = ceil(n_rows / rows_per_task), capped at default
    parallelism; n_rows comes from parquet FOOTERS (driver-side
    metadata, no scan — the same stats AQE uses). On a real cluster the
    input already has >= width splits and this no-ops, exactly like
    fan_out.
    """
    target = min(
        df.sparkSession.sparkContext.defaultParallelism,
        max(2, -(-n_rows // rows_per_task)),
    )
    if df.rdd.getNumPartitions() >= target:
        return df
    return df.repartition(target)


def pairwise_cosine9(pairs: DataFrame) -> DataFrame:
    """(query_id, qe, neighbor_id, ce) -> (query_id, neighbor_id,
    cosine) with cosine ROUND(dot/(|q||c|), 9).

    Arrow+numpy re-rank kernel shared by the ANN variants. A flat
    64-term JVM expression would be bit-identical but its generated
    code is unique per invocation (expression IDs leak into the
    source), so janino recompiles ~seconds of codegen every run. The
    numpy loop accumulates dim-in-order — the exact float sequence of
    a sequential dot — and rounds via decimal HALF_UP, matching both
    Spark's ROUND and DuckDB's.
    """

    def fn(batches):
        import numpy as np
        import pandas as pd
        from decimal import ROUND_HALF_UP, Decimal

        for pdf in batches:
            n = len(pdf)
            if n == 0:
                continue
            Q = np.stack([np.asarray(v, dtype=np.float64) for v in pdf["qe"]])
            C = np.stack([np.asarray(v, dtype=np.float64) for v in pdf["ce"]])
            acc = np.zeros(n)
            qs = np.zeros(n)
            cs = np.zeros(n)
            for i in range(Q.shape[1]):
                acc += Q[:, i] * C[:, i]
                qs += Q[:, i] * Q[:, i]
                cs += C[:, i] * C[:, i]
            cos = acc / (np.sqrt(qs) * np.sqrt(cs))
            r9 = [
                float(Decimal(repr(x)).quantize(Decimal("1e-9"), ROUND_HALF_UP))
                for x in cos
            ]
            yield pd.DataFrame(
                {
                    "query_id": pdf["query_id"].astype("int64"),
                    "neighbor_id": pdf["neighbor_id"].astype("int64"),
                    "cosine": pd.Series(r9, dtype="float64"),
                }
            )

    return pairs.select("query_id", "qe", "neighbor_id", "ce").mapInPandas(
        fn, schema="query_id long, neighbor_id long, cosine double"
    )


def load_table(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    """Read one driver testdata table (TESTDATA.md).

    ``events.ts`` is written as parquet TIMESTAMP(NANOS). Older Spark
    vectorized readers reject it, so we enable legacy nanosAsLong and
    convert ns → µs with integer division (ns epochs exceed 2^53, so
    float math would corrupt them). Spark ≥4.1 instead reads NANOS
    natively as TIMESTAMP_NTZ (truncated to µs) and ignores the legacy
    conf — detect which schema we got and normalize to TIMESTAMP_NTZ.
    """
    path = os.path.join(sf_dir, f"{name}.parquet")
    if name == "events":
        spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
        df = spark.read.parquet(path)
        if dict(df.dtypes).get("ts") == "bigint":
            df = df.withColumn(
                "ts",
                F.timestamp_micros(F.expr("ts div 1000")).cast("timestamp_ntz"),
            )
    else:
        df = spark.read.parquet(path)
    # Provenance tag: certifies "this frame IS the untransformed table"
    # so shared-lineage caches (the corpus shingle/band cache in
    # training_data) can key on it. Any select/filter downstream
    # returns a new DataFrame without the attribute, which disables the
    # cache rather than ever serving a stale or mismatched frame.
    df._sg_table_tag = (str(sf_dir), name)
    return df
