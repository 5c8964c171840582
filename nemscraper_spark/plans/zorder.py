"""Z-order (Morton-curve) data layout for multi-dimensional pruning.

A 100 TB table is usually filtered on more than one column (time AND
entity, source AND quality bucket).  Sorting the files by one column
makes parquet min/max skipping perfect on that column and useless on
every other; interleaving the bits of several columns (the Z-order /
Morton curve — the same layout Delta's OPTIMIZE ZORDER BY and
Databricks clustering use) keeps every participating column's values
LOCALLY RANGE-BOUNDED per file, so row-group/file skipping works on
each of them.

Spark-first mechanics: the curve key is a pure codegen expression
(bit tests + shifts — no UDF), the layout is one
``repartitionByRange(zkey)`` (range exchange with sampled bounds — the
same machinery as a global sort, linear and spill-safe) plus a
``sortWithinPartitions``, and the payoff needs no reader cooperation:
the parquet footer stats do the pruning for any engine that reads the
files.

The bit-interleave formula is generated ONCE in Python and rendered to
both the Spark and DuckDB dialects, so the curve key itself is
oracle-checkable bit for bit (`zorder_curve_keys` in the registry).
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


def morton_formula(cols: list[str], bits: int, dialect: str) -> str:
    """Bit-interleave expression for `cols` (each already a non-negative
    integer in [0, 2**bits)): bit i of column j lands at position
    i * len(cols) + j.  Rendered for dialect 'spark' (shiftleft/
    shiftright functions) or 'duckdb' (<< >> operators); the arithmetic
    — and therefore the result — is identical.
    """
    n = len(cols)
    terms = []
    for j, c in enumerate(cols):
        src = f"CAST({c} AS BIGINT)"
        for i in range(bits):
            out = i * n + j
            if dialect == "spark":
                terms.append(f"shiftleft(shiftright({src}, {i}) & 1, {out})")
            else:
                terms.append(f"((({src} >> {i}) & 1) << {out})")
    return " + ".join(terms)


def with_zkey(
    df: DataFrame, cols: list[str], bits: int = 10, key: str = "zkey"
) -> DataFrame:
    """Add the Morton key over `cols`, each first QUANTIZED into
    [0, 2**bits) by min/max range scaling — masking instead would wrap
    values and scatter a column's locality across the curve.

    The min/max pass is one partial-aggregated scan collecting
    2×len(cols) scalars (at 100 TB: the same cheap stats AQE/footers
    already hold; a writer could read them from metadata instead)."""
    stats = df.agg(
        *[F.min(c).cast("long").alias(f"lo_{i}") for i, c in enumerate(cols)],
        *[F.max(c).cast("long").alias(f"hi_{i}") for i, c in enumerate(cols)],
    ).collect()[0]
    n_buckets = 1 << bits
    mask = n_buckets - 1
    quantized = []
    for i, c in enumerate(cols):
        lo, hi = stats[f"lo_{i}"], stats[f"hi_{i}"]
        span = max(1, hi - lo + 1)
        quantized.append(
            f"(((CAST({c} AS BIGINT) - {lo}) * {n_buckets}) DIV {span} & {mask})"
        )
    return df.withColumn(key, F.expr(morton_formula(quantized, bits, "spark")))


def write_zordered(
    df: DataFrame,
    cols: list[str],
    path: str,
    bits: int = 10,
    n_files: int | None = None,
) -> None:
    """Write `df` as parquet files clustered along the Z-curve of
    `cols`.  One range-exchange + local sort; the curve key is dropped
    from the stored schema (it is derivable, and the pruning uses the
    ORIGINAL columns' footer stats).
    """
    spark = df.sparkSession
    n = n_files or spark.sparkContext.defaultParallelism
    keyed = with_zkey(df, cols, bits)
    (
        keyed.repartitionByRange(n, F.col("zkey"))
        .sortWithinPartitions("zkey")
        .drop("zkey")
        .write.mode("overwrite")
        .parquet(path)
    )

