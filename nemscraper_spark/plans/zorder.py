"""Z-order (Morton-curve) key for multi-dimensional pruning.

A 100 TB table is usually filtered on more than one column (time AND
entity, source AND quality bucket).  Sorting the files by one column
makes parquet min/max skipping perfect on that column and useless on
every other; interleaving the bits of several columns (the Z-order /
Morton curve — the same layout Delta's OPTIMIZE ZORDER BY and
Databricks clustering use) keeps every participating column's values
LOCALLY RANGE-BOUNDED per file, so row-group/file skipping works on
each of them.

The curve key is a pure codegen expression (bit tests + shifts — no
UDF).  The bit-interleave formula is generated ONCE in Python and
rendered to both the Spark and DuckDB dialects, so the curve key
itself is oracle-checkable bit for bit (`zorder_curve_keys` in the
registry).
"""

from __future__ import annotations


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
