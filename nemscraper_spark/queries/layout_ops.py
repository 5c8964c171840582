"""Data-layout queries: the Z-order curve key (plans/zorder.py) under
the driver's oracle gate.

`zorder_curve_keys` pins the bit-interleave arithmetic itself: the same
Python-generated formula renders to Spark (shiftleft/shiftright) and
DuckDB (<< >>) dialects, so a hash mismatch would catch any divergence
in the curve definition.
"""

from __future__ import annotations

from pyspark.sql import functions as F

from nemscraper_spark.plans.zorder import morton_formula
from nemscraper_spark.queries.common import load_table, register

_BITS = 10
_MASK = (1 << _BITS) - 1
_COLS = [f"(CAST(user_id AS BIGINT) & {_MASK})", f"(CAST(event_id AS BIGINT) & {_MASK})"]


@register(
    "zorder_curve_keys",
    oracle=f"""
    SELECT event_id, user_id,
           CAST({morton_formula(_COLS, _BITS, "duckdb")} AS BIGINT) AS zkey
    FROM events
    """,
    tags=("layout", "zorder"),
)
def zorder_curve_keys(spark, sf_dir):
    """Morton key over (user_id, event_id) for every event — the sort
    key a Z-ordered layout clusters files by.  Pure codegen bit
    arithmetic, shuffle-free."""
    ev = load_table(spark, sf_dir, "events")
    return ev.select(
        "event_id",
        "user_id",
        F.expr(morton_formula(_COLS, _BITS, "spark")).cast("bigint").alias("zkey"),
    )
