"""Z-order curve key (plans/zorder.py): bit-interleave correctness."""

from __future__ import annotations

from pyspark.sql import functions as F

from nemscraper_spark.plans.zorder import morton_formula


def test_morton_interleave_small_cases(spark):
    """Bit-interleave ground truth: zkey(a, b) interleaves a's bit i to
    position 2i and b's to 2i+1."""
    df = spark.createDataFrame(
        [(0, 0), (1, 0), (0, 1), (3, 0), (0, 3), (3, 3), (5, 2)], "a long, b long"
    )
    out = {
        (r["a"], r["b"]): r["z"]
        for r in df.withColumn(
            "z", F.expr(morton_formula(["a", "b"], 4, "spark"))
        ).collect()
    }

    def ref(a, b):
        z = 0
        for i in range(4):
            z |= ((a >> i) & 1) << (2 * i)
            z |= ((b >> i) & 1) << (2 * i + 1)
        return z

    for (a, b), z in out.items():
        assert z == ref(a, b), (a, b, z, ref(a, b))
