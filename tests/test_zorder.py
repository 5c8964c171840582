"""Z-order layout (plans/zorder.py): curve correctness + the actual
pruning payoff measured on parquet footers."""

from __future__ import annotations

import os

from pyspark.sql import functions as F

from nemscraper_spark.plans.zorder import morton_formula, with_zkey, write_zordered
from nemscraper_spark.queries.common import load_table


def _overlap_fraction(path: str, col: str, lo, hi) -> float:
    """Fraction of data files whose [min, max] footer range for `col`
    overlaps [lo, hi] — the fraction a pushed filter must actually
    read.  Driver-side metadata only (pyarrow dataset footers)."""
    import pyarrow.dataset as ds

    dataset = ds.dataset(path, format="parquet")
    total = 0
    overlapping = 0
    for frag in dataset.get_fragments():
        row_groups = frag.row_groups
        if not row_groups:
            continue
        total += 1
        for rg in row_groups:
            stats = rg.statistics or {}
            s = stats.get(col)
            if s is None or s.get("min") is None:
                overlapping += 1
                break
            if s["min"] <= hi and s["max"] >= lo:
                overlapping += 1
                break
    return overlapping / total if total else 0.0


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


def test_zorder_prunes_both_dimensions(spark, sf_dir, tmp_path):
    """The point of the layout: after write_zordered on (user_id,
    event_id), a narrow range filter on EITHER column touches a
    minority of files; a linear sort on user_id leaves event_id
    filters touching (almost) every file."""
    ev = load_table(spark, sf_dir, "events").select("event_id", "user_id", "value")
    n_files = 16

    zpath = os.path.join(str(tmp_path), "zorder")
    write_zordered(ev, ["user_id", "event_id"], zpath, bits=10, n_files=n_files)

    lpath = os.path.join(str(tmp_path), "linear")
    (
        ev.repartitionByRange(n_files, "user_id")
        .sortWithinPartitions("user_id")
        .write.mode("overwrite")
        .parquet(lpath)
    )

    stats = ev.agg(
        F.min("user_id").alias("ulo"),
        F.max("user_id").alias("uhi"),
        F.min("event_id").alias("elo"),
        F.max("event_id").alias("ehi"),
    ).collect()[0]
    uw = (stats["uhi"] - stats["ulo"]) // 16 or 1
    ewd = (stats["ehi"] - stats["elo"]) // 16 or 1

    # ~1/16-wide range probes on each dimension
    z_user = _overlap_fraction(zpath, "user_id", stats["ulo"], stats["ulo"] + uw)
    z_event = _overlap_fraction(zpath, "event_id", stats["elo"], stats["elo"] + ewd)
    l_user = _overlap_fraction(lpath, "user_id", stats["ulo"], stats["ulo"] + uw)
    l_event = _overlap_fraction(lpath, "event_id", stats["elo"], stats["elo"] + ewd)

    # linear layout: perfect on its sort column, useless on the other
    assert l_user <= 0.25
    assert l_event >= 0.9
    # z-order: BOTH dimensions prune (each well below the linear
    # layout's untouched dimension), at a bounded cost on the first
    assert z_user <= 0.7
    assert z_event <= 0.7
    assert z_user + z_event < l_user + l_event


def test_zordered_roundtrip_preserves_rows(spark, sf_dir, tmp_path):
    ev = load_table(spark, sf_dir, "events").select("event_id", "user_id", "value")
    path = os.path.join(str(tmp_path), "z")
    write_zordered(ev, ["user_id", "event_id"], path, bits=10, n_files=8)
    back = spark.read.parquet(path)
    assert back.count() == ev.count()
    assert "zkey" not in back.columns
    assert (
        back.select(F.sum(F.hash("event_id", "user_id")).alias("h")).collect()[0]["h"]
        == ev.select(F.sum(F.hash("event_id", "user_id")).alias("h")).collect()[0]["h"]
    )


def test_with_zkey_quantizes_wide_values(spark):
    """Wide-range columns are min/max-quantized into the bit budget
    (not wrapped): zkey stays in [0, 2**(bits*ncols)) and preserves
    order along each column."""
    df = spark.createDataFrame(
        [(0, 0), (1 << 40, 7), (1 << 39, 3)], "a long, b long"
    )
    rows = {r["a"]: r["zkey"] for r in with_zkey(df, ["a", "b"], bits=10).collect()}
    assert all(0 <= z < 1 << 20 for z in rows.values())
    assert rows[0] < rows[1 << 39] < rows[1 << 40]
