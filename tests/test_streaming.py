"""Streaming semantics (SURVEY.md §2.9): file-source micro-batch ingest
with checkpoint-backed exactly-once, and a windowed event-time agg that
behaves identically in batch and streaming."""

from __future__ import annotations

import glob
import os
import zipfile

from pyspark.sql import functions as F

from nemscraper_spark.streaming.ingest import drain_ingest_stream
from tests.test_ingest import D_ROWS_TOTAL, NEM_CSV


def _drop_zip(landing: str, name: str) -> None:
    with zipfile.ZipFile(os.path.join(landing, name), "w") as zf:
        zf.writestr(name.replace(".zip", ".CSV"), NEM_CSV)


def test_stream_ingest_exactly_once(spark, tmp_path):
    landing = str(tmp_path / "landing")
    out = str(tmp_path / "out")
    ckpt = str(tmp_path / "ckpt")
    os.makedirs(landing)

    _drop_zip(landing, "PUBLIC_A_20220720_0001.zip")
    names, _ = drain_ingest_stream(spark, landing, out, ckpt)
    assert names == ["PUBLIC_A_20220720_0001.zip"]
    total = spark.read.parquet(os.path.join(out, "FPP---UNIT_MW---1")).count()
    total += spark.read.parquet(
        os.path.join(out, "FPP---REGION_FREQ_MEASURE---1")
    ).count()
    assert total == D_ROWS_TOTAL

    # restart the stream: the checkpoint must dedup the already-seen
    # file (M1/M2 — the reference's filename-keyed exactly-once) while
    # picking up a newly landed one
    _drop_zip(landing, "PUBLIC_B_20220721_0002.zip")
    names2, _ = drain_ingest_stream(spark, landing, out, ckpt)
    assert names2 == ["PUBLIC_B_20220721_0002.zip"]
    total2 = spark.read.parquet(os.path.join(out, "FPP---UNIT_MW---1")).count()
    total2 += spark.read.parquet(
        os.path.join(out, "FPP---REGION_FREQ_MEASURE---1")
    ).count()
    assert total2 == 2 * D_ROWS_TOTAL  # B processed once, A not reprocessed
    # B's filename date lands in its own partition
    assert glob.glob(
        os.path.join(out, "FPP---UNIT_MW---1", "date=2022-07-21")
    )


def test_windowed_agg_batch_stream_parity(spark, tmp_path):
    """A8/W3 tumbling-window agg: readStream over the same parquet must
    produce the same buckets as the batch groupBy(window)."""
    src = str(tmp_path / "events_pq")
    from nemscraper_spark.queries.common import load_table

    ev = load_table(spark, "/root/testdata/sf0.001", "events").select(
        F.col("ts").cast("timestamp").alias("ts"), "value"
    )
    ev.write.parquet(src)

    batch = (
        ev.groupBy(F.window("ts", "1 hour").alias("w"))
        .agg(F.count("*").alias("n"))
        .select(F.col("w.start").alias("ws"), "n")
    )
    expected = {(r.ws, r.n) for r in batch.collect()}

    stream = (
        spark.readStream.schema("ts timestamp, value double")
        .parquet(src)
        .withWatermark("ts", "10 minutes")
        .groupBy(F.window("ts", "1 hour").alias("w"))
        .agg(F.count("*").alias("n"))
        .select(F.col("w.start").alias("ws"), "n")
    )
    q = (
        stream.writeStream.outputMode("complete")
        .format("memory")
        .queryName("hourly")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(300)
    got = {(r.ws, r.n) for r in spark.sql("SELECT * FROM hourly").collect()}
    assert got == expected
