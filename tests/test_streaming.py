"""Streaming semantics (SURVEY.md §2.9): a windowed event-time agg
behaves identically in batch and streaming. Ingest dedup is the
processed ledger's, tested in tests/test_pipeline_script.py."""

from __future__ import annotations

from pyspark.sql import functions as F


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
