"""Behavior tests for the driver-checkable streaming queries
(queries/streaming_ops.py) beyond the registry-wide oracle gate."""

from __future__ import annotations

from pyspark.sql import functions as F

from nemscraper_spark.queries import REGISTRY
from nemscraper_spark.queries.common import load_table


def test_streaming_window_counts_reinvocation(spark, sf_dir):
    """The memory-sink queryName is reused across invocations in one
    session (the driver may retry): the second run must succeed and
    return the same totals, not collide with the first registration."""
    fn = REGISTRY["streaming_window_counts"].fn
    a = fn(spark, sf_dir).agg(
        F.sum("n_events").alias("n"), F.count("*").alias("g")
    ).collect()[0]
    b = fn(spark, sf_dir).agg(
        F.sum("n_events").alias("n"), F.count("*").alias("g")
    ).collect()[0]
    assert (a["n"], a["g"]) == (b["n"], b["g"])
    assert a["n"] > 0


def test_streaming_dedup_replay_exactly_once(spark, sf_dir):
    """Redelivered (unioned) stream must collapse to exactly the batch
    event set: no duplicate event_ids survive, none are lost."""
    from nemscraper_spark.queries.common import load_table

    out = REGISTRY["streaming_dedup_replay"].fn(spark, sf_dir)
    n_out = out.count()
    n_dist = out.select("event_id").distinct().count()
    n_src = load_table(spark, sf_dir, "events").count()
    assert n_out == n_dist == n_src


def test_drain_logs_one_progress_record_per_micro_batch(spark, sf_dir, caplog):
    """The runner logs each micro-batch of a registered streaming query
    as one JSON record, and its state operator runs at _state_width: the
    width is in force at start() and the caller's setting is back after."""
    import json
    import logging

    from nemscraper_spark.queries.streaming_ops import _state_width

    caplog.set_level(logging.INFO, logger="nemscraper_spark.stream")
    before = spark.conf.get("spark.sql.shuffle.partitions")
    REGISTRY["streaming_dedup_replay"].fn(spark, sf_dir)
    assert spark.conf.get("spark.sql.shuffle.partitions") == before
    records = [
        json.loads(r.getMessage())
        for r in caplog.records
        if r.name == "nemscraper_spark.stream"
    ]
    assert records
    assert [r["batchId"] for r in records] == list(range(len(records)))
    width = _state_width(spark, sf_dir)
    assert str(width) != before  # the pin below shows the drain's own width
    for r in records:
        assert set(r) == {
            "event", "query", "batchId", "numInputRows", "durationMs", "stateOperators",
        }
        assert (r["event"], r["query"]) == ("stream_batch", "nemspark_streaming_dedup_replay")
        assert set(r["durationMs"]) == {
            "triggerExecution", "addBatch", "queryPlanning", "walCommit", "commitOffsets",
        }
        (op,) = r["stateOperators"]
        assert set(op) == {
            "operatorName", "numRowsTotal", "memoryUsedBytes", "numShufflePartitions",
        }
        assert op["numShufflePartitions"] == width
    assert records[0]["numInputRows"] == 2 * load_table(spark, sf_dir, "events").count()
