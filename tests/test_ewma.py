"""Pin the recursive EWMA kernel against an independent pure-python
model of the reference recurrence (crunch.rs:243-270):

    fm[i] = (1 - a) * fm[i-1] + a * (-dev[i]),  fm[-1] = 0, reset per key
"""

from __future__ import annotations

from collections import defaultdict

from nemscraper_spark.queries.common import load_table
from nemscraper_spark.queries.timeseries import ewma_per_entity

ALPHA = 2.0 / 9.0


def _python_model(rows):
    """rows: (event_id, user_id, ts, value) → {event_id: ewma}."""
    by_key = defaultdict(list)
    for r in rows:
        by_key[r.user_id].append(r)
    out = {}
    for _, group in by_key.items():
        group.sort(key=lambda r: (r.ts, r.event_id))
        prev = 0.0
        for r in group:
            prev = (1 - ALPHA) * prev + ALPHA * (-r.value)
            out[r.event_id] = prev
    return out


def test_ewma_matches_reference_recurrence(spark, sf_dir):
    ev = load_table(spark, sf_dir, "events")
    expected = _python_model(ev.select("event_id", "user_id", "ts", "value").collect())

    got = {r.event_id: r.ewma_value for r in ewma_per_entity(spark, sf_dir).collect()}
    assert len(got) == len(expected)
    for event_id, want in expected.items():
        assert abs(got[event_id] - want) < 1e-12, event_id


def test_ewma_seed_zero_not_pandas_adjust(spark):
    """The reference seeds fm[-1]=0, so fm[0] = a*x[0] — NOT pandas'
    ewm(adjust=False) which seeds fm[0]=x[0]. Guard the distinction on
    the production kernel the EWMA/FPP queries run."""
    from nemscraper_spark.operators.ewma import ewma

    df = spark.createDataFrame(
        [(1, 0, 9.0), (1, 1, 0.0), (1, 2, 0.0)], "k long, ts long, value double"
    )
    rows = ewma(df, ["k"], ["ts"], "value", ALPHA).orderBy("ts").collect()
    out = [r.ewma for r in rows]
    assert abs(out[0] - ALPHA * 9.0) < 1e-15
    assert abs(out[1] - (1 - ALPHA) * ALPHA * 9.0) < 1e-15


def test_ewma_null_key_single_group(spark):
    """Null entity keys must form ONE group with a running EWMA (Spark
    groupBy semantics, and what the r10 per-key applyInPandas did) —
    the r11 bucketed kernel's group-start detection compares raw numpy
    values, where a nullable numeric key arriving as float64 NaN would
    split every null-key row into its own group (NaN != NaN).  Pins
    the r12 fix against a pure-python model of the recurrence."""
    from nemscraper_spark.operators.ewma import ewma

    rows = [
        (1, None, 1, 4.0),
        (2, 7, 1, 2.0),
        (3, None, 2, 1.0),
        (4, 7, 2, 8.0),
        (5, None, 3, 5.0),
    ]
    df = spark.createDataFrame(
        rows, "event_id long, user_id long, ts long, value double"
    )
    got = {
        r.event_id: r.ewma
        for r in ewma(df, ["user_id"], ["ts"], "value", ALPHA).collect()
    }

    expected = {}
    for key in (None, 7):
        prev = 0.0
        for eid, uid, ts, v in sorted(
            (r for r in rows if r[1] == key), key=lambda r: r[2]
        ):
            prev = (1 - ALPHA) * prev + ALPHA * v
            expected[eid] = prev
    assert len(got) == len(expected)
    for eid, want in expected.items():
        assert abs(got[eid] - want) < 1e-12, eid
