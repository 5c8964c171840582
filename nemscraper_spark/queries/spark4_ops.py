"""Spark-4-native surfaces: VARIANT, Python UDTFs, and the state-store
reader (SURVEY.md §2.2 semi-structured extraction, §2.10 UDF surface,
§2.9 streaming operability).

Three capabilities a 100 TB deployment leans on that are NEW in the
Spark 4 line and absent from the round-4 registry:

* ``VARIANT`` — the open-ended semi-structured column type (shredded
  binary encoding, typed lazy extraction).  `json_extract_props`
  (cdc_ops.py) covers the classic string-JSON path; this module covers
  the parse-once/extract-many VARIANT path that replaces it at scale:
  one `parse_json` per row, then arbitrarily many `variant_get` probes
  without re-parsing, plus null-safe `try_variant_get` for paths that
  may not exist.
* Python UDTFs — table-valued functions usable in a SQL LATERAL join,
  the API for one-row→many-rows expansions that don't fit explode().
  Arrow-optimized (`useArrow=True`) so rows move in columnar batches,
  not pickled one at a time.  NOTE the production n-gram expansions in
  this repo stay JVM-side (`training_data._shingle_frame`'s
  explode(transform(sequence(...)))); the UDTF here covers the API
  surface with the same semantics, hash-checked against the same
  oracle shape.
* State-store reader — `spark.read.format("statestore")` over a
  streaming checkpoint: the ops/debugging surface that answers "what
  is this stateful query actually carrying?" without stopping the
  stream.  The audit below pins the strongest possible invariant: the
  checkpoint state of a completed AvailableNow drain must EQUAL the
  batch aggregate of the same input, bit for bit.
"""

from __future__ import annotations

from pyspark.sql import functions as F

from nemscraper_spark.queries.common import (
    dec_sum,
    fan_out,
    load_table,
    oracle_dec_sum,
    register,
)
from nemscraper_spark.queries.streaming_ops import _drain, _staged, _staged_stream

# ------------------------------------------------------- VARIANT ----


@register(
    "variant_shred_props",
    oracle="""
    SELECT event_type,
           CAST(COUNT(*) AS BIGINT) AS n_events,
           CAST(MIN(CAST(props->>'k' AS BIGINT)) AS BIGINT) AS k_min,
           CAST(MAX(CAST(props->>'k' AS BIGINT)) AS BIGINT) AS k_max,
           CAST(SUM(CAST(props->>'k' AS BIGINT)) AS BIGINT) AS k_sum,
           CAST(SUM(CASE WHEN props->>'absent' IS NULL THEN 1 ELSE 0 END)
                AS BIGINT) AS n_null_absent
    FROM events
    GROUP BY event_type
    """,
    tags=("P13", "variant", "semi-structured"),
)
def variant_shred_props(spark, sf_dir):
    """Semi-structured extraction through the VARIANT type: parse the
    JSON ``props`` column ONCE into a variant, then run typed probes
    off the parsed value — `variant_get` for a path known to exist
    (errors on type mismatch, the strict contract) and
    `try_variant_get` for a path that may not (NULL, never an error).
    This is the parse-once/extract-many replacement for per-path
    `get_json_object` string re-parsing (`cdc_ops.json_extract_props`):
    at N extracted paths the string path tokenizes the JSON N times per
    row, the variant path once.  The aggregate pins every extracted
    value row-for-row: exact BIGINT min/max/sum of `$.k` per event
    type, plus the count of NULL `$.absent` probes — which must equal
    n_events exactly (try_variant_get on a missing path is NULL for
    every row).  All math integer-exact, so the DuckDB ->> oracle
    hash-matches.
    """
    # fan_out: the JSON parse is the query's whole CPU bill and runs
    # inside the scan stage — on a low-split staging layout it would
    # serialize (measured 45x at a 20x probe whose 2M-row input packed
    # into 2 partitions); on real multi-split inputs this is a no-op.
    ev = fan_out(load_table(spark, sf_dir, "events"))
    v = F.parse_json("props")
    shredded = ev.select(
        "event_type",
        F.variant_get(v, "$.k", "bigint").alias("k"),
        F.try_variant_get(v, "$.absent", "bigint").alias("absent"),
    )
    return shredded.groupBy("event_type").agg(
        F.count("*").alias("n_events"),
        F.min("k").alias("k_min"),
        F.max("k").alias("k_max"),
        F.sum("k").alias("k_sum"),
        F.sum(F.col("absent").isNull().cast("bigint")).alias("n_null_absent"),
    )


# -------------------------------------------------- Python UDTF -----


def _register_ngram_udtf(spark) -> str:
    """Define + register the bigram UDTF under a fixed name; returns
    the name.  The class is created inside the function so cloudpickle
    ships it by value (same lesson as sources/nemsource.py — a foreign
    driver's executors cannot import this package).  Registration is
    idempotent per session (re-register overwrites)."""
    from pyspark.sql.functions import udtf

    @udtf(returnType="gram string, pos int", useArrow=True)
    class WordBigrams:
        def eval(self, text: str, doc_id: int):  # noqa: D401
            if text is None:
                return
            toks = text.split(" ")
            for i in range(len(toks) - 1):
                # 1-based position to match the DuckDB oracle's
                # generate_series over 1-indexed list slots.
                yield (toks[i] + " " + toks[i + 1], i + 1)

    spark.udtf.register("sg_word_bigrams", WordBigrams)
    return "sg_word_bigrams"


@register(
    "udtf_ngram_explode",
    oracle="""
    WITH toks AS (
      SELECT lang, string_split(text, ' ') AS w FROM documents
    ),
    grams AS (
      SELECT lang, w[i] || ' ' || w[i+1] AS gram, i AS pos
      FROM toks, UNNEST(generate_series(1, len(w) - 1)) AS t(i)
      WHERE len(w) >= 2
    )
    SELECT lang, gram,
           CAST(COUNT(*) AS BIGINT) AS n,
           CAST(MIN(pos) AS BIGINT) AS first_pos
    FROM grams
    GROUP BY lang, gram
    ORDER BY n DESC, lang, gram
    LIMIT 50
    """,
    tags=("udtf", "P10", "text"),
)
def udtf_ngram_explode(spark, sf_dir):
    """One-row→many-rows expansion through a Python UDTF in a SQL
    LATERAL join: an Arrow-optimized table function emits (bigram,
    1-based position) rows per document, and plain SQL aggregates the
    corpus-wide top-50 bigrams per language (full tie-break: count
    desc, lang, gram — deterministic LIMIT).  This covers the UDTF API
    surface (SURVEY §2.10); the REPO's hot-path n-gram expansions stay
    JVM-side (`training_data._shingle_frame` builds shingles with
    explode(transform(sequence(...))) under whole-stage codegen) —
    measured, the built-in explode beats even the Arrow UDTF, which
    still pays one Python round trip per batch.  Use a UDTF when the
    expansion logic genuinely needs Python (a real tokenizer, a
    parser); this one is deliberately re-expressible in SQL so DuckDB
    can replay it and the driver can hash the Python↔SQL agreement.
    """
    fn = _register_ngram_udtf(spark)
    load_table(spark, sf_dir, "documents").createOrReplaceTempView(
        "sg_udtf_docs"
    )
    return spark.sql(
        f"""
        SELECT d.lang, g.gram,
               CAST(COUNT(*) AS BIGINT) AS n,
               CAST(MIN(g.pos) AS BIGINT) AS first_pos
        FROM sg_udtf_docs d, LATERAL {fn}(d.text, d.doc_id) g
        GROUP BY d.lang, g.gram
        ORDER BY n DESC, d.lang, g.gram
        LIMIT 50
        """
    )


# -------------------------------------------- state-store reader ----


@register(
    "streaming_state_audit",
    oracle=f"""
    SELECT event_type,
           CAST(COUNT(*) AS BIGINT) AS n_events,
           {oracle_dec_sum("value")} AS sum_value
    FROM events
    GROUP BY event_type
    """,
    tags=("streaming", "statestore", "A1"),
)
def streaming_state_audit(spark, sf_dir):
    """Streaming state INTROSPECTION: run a stateful per-event-type
    aggregate to completion (AvailableNow drain, noop sink — the sink
    is irrelevant, the STATE is the subject), then read the checkpoint
    back through `spark.read.format("statestore")` and return the
    state rows themselves.  The oracle is the batch GROUP BY: after a
    bounded drain the state store must carry exactly the batch answer
    — count buffers as BIGINTs, sum buffers in the same DECIMAL
    arithmetic `dec_sum` pins everywhere else.

    Operationally this is how a 100 TB streaming deployment debugs
    state growth, skewed keys, and watermark stalls: query the store
    like a table (filterable, joinable, aggregatable — it is a real
    DataFrame source with column pruning) instead of instrumenting the
    job.  State is read per shuffle partition in parallel; nothing
    here collects to the driver.
    """

    def drain(ckpt):
        agg = _staged_stream(spark, sf_dir).groupBy("event_type").agg(
            F.count("*").alias("n_events"),
            dec_sum("value").alias("sum_value"),
        )
        _drain(agg, "nemspark_streaming_state_audit", sf_dir,
               mode="complete", sink="noop", ckpt=ckpt)

    # the audited checkpoint outlives this call (the returned DataFrame
    # reads it lazily), so it is staged: one bounded drain per session
    ckpt = _staged(spark, sf_dir, "audit", drain)
    state = spark.read.format("statestore").load(ckpt)
    # Aggregation state buffers are named by function ("count", "sum"),
    # not by output alias; the decimal sum buffer is widened to
    # DECIMAL(35,4) internally — one cast lands it on the oracle's
    # double, same as dec_sum's final cast.
    return state.select(
        F.col("key.event_type").alias("event_type"),
        F.col("value.count").cast("bigint").alias("n_events"),
        F.col("value.sum").cast("double").alias("sum_value"),
    )
