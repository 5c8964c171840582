"""Invariant pins for the Spark-4 surface queries (spark4_ops.py) and
the cross-doc duplication share — cross-checks beyond what the driver's
SQL-oracle hash gate already pins."""

from __future__ import annotations

from collections import Counter

from pyspark.sql import functions as F

from nemscraper_spark.queries import REGISTRY, load_table


def test_variant_null_probe_and_totals(spark, sf_dir):
    """try_variant_get on a missing path must be NULL on EVERY row
    (n_null_absent == n_events per group), and the per-type counts must
    partition the events table exactly."""
    rows = REGISTRY["variant_shred_props"].fn(spark, sf_dir).collect()
    assert rows
    for r in rows:
        assert r.n_null_absent == r.n_events
        assert r.k_min <= r.k_max
    total = load_table(spark, sf_dir, "events").count()
    assert sum(r.n_events for r in rows) == total


def test_udtf_bigrams_match_jvm_explode(spark, sf_dir):
    """The Python-UDTF expansion must agree with the JVM-side explode
    of the same bigram transform — the independent recompute that pins
    the UDTF batching (Arrow) didn't drop/duplicate rows at batch
    boundaries."""
    got = {
        (r.lang, r.gram): (r.n, r.first_pos)
        for r in REGISTRY["udtf_ngram_explode"].fn(spark, sf_dir).collect()
    }
    d = load_table(spark, sf_dir, "documents")
    jvm = (
        d.withColumn("w", F.split("text", " "))
        .filter(F.size("w") >= 2)
        .select(
            "lang",
            F.posexplode(
                F.expr(
                    "transform(sequence(0, size(w) - 2),"
                    " i -> concat_ws(' ', w[i], w[i+1]))"
                )
            ).alias("pos0", "gram"),
        )
        .groupBy("lang", "gram")
        .agg(
            F.count("*").alias("n"),
            (F.min("pos0") + 1).cast("bigint").alias("first_pos"),
        )
    )
    jvm_all = {
        (r.lang, r.gram): (r.n, r.first_pos) for r in jvm.collect()
    }
    assert len(got) == 50
    for key, val in got.items():
        assert jvm_all[key] == val
    # the 50 kept rows must be a true top-50 under (n desc, lang, gram)
    floor = min(
        (-n, lang, gram) for (lang, gram), (n, _) in got.items()
    )
    dropped_better = [
        k
        for k, (n, _) in jvm_all.items()
        if k not in got and (-n, k[0], k[1]) < floor
    ]
    assert dropped_better == []


def test_state_audit_equals_batch_and_reuses_checkpoint(spark, sf_dir):
    """The state rows read back from the checkpoint must equal the
    batch aggregate exactly (counts integer, sums through the same
    DECIMAL(25,4) path), and a second call must serve the cached
    checkpoint with identical content."""
    fn = REGISTRY["streaming_state_audit"].fn
    first = {
        r.event_type: (r.n_events, r.sum_value)
        for r in fn(spark, sf_dir).collect()
    }
    batch = {
        r.event_type: (r.n_events, r.sum_value)
        for r in load_table(spark, sf_dir, "events")
        .groupBy("event_type")
        .agg(
            F.count("*").alias("n_events"),
            F.sum(F.col("value").cast("decimal(25,4)"))
            .cast("double")
            .alias("sum_value"),
        )
        .collect()
    }
    assert first == batch
    from nemscraper_spark.queries.streaming_ops import _STAGE_CACHE

    n_stages = len(_STAGE_CACHE)
    second = {
        r.event_type: (r.n_events, r.sum_value)
        for r in fn(spark, sf_dir).collect()
    }
    assert second == first
    assert len(_STAGE_CACHE) == n_stages  # cache hit, no new drain


def test_cross_dup_fraction_independent_recompute(spark, sf_dir):
    """Recompute every doc's shared-shingle share driver-side from raw
    text (pure Python, no joins) and require exact agreement — an
    implementation-independent replay of the whole query at sf0.001
    scale (50 docs)."""
    rows = REGISTRY["doc_cross_dup_fraction"].fn(spark, sf_dir).collect()
    docs = (
        load_table(spark, sf_dir, "documents")
        .select("doc_id", "text")
        .collect()
    )
    per_doc = {}
    df_counter = Counter()
    for r in docs:
        toks = r.text.split(" ")
        grams = {
            " ".join(toks[i : i + 3]) for i in range(len(toks) - 2)
        }
        if grams:
            per_doc[r.doc_id] = grams
            df_counter.update(grams)
    assert {r.doc_id for r in rows} == set(per_doc)
    for r in rows:
        grams = per_doc[r.doc_id]
        shared = sum(1 for g in grams if df_counter[g] >= 2)
        assert r.n_shingles == len(grams)
        assert r.n_shared == shared
        assert r.shared_frac == shared / len(grams)


def test_full_outer_reconcile_partitions_order_days(spark, sf_dir):
    """Presence classes must partition the day sets exactly and the
    measure totals must reconcile with the raw order counts."""
    rows = REGISTRY["join_full_outer_reconcile"].fn(spark, sf_dir).collect()
    o = load_table(spark, sf_dir, "orders")
    open_days = {
        r.d for r in o.filter(F.col("o_orderstatus") == "O")
        .select(F.col("o_orderdate").alias("d")).distinct().collect()
    }
    closed_days = {
        r.d for r in o.filter(F.col("o_orderstatus") == "F")
        .select(F.col("o_orderdate").alias("d")).distinct().collect()
    }
    assert {r.order_date for r in rows} == open_days | closed_days
    for r in rows:
        if r.presence == "both":
            assert r.order_date in open_days and r.order_date in closed_days
            assert r.n_open > 0 and r.n_closed > 0
        elif r.presence == "open_only":
            assert r.order_date not in closed_days and r.n_closed == 0
        else:
            assert r.presence == "closed_only"
            assert r.order_date not in open_days and r.n_open == 0
    n_open_total = o.filter(F.col("o_orderstatus") == "O").count()
    n_closed_total = o.filter(F.col("o_orderstatus") == "F").count()
    assert sum(r.n_open for r in rows) == n_open_total
    assert sum(r.n_closed for r in rows) == n_closed_total


def test_ks_drift_independent_recompute(spark, sf_dir):
    """Replay the exact KS computation driver-side in pure Python
    (sorted lists, no Spark) and require bit-identical statistics."""
    rows = REGISTRY["ks_drift_by_source"].fn(spark, sf_dir).collect()
    docs = (
        load_table(spark, sf_dir, "documents")
        .select("source", "n_chars")
        .collect()
    )
    by_src = {}
    for r in docs:
        by_src.setdefault(r.source, []).append(r.n_chars)
    all_vals = sorted({r.n_chars for r in docs})
    n_total = len(docs)
    assert {r.source for r in rows} == set(by_src)
    for r in rows:
        vals_s = sorted(by_src[r.source])
        n_s = len(vals_s)
        n_rest = n_total - n_s
        best = None
        for v in all_vals:
            cs = sum(1 for x in vals_s if x <= v)
            cg = sum(1 for s2 in by_src.values() for x in s2 if x <= v)
            diff = abs(cs / n_s - (cg - cs) / n_rest)
            if best is None or diff > best[0]:
                best = (diff, v)
        assert r.n_source == n_s
        assert r.n_rest == n_rest
        assert r.ks_stat == best[0]
        assert r.ks_at_value == best[1]
        assert 0.0 <= r.ks_stat <= 1.0


def test_sign_signature_independent_replay(spark, sf_dir):
    """Replay the sign-bit packing driver-side in pure Python and
    require bit-identical signatures; n_pos must equal the popcount of
    the packed 64-bit signature."""
    rows = REGISTRY["embedding_sign_signature"].fn(spark, sf_dir).collect()
    vecs = {
        r.vec_id: r.embedding
        for r in load_table(spark, sf_dir, "embeddings")
        .select("vec_id", "embedding")
        .collect()
    }
    assert {r.vec_id for r in rows} == set(vecs)
    for r in rows:
        emb = vecs[r.vec_id]
        lo = sum(1 << i for i in range(32) if emb[i] >= 0)
        hi = sum(1 << i for i in range(32) if emb[32 + i] >= 0)
        assert (r.sig_lo, r.sig_hi) == (lo, hi)
        assert r.n_pos == bin((hi << 32) | lo).count("1")


def test_hamming_prefilter_pigeonhole_complete(spark, sf_dir):
    """Every pair at Hamming distance <= 3 must collide on >= 1 of the
    4 bands (pigeonhole), and each band's verified count must equal the
    exact per-band recount from the raw signatures."""
    sig_rows = REGISTRY["embedding_sign_signature"].fn(spark, sf_dir).collect()
    sigs = {r.vec_id: (r.sig_hi << 32) | r.sig_lo for r in sig_rows}
    ids = sorted(sigs)

    def band_vals(s):
        return [(s >> (16 * b)) & 0xFFFF for b in range(4)]

    per_band = {b: [0, 0] for b in range(4)}  # candidates, verified
    for i, u in enumerate(ids):
        for v in ids[i + 1 :]:
            ham = bin(sigs[u] ^ sigs[v]).count("1")
            bu, bv = band_vals(sigs[u]), band_vals(sigs[v])
            collides = [b for b in range(4) if bu[b] == bv[b]]
            if ham <= 3:
                assert collides, f"pair ({u},{v}) at hamming {ham} missed"
            for b in collides:
                per_band[b][0] += 1
                if ham <= 3:
                    per_band[b][1] += 1
    got = {
        r.band: (r.n_candidates, r.n_verified)
        for r in REGISTRY["hamming_band_prefilter_report"]
        .fn(spark, sf_dir)
        .collect()
    }
    want = {
        b: (c, v) for b, (c, v) in per_band.items() if c > 0
    }
    assert got == want


def test_format_roundtrip_rows_identical_and_stage_cached(spark, sf_dir):
    """Beyond the registered checksums: every format's read-back rows
    must equal the source projection EXACTLY (sorted row sets), and a
    second invocation must reuse the staged directories."""
    import os

    from nemscraper_spark.queries.ingest_ops import _FMT_STAGE

    REGISTRY["format_roundtrip_matrix"].fn(spark, sf_dir).collect()
    key = (spark.sparkContext.applicationId, str(sf_dir))
    stage = _FMT_STAGE[key]
    src = sorted(
        map(
            tuple,
            load_table(spark, sf_dir, "events")
            .select("event_id", "user_id", "event_type")
            .collect(),
        )
    )
    schema = "event_id long, user_id long, event_type string"
    backs = {
        "csv": spark.read.schema(schema)
        .option("header", "true")
        .csv(os.path.join(stage, "csv")),
        "json": spark.read.schema(schema).json(os.path.join(stage, "json")),
        "orc": spark.read.orc(os.path.join(stage, "orc")),
    }
    for fmt, df in backs.items():
        got = sorted(map(tuple, df.collect()))
        assert got == src, f"{fmt} round trip diverged"
    REGISTRY["format_roundtrip_matrix"].fn(spark, sf_dir).collect()
    assert _FMT_STAGE[key] == stage  # cache hit, no restage
