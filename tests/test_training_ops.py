"""Cross-checks between the scalable training-data ops and their exact
baselines (the checks SQL oracles can't express)."""

from __future__ import annotations

from nemscraper_spark.queries import REGISTRY


def _pairs(df):
    return {(r.doc_a, r.doc_b) for r in df.collect()}


def test_minhash_candidates_subset_of_exact(spark, sf_dir):
    """Every LSH-surviving pair must appear in the exact-Jaccard pair
    set with the same threshold (LSH can miss pairs — never invent)."""
    exact = _pairs(REGISTRY["ngram_jaccard_pairs"].fn(spark, sf_dir))
    lsh = _pairs(REGISTRY["minhash_lsh_pairs"].fn(spark, sf_dir))
    assert lsh <= exact
    if exact:  # recall report — band geometry should catch most
        recall = len(lsh) / len(exact)
        assert recall >= 0.5, f"LSH recall collapsed: {recall:.2f}"


def test_xxhash_lsh_library_default_recall(spark, sf_dir):
    """The xxhash64 parameterization (library default
    lsh_verified_pairs — ~4x cheaper 8-byte keys, but not portable to
    the SQL oracle, so the REGISTERED minhash_lsh_pairs entry is the
    md5 seeding) must keep the same subset + recall contract as the
    hash-gated primary."""
    from nemscraper_spark.queries.common import fan_out, load_table
    from nemscraper_spark.queries.training_data import lsh_verified_pairs

    d = fan_out(load_table(spark, sf_dir, "documents"))
    exact = _pairs(REGISTRY["ngram_jaccard_pairs"].fn(spark, sf_dir))
    lsh = _pairs(lsh_verified_pairs(d, threshold=0.2))
    assert lsh <= exact
    if exact:
        recall = len(lsh) / len(exact)
        assert recall >= 0.5, f"xxhash LSH recall collapsed: {recall:.2f}"


def test_simhash_kernel_vectorized_bit_identical(spark, sf_dir):
    """The r12 vectorized SimHash kernel (distinct-word memo, numpy
    digest unpack, segmented reduceat vote sum) must produce
    BIT-IDENTICAL fingerprints to the r11 per-doc/per-word/per-digit
    Python loop — the votes are the same integer sums in a different
    order, so any drift is a kernel bug, not FP noise."""
    import hashlib

    from nemscraper_spark.queries.common import load_table
    from nemscraper_spark.queries.corpus_health import _simhash60_fingerprints

    d = (
        load_table(spark, sf_dir, "documents")
        .select("doc_id", "text")
        .filter("doc_id < 200")
    )
    got = {r.doc_id: r.simhash for r in _simhash60_fingerprints(d).collect()}
    texts = {
        r.doc_id: r.text for r in d.filter("text is not null").collect()
    }
    assert set(got) == set(texts) and texts

    for doc_id, text in texts.items():
        votes = [0] * 60
        for w in set(text.split(" ")):
            h = hashlib.md5(w.encode()).hexdigest()
            for p in range(15):
                dig = int(h[p], 16)
                for j in range(4):
                    votes[p * 4 + j] += 1 if (dig >> j) & 1 else -1
        sh = 0
        for k in range(60):
            if votes[k] > 0:
                sh |= 1 << k
        assert got[doc_id] == sh, f"fingerprint drift at doc {doc_id}"


def _topk(df):
    out = {}
    for r in df.collect():
        out.setdefault(r.query_id, set()).add(r.neighbor_id)
    return out


def test_ann_recall_vs_bruteforce(spark, sf_dir):
    exact = _topk(REGISTRY["cosine_topk_bruteforce"].fn(spark, sf_dir))
    for name, floor in (
        ("ann_lsh_cosine", 0.2),
        ("ann_ivf_cosine", 0.2),
        ("ann_pq_adc", 0.2),
        ("ann_ivfpq_adc", 0.2),
    ):
        approx = _topk(REGISTRY[name].fn(spark, sf_dir))
        hits = sum(len(exact[q] & approx.get(q, set())) for q in exact)
        total = sum(len(v) for v in exact.values())
        assert hits / total >= floor, f"{name} recall {hits/total:.2f}"


def test_ann_ivfpq_query_ids_are_vec_ids(spark, sf_dir, tmp_path):
    """IVF-PQ queries are labelled by vec_id, not by their position in
    the training sample: with vec_id 3 missing, the query ids are the
    present ids below 10 and no query returns itself."""
    import os

    import pyarrow.compute as pc
    import pyarrow.parquet as pq

    t = pq.read_table(os.path.join(sf_dir, "embeddings.parquet"))
    t = t.filter(pc.not_equal(t["vec_id"], 3))
    pq.write_table(t, str(tmp_path / "embeddings.parquet"))
    present = {v for v in t["vec_id"].to_pylist() if v < 10}
    assert 3 not in present and len(present) == 9

    rows = REGISTRY["ann_ivfpq_adc"].fn(spark, str(tmp_path)).collect()
    assert {r.query_id for r in rows} == present
    assert all(r.neighbor_id != r.query_id for r in rows)


def test_simhash_similar_docs_close(spark, sf_dir):
    """Near-dup pairs (by exact Jaccard) must have small simhash
    hamming distance vs the corpus median — the property that makes
    simhash banding work."""
    sim = {r.doc_id: r.simhash for r in REGISTRY["simhash_fingerprint"].fn(spark, sf_dir).collect()}
    pairs = _pairs(REGISTRY["ngram_jaccard_pairs"].fn(spark, sf_dir))
    if not pairs:
        return

    def ham(a, b):
        return bin(a ^ b).count("1")

    import itertools
    import statistics

    near = [ham(sim[a], sim[b]) for a, b in pairs]
    ids = sorted(sim)[:60]
    background = [
        ham(sim[a], sim[b]) for a, b in itertools.combinations(ids, 2)
    ]
    assert statistics.mean(near) < statistics.mean(background)


def test_int8_quantization_roundtrip_error_bound(spark, sf_dir):
    """Dequantized values must sit within half a quantization step of
    the original: |q*amax/127 - x| <= amax/254, q in [-127, 127], and
    amax must equal the vector's true max-abs."""
    from nemscraper_spark.queries.common import load_table

    orig = {
        r.vec_id: [float(x) for x in r.embedding]
        for r in load_table(spark, sf_dir, "embeddings").collect()
    }
    rows = REGISTRY["embedding_quantize_int8"].fn(spark, sf_dir).collect()
    seen = set()
    for r in rows:
        seen.add((r.vec_id, r.dim))
        x = orig[r.vec_id][r.dim]
        assert -127 <= r.q <= 127
        assert abs(r.amax - max(abs(v) for v in orig[r.vec_id])) == 0.0
        if r.amax:
            assert abs(r.q * r.amax / 127.0 - x) <= r.amax / 254.0 + 1e-12
    assert len(seen) == sum(len(v) for v in orig.values())


def test_ann_md5_twins_recall_vs_bruteforce(spark, sf_dir):
    """The integer-grid md5 twins must preserve the ANN property the
    production float paths have: their top-5s overlap the exact float
    brute force (the grid quantization + deterministic sampling may
    shift rankings, but not collapse recall)."""
    exact = _topk(REGISTRY["cosine_topk_bruteforce"].fn(spark, sf_dir))
    for name, floor in (
        ("ann_lsh_cosine_md5", 0.2),
        ("ann_ivf_cosine_md5", 0.2),
        ("ann_pq_adc_md5", 0.2),
        ("ann_ivfpq_adc_md5", 0.2),
    ):
        approx = _topk(REGISTRY[name].fn(spark, sf_dir))
        hits = sum(len(exact[q] & approx.get(q, set())) for q in exact)
        total = sum(len(v) for v in exact.values())
        assert hits / total >= floor, f"{name} recall {hits/total:.2f}"


def test_sketch_profile_exact_brackets_approx(spark, sf_dir):
    """The exact profile twin must agree with the sketch profile within
    the sketches' error bounds (2% HLL rsd, loose quantile band)."""
    exact = {
        r.event_type: r for r in REGISTRY["sketch_profile_exact"].fn(spark, sf_dir).collect()
    }
    approx = {
        r.event_type: r for r in REGISTRY["approx_sketches"].fn(spark, sf_dir).collect()
    }
    assert set(exact) == set(approx)
    for et, ex in exact.items():
        ap = approx[et]
        assert ap.n == ex.n
        assert abs(ap.approx_users - ex.n_users) <= max(5, 0.1 * ex.n_users)
        # percentile_approx with accuracy 10000 is near-exact here
        assert abs(ap.q50 - ex.p50) <= 0.05 * max(1.0, abs(ex.p50))


# ---------------------------------------------------------- PPJoin --


def test_ppjoin_completeness_adversarial(spark, tmp_path):
    """Prefix-filter losslessness on a corpus built to stress the
    theorem's edge cases: all-tied document frequencies (every shingle
    df=2, so ordering falls entirely to the md5 tie-break), minimal
    3-word docs (prefix length 1), equal-size pairs exactly AT the
    threshold, and pairs just below it.  Expected pairs come from an
    independent brute-force in pure Python."""
    import itertools

    import pandas as pd

    docs = [
        # J = 2/4 = 0.5: exactly at threshold (must be kept)
        (1, "a b c d e"),            # shingles {abc, bcd, cde}
        (2, "a b c d x"),            # {abc, bcd, cdx} -> inter 2, union 4
        # J = 1/5 < 0.5 with doc 1 (must be pruned or fail verify)
        (3, "a b c q r s t"),
        # identical twins J = 1.0, minimal docs (n=1, prefix len 1)
        (4, "p q r"),
        (5, "p q r"),
        # disjoint
        (6, "u v w x y z"),
        # identical twins with MANY shingles (n=5, prefix len 3,
        # multiple prefix collisions): regression for the positional
        # filter — the overlap bound is valid only at the FIRST common
        # shingle in canonical order; a per-collision min-of-bounds
        # (the bug this case pins) under-bounds via the LAST collision
        # (1 + min(5-3, 5-3) = 3 < alpha = ceil(10/3) = 4) and drops
        # this true J=1.0 pair.
        (7, "h i j k l m n"),
        (8, "h i j k l m n"),
    ]
    pdf = pd.DataFrame(
        {
            "doc_id": [d for d, _ in docs],
            "text": [t for _, t in docs],
            "lang": "en",
            "source": "t",
            "n_chars": [len(t) for _, t in docs],
        }
    )
    pdf.to_parquet(tmp_path / "documents.parquet")

    def shingles(text):
        w = text.split(" ")
        return {
            " ".join(w[i : i + 3]) for i in range(len(w) - 2)
        } if len(w) >= 3 else set()

    expected = set()
    for (da, ta), (db, tb) in itertools.combinations(docs, 2):
        sa, sb = shingles(ta), shingles(tb)
        if sa and sb:
            j = len(sa & sb) / len(sa | sb)
            if j >= 0.5:
                expected.add((min(da, db), max(da, db)))

    from nemscraper_spark.queries import REGISTRY

    got = {
        (r.doc_a, r.doc_b)
        for r in REGISTRY["jaccard_ppjoin_pairs"].fn(
            spark, str(tmp_path)
        ).collect()
    }
    assert got == expected
    assert (1, 2) in expected  # the at-threshold pair is really exercised
    assert (7, 8) in expected  # the multi-collision positional case too


def test_ppjoin_prefix_bound_matches_exact_ceil():
    """The SQL integer formula (TP*n + TQ-1) DIV TQ used for BOTH the
    prefix bound and alpha must equal mathematical ceil(TP*n/TQ) for
    every plausible threshold — the float F.ceil(t*n) it replaced
    differs at e.g. t=0.1, n=20 (float says 3, truth is 2), silently
    shortening the prefix and dropping true pairs (ADVICE round 5)."""
    import math
    from fractions import Fraction

    for tp, tq in [(1, 2), (3, 5), (1, 10), (7, 10), (2, 3), (9, 11)]:
        for n in range(1, 200):
            exact = math.ceil(Fraction(tp * n, tq))
            integer_form = (tp * n + tq - 1) // tq
            assert integer_form == exact, (tp, tq, n)
    # the float form really is wrong somewhere (the hazard is live, not
    # hypothetical): t = 9/11, n = 77 -> t*n = 63 exactly, but the
    # float product lands just above 63 and ceils to 64 — a prefix one
    # element SHORT, i.e. silently dropped true pairs.
    assert math.ceil(9 / 11 * 77) == 64
    assert math.ceil(Fraction(9 * 77, 11)) == 63


def test_ppjoin_completeness_non_dyadic_threshold(
    spark, tmp_path, monkeypatch
):
    """Losslessness must survive a NON-dyadic threshold (t = 3/5): the
    round-5 advice observed the float prefix bound was only correct
    because t=0.5 is exactly representable.  Same brute-force oracle
    as the adversarial test, threshold monkeypatched module-wide."""
    import itertools

    import pandas as pd

    import nemscraper_spark.queries.training_data as td

    monkeypatch.setattr(td, "_PPJOIN_T", 0.6)
    monkeypatch.setattr(td, "_PPJOIN_TP", 3)
    monkeypatch.setattr(td, "_PPJOIN_TQ", 5)

    docs = [
        # inter 3 / union 5 = 0.6: exactly AT the non-dyadic threshold
        (1, "a b c d e f"),          # {abc, bcd, cde, def}
        (2, "a b c d e g"),          # {abc, bcd, cde, deg}
        # inter 2 / union 5 = 0.4 vs docs 1 and 2: below, must be pruned
        (3, "a b c d x"),            # {abc, bcd, cdx}
        (4, "p q r s"),              # {pqr, qrs}
        (5, "p q r s"),              # twin, j = 1.0
        (6, "u v w x y z"),          # disjoint filler
    ]
    pdf = pd.DataFrame(
        {
            "doc_id": [d for d, _ in docs],
            "text": [t for _, t in docs],
            "lang": "en",
            "source": "t",
            "n_chars": [len(t) for _, t in docs],
        }
    )
    pdf.to_parquet(tmp_path / "documents.parquet")

    def shingles(text):
        w = text.split(" ")
        return {
            " ".join(w[i : i + 3]) for i in range(len(w) - 2)
        } if len(w) >= 3 else set()

    expected = set()
    for (da, ta), (db, tb) in itertools.combinations(docs, 2):
        sa, sb = shingles(ta), shingles(tb)
        if sa and sb:
            j = len(sa & sb) / len(sa | sb)
            if j >= 0.6:
                expected.add((min(da, db), max(da, db)))

    from nemscraper_spark.queries import REGISTRY

    got = {
        (r.doc_a, r.doc_b)
        for r in REGISTRY["jaccard_ppjoin_pairs"].fn(
            spark, str(tmp_path)
        ).collect()
    }
    assert got == expected
    assert (1, 2) in expected  # the exactly-at-0.6 pair is exercised
    assert (4, 5) in expected


def test_verify_matches_collectset_reference(spark, sf_dir_oracle):
    """The shipped equi-join exact-Jaccard verify must be BIT-IDENTICAL
    to the retired collect_set+array_intersect form at both registered
    band geometries and one outside the trunk's set (not a single pair,
    count, or double may move).
    The old form lives on HERE as an inline reference implementation —
    it is correct but materializes one shingle array per doc in an
    aggregation buffer, the 100 TB memory/skew hazard the round-8 swap
    removed (round-7 verdict, "What's wrong" #1)."""
    from pyspark.sql import functions as F

    from nemscraper_spark.queries.common import fan_out, load_table
    from nemscraper_spark.queries.training_data import (
        _md5_band_candidates,
        _shingle_frame,
        lsh_verified_pairs_md5,
    )

    def collectset_reference(d, threshold, n_perm, band_size):
        # the retired form, end to end: semi-join-pruned per-doc
        # shingle SETS attached to each candidate pair, verified with
        # array_intersect
        sh = _shingle_frame(d)
        cand = _md5_band_candidates(sh, ((n_perm, band_size),)).select(
            "doc_a", "doc_b"
        )
        cand_docs = (
            cand.select(F.col("doc_a").alias("doc_id"))
            .union(cand.select(F.col("doc_b").alias("doc_id")))
            .distinct()
        )
        sets = (
            sh.join(cand_docs, "doc_id", "left_semi")
            .groupBy("doc_id")
            .agg(F.collect_set("shingle").alias("ss"))
        )
        sa = sets.select(
            F.col("doc_id").alias("doc_a"), F.col("ss").alias("sa")
        )
        sb = sets.select(
            F.col("doc_id").alias("doc_b"), F.col("ss").alias("sb")
        )
        pairs = cand.join(sa, "doc_a").join(sb, "doc_b")
        n_common = F.size(F.array_intersect("sa", "sb")).cast("bigint")
        jac = n_common.cast("double") / (
            F.size("sa").cast("bigint")
            + F.size("sb").cast("bigint")
            - n_common
        )
        return pairs.filter(jac >= threshold).select(
            "doc_a",
            "doc_b",
            n_common.alias("n_common"),
            jac.alias("jaccard"),
        )

    d = fan_out(load_table(spark, sf_dir_oracle, "documents"))
    # (12, 3) lies outside _COUNTED_GEOMETRIES: the uncached
    # single-geometry path, checked against the same reference
    for n_perm, band_size in ((8, 2), (16, 4), (12, 3)):
        ref = sorted(
            collectset_reference(
                d, threshold=0.2, n_perm=n_perm, band_size=band_size
            ).collect()
        )
        got = sorted(
            lsh_verified_pairs_md5(
                d, threshold=0.2, n_perm=n_perm, band_size=band_size
            ).collect()
        )
        assert ref == got, (n_perm, band_size, len(ref), len(got))
        assert len(ref) > 0, "degenerate corpus: no verified pairs"


def test_counted_pairs_cache_provenance(spark, sf_dir_oracle):
    """The counted-pairs memoization must only ever serve a frame it can
    PROVE matches what the caller would have built: (a) the tagged
    documents frame persists ONE trunk per (session, sf_dir, tag) — the
    key carries no geometry — and every repeat request, at either
    registered geometry, reuses that entry; (b) an untransformed-tag-less
    frame (any select/filter downstream of load_table) BYPASSES the
    cache entirely — and still computes the same rows."""
    import nemscraper_spark.queries.training_data as td
    import nemscraper_spark.queries.trunk_cache as tc
    from nemscraper_spark.queries.common import fan_out, load_table

    d = fan_out(load_table(spark, sf_dir_oracle, "documents"))
    app = spark.sparkContext.applicationId
    key = ("counted", app, tc.norm_dir(sf_dir_oracle), "documents")
    saved = tc._TRUNKS.pop(key, None)
    try:
        a1 = td.lsh_counted_pairs_md5(d, 8, 2)
        persisted = tc._TRUNKS[key]
        td.lsh_counted_pairs_md5(d, 8, 2)
        td.lsh_counted_pairs_md5(d, 16, 4)
        assert tc._TRUNKS[key] is persisted  # one entry, reused

        # tag-less frame: bit-identical projection of the same table,
        # but the provenance certificate is gone -> bypass, no new key
        n_keys = len(tc._TRUNKS)
        d2 = d.select("doc_id", "text")
        assert getattr(d2, "_sg_table_tag", None) is None
        c1 = td.lsh_counted_pairs_md5(d2, 8, 2)
        c2 = td.lsh_counted_pairs_md5(d2, 8, 2)
        assert c1 is not c2
        assert len(tc._TRUNKS) == n_keys
        assert sorted(map(tuple, c1.collect())) == sorted(
            map(tuple, a1.collect())
        )
    finally:
        hit = tc._TRUNKS.pop(key, None)
        if hit is not None:
            hit.unpersist()
        if saved is not None:
            tc._TRUNKS[key] = saved


def test_counted_trunk_serves_both_geometries(spark, sf_dir_oracle):
    """ONE counted-pairs trunk per provenance tag serves every geometry
    in _COUNTED_GEOMETRIES: asking for (8, 2) and then (16, 4) leaves
    exactly one "counted" key per tag — for the raw documents frame and
    for the #md5reps slice — each geometry's rows equal the tag-less
    single-geometry build, and a geometry outside the set adds no key."""
    from pyspark.sql import Window as W
    from pyspark.sql import functions as F

    import nemscraper_spark.queries.training_data as td
    import nemscraper_spark.queries.trunk_cache as tc
    from nemscraper_spark.queries.common import fan_out, load_table

    d = fan_out(load_table(spark, sf_dir_oracle, "documents"))
    reps = (
        d.select("doc_id", F.md5("text").alias("th"))
        .withColumn("rep", F.min("doc_id").over(W.partitionBy("th")))
        .filter(F.col("doc_id") == F.col("rep"))
        .select("doc_id")
    )
    reps_docs = d.join(reps, "doc_id")
    reps_docs._sg_table_tag = (d._sg_table_tag[0], "documents#md5reps")

    def counted_keys():
        return sorted(k for k in tc._TRUNKS if k[0] == "counted")

    def rows(frame):
        return sorted(map(tuple, frame.collect()))

    saved = {k: tc._TRUNKS.pop(k) for k in counted_keys()}
    try:
        app = spark.sparkContext.applicationId
        prefix = ("counted", app, tc.norm_dir(sf_dir_oracle))
        for tagged, bypass, tag in (
            (d, d.select("doc_id", "text"), "documents"),
            (reps_docs, d.join(reps, "doc_id"), "documents#md5reps"),
        ):
            assert getattr(bypass, "_sg_table_tag", None) is None
            for n_perm, band_size in ((8, 2), (16, 4)):
                got = rows(td.lsh_counted_pairs_md5(tagged, n_perm, band_size))
                assert got, (tag, n_perm, band_size)
                assert got == rows(
                    td.lsh_counted_pairs_md5(bypass, n_perm, band_size)
                ), (tag, n_perm, band_size)
            assert [k for k in counted_keys() if k[3] == tag] == [(*prefix, tag)]
        before = counted_keys()
        assert rows(td.lsh_counted_pairs_md5(d, 12, 3))
        assert counted_keys() == before
    finally:
        for k in counted_keys():
            tc._TRUNKS.pop(k).unpersist()
        tc._TRUNKS.update(saved)


def test_xxhash_verify_matches_collectset_reference(spark, sf_dir_oracle):
    """The xxhash library-default pipeline's round-9 count-form verify
    must be BIT-IDENTICAL to its retired collect_set+array_intersect
    form (the md5 twin has the same pin in
    test_verify_matches_collectset_reference)."""
    from pyspark.sql import functions as F

    from nemscraper_spark.queries.common import fan_out, load_table
    from nemscraper_spark.queries.training_data import lsh_verified_pairs

    def collectset_reference(d, threshold):
        n_perm, band_size = 16, 4
        sh = (
            d.withColumn("w", F.split("text", " "))
            .filter(F.size("w") >= 3)
            .select(
                "doc_id",
                F.explode(
                    F.expr(
                        "array_distinct(transform(sequence(0, size(w) - 3),"
                        " i -> concat_ws(' ', w[i], w[i+1], w[i+2])))"
                    )
                ).alias("shingle"),
            )
        )
        mins = sh.groupBy("doc_id").agg(
            *[
                F.min(F.xxhash64(F.lit(i), F.col("shingle"))).alias(f"h{i}")
                for i in range(n_perm)
            ]
        )
        bands = mins.select(
            "doc_id",
            F.explode(
                F.array(
                    *[
                        F.struct(
                            F.lit(b).alias("band"),
                            F.xxhash64(
                                *[
                                    F.col(f"h{b * band_size + j}")
                                    for j in range(band_size)
                                ]
                            ).alias("bucket"),
                        )
                        for b in range(n_perm // band_size)
                    ]
                )
            ).alias("bb"),
        ).select("doc_id", "bb.band", "bb.bucket")
        la = bands.select(F.col("doc_id").alias("doc_a"), "band", "bucket")
        lb = bands.select(F.col("doc_id").alias("doc_b"), "band", "bucket")
        cand = (
            la.join(lb, ["band", "bucket"])
            .filter(F.col("doc_a") < F.col("doc_b"))
            .select("doc_a", "doc_b")
            .distinct()
        )
        cand_docs = (
            cand.select(F.col("doc_a").alias("doc_id"))
            .union(cand.select(F.col("doc_b").alias("doc_id")))
            .distinct()
        )
        sets = (
            sh.join(cand_docs, "doc_id", "left_semi")
            .groupBy("doc_id")
            .agg(F.collect_set(F.xxhash64("shingle")).alias("ss"))
        )
        sa = sets.select(
            F.col("doc_id").alias("doc_a"), F.col("ss").alias("sa")
        )
        sb = sets.select(
            F.col("doc_id").alias("doc_b"), F.col("ss").alias("sb")
        )
        n_common = F.size(F.array_intersect("sa", "sb"))
        jac = n_common.cast("double") / (
            F.size("sa") + F.size("sb") - n_common
        )
        return (
            cand.join(sa, "doc_a")
            .join(sb, "doc_b")
            .filter(jac >= threshold)
            .select("doc_a", "doc_b", jac.alias("jaccard"))
        )

    d = fan_out(load_table(spark, sf_dir_oracle, "documents"))
    ref = sorted(map(tuple, collectset_reference(d, 0.2).collect()))
    got = sorted(map(tuple, lsh_verified_pairs(d, 0.2).collect()))
    assert ref == got, (len(ref), len(got))
    assert len(ref) > 0, "degenerate corpus: no verified pairs"


def test_persist_trunk_adaptive_restores_session_conf(spark, sf_dir):
    """The round-9 ADVICE fix: building a cached trunk must not leave
    spark.sql.optimizer.canChangeCachedPlanOutputPartitioning flipped
    session-globally — the conf is set around persist+materialize and
    restored to exactly its prior state (value, or unset)."""
    import nemscraper_spark.queries.trunk_cache as tc
    from pyspark.sql import functions as F

    name = "spark.sql.optimizer.canChangeCachedPlanOutputPartitioning"
    prev = spark.conf.get(name, None)
    try:
        # case 1: conf previously unset -> unset again afterwards
        spark.conf.unset(name)
        small = spark.range(10).groupBy((F.col("id") % 3).alias("k")).count()
        out, rows = tc.persist_trunk_adaptive(small)
        assert rows == out.count() == 3
        assert spark.conf.get(name, None) is None
        out.unpersist()
        # case 2: conf previously pinned false -> still false afterwards
        spark.conf.set(name, "false")
        out2, rows2 = tc.persist_trunk_adaptive(small.withColumn("z", F.lit(1)))
        assert rows2 == out2.count() == 3
        assert spark.conf.get(name, None) == "false"
        out2.unpersist()
    finally:
        if prev is None:
            spark.conf.unset(name)
        else:
            spark.conf.set(name, prev)


def test_dedup_groups_reps_slice_uses_derived_tag_cache(spark, sf_dir_oracle):
    """r10 queue item b: the dedup-groups md5-collapse representatives
    slice carries the derived "documents#md5reps" provenance tag, so
    its counted-pairs trunk persists under its own key — distinct from
    the raw-table key — and a repeat build is a cache hit, while rows
    are unchanged vs the pre-tag (bypass) behavior."""
    import nemscraper_spark.queries.training_data as td
    from pyspark.sql import Window as W
    from pyspark.sql import functions as F

    from nemscraper_spark.operators.components import connected_components
    from nemscraper_spark.queries.common import fan_out, load_table
    from nemscraper_spark.queries.corpus_ops import _dedup_groups_md5

    import nemscraper_spark.queries.trunk_cache as tc

    app = spark.sparkContext.applicationId
    rkey = ("counted", app, tc.norm_dir(sf_dir_oracle), "documents#md5reps")
    saved = tc._TRUNKS.pop(rkey, None)
    try:
        got = sorted(
            map(tuple, _dedup_groups_md5(spark, sf_dir_oracle, 8, 2).collect())
        )
        assert rkey in tc._TRUNKS  # trunk registered under derived tag
        trunk = tc._TRUNKS[rkey]
        # rebuild: same session + sf_dir + tag -> identical object
        _dedup_groups_md5(spark, sf_dir_oracle, 8, 2)
        assert tc._TRUNKS[rkey] is trunk
        # the derived tag never collides with the raw-table key
        assert ("counted", app, tc.norm_dir(sf_dir_oracle), "documents") != rkey
        # rows match the bypass path (tag stripped -> cache-less build)
        d = fan_out(load_table(spark, sf_dir_oracle, "documents"))
        mapping = (
            d.select("doc_id", F.md5("text").alias("th"))
            .withColumn(
                "rep", F.min("doc_id").over(W.partitionBy("th"))
            )
            .select("doc_id", "rep")
        )
        reps = mapping.filter(F.col("doc_id") == F.col("rep")).select("doc_id")
        bypass = td.lsh_verified_pairs_md5(
            d.join(reps, "doc_id").select("doc_id", "text"),
            threshold=0.5,
            n_perm=8,
            band_size=2,
        ).select("doc_a", "doc_b")
        star = mapping.filter(F.col("doc_id") != F.col("rep")).select(
            F.col("rep").alias("doc_a"), F.col("doc_id").alias("doc_b")
        )
        comp = connected_components(
            bypass.unionByName(star), "doc_a", "doc_b"
        )
        ref = sorted(
            map(
                tuple,
                comp.select(
                    F.col("node").alias("doc_id"),
                    "component",
                    F.count("*")
                    .over(W.partitionBy("component"))
                    .alias("n_members"),
                ).collect(),
            )
        )
        assert got == ref
    finally:
        hit = tc._TRUNKS.pop(rkey, None)
        if hit is not None and saved is None:
            hit.unpersist()
        if saved is not None:
            tc._TRUNKS[rkey] = saved


def test_clear_hooks_empty_every_trunk_cache(spark, sf_dir):
    """THE rewrite-boundary hook (r11: ONE registry, one hook) must
    unpersist + empty every trunk family at once — the r10 ADVICE
    gap was per-module hooks leaving sibling caches alive — and a
    post-clear rebuild yields the same rows.  Teardown clears
    again so the test leaves the registry in a known-empty state
    rather than pinning freshly built trunks for the session (r10
    ADVICE)."""
    import nemscraper_spark.queries.trunk_cache as tc
    import nemscraper_spark.queries.training_data as td
    from nemscraper_spark.queries import REGISTRY

    try:
        # populate the ppjoin + semantic trunks for this sf_dir
        pp_rows = sorted(
            map(tuple, REGISTRY["jaccard_ppjoin_pairs"].fn(spark, sf_dir).collect())
        )
        sem_rows = sorted(
            map(tuple, REGISTRY["semantic_dedup_clusters"].fn(spark, sf_dir).collect())
        )
        app = spark.sparkContext.applicationId
        nd = tc.norm_dir(sf_dir)
        assert ("ppjoin_cand", app, nd, td._PPJOIN_TP, td._PPJOIN_TQ) in tc._TRUNKS
        assert ("sem_pairs", app, nd) in tc._TRUNKS

        # the aggregate clear drops counted, ppjoin, dup-edges AND
        # sem-pairs in one call
        # warm an ANN grid entry too: the aggregate hook covers it
        # (same corpus-staleness hazard, previously no hook at all)
        import nemscraper_spark.queries.ann_twins as at

        at._int_grid(spark, sf_dir)
        assert at._GRID_CACHE

        tc.clear_trunk_caches()
        assert not tc._TRUNKS
        assert not td._SHINGLE_CACHE and not td._BANDS_CACHE
        assert not at._GRID_CACHE and not at._SAMPLE_CACHE

        # rebuild after clear: identical rows (the hook never corrupts)
        assert pp_rows == sorted(
            map(tuple, REGISTRY["jaccard_ppjoin_pairs"].fn(spark, sf_dir).collect())
        )
        assert sem_rows == sorted(
            map(tuple, REGISTRY["semantic_dedup_clusters"].fn(spark, sf_dir).collect())
        )
    finally:
        tc.clear_trunk_caches()
        assert not tc._TRUNKS


def test_failed_trunk_materialization_leaves_no_orphan(spark):
    """r10 ADVICE: if the eager count() inside persist_trunk_adaptive
    raises, the frame must be unpersisted before the error surfaces
    (else an unreachable persisted plan is pinned for the session)
    and trunk() must register nothing — plus the AQE conf is still
    restored."""
    import pytest
    from pyspark import StorageLevel
    from pyspark.sql import functions as F

    import nemscraper_spark.queries.trunk_cache as tc

    name = "spark.sql.optimizer.canChangeCachedPlanOutputPartitioning"
    prev = spark.conf.get(name, None)
    bad = spark.range(3).select(
        F.assert_true(F.col("id") < 0).alias("x")  # fails at runtime
    )
    key = (spark.sparkContext.applicationId, "__orphan_test__")
    with pytest.raises(Exception):
        tc.trunk("test_fail", key, lambda: bad)
    assert ("test_fail", *key) not in tc._TRUNKS
    # persist() returned the same frame; the except-path unpersisted it
    assert bad.storageLevel == StorageLevel.NONE
    assert spark.conf.get(name, None) == prev


def test_trunk_build_logs_once_per_miss(spark, caplog):
    """Every trunk build logs ONE JSON record on the
    "nemscraper_spark.trunk" logger — family, tunables (the key after
    applicationId and directory), build seconds and row count — and a
    cache hit logs nothing."""
    import json
    import logging

    import nemscraper_spark.queries.trunk_cache as tc

    key = (spark.sparkContext.applicationId, "__log_test__", 7)
    caplog.set_level(logging.INFO, logger="nemscraper_spark.trunk")
    try:
        first = tc.trunk("test_log", key, lambda: spark.range(5))
        assert tc.trunk("test_log", key, lambda: spark.range(5)) is first
        recs = [r for r in caplog.records if r.name == "nemscraper_spark.trunk"]
        assert len(recs) == 1
        rec = json.loads(recs[0].getMessage())
        assert rec["family"] == "test_log"
        assert rec["tunables"] == [7]
        assert rec["rows"] == 5
        assert rec["seconds"] >= 0
    finally:
        hit = tc._TRUNKS.pop(("test_log", *key), None)
        if hit is not None:
            hit.unpersist()


def test_norm_dir_canonicalizes_spellings(tmp_path):
    """Two spellings of one directory form ONE cache key (r10
    ADVICE): trailing slash, repeated separators, and dot segments
    all collapse to the same canonical absolute path."""
    from nemscraper_spark.queries.trunk_cache import norm_dir

    base = str(tmp_path / "sf0.01")
    assert norm_dir(base + "/") == norm_dir(base)
    assert norm_dir(base + "//") == norm_dir(base)
    assert norm_dir(str(tmp_path) + "/./sf0.01") == norm_dir(base)
    assert norm_dir(str(tmp_path / "x" / ".." / "sf0.01")) == norm_dir(base)
