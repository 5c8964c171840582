"""Large-scale training-data pipeline operators over documents/embeddings.

Beyond reference parity (BASELINE.json stretch goals): deduplication
(exact, n-gram Jaccard, MinHash+LSH, SimHash), similarity search
(brute-force cosine top-k + LSH-bucketed ANN), and text analysis
(language-ID, quality scoring, token counting, fingerprinting).

Scale design notes:
  * Shingle/pair joins are shuffle-on-shingle equi-joins — the classic
    MinHash/LSH trick keeps candidate generation linear in corpus size
    (bands → bucket-join) instead of the quadratic all-pairs join, which
    is why both variants exist: ngram_jaccard_pairs is the exact oracle-
    checkable baseline, minhash_lsh is the 100TB path.
  * Cross-engine determinism: every hash used for fingerprints/planes is
    md5 (identical in Spark and DuckDB); cosine sums run element-in-order
    over DOUBLE so both engines produce bit-identical floats.
  * ANN hyperplanes are derived from md5(plane,dim) signs — data-
    independent, no fitting step, reproducible anywhere.
"""

from __future__ import annotations

from pyspark.sql import functions as F

from nemscraper_spark.operators.ann import (
    adc_tables,
    adc_top5,
    ivf_assign,
    ivf_pairs,
    lloyd,
    nearest,
    pq_encode,
    top5,
    train_pq,
)
from nemscraper_spark.queries.common import (
    fan_out,
    fan_out_sized,
    load_table,
    pairwise_cosine9,
    register,
)

STOPWORDS = {
    "en": ("the", "a", "and", "of", "to"),
    "es": ("el", "la", "de", "los", "y"),
    "fr": ("le", "la", "et", "les", "des"),
    "de": ("der", "die", "und", "das", "ein"),
    "zh": ("de5", "le5", "shi4", "zai4", "he2"),
}


# ---------------------------------------------------------------- dedup --


@register(
    "dedup_exact",
    oracle="""
    SELECT doc_id, md5(text) AS fingerprint,
           CAST(COUNT(*) OVER (PARTITION BY md5(text)) AS BIGINT) AS dup_count
    FROM documents
    """,
    tags=("dedup",),
)
def dedup_exact(spark, sf_dir):
    """Exact dedup via content hash + per-group count (hash-groupBy).
    Keep-one selection composes with aggregates.dedup_keep_first."""
    from pyspark.sql import Window

    d = load_table(spark, sf_dir, "documents")
    w = Window.partitionBy(F.md5("text"))
    return d.select(
        "doc_id",
        F.md5("text").alias("fingerprint"),
        F.count("*").over(w).alias("dup_count"),
    )


_SHINGLE_SQL = """
      SELECT DISTINCT doc_id,
             w[i] || ' ' || w[i+1] || ' ' || w[i+2] AS shingle
      FROM (SELECT doc_id, string_split(text, ' ') AS w FROM documents),
           UNNEST(generate_series(1, len(w) - 2)) AS t(i)
      WHERE len(w) >= 3
"""


@register(
    "ngram_jaccard_pairs",
    oracle=f"""
    WITH sh AS ({_SHINGLE_SQL}),
    cnt AS (SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS n FROM sh GROUP BY doc_id),
    inter AS (
      SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, CAST(COUNT(*) AS BIGINT) AS n_common
      FROM sh a JOIN sh b ON a.shingle = b.shingle AND a.doc_id < b.doc_id
      GROUP BY 1, 2
    )
    SELECT doc_a, doc_b, n_common,
           CAST(n_common AS DOUBLE) / (ca.n + cb.n - n_common) AS jaccard
    FROM inter
    JOIN cnt ca ON ca.doc_id = doc_a
    JOIN cnt cb ON cb.doc_id = doc_b
    WHERE CAST(n_common AS DOUBLE) / (ca.n + cb.n - n_common) >= 0.2
    """,
    tags=("dedup",),
)
def ngram_jaccard_pairs(spark, sf_dir):
    """Near-dup pairs by exact word-3-gram Jaccard ≥ 0.2.

    Shuffle-on-shingle equi-join (inverted index), NOT an all-pairs
    cross join — candidate pairs only materialize where shingles
    actually collide. The join key is the 8-byte xxhash64 of the
    shingle, not the string: ~2x less shuffle (any-collision odds at
    2^18 distinct shingles ~1e-9, negligible next to float
    tolerances).

    The tiny pair output is a shared TRUNK (trunk_cache, family
    "exact_pairs"): lsh_band_curve_report consumes the same frame as
    its recall denominator, so the inverted-index join builds once
    per (session, corpus) instead of once per consumer."""
    from nemscraper_spark.queries.trunk_cache import norm_dir, trunk

    d = fan_out(load_table(spark, sf_dir, "documents"))
    return trunk(
        "exact_pairs",
        (spark.sparkContext.applicationId, norm_dir(sf_dir)),
        lambda: _ngram_jaccard_pairs_build(d),
    )


def _ngram_jaccard_pairs_build(d):
    sh = _shingle_frame(d).select(
        "doc_id", F.xxhash64("shingle").alias("shingle")
    )
    cnt = sh.groupBy("doc_id").agg(F.count("*").alias("n"))
    a = sh.select(F.col("doc_id").alias("doc_a"), "shingle")
    b = sh.select(F.col("doc_id").alias("doc_b"), "shingle")
    inter = (
        a.join(b, "shingle")
        .filter(F.col("doc_a") < F.col("doc_b"))
        .groupBy("doc_a", "doc_b")
        .agg(F.count("*").alias("n_common"))
    )
    ca = cnt.select(F.col("doc_id").alias("doc_a"), F.col("n").alias("na"))
    cb = cnt.select(F.col("doc_id").alias("doc_b"), F.col("n").alias("nb"))
    jac = F.col("n_common").cast("double") / (
        F.col("na") + F.col("nb") - F.col("n_common")
    )
    return (
        inter.join(F.broadcast(ca), "doc_a")
        .join(F.broadcast(cb), "doc_b")
        .filter(jac >= 0.2)
        .select("doc_a", "doc_b", "n_common", jac.alias("jaccard"))
    )


# PPJoin-style prefix filtering (Xiao et al., WWW'08 "Efficient
# Similarity Joins for Near Duplicate Detection"): under ANY global
# total order over shingles, two sets with Jaccard >= t must share a
# shingle inside each other's first (n - ceil(t*n) + 1) shingles — so
# the candidate join can run on prefixes only and remain EXACT
# (lossless), unlike MinHash/LSH which trade recall for speed.  The
# canonical order is (document frequency ASC, md5(shingle)): rarest
# shingles first minimizes prefix collisions, and the md5 tie-break is
# portable across engines (raw-string collation is not, on a
# multilingual corpus).
#
# t is carried as the exact rational _PPJOIN_TP/_PPJOIN_TQ so the
# positional filter's required-overlap bound alpha = ceil(t(na+nb)/(1+t))
# is computed in INTEGER arithmetic — a float ceil could round a
# boundary case up and silently drop a true pair (losslessness beats
# elegance here).
_PPJOIN_T = 0.5
_PPJOIN_TP, _PPJOIN_TQ = 1, 2  # t = TP/TQ


def _ppjoin_hashed(spark, sf_dir):
    """(doc_id, h) shingle rows with h = xxhash64(shingle) — every
    PPJoin join/shuffle runs on the 8-byte hash, not the string (the
    ngram_jaccard_pairs convention: collision odds ~1e-9, ~2x less
    shuffle).  The raw string survives only into the RANKING step,
    where the portable (df, md5(shingle)) canonical order needs it."""
    d = fan_out(load_table(spark, sf_dir, "documents"))
    return _shingle_frame(d).select(
        "doc_id", "shingle", F.xxhash64("shingle").alias("h")
    )


def _ppjoin_prefix_frame(sh):
    """(doc_id, h, n, pos) restricted to each doc's PPJoin prefix at
    threshold _PPJOIN_T.  One shuffle on h (document frequency), one
    on doc_id (rank + set size in a single window exchange).  pos (the
    shingle's rank in the canonical order) feeds the positional
    filter downstream."""
    from pyspark.sql import Window

    dfreq = sh.groupBy("h").agg(F.count("*").alias("df"))
    w_rank = Window.partitionBy("doc_id").orderBy("df", F.md5("shingle"))
    w_all = Window.partitionBy("doc_id")
    # prefix bound in the SAME integer arithmetic as alpha: ceil(t*n) =
    # (TP*n + TQ - 1) DIV TQ.  A float ceil happens to agree at t=0.5
    # (dyadic) but can round a boundary case UP at other thresholds,
    # cutting the prefix one element short and silently dropping a true
    # pair — losslessness must not depend on the constant being dyadic.
    tp, tq = _PPJOIN_TP, _PPJOIN_TQ
    ceil_tn = F.expr(f"CAST(({tp} * n + {tq - 1}) DIV {tq} AS BIGINT)")
    return (
        sh.join(dfreq, "h")
        .select("doc_id", "shingle", "h", "df")
        .withColumn("pos", F.row_number().over(w_rank))
        .withColumn("n", F.count("*").over(w_all))
        .filter(F.col("pos") <= F.col("n") - ceil_tn + 1)
        .select("doc_id", "h", "n", "pos")
    )


# PPJoin candidate trunk (round-10; round-11: moved into the shared
# trunk_cache registry): the prefix+positional candidate set is
# shared by jaccard_ppjoin_pairs and jaccard_ppjoin_report (which
# consumes it twice — once directly, once through its call into the
# pairs query), and its OUTPUT is tiny (the survivor candidate
# list), while its build pays the df join + per-doc rank window over
# the full shingle frame.  Provenance by construction (the builder
# loads the table itself); a rewritten corpus rebuilds the trunk by
# the footprint rule documented ONCE at trunk_cache.
def _ppjoin_cand_cached(spark, sf_dir):
    """(doc_a, doc_b, na, nb) PPJoin survivor candidates, memoized +
    persisted per (session, sf_dir, threshold) — see trunk_cache.
    The threshold rationals join the key so a caller (or test) that
    rebinds _PPJOIN_TP/_PPJOIN_TQ can never be served a trunk built
    under a different threshold."""
    from nemscraper_spark.queries.trunk_cache import norm_dir, trunk

    return trunk(
        "ppjoin_cand",
        (
            spark.sparkContext.applicationId,
            norm_dir(sf_dir),
            _PPJOIN_TP,
            _PPJOIN_TQ,
        ),
        lambda: _ppjoin_candidates(
            _ppjoin_prefix_frame(_ppjoin_hashed(spark, sf_dir))
        ),
    )


def _ppjoin_candidates(prefix):
    """(doc_a, doc_b, na, nb) pairs colliding within prefixes and
    surviving BOTH PPJoin filters:

      * length filter — J >= t forces t*max(|x|,|y|) <= min;
      * POSITIONAL filter (the heart of PPJoin) — the FIRST common
        shingle in the canonical order sits at positions
        (min(pa), min(pb)) over the observed collisions, and every
        OTHER common shingle must come after it in BOTH docs, so
        overlap <= 1 + min(na - min(pa), nb - min(pb)).  (The bound
        holds only at the first common token: taking the tightest
        bound per-collision over-prunes, because a later collision
        does not constrain the common tokens before it.)  The bound
        must still reach alpha = ceil(t*(na+nb)/(1+t)), the overlap
        J >= t requires; alpha is exact-integer (see
        _PPJOIN_TP/_PPJOIN_TQ).

    On zipfian shingle data the prefix filter alone leaves ~27% of
    colliding pairs (sf0.1: 1.13M -> 310k); the positional bound is
    what collapses the shared-boilerplate tail before the verify
    joins ever see it.  The groupBy replaces the distinct() — same
    shuffle, strictly more pruning."""
    a = prefix.select(
        F.col("doc_id").alias("doc_a"),
        "h",
        F.col("n").alias("na"),
        F.col("pos").alias("pa"),
    )
    b = prefix.select(
        F.col("doc_id").alias("doc_b"),
        "h",
        F.col("n").alias("nb"),
        F.col("pos").alias("pb"),
    )
    tp, tq = _PPJOIN_TP, _PPJOIN_TQ
    # alpha = ceil(tp*(na+nb)/(tp+tq)) via integer DIV — never float
    alpha = F.expr(
        f"CAST(({tp} * (na + nb) + {tp + tq - 1}) DIV {tp + tq} AS BIGINT)"
    )
    ub = F.lit(1) + F.least(
        F.col("na") - F.col("min_pa"), F.col("nb") - F.col("min_pb")
    )
    return (
        a.join(b, "h")
        .filter(F.col("doc_a") < F.col("doc_b"))
        # length filter in exact integers too: least >= t*greatest
        # <=> TQ*least >= TP*greatest (TQ > 0), no float boundary risk
        .filter(
            F.lit(tq) * F.least("na", "nb")
            >= F.lit(tp) * F.greatest("na", "nb")
        )
        .groupBy("doc_a", "doc_b", "na", "nb")
        .agg(F.min("pa").alias("min_pa"), F.min("pb").alias("min_pb"))
        .filter(ub >= alpha)
        .select("doc_a", "doc_b", "na", "nb")
    )


@register(
    "jaccard_ppjoin_pairs",
    oracle=f"""
    WITH sh AS ({_SHINGLE_SQL}),
    cnt AS (SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS n FROM sh GROUP BY doc_id),
    inter AS (
      SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, CAST(COUNT(*) AS BIGINT) AS n_common
      FROM sh a JOIN sh b ON a.shingle = b.shingle AND a.doc_id < b.doc_id
      GROUP BY 1, 2
    )
    SELECT doc_a, doc_b, n_common,
           CAST(n_common AS DOUBLE) / (ca.n + cb.n - n_common) AS jaccard
    FROM inter
    JOIN cnt ca ON ca.doc_id = doc_a
    JOIN cnt cb ON cb.doc_id = doc_b
    WHERE CAST(n_common AS DOUBLE) / (ca.n + cb.n - n_common) >= {_PPJOIN_T}
    """,
    tags=("dedup", "similarity"),
)
def jaccard_ppjoin_pairs(spark, sf_dir):
    """Exact Jaccard >= 0.5 pairs via PPJoin prefix filtering.

    Same answer as the naive inverted-index join (the oracle IS the
    naive form — the hash gate proves the pruning lost nothing), but
    candidate generation touches only each doc's (n - ceil(t*n) + 1)
    rarest shingles plus a length filter, so at 100 TB the candidate
    pair volume tracks true near-dup density instead of shingle
    collision density (sf0.01: 11,533 colliding pairs ->
    prefix+positional candidates = 25 = exactly the survivor set).
    Verification then counts intersections ONLY for surviving
    candidates: two equi-joins of the candidate list against the full
    shingle frame, grouped per pair — cost proportional to candidates,
    never to corpus^2.

    Honest crossover note (measured, sf0.1): on SHORT docs (~50
    tokens) with template-dense vocabulary the naive single-join exact
    path (ngram_jaccard_pairs' shape) still wins on wall clock — the
    prefix build (df join + rank window) plus the per-candidate verify
    joins cost more than one big collision groupBy when docs are this
    small.  PPJoin's pruning pays where verification is the dominant
    term: long documents (shingle sets in the thousands) and corpora
    where candidates << colliding pairs — jaccard_ppjoin_report
    hash-pins all three counts per corpus so that decision is
    data-driven, not asserted."""
    sh = _ppjoin_hashed(spark, sf_dir)
    cand = _ppjoin_cand_cached(spark, sf_dir)
    sa = sh.select(F.col("doc_id").alias("doc_a"), "h")
    sb = sh.select(F.col("doc_id").alias("doc_b"), "h")
    inter = (
        cand.join(sa, "doc_a")
        .join(sb, ["doc_b", "h"])
        .groupBy("doc_a", "doc_b", "na", "nb")
        .agg(F.count("*").alias("n_common"))
    )
    jac = F.col("n_common").cast("double") / (
        F.col("na") + F.col("nb") - F.col("n_common")
    )
    return inter.filter(jac >= _PPJOIN_T).select(
        "doc_a", "doc_b", "n_common", jac.alias("jaccard")
    )


@register(
    "jaccard_ppjoin_report",
    oracle=f"""
    WITH sh AS ({_SHINGLE_SQL}),
    dfreq AS (SELECT shingle, CAST(COUNT(*) AS BIGINT) AS df FROM sh GROUP BY shingle),
    ranked AS (
      SELECT s.doc_id, s.shingle,
             ROW_NUMBER() OVER (PARTITION BY s.doc_id ORDER BY d.df, md5(s.shingle)) AS pos,
             COUNT(*) OVER (PARTITION BY s.doc_id) AS n
      FROM sh s JOIN dfreq d ON s.shingle = d.shingle
    ),
    pref AS (SELECT doc_id, shingle, n, pos FROM ranked
             WHERE pos <= n - ({_PPJOIN_TP} * n + {_PPJOIN_TQ - 1})
                              // {_PPJOIN_TQ} + 1),
    cand AS (
      SELECT doc_a, doc_b FROM (
        SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
               a.n AS na, b.n AS nb,
               MIN(a.pos) AS min_pa, MIN(b.pos) AS min_pb
        FROM pref a JOIN pref b ON a.shingle = b.shingle AND a.doc_id < b.doc_id
        WHERE {_PPJOIN_TQ} * LEAST(a.n, b.n) >= {_PPJOIN_TP} * GREATEST(a.n, b.n)
        GROUP BY 1, 2, 3, 4
      )
      WHERE 1 + LEAST(na - min_pa, nb - min_pb)
            >= ({_PPJOIN_TP} * (na + nb) + {_PPJOIN_TP + _PPJOIN_TQ - 1})
               // {_PPJOIN_TP + _PPJOIN_TQ}
    ),
    naive AS (
      SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
      FROM sh a JOIN sh b ON a.shingle = b.shingle AND a.doc_id < b.doc_id
    ),
    cnt AS (SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS n FROM sh GROUP BY doc_id),
    matched AS (
      SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, COUNT(*) AS n_common
      FROM sh a JOIN sh b ON a.shingle = b.shingle AND a.doc_id < b.doc_id
      GROUP BY 1, 2
    )
    SELECT
      (SELECT CAST(COUNT(*) AS BIGINT) FROM naive) AS naive_candidate_pairs,
      (SELECT CAST(COUNT(*) AS BIGINT) FROM cand) AS prefix_candidate_pairs,
      (SELECT CAST(COUNT(*) AS BIGINT) FROM matched m
         JOIN cnt ca ON ca.doc_id = m.doc_a
         JOIN cnt cb ON cb.doc_id = m.doc_b
        WHERE CAST(n_common AS DOUBLE) / (ca.n + cb.n - n_common) >= {_PPJOIN_T})
        AS matched_pairs
    """,
    tags=("dedup", "scale"),
)
def jaccard_ppjoin_report(spark, sf_dir):
    """The PPJoin pruning A/B, hash-gated: naive colliding-pair count
    vs prefix+positional candidate count vs true matches, one row.
    The oracle replicates the full pruning logic verbatim (same
    (df ASC, md5(shingle)) canonical order, same ceil arithmetic, same
    integer-exact alpha and first-common-token overlap bound), so the
    gate pins BOTH the pruning ratio and its losslessness
    (prefix_candidate_pairs >= matched_pairs always; every matched
    pair is produced by jaccard_ppjoin_pairs).  sf0.01 measures
    11,533 -> 25 -> 25: the positional bound collapses the candidate
    set to exactly the answer.  This is the number a 100 TB dedup run
    budgets its verify stage with."""
    sh = _ppjoin_hashed(spark, sf_dir)
    cand = _ppjoin_cand_cached(spark, sf_dir)
    a = sh.select(F.col("doc_id").alias("doc_a"), "h")
    b = sh.select(F.col("doc_id").alias("doc_b"), "h")
    colliding = (
        a.join(b, "h")
        .filter(F.col("doc_a") < F.col("doc_b"))
        .select("doc_a", "doc_b")
        .distinct()
    )
    naive = colliding.agg(F.count("*").alias("naive_candidate_pairs"))
    pref = cand.agg(F.count("*").alias("prefix_candidate_pairs"))
    matched = (
        jaccard_ppjoin_pairs(spark, sf_dir)
        .agg(F.count("*").alias("matched_pairs"))
    )
    # three 1-row scalar frames -> bounded crossJoin (spine/scalar shape)
    return naive.crossJoin(pref).crossJoin(matched)


@register(
    "minhash_signatures_md5",
    oracle=f"""
    WITH sh AS ({_SHINGLE_SQL})
    SELECT doc_id,
           MIN(md5('0|' || shingle)) AS sig_0,
           MIN(md5('1|' || shingle)) AS sig_1,
           MIN(md5('2|' || shingle)) AS sig_2,
           MIN(md5('3|' || shingle)) AS sig_3,
           MIN(md5('4|' || shingle)) AS sig_4,
           MIN(md5('5|' || shingle)) AS sig_5,
           MIN(md5('6|' || shingle)) AS sig_6,
           MIN(md5('7|' || shingle)) AS sig_7
    FROM sh GROUP BY doc_id
    """,
    tags=("dedup",),
)
def minhash_signatures_md5(spark, sf_dir):
    """The minhash KERNEL itself, hash-match-checkable: K=8 per-doc
    min-of-md5('seed|shingle') signatures, identical byte-for-byte in
    any engine with md5 (P[sig_i equal] = Jaccard — the estimator LSH
    banding builds on), so THIS query pins the algorithm cross-engine
    exactly. One explode + one grouped
    8-way min-agg: partial aggregation absorbs the shingle fan-out
    map-side, nothing shuffles but (doc_id, 8 hashes)."""
    d = fan_out(load_table(spark, sf_dir, "documents"))
    sh = _shingle_frame(d)
    return sh.groupBy("doc_id").agg(
        *[
            F.min(F.md5(F.concat(F.lit(f"{i}|"), F.col("shingle")))).alias(f"sig_{i}")
            for i in range(8)
        ]
    )


# md5-LSH candidate CTE generator (shingles → n_perm md5 sigs →
# n_perm/band_size bands → bucket-join candidates → per-doc shingle
# counts + pair intersection counts).  Two geometries are in use:
# (8, 2) for the compact twins (minhash_lsh_pairs_md5, containment),
# (16, 4) for the production-geometry primaries (minhash_lsh_pairs,
# dedup_groups_lsh) — P[collide] = 1-(1-j^4)^4, the band curve the
# 100 TB keep-list runs with.  `sh_src` lets the dup-group oracle band
# over the representatives-only shingle CTE.
def _lsh_md5_bands_only_sql(n_perm: int, band_size: int, sh_src: str) -> str:
    """sig + bands CTEs only — callers attach their own candidate join
    (symmetric for full-corpus dedup, asymmetric for the incremental
    delta-vs-base path)."""
    n_bands = n_perm // band_size
    # the CASE ladder below needs >= 1 WHEN arm; a single-band
    # geometry would generate 'CASE b ELSE ... END' (invalid SQL)
    assert n_bands >= 2, "band geometry needs at least two bands"
    sig_cols = ", ".join(
        f"MIN(md5('{i}|' || shingle)) AS s{i}" for i in range(n_perm)
    )
    whens = " ".join(
        f"WHEN {b} THEN "
        + " || ".join(f"s{band_size * b + j}" for j in range(band_size))
        for b in range(n_bands - 1)
    )
    last = " || ".join(
        f"s{band_size * (n_bands - 1) + j}" for j in range(band_size)
    )
    return f"""
    sig AS (
      SELECT doc_id, {sig_cols}
      FROM {sh_src} GROUP BY doc_id
    ),
    bands AS (
      SELECT doc_id, b,
             CASE b {whens} ELSE {last} END AS bucket
      FROM sig, UNNEST(generate_series(0, {n_bands - 1})) AS t(b)
    )"""


def _lsh_md5_sig_bands_sql(n_perm: int, band_size: int, sh_src: str) -> str:
    return (
        _lsh_md5_bands_only_sql(n_perm, band_size, sh_src)
        + """,
    cand AS (
      SELECT DISTINCT x.doc_id AS doc_a, y.doc_id AS doc_b
      FROM bands x JOIN bands y
        ON x.b = y.b AND x.bucket = y.bucket AND x.doc_id < y.doc_id
    )"""
    )


def _lsh_md5_cand_sql(n_perm: int, band_size: int) -> str:
    return f"""
    WITH sh AS ({_SHINGLE_SQL}),
    {_lsh_md5_sig_bands_sql(n_perm, band_size, "sh")},
    cnt AS (SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS n FROM sh GROUP BY doc_id),
    inter AS (
      SELECT c.doc_a, c.doc_b, CAST(COUNT(*) AS BIGINT) AS n_common
      FROM cand c
      JOIN sh a ON a.doc_id = c.doc_a
      JOIN sh b ON b.doc_id = c.doc_b AND b.shingle = a.shingle
      GROUP BY c.doc_a, c.doc_b
    )
"""


_LSH_MD5_CAND_SQL = _lsh_md5_cand_sql(8, 2)

_LSH_JACCARD_TAIL = """
    SELECT i.doc_a, i.doc_b, i.n_common,
           CAST(i.n_common AS DOUBLE) / (ca.n + cb.n - i.n_common) AS jaccard
    FROM inter i
    JOIN cnt ca ON ca.doc_id = i.doc_a
    JOIN cnt cb ON cb.doc_id = i.doc_b
    WHERE CAST(i.n_common AS DOUBLE) / (ca.n + cb.n - i.n_common) >= {t}
"""


@register(
    "minhash_lsh_pairs_md5",
    oracle=_LSH_MD5_CAND_SQL + _LSH_JACCARD_TAIL.format(t=0.2),
    tags=("dedup",),
)
def minhash_lsh_pairs_md5(spark, sf_dir):
    """The FULL MinHash+LSH pipeline pinned cross-engine: shingle → 8
    md5 minhash sigs → 4 bands of 2 (bucket = concatenated sig pair) →
    bucket-join candidates → pair-local exact-Jaccard verify ≥ 0.2.
    Same staged plan as the production geometry (minhash_lsh_pairs);
    every hash is md5, so DuckDB replays the entire algorithm —
    candidates, verify, and threshold — and the driver hash-gates it
    end to end.
    Scale shape is unchanged: one explode + grouped 8-way min-agg,
    band bucket join (linear, geometry-controlled), semi-join prune,
    per-pair O(|a|+|b|) set intersect."""
    d = fan_out(load_table(spark, sf_dir, "documents"))
    return lsh_verified_pairs_md5(d, threshold=0.2)


def _band_curve_block(n_perm: int, band_size: int, threshold: float) -> str:
    """One UNION-ALL arm of the band-curve report: candidate count,
    verified count, verify precision, and recall vs the exact-Jaccard
    pair set at the same threshold (LSH verify applies the exact
    measure, so verified pairs are a subset of the exact set and
    recall = verified / exact)."""
    return f"""
    SELECT * FROM (
      {_lsh_md5_cand_sql(n_perm, band_size)},
    exact_n AS (
      SELECT CAST(COUNT(*) AS BIGINT) AS n FROM (
        SELECT a.doc_id AS ea, b.doc_id AS eb,
               CAST(COUNT(*) AS BIGINT) AS n_common
        FROM sh a JOIN sh b ON a.shingle = b.shingle AND a.doc_id < b.doc_id
        GROUP BY 1, 2
      ) i2
      JOIN cnt ca2 ON ca2.doc_id = i2.ea
      JOIN cnt cb2 ON cb2.doc_id = i2.eb
      WHERE CAST(i2.n_common AS DOUBLE)
            / (ca2.n + cb2.n - i2.n_common) >= {threshold}
    )
      SELECT '{n_perm}x{band_size}' AS geometry,
             CAST((SELECT COUNT(*) FROM cand) AS BIGINT) AS candidates,
             CAST(COALESCE(SUM(CASE WHEN CAST(i.n_common AS DOUBLE)
                     / (ca.n + cb.n - i.n_common) >= {threshold}
                   THEN 1 ELSE 0 END), 0) AS BIGINT) AS verified,
             CAST(COALESCE(SUM(CASE WHEN CAST(i.n_common AS DOUBLE)
                     / (ca.n + cb.n - i.n_common) >= {threshold}
                   THEN 1 ELSE 0 END), 0) AS DOUBLE)
               / NULLIF((SELECT COUNT(*) FROM cand), 0) AS precision_,
             (SELECT n FROM exact_n) AS exact_pairs,
             CAST(COALESCE(SUM(CASE WHEN CAST(i.n_common AS DOUBLE)
                     / (ca.n + cb.n - i.n_common) >= {threshold}
                   THEN 1 ELSE 0 END), 0) AS DOUBLE)
               / NULLIF((SELECT n FROM exact_n), 0) AS recall
      FROM inter i
      JOIN cnt ca ON ca.doc_id = i.doc_a
      JOIN cnt cb ON cb.doc_id = i.doc_b
    )
    """


@register(
    "lsh_band_curve_report",
    oracle=" UNION ALL ".join(
        _band_curve_block(n, b, 0.2) for n, b in ((8, 2), (16, 4))
    ),
    tags=("dedup",),
)
def lsh_band_curve_report(spark, sf_dir):
    """The LSH TUNING report: candidate volume, verified-pair count and
    verify precision for two band geometries over the same corpus —
    compact (8 sigs, 4 bands of 2: recall-greedy, verify-heavy) vs
    production (16 sigs, 4 bands of 4: P[collide]=1-(1-j^4)^4,
    verify-light).  The band curve is THE operational knob of 100 TB
    dedup (it decides how many pair-verifications you pay per true dup
    AND how many true dups the buckets surface at all), so the report
    that tunes it is itself an engine op, and the driver hash-gates
    every number per geometry — including recall vs the exact-Jaccard
    pair set at the same threshold (the verify step applies the exact
    measure, so verified ⊆ exact and recall = verified/exact).  Each
    arm is the standard linear LSH plan; the exact side is the linear
    inverted-index join; the one-row exact count enters each arm as a
    broadcast cross join."""
    import functools

    d = fan_out(load_table(spark, sf_dir, "documents"))
    exact_cnt = ngram_jaccard_pairs(spark, sf_dir).agg(
        F.count("*").alias("exact_pairs")
    )
    arms = []
    for n_perm, band_size in ((8, 2), (16, 4)):
        # ONE aggregate per arm over the count-form pairs: candidates
        # = COUNT(*) because the counted frame carries exactly one row
        # per band-bucket candidate — a bucket collision means equal
        # min-md5 within the band, i.e. the same "i|shingle" preimage
        # (md5 is collision-free over these strings), so every
        # candidate pair shares its argmin shingle and survives the
        # inner count join with n_common >= 1.  The oracle counts
        # cand directly; the two are equal by this invariant.
        counted = lsh_counted_pairs_md5(d, n_perm, band_size)
        jac = F.col("n_common").cast("double") / (
            F.col("na") + F.col("nb") - F.col("n_common")
        )
        arm = counted.select((jac >= 0.2).cast("long").alias("v")).agg(
            F.lit(f"{n_perm}x{band_size}").alias("geometry"),
            F.count("*").alias("candidates"),
            F.coalesce(F.sum("v"), F.lit(0).cast("long")).alias("verified"),
            (
                F.coalesce(F.sum("v"), F.lit(0).cast("long")).cast("double")
                / F.nullif(F.count("*"), F.lit(0).cast("long"))
            ).alias("precision_"),
        )
        arms.append(
            arm.crossJoin(F.broadcast(exact_cnt)).withColumn(
                "recall",
                F.col("verified").cast("double")
                / F.nullif(F.col("exact_pairs"), F.lit(0).cast("long")),
            )
        )
    return functools.reduce(lambda a, b: a.unionByName(b), arms)


# Read by perfbench/spans.py:TRUNK_CACHES only; nothing here fills them.
_SHINGLE_CACHE: dict = {}
_BANDS_CACHE: dict = {}


def _shingle_frame(d):
    """(doc_id, text) → exploded distinct word-3-gram rows — the
    Spark twin of _SHINGLE_SQL, shared by every md5-LSH pipeline."""
    return (
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


def _md5_bands_frame(sh, geometries: tuple[tuple[int, int], ...]):
    """Shingle rows → (doc_id, n, g, band, bucket) band rows for every
    (n_perm, band_size) in ``geometries`` — the Spark twin of
    _lsh_md5_bands_only_sql.  One aggregate computes the shingle count n
    and s_i = min(md5("i|" || shingle)), which does not depend on n_perm,
    so every geometry reads a prefix of the same signatures.  g = 1 <<
    the geometry's index keeps buckets of different geometries apart."""
    mins = sh.groupBy("doc_id").agg(
        F.count("*").alias("n"),
        *[
            F.min(F.md5(F.concat(F.lit(f"{i}|"), F.col("shingle")))).alias(f"s{i}")
            for i in range(max(n_perm for n_perm, _ in geometries))
        ],
    )
    return mins.select(
        "doc_id",
        "n",
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(1 << g).alias("g"),
                        F.lit(b).alias("band"),
                        F.concat(
                            *[
                                F.col(f"s{band_size * b + j}")
                                for j in range(band_size)
                            ]
                        ).alias("bucket"),
                    )
                    for g, (n_perm, band_size) in enumerate(geometries)
                    for b in range(n_perm // band_size)
                ]
            )
        ).alias("bb"),
    ).select("doc_id", "n", "bb.g", "bb.band", "bb.bucket")


def _md5_band_candidates(sh, geometries: tuple[tuple[int, int], ...]):
    """Shingle rows → one (doc_a < doc_b, na, nb, gmask) row per pair
    colliding in some band of some geometry in ``geometries`` (gmask bit
    g set when it collides at geometry g; na / nb the shingle counts) —
    the candidate stage of every md5-LSH pipeline."""
    bands = _md5_bands_frame(sh, geometries)
    la = bands.select(
        F.col("doc_id").alias("doc_a"), F.col("n").alias("na"), "g", "band", "bucket"
    )
    lb = bands.select(
        F.col("doc_id").alias("doc_b"), F.col("n").alias("nb"), "g", "band", "bucket"
    )
    return (
        la.join(lb, ["g", "band", "bucket"])
        .filter(F.col("doc_a") < F.col("doc_b"))
        .groupBy("doc_a", "doc_b", "na", "nb")
        .agg(F.bit_or("g").alias("gmask"))
    )


def _counted_pairs_build(d, geometries: tuple[tuple[int, int], ...]):
    """(doc_a, doc_b, gmask, na, nb, n_common): the candidates joined
    back to the shingle table on equal shingle STRINGS, then counted."""
    sh = _shingle_frame(d)
    sh_a = sh.select(F.col("doc_id").alias("doc_a"), "shingle")
    sh_b = sh.select(F.col("doc_id").alias("doc_b"), "shingle")
    return (
        _md5_band_candidates(sh, geometries)
        .join(sh_a, "doc_a")
        .join(sh_b, ["doc_b", "shingle"])
        .groupBy("doc_a", "doc_b", "gmask", "na", "nb")
        .agg(F.count("*").alias("n_common"))
    )


# The counted-pairs trunk (trunk_cache family "counted"): ONE persisted
# (doc_a, doc_b, gmask, na, nb, n_common) frame per (session, sf_dir,
# provenance tag) serves every geometry in _COUNTED_GEOMETRIES — seven
# registered consumers at (16, 4) or (8, 2).  n_common, na and nb depend
# only on the pair, so the geometries share one signature aggregate, band
# explode, bucket join and verify join; each consumer filters on its
# geometry's gmask bit.  The frame is tiny (one row per candidate pair),
# so persisting it is near-free while every reuse saves the whole build.
# The tag is load_table's raw "documents" tag or a DERIVED tag for a
# slice that is a pure deterministic function of the table
# (corpus_ops._dedup_groups_md5's "documents#md5reps").  A frame with no
# admitted tag, or a geometry outside the set, runs the same build for
# its one geometry uncached — never a mismatched frame.  Both constants
# are plain, so the fingerprint walk sees them: admitting a tag or a
# geometry invalidates the family.  A rewritten corpus rebuilds the
# trunk: the footprint rule at trunk_cache.
_COUNTED_TAGS = frozenset({"documents", "documents#md5reps"})
_COUNTED_GEOMETRIES = ((8, 2), (16, 4))


def lsh_counted_pairs_md5(d, n_perm: int = 8, band_size: int = 2):
    """Shared md5-LSH verify machinery over a (doc_id, text) frame at
    one band geometry: one row per band-bucket candidate pair with
    (doc_b, doc_a, n_common, na, nb).  Every verify MEASURE (Jaccard,
    Broder containment, band-curve precision) is a pure expression over
    these three counts, applied by the caller.

    The count form retired collect_set from the dedup family: no
    per-doc shingle SET sits in an aggregation buffer, so a pathological
    document costs bounded (doc, shingle) shuffle rows, not one
    executor-resident array.  Every candidate has n_common >= 1: a bucket
    collision means equal min-md5 within the band, so the pair shares its
    argmin shingle and the inner join drops no candidate.

    Served from the one counted-pairs trunk of (session, sf_dir, tag)
    when ``d`` carries an admitted provenance tag and the geometry is in
    _COUNTED_GEOMETRIES (see the note above them); otherwise built for
    this geometry alone, uncached."""
    geometry = (n_perm, band_size)
    tag = getattr(d, "_sg_table_tag", None)
    if tag is not None and tag[1] in _COUNTED_TAGS and geometry in _COUNTED_GEOMETRIES:
        from nemscraper_spark.queries.trunk_cache import norm_dir, trunk

        geometries = _COUNTED_GEOMETRIES
        counted = trunk(
            "counted",
            (d.sparkSession.sparkContext.applicationId, norm_dir(tag[0]), tag[1]),
            lambda: _counted_pairs_build(d, geometries),
        )
    else:
        geometries = (geometry,)
        counted = _counted_pairs_build(d, geometries)
    bit = 1 << geometries.index(geometry)
    return counted.filter(F.col("gmask").bitwiseAND(bit) != 0).select(
        "doc_b", "doc_a", "n_common", "na", "nb"
    )


def lsh_verified_pairs_md5(d, threshold: float, n_perm: int = 8, band_size: int = 2):
    """The md5 (oracle-portable) LSH pipeline over a (doc_id, text)
    frame: md5-LSH band candidates → exact-Jaccard verify ≥ threshold
    in the ORACLE'S OWN shape — candidates joined back to the shingle
    table on equal shingle, groupBy-count n_common, Jaccard from
    per-doc shingle counts.  Used by minhash_lsh_pairs_md5 (8, 2), the
    production-geometry primaries minhash_lsh_pairs / dedup_groups_lsh
    (16, 4), and the hash-gated dup-group closure
    (corpus_ops.dedup_groups_lsh_md5).

    The equi-join verify replaced the collect_set+array_intersect form
    in round 8 (staged + bit-equality-pinned in round 7: identical
    pairs/counts/doubles at both registered geometries, 254/254 pairs
    at sf0.1, ~35% faster — BASELINE.md round-7 stage profile).  The
    scale win is the important part: no per-doc shingle SET is ever
    materialized in an aggregation buffer, so at 100 TB a single
    pathological document costs bounded (doc, shingle) shuffle rows
    instead of one executor-resident array — the acknowledged
    memory/skew hazard of the old form (round-7 verdict, "What's
    wrong" #1).  The old form survives as an inline reference
    implementation in tests/test_training_ops.py::
    test_verify_matches_collectset_reference."""
    jac = F.col("n_common").cast("double") / (
        F.col("na") + F.col("nb") - F.col("n_common")
    )
    return (
        lsh_counted_pairs_md5(d, n_perm, band_size)
        .filter(jac >= threshold)
        .select(
            "doc_a",
            "doc_b",
            F.col("n_common").cast("bigint").alias("n_common"),
            jac.alias("jaccard"),
        )
    )


@register(
    "minhash_lsh_pairs",
    oracle=_lsh_md5_cand_sql(16, 4) + _LSH_JACCARD_TAIL.format(t=0.2),
    tags=("dedup",),
)
def minhash_lsh_pairs(spark, sf_dir):
    """MinHash + LSH near-dup candidates, verified by exact Jaccard —
    the 100TB-scale dedup path at PRODUCTION band geometry: shingle →
    K=16 minhashes → 4 bands of 4 → bucket-join on (band, bucket) →
    exact verify only the collisions. Linear in corpus size; candidate
    count is controlled by the band curve (P[collide] = 1-(1-j^4)^4).

    The registered entry seeds its 16 permutations with md5 so the
    DuckDB oracle replays banding, verify, and threshold end to end —
    the driver hash-gates the production geometry, not just the
    compact (8, 2) twin.
    """
    d = fan_out(load_table(spark, sf_dir, "documents"))
    return lsh_verified_pairs_md5(d, threshold=0.2, n_perm=16, band_size=4)


# The "new batch": a deterministic 20% slice of the corpus standing in
# for tonight's crawl delta (doc_id % 5 = 4 — reproducible in SQL, no
# date column needed in the synthetic corpus).
_DELTA_PRED = "doc_id % 5 = 4"

_INCR_ORACLE = f"""
    WITH sh AS ({_SHINGLE_SQL}),
    {_lsh_md5_bands_only_sql(16, 4, "sh")},
    cand AS (
      SELECT x.doc_id AS doc_new, y.doc_id AS doc_matched
      FROM bands x JOIN bands y ON x.b = y.b AND x.bucket = y.bucket
      WHERE x.{_DELTA_PRED}
        AND y.doc_id <> x.doc_id
        AND (NOT y.{_DELTA_PRED} OR y.doc_id < x.doc_id)
      GROUP BY 1, 2
    ),
    cnt AS (SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS n FROM sh GROUP BY doc_id),
    inter AS (
      SELECT c.doc_new, c.doc_matched, CAST(COUNT(*) AS BIGINT) AS n_common
      FROM cand c
      JOIN sh a ON a.doc_id = c.doc_new
      JOIN sh b ON b.doc_id = c.doc_matched AND b.shingle = a.shingle
      GROUP BY 1, 2
    )
    SELECT i.doc_new, i.doc_matched, i.n_common,
           CAST(i.n_common AS DOUBLE) / (ca.n + cb.n - i.n_common) AS jaccard,
           CASE WHEN i.doc_matched % 5 = 4 THEN 'delta' ELSE 'base' END AS kind
    FROM inter i
    JOIN cnt ca ON ca.doc_id = i.doc_new
    JOIN cnt cb ON cb.doc_id = i.doc_matched
    WHERE CAST(i.n_common AS DOUBLE) / (ca.n + cb.n - i.n_common) >= 0.2
"""


@register("dedup_incremental_delta", oracle=_INCR_ORACLE, tags=("dedup",))
def dedup_incremental_delta(spark, sf_dir):
    """INCREMENTAL dedup — the nightly-batch path: near-dup matches of
    the NEW batch (a deterministic 20% slice standing in for today's
    crawl) against the existing corpus index plus within-batch pairs,
    never a full-corpus re-dedup.  This is how 100 TB dedup actually
    operates: the base corpus's band index is a persisted table that
    only grows; each ingest joins the delta's bands against it, so the
    nightly cost is O(delta + collisions), independent of base size.
    (The registered query recomputes the base bands to stay
    self-contained — the join asymmetry, which is the scale property,
    is identical.)  Candidates where the match is itself in the delta
    dedup as ordered pairs (no double-count); verify is the pair-local
    pruned set intersect; every row tags its match side
    (kind=base|delta) because the two sides route differently
    downstream — base matches drop the new doc, delta matches go
    through survivor selection.  Geometry/threshold match the
    production primary (16x4, 0.2); md5 seeding keeps the whole path
    hash-gated."""
    d = fan_out(load_table(spark, sf_dir, "documents"))
    # Round-11: derive the incremental answer from the SHARED counted
    # trunk (lsh_counted_pairs_md5 at the production (16, 4) geometry)
    # instead of rebuilding shingle→band→collide→count privately (the
    # old form recomputed the shingle explode ~5x in one plan — a
    # 2,069-line physical plan).  Equivalence: the trunk holds every
    # DISTINCT unordered colliding pair (doc_a < doc_b, n_common >= 1)
    # with per-doc shingle counts; the incremental candidate set is
    # exactly the trunk pairs with >= 1 delta member — (x delta, y
    # base) keeps (new, matched) = (x, y); (both delta) keeps
    # (new, matched) = (max, min), which under doc_a < doc_b is
    # (doc_b, doc_a).  So: doc_new = doc_b when doc_b is delta else
    # doc_a (doc_a is delta in every remaining row).  n_common and
    # Jaccard = n/(na+nb-n) are symmetric in (a, b), so remapping
    # sides changes nothing.  Verified hash-exact vs the unchanged
    # DuckDB oracle.  At scale the trunk IS the persisted band index a
    # nightly deployment reads — O(delta + collisions) per ingest.
    counted = lsh_counted_pairs_md5(d, n_perm=16, band_size=4)
    a_delta = F.col("doc_a") % 5 == 4
    b_delta = F.col("doc_b") % 5 == 4
    doc_new = F.when(b_delta, F.col("doc_b")).otherwise(F.col("doc_a"))
    doc_matched = F.when(b_delta, F.col("doc_a")).otherwise(F.col("doc_b"))
    n_common = F.col("n_common").cast("bigint")
    jac = n_common.cast("double") / (F.col("na") + F.col("nb") - n_common)
    return (
        counted.filter(a_delta | b_delta)
        .filter(jac >= 0.2)
        .select(
            doc_new.alias("doc_new"),
            doc_matched.alias("doc_matched"),
            n_common.alias("n_common"),
            jac.alias("jaccard"),
            F.when(doc_matched % 5 == 4, F.lit("delta"))
            .otherwise(F.lit("base"))
            .alias("kind"),
        )
    )


_HEXVAL = "(ascii({c}) - CASE WHEN ascii({c}) >= 97 THEN 87 ELSE 48 END)"


@register(
    "simhash_fingerprint",
    oracle=f"""
    WITH words AS (
      SELECT DISTINCT doc_id, unnest(string_split(text, ' ')) AS w
      FROM documents
    ),
    bits AS (
      SELECT doc_id, (p - 1) * 4 + j AS bit,
             CAST(SUM(CASE WHEN (({_HEXVAL.format(c="substr(md5(w), p, 1)")}) // POWER(2, j)::INT) % 2 = 1
                      THEN 1 ELSE -1 END) AS BIGINT) AS s
      FROM words,
           UNNEST(generate_series(1, 8)) AS tp(p),
           UNNEST(generate_series(0, 3)) AS tj(j)
      GROUP BY doc_id, bit
    )
    SELECT doc_id,
           CAST(SUM(CASE WHEN s > 0 THEN POWER(2, bit)::BIGINT ELSE 0 END) AS BIGINT) AS simhash
    FROM bits GROUP BY doc_id
    """,
    tags=("dedup",),
)
def simhash_fingerprint(spark, sf_dir):
    """32-bit SimHash per document from md5 word hashes (portable across
    engines: md5 hex digits → 4 bits each, ±1 majority vote per bit).
    Near-dup = small hamming distance; band-join on simhash prefixes
    gives the scalable pairing (same LSH idea as minhash_lsh_pairs)."""
    d = fan_out(load_table(spark, sf_dir, "documents"))
    words = d.select(
        "doc_id", F.explode(F.array_distinct(F.split("text", " "))).alias("w")
    )
    # hoist the hash to ONE md5 + 8 hex-digit ints per row — the 32
    # vote aggregates below then run pure integer bit tests instead of
    # each re-deriving md5/ascii (no CSE guarantee inside agg exprs)
    digit = (
        "(ascii(substr(h, {p}, 1)) -"
        " CASE WHEN ascii(substr(h, {p}, 1)) >= 97 THEN 87 ELSE 48 END)"
    )
    hashed = words.withColumn("h", F.md5("w")).select(
        "doc_id",
        *[F.expr(digit.format(p=p)).alias(f"d{p}") for p in range(1, 9)],
    )

    # one ±1 vote aggregate per bit, all in a single groupBy — 32
    # codegen'd expressions over |doc×word| rows, ONE shuffle (vs the
    # naive explode(8)×explode(4) + double shuffle)
    def bit_vote(k: int):
        p, j = k // 4 + 1, k % 4
        return F.sum(
            F.when(F.expr(f"shiftright(d{p}, {j}) % 2 = 1"), 1).otherwise(-1)
        ).alias(f"s{k}")

    votes = hashed.groupBy("doc_id").agg(*[bit_vote(k) for k in range(32)])
    simhash = None
    for k in range(32):
        term = F.when(F.col(f"s{k}") > 0, F.lit(1 << k).cast("long")).otherwise(
            F.lit(0).cast("long")
        )
        simhash = term if simhash is None else simhash + term
    return votes.select("doc_id", simhash.alias("simhash"))


# ----------------------------------------------------------- similarity --


def _emb_sized(spark, sf_dir):
    """embeddings scan with partition width tracking the footer row
    count (fan_out_sized): the numpy kernels downstream pay a per-task
    Arrow/python floor, so a tiny local corpus must not fan to 32
    partitions. No-op once the input has enough natural splits."""
    from nemscraper_spark.sources.fsutil import parquet_rows

    import os as _os

    n = parquet_rows(_os.path.join(sf_dir, "embeddings.parquet"))
    return fan_out_sized(load_table(spark, sf_dir, "embeddings"), n)


_COS_SQL = """
    SELECT q.vec_id AS query_id, c.vec_id AS neighbor_id,
           ROUND(list_dot_product(q.e, c.e)
                 / (sqrt(list_dot_product(q.e, q.e)) * sqrt(list_dot_product(c.e, c.e))), 9) AS cosine
    FROM (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS e FROM embeddings WHERE vec_id < 10) q
    JOIN (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS e FROM embeddings) c
      ON q.vec_id <> c.vec_id
"""


@register(
    "cosine_topk_bruteforce",
    oracle=f"""
    SELECT query_id, neighbor_id, cosine, CAST(rk AS INTEGER) AS rk FROM (
      SELECT query_id, neighbor_id, cosine,
             ROW_NUMBER() OVER (PARTITION BY query_id
                                ORDER BY cosine DESC, neighbor_id) AS rk
      FROM ({_COS_SQL})
    ) WHERE rk <= 5
    """,
    tags=("similarity",),
)
def cosine_topk_bruteforce(spark, sf_dir):
    """Brute-force cosine top-5 for 10 query vectors — the exactness
    baseline for ANN. Query side broadcast; dot products run as
    F.aggregate over zip_with (JVM-side, in element order so floats
    match the oracle bit-for-bit; rounded to 9dp before ranking)."""
    from pyspark.sql import Window

    e = _emb_sized(spark, sf_dir).select(
        "vec_id", F.expr("transform(embedding, x -> CAST(x AS DOUBLE))").alias("e")
    )

    def dot(x, y):
        return F.aggregate(
            F.zip_with(x, y, lambda a, b: a * b),
            F.lit(0.0),
            lambda acc, v: acc + v,
        )

    q = e.filter(F.col("vec_id") < 10).select(
        F.col("vec_id").alias("query_id"),
        F.col("e").alias("qe"),
        F.sqrt(dot(F.col("e"), F.col("e"))).alias("qn"),
    )
    c = e.select(
        F.col("vec_id").alias("neighbor_id"),
        F.col("e").alias("ce"),
        F.sqrt(dot(F.col("e"), F.col("e"))).alias("cn"),
    )
    pairs = F.broadcast(q).crossJoin(c).filter(F.col("query_id") != F.col("neighbor_id"))
    cos = F.round(dot(F.col("qe"), F.col("ce")) / (F.col("qn") * F.col("cn")), 9)
    w = Window.partitionBy("query_id").orderBy(F.col("cosine").desc(), F.col("neighbor_id"))
    return (
        pairs.select("query_id", "neighbor_id", cos.alias("cosine"))
        .withColumn("rk", F.row_number().over(w))
        .filter(F.col("rk") <= 5)
    )


@register(
    "decontaminate_semantic",
    oracle="""
    WITH q AS (
      SELECT vec_id, CAST(embedding AS DOUBLE[]) AS e
      FROM embeddings WHERE vec_id % 10 = 7
    ),
    t AS (
      SELECT vec_id, CAST(embedding AS DOUBLE[]) AS e
      FROM embeddings WHERE vec_id % 10 <> 7
    ),
    c AS (
      SELECT t.vec_id AS train_id, q.vec_id AS eval_id,
             ROUND(list_dot_product(t.e, q.e)
                   / (sqrt(list_dot_product(t.e, t.e))
                      * sqrt(list_dot_product(q.e, q.e))), 9) AS cosine
      FROM t, q
    )
    SELECT train_id, eval_id, cosine FROM (
      SELECT train_id, eval_id, cosine,
             ROW_NUMBER() OVER (PARTITION BY train_id
                                ORDER BY cosine DESC, eval_id) AS rk
      FROM c WHERE cosine >= 0.35
    ) WHERE rk = 1
    """,
    tags=("decontamination", "similarity"),
)
def decontaminate_semantic(spark, sf_dir):
    """SEMANTIC train/eval decontamination — the embedding-space
    sibling of decontaminate_train_ngrams/_bloom: a train document
    whose embedding is too close to any eval document leaks the eval
    set even when no n-gram matches (paraphrases, translations,
    templated rewrites — the leakage class Lee et al. / Abbas et al.
    style lexical dedup cannot see).  Eval set = the deterministic
    vec_id % 10 = 7 slice (the corpus-convention stand-in for a held-
    out benchmark suite); output = one row per CONTAMINATED train
    vector with its best-matching eval vector and the (9dp-rounded)
    cosine — the argmax row is what a filtering pipeline logs before
    dropping the document.

    Scale shape: the EVAL side broadcasts (benchmark suites are
    10^3-10^4 documents — same broadcast contract as the Bloom/ngram
    variants), the train side is one scan with JVM-side
    F.aggregate/zip_with dot products, and the per-train argmax is a
    map-side-combinable aggregation over the post-threshold sliver —
    no shuffle of the full corpus at any point, linear in |train|.
    For eval sets too large to broadcast, the LSH bucket prefilter of
    ann_lsh_cosine is the drop-in candidate stage.  The 0.35 threshold
    is calibrated to THIS synthetic corpus (near-orthogonal random
    embeddings, cross-slice cosine max ~0.49); production corpora with
    trained encoders use 0.9+.  Rounding to 9dp before ranking keeps
    the argmax tie-break bit-identical cross-engine
    (cosine_topk_bruteforce precedent)."""
    from pyspark.sql import Window

    e = _emb_sized(spark, sf_dir).select(
        "vec_id",
        F.expr("transform(embedding, x -> CAST(x AS DOUBLE))").alias("e"),
    )

    def dot(x, y):
        return F.aggregate(
            F.zip_with(x, y, lambda a, b: a * b),
            F.lit(0.0),
            lambda acc, v: acc + v,
        )

    ev = e.filter(F.col("vec_id") % 10 == 7).select(
        F.col("vec_id").alias("eval_id"),
        F.col("e").alias("qe"),
        F.sqrt(dot(F.col("e"), F.col("e"))).alias("qn"),
    )
    tr = e.filter(F.col("vec_id") % 10 != 7).select(
        F.col("vec_id").alias("train_id"),
        F.col("e").alias("te"),
        F.sqrt(dot(F.col("e"), F.col("e"))).alias("tn"),
    )
    cos = F.round(
        dot(F.col("te"), F.col("qe")) / (F.col("tn") * F.col("qn")), 9
    )
    flagged = (
        tr.crossJoin(F.broadcast(ev))
        .select("train_id", "eval_id", cos.alias("cosine"))
        .filter(F.col("cosine") >= 0.35)
    )
    w = Window.partitionBy("train_id").orderBy(
        F.col("cosine").desc(), F.col("eval_id")
    )
    return (
        flagged.withColumn("rk", F.row_number().over(w))
        .filter(F.col("rk") == 1)
        .select("train_id", "eval_id", "cosine")
    )


@register("ann_lsh_cosine", oracle=None, tags=("similarity",))
def ann_lsh_cosine(spark, sf_dir):
    """LSH-bucketed approximate nearest neighbours — the scale path.

    NBITS random hyperplanes with md5-derived ±1 components (data-
    independent, reproducible); every vector gets an NBITS bucket
    signature; queries probe their own bucket plus every hamming-1
    neighbour (multi-probe — the standard recall recovery), then
    exact-cosine re-rank top-5. At 100TB the bucket join replaces the
    quadratic cross join with an equi-join on (bucket): probing
    (NBITS+1)/2^NBITS of the corpus. Recall floor pinned against
    cosine_topk_bruteforce in tests/test_training_ops.py.
    """
    from pyspark.sql import Window

    NBITS = 4
    e = _emb_sized(spark, sf_dir).select(
        "vec_id", F.col("embedding").cast("array<double>").alias("e")
    )
    # hyperplane sign for (plane p, dim d): parity of the CHARACTER
    # CODE of the first md5 hex digit (ascii(...) % 2 in the SQL
    # formulation this replaces). Data-independent → computed driver-
    # side and shipped as a tiny (NBITS x dim) matrix into one numpy
    # signature kernel: X @ S.T, bits where proj > 0. Avoids both the
    # 64x posexplode row blowup and a per-invocation janino recompile
    # of a 256-term codegen tree.
    import hashlib

    signs = [
        [
            1.0
            if ord(hashlib.md5(f"{p}_{d}".encode()).hexdigest()[0]) % 2 == 0
            else -1.0
            for d in range(64)
        ]
        for p in range(NBITS)
    ]

    def sig_fn(batches):
        import numpy as np
        import pandas as pd

        S = np.asarray(signs, dtype=np.float64)  # (NBITS, dim)
        nb = S.shape[0]
        for pdf in batches:
            n = len(pdf)
            if n == 0:
                continue
            X = np.stack([np.asarray(v, dtype=np.float64) for v in pdf["e"]])
            # dim-in-order accumulate (same float sequence as the
            # sequential +/- sum this replaces)
            proj = np.zeros((n, nb))
            for i in range(X.shape[1]):
                proj += X[:, i][:, None] * S[:, i][None, :]
            bucket = ((proj > 0) @ (1 << np.arange(nb))).astype("int64")
            yield pd.DataFrame(
                {
                    "vec_id": pdf["vec_id"].astype("int64"),
                    "bucket": bucket,
                    "e": pdf["e"],
                }
            )

    ev = e.mapInPandas(sig_fn, schema="vec_id long, bucket long, e array<double>")

    # multi-probe: own bucket + flip each bit once
    probe_buckets = F.array(
        F.col("bucket"),
        *[
            F.col("bucket").bitwiseXOR(F.lit(1 << b)).cast("long")
            for b in range(NBITS)
        ],
    )
    q = (
        ev.filter(F.col("vec_id") < 10)
        .select(
            F.col("vec_id").alias("query_id"),
            F.col("e").alias("qe"),
            F.explode(probe_buckets).alias("bucket"),
        )
    )
    c = ev.select(F.col("vec_id").alias("neighbor_id"), F.col("e").alias("ce"), "bucket")
    pairs = F.broadcast(q).join(c, "bucket").filter(F.col("query_id") != F.col("neighbor_id"))
    w = Window.partitionBy("query_id").orderBy(F.col("cosine").desc(), F.col("neighbor_id"))
    return (
        pairwise_cosine9(pairs)
        .withColumn("rk", F.row_number().over(w))
        .filter(F.col("rk") <= 5)
    )


@register("ann_ivf_cosine", oracle=None, tags=("similarity",))
def ann_ivf_cosine(spark, sf_dir):
    """IVF (inverted-file) approximate nearest neighbours.

    Coarse quantizer: k=8 centroids from 2 deterministic Lloyd
    iterations seeded with the first k vectors (no RNG — reproducible
    anywhere), recentered from per-partition (count, sum) partials.
    Every vector is assigned to its nearest centroid (the inverted
    list); queries probe their own list plus the next-nearest (nprobe=2)
    and exact-cosine re-rank top-5.

    At 100TB: centroids are collected to the driver each iteration
    (k x dim doubles — tiny by design, the MLlib k-means pattern) and
    re-enter the plan as LITERALS, so assignment is a pure projection:
    no crossJoin, no window, no shuffle. The per-iteration re-centering
    collects num_partitions x k (count, sum-vector) partial rows.
    The probe join is a broadcast equi-join on centroid id — candidate
    set shrinks by ~nprobe/k vs brute force, and k scales to 2^16 with
    the same plan shape.
    """
    # Iterative refinement re-reads the corpus once per Lloyd round:
    # persist the fanned-out projection so rounds 2..n skip the
    # scan+exchange (the MLlib k-means pattern — norms/input cached
    # across iterations; at 100TB this is MEMORY_AND_DISK on the
    # executors, never the driver).  r11: the persist is RELEASED as
    # soon as the iterations' collects are done — it used to live for
    # the session (a fresh never-unpersisted CacheManager entry per
    # invocation, each consulted during the planning of every later
    # query); the returned plan's own two references re-read the cheap
    # projection instead (guide §5: unpersist when done).
    import numpy as np
    from pyspark import StorageLevel

    e = (
        _emb_sized(spark, sf_dir)
        .select("vec_id", F.col("embedding").cast("array<double>").alias("e"))
    )
    e_pinned = e.persist(StorageLevel.MEMORY_AND_DISK)

    k = 8
    dim = 64

    def recenter_partials(cents):
        # per-partition (cid, count, sum-vector) partials — k x dim
        # doubles per partition, the treeAggregate shape: the driver
        # only ever sees num_partitions x k tiny rows, never the data
        cmat = [list(map(float, c)) for _, c in cents]

        def fn(batches):
            import numpy as np
            import pandas as pd

            C = np.asarray(cmat, dtype=np.float64)
            k_, d_ = C.shape
            cnt = np.zeros(k_, dtype=np.int64)
            sums = np.zeros((k_, d_))
            for pdf in batches:
                if len(pdf) == 0:
                    continue
                X = np.stack([np.asarray(v, dtype=np.float64) for v in pdf["e"]])
                near = nearest(X, C, 1)[:, 0]
                for c in range(k_):
                    m = near == c
                    cnt[c] += int(m.sum())
                    if m.any():
                        sums[c] += X[m].sum(axis=0)
            yield pd.DataFrame(
                {
                    "cid": pd.Series(range(k_), dtype="int64"),
                    "n": pd.Series(cnt, dtype="int64"),
                    "s": pd.Series([list(map(float, s)) for s in sums]),
                }
            )

        return fn

    # seed: first k vectors (deterministic, no RNG)
    cents = sorted(
        (r.vec_id, list(r.e))
        for r in e_pinned.filter(F.col("vec_id") < k).collect()
    )
    for _ in range(2):  # Lloyd iterations — tiny collect per round
        parts = e_pinned.mapInPandas(
            recenter_partials(cents), schema="cid long, n long, s array<double>"
        ).collect()
        cnt = np.zeros(k, dtype=np.int64)
        sums = np.zeros((k, dim))
        for r in parts:
            cnt[r.cid] += r.n
            sums[r.cid] += np.asarray(r.s)
        cents = sorted(
            (cid, list(sums[cid] / cnt[cid])) for cid in range(k) if cnt[cid] > 0
        )
    e_pinned.unpersist()  # iterations done — no session-lifetime entry

    assigned = ivf_assign(e, np.asarray([c for _, c in cents], dtype=np.float64))
    return top5(pairwise_cosine9(ivf_pairs(assigned)), "cosine", desc=True)


def _unit_sample(e):
    """The float PQ training sample: the vectors with vec_id < 256, in
    vec_id order, L2-normalized → (vec_ids, (n, dim) array)."""
    import numpy as np

    rows = sorted(e.filter(F.col("vec_id") < 256).collect())
    sample = np.stack([np.asarray(r.e, dtype=np.float64) for r in rows])
    sample /= np.linalg.norm(sample, axis=1, keepdims=True)
    return [int(r.vec_id) for r in rows], sample


@register("ann_pq_adc", oracle=None, tags=("similarity", "quantize"))
def ann_pq_adc(spark, sf_dir):
    """Product-quantization ANN with asymmetric distance (the
    FAISS-style PQ/ADC path): 64-dim vectors split into M=8 subspaces
    of 8 dims, each subspace quantized against its own K=16-entry
    codebook, so every vector compresses to 8 bytes of codes (32x
    smaller than float32 — the layout that lets a billion-vector index
    live in RAM). Queries stay UNquantized: per query a (M x K) table
    of exact subvector->centroid distances is precomputed once, and a
    candidate's approximate distance is M table lookups summed — no
    float vector is ever touched at scan time.

    Distributed shape: codebooks train on a driver-side SAMPLE (first
    256 vectors, deterministic Lloyd — sampling for PQ training is the
    standard recipe; the sample is tiny by construction), then ENCODE
    and SEARCH — the passes that touch the whole corpus — run as
    Arrow-batched numpy kernels over mapInPandas, embarrassingly
    parallel, no shuffle until the final per-query top-k. Vectors are
    L2-normalized first so min-L2 ranking == max-cosine ranking
    (recall floor vs cosine_topk_bruteforce pinned in tests). At 100TB
    this composes with ann_ivf_cosine: coarse IVF probe prunes the
    candidate set, PQ codes re-rank it without reading raw vectors."""
    import numpy as np

    M, K = 8, 16
    e = _emb_sized(spark, sf_dir).select(
        "vec_id", F.col("embedding").cast("array<double>").alias("e")
    )
    _, sample = _unit_sample(e)
    books = train_pq(sample, M, K, rounds=2)

    # per-query ADC tables from the EXACT query vectors (tiny: 10xMxK)
    queries = {}
    for r in e.filter(F.col("vec_id") < 10).collect():
        qv = np.asarray(r.e, dtype=np.float64)
        queries[int(r.vec_id)] = qv / np.linalg.norm(qv)
    return adc_top5(pq_encode(e, books, l2=True), adc_tables(queries, books))


# ------------------------------------------------------------- text ops --


@register(
    "text_quality_score",
    oracle="""
    SELECT doc_id,
           CAST(length(text) AS BIGINT) AS n_chars,
           CAST(len(string_split(text, ' ')) AS BIGINT) AS n_tokens,
           CAST(len(regexp_extract_all(text, '\\b(the|a|and|of|to)\\b')) AS BIGINT) AS n_stopwords,
           CAST(len(regexp_extract_all(text, '\\b(the|a|and|of|to)\\b')) AS DOUBLE)
             / len(string_split(text, ' ')) AS stopword_ratio,
           CAST(length(text) AS DOUBLE) / len(string_split(text, ' ')) AS avg_token_span,
           CASE WHEN length(text) >= 100
                 AND CAST(len(regexp_extract_all(text, '\\b(the|a|and|of|to)\\b')) AS DOUBLE)
                     / len(string_split(text, ' ')) BETWEEN 0.01 AND 0.6
                THEN CAST(1.0 AS DOUBLE) ELSE CAST(0.0 AS DOUBLE) END AS quality_flag
    FROM documents
    """,
    tags=("text",),
)
def text_quality_score(spark, sf_dir):
    """Quality scoring: length / token / stopword-ratio heuristics
    (C4/Gopher-style rules expressed as pure column algebra)."""
    d = load_table(spark, sf_dir, "documents")
    n_chars = F.length("text").cast("long")
    n_tokens = F.size(F.split("text", " ")).cast("long")
    n_stop = F.expr(
        r"size(regexp_extract_all(text, '\\b(the|a|and|of|to)\\b', 0))"
    ).cast("long")
    ratio = n_stop.cast("double") / n_tokens
    return d.select(
        "doc_id",
        n_chars.alias("n_chars"),
        n_tokens.alias("n_tokens"),
        n_stop.alias("n_stopwords"),
        ratio.alias("stopword_ratio"),
        (n_chars.cast("double") / n_tokens).alias("avg_token_span"),
        F.when((n_chars >= 100) & ratio.between(0.01, 0.6), 1.0)
        .otherwise(0.0)
        .alias("quality_flag"),
    )


def _lang_hits_sql(words):
    alt = "|".join(words)
    return f"len(regexp_extract_all(text, '\\\\b({alt})\\\\b'))"


@register(
    "lang_id_heuristic",
    oracle=f"""
    WITH scores AS (
      SELECT doc_id, lang,
             {_lang_hits_sql(STOPWORDS["en"])} AS s_en,
             {_lang_hits_sql(STOPWORDS["es"])} AS s_es,
             {_lang_hits_sql(STOPWORDS["fr"])} AS s_fr,
             {_lang_hits_sql(STOPWORDS["de"])} AS s_de
      FROM documents
    )
    SELECT doc_id, lang AS actual_lang,
           CASE WHEN s_en >= s_es AND s_en >= s_fr AND s_en >= s_de THEN 'en'
                WHEN s_es >= s_fr AND s_es >= s_de THEN 'es'
                WHEN s_fr >= s_de THEN 'fr'
                ELSE 'de' END AS predicted_lang
    FROM scores
    """,
    tags=("text",),
)
def lang_id_heuristic(spark, sf_dir):
    """Language-ID by stopword-hit argmax (n-gram heuristic). A real
    deployment swaps the word lists for char-n-gram profiles; the
    dataflow (per-doc regex counts → argmax) is identical."""
    d = load_table(spark, sf_dir, "documents")
    scores = {}
    for lang in ("en", "es", "fr", "de"):
        alt = "|".join(STOPWORDS[lang])
        scores[lang] = F.expr(
            rf"size(regexp_extract_all(text, '\\b({alt})\\b', 0))"
        )
    pred = (
        F.when(
            (scores["en"] >= scores["es"])
            & (scores["en"] >= scores["fr"])
            & (scores["en"] >= scores["de"]),
            "en",
        )
        .when((scores["es"] >= scores["fr"]) & (scores["es"] >= scores["de"]), "es")
        .when(scores["fr"] >= scores["de"], "fr")
        .otherwise("de")
    )
    return d.select("doc_id", F.col("lang").alias("actual_lang"), pred.alias("predicted_lang"))


@register(
    "token_count_regex",
    oracle="""
    SELECT doc_id,
           CAST(len(string_split(text, ' ')) AS BIGINT) AS ws_tokens,
           CAST(len(regexp_extract_all(text, '[A-Za-z]+|[0-9]+|[^A-Za-z0-9 ]')) AS BIGINT) AS bpe_ish_tokens
    FROM documents
    """,
    tags=("text",),
)
def token_count_regex(spark, sf_dir):
    """Token counting: whitespace split + a BPE-ish regex segmentation
    (letters / digits / other), both as JVM-side regex ops."""
    d = load_table(spark, sf_dir, "documents")
    return d.select(
        "doc_id",
        F.size(F.split("text", " ")).cast("long").alias("ws_tokens"),
        F.expr(
            "size(regexp_extract_all(text, '[A-Za-z]+|[0-9]+|[^A-Za-z0-9 ]', 0))"
        ).cast("long").alias("bpe_ish_tokens"),
    )


@register(
    "doc_chunk_windows",
    oracle="""
    SELECT doc_id,
           CAST(t.i AS BIGINT) AS chunk_id,
           CAST(t.i * 24 AS BIGINT) AS start_tok,
           array_to_string(w[t.i * 24 + 1 : t.i * 24 + 32], ' ') AS chunk_text,
           CAST(least(32, len(w) - t.i * 24) AS BIGINT) AS n_tokens
    FROM (SELECT doc_id, string_split(text, ' ') AS w FROM documents),
         UNNEST(generate_series(0, CAST(greatest(0,
                ceil((len(w) - 32) / 24.0)) AS BIGINT))) AS t(i)
    WHERE t.i = 0 OR t.i * 24 < len(w) - 8
    """,
    tags=("text", "chunk"),
)
def doc_chunk_windows(spark, sf_dir):
    """Overlapping-window document chunking — the step before embedding
    or long-context packing: each doc splits into 32-token windows
    with a 24-token stride (8-token overlap so no boundary context is
    lost; production would use 512/384 — the corpus's ~54-token docs
    get the same shape at this size). Entirely row-local: tokenize once, explode one small index
    sequence per doc, slice the shared token array per chunk — no
    shuffle, output partitioning inherits the scan, and chunk_id/
    start_tok make the chunks joinable back to spans or embeddings.
    Tail rule: a final short window exists only if it adds >8 new
    tokens (else the previous window already covers it)."""
    W, S = 32, 24  # window, stride (overlap = W - S = 8)
    d = fan_out(load_table(spark, sf_dir, "documents"))
    base = d.select("doc_id", F.split("text", " ").alias("w"))
    idx = F.explode(
        F.expr(
            f"sequence(0, cast(greatest(0, ceil((size(w) - {W}) / {S}.0)) as bigint))"
        )
    ).alias("chunk_id")
    chunks = base.select("doc_id", "w", idx).filter(
        (F.col("chunk_id") == 0)
        | (F.col("chunk_id") * S < F.size("w") - (W - S))
    )
    return chunks.select(
        "doc_id",
        F.col("chunk_id").cast("long").alias("chunk_id"),
        (F.col("chunk_id") * S).cast("long").alias("start_tok"),
        F.array_join(
            F.slice(F.col("w"), (F.col("chunk_id") * S + 1).cast("int"), W), " "
        ).alias("chunk_text"),
        F.least(F.lit(W), F.size("w") - F.col("chunk_id") * S)
        .cast("long")
        .alias("n_tokens"),
    )


@register(
    "doc_winnow_fingerprint",
    oracle="""
    SELECT doc_id, MIN(md5(substr(text, i, 16))) AS winnow_fp
    FROM documents, UNNEST(generate_series(1, length(text) - 15)) AS t(i)
    WHERE length(text) >= 16
    GROUP BY doc_id
    """,
    tags=("text", "dedup"),
)
def doc_winnow_fingerprint(spark, sf_dir):
    """Winnowing-style fingerprint: min hash over all char-16-gram
    shingles (rolling-hash document fingerprinting; robust to small
    edits unlike dedup_exact's whole-text md5)."""
    d = fan_out(load_table(spark, sf_dir, "documents")).filter(
        F.length("text") >= 16
    )
    return (
        d.select(
            "doc_id",
            F.explode(
                F.expr(
                    "transform(sequence(1, length(text) - 15), i -> md5(substr(text, i, 16)))"
                )
            ).alias("h"),
        )
        .groupBy("doc_id")
        .agg(F.min("h").alias("winnow_fp"))
    )


@register(
    "multimodal_decode_stub",
    # the stub's features are pure byte math, so even the mapInPandas
    # plumbing gets a full value-hash check (documents are ASCII, so
    # chars == bytes and ord == byte value; the driver's testdata
    # guarantees this at every sf)
    oracle="""
    SELECT d.doc_id,
           CAST(octet_length(encode(d.text)) AS BIGINT) AS n_bytes,
           CAST(CASE WHEN length(d.text) = 0 THEN -1
                     ELSE ord(substr(d.text, 1, 1)) END AS BIGINT) AS first_byte,
           CASE WHEN length(d.text) = 0 THEN CAST(0 AS DOUBLE)
                ELSE CAST(COALESCE(b.s, 0) AS DOUBLE) / CAST(length(d.text) AS DOUBLE)
           END AS byte_mean
    FROM documents d
    LEFT JOIN (
      SELECT doc_id, SUM(ord(substr(text, i, 1))) AS s
      FROM documents, UNNEST(generate_series(1, length(text))) AS t(i)
      GROUP BY doc_id
    ) b USING (doc_id)
    """,
    tags=("multimodal",),
)
def multimodal_decode_stub(spark, sf_dir):
    """Multimodal plumbing: opaque binary payloads + typed metadata,
    decoded/feature-extracted via mapInPandas in Arrow batches.

    The decode itself is a STUB (image/audio libs absent in this
    container): features are a deterministic function of the bytes so
    the pipeline is testable end-to-end. The Spark-side contract —
    binary column, batch iterator, fixed-width output schema, partition-
    parallel execution — is exactly what a real decoder plugs into.
    """
    import pandas as pd

    d = load_table(spark, sf_dir, "documents")
    payloads = d.select(
        "doc_id",
        F.encode("text", "utf-8").alias("payload"),
        F.lit("application/octet-stream").alias("media_type"),
    )

    def extract(batches):
        for pdf in batches:
            blobs = pdf["payload"]
            # STUB decode: real impl would call PIL/librosa/av here.
            feats = pd.DataFrame(
                {
                    "doc_id": pdf["doc_id"],
                    "n_bytes": blobs.str.len().astype("int64"),
                    "first_byte": blobs.map(lambda b: int(b[0]) if len(b) else -1).astype(
                        "int64"
                    ),
                    "byte_mean": blobs.map(
                        lambda b: float(sum(b)) / len(b) if len(b) else 0.0
                    ),
                }
            )
            yield feats

    return payloads.mapInPandas(
        extract, schema="doc_id long, n_bytes long, first_byte long, byte_mean double"
    )


@register(
    "dedup_embedding_cosine",
    oracle="""
    SELECT vec_a, vec_b, cosine FROM (
      SELECT a.vec_id AS vec_a, b.vec_id AS vec_b,
             ROUND(list_dot_product(a.v, b.v)
                   / (sqrt(list_dot_product(a.v, a.v))
                      * sqrt(list_dot_product(b.v, b.v))), 9) AS cosine
      FROM (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings) a
      JOIN (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings) b
        ON a.vec_id < b.vec_id
    ) WHERE cosine >= 0.4
    """,
    tags=("dedup", "similarity"),
)
def dedup_embedding_cosine(spark, sf_dir):
    """Embedding-cosine near-dup pairs: every (a, b) with cosine >= 0.4,
    the semantic-dedup primitive (SemDeDup-style: drop one side of each
    surviving pair).

    Exact all-pairs as a broadcast tile loop: the corpus matrix is
    broadcast once (sc.broadcast, Arrow-free numpy), and each partition
    compares its rows against all higher vec_ids — vectorized numpy in
    mapInPandas, no shuffle, pairs partition-unique by construction.
    A JVM nested-loop join can't whole-stage-codegen a conditioned
    BNLJ, so the 64-FLOP-per-pair kernel would run on the interpreted
    expression evaluator (~10x slower than this Arrow+numpy path).

    Float parity: the accumulation loops over the 64 dims IN ORDER
    (vectorized across pairs), producing the exact float sequence of a
    sequential dot — bit-identical to DuckDB's list_dot_product — and
    survivors are re-rounded with decimal HALF_UP to match both
    engines' ROUND(x, 9). The >= 0.4 cut happens on the rounded value.

    At 100TB the broadcast side becomes LSH/IVF-pruned tiles
    (ann_lsh_cosine's buckets) instead of the whole corpus —
    candidates-then-verify with the same kernel.
    """
    e = _emb_sized(spark, sf_dir).select(
        "vec_id", F.col("embedding").cast("array<double>").alias("e")
    )
    rows = sorted(
        (int(r.vec_id), r.e)
        for r in load_table(spark, sf_dir, "embeddings")
        .select("vec_id", F.col("embedding").cast("array<double>").alias("e"))
        .collect()
    )
    bc = spark.sparkContext.broadcast(
        ([r[0] for r in rows], [r[1] for r in rows])
    )

    def pairs(batches):
        # self-contained closure: workers may not have the repo on
        # sys.path when the driver runs elsewhere (cloudpickle ships
        # this function by value)
        import numpy as np
        import pandas as pd
        from decimal import ROUND_HALF_UP, Decimal

        ids_list, vecs_list = bc.value
        ids = np.asarray(ids_list, dtype=np.int64)
        mat = np.asarray(vecs_list, dtype=np.float64)  # (N, dim)
        ndim = mat.shape[1]
        # norms via the same in-order accumulation as the dot below
        nsq = np.zeros(len(ids))
        for i in range(ndim):
            nsq += mat[:, i] * mat[:, i]
        norms = np.sqrt(nsq)

        def round9(x):
            return float(
                Decimal(repr(x)).quantize(Decimal("1e-9"), ROUND_HALF_UP)
            )

        for pdf in batches:
            n = len(pdf)
            if n == 0:
                continue
            vids = pdf["vec_id"].to_numpy(dtype="int64")
            X = np.stack([np.asarray(v, dtype=np.float64) for v in pdf["e"]])
            # dim-ordered accumulate, vectorized across ALL (row, corpus)
            # pairs at once: per element this is the exact float
            # sequence of a sequential dot
            acc = np.zeros((n, len(ids)))
            for i in range(ndim):
                acc += X[:, i][:, None] * mat[:, i][None, :]
            xsq = np.zeros(n)
            for i in range(ndim):
                xsq += X[:, i] * X[:, i]
            cos = acc / (np.sqrt(xsq)[:, None] * norms[None, :])
            # pairs (a, b) with a < b; wide pre-cut then exact HALF_UP
            # re-round on the survivors
            mask = (ids[None, :] > vids[:, None]) & (cos >= 0.4 - 1e-8)
            ra, cb = np.nonzero(mask)
            out_a, out_b, out_c = [], [], []
            for r, c in zip(ra, cb):
                v = round9(cos[r, c])
                if v >= 0.4:
                    out_a.append(int(vids[r]))
                    out_b.append(int(ids[c]))
                    out_c.append(v)
            yield pd.DataFrame(
                {"vec_a": pd.Series(out_a, dtype="int64"),
                 "vec_b": pd.Series(out_b, dtype="int64"),
                 "cosine": pd.Series(out_c, dtype="float64")}
            )

    return e.mapInPandas(
        pairs, schema="vec_a long, vec_b long, cosine double"
    )


@register(
    "multimodal_image_resize",
    oracle="""
    SELECT doc_id, src_w, src_h,
           CASE WHEN GREATEST(src_w, src_h) <= 32 THEN src_w
                ELSE GREATEST(1, (src_w * 32) // GREATEST(src_w, src_h)) END AS out_w,
           CASE WHEN GREATEST(src_w, src_h) <= 32 THEN src_h
                ELSE GREATEST(1, (src_h * 32) // GREATEST(src_w, src_h)) END AS out_h,
           CAST(length(text) AS BIGINT) AS n_bytes
    FROM (SELECT doc_id, text,
                 16 + doc_id % 48 AS src_w,
                 16 + (doc_id * 7) % 48 AS src_h
          FROM documents)
    """,
    tags=("multimodal",),
)
def multimodal_image_resize(spark, sf_dir):
    """Image resize plumbing: binary payload + typed (width, height)
    metadata -> fit-in-32x32-box output dims, via mapInPandas in Arrow
    batches.

    The pixel work is a STUB (no image libs in this container): real
    PIL/opencv decode-resize drops into the same batch iterator, same
    fixed-width output schema, same partition-parallel execution. The
    aspect-ratio arithmetic is integer-only so the oracle reproduces it
    bit-for-bit; metadata synthesized deterministically from doc_id
    (the driver tables carry no real image columns).
    """
    import pandas as pd

    d = load_table(spark, sf_dir, "documents")
    payloads = d.select(
        "doc_id",
        F.encode("text", "utf-8").alias("payload"),
        (F.lit(16) + F.col("doc_id") % 48).alias("src_w"),
        (F.lit(16) + (F.col("doc_id") * 7) % 48).alias("src_h"),
    )

    def resize(batches):
        for pdf in batches:
            w = pdf["src_w"].astype("int64")
            h = pdf["src_h"].astype("int64")
            g = pd.concat([w, h], axis=1).max(axis=1)
            # STUB decode+resample: a real impl decodes pdf["payload"]
            # and interpolates pixels; dims math is the contract.
            out_w = w.where(g <= 32, ((w * 32) // g).clip(lower=1))
            out_h = h.where(g <= 32, ((h * 32) // g).clip(lower=1))
            yield pd.DataFrame(
                {
                    "doc_id": pdf["doc_id"],
                    "src_w": w,
                    "src_h": h,
                    "out_w": out_w.astype("int64"),
                    "out_h": out_h.astype("int64"),
                    "n_bytes": pdf["payload"].str.len().astype("int64"),
                }
            )

    return payloads.mapInPandas(
        resize,
        schema="doc_id long, src_w long, src_h long, out_w long, out_h long, n_bytes long",
    )


@register(
    "multimodal_frame_sample",
    oracle="""
    SELECT doc_id, CAST(frame_idx AS BIGINT) AS frame_idx,
           (n_bytes * (frame_idx + 1)) % 997 AS frame_feature
    FROM (SELECT doc_id, CAST(length(text) AS BIGINT) AS n_bytes,
                 1 + CAST(length(text) AS BIGINT) % 240 AS n_frames
          FROM documents),
         LATERAL (SELECT unnest(generate_series(0, n_frames - 1, 30)) AS frame_idx)
    """,
    tags=("multimodal",),
)
def multimodal_frame_sample(spark, sf_dir):
    """Video frame sampling: payload treated as a clip with
    n_frames = 1 + n_bytes % 240; sample every 30th frame (1/s at
    30fps), one output row per sampled frame.

    Index generation is pure JVM (sequence + explode — no Python in the
    fan-out), then a mapInPandas stub 'decodes' each sampled frame to a
    feature. Real av/ffmpeg frame extraction replaces only the stub
    body; the explode-then-batch shape is how per-frame work
    distributes at scale (frames of one clip can land on different
    tasks).
    """
    import pandas as pd

    d = load_table(spark, sf_dir, "documents")
    frames = (
        d.select(
            "doc_id",
            F.encode("text", "utf-8").alias("payload"),
            F.length(F.col("text")).cast("long").alias("n_bytes"),
        )
        .withColumn("n_frames", F.lit(1) + F.col("n_bytes") % 240)
        .withColumn(
            "frame_idx",
            F.explode(
                F.sequence(F.lit(0).cast("long"), F.col("n_frames") - 1, F.lit(30).cast("long"))
            ),
        )
    )

    def decode_frames(batches):
        for pdf in batches:
            # STUB frame decode: real impl seeks pdf["payload"] to the
            # frame offset and decodes; feature is deterministic here.
            yield pd.DataFrame(
                {
                    "doc_id": pdf["doc_id"],
                    "frame_idx": pdf["frame_idx"].astype("int64"),
                    "frame_feature": (
                        pdf["n_bytes"].astype("int64")
                        * (pdf["frame_idx"].astype("int64") + 1)
                    )
                    % 997,
                }
            )

    return frames.mapInPandas(
        decode_frames, schema="doc_id long, frame_idx long, frame_feature long"
    )


@register(
    "training_corpus_pipeline",
    oracle=f"""
    WITH q AS (
      SELECT doc_id, source, text,
             CAST(length(text) AS BIGINT) AS n_chars,
             CAST(len(string_split(text, ' ')) AS BIGINT) AS n_tokens,
             CAST(len(regexp_extract_all(text, '\\b(the|a|and|of|to)\\b')) AS BIGINT) AS n_stop
      FROM documents
    ),
    filtered AS (
      SELECT * FROM q
      WHERE n_chars >= 100
        AND CAST(n_stop AS DOUBLE) / n_tokens BETWEEN 0.01 AND 0.6
    ),
    deduped AS (
      SELECT * FROM (
        SELECT *, ROW_NUMBER() OVER (PARTITION BY md5(text) ORDER BY doc_id) AS rn
        FROM filtered
      ) WHERE rn = 1
    ),
    langed AS (
      SELECT doc_id, source, n_tokens,
             CASE WHEN {_lang_hits_sql(STOPWORDS["en"])} >= {_lang_hits_sql(STOPWORDS["es"])}
                   AND {_lang_hits_sql(STOPWORDS["en"])} >= {_lang_hits_sql(STOPWORDS["fr"])}
                   AND {_lang_hits_sql(STOPWORDS["en"])} >= {_lang_hits_sql(STOPWORDS["de"])} THEN 'en'
                  WHEN {_lang_hits_sql(STOPWORDS["es"])} >= {_lang_hits_sql(STOPWORDS["fr"])}
                   AND {_lang_hits_sql(STOPWORDS["es"])} >= {_lang_hits_sql(STOPWORDS["de"])} THEN 'es'
                  WHEN {_lang_hits_sql(STOPWORDS["fr"])} >= {_lang_hits_sql(STOPWORDS["de"])} THEN 'fr'
                  ELSE 'de' END AS predicted_lang
      FROM deduped
    )
    SELECT source, predicted_lang,
           CAST(COUNT(*) AS BIGINT) AS n_docs,
           CAST(SUM(n_tokens) AS BIGINT) AS total_tokens
    FROM langed GROUP BY source, predicted_lang
    """,
    tags=("text", "dedup", "pipeline"),
)
def training_corpus_pipeline(spark, sf_dir):
    """The end-to-end corpus-prep pipeline in ONE declarative plan:
    quality filter -> exact dedup keep-first -> language ID -> per
    (source, lang) doc/token totals.

    Every stage is column algebra over the same scan, so Catalyst fuses
    filter+scoring into the scan stage; the only shuffles are the dedup
    hash partition and the final aggregation — the minimal shuffle set
    for these semantics at any scale.
    """
    from pyspark.sql import Window

    d = load_table(spark, sf_dir, "documents")
    n_chars = F.length("text").cast("long")
    n_tokens = F.size(F.split("text", " ")).cast("long")
    n_stop = F.expr(
        r"size(regexp_extract_all(text, '\\b(the|a|and|of|to)\\b', 0))"
    ).cast("long")
    ratio = n_stop.cast("double") / n_tokens

    filtered = d.select("doc_id", "source", "text", n_tokens.alias("n_tokens")).filter(
        (n_chars >= 100) & ratio.between(0.01, 0.6)
    )
    deduped = (
        filtered.withColumn(
            "rn",
            F.row_number().over(
                Window.partitionBy(F.md5("text")).orderBy("doc_id")
            ),
        )
        .filter(F.col("rn") == 1)
    )
    scores = {}
    for lang in ("en", "es", "fr", "de"):
        alt = "|".join(STOPWORDS[lang])
        scores[lang] = F.expr(rf"size(regexp_extract_all(text, '\\b({alt})\\b', 0))")
    pred = (
        F.when(
            (scores["en"] >= scores["es"])
            & (scores["en"] >= scores["fr"])
            & (scores["en"] >= scores["de"]),
            "en",
        )
        .when((scores["es"] >= scores["fr"]) & (scores["es"] >= scores["de"]), "es")
        .when(scores["fr"] >= scores["de"], "fr")
        .otherwise("de")
    )
    return (
        deduped.select("source", pred.alias("predicted_lang"), "n_tokens")
        .groupBy("source", "predicted_lang")
        .agg(
            F.count("*").alias("n_docs"),
            F.sum("n_tokens").alias("total_tokens"),
        )
    )


@register(
    "embedding_quantize_int8",
    oracle="""
    SELECT vec_id, CAST(t.i - 1 AS INT) AS dim,
           CAST(CASE WHEN amax = 0.0 THEN 0
                     ELSE round(127 * CAST(embedding[t.i] AS DOUBLE) / amax)
                END AS INT) AS q,
           amax
    FROM (
      SELECT vec_id, embedding,
             CAST(list_max(list_transform(embedding,
                                          x -> abs(CAST(x AS DOUBLE))))
               AS DOUBLE) AS amax
      FROM embeddings
    ), UNNEST(generate_series(1, len(embedding))) AS t(i)
    """,
    tags=("embeddings", "quantize"),
)
def embedding_quantize_int8(spark, sf_dir):
    """Absmax int8 quantization of the embedding column — the storage
    step a corpus pipeline runs before shipping vectors to an ANN index
    (4x smaller than float32, 8x than float64): q = round(127*x/amax)
    with the per-vector scale kept alongside for dequantization.

    Pure JVM codegen — abs/max/divide/round are exact-or-IEEE-identical
    in every engine, so unlike learned quantizers this one is
    bit-reproducible (and DuckDB-oracle-checkable) with no Python in
    the plan. Row-local projection + posexplode: no shuffle at any
    corpus size. Output exploded to (vec_id, dim, q, amax) so the
    oracle compares scalar columns, not nested arrays."""
    e = fan_out(load_table(spark, sf_dir, "embeddings")).select(
        "vec_id", F.col("embedding").cast("array<double>").alias("e")
    )
    amax = F.array_max(F.transform(F.col("e"), lambda x: F.abs(x))).alias("amax")
    exploded = e.select("vec_id", amax, F.posexplode("e").alias("dim", "x"))
    q = (
        F.when(F.col("amax") == 0.0, F.lit(0))
        .otherwise(F.round(F.lit(127) * F.col("x") / F.col("amax")))
        .cast("int")
    )
    return exploded.select("vec_id", F.col("dim").cast("int").alias("dim"), q.alias("q"), "amax")


@register(
    "quality_filter_gopher",
    oracle="""
    WITH t AS (
      SELECT doc_id, source, string_split(text, ' ') AS w,
             length(text) AS nc
      FROM documents
    )
    SELECT doc_id, source,
           CAST(len(w) AS BIGINT) AS n_words,
           CAST(nc - (len(w) - 1) AS DOUBLE) / len(w) AS mean_word_len,
           CAST(len(list_filter(w, x -> regexp_matches(x, '^[a-z]+$')))
                AS DOUBLE) / len(w) AS alpha_frac,
           CAST(len(list_intersect(list_distinct(w),
                ['the','a','and','of','to'])) AS BIGINT) AS stop_hits,
           CAST(CASE WHEN len(w) BETWEEN 50 AND 100000
                 AND nc - (len(w) - 1) BETWEEN 3 * len(w) AND 10 * len(w)
                 AND len(list_filter(w, x -> regexp_matches(x, '^[a-z]+$')))
                     * 5 >= len(w) * 4
                 AND len(list_intersect(list_distinct(w),
                     ['the','a','and','of','to'])) >= 2
                THEN 1 ELSE 0 END AS INT) AS keep
    FROM t
    """,
    tags=("text", "quality"),
)
def quality_filter_gopher(spark, sf_dir):
    """Gopher-style rule-based quality FILTER (Rae et al. 2021 §A1.1):
    per-document rule diagnostics plus the keep/drop decision —
    distinct from text_quality_score, which emits a continuous score.

    Rules (the subset expressible on this corpus's word-soup text):
    word count in [50, 1e5]; mean word length in [3, 10] chars;
    >= 80% purely-alphabetic words; >= 2 distinct common stopwords
    present (the "symbol/boilerplate page" tell).

    Scale/parity design: one row-local projection — no shuffle, no
    Python, every rule in whole-stage codegen. All threshold tests run
    in INTEGER arithmetic (e.g. alpha_cnt*5 >= n*4 instead of
    frac >= 0.8) so the keep bit can't drift between engines on a
    float boundary; the reported mean/frac columns are plain IEEE
    doubles computed identically in both."""
    d = load_table(spark, sf_dir, "documents")
    w = F.split("text", " ")
    n = F.size(w).cast("long")
    nc = F.length("text").cast("long")
    # single-space-separated text: total word chars = nc - (n-1)
    word_chars = nc - (n - F.lit(1))
    alpha_cnt = F.size(F.filter(w, lambda x: x.rlike("^[a-z]+$"))).cast("long")
    stop_hits = F.size(
        F.array_intersect(
            F.array_distinct(w),
            F.array(*[F.lit(s) for s in ("the", "a", "and", "of", "to")]),
        )
    ).cast("long")
    keep = (
        n.between(50, 100000)
        & word_chars.between(3 * n, 10 * n)
        & (alpha_cnt * 5 >= n * 4)
        & (stop_hits >= 2)
    )
    return d.select(
        "doc_id",
        "source",
        n.alias("n_words"),
        (word_chars.cast("double") / n).alias("mean_word_len"),
        (alpha_cnt.cast("double") / n).alias("alpha_frac"),
        stop_hits.alias("stop_hits"),
        keep.cast("int").alias("keep"),
    )


@register(
    "dedup_rate_by_source",
    oracle="""
    SELECT source,
           CAST(COUNT(*) AS BIGINT) AS n_docs,
           CAST(COUNT(DISTINCT md5(text)) AS BIGINT) AS n_unique,
           CAST(COUNT(*) - COUNT(DISTINCT md5(text)) AS BIGINT) AS n_dup_rows,
           CAST(COUNT(*) - COUNT(DISTINCT md5(text)) AS DOUBLE) / COUNT(*)
             AS dup_rate
    FROM documents
    GROUP BY source
    """,
    tags=("dedup", "stats"),
)
def dedup_rate_by_source(spark, sf_dir):
    """Per-source exact-duplication report — the mixture-health panel a
    corpus pipeline watches before weighting sources (a crawl snapshot
    with a 40% dup rate gets down-weighted or re-crawled, not
    resampled).

    Scale: COUNT(DISTINCT md5(text)) expands to a two-level aggregate
    keyed (source, hash) with map-side partials — linear, no row wider
    than a hash ever shuffles, skew-immune (the inner key includes the
    hash). Content identity via md5 so Spark and DuckDB agree
    byte-for-byte."""
    d = fan_out(load_table(spark, sf_dir, "documents"))
    n = F.count("*").cast("long")
    u = F.countDistinct(F.md5("text")).cast("long")
    return d.groupBy("source").agg(
        n.alias("n_docs"),
        u.alias("n_unique"),
        (n - u).alias("n_dup_rows"),
        ((n - u).cast("double") / n).alias("dup_rate"),
    )


@register("ann_ivfpq_adc", oracle=None, tags=("similarity", "quantize"))
def ann_ivfpq_adc(spark, sf_dir):
    """IVF-PQ with asymmetric distance — the FAISS IVFADC composite
    the ann_pq_adc docstring promises: a coarse IVF quantizer prunes
    each query to nprobe=2 inverted lists, then PQ codes over the
    RESIDUALS (vector minus its list centroid) re-rank the candidates
    with per-(query, list) lookup tables. Residual encoding is what
    makes the composition worth it: within a list the residual cloud
    is tighter than the raw vectors, so the same 8-byte code carries
    more precision than flat PQ.

    Distributed shape (billion-vector layout): coarse centroids AND
    residual codebooks train on the same driver-side deterministic
    sample (first 256 vectors, 2 Lloyd rounds, first-k seeds — the
    standard FAISS train-on-sample recipe; both artifacts are tiny by
    construction and re-enter the plan inside the encode closure).
    The corpus-scale passes — encode to (cid, 8 bytes), ADC-score —
    run as Arrow-batched numpy kernels over mapInPandas with no
    shuffle until the final per-query top-k window; candidates outside
    a query's probed lists are skipped inside the kernel, so scan work
    per query is ~nprobe/k of the corpus. Recall floor vs the exact
    brute force pinned in tests/test_training_ops.py."""
    KC, M, K = 8, 8, 16  # coarse lists; PQ subspaces x entries
    e = _emb_sized(spark, sf_dir).select(
        "vec_id", F.col("embedding").cast("array<double>").alias("e")
    )
    ids, sample = _unit_sample(e)

    # coarse quantizer (max-dot Lloyd) + residual PQ codebooks, both on
    # the sample
    C = lloyd(sample, KC, rounds=2)
    books = train_pq(sample, M, K, rounds=2, coarse=C)

    # per-(query, probed-list) ADC tables from the EXACT query vectors
    # (10 queries x nprobe x M x K floats — tiny), keyed by vec_id;
    # queries sit in the training sample by construction (vec_id < 256)
    queries = {v: sample[i] for i, v in enumerate(ids) if v < 10}
    return adc_top5(
        pq_encode(e, books, coarse=C, l2=True), adc_tables(queries, books, coarse=C)
    )


_SIGS_SQL = f"""
    SELECT doc_id,
           MIN(md5('0|' || shingle)) AS sig_0,
           MIN(md5('1|' || shingle)) AS sig_1,
           MIN(md5('2|' || shingle)) AS sig_2,
           MIN(md5('3|' || shingle)) AS sig_3,
           MIN(md5('4|' || shingle)) AS sig_4,
           MIN(md5('5|' || shingle)) AS sig_5,
           MIN(md5('6|' || shingle)) AS sig_6,
           MIN(md5('7|' || shingle)) AS sig_7
    FROM sh GROUP BY doc_id
"""

_SIG_UNPIVOT_SQL = " UNION ALL ".join(
    f"SELECT doc_id, {i} AS i, sig_{i} AS sig FROM sigs" for i in range(8)
)


@register(
    "minhash_jaccard_estimate",
    oracle=f"""
    WITH sh AS ({_SHINGLE_SQL}),
    sigs AS ({_SIGS_SQL}),
    su AS ({_SIG_UNPIVOT_SQL}),
    cand AS (
      SELECT a.doc_id AS doc_a, b.doc_id AS doc_b
      FROM su a JOIN su b ON a.i = b.i AND a.sig = b.sig
      WHERE a.doc_id < b.doc_id
      GROUP BY 1, 2
    ),
    agree AS (
      SELECT c.doc_a, c.doc_b,
             CAST((CASE WHEN sa.sig_0 = sb.sig_0 THEN 1 ELSE 0 END
                 + CASE WHEN sa.sig_1 = sb.sig_1 THEN 1 ELSE 0 END
                 + CASE WHEN sa.sig_2 = sb.sig_2 THEN 1 ELSE 0 END
                 + CASE WHEN sa.sig_3 = sb.sig_3 THEN 1 ELSE 0 END
                 + CASE WHEN sa.sig_4 = sb.sig_4 THEN 1 ELSE 0 END
                 + CASE WHEN sa.sig_5 = sb.sig_5 THEN 1 ELSE 0 END
                 + CASE WHEN sa.sig_6 = sb.sig_6 THEN 1 ELSE 0 END
                 + CASE WHEN sa.sig_7 = sb.sig_7 THEN 1 ELSE 0 END) AS BIGINT)
               AS n_agree
      FROM cand c
      JOIN sigs sa ON c.doc_a = sa.doc_id
      JOIN sigs sb ON c.doc_b = sb.doc_id
    ),
    cnt AS (SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS n FROM sh GROUP BY doc_id),
    inter AS (
      SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
             CAST(COUNT(*) AS BIGINT) AS n_common
      FROM sh a JOIN sh b USING (shingle)
      WHERE a.doc_id < b.doc_id
      GROUP BY 1, 2
    )
    SELECT g.doc_a, g.doc_b, g.n_agree,
           g.n_agree / 8.0 AS est_jaccard,
           CAST(i.n_common AS DOUBLE) / (ca.n + cb.n - i.n_common) AS jaccard,
           ABS(g.n_agree / 8.0
               - CAST(i.n_common AS DOUBLE) / (ca.n + cb.n - i.n_common))
             AS abs_err
    FROM agree g
    JOIN inter i ON g.doc_a = i.doc_a AND g.doc_b = i.doc_b
    JOIN cnt ca ON g.doc_a = ca.doc_id
    JOIN cnt cb ON g.doc_b = cb.doc_id
    """,
    tags=("dedup",),
)
def minhash_jaccard_estimate(spark, sf_dir):
    """MinHash ESTIMATOR quality, hash-match-checkable end to end:
    candidates from single-component signature collisions (LSH with
    band size 1 over the md5 K=8 signatures — the portable variant of
    minhash_lsh_pairs' banding), each pair reported with its
    signature-agreement estimate (n_agree/K, the unbiased Jaccard
    estimator P[sig_i equal] = J) NEXT TO the exact shingle-set
    Jaccard and the absolute error — the report a dedup operator
    publishes when tuning K and band geometry against a corpus.

    Scale shape: everything is equi-join/groupBy. Candidate generation
    is the signature-bucket join (linear, bucket sizes bounded by true
    near-dup density); the exact-Jaccard side is the inverted shingle
    index restricted to candidate pairs via the same join — never an
    all-pairs product. A matching-sig pair shares its argmin shingle,
    so the inner join to the exact side loses no candidate."""
    d = fan_out(load_table(spark, sf_dir, "documents"))
    sh = _shingle_frame(d)
    sigs = sh.groupBy("doc_id").agg(
        *[
            F.min(F.md5(F.concat(F.lit(f"{i}|"), F.col("shingle")))).alias(f"sig_{i}")
            for i in range(8)
        ]
    )
    su = sigs.select(
        "doc_id",
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(i).alias("i"), F.col(f"sig_{i}").alias("sig")
                    )
                    for i in range(8)
                ]
            )
        ).alias("s"),
    ).select("doc_id", F.col("s.i").alias("i"), F.col("s.sig").alias("sig"))
    a = su.select(F.col("doc_id").alias("doc_a"), "i", "sig")
    b = su.select(F.col("doc_id").alias("doc_b"), "i", "sig")
    # n_agree IS the collision count: su holds exactly one row per
    # (doc, i), so the bucket join matches a pair at component i iff
    # sig_i agrees, and grouping the join output counts the agreeing
    # components directly.  This replaces the former distinct() +
    # re-join of BOTH full signature frames (two more copies of the
    # shingle-explode -> 8-way min-agg pipeline in the physical plan,
    # since a broadcast build side cannot reuse the probe side's
    # exchange) with the aggregate the join already pays for —
    # clean-min 3.4 s -> 1.9 s at sf0.1, one pipeline copy and two
    # joins fewer at every scale (r11, guide §2.4/§7.2).
    agree = (
        a.join(b, ["i", "sig"])
        .filter(F.col("doc_a") < F.col("doc_b"))
        .groupBy("doc_a", "doc_b")
        .agg(F.count("*").cast("long").alias("n_agree"))
    )
    # Lineage cut (the pagerank/dup_graph pattern): agree is the TINY
    # (pairs, n_agree) output of the heavy explode→min-agg→self-join
    # pipeline, but the lazy exact-side consumers (cand_docs semi-join,
    # inter, the final report join) each re-derived it — a 2,434-line
    # physical plan whose driver-side analysis alone cost seconds per
    # invocation.  One eager localCheckpoint runs the pipeline once;
    # everything downstream reads the bounded pair frame.
    agree = agree.localCheckpoint()
    cand = agree.select("doc_a", "doc_b")
    # exact Jaccard ONLY for candidate pairs, in the equi-join COUNT
    # form (the shape that retired collect_set from the md5 trunk in
    # round 8): semi-join the inverted index down to candidate docs,
    # join the candidate pairs back to it on equal shingle STRING,
    # groupBy-count n_common, Jaccard from per-doc shingle counts.
    # Never a shingle self-join — the join fans out on the candidate
    # pair list, not on shingle popularity — and no per-doc shingle
    # SET is ever materialized in an aggregation buffer (a
    # pathological document costs bounded (doc, shingle) shuffle rows,
    # not one executor-resident array). Every candidate pair shares
    # its argmin shingle (equal min-sig => same shingle), so n_common
    # >= 1 and the inner count join loses no pair vs the oracle's
    # intersection CTE. Counts are over the shingle strings the
    # oracle itself counts, so neither n_common nor the per-doc
    # denominators can be perturbed by a hash collision.
    cand_docs = (
        cand.select(F.col("doc_a").alias("doc_id"))
        .union(cand.select(F.col("doc_b").alias("doc_id")))
        .distinct()
    )
    # Second lineage cut (r12, same pattern): the exact side references
    # sh_cand THREE times (cnt, pa, pb) and each lazily re-derived the
    # scan → shingle-explode → semi-join pipeline — 6 of the plan's 8
    # remaining parquet scans.  One eager localCheckpoint materializes
    # the candidate-restricted inverted index once; its size is bounded
    # by candidate density (the same working set the exact computation
    # must touch anyway), so the store is safe at scale.
    sh_cand = sh.join(cand_docs, "doc_id", "left_semi").localCheckpoint()
    cnt = sh_cand.groupBy("doc_id").agg(F.count("*").alias("n"))
    pa = sh_cand.select(F.col("doc_id").alias("doc_a"), "shingle")
    pb = sh_cand.select(F.col("doc_id").alias("doc_b"), "shingle")
    inter = (
        cand.join(pa, "doc_a")
        .join(pb, ["doc_b", "shingle"])
        .groupBy("doc_a", "doc_b")
        .agg(F.count("*").cast("long").alias("n_common"))
    )
    ca = cnt.select(F.col("doc_id").alias("doc_a"), F.col("n").alias("na"))
    cb = cnt.select(F.col("doc_id").alias("doc_b"), F.col("n").alias("nb"))
    n_common = F.col("n_common")
    jac = n_common.cast("double") / (F.col("na") + F.col("nb") - n_common)
    est = F.col("n_agree") / F.lit(8.0)
    return (
        agree.join(inter, ["doc_a", "doc_b"])
        .join(ca, "doc_a")
        .join(cb, "doc_b")
        .select(
            "doc_a",
            "doc_b",
            "n_agree",
            est.alias("est_jaccard"),
            jac.alias("jaccard"),
            F.abs(est - jac).alias("abs_err"),
        )
    )


@register(
    "fuzzy_levenshtein_pairs",
    oracle="""
    WITH b AS (
      SELECT doc_id, substr(text, 1, 40) AS prefix,
             string_split(text, ' ')[1] AS t0,
             CAST(floor(n_chars / 64) AS INT) AS lb
      FROM documents
    )
    SELECT a.doc_id AS doc_id_a, c.doc_id AS doc_id_b,
           CAST(levenshtein(a.prefix, c.prefix) AS BIGINT) AS dist
    FROM b a JOIN b c ON a.t0 = c.t0 AND a.lb = c.lb
    WHERE a.doc_id < c.doc_id
      AND levenshtein(a.prefix, c.prefix) <= 20
    """,
    tags=("dedup", "fuzzy", "entity-resolution"),
)
def fuzzy_levenshtein_pairs(spark, sf_dir):
    """EDIT-DISTANCE near-dup pairs under blocking — the entity-
    resolution flavor the shingle/MinHash/SimHash family cannot see:
    token-set methods are blind to within-token typos and character
    noise (OCR corpora, scraped boilerplate variants), where character
    edit distance is the standard verifier.

    Blocking-and-verify, the classic ER plan: candidates come from an
    EQUI-join on a cheap blocking key (first token, 64-char length
    bucket) — never all-pairs — then each candidate pair is verified
    with Levenshtein over a fixed 40-char prefix.  The verify is a
    JVM built-in (F.levenshtein, same unit-cost DP as DuckDB's, proven
    identical by this hash gate), cost bounded at 40x40 DP cells per
    candidate regardless of document length.

    Scale shape: cost is sum(block_size^2) — the blocking key is the
    knob, exactly like LSH band geometry.  At 100 TB you add signature
    bits to the key (second token, simhash band, sorted-neighborhood
    windows) until blocks bound; the fixed-length prefix keeps the
    per-pair verify O(1) and the pair output is Omega(true near-dups)
    like every pair reporter in this family.  Skewed blocks (one giant
    boilerplate cluster) salt like any skewed join key.  Threshold 20
    on a 40-char prefix = 50% normalized similarity, calibrated to
    this corpus (24 exact-prefix pairs + 11 fuzzy at sf0.01)."""
    d = fan_out(load_table(spark, sf_dir, "documents"))
    b = d.select(
        "doc_id",
        F.substring("text", 1, 40).alias("prefix"),
        F.split("text", " ").getItem(0).alias("t0"),
        F.floor(F.col("n_chars") / 64).cast("int").alias("lb"),
    )
    a = b.alias("a")
    c = b.alias("c")
    dist = F.levenshtein(F.col("a.prefix"), F.col("c.prefix"))
    return (
        a.join(
            c,
            (F.col("a.t0") == F.col("c.t0"))
            & (F.col("a.lb") == F.col("c.lb"))
            & (F.col("a.doc_id") < F.col("c.doc_id")),
        )
        .filter(dist <= 20)
        .select(
            F.col("a.doc_id").alias("doc_id_a"),
            F.col("c.doc_id").alias("doc_id_b"),
            dist.cast("long").alias("dist"),
        )
    )
