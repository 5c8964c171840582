"""Round-4 corpus/training-pipeline breadth: clustered semantic dedup
(the SemDeDup scale path), a linear quality classifier, tokenizer
fertility diagnostics, char-class corpus QC, and embedding pooling.

Reference parity note: nemscraper (the reference) has no corpus surface
— these extend the LLM-training-data side of the engine the same way
the corpus_ops/corpus_health modules do.  Papers: Abbas et al. 2023
(SemDeDup) for the cluster-bucketed embedding dedup; Joulin et al. 2016
(fastText) for the linear quality-classifier shape.
"""

from __future__ import annotations

from pyspark.sql import functions as F

from nemscraper_spark.operators.ann import ivf_assign, top5
from nemscraper_spark.queries.common import load_table, register
from nemscraper_spark.queries.ann_twins import (
    _COS9,
    _IV_SQL,
    _int_cos9,
    _int_grid,
    _md5_sample_rows,
)

# ------------------------------------------------- semantic dedup --

# The quantizer's k scales with the corpus: k = max(8, ceil(n / 64)).
# Within-cluster pair volume is n^2/k, so a FIXED k is quadratic at
# scale (measured 19.3x wall at 20x data in the round-4 probe);
# k ∝ n makes expected pair volume ~ n * target_cluster_size — linear.
# 64 docs/cluster keeps the centroid artifact k×64 ints ≈ n/8 bytes,
# comfortably broadcastable up to ~1e8 docs per job; beyond that a
# production run raises the target (SemDeDup used ~1e4 docs/cluster at
# 1e9 scale) — same plan, different constant.  The oracle derives k
# from COUNT(*) with the identical formula, so the driver hash covers
# the sizing rule too.
_SEMDEDUP_TARGET = 64

# Shared CTE chain: iv grid -> k(n) md5 centroids -> max-dot assignment
# -> within-cluster pairs with exact-int cosine (the SemDeDup edge
# set).  Consumed by semantic_dedup_clusters (pair report) and
# semantic_dedup_keep_list (closure + survivor list).
_SEMDEDUP_PAIR_CTES = f"""
    {_IV_SQL},
    cents AS MATERIALIZED (
      SELECT * FROM (
        SELECT ROW_NUMBER() OVER (ORDER BY md5(CAST(vec_id AS VARCHAR)), vec_id)
                 - 1 AS cid, e
        FROM iv
      )
      WHERE cid < GREATEST(8, CAST(CEIL(
          CAST((SELECT COUNT(*) FROM iv) AS DOUBLE) / {_SEMDEDUP_TARGET}
        ) AS BIGINT))
    ),
    asg AS (
      SELECT vec_id, e, cid FROM (
        SELECT v.vec_id, v.e, c.cid,
               ROW_NUMBER() OVER (PARTITION BY v.vec_id
                   ORDER BY list_dot_product(v.e, c.e) DESC, c.cid) AS rnk
        FROM iv v, cents c
      ) WHERE rnk = 1
    ),
    pairs AS (
      SELECT cid, keep_id, drop_id, cosine FROM (
        SELECT a.cid, a.vec_id AS keep_id, b.vec_id AS drop_id,
               {_COS9.format(q="a.e", c="b.e")} AS cosine
        FROM asg a JOIN asg b
          ON b.cid = a.cid AND a.vec_id < b.vec_id
      ) WHERE cosine >= 0.4
    )
"""

_SEMDEDUP_ORACLE = f"""
    WITH {_SEMDEDUP_PAIR_CTES}
    SELECT cid, keep_id, drop_id, cosine FROM pairs
"""


@register(
    "semantic_dedup_clusters", oracle=_SEMDEDUP_ORACLE, tags=("dedup", "similarity")
)
def semantic_dedup_clusters(spark, sf_dir):
    """SemDeDup's scale path (Abbas et al. 2023): cluster the corpus
    with a coarse quantizer, then search for near-duplicate pairs ONLY
    within each cluster — the O(n^2) all-pairs cosine (which
    dedup_embedding_cosine pins exactly) becomes O(n^2 / k) with
    recall bounded by the quantizer, the only way embedding dedup runs
    at billions of documents.  Deterministic twin machinery from
    ann_twins (integer grid + md5-sampled centroids) makes the whole
    thing hash-checkable: assignment, within-cluster pair generation,
    and the exact-int cosine threshold all replay in SQL.  The
    within-cluster self-join is an equi-join on cid — no cross join —
    and each pair costs one exact integer dot.  k grows with the
    corpus (k = max(8, ceil(n / 64)), n from the parquet footer —
    metadata-only, no scan) so pair volume stays linear; see the
    module comment above _SEMDEDUP_TARGET."""
    return semantic_pairs(spark, sf_dir)


# SemDeDup trunk memoization (round-10; round-11: moved into the
# shared trunk_cache registry): the within-cluster verified pair set
# is identical for both registered consumers
# (semantic_dedup_clusters returns it verbatim;
# semantic_dedup_keep_list closes it into components), and its OUTPUT
# is tiny (one row per cosine>=0.4 pair), so it is built once per
# (applicationId, sf_dir) and persisted.  Provenance is by
# construction — semantic_pairs loads the table itself;
# a rewritten corpus rebuilds the trunk by the footprint rule
# documented ONCE at trunk_cache.
def semantic_pairs(spark, sf_dir):
    """SemDeDup edge set over the int grid: k(n) md5 centroids ->
    max-dot cluster assignment (Arrow GEMM) -> within-cluster pairs
    with exact-int cosine >= 0.4.  Shared by semantic_dedup_clusters
    and semantic_dedup_keep_list; built once per (session, sf_dir)
    and persisted (see trunk_cache)."""
    from nemscraper_spark.queries.trunk_cache import norm_dir, trunk

    return trunk(
        "sem_pairs",
        (spark.sparkContext.applicationId, norm_dir(sf_dir)),
        lambda: _semantic_pairs_build(spark, sf_dir),
    )


def _semantic_pairs_build(spark, sf_dir):
    """The SemDeDup trunk plan itself — see semantic_pairs."""
    import math
    import os

    import numpy as np

    from nemscraper_spark.sources.fsutil import parquet_rows

    n_docs = parquet_rows(os.path.join(sf_dir, "embeddings.parquet"))
    k = max(8, math.ceil(n_docs / _SEMDEDUP_TARGET))
    e = _int_grid(spark, sf_dir)
    # integer-valued doubles: the float GEMM is exact
    asg = ivf_assign(e, np.asarray(_md5_sample_rows(spark, sf_dir, k), dtype=np.float64))
    a = asg.select(
        "cid", F.col("vec_id").alias("keep_id"), F.col("e").alias("qe")
    )
    b = asg.select(
        "cid", F.col("vec_id").alias("drop_id"), F.col("e").alias("ce")
    )
    pairs = a.join(b, "cid").filter(F.col("keep_id") < F.col("drop_id"))
    return pairs.select(
        "cid", "keep_id", "drop_id", _int_cos9().alias("cosine")
    ).filter(F.col("cosine") >= 0.4)


_SEMKEEP_ORACLE = f"""
    WITH RECURSIVE {_SEMDEDUP_PAIR_CTES},
    e AS (SELECT keep_id AS u, drop_id AS v FROM pairs
          UNION ALL SELECT drop_id, keep_id FROM pairs),
    reach(n, r) AS (
      SELECT u, u FROM (SELECT DISTINCT u FROM e)
      UNION
      SELECT reach.n, e.v FROM reach JOIN e ON reach.r = e.u
    ),
    comp AS (SELECT n AS vec_id, MIN(r) AS component FROM reach GROUP BY n)
    SELECT v.vec_id,
           COALESCE(c.component, v.vec_id) AS component,
           CASE WHEN c.component IS NULL THEN 'singleton'
                WHEN c.component = v.vec_id THEN 'canonical'
                ELSE 'dropped' END AS status
    FROM iv v LEFT JOIN comp c ON c.vec_id = v.vec_id
"""


@register(
    "semantic_dedup_keep_list",
    oracle=_SEMKEEP_ORACLE,
    tags=("dedup", "similarity", "components"),
)
def semantic_dedup_keep_list(spark, sf_dir):
    """SemDeDup END TO END: the near-dup pair set (semantic_pairs —
    clustered equi-join, exact-int cosine >= 0.4) closed into groups by
    connected components, then materialized as the keep-list a training
    run consumes — every vector tagged singleton / canonical (min-id
    survivor of its group) / dropped.  Same pairs->groups->survivors
    composition as the text-side dedup_keep_canonical, now over
    embeddings: the oracle replays assignment, pair generation,
    threshold AND the transitive closure as one recursive CTE, so the
    driver hashes the whole semantic-dedup architecture, not just its
    edge set.  Scale shape: linear pair volume (k grows with n), CC in
    O(log n) star-contraction rounds, final tag a left join on
    vec_id."""
    from nemscraper_spark.operators.components import connected_components

    edges = semantic_pairs(spark, sf_dir).select(
        F.col("keep_id").alias("a"), F.col("drop_id").alias("b")
    )
    comp = connected_components(edges, "a", "b")
    ids = _int_grid(spark, sf_dir).select("vec_id")
    j = ids.join(
        comp.select(F.col("node").alias("vec_id"), "component"),
        "vec_id",
        "left",
    )
    return j.select(
        "vec_id",
        F.coalesce("component", "vec_id").alias("component"),
        F.when(F.col("component").isNull(), F.lit("singleton"))
        .when(F.col("component") == F.col("vec_id"), F.lit("canonical"))
        .otherwise(F.lit("dropped"))
        .alias("status"),
    )


_HARDNEG_ORACLE = f"""
    WITH {_IV_SQL},
    lab AS (SELECT vec_id, label FROM embeddings)
    SELECT query_id, neighbor_id, neg_label, cosine, CAST(rk AS INTEGER) AS rk
    FROM (
      SELECT q.vec_id AS query_id, c.vec_id AS neighbor_id,
             cl.label AS neg_label,
             {_COS9.format(q="q.e", c="c.e")} AS cosine,
             ROW_NUMBER() OVER (PARTITION BY q.vec_id
                 ORDER BY {_COS9.format(q="q.e", c="c.e")} DESC, c.vec_id)
               AS rk
      FROM iv q
      JOIN lab ql ON ql.vec_id = q.vec_id
      JOIN lab cl ON cl.label <> ql.label
      JOIN iv c ON c.vec_id = cl.vec_id
      WHERE q.vec_id < 10
    ) WHERE rk <= 5
"""


@register(
    "hard_negative_mining", oracle=_HARDNEG_ORACLE, tags=("similarity", "training")
)
def hard_negative_mining(spark, sf_dir):
    """Hard-negative mining for contrastive training: for each anchor,
    the top-5 most-similar vectors with a DIFFERENT label — the
    near-misses that actually move an embedding model, vs easy random
    negatives.  Exact integer-grid cosine (hash-gated) over the
    bounded anchor set; the corpus side is one scan with the
    different-label predicate applied before ranking.  At production
    scale the anchor set is a training batch and the corpus side runs
    through the same IVF/LSH bucketing as the ANN family — the mining
    loop is ann_*'s plan with a label-inequality filter on the
    candidate list, which this query pins exactly."""
    e = _int_grid(spark, sf_dir)
    lab = load_table(spark, sf_dir, "embeddings").select("vec_id", "label")
    el = e.join(lab, "vec_id")
    q = el.filter(F.col("vec_id") < 10).select(
        F.col("vec_id").alias("query_id"),
        F.col("e").alias("qe"),
        F.col("label").alias("q_label"),
    )
    c = el.select(
        F.col("vec_id").alias("neighbor_id"),
        F.col("e").alias("ce"),
        F.col("label").alias("neg_label"),
    )
    pairs = F.broadcast(q).join(c, F.col("q_label") != F.col("neg_label"))
    scored = pairs.select(
        "query_id", "neighbor_id", "neg_label", _int_cos9().alias("cosine")
    )
    return top5(scored, "cosine", desc=True)


# -------------------------------------------- linear quality score --

# fastText-style linear classifier over interpretable features, with
# FIXED literal weights (a trained model's coefficients would ship the
# same way).  Feature math is single-division ratios of exact BIGINT
# counts and the margin is one left-associated fused expression, so
# both engines produce bit-identical doubles.
_QC_W = {
    "bias": -1.5,
    "stopword_ratio": 4.0,
    "avg_token_span": 0.12,
    "digit_ratio": -2.0,
    "len_norm": 0.8,
}

_QC_ORACLE = f"""
    WITH feat AS (
      SELECT doc_id,
             CAST(len(regexp_extract_all(text, '\\b(the|a|and|of|to)\\b')) AS BIGINT) AS n_stop,
             CAST(len(string_split(text, ' ')) AS BIGINT) AS n_tokens,
             CAST(length(text) AS BIGINT) AS n_chars,
             CAST(length(text) - length(regexp_replace(text, '[0-9]', '', 'g')) AS BIGINT) AS n_digit
      FROM documents
    )
    SELECT doc_id,
           ROUND({_QC_W["bias"]}
             + {_QC_W["stopword_ratio"]} * (CAST(n_stop AS DOUBLE) / NULLIF(n_tokens, 0))
             + {_QC_W["avg_token_span"]} * (CAST(n_chars AS DOUBLE) / NULLIF(n_tokens, 0))
             + {_QC_W["digit_ratio"]} * (CAST(n_digit AS DOUBLE) / NULLIF(n_chars, 0))
             + {_QC_W["len_norm"]} * (CAST(n_chars AS DOUBLE) / 1000), 9) AS margin,
           CASE WHEN {_QC_W["bias"]}
             + {_QC_W["stopword_ratio"]} * (CAST(n_stop AS DOUBLE) / NULLIF(n_tokens, 0))
             + {_QC_W["avg_token_span"]} * (CAST(n_chars AS DOUBLE) / NULLIF(n_tokens, 0))
             + {_QC_W["digit_ratio"]} * (CAST(n_digit AS DOUBLE) / NULLIF(n_chars, 0))
             + {_QC_W["len_norm"]} * (CAST(n_chars AS DOUBLE) / 1000) > 0
             THEN 1 ELSE 0 END AS quality_pred
    FROM feat
"""


@register("quality_classifier_linear", oracle=_QC_ORACLE, tags=("text", "quality"))
def quality_classifier_linear(spark, sf_dir):
    """Linear quality classifier (the fastText-shaped scorer most
    training pipelines run after the rule filters): margin = w·x over
    interpretable per-doc features — stopword ratio, token span, digit
    density, normalized length — with literal coefficients standing in
    for a trained model's.  Pure column algebra: one scan, zero
    shuffles, whole-stage codegen; at 100 TB this is the cheapest
    per-doc op in the pipeline.  quality_filter_gopher pins the RULE
    path; this pins the learned-score path the same corpus runs.
    Degenerate rows (empty text → zero tokens/chars) NULL the margin
    via nullif-guarded divisors — mirrored in the oracle — instead of
    engine-dependent divide-by-zero behavior."""
    d = load_table(spark, sf_dir, "documents")
    n_stop = F.expr(
        r"size(regexp_extract_all(text, '\\b(the|a|and|of|to)\\b', 0))"
    ).cast("long")
    n_tokens = F.nullif(
        F.size(F.split("text", " ")).cast("long"), F.lit(0).cast("long")
    )
    n_chars_raw = F.length("text").cast("long")
    n_chars = F.nullif(n_chars_raw, F.lit(0).cast("long"))
    n_digit = (
        F.length("text") - F.length(F.regexp_replace("text", "[0-9]", ""))
    ).cast("long")
    margin = (
        F.lit(_QC_W["bias"])
        + F.lit(_QC_W["stopword_ratio"]) * (n_stop.cast("double") / n_tokens)
        + F.lit(_QC_W["avg_token_span"]) * (n_chars_raw.cast("double") / n_tokens)
        + F.lit(_QC_W["digit_ratio"]) * (n_digit.cast("double") / n_chars)
        + F.lit(_QC_W["len_norm"]) * (n_chars_raw.cast("double") / F.lit(1000))
    )
    return d.select(
        "doc_id",
        F.round(margin, 9).alias("margin"),
        F.when(margin > 0, F.lit(1)).otherwise(F.lit(0)).alias("quality_pred"),
    )


# Power-of-two bucket boundaries as exact integer literals on BOTH
# sides — a float POWER(2, CEIL(LOG2(n))) could round differently per
# engine at exact powers of two.
_POW2 = [1 << i for i in range(21)]

_PADDING_ORACLE = f"""
    WITH t AS (
      SELECT CAST(len(string_split(text, ' ')) AS BIGINT) AS n_tokens
      FROM documents
    ),
    b AS (
      SELECT n_tokens,
             list_min(list_filter({_POW2}, x -> x >= n_tokens)) AS bucket
      FROM t WHERE n_tokens >= 1
    )
    SELECT bucket,
           CAST(COUNT(*) AS BIGINT) AS n_docs,
           CAST(SUM(n_tokens) AS BIGINT) AS total_tokens,
           CAST(SUM(bucket - n_tokens) AS BIGINT) AS padding_tokens,
           CAST(SUM(bucket - n_tokens) AS DOUBLE) / SUM(bucket) AS waste_ratio
    FROM b GROUP BY bucket
"""


@register(
    "length_bucket_padding_report", oracle=_PADDING_ORACLE, tags=("text", "training")
)
def length_bucket_padding_report(spark, sf_dir):
    """Batch-shape planning: docs assigned to power-of-two length
    buckets with the padding waste each bucket pays (bucket width −
    true tokens).  Length-bucketed batching is how training loaders
    avoid padding a 30-token doc to a 4096 context; this report — one
    scan, bounded-key aggregate, exact integer bucket boundaries on
    both engines — is the input that picks the bucket edges and
    quantifies what fraction of every batch is wasted pad tokens."""
    d = load_table(spark, sf_dir, "documents")
    n_tokens = F.size(F.split("text", " ")).cast("long")
    pow2 = F.array(*[F.lit(p).cast("long") for p in _POW2])
    bucket = F.array_min(F.filter(pow2, lambda x: x >= F.col("n_tokens")))
    b = (
        d.select(n_tokens.alias("n_tokens"))
        .filter(F.col("n_tokens") >= 1)
        .select("n_tokens", bucket.alias("bucket"))
    )
    return b.groupBy("bucket").agg(
        F.count("*").alias("n_docs"),
        F.sum("n_tokens").alias("total_tokens"),
        F.sum(F.col("bucket") - F.col("n_tokens")).alias("padding_tokens"),
        (
            F.sum(F.col("bucket") - F.col("n_tokens")).cast("double")
            / F.sum("bucket")
        ).alias("waste_ratio"),
    )


# ------------------------------------------- tokenizer diagnostics --

_FERTILITY_ORACLE = f"""
    WITH t AS (
      SELECT lang,
             CAST(len(string_split(text, ' ')) AS BIGINT) AS n_tokens,
             CAST(length(text) AS BIGINT) AS n_chars
      FROM documents
    )
    SELECT lang,
           CAST(COUNT(*) AS BIGINT) AS n_docs,
           CAST(SUM(n_tokens) AS BIGINT) AS total_tokens,
           CAST(SUM(n_chars) AS BIGINT) AS total_chars,
           CAST(SUM(n_chars) AS DOUBLE) / SUM(n_tokens) AS chars_per_token,
           CAST(SUM(n_tokens) AS DOUBLE) / COUNT(*) AS tokens_per_doc
    FROM t GROUP BY lang
"""


@register("tokenizer_fertility_by_lang", oracle=_FERTILITY_ORACLE, tags=("text",))
def tokenizer_fertility_by_lang(spark, sf_dir):
    """Tokenizer fertility report: chars-per-token and tokens-per-doc
    by language — the diagnostic that decides whether a tokenizer
    under-serves a language (high fertility → more tokens per content
    unit → that language pays more of the context budget).  Exact
    BIGINT sums (order-free) with single-division ratios; one scan +
    one bounded-key aggregate."""
    d = load_table(spark, sf_dir, "documents")
    t = d.select(
        "lang",
        F.size(F.split("text", " ")).cast("long").alias("n_tokens"),
        F.length("text").cast("long").alias("n_chars"),
    )
    return t.groupBy("lang").agg(
        F.count("*").alias("n_docs"),
        F.sum("n_tokens").alias("total_tokens"),
        F.sum("n_chars").alias("total_chars"),
        (F.sum("n_chars").cast("double") / F.sum("n_tokens")).alias(
            "chars_per_token"
        ),
        (F.sum("n_tokens").cast("double") / F.count("*")).alias("tokens_per_doc"),
    )


# ------------------------------------------------ char-class QC --

_CHAR_CLASS_ORACLE = """
    WITH c AS (
      SELECT source,
             CAST(length(text) AS BIGINT) AS n_chars,
             CAST(length(text) - length(regexp_replace(text, '[A-Za-z]', '', 'g')) AS BIGINT) AS n_alpha,
             CAST(length(text) - length(regexp_replace(text, '[0-9]', '', 'g')) AS BIGINT) AS n_digit,
             CAST(length(text) - length(regexp_replace(text, ' ', '', 'g')) AS BIGINT) AS n_space
      FROM documents
    )
    SELECT source,
           CAST(SUM(n_chars) AS BIGINT) AS total_chars,
           CAST(SUM(n_alpha) AS DOUBLE) / SUM(n_chars) AS alpha_ratio,
           CAST(SUM(n_digit) AS DOUBLE) / SUM(n_chars) AS digit_ratio,
           CAST(SUM(n_space) AS DOUBLE) / SUM(n_chars) AS space_ratio,
           CAST(SUM(n_chars - n_alpha - n_digit - n_space) AS DOUBLE)
             / SUM(n_chars) AS other_ratio
    FROM c GROUP BY source
"""


@register("char_class_profile", oracle=_CHAR_CLASS_ORACLE, tags=("text", "quality"))
def char_class_profile(spark, sf_dir):
    """Per-source character-class composition (alpha / digit / space /
    other ratios) — the cheap corpus-QC panel that catches a source
    gone bad (markup explosions, binary leakage, numeric dumps) before
    any expensive filter runs.  Counting by delete-and-measure keeps
    every count an exact BIGINT; ratios are single divisions over
    order-free sums.  One scan, one bounded-key aggregate."""
    d = load_table(spark, sf_dir, "documents")

    def n_class(pattern):
        return (
            F.length("text") - F.length(F.regexp_replace("text", pattern, ""))
        ).cast("long")

    c = d.select(
        "source",
        F.length("text").cast("long").alias("n_chars"),
        n_class("[A-Za-z]").alias("n_alpha"),
        n_class("[0-9]").alias("n_digit"),
        n_class(" ").alias("n_space"),
    )
    tc = F.sum("n_chars")
    return c.groupBy("source").agg(
        tc.alias("total_chars"),
        (F.sum("n_alpha").cast("double") / tc).alias("alpha_ratio"),
        (F.sum("n_digit").cast("double") / tc).alias("digit_ratio"),
        (F.sum("n_space").cast("double") / tc).alias("space_ratio"),
        (
            F.sum(
                F.col("n_chars") - F.col("n_alpha") - F.col("n_digit") - F.col("n_space")
            ).cast("double")
            / tc
        ).alias("other_ratio"),
    )


# -------------------------------------------- embedding pooling --

_MEAN_POOL_ORACLE = """
    SELECT label, CAST(t.i - 1 AS INTEGER) AS pos,
           CAST(SUM(CAST(e[t.i] AS DECIMAL(25,10))) AS DOUBLE) / COUNT(*) AS mean_val,
           CAST(COUNT(*) AS BIGINT) AS n_vecs
    FROM (SELECT label, CAST(embedding AS DOUBLE[]) AS e FROM embeddings) s,
         UNNEST(generate_series(1, 64)) AS t(i)
    GROUP BY label, t.i
"""


@register("embedding_mean_pool_by_label", oracle=_MEAN_POOL_ORACLE, tags=("similarity",))
def embedding_mean_pool_by_label(spark, sf_dir):
    """Mean-pooled class centroids: the element-wise average embedding
    per label — the pooling step behind prototype classifiers,
    cluster-centroid seeding, and chunk→document embedding rollups.
    posexplode fans each vector to (pos, component) rows ONCE and the
    per-(label, pos) mean is a DECIMAL-exact partial aggregate: the
    shuffle carries only label×64 keys, never vectors, which is the
    shape that survives a billion-vector corpus."""
    e = load_table(spark, sf_dir, "embeddings")
    x = e.select(
        "label", F.posexplode(F.col("embedding").cast("array<double>"))
    ).select("label", F.col("pos"), F.col("col").alias("v"))
    return x.groupBy("label", "pos").agg(
        (
            F.sum(F.col("v").cast("decimal(25,10)")).cast("double") / F.count("*")
        ).alias("mean_val"),
        F.count("*").alias("n_vecs"),
    ).select("label", F.col("pos").cast("int").alias("pos"), "mean_val", "n_vecs")


# -------------------------------------------- embedding outliers --

_OUTLIER_ORACLE = f"""
    WITH {_IV_SQL},
    emb AS (SELECT e.vec_id, i.label, e.e
            FROM iv e JOIN embeddings i ON i.vec_id = e.vec_id),
    cents AS (
      SELECT label, t.i AS d,
             CAST(FLOOR(CAST(SUM(e[t.i]) AS DOUBLE) / COUNT(*)) AS BIGINT) AS c
      FROM emb, UNNEST(generate_series(1, 64)) AS t(i)
      GROUP BY label, t.i
    ),
    d2 AS (
      SELECT v.vec_id, v.label,
             CAST(SUM((v.e[c.d] - c.c) * (v.e[c.d] - c.c)) AS BIGINT) AS dist2
      FROM emb v JOIN cents c ON c.label = v.label
      GROUP BY v.vec_id, v.label
    )
    SELECT vec_id, label, dist2, CAST(rk AS INTEGER) AS rk FROM (
      SELECT vec_id, label, dist2,
             ROW_NUMBER() OVER (PARTITION BY label
                                ORDER BY dist2 DESC, vec_id) AS rk
      FROM d2
    ) WHERE rk <= 5
"""


@register(
    "embedding_outlier_by_label", oracle=_OUTLIER_ORACLE, tags=("similarity", "quality")
)
def embedding_outlier_by_label(spark, sf_dir):
    """Embedding outlier report: the 5 vectors farthest (squared L2)
    from their class centroid, per label — the QC pass that surfaces
    mislabeled or corrupted vectors before they poison a quantizer or
    a contrastive batch.  Centroids are FLOOR(sum/count) integers on
    the exact grid, distances exact BIGINTs, so both the centroid
    build and the ranking hash-match.  Plan shape: one fan-out of
    (label, dim) partial sums (bounded keys), centroid broadcast back,
    per-vector distance as one array fold, per-label top-5 window over
    the tiny survivor set."""
    e = _int_grid(spark, sf_dir)
    lab = load_table(spark, sf_dir, "embeddings").select("vec_id", "label")
    emb = e.join(lab, "vec_id")

    cents = (
        emb.select("label", F.posexplode("e"))
        .groupBy("label", "pos")
        .agg(
            F.floor(
                F.sum("col").cast("double") / F.count("*")
            ).cast("long").alias("c")
        )
        .groupBy("label")
        .agg(F.sort_array(F.collect_list(F.struct("pos", "c"))).alias("cs"))
        .select("label", F.expr("transform(cs, x -> x.c)").alias("cent"))
    )
    d2 = emb.join(F.broadcast(cents), "label").select(
        "vec_id",
        "label",
        F.aggregate(
            F.zip_with(F.col("e"), F.col("cent"), lambda a, b: (a - b) * (a - b)),
            F.lit(0).cast("long"),
            lambda acc, v: acc + v,
        ).alias("dist2"),
    )
    from pyspark.sql import Window

    w = Window.partitionBy("label").orderBy(F.col("dist2").desc(), "vec_id")
    return d2.withColumn("rk", F.row_number().over(w)).filter(F.col("rk") <= 5)


# ------------------------------------------------ multimodal audio --

_AUDIO_ORACLE = """
    WITH samples AS (
      SELECT doc_id, CAST((t.i - 1) // 256 AS BIGINT) AS frame_idx,
             CAST(ascii(substr(text, t.i, 1)) - 80 AS BIGINT) AS s
      FROM documents, UNNEST(generate_series(1, length(text))) AS t(i)
    )
    SELECT doc_id, frame_idx,
           CAST(COUNT(*) AS BIGINT) AS n_samples,
           CAST(SUM(s * s) AS BIGINT) AS energy_sq,
           ROUND(sqrt(CAST(SUM(s * s) AS DOUBLE) / COUNT(*)), 9) AS rms
    FROM samples GROUP BY doc_id, frame_idx
"""


@register("multimodal_audio_energy", oracle=_AUDIO_ORACLE, tags=("multimodal",))
def multimodal_audio_energy(spark, sf_dir):
    """Audio feature extraction plumbing: framewise RMS energy over a
    PCM stream — the first feature every audio-quality filter and VAD
    computes.  The decode is the repo's standard deterministic fake
    (librosa absent in this container): each text character's code
    point is one centered sample, so BOTH engines regenerate the same
    waveform and the driver hashes the real contract — 256-sample
    framing, per-frame exact integer energy, single-sqrt RMS.  The
    Spark side runs the production shape: an Arrow-batched numpy
    kernel over mapInPandas, embarrassingly parallel, one output row
    per frame, no shuffle until the (doc, frame)-keyed aggregate that
    the kernel itself already produces."""
    d = load_table(spark, sf_dir, "documents").select("doc_id", "text")
    return audio_energy_frames(d)


def audio_energy_frames(d):
    """Framewise RMS energy over a (doc_id, text) frame — the reusable
    kernel behind multimodal_audio_energy (tests drive it with
    multilingual synthetic frames the parquet corpus doesn't have)."""

    def frames(batches):
        import numpy as np
        import pandas as pd

        for pdf in batches:
            out_d, out_f, out_n, out_e = [], [], [], []
            for doc_id, text in zip(pdf["doc_id"], pdf["text"]):
                # STUB decode: real impl feeds PCM via librosa/av here.
                # utf-32-le gives one uint32 PER CHARACTER (= ord(ch)),
                # matching the oracle's char-indexed ascii(substr(..))
                # code points on any unicode text — encode('ascii')
                # would crash on multilingual docs and misindex
                # multi-byte chars.
                s = np.frombuffer(
                    text.encode("utf-32-le"), dtype=np.uint32
                ).astype(np.int64) - 80
                n = len(s)
                if n == 0:
                    continue
                nf = (n + 255) // 256
                for f in range(nf):
                    seg = s[f * 256 : (f + 1) * 256]
                    out_d.append(doc_id)
                    out_f.append(f)
                    out_n.append(len(seg))
                    out_e.append(int((seg * seg).sum()))
            yield pd.DataFrame(
                {
                    "doc_id": pd.Series(out_d, dtype="int64"),
                    "frame_idx": pd.Series(out_f, dtype="int64"),
                    "n_samples": pd.Series(out_n, dtype="int64"),
                    "energy_sq": pd.Series(out_e, dtype="int64"),
                }
            )

    framed = d.mapInPandas(
        frames,
        schema="doc_id long, frame_idx long, n_samples long, energy_sq long",
    )
    return framed.select(
        "doc_id",
        "frame_idx",
        "n_samples",
        "energy_sq",
        F.round(
            F.sqrt(F.col("energy_sq").cast("double") / F.col("n_samples")), 9
        ).alias("rms"),
    )


_SHUFFLE_ORACLE = """
    WITH x AS (
      SELECT d.doc_id, e.epoch,
             md5(CAST(e.epoch AS VARCHAR) || '|' || CAST(d.doc_id AS VARCHAR))
               AS k
      FROM documents d,
           (SELECT unnest(generate_series(0, 1)) AS epoch) e
    )
    SELECT doc_id, CAST(epoch AS INTEGER) AS epoch,
           CAST((strpos('0123456789abcdef', substr(k, 1, 1)) - 1) % 8
                AS BIGINT) AS shard,
           CAST(ROW_NUMBER() OVER (
               PARTITION BY epoch,
                            (strpos('0123456789abcdef', substr(k, 1, 1)) - 1) % 8
               ORDER BY k, doc_id) AS BIGINT) AS pos
    FROM x
"""


@register("epoch_shuffle_shards", oracle=_SHUFFLE_ORACLE, tags=("training",))
def epoch_shuffle_shards(spark, sf_dir):
    """Seed-stable epoch shuffling: every (doc, epoch) gets a
    deterministic shard and an order-within-shard from md5(epoch|doc) —
    the shard manifest a training loader consumes.  Hash-ordering means
    epoch 2's order is uncorrelated with epoch 1's yet every re-run
    (and every engine) reproduces it exactly — the property that makes
    a training run restartable mid-epoch.  Plan: the epoch spine is a
    2-row broadcast, shard assignment is a pure projection, and the
    within-shard position is one window sort per (epoch, shard) —
    shard-local work, the same shape at 8 shards or 8 thousand."""
    d = load_table(spark, sf_dir, "documents").select("doc_id")
    epochs = spark.range(2).select(F.col("id").cast("int").alias("epoch"))
    x = d.crossJoin(F.broadcast(epochs))
    k = F.md5(
        F.concat_ws(
            "|", F.col("epoch").cast("string"), F.col("doc_id").cast("string")
        )
    )
    hex_idx = (
        F.instr(F.lit("0123456789abcdef"), F.substring(F.col("k"), 1, 1)) - 1
    ).cast("long")
    from pyspark.sql import Window

    keyed = x.select("doc_id", "epoch", k.alias("k")).withColumn(
        "shard", hex_idx % 8
    )
    w = Window.partitionBy("epoch", "shard").orderBy("k", "doc_id")
    return keyed.select(
        "doc_id",
        "epoch",
        "shard",
        F.row_number().over(w).cast("long").alias("pos"),
    )


# ----------------------------------------------- PCA power iteration --


def _pca_iter_sql(prev: str, out: str) -> str:
    """One ∞-norm-scaled power iteration in SQL: u = G v (exact bigint),
    then rescale to ≤1000 via FLOOR(u / max|u| * 1000) — u stays under
    2^53 so the double math is deterministic in both engines."""
    return f"""
    u_{out} AS (
      SELECT g.i AS d, CAST(SUM(g.g * v.val) AS BIGINT) AS u
      FROM gram g JOIN {prev} v ON v.d = g.j GROUP BY g.i
    ),
    m_{out} AS (SELECT MAX(ABS(u)) AS m FROM u_{out}),
    {out} AS (
      SELECT d, CAST(FLOOR(CAST(u AS DOUBLE) / (SELECT m FROM m_{out})
                           * 1000) AS BIGINT) AS val
      FROM u_{out}
    )"""


_PCA_ORACLE = (
    f"""
    WITH {_IV_SQL},
    gram AS MATERIALIZED (
      SELECT ti.i, tj.j, CAST(SUM(e[ti.i] * e[tj.j]) AS BIGINT) AS g
      FROM iv, UNNEST(generate_series(1, 64)) AS ti(i),
               UNNEST(generate_series(1, 64)) AS tj(j)
      GROUP BY ti.i, tj.j
    ),
    v0 AS (SELECT unnest(generate_series(1, 64)) AS d, CAST(1000 AS BIGINT) AS val),
    """
    + _pca_iter_sql("v0", "v1")
    + ","
    + _pca_iter_sql("v1", "v2")
    + ","
    + _pca_iter_sql("v2", "v3")
    + """
    SELECT CAST(d - 1 AS INTEGER) AS dim, val AS component FROM v3
    """
)


@register("embedding_pca_power_iteration", oracle=_PCA_ORACLE, tags=("similarity", "iterative"))
def embedding_pca_power_iteration(spark, sf_dir):
    """Dominant principal component of the embedding corpus by power
    iteration — the whitening/compression pre-pass (PCA before PQ is
    the standard FAISS recipe, OPQ's ancestor).  The CORPUS pass is
    the Gram-matrix build: each Arrow batch contributes an exact
    integer X^T X partial (numpy GEMM on the int grid — order-free),
    reduced by a 64x64-key aggregate; that is the only pass that
    touches data and it is one scan + one bounded shuffle at any
    corpus size.  The 64x64 iteration then runs driver-side (same
    bounded-artifact pattern as the k-means centroid collects), kept
    deterministic by ∞-norm fixed-point scaling: u = Gv in exact
    bigint, rescale by FLOOR(u / max|u| * 1000) — every op replayed
    identically by the SQL oracle, so the driver hashes all three
    iterations of an eigenvector computation."""
    import numpy as np

    e = _int_grid(spark, sf_dir)

    def gram_partials(batches):
        import numpy as np
        import pandas as pd

        acc = np.zeros((64, 64), dtype=np.int64)
        for pdf in batches:
            if len(pdf) == 0:
                continue
            X = np.stack([np.asarray(v, dtype=np.int64) for v in pdf["e"]])
            acc += X.T @ X  # exact: |x|<=1000, n_batch*1e6 << 2^63
        ii, jj = np.meshgrid(np.arange(64), np.arange(64), indexing="ij")
        yield pd.DataFrame(
            {
                "i": ii.ravel().astype("int64"),
                "j": jj.ravel().astype("int64"),
                "g": acc.ravel(),
            }
        )

    gram_df = (
        e.mapInPandas(gram_partials, schema="i long, j long, g long")
        .groupBy("i", "j")
        .agg(F.sum("g").alias("g"))
    )
    G = np.zeros((64, 64), dtype=np.int64)
    for r in gram_df.collect():  # bounded: 4096 rows
        G[r.i, r.j] = r.g

    v = np.full(64, 1000, dtype=np.int64)
    for _ in range(3):
        u = G @ v  # exact bigint
        m = np.abs(u).max()
        v = np.floor(u.astype(np.float64) / float(m) * 1000).astype(np.int64)

    spark2 = e.sparkSession
    return spark2.createDataFrame(
        [(int(d), int(v[d])) for d in range(64)], "dim int, component bigint"
    )


@register(
    "embedding_sign_signature",
    oracle="""
    WITH b AS (
      SELECT vec_id, i,
             CASE WHEN embedding[i + 1] >= 0 THEN CAST(1 AS BIGINT)
                  ELSE CAST(0 AS BIGINT) END AS bit
      FROM embeddings, UNNEST(generate_series(0, 63)) AS t(i)
    )
    SELECT vec_id,
           CAST(SUM(CASE WHEN i < 32
                         THEN bit * (CAST(1 AS BIGINT) << i)
                         ELSE 0 END) AS BIGINT) AS sig_lo,
           CAST(SUM(CASE WHEN i >= 32
                         THEN bit * (CAST(1 AS BIGINT) << (i - 32))
                         ELSE 0 END) AS BIGINT) AS sig_hi,
           CAST(SUM(bit) AS BIGINT) AS n_pos
    FROM b
    GROUP BY vec_id
    """,
    tags=("similarity", "multimodal", "arrow"),
)
def embedding_sign_signature(spark, sf_dir):
    """Binarized-embedding signatures through ``mapInArrow`` — the
    zero-copy Arrow-level kernel API (one tier below mapInPandas: raw
    RecordBatches, no pandas conversion).  Each 64-dim vector packs
    its SIGN BITS into two 32-bit halves (sig_lo dims 0-31, sig_hi
    32-63) — the classic binary-hashing compaction (Charikar STOC'02
    random-hyperplane signatures with the identity basis): 64 floats
    become 8 bytes, and Hamming distance on the signature approximates
    cosine, which is how billion-vector dedup prefilters before exact
    re-rank (the simhash_near_dup_pairs pattern, applied to
    embeddings).  n_pos (the signature popcount) rides along for
    balance QC — a skewed popcount histogram means the basis needs
    recentering before binarization.

    The sign test is exact (no float arithmetic — only >= 0, where
    both engines agree including -0.0), so the DuckDB bit-shift oracle
    replays the packing bit-for-bit.  Kernel is row-local: no shuffle
    at any corpus size; the reshape is zero-copy off the Arrow list
    buffer."""
    import os

    from nemscraper_spark.queries.common import fan_out_sized
    from nemscraper_spark.sources.fsutil import parquet_rows

    n_vecs = parquet_rows(os.path.join(sf_dir, "embeddings.parquet"))
    e = fan_out_sized(
        load_table(spark, sf_dir, "embeddings").select("vec_id", "embedding"),
        n_vecs,
    )

    def _pack(batches):
        import numpy as np
        import pyarrow as pa

        lo_w = (np.int64(1) << np.arange(32, dtype=np.int64))
        for batch in batches:
            if batch.num_rows == 0:
                continue
            col = batch.column(1)
            m = col.flatten().to_numpy(zero_copy_only=False).reshape(
                batch.num_rows, 64
            )
            bits = (m >= 0).astype(np.int64)
            sig_lo = (bits[:, :32] * lo_w).sum(axis=1)
            sig_hi = (bits[:, 32:] * lo_w).sum(axis=1)
            yield pa.RecordBatch.from_arrays(
                [
                    batch.column(0),
                    pa.array(sig_lo, type=pa.int64()),
                    pa.array(sig_hi, type=pa.int64()),
                    pa.array(bits.sum(axis=1), type=pa.int64()),
                ],
                names=["vec_id", "sig_lo", "sig_hi", "n_pos"],
            )

    return e.mapInArrow(
        _pack, "vec_id long, sig_lo long, sig_hi long, n_pos long"
    )


@register(
    "hamming_band_prefilter_report",
    oracle="""
    WITH b AS (
      SELECT vec_id, i,
             CASE WHEN embedding[i + 1] >= 0 THEN CAST(1 AS BIGINT)
                  ELSE CAST(0 AS BIGINT) END AS bit
      FROM embeddings, UNNEST(generate_series(0, 63)) AS t(i)
    ),
    sigs AS MATERIALIZED (
      SELECT vec_id,
             CAST(SUM(CASE WHEN i < 32
                           THEN bit * (CAST(1 AS BIGINT) << i)
                           ELSE 0 END) AS BIGINT) AS lo,
             CAST(SUM(CASE WHEN i >= 32
                           THEN bit * (CAST(1 AS BIGINT) << (i - 32))
                           ELSE 0 END) AS BIGINT) AS hi
      FROM b GROUP BY vec_id
    ),
    bands AS MATERIALIZED (
      SELECT vec_id, lo, hi, band,
             CASE band
               WHEN 0 THEN lo & 65535
               WHEN 1 THEN (lo >> 16) & 65535
               WHEN 2 THEN hi & 65535
               ELSE (hi >> 16) & 65535
             END AS bucket
      FROM sigs, UNNEST(generate_series(0, 3)) AS g(band)
    )
    SELECT a.band,
           CAST(COUNT(*) AS BIGINT) AS n_candidates,
           CAST(SUM(CASE WHEN bit_count(xor(a.lo, c.lo))
                              + bit_count(xor(a.hi, c.hi)) <= 3
                         THEN 1 ELSE 0 END) AS BIGINT) AS n_verified
    FROM bands a
    JOIN bands c
      ON c.band = a.band AND c.bucket = a.bucket
     AND a.vec_id < c.vec_id
    GROUP BY a.band
    """,
    tags=("similarity", "dedup"),
)
def hamming_band_prefilter_report(spark, sf_dir):
    """Hamming-band prefilter over the binary embedding signatures —
    the search side of embedding_sign_signature: the 64-bit signature
    splits into 4 x 16-bit bands; vectors colliding on any band are
    candidates, and candidates within Hamming distance 3 verify (by
    pigeonhole, 4 bands catch EVERY pair at distance <= 3 — the
    simhash_near_dup_pairs guarantee, applied to binarized
    embeddings).  Per band: candidate and verified counts — the
    4-row tuning report that says whether the 16-bit chunk space holds
    bucket sizes at ~n/65536 (linear join) or boilerplate signatures
    are ganging up (time to recenter the basis, see n_pos QC).

    The whole plan is JVM codegen bit arithmetic (shiftleft/and/xor/
    bit_count) — no Python, no floats; the DuckDB oracle rebuilds the
    signatures from raw embeddings independently, so the gate also
    re-pins the Arrow kernel's packing through a second engine.
    Band equi-join on (band, bucket): linear in corpus size, never
    all-pairs; GROUP BY band is 4 keys."""
    sigs = embedding_sign_signature(spark, sf_dir).select(
        "vec_id", F.col("sig_lo").alias("lo"), F.col("sig_hi").alias("hi")
    )
    band_exprs = [
        F.expr("lo & 65535").alias("bucket"),
        F.expr("shiftright(lo, 16) & 65535").alias("bucket"),
        F.expr("hi & 65535").alias("bucket"),
        F.expr("shiftright(hi, 16) & 65535").alias("bucket"),
    ]
    bands = None
    for i, bexpr in enumerate(band_exprs):
        arm = sigs.select(
            "vec_id", "lo", "hi", F.lit(i).cast("long").alias("band"), bexpr
        )
        bands = arm if bands is None else bands.unionByName(arm)
    a = bands.alias("a")
    c = bands.alias("c")
    ham = F.expr(
        "bit_count(a.lo ^ c.lo) + bit_count(a.hi ^ c.hi)"
    )
    return (
        a.join(
            c,
            (F.col("a.band") == F.col("c.band"))
            & (F.col("a.bucket") == F.col("c.bucket"))
            & (F.col("a.vec_id") < F.col("c.vec_id")),
        )
        .groupBy(F.col("a.band").alias("band"))
        .agg(
            F.count("*").alias("n_candidates"),
            F.sum(F.when(ham <= 3, 1).otherwise(0))
            .cast("long")
            .alias("n_verified"),
        )
    )
