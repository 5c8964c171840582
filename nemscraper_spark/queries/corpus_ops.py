"""Corpus-preparation operators: dup-group clustering, deterministic
train/test splits, vocabulary statistics, TF-IDF term extraction.

These extend the training-data surface (dedup/similarity/text analysis in
`training_data.py`) with the remaining steps a large-scale LLM data
pipeline runs between "near-dup pairs found" and "training shards
written":

  * pair lists -> duplicate GROUPS (connected components — you can't
    keep-one-per-group without the transitive closure);
  * reproducible train/val/test assignment (content-hash bucketing, so
    the split is stable across runs, machines, and engine versions);
  * corpus vocabulary / token frequency profiles (tokenizer planning,
    contamination scans);
  * per-document salient terms via TF-IDF (quality filtering features).

Cross-engine determinism notes: md5 is the only hash (identical in Spark
and DuckDB); TF-IDF uses the LINEAR idf variant ``tf * (N / df)`` —
products/quotients of small integers are correctly-rounded IEEE doubles,
bit-identical in both engines, unlike ``ln`` whose libm implementations
may differ in the last ulp.
"""

from __future__ import annotations

from pyspark.sql import Window
from pyspark.sql import functions as F

from nemscraper_spark.operators.components import connected_components
from nemscraper_spark.queries.common import fan_out, load_table, register

# word-3-gram shingle set per document — shared by the dup-group edge
# builder; mirrors training_data.ngram_jaccard_pairs (reference-free op;
# pair-gen parity with that query is pinned in tests)
_SHINGLE_SQL = """
      SELECT DISTINCT doc_id,
             w[i] || ' ' || w[i+1] || ' ' || w[i+2] AS shingle
      FROM (SELECT doc_id, string_split(text, ' ') AS w FROM documents),
           UNNEST(generate_series(1, len(w) - 2)) AS t(i)
      WHERE len(w) >= 3
"""


def _shingles(spark, sf_dir):
    # One shingle builder for the whole dedup family. Lazy import
    # (training_data lazily imports from this module elsewhere).
    from nemscraper_spark.queries.training_data import _shingle_frame

    d = fan_out(load_table(spark, sf_dir, "documents"))
    return _shingle_frame(d)


# Exact-trunk memoization (round-9 verdict; round-11: moved into the
# shared trunk_cache registry): the near-dup edge set is identical
# for both consumers in a session (dedup_cluster_components,
# dedup_keep_canonical — the #1 and #4 heaviest suite entries, each
# rebuilding the full explode→collapse→inverted-index-join trunk),
# and like the counted-pairs trunk its OUTPUT is tiny (one row per
# surviving edge).  Provenance is by construction — _dup_edges loads
# the table itself; a rewritten corpus rebuilds the trunk by the
# footprint rule documented ONCE at trunk_cache.
def _dup_edges(spark, sf_dir):
    """Connectivity-equivalent near-dup edge set: exact-duplicate
    collapse first, word-3-gram Jaccard >= 0.5 pairs (inverted-index
    equi-join, as ngram_jaccard_pairs) over the REPRESENTATIVES only,
    plus rep->member star edges for the collapsed docs.  Built once
    per (session, sf_dir) and persisted (see trunk_cache).

    The exact-collapse step is what keeps this linear: identical docs
    (boilerplate repeated millions of times in a crawl) share every
    shingle, so each text duplicated k times multiplies its posting
    lists by k and the self-join's intermediate by k^2 — measured 25x
    wall-clock at 20x corpus with replicated docs before the collapse,
    2.5x after. Star edges preserve the transitive closure exactly:
    members of an exact group are Jaccard-1.0 with their rep, and any
    cross-group pair has the same Jaccard as its reps.

    Joins key on the 8-byte xxhash64, not the shingle string: halves
    the self-join's shuffle bytes (measured 2.2x at sf0.1). A cross-doc
    collision could perturb a count, but at ~2^18 distinct shingles the
    any-collision probability is ~1e-9 — far below the float-
    determinism tolerances everywhere else."""

    def build():
        d = fan_out(load_table(spark, sf_dir, "documents"))
        mapping = (
            d.select("doc_id", F.xxhash64("text").alias("th"))
            .withColumn("rep", F.min("doc_id").over(Window.partitionBy("th")))
            .select("doc_id", "rep")
        )
        star = mapping.filter(F.col("doc_id") != F.col("rep")).select(
            F.col("rep").alias("doc_a"), F.col("doc_id").alias("doc_b")
        )
        reps = mapping.filter(F.col("doc_id") == F.col("rep")).select("doc_id")
        sh = (
            _shingles(spark, sf_dir)
            .join(reps, "doc_id")
            .select("doc_id", F.xxhash64("shingle").alias("shingle"))
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
        near = (
            inter.join(F.broadcast(ca), "doc_a")
            .join(F.broadcast(cb), "doc_b")
            .filter(jac >= 0.5)
            .select("doc_a", "doc_b")
        )
        return near.unionByName(star)

    from nemscraper_spark.queries.trunk_cache import norm_dir, trunk

    return trunk(
        "dup_edges",
        (spark.sparkContext.applicationId, norm_dir(sf_dir)),
        build,
    )


# recursive-CTE transitive closure over Jaccard>=0.5 3-gram edges,
# ending in comp(doc_id, component) — shared by the two CC oracles
_COMP_CTE = f"""
    sh AS ({_SHINGLE_SQL}),
    cnt AS (SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS n FROM sh GROUP BY doc_id),
    inter AS (
      SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, CAST(COUNT(*) AS BIGINT) AS n_common
      FROM sh a JOIN sh b ON a.shingle = b.shingle AND a.doc_id < b.doc_id
      GROUP BY 1, 2
    ),
    e0 AS (
      SELECT doc_a, doc_b FROM inter
      JOIN cnt ca ON ca.doc_id = doc_a
      JOIN cnt cb ON cb.doc_id = doc_b
      WHERE CAST(n_common AS DOUBLE) / (ca.n + cb.n - n_common) >= 0.5
    ),
    e AS (SELECT doc_a AS u, doc_b AS v FROM e0
          UNION ALL SELECT doc_b, doc_a FROM e0),
    reach(n, r) AS (
      SELECT u, u FROM (SELECT DISTINCT u FROM e)
      UNION
      SELECT reach.n, e.v FROM reach JOIN e ON reach.r = e.u
    ),
    comp AS (SELECT n AS doc_id, MIN(r) AS component FROM reach GROUP BY n)
"""


@register(
    "dedup_cluster_components",
    oracle=f"""
    WITH RECURSIVE
    {_COMP_CTE}
    SELECT doc_id, component,
           CAST(COUNT(*) OVER (PARTITION BY component) AS BIGINT) AS n_members
    FROM comp
    """,
    tags=("dedup", "components"),
)
def dedup_cluster_components(spark, sf_dir):
    """Near-dup pairs -> duplicate GROUPS via connected components.

    Edges are word-3-gram Jaccard >= 0.5 pairs (the inverted-index
    equi-join, as ngram_jaccard_pairs); closure runs the alternating
    large-star/small-star contraction (operators/components.py) — O(log
    n) shuffle rounds regardless of chain length, vs diameter rounds
    for naive label propagation. Output: every clustered doc with its
    component id (= min doc_id reachable) and group size. The oracle
    computes the same closure as a recursive CTE — feasible for DuckDB
    at test scale, which is exactly why Spark gets the star algorithm
    instead.
    """
    comp = connected_components(_dup_edges(spark, sf_dir), "doc_a", "doc_b")
    w = Window.partitionBy("component")
    return comp.select(
        F.col("node").alias("doc_id"),
        "component",
        F.count("*").over(w).alias("n_members"),
    )


def _dedup_groups_md5_oracle(n_perm: int, band_size: int) -> str:
    """Recursive-CTE oracle for the staged dup-group closure at a given
    md5 band geometry: exact-collapse by md5(text) → banded LSH over
    the representatives' shingles → exact-Jaccard ≥ 0.5 verify → star
    edges → transitive closure.  Shared by dedup_groups_lsh (16, 4 —
    production geometry) and dedup_groups_lsh_md5 (8, 2 — compact)."""
    from nemscraper_spark.queries.training_data import (
        _SHINGLE_SQL,
        _lsh_md5_sig_bands_sql,
    )

    return f"""
    WITH RECURSIVE
    sh AS ({_SHINGLE_SQL}),
    m AS (
      SELECT doc_id, MIN(doc_id) OVER (PARTITION BY md5(text)) AS rep
      FROM documents
    ),
    star AS (SELECT rep AS doc_a, doc_id AS doc_b FROM m WHERE doc_id <> rep),
    reps AS (SELECT doc_id FROM m WHERE doc_id = rep),
    rsh AS (SELECT sh.doc_id, sh.shingle FROM sh JOIN reps USING (doc_id)),
    {_lsh_md5_sig_bands_sql(n_perm, band_size, "rsh")},
    cnt AS (SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS n FROM rsh GROUP BY doc_id),
    inter AS (
      SELECT c.doc_a, c.doc_b, CAST(COUNT(*) AS BIGINT) AS n_common
      FROM cand c
      JOIN rsh a ON a.doc_id = c.doc_a
      JOIN rsh b2 ON b2.doc_id = c.doc_b AND b2.shingle = a.shingle
      GROUP BY c.doc_a, c.doc_b
    ),
    near AS (
      SELECT i.doc_a, i.doc_b
      FROM inter i
      JOIN cnt ca ON ca.doc_id = i.doc_a
      JOIN cnt cb ON cb.doc_id = i.doc_b
      WHERE CAST(i.n_common AS DOUBLE) / (ca.n + cb.n - i.n_common) >= 0.5
    ),
    e0 AS (SELECT doc_a, doc_b FROM near
           UNION ALL SELECT doc_a, doc_b FROM star),
    e AS (SELECT doc_a AS u, doc_b AS v FROM e0
          UNION ALL SELECT doc_b, doc_a FROM e0),
    reach(n, r) AS (
      SELECT u, u FROM (SELECT DISTINCT u FROM e)
      UNION
      SELECT reach.n, e.v FROM reach JOIN e ON reach.r = e.u
    ),
    comp AS (SELECT n AS doc_id, MIN(r) AS component FROM reach GROUP BY n)
    SELECT doc_id, component,
           CAST(COUNT(*) OVER (PARTITION BY component) AS BIGINT) AS n_members
    FROM comp
    """


def _dedup_groups_md5(spark, sf_dir, n_perm: int, band_size: int):
    """Spark side of the staged dup-group closure (see
    _dedup_groups_md5_oracle): every stage linear in corpus size, the
    closure the O(log n)-round star contraction."""
    from nemscraper_spark.queries.training_data import lsh_verified_pairs_md5

    d = fan_out(load_table(spark, sf_dir, "documents"))
    mapping = (
        d.select("doc_id", F.md5("text").alias("th"))
        .withColumn("rep", F.min("doc_id").over(Window.partitionBy("th")))
        .select("doc_id", "rep")
    )
    star = mapping.filter(F.col("doc_id") != F.col("rep")).select(
        F.col("rep").alias("doc_a"), F.col("doc_id").alias("doc_b")
    )
    reps = mapping.filter(F.col("doc_id") == F.col("rep")).select("doc_id")
    # Derived provenance tag: the representatives slice is a pure
    # deterministic function of the documents table (min-doc_id per
    # md5(text) group — no randomness, no session state), so it may
    # carry its own cache certificate.  lsh_verified_pairs_md5's
    # counted-pairs trunk then persists per (session, sf_dir,
    # "documents#md5reps") and is shared by every dedup-groups
    # consumer in the session, at either geometry, instead of being
    # rebuilt per query (round-9 verdict, r10 queue item b).  The tag
    # name is admitted in training_data._COUNTED_TAGS.
    reps_docs = d.join(reps, "doc_id")
    tag = getattr(d, "_sg_table_tag", None)
    if tag is not None:
        reps_docs._sg_table_tag = (tag[0], tag[1] + "#md5reps")
    near = lsh_verified_pairs_md5(
        reps_docs, threshold=0.5, n_perm=n_perm, band_size=band_size
    ).select("doc_a", "doc_b")
    comp = connected_components(near.unionByName(star), "doc_a", "doc_b")
    w = Window.partitionBy("component")
    return comp.select(
        F.col("node").alias("doc_id"),
        "component",
        F.count("*").over(w).alias("n_members"),
    )


@register(
    "dedup_groups_lsh",
    oracle=_dedup_groups_md5_oracle(16, 4),
    tags=("dedup", "components"),
)
def dedup_groups_lsh(spark, sf_dir):
    """The fully scale-path dup-group closure at PRODUCTION band
    geometry (16 minhashes, 4 bands of 4): exact-collapse →
    MinHash+LSH verified pairs (Jaccard >= 0.5) over the
    REPRESENTATIVES → star edges for exact members → connected
    components.

    This is dedup_cluster_components with the exact inverted-index
    edge generation swapped for the LSH bucket join — every stage
    linear in corpus size, the composition a 100TB keep-list would
    actually run.  The registered entry seeds with md5 so the oracle
    replays collapse, banding, verify, AND the transitive closure —
    the production geometry is hash-gated end to end, not rows-only."""
    return _dedup_groups_md5(spark, sf_dir, n_perm=16, band_size=4)


@register(
    "train_test_split_hash",
    oracle="""
    WITH b AS (
      SELECT source,
             (strpos('0123456789abcdef', substr(md5(CAST(doc_id AS VARCHAR)), 1, 1)) - 1) * 16
             + (strpos('0123456789abcdef', substr(md5(CAST(doc_id AS VARCHAR)), 2, 1)) - 1)
               AS bucket
      FROM documents
    ),
    s AS (
      SELECT source,
             CASE WHEN bucket < 204 THEN 'train'
                  WHEN bucket < 230 THEN 'val'
                  ELSE 'test' END AS split
      FROM b
    )
    SELECT source, split, CAST(COUNT(*) AS BIGINT) AS n_docs,
           CAST(COUNT(*) AS DOUBLE)
             / CAST(SUM(COUNT(*)) OVER (PARTITION BY source) AS DOUBLE) AS share
    FROM s GROUP BY source, split
    """,
    tags=("split",),
)
def train_test_split_hash(spark, sf_dir):
    """Deterministic ~80/10/10 train/val/test assignment by content hash.

    bucket = first two hex digits of md5(doc_id) -> 0..255; split
    boundaries at 204/230. Hash-based assignment is the standard
    reproducible-split technique: stable under re-runs, re-partitioning,
    engine versions, and corpus growth (a doc's split never changes when
    other docs arrive — unlike randomSplit/rand(seed), whose assignment
    depends on partitioning). Pure column algebra; aggregates per
    (source, split) with a windowed share-of-source.
    """
    d = load_table(spark, sf_dir, "documents")
    hexpos = lambda i: (  # noqa: E731
        F.expr(f"locate(substring(md5(CAST(doc_id AS STRING)), {i}, 1), '0123456789abcdef')")
        - 1
    )
    bucket = hexpos(1) * 16 + hexpos(2)
    split = (
        F.when(bucket < 204, "train").when(bucket < 230, "val").otherwise("test")
    )
    w = Window.partitionBy("source")
    return (
        d.select("source", split.alias("split"))
        .groupBy("source", "split")
        .agg(F.count("*").alias("n_docs"))
        .withColumn(
            "share",
            F.col("n_docs").cast("double") / F.sum("n_docs").over(w).cast("double"),
        )
    )


@register(
    "vocab_top_tokens",
    oracle="""
    SELECT token, n, rank FROM (
      SELECT token, CAST(COUNT(*) AS BIGINT) AS n,
             CAST(ROW_NUMBER() OVER (ORDER BY COUNT(*) DESC, token) AS INT) AS rank
      FROM (SELECT unnest(string_split(text, ' ')) AS token FROM documents)
      GROUP BY token
    ) WHERE rank <= 50
    """,
    tags=("text", "vocab"),
)
def vocab_top_tokens(spark, sf_dir):
    """Corpus vocabulary: top-50 tokens by frequency (tokenizer planning
    / contamination scans). explode -> partial-aggregated groupBy ->
    TakeOrderedAndProject(50) — the global sort only ever sees the
    survivor set, never the vocabulary, so the plan is safe at any
    corpus size. Ranks are assigned AFTER the top-k cut (window over 50
    rows, not over the vocab)."""
    d = fan_out(load_table(spark, sf_dir, "documents"))
    c = (
        d.select(F.explode(F.split("text", " ")).alias("token"))
        .groupBy("token")
        .agg(F.count("*").alias("n"))
        .orderBy(F.col("n").desc(), "token")
        .limit(50)
    )
    w = Window.orderBy(F.col("n").desc(), "token")
    return c.withColumn("rank", F.row_number().over(w))


@register(
    "tfidf_top_terms",
    oracle="""
    WITH tok AS (
      SELECT doc_id, unnest(string_split(text, ' ')) AS token FROM documents
    ),
    tf AS (
      SELECT doc_id, token, CAST(COUNT(*) AS BIGINT) AS tf
      FROM tok GROUP BY doc_id, token
    ),
    dfc AS (SELECT token, CAST(COUNT(*) AS BIGINT) AS df_docs FROM tf GROUP BY token),
    nd AS (SELECT CAST(COUNT(*) AS BIGINT) AS n_docs FROM documents)
    SELECT doc_id, token, tf, df_docs, score, rk FROM (
      SELECT tf.doc_id, tf.token, tf.tf, dfc.df_docs,
             CAST(tf.tf AS DOUBLE)
               * (CAST(nd.n_docs AS DOUBLE) / CAST(dfc.df_docs AS DOUBLE)) AS score,
             CAST(ROW_NUMBER() OVER (
               PARTITION BY tf.doc_id
               ORDER BY CAST(tf.tf AS DOUBLE)
                 * (CAST(nd.n_docs AS DOUBLE) / CAST(dfc.df_docs AS DOUBLE)) DESC,
               tf.token) AS INT) AS rk
      FROM tf JOIN dfc USING (token) CROSS JOIN nd
    ) WHERE rk <= 3
    """,
    tags=("text", "tfidf"),
)
def tfidf_top_terms(spark, sf_dir):
    """Top-3 salient terms per document by TF-IDF (linear idf = N/df —
    see module docstring for why not ln). tf and df come from ONE
    exploded-token aggregation each; N enters as a broadcast 1-row
    cross join (no driver collect, fully declarative); df joins back by
    token (broadcast — vocabulary << corpus). Ties break by token so
    row_number is deterministic."""
    d = fan_out(load_table(spark, sf_dir, "documents"))
    tok = d.select("doc_id", F.explode(F.split("text", " ")).alias("token"))
    tf = tok.groupBy("doc_id", "token").agg(F.count("*").alias("tf"))
    dfc = tf.groupBy("token").agg(F.count("*").alias("df_docs"))
    nd = d.agg(F.count("*").alias("n_docs"))
    score = F.col("tf").cast("double") * (
        F.col("n_docs").cast("double") / F.col("df_docs").cast("double")
    )
    w = Window.partitionBy("doc_id").orderBy(F.col("score").desc(), "token")
    return (
        tf.join(F.broadcast(dfc), "token")
        .crossJoin(F.broadcast(nd))
        .withColumn("score", score)
        .select("doc_id", "token", "tf", "df_docs", "score")
        .withColumn("rk", F.row_number().over(w))
        .filter(F.col("rk") <= 3)
    )


# first-two-hex-digit md5 bucket (0..255) — the split key shared by
# train_test_split_hash, decontaminate_train_ngrams, and the oracles
def _md5_bucket():
    hexpos = lambda i: (  # noqa: E731
        F.expr(
            f"locate(substring(md5(CAST(doc_id AS STRING)), {i}, 1),"
            " '0123456789abcdef')"
        )
        - 1
    )
    return hexpos(1) * 16 + hexpos(2)


_BUCKET_SQL = """
      SELECT doc_id,
             (strpos('0123456789abcdef', substr(md5(CAST(doc_id AS VARCHAR)), 1, 1)) - 1) * 16
             + (strpos('0123456789abcdef', substr(md5(CAST(doc_id AS VARCHAR)), 2, 1)) - 1)
               AS bucket
      FROM documents
"""


@register(
    "decontaminate_train_ngrams",
    oracle=f"""
    WITH b AS ({_BUCKET_SQL}),
    sh AS (
      SELECT DISTINCT doc_id,
             w[i] || ' ' || w[i+1] || ' ' || w[i+2] || ' ' || w[i+3] AS ngram
      FROM (SELECT doc_id, string_split(text, ' ') AS w FROM documents),
           UNNEST(generate_series(1, len(w) - 3)) AS t(i)
      WHERE len(w) >= 4
    ),
    test_sh AS (
      SELECT DISTINCT ngram FROM sh JOIN b USING (doc_id) WHERE bucket >= 230
    )
    SELECT sh.doc_id, CAST(COUNT(*) AS BIGINT) AS n_hits
    FROM sh JOIN b USING (doc_id) JOIN test_sh USING (ngram)
    WHERE b.bucket < 204
    GROUP BY sh.doc_id
    """,
    tags=("decontaminate",),
)
def decontaminate_train_ngrams(spark, sf_dir):
    """Train/eval decontamination: flag TRAIN-split documents that share
    any word-4-gram with a TEST-split document (the GPT-3-style n-gram
    overlap scan, scaled down from 13-grams to match this corpus's
    ~54-token docs). Both sides reuse the md5-bucket split from
    train_test_split_hash, so the scan needs no side-channel eval file.
    The distinct test-side n-gram set is small (eval sets always are)
    and enters as a broadcast hash join on xxhash64(ngram) — 8-byte
    keys, no string shuffle, train side never moves. The 64-bit key is
    a deliberate speed/size trade: a billion distinct test n-grams give
    ~birthday odds 1e18/2^64 ≈ 3% of ONE spurious (train, test) pair
    somewhere in the corpus — negligible for contamination FLAGGING.
    When exactness matters, use decontaminate_train_bloom, whose verify
    join is on the n-gram string itself. Output: each contaminated
    train doc with its count of distinct overlapping 4-grams."""
    d = fan_out(load_table(spark, sf_dir, "documents"))
    sh = (
        d.withColumn("w", F.split("text", " "))
        .filter(F.size("w") >= 4)
        .select(
            "doc_id",
            _md5_bucket().alias("bucket"),
            F.explode(
                F.expr(
                    "array_distinct(transform(sequence(0, size(w) - 4),"
                    " i -> concat_ws(' ', w[i], w[i+1], w[i+2], w[i+3])))"
                )
            ).alias("ngram"),
        )
        .withColumn("h", F.xxhash64("ngram"))
    )
    test_sh = sh.filter(F.col("bucket") >= 230).select("h").distinct()
    return (
        sh.filter(F.col("bucket") < 204)
        .join(F.broadcast(test_sh), "h")
        .groupBy("doc_id")
        .agg(F.count("*").alias("n_hits"))
    )


@register(
    "decontaminate_train_bloom",
    oracle=f"""
    WITH b AS ({_BUCKET_SQL}),
    sh AS (
      SELECT DISTINCT doc_id,
             w[i] || ' ' || w[i+1] || ' ' || w[i+2] || ' ' || w[i+3] AS ngram
      FROM (SELECT doc_id, string_split(text, ' ') AS w FROM documents),
           UNNEST(generate_series(1, len(w) - 3)) AS t(i)
      WHERE len(w) >= 4
    ),
    test_sh AS (
      SELECT DISTINCT ngram FROM sh JOIN b USING (doc_id) WHERE bucket >= 230
    )
    SELECT sh.doc_id, CAST(COUNT(*) AS BIGINT) AS n_hits
    FROM sh JOIN b USING (doc_id) JOIN test_sh USING (ngram)
    WHERE b.bucket < 204
    GROUP BY sh.doc_id
    """,
    tags=("decontaminate", "bloom"),
)
def decontaminate_train_bloom(spark, sf_dir):
    """Bloom-prefiltered decontamination — same RESULT as
    decontaminate_train_ngrams (same oracle), different scale path.

    The distinct test n-gram hashes are folded into a hand-rolled Bloom
    filter built entirely with DataFrame ops: k=4 probe positions per
    hash (xxhash64 reseeds) -> bit-set explode -> `bit_or` groupBy per
    64-bit word -> one map->dense-array row (m = 2^20 bits = 16 K
    longs, a fixed ~128 KB regardless of eval-set size). The bitmap
    reaches the train side as a scalar subquery (materialized once,
    shared by every task — the broadcast-of-a-sketch pattern), so the
    4-probe `element_at`+bit-test prunes non-overlapping train n-grams
    INSIDE the scan projection, in whole-stage codegen, before any
    join. Only bloom survivors (true overlaps + ~1% false positives)
    enter the verify equi-join — and that join is on the N-GRAM STRING
    itself, not its 64-bit hash, so both bloom false positives AND
    xxhash64 collisions are removed exactly: a false positive costs a
    little verify traffic, never a wrong row. (Hashes exist only inside
    the bloom prefilter; the string-keyed broadcast is eval-set sized
    and only survivor rows — a vanishing corpus fraction — probe it.)"""
    m_bits = 1 << 20
    n_words = m_bits // 64
    k = 4
    d = fan_out(load_table(spark, sf_dir, "documents"))
    sh = (
        d.withColumn("w", F.split("text", " "))
        .filter(F.size("w") >= 4)
        .select(
            "doc_id",
            _md5_bucket().alias("bucket"),
            F.explode(
                F.expr(
                    "array_distinct(transform(sequence(0, size(w) - 4),"
                    " i -> concat_ws(' ', w[i], w[i+1], w[i+2], w[i+3])))"
                )
            ).alias("ngram"),
        )
        .withColumn("h", F.xxhash64("ngram"))
    )
    # bloom build side: 8-byte hashes only (cheap distinct); the verify
    # side below stays raw strings — LEFT SEMI dedups implicitly, so no
    # string-wide distinct exchange is ever paid
    test_h = sh.filter(F.col("bucket") >= 230).select("h").distinct()
    test_ng = sh.filter(F.col("bucket") >= 230).select("ngram")

    def probes(col):
        # k reseeded 64-bit hashes -> bit positions in [0, m_bits)
        return [F.pmod(F.xxhash64(col, F.lit(i)), F.lit(m_bits)) for i in range(k)]

    words = test_h.select(
        F.explode(F.array(*probes(F.col("h")))).alias("p")
    ).select(
        F.expr("cast(p div 64 as int)").alias("word"),
        F.expr("shiftleft(cast(1 as bigint), cast(p % 64 as int))").alias("bit"),
    )
    sparse = words.groupBy("word").agg(F.expr("bit_or(bit)").alias("bits"))
    # collect the fixed-size sketch to the driver (16 K longs, ~128 KB —
    # independent of eval-set size) and re-enter it as ONE array literal,
    # the collected-sketch pattern ann_ivf_cosine uses for centroids. A
    # broadcast-join alternative would copy the whole array into every
    # probed row's UnsafeRow — measured 100x slower.
    dense = [0] * n_words
    for r in sparse.collect():
        dense[r["word"]] = r["bits"]
    # one literal mention only: the 16 K-element array copied into k
    # probe expressions made driver-side analysis the bottleneck, so the
    # k probes run inside a single forall() lambda over the reseeded
    # positions (sequence element i hashes identically to the build
    # side's literal seed i — same int value, same type).
    # The literal itself enters as ONE SQL-text expr — F.lit(list)
    # converts element-by-element over py4j (measured 9.2 s for these
    # 16 K longs); the parser builds the same foldable array in ~0.03 s.
    bm = F.expr("array(" + ",".join(f"{v}L" for v in dense) + ")")
    positions = F.transform(
        F.sequence(F.lit(0), F.lit(k - 1)),
        lambda i: F.pmod(F.xxhash64(F.col("h"), i), F.lit(m_bits)),
    )

    def _bit_set(p):
        word_ix = F.floor(p / 64).cast("int") + 1
        bit = F.call_function(
            "shiftleft", F.lit(1).cast("long"), (p % 64).cast("int")
        )
        return F.element_at(bm, word_ix).bitwiseAND(bit) != 0

    survivors = sh.filter(F.col("bucket") < 204).filter(
        F.forall(positions, _bit_set)
    )
    # exact verify: string-keyed LEFT SEMI (xxhash64 collisions can't
    # leak through). Semi against the RAW test stream — the hash-join
    # build side dedups by key on its own, so survivors-in-test counts
    # come out identical to an inner join against a distinct side,
    # minus the distinct's shuffle. Survivor rows are already
    # per-doc-distinct ngrams (array_distinct upstream).
    return (
        survivors.join(test_ng, "ngram", "left_semi")
        .groupBy("doc_id")
        .agg(F.count("*").alias("n_hits"))
    )


@register(
    "sequence_packing",
    oracle=f"""
    WITH t AS (
      SELECT doc_id, source,
             CAST(len(string_split(text, ' ')) AS BIGINT) AS n_tokens
      FROM documents
    ),
    c AS (
      SELECT doc_id, source, n_tokens,
             CAST(SUM(n_tokens) OVER (
               PARTITION BY source
               ORDER BY md5(CAST(doc_id AS VARCHAR)), doc_id) AS BIGINT)
               - n_tokens AS start_tok
      FROM t
    )
    SELECT doc_id, source, n_tokens,
           start_tok // 256 AS seq_id,
           start_tok % 256 AS tok_offset
    FROM c
    """,
    tags=("packing",),
)
def sequence_packing(spark, sf_dir):
    """Concat-and-chunk sequence packing: the GPT-style training layout
    where per-shard document streams are concatenated and cut into
    fixed 256-token sequences. Each doc gets the sequence id and token
    offset where it starts: a running token count over docs in
    deterministic md5 order WITHIN each source shard. Partitioning the
    window by source is what makes this scale — shards pack
    independently and in parallel, and no global (single-partition)
    prefix sum ever exists in the plan."""
    d = fan_out(load_table(spark, sf_dir, "documents"))
    w = (
        Window.partitionBy("source")
        .orderBy(F.md5(F.col("doc_id").cast("string")), "doc_id")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    t = d.select(
        "doc_id", "source", F.size(F.split("text", " ")).cast("long").alias("n_tokens")
    )
    start = (F.sum("n_tokens").over(w) - F.col("n_tokens")).alias("start_tok")
    return t.select("doc_id", "source", "n_tokens", start).select(
        "doc_id",
        "source",
        "n_tokens",
        F.expr("start_tok DIV 256").alias("seq_id"),
        (F.col("start_tok") % 256).alias("tok_offset"),
    )


@register(
    "doc_repetition_score",
    oracle="""
    WITH g AS (
      SELECT doc_id, w[i] || ' ' || w[i+1] AS gram
      FROM (SELECT doc_id, string_split(text, ' ') AS w FROM documents),
           UNNEST(generate_series(1, len(w) - 1)) AS t(i)
      WHERE len(w) >= 2
    ),
    c AS (SELECT doc_id, gram, COUNT(*) AS c FROM g GROUP BY 1, 2)
    SELECT doc_id,
           CAST(SUM(c) AS BIGINT) AS n_bigrams,
           CAST(COUNT(*) AS BIGINT) AS n_distinct,
           CAST(1.0 AS DOUBLE)
             - CAST(COUNT(*) AS DOUBLE) / CAST(SUM(c) AS DOUBLE) AS rep_ratio
    FROM c GROUP BY doc_id
    """,
    tags=("text", "quality"),
)
def doc_repetition_score(spark, sf_dir):
    """Intra-document repetition (Gopher-style quality signal): the
    fraction of a doc's word-bigram occurrences that are repeats of an
    earlier bigram in the same doc (1 - distinct/total). Template spam
    and boilerplate score high; natural text scores low. One explode +
    two-level aggregation, all partial-aggregated map-side; the ratio
    is a division of small exact integers so it is bit-identical across
    engines."""
    d = fan_out(load_table(spark, sf_dir, "documents"))
    g = (
        d.withColumn("w", F.split("text", " "))
        .filter(F.size("w") >= 2)
        .select(
            "doc_id",
            F.explode(
                F.expr(
                    "transform(sequence(0, size(w) - 2),"
                    " i -> concat_ws(' ', w[i], w[i+1]))"
                )
            ).alias("gram"),
        )
    )
    c = g.groupBy("doc_id", "gram").agg(F.count("*").alias("c"))
    return c.groupBy("doc_id").agg(
        F.sum("c").alias("n_bigrams"),
        F.count("*").alias("n_distinct"),
        (
            F.lit(1.0).cast("double")
            - F.count("*").cast("double") / F.sum("c").cast("double")
        ).alias("rep_ratio"),
    )


@register(
    "sample_uniform_hash",
    oracle="""
    SELECT doc_id, source
    FROM documents
    WHERE strpos('0123456789abcdef', substr(md5(CAST(doc_id AS VARCHAR)), 1, 1)) <= 2
    """,
    tags=("sample",),
)
def sample_uniform_hash(spark, sf_dir):
    """Deterministic ~12.5% uniform sample: keep rows whose md5 bucket
    falls under the threshold. Unlike df.sample()/TABLESAMPLE the
    membership is a pure function of the row — reproducible across
    runs, engines, partitionings, and corpus growth, and the filter
    pushes down to the scan like any other predicate."""
    d = load_table(spark, sf_dir, "documents")
    keep = (
        F.expr(
            "locate(substring(md5(CAST(doc_id AS STRING)), 1, 1),"
            " '0123456789abcdef')"
        )
        <= 2
    )
    return d.filter(keep).select("doc_id", "source")


@register(
    "sample_stratified_topn",
    oracle="""
    SELECT doc_id, source, rk FROM (
      SELECT doc_id, source,
             CAST(ROW_NUMBER() OVER (
               PARTITION BY source
               ORDER BY md5(CAST(doc_id AS VARCHAR)), doc_id) AS INT) AS rk
      FROM documents
    ) WHERE rk <= 10
    """,
    tags=("sample",),
)
def sample_stratified_topn(spark, sf_dir):
    """Exact-N-per-stratum sample: 10 docs per source, chosen by md5
    order — a deterministic stand-in for per-key reservoir sampling
    (same guarantee: every stratum yields exactly min(N, |stratum|)
    rows, selection independent of physical order). One shuffle on
    source; rank-k selection per group, never a global sort."""
    d = fan_out(load_table(spark, sf_dir, "documents"))
    w = Window.partitionBy("source").orderBy(
        F.md5(F.col("doc_id").cast("string")), "doc_id"
    )
    return (
        d.select("doc_id", "source", F.row_number().over(w).alias("rk"))
        .filter(F.col("rk") <= 10)
    )


# ------------------------------------------------------- mixture ops --

_DENY_RE = r"\b(slow|big)\b"

# numeric suffix of the source shard name ("src12" -> 12) — the join key
# for the deterministic per-source mixture weights used by the two
# mixture queries and their oracles
_SRC_IDX_SQL = "CAST(substr(source, 4) AS INT)"


@register(
    "redact_denylist_terms",
    oracle=f"""
    SELECT doc_id,
           regexp_replace(text, '{_DENY_RE}', '[REDACTED]', 'g') AS redacted,
           CAST(len(regexp_extract_all(text, '{_DENY_RE}')) AS BIGINT)
             AS n_redacted
    FROM documents
    WHERE regexp_matches(text, '{_DENY_RE}')
    """,
    tags=("redact", "text"),
)
def redact_denylist_terms(spark, sf_dir):
    """Denylist scrubbing — the PII-redaction plumbing (emails, phone
    numbers, IPs) exercised with terms that actually occur in this
    corpus. One JVM-side regexp pass per row: match filter (pushable
    predicate), replace-all, and a per-doc redaction count for the
    audit ledger. No shuffle at any scale — a pure projection+filter
    that pipelines inside whole-stage codegen; swapping the pattern for
    the usual PII alternation changes nothing structural. (No fan_out
    repartition — that would ADD the one Exchange this plan exists to
    avoid; scan splits provide the parallelism at scale.)"""
    d = load_table(spark, sf_dir, "documents")
    return (
        d.filter(F.col("text").rlike(_DENY_RE))
        .select(
            "doc_id",
            F.regexp_replace("text", _DENY_RE, "[REDACTED]").alias("redacted"),
            F.regexp_count("text", F.lit(_DENY_RE)).cast("long").alias("n_redacted"),
        )
    )


@register(
    "mixture_resample_weighted",
    oracle=f"""
    WITH b AS ({_BUCKET_SQL})
    SELECT d.doc_id, d.source,
           CAST(({_SRC_IDX_SQL} % 4) + 1 AS DOUBLE) / 4.0 AS keep_rate
    FROM documents d JOIN b USING (doc_id)
    WHERE b.bucket < 64 * (({_SRC_IDX_SQL} % 4) + 1)
    """,
    tags=("mixture", "sample"),
)
def mixture_resample_weighted(spark, sf_dir):
    """Per-source mixture downsampling: each source shard keeps a
    deterministic hash fraction of its documents (rates 25/50/75/100%
    derived from the shard id). This is the dataset-mixture step of a
    training pipeline — reweighting CommonCrawl vs books vs code —
    done as a pure row-local filter: membership is a function of
    (doc_id, source) only, so the sample is reproducible across runs,
    engines, partitionings and corpus growth, and the predicate
    pipelines into the scan with no shuffle and no per-source pass."""
    d = load_table(spark, sf_dir, "documents")
    idx = F.substring(F.col("source"), 4, 8).cast("int")
    r = (idx % 4) + 1
    return (
        d.select("doc_id", "source", _md5_bucket().alias("bucket"), r.alias("r"))
        .filter(F.col("bucket") < 64 * F.col("r"))
        .select(
            "doc_id", "source", (F.col("r").cast("double") / 4.0).alias("keep_rate")
        )
    )


@register(
    "mixture_upsample_epochs",
    oracle=f"""
    WITH b AS ({_BUCKET_SQL}),
    w AS (
      SELECT DISTINCT source,
             1 + ({_SRC_IDX_SQL} % 5) // 2 AS base,
             ({_SRC_IDX_SQL} % 5) % 2 AS has_half
      FROM documents
    )
    SELECT d.doc_id, d.source, CAST(t.epoch AS BIGINT) AS epoch
    FROM documents d
    JOIN b USING (doc_id)
    JOIN w USING (source),
    UNNEST(generate_series(0, w.base - 1
           + CASE WHEN w.has_half = 1 AND b.bucket < 128 THEN 1 ELSE 0 END))
      AS t(epoch)
    """,
    tags=("mixture", "sample"),
)
def mixture_upsample_epochs(spark, sf_dir):
    """Fractional-epoch upsampling: sources with mixture weight > 1 are
    repeated — weight 2.5 means every doc appears twice and a
    deterministic hash-half appears a third time (how training mixes
    repeat Wikipedia 3.5x against 1x CommonCrawl). Weights live in a
    tiny per-source table (here derived from the shard id; in
    production a config table) that enters as a BROADCAST join — the
    corpus side never shuffles — and the repetition is a row-local
    explode(sequence(0, copies-1)), so output size is exactly
    sum(copies) with no skew amplification beyond the weights
    themselves."""
    d = fan_out(load_table(spark, sf_dir, "documents"))
    idx = F.substring(F.col("source"), 4, 8).cast("int")
    m5 = idx % 5
    w = (
        d.select("source").distinct()
        .select(
            "source",
            (F.lit(1) + F.floor(m5 / 2)).cast("int").alias("base"),
            (m5 % 2).alias("has_half"),
        )
    )
    copies = F.col("base") + F.when(
        (F.col("has_half") == 1) & (_md5_bucket() < 128), 1
    ).otherwise(0)
    return (
        d.join(F.broadcast(w), "source")
        .select(
            "doc_id",
            "source",
            F.explode(F.sequence(F.lit(0), copies - 1)).alias("epoch"),
        )
        .select("doc_id", "source", F.col("epoch").cast("long").alias("epoch"))
    )


@register(
    "dup_passage_spans",
    oracle="""
    WITH g AS (
      SELECT doc_id, i - 1 AS pos,
             w[i]||' '||w[i+1]||' '||w[i+2]||' '||w[i+3]||' '||w[i+4]||' '||w[i+5]
               AS gram
      FROM (SELECT doc_id, string_split(text, ' ') AS w FROM documents),
           UNNEST(generate_series(1, len(w) - 5)) AS t(i)
      WHERE len(w) >= 6
    ),
    dup AS (SELECT gram FROM g GROUP BY gram HAVING COUNT(*) >= 2),
    hits AS (SELECT doc_id, pos FROM g JOIN dup USING (gram)),
    flagged AS (
      SELECT doc_id, pos,
             CASE WHEN pos > COALESCE(MAX(pos + 6) OVER (
                    PARTITION BY doc_id ORDER BY pos
                    ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), -1)
                  THEN 1 ELSE 0 END AS is_new
      FROM hits
    ),
    spans AS (
      SELECT doc_id, pos,
             SUM(is_new) OVER (PARTITION BY doc_id ORDER BY pos
                               ROWS UNBOUNDED PRECEDING) AS span_id
      FROM flagged
    )
    SELECT doc_id, CAST(span_id AS BIGINT) AS span_id,
           CAST(MIN(pos) AS BIGINT) AS span_start,
           CAST(MAX(pos + 6) AS BIGINT) AS span_end
    FROM spans GROUP BY doc_id, span_id
    """,
    tags=("dedup", "spans"),
)
def dup_passage_spans(spark, sf_dir):
    """ExactSubstr-style duplicate-passage detection (the Lee et al.
    "Deduplicating Training Data" primitive, at fixed 6-token
    granularity): every maximal token span whose 6-grams all occur >= 2
    times in the corpus, as (doc_id, span_start, span_end) — the input
    to span-level cut-and-drop dedup, which removes boilerplate that
    document-level near-dup can't touch.

    Dataflow: position-stamped 6-grams -> corpus-wide gram counts via
    partial-aggregated groupBy on the 8-byte xxhash64 key (map-side
    combine absorbs hot boilerplate grams; the equi-join back is AQE
    skew-splittable — a count-window over gram would hotspot on them) ->
    per-doc interval union of the surviving [pos, pos+6) hits with two
    doc-partitioned windows (running-max end marks span starts, running
    sum numbers them). Every shuffle is keyed by gram-hash or doc_id;
    nothing is ever global."""
    d = fan_out(load_table(spark, sf_dir, "documents"))
    g = (
        d.withColumn("w", F.split("text", " "))
        .filter(F.size("w") >= 6)
        .select(
            "doc_id",
            F.posexplode(
                F.expr(
                    "transform(sequence(0, size(w) - 6), i ->"
                    " concat_ws(' ', w[i], w[i+1], w[i+2], w[i+3], w[i+4], w[i+5]))"
                )
            ).alias("pos", "gram"),
        )
        .select("doc_id", "pos", F.xxhash64("gram").alias("h"))
    )
    dup = g.groupBy("h").agg(F.count("*").alias("c")).filter(F.col("c") >= 2)
    hits = g.join(dup.select("h"), "h").select("doc_id", "pos")
    w_ord = Window.partitionBy("doc_id").orderBy("pos")
    run_end = F.max(F.col("pos") + 6).over(
        w_ord.rowsBetween(Window.unboundedPreceding, -1)
    )
    flagged = hits.withColumn(
        "is_new",
        F.when(F.col("pos") > F.coalesce(run_end, F.lit(-1)), 1).otherwise(0),
    )
    spans = flagged.withColumn(
        "span_id",
        F.sum("is_new").over(w_ord.rowsBetween(Window.unboundedPreceding, 0)),
    )
    return spans.groupBy("doc_id", "span_id").agg(
        F.min("pos").cast("long").alias("span_start"),
        (F.max(F.col("pos") + 6)).cast("long").alias("span_end"),
    )


@register(
    "dedup_cut_spans",
    oracle="""
    WITH toks AS (
      SELECT doc_id, i - 1 AS pos, w[i] AS tok, len(w) AS n
      FROM (SELECT doc_id, string_split(text, ' ') AS w FROM documents),
           UNNEST(generate_series(1, len(w))) AS t(i)
    ),
    g AS (
      SELECT doc_id, i - 1 AS pos,
             w[i]||' '||w[i+1]||' '||w[i+2]||' '||w[i+3]||' '||w[i+4]||' '||w[i+5]
               AS gram
      FROM (SELECT doc_id, string_split(text, ' ') AS w FROM documents),
           UNNEST(generate_series(1, len(w) - 5)) AS t(i)
      WHERE len(w) >= 6
    ),
    dupg AS (SELECT gram FROM g GROUP BY gram HAVING COUNT(*) >= 2),
    hits AS (SELECT doc_id, pos FROM g JOIN dupg USING (gram)),
    m AS (
      SELECT t.doc_id, t.pos, t.tok, t.n,
             MAX(CASE WHEN h.pos IS NOT NULL THEN t.pos + 6 END) OVER (
               PARTITION BY t.doc_id ORDER BY t.pos
               ROWS UNBOUNDED PRECEDING) AS run_end
      FROM toks t
      LEFT JOIN hits h ON t.doc_id = h.doc_id AND t.pos = h.pos
    )
    SELECT doc_id,
           string_agg(tok, ' ' ORDER BY pos) AS clean_text,
           CAST(COUNT(*) AS BIGINT) AS kept_tokens,
           CAST(MAX(n) - COUNT(*) AS BIGINT) AS dropped_tokens
    FROM m
    WHERE run_end IS NULL OR pos >= run_end
    GROUP BY doc_id
    """,
    tags=("dedup", "spans"),
)
def dedup_cut_spans(spark, sf_dir):
    """Span-level cut-and-drop dedup — APPLIES dup_passage_spans: every
    token covered by a corpus-duplicated 6-gram window is removed and
    the survivors are reassembled in order (Lee et al.'s ExactSubstr
    cut, the step document-level dedup can't do).

    Only the 6-gram START positions ever leave the row: corpus-wide
    gram counts (partial-aggregated on the 8-byte xxhash64 key) flow
    back as one sorted hit-position array per doc, and the cut itself
    is a row-local `aggregate` cursor pass over that array — each hit
    appends the uncovered slice of the token array before it and
    advances the cursor past the hit's 6-token window. No token-level
    explode (tokens × docs rows), no doc-partitioned window sort, no
    collect_list regroup of the whole corpus: the only shuffles are the
    gram-count groupBy and one doc_id-keyed agg+join, both map-side
    combinable. Docs whose tokens are all covered drop out entirely."""
    d = fan_out(load_table(spark, sf_dir, "documents"))
    base = d.select("doc_id", F.split("text", " ").alias("w"))
    g = (
        base.filter(F.size("w") >= 6)
        .select(
            "doc_id",
            F.posexplode(
                F.expr(
                    "transform(sequence(0, size(w) - 6), i ->"
                    " concat_ws(' ', w[i], w[i+1], w[i+2], w[i+3], w[i+4], w[i+5]))"
                )
            ).alias("pos", "gram"),
        )
        .select("doc_id", "pos", F.xxhash64("gram").alias("h"))
    )
    dupg = g.groupBy("h").agg(F.count("*").alias("c")).filter(F.col("c") >= 2)
    hits = g.join(dupg.select("h"), "h").select("doc_id", "pos")
    doc_hits = hits.groupBy("doc_id").agg(
        F.sort_array(F.collect_list("pos")).alias("ps")
    )
    m = base.join(doc_hits, "doc_id", "left")
    # cursor pass: state = (next uncut token index, kept-token arrays);
    # a hit at p keeps w[cur, p) if the gap is uncovered, then advances
    # the cursor to at least p+6 (overlapping hits only extend it).
    # slice() is 1-based; flatten+to-json-free, stays whole-stage codegen.
    kept_arr = F.when(F.col("ps").isNull(), F.col("w")).otherwise(
        F.expr(
            "flatten(aggregate(ps,"
            " struct(cast(0 as bigint) as cur,"
            "        cast(array() as array<array<string>>) as acc),"
            " (st, p) -> struct("
            "   greatest(st.cur, p + cast(6 as bigint)) as cur,"
            "   CASE WHEN p > st.cur THEN"
            "     array_append(st.acc, slice(w, cast(st.cur + 1 as int),"
            "                                cast(p - st.cur as int)))"
            "   ELSE st.acc END as acc),"
            " st -> CASE WHEN size(w) > st.cur THEN"
            "   array_append(st.acc, slice(w, cast(st.cur + 1 as int),"
            "                              cast(size(w) - st.cur as int)))"
            " ELSE st.acc END))"
        )
    )
    out = m.select(
        "doc_id",
        F.size("w").cast("long").alias("n"),
        kept_arr.alias("kept"),
    )
    return (
        out.filter(F.size("kept") > 0)
        .select(
            "doc_id",
            F.array_join("kept", " ").alias("clean_text"),
            F.size("kept").cast("long").alias("kept_tokens"),
            (F.col("n") - F.size("kept")).cast("long").alias("dropped_tokens"),
        )
    )


@register(
    "dedup_keep_canonical",
    oracle=f"""
    WITH RECURSIVE
    {_COMP_CTE}
    SELECT d.doc_id,
           CASE WHEN c.doc_id IS NULL THEN 'singleton'
                ELSE 'canonical' END AS why
    FROM documents d LEFT JOIN comp c ON d.doc_id = c.doc_id
    WHERE c.doc_id IS NULL OR c.component = d.doc_id
    """,
    tags=("dedup", "components"),
)
def dedup_keep_canonical(spark, sf_dir):
    """The dedup DECISION: the surviving corpus after near-dup group
    collapse — docs in no duplicate group pass through ('singleton'),
    each group keeps exactly its min-doc_id member ('canonical'), every
    other member is dropped. This is the end-to-end keep-list a
    pipeline actually materializes (pairs -> groups -> one survivor per
    group). The clustered-node side joins the corpus on doc_id — a
    plain equi-join AQE sizes at runtime: broadcast when dups are rare,
    shuffle-hash when a crawl corpus is 30-50% duplicates (a set that
    big must never be broadcast). Either way no nested loop — pinned in
    test_plan_quality."""
    comp = connected_components(_dup_edges(spark, sf_dir), "doc_a", "doc_b")
    d = load_table(spark, sf_dir, "documents")
    j = d.select("doc_id").join(
        comp.select(F.col("node").alias("doc_id"), "component"), "doc_id", "left"
    )
    return j.filter(
        F.col("component").isNull() | (F.col("component") == F.col("doc_id"))
    ).select(
        "doc_id",
        F.when(F.col("component").isNull(), "singleton")
        .otherwise("canonical")
        .alias("why"),
    )


@register(
    "dedup_groups_lsh_md5",
    oracle=_dedup_groups_md5_oracle(8, 2),
    tags=("dedup", "components"),
)
def dedup_groups_lsh_md5(spark, sf_dir):
    """The scale-path dup-group closure at the COMPACT band geometry
    (8 minhashes, 4 bands of 2 — higher candidate recall, more verify
    work): exact-collapse by md5(text) → md5-banded MinHash+LSH
    verified pairs (Jaccard >= 0.5) over the representatives → star
    edges for exact members → connected components.  The companion of
    dedup_groups_lsh (16, 4 — production geometry): together they pin
    the SAME staged architecture under two band curves, and DuckDB
    replays collapse, banding, verify, AND the transitive closure as
    one recursive CTE.  Every Spark stage is linear (one min-agg,
    bucket join, pair-local set intersect) and the closure is the
    O(log n)-round star contraction.
    """
    return _dedup_groups_md5(spark, sf_dir, n_perm=8, band_size=2)


@register(
    "corpus_profile_report",
    oracle="""
    SELECT lang, source,
           CAST(COUNT(*) AS BIGINT) AS n_docs,
           CAST(COUNT(DISTINCT md5(text)) AS BIGINT) AS n_unique,
           CAST(COUNT(*) - COUNT(DISTINCT md5(text)) AS DOUBLE) / COUNT(*)
             AS dup_rate,
           CAST(SUM(CAST(n_chars AS DECIMAL(25,0))) AS DOUBLE) / COUNT(*)
             AS mean_chars,
           quantile_cont(n_chars, 0.5) AS p50_chars,
           quantile_cont(n_chars, 0.95) AS p95_chars
    FROM documents
    GROUP BY lang, source
    """,
    tags=("profile", "stats"),
)
def corpus_profile_report(spark, sf_dir):
    """The corpus health panel every ingestion pipeline publishes per
    (lang, source) cell: volume, exact-dup rate (via content hash —
    COUNT DISTINCT of md5, the mergeable form of dedup_exact's
    grouping), and the length distribution (mean via DECIMAL-exact
    sum, exact p50/p95). One pass, one shuffle on the low-cardinality
    grouping key; COUNT(DISTINCT) expands to a two-level aggregate
    Spark plans as partial-distinct map-side, so raw texts never
    shuffle — only (cell, hash) pairs. The report is the gating input
    for mixture_resample_weighted's weights and the dup-rate trigger
    for the dedup pipeline.
    """
    d = fan_out(load_table(spark, sf_dir, "documents"))
    return d.groupBy("lang", "source").agg(
        F.count("*").alias("n_docs"),
        F.countDistinct(F.md5("text")).alias("n_unique"),
        (
            (F.count("*") - F.countDistinct(F.md5("text"))).cast("double")
            / F.count("*")
        ).alias("dup_rate"),
        (
            F.sum(F.col("n_chars").cast("decimal(25,0)")).cast("double")
            / F.count("*")
        ).alias("mean_chars"),
        F.expr("percentile(n_chars, 0.5)").alias("p50_chars"),
        F.expr("percentile(n_chars, 0.95)").alias("p95_chars"),
    )
